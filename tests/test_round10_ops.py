"""Round-10 kernels: independent cross-checks BEYOND the oracle gate.

The DuckDB oracle proves Spark and DuckDB agree; these tests rebuild
each result with a third, pure-python implementation (BFS flood-fill
for the source extraction, direct position arithmetic for the WCS
match, white-box sink inspection for the streaming sketch merge) so an
algebra-level mistake both engines repeat still fails.
"""

from __future__ import annotations

import glob
import os

import numpy as np

from analyse_the_sky_with_apache_spark_spark.registry import (
    QUERIES,
    load_all_modules,
)
from analyse_the_sky_with_apache_spark_spark.sources.fits import (
    _IMG_NX,
    _IMG_NY,
    _IMG_TILES,
    _COADD_STRIDE,
    _SRC_THRESH,
    _WCS_THRESH,
    _linear_pixels,
    _quadratic_pixels,
)
from tests.conftest import SF_DIR

load_all_modules()


def _flood_fill(bright):
    """8-connected components of a set of (x, y) pixels, one list of
    pixels each — BFS, no label propagation, no SQL."""
    seen, comps = set(), []
    for start in sorted(bright):
        if start in seen:
            continue
        comp, queue = [], [start]
        seen.add(start)
        while queue:
            x, y = queue.pop()
            comp.append((x, y))
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nxy = (x + dx, y + dy)
                    if nxy in bright and nxy not in seen:
                        seen.add(nxy)
                        queue.append(nxy)
        comps.append(comp)
    return comps


def _flood_fill_catalog():
    """Pure-python 8-connected component catalog over the rebuilt
    tiles — `_flood_fill`'s BFS, no label propagation, no SQL."""
    out = []
    for f in range(_IMG_TILES):
        k = _linear_pixels(f, np.arange(_IMG_NX * _IMG_NY, dtype=np.int64))
        bright = {
            (int(i % _IMG_NX), int(i // _IMG_NX)): int(k[i])
            for i in np.nonzero(k >= _SRC_THRESH)[0]
        }
        for comp in _flood_fill(bright):
            pid = min(f * 10000 + y * _IMG_NX + x for x, y in comp)
            xs = [x for x, _ in comp]
            ys = [y for _, y in comp]
            out.append({
                "source_id": pid,
                "tile": f,
                "n_pix": len(comp),
                "flux_centi": sum(bright[c] for c in comp),
                "x_min": min(xs), "x_max": max(xs),
                "y_min": min(ys), "y_max": max(ys),
                "cx_centi": (sum(xs) * 100) // len(comp),
                "cy_centi": (sum(ys) * 100) // len(comp),
            })
    return sorted(out, key=lambda r: r["source_id"])


def test_source_extract_vs_flood_fill(spark):
    rows = QUERIES["sky_source_extract"](spark, SF_DIR).collect()
    ref = _flood_fill_catalog()
    assert len(rows) == len(ref) > 0
    for got, want in zip(rows, ref):
        for c in want:
            assert got[c] == want[c], (c, got, want)
    # multi-pixel blobs must exist, else the CC step is untested
    assert any(r["n_pix"] >= 2 for r in ref)


def test_wcs_xmatch_vs_direct_arithmetic(spark):
    """Rebuild the cross-match from pure position arithmetic: tile f's
    bright pixel (x, y) sits at global (f*stride + x, y); two tiles
    match where both are above threshold at the same global cell."""
    tiles = {
        f: _quadratic_pixels(
            f, np.arange(_IMG_NX * _IMG_NY, dtype=np.int64)
        ).reshape(_IMG_NY, _IMG_NX)
        for f in range(_IMG_TILES)
    }
    want = {}
    for fa in range(_IMG_TILES):
        for fb in range(fa + 1, _IMG_TILES):
            shift = (fb - fa) * _COADD_STRIDE
            n = sa = sb = sd = 0
            for y in range(_IMG_NY):
                for xa in range(shift, _IMG_NX):
                    ka = int(tiles[fa][y][xa])
                    kb = int(tiles[fb][y][xa - shift])
                    if ka >= _WCS_THRESH and kb >= _WCS_THRESH:
                        n += 1
                        sa += ka
                        sb += kb
                        sd += abs(ka - kb)
            if n:
                want[(fa, fb)] = (n, sa, sb, sd)
    rows = QUERIES["sky_wcs_xmatch"](spark, SF_DIR).collect()
    got = {
        (r["tile_a"], r["tile_b"]): (
            r["n_matched"], r["flux_a_centi"], r["flux_b_centi"],
            r["flux_absdiff_centi"],
        )
        for r in rows
    }
    assert got == want
    assert len(want) > 0 and sum(v[0] for v in want.values()) > 0
    # adjacent pairs overlap; the overlap invariant must produce
    # at least one match for every adjacent pair at this threshold
    assert all((f, f + 1) in want for f in range(_IMG_TILES - 1))


def test_cms_sink_merge_receives_multiple_batch_partials(spark):
    """White-box: the foreachBatch sink must land >= 2 distinct batch
    partials (the stream really was micro-batched), every partial is
    sketch-sized, and estimates never undercount (CMS property)."""
    from analyse_the_sky_with_apache_spark_spark.operators.warehouse import (
        _CM_D,
        _CM_W,
    )
    from analyse_the_sky_with_apache_spark_spark.sources.scans import (
        _SCRATCH,
    )

    rows = QUERIES["stream_cms_sink_merge"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["overcount"] >= 0 for r in rows)
    assert all(r["cms_estimate"] >= r["exact_cnt"] for r in rows)
    dirs = sorted(
        glob.glob(os.path.join(_SCRATCH, "stream_cms_sink_*")),
        key=os.path.getmtime,
    )
    sink = spark.read.parquet(dirs[-1])
    batches = [
        r["batch_id"]
        for r in sink.select("batch_id").distinct().collect()
    ]
    assert len(batches) >= 2, batches
    per_batch = sink.groupBy("batch_id").count().collect()
    assert all(r["count"] <= _CM_D * _CM_W for r in per_batch)


def _events_pdf():
    import pyarrow.parquet as pq

    return pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()


def test_stetson_jk_vs_numpy(spark):
    """Rebuild J/K for every qualifying object with plain numpy."""
    import math

    ev = _events_pdf().sort_values(["user_id", "ts", "event_id"])
    ev["v3"] = np.floor(ev["value"].to_numpy() * 1000.0 + 0.5).astype(
        np.int64
    )
    want = {}
    for uid, g in ev.groupby("user_id"):
        v = g["v3"].to_numpy()
        n = len(v)
        sy, syy = int(v.sum()), int((v * v).sum())
        if n < 10 or n * syy <= sy * sy:
            continue
        mean = sy / n
        std = math.sqrt((syy - sy * sy / n) / (n - 1.0))
        d6 = np.floor((v - mean) / std * 1e6 + 0.5).astype(np.int64)
        prod = d6[:-1] * d6[1:]
        root = np.floor(np.sqrt(np.abs(prod).astype(float)) + 0.5).astype(
            np.int64
        )
        t6 = np.sign(prod) * root
        a6 = np.abs(d6[:-1])
        npairs = len(prod)
        want[uid] = (
            npairs,
            int(t6.sum()),
            math.floor(t6.sum() / npairs / 1000.0 + 0.5),
            math.floor(a6.sum() / (npairs + 1) / 1000.0 + 0.5),
        )
    rows = QUERIES["lightcurve_stetson_jk"](spark, SF_DIR).collect()
    got = {
        r["user_id"]: (
            r["n_pairs"], r["jsum_micro"], r["j_milli"], r["k_milli"]
        )
        for r in rows
    }
    assert got == want and len(want) > 0


def test_proper_motion_vs_numpy(spark):
    ev = _events_pdf()
    ev["day"] = (
        ev["ts"].astype("int64") // 86_400_000_000  # datetime64[us]
    ).astype(np.int64)
    ev["pos3"] = np.floor(ev["value"].to_numpy() * 1000.0 + 0.5).astype(
        np.int64
    )
    want = {}
    for uid, g in ev.groupby("user_id"):
        t = (g["day"] - g["day"].min()).to_numpy(dtype=np.int64)
        y = g["pos3"].to_numpy()
        n = len(t)
        if n < 5 or t.max() == 0:
            continue
        st, stt = int(t.sum()), int((t * t).sum())
        sy, sty = int(y.sum()), int((t * y).sum())
        denom = n * float(stt) - float(st) * st
        if denom <= 0:
            continue
        mu = (n * float(sty) - float(st) * sy) / denom
        want[uid] = (
            n, int(t.max()),
            int(np.floor(mu * 1000.0 + 0.5)),
            int(np.floor(mu * t.max() + 0.5)),
            abs(mu * t.max()) > 50.0,
        )
    rows = QUERIES["xmatch_proper_motion"](spark, SF_DIR).collect()
    got = {
        r["user_id"]: (
            r["n_epochs"], r["span_days"], r["pm_micro_per_day"],
            r["drift_milli"], r["high_pm"],
        )
        for r in rows
    }
    assert got == want and len(want) > 0


def test_cmd_negative_bins_use_floor_not_truncation(spark):
    """The CMD must contain negative bin indices (bright objects), and
    each cell's bounds must bracket its bin edges — a truncating
    integer division would collapse bins -1 and 0."""
    rows = QUERIES["sky_mag_cmd"](spark, SF_DIR).collect()
    assert any(r["mag_bin"] < 0 for r in rows)
    for r in rows:
        lo, hi = r["mag_bin"] * 500, (r["mag_bin"] + 1) * 500
        assert lo <= r["m1_min_milli"] <= r["m1_max_milli"] < hi


def test_range_search_complete_vs_numpy(spark):
    """Range search must return EVERY qualifying pair (completeness is
    the operator's contract) — rebuild the full pair set with one gemm."""
    import pyarrow.parquet as pq

    from analyse_the_sky_with_apache_spark_spark.pipeline.similarity import (
        _RANGE_TAU,
    )

    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(list(emb["embedding"]), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    want = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if round(sims[i, j], 6) >= _RANGE_TAU:
                a, b = int(ids[i]), int(ids[j])
                want.add((min(a, b), max(a, b)))
    rows = QUERIES["sim_range_search"](spark, SF_DIR).collect()
    got = {(r["ia"], r["ib"]) for r in rows}
    assert got == want and len(want) > 0


def test_vad_segments_vs_python(spark):
    """Rebuild the VAD summary per asset with a plain python run-length
    scan over the same deterministic energies."""
    import pyarrow.parquet as pq

    from analyse_the_sky_with_apache_spark_spark.pipeline.multimodal import (
        _VAD_FRAME_MS,
        _VAD_THRESH,
    )

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    want = {}
    for doc_id in docs["doc_id"]:
        doc_id = int(doc_id)
        dur = 1000 + (doc_id * 61) % 120000
        nf = (dur + _VAD_FRAME_MS - 1) // _VAD_FRAME_MS
        segs, cur = [], 0
        for i in range(nf):
            if (doc_id * 7919 + i * 104729) % 1000 >= _VAD_THRESH:
                cur += 1
            elif cur:
                segs.append(cur)
                cur = 0
        if cur:
            segs.append(cur)
        if segs:
            want[doc_id] = (
                len(segs), sum(segs), max(segs) * _VAD_FRAME_MS,
                sum(segs) * 1_000_000 // nf,
            )
    rows = QUERIES["mm_audio_vad"](spark, SF_DIR).collect()
    got = {
        r["doc_id"]: (
            r["n_segments"], r["speech_frames"],
            r["longest_segment_ms"], r["speech_ratio_micro"],
        )
        for r in rows
    }
    assert got == want and len(want) > 0


def test_ahash_vs_numpy(spark):
    """Rebuild each tile's fingerprint by direct numpy pooling and
    bit-packing; Hamming distances must match exactly."""
    from analyse_the_sky_with_apache_spark_spark.sources.fits import (
        _AHASH_BX,
        _AHASH_BY,
        _AHASH_NBX,
    )

    fps = {}
    for f in range(_IMG_TILES):
        k = _linear_pixels(
            f, np.arange(_IMG_NX * _IMG_NY, dtype=np.int64)
        ).reshape(_IMG_NY, _IMG_NX)
        pooled = k.reshape(
            _IMG_NY // _AHASH_BY, _AHASH_BY,
            _IMG_NX // _AHASH_BX, _AHASH_BX,
        ).sum(axis=(1, 3))
        tot, nc = pooled.sum(), pooled.size
        fp = 0
        for by in range(pooled.shape[0]):
            for bx in range(pooled.shape[1]):
                if nc * pooled[by, bx] > tot:
                    fp |= 1 << (by * _AHASH_NBX + bx)
        fps[f] = fp
    rows = QUERIES["mm_image_ahash"](spark, SF_DIR).collect()
    assert len(rows) == _IMG_TILES * (_IMG_TILES - 1) // 2
    for r in rows:
        assert r["fp_a"] == fps[r["tile_a"]]
        assert r["fp_b"] == fps[r["tile_b"]]
        assert r["hamming"] == bin(
            fps[r["tile_a"]] ^ fps[r["tile_b"]]
        ).count("1")


def test_galactic_transform_known_points(spark):
    """Sanity against astronomy ground truth: the NGP itself maps to
    b = +90; a point ON the galactic plane through the ascending node
    maps to b ~ 0. Verified with python's math, no engine involved —
    then the registered query's rows for the md5 catalog are checked
    against the same pure-python rotation."""
    import math

    from analyse_the_sky_with_apache_spark_spark.operators.xmatch import (
        _GAL_DEC_NGP,
        _GAL_L_NCP,
        _GAL_RA_NGP,
    )

    def gal(ra_deg, dec_deg):
        ra, dec = math.radians(ra_deg), math.radians(dec_deg)
        ngp_ra, ngp_dec = (
            math.radians(_GAL_RA_NGP), math.radians(_GAL_DEC_NGP),
        )
        sb = (
            math.sin(ngp_dec) * math.sin(dec)
            + math.cos(ngp_dec) * math.cos(dec) * math.cos(ra - ngp_ra)
        )
        b = math.degrees(math.asin(sb))
        l = (
            _GAL_L_NCP
            - math.degrees(
                math.atan2(
                    math.cos(dec) * math.sin(ra - ngp_ra),
                    math.cos(ngp_dec) * math.sin(dec)
                    - math.sin(ngp_dec) * math.cos(dec)
                    * math.cos(ra - ngp_ra),
                )
            )
        ) % 360.0
        return l, b

    _, b_ngp = gal(_GAL_RA_NGP, _GAL_DEC_NGP)
    assert abs(b_ngp - 90.0) < 1e-9
    # the celestial north pole sits at b ~ 27.13 (= dec of the NGP)
    l_ncp, b_ncp = gal(0.0, 90.0)
    assert abs(b_ncp - _GAL_DEC_NGP) < 1e-9
    assert abs(l_ncp - _GAL_L_NCP) < 1e-9

    rows = QUERIES["sky_galactic_transform"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:200]:
        l, b = gal(r["ra_c"] / 100.0, r["dec_c"] / 100.0)
        assert abs(r["l_deg"] - round(l, 6)) <= 1e-6
        assert abs(r["b_deg"] - round(b, 6)) <= 1e-6
        assert r["in_plane"] == (abs(round(b, 6)) < 10.0)


def test_tracklet_link_recovers_planted_movers(spark):
    """The linker sees only (epoch, ra, dec); it must recover exactly
    the planted movers (every 20th customer, id-derived velocity) —
    rebuilt here independently, including the stationary-removal and
    linear-consistency semantics."""
    import pyarrow.parquet as pq
    import hashlib

    cust = pq.read_table(
        f"{SF_DIR}/customer.parquet", columns=["c_custkey"]
    ).to_pandas()["c_custkey"]

    def md5pos(k):
        h = hashlib.md5(str(k).encode()).hexdigest()
        return int(h[:6], 16) % 36000, int(h[6:12], 16) % 18000 - 9000

    planted = {}
    positions = {}
    for k in cust:
        k = int(k)
        ra0, dec0 = md5pos(k)
        if k % 20 == 0:
            v = (k % 7 - 3, k % 5 - 2)
        else:
            v = (0, 0)
        planted[k] = (ra0, dec0, v)
        for e in range(3):
            positions.setdefault(
                (ra0 + v[0] * e, dec0 + v[1] * e), 0
            )
            positions[(ra0 + v[0] * e, dec0 + v[1] * e)] += 1
    # expected tracklets: movers whose three positions are NOT all
    # stationary-classified (a position seen >= 3 times is removed)
    expected = set()
    for k, (ra0, dec0, (vra, vdec)) in planted.items():
        pts = [(ra0 + vra * e, dec0 + vdec * e) for e in range(3)]
        if all(positions[p] >= 3 for p in pts):
            continue  # fully stationary-classified → unlinkable
        if any(positions[p] >= 3 for p in pts):
            continue  # partially swallowed — not a clean 3-chain
        expected.add((ra0, dec0, vra, vdec))
    rows = QUERIES["sky_tracklet_link"](spark, SF_DIR).collect()
    got = {
        (r["ra_start"], r["dec_start"], r["v_ra"], r["v_dec"])
        for r in rows
    }
    assert expected <= got, expected - got
    # every recovered tracklet moves (stationary removal worked)
    assert all(r["v_ra"] != 0 or r["v_dec"] != 0 for r in rows)
    assert len(got) > 0


def test_dedup_index_accounting_invariants(spark):
    """Conservation laws the oracle hash can't state as invariants:
    new keys sum to the global distinct-key count, duplicate rows only
    appear after batch 0, and rows partition exactly."""
    import pyarrow.parquet as pq

    rows = QUERIES["stream_dedup_index_merge"](spark, SF_DIR).collect()
    assert [r["batch_id"] for r in rows] == [0, 1, 2, 3]
    ev = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["user_id", "event_type"]
    ).to_pandas()
    n_distinct = len(ev.drop_duplicates())
    assert sum(r["n_new_keys"] for r in rows) == n_distinct
    assert sum(r["n_rows"] for r in rows) == len(ev)
    assert rows[0]["n_dup_rows"] == 0
    assert any(r["n_dup_rows"] > 0 for r in rows[1:])


def test_aperture_photometry_vs_numpy(spark):
    """Rebuild every aperture measurement with direct numpy masks."""
    from analyse_the_sky_with_apache_spark_spark.sources.fits import (
        _AP_ANN_HI2,
        _AP_ANN_LO2,
        _AP_CENTERS,
        _AP_R2,
    )

    want = {}
    for f in range(_IMG_TILES):
        k = _linear_pixels(
            f, np.arange(_IMG_NX * _IMG_NY, dtype=np.int64)
        )
        order = sorted(range(len(k)), key=lambda i: (-k[i], f * 10000 + i))
        grid = k.reshape(_IMG_NY, _IMG_NX)
        ys, xs = np.mgrid[0:_IMG_NY, 0:_IMG_NX]
        for i in order[:_AP_CENTERS]:
            cx, cy = i % _IMG_NX, i // _IMG_NX
            d2 = (xs - cx) ** 2 + (ys - cy) ** 2
            ap = d2 <= _AP_R2
            ann = (d2 > _AP_ANN_LO2) & (d2 <= _AP_ANN_HI2)
            if not ann.any():
                continue
            bkg = int(grid[ann].sum()) // int(ann.sum())
            want[(f, f * 10000 + i)] = (
                cx, cy, int(ap.sum()), int(grid[ap].sum()),
                int(ann.sum()), bkg,
                int(grid[ap].sum()) - int(ap.sum()) * bkg,
            )
    rows = QUERIES["sky_aperture_photometry"](spark, SF_DIR).collect()
    got = {
        (r["tile"], r["center_id"]): (
            r["cx"], r["cy"], r["n_ap"], r["ap_sum"], r["n_ann"],
            r["bkg_mean_centi"], r["net_flux_centi"],
        )
        for r in rows
    }
    assert got == want and len(want) > 0


def test_diff_image_transients_vs_numpy(spark):
    """Rebuild per-tile transient accounting by direct subtraction of
    the two closed-form pixel fields."""
    from analyse_the_sky_with_apache_spark_spark.sources.fits import (
        _DIFF_THRESH,
    )

    rows = QUERIES["sky_diff_image_transients"](spark, SF_DIR).collect()
    got = {r["tile"]: r for r in rows}
    for f in range(_IMG_TILES):
        idx = np.arange(_IMG_NX * _IMG_NY, dtype=np.int64)
        dk = _quadratic_pixels(f, idx) - _linear_pixels(f, idx)
        det = np.abs(dk) >= _DIFF_THRESH
        assert got[f]["n_px"] == int(det.sum())
        assert got[f]["n_brighter"] == int((dk >= _DIFF_THRESH).sum())
        assert got[f]["n_fainter"] == int((dk <= -_DIFF_THRESH).sum())
        assert got[f]["sum_absdiff_centi"] == int(np.abs(dk[det]).sum())
        # argmax tie-break: |dk| desc, then y, then x
        cand = [
            (int(abs(dk[i])), int(i // _IMG_NX), int(i % _IMG_NX), i)
            for i in np.nonzero(det)[0]
        ]
        cand.sort(key=lambda t: (-t[0], t[1], t[2]))
        top = cand[0]
        assert (got[f]["top_x"], got[f]["top_y"]) == (top[2], top[1])
        assert got[f]["top_dk_centi"] == int(dk[top[3]])


def test_linear_attribution_vs_numpy(spark):
    """Rebuild coefficients with numpy lstsq and check the attribution
    shares against a direct |beta*(x-mean)| computation."""
    import pyarrow.parquet as pq

    li = pq.read_table(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_quantity", "l_discount", "l_tax", "l_extendedprice"],
    ).to_pandas()
    q = li["l_quantity"].to_numpy(np.float64).astype(np.int64)
    dc = np.floor(li["l_discount"].to_numpy() * 100 + 0.5).astype(np.int64)
    tc = np.floor(li["l_tax"].to_numpy() * 100 + 0.5).astype(np.int64)
    yc = np.floor(
        li["l_extendedprice"].to_numpy() * 100 + 0.5
    ).astype(np.int64)
    X = np.column_stack([np.ones(len(q)), q, dc, tc]).astype(np.float64)
    beta = np.linalg.lstsq(X, yc.astype(np.float64), rcond=None)[0]
    sums = {}
    for name, col, b in (
        ("l_quantity", q, beta[1]),
        ("l_discount", dc, beta[2]),
        ("l_tax", tc, beta[3]),
    ):
        phi = np.floor(
            np.abs(b * (col - col.mean())) * 1000.0 + 0.5
        ).astype(np.int64)
        sums[name] = int(phi.sum())
    rows = QUERIES["ml_linear_attribution"](spark, SF_DIR).collect()
    total = sum(sums.values())
    for r in rows:
        # lstsq vs Cramer agree to ~1e-9 relative; allow a tiny slack
        # on the milli-gridded sums (boundary rows can flip one unit)
        assert abs(r["sum_absphi_milli"] - sums[r["feature"]]) <= max(
            5, len(q) // 1000
        ), (r["feature"], r["sum_absphi_milli"], sums[r["feature"]])
        share = sums[r["feature"]] * 1_000_000 // total
        assert abs(r["share_micro"] - share) <= 50


def test_burst_viterbi_vs_python(spark):
    """Rebuild the full two-state DP in plain python over the hourly
    counts and check the cost curves and flags exactly; also pin the
    hysteresis semantics (some hour must flip states relative to a
    naive per-hour threshold if any burst exists)."""
    import math

    from analyse_the_sky_with_apache_spark_spark.pipeline.stats import (
        _VIT_BURST_MULT,
        _VIT_GAMMA_MICRO,
    )

    ev = _events_pdf()
    hrs = (
        ev["ts"].astype("int64") // 3_600_000_000  # datetime64[us]
    ).value_counts().sort_index()
    l0 = hrs.sum() / len(hrs)
    l1 = _VIT_BURST_MULT * l0
    c0 = c1 = None
    want = []
    for hr, n in hrs.items():
        e0 = math.floor((l0 - n * math.log(l0)) * 1e6 + 0.5)
        e1 = math.floor((l1 - n * math.log(l1)) * 1e6 + 0.5)
        if c0 is None:
            c0, c1 = e0, _VIT_GAMMA_MICRO + e1
        else:
            c0, c1 = (
                min(c0, c1) + e0,
                min(c0 + _VIT_GAMMA_MICRO, c1) + e1,
            )
        want.append((int(hr), int(n), c0, c1, c1 < c0))
    rows = QUERIES["ts_burst_viterbi"](spark, SF_DIR).collect()
    got = [
        (r["hour_id"], r["n_events"], r["cost_base"], r["cost_burst"],
         r["burst"])
        for r in sorted(rows, key=lambda r: r["hour_id"])
    ]
    assert got == want and len(want) > 0
