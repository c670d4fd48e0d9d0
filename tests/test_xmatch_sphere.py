"""Correctness of the binned cell-join kernel and its lint.

The md5-derived fixture catalog happens to contain zero pairs straddling
RA 0°/360° (verified at sf0.01), so the ring-cell + circular-predicate
logic is pinned here with planted coordinates: a brute-force circular
box match over a small catalog must equal the binned kernel exactly,
and the planted wraparound pairs must be present. The kernel's other
shapes — anisotropic widths without a ring, and an offset y axis — are
pinned the same way against planted band-edge pairs. A source lint
keeps the 3×3 explode, the circular RA distance, the haversine text and
the sky-catalog position draw inside their twins in
``operators/xmatch.py`` (the catalog draw also in its definition in
``functions/exact.py`` and one allowlisted key).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from analyse_the_sky_with_apache_spark_spark.operators.xmatch import (
    _SPH_CIRCLE,
    _SPH_EPS,
    cell_join,
    sphere_match,
)
from tests.test_graph_twins import _idiom_sites, _package_sites

#: (obj_id, ra_c, dec_c) — centi-degrees. Pairs 1–2 and 3–4 straddle the
#: 0°/360° seam (circular Δra 80 and exactly eps); 5–6 match linearly;
#: 7 pairs with nothing (circular Δra just over eps from 1 and 2);
#: 8–9 straddle the seam in RA but are too far apart in Dec.
_CATALOG = [
    (1, 35950, 0),
    (2, 30, 50),
    (3, 35900, -3000),
    (4, 100, -3100),  # circular dra = 200 == eps, inclusive boundary
    (5, 18000, 7000),
    (6, 18100, 7100),
    (7, 230, 10),  # dra to #1 = 280 circularly, > eps
    (8, 35990, 8000),
    (9, 10, 8000 - 2 * _SPH_EPS - 1),  # RA adjacent, Dec out of box
]


def _brute_pairs():
    out = set()
    for i, (ia, ra_a, dec_a) in enumerate(_CATALOG):
        for ib, ra_b, dec_b in _CATALOG[i + 1 :]:
            dra = abs(ra_a - ra_b)
            if min(dra, _SPH_CIRCLE - dra) <= _SPH_EPS and abs(
                dec_a - dec_b
            ) <= _SPH_EPS:
                out.add((min(ia, ib), max(ia, ib)))
    return out


def _haversine(ra_a, dec_a, ra_b, dec_b):
    ra1, de1 = math.radians(ra_a / 100.0), math.radians(dec_a / 100.0)
    ra2, de2 = math.radians(ra_b / 100.0), math.radians(dec_b / 100.0)
    h = math.sin((de2 - de1) / 2) ** 2 + math.cos(de1) * math.cos(
        de2
    ) * math.sin((ra2 - ra1) / 2) ** 2
    return round(2 * math.asin(math.sqrt(h)), 6)


def test_wraparound_pairs_found(spark):
    base = spark.createDataFrame(
        _CATALOG, "obj_id BIGINT, ra_c BIGINT, dec_c BIGINT"
    )
    got = {(r.ia, r.ib): r.dist_rad for r in sphere_match(base).collect()}
    expected = _brute_pairs()
    assert set(got) == expected
    # the seam-straddling pairs are the point of the test
    assert (1, 2) in got and (3, 4) in got
    assert (8, 9) not in got and (1, 7) not in got
    # and the angular distance is the short way around the sphere
    coords = {i: (ra, dec) for i, ra, dec in _CATALOG}
    for (ia, ib), dist in got.items():
        ra_a, dec_a = coords[ia]
        ra_b, dec_b = coords[ib]
        assert dist == _haversine(ra_a, dec_a, ra_b, dec_b)
        assert dist <= math.radians(2 * _SPH_EPS / 100.0 * 1.5)


def test_fixture_catalog_still_matches_oracle(spark, duck):
    from analyse_the_sky_with_apache_spark_spark import registry
    from tests.conftest import SF_DIR, assert_matches_oracle

    registry.load_all_modules()
    assert_matches_oracle(
        spark,
        duck,
        registry.QUERIES["xmatch_sphere"],
        registry.ORACLE["xmatch_sphere"],
        SF_DIR,
    )


#: (obj_id, ra_c, dec_c) planted cone-search catalog. The cone is
#: centered at RA 10.00 deg, Dec 0, radius 20 deg — objects 11/12 sit
#: across the 0/360 seam INSIDE the cone, 13 is outside by RA the short
#: way around, 14 is inside the RA box but outside the haversine cut at
#: a high-|dec| corner, 15 is a linear (non-wrapping) in-cone object.
_CONE_CATALOG = [
    (11, 35500, 0),     # circular dra = 15.00 deg -> inside
    (12, 35101, 100),   # circular dra = 18.99 deg -> inside (wraps)
    (13, 33800, 0),     # circular dra = 22.00 deg -> outside
    (14, 3100, 1990),   # box corner: dra 21.00 <= 21.30 box, dec 19.90
                        # <= 20.00 band, but haversine 0.4995 rad > r —
                        # only the exact cut rejects it
    (15, 2500, -500),   # linear: dra = 15.00 deg -> inside
]


def test_cone_search_wraps_the_seam(spark):
    import math

    from analyse_the_sky_with_apache_spark_spark.operators.xmatch import (
        _CONE_R_RAD,
        cone_filter,
    )

    base = spark.createDataFrame(
        _CONE_CATALOG, "obj_id BIGINT, ra_c BIGINT, dec_c BIGINT"
    )
    got = {r.obj_id: r.dist_rad for r in cone_filter(base).collect()}
    assert set(got) == {11, 12, 15}
    # distances are the short way around and within the radius
    for obj_id, dist in got.items():
        ra, dec = next((r, d) for i, r, d in _CONE_CATALOG if i == obj_id)
        assert dist == _haversine(ra, dec, 1000, 0)
        assert dist <= _CONE_R_RAD


def test_period_scan_recovers_planted_period(spark):
    """A synthetic square-wave light curve with a 5-day period must rank
    period=5 first, and a pure-noise-free constant series must still
    produce a full 10-period scan table. Built from the kernel directly
    so the planted series controls every row."""
    import datetime

    from analyse_the_sky_with_apache_spark_spark.operators.xmatch import (
        _DAY_US,
        _SCAN_NBINS,
        _SCAN_PERIODS_D,
        period_scan_kernel,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # 6-hourly sampling over 140 days: value is 100.0 on days 0-1 of each
    # 5-day cycle, 10.0 otherwise — a square wave only a 5-day (or
    # multiple-of-5) fold concentrates.
    for k in range(140 * 4):
        ts = t0 + datetime.timedelta(hours=6 * k)
        day = (k // 4) % 5
        rows.append(("pulsar", ts, 100.0 if day < 2 else 10.0))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    scan = period_scan_kernel(
        df, tuple(p * _DAY_US for p in _SCAN_PERIODS_D), _SCAN_NBINS
    ).collect()
    assert len(scan) == len(_SCAN_PERIODS_D)
    by_rank = {r["rnk"]: r for r in scan}
    # 5 beats every non-multiple; 10 (a harmonic) also folds cleanly but
    # the rank tie-break prefers the shorter period at equal amplitude
    assert by_rank[1]["period_days"] == 5
    amps = {r["period_days"]: r["amp"] for r in scan}
    assert amps[5] > amps[7] and amps[5] > amps[3]


def _box_pairs(rows, wx, wy):
    """Brute force: every id pair (i < j) within the (wx, wy) box."""
    return {
        (ia, ib)
        for ia, xa, ya in rows
        for ib, xb, yb in rows
        if ia < ib and abs(xa - xb) <= wx and abs(ya - yb) <= wy
    }


def _kernel_pairs(spark, rows, xy, width):
    base = spark.createDataFrame(rows, "id BIGINT, x BIGINT, y BIGINT")
    wx, wy = width
    got = (
        cell_join(
            base, base, xy, xy, width,
            home_cols=["id", "x", "y"],
            away_cols=[
                F.col("id").alias("jd"), F.col("x").alias("bx"),
                F.col("y").alias("by"),
            ],
        )
        .filter(
            (F.col("id") < F.col("jd"))
            & (F.abs(F.col("x") - F.col("bx")) <= wx)
            & (F.abs(F.col("y") - F.col("by")) <= wy)
        )
        .select("id", "jd")
        .collect()
    )
    pairs = [(r.id, r.jd) for r in got]
    assert len(pairs) == len(set(pairs)), "a pair met in two cells"
    return set(pairs)


#: (id, x, y) for the anisotropic 25 × 1 grid: 1–2 sit exactly on both
#: band edges at once (Δx = 25, Δy = 1) across a cell boundary on each
#: axis; 3 is one past the x edge from 1, 4 one past the y edge; 5–6 are
#: an on-edge pair at negative x (``div`` truncates toward zero there).
_ANISO = [
    (1, 1000, 5),
    (2, 1025, 6),
    (3, 974, 5),
    (4, 1010, 7),
    (5, -30, 0),
    (6, -5, -1),
    (7, -56, 0),
]


def test_kernel_anisotropic_widths_without_ring(spark):
    got = _kernel_pairs(spark, _ANISO, ("x", "y"), (25, 1))
    assert got == _box_pairs(_ANISO, 25, 1)
    assert {(1, 2), (5, 6)} <= got
    assert (1, 3) not in got and (1, 4) not in got


#: (id, ra, dec) around the south pole for an offset y axis
#: ``dec + 9000`` on a 300-wide grid: 11–12 straddle the pole cell's
#: boundary at dec −90°, 13–14 straddle the next boundary up with Δ
#: exactly the width, 15 is one past the width from 13.
_POLE = [
    (11, 500, -9005),
    (12, 520, -8990),
    (13, 500, -8701),
    (14, 800, -8401),
    (15, 801, -8400),
    (16, 500, -9000),
]


def test_kernel_offset_y_across_the_pole_cell(spark):
    got = _kernel_pairs(spark, _POLE, ("x", "(y + 9000)"), (300, 300))
    assert got == _box_pairs(_POLE, 300, 300)
    assert {(11, 12), (13, 14), (11, 16)} <= got
    assert (13, 15) not in got


#: raw pair-search idioms (lowercase, whitespace and string seams
#: removed), searched in every package module, and the top-level
#: definitions (``module:name``) allowed to hold each one: the 3×3
#: explode, the SQL and Spark circular RA distance, the haversine
#: formula (``_CONE_DIST`` keeps its own fixed-center spelling; see its
#: comment) and the sky-catalog position draw.
_XM = "operators/xmatch.py"
_XMATCH_IDIOMS = {
    r"sequence\(-1,1\)": {f"{_XM}:cell_join"},
    r"least\(abs\(": {f"{_XM}:ra_dist_sql"},
    r"least\((?:(?!least\().){0,60}(f\.lit\(_sph_circle\)|\{_sph_circle\}|36000-abs)": {
        f"{_XM}:ra_dist",
        f"{_XM}:ra_dist_sql",
    },
    r"2\*asin\(sqrt\(": {f"{_XM}:haversine_sql", f"{_XM}:_CONE_DIST"},
    r"_sph_haversine": set(),
    r"sky_radec(_sql)?\(": {
        "functions/exact.py:sky_radec",
        "functions/exact.py:sky_radec_sql",
        f"{_XM}:sky_catalog",
        f"{_XM}:sky_catalog_sql",
        # its catalog carries c_mktsegment, which sky_catalog does not
        "pipeline/stats.py:stat_circular_rayleigh",
    },
}


def test_lint_sees_the_raw_idioms(tmp_path):
    raw = tmp_path / "raw.py"
    raw.write_text(
        "def site(eps):\n"
        '    a = F.expr(f"flatten(transform(sequence(-1, "\n'
        '               f"1), dx -> x))")\n'
        "    d = F.least(dra, F.lit(_SPH_CIRCLE) - dra)\n"
        '    q = "WHERE LEAST(abs(a.ra_c - b.ra_c), 36000 - abs(a.ra_c - b.ra_c))"\n'
        '    h = "ROUND(2*ASIN(SQRT(x)), 6)"\n'
        '    ra, dec = sky_radec("c_custkey")\n'
    )
    assert len(_idiom_sites(str(raw), _XMATCH_IDIOMS)) == 5


def test_pair_search_idioms_only_in_their_twins():
    hits = _package_sites(_XMATCH_IDIOMS)
    assert not hits, (
        "pair searches go through operators.xmatch's twins (cell_join, "
        "ra_dist / ra_dist_sql, haversine_sql, sky_catalog / "
        "sky_catalog_sql):\n" + "\n".join(hits)
    )
