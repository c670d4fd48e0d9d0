"""FITS writer/parser unit tests + the scan's Spark plumbing.

The oracle gate proves the nation round-trip; these tests pin the parts
the oracle can't see: numeric TFORM coverage (K/E/D/I), multi-HDU
walks that must SKIP image extensions by exact size arithmetic, string
padding semantics, malformed-header failure, and the header-only walk.
They also hold the module's twins to each other: the oracle pixel
generator `fits_pixels_sql` against numpy and the Spark decode, the
in-kernel blob labeller `_label8` against `components` and a BFS flood
fill, and a lint that keeps the FITS idioms inside their helpers.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from analyse_the_sky_with_apache_spark_spark.sources.fits import (
    parse_fits_bintables,
    parse_fits_headers,
    write_fits_bintable,
    _BLOCK,
    _card,
    _pad,
)
from tests.test_graph_twins import (
    _PKG,
    _idiom_sites,
    _package_sites,
    _top_level_sources,
)


def _roundtrip(tmp_path, names, formats, rows):
    path = os.path.join(tmp_path, "t.fits")
    write_fits_bintable(path, names, formats, rows)
    with open(path, "rb") as fh:
        buf = fh.read()
    return buf, list(parse_fits_bintables(buf))


def test_all_numeric_tforms_roundtrip(tmp_path):
    rows = [(-(2**40), 7, 1.5, -2.25, 300), (2**40, -7, -0.5, 1e100, -300)]
    buf, tables = _roundtrip(
        tmp_path, ["A", "B", "C", "D", "E"], ["K", "J", "E", "D", "I"], rows
    )
    assert len(buf) % _BLOCK == 0
    (cards, t), = tables
    assert int(cards["NAXIS1"]) == 8 + 4 + 4 + 8 + 2
    assert t["A"].tolist() == [-(2**40), 2**40]
    assert t["B"].tolist() == [7, -7]
    assert t["C"].tolist() == [1.5, -0.5]  # exact binary fractions
    assert t["D"].tolist() == [-2.25, 1e100]
    assert t["E"].tolist() == [300, -300]


def test_string_fields_space_padded_and_trimmed(tmp_path):
    _, tables = _roundtrip(
        tmp_path, ["NAME"], ["10A"], [("abc",), ("exactly10!",)]
    )
    (_, t), = tables
    assert t["NAME"].tolist() == ["abc", "exactly10!"]


def test_image_hdu_between_tables_is_skipped(tmp_path):
    """A 3-HDU file (primary, IMAGE, BINTABLE): the walk must hop the
    image payload by BITPIX*NAXIS arithmetic and still land exactly on
    the table header."""
    p1 = os.path.join(tmp_path, "a.fits")
    write_fits_bintable(p1, ["X"], ["J"], [(11,), (22,)])
    with open(p1, "rb") as fh:
        buf = fh.read()
    primary, rest = buf[:_BLOCK], buf[_BLOCK:]
    img_hdr = _pad(
        _card("XTENSION", "IMAGE") + _card("BITPIX", -32)
        + _card("NAXIS", 2) + _card("NAXIS1", 7) + _card("NAXIS2", 5)
        + _card("PCOUNT", 0) + _card("GCOUNT", 1) + _card("END")
    )
    img_data = np.arange(35, dtype=">f4").tobytes()
    img_data += b"\x00" * ((-len(img_data)) % _BLOCK)
    stitched = primary + img_hdr + img_data + rest
    tables = list(parse_fits_bintables(stitched))
    assert len(tables) == 1
    assert tables[0][1]["X"].tolist() == [11, 22]
    headers = list(parse_fits_headers(stitched))
    assert [h.get("XTENSION", "PRIMARY") for h in headers] == [
        "PRIMARY", "IMAGE", "BINTABLE"
    ]


def test_row_width_mismatch_raises(tmp_path):
    path = os.path.join(tmp_path, "bad.fits")
    write_fits_bintable(path, ["X"], ["J"], [(1,)])
    with open(path, "rb") as fh:
        buf = fh.read()
    corrupted = buf.replace(
        _card("NAXIS1", 4), _card("NAXIS1", 8)
    )
    with pytest.raises(ValueError, match="NAXIS1"):
        list(parse_fits_bintables(corrupted))


def test_missing_end_card_raises():
    with pytest.raises(ValueError, match="END"):
        list(parse_fits_headers(b" " * _BLOCK))


def test_unsupported_tform_raises(tmp_path):
    with pytest.raises(ValueError, match="TFORM"):
        write_fits_bintable(
            os.path.join(tmp_path, "x.fits"), ["X"], ["C"], [(1,)]
        )


def test_scan_fits_distributes_one_task_per_file(spark):
    """The Spark surface: 5 staged files -> the binaryFile listing
    feeds the Arrow kernel and returns all 25 nations."""
    from analyse_the_sky_with_apache_spark_spark.sources.fits import scan_fits

    df = scan_fits(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 25
    assert {r["n_regionkey"] for r in rows} == set(range(5))


def test_coadd_overlap_counts_vs_numpy(spark):
    """Mosaic coadd rebuilt in pure numpy from the same tile formula:
    per-gx observation counts and centi-sums must match exactly."""
    import numpy as np

    from analyse_the_sky_with_apache_spark_spark.sources.fits import (
        _COADD_STRIDE,
        _IMG_NX,
        _IMG_NY,
        _IMG_TILES,
        sky_coadd_tiles,
    )

    sums: dict[int, int] = {}
    obs: dict[int, int] = {}
    for f in range(_IMG_TILES):
        idx = np.arange(_IMG_NX * _IMG_NY)
        k = (f * 1_000_003 + idx) * 7919 % 3600
        i = idx % _IMG_NX
        for gx in range(f * _COADD_STRIDE, f * _COADD_STRIDE + _IMG_NX):
            sel = k[i == (gx - f * _COADD_STRIDE)]
            sums[gx] = sums.get(gx, 0) + int(sel.sum())
            obs[gx] = obs.get(gx, 0) + len(sel)

    rows = sky_coadd_tiles(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == max(sums) + 1
    for r in rows:
        assert r["n_obs"] == obs[r["gx"]]
        assert r["sum_centi"] == sums[r["gx"]]
        assert r["mean_centi"] == sums[r["gx"]] // obs[r["gx"]]
    # interior columns are covered by exactly two overlapping tiles
    two_cov = [r for r in rows if r["n_obs"] == 2 * 30]
    assert len(two_cov) > 0


def test_fits_image_roundtrip_float64(tmp_path):
    """IMAGE writer/parser round-trip preserves float32 pixel values
    bit-exactly (big-endian on disk, native in memory)."""
    import os

    import numpy as np

    from analyse_the_sky_with_apache_spark_spark.sources.fits import (
        parse_fits_images,
        write_fits_image,
    )

    px = np.linspace(-1.5, 2.5, 12, dtype=np.float32).reshape(3, 4)
    path = os.path.join(tmp_path, "img.fits")
    write_fits_image(path, px)
    with open(path, "rb") as fh:
        buf = fh.read()
    (cards, back), = parse_fits_images(buf)
    assert int(cards["NAXIS1"]) == 4 and int(cards["NAXIS2"]) == 3
    assert back.dtype == np.float32
    assert np.array_equal(back, px)


def test_string_card_with_slash_keeps_slash(tmp_path):
    """ADVICE r9: a conforming string card whose VALUE contains '/'
    (e.g. TTYPE1 = 'FLUX/ERR') must parse to the closing quote, not be
    truncated at the comment separator; escaped quotes ('') unescape."""
    from analyse_the_sky_with_apache_spark_spark.sources.fits import (
        _read_header,
    )

    buf = _pad(
        _card("SIMPLE", True)
        + _card("TTYPE1", "FLUX/ERR")
        + "TTYPE2  = 'O''HARA/X' / obs name".ljust(80).encode("ascii")
        + _card("BITPIX", 8)
        + _card("END")
    )
    cards, _ = _read_header(buf, 0)
    assert cards["TTYPE1"] == "FLUX/ERR"
    assert cards["TTYPE2"] == "O'HARA/X"
    assert cards["BITPIX"] == "8"  # numeric card still drops comments


def test_writers_stage_atomically(tmp_path, monkeypatch):
    """ADVICE r9: writers must never expose a truncated file at the
    final path — build under a per-pid temp name, then os.replace."""
    import analyse_the_sky_with_apache_spark_spark.sources.fits as fits

    seen = {}
    real_replace = os.replace

    def spy(src, dst):
        seen["src"], seen["dst"] = src, dst
        assert src == f"{dst}.tmp-{os.getpid()}"
        assert os.path.getsize(src) % _BLOCK == 0  # fully built already
        real_replace(src, dst)

    monkeypatch.setattr(fits.os, "replace", spy)
    path = os.path.join(tmp_path, "t.fits")
    write_fits_bintable(path, ["K1"], ["J"], [(1,), (2,)])
    assert seen["dst"] == path and os.path.exists(path)
    assert not os.path.exists(seen["src"])

    seen.clear()
    fits.write_fits_image(
        os.path.join(tmp_path, "img.fits"),
        np.zeros((2, 2), dtype=np.float32),
    )
    assert seen["dst"].endswith("img.fits")


# --- the pixel twin: fits_pixels_sql (DuckDB) vs fits_tiles (Spark) ---


@pytest.mark.parametrize(
    "pixel_fn_name, dirname, wcs",
    [
        ("_linear_pixels", "sky_tiles_fits", False),
        ("_quadratic_pixels", "sky_tiles_wcs_fits", True),
    ],
)
def test_pixel_twins_agree(spark, duck, pixel_fn_name, dirname, wcs):
    """For each pixel formula, the DuckDB rows of `fits_pixels_sql`, the
    host function's numpy rows and the Spark decode of the staged tiles
    through `fits_tiles` are the same ``(f, x, y, k, pid)`` set."""
    import analyse_the_sky_with_apache_spark_spark.sources.fits as fits

    pixel_fn = getattr(fits, pixel_fn_name)
    want = []
    for f in range(fits._IMG_TILES):
        idx = np.arange(fits._IMG_NX * fits._IMG_NY, dtype=np.int64)
        want += zip(
            [f] * idx.size,
            (idx % fits._IMG_NX).tolist(),
            (idx // fits._IMG_NX).tolist(),
            pixel_fn(f, idx).tolist(),
            (f * fits._PID_STRIDE + idx).tolist(),
        )
    want.sort()
    assert sorted(duck.execute(fits.fits_pixels_sql(pixel_fn)).fetchall()) == want

    base = fits._stage_sky_tiles(
        dirname, cards_fn=fits._wcs_cards if wcs else None, pixel_fn=pixel_fn
    )
    decoded = fits.fits_tiles(spark, base, fits._pixel_rows, fits._PIXEL_DDL)
    assert sorted(tuple(r) for r in decoded.collect()) == want


# --- the in-kernel blob labeller vs components and a BFS flood fill ---


def _label_masks() -> dict[str, np.ndarray]:
    """Hand-made detection masks, each shaped (ny, nx)."""
    diagonal = np.zeros((7, 9), dtype=bool)
    for i in range(7):
        diagonal[i, i] = True  # touches only corner to corner
    diagonal[0, 8] = diagonal[1, 7] = diagonal[2, 8] = True  # a zigzag
    u_shape = np.zeros((8, 7), dtype=bool)
    u_shape[0:7, 1] = u_shape[6, 1:6] = u_shape[0:7, 5] = True
    singles = np.zeros((6, 8), dtype=bool)
    singles[::2, ::2] = True
    borders = np.zeros((8, 10), dtype=bool)
    borders[0, 3:6] = borders[7, 0:2] = borders[3:5, 0] = True
    borders[2:6, 9] = borders[7, 8:10] = borders[0, 0] = True
    rng = np.random.default_rng(7)
    return {
        "diagonal": diagonal,
        "u_shape": u_shape,
        "singles": singles,
        "full": np.ones((6, 8), dtype=bool),
        "borders": borders,
        "random": rng.random((12, 15)) < 0.45,
    }


def _pairs8(mask: np.ndarray, ids: np.ndarray) -> list[tuple[int, int]]:
    """Every 8-adjacent pair of mask pixels, once."""
    ny, nx = mask.shape
    out = []
    for y, x in zip(*np.nonzero(mask)):
        for dy, dx in ((0, 1), (1, -1), (1, 0), (1, 1)):
            yy, xx = y + dy, x + dx
            if 0 <= yy < ny and 0 <= xx < nx and mask[yy, xx]:
                out.append((int(ids[y, x]), int(ids[yy, xx])))
    return out


def test_label8_matches_flood_fill_and_components(spark):
    """`_label8` (the `sky_source_extract` kernel's labeller) gives every
    mask pixel its blob's minimum id, exactly as the BFS flood fill of
    `tests/test_round10_ops.py` and `pipeline.closure.components` do,
    and leaves every other pixel at int64 max."""
    from analyse_the_sky_with_apache_spark_spark.pipeline.closure import (
        components,
    )
    from analyse_the_sky_with_apache_spark_spark.sources.fits import _label8
    from tests.test_round10_ops import _flood_fill

    want, nodes, pairs = {}, [], []
    for n, (name, mask) in enumerate(_label_masks().items()):
        ids = n * 1000 + np.arange(mask.size, dtype=np.int64).reshape(mask.shape)
        lab = _label8(mask, ids)
        assert (lab[~mask] == np.iinfo(np.int64).max).all(), name
        got = {int(ids[y, x]): int(lab[y, x]) for y, x in zip(*np.nonzero(mask))}
        flood = {}
        for comp in _flood_fill({(int(x), int(y)) for y, x in zip(*np.nonzero(mask))}):
            root = min(int(ids[y, x]) for x, y in comp)
            flood.update({int(ids[y, x]): root for x, y in comp})
        assert got == flood, name
        want.update(got)
        nodes += [(i,) for i in got]
        pairs += _pairs8(mask, ids)
    assert len(set(want.values())) > len(_label_masks())  # several blobs

    labels = components(
        spark.createDataFrame(nodes, "node_id long"),
        spark.createDataFrame(pairs, "ia long, ib long"),
    )
    assert dict(labels.collect()) == want


# --- lint: the FITS idioms live only in their helpers ---

#: FITS idioms searched in sources/fits.py (whitespace-insensitive,
#: lowercased, `tests.test_graph_twins._flat`) and the top-level
#: definitions allowed to hold each one.
_FITS_IDIOMS = {
    # the archive listing
    r"[\"']binaryfile[\"']": {"sources/fits.py:fits_scan"},
    # the image-HDU decode and its centi grid
    r"parse_fits_images\(": {
        "sources/fits.py:fits_tiles",
        "sources/fits.py:parse_fits_images",
    },
    r"np\.floor\(": {"sources/fits.py:fits_tiles"},
    # build-time jobs: only the two self-joins' documented checkpoints
    r"localcheckpoint\(": {
        "sources/fits.py:sky_wcs_xmatch",
        "sources/fits.py:sky_tile_overlap_graph",
    },
}

#: the oracle pixel generator, searched in every package module
_PIXEL_SQL_IDIOMS = {r"crossjoinrange\(": {"sources/fits.py:fits_pixels_sql"}}


def test_fits_lint_sees_hand_decodes(tmp_path):
    raw = tmp_path / "raw.py"
    raw.write_text(
        "def key(spark):\n"
        '    q = """SELECT * FROM range(0, 5) f(f)\n'
        '           CROSS JOIN range(0, 1200) t(i)"""\n'
        "    def kernel(batches):\n"
        "        for pdf in batches:\n"
        '            for buf in pdf["content"]:\n'
        "                for _c, px in parse_fits_images(bytes(buf)):\n"
        "                    yield np.floor(px * 100.0 + 0.5)\n"
        '    return (spark.read.format("binaryFile").load(base)\n'
        "            .mapInPandas(kernel, ddl).localCheckpoint(eager=True))\n"
    )
    assert len(_idiom_sites(str(raw), _FITS_IDIOMS)) == 4
    assert len(_idiom_sites(str(raw), _PIXEL_SQL_IDIOMS)) == 1


def test_fits_idioms_only_in_their_helpers():
    path = os.path.join(_PKG, "sources", "fits.py")
    sources = _top_level_sources(path)
    for allowed in (*_FITS_IDIOMS.values(), *_PIXEL_SQL_IDIOMS.values()):
        for site in allowed:
            assert site.split(":")[1] in sources, site
    hits = _idiom_sites(path, _FITS_IDIOMS) + _package_sites(_PIXEL_SQL_IDIOMS)
    assert not hits, (
        "decode FITS through sources.fits' fits_scan / fits_tiles, render "
        "oracle pixels through fits_pixels_sql, and checkpoint only the "
        "two documented self-joins:\n" + "\n".join(hits)
    )
