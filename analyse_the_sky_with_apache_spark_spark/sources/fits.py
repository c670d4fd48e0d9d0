"""FITS source — the astronomy archive format, parsed in pure Python.

FITS (Flexible Image Transport System, the sky-survey interchange format
standardized by the IAU; NASA's FITS Standard 4.0 is public) is a
sequence of HDUs (Header-Data Units). Each HDU is a header of 80-byte
ASCII "cards" padded to 2880-byte blocks, followed by a data section
also padded to 2880-byte blocks. Catalog data ships as a BINTABLE
extension: ``NAXIS1`` bytes per row x ``NAXIS2`` rows of big-endian
fields described by ``TTYPEn``/``TFORMn`` cards; sky tiles ship as
2-D IMAGE HDUs.

No FITS library is needed (astropy is not a dependency): headers are
fixed-width ASCII, and payloads decode with one big-endian
``numpy.frombuffer`` per HDU. Every key reads through three helpers:

- `fits_scan`, the one ``binaryFile`` listing (one row per file; at
  100 TB the listing distributes and the glob prunes inside it) and
  the one ``mapInArrow`` kernel, which hands each file's bytes to the
  key's decoder and ships its columns back as Arrow record batches.
  One task per file: FITS files are not splittable mid-HDU, so the
  file IS the parallel unit, as survey archives ship them.
- `fits_tiles`, its image form: each tile on the exact centi grid,
  then the key's per-tile step (threshold, blob labels, pooling,
  photometry), so only per-tile results cross the Python boundary.
- `fits_pixels_sql`, the oracles' DuckDB twin of the staged tiles,
  from the same integer formulas the stager wrote.

Building a key starts no Spark job, except the two self-joins' bounded
checkpoints (`sky_wcs_xmatch`, `sky_tile_overlap_graph`) and
`_stage_nation_fits`' one 25-row collect per process. The catalog
files are AUTHORED from ``nation`` by a pure-Python writer and the
tiles from closed-form formulas, so the DuckDB oracles reproduce every
value from SQL alone and the write -> list -> decode path is
hash-checked.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from ..catalog import load_table
from ..pipeline.closure import components_sql
from ..registry import register
from .scans import _SCRATCH

_BLOCK = 2880
_CARD = 80


def _card(key: str, value: str | int | bool | None = None) -> bytes:
    """One 80-byte header card in FITS fixed format."""
    if value is None:
        text = f"{key:<8}"
    elif isinstance(value, bool):
        text = f"{key:<8}= {'T' if value else 'F':>20}"
    elif isinstance(value, int):
        text = f"{key:<8}= {value:>20}"
    else:  # string: quoted, left-justified, min 8 chars inside quotes
        text = f"{key:<8}= '{value:<8}'"
    return text.ljust(_CARD).encode("ascii")


def _pad(b: bytes) -> bytes:
    """Pad to a 2880-byte block boundary (headers pad with spaces per
    the standard; data sections pad with zeros)."""
    fill = b" " if b[:6] in (b"SIMPLE", b"XTENSI") else b"\x00"
    rem = len(b) % _BLOCK
    return b if rem == 0 else b + fill * (_BLOCK - rem)


def write_fits_bintable(
    path: str,
    names: list[str],
    formats: list[str],
    rows: list[tuple],
) -> None:
    """Author a minimal standard-conforming FITS file: empty primary
    HDU + one BINTABLE extension. ``formats`` use TFORM codes:
    J=int32, K=int64, E=float32, D=float64, <n>A=fixed ASCII."""
    header = _pad(
        _card("SIMPLE", True) + _card("BITPIX", 8) + _card("NAXIS", 0)
        + _card("EXTEND", True) + _card("END")
    )
    dt = np.dtype([(n, _np_dtype(f)) for n, f in zip(names, formats)])
    cards = (
        _card("XTENSION", "BINTABLE") + _card("BITPIX", 8)
        + _card("NAXIS", 2) + _card("NAXIS1", dt.itemsize)
        + _card("NAXIS2", len(rows)) + _card("PCOUNT", 0)
        + _card("GCOUNT", 1) + _card("TFIELDS", len(names))
    )
    for i, (n, f) in enumerate(zip(names, formats), start=1):
        cards += _card(f"TTYPE{i}", n) + _card(f"TFORM{i}", f)
    cards += _card("END")
    arr = np.zeros(len(rows), dtype=dt)
    for i, row in enumerate(rows):
        for n, f, v in zip(names, formats, row):
            arr[i][n] = v.ljust(int(f[:-1])) if f.endswith("A") else v
    _atomic_write(path, header + _pad(cards) + _pad(arr.tobytes()))


def _atomic_write(path: str, payload: bytes) -> None:
    """Build-then-rename staging (the streaming/replay.py protocol): a
    crash or concurrent stager mid-write must never leave a truncated
    .fits at the final path — the os.path.exists staging guards would
    then skip regeneration forever. Each writer builds privately under
    a per-pid temp name; os.replace is atomic, last writer wins with
    identical bytes."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, path)


def _np_dtype(tform: str) -> str:
    """TFORM code -> big-endian numpy dtype string."""
    code = tform.lstrip("0123456789")
    if code == "A":
        return f"S{int(tform[:-1] or 1)}"
    try:
        return {"J": ">i4", "K": ">i8", "E": ">f4", "D": ">f8",
                "I": ">i2", "B": "u1"}[code]
    except KeyError:
        raise ValueError(f"unsupported TFORM {tform!r}") from None


def _read_header(buf: bytes, pos: int) -> tuple[dict[str, str], int]:
    """Parse cards until END; return (cards, offset of the data
    section) — END's block is consumed whole, data starts at the next
    2880 boundary."""
    cards: dict[str, str] = {}
    while pos < len(buf):
        block = buf[pos:pos + _BLOCK]
        pos += _BLOCK
        for i in range(0, _BLOCK, _CARD):
            card = block[i:i + _CARD].decode("ascii", errors="replace")
            key = card[:8].strip()
            if key == "END":
                return cards, pos
            if card[8:10] == "= ":
                val = card[10:].strip()
                if val.startswith("'"):
                    # string value: parse to the closing quote BEFORE
                    # splitting off the '/' comment — a conforming card
                    # like TTYPE1 = 'FLUX/ERR' keeps its slash ('' is
                    # an escaped quote inside the string per the std).
                    body, i = [], 1
                    while i < len(val):
                        if val[i] == "'":
                            if val[i:i + 2] == "''":
                                body.append("'")
                                i += 2
                                continue
                            break
                        body.append(val[i])
                        i += 1
                    val = "".join(body).rstrip()
                else:
                    val = val.split("/", 1)[0].strip()
                cards[key] = val
        # END not in this block: keep reading cards
    raise ValueError("FITS header without END card")


def _data_size(cards: dict[str, str]) -> int:
    """Data-section byte length of an HDU from its header cards."""
    naxis = int(cards.get("NAXIS", "0"))
    if naxis == 0:
        return 0
    size = abs(int(cards.get("BITPIX", "8"))) // 8
    for i in range(1, naxis + 1):
        size *= int(cards[f"NAXIS{i}"])
    size += int(cards.get("PCOUNT", "0"))
    return size * int(cards.get("GCOUNT", "1"))


def parse_fits_headers(buf: bytes) -> Iterator[dict[str, str]]:
    """Walk every HDU header in a FITS byte buffer WITHOUT decoding any
    payload — data sections are skipped by exact BITPIX/NAXIS/PCOUNT
    arithmetic, so cost is O(header blocks) per HDU."""
    pos = 0
    while pos < len(buf):
        cards, pos = _read_header(buf, pos)
        size = _data_size(cards)
        pos += size + (-size) % _BLOCK  # data + padding to block boundary
        yield cards


def parse_fits_bintables(buf: bytes) -> Iterator[tuple[dict, pd.DataFrame]]:
    """Walk every HDU in a FITS byte buffer; yield (header-cards,
    decoded rows) for each BINTABLE. Non-table HDUs (primary, IMAGE)
    are skipped by exact data-size arithmetic — no byte is guessed."""
    pos = 0
    while pos < len(buf):
        cards, pos = _read_header(buf, pos)
        size = _data_size(cards)
        data = buf[pos:pos + size]
        pos += size + (-size) % _BLOCK  # data padding to block boundary
        if cards.get("XTENSION", "").strip() != "BINTABLE":
            continue
        nfields = int(cards["TFIELDS"])
        names = [cards[f"TTYPE{i}"] for i in range(1, nfields + 1)]
        forms = [cards[f"TFORM{i}"] for i in range(1, nfields + 1)]
        dt = np.dtype([(n, _np_dtype(f)) for n, f in zip(names, forms)])
        if dt.itemsize != int(cards["NAXIS1"]):
            raise ValueError(
                f"TFORM row width {dt.itemsize} != NAXIS1 {cards['NAXIS1']}"
            )
        arr = np.frombuffer(data, dtype=dt, count=int(cards["NAXIS2"]))
        out = {}
        for n, f in zip(names, forms):
            col = arr[n]
            if f.endswith("A"):
                out[n] = [v.decode("ascii").rstrip() for v in col]
            else:
                # native-endian copy: Arrow rejects big-endian buffers
                out[n] = col.astype(col.dtype.newbyteorder("="))
        yield cards, pd.DataFrame(out)


def write_fits_image(
    path: str, pixels: np.ndarray, cards: dict[str, int] | None = None
) -> None:
    """Author a single-HDU FITS image: 2-D float32 pixels in the
    PRIMARY HDU (BITPIX=-32, big-endian), the survey-tile shape.
    ``cards`` appends extra integer header cards (e.g. the micro-scaled
    WCS keywords `sky_wcs_xmatch` stages)."""
    ny, nx = pixels.shape
    extra = b"".join(_card(k, v) for k, v in (cards or {}).items())
    header = _pad(
        _card("SIMPLE", True) + _card("BITPIX", -32) + _card("NAXIS", 2)
        + _card("NAXIS1", nx) + _card("NAXIS2", ny) + extra + _card("END")
    )
    _atomic_write(path, header + _pad(pixels.astype(">f4").tobytes()))


_BITPIX_DTYPES = {8: "u1", 16: ">i2", 32: ">i4", 64: ">i8",
                  -32: ">f4", -64: ">f8"}


def parse_fits_images(buf: bytes) -> Iterator[tuple[dict, np.ndarray]]:
    """Walk every HDU; yield (cards, 2-D pixel array) for each image
    HDU (primary or IMAGE extension with NAXIS=2)."""
    pos = 0
    while pos < len(buf):
        cards, pos = _read_header(buf, pos)
        size = _data_size(cards)
        data = buf[pos:pos + size]
        pos += size + (-size) % _BLOCK
        xt = cards.get("XTENSION", "").strip()
        if int(cards.get("NAXIS", "0")) != 2 or xt not in ("", "IMAGE"):
            continue
        nx, ny = int(cards["NAXIS1"]), int(cards["NAXIS2"])
        dt = _BITPIX_DTYPES[int(cards["BITPIX"])]
        arr = np.frombuffer(data, dtype=dt, count=nx * ny)
        yield cards, arr.astype(arr.dtype.newbyteorder("=")).reshape(ny, nx)


def _tile_of(name: str) -> int:
    """Tile number ``f`` of a staged tile's file name ``tile_<f>.fits``."""
    return int(name.removeprefix("tile_").removesuffix(".fits"))


def fits_scan(
    spark: SparkSession,
    base: str,
    per_file: Callable[[str, bytes], Iterator[dict]],
    ddl: str,
) -> DataFrame:
    """The module's one FITS read: ``binaryFile`` lists ``base/*.fits``,
    and one ``mapInArrow`` kernel calls ``per_file(name, buf)`` with each
    file's base name and bytes. Every column dict ``per_file`` yields
    becomes one Arrow record batch typed by the DDL schema ``ddl``.
    Building the frame starts no Spark job."""
    struct = _parse_datatype_string(ddl)
    schema = to_arrow_schema(struct)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            paths = batch.column("path").to_pylist()
            for path, buf in zip(paths, batch.column("content").to_pylist()):
                for cols in per_file(path.rsplit("/", 1)[-1], buf):
                    yield pa.RecordBatch.from_pydict(cols, schema=schema)

    return (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInArrow(kernel, struct)
    )


def fits_tiles(
    spark: SparkSession,
    base: str,
    per_tile: Callable[[int, dict, np.ndarray], dict],
    ddl: str,
) -> DataFrame:
    """`fits_scan` over staged sky tiles ``base/tile_<f>.fits``. Each
    image HDU decodes onto the exact centi grid: ``k`` is px·100 rounded
    half up to int64 (the numpy mirror of `functions.exact.grid`). The
    staged integers are float32 pixels k/100, and f32 error (~1e-4
    here) is far under the 5e-3 recovery margin. Then ``per_tile(f,
    cards, k)`` turns tile ``f``'s header cards and 2-D ``k`` into one
    column dict of ``ddl`` rows."""

    def per_file(name: str, buf: bytes) -> Iterator[dict]:
        for cards, px in parse_fits_images(buf):
            k = np.floor(px.astype(np.float64) * 100.0 + 0.5).astype(np.int64)
            yield per_tile(_tile_of(name), cards, k)

    return fits_scan(spark, base, per_file, ddl)


def _stage_nation_fits(spark: SparkSession, sf_dir: str) -> str:
    """Author one FITS file per region from the ``nation`` table
    (25 rows total — the scan_binaryfile bounded-staging pattern). The
    ``_STAGED`` marker is written last, so a build that finds it starts
    no job: ``nation`` is collected once per process."""
    base = os.path.join(_SCRATCH, "nation_fits")
    marker = os.path.join(base, "_STAGED")
    if os.path.exists(marker):
        return base
    os.makedirs(base, exist_ok=True)
    rows = sorted(
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    by_region: dict[int, list[tuple]] = {}
    for r in rows:
        by_region.setdefault(r["n_regionkey"], []).append(
            (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        )
    for rk, data in by_region.items():
        write_fits_bintable(
            os.path.join(base, f"region_{rk}.fits"),
            ["N_NATIONKEY", "N_NAME", "N_REGIONKEY"],
            ["J", "25A", "J"],
            data,
        )
    _atomic_write(marker, b"")
    return base


@register(
    "scan_fits",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def scan_fits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FITS BINTABLE scan — stage ``nation`` as a 5-file FITS archive
    (one file per region), list it with ``binaryFile``, decode every
    BINTABLE HDU with the pure-Python parser inside the `fits_scan`
    ``mapInArrow`` kernel, and hash-check the round-trip against the
    relational source. File-per-task is the FITS parallel unit (HDUs
    are not splittable); at 100 TB the same plan reads a million-tile
    archive with the listing distributed and payload decode in
    executor-side Python at one ``numpy.frombuffer`` per file.
    """

    def decode(_name: str, buf: bytes) -> Iterator[dict]:
        for _cards, table in parse_fits_bintables(buf):
            yield {
                "n_nationkey": table["N_NATIONKEY"].to_numpy(np.int32),
                "n_name": table["N_NAME"].tolist(),
                "n_regionkey": table["N_REGIONKEY"].to_numpy(np.int32),
            }

    return fits_scan(
        spark, _stage_nation_fits(spark, sf_dir), decode,
        "n_nationkey INT, n_name STRING, n_regionkey INT",
    )


@register(
    "scan_fits_header",
    oracle="""
SELECT 'region_' || CAST(n_regionkey AS VARCHAR) || '.fits' AS fname,
       CAST(33 AS BIGINT) AS row_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS n_fields
FROM nation GROUP BY n_regionkey
ORDER BY fname
""",
)
def scan_fits_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FITS header-only scan — the archive-triage query (how many rows
    per tile, which columns) that must NOT decode payloads: the kernel
    walks headers and skips data sections by exact BITPIX/NAXIS/PCOUNT
    arithmetic, so cost is O(header blocks) per file regardless of
    payload size. The oracle recomputes every header field (row width
    4+25+4, per-region row counts, field count) from the relational
    source — catching both writer and parser drift.
    """

    def headers(name: str, buf: bytes) -> Iterator[dict]:
        for cards in parse_fits_headers(buf):
            if cards.get("XTENSION", "") == "BINTABLE":
                yield {
                    "fname": [name],
                    "row_bytes": [int(cards["NAXIS1"])],
                    "n_rows": [int(cards["NAXIS2"])],
                    "n_fields": [int(cards["TFIELDS"])],
                }

    return fits_scan(
        spark, _stage_nation_fits(spark, sf_dir), headers,
        "fname STRING, row_bytes LONG, n_rows LONG, n_fields LONG",
    ).orderBy("fname")


#: scan_fits_image: tile geometry and the pixel formula — pixel (i, j)
#: of tile f holds ((f*1000003 + j*NX + i) * 7919 % 3600) / 100.0,
#: exactly representable to recover the centi-integer from float32.
_IMG_NX, _IMG_NY, _IMG_TILES = 40, 30, 5


def _linear_pixels(f: int, idx: np.ndarray) -> np.ndarray:
    """The scan_fits_image / sky_coadd_tiles pixel formula."""
    return (f * 1_000_003 + idx) * 7919 % 3600


#: `_linear_pixels` in SQL, over tile ``f`` and flat pixel index ``i``
_linear_pixels.sql = "((f * 1000003 + i) * 7919) % 3600"


def _quadratic_pixels(f: int, idx: np.ndarray) -> np.ndarray:
    """The sky_wcs_xmatch pixel formula. The linear formula cannot be
    used there: its cross-tile value offset at a shared sky position is
    CONSTANT mod 3600 (the diff (1000003-20)*7919 never varies), so two
    overlapping tiles are never both above threshold and the
    cross-match would be vacuously empty. Squaring makes the offset
    position-dependent ((b+d)^2 - b^2 = d*(2b+d) varies with b), i.e.
    the two "epochs" decorrelate; b^2 <= ~2.5e13 fits int64 exactly."""
    b = f * 1_000_003 + idx
    return (b * b + 17) % 3600


#: `_quadratic_pixels` in SQL, over tile ``f`` and flat pixel index ``i``
_quadratic_pixels.sql = "((f * 1000003 + i) * (f * 1000003 + i) + 17) % 3600"

#: pixel ids: pixel i of tile f is f * _PID_STRIDE + i
_PID_STRIDE = 10_000


def fits_pixels_sql(pixel_fn: Callable[[int, np.ndarray], np.ndarray]) -> str:
    """DuckDB twin of the tiles `_stage_sky_tiles` writes with
    ``pixel_fn``: a SELECT of ``(f, x, y, k, pid)`` for every pixel of
    the ``_IMG_TILES`` tiles, ``k`` from ``pixel_fn.sql``, the formula's
    SQL text kept beside it. `_pixel_rows` is the Spark side."""
    return f"""SELECT f, i % {_IMG_NX} AS x, i // {_IMG_NX} AS y,
       {pixel_fn.sql} AS k, f * {_PID_STRIDE} + i AS pid
FROM range(0, {_IMG_TILES}) tiles(f)
CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) pix(i)"""


_PIXEL_DDL = "f LONG, x LONG, y LONG, k LONG, pid LONG"


def _pixel_rows(f: int, _cards: dict, k: np.ndarray) -> dict:
    """`fits_tiles` step: every pixel of tile ``f`` as one `_PIXEL_DDL`
    row — the Spark side of `fits_pixels_sql`."""
    idx = np.arange(k.size, dtype=np.int64)
    return {
        "f": np.full(k.size, f, dtype=np.int64),
        "x": idx % k.shape[1],
        "y": idx // k.shape[1],
        "k": k.reshape(-1),
        "pid": f * _PID_STRIDE + idx,
    }


def _stage_sky_tiles(
    dirname: str,
    cards_fn=None,
    pixel_fn=_linear_pixels,
) -> str:
    """Stage the five synthetic sky tiles under a scratch dir (atomic
    writes — see `_atomic_write`). ``cards_fn(f) -> dict`` appends
    per-tile integer header cards (the WCS staging); ``pixel_fn(f,
    idx)`` supplies the centi-grid pixel values."""
    base = os.path.join(_SCRATCH, dirname)
    os.makedirs(base, exist_ok=True)
    for f in range(_IMG_TILES):
        path = os.path.join(base, f"tile_{f}.fits")
        if not os.path.exists(path):
            idx = np.arange(_IMG_NX * _IMG_NY, dtype=np.int64)
            k = pixel_fn(f, idx)
            write_fits_image(
                path,
                (k / 100.0).astype(np.float32).reshape(_IMG_NY, _IMG_NX),
                cards=cards_fn(f) if cards_fn else None,
            )
    return base


@register(
    "scan_fits_image",
    oracle=f"""
WITH px AS ({fits_pixels_sql(_linear_pixels)})
SELECT 'tile_' || CAST(f AS VARCHAR) || '.fits' AS fname,
       CAST(COUNT(*) AS BIGINT) AS n_pix,
       CAST(SUM(k) AS BIGINT) AS sum_centi,
       CAST(MIN(k) AS BIGINT) AS min_centi,
       CAST(MAX(k) AS BIGINT) AS max_centi
FROM px GROUP BY f ORDER BY fname
""",
)
def scan_fits_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FITS IMAGE scan — the pixel-data side of the archive (sky
    tiles), complementing `scan_fits`'s catalog BINTABLEs: five staged
    float32 tiles decode inside the `fits_tiles` Arrow kernel (one
    big-endian ``numpy.frombuffer`` + reshape per file) into per-tile
    pixel statistics. Pixels are authored from integer arithmetic on a
    centi-grid, so each float32 pixel recovers its exact integer and
    the DuckDB oracle reproduces every statistic from `fits_pixels_sql`
    alone — write, byte order, HDU walk and decode all hash-checked
    with zero image library.

    100-TB posture: tile-per-task (images are one HDU, not
    splittable); per-tile reductions happen INSIDE the kernel so only
    one stats row per tile reaches the engine — a million-tile survey
    shuffles a million rows, not pixels.
    """

    def stats(f: int, _cards: dict, k: np.ndarray) -> dict:
        return {
            "fname": [f"tile_{f}.fits"],
            "n_pix": [int(k.size)],
            "sum_centi": [int(k.sum())],
            "min_centi": [int(k.min())],
            "max_centi": [int(k.max())],
        }

    return fits_tiles(
        spark, _stage_sky_tiles("sky_tiles_fits"), stats,
        "fname STRING, n_pix LONG, sum_centi LONG, "
        "min_centi LONG, max_centi LONG",
    ).orderBy("fname")


#: sky_coadd_tiles: tile stride in global-x pixels (40-wide tiles every
#: 20 px -> 50% overlap with each neighbor, the mosaic shape).
_COADD_STRIDE = 20


@register(
    "sky_coadd_tiles",
    oracle=f"""
WITH px AS ({fits_pixels_sql(_linear_pixels)}),
cells AS (
  SELECT f * {_COADD_STRIDE} + x AS gx, y AS gy, k FROM px
),
coadd AS (
  SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(k) AS BIGINT) AS sum_centi
  FROM cells GROUP BY gx, gy
)
SELECT CAST(gx AS BIGINT) AS gx,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_obs) AS BIGINT) AS n_obs,
       CAST(SUM(sum_centi) AS BIGINT) AS sum_centi,
       CAST(SUM(sum_centi) AS BIGINT) // CAST(SUM(n_obs) AS BIGINT)
         AS mean_centi
FROM coadd GROUP BY gx ORDER BY gx
""",
)
def sky_coadd_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic COADD over overlapping FITS tiles — the survey-stacking
    step after `scan_fits_image`: five 40-px-wide tiles placed every
    20 px (_COADD_STRIDE) overlap 50% with each neighbor; every decoded
    pixel maps to its GLOBAL sky cell (gx = tile_origin + i, gy = j)
    and overlapping observations aggregate per cell (count + exact
    centi-integer sum -> integer-div mean). Wrong tile placement, a
    double-counted overlap, or a byte-order slip changes some cell's
    observation count or sum and fails the hash against the oracle's
    pure-arithmetic rebuild.

    100-TB posture: the kernel emits (cell, value) pairs that hash-
    partition by cell — overlap resolution is ONE map-side-combinable
    aggregate, never an image-space gather; a million-tile survey
    coadds with shuffle volume = pixels written once, and the per-gx
    rollup keeps the demo output bounded.
    """

    def cells(f: int, _cards: dict, k: np.ndarray) -> dict:
        gy, i = np.divmod(np.arange(k.size, dtype=np.int64), k.shape[1])
        return {"gx": f * _COADD_STRIDE + i, "gy": gy, "k": k.reshape(-1)}

    decoded = fits_tiles(
        spark, _stage_sky_tiles("sky_tiles_fits"), cells,
        "gx LONG, gy LONG, k LONG",
    )
    coadd = decoded.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("k").cast("long").alias("sum_centi"),
    )
    return (
        coadd.groupBy("gx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_obs").cast("long").alias("n_obs"),
            F.sum("sum_centi").cast("long").alias("sum_centi"),
            F.expr(
                "CAST(CAST(sum(sum_centi) AS BIGINT) div "
                "CAST(sum(n_obs) AS BIGINT) AS BIGINT)"
            ).alias("mean_centi"),
        )
        .orderBy("gx")
    )


#: sky_source_extract / sky_wcs_xmatch: detection threshold on the
#: centi-grid (k >= 3240 keeps the top 10% of pixels — "3-sigma over
#: background" for the synthetic flat field).
_SRC_THRESH = 3240


def _label8(mask: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """8-connected blob labels of one tile: every ``mask`` pixel ends
    holding the minimum ``ids`` value of its blob, every other pixel
    int64 max. Each sweep gives each mask pixel the minimum over its
    3×3 neighbourhood. Labels only decrease, and a blob's minimum
    moves one pixel per sweep, so the loop ends after at most the
    blob's diameter plus one confirming sweep: it needs no round bound.
    Blobs never leave their tile, so this is not a pair closure over
    rows (`pipeline.closure.components`)."""
    none = np.iinfo(np.int64).max
    ny, nx = mask.shape
    lab = np.where(mask, ids, none)
    while True:
        pad = np.pad(lab, 1, constant_values=none)
        low = np.minimum.reduce(
            [pad[dy:dy + ny, dx:dx + nx] for dy in range(3) for dx in range(3)]
        )
        low = np.where(mask, low, none)
        if np.array_equal(low, lab):
            return lab
        lab = low


@register(
    "sky_source_extract",
    oracle=f"""
WITH RECURSIVE px AS (
  SELECT * FROM ({fits_pixels_sql(_linear_pixels)}) p
  WHERE k >= {_SRC_THRESH}
),
pairs AS (
  SELECT a.pid AS ia, b.pid AS ib
  FROM px a JOIN px b ON a.f = b.f AND a.pid < b.pid
   AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
),
{components_sql("SELECT pid FROM px")}
SELECT component AS source_id,
       CAST(MIN(f) AS BIGINT) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_pix,
       CAST(SUM(k) AS BIGINT) AS flux_centi,
       CAST(MIN(x) AS BIGINT) AS x_min,
       CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min,
       CAST(MAX(y) AS BIGINT) AS y_max,
       CAST((SUM(x) * 100) // COUNT(*) AS BIGINT) AS cx_centi,
       CAST((SUM(y) * 100) // COUNT(*) AS BIGINT) AS cy_centi
FROM px JOIN comp ON comp.node_id = px.pid
GROUP BY component ORDER BY source_id
""",
)
def sky_source_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source extraction from FITS image tiles — the classic
    catalog-from-image step (SExtractor's core loop): threshold the
    decoded pixels (detection cut k >= _SRC_THRESH on the exact
    centi-grid), label 8-connected blobs per tile, and emit one catalog
    row per source (pixel count, summed flux, bounding box,
    centi-gridded centroid, keyed by the blob's minimum pixel id —
    deterministic, engine-neutral).

    Thresholding and labelling both run inside the `fits_tiles` kernel:
    `_label8`'s min-label sweeps over the tile's detection mask, so the
    kernel emits each detection with its source id and one ``groupBy``
    builds the catalog. The plan is lazy; building it starts no job.
    The DuckDB oracle re-derives the catalog from `fits_pixels_sql`
    with an 8-neighbour pair join and `components_sql`'s reachability
    closure — a different algorithm — so the write -> list -> decode ->
    threshold -> label -> catalog path is hash-checked end to end.

    100-TB posture: tile-per-task; only detections leave the worker
    (~10% here, <<1% on a real sky), already labelled, and the one
    shuffle is the per-source aggregate. Blobs cannot span tiles
    (cross-tile merging is `sky_coadd_tiles`' job first), so labelling
    needs no cross-task step at any survey size.
    """

    def detect(f: int, _cards: dict, k: np.ndarray) -> dict:
        ids = f * _PID_STRIDE + np.arange(k.size, dtype=np.int64)
        mask = k >= _SRC_THRESH
        y, x = np.nonzero(mask)
        return {
            "f": np.full(x.size, f, dtype=np.int64),
            "x": x,
            "y": y,
            "k": k[mask],
            "source_id": _label8(mask, ids.reshape(k.shape))[mask],
        }

    det = fits_tiles(
        spark, _stage_sky_tiles("sky_tiles_fits"), detect,
        "f LONG, x LONG, y LONG, k LONG, source_id LONG",
    )
    return (
        det.groupBy("source_id")
        .agg(
            F.min("f").cast("long").alias("tile"),
            F.count(F.lit(1)).cast("long").alias("n_pix"),
            F.sum("k").cast("long").alias("flux_centi"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
            F.expr("CAST((SUM(x) * 100) div COUNT(*) AS BIGINT)")
            .alias("cx_centi"),
            F.expr("CAST((SUM(y) * 100) div COUNT(*) AS BIGINT)")
            .alias("cy_centi"),
        )
        .orderBy("source_id")
    )


#: sky_wcs_xmatch: micro-degree WCS constants — tile f's reference
#: value advances by stride*CD so overlapping tiles agree EXACTLY on
#: every shared pixel's sky position (integer micro-deg, no float WCS).
_WCS_CD_MICRO = 100          # micro-degrees per pixel
_WCS_RA0_MICRO = 100_000_000   # RA of global pixel x=0
_WCS_DEC0_MICRO = 45_000_000   # Dec of global pixel y=0


def _wcs_cards(f: int) -> dict[str, int]:
    """Integer micro-scaled WCS cards for tile f (CRPIXn are standard
    1-based reference pixels; *M keywords carry micro-deg integers —
    the float-free WCS this synthetic survey uses)."""
    return {
        "CRPIX1": 1,
        "CRPIX2": 1,
        "CRVAL1M": _WCS_RA0_MICRO + f * _COADD_STRIDE * _WCS_CD_MICRO,
        "CRVAL2M": _WCS_DEC0_MICRO,
        "CD1M": _WCS_CD_MICRO,
        "CD2M": _WCS_CD_MICRO,
    }


def _stage_wcs_tiles() -> str:
    """Stage the `_quadratic_pixels` tiles with their `_wcs_cards`."""
    return _stage_sky_tiles(
        "sky_tiles_wcs_fits", cards_fn=_wcs_cards, pixel_fn=_quadratic_pixels
    )


#: sky_wcs_xmatch detection cut (top ~20% of the quadratic field —
#: keeps ~70 both-bright matches across the four overlapping pairs).
_WCS_THRESH = 2880


@register(
    "sky_wcs_xmatch",
    oracle=f"""
WITH sky AS (
  SELECT f,
         {_WCS_RA0_MICRO} + (f * {_COADD_STRIDE} + x) * {_WCS_CD_MICRO}
           AS ra_micro,
         {_WCS_DEC0_MICRO} + y * {_WCS_CD_MICRO} AS dec_micro,
         k
  FROM ({fits_pixels_sql(_quadratic_pixels)}) p
  WHERE k >= {_WCS_THRESH}
)
SELECT a.f AS tile_a, b.f AS tile_b,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       CAST(SUM(a.k) AS BIGINT) AS flux_a_centi,
       CAST(SUM(b.k) AS BIGINT) AS flux_b_centi,
       CAST(SUM(ABS(a.k - b.k)) AS BIGINT) AS flux_absdiff_centi
FROM sky a JOIN sky b
  ON a.ra_micro = b.ra_micro AND a.dec_micro = b.dec_micro AND a.f < b.f
GROUP BY a.f, b.f ORDER BY tile_a, tile_b
""",
)
def sky_wcs_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WCS pixel->sky transform + inter-tile cross-match — the step
    between `sky_source_extract` (detections in PIXEL space) and the
    `xmatch_*` family (science in SKY space): each tile's header
    carries a linear WCS (reference pixel CRPIXn + micro-degree
    CRVAL/CD cards staged by `_wcs_cards`), the decode kernel maps
    every detection to sky coordinates using ITS OWN tile's header,
    and detections from different tiles are cross-matched by exact
    sky position. Because tile reference values advance by stride*CD,
    the 50%-overlapping neighbors must agree exactly on every shared
    pixel's position — a header off by one card, a CRPIX convention
    slip, or a transform applied tile-locally instead of through the
    header breaks the match counts and fails the hash. Matched fluxes
    DIFFER by construction (each tile "observes" its own value), so
    the per-pair |flux| deltas are the two-epoch comparison a
    variability pipeline runs after the positional match.

    100-TB posture: the WCS transform is per-row arithmetic inside
    the `fits_tiles` kernel (zero extra shuffles); the cross-match is
    an equi-join on exact integer sky keys — the binned `xmatch_sphere`
    discipline with the bin equal to the coordinate (a float-WCS
    survey bins to sky cells first, then runs the same join).
    """

    def sky(f: int, cards: dict, k: np.ndarray) -> dict:
        y, x = np.nonzero(k >= _WCS_THRESH)
        crpix1, crpix2 = int(cards["CRPIX1"]), int(cards["CRPIX2"])
        return {
            "f": np.full(x.size, f, dtype=np.int64),
            "ra_micro": int(cards["CRVAL1M"])
            + (x + 1 - crpix1) * int(cards["CD1M"]),
            "dec_micro": int(cards["CRVAL2M"])
            + (y + 1 - crpix2) * int(cards["CD2M"]),
            "k": k[y, x],
        }

    base = _stage_wcs_tiles()
    # The one build-time job: both sides of the self-join read `det`,
    # one of them through a broadcast, so without this checkpoint every
    # tile decodes twice (sf0.01, local[4], build + exec: 0.8-1.1 s with
    # it, 1.5 s without). It holds the detections only: 1,037 rows here,
    # the pixels at or above _WCS_THRESH.
    det = fits_tiles(
        spark, base, sky, "f LONG, ra_micro LONG, dec_micro LONG, k LONG"
    ).localCheckpoint(eager=True)
    a = det.select(
        F.col("f").alias("tile_a"), "ra_micro", "dec_micro",
        F.col("k").alias("ka"),
    )
    b = det.select(
        F.col("f").alias("tile_b"), "ra_micro", "dec_micro",
        F.col("k").alias("kb"),
    )
    return (
        a.join(b, ["ra_micro", "dec_micro"])
        .filter(F.col("tile_a") < F.col("tile_b"))
        .groupBy("tile_a", "tile_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("ka").cast("long").alias("flux_a_centi"),
            F.sum("kb").cast("long").alias("flux_b_centi"),
            F.sum(F.abs(F.col("ka") - F.col("kb"))).cast("long")
            .alias("flux_absdiff_centi"),
        )
        .orderBy("tile_a", "tile_b")
    )


#: mm_image_ahash: block grid (40x30 px tiles -> 8x6 cells of 5x5 px,
#: one bit per cell = a 48-bit fingerprint).
_AHASH_BX, _AHASH_BY = 5, 5
_AHASH_NBX = _IMG_NX // _AHASH_BX  # 8 cells across


@register(
    "mm_image_ahash",
    oracle=f"""
WITH px AS (
  SELECT f, x // {_AHASH_BX} AS bx, y // {_AHASH_BY} AS by, k
  FROM ({fits_pixels_sql(_linear_pixels)}) p
),
cells AS (
  SELECT f, by * {_AHASH_NBX} + bx AS cell, CAST(SUM(k) AS BIGINT) AS cs
  FROM px GROUP BY f, bx, by
),
tot AS (
  SELECT f, CAST(SUM(cs) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS nc
  FROM cells GROUP BY f
),
fp AS (
  SELECT c.f,
         CAST(SUM(CASE WHEN t.nc * c.cs > t.tot
                       THEN CAST(1 AS BIGINT) << CAST(c.cell AS INTEGER)
                       ELSE 0 END) AS BIGINT) AS fingerprint
  FROM cells c JOIN tot t ON c.f = t.f
  GROUP BY c.f
)
SELECT a.f AS tile_a, b.f AS tile_b,
       a.fingerprint AS fp_a, b.fingerprint AS fp_b,
       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT)
         AS hamming
FROM fp a JOIN fp b ON a.f < b.f
ORDER BY tile_a, tile_b
""",
)
def mm_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprint (average-hash) + pairwise Hamming —
    the image-dedup rung of the near-dup ladder (`dedup_simhash` for
    text, this for pixels): each decoded FITS tile mean-pools to an
    8x6 cell grid, each cell contributes one bit (cell above the tile
    mean), and the 48-bit fingerprints compare by Hamming distance —
    the industry-standard cheap screen before an embedding-cosine
    confirm pass.

    Exactness ladder: cell sums are exact centi-integers reduced
    INSIDE the `fits_tiles` kernel (48 rows per tile leave the worker,
    never pixels); the above-mean bit avoids division entirely via the
    integer cross-multiply n_cells·cell_sum > total_sum; fingerprints
    assemble by exact shifts, and Hamming is bit_count(xor) — verified
    to agree operand-for-operand across Spark and DuckDB.

    100-TB posture: fingerprinting is embarrassingly parallel
    (tile-per-task, kernel-side pooling); the tile totals are a window
    over the tile's 48 cells, so each tile decodes once. At survey
    scale the pairwise stage joins on fingerprint BANDS (e.g. 4x12-bit
    sub-keys, the dedup_simhash pigeonhole) instead of this demo's
    all-pairs over five tiles.
    """

    def cellsums(f: int, _cards: dict, k: np.ndarray) -> dict:
        ny, nx = k.shape
        nby, nbx = ny // _AHASH_BY, nx // _AHASH_BX
        pooled = k.reshape(nby, _AHASH_BY, nbx, _AHASH_BX).sum(axis=(1, 3))
        return {
            "f": np.full(nby * nbx, f, dtype=np.int64),
            "cell": np.arange(nby * nbx, dtype=np.int64),
            "cs": pooled.reshape(-1),
        }

    cells = fits_tiles(
        spark, _stage_sky_tiles("sky_tiles_fits"), cellsums,
        "f LONG, cell LONG, cs LONG",
    )
    tile = Window.partitionBy("f")
    fp = (
        cells.select(
            "f", "cell", "cs",
            F.sum("cs").over(tile).cast("long").alias("tot"),
            F.count(F.lit(1)).over(tile).cast("long").alias("nc"),
        )
        .groupBy("f")
        .agg(
            F.sum(
                F.when(
                    F.col("nc") * F.col("cs") > F.col("tot"),
                    F.expr("shiftleft(CAST(1 AS BIGINT),"
                           " CAST(cell AS INT))"),
                ).otherwise(F.lit(0))
            ).cast("long").alias("fingerprint")
        )
    )
    a = fp.select(F.col("f").alias("tile_a"), F.col("fingerprint").alias("fp_a"))
    b = fp.select(F.col("f").alias("tile_b"), F.col("fingerprint").alias("fp_b"))
    return (
        a.join(b, F.col("tile_a") < F.col("tile_b"))
        .select(
            "tile_a", "tile_b", "fp_a", "fp_b",
            F.expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)")
            .alias("hamming"),
        )
        .orderBy("tile_a", "tile_b")
    )


#: aperture photometry: aperture radius² and annulus bounds (in px²),
#: and the number of brightest-pixel centers measured per tile.
_AP_R2 = 9          # aperture: d² <= 9  (r = 3 px)
_AP_ANN_LO2 = 9     # annulus: 9 < d² <= 25  (r = 3..5 px)
_AP_ANN_HI2 = 25
_AP_CENTERS = 5


@register(
    "sky_aperture_photometry",
    oracle=f"""
WITH px AS ({fits_pixels_sql(_linear_pixels)}),
centers AS (
  SELECT f, x AS cx, y AS cy, pid
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY f
                                     ORDER BY k DESC, pid) AS rn
        FROM px) z
  WHERE rn <= {_AP_CENTERS}
),
member AS (
  SELECT c.f, c.pid AS center_id, c.cx, c.cy, p.k,
         (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d2
  FROM centers c JOIN px p ON p.f = c.f
  WHERE (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
          <= {_AP_ANN_HI2}
),
sums AS (
  SELECT f, center_id, cx, cy,
         CAST(SUM(CASE WHEN d2 <= {_AP_R2} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ap,
         CAST(SUM(CASE WHEN d2 <= {_AP_R2} THEN k ELSE 0 END)
              AS BIGINT) AS ap_sum,
         CAST(SUM(CASE WHEN d2 > {_AP_ANN_LO2} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ann,
         CAST(SUM(CASE WHEN d2 > {_AP_ANN_LO2} THEN k ELSE 0 END)
              AS BIGINT) AS ann_sum
  FROM member GROUP BY f, center_id, cx, cy
)
SELECT CAST(f AS BIGINT) AS tile, center_id,
       CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
       n_ap, ap_sum, n_ann,
       ann_sum // n_ann AS bkg_mean_centi,
       ap_sum - n_ap * (ann_sum // n_ann) AS net_flux_centi
FROM sums WHERE n_ann > 0
ORDER BY tile, center_id
""",
)
def sky_aperture_photometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aperture photometry over FITS tiles — the flux MEASUREMENT step
    between `sky_source_extract` (which sums only member pixels above
    threshold) and the science catalog: around each target (here the
    _AP_CENTERS brightest pixels per tile, deterministically
    tie-broken), sum ALL pixel flux inside a fixed circular aperture
    (d² <= 9) and subtract the local background estimated from the
    surrounding annulus (9 < d² <= 25) — net = ap_sum − n_ap·bkg_mean,
    the classic SExtractor/photutils recipe with an integer-exact mean
    (truncating division on positive sums, identical in both engines).

    Per-tile measurement inside the `fits_tiles` kernel: the tile's
    targets are picked by one lexsort (k descending, pixel id
    ascending), and one (targets × pixels) integer d² array gives every
    aperture and annulus sum — apertures never span tiles (edge
    apertures clip at the tile boundary; the coadd kernel is the
    cross-tile answer). The DuckDB oracle rebuilds everything with a
    window, a join and an aggregate over `fits_pixels_sql`, so decode,
    target selection, membership and background subtraction are all
    hash-checked against a relational form.

    100-TB posture: tile-per-task photometry; one row per target leaves
    the worker, so the plan has no pixel shuffle and no join, and the
    final sort sees only the catalog. A dense-target survey chunks the
    target list inside the kernel — same numbers.
    """

    def photometry(f: int, _cards: dict, k: np.ndarray) -> dict:
        flat = k.reshape(-1)
        idx = np.arange(flat.size, dtype=np.int64)
        x, y = idx % k.shape[1], idx // k.shape[1]
        top = np.lexsort((idx, -flat))[:_AP_CENTERS]
        d2 = (x - x[top, None]) ** 2 + (y - y[top, None]) ** 2
        ap = d2 <= _AP_R2
        ann = (d2 > _AP_ANN_LO2) & (d2 <= _AP_ANN_HI2)
        n_ap, n_ann = ap.sum(axis=1), ann.sum(axis=1)
        ap_sum, ann_sum = (ap * flat).sum(axis=1), (ann * flat).sum(axis=1)
        bkg = ann_sum // np.maximum(n_ann, 1)
        cols = {
            "tile": np.full(top.size, f, dtype=np.int64),
            "center_id": f * _PID_STRIDE + top,
            "cx": x[top],
            "cy": y[top],
            "n_ap": n_ap,
            "ap_sum": ap_sum,
            "n_ann": n_ann,
            "bkg_mean_centi": bkg,
            "net_flux_centi": ap_sum - n_ap * bkg,
        }
        return {c: v[n_ann > 0] for c, v in cols.items()}

    return fits_tiles(
        spark, _stage_sky_tiles("sky_tiles_fits"), photometry,
        "tile LONG, center_id LONG, cx LONG, cy LONG, n_ap LONG, "
        "ap_sum LONG, n_ann LONG, bkg_mean_centi LONG, "
        "net_flux_centi LONG",
    ).orderBy("tile", "center_id")


#: difference imaging: |science - reference| detection threshold on
#: the centi grid.
_DIFF_THRESH = 3000


@register(
    "sky_diff_image_transients",
    oracle=f"""
WITH ref AS ({fits_pixels_sql(_linear_pixels)}),
sci AS ({fits_pixels_sql(_quadratic_pixels)}),
d AS (
  SELECT r.f, r.x, r.y, s.k - r.k AS dk
  FROM ref r JOIN sci s ON s.f = r.f AND s.x = r.x AND s.y = r.y
),
det AS (SELECT * FROM d WHERE abs(dk) >= {_DIFF_THRESH}),
top AS (
  SELECT f, x, y, dk,
         ROW_NUMBER() OVER (PARTITION BY f
                            ORDER BY abs(dk) DESC, y, x) AS rn
  FROM det
)
SELECT CAST(d.f AS BIGINT) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN d.dk >= {_DIFF_THRESH} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_brighter,
       CAST(SUM(CASE WHEN d.dk <= -{_DIFF_THRESH} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fainter,
       CAST(SUM(abs(d.dk)) AS BIGINT) AS sum_absdiff_centi,
       CAST(MAX(t.x) AS BIGINT) AS top_x,
       CAST(MAX(t.y) AS BIGINT) AS top_y,
       CAST(MAX(t.dk) AS BIGINT) AS top_dk_centi
FROM det d JOIN top t ON t.f = d.f AND t.rn = 1
GROUP BY d.f ORDER BY tile
""",
)
def sky_diff_image_transients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-imaging transient detection — the supernova/variable
    discovery step: subtract the REFERENCE tile (the `scan_fits_image`
    linear field, standing in for a deep template/coadd) from the
    SCIENCE epoch (the `sky_wcs_xmatch` quadratic field) pixel by
    pixel on the shared grid, threshold |science − reference|, and
    report per-tile transient counts split by sign (brighteners vs
    faders), total absolute residual, and the single strongest
    transient (tie-broken argmax — the alert a broker would publish).

    Both epochs decode through the REAL FITS path (two `fits_tiles`
    scans) and align by the exact integer (tile, x, y) key — the
    equi-join that difference imaging becomes once frames share a
    pixel grid (production warps to the grid via the WCS first;
    `sky_wcs_xmatch` covers that transform). Every quantity is an
    exact centi-integer, so the DuckDB rebuild from the two
    closed-form fields hash-checks decode, alignment, subtraction,
    thresholding and the argmax end to end.

    100-TB posture: the pixel join co-partitions both scans on the
    tile key (file-per-task on each side); only detections (~3% here,
    ppm on real sky) survive the threshold into ONE per-tile aggregate,
    whose argmax is a ``max`` over the struct (|dk|, −y, −x, dk, x, y)
    — the window's tie-break without a window or a join back.
    """
    ref = fits_tiles(
        spark, _stage_sky_tiles("sky_tiles_fits"), _pixel_rows, _PIXEL_DDL
    )
    sci = fits_tiles(
        spark, _stage_wcs_tiles(), _pixel_rows, _PIXEL_DDL
    ).select("f", "x", "y", F.col("k").alias("ks"))
    det = (
        ref.join(sci, ["f", "x", "y"])
        .select("f", "x", "y", (F.col("ks") - F.col("k")).alias("dk"))
        .filter(F.abs(F.col("dk")) >= _DIFF_THRESH)
    )
    top = F.max(
        F.struct(
            F.abs(F.col("dk")).alias("adk"), (-F.col("y")).alias("ny"),
            (-F.col("x")).alias("nx"), "dk", "x", "y",
        )
    )
    return (
        det.groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_px"),
            F.sum(F.when(F.col("dk") >= _DIFF_THRESH, 1).otherwise(0))
            .cast("long").alias("n_brighter"),
            F.sum(F.when(F.col("dk") <= -_DIFF_THRESH, 1).otherwise(0))
            .cast("long").alias("n_fainter"),
            F.sum(F.abs(F.col("dk"))).cast("long")
            .alias("sum_absdiff_centi"),
            top.alias("top"),
        )
        .select(
            F.col("f").cast("long").alias("tile"),
            "n_px", "n_brighter", "n_fainter", "sum_absdiff_centi",
            F.col("top.x").cast("long").alias("top_x"),
            F.col("top.y").cast("long").alias("top_y"),
            F.col("top.dk").cast("long").alias("top_dk_centi"),
        )
        .orderBy("tile")
    )


@register(
    "sky_tile_overlap_graph",
    oracle=f"""
WITH foot AS (
  SELECT f.f AS tile,
         {_WCS_RA0_MICRO} + f.f * {_COADD_STRIDE} * {_WCS_CD_MICRO}
           AS ra_lo,
         {_WCS_RA0_MICRO} + (f.f * {_COADD_STRIDE} + {_IMG_NX})
           * {_WCS_CD_MICRO} AS ra_hi
  FROM range(0, {_IMG_TILES}) f(f)
)
SELECT a.tile AS tile_a, b.tile AS tile_b,
       CAST(GREATEST(a.ra_lo, b.ra_lo) AS BIGINT) AS ovl_lo_micro,
       CAST(LEAST(a.ra_hi, b.ra_hi) AS BIGINT) AS ovl_hi_micro,
       CAST((LEAST(a.ra_hi, b.ra_hi) - GREATEST(a.ra_lo, b.ra_lo))
            // {_WCS_CD_MICRO} AS BIGINT) AS overlap_px,
       (LEAST(a.ra_hi, b.ra_hi) - GREATEST(a.ra_lo, b.ra_lo)) * 1000000
         // ({_IMG_NX} * {_WCS_CD_MICRO}) AS overlap_frac_micro
FROM foot a JOIN foot b
  ON a.tile < b.tile
 AND a.ra_lo < b.ra_hi AND b.ra_lo < a.ra_hi
ORDER BY tile_a, tile_b
""",
)
def sky_tile_overlap_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-footprint overlap graph from FITS headers — the
    coadd/mosaic PLANNING step (`sky_coadd_tiles` consumes exactly
    these overlaps): a header-only scan (no pixel decode — the
    `scan_fits_header` cost model) reconstructs each tile's sky
    footprint from its WCS cards (CRPIXn, micro-degree CRVAL/CD,
    NAXIS1), then a 1-D interval-overlap join pairs tiles whose RA
    extents intersect, reporting the shared sky interval, its width in
    pixels, and the overlap fraction — the table a survey uses to
    decide which tile pairs co-add, cross-calibrate
    (`sky_wcs_xmatch`), or difference (`sky_diff_image_transients`).

    Exactness: footprints are pure integer micro-degree arithmetic
    from header cards; the overlap interval, pixel width, and fraction
    are integer min/max/divisions. The oracle recomputes the
    footprints from the staging constants — a header writer/parser
    drift on ANY card (CRPIX convention, CD sign, NAXIS) breaks it.

    100-TB posture: header parsing is O(header blocks) per file inside
    the `fits_scan` kernel (payloads never decode); the interval join
    is the `join_interval_overlap` binned 1-D shape — at survey scale
    tiles bucket by RA cell and the pair space is bounded by sky
    geometry, never tile count².
    """

    def footprints(name: str, buf: bytes) -> Iterator[dict]:
        for cards in parse_fits_headers(buf):
            if "CRVAL1M" in cards:
                cd1m = int(cards["CD1M"])
                lo = int(cards["CRVAL1M"]) + (1 - int(cards["CRPIX1"])) * cd1m
                yield {
                    "tile": [_tile_of(name)],
                    "ra_lo": [lo],
                    "ra_hi": [lo + int(cards["NAXIS1"]) * cd1m],
                }

    base = _stage_wcs_tiles()
    # The one build-time job: both sides of the self-join read `foot`,
    # one of them through a broadcast, so without this checkpoint every
    # header is parsed twice (sf0.01, local[4], build + exec: 0.7-0.8 s
    # with it, 1.35 s without). It holds one row per tile.
    foot = fits_scan(
        spark, base, footprints, "tile LONG, ra_lo LONG, ra_hi LONG"
    ).localCheckpoint(eager=True)
    a = foot.select(
        F.col("tile").alias("tile_a"),
        F.col("ra_lo").alias("a_lo"), F.col("ra_hi").alias("a_hi"),
    )
    b = foot.select(
        F.col("tile").alias("tile_b"),
        F.col("ra_lo").alias("b_lo"), F.col("ra_hi").alias("b_hi"),
    )
    ovl_lo = F.greatest("a_lo", "b_lo")
    ovl_hi = F.least("a_hi", "b_hi")
    return (
        a.join(
            b,
            (F.col("tile_a") < F.col("tile_b"))
            & (F.col("a_lo") < F.col("b_hi"))
            & (F.col("b_lo") < F.col("a_hi")),
        )
        .select(
            "tile_a", "tile_b",
            ovl_lo.cast("long").alias("ovl_lo_micro"),
            ovl_hi.cast("long").alias("ovl_hi_micro"),
            F.expr(
                f"(least(a_hi, b_hi) - greatest(a_lo, b_lo))"
                f" div {_WCS_CD_MICRO}"
            ).cast("long").alias("overlap_px"),
            F.expr(
                f"(least(a_hi, b_hi) - greatest(a_lo, b_lo)) * 1000000"
                f" div ({_IMG_NX} * {_WCS_CD_MICRO})"
            ).alias("overlap_frac_micro"),
        )
        .orderBy("tile_a", "tile_b")
    )
