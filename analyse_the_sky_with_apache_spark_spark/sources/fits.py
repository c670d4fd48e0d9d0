"""FITS source — the astronomy archive format, parsed in pure Python.

FITS (Flexible Image Transport System, the sky-survey interchange format
standardized by the IAU; NASA's FITS Standard 4.0 is public) is a
sequence of HDUs (Header-Data Units). Each HDU is a header of 80-byte
ASCII "cards" padded to 2880-byte blocks, followed by a data section
also padded to 2880-byte blocks. Catalog data ships as a BINTABLE
extension: ``NAXIS1`` bytes per row x ``NAXIS2`` rows of big-endian
fields described by ``TTYPEn``/``TFORMn`` cards.

No FITS library exists in this sandbox (astropy absent), and none is
needed: headers are fixed-width ASCII and BINTABLE payloads decode with
one ``numpy.frombuffer`` big-endian structured dtype per file. The scan
is the `scan_binaryfile` + `mapInPandas` composition:

- ``binaryFile`` lists the archive (one row per file, opaque BINARY
  payload) — at 100 TB the listing distributes across executors and
  ``pathGlobFilter`` prunes inside the listing;
- an Arrow-batched ``mapInPandas`` kernel walks each file's HDUs and
  yields the BINTABLE rows — one task per file (FITS files are not
  splittable mid-HDU, so file-per-task IS the parallel unit, exactly
  like the reference archives ship them: many ~GB tiles);
- the fixture files are AUTHORED from the ``nation`` table by a
  pure-Python writer, so the DuckDB oracle reproduces every value from
  SQL alone and the whole write -> list -> parse path is hash-checked.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..pipeline.closure import components, components_sql
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


def _stage_nation_fits(spark: SparkSession, sf_dir: str) -> str:
    """Author one FITS file per region from the ``nation`` table
    (25 rows total — the scan_binaryfile bounded-staging pattern)."""
    base = os.path.join(_SCRATCH, "nation_fits")
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
        path = os.path.join(base, f"region_{rk}.fits")
        if not os.path.exists(path):
            write_fits_bintable(
                path,
                ["N_NATIONKEY", "N_NAME", "N_REGIONKEY"],
                ["J", "25A", "J"],
                data,
            )
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
    BINTABLE HDU with the pure-Python parser inside an Arrow-batched
    ``mapInPandas`` kernel, and hash-check the round-trip against the
    relational source. File-per-task is the FITS parallel unit (HDUs
    are not splittable); at 100 TB the same plan reads a million-tile
    archive with the listing distributed and payload decode in
    executor-side Python at one ``numpy.frombuffer`` per file.
    """
    base = _stage_nation_fits(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for buf in pdf["content"]:
                for _cards, table in parse_fits_bintables(bytes(buf)):
                    yield pd.DataFrame(
                        {
                            "n_nationkey": table["N_NATIONKEY"].astype("int32"),
                            "n_name": table["N_NAME"],
                            "n_regionkey": table["N_REGIONKEY"].astype("int32"),
                        }
                    )

    return (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("content")
        .mapInPandas(
            decode, "n_nationkey INT, n_name STRING, n_regionkey INT"
        )
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
    base = _stage_nation_fits(spark, sf_dir)

    def headers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                for cards in parse_fits_headers(bytes(buf)):
                    if cards.get("XTENSION", "") != "BINTABLE":
                        continue
                    yield pd.DataFrame(
                        {
                            "fname": [path.rsplit("/", 1)[-1]],
                            "row_bytes": [int(cards["NAXIS1"])],
                            "n_rows": [int(cards["NAXIS2"])],
                            "n_fields": [int(cards["TFIELDS"])],
                        }
                    )

    return (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(
            headers,
            "fname STRING, row_bytes LONG, n_rows LONG, n_fields LONG",
        )
        .orderBy("fname")
    )


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


#: scan_fits_image: tile geometry and the pixel formula — pixel (i, j)
#: of tile f holds ((f*1000003 + j*NX + i) * 7919 % 3600) / 100.0,
#: exactly representable to recover the centi-integer from float32.
_IMG_NX, _IMG_NY, _IMG_TILES = 40, 30, 5


def _linear_pixels(f: int, idx: np.ndarray) -> np.ndarray:
    """The scan_fits_image / sky_coadd_tiles pixel formula."""
    return (f * 1_000_003 + idx) * 7919 % 3600


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
WITH px AS (
  SELECT f.f, ((f.f * 1000003 + t.i) * 7919) % 3600 AS k
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
)
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
    float32 tiles decode inside an Arrow-batched ``mapInPandas``
    kernel (one big-endian ``numpy.frombuffer`` + reshape per file)
    into per-tile pixel statistics. Pixels are authored from integer
    arithmetic on a centi-grid, so each float32 pixel recovers its
    exact integer (f32 eps ~1e-4 at this range, far under the 5e-3
    recovery threshold) and the DuckDB oracle reproduces every
    statistic from ``range()`` alone — write, byte order, HDU walk and
    decode all hash-checked with zero image library.

    100-TB posture: tile-per-task (images are one HDU, not
    splittable); per-tile reductions happen INSIDE the kernel so only
    one stats row per tile reaches the engine — a million-tile survey
    shuffles a million rows, not pixels.
    """
    base = _stage_sky_tiles("sky_tiles_fits")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                for _cards, px in parse_fits_images(bytes(buf)):
                    centi = np.floor(
                        px.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    yield pd.DataFrame(
                        {
                            "fname": [path.rsplit("/", 1)[-1]],
                            "n_pix": [int(centi.size)],
                            "sum_centi": [int(centi.sum())],
                            "min_centi": [int(centi.min())],
                            "max_centi": [int(centi.max())],
                        }
                    )

    return (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(
            stats,
            "fname STRING, n_pix LONG, sum_centi LONG, "
            "min_centi LONG, max_centi LONG",
        )
        .orderBy("fname")
    )


#: sky_coadd_tiles: tile stride in global-x pixels (40-wide tiles every
#: 20 px -> 50% overlap with each neighbor, the mosaic shape).
_COADD_STRIDE = 20


@register(
    "sky_coadd_tiles",
    oracle=f"""
WITH px AS (
  SELECT f.f,
         t.i % {_IMG_NX} AS i,
         t.i // {_IMG_NX} AS j,
         ((f.f * 1000003 + t.i) * 7919) % 3600 AS k
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
),
cells AS (
  SELECT f * {_COADD_STRIDE} + i AS gx, j AS gy, k FROM px
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
    base = _stage_sky_tiles("sky_tiles_fits")

    def cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                f = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for _cards, px in parse_fits_images(bytes(buf)):
                    ny, nx = px.shape
                    centi = np.floor(
                        px.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    jj, ii = np.divmod(np.arange(nx * ny), nx)
                    yield pd.DataFrame(
                        {
                            "gx": f * _COADD_STRIDE + ii,
                            "gy": jj,
                            "k": centi.reshape(-1),
                        }
                    )

    decoded = (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(cells, "gx LONG, gy LONG, k LONG")
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


@register(
    "sky_source_extract",
    oracle=f"""
WITH RECURSIVE px AS (
  SELECT f.f, t.i % {_IMG_NX} AS x, t.i // {_IMG_NX} AS y,
         ((f.f * 1000003 + t.i) * 7919) % 3600 AS k,
         f.f * 10000 + t.i AS pid
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
  WHERE ((f.f * 1000003 + t.i) * 7919) % 3600 >= {_SRC_THRESH}
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
    catalog-from-image step (SExtractor's core loop) as relational
    algebra: threshold the decoded pixels (detection cut k >=
    _SRC_THRESH on the exact centi-grid), label 8-connected components
    per tile, and emit one catalog row per source (pixel count, summed
    flux, bounding box, centi-gridded centroid, keyed by the
    component's minimum pixel id — deterministic, engine-neutral).

    Connectivity is built WITHOUT a band join: each bright pixel
    explodes its 4 forward neighbor coordinates (one per 8-neighbor
    pair) and equi-joins back on the exact (tile, x, y) key — the
    binned-xmatch discipline where the bin IS the coordinate.
    Component labels spread by `components`' min-label propagation
    (rounds bounded by blob diameter — scattered detections converge
    in a few rounds; a survey-scale field with giant segments would
    swap in the `graph_components_twostar` O(log² n) kernel, same edge
    input). The DuckDB oracle re-derives the same catalog from pure
    range() arithmetic with `components_sql`'s reachability closure,
    so the write -> list -> decode -> threshold -> CC -> catalog path
    is hash-checked end to end.

    100-TB posture: thresholding happens INSIDE the Arrow decode
    kernel (only detections leave the worker — ~10% here, <<1% on a
    real sky); the adjacency join and per-component aggregate key on
    (tile, x, y)/pid, so a million-tile survey shuffles detections,
    never pixels; labels stay tile-local (components cannot span
    tiles; cross-tile merging is `sky_coadd_tiles`' job first).
    """
    base = _stage_sky_tiles("sky_tiles_fits")

    def bright(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                f = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for _cards, px in parse_fits_images(bytes(buf)):
                    ny, nx = px.shape
                    centi = np.floor(
                        px.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    flat = centi.reshape(-1)
                    idx = np.nonzero(flat >= _SRC_THRESH)[0]
                    yield pd.DataFrame(
                        {
                            "f": np.full(idx.size, f, dtype=np.int64),
                            "x": idx % nx,
                            "y": idx // nx,
                            "k": flat[idx],
                            "pid": f * 10000 + idx,
                        }
                    )

    px = (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(bright, "f LONG, x LONG, y LONG, k LONG, pid LONG")
        .localCheckpoint(eager=True)
    )
    # the 4 forward offsets name each 8-neighbor pair once; `components`
    # walks it both ways round
    offsets = [(0, 1), (1, -1), (1, 0), (1, 1)]
    nb = px.select(
        "f",
        F.col("pid").alias("ia"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("x") + F.lit(dx)).alias("nx"),
                    (F.col("y") + F.lit(dy)).alias("ny"),
                )
                for dx, dy in offsets
            ])
        ).alias("n"),
    ).select("f", "ia", F.col("n.nx").alias("nx"), F.col("n.ny").alias("ny"))
    pairs = nb.join(
        px.select(
            "f", F.col("x").alias("nx"), F.col("y").alias("ny"),
            F.col("pid").alias("ib"),
        ),
        ["f", "nx", "ny"],
    )
    labels = components(px.select(F.col("pid").alias("node_id")), pairs)

    return (
        px.join(labels, px.pid == labels.node_id)
        .groupBy(F.col("component").alias("source_id"))
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


#: sky_wcs_xmatch detection cut (top ~20% of the quadratic field —
#: keeps ~70 both-bright matches across the four overlapping pairs).
_WCS_THRESH = 2880


@register(
    "sky_wcs_xmatch",
    oracle=f"""
WITH sky AS (
  SELECT f.f,
         {_WCS_RA0_MICRO} + (f.f * {_COADD_STRIDE} + t.i % {_IMG_NX})
           * {_WCS_CD_MICRO} AS ra_micro,
         {_WCS_DEC0_MICRO} + (t.i // {_IMG_NX}) * {_WCS_CD_MICRO}
           AS dec_micro,
         ((f.f * 1000003 + t.i) * (f.f * 1000003 + t.i) + 17) % 3600 AS k
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
  WHERE ((f.f * 1000003 + t.i) * (f.f * 1000003 + t.i) + 17) % 3600
          >= {_WCS_THRESH}
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
    the Arrow decode kernel (zero extra shuffles); the cross-match is
    an equi-join on exact integer sky keys — the binned `xmatch_sphere`
    discipline with the bin equal to the coordinate (a float-WCS
    survey bins to sky cells first, then runs the same join).
    """
    base = _stage_sky_tiles(
        "sky_tiles_wcs_fits", cards_fn=_wcs_cards,
        pixel_fn=_quadratic_pixels,
    )

    def sky(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                f = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for cards, px in parse_fits_images(bytes(buf)):
                    ny, nx = px.shape
                    crpix1, crpix2 = int(cards["CRPIX1"]), int(cards["CRPIX2"])
                    crval1m, crval2m = (
                        int(cards["CRVAL1M"]), int(cards["CRVAL2M"]),
                    )
                    cd1m, cd2m = int(cards["CD1M"]), int(cards["CD2M"])
                    centi = np.floor(
                        px.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    flat = centi.reshape(-1)
                    idx = np.nonzero(flat >= _WCS_THRESH)[0]
                    x, y = idx % nx, idx // nx
                    yield pd.DataFrame(
                        {
                            "f": np.full(idx.size, f, dtype=np.int64),
                            "ra_micro": crval1m + (x + 1 - crpix1) * cd1m,
                            "dec_micro": crval2m + (y + 1 - crpix2) * cd2m,
                            "k": flat[idx],
                        }
                    )

    det = (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(sky, "f LONG, ra_micro LONG, dec_micro LONG, k LONG")
        .localCheckpoint(eager=True)
    )
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
  SELECT f.f,
         (t.i % {_IMG_NX}) // {_AHASH_BX} AS bx,
         (t.i // {_IMG_NX}) // {_AHASH_BY} AS by,
         ((f.f * 1000003 + t.i) * 7919) % 3600 AS k
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
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
    INSIDE the Arrow decode kernel (48 rows per tile leave the worker,
    never pixels); the above-mean bit avoids division entirely via the
    integer cross-multiply n_cells·cell_sum > total_sum; fingerprints
    assemble by exact shifts, and Hamming is bit_count(xor) — verified
    to agree operand-for-operand across Spark and DuckDB.

    100-TB posture: fingerprinting is embarrassingly parallel
    (tile-per-task, kernel-side pooling); at survey scale the pairwise
    stage joins on fingerprint BANDS (e.g. 4x12-bit sub-keys, the
    dedup_simhash pigeonhole) instead of this demo's all-pairs over
    five tiles.
    """
    base = _stage_sky_tiles("sky_tiles_fits")

    def cellsums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                f = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for _cards, px in parse_fits_images(bytes(buf)):
                    centi = np.floor(
                        px.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    ny, nx = centi.shape
                    nby, nbx = ny // _AHASH_BY, nx // _AHASH_BX
                    pooled = centi.reshape(
                        nby, _AHASH_BY, nbx, _AHASH_BX
                    ).sum(axis=(1, 3))
                    yield pd.DataFrame(
                        {
                            "f": np.full(nby * nbx, f, dtype=np.int64),
                            "cell": np.arange(nby * nbx, dtype=np.int64),
                            "cs": pooled.reshape(-1),
                        }
                    )

    cells = (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(cellsums, "f LONG, cell LONG, cs LONG")
    )
    tot = cells.groupBy("f").agg(
        F.sum("cs").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("nc"),
    )
    fp = (
        cells.join(tot, "f")
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
WITH px AS (
  SELECT f.f, t.i % {_IMG_NX} AS x, t.i // {_IMG_NX} AS y,
         ((f.f * 1000003 + t.i) * 7919) % 3600 AS k,
         f.f * 10000 + t.i AS pid
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
),
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

    Per-tile measurement: targets broadcast against the tile's decoded
    pixels and join on the tile key with the exact integer d² predicate
    — apertures never span tiles (edge apertures clip at the tile
    boundary; the coadd kernel is the cross-tile answer). The DuckDB
    oracle rebuilds everything from range() arithmetic, so decode,
    target selection, membership and background subtraction are all
    hash-checked.

    100-TB posture: pixels stay executor-side (the decode kernel
    emits them partition-local); the target list is catalog-sized and
    broadcasts; one shuffle on (tile, center) for the sums. A dense-
    target survey switches to per-tile kernel-side photometry (sum
    inside the Arrow kernel per target list chunk) — same numbers,
    zero pixel shuffle.
    """
    base = _stage_sky_tiles("sky_tiles_fits")

    def pixels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                f = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for _cards, arr in parse_fits_images(bytes(buf)):
                    ny, nx = arr.shape
                    centi = np.floor(
                        arr.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    idx = np.arange(nx * ny, dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "f": np.full(idx.size, f, dtype=np.int64),
                            "x": idx % nx,
                            "y": idx // nx,
                            "k": centi.reshape(-1),
                            "pid": f * 10000 + idx,
                        }
                    )

    px = (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(pixels, "f LONG, x LONG, y LONG, k LONG, pid LONG")
        .localCheckpoint(eager=True)
    )
    centers = (
        px.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("f").orderBy(F.col("k").desc(), "pid")
            ),
        )
        .filter(F.col("rn") <= _AP_CENTERS)
        .select(
            "f", F.col("x").alias("cx"), F.col("y").alias("cy"),
            F.col("pid").alias("center_id"),
        )
    )
    d2 = (
        (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
        + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))
    )
    member = (
        F.broadcast(centers).join(px, "f")
        .filter(d2 <= _AP_ANN_HI2)
        .select("f", "center_id", "cx", "cy", "k", d2.alias("d2"))
    )
    sums = member.groupBy("f", "center_id", "cx", "cy").agg(
        F.sum(F.when(F.col("d2") <= _AP_R2, 1).otherwise(0))
        .cast("long").alias("n_ap"),
        F.sum(F.when(F.col("d2") <= _AP_R2, F.col("k")).otherwise(0))
        .cast("long").alias("ap_sum"),
        F.sum(F.when(F.col("d2") > _AP_ANN_LO2, 1).otherwise(0))
        .cast("long").alias("n_ann"),
        F.sum(F.when(F.col("d2") > _AP_ANN_LO2, F.col("k")).otherwise(0))
        .cast("long").alias("ann_sum"),
    )
    bkg = F.expr("ann_sum div n_ann")
    return (
        sums.filter(F.col("n_ann") > 0)
        .select(
            F.col("f").cast("long").alias("tile"),
            "center_id",
            F.col("cx").cast("long").alias("cx"),
            F.col("cy").cast("long").alias("cy"),
            "n_ap", "ap_sum", "n_ann",
            bkg.alias("bkg_mean_centi"),
            (F.col("ap_sum") - F.col("n_ap") * bkg)
            .alias("net_flux_centi"),
        )
        .orderBy("tile", "center_id")
    )


#: difference imaging: |science - reference| detection threshold on
#: the centi grid.
_DIFF_THRESH = 3000


@register(
    "sky_diff_image_transients",
    oracle=f"""
WITH ref AS (
  SELECT f.f, t.i % {_IMG_NX} AS x, t.i // {_IMG_NX} AS y,
         ((f.f * 1000003 + t.i) * 7919) % 3600 AS k
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
),
sci AS (
  SELECT f.f, t.i % {_IMG_NX} AS x, t.i // {_IMG_NX} AS y,
         ((f.f * 1000003 + t.i) * (f.f * 1000003 + t.i) + 17) % 3600 AS k
  FROM range(0, {_IMG_TILES}) f(f)
  CROSS JOIN range(0, {_IMG_NX * _IMG_NY}) t(i)
),
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

    Both epochs decode through the REAL FITS path (two binaryFile
    scans, one Arrow kernel each) and align by the exact integer
    (tile, x, y) key — the equi-join that difference imaging becomes
    once frames share a pixel grid (production warps to the grid via
    the WCS first; `sky_wcs_xmatch` covers that transform). Every
    quantity is an exact centi-integer, so the DuckDB rebuild from the
    two closed-form fields hash-checks decode, alignment, subtraction,
    thresholding and the argmax end to end.

    100-TB posture: the pixel join co-partitions both scans on the
    tile key (file-per-task on each side); only detections (~3% here,
    ppm on real sky) survive the threshold into the per-tile rollup,
    and the argmax is one tie-broken window over detections.
    """
    ref_base = _stage_sky_tiles("sky_tiles_fits")
    sci_base = _stage_sky_tiles(
        "sky_tiles_wcs_fits", cards_fn=_wcs_cards,
        pixel_fn=_quadratic_pixels,
    )

    def pixels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                f = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for _cards, arr in parse_fits_images(bytes(buf)):
                    ny, nx = arr.shape
                    centi = np.floor(
                        arr.astype(np.float64) * 100.0 + 0.5
                    ).astype(np.int64)
                    idx = np.arange(nx * ny, dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "f": np.full(idx.size, f, dtype=np.int64),
                            "x": idx % nx,
                            "y": idx // nx,
                            "k": centi.reshape(-1),
                        }
                    )

    def decode(base: str) -> DataFrame:
        return (
            spark.read.format("binaryFile")
            .load(f"{base}/*.fits")
            .select("path", "content")
            .mapInPandas(pixels, "f LONG, x LONG, y LONG, k LONG")
        )

    ref = decode(ref_base)
    sci = decode(sci_base).select(
        "f", "x", "y", F.col("k").alias("ks")
    )
    det = (
        ref.join(sci, ["f", "x", "y"])
        .select("f", "x", "y", (F.col("ks") - F.col("k")).alias("dk"))
        .filter(F.abs(F.col("dk")) >= _DIFF_THRESH)
        .localCheckpoint(eager=True)
    )
    top = (
        det.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("f").orderBy(
                    F.abs(F.col("dk")).desc(), "y", "x"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("f").alias("tf"), F.col("x").alias("top_x"),
            F.col("y").alias("top_y"), F.col("dk").alias("top_dk"),
        )
    )
    return (
        det.join(F.broadcast(top), det["f"] == top["tf"])
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_px"),
            F.sum(F.when(F.col("dk") >= _DIFF_THRESH, 1).otherwise(0))
            .cast("long").alias("n_brighter"),
            F.sum(F.when(F.col("dk") <= -_DIFF_THRESH, 1).otherwise(0))
            .cast("long").alias("n_fainter"),
            F.sum(F.abs(F.col("dk"))).cast("long")
            .alias("sum_absdiff_centi"),
            F.max("top_x").cast("long").alias("top_x"),
            F.max("top_y").cast("long").alias("top_y"),
            F.max("top_dk").cast("long").alias("top_dk_centi"),
        )
        .select(
            F.col("f").cast("long").alias("tile"),
            "n_px", "n_brighter", "n_fainter", "sum_absdiff_centi",
            "top_x", "top_y", "top_dk_centi",
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
    the Arrow kernel (payloads never decode); the interval join is the
    `join_interval_overlap` binned 1-D shape — at survey scale tiles
    bucket by RA cell and the pair space is bounded by sky geometry,
    never tile count².
    """
    base = _stage_sky_tiles(
        "sky_tiles_wcs_fits", cards_fn=_wcs_cards,
        pixel_fn=_quadratic_pixels,
    )

    def footprints(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                tile = int(path.rsplit("tile_", 1)[-1].split(".")[0])
                for cards in parse_fits_headers(bytes(buf)):
                    if "CRVAL1M" not in cards:
                        continue
                    nx = int(cards["NAXIS1"])
                    crpix1 = int(cards["CRPIX1"])
                    crval1m = int(cards["CRVAL1M"])
                    cd1m = int(cards["CD1M"])
                    lo = crval1m + (1 - crpix1) * cd1m
                    yield pd.DataFrame(
                        {
                            "tile": [tile],
                            "ra_lo": [lo],
                            "ra_hi": [lo + nx * cd1m],
                        }
                    )

    foot = (
        spark.read.format("binaryFile")
        .load(f"{base}/*.fits")
        .select("path", "content")
        .mapInPandas(footprints, "tile LONG, ra_lo LONG, ra_hi LONG")
        .localCheckpoint(eager=True)
    )
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
