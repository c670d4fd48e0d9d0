"""The engine-owned md5→integer hash: one decoding in three engines.

``functions.exact`` holds the only md5 hex-prefix decoders in the
package: ``md5_int``/``sky_radec`` (Spark) and their DuckDB twins
``md5_int_sql``/``sky_radec_sql``. These tests pin the twins against a
plain ``hashlib`` reference, and lint the package so no key retypes the
raw idiom by hand again.
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
from pyspark.sql import functions as F

from analyse_the_sky_with_apache_spark_spark.functions.exact import (
    md5_int,
    md5_int_sql,
    sky_radec,
    sky_radec_sql,
)

_N_KEYS = 300

#: (1-based offset, width) slices: every width the package decodes
#: (3, 4, 6, 8, 12, 15), at offsets that reach the digest's tail.
_SLICES = ((21, 3), (13, 4), (1, 6), (7, 6), (1, 8), (1, 12), (1, 15), (18, 15))


def _ref_int(key: str, off: int, n: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[off - 1 : off - 1 + n], 16)


def _ref_radec(key: str) -> tuple[int, int]:
    return _ref_int(key, 1, 6) % 36000, _ref_int(key, 7, 6) % 18000 - 9000


def _reference() -> list[tuple]:
    rows = []
    for k in range(_N_KEYS):
        rows.append(
            (k,)
            + tuple(_ref_int(str(k), off, n) for off, n in _SLICES)
            + _ref_radec(str(k))
            + _ref_radec(f"s{k}")
        )
    return rows


def test_twins_agree_with_hashlib_in_spark_and_duckdb(spark):
    ref = _reference()
    # a sign error in the decode would show only on a slice whose first
    # hex digit is >= 8 (top bit set) — the key range covers that at
    # every slice, the 15-wide (60-bit) ones included
    for i, (off, n) in enumerate(_SLICES):
        assert any(r[1 + i] >= 8 << (4 * (n - 1)) for r in ref), (off, n)

    key = F.col("id").cast("string")
    ra, dec = sky_radec("id")
    s_ra, s_dec = sky_radec("id", salt="s")
    got_spark = spark.range(_N_KEYS).select(
        "id",
        *[md5_int(key, off, n) for off, n in _SLICES],
        ra, dec, s_ra, s_dec,
    ).collect()
    assert sorted(tuple(r) for r in got_spark) == ref

    d_ra, d_dec = sky_radec_sql("i")
    ds_ra, ds_dec = sky_radec_sql("i", salt="s")
    cols = ", ".join(
        [md5_int_sql("CAST(i AS VARCHAR)", off, n) for off, n in _SLICES]
        + [d_ra, d_dec, ds_ra, ds_dec]
    )
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT i, {cols} FROM (SELECT range AS i FROM range({_N_KEYS})) ORDER BY i"
    ).fetchall()
    con.close()
    assert got_duck == ref


def test_duckdb_twin_takes_an_sql_offset():
    """``md5_int_sql``'s offset may be an SQL expression (per-row slices)."""
    con = duckdb.connect()
    got = con.execute(
        f"SELECT p, {md5_int_sql(repr('42'), '4 * p + 1', 4)}"
        " FROM (SELECT range AS p FROM range(8)) ORDER BY p"
    ).fetchall()
    con.close()
    assert got == [(p, _ref_int("42", 4 * p + 1, 4)) for p in range(8)]


#: hand-written md5 hex decoders, compared with all whitespace removed so
#: a line break cannot hide one. ``F.conv(F.substring(`` is flagged on
#: any input: every such slice in the package decodes an md5 digest.
_RAW_IDIOMS = (
    "'0x'||substr(md5",
    "F.conv(F.substring(",
    "conv(substr(md5",
    "conv(substring(md5",
    "strpos('0123456789abcdef',substr(md5",
)


def test_no_raw_md5_int_idiom_outside_exact():
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "analyse_the_sky_with_apache_spark_spark",
    )
    scanned, hits = 0, []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(
                os.path.join("functions", "exact.py")
            ):
                continue
            scanned += 1
            with open(path, encoding="utf-8") as f:
                flat = re.sub(r"\s+", "", f.read())
            for idiom in _RAW_IDIOMS:
                n = flat.lower().count(idiom.lower())
                if n:
                    hits.append(f"{os.path.relpath(path, pkg)}: {idiom} x{n}")
    assert scanned > 20
    assert not hits, (
        "decode md5 hex through functions.exact (md5_int / md5_int_sql / "
        "sky_radec / sky_radec_sql):\n" + "\n".join(hits)
    )
