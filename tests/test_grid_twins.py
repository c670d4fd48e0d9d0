"""The engine's one fixed-point grid: ``grid`` / ``grid_sql``.

Every cross-engine-exact value in the package rounds a double onto the
``10^-s`` grid as ``floor(x * 10^s + 0.5)``, and the oracle must round it
bit for bit the same way. ``functions.exact`` owns that decision:
``grid`` (Spark Column) and ``grid_sql`` (DuckDB and Spark SQL text).
These tests pin the twins against plain Python float arithmetic, and
lint the package so no key types the raw idiom by hand again.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
from pyspark.sql import functions as F

from analyse_the_sky_with_apache_spark_spark.functions.exact import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    grid,
    grid_sql,
)

#: every scale the package grids at
_SCALES = (0, 1, 2, 3, 4, 6, 8, 9, 12)

#: negatives, zero, exact half-grid ties at several scales (0.5, 2.5,
#: 0.25, 0.125, 0.0625 are exact binary fractions, so ``x * 10^s`` lands
#: on .5 exactly), decimal inputs that are not exact in binary, and
#: magnitudes that keep ``x * 10^12`` inside a long
_VALUES = (
    0.0, 1.0, -1.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.25, -0.25, 0.125,
    -0.125, 0.0625, -0.0625, 0.005, -0.005, 0.015, 2.675, -2.675,
    12.345, -12.345, 123.456789, -123.456789, 1e-7, -1e-7, 0.1, 0.2,
    0.3, 3.141592653589793, -2.718281828459045, 99999.995, -99999.995,
    1234.5678901234, 4999.99999999,
)


def _ref(x: float, s: int) -> int:
    return math.floor(x * float(10**s) + 0.5)


def _duck_table():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, g BIGINT, x DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)", [(i, i % 3, x) for i, x in enumerate(_VALUES)]
    )
    return con


def test_grid_twins_agree_with_python_in_spark_and_duckdb(spark):
    ref = [(i, *(_ref(x, s) for s in _SCALES)) for i, x in enumerate(_VALUES)]
    # the values reach both sides of every tie: round half up, so
    # -2.5 -> -2 and 2.5 -> 3 at s = 0
    assert _ref(-2.5, 0) == -2 and _ref(2.5, 0) == 3

    df = spark.createDataFrame(list(enumerate(_VALUES)), "i long, x double")
    got_spark = df.select("i", *[grid("x", s) for s in _SCALES]).collect()
    assert sorted(tuple(r) for r in got_spark) == ref

    got_spark_sql = df.select(
        "i", *[F.expr(grid_sql("x", s)) for s in _SCALES]
    ).collect()
    assert sorted(tuple(r) for r in got_spark_sql) == ref

    con = _duck_table()
    cols = ", ".join(grid_sql("x", s) for s in _SCALES)
    got_duck = con.execute(f"SELECT i, {cols} FROM t ORDER BY i").fetchall()
    con.close()
    assert got_duck == ref


def test_grid_takes_an_expression():
    """``grid_sql`` parenthesizes its argument, so a sum or difference
    scales as a whole, like the Column ``grid``."""
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {grid_sql('CAST(1.25 AS DOUBLE) - 0.5', 1)}"
    ).fetchone()[0]
    con.close()
    assert got == _ref(1.25 - 0.5, 1) == 8


def test_scale_zero_emits_no_multiply():
    """A ``* 1.0`` is not folded away by Catalyst, so at ``s = 0`` the
    twins must not multiply at all."""
    assert grid_sql("x", 0) == "CAST(FLOOR((x) + 0.5) AS BIGINT)"
    assert "*" not in str(grid("x", 0))
    assert "*" in str(grid("x", 2))


def test_dsum_davg_twins_agree(spark):
    df = spark.createDataFrame(
        [(i, i % 3, x) for i, x in enumerate(_VALUES)], "i long, g long, x double"
    )
    got_spark = sorted(
        tuple(r)
        for r in df.groupBy("g")
        .agg(
            dsum("x", "s2", 2),
            dsum("x", "s4"),
            davg("x", "a6"),
            davg("x", "a9", 9),
        )
        .collect()
    )
    con = _duck_table()
    got_duck = con.execute(
        f"SELECT g, {dsum_sql('x', 's2', 2)}, {dsum_sql('x', 's4')},"
        f" {davg_sql('x', 'a6')}, {davg_sql('x', 'a9', 9)}"
        " FROM t GROUP BY g ORDER BY g"
    ).fetchall()
    con.close()
    assert got_spark == got_duck


#: host-side spellings of the grid, which the lint skips: they compute
#: on numpy arrays or Python floats inside Arrow UDFs and driver-side
#: kernels, where a Column or SQL twin cannot run.
_HOST_SPELLINGS = {
    "np.floor(": "numpy mirror of the grid inside an Arrow batch kernel",
    "math.floor(": "Python-float mirror in a driver-side or per-row kernel",
    "_m.floor(": "stat_sprt_sequential's driver-side log-ratio constants",
}


def _flat(text: str) -> str:
    """Whitespace-insensitive, and blind to implicit string concatenation
    (``"…x" " * 100.0 + 0.5)"`` reads as one string)."""
    return re.sub(r"[\"']f?[\"']", "", re.sub(r"\s+", "", text))


def _raw_grid_sites(flat: str) -> list[str]:
    """Every ``floor(…+0.5)``: Spark (``F.floor(… + F.lit(0.5))``) and SQL
    (``FLOOR(… + 0.5)``) spellings, whatever the multiplier."""
    low = flat.lower()
    hits = []
    for m in re.finditer(r"floor\(", low):
        if any(
            low.endswith(h.lower()[:-1], 0, m.end() - 1) for h in _HOST_SPELLINGS
        ):
            continue
        depth, j = 1, m.end()
        while j < len(low) and depth:
            depth += {"(": 1, ")": -1}.get(low[j], 0)
            j += 1
        inner = low[m.end() : j - 1]
        if inner.endswith("+0.5") or inner.endswith("+f.lit(0.5)"):
            hits.append(flat[max(0, m.start() - 10) : j + 10])
    return hits


def test_lint_sees_both_spellings():
    spark_form = 'F.floor(F.col("v")\n  * F.lit(1e6) + F.lit(0.5)).cast("long")'
    sql_form = '"CAST(FLOOR(value * 1000000.0"\n  " + 0.5) AS BIGINT)"'
    host_form = "np.floor(px * 100.0 + 0.5)"
    assert len(_raw_grid_sites(_flat(spark_form))) == 1
    assert len(_raw_grid_sites(_flat(sql_form))) == 1
    assert _raw_grid_sites(_flat(host_form)) == []
    assert _raw_grid_sites(_flat(f"x = {grid_sql('v', 6)!r}")) != []


def test_no_raw_grid_idiom_outside_exact():
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
                for site in _raw_grid_sites(_flat(f.read())):
                    hits.append(f"{os.path.relpath(path, pkg)}: {site}")
    assert scanned > 20
    assert not hits, (
        "round to the fixed-point grid through functions.exact "
        "(grid / grid_sql):\n" + "\n".join(hits)
    )
