"""Shared fixtures: one SparkSession + one DuckDB connection per run."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from analyse_the_sky_with_apache_spark_spark.session import get_spark
from tools.canon import duck_views

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# r13 (VERDICT r12 item 4 — the driver's pytest gate outgrew its
# window): the suite runs against 1000-row sf0.001 fixtures, where a
# local[32] session turns every exchange into a 32-task stage of pure
# scheduling overhead across ~2100 tests. Default the TEST session to 8
# cores (shuffle partitions follow via the session's "auto" rule);
# interleaved same-window timing on the oracle-differential slice read
# ~1.8x faster (254 s -> 138 s for 82 keys). Results are
# partitioning-invariant by design (tests/test_partition_invariance.py
# is the gate for exactly that claim). Env still wins: setdefault only.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

#: registry key -> plan text (AQE Final Plan plus Initial Plan) of the
#: frame the oracle-differential pass executed for it; the per-key plan
#: sweep reads it back instead of building and running the key again.
EXECUTED_PLANS: dict[str, str] = {}


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    duck_views(con, SF_DIR)
    yield con
    con.close()


def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def norm_rows(cols, rows):
    """Order-insensitive multiset form: sort columns by name, then rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def assert_matches_oracle(spark, duck, fn, sql, sf_dir=SF_DIR):
    """Driver-grade comparison: both sides through pandas/numpy (see
    tools/canon.py) so HUGEINT→float64 and nested-cell divergences fail
    here before the driver sees them (round-1 lesson, ADVICE.md)."""
    from tools.canon import compare_spark_duck

    df = fn(spark, sf_dir)
    compare_spark_duck(df, duck.execute(sql))
    return df
