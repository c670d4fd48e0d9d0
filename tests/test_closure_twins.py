"""Connected components: `components` (Spark) against `components_sql`
(DuckDB) on a hand-built graph, and the round bounds of both Spark
component loops.

The graph holds a chain, a cycle, a singleton, a duplicated pair and
one pair in both orientations — every shape the pairs contract allows.
A loop that reaches its round bound must raise, never return the
partial labels of an unconverged graph.
"""

from __future__ import annotations

import duckdb
import pytest

from analyse_the_sky_with_apache_spark_spark.operators import graph
from analyse_the_sky_with_apache_spark_spark.pipeline import closure

#: chain 1-2-3-4-5 (one pair reversed, one in both orientations), cycle
#: 10-11-12 with (10, 11) twice, singleton 20
_PAIRS = [(1, 2), (3, 2), (2, 3), (3, 4), (5, 4),
          (10, 11), (11, 12), (12, 10), (10, 11)]
_NODES = [1, 2, 3, 4, 5, 10, 11, 12, 20]
_WANT = [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
         (10, 10), (11, 10), (12, 10), (20, 20)]


def _graph(spark, pairs=_PAIRS, nodes=_NODES):
    return (
        spark.createDataFrame([(n,) for n in nodes], "node_id long"),
        spark.createDataFrame(pairs, "ia long, ib long"),
    )


def _path(n: int) -> tuple[list[tuple[int, int]], list[int]]:
    return [(i, i + 1) for i in range(n - 1)], list(range(n))


def _values(rows) -> str:
    return ", ".join(f"({', '.join(map(str, r))})" for r in rows)


def test_components_twins_agree(spark):
    got = sorted(tuple(r) for r in closure.components(*_graph(spark)).collect())
    want = duckdb.connect().execute(
        f"WITH RECURSIVE pairs AS (SELECT * FROM (VALUES {_values(_PAIRS)})"
        " t(ia, ib)), "
        + closure.components_sql(
            f"SELECT * FROM (VALUES {_values((n,) for n in _NODES)}) v(x)"
        )
        + " SELECT node_id, component FROM comp ORDER BY node_id"
    ).fetchall()
    assert got == want == _WANT


def test_twostar_matches_components(spark):
    got = sorted(tuple(r) for r in graph._twostar(*_graph(spark)).collect())
    assert got == _WANT


def test_components_raises_at_its_bound(spark, monkeypatch):
    monkeypatch.setattr(closure, "_CC_MAX_ITERS", 3)
    pairs, nodes = _path(8)
    with pytest.raises(RuntimeError, match="_CC_MAX_ITERS=3"):
        closure.components(*_graph(spark, pairs, nodes))


def test_twostar_raises_at_its_bound(spark, monkeypatch):
    monkeypatch.setattr(graph, "_TWOSTAR_MAX_ITERS", 1)
    pairs, nodes = _path(8)
    with pytest.raises(RuntimeError, match="_TWOSTAR_MAX_ITERS=1"):
        graph._twostar(*_graph(spark, pairs, nodes))
