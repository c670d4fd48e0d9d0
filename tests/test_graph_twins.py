"""The co-purchase graph and the closures over it: one definition per
engine.

``operators/graph.py`` builds its edge table in Spark with ``_edges``
(both ways round: ``_adjacency``) and renders the same edge set for the
DuckDB oracles with ``_e_sql`` / ``_adj_sql``; ``_bfs`` / ``_bfs_sql``
are the frontier loop and its recursive CTE. These tests check that
the twins agree, and lint the module so no kernel or oracle retypes the
lineitem self-join or the adjacency union by hand again. A second lint
covers the whole package: a recursive ``reach`` CTE or a min-label
``least(…, coalesce(…))`` step outside the closure twins
(``pipeline/closure.py`` ``components`` / ``components_sql``, ``_bfs_sql``,
and ``graph_components_twostar``'s own star loop) fails it.
"""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from analyse_the_sky_with_apache_spark_spark.catalog import session_checkpoint
from analyse_the_sky_with_apache_spark_spark.operators.graph import (
    _DIRECTED_E_SQL,
    _adj_sql,
    _adjacency,
    _bfs,
    _bfs_sql,
    _directed_edges,
    _e_sql,
    _edges_cached,
)
from tests.conftest import SF_DIR


@pytest.mark.parametrize("strong", [False, True])
def test_edge_twins_agree(spark, duck, strong):
    e = _edges_cached(spark, SF_DIR, strong)
    got = sorted(tuple(r) for r in e.select("u", "v").collect())
    want = sorted(duck.execute(f"WITH {_e_sql(strong)} SELECT u, v FROM e").fetchall())
    assert got and got == want
    adj = sorted(
        tuple(r)
        for r in _adjacency(spark, SF_DIR, strong).select("node", "nbr").collect()
    )
    assert adj == sorted(
        duck.execute(
            f"WITH {_e_sql(strong)}, {_adj_sql()} SELECT node, nbr FROM adj"
        ).fetchall()
    )
    assert len(adj) == 2 * len(got)


def test_strong_edges_carry_their_pair_count(spark, duck):
    got = sorted(tuple(r) for r in _edges_cached(spark, SF_DIR, strong=True).collect())
    want = duck.execute(
        "SELECT a.l_partkey, b.l_partkey, COUNT(*) FROM lineitem a"
        " JOIN lineitem b ON a.l_orderkey = b.l_orderkey"
        " AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING COUNT(*) >= 2"
        " ORDER BY 1, 2"
    ).fetchall()
    assert got and got == want


def test_directed_edge_twins_agree(spark, duck):
    got = sorted(tuple(r) for r in _directed_edges(spark, SF_DIR).collect())
    want = sorted(duck.execute(f"WITH {_DIRECTED_E_SQL} SELECT u, v FROM e").fetchall())
    assert got and got == want


@pytest.mark.parametrize("keys", [["node"], ["src", "node"]])
def test_bfs_twins_agree(spark, duck, keys):
    adj = _adjacency(spark, SF_DIR, strong=True)
    seeds = adj.select("node").distinct().orderBy("node").limit(5)
    seeds = seeds.select(*[F.col("node").alias(k) for k in keys])
    got = sorted(tuple(r) for r in _bfs(adj, seeds, keys, 3).collect())
    cols = ", ".join(f"node AS {k}" for k in keys)
    want = duck.execute(
        f"WITH RECURSIVE {_e_sql(True)}, {_adj_sql()},"
        f" seeds AS (SELECT {cols} FROM (SELECT DISTINCT node FROM adj"
        f" ORDER BY node LIMIT 5)), {_bfs_sql('seeds', keys, 3)}"
        f" SELECT * FROM visited"
    ).fetchall()
    assert len(got) > 5 and {0, 1, 2} <= {r[-1] for r in got}
    assert got == sorted(want)


def test_session_checkpoint_builds_once(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    key = ("test_session_checkpoint_builds_once",)
    first = session_checkpoint(spark, key, build)
    assert session_checkpoint(spark, key, build) is first
    assert calls == [1] and first.count() == 3


#: hand-typed graph idioms, compared with all whitespace removed, and the
#: top-level definitions allowed to hold each one.
_IDIOMS = {
    # the undirected co-purchase self-join, SQL and Spark
    "a.l_partkey<b.l_partkey": {"_e_sql", "graph_sssp_bounded"},
    'F.col("a.l_partkey")<F.col("b.l_partkey")': {"_edges"},
    # the directed one
    "a.l_linenumber<b.l_linenumber": {"_DIRECTED_E_SQL"},
    'F.col("a.l_linenumber")<F.col("b.l_linenumber")': {"_directed_edges"},
    # the both-ways adjacency union (neighbor column nb or nbr)
    'F.col("u").alias("node"),F.col("v").alias("nb': {"_adjacency"},
}


def _top_level_sources(path: str) -> dict[str, str]:
    """Top-level name -> its source (decorators included), whitespace
    stripped."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    lines = src.splitlines()
    out = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            name = node.name
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
        else:
            continue
        decorators = getattr(node, "decorator_list", [])
        first = min([node.lineno] + [d.lineno for d in decorators])
        out[name] = re.sub(r"\s+", "", "\n".join(lines[first - 1 : node.end_lineno]))
    return out


def test_graph_idioms_only_in_their_twins():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "analyse_the_sky_with_apache_spark_spark",
        "operators",
        "graph.py",
    )
    with open(path, encoding="utf-8") as f:
        flat = re.sub(r"\s+", "", f.read())
    sources = _top_level_sources(path)
    hits = []
    for idiom, allowed in _IDIOMS.items():
        placed = sum(sources[name].count(idiom) for name in allowed)
        assert placed, f"{idiom} is missing from {sorted(allowed)}"
        for name, body in sources.items():
            if name not in allowed and idiom in body:
                hits.append(f"{name}: {idiom} x{body.count(idiom)}")
        # nothing outside a top-level definition either
        assert flat.count(idiom) == sum(b.count(idiom) for b in sources.values()), idiom
    assert not hits, (
        "build the co-purchase graph through operators.graph's twins "
        "(_edges / _e_sql, _directed_edges / _DIRECTED_E_SQL, _adjacency):\n"
        + "\n".join(hits)
    )


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "analyse_the_sky_with_apache_spark_spark",
)


def _flat(text: str) -> str:
    """Lowercase, whitespace and string seams (``" f"``) removed."""
    return re.sub(r"[\"']f?[\"']", "", re.sub(r"\s+", "", text)).lower()


def _idiom_sites(path: str, idioms: dict[str, set[str]]) -> list[str]:
    """Each hit in ``path`` of an ``idioms`` regex (matched on `_flat`
    text) outside the top-level definitions allowed to hold it, named
    ``module:name`` with the module relative to the package."""
    with open(path, encoding="utf-8") as f:
        flat = _flat(f.read())
    sources = {n: _flat(src) for n, src in _top_level_sources(path).items()}
    rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
    hits = []
    for idiom, allowed in idioms.items():
        n_defs = 0
        for name, body in sources.items():
            n = len(re.findall(idiom, body))
            n_defs += n
            if n and f"{rel}:{name}" not in allowed:
                hits.append(f"{rel}:{name}: {idiom} x{n}")
        if len(re.findall(idiom, flat)) != n_defs:
            hits.append(f"{rel}:<module level>: {idiom}")
    return hits


def _package_sites(idioms: dict[str, set[str]]) -> list[str]:
    """`_idiom_sites` over every module of the package."""
    scanned, hits = 0, []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if name.endswith(".py"):
                scanned += 1
                hits += _idiom_sites(os.path.join(root, name), idioms)
    assert scanned > 20
    return hits


#: hand-typed closures, searched in every package module, and the
#: definitions allowed to hold each one. Labelling the pixels of one
#: image tile (``sources/fits.py:_label8``, a numpy min over each 3×3
#: neighbourhood inside the decode kernel) is not a pair closure: no
#: pair table exists and no label crosses a tile, so it is not listed.
_CLOSURE_IDIOMS = {
    # a recursive CTE named reach: the component or BFS closure
    r"reach(\([\w,]*\))?as(materialized)?\(": {
        "pipeline/closure.py:components_sql",
        "operators/graph.py:_bfs_sql",
    },
    # the min-label step least(label, coalesce(neighbor min, label))
    r"least\((?:[^(),]|\([^()]*\))*,(f\.)?coalesce\(": {
        "pipeline/closure.py:components",
        "operators/graph.py:_twostar",
    },
}


def test_closure_lint_sees_hand_typed_closures(tmp_path):
    raw = tmp_path / "raw.py"
    raw.write_text(
        'Q = """WITH RECURSIVE reach(pid, r) AS (\n'
        '  SELECT pid, pid FROM px UNION\n'
        '  SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.pid)"""\n'
        "def step(labels):\n"
        "    return labels.select(F.least(\n"
        '        F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))))\n'
    )
    assert len(_idiom_sites(str(raw), _CLOSURE_IDIOMS)) == 2


def test_closures_only_in_their_twins():
    for allowed in _CLOSURE_IDIOMS.values():
        for site in allowed:
            rel, name = site.split(":")
            assert name in _top_level_sources(os.path.join(_PKG, rel)), site
    hits = _package_sites(_CLOSURE_IDIOMS)
    assert not hits, (
        "close over pairs with pipeline.closure's components / "
        "components_sql, and over the co-purchase graph with "
        "operators.graph's _bfs / _bfs_sql:\n" + "\n".join(hits)
    )
