"""Connected components, one twin per engine.

:func:`components` is the package's one min-label propagation loop and
:func:`components_sql` renders the same closure as the DuckDB recursive
CTE the oracles check it against. Every key that turns pairs into
clusters — near-dup documents, embedding duplicates, repeat sky
detections, dense grid cells — goes through them. Bright-pixel blobs
are not pairs: `sky_source_extract` labels them inside its per-tile
FITS kernel (``sources.fits._label8``), and only its oracle uses
:func:`components_sql`.

This module registers no query, so a module the registry loads early
(``sources.fits``, ``operators.xmatch``) can import it at module level
without moving other modules' keys in the registry's insertion order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: min-label rounds `components` runs before it raises; a graph needs at
#: most its widest component's diameter plus one confirming round.
_CC_MAX_ITERS = 20


def components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by min-label propagation — the one Spark
    closure loop of the package; :func:`components_sql` is its DuckDB
    twin.

    ``nodes``: one ``node_id`` column (singletons stay in the output);
    ``pairs``: undirected ``(ia, ib)`` pairs, each pair at least once in
    either orientation (duplicates are harmless). Returns ``(node_id,
    component)``, the component id being its minimum node id.

    Each round every node takes the min label over itself and its
    neighbors (one join + one groupBy). The round's checkpoint carries
    the previous label beside the new one, so the convergence probe is
    a filter over the just-materialized blocks — one scalar to the
    driver, no join back to the old labels. Rounds <= component
    diameter + 1, not data size; a graph still changing after
    ``_CC_MAX_ITERS`` rounds raises rather than return partial labels.
    At 100 TB the same contract runs as alternating large-star /
    small-star (`graph_components_twostar`, O(log² n) rounds).
    """
    edges = (
        pairs.select("ia", "ib")
        .union(pairs.select("ib", "ia"))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node_id", F.col("node_id").alias("component"))
    for _ in range(_CC_MAX_ITERS):
        nmin = (
            edges.join(
                labels.select(
                    F.col("node_id").alias("dst"), F.col("component").alias("c")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("c").alias("nmin"))
        )
        new = (
            labels.join(nmin, labels.node_id == nmin.src, "left")
            .select(
                "node_id",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nmin"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new.select("node_id", "component")
        if new.filter(F.col("component") != F.col("prev")).limit(1).count() == 0:
            return labels
    raise RuntimeError(
        f"components: labels still changing after _CC_MAX_ITERS="
        f"{_CC_MAX_ITERS} rounds"
    )


def components_sql(nodes: str) -> str:
    """DuckDB twin of :func:`components`: the CTEs ``edges`` (the caller's
    ``pairs(ia, ib)`` CTE both ways round), the recursive ``reach``
    closure and ``comp(node_id, component)``, ready to follow ``pairs``
    inside a ``WITH RECURSIVE``. ``nodes`` is a one-column ``SELECT``
    of every node id. The recursive CTE computes the same fixpoint
    declaratively — an independent algorithm checking the loop."""
    return f"""edges AS MATERIALIZED (SELECT ia AS a, ib AS b FROM pairs
          UNION SELECT ib AS a, ia AS b FROM pairs),
reach AS (
  SELECT node_id AS id, node_id AS r FROM ({nodes}) n(node_id)
  UNION
  SELECT e.b AS id, reach.r AS r FROM edges e JOIN reach ON e.a = reach.id
),
comp AS (SELECT id AS node_id, MIN(r) AS component FROM reach GROUP BY id)"""
