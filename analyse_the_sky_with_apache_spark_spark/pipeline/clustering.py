"""Iterative clustering over embedding columns (SURVEY.md §2.12).

The reference-domain analogue is k-means over object features (the one
§2.12 row outside the relational inventory). Implemented as pure
DataFrame iteration — Lloyd's algorithm with the k×dim centroid table
living on the DRIVER between rounds:

    assign:   centroids enter the plan as a literal array column, so the
              nearest-centroid argmin is a NARROW projection — no join,
              no window, no shuffle; the dataset never moves;
    update:   posexplode to (cluster, dim, value), one hash aggregation
              whose shuffle carries k×dim aggregated rows, collected to
              the driver (tiny by construction — it must fit a literal).

Per iteration: ONE shuffle of k×dim aggregated rows, never the data.
Driver materialization also truncates lineage each round (the classic
iterative-algorithm trap on Spark; ``checkpoint()`` is the cluster-side
equivalent for state too big to collect). Convergence (monotone
non-increasing inertia) is asserted in tests/test_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame
from ..functions.exact import (
    grid,
    grid_sql,
    md5_int,
    md5_int_sql,
)
from ..operators.xmatch import cell_join, sky_catalog, sky_catalog_sql
from ..registry import register
from .closure import components, components_sql

_K = 10
_ITERS = 4

#: per-centroid squared euclidean distance + argmin by (d2, cluster) —
#: struct comparison is lexicographic, so array_min encodes the tie rule
#: "equal distance → lower cluster id".
_ASSIGN_EXPR = """
array_min(transform(C, c -> struct(
  aggregate(zip_with(vec, c.cvec, (a, b) -> (a - b) * (a - b)),
            CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS d2,
  c.cluster AS cluster)))
"""


def _centroid_literal(centroids: dict[int, list[float]]) -> Column:
    """Driver-resident centroids as a literal array<struct> column."""
    return F.array(
        *[
            F.struct(
                F.lit(cl).alias("cluster"),
                F.array(*[F.lit(float(v)) for v in vec]).alias("cvec"),
            )
            for cl, vec in sorted(centroids.items())
        ]
    )


def _load_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("vec"),
    )


def _init_centroids(pts: DataFrame, k: int) -> dict[int, list[float]]:
    """Deterministic seed: the k lowest vec_ids."""
    rows = pts.orderBy("vec_id").limit(k).collect()
    return {i + 1: list(r["vec"]) for i, r in enumerate(rows)}


def _assign(pts: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """Narrow nearest-centroid assignment (zero shuffles)."""
    return (
        pts.withColumn("C", _centroid_literal(centroids))
        .withColumn("best", F.expr(_ASSIGN_EXPR))
        .select(
            "vec_id",
            "vec",
            F.col("best.cluster").alias("cluster"),
            F.col("best.d2").alias("d2"),
        )
    )


def _update(
    assigned: DataFrame, prev: dict[int, list[float]]
) -> tuple[dict[int, list[float]], float]:
    """One aggregation pass → (new centroids, inertia). A cluster that
    attracted no points keeps its previous centroid (k never shrinks
    silently). Inertia rides the same job via a grouped sum, so the
    assignment pipeline executes once per iteration."""
    rows = (
        assigned.select("cluster", "d2", F.posexplode("vec").alias("i", "v"))
        .groupBy("cluster", "i")
        .agg(F.avg("v").alias("c"), F.sum("d2").alias("d2_sum"))
        .collect()
    )
    new = dict(prev)
    by_cluster: dict[int, dict[int, float]] = {}
    inertia = 0.0
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["i"]] = r["c"]
        if r["i"] == 0:  # d2_sum repeats per dim; count it once
            inertia += r["d2_sum"]
    for cl, dims in by_cluster.items():
        new[cl] = [dims[i] for i in sorted(dims)]
    return new, inertia


def kmeans_lloyd(
    spark: SparkSession, sf_dir: str, k: int = _K, iters: int = _ITERS
) -> list[float]:
    """Run Lloyd's iterations; returns per-iteration inertia (for tests)."""
    pts = _load_points(spark, sf_dir)
    centroids = _init_centroids(pts, k)
    inertia: list[float] = []
    for _ in range(iters):
        centroids, cost = _update(_assign(pts, centroids), centroids)
        inertia.append(cost)
    return inertia


#: Integer-grid Lloyd constants for the REGISTERED query (the float
#: helper above keeps _K/_ITERS for the inertia tests).
_KM_K = 4
_KM_ITERS = 3
_KM_S = 4  # embedding grid scale: components on the 1e-4 grid
_KM_DIM = 64


def _km_tdiv_sql(x: str, d: str) -> str:
    """Truncating division for possibly-negative centroid sums —
    DuckDB ``//`` truncates, matching python's sign-explicit mirror."""
    return f"(CASE WHEN ({x}) < 0 THEN -((-({x})) // ({d})) ELSE ({x}) // ({d}) END)"


def _km_oracle() -> str:
    gx = grid_sql("CAST(x AS DOUBLE)", _KM_S)
    ctes = [
        f"""g AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> {gx}) AS e
  FROM embeddings)""",
        f"d1 AS MATERIALIZED (SELECT i FROM range(1, {_KM_DIM + 1}) t(i))",
        f"""seed AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT) AS cl, e
  FROM g ORDER BY vec_id LIMIT {_KM_K})""",
        """c0 AS MATERIALIZED (
  SELECT cl, i, e[i] AS c FROM seed, d1)""",
    ]
    for t in range(1, _KM_ITERS + 1):
        ctes.append(
            f"""dist{t} AS MATERIALIZED (
  SELECT g.vec_id, cc.cl,
         CAST(SUM((g.e[d1.i] - cc.c) * (g.e[d1.i] - cc.c)) AS BIGINT) AS d2
  FROM g, d1
  JOIN c{t - 1} cc ON cc.i = d1.i
  GROUP BY g.vec_id, cc.cl)"""
        )
        ctes.append(
            f"""asg{t} AS MATERIALIZED (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
    FROM dist{t}) WHERE rn = 1)"""
        )
        upd = f"""
  SELECT a.cluster AS cl, d1.i,
         CAST(SUM(g.e[d1.i]) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM asg{t} a JOIN g ON g.vec_id = a.vec_id, d1
  GROUP BY a.cluster, d1.i"""
        ctes.append(
            f"""c{t} AS MATERIALIZED (
  SELECT p.cl, p.i,
         COALESCE({_km_tdiv_sql("u.s", "u.n")}, p.c) AS c
  FROM c{t - 1} p LEFT JOIN ({upd}) u ON u.cl = p.cl AND u.i = p.i)"""
        )
    # one FINAL assignment against the post-loop centroids (the engine
    # reports memberships under c{ITERS}, not the last in-loop asg)
    fin = _KM_ITERS + 1
    ctes.append(
        f"""dist{fin} AS MATERIALIZED (
  SELECT g.vec_id, cc.cl,
         CAST(SUM((g.e[d1.i] - cc.c) * (g.e[d1.i] - cc.c)) AS BIGINT) AS d2
  FROM g, d1
  JOIN c{_KM_ITERS} cc ON cc.i = d1.i
  GROUP BY g.vec_id, cc.cl)"""
    )
    ctes.append(
        f"""asg{fin} AS MATERIALIZED (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
    FROM dist{fin}) WHERE rn = 1)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(l1.v) AS BIGINT) AS centroid_l1
FROM asg{fin} a
JOIN (SELECT cl, SUM(ABS(c)) AS v FROM c{_KM_ITERS} GROUP BY cl) l1
  ON l1.cl = a.cluster
GROUP BY a.cluster
ORDER BY a.cluster
"""
    )


@register("kmeans_lloyd", oracle=_km_oracle())
def kmeans_lloyd_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster membership counts (plus an L1 centroid checksum)
    after ``_KM_ITERS`` Lloyd rounds on the EXACT integer grid.

    Promoted rows-only → oracle-checked (VERDICT r6 task 2): points
    quantize to the 1e-4 grid, distances are exact integer squared
    sums, the argmin tie-breaks on cluster id, and the centroid update
    is a truncating integer division (empty cluster → keep previous) —
    so every round is partition-order-independent and DuckDB replays
    the identical recurrence per round as unrolled CTEs. The L1
    checksum of the final centroid table rides the output so the hash
    pins the centroids themselves, not only the memberships. The float
    helper (`kmeans_lloyd`) keeps the classic inertia-descent tests.

    Scale shape unchanged from the float kernel: assignment is a
    NARROW projection against a k×dim literal (no join, no shuffle);
    the update shuffle carries k×dim aggregated cells; the k×dim
    centroid table lives driver-side between rounds — bounded
    metadata, the codebook pattern.
    """
    g = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> {grid_sql('CAST(x AS DOUBLE)', _KM_S)})"
        ).alias("e"),
    )
    seed = g.orderBy("vec_id").limit(_KM_K).collect()
    cents: dict[int, list[int]] = {
        i + 1: [int(x) for x in r["e"]] for i, r in enumerate(seed)
    }

    def assign(cur: dict[int, list[int]]):
        lit = F.array(
            *[
                F.struct(
                    F.lit(cl).cast("long").alias("cluster"),
                    F.array(
                        *[F.lit(int(x)).cast("long") for x in vec]
                    ).alias("cvec"),
                )
                for cl, vec in sorted(cur.items())
            ]
        )
        best = F.expr(
            """
            array_min(transform(C, c -> struct(
              aggregate(zip_with(e, c.cvec, (a, b) -> (a - b) * (a - b)),
                        0L, (acc, x) -> acc + x) AS d2,
              c.cluster AS cluster)))
            """
        )
        return (
            g.withColumn("C", lit)
            .withColumn("best", best)
            .select("vec_id", "e", F.col("best.cluster").alias("cluster"))
        )

    for _ in range(_KM_ITERS):
        rows = (
            assign(cents)
            .select("cluster", F.posexplode("e").alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {cl: list(vec) for cl, vec in cents.items()}
        for r in rows:
            s_, n_ = int(r["s"]), int(r["n"])
            val = -((-s_) // n_) if s_ < 0 else s_ // n_
            new[int(r["cluster"])][int(r["i"])] = val
        cents = new

    l1 = {cl: sum(abs(x) for x in vec) for cl, vec in cents.items()}
    final = assign(cents).groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    l1df = local_frame(
        spark,
        [(cl, v) for cl, v in sorted(l1.items())],
        "cluster BIGINT, centroid_l1 BIGINT",
    )
    return (
        final.join(F.broadcast(l1df), "cluster")
        .select("cluster", "n_members", "centroid_l1")
        .orderBy("cluster")
    )


def pca_top_component(
    spark: SparkSession, sf_dir: str
) -> tuple[list[float], list[float]]:
    """Top principal component: distributed covariance + driver eigensolve.

    The scalable PCA pattern for modest dimensionality (MLlib's own
    choice up to d=65535): the data-sized work is ONE pass that
    accumulates the d(d+1)/2 upper-triangle covariance cells — each row
    fans out map-side into (i, j, x_i*x_j) triples and a single hash
    aggregation reduces them, so the shuffle carries 2080 aggregated
    cells for d=64, never the data. The driver eigensolves the d x d
    matrix (numpy, microseconds) — no iteration, no convergence-rate
    dependence on the eigengap (power iteration needs
    O(log(1/eps) / log(l1/l2)) full passes and this corpus's spectrum
    is nearly flat: l2/l1 = 0.93). For truly huge d, swap the driver
    solve for a randomized sketch; the accumulation pass is unchanged.

    Returns (unit eigenvector with deterministic sign, eigenvalues
    ascending); cross-checked against an in-memory numpy decomposition
    in tests/test_pipeline.py, which validates the distributed
    accumulation — the only part numpy doesn't redo.
    """
    import numpy as np

    pts = _load_points(spark, sf_dir)
    n = pts.count()
    mean_rows = (
        pts.select(F.posexplode("vec").alias("i", "v"))
        .groupBy("i")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    mean = [r["m"] for r in sorted(mean_rows, key=lambda r: r["i"])]
    dim = len(mean)
    centered = pts.withColumn(
        "cvec",
        F.zip_with(
            F.col("vec"),
            F.array(*[F.lit(float(m)) for m in mean]),
            lambda x, m: x - m,
        ),
    )
    cells = (
        centered.select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {dim - 1}), i -> "
                    f"transform(sequence(i, {dim - 1}), j -> "
                    f"struct(i AS i, j AS j, cvec[i] * cvec[j] AS p))))"
                )
            ).alias("e")
        )
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
        .collect()
    )
    cov = np.zeros((dim, dim))
    for r in cells:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["s"] / n
    w, U = np.linalg.eigh(cov)
    v = U[:, -1]
    # deterministic sign: first nonzero coordinate positive
    nz = next(i for i in range(dim) if abs(v[i]) > 1e-12)
    if v[nz] < 0:
        v = -v
    return [float(x) for x in v], [float(x) for x in w]


#: Integer-grid PCA projection: embedding grid, power-iteration count,
#: and the renormalization scale that keeps every matvec inside int64.
_PCA_S = 4
_PCA_ITERS = 6
_PCA_VSCALE = 1_000_000
_PCA_DIM = 64


def _pca_tdiv(x: int, d: int) -> int:
    """Truncate-toward-zero division matching DuckDB's ``//`` (python's
    ``//`` floors, which differs on negative numerators)."""
    return -((-x) // d) if x < 0 else x // d


def _pca_int_oracle() -> str:
    gx = grid_sql("CAST(x AS DOUBLE)", _PCA_S)
    ctes = [
        f"""g AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding, x -> {gx}) AS e
  FROM embeddings)""",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g)",
        f"d1 AS MATERIALIZED (SELECT i FROM range(1, {_PCA_DIM + 1}) t(i))",
        """s AS MATERIALIZED (
  SELECT i, CAST(SUM(e[i]) AS BIGINT) AS s FROM g, d1 GROUP BY i)""",
        """ee AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(SUM(g.e[a.i] * g.e[b.i]) AS BIGINT) AS p
  FROM g, d1 a, d1 b WHERE a.i <= b.i GROUP BY 1, 2)""",
        """cfull AS MATERIALIZED (
  SELECT u.i, u.j, nn.n * u.p - si.s * sj.s AS c
  FROM (SELECT i, j, p FROM ee
        UNION ALL SELECT j AS i, i AS j, p FROM ee WHERE i < j) u
  JOIN s si ON si.i = u.i
  JOIN s sj ON sj.i = u.j
  CROSS JOIN nn)""",
        f"""dv AS MATERIALIZED (
  SELECT (MAX(ABS(c)) // {_PCA_VSCALE}) + 1 AS d FROM cfull)""",
        """cn AS MATERIALIZED (
  SELECT i, j, c // dv.d AS c FROM cfull, dv)""",
        f"""v0 AS MATERIALIZED (
  SELECT i, CAST({_PCA_VSCALE} AS BIGINT) AS v FROM d1)""",
    ]
    for k in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""u{k} AS MATERIALIZED (
  SELECT cn.i, CAST(SUM(cn.c * v{k - 1}.v) AS BIGINT) AS u
  FROM cn JOIN v{k - 1} ON v{k - 1}.i = cn.j GROUP BY cn.i)"""
        )
        ctes.append(
            f"""m{k} AS MATERIALIZED (
  SELECT (MAX(ABS(u)) // {_PCA_VSCALE}) + 1 AS d FROM u{k})"""
        )
        ctes.append(
            f"""v{k} AS MATERIALIZED (
  SELECT i, u // m{k}.d AS v FROM u{k}, m{k})"""
        )
    ctes.append(
        f"""proj AS MATERIALIZED (
  SELECT g.label, g.vec_id,
         CAST(SUM(g.e[v{_PCA_ITERS}.i] * v{_PCA_ITERS}.v) AS BIGINT) AS pc1
  FROM g, v{_PCA_ITERS} GROUP BY 1, 2)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pc1) AS BIGINT) AS sum_pc1,
       CAST(MIN(pc1) AS BIGINT) AS min_pc1,
       CAST(MAX(pc1) AS BIGINT) AS max_pc1
FROM proj GROUP BY label ORDER BY label
"""
    )


@register("emb_pca", oracle=_pca_int_oracle())
def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus projected onto its dominant covariance direction:
    per-label count, sum and range of the PC1 score — the
    embedding-drift / visualization reduction a training pipeline runs
    over its corpus.

    Promoted rows-only → oracle-checked (VERDICT r6 task 2) by making
    the WHOLE pipeline exact-integer: embeddings quantize to the 1e-4
    grid, the covariance numerator C = n·Σxᵢxⱼ − ΣxᵢΣxⱼ is exact
    BIGINT from one distributed pass (2 080 upper cells — the
    `emb_pca_covariance` shuffle shape), and the dominant direction
    comes from ``_PCA_ITERS`` integer power-iteration steps with a
    renormalizing truncating division per step (every matvec stays
    under 2^63 by construction: entries ≤ 1e6 after each rescale).
    The recurrence is bit-identical in any engine, so DuckDB's
    unrolled replay hash-matches, including the projection. The
    direction is the 6-step iterate, NOT the converged eigenvector
    (this corpus's spectrum is nearly flat — λ2/λ1 ≈ 0.93 — so exact
    convergence is slow for EVERY method); `pca_top_component` keeps
    the numpy-eigensolve variant for tests, and the drift/monitor use
    case needs a deterministic reduction, not a perfect one.

    Scale: the data-sized work is the moment pass (shuffle = 2 080
    aggregated cells) and the final projection (narrow, one literal
    64-vector); the 64×64 power iteration is driver-side integer math
    — bounded metadata, like the k-means codebook.
    """
    g = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> {grid_sql('CAST(x AS DOUBLE)', _PCA_S)})"
        ).alias("e"),
    )
    ex = g.select(F.posexplode("e").alias("i", "v"))
    s_rows = ex.groupBy("i").agg(F.sum("v").alias("s")).collect()
    s = [0] * _PCA_DIM
    for r in s_rows:
        s[r["i"]] = int(r["s"])
    n = g.count()
    pair_expr = F.expr(
        f"flatten(transform(sequence(0, {_PCA_DIM - 1}), i -> "
        f"transform(sequence(i, {_PCA_DIM - 1}), j -> "
        f"struct(i AS i, j AS j, e[i] * e[j] AS p))))"
    )
    ee_rows = (
        g.select(F.explode(pair_expr).alias("c"))
        .select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s2"))
        .collect()
    )
    c = [[0] * _PCA_DIM for _ in range(_PCA_DIM)]
    for r in ee_rows:
        i, j = r["i"], r["j"]
        val = n * int(r["s2"]) - s[i] * s[j]
        c[i][j] = c[j][i] = val
    div1 = max(abs(x) for row in c for x in row) // _PCA_VSCALE + 1
    cn = [[_pca_tdiv(x, div1) for x in row] for row in c]
    v = [_PCA_VSCALE] * _PCA_DIM
    for _ in range(_PCA_ITERS):
        u = [
            sum(cn[i][j] * v[j] for j in range(_PCA_DIM))
            for i in range(_PCA_DIM)
        ]
        m = max(abs(x) for x in u) // _PCA_VSCALE + 1
        v = [_pca_tdiv(x, m) for x in u]
    pc1 = F.aggregate(
        F.zip_with(
            "e",
            F.array(*[F.lit(int(x)).cast("long") for x in v]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        g.select("label", pc1.alias("pc1"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pc1").cast("long").alias("sum_pc1"),
            F.min("pc1").cast("long").alias("min_pc1"),
            F.max("pc1").cast("long").alias("max_pc1"),
        )
        .orderBy("label")
    )


#: regression design: predict l_extendedprice from these features.
_LR_FEATURES = ("l_quantity", "l_discount", "l_tax")

#: Exact integer sufficient statistics for the 4×4 normal equations:
#: quantity is integer-valued, discount/tax/price are 2-decimal money
#: → ×100 grids are exact. Sum names double as SQL column names.
_LR_GRID_SQL = f"""
  SELECT CAST(l_quantity AS BIGINT) AS q,
         {grid_sql("l_discount", 2)} AS dc,
         {grid_sql("l_tax", 2)} AS tc,
         {grid_sql("l_extendedprice", 2)} AS yc
  FROM {{tbl}}"""
_LR_SUMS_SQL = """
  SELECT CAST(COUNT(*) AS BIGINT) AS sn,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(dc) AS BIGINT) AS sd,
         CAST(SUM(tc) AS BIGINT) AS st,
         CAST(SUM(q * q) AS BIGINT) AS sqq,
         CAST(SUM(q * dc) AS BIGINT) AS sqd,
         CAST(SUM(q * tc) AS BIGINT) AS sqt,
         CAST(SUM(dc * dc) AS BIGINT) AS sdd,
         CAST(SUM(dc * tc) AS BIGINT) AS sdt,
         CAST(SUM(tc * tc) AS BIGINT) AS stt,
         CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(SUM(q * yc) AS BIGINT) AS sqy,
         CAST(SUM(dc * yc) AS BIGINT) AS sdy,
         CAST(SUM(tc * yc) AS BIGINT) AS sty
  FROM ({grid})"""
_LR_SUM_NAMES = (
    "sn sq sd st sqq sqd sqt sdd sdt stt sy sqy sdy sty".split()
)


def _lr_cramer_exprs() -> list[tuple[str, str]]:
    """Generated Cramer's-rule coefficient expressions over the
    double-cast sums columns (dn, dq, ...), shared by the DuckDB
    oracle template AND the Spark DataFrame build so both engines
    evaluate the identical double-precision expression tree over the
    identical exact-integer sums — IEEE 754 is deterministic; only
    evaluation-order differences could diverge, and sharing the
    generated fragments removes them. Sums stay < 2^53 through sf1
    (largest is Σ q·price_cents ≈ 3e15), so the integer→double casts
    are lossless."""

    def det2(a, b, c, d):
        return f"({a} * {d} - {b} * {c})"

    def det3(m):
        return (
            f"({m[0][0]} * {det2(m[1][1], m[1][2], m[2][1], m[2][2])}"
            f" - {m[0][1]} * {det2(m[1][0], m[1][2], m[2][0], m[2][2])}"
            f" + {m[0][2]} * {det2(m[1][0], m[1][1], m[2][0], m[2][1])})"
        )

    def minor(m, col):
        return [[m[r][c2] for c2 in range(4) if c2 != col] for r in (1, 2, 3)]

    def det4(m):
        terms = []
        for c2 in range(4):
            sign = "-" if c2 % 2 else "+"
            terms.append(f"{sign} {m[0][c2]} * {det3(minor(m, c2))}")
        return "(" + " ".join(terms).lstrip("+ ") + ")"

    a = [
        ["dn", "dq", "dd", "dt"],
        ["dq", "dqq", "dqd", "dqt"],
        ["dd", "dqd", "ddd", "ddt"],
        ["dt", "dqt", "ddt", "dtt"],
    ]
    b = ["dy", "dqy", "ddy", "dty"]
    det_a = det4(a)
    out = []
    for i, feat in enumerate(("intercept", *_LR_FEATURES)):
        ai = [[b[r] if c2 == i else a[r][c2] for c2 in range(4)]
              for r in range(4)]
        out.append((feat, f"{det4(ai)} / {det_a}"))
    return out


def _lr_cramer_select(sums_ref: str) -> str:
    """The Cramer's-rule SELECT for the DuckDB oracle, assembled from
    the same generated fragments the Spark DataFrame build uses
    (`_lr_cramer_exprs`)."""
    casts = ", ".join(
        f"CAST({s} AS DOUBLE) AS d{s[1:]}" for s in _LR_SUM_NAMES
    )
    rows = [
        f"SELECT '{feat}' AS feature, {expr} AS coefficient FROM d"
        for feat, expr in _lr_cramer_exprs()
    ]
    body = "\nUNION ALL\n".join(rows)
    # returned WITHOUT the leading WITH so callers can prepend their own
    # CTEs (the oracle adds the sums CTE; Spark reads a temp view).
    return (
        f"d AS (SELECT {casts} FROM {sums_ref})\n"
        f"SELECT feature, coefficient FROM ({body}) ORDER BY feature"
    )


@register(
    "ml_linreg_normal",
    oracle=(
        "WITH s AS MATERIALIZED ("
        + _LR_SUMS_SQL.format(grid=_LR_GRID_SQL.format(tbl="lineitem"))
        + "),\n"
        + _lr_cramer_select("s")
    ),
)
def ml_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression by distributed normal equations — the
    one-pass GLM fit: accumulate X'X and X'y as plain aggregates, solve
    the (d+1)×(d+1) system on the driver.

    The whole fact table reduces to d(d+1)/2 + d + 1 = 14 sums here
    (intercept included) in ONE map-combining aggregation — the same
    sufficient-statistics posture as emb_pca's covariance and
    lightcurve_trend's five-sum line fit, generalized to d features.
    At 100 TB the reduce stage carries 14 values total; the solve is
    O(d³) on a 4×4 matrix. This is exactly how MLlib's "normal" solver
    fits linear/ridge models; ridge = add λ to the X'X diagonal before
    solving, streaming = keep the sums as running state.

    Promoted rows-only → oracle-checked (VERDICT r6 task 2): the
    features live on exact integer grids (quantity is integer-valued;
    discount/tax/price are 2-decimal money → ×100), so X'X and X'y are
    EXACT BIGINTs whose accumulation order cannot matter — and the 4×4
    solve is Cramer's rule as GENERATED expression fragments shared by
    both engines (`_lr_cramer_exprs`): Spark applies them through the
    DataFrame API (converted from the temp-view spark.sql form per the
    VERDICT r9 task-4 hygiene), DuckDB through the assembled SQL, so
    the double-precision coefficient arithmetic stays evaluation-
    order-identical and the output bit-equal.
    tests/test_scale_patterns.py still pins the fit against numpy
    lstsq on the (rescaled) design matrix.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        grid("l_discount", 2).alias("dc"),
        grid("l_tax", 2).alias("tc"),
        grid("l_extendedprice", 2).alias("yc"),
    )
    sums = g.agg(
        F.count(F.lit(1)).cast("long").alias("sn"),
        F.sum("q").cast("long").alias("sq"),
        F.sum("dc").cast("long").alias("sd"),
        F.sum("tc").cast("long").alias("st"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        F.sum(F.col("q") * F.col("dc")).cast("long").alias("sqd"),
        F.sum(F.col("q") * F.col("tc")).cast("long").alias("sqt"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sdd"),
        F.sum(F.col("dc") * F.col("tc")).cast("long").alias("sdt"),
        F.sum(F.col("tc") * F.col("tc")).cast("long").alias("stt"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum(F.col("q") * F.col("yc")).cast("long").alias("sqy"),
        F.sum(F.col("dc") * F.col("yc")).cast("long").alias("sdy"),
        F.sum(F.col("tc") * F.col("yc")).cast("long").alias("sty"),
    )
    d = sums.select(
        *[F.col(s).cast("double").alias(f"d{s[1:]}") for s in _LR_SUM_NAMES]
    ).localCheckpoint(eager=True)
    out = None
    for feat, expr in _lr_cramer_exprs():
        row = d.select(
            F.lit(feat).alias("feature"),
            F.expr(expr).alias("coefficient"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("feature")


#: grid-density clustering: cell edge (centi-degrees).
_GRID_CELL = 1200


@register(
    "cluster_grid_density",
    oracle=f"""
WITH RECURSIVE cat AS ({sky_catalog_sql()}),
cells AS (
  SELECT ra_c // {_GRID_CELL} AS x, (dec_c + 9000) // {_GRID_CELL} AS y,
         COUNT(*) AS n
  FROM cat GROUP BY 1, 2
),
tot AS (SELECT COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_pts FROM cells),
core AS (
  SELECT x, y, n, x * 100 + y AS node_id FROM cells, tot
  WHERE n * n_cells > n_pts
    AND (n * n_cells - n_pts) * (n * n_cells - n_pts)
        >= 4 * n_pts * n_cells
),
pairs AS (
  SELECT a.node_id AS ia, b.node_id AS ib
  FROM core a JOIN core b
    ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
   AND a.node_id < b.node_id
),
{components_sql("SELECT node_id FROM core")}
SELECT component AS cluster_id, COUNT(*) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_points
FROM comp JOIN core USING (node_id)
GROUP BY component
""",
)
def cluster_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering — the distributed DBSCAN approximation:
    bucket the synthetic sky catalog into fixed cells, mark cells more
    than 2 Poisson sigmas above the mean occupied-cell density as CORE
    (``n > λ + 2√λ`` in the cross-multiplied integer form
    ``(n·C − P)² ≥ 4·P·C`` with ``n·C > P`` — a FIXED multiple of the
    mean empties as λ grows since fluctuations scale as √λ; the
    sigma-relative cut stays meaningful at every scale factor),
    connect 8-adjacent core cells
    into clusters, and report each cluster's cell and point counts.

    This is how density clustering actually scales: point-level DBSCAN
    needs an ε-neighbor graph over n points (the n² trap the xmatch
    kernels exist to avoid); the grid form aggregates points ONCE into
    cells (map-side partials, shuffle = #occupied cells), and all the
    graph work — adjacency (`cell_join` at width 1, an equi-join on
    shifted keys), connected components (`components`, rounds bounded
    by the cluster diameter in cells) — happens in CELL space, which is
    thousands of times smaller than the data. DuckDB's recursive-CTE
    transitive closure (`components_sql`) is the independent fixpoint
    check.

    Determinism: cell ids and the core cut are pure integer arithmetic;
    cluster ids are the component-minimum cell label ``x·100 + y``.
    """
    cat = sky_catalog(spark, sf_dir)
    cells = (
        cat.groupBy(
            (F.col("ra_c") / _GRID_CELL).cast("long").alias("x"),
            ((F.col("dec_c") + 9000) / _GRID_CELL).cast("long").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.agg(
        F.count(F.lit(1)).alias("n_cells_tot"),
        F.sum("n").alias("n_pts"),
    )
    excess = F.col("n") * F.col("n_cells_tot") - F.col("n_pts")
    core = (
        cells.crossJoin(F.broadcast(tot))
        .filter(
            (excess > 0)
            & (excess * excess >= 4 * F.col("n_pts") * F.col("n_cells_tot"))
        )
        .select("x", "y", "n", (F.col("x") * 100 + F.col("y")).alias("node_id"))
        .localCheckpoint(eager=True)
    )
    pairs = cell_join(
        core, core, ("x", "y"), ("x", "y"), (1, 1),
        home_cols=(F.col("node_id").alias("ia"),),
        away_cols=(F.col("node_id").alias("ib"),),
    ).filter(F.col("ia") < F.col("ib")).select("ia", "ib")
    labels = components(core.select("node_id"), pairs)
    return (
        labels.join(core, "node_id")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_cells"), F.sum("n").alias("n_points"))
    )


def _suff_terms():
    """(name, sql_expr, scale) for every normal-equation sufficient
    statistic over features (1, l_quantity, l_discount, l_tax) and
    target l_extendedprice — xx pairs at 1e6 (products ≤ 2.5e3), xy at
    1e4 (products ≤ ~5.5e6): both keep the sf0.1 long sums far from
    2^63."""
    cols = {"one": "1.0", "qty": "l_quantity", "disc": "l_discount",
            "tax": "l_tax"}
    names = list(cols)
    out = []
    for i, a in enumerate(names):
        for b in names[i:]:
            out.append(
                (f"xx_{a}_{b}", f"({cols[a]}) * ({cols[b]})", 1_000_000.0)
            )
        out.append((f"xy_{a}", f"({cols[a]}) * l_extendedprice", 10_000.0))
    return out


@register(
    "ml_linreg_suffstats",
    oracle="SELECT "
    + ", ".join(
        f"CAST(SUM({grid_sql(f'({expr}) * {s}', 0)}) AS DOUBLE)"
        f" / {s} AS {name}"
        for name, expr, s in _suff_terms()
    )
    + " FROM lineitem",
)
def ml_linreg_suffstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED half of `ml_linreg_normal`, hash-verified: all
    14 normal-equation sufficient statistics (X'X upper triangle and
    X'y, intercept included) as exact scaled-long sums in ONE
    map-combining aggregation. Since round 7 `ml_linreg_normal` is
    ALSO oracle-checked (shared-text Cramer solve on these exact
    sums); this key still pins the part that actually touches data in
    isolation — at 100 TB the solve is O(1), so a green row here IS
    the regression's distributed correctness.
    Per-term scales keep the largest sf0.1 accumulations (~3e16) well
    inside the long range (functions/exact.py bound).
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        (
            F.sum(grid(F.expr(expr) * F.lit(s), 0)).cast("double")
            / F.lit(s)
        ).alias(name)
        for name, expr, s in _suff_terms()
    ]
    return li.agg(*aggs)


#: integer-gridded assignment: (a-b)^2 floor-gridded to nano-units per
#: dimension, accumulated as exact longs inside the lambda — argmin by
#: (d2n, cluster) via lexicographic struct min, engine-exact.
_ASSIGN_EXACT_EXPR = f"""
array_min(transform(C, c -> struct(
  aggregate(zip_with(vec, c.cvec,
                     (a, b) -> {grid_sql('(a - b) * (a - b)', 9)}),
            CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d2n,
  c.cluster AS cluster)))
"""


@register(
    "kmeans_one_round",
    oracle=f"""
WITH seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cluster,
         embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {_K}
),
dist AS (
  SELECT p.vec_id, s.cluster,
         SUM({grid_sql('''
           (CAST(p.embedding[i::INT] AS DOUBLE)
            - CAST(s.cvec[i::INT] AS DOUBLE))
           * (CAST(p.embedding[i::INT] AS DOUBLE)
              - CAST(s.cvec[i::INT] AS DOUBLE))''', 9)}) AS d2n
  FROM embeddings p, seeds s, range(1, 65) t(i)
  GROUP BY p.vec_id, s.cluster
),
best AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2n, cluster) AS rn
    FROM dist
  ) WHERE rn = 1
)
SELECT b.cluster, i - 1 AS dim, COUNT(*) AS n,
       CAST(SUM({grid_sql('CAST(p.embedding[i::INT] AS DOUBLE)', 6)}) AS DOUBLE)
         / 1000000.0 / COUNT(*) AS centroid
FROM best b JOIN embeddings p ON p.vec_id = b.vec_id, range(1, 65) t(i)
GROUP BY b.cluster, i
""",
)
def kmeans_one_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Lloyd iteration, made engine-exact and hash-verified — the
    kernel `kmeans_lloyd` repeats: deterministic seeds (the k lowest
    vec_ids), nearest-centroid assignment with per-dimension squared
    differences floor-gridded to nano-units (the distance accumulates
    as an exact long inside the lambda, so the argmin and its
    (distance, cluster) tie-break are identical in both engines), then
    the centroid update as micro-gridded means per (cluster, dim).

    Why this key exists: it pins ONE canonical round in isolation
    (since round 7 the full fit `kmeans_lloyd` is also oracle-checked
    on the integer grid), and everything
    the CLUSTER actually executes — the narrow literal-broadcast
    assignment projection and the (cluster, dim)-keyed update
    aggregation — is this round, and a green hash row here verifies it
    end-to-end. Same division as ml_linreg_suffstats: hash the
    distributed kernel, pytest the driver-side iteration.
    """
    pts = _load_points(spark, sf_dir)
    seeds = _init_centroids(pts, _K)
    assigned = (
        pts.withColumn("C", _centroid_literal(seeds))
        .withColumn("best", F.expr(_ASSIGN_EXACT_EXPR))
        .select("vec_id", "vec", F.col("best.cluster").alias("cluster"))
    )
    ex = assigned.select(
        "cluster", F.posexplode("vec").alias("dim", "v")
    )
    return ex.groupBy(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dim").cast("long").alias("dim"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(grid("v", 6)).cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1))
        ).alias("centroid"),
    )


def _split_hist_sql(tbl: str) -> str:
    """Histogram split-finding query, shared VERBATIM by Spark and
    DuckDB (the `ml_linreg_normal` shared-text discipline): bin counts
    and label sums are exact BIGINTs; only the final gain score is
    double, computed from identical expression text on identical ints,
    so the argmax row is bit-for-bit the same in both engines."""
    return f"""
WITH g AS (
  SELECT CAST(l_quantity AS BIGINT) AS qb,
         {grid_sql('l_discount', 2)} AS db,
         {grid_sql('l_tax', 2)} AS tb,
         {grid_sql('l_extendedprice', 2)} AS yc
  FROM {tbl}),
bins AS (
  SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS BIGINT) AS sy
  FROM (
    SELECT 'quantity' AS feature, qb AS bin, yc FROM g
    UNION ALL SELECT 'discount', db, yc FROM g
    UNION ALL SELECT 'tax', tb, yc FROM g)
  GROUP BY feature, bin),
tot AS (
  SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(sy) AS BIGINT) AS st
  FROM bins GROUP BY feature),
cum AS (
  SELECT feature, bin,
         CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS nl,
         CAST(SUM(sy) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS sl
  FROM bins),
scored AS (
  SELECT c.feature, c.bin, c.nl,
         CAST(c.sl AS DOUBLE) * CAST(c.sl AS DOUBLE) / CAST(c.nl AS DOUBLE)
         + CAST(t.st - c.sl AS DOUBLE) * CAST(t.st - c.sl AS DOUBLE)
           / CAST(t.nt - c.nl AS DOUBLE) AS score
  FROM cum c JOIN tot t ON t.feature = c.feature
  WHERE c.nl < t.nt),
best AS (
  SELECT feature, bin, nl, score,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY score DESC, bin) AS rn
  FROM scored)
SELECT feature, bin AS split_bin, nl AS n_left, score AS gain_score
FROM best WHERE rn = 1 ORDER BY feature
"""


@register("ml_split_histogram", oracle=_split_hist_sql("lineitem"))
def ml_split_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based best-split finding — the kernel inside every
    modern gradient-boosted-tree trainer (XGBoost ``hist``, LightGBM):
    instead of sorting each feature (the classic CART O(n log n) per
    feature per node), bucket feature values into integer bins, reduce
    (count, Σ label) per bin in ONE map-side-combinable pass, then scan
    the |bins|-sized cumulative table for the variance-reduction-
    maximizing threshold. At 100 TB the data-sized work is exactly one
    grouped aggregation whose key space is |features|×|bins| (here
    3×≤51) — the shuffle carries bins, never rows, which is precisely
    why the histogram algorithm wins at scale.

    Gain = SL²/nL + SR²/nR (squared-loss parent term constant across
    thresholds, so argmax over this child term ≡ argmax variance
    reduction). Bin stats are exact integers on the money/percent
    grids; the score is double but mirrored operand-for-operand, so
    Spark and DuckDB agree on the argmax bit-for-bit — the per-feature
    winner row hash-matches. One tree level = re-running this with the
    split filter applied; a full trainer loops it per node over
    residuals. Spark builds the kernel through the DataFrame API
    (converted from the shared-SQL form).
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        F.col("l_quantity").cast("long").alias("qb"),
        grid("l_discount", 2).alias("db"),
        grid("l_tax", 2).alias("tb"),
        grid("l_extendedprice", 2).alias("yc"),
    )
    u = (
        g.select(F.lit("quantity").alias("feature"),
                 F.col("qb").alias("bin"), "yc")
        .unionAll(g.select(F.lit("discount"), F.col("db"), "yc"))
        .unionAll(g.select(F.lit("tax"), F.col("tb"), "yc"))
    )
    bins = u.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yc").cast("long").alias("sy"),
    )
    tot = bins.groupBy("feature").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("sy").cast("long").alias("st"),
    )
    wcum = Window.partitionBy("feature").orderBy("bin")
    cum = bins.select(
        "feature", "bin",
        F.sum("n").over(wcum).cast("long").alias("nl"),
        F.sum("sy").over(wcum).cast("long").alias("sl"),
    )
    scored = (
        cum.join(tot, "feature")
        .filter(F.col("nl") < F.col("nt"))
        .select(
            "feature", "bin", "nl",
            (
                F.col("sl").cast("double") * F.col("sl").cast("double")
                / F.col("nl").cast("double")
                + (F.col("st") - F.col("sl")).cast("double")
                * (F.col("st") - F.col("sl")).cast("double")
                / (F.col("nt") - F.col("nl")).cast("double")
            ).alias("score"),
        )
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("feature").orderBy(
                F.col("score").desc(), "bin"
            )
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            "feature", F.col("bin").alias("split_bin"),
            F.col("nl").alias("n_left"),
            F.col("score").alias("gain_score"),
        )
        .orderBy("feature")
    )


def _gbt_boost_sql(tbl: str, div: str, mat: str) -> str:
    """Two boosting rounds of histogram stumps, one template for both
    dialects (tokens: integer-division `div`/`//` and the DuckDB
    `MATERIALIZED` CTE hint — without it DuckDB inlines each CTE into
    its ~3 downstream references and the plan explodes ~3^k, the
    round-7 promotion lesson). Bin stats and leaf means are exact
    integers (means via truncating integer division — both engines
    truncate); only the gain score is double, from shared expression
    text, so the per-round winner rows hash bit-for-bit."""

    def score(sl: str, nl: str, st: str, nt: str) -> str:
        return (
            f"CAST({sl} AS DOUBLE) * CAST({sl} AS DOUBLE)"
            f" / CAST({nl} AS DOUBLE)"
            f" + CAST({st} - {sl} AS DOUBLE) * CAST({st} - {sl} AS DOUBLE)"
            f" / CAST({nt} - {nl} AS DOUBLE)"
        )

    def stump(src: str, b: str, t: str, c: str, s: str, w: str) -> str:
        """One histogram-stump round over (qb, db, <target>) rows."""
        return f"""
{b} AS {mat} (
  SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy
  FROM (SELECT 'quantity' AS feature, qb AS bin, y FROM {src}
        UNION ALL SELECT 'discount', db, y FROM {src}) u
  GROUP BY feature, bin),
{t} AS {mat} (
  SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(sy) AS BIGINT) AS st
  FROM {b} GROUP BY feature),
{c} AS {mat} (
  SELECT feature, bin,
         CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS nl,
         CAST(SUM(sy) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS sl
  FROM {b}),
{s} AS {mat} (
  SELECT c.feature, c.bin, c.nl, c.sl, t.nt, t.st,
         {score('c.sl', 'c.nl', 't.st', 't.nt')} AS score
  FROM {c} c JOIN {t} t ON t.feature = c.feature
  WHERE c.nl < t.nt),
{w} AS {mat} (
  SELECT feature, bin AS split_bin, nl, nt,
         sl {div} nl AS ml, (st - sl) {div} (nt - nl) AS mr, score
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, feature, bin)
               AS rn
        FROM {s}) z
  WHERE rn = 1)"""

    return f"""
WITH g AS {mat} (
  SELECT CAST(l_quantity AS BIGINT) AS qb,
         {grid_sql('l_discount', 2)} AS db,
         {grid_sql('l_extendedprice', 2)} AS y
  FROM {tbl}),
{stump('g', 'b1', 't1', 'c1', 's1', 'w1')},
r AS {mat} (
  SELECT g.qb, g.db,
         g.y - (CASE WHEN (CASE WHEN w1.feature = 'quantity'
                                THEN g.qb ELSE g.db END) <= w1.split_bin
                     THEN w1.ml ELSE w1.mr END) AS y
  FROM g, w1),
{stump('r', 'b2', 't2', 'c2', 's2', 'w2')}
SELECT CAST(1 AS BIGINT) AS round, feature,
       CAST(split_bin AS BIGINT) AS split_bin, nl AS n_left,
       ml AS mean_left_cents, mr AS mean_right_cents, score AS gain_score
FROM w1
UNION ALL
SELECT CAST(2 AS BIGINT), feature, CAST(split_bin AS BIGINT), nl, ml, mr,
       score
FROM w2
ORDER BY round
"""


@register(
    "ml_gbt_stump_boost",
    oracle=_gbt_boost_sql("lineitem", "//", "MATERIALIZED"),
)
def ml_gbt_stump_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with histogram stumps — the
    `ml_split_histogram` kernel run as an actual boosting LOOP:
    round 1 fits the best single split on the raw target, rows are
    re-labeled with their integer residual (y − leaf mean), and round 2
    fits the best split on the residuals. On the fixtures round 2
    genuinely picks a DIFFERENT feature (discount) than round 1
    (quantity) — the residual really does rotate the gain landscape,
    which is the whole point of boosting.

    Scale: each round is one map-side-combinable aggregation whose key
    space is |features|×|bins|; the residual step is a narrow
    projection against the broadcast 1-row winner. T rounds of
    boosting = T such passes — at 100 TB the histogram trick is what
    makes GBT trainable at all, and this is that inner loop verbatim.
    Leaf means use truncating integer division (identical in both
    engines — all quantities positive) so residuals stay exact
    integers through every round. Spark builds both rounds through the
    DataFrame API (converted from the shared-SQL form): one python
    helper per stump round, the residual step a narrow projection
    against the broadcast 1-row winner. Two plan-shape guards keep the
    pass count at exactly T scans for T rounds (the r10 conversion had
    drifted to ~10 — VERDICT r10 audit): the per-stump feature fan-out
    is explode(array(struct...)) inside the scan stage rather than a
    self-unionAll that reads the source twice, and each round's 1-row
    winner is localCheckpointed so the next round's plan (and the
    final union) never re-derives the previous round's subtree —
    exactly how a real GBT trainer persists per-round models.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        F.col("l_quantity").cast("long").alias("qb"),
        grid("l_discount", 2).alias("db"),
        grid("l_extendedprice", 2).alias("y"),
    )

    def stump(src: DataFrame) -> DataFrame:
        u = src.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("quantity").alias("feature"),
                        F.col("qb").alias("bin"),
                    ),
                    F.struct(
                        F.lit("discount").alias("feature"),
                        F.col("db").alias("bin"),
                    ),
                )
            ).alias("fb"),
            "y",
        ).select("fb.feature", "fb.bin", "y")
        b = u.groupBy("feature", "bin").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
        t = b.groupBy("feature").agg(
            F.sum("n").cast("long").alias("nt"),
            F.sum("sy").cast("long").alias("st"),
        )
        wcum = Window.partitionBy("feature").orderBy("bin")
        c = b.select(
            "feature", "bin",
            F.sum("n").over(wcum).cast("long").alias("nl"),
            F.sum("sy").over(wcum).cast("long").alias("sl"),
        )
        s = (
            c.join(t, "feature")
            .filter(F.col("nl") < F.col("nt"))
            .select(
                "feature", "bin", "nl", "sl", "nt", "st",
                (
                    F.col("sl").cast("double")
                    * F.col("sl").cast("double")
                    / F.col("nl").cast("double")
                    + (F.col("st") - F.col("sl")).cast("double")
                    * (F.col("st") - F.col("sl")).cast("double")
                    / (F.col("nt") - F.col("nl")).cast("double")
                ).alias("score"),
            )
        )
        return (
            s.withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(
                        F.col("score").desc(), "feature", "bin"
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "feature", F.col("bin").alias("split_bin"), "nl", "nt",
                F.expr("sl div nl").alias("ml"),
                F.expr("(st - sl) div (nt - nl)").alias("mr"),
                "score",
            )
        )

    w1 = stump(g).localCheckpoint(eager=True)  # 1 row: round-1 model
    r = g.crossJoin(F.broadcast(w1)).select(
        "qb", "db",
        F.expr(
            "y - (CASE WHEN (CASE WHEN feature = 'quantity' THEN qb"
            " ELSE db END) <= split_bin THEN ml ELSE mr END)"
        ).alias("y"),
    )
    w2 = stump(r)

    def out(w: DataFrame, rnd: int) -> DataFrame:
        return w.select(
            F.lit(rnd).cast("long").alias("round"), "feature",
            F.col("split_bin").cast("long").alias("split_bin"),
            F.col("nl").alias("n_left"),
            F.col("ml").alias("mean_left_cents"),
            F.col("mr").alias("mean_right_cents"),
            F.col("score").alias("gain_score"),
        )

    return out(w1, 1).unionAll(out(w2, 2)).orderBy("round")


def _isotonic_sql(tbl: str, hex4: str, div: str) -> str:
    """Isotonic (monotone) regression via the MINIMAX identity
    fitted(i) = max_{a<=i} min_{b>=i} avg(a..b) — the closed-form twin
    of pool-adjacent-violators that needs NO sequential pass, so it is
    expressible as prefix sums + an O(|bins|^2) pair join + two
    windows, identical in both engines (verified == a reference PAV
    implementation). Interval averages are single double divisions of
    exact integer sums; min/max over those doubles are order-free.
    Tokens: the hex-to-int expression (``md5_int_sql``) and integer
    division."""
    binned = f"""
WITH raw AS (
  SELECT ({grid_sql('o_totalprice', 2)} {div} 4000000)
           + ({hex4} % 7) AS bin,
         CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END AS y
  FROM {tbl}),
bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(y) AS BIGINT) AS s
  FROM raw GROUP BY bin)"""
    return binned + _isotonic_core_sql()


def _isotonic_core_sql() -> str:
    """The minimax fit over an existing ``bins(bin, w, s)`` CTE/view —
    split out so tests can plant synthetic bins directly."""
    return """,
pre AS (
  SELECT bin, w, s,
         CAST(SUM(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
         CAST(SUM(s) OVER (ORDER BY bin) AS BIGINT) AS cs
  FROM bins),
pairs AS (
  SELECT a.bin AS a, b.bin AS b,
         CAST(b.cs - a.cs + a.s AS DOUBLE)
           / CAST(b.cw - a.cw + a.w AS DOUBLE) AS avg_ab
  FROM pre a JOIN pre b ON a.bin <= b.bin),
rmin AS (
  SELECT a, b,
         MIN(avg_ab) OVER (PARTITION BY a ORDER BY b DESC) AS m
  FROM pairs),
fit AS (
  SELECT b AS bin, MAX(m) AS fitted
  FROM rmin WHERE a <= b GROUP BY b)
SELECT f.bin, bi.w, bi.s,
       CAST(bi.s AS DOUBLE) / CAST(bi.w AS DOUBLE) AS raw_rate, f.fitted
FROM fit f JOIN bins bi ON bi.bin = f.bin
ORDER BY f.bin
"""


@register(
    "ml_isotonic_calibration",
    oracle=_isotonic_sql(
        "orders", md5_int_sql("CAST(o_orderkey AS VARCHAR)", 1, 4), "//"
    ),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression — the standard score-calibration step after
    any classifier (monotone map from score to probability, no
    parametric shape). Scores here are noisy price bins (price signal
    + md5 jitter) against a threshold label, so the raw per-bin rates
    genuinely violate monotonicity and the fit genuinely pools them.

    The textbook algorithm (PAV) is a sequential stack — hostile to
    both SQL and distributed execution. This operator instead computes
    the identical function through the minimax characterization over a
    COLLAPSED bin table: the data-sized pass is one |bins|-key
    aggregation; the O(|bins|^2) pair join and windows run on ~20
    rows. That is also the right 100-TB shape: calibration always
    operates on binned sufficient statistics, never raw rows.
    Verified equal to a reference PAV in tests; oracle-hash bit-exact
    (single-division doubles, order-free min/max). Spark builds the
    kernel through the DataFrame API (converted from the shared-SQL
    form); the oracle keeps the SQL template, and the planted-bins
    test path keeps `_isotonic_core_sql`.
    """
    o = load_table(spark, sf_dir, "orders")
    raw = o.select(
        (
            F.expr(
                f"{grid_sql('o_totalprice', 2)}"
                " div 4000000"
            )
            + md5_int(F.col("o_orderkey").cast("string"), 1, 4) % 7
        ).alias("bin"),
        F.when(F.col("o_totalprice") > 200000.0, 1).otherwise(0)
        .alias("y"),
    )
    bins = raw.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.sum("y").cast("long").alias("s"),
    )
    pre = bins.select(
        "bin", "w", "s",
        F.sum("w").over(Window.orderBy("bin")).cast("long").alias("cw"),
        F.sum("s").over(Window.orderBy("bin")).cast("long").alias("cs"),
    )
    a = pre.select(
        F.col("bin").alias("a"), F.col("w").alias("aw"),
        F.col("s").alias("as_"), F.col("cw").alias("acw"),
        F.col("cs").alias("acs"),
    )
    b = pre.select(
        F.col("bin").alias("b"), F.col("cw").alias("bcw"),
        F.col("cs").alias("bcs"),
    )
    pairs = a.join(F.broadcast(b), F.col("a") <= F.col("b")).select(
        "a", "b",
        (
            (F.col("bcs") - F.col("acs") + F.col("as_")).cast("double")
            / (F.col("bcw") - F.col("acw") + F.col("aw")).cast("double")
        ).alias("avg_ab"),
    )
    rmin = pairs.select(
        "a", "b",
        F.min("avg_ab").over(
            Window.partitionBy("a").orderBy(F.col("b").desc())
        ).alias("m"),
    )
    fit = (
        rmin.filter(F.col("a") <= F.col("b"))
        .groupBy(F.col("b").alias("bin"))
        .agg(F.max("m").alias("fitted"))
    )
    return (
        fit.join(bins, "bin")
        .select(
            "bin", "w", "s",
            (F.col("s").cast("double") / F.col("w").cast("double"))
            .alias("raw_rate"),
            "fitted",
        )
        .orderBy("bin")
    )


def _lr_attr_oracle() -> str:
    """DuckDB oracle for `ml_linear_attribution`, assembled from the
    same generated Cramer fragments as `ml_linreg_normal`."""
    exprs = dict(_lr_cramer_exprs())
    casts = ", ".join(
        f"CAST({s} AS DOUBLE) AS d{s[1:]}" for s in _LR_SUM_NAMES
    )
    return f"""
WITH s AS MATERIALIZED (
{_LR_SUMS_SQL.format(grid=_LR_GRID_SQL.format(tbl="lineitem"))}
),
d AS MATERIALIZED (SELECT {casts} FROM s),
coef AS MATERIALIZED (
  SELECT {exprs['l_quantity']} AS bq,
         {exprs['l_discount']} AS bd,
         {exprs['l_tax']} AS bt,
         dq / dn AS mq, dd / dn AS md, dt / dn AS mt
  FROM d),
g AS ({_LR_GRID_SQL.format(tbl="lineitem")}),
phi AS (
  SELECT {grid_sql('abs(c.bq * (g.q - c.mq))', 3)} AS p1,
         {grid_sql('abs(c.bd * (g.dc - c.md))', 3)} AS p2,
         {grid_sql('abs(c.bt * (g.tc - c.mt))', 3)} AS p3
  FROM g, coef c),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(p1) AS BIGINT) AS s1,
         CAST(SUM(p2) AS BIGINT) AS s2,
         CAST(SUM(p3) AS BIGINT) AS s3
  FROM phi)
SELECT * FROM (
  SELECT 'l_quantity' AS feature, n,
         s1 AS sum_absphi_milli,
         s1 // n AS mean_absphi_milli,
         {grid_sql('''CAST(s1 AS DOUBLE)
                    / CAST(s1 + s2 + s3 AS DOUBLE)''', 6)} AS share_micro
  FROM tot
  UNION ALL
  SELECT 'l_discount', n, s2, s2 // n,
         {grid_sql('''CAST(s2 AS DOUBLE)
                    / CAST(s1 + s2 + s3 AS DOUBLE)''', 6)} FROM tot
  UNION ALL
  SELECT 'l_tax', n, s3, s3 // n,
         {grid_sql('''CAST(s3 AS DOUBLE)
                    / CAST(s1 + s2 + s3 AS DOUBLE)''', 6)} FROM tot
) ORDER BY feature
"""


@register("ml_linear_attribution", oracle=_lr_attr_oracle())
def ml_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature attribution for the linear model — closed-form
    Shapley values: for a linear model, feature j's Shapley value on a
    row is EXACTLY beta_j * (x_j - mean_j) (no sampling, no
    approximation), so global importance = mean |phi_j| — the model-
    explanation readout (the "which feature drives predictions"
    question), reported with each feature's share of total
    attribution. Complements `ml_linreg_normal` (coefficients say
    per-unit effect; attribution folds in each feature's actual
    dispersion — a tiny beta on a wide feature can dominate).

    Two passes: the sufficient-statistics aggregate (shared with the
    normal-equations fit — coefficients and feature means come off the
    same 14 exact sums via the SAME generated Cramer fragments in both
    engines), then one data-sized projection computing |phi| per row
    GRIDDED to milli before the per-feature sums, so the reductions
    are exact longs and the share is one double ratio of exact longs gridded to
    micro (an integer cross-multiply would overflow int64 at sf1 —
    found by the 10x sweep).

    100-TB posture: pass 1 reduces to 14 values; pass 2 is a narrow
    projection against the broadcast 1-row coefficient table plus one
    map-side-combinable 3-sum aggregate. Overflow: |phi|*1e3 <=
    ~1e10/row (price-cents scale) — the exact sums hold to ~1e8 rows
    per partition-merge ladder step at sf100; re-grid to centi past
    that (SCALE ledger).
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        grid("l_discount", 2).alias("dc"),
        grid("l_tax", 2).alias("tc"),
        grid("l_extendedprice", 2).alias("yc"),
    )
    sums = g.agg(
        F.count(F.lit(1)).cast("long").alias("sn"),
        F.sum("q").cast("long").alias("sq"),
        F.sum("dc").cast("long").alias("sd"),
        F.sum("tc").cast("long").alias("st"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        F.sum(F.col("q") * F.col("dc")).cast("long").alias("sqd"),
        F.sum(F.col("q") * F.col("tc")).cast("long").alias("sqt"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sdd"),
        F.sum(F.col("dc") * F.col("tc")).cast("long").alias("sdt"),
        F.sum(F.col("tc") * F.col("tc")).cast("long").alias("stt"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum(F.col("q") * F.col("yc")).cast("long").alias("sqy"),
        F.sum(F.col("dc") * F.col("yc")).cast("long").alias("sdy"),
        F.sum(F.col("tc") * F.col("yc")).cast("long").alias("sty"),
    )
    d = sums.select(
        *[F.col(s).cast("double").alias(f"d{s[1:]}") for s in _LR_SUM_NAMES]
    )
    exprs = dict(_lr_cramer_exprs())
    coef = d.select(
        F.expr(exprs["l_quantity"]).alias("bq"),
        F.expr(exprs["l_discount"]).alias("bd"),
        F.expr(exprs["l_tax"]).alias("bt"),
        F.expr("dq / dn").alias("mq"),
        F.expr("dd / dn").alias("md"),
        F.expr("dt / dn").alias("mt"),
    ).localCheckpoint(eager=True)
    phi = g.crossJoin(F.broadcast(coef)).select(
        grid(F.abs(F.col("bq") * (F.col("q") - F.col("mq"))), 3).alias("p1"),
        grid(F.abs(F.col("bd") * (F.col("dc") - F.col("md"))), 3).alias("p2"),
        grid(F.abs(F.col("bt") * (F.col("tc") - F.col("mt"))), 3).alias("p3"),
    )
    tot = phi.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p1").cast("long").alias("s1"),
        F.sum("p2").cast("long").alias("s2"),
        F.sum("p3").cast("long").alias("s3"),
    ).localCheckpoint(eager=True)
    out = None
    for feat, col in (
        ("l_quantity", "s1"), ("l_discount", "s2"), ("l_tax", "s3"),
    ):
        row = tot.select(
            F.lit(feat).alias("feature"),
            "n",
            F.col(col).alias("sum_absphi_milli"),
            F.expr(f"{col} div n").alias("mean_absphi_milli"),
            F.expr(
                grid_sql(f"CAST({col} AS DOUBLE) / CAST(s1 + s2 + s3 AS DOUBLE)", 6)
            ).alias("share_micro"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("feature")


#: spherical k-means: cluster count for the cosine round.
_SKM_K = 10


@register(
    "kmeans_spherical_round",
    oracle=f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', 6)} AS g
  FROM embeddings),
ss AS (
  SELECT vec_id, CAST(SUM(g * g) AS BIGINT) AS ss
  FROM dims GROUP BY vec_id),
nq AS (
  SELECT d.vec_id, d.i,
         {grid_sql('CAST(d.g AS DOUBLE) / SQRT(CAST(ss.ss AS DOUBLE))', 6)} AS q
  FROM dims d JOIN ss USING (vec_id)),
seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cluster,
         vec_id
  FROM embeddings ORDER BY vec_id LIMIT {_SKM_K}),
sq AS (
  SELECT s.cluster, n.i, n.q AS cq
  FROM seeds s JOIN nq n ON n.vec_id = s.vec_id),
dots AS (
  SELECT p.vec_id, s.cluster, CAST(SUM(p.q * s.cq) AS BIGINT) AS dot
  FROM nq p JOIN sq s ON s.i = p.i
  GROUP BY p.vec_id, s.cluster),
best AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cluster) AS rn
    FROM dots) z WHERE rn = 1)
SELECT b.cluster, n.i - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n.q) AS DOUBLE) / 1000000.0 / COUNT(*) AS centroid
FROM best b JOIN nq n USING (vec_id)
GROUP BY b.cluster, n.i
ORDER BY b.cluster, dim
""",
)
def kmeans_spherical_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE spherical k-means round — `kmeans_one_round`'s cosine
    sibling and the standard clustering step for embedding spaces
    (direction matters, magnitude doesn't — SemDeDup/dataset-pruning
    pipelines cluster exactly this way): L2-normalize every vector,
    assign each to the seed with the LARGEST dot product (cosine,
    since all operands are unit-norm), and recompute per-(cluster,
    dim) means of the normalized coordinates (a real trainer
    renormalizes the mean — the reported mean determines that unit
    vector up to the public constant).

    Exactness: coordinates land on the micro grid, the squared norm is
    an exact long sum, the normalized coordinate floor-grids ONE
    IEEE-identical double expression (g / sqrt(ss) — floor, multiply,
    divide and sqrt are all correctly rounded in IEEE float64, so
    numpy, python and DuckDB produce the same bits), and from there
    the dot products, the (dot DESC, cluster) argmax (numpy argmax
    takes the first max = lowest cluster) and the update sums are pure
    int64 — the `kmeans_one_round` discipline transplanted to cosine
    space.

    100-TB posture: ONE Arrow-batched pass (the `sim_knn_cosine`
    normalize-first gemm kernel shape): each batch normalizes, assigns
    via an int64 gemm against the broadcast k×dim seed matrix, and
    emits per-batch PARTIAL (cluster, dim, n, sum) rows — a manual
    map-side combine, so the only shuffle carries k·dim·|batches| tiny
    partials, never points. The first cut expressed assignment with
    nested higher-order-function lambdas; those are CodegenFallback
    (interpreted per row) and ran 6x slower at the 10x fixture — the
    measured reason this kernel is numpy. Overflow: |q| <= 1e6, dot <=
    64·1e12, q² sums <= 64·1e12 — int64-trivial; batch partial sums
    stay exact to ~9e6 members per cluster-dim at micro scale.
    """
    em = load_table(spark, sf_dir, "embeddings")

    def _norm_py(vec) -> list[int]:
        import math

        gv = [math.floor(float(x) * 1e6 + 0.5) for x in vec]
        ss = sum(x * x for x in gv)
        r = math.sqrt(float(ss))
        return [math.floor(x / r * 1e6 + 0.5) for x in gv]

    seed_raw = sorted(
        em.select("vec_id", "embedding").orderBy("vec_id")
        .limit(_SKM_K).collect(),
        key=lambda r: r["vec_id"],
    )
    import numpy as np

    seeds = np.array([_norm_py(r["embedding"]) for r in seed_raw],
                     dtype=np.int64)

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            g = np.floor(v * 1e6 + 0.5).astype(np.int64)
            ss = (g * g).sum(axis=1)
            nq = np.floor(
                g / np.sqrt(ss.astype(np.float64))[:, None] * 1e6 + 0.5
            ).astype(np.int64)
            # argmax takes the FIRST maximum = lowest cluster id — the
            # exact (dot DESC, cluster ASC) tie-break of the oracle
            assign = (nq @ seeds.T).argmax(axis=1)
            out = []
            for c in range(seeds.shape[0]):
                rows = nq[assign == c]
                if len(rows):
                    sm = rows.sum(axis=0)
                    out.extend(
                        (c + 1, d, len(rows), int(sm[d]))
                        for d in range(nq.shape[1])
                    )
            yield pd.DataFrame(
                out, columns=["cluster", "dim", "n_part", "s_part"]
            )

    part = em.select("embedding").mapInPandas(
        partials, "cluster INT, dim BIGINT, n_part BIGINT, s_part BIGINT"
    )
    return (
        part.groupBy("cluster", "dim")
        .agg(
            F.sum("n_part").cast("long").alias("n"),
            (
                F.sum("s_part").cast("double") / F.lit(1e6)
                / F.sum("n_part")
            ).alias("centroid"),
        )
        .orderBy("cluster", "dim")
    )


@register(
    "ml_categorical_split",
    oracle="""
WITH cats AS (
  SELECT o_orderpriority AS cat,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM orders GROUP BY o_orderpriority
),
ordered AS (
  SELECT cat, n, pos,
         ROW_NUMBER() OVER (ORDER BY CAST(pos AS DOUBLE) / n, cat) AS k,
         CAST(SUM(n) OVER (ORDER BY CAST(pos AS DOUBLE) / n, cat)
              AS BIGINT) AS nl,
         CAST(SUM(pos) OVER (ORDER BY CAST(pos AS DOUBLE) / n, cat)
              AS BIGINT) AS sl,
         CAST(SUM(n) OVER () AS BIGINT) AS nt,
         CAST(SUM(pos) OVER () AS BIGINT) AS st
  FROM cats
),
scored AS (
  SELECT k, cat, nl, sl, nt, st,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
         + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
           / CAST(nt - nl AS DOUBLE) AS score
  FROM ordered WHERE nl < nt
)
SELECT CAST(k AS BIGINT) AS split_prefix_len,
       cat AS last_left_category,
       nl AS n_left, sl AS pos_left, score AS gain_score
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, k) AS rn
      FROM scored) z
WHERE rn = 1
""",
)
def ml_categorical_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal binary split of a CATEGORICAL feature — Breiman's
    classic result (CART, 1984): for a binary target, the best of the
    2^(k-1) category subsets is always a PREFIX of the categories
    sorted by their positive rate, so k categories need k−1 candidate
    splits, not exponentially many. Sorts o_orderpriority by
    P(orderstatus = 'F'), scans the prefix boundary with the same
    sl²/nl + (st−sl)²/(nt−nl) gain `ml_split_histogram` uses, and
    reports the winning prefix. The numeric-split siblings
    (`ml_split_histogram`, `ml_gbt_stump_boost`) cover ordered
    features; this is the piece that makes the stump family handle
    enum columns the way real GBT/CART trainers do.

    Exactness: category counts and positive sums are exact longs; the
    sort key pos/n is one double division of exact longs, tie-broken
    by category name; the gain is the shared expression of exact ints;
    the argmax tie-breaks (score DESC, prefix).

    100-TB posture: one map-side-combinable aggregation collapses the
    data to |categories| rows (7 here); every window runs over that
    collapsed table — the rate sort never touches rows. At
    high-cardinality (ids masquerading as categories) the standard cap
    applies: bucket the tail into an 'other' class first.
    """
    o = load_table(spark, sf_dir, "orders")
    cats = o.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long").alias("pos"),
    )
    wr = Window.orderBy(F.col("pos").cast("double") / F.col("n"), "cat")
    ordered = cats.select(
        "cat", "n", "pos",
        F.row_number().over(wr).cast("long").alias("k"),
        F.sum("n").over(
            wr.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("nl"),
        F.sum("pos").over(
            wr.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("sl"),
        F.sum("n").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("nt"),
        F.sum("pos").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("st"),
    )
    scored = ordered.filter(F.col("nl") < F.col("nt")).select(
        "k", "cat", "nl", "sl", "nt", "st",
        (
            F.col("sl").cast("double") * F.col("sl").cast("double")
            / F.col("nl").cast("double")
            + (F.col("st") - F.col("sl")).cast("double")
            * (F.col("st") - F.col("sl")).cast("double")
            / (F.col("nt") - F.col("nl")).cast("double")
        ).alias("score"),
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("score").desc(), "k")),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("split_prefix_len"),
            F.col("cat").alias("last_left_category"),
            F.col("nl").alias("n_left"),
            F.col("sl").alias("pos_left"),
            F.col("score").alias("gain_score"),
        )
    )
