"""Similarity search over embedding columns (SURVEY.md §2.10).

The naive SQL brute force (higher-order-function dot product per pair,
norms recomputed inside every pair) measured 30.1 s at sf0.1 in the
baseline. The engine's kernel instead:

1. ℓ2-normalize once (JVM-side higher-order fns — one pass);
2. broadcast the smaller side as a dense numpy matrix (fits easily: even
   10M 64-dim float32 vectors ≈ 2.4 GB; at larger scale, block the
   broadcast side);
3. mapInPandas over the big side — one BLAS matrix multiply per Arrow
   batch + per-row candidate emission.

That is the canonical distributed brute-force ANN layout (all-pairs work
distributed over the big side, small side replicated). The IVF variant
restricts the multiply to probed cells; MLlib's random-projection LSH is
the third rung.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame
from ..functions.exact import grid, grid_sql
from ..registry import register

_TOP_K = 20

#: session → {sf_dir → broadcast of the normalized reference matrix}.
#: One collect + one broadcast per (session, sf_dir) — without the cache,
#: every kernel invocation (bench runs 3×, determinism tests 2×) leaks a
#:  full embedding-matrix broadcast for process lifetime.
_REF_BC: dict = {}

#: Exact-kernel ceiling (SCALE.md "Similarity"): the broadcast reference
#: matrix must fit comfortably in every executor. 2M × 64-dim float64
#: ≈ 1 GiB — past either bound the right tool is the ANN rung
#: (`ann_ivf` / `sim_knn_lsh`), not a bigger broadcast.
_REF_MAX_ROWS = 2_000_000
_REF_MAX_BYTES = 1 << 30


class BroadcastCeilingError(RuntimeError):
    """Reference side exceeds the exact-kernel broadcast ceiling."""


def _reference_broadcast(
    spark: SparkSession,
    sf_dir: str,
    e: DataFrame,
    max_rows: int = _REF_MAX_ROWS,
    max_bytes: int = _REF_MAX_BYTES,
):
    per_session = _REF_BC.setdefault(spark, {})
    bc = per_session.get(sf_dir)
    if bc is not None:
        return bc
    n = e.count()
    if n > max_rows:
        raise BroadcastCeilingError(
            f"exact-kNN reference side has {n} rows > ceiling {max_rows}; "
            "the broadcast kernel is the exact rung only — switch to "
            "ann_ivf (centroid-partitioned) or sim_knn_lsh (bucketed) "
            "for collections past the ceiling"
        )
    rows = e.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    if mat.nbytes > max_bytes:
        raise BroadcastCeilingError(
            f"exact-kNN reference matrix is {mat.nbytes} bytes > ceiling "
            f"{max_bytes}; switch to ann_ivf or sim_knn_lsh"
        )
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat))
    per_session[sf_dir] = bc
    return bc

def _normalize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "nvec": list(mat),
            }
        )


def normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with an ℓ2-normalized double-precision vector column.

    Normalization runs as ONE vectorized numpy pass per Arrow batch
    (mapInPandas). A pure-SQL rewrite that projects the norm into its own
    column does NOT survive optimization: Catalyst's CollapseProject
    inlines single-use aliases back into the divide lambda, and
    higher-order-function bodies re-evaluate per element — restoring the
    O(dim²)-per-row cost behind the 30 s naive baseline (verified against
    the optimized plan). The Arrow boundary is the barrier the optimizer
    can't collapse, and the numpy kernel is faster anyway."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    return e.mapInPandas(
        _normalize_batches, "vec_id BIGINT, label INT, nvec ARRAY<DOUBLE>"
    )


def cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    per_row_k: int = _TOP_K,
    threshold: float | None = None,
) -> DataFrame:
    """All candidate pairs (ia < ib) with cosine similarity, computed by
    the broadcast-matrix kernel. Emits each row's top-``per_row_k``
    partners — a superset of any global top-k ≤ per_row_k (a globally
    top-k pair is necessarily within its own row's top-k) — plus, when
    ``threshold`` is given, EVERY pair at or above it (so threshold
    consumers like dedup_embed_cosine see the complete pair set even
    when a vector has more than per_row_k qualifying partners).

    Normalization happens in numpy (one vectorized pass per side), not as
    a SQL ``aggregate`` lambda — the lambda re-evaluates the sum of
    squares once per *element*, measured ~1 s of pure overhead at sf0.1.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = _reference_broadcast(spark, sf_dir, e)

    def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            q_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            q_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
            sims = q_mat @ all_mat.T  # BLAS: the whole batch in one gemm
            # accumulate and emit ONE frame per Arrow batch — yielding a
            # tiny frame per query row makes the serializer concat
            # thousands of one-row frames (measured ~2× kernel overhead).
            out_ia: list[np.ndarray] = []
            out_ib: list[np.ndarray] = []
            out_cos: list[np.ndarray] = []
            for qi, qid in enumerate(q_ids):
                mask = all_ids > qid  # emit each pair once (ia < ib)
                if not mask.any():
                    continue
                cand_ids = all_ids[mask]
                cand_sims = sims[qi, mask]
                k = min(per_row_k, len(cand_ids))
                keep = np.argpartition(-cand_sims, k - 1)[:k]
                if threshold is not None:
                    above = np.nonzero(cand_sims >= threshold)[0]
                    keep = np.union1d(keep, above)
                out_ia.append(np.full(len(keep), qid, dtype=np.int64))
                out_ib.append(cand_ids[keep])
                out_cos.append(cand_sims[keep])
            if out_ia:
                yield pd.DataFrame(
                    {
                        "ia": np.concatenate(out_ia),
                        "ib": np.concatenate(out_ib),
                        "raw_cos": np.concatenate(out_cos),
                    }
                )

    return e.mapInPandas(block_topk, "ia BIGINT, ib BIGINT, raw_cos DOUBLE")


@register(
    "sim_knn_cosine",
    oracle=f"""
SELECT a.vec_id AS ia, b.vec_id AS ib,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos DESC, ia, ib
LIMIT {_TOP_K}
""",
)
def sim_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 most-similar embedding pairs, brute force.

    Ordering happens on the ROUNDED cosine (both engines), so the sort
    key is identical across engines; ia/ib break residual ties. Probed
    gap at the top-20 cutoff is 3.5e-4 — far above the ~1e-14
    BLAS-vs-sequential noise.
    """
    pairs = cosine_pairs(spark, sf_dir)
    return (
        pairs.select("ia", "ib", F.round("raw_cos", 6).alias("cos"))
        .orderBy(F.col("cos").desc(), "ia", "ib")
        .limit(_TOP_K)
    )


@register("sim_knn_lsh")  # rows-only: LSH hash functions are Spark-specific
def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-projection LSH (MLlib) —
    the sub-brute-force scale path. Seeded, so deterministic within
    Spark; recall vs brute force is asserted in tests/test_pipeline.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    norm = normalized_embeddings(spark, sf_dir).select(
        "vec_id", array_to_vector("nvec").alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=4,
        seed=42,
    ).fit(norm)
    # normalized vectors: cos = 1 - ||a-b||² / 2, so euclidean-LSH buckets
    # are cosine buckets.
    pairs = model.approxSimilarityJoin(norm, norm, 1.1, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("ia"),
            F.col("datasetB.vec_id").alias("ib"),
            F.round(1 - F.col("dist") * F.col("dist") / 2, 6).alias("approx_cos"),
        )
        .orderBy(F.col("approx_cos").desc(), "ia", "ib")
        .limit(100)
    )


@register(
    "sim_centroid_classify",
    oracle="""
WITH e AS (
  SELECT vec_id, label, i, embedding[i]::DOUBLE AS v
  FROM embeddings, range(1, 65) t(i)
),
cent AS (
  SELECT label AS clabel, i, round(avg(v), 6) AS c
  FROM e GROUP BY label, i
),
dist AS (
  SELECT e.vec_id, e.label, cent.clabel,
         sum((e.v - cent.c) * (e.v - cent.c)) AS d2
  FROM e JOIN cent USING (i)
  GROUP BY e.vec_id, e.label, cent.clabel
),
pred AS (
  SELECT vec_id, label, clabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
  FROM dist
)
SELECT label, clabel AS pred_label, COUNT(*) AS n
FROM pred WHERE rn = 1
GROUP BY label, clabel
""",
)
def sim_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids + nearest-centroid assignment → confusion
    counts. Pure relational vector math: posexplode to (vec, dim, value),
    centroid = avg per (label, dim) rounded to a common grid, distance =
    grouped sum of squares, argmin via window. Probed min margin between
    best and second-best centroid is 7.8e-6 ≫ float noise — assignment
    is engine-stable. At 100 TB the centroid table is tiny → broadcast.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        "label",
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "i", "v"
        ),
    )
    cent = flat.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.round(F.avg("v"), 6).alias("c")
    )
    dist = (
        flat.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("clabel").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("ann_ivf")  # rows-only: cell assignment uses engine-side kernels
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse cells (the label centroids stand in for a
    k-means codebook), nprobe=2 — each query searches only its 2 nearest
    cells' inverted lists instead of the full collection.

    Recall vs the exact kernel is asserted in tests/test_pipeline.py.
    At 100 TB: centroids broadcast; the inverted lists are just the table
    hash-partitioned by cell id, so each probe is a partition-pruned scan.
    """
    norm = normalized_embeddings(spark, sf_dir)
    # codebook: per-label mean vectors, collected driver-side (k×dim is
    # tiny by construction — it re-enters the plan as a literal, making
    # cell assignment a NARROW projection: no join, no window, no shuffle
    # of the dataset).
    cent_rows = (
        norm.select("label", F.posexplode("nvec").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg("v").alias("c"))
        .collect()
    )
    cents: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        cents.setdefault(r["label"], {})[r["i"]] = r["c"]
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(cell).alias("cell"),
                F.array(
                    *[F.lit(dims[i]) for i in sorted(dims)]
                ).alias("cvec"),
            )
            for cell, dims in sorted(cents.items())
        ]
    )
    # top-2 cells per vector: (-dot, cell) struct sort encodes "highest
    # dot wins, ties to the lower cell id".
    assign = norm.withColumn("C", cent_lit).select(
        "vec_id",
        "nvec",
        F.expr(
            "slice(array_sort(transform(C, c -> struct("
            "-aggregate(zip_with(nvec, c.cvec, (a, b) -> a * b), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS nd, "
            "c.cell AS cell))), 1, 2)"
        ).alias("cells"),
    )
    members = assign.select(
        F.col("vec_id").alias("m_id"),
        F.col("cells")[0]["cell"].alias("cell"),
        F.col("nvec").alias("m_vec"),
    )
    probes = (
        assign.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("q_id"),
            F.explode(F.expr("transform(cells, c -> c.cell)")).alias("cell"),
            F.col("nvec").alias("q_vec"),
        )
    )
    scored = (
        probes.join(members, "cell")
        .filter(F.col("q_id") != F.col("m_id"))
        .select(
            "q_id",
            "m_id",
            F.expr(
                "aggregate(zip_with(q_vec, m_vec, (a, b) -> a * b), "
                "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("cos"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "m_id")
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 3)
        .select("q_id", "m_id", F.round("cos", 6).alias("cos"), "rn")
        .orderBy("q_id", "rn")
    )


#: PQ geometry: 64-dim vectors → _PQ_M subspaces of _PQ_SUB dims; the 10
#: label means per subspace are the code words (a trained k-means
#: codebook slots in without changing the plan).
_PQ_M = 8
_PQ_SUB = 8


@register("ann_ivf_pq")  # rows-only: engine-side float kernels
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank — the deepest rung of the ANN ladder
    (after brute-force `sim_knn_cosine`, LSH `sim_knn_lsh`, and
    `ann_ivf`): members are stored as 8 one-byte PQ codes (32×
    compression of the 64-dim float vectors), candidate scoring reads
    ONLY the codes via asymmetric distance (query stays full-precision
    against the code words), and the exact vectors are fetched just for
    the top-50 shortlist re-rank.

    Layout at 100 TB: both codebooks (coarse cells + per-subspace code
    words) are driver-side literals — cell assignment and PQ encoding
    are NARROW projections, no shuffle of the collection. The inverted
    list (cell, codes) is 1/32 the bytes of the raw vectors, so the
    probe join shuffles compressed rows; only #queries × 10 full
    vectors move for the re-rank. Recall@3 vs the exact kernel is
    pinned in tests/test_pipeline.py.
    """
    norm = normalized_embeddings(spark, sf_dir)
    # coarse cells: per-(label, dim) means, one aggregation
    cent_rows = (
        norm.select("label", F.posexplode("nvec").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg("v").alias("c"))
        .collect()
    )
    cents: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        cents.setdefault(r["label"], {})[r["i"]] = r["c"]
    labels = sorted(cents)
    full = {lab: [dims[i] for i in sorted(dims)] for lab, dims in cents.items()}
    cell_lit = F.array(
        *[
            F.struct(
                F.lit(lab).alias("cell"),
                F.array(*[F.lit(x) for x in full[lab]]).alias("cvec"),
            )
            for lab in labels
        ]
    )
    # PQ codebooks: per-subspace k-means trained driver-side on a
    # BOUNDED deterministic sample (id-filtered, sorted — codebook
    # training is always a driver/sample step, even at 100 TB; the
    # data-sized encode below never leaves the executors).
    samp = (
        norm.filter(F.col("vec_id") < 1024)
        .select("vec_id", "nvec")
        .collect()
    )
    samp.sort(key=lambda r: r["vec_id"])
    X = np.array([r["nvec"] for r in samp], dtype=np.float64)
    ncodes = 16
    books: list[np.ndarray] = []
    for m in range(_PQ_M):
        S = X[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        # deterministic init: evenly spaced sample rows; 10 Lloyd steps
        C = S[np.linspace(0, len(S) - 1, ncodes).astype(int)].copy()
        for _ in range(10):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for k in range(ncodes):
                if (a == k).any():
                    C[k] = S[a == k].mean(axis=0)
        books.append(C)
    # flat literal indexed m*ncodes+code → 8-dim code word
    pq_flat = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in books[m][code]])
            for m in range(_PQ_M)
            for code in range(ncodes)
        ]
    )
    sub = f"slice(nvec, m * {_PQ_SUB} + 1, {_PQ_SUB})"
    d2 = (
        f"aggregate(zip_with({sub}, element_at(PQ, m * {ncodes} + code + 1), "
        "(a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    assign = norm.withColumn("C", cell_lit).withColumn("PQ", pq_flat).select(
        "vec_id",
        "nvec",
        F.expr(
            "slice(array_sort(transform(C, c -> struct("
            "-aggregate(zip_with(nvec, c.cvec, (a, b) -> a * b), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS nd, "
            "c.cell AS cell))), 1, 2)"
        ).alias("cells"),
        F.expr(
            f"transform(sequence(0, {_PQ_M - 1}), m -> "
            f"array_sort(transform(sequence(0, {ncodes - 1}), code -> "
            f"struct({d2} AS d2, code AS code)))[0].code)"
        ).alias("codes"),
    )
    # inverted list: cell + 8 codes — the compressed representation
    members = assign.select(
        F.col("vec_id").alias("m_id"),
        F.col("cells")[0]["cell"].alias("cell"),
        "codes",
    )
    probes = assign.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.explode(F.expr("transform(cells, c -> c.cell)")).alias("cell"),
        F.col("nvec").alias("q_vec"),
    )
    # asymmetric distance: query sub-vector · member's code word, summed
    # over subspaces — touches only the codes on the member side
    adc = (
        f"aggregate(sequence(0, {_PQ_M - 1}), CAST(0.0 AS DOUBLE), (acc, m) -> "
        f"acc + aggregate(zip_with(slice(q_vec, m * {_PQ_SUB} + 1, {_PQ_SUB}), "
        f"element_at(PQ, m * {ncodes} + element_at(codes, m + 1) + 1), "
        "(a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc2, x) -> acc2 + x))"
    )
    scored = (
        probes.join(members, "cell")
        .filter(F.col("q_id") != F.col("m_id"))
        .withColumn("PQ", pq_flat)
        .select("q_id", "q_vec", "m_id", F.expr(adc).alias("approx_cos"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("approx_cos").desc(), "m_id")
    shortlist = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 50)
        .select("q_id", "q_vec", "m_id", "approx_cos")
    )
    # exact re-rank: fetch full vectors for the shortlist only
    exact = shortlist.join(
        norm.select(F.col("vec_id").alias("m_id"), F.col("nvec").alias("m_vec")),
        "m_id",
    ).select(
        "q_id",
        "m_id",
        "approx_cos",
        F.expr(
            "aggregate(zip_with(q_vec, m_vec, (a, b) -> a * b), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("cos"),
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "m_id")
    return (
        exact.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 3)
        .select(
            "q_id",
            "m_id",
            F.round("approx_cos", 6).alias("approx_cos"),
            F.round("cos", 6).alias("cos"),
            "rn",
        )
        .orderBy("q_id", "rn")
    )


_EMB_OUTLIER_COS = 0.35


@register(
    "emb_outliers",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label, i,
         {grid_sql('embedding[i]::DOUBLE', 6)} AS v
  FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) t(i)
),
cent AS (
  SELECT label, i, CAST(SUM(v) AS BIGINT) AS c
  FROM q GROUP BY label, i
),
nb AS (
  SELECT label, CAST(SUM(c * c) AS BIGINT) AS nb FROM cent GROUP BY label
),
per_row AS (
  SELECT q.vec_id, q.label,
         CAST(SUM(q.v * cent.c) AS BIGINT) AS dot,
         CAST(SUM(q.v * q.v) AS BIGINT) AS na
  FROM q JOIN cent ON cent.label = q.label AND cent.i = q.i
  GROUP BY q.vec_id, q.label
)
SELECT p.vec_id, p.label,
       ROUND(CAST(p.dot AS DOUBLE)
             / (SQRT(CAST(p.na AS DOUBLE)) * SQRT(CAST(nb.nb AS DOUBLE))),
             6) AS cos_to_centroid
FROM per_row p JOIN nb ON nb.label = p.label
WHERE CAST(p.dot AS DOUBLE)
      / (SQRT(CAST(p.na AS DOUBLE)) * SQRT(CAST(nb.nb AS DOUBLE)))
        < {_EMB_OUTLIER_COS}
""",
)
def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outliers: vectors far from their OWN label's centroid
    (cosine below threshold) — the embedding-space mislabel/garbage
    detector a pipeline runs before training on labeled vectors
    (`anomaly_zscore`'s geometric sibling). One posexplode aggregation
    builds the centroid, re-assembled with an ordered collect; the
    distance is a relational zip_with dot product against each row's
    own-label centroid (broadcast join — #labels rows), so the
    data-sized side streams through one scan. Same centroid kernel as
    `sim_centroid_classify`, pointed inward at the label's own members.

    Exactness (the sf0.1 lesson — a float AVG centroid differed from
    the oracle's in the last ulp and flipped one rounded value at the
    1e-6 boundary): components quantize to the 1e-6 grid as longs, and
    the "centroid" is the per-dim SUM of quantized members — cosine is
    scale-invariant, so the unnormalized sum vector gives the same
    angle with NO division anywhere. dot and both norms are exact
    BIGINT sums; the one float expression (dot/√na·√nb) is identical
    text in both engines → bit-identical cosines. Overflow bound:
    |c| ≤ group_size·10⁶·max|v| must stay < ~3·10⁹ for c² to fit a
    long — thousands of members at unit-normish components; switch c²
    to DECIMAL past that.
    """
    em = load_table(spark, sf_dir, "embeddings")
    qv = F.expr(f"transform(embedding, v -> {grid_sql('CAST(v AS DOUBLE)', 6)})")
    cent = (
        em.select("label", F.posexplode(qv).alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.sum("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select(
            "label",
            F.expr("transform(ic, x -> x.c)").alias("cv"),
            F.expr(
                "aggregate(transform(ic, x -> x.c * x.c), 0L, (a, x) -> a + x)"
            ).alias("nb"),
        )
    )
    dot = (
        "aggregate(zip_with(qe, cv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
    )
    na = "aggregate(transform(qe, a -> a * a), 0L, (acc, x) -> acc + x)"
    cos = F.expr(
        f"CAST(({dot}) AS DOUBLE)"
        f" / (SQRT(CAST(({na}) AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))"
    )
    return (
        em.select("vec_id", "label", qv.alias("qe"))
        .join(F.broadcast(cent), "label")
        .select("vec_id", "label", cos.alias("raw_cos"))
        .where(F.col("raw_cos") < _EMB_OUTLIER_COS)
        .select(
            "vec_id", "label", F.round("raw_cos", 6).alias("cos_to_centroid")
        )
    )


#: hamming top-k per query for the binary-signature rung.
_HAM_K = 5


@register(
    "emb_bit_hamming",
    oracle=f"""
WITH sig AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN i <= 32 AND embedding[i] > 0.0
                       THEN (1::BIGINT << (i - 1)) ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN i > 32 AND embedding[i] > 0.0
                       THEN (1::BIGINT << (i - 33)) ELSE 0 END) AS BIGINT) AS hi
  FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) t(i)
  GROUP BY vec_id
),
q AS (SELECT * FROM sig WHERE vec_id % 100 = 0),
c AS (SELECT * FROM sig WHERE vec_id % 100 <> 0),
d AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
              AS BIGINT) AS hamming
  FROM q, c
)
SELECT q_id, cand_id, hamming, rnk
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY hamming, cand_id) AS BIGINT) AS rnk
      FROM d)
WHERE rnk <= {_HAM_K}
""",
)
def emb_bit_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: sign-bit signatures + packed hamming top-k.

    The 64-dim float vector (256 B) collapses to two 32-bit sign words
    (8 B) — a 32× memory cut, built once per row with a JVM higher-order
    fold (no UDF). Hamming distance is then two XOR+popcount
    instructions inside whole-stage codegen; sign-bit hamming is a
    monotone proxy for angular distance (the SimHash bound), which is
    why this is the standard cheap first pass before exact re-ranking
    (see emb_quantize / sim_knn_cosine for the re-rank kernels).

    At 100 TB: signatures are built map-only in the scan; the query set
    broadcasts (it is the small side by construction); the candidate
    side never shuffles — each partition scores locally and the per-
    query top-k merges through the final window on a tiny
    (n_queries × k × partitions) intermediate. Two 32-bit words rather
    than one 64-bit word keeps every shift inside both engines' safe
    integer range (DuckDB raises on 1 << 63).
    """
    e = load_table(spark, sf_dir, "embeddings")
    word = (
        "CAST(aggregate(sequence({lo}, {hi}), 0L, (acc, i) -> acc"
        " + CASE WHEN element_at(embedding, i + 1) > 0.0"
        " THEN shiftleft(1L, i - {lo}) ELSE 0L END) AS BIGINT)"
    )
    sig = e.select(
        "vec_id",
        F.expr(word.format(lo=0, hi=31)).alias("lo"),
        F.expr(word.format(lo=32, hi=63)).alias("hi"),
    )
    q = sig.filter(F.col("vec_id") % 100 == 0)
    c = sig.filter(F.col("vec_id") % 100 != 0)
    d = (
        c.alias("c")
        .crossJoin(F.broadcast(q.alias("q")))
        .select(
            F.col("q.vec_id").alias("q_id"),
            F.col("c.vec_id").alias("cand_id"),
            (
                F.bit_count(F.col("q.lo").bitwiseXOR(F.col("c.lo")))
                + F.bit_count(F.col("q.hi").bitwiseXOR(F.col("c.hi")))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "cand_id")
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _HAM_K)
    )


#: MMR diversified retrieval: shortlist size, output size, and the
#: λ=0.7 trade-off expressed as EXACT integer weights 7 / 3 (×10) so
#: the greedy recurrence has no float in it at all.
_MMR_POOL, _MMR_K = 50, 10
_MMR_NUM, _MMR_DEN = 7, 3  # λ·s − (1−λ)·m  ≡  (7·s − 3·m) / 10
_MMR_S = 4  # the 1e-4 grid keeps dot(item, Σ corpus) < 2^53 at every SF
_MMR_DIM = 64


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in pure SQL: pool and pairwise sims on the
    integer grid, then one (selection, accumulated-set) CTE pair per
    rank — step k orders the remaining pool by 7·rel − 3·max-sim-to-
    selected with a vec_id tie-break and keeps exactly one row."""
    gx = grid_sql("CAST(x AS DOUBLE)", _MMR_S)
    ctes = [
        f"""g AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> {gx}) AS e
  FROM embeddings)""",
        f"""q AS MATERIALIZED (
  SELECT i, SUM(e[i]) AS s FROM g, range(1, {_MMR_DIM + 1}) t(i)
  GROUP BY i)""",
        """relt AS MATERIALIZED (
  SELECT g.vec_id, CAST(SUM(g.e[q.i] * q.s) AS BIGINT) AS rel
  FROM g, q GROUP BY g.vec_id)""",
        f"""pool AS MATERIALIZED (
  SELECT g.vec_id, g.e, relt.rel
  FROM relt JOIN g ON g.vec_id = relt.vec_id
  ORDER BY relt.rel DESC, g.vec_id LIMIT {_MMR_POOL})""",
        f"""sims AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(SUM(a.e[i] * b.e[i]) AS BIGINT) AS sim
  FROM pool a, pool b, range(1, {_MMR_DIM + 1}) t(i)
  WHERE a.vec_id <> b.vec_id GROUP BY 1, 2)""",
        """s1 AS MATERIALIZED (
  SELECT vec_id, rel, CAST(0 AS INTEGER) AS rank
  FROM pool ORDER BY rel DESC, vec_id LIMIT 1)""",
        "a1 AS MATERIALIZED (SELECT vec_id FROM s1)",
    ]
    # every step CTE is MATERIALIZED: inlining would expand the
    # a{k} → s{k} → a{k-1} chain ~3^k-fold (each step references its
    # predecessor three times) and re-open the parquet per copy.
    for k in range(2, _MMR_K + 1):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT p.vec_id, p.rel, CAST({k - 1} AS INTEGER) AS rank
  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM a{k - 1})
  ORDER BY {_MMR_NUM} * p.rel - {_MMR_DEN} * (
      SELECT MAX(m.sim) FROM sims m
      WHERE m.ia = p.vec_id
        AND m.ib IN (SELECT vec_id FROM a{k - 1})) DESC, p.vec_id
  LIMIT 1)"""
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT vec_id FROM a{k - 1} "
            f"UNION ALL SELECT vec_id FROM s{k})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM s{k}" for k in range(1, _MMR_K + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT rank, vec_id, rel FROM ({union}) ORDER BY rank"
    )


@register("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the RAG/serving pattern
    where plain top-k returns ten near-copies of the same passage: pick
    items that are relevant to the query AND dissimilar to what was
    already picked (score = λ·rel − (1−λ)·max-sim-to-selected).

    Promoted rows-only → oracle-checked (VERDICT r6 task 2) by moving
    every number in the recurrence onto the exact integer grid:
    embeddings quantize to 1e-4 units, the query is the corpus SUM
    vector (same relevance ORDER as the centroid direction — a
    positive scalar multiple), relevance and pairwise similarity are
    integer dot products, and λ=0.7 becomes the integer weights
    7·rel − 3·max_sim. The greedy argmax therefore has no float
    anywhere, ties break on vec_id, and DuckDB replays the identical
    selection with one unrolled CTE per rank — bit-for-bit.

    Division of labor is the scale design: Spark does the data-sized
    work — quantize, score relevance against the broadcast query
    literal (narrow projection, no shuffle), keep a constant-size
    top-``_MMR_POOL`` shortlist via TakeOrderedAndProject. The greedy
    loop is sequential BY DEFINITION (step i needs step i−1's selected
    set), so it runs over the collected shortlist — a bounded,
    constant-size driver structure like the k-means codebooks
    (SCALE.md ground rules), not a data path. At 100 TB the shortlist
    is still 50 rows.
    """
    g = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> {grid_sql('CAST(x AS DOUBLE)', _MMR_S)})"
        ).alias("e"),
    )
    q_rows = (
        g.select(F.posexplode("e").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    q = [0] * _MMR_DIM
    for r in q_rows:
        q[r["i"]] = r["s"]
    rel = F.aggregate(
        F.zip_with(
            "e",
            F.array(*[F.lit(int(x)).cast("long") for x in q]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pool = (
        g.select("vec_id", "e", rel.alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .collect()
    )
    vecs = {r["vec_id"]: list(r["e"]) for r in pool}
    rels = {r["vec_id"]: int(r["rel"]) for r in pool}

    def dot(a: list[int], b: list[int]) -> int:
        return sum(x * y for x, y in zip(a, b))

    selected: list[int] = []
    while len(selected) < _MMR_K:
        best_id, best_score = None, None
        for vid in sorted(vecs):
            if vid in selected:
                continue
            max_sim = max(
                (dot(vecs[vid], vecs[s]) for s in selected), default=0
            )
            score = _MMR_NUM * rels[vid] - _MMR_DEN * max_sim
            if best_score is None or score > best_score:
                best_id, best_score = vid, score
        selected.append(best_id)

    rows = [
        (rank, int(vid), rels[vid]) for rank, vid in enumerate(selected)
    ]
    return local_frame(spark, rows, "rank INT, vec_id BIGINT, rel BIGINT")


#: per-query retrieval: query sample stride and neighbors returned.
_PQ_STRIDE, _PQ_K = 100, 3


@register(
    "sim_knn_per_query",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % {_PQ_STRIDE} = 0
),
c AS (
  SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings
  WHERE vec_id % {_PQ_STRIDE} <> 0
),
d AS (
  SELECT q_id, cand_id,
         round(list_cosine_similarity(q_emb::DOUBLE[], c_emb::DOUBLE[]), 6)
           AS cos
  FROM q, c
)
SELECT q_id, cand_id, cos, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rnk
  FROM d
) WHERE rnk <= {_PQ_K}
""",
)
def sim_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY top-k retrieval — the serving shape (`sim_knn_cosine`
    finds the globally closest pairs; a retrieval system answers "the
    3 nearest for EACH query"). The query sample broadcasts against
    the candidate scan, cosine evaluates relationally on normalized
    vectors, and WindowGroupLimit prunes to k per query below the
    exchange — per-partition top-k heaps, so the shuffle carries
    #queries × k rows per mapper, not the scored universe.

    Ordering is on the 6-dp-rounded cosine with cand_id tie-breaks
    (the `sim_knn_cosine` precedent). At 100 TB the broadcast side is
    the query BATCH (bounded by construction); the candidate side
    streams map-side — this is exactly the brute-force rung the
    LSH/IVF keys replace when the candidate set stops fitting a scan
    budget.
    """
    norm = normalized_embeddings(spark, sf_dir)
    q = norm.filter(F.col("vec_id") % _PQ_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), F.col("nvec").alias("q_vec")
    )
    c = norm.filter(F.col("vec_id") % _PQ_STRIDE != 0).select(
        F.col("vec_id").alias("cand_id"), F.col("nvec").alias("c_vec")
    )
    dot = F.aggregate(
        F.zip_with("q_vec", "c_vec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window as W

    wr = W.partitionBy("q_id").orderBy(F.col("cos").desc(), "cand_id")
    return (
        c.crossJoin(F.broadcast(q))
        .select("q_id", "cand_id", F.round(dot, 6).alias("cos"))
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= _PQ_K)
        .select("q_id", "cand_id", "cos", "rnk")
    )


#: Matryoshka evaluation parameters: query batch, truncated prefix
#: dims, and the top-k compared between truncated and full ranking.
_MRL_QUERIES = 100
_MRL_PREFIX = 16
_MRL_K = 3


@register(
    "emb_matryoshka_recall",
    oracle=f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', 6)} AS g
  FROM embeddings
),
pair AS (
  SELECT a.vec_id AS q, b.vec_id AS m,
         CAST(SUM(CASE WHEN a.i <= {_MRL_PREFIX}
                       THEN (a.g - b.g) * (a.g - b.g) ELSE 0 END)
              AS BIGINT) AS d16,
         CAST(SUM((a.g - b.g) * (a.g - b.g)) AS BIGINT) AS d64
  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id != b.vec_id
  WHERE a.vec_id < {_MRL_QUERIES}
  GROUP BY a.vec_id, b.vec_id
),
t16 AS (
  SELECT q, m FROM (
    SELECT q, m, ROW_NUMBER() OVER (PARTITION BY q ORDER BY d16, m) AS rn
    FROM pair) WHERE rn <= {_MRL_K}
),
t64 AS (
  SELECT q, m FROM (
    SELECT q, m, ROW_NUMBER() OVER (PARTITION BY q ORDER BY d64, m) AS rn
    FROM pair) WHERE rn <= {_MRL_K}
),
hits AS (
  SELECT t64.q, CAST(COUNT(t16.m) AS BIGINT) AS n_hits
  FROM t64 LEFT JOIN t16 ON t64.q = t16.q AND t64.m = t16.m
  GROUP BY t64.q
)
SELECT n_hits, CAST(COUNT(*) AS BIGINT) AS n_queries
FROM hits GROUP BY n_hits
""",
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: how much nearest-neighbor
    structure survives keeping only the first 16 of 64 embedding
    dimensions — the measurement behind MRL-style dimension-adaptive
    retrieval (truncate at serving time, keep the index 4× smaller,
    re-rank the shortlist at full precision). For a bounded query
    batch, rank all members by truncated-prefix distance AND by
    full-dimension distance, and report the distribution of top-3
    overlap counts.

    Hash-exact float-free core: components land on a 1e-6 integer
    grid, both distances are exact integer squared-Euclidean sums, and
    every ranking is totally tie-broken (distance, then id) — the
    whole evaluation is verifiable arithmetic, unlike a float-cosine
    eval where BLAS summation order decides ties.

    The distance kernel is an EXACT-INTEGER GEMM: ‖q−m‖² expands to
    ‖q‖²+‖m‖²−2·q·m, and every term is a sum of ≤64 products of
    ≤1e6-magnitude grid integers (≤6.4e13 ≪ 2⁵³), so float64 BLAS
    computes them without rounding — bit-equal to the long arithmetic
    the oracle does, ~100× faster than the per-pair zip_with/aggregate
    lambda it replaces (which re-interpreted 80 HOF steps × 2M pairs;
    measured 2.4 s → 0.6 s at sf0.1). Each Arrow batch emits only its
    per-query top-3 partials for BOTH rankings (classic partial top-k:
    the global top-3 is inside the union of per-batch top-3s), so the
    final exact windows run over ~batches×queries×6 rows, never the
    full pair space. The query batch broadcasts as a 100×64 integer
    matrix; at 100 TB the member side is the IVF/LSH-pruned candidate
    list, not the full collection.
    """
    e_raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q_rows = (
        e_raw.where(F.col("vec_id") < _MRL_QUERIES)
        .orderBy("vec_id")
        .collect()
    )  # bounded: _MRL_QUERIES × 64 grid ints — a literal-sized batch
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_g = np.floor(
        np.array([r["embedding"] for r in q_rows], dtype=np.float64) * 1e6
        + 0.5
    )
    bq = spark.sparkContext.broadcast((q_ids, q_g))
    pfx = _MRL_PREFIX

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qg = bq.value
        q16 = qg[:, :pfx]
        qn64 = (qg * qg).sum(axis=1)
        qn16 = (q16 * q16).sum(axis=1)
        for pdf in batches:
            m_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mg = np.floor(
                np.array(list(pdf["embedding"]), dtype=np.float64) * 1e6
                + 0.5
            )
            m16 = mg[:, :pfx]
            d64 = qn64[:, None] + (mg * mg).sum(axis=1)[None, :] - 2.0 * (qg @ mg.T)
            d16 = qn16[:, None] + (m16 * m16).sum(axis=1)[None, :] - 2.0 * (q16 @ m16.T)
            out_q, out_m, out16, out64 = [], [], [], []
            for qi, qid in enumerate(ids_q):
                mask = m_ids != qid
                cand = m_ids[mask]
                if not len(cand):
                    continue
                c16, c64 = d16[qi, mask], d64[qi, mask]
                k = min(_MRL_K, len(cand))
                keep = np.union1d(
                    np.lexsort((cand, c16))[:k], np.lexsort((cand, c64))[:k]
                )
                out_q.append(np.full(len(keep), qid, dtype=np.int64))
                out_m.append(cand[keep])
                out16.append(c16[keep].astype(np.int64))
                out64.append(c64[keep].astype(np.int64))
            if out_q:
                yield pd.DataFrame(
                    {
                        "q": np.concatenate(out_q),
                        "m": np.concatenate(out_m),
                        "d16": np.concatenate(out16),
                        "d64": np.concatenate(out64),
                    }
                )

    # materialize the partials once: BOTH rankings window over them
    pair = e_raw.mapInPandas(
        partial_topk, "q BIGINT, m BIGINT, d16 BIGINT, d64 BIGINT"
    ).localCheckpoint(eager=True)
    w16 = Window.partitionBy("q").orderBy("d16", "m")
    w64 = Window.partitionBy("q").orderBy("d64", "m")
    t16 = (
        pair.withColumn("rn", F.row_number().over(w16))
        .where(F.col("rn") <= _MRL_K)
        .select("q", "m")
    )
    t64 = (
        pair.withColumn("rn", F.row_number().over(w64))
        .where(F.col("rn") <= _MRL_K)
        .select("q", "m")
    )
    hits = (
        t64.join(
            t16.withColumn("hit", F.lit(1)), ["q", "m"], "left"
        )
        .groupBy("q")
        .agg(F.count("hit").alias("n_hits"))
    )
    return hits.groupBy("n_hits").agg(
        F.count(F.lit(1)).alias("n_queries")
    )


_KNN_GRAPH_K = 3


@register(
    "emb_knn_graph",
    oracle=f"""
WITH p AS (
  SELECT a.vec_id AS qa, b.vec_id AS qb,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT qa, qb, cos,
         ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, qb) AS rn
  FROM p
),
k AS (SELECT qa, qb, cos FROM r WHERE rn <= {_KNN_GRAPH_K})
SELECT a.qa AS ia, a.qb AS ib, a.cos AS cos
FROM k a JOIN k b ON b.qa = a.qb AND b.qb = a.qa
WHERE a.qa < a.qb
""",
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-NN graph construction (k=3): the edge set where each
    endpoint ranks the other in its own top-k by cosine — the standard
    sparsification that graph clustering / UMAP-style embedding methods
    start from (mutuality prunes hub-induced one-way edges, which is
    what makes the graph balanced enough to cluster).

    Per-node top-k runs through the broadcast exact kernel (one BLAS
    gemm per Arrow batch against the `_reference_broadcast` matrix,
    same ceiling + ANN-rung handoff as `sim_knn_cosine`); ranking uses
    the 6dp-ROUNDED cosine with a partner-id tie-break in BOTH engines,
    so rank decisions are deterministic. Mutuality is then a self-join
    of the k·n edge list on the reversed pair — k·n rows, never n².
    At 100 TB the kernel swaps for `ann_ivf`'s probed top-k and the
    mutual join is unchanged (it only ever sees k rows per node).
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = _reference_broadcast(spark, sf_dir, e)

    def node_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            q_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            q_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
            sims = np.round(q_mat @ all_mat.T, 6)
            out_n, out_p, out_c = [], [], []
            for qi, qid in enumerate(q_ids):
                mask = all_ids != qid
                cand_ids = all_ids[mask]
                cand = sims[qi, mask]
                # rank by (cos DESC, id ASC) on the ROUNDED value —
                # lexsort's last key is primary
                order = np.lexsort((cand_ids, -cand))[:_KNN_GRAPH_K]
                out_n.append(np.full(len(order), qid, dtype=np.int64))
                out_p.append(cand_ids[order])
                out_c.append(cand[order])
            if out_n:
                yield pd.DataFrame(
                    {
                        "node": np.concatenate(out_n),
                        "nbr": np.concatenate(out_p),
                        "cos": np.concatenate(out_c),
                    }
                )

    knn = e.mapInPandas(
        node_topk, "node BIGINT, nbr BIGINT, cos DOUBLE"
    ).localCheckpoint(eager=True)  # self-joined below; k·n rows
    rev = knn.select(
        F.col("node").alias("nbr"), F.col("nbr").alias("node")
    )
    return (
        knn.join(rev, ["node", "nbr"])
        .where(F.col("node") < F.col("nbr"))
        .select(
            F.col("node").alias("ia"), F.col("nbr").alias("ib"), "cos"
        )
    )


@register("ann_recall_eval")  # rows-only: scores both engine-side rungs
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF rung against exact brute-force ground truth,
    computed IN-ENGINE — the eval every ANN deployment runs before
    trusting an index, expressed as one Spark job so it scales with the
    collection instead of a driver-side notebook loop.

    Ground truth for the same 20 probe queries `ann_ivf` serves: the
    query vectors re-enter the plan as driver-side literals (20×64
    doubles — the same bounded-codebook pattern as the IVF centroids),
    so exact scoring is a NARROW projection over the collection (no
    join, no broadcast-nested-loop; the plan-sweep gate stays clean),
    then a per-query top-3 window. Recall = |IVF∩exact| / 3 via an
    inner join on (q_id, m_id) — counting matches needs no float
    comparison, so the eval is deterministic even though both rankings
    use float kernels. At 100 TB the exact pass is the expensive one
    (full collection scan per eval) — which is exactly why it's run
    once per index build on a fixed probe set, precisely what this
    operator encodes.
    """
    norm = normalized_embeddings(spark, sf_dir)
    q_rows = (
        norm.filter(F.col("vec_id") < 20)
        .select("vec_id", "nvec")
        .collect()
    )  # bounded: 20 probe vectors, re-entering as literals
    q_lit = F.array(
        *[
            F.struct(
                F.lit(int(r["vec_id"])).alias("q_id"),
                F.array(*[F.lit(float(v)) for v in r["nvec"]]).alias("qv"),
            )
            for r in sorted(q_rows, key=lambda r: r["vec_id"])
        ]
    )
    scored = (
        norm.withColumn("Q", q_lit)
        .select(
            F.col("vec_id").alias("m_id"),
            F.explode(
                F.expr(
                    "transform(Q, q -> struct(q.q_id AS q_id, "
                    "aggregate(zip_with(nvec, q.qv, (a, b) -> a * b), "
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS cos))"
                )
            ).alias("s"),
        )
        .select("m_id", F.col("s.q_id").alias("q_id"), F.col("s.cos").alias("cos"))
        .filter(F.col("q_id") != F.col("m_id"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "m_id")
    exact = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 3)
        .select("q_id", "m_id")
    )
    ivf = ann_ivf(spark, sf_dir).select("q_id", "m_id")
    hits = (
        exact.join(ivf, ["q_id", "m_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        exact.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            (F.coalesce("hits", F.lit(0)) / F.col("k")).alias("recall_at_3"),
        )
        .orderBy("q_id")
    )


#: two-stage rerank: query stride, retriever prefix dims, shortlist
#: size, final k, and the 1e6 integer grid (64 dims × 1e12/term < 2^53).
_RR_STRIDE = 100
_RR_MAX_ID = 5_000  # query batch cap: fixed size at every SF
_RR_PREFIX = 16
_RR_SHORTLIST = 10
_RR_K = 3
_RR_S = 6


@register(
    "sim_rerank_two_stage",
    oracle=f"""
WITH g AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', _RR_S)} AS c
  FROM embeddings
),
s AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         CAST(SUM(CASE WHEN q.i <= {_RR_PREFIX} THEN q.c * c.c ELSE 0 END)
              AS BIGINT) AS s_retriever,
         CAST(SUM(q.c * c.c) AS BIGINT) AS s_full
  FROM g q JOIN g c ON q.i = c.i
  WHERE q.vec_id % {_RR_STRIDE} = 0 AND q.vec_id < {_RR_MAX_ID}
    AND c.vec_id % {_RR_STRIDE} <> 0
  GROUP BY q.vec_id, c.vec_id
),
shortlist AS (
  SELECT q_id, cand_id, s_full,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY q_id ORDER BY s_retriever DESC, cand_id)
           AS BIGINT) AS stage1_rnk
  FROM s
  QUALIFY stage1_rnk <= {_RR_SHORTLIST}
)
SELECT q_id, cand_id, s_full AS ce_score, stage1_rnk,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY q_id ORDER BY s_full DESC, cand_id)
         AS BIGINT) AS rnk
FROM shortlist
QUALIFY rnk <= {_RR_K}
""",
)
def sim_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: a CHEAP retriever (truncated-prefix dot
    product, the Matryoshka serving trick) shortlists 10 candidates per
    query, then an EXPENSIVE scorer (full-dimension dot, standing in
    for a cross-encoder model) re-ranks the shortlist to the final
    top-3 — the canonical production shape for RAG / training-pair
    mining, where the heavy model must only ever see #queries × 10
    rows, never the candidate universe. The query batch is id-capped
    (fixed size at every SF); a full-corpus rerank iterates batches.

    The plan is deliberately the 100-TB shape: stage 1 scores against a
    SLIM index projection (only the 16-dim prefix leaves the scan —
    column pruning keeps 3/4 of the vector bytes out of the exchange),
    the shortlist is pruned map-side by WindowGroupLimit, and stage 2
    JOINS BACK to the full-vector table by cand_id — point lookups for
    the rerank, exactly how a vector index plus a feature store
    compose. Scores live on a 1e6 integer grid (round-half-up per
    component, 64 × 1e12 per term < 2^53), so both engines rank
    identical BIGINTs; ties break on cand_id.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    gv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: grid(x.cast("double"), _RR_S),
        ).alias("g"),
    )
    q_pre = gv.filter(
        (F.col("vec_id") % _RR_STRIDE == 0) & (F.col("vec_id") < _RR_MAX_ID)
    ).select(
        F.col("vec_id").alias("q_id"), F.slice("g", 1, _RR_PREFIX).alias("q_pre")
    )
    c_pre = gv.filter(F.col("vec_id") % _RR_STRIDE != 0).select(
        F.col("vec_id").alias("cand_id"), F.slice("g", 1, _RR_PREFIX).alias("c_pre")
    )
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    w1 = Window.partitionBy("q_id").orderBy(F.col("s_retriever").desc(), "cand_id")
    shortlist = (
        c_pre.crossJoin(F.broadcast(q_pre))
        .select("q_id", "cand_id", idot("q_pre", "c_pre").alias("s_retriever"))
        .withColumn("stage1_rnk", F.row_number().over(w1).cast("long"))
        .filter(F.col("stage1_rnk") <= _RR_SHORTLIST)
        .select("q_id", "cand_id", "stage1_rnk")
    )
    q_full = gv.filter(
        (F.col("vec_id") % _RR_STRIDE == 0) & (F.col("vec_id") < _RR_MAX_ID)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("g").alias("q_g")
    )
    rescored = (
        shortlist.join(gv.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(q_full), "q_id")
        .select(
            "q_id", "cand_id", idot("q_g", "g").alias("ce_score"), "stage1_rnk"
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("ce_score").desc(), "cand_id")
    return (
        rescored.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= _RR_K)
        .select("q_id", "cand_id", "ce_score", "stage1_rnk", "rnk")
    )


#: hard-negative mining: query stride, negatives kept per query.
_HN_STRIDE = 50
_HN_MAX_ID = 5_000  # anchor batch cap: fixed size at every SF
_HN_K = 5


@register(
    "sim_hard_negative_mine",
    oracle=f"""
WITH g AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', _RR_S)} AS c
  FROM embeddings
),
s AS (
  SELECT q.vec_id AS q_id, MIN(q.label) AS q_label,
         c.vec_id AS neg_id, MIN(c.label) AS neg_label,
         CAST(SUM(q.c * c.c) AS BIGINT) AS score
  FROM g q JOIN g c ON q.i = c.i
  WHERE q.vec_id % {_HN_STRIDE} = 0 AND q.vec_id < {_HN_MAX_ID}
    AND q.label <> c.label
  GROUP BY q.vec_id, c.vec_id
)
SELECT q_id, CAST(q_label AS INT) AS q_label,
       neg_id, CAST(neg_label AS INT) AS neg_label, score,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY q_id ORDER BY score DESC, neg_id)
         AS BIGINT) AS rnk
FROM s
QUALIFY rnk <= {_HN_K}
""",
)
def sim_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor, the top-5 most-similar vectors with a DIFFERENT label —
    the negatives that sit closest to the decision boundary, which is
    what embedding-model training pipelines mine at corpus scale
    (random negatives are too easy; hard ones carry the gradient).

    Anchors are a strided, id-capped batch (FIXED size at every SF —
    mining at corpus scale runs anchor batches through the candidate
    scan, so cost grows linearly with candidates, never quadratically);
    candidates stream map-side through
    one integer-grid dot product per (anchor, candidate) pair with the
    label-mismatch filter applied BEFORE scoring, and per-anchor top-5
    prunes via WindowGroupLimit heaps below the exchange. At 100 TB
    this is the brute-force rung; past the scan budget the same mining
    runs per IVF cell (`ann_ivf`) so each anchor only scores its
    coarse-quantizer neighborhood.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    gv = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.transform(
            "embedding",
            lambda x: grid(x.cast("double"), _RR_S),
        ).alias("g"),
    )
    q = gv.filter(
        (F.col("vec_id") % _HN_STRIDE == 0) & (F.col("vec_id") < _HN_MAX_ID)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("g").alias("q_g"),
    )
    idot = F.aggregate(
        F.zip_with("q_g", "g", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "neg_id")
    return (
        gv.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            idot.alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _HN_K)
        .select("q_id", "q_label", "neg_id", "neg_label", "score", "rnk")
    )


#: ml_knn_classify: query stride (1/20th of vectors are held-out
#: queries), an id-cap bounding the query batch regardless of corpus
#: size (the sim_rerank_two_stage pattern — without it the brute
#: product grows quadratically with SF; measured 167 s at the 10x
#: fixture uncapped vs linear capped), and the vote neighborhood.
_KNN_CLS_STRIDE, _KNN_CLS_CAP, _KNN_CLS_K = 20, 4000, 5


def _require_nonzero(ids: np.ndarray, n2: np.ndarray, side: str) -> None:
    """A vector that grids to all zeros has no cosine: numpy yields NaN,
    which Spark's descending sort would rank FIRST. Refuse it by id."""
    zero = ids[n2 == 0]
    if len(zero):
        raise ValueError(
            f"ml_knn_classify: {side} vector vec_id {int(zero[0])} grids "
            "to all zeros; its cosine is undefined"
        )


@register(
    "ml_knn_classify",
    oracle=f"""
WITH g AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> {grid_sql('CAST(x AS DOUBLE)', 6)})
           AS gvec
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, gvec AS q_g,
         list_dot_product(gvec, gvec) AS q_n2, label AS true_label
  FROM g WHERE vec_id % {_KNN_CLS_STRIDE} = 0 AND vec_id < {_KNN_CLS_CAP}
),
c AS (
  SELECT vec_id AS cand_id, gvec AS c_g,
         list_dot_product(gvec, gvec) AS c_n2, label
  FROM g WHERE vec_id % {_KNN_CLS_STRIDE} <> 0
),
d AS (
  SELECT q_id, true_label, cand_id, label,
         list_dot_product(q_g, c_g) / sqrt(q_n2 * c_n2) AS cos
  FROM q, c
),
top AS (
  SELECT q_id, true_label, label FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
    FROM d) WHERE rn <= {_KNN_CLS_K}
),
votes AS (
  SELECT q_id, true_label, label, CAST(COUNT(*) AS BIGINT) AS v
  FROM top GROUP BY 1, 2, 3
),
pred AS (
  SELECT q_id, true_label, label AS pred_label FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY v DESC, label) AS pr
    FROM votes) WHERE pr = 1
)
SELECT true_label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       {grid_sql('''CAST(SUM(CASE WHEN pred_label = true_label
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*)''', 6)} AS acc_micro
FROM pred GROUP BY true_label
ORDER BY true_label
""",
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification with a held-out query split —
    the lazy-learner eval every embedding pipeline runs before training
    anything: hold out every 20th vector, retrieve its 5 nearest
    labeled neighbors by exact cosine, vote (ties break to the smallest
    label), and report per-class accuracy. Complements
    `sim_centroid_classify` (parametric prototype) and
    `sim_knn_per_query` (retrieval without the vote).

    Plan: building the frame runs one Spark job — the query split is
    ``collect()``ed to the driver and gridded in numpy. It is id-capped,
    so it holds at most ``_KNN_CLS_CAP / _KNN_CLS_STRIDE`` = 200 rows at
    any corpus size. The candidate scan is fanned out and scored in
    ``mapInPandas`` by one exact int64 gemm per Arrow batch, and each
    batch emits only its top-k per query (a superset of the global
    top-k, so the shuffle carries #queries x k rows per batch); a
    row_number window keeps k per query, and the vote is two cheap hash
    aggregates on #queries-sized tables.

    Determinism (ADVICE r8): the cosine is built from MICRO-GRIDDED
    integer components — g = grid(e, 6) per dimension, dot and
    squared norms exact integer sums (dim 64, |g| <= ~5.3e5, so every
    sum < 2^53 and is exact even in DuckDB's double-list arithmetic),
    then ONE division/sqrt over identical exact operands in both
    engines. Both engines therefore produce bitwise-identical cosines
    and the row_number ranking cannot flip at a rounding boundary —
    no reconciliation rounding needed. At 100 TB this is the
    brute-force rung — swap the candidate scan for `ann_ivf` cells and
    keep the vote stages unchanged.
    """
    # The gemm replaced a JVM crossJoin that evaluated zip_with +
    # aggregate lambdas per pair, all in one task. Exactness is
    # preserved bit-for-bit: the grid floor, the integer
    # dot/norms (< 2^53, exact in int64 AND in the double conversions),
    # and the single double divide/sqrt are the same IEEE ops the JVM
    # expressions performed, so the cosines are identical doubles and
    # the (cos desc, cand_id) ranking cannot flip.
    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(
            (F.col("vec_id") % _KNN_CLS_STRIDE == 0)
            & (F.col("vec_id") < _KNN_CLS_CAP)
        )
        .select("vec_id", "label", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_lab = np.array([r["label"] for r in q_rows], dtype=np.int32)
    q_g = np.floor(
        np.array([r["embedding"] for r in q_rows], dtype=np.float64) * 1e6
        + 0.5
    ).astype(np.int64)
    q_n2 = (q_g * q_g).sum(axis=1)
    _require_nonzero(q_ids, q_n2, "query")

    def batch_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf) or not len(q_ids):
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_lab = pdf["label"].to_numpy(dtype=np.int32)
            c_g = np.floor(
                np.array(list(pdf["embedding"]), dtype=np.float64) * 1e6
                + 0.5
            ).astype(np.int64)
            c_n2 = (c_g * c_g).sum(axis=1)
            _require_nonzero(c_ids, c_n2, "candidate")
            dots = c_g @ q_g.T  # exact int64: |dot| <= 64 * (5.3e5)^2
            cos = dots.astype(np.float64) / np.sqrt(
                c_n2.astype(np.float64)[:, None]
                * q_n2.astype(np.float64)[None, :]
            )
            k = min(_KNN_CLS_K, len(c_ids))
            out = []
            for j in range(len(q_ids)):
                col = cos[:, j]
                if k < len(c_ids):
                    part = np.argpartition(-col, k - 1)[:k]
                    # ties at the kth cosine break by cand_id: widen to
                    # every candidate at or above the kth value, then
                    # rank exactly.
                    pool = np.nonzero(col >= col[part].min())[0]
                else:
                    pool = np.arange(len(c_ids))
                order = np.lexsort((c_ids[pool], -col[pool]))[:k]
                sel = pool[order]
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": np.full(len(sel), q_ids[j]),
                            "true_label": np.full(len(sel), q_lab[j]),
                            "cand_id": c_ids[sel],
                            "label": c_lab[sel],
                            "cos": col[sel],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    from ..catalog import fan_out

    partials = fan_out(
        emb.filter(F.col("vec_id") % _KNN_CLS_STRIDE != 0).select(
            "vec_id", "label", "embedding"
        )
    ).mapInPandas(
        batch_topk,
        "q_id BIGINT, true_label INT, cand_id BIGINT, label INT,"
        " cos DOUBLE",
    )
    from pyspark.sql import Window as W

    wr = W.partitionBy("q_id").orderBy(F.col("cos").desc(), "cand_id")
    top = (
        partials.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _KNN_CLS_K)
    )
    votes = top.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wp = W.partitionBy("q_id").orderBy(F.col("v").desc(), "label")
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select("q_id", "true_label", F.col("label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            correct.alias("n_correct"),
            grid(correct.cast("double") / F.count(F.lit(1)), 6).alias("acc_micro"),
        )
        .orderBy("true_label")
    )


#: ml_learning_curve: test split stride/cap and the training-prefix
#: fractions (percent).
_LC_STRIDE, _LC_CAP = 5, 2000
_LC_FRACTIONS = "25,50,75,100"


@register(
    "ml_learning_curve",
    oracle=f"""
WITH mx AS (
  SELECT CAST(MAX(vec_id) AS BIGINT) AS mid FROM embeddings
),
fr AS (
  SELECT CAST(u AS BIGINT) AS f,
         (mid * CAST(u AS BIGINT)) // 100 AS thr
  FROM (SELECT unnest([{_LC_FRACTIONS}]) AS u) CROSS JOIN mx
),
tr AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', 6)} AS g
  FROM embeddings WHERE vec_id % {_LC_STRIDE} <> 0
),
cent AS (
  SELECT fr.f, tr.label AS clabel, tr.i,
         CAST(SUM(tr.g) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS nc
  FROM tr JOIN fr ON tr.vec_id <= fr.thr
  GROUP BY fr.f, tr.label, tr.i
),
te AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', 6)} AS g
  FROM embeddings
  WHERE vec_id % {_LC_STRIDE} = 0 AND vec_id < {_LC_CAP}
),
dist AS (
  SELECT cent.f, te.vec_id, te.label, cent.clabel,
         round(SUM((CAST(te.g AS DOUBLE) / 1000000.0
                    - CAST(cent.s AS DOUBLE) / cent.nc / 1000000.0)
                   * (CAST(te.g AS DOUBLE) / 1000000.0
                      - CAST(cent.s AS DOUBLE) / cent.nc / 1000000.0)),
               6) AS d2
  FROM te JOIN cent USING (i)
  GROUP BY cent.f, te.vec_id, te.label, cent.clabel
),
pred AS (
  SELECT f, vec_id, label, clabel FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY f, vec_id ORDER BY d2, clabel) AS rn
    FROM dist) WHERE rn = 1
),
tn AS (
  SELECT fr.f, CAST(COUNT(DISTINCT tr.vec_id) AS BIGINT) AS n_train
  FROM (SELECT DISTINCT vec_id FROM tr) tr
  JOIN fr ON tr.vec_id <= fr.thr
  GROUP BY fr.f
)
SELECT p.f AS f_pct, tn.n_train,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN p.clabel = p.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       {grid_sql('''CAST(SUM(CASE WHEN p.clabel = p.label
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*)''', 6)} AS acc_micro
FROM pred p JOIN tn ON p.f = tn.f
GROUP BY p.f, tn.n_train
ORDER BY p.f
""",
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the nearest-centroid classifier: train on
    growing id-prefixes (25/50/75/100%) of the training split, evaluate
    each model on the SAME held-out test batch, and report accuracy per
    prefix — the does-more-data-help measurement every training-data
    pipeline runs before paying for more data. One pass builds ALL four
    models: exploding train vectors once and joining the 4-row fraction
    table fans each element into every prefix that contains it, so
    centroid sums are per-(fraction, label, dim) hash aggregates over
    exact 1e-6-gridded integers (`sim_centroid_classify`'s avg is
    replaced by exact sums / count).

    100-TB posture: the explode is the data-sized pass; centroid state
    is |fractions| x |labels| x dims rows; scoring is the bounded test
    batch (id-capped, the ml_knn_classify discipline) against broadcast
    centroids. d2 rounds to 6 dp before ranking (the centroid-classify
    precedent).
    """
    e = load_table(spark, sf_dir, "embeddings")
    mx = e.agg(F.max("vec_id").alias("mid"))
    fr = (
        spark.range(1, 5)
        .select((F.col("id") * 25).alias("f"))
        .crossJoin(F.broadcast(mx))
        .select("f", F.expr("(mid * f) div 100").alias("thr"))
    )
    dims = e.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("i0", "v"),
    ).select(
        "vec_id", "label",
        (F.col("i0") + 1).alias("i"),
        grid(F.col("v").cast("double"), 6).alias("g"),
    )
    tr = dims.where(F.col("vec_id") % _LC_STRIDE != 0)
    cent = (
        tr.join(F.broadcast(fr), tr.vec_id <= fr.thr)
        .groupBy("f", F.col("label").alias("clabel"), "i")
        .agg(F.sum("g").alias("s"), F.count(F.lit(1)).alias("nc"))
    )
    te = dims.where(
        (F.col("vec_id") % _LC_STRIDE == 0) & (F.col("vec_id") < _LC_CAP)
    )
    tv = F.col("g").cast("double") / F.lit(1e6)
    cv = F.col("s").cast("double") / F.col("nc") / F.lit(1e6)
    dist = (
        te.join(F.broadcast(cent), "i")
        .groupBy("f", "vec_id", "label", "clabel")
        .agg(F.round(F.sum((tv - cv) * (tv - cv)), 6).alias("d2"))
    )
    from pyspark.sql import Window as W

    wr = W.partitionBy("f", "vec_id").orderBy("d2", "clabel")
    pred = (
        dist.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("f", "vec_id", "label", "clabel")
    )
    tn = (
        tr.select("vec_id").distinct()
        .join(F.broadcast(fr), F.col("vec_id") <= F.col("thr"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n_train"))
    )
    correct = F.sum(
        F.when(F.col("clabel") == F.col("label"), 1).otherwise(0)
    )
    return (
        pred.join(tn, "f")
        .groupBy(F.col("f").alias("f_pct"), "n_train")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            correct.alias("n_correct"),
            grid(correct.cast("double") / F.count(F.lit(1)), 6).alias("acc_micro"),
        )
        .orderBy("f_pct")
    )


#: sim_range_search: cosine radius (chosen for the fixture's random-
#: vector regime — 64-dim uniform vectors concentrate near cos ~ 0.75
#: of their mean direction; 0.3 above-mean keeps a bounded pair set).
_RANGE_TAU = 0.3


@register(
    "sim_range_search",
    oracle=f"""
SELECT a.vec_id AS ia, b.vec_id AS ib,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6)
        >= {_RANGE_TAU}
ORDER BY ia, ib
""",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search — ALL pairs within a cosine
    radius, the other half of the similarity API surface: `sim_knn_
    cosine` answers "the k closest" (bounded output, unbounded
    distance), range search answers "everything this similar"
    (unbounded output, bounded distance) — the dedup/linkage question
    where missing a qualifying pair is a correctness bug, not a
    ranking nit.

    Built on the same normalize-first broadcast-gemm kernel
    (`cosine_pairs`): the threshold parameter makes the kernel emit
    EVERY pair at or above tau (not just each row's top-k), and the
    final filter re-applies the cut on the ROUNDED cosine so both
    engines select the identical pair set (the kernel pre-filters at
    tau - 1e-6 to keep rounding-boundary pairs alive).

    100-TB posture: inherits `cosine_pairs`' BroadcastCeilingError
    guard — the exact rung stops loudly past the broadcast ceiling and
    the documented escalation is the LSH/IVF ladder (`sim_knn_lsh`,
    `ann_ivf`) with this same radius as the bucket-candidate filter.
    Output volume is data-dependent (that is the operator's nature);
    the radius keeps it bounded on the fixture regime.
    """
    pairs = cosine_pairs(
        spark, sf_dir, threshold=_RANGE_TAU - 1e-6
    )
    return (
        pairs.select("ia", "ib", F.round("raw_cos", 6).alias("cos"))
        .filter(F.col("cos") >= F.lit(_RANGE_TAU))
        .orderBy("ia", "ib")
    )
