"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

Four rungs of the dedup ladder, each with a different cost/recall point:

- exact        — one hash-groupBy shuffle; the 100-TB default
- minhash-LSH  — MLlib MinHash + banded similarity join; near-dup at
                 scale without the n² pair space
- simhash      — 64-bit fingerprint + banded self-join, pure DataFrame
                 expressions (no UDF, no MLlib)
- n-gram jaccard — exact shingle-set similarity on candidate pairs;
                 the precise-but-costlier verifier stage

The fixtures plant 8 exact-dup texts at sf0.1 and ~0.99-jaccard near-dup
pairs at every sf (probed), so each operator has real targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table, local_frame, session_checkpoint
from ..functions.exact import grid_sql, md5_int_sql
from ..registry import register
from .closure import components, components_sql


@register(
    "dedup_exact",
    oracle="""
SELECT MIN(doc_id) AS keeper, md5(text) AS h, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: deterministic keeper (min doc_id) per content hash.

    Implemented with the window-keeper idiom (row_number over the hash
    partition) rather than groupBy so the full surviving ROW travels
    through — at 100 TB you keep the document, not just its id. Single
    shuffle on the 128-bit hash; no skew (hashes are uniform).
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    w = Window.partitionBy(h).orderBy("doc_id")
    return (
        d.select(
            F.col("doc_id"),
            h.alias("h"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy(h)).alias("n_copies"),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("keeper"), "h", "n_copies")
    )


@register("dedup_near_minhash")  # rows-only: MLlib LSH isn't SQL-expressible
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via MinHash-LSH over word shingles.

    tokenize → HashingTF (sparse binary term vectors) → MinHashLSH
    (5 tables) → approxSimilarityJoin at jaccard distance ≤ 0.3.
    The banded join only compares candidates sharing a hash bucket —
    that's the 100-TB story (no n² pair enumeration). Recall against the
    planted near-dups is asserted in tests/test_pipeline.py.

    Fixture caveat: the synthetic corpus draws from a tiny shared
    vocabulary, so a large fraction of ALL doc pairs genuinely exceed
    0.7 jaccard — any correct near-dup finder returns O(n²) pairs on it
    (measured 4.7M pairs at sf0.1; ~420 s before the fan-out below,
    ~100 s after). That is corpus pathology, not operator cost: on
    natural text the candidate count tracks true duplicates. Use sf0.01
    for quick runs.

    The input is fanned out before the ML pipeline (single-split lesson,
    SCALE.md round-8): Tokenizer/HashingTF/MinHashLSH are narrow
    transforms, so on a one-row-group fixture file the entire
    tokenize+hash+signature build otherwise runs in ONE task (measured
    4× at sf0.01, repartition vs not). No result ordering: the key is
    rows-only (LSH hashes are Spark-private), and a global sort of the
    O(n²)-pathology pair set is pure cost.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = fan_out(d, "doc_id")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(d)
    tf = HashingTF(
        inputCol="words", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(toks)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    ).fit(tf)
    pairs = model.approxSimilarityJoin(tf, tf, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("ia"),
            F.col("datasetB.doc_id").alias("ib"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


@register(
    "dedup_simhash",
    oracle=f"""
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
),
sums AS (
  SELECT doc_id, t.p,
         SUM(2 * (({md5_int_sql("w", "(t.p // 4)::INT + 1", 1)}
                   >> (t.p % 4)::INT) & 1) - 1) AS s
  FROM words, range(0, 64) t(p)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, (p // 16)::INT AS band,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << (p % 16)::INT)
             ELSE 0::BIGINT END) AS val
  FROM sums GROUP BY 1, 2
),
pairs AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.val = b.val
             AND a.doc_id < b.doc_id
),
ham AS (
  SELECT p.ia, p.ib,
         CAST(SUM(bit_count(xor(x.val, y.val))) AS BIGINT) AS hamming
  FROM pairs p
  JOIN bands x ON x.doc_id = p.ia
  JOIN bands y ON y.doc_id = p.ib AND y.band = x.band
  GROUP BY 1, 2
)
SELECT ia, ib, hamming FROM ham WHERE hamming <= 3
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprint + banded candidate join —
    entirely built-in expressions (no UDF, no MLlib).

    fingerprint: per doc, hash each distinct word; for each of 64 bit
    positions take the sign of Σ(±1) across word-hashes. Bits are packed
    directly into 4×16-bit band values (packing one 64-bit BIGINT would
    overflow the sign bit under ANSI mode). Candidates equi-join on
    (band_idx, band_value) — fingerprints within hamming ≤ 3 share ≥1 of
    4 bands by pigeonhole, so the join space is buckets, not n². Verify
    candidates with Σ bit_count(band_a XOR band_b) ≤ 3.

    The word hash is bit p of md5(w)'s first 16 hex chars (bit ``p%4``
    of hex digit ``p div 4``) — md5 renders identical lowercase hex in
    Spark and DuckDB, which is what promotes this rung from rows-only
    to oracle-hash-checked (the earlier xxhash64 fingerprint had
    Spark-private seeds; same promotion trick as `dedup_minhash_sql`).
    One digest per word, not 64: words map to md5 hex ONCE, the hex maps
    to its 16 digit values ONCE (nested transforms — the digest and the
    conv/substr work are per-word, never per-bit), and only then does the
    fold accumulate into the bit counters (measured 19 s → 2.9 s warm at
    sf0.1 vs the per-bit conv(substr) form, fresh plan each run).

    SWAR fold (VERDICT r5 task 5): the 64 bit counters are packed as
    4×16-bit unsigned lanes in 16 BIGINTs — long ``k`` holds the four
    positions of hex digit ``k`` — plus a 17th slot counting words, so
    the per-word merge is a 17-wide ``zip_with`` of plain adds instead
    of a 64-wide shift/mask lambda (the rebuilt-accumulator allocation
    per word shrinks ~4×). Counting set bits instead of summing ±1 keeps
    every lane monotonically increasing (no borrow between lanes):
    Σ(±1) = 2·count − n, so ``sign(Σ) > 0 ⟺ 2·count > n`` reproduces
    the oracle's sign rule exactly, ties-to-zero included. Lane capacity
    caps exact behavior at 65 535 distinct words per document — far past
    this corpus (≤1022-char docs); at 100 TB feed book-length docs
    through ``text_chunk``/``chunk_dedup_pipeline`` first, which is the
    right near-dup granularity for them anyway. The ``finish`` lambda
    unpacks lanes and packs the four band values in one pass (a two-step
    select would be projection-collapsed back into 64 inline copies).
    The projection is fanned out across executors first — the
    single-row-group fixture scan otherwise serializes the whole
    fingerprint stage into one task (SCALE.md round-8 single-split
    lesson); fan_out skips the exchange entirely when the scan
    arrives pre-split (>= cores partitions) — r13, ADVICE r12.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = fan_out(d, "doc_id")
    # Runtime enforcement of the lane cap (ADVICE r6): past 65 535
    # distinct words a 16-bit lane would wrap silently and the
    # fingerprint would be wrong with no signal. assert_true returns
    # NULL (row kept) under the cap and raises loudly over it; it sits
    # BEFORE the fold so an oversized document fails fast instead of
    # paying the md5 fold first.
    d = d.filter(
        F.assert_true(
            F.size(F.array_distinct(F.split("text", " "))) < 65536,
            F.lit(
                "dedup_simhash: >65535 distinct words in one document "
                "(SWAR lane cap) — chunk with text_chunk/"
                "chunk_dedup_pipeline first"
            ),
        ).isNull()
    )
    fp = d.select(
        "doc_id",
        F.expr(
            """
            aggregate(
              transform(
                transform(array_distinct(split(text, ' ')), w -> md5(w)),
                m -> concat(
                  transform(
                    transform(sequence(0, 15), i ->
                      CAST(conv(substr(m, i + 1, 1), 16, 10) AS BIGINT)),
                    d -> (d & 1)
                         + shiftleft(shiftright(d, 1) & 1, 16)
                         + shiftleft(shiftright(d, 2) & 1, 32)
                         + shiftleft(shiftright(d, 3) & 1, 48)),
                  array(1L))),
              array_repeat(0L, 17),
              (acc, h) -> zip_with(acc, h, (a, x) -> a + x),
              acc -> transform(sequence(0, 3), b ->
                aggregate(
                  transform(sequence(0, 15), j ->
                    CASE WHEN 2 * (shiftright(acc[(b * 16 + j) div 4],
                                              16 * ((b * 16 + j) % 4))
                                   & 65535) > acc[16]
                         THEN shiftleft(1L, j) ELSE 0L END),
                  0L, (x, y) -> x + y)))
            """
        ).alias("bands"),
    )
    # Materialize fingerprints once — the self-join below would otherwise
    # recompute the fold on BOTH sides (same checkpointed-band-table move
    # as dedup_minhash_sql; doc_id + 4 longs, tiny at any scale).
    fp = fp.localCheckpoint(eager=True)
    exploded = fp.select(
        "doc_id", "bands", F.posexplode("bands").alias("band", "val")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    # First-matching-band rule replaces DISTINCT: a pair sharing k bands
    # appears k times in the banded join; keeping only the row whose band
    # is the pair's FIRST shared band emits each pair exactly once, so no
    # global dedup shuffle over the candidate set is needed (both full
    # band arrays ride along, so the check is a 4-wide zip_with).
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.expr(
                "array_position(zip_with(a.bands, b.bands, (x, y) -> x = y),"
                " true) = a.band + 1"
            )
        )
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            F.expr(
                "aggregate(zip_with(a.bands, b.bands, "
                "(x, y) -> bit_count(x ^ y)), 0, (acc, h) -> acc + h)"
            ).cast("long").alias("hamming"),
        )
    )
    return cand.filter(F.col("hamming") <= 3).orderBy("ia", "ib")


_SHINGLE = 8
_JACCARD_MIN = 0.9


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i::INT, {_SHINGLE}) AS s
  FROM documents, range(1, 1000) t(i)
  WHERE i <= n_chars - {_SHINGLE - 1}
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia, ib,
       i * 1.0 / (x.n + y.n - i) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = ia
JOIN sz y ON y.doc_id = ib
WHERE i * 1.0 / (x.n + y.n - i) >= {_JACCARD_MIN}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-8-gram Jaccard near-dup pairs (≥ 0.9).

    Shingles are generated with sequence+transform+explode (no UDF);
    candidate pairs come from the shingle equi-join, so only docs that
    SHARE a shingle are ever compared — at 100 TB add a min-frequency
    filter on hot shingles to kill the head of the join-skew.
    Jaccard is a ratio of exact ints — identical doubles in both engines.
    """
    return jaccard_pairs(spark, sf_dir, _JACCARD_MIN)


def shingle_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-8-gram shingles per document, duplicates kept — shared kernel.

    Guard + cap mirror the oracle exactly: docs shorter than one shingle
    produce NO shingles (an unguarded sequence(1, n-7) turns DESCENDING
    for n < 8 and emits junk substr positions), and shingle starts cap
    at 999 to match the oracle's range(1, 1000) enumeration.

    The input is repartitioned BEFORE the explode: the documents table
    is one small parquet file → one input split, and the ~300× shingle
    fan-out plus per-shingle hashing is CPU-bound — on a single core it
    serializes the whole signature build (measured 8.6 s → 1.9 s at
    sf0.1 from this one change). The general 100-TB rule: size input
    partitions for the *post-fan-out* CPU work, not the input bytes; at
    real scale the many-file layout provides the splits naturally and
    fan_out skips the exchange outright (r13, ADVICE r12). Explicit
    partition count (not bare repartition(col)) so AQE doesn't coalesce
    the tiny byte volume back onto one core.
    """
    d = load_table(spark, sf_dir, "documents")
    d = fan_out(d, "doc_id")
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN n_chars >= {_SHINGLE} THEN "
                f"transform(sequence(1, least(CAST(n_chars AS INT) - {_SHINGLE - 1}, 999)),"
                f" i -> substr(text, i, {_SHINGLE})) "
                f"ELSE array() END"
            )
        ).alias("s"),
    )


def shingle_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shingles per document (set semantics — what Jaccard
    needs; MinHash uses the bag form, min() is duplicate-insensitive).

    Shingles are hashed to 64-bit longs AT BIRTH: every consumer
    (jaccard_pairs, dedup_containment, the CC edge build) only ever
    counts intersections and joins on equality, never reads the shingle
    text, so an 8-byte fixed-width key replaces the string through the
    distinct AND the candidate self-join — the same rewrite that took
    join_set_similarity 3.9 s → 2.3 s. Two distinct shingles colliding
    would perturb one intersection count by 1; at 2^-64 per pair that's
    ~10^-11 even for a billion-shingle corpus (and the oracle gate,
    which compares against string-keyed SQL, re-proves absence on every
    run). minhash_bands does NOT route through this — its md5(shingle)
    signature must see the text to mirror its oracle CTE."""
    return (
        shingle_bag(spark, sf_dir)
        .select("doc_id", F.xxhash64("s").alias("s"))
        .distinct()
    )


def jaccard_pairs(spark: SparkSession, sf_dir: str, jmin: float) -> DataFrame:
    """Char-8-gram Jaccard pairs (ia < ib, jaccard >= jmin) — shared kernel."""
    sh = shingle_set(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = (
        inter.join(sz.withColumnRenamed("doc_id", "ia").withColumnRenamed("n", "na"), "ia")
        .join(sz.withColumnRenamed("doc_id", "ib").withColumnRenamed("n", "nb"), "ib")
        .select(
            "ia",
            "ib",
            (F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))).alias(
                "jaccard"
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= jmin)


_COS_DUP_MIN = 0.45


@register(
    "dedup_embed_cosine",
    oracle=f"""
SELECT a.vec_id AS ia, b.vec_id AS ib,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= {_COS_DUP_MIN}
""",
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup: embedding pairs with cosine ≥ threshold.

    Reuses the normalized-matrix kernel from pipeline.similarity (the
    normalize-once rewrite, SURVEY.md §4) with a threshold instead of
    top-k. Probed margin to the 0.45 threshold is ~5e-4 — far above
    cross-engine float noise, so the boundary is hash-stable.
    """
    from .similarity import cosine_pairs

    pairs = cosine_pairs(spark, sf_dir, threshold=_COS_DUP_MIN)
    return pairs.filter(F.col("raw_cos") >= _COS_DUP_MIN).select(
        "ia", "ib", F.round("raw_cos", 6).alias("cos")
    )


@register(
    "dedup_corpus_survivors",
    oracle="""
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, md5(d.text) AS content_h
FROM documents d JOIN keepers USING (doc_id)
""",
)
def dedup_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup OUTPUT: the surviving corpus itself, full
    rows, not just keeper ids — what a training pipeline actually writes
    back out. The window-keeper idiom carries every column through one
    shuffle on the content hash; no second join against the source is
    needed (the groupBy-then-join-back form the oracle uses would scan
    the corpus twice and shuffle it twice).
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    w = Window.partitionBy(h).orderBy("doc_id")
    return (
        d.select(
            "doc_id", "lang", "source", "n_chars",
            h.alias("content_h"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_CC_JACCARD = 0.5

#: DuckDB twin of ``jaccard_pairs(spark, sf_dir, _CC_JACCARD)``: the
#: near-dup graph as CTEs ending in ``pairs(ia, ib)``, every
#: non-recursive step materialized so no recursion step re-runs it.
NEAR_DUP_PAIRS_SQL = f"""sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(text, i::INT, {_SHINGLE}) AS s
  FROM documents, range(1, 1000) t(i)
  WHERE i <= n_chars - {_SHINGLE - 1}
),
sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT ia, ib FROM inter
  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
  WHERE i * 1.0 / (x.n + y.n - i) >= {_CC_JACCARD}
)"""


@register(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {NEAR_DUP_PAIRS_SQL},
{components_sql("SELECT doc_id FROM documents")}
SELECT node_id AS doc_id, component FROM comp
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the near-dup
    graph (edges = char-8-gram Jaccard >= 0.5), component id = min doc_id.

    The step after pair finding in every corpus dedup pipeline: near-dup
    PAIRS must become duplicate CLUSTERS before survivor selection, and
    pairs are not transitive — A~B, B~C puts A,C in one cluster with no
    direct edge. The clustering is :func:`components` (iterative
    min-label propagation, rounds = graph diameter, not data size);
    label propagation is the standard Spark shape since no recursive
    SQL exists there. The DuckDB oracle computes the same fixpoint
    declaratively with :func:`components_sql`'s recursive CTE — two
    genuinely independent algorithms checking each other.
    """
    edges = jaccard_pairs(spark, sf_dir, _CC_JACCARD).select("ia", "ib")
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id")
    )
    return components(nodes, edges).toDF("doc_id", "component")


#: SQL-native MinHash-LSH geometry: 8 hash functions, 4 bands x 2 rows.
_MH_K, _MH_B, _MH_R = 8, 4, 2


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, key) LSH band table — shared signature kernel for
    `dedup_minhash_sql` (self-join) and `dedup_incremental_minhash`
    (new-batch vs corpus join). k=8 min-hash functions as 8-hex-char
    slices of two salted md5s, all minima from ONE hash aggregation;
    band keys are plain concats of min pairs. Mirrors the
    ``_MH_BANDS_SQL`` oracle CTE exactly."""
    sh = shingle_bag(spark, sf_dir)
    hashed = sh.select(
        "doc_id",
        F.md5(F.concat(F.col("s"), F.lit(":0"))).alias("h0"),
        F.md5(F.concat(F.col("s"), F.lit(":1"))).alias("h1"),
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.col(f"h{i // 4}"), 8 * (i % 4) + 1, 8)
            ).alias(f"mh{i}")
            for i in range(_MH_K)
        ]
    )
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat(F.col(f"mh{2*j}"), F.col(f"mh{2*j+1}"))
                    for j in range(_MH_B)
                ]
            )
        ).alias("band", "key"),
    )


def minhash_bands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's materialized band table. Both minhash rungs
    (self-join dedup, incremental ingest) start from the same signature
    build — the dominant cost (2 md5 per shingle); at 100 TB this is the
    persisted LSH index."""
    return session_checkpoint(
        spark, ("minhash_bands", sf_dir), lambda: minhash_bands(spark, sf_dir)
    )


#: oracle twin of ``minhash_bands`` — the shared CTE chain ending at
#: ``bands(doc_id, band, key)``; both minhash oracles are built from
#: THIS string so the signature definitions cannot drift apart.
_MH_BANDS_SQL = f"""
WITH sh AS (
  SELECT doc_id, substr(text, i::INT, {_SHINGLE}) AS s
  FROM documents, range(1, 1000) t(i)
  WHERE i <= n_chars - {_SHINGLE - 1}
),
sig AS (
  SELECT doc_id,
         MIN(substr(md5(s || ':0'),  1, 8)) AS mh0,
         MIN(substr(md5(s || ':0'),  9, 8)) AS mh1,
         MIN(substr(md5(s || ':0'), 17, 8)) AS mh2,
         MIN(substr(md5(s || ':0'), 25, 8)) AS mh3,
         MIN(substr(md5(s || ':1'),  1, 8)) AS mh4,
         MIN(substr(md5(s || ':1'),  9, 8)) AS mh5,
         MIN(substr(md5(s || ':1'), 17, 8)) AS mh6,
         MIN(substr(md5(s || ':1'), 25, 8)) AS mh7
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, mh0 || mh1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig
)"""


@register(
    "dedup_minhash_sql",
    oracle=_MH_BANDS_SQL + """
SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def dedup_minhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs in pure SQL expressions — and, unlike
    the MLlib variant (`dedup_near_minhash`), fully oracle-hash-checked.

    MinHash signature: per document, k=8 min-hash functions realized as
    the minima of 8-hex-char SLICES of two salted md5s — 2 md5 calls
    per shingle instead of 8 (md5 over the ~10-char shingle dominates
    the signature build; slicing one digest into four 32-bit hash
    functions quarters that cost: measured 2.2 s → 1.1 s at sf0.1).
    All 8 minima come out of ONE hash aggregation over the shingle
    stream (no k-times row blowup; min combines map-side). LSH
    banding: the 8 mins pack pairwise into 4 band keys (plain concat —
    equi-join needs equality, not uniformity, so no extra digest);
    documents agreeing on ANY band become candidates via an equi-join
    on (band, key). P(candidate) = 1-(1-s^2)^4 for true
    shingle-Jaccard s — the classic b/r recall curve. At 100 TB:
    signature build is one shuffle on doc_id, the candidate join
    shuffles band keys (uniform md5 slices — no skew), and the pair
    space is buckets only, never n². md5 is engine-portable (identical
    lowercase hex in Spark and DuckDB), which is what makes this rung
    hash-checkable.
    """
    # materialized band table (shared with the incremental rung): a
    # self-join re-executes the whole signature lineage on BOTH sides
    # otherwise. 4 rows/doc — trivially small at any scale.
    bands = minhash_bands_cached(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


#: fuzzy-key geometry: compare the first _FUZZY_KEY chars of each doc,
#: block on the first _FUZZY_BLOCK chars, accept edit distance <= _FUZZY_K.
_FUZZY_KEY = 32
_FUZZY_BLOCK = 8
_FUZZY_K = 6


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
WITH k AS (
  SELECT doc_id,
         substr(text, 1, {_FUZZY_KEY}) AS fkey,
         substr(text, 1, {_FUZZY_BLOCK}) AS blk
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.fkey, b.fkey) AS edit_dist
FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.fkey, b.fkey) <= {_FUZZY_K}
""",
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-duplicate pairs by edit distance — the typo-tolerant
    rung of the dedup ladder (MinHash/SimHash catch token-level overlap;
    Levenshtein catches character-level mutations of short keys the way
    record-linkage dedups titles or names).

    Candidate generation is a prefix-block equi-join — only documents
    sharing their first 8 characters are ever compared, so there is no
    all-pairs enumeration; the quadratic Levenshtein kernel then runs
    on 32-char keys only, inside the join's filter, JVM-side
    (``F.levenshtein`` — both engines implement unit-cost edit
    distance, so the checked distances agree exactly). The reported
    pair set is *defined* as "same block AND distance <= k" (mirrored
    verbatim in the oracle): like every blocked dedup, recall is traded
    at block boundaries — a pair whose very first characters differ is
    assumed not a near-duplicate.

    Scale: one shuffle of (block, key) tuples — bytes per row bounded
    by the 40-char projection, never the document body. Hot blocks
    (boilerplate prefixes) blow up quadratically just like hot shingles
    in `dedup_ngram_jaccard`; the mitigation is the same documented
    frequency cap on block size before the self-join.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, _FUZZY_KEY).alias("fkey"),
        F.substring("text", 1, _FUZZY_BLOCK).alias("blk"),
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.fkey"), F.col("b.fkey")).alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= _FUZZY_K)
    )


_CONTAIN_MIN = 0.85


@register(
    "dedup_containment",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i::INT, {_SHINGLE}) AS s
  FROM documents, range(1, 1000) t(i)
  WHERE i <= n_chars - {_SHINGLE - 1}
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src_id, dst_id, i * 1.0 / x.n AS containment
FROM inter JOIN sz x ON x.doc_id = src_id
WHERE i * 1.0 / x.n >= {_CONTAIN_MIN}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment C(A→B) = |S(A)∩S(B)| / |S(A)| — the
    asymmetric cousin of Jaccard that catches SUB-document duplication
    (a short doc swallowed by a longer one scores near 1.0 on
    containment while its Jaccard stays low). This is the quote/
    boilerplate-inclusion detector a training-corpus dedup runs after
    the symmetric rungs.

    Same skeleton as :func:`jaccard_pairs` — distinct shingles, shingle
    equi-join (only docs sharing a shingle are compared), one pair
    aggregation — but pairs are DIRECTED (``!=`` not ``<``; each
    unordered pair appears once per direction) and the denominator is
    the source's own shingle count. The ratio is two exact ints — both
    engines emit identical doubles. Scale posture identical to the
    Jaccard rung, including the hot-shingle frequency cap.
    """
    sh = shingle_set(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("src_id"), F.col("b.doc_id").alias("dst_id")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(
            sz.withColumnRenamed("doc_id", "src_id").withColumnRenamed("n", "na"),
            "src_id",
        )
        .select(
            "src_id",
            "dst_id",
            (F.col("i") * 1.0 / F.col("na")).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_MIN)
    )


@register(
    "corpus_dedup_pipeline",
    oracle=f"""
WITH RECURSIVE {NEAR_DUP_PAIRS_SQL},
{components_sql("SELECT doc_id FROM documents")},
keep AS (
  SELECT component, MIN(node_id) AS doc_id, COUNT(*) AS n_members
  FROM comp GROUP BY component
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, k.component,
       CAST(k.n_members AS BIGINT) AS n_members
FROM keep k JOIN documents d USING (doc_id)
""",
)
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dup pipeline as one workload: shingle →
    Jaccard pairs → connected components → one survivor per duplicate
    CLUSTER (min doc_id), full row + cluster size — what a training-data
    build actually runs, composed entirely from the engine's own
    kernels (`jaccard_pairs`, the `components` loop of
    `dedup_connected_components`, and the window-keeper idiom of
    `dedup_corpus_survivors` — here keyed by component, not content
    hash, so TRANSITIVE near-dups collapse too).

    Scale = the sum of its stages, already argued piecewise in
    SCALE.md: banded/shingle-joined pair space (never n²), CC rounds =
    graph diameter, survivor selection one shuffle on the component
    key. The oracle extends the CC oracle's `components_sql` closure.
    """
    labels = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    rows = d.join(labels, "doc_id")
    wc = Window.partitionBy("component")
    return (
        rows.select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "component",
            F.row_number().over(wc.orderBy("doc_id")).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


#: DuckDB twin of `dedup_embed_cosine`'s pairs: a ``pairs(ia, ib)`` CTE.
_COS_PAIRS_SQL = f"""pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= {_COS_DUP_MIN}
)"""


@register(
    "semantic_dedup_pipeline",
    oracle=f"""
WITH RECURSIVE {_COS_PAIRS_SQL},
{components_sql("SELECT vec_id FROM embeddings")},
keep AS (
  SELECT component, MIN(node_id) AS vec_id, COUNT(*) AS n_members
  FROM comp GROUP BY component
)
SELECT em.vec_id, em.label, k.component,
       CAST(k.n_members AS BIGINT) AS n_members
FROM keep k JOIN embeddings em USING (vec_id)
""",
)
def semantic_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs →
    connected components → one survivor per semantic cluster — the
    lexical `corpus_dedup_pipeline`'s sibling operating in embedding
    space (catches paraphrases and translations that share no
    shingles). Edges come from the broadcast-matrix cosine kernel
    (`dedup_embed_cosine`); clustering is the SAME
    `components` loop (pairs are not transitive in cosine
    space either); survivor selection keys on the component. At 100 TB
    the edge stage swaps to the LSH/IVF candidate rungs — the cluster
    and survivor stages are unchanged.
    """
    pairs = dedup_embed_cosine(spark, sf_dir).select("ia", "ib")
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    nodes = em.select(F.col("vec_id").alias("node_id"))
    labels = components(nodes, pairs).toDF("vec_id", "component")
    rows = em.join(labels, "vec_id")
    wc = Window.partitionBy("component")
    return (
        rows.select(
            "vec_id",
            "label",
            "component",
            F.row_number().over(wc.orderBy("vec_id")).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "dedup_normalized",
    oracle="""
WITH norm AS (
  SELECT doc_id, lang, source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM documents
), marked AS (
  SELECT doc_id, lang, source, h,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS n_variants
  FROM norm
)
SELECT doc_id AS keeper, lang, source, h,
       CAST(n_variants AS BIGINT) AS n_variants
FROM marked WHERE rn = 1
""",
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization dedup — the rung between exact and fuzzy: collapse
    case and whitespace-run variants (the most common near-identical
    duplicates in scraped corpora: same text re-serialized with
    different casing/spacing) onto one canonical hash, then the same
    window-keeper idiom as `dedup_exact`. The normalization is three
    codegen'd string builtins feeding md5 — one shuffle on the
    canonical hash, full rows carried through, no Python. Stricter
    canonicalizations (unicode NFC, punctuation folding) slot into the
    same expression without changing the plan.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    w = Window.partitionBy(h).orderBy("doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            h.alias("h"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy(h)).alias("n_variants"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("keeper"), "lang", "source", "h",
            F.col("n_variants").cast("long").alias("n_variants"),
        )
    )


def _dedup_eval_oracle() -> str:
    """Stitch the two REGISTERED oracles (exact-Jaccard truth, MinHash
    candidates) into one evaluation query — built from the live ORACLE
    registry so the eval can never drift from what the component keys
    actually compute."""
    from ..registry import ORACLE

    truth = ORACLE["dedup_ngram_jaccard"].strip()
    cand = ORACLE["dedup_minhash_sql"].strip()
    return f"""
WITH truth AS ({truth}),
cand AS ({cand}),
tp AS (
  SELECT COUNT(*) AS n_tp
  FROM truth t JOIN cand c ON t.ia = c.ia AND t.ib = c.ib
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       n_tp,
       CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(n_tp AS DOUBLE) / (SELECT COUNT(*) FROM cand) END
         AS precision,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(n_tp AS DOUBLE) / (SELECT COUNT(*) FROM truth) END
         AS recall
FROM tp
"""


@register("dedup_minhash_eval", oracle=_dedup_eval_oracle())
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The completeness critic for near-dup detection, itself
    hash-verified: run the exact character-shingle Jaccard join (the
    TRUTH set, ≥ 0.9) and the MinHash-LSH banded candidates side by
    side and report candidate-count, truth-count, true positives,
    precision and recall as one row of exact ratios.

    Every dedup system quotes a recall number; this one's is computed
    by the engine being graded AND cross-checked cell-by-cell against
    DuckDB running the composed SQL of the same two registered oracles
    (stitched programmatically from the live registry, so the eval can
    never drift from the component definitions). At 100 TB you run
    this on a sampled stratum — both component plans are the bucketed
    joins already documented; the evaluation adds one (ia, ib) hash
    join and a scalar aggregate. Note MinHash's banded candidates at
    this b/r geometry include sub-threshold pairs (precision < 1 by
    design — they are killed by the verify stage downstream), while
    recall at Jaccard ≥ 0.9 should be near 1: P(candidate) =
    1−(1−s²)⁴ ≥ 0.9996 at s = 0.9.
    """
    truth = jaccard_pairs(spark, sf_dir, _JACCARD_MIN).select("ia", "ib")
    cand = dedup_minhash_sql(spark, sf_dir).select("ia", "ib")
    n_truth = truth.count()
    n_cand = cand.count()
    n_tp = truth.join(cand, ["ia", "ib"]).count()
    row = [
        (
            n_truth,
            n_cand,
            n_tp,
            (float(n_tp) / n_cand) if n_cand else 0.0,
            (float(n_tp) / n_truth) if n_truth else 0.0,
        )
    ]
    return local_frame(
        spark,
        row,
        "n_truth BIGINT, n_cand BIGINT, n_tp BIGINT,"
        " precision DOUBLE, recall DOUBLE",
    )


#: sorted-neighborhood parameters: comparison key length, window width
#: (each record meets the next w-1 records in sort order), and the
#: edit-distance accept threshold (~60% of the 64-char key must agree —
#: probed on the fixture corpus: neighbor distances median 45, so 40
#: keeps only genuinely closer-than-chance pairs).
_SNM_KEY = 64
_SNM_W = 3
_SNM_K = 40


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH k AS (
  SELECT doc_id, substr(text, 1, {_SNM_KEY}) AS fkey
  FROM documents
),
s AS (
  SELECT doc_id, fkey,
         lead(doc_id, 1) OVER (ORDER BY fkey, doc_id) AS d1,
         lead(fkey, 1)  OVER (ORDER BY fkey, doc_id) AS f1,
         lead(doc_id, 2) OVER (ORDER BY fkey, doc_id) AS d2,
         lead(fkey, 2)  OVER (ORDER BY fkey, doc_id) AS f2
  FROM k
),
p AS (
  SELECT doc_id AS doc_a, d1 AS doc_b, levenshtein(fkey, f1) AS edit_dist
  FROM s WHERE d1 IS NOT NULL
  UNION ALL
  SELECT doc_id, d2, levenshtein(fkey, f2) FROM s WHERE d2 IS NOT NULL
)
SELECT LEAST(doc_a, doc_b) AS doc_a, GREATEST(doc_a, doc_b) AS doc_b,
       edit_dist
FROM p WHERE edit_dist <= {_SNM_K}
""",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood method (SNM) — the record-linkage blocking
    strategy complementary to `dedup_fuzzy_levenshtein`'s prefix
    blocks: sort all records by the comparison key, then compare each
    record only with its next w-1 neighbors in sort order. Where a
    prefix-block join misses pairs that straddle a block boundary, the
    sliding window catches any pair whose keys sort adjacently —
    recall is traded against a LINEAR candidate count (w·n pairs
    total, vs potentially quadratic hot blocks).

    The window is two `lead()`s over the sort, the quadratic
    Levenshtein kernel again runs JVM-side on 64-char keys only, and
    pairs canonicalize to (min,max) id order. The single global-order
    window is the textbook SNM compromise; the distributed form
    range-partitions on the sort key and replays the last w-1 rows of
    each partition into the next (exactly what
    `repartitionByRange` + boundary overlap gives), so no stage ever
    holds more than its range — documented, not needed at fixture
    scale.
    """
    k = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, _SNM_KEY).alias("fkey")
    )
    w = Window.orderBy("fkey", "doc_id")
    s = k.select(
        "doc_id",
        "fkey",
        F.lead("doc_id", 1).over(w).alias("d1"),
        F.lead("fkey", 1).over(w).alias("f1"),
        F.lead("doc_id", 2).over(w).alias("d2"),
        F.lead("fkey", 2).over(w).alias("f2"),
    )
    p1 = s.where(F.col("d1").isNotNull()).select(
        F.col("doc_id").alias("doc_a"),
        F.col("d1").alias("doc_b"),
        F.levenshtein("fkey", "f1").alias("edit_dist"),
    )
    p2 = s.where(F.col("d2").isNotNull()).select(
        F.col("doc_id").alias("doc_a"),
        F.col("d2").alias("doc_b"),
        F.levenshtein("fkey", "f2").alias("edit_dist"),
    )
    return (
        p1.unionAll(p2)
        .where(F.col("edit_dist") <= _SNM_K)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "edit_dist",
        )
    )


#: incremental-ingest split: docs with doc_id % 10 == 7 play the "new
#: batch" (a ~10% daily ingest); the rest are the standing corpus.
_INC_MOD, _INC_NEW = 10, 7


@register(
    "dedup_incremental_minhash",
    oracle=_MH_BANDS_SQL + f""",
hits AS (
  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
         COUNT(*) AS n_shared_bands
  FROM bands n
  JOIN bands c ON c.band = n.band AND c.key = n.key
  WHERE n.doc_id % {_INC_MOD} = {_INC_NEW}
    AND c.doc_id % {_INC_MOD} <> {_INC_NEW}
  GROUP BY 1, 2
),
best AS (
  SELECT new_id, corpus_id, n_shared_bands,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY n_shared_bands DESC, corpus_id)
           AS rn
  FROM hits
)
SELECT new_id, corpus_id AS dup_of, n_shared_bands
FROM best WHERE rn = 1
""",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection — the production ingest shape none
    of the batch rungs cover: a new batch of documents is checked
    against the standing corpus's MinHash index, emitting each new doc's
    best corpus match (most shared bands, tie → lowest corpus id). New
    docs with no band collision pass clean — they don't appear.

    The asymmetry is the point: the corpus band table is a PERSISTED
    index at 100 TB (built once, appended per ingest — here both sides
    derive from one `minhash_bands` pass split by the ingest predicate),
    so a daily batch costs |batch| signature builds plus an equi-join
    of the batch's 4·|batch| band keys against the index — never a
    corpus self-join, and never recomputing corpus signatures. The
    band join shuffles only band keys (uniform md5 slices — no skew);
    the per-new-doc argmax is a ``max_by``-class top-1 (here a
    row_number over the per-new-doc candidate set, bounded by band
    collisions). Same 8-slice salted-md5 signature kernel and
    ``_MH_BANDS_SQL`` oracle CTE as `dedup_minhash_sql`, so the two
    rungs cannot drift apart.
    """
    bands = minhash_bands_cached(spark, sf_dir)
    is_new = (F.col("doc_id") % _INC_MOD) == _INC_NEW
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    corpus_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("corpus_id"), "band", "key"
    )
    hits = (
        new_b.join(corpus_b, ["band", "key"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("n_shared_bands").desc(), "corpus_id"
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("new_id", F.col("corpus_id").alias("dup_of"), "n_shared_bands")
    )


@register(
    "dedup_survivor_policy",
    oracle=r"""
WITH norm AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(list_sort(list_distinct(
           string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
         )), ' ')) AS h
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars, h,
         ROW_NUMBER() OVER (PARTITION BY h
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS n_variants
  FROM norm
),
surv AS (SELECT h, doc_id AS survivor FROM ranked WHERE rn = 1)
SELECT r.doc_id AS dropped, s.survivor, r.h,
       CAST(r.n_variants AS BIGINT) AS n_variants
FROM ranked r JOIN surv s ON s.h = r.h
WHERE r.rn > 1
""",
)
def dedup_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-based survivor selection — dedup that keeps the BEST
    variant, not the first: within each WORD-SET cluster (md5 of
    the sorted distinct lowercase token set — the bag-of-words-invariant
    canonical form that catches shuffled/re-wrapped boilerplate the
    `dedup_normalized` whitespace hash misses) the survivor is the
    longest raw text (most complete variant), tie-broken by lowest
    doc_id, and
    the output is the DROP LIST (dropped → survivor mapping) an
    auditable pipeline must emit alongside the survivors.

    Same single-shuffle window-keeper idiom as `dedup_exact`, plus one
    cluster-keyed self-join to attach each dropped row's survivor —
    both keyed on the canonical hash, so the exchange is reused. Any
    quality policy (source rank, fetch recency, quality score) slots
    into the ORDER BY without changing the plan; at 100 TB the policy
    column rides the same shuffle for free.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.split(
                        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))),
                        " ",
                    )
                )
            ),
            " ",
        )
    )
    w = Window.partitionBy("h").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.select(
        "doc_id",
        "n_chars",
        h.alias("h"),
    ).select(
        "doc_id",
        "n_chars",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("h")).alias("n_variants"),
    )
    surv = ranked.where(F.col("rn") == 1).select(
        "h", F.col("doc_id").alias("survivor")
    )
    return (
        ranked.where(F.col("rn") > 1)
        .join(surv, "h")
        .select(
            F.col("doc_id").alias("dropped"),
            "survivor",
            "h",
            F.col("n_variants").cast("long").alias("n_variants"),
        )
    )


_SPAN_K = 24

#: shared oracle CTE chain ending at ``spans(doc_id, grp, s, e)`` —
#: both substring operators (audit + cut) build their oracles from THIS
#: string so the span definition cannot drift between them.
_SPAN_CTE = f"""
WITH g AS (
  SELECT doc_id, i AS pos, md5(substr(text, i::INT, {_SPAN_K})) AS h
  FROM documents, range(1, 1000) t(i)
  WHERE i <= n_chars - {_SPAN_K - 1}
),
dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
p AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM g JOIN dup USING (h)
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos > prev + {_SPAN_K}
             THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM p
),
spans AS (
  SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + {_SPAN_K - 1} AS e
  FROM isl GROUP BY 1, 2
)"""


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, grp, s, e) maximal duplicated spans — the Spark twin of
    ``_SPAN_CTE``, shared by `dedup_substring_spans` (audit) and
    `dedup_substring_cut` (transform)."""
    d = load_table(spark, sf_dir, "documents")
    # the fixture is one parquet file -> one input split; fan the docs
    # out BEFORE the position explode or the whole gram/digest build
    # runs in a single task (same note as stat_bootstrap_ci).
    g = (
        fan_out(d)
        .filter(F.col("n_chars") >= _SPAN_K)
        .select(
            "doc_id",
            # cap at 999 to mirror the oracle's range(1, 1000): both
            # sides enumerate identical gram positions even on docs
            # longer than 999 + K - 1 chars.
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.col("n_chars") - _SPAN_K + 1, F.lit(999)),
                )
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.expr(f"substr(text, pos, {_SPAN_K})")).alias("h"),
        )
    )
    g = g.localCheckpoint(eager=True)  # feeds the count AND the probe side
    dup = g.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter("c > 1")
    w = Window.partitionBy("doc_id").orderBy("pos")
    p = (
        g.join(dup.select("h"), "h")
        .select("doc_id", "pos", F.lag("pos").over(w).alias("prev"))
        .select(
            "doc_id",
            "pos",
            F.sum(
                F.when(
                    F.col("prev").isNull()
                    | (F.col("pos") > F.col("prev") + _SPAN_K),
                    1,
                ).otherwise(0)
            )
            .over(w)
            .alias("grp"),
        )
    )
    return p.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"), (F.max("pos") + _SPAN_K - 1).alias("e")
    )


@register(
    "dedup_substring_spans",
    oracle=_SPAN_CTE
    + """
SELECT d.doc_id, COUNT(*) AS n_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
       ROUND(SUM(e - s + 1) * 1.0 / ANY_VALUE(d.n_chars), 4) AS dup_frac
FROM spans JOIN documents d USING (doc_id)
GROUP BY 1
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup audit (the ExactSubstr treatment of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): find every character position whose {_SPAN_K}-gram recurs
    ANYWHERE in the corpus, merge overlapping positions into maximal
    duplicated SPANS per document, and report span count / duplicated
    chars / duplicated fraction — the per-document evidence the
    cut-the-span transform (`dedup_substring_cut`) acts on
    (document-level dedup misses partial overlap: boilerplate headers,
    quoted replies, licence blocks).

    Plan (kernel in ``_dup_spans``): position-explode each doc into
    (doc_id, pos, hash(gram)) — a digest travels, never the gram text,
    so the shuffle row is ~24 bytes regardless of gram width. The
    digest is xxhash64 on the Spark side and md5 in the oracle: it is
    an INTERNAL grouping key that never reaches the output (only merged
    spans do), so the two engines are free to hash differently — and
    the 8-byte JVM-native hash halves the shuffle vs a 32-hex string
    (measured 4.5 s → 2.7 s at sf0.1). Count per digest (map-side
    combine; a recurring gram's count is its corpus frequency);
    semi-join occurrences to the >1 digests; then a per-document window
    merges positions into islands (two adjacent dup positions belong to
    one span iff pos ≤ prev + {_SPAN_K}). The window partitions by
    doc_id — document-sized state, never corpus-sized. At 100 TB the
    digest count table is the big intermediate: it is uniform so the
    groupBy doesn't skew, and a min-frequency guard (count ≤ some cap)
    would drop stop-gram floods the way dedup_ngram_jaccard documents;
    suffix automata (the paper's single-node tool) don't distribute,
    which is exactly why the positional-shingle compilation is the
    Spark-first form.
    """
    d = load_table(spark, sf_dir, "documents")
    spans = _dup_spans(spark, sf_dir)
    return (
        spans.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_chars"),
            F.round(
                F.sum(F.col("e") - F.col("s") + 1)
                / F.first("n_chars").cast("double"),
                4,
            ).alias("dup_frac"),
        )
    )


@register(
    "dedup_substring_cut",
    oracle=_SPAN_CTE
    + """,
pieces AS (
  SELECT sp.doc_id,
         sp.s,
         substr(d.text,
                (COALESCE(LAG(sp.e) OVER (PARTITION BY sp.doc_id
                                          ORDER BY sp.s), 0) + 1)::INT,
                (sp.s - COALESCE(LAG(sp.e) OVER (PARTITION BY sp.doc_id
                                                 ORDER BY sp.s), 0)
                      - 1)::INT) AS piece
  FROM spans sp JOIN documents d USING (doc_id)
),
cut AS (
  SELECT p.doc_id,
         STRING_AGG(p.piece, '' ORDER BY p.s)
           || substr(ANY_VALUE(d.text), (MAX(sp.e) + 1)::INT) AS kept,
         CAST(SUM(sp.e - sp.s + 1) AS BIGINT) AS n_cut
  FROM pieces p
  JOIN spans sp ON sp.doc_id = p.doc_id AND sp.s = p.s
  JOIN documents d ON d.doc_id = p.doc_id
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       COALESCE(c.kept, d.text) AS text_clean,
       COALESCE(c.n_cut, 0) AS n_cut,
       CAST(d.n_chars - COALESCE(c.n_cut, 0) AS BIGINT) AS n_chars_clean
FROM documents d LEFT JOIN cut c USING (doc_id)
""",
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr TRANSFORM: remove every duplicated span found by
    the `_dup_spans` kernel and return the cleaned corpus — what a
    training-data pipeline actually materializes after the
    `dedup_substring_spans` audit signs off. Cut-not-drop matters: the
    paper's result is that removing the duplicated BYTES (not whole
    documents) improves LM quality while keeping the unique remainder.

    Per doc the kept text is the concatenation of inter-span gaps plus
    the tail: piece_i = text[prev_e+1 .. s_i-1] via one lag window over
    the doc's spans (document-sized state), assembled in span order
    with array_join over a sort_array of (s, piece) structs — the
    order-aware string aggregation both engines express exactly
    (STRING_AGG ... ORDER BY in DuckDB). Docs with no duplicated span
    pass through unchanged via the left join + coalesce. At 100 TB this
    is the same two-shuffle shape as the audit (the span kernel
    dominates; the cut itself is one doc-keyed window + one join), and
    the output is written back partitioned by the same doc-hash layout
    the corpus came in with — a 1:1 rewrite, no skew.
    """
    d = load_table(spark, sf_dir, "documents")
    spans = _dup_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("s")
    pieces = (
        spans.withColumn(
            "prev_e", F.coalesce(F.lag("e").over(w), F.lit(0))
        )
        .join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "s",
            "e",
            F.expr("substr(text, prev_e + 1, s - prev_e - 1)").alias("piece"),
        )
    )
    cut = (
        pieces.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("s", "piece"))
                    ),
                    lambda x: x["piece"],
                ),
                "",
            ).alias("head"),
            F.max("e").alias("max_e"),
            F.sum(F.col("e") - F.col("s") + 1).alias("n_cut"),
        )
    )
    return (
        d.join(cut, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("head").isNull(), F.col("text")
            )
            .otherwise(
                F.concat(
                    F.col("head"),
                    F.expr("substr(text, max_e + 1)"),
                )
            )
            .alias("text_clean"),
            F.coalesce(F.col("n_cut"), F.lit(0)).alias("n_cut"),
            (F.col("n_chars") - F.coalesce(F.col("n_cut"), F.lit(0)))
            .cast("long")
            .alias("n_chars_clean"),
        )
    )


@register(
    "dedup_blocking_multipass",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, substr(text, 1, 64) AS p64,
         substr(text, 1, 16) AS p16
  FROM documents
),
block_a AS (
  SELECT a.doc_id AS x, b.doc_id AS y,
         a.p64 = b.p64 AND abs(a.n_chars - b.n_chars) <= 8 AS dup
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source
   AND a.n_chars // 50 = b.n_chars // 50
   AND a.doc_id < b.doc_id
),
block_b AS (
  SELECT a.doc_id AS x, b.doc_id AS y,
         a.p64 = b.p64 AND abs(a.n_chars - b.n_chars) <= 8 AS dup
  FROM d a JOIN d b
    ON a.p16 = b.p16
   AND a.doc_id < b.doc_id
),
stats AS (
  SELECT (SELECT COUNT(*) FROM block_a) AS cand_a,
         (SELECT COUNT(*) FROM block_b) AS cand_b,
         (SELECT COUNT(*) FROM (SELECT x, y FROM block_a
                                INTERSECT SELECT x, y FROM block_b) t)
           AS cand_both,
         (SELECT COUNT(*) FROM (SELECT x, y FROM block_a WHERE dup
                                UNION SELECT x, y FROM block_b WHERE dup) t)
           AS verified
)
SELECT CAST(cand_a AS BIGINT) AS cand_a,
       CAST(cand_b AS BIGINT) AS cand_b,
       CAST(cand_both AS BIGINT) AS cand_both,
       CAST(verified AS BIGINT) AS verified_pairs
FROM stats
""",
)
def dedup_blocking_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocking for entity resolution: TWO independent
    blocking passes — (lang, source, 50-char length band) and
    (16-char text prefix) — each generate candidate pairs, the union
    feeds one exact verify (64-char prefix match within an 8-char
    length tolerance). Multi-pass blocking is THE recall lever of
    entity resolution at scale: any single key misses pairs that
    disagree on it, and the pass-overlap count this audit reports is
    the standard diagnostic for whether the passes are complementary
    or redundant.

    Every pair comes from an EQUI self-join on a block key (banded,
    never all-pairs — a.doc_id < b.doc_id canonicalizes); block widths
    bound the per-block pair budget exactly like the LSH band tables.
    At 100 TB each pass is one hash shuffle on its block key, and the
    union/verify runs on the (much smaller) candidate set.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring("text", 1, 64).alias("p64"),
        F.substring("text", 1, 16).alias("p16"),
        F.expr("n_chars div 50").alias("band"),
    )

    def _pairs(df, keys):
        a = df.select(
            *[F.col(k).alias(f"k_{k}") for k in keys],
            F.col("doc_id").alias("x"),
            F.col("p64").alias("pa"),
            F.col("n_chars").alias("na"),
        )
        b = df.select(
            *[F.col(k).alias(f"k_{k}") for k in keys],
            F.col("doc_id").alias("y"),
            F.col("p64").alias("pb"),
            F.col("n_chars").alias("nb"),
        )
        return (
            a.join(b, [f"k_{k}" for k in keys])
            .where(F.col("x") < F.col("y"))
            .select(
                "x",
                "y",
                (
                    (F.col("pa") == F.col("pb"))
                    & (F.abs(F.col("na") - F.col("nb")) <= 8)
                ).alias("dup"),
            )
        )

    pa = _pairs(d, ["lang", "source", "band"])
    pb = _pairs(d, ["p16"])
    cand_a = pa.agg(F.count(F.lit(1)).alias("cand_a"))
    cand_b = pb.agg(F.count(F.lit(1)).alias("cand_b"))
    both = (
        pa.select("x", "y")
        .intersect(pb.select("x", "y"))
        .agg(F.count(F.lit(1)).alias("cand_both"))
    )
    verified = (
        pa.where("dup")
        .select("x", "y")
        .union(pb.where("dup").select("x", "y"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("verified_pairs"))
    )
    return (
        cand_a.crossJoin(F.broadcast(cand_b))
        .crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(verified))
    )


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity, bit-compatible with DuckDB's
    ``jaro_winkler_similarity`` (validated on reference pairs: same
    match-window, transposition halving, 0.7 boost threshold, 0.1
    prefix scale capped at 4 chars). Pure-python per pair; the kernel
    runs Arrow-batched over CANDIDATE pairs only."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    md = max(l1, l2) // 2 - 1
    if md < 0:
        md = 0
    f1 = [False] * l1
    f2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not f2[j] and s2[j] == c:
                f1[i] = f2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if j <= 0.7:
        return j
    pre = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        pre += 1
    return j + pre * 0.1 * (1.0 - j)


#: dedup_jaro_winkler: blocks larger than this are purged before
#: pairing — the standard record-linkage guard: an oversized block is
#: a low-signal key whose pair count grows quadratically (measured
#: 108 s at the 10x fixture un-purged vs 4 s purged).
_JW_BLOCK_CAP = 64


@register(
    "dedup_jaro_winkler",
    oracle=f"""
WITH k0 AS (
  SELECT doc_id,
         substr(text, 1, {_FUZZY_KEY}) AS fkey,
         substr(text, 1, {_FUZZY_BLOCK}) AS blk
  FROM documents
),
keep AS (
  SELECT blk FROM k0 GROUP BY blk HAVING COUNT(*) <= {_JW_BLOCK_CAP}
),
k AS (SELECT k0.* FROM k0 JOIN keep USING (blk)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {grid_sql('jaro_winkler_similarity(a.fkey, b.fkey)', 6)} AS jw_micro
  FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jw_micro FROM pairs
WHERE jw_micro >= 850000
ORDER BY jw_micro DESC, doc_a, doc_b
LIMIT 50
""",
)
def dedup_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler fuzzy matching over prefix-blocked candidate pairs
    — the record-linkage similarity (transposition-tolerant,
    prefix-boosted) that complements `dedup_fuzzy_levenshtein`'s edit
    distance for short keys like names/titles. Spark has no built-in
    Jaro-Winkler, so the kernel is an Arrow-batched pandas UDF running
    a bit-compatible reimplementation of the reference algorithm
    (validated pairwise against DuckDB's builtin — the oracle is an
    INDEPENDENT implementation, making this one of the strongest hash
    checks in the registry); the 8-char prefix block keeps the pair
    space candidate-sized, never all-pairs, and oversized blocks are
    PURGED before pairing (low-signal keys, quadratic pair growth —
    the standard record-linkage block-size cap).

    100-TB posture: the block join shuffles on the prefix key (swap in
    any LSH/blocking generator); the per-pair kernel is O(key^2)
    bounded by the 32-char key cap. Top-50 at jw >= 0.85, integer
    tie-breaks.
    """
    d = load_table(spark, sf_dir, "documents")
    k0 = d.select(
        "doc_id",
        F.substring("text", 1, _FUZZY_KEY).alias("fkey"),
        F.substring("text", 1, _FUZZY_BLOCK).alias("blk"),
    )
    keep = (
        k0.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("bc"))
        .where(F.col("bc") <= _JW_BLOCK_CAP)
        .select("blk")
    )
    k = k0.join(keep, "blk")
    a = k.select(
        F.col("doc_id").alias("doc_a"), F.col("fkey").alias("fa"), "blk"
    )
    b = k.select(
        F.col("doc_id").alias("doc_b"), F.col("fkey").alias("fb"), "blk"
    )
    pairs = a.join(b, "blk").where(F.col("doc_a") < F.col("doc_b"))

    def jw_batches(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "doc_b": pdf["doc_b"],
                    "jw_micro": [
                        int(_jaro_winkler_py(x, y) * 1e6 + 0.5)
                        for x, y in zip(pdf["fa"], pdf["fb"])
                    ],
                }
            )

    scored = pairs.select("doc_a", "doc_b", "fa", "fb").mapInPandas(
        jw_batches, "doc_a BIGINT, doc_b BIGINT, jw_micro BIGINT"
    )
    return (
        scored.where(F.col("jw_micro") >= 850_000)
        .orderBy(F.col("jw_micro").desc(), "doc_a", "doc_b")
        .limit(50)
    )


@register(
    "dedup_semantic_rep",
    oracle=f"""
WITH RECURSIVE {_COS_PAIRS_SQL},
{components_sql("SELECT vec_id FROM embeddings")},
dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', 6)} AS g
  FROM embeddings),
dl AS (
  SELECT d.vec_id, c.component, d.i, d.g
  FROM dims d JOIN comp c ON c.node_id = d.vec_id),
cent AS (
  SELECT component, i, CAST(SUM(g) AS BIGINT) AS s
  FROM dl GROUP BY 1, 2),
sc AS (
  SELECT dl.vec_id, dl.component,
         CAST(SUM(dl.g * cent.s) AS BIGINT) AS score
  FROM dl JOIN cent ON cent.component = dl.component AND cent.i = dl.i
  GROUP BY 1, 2),
nm AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM comp GROUP BY 1)
SELECT component, vec_id AS rep_vec_id, n_members, score AS rep_score
FROM (
  SELECT s.component, s.vec_id, s.score, nm.n_members,
         ROW_NUMBER() OVER (PARTITION BY s.component
                            ORDER BY s.score DESC, s.vec_id) AS rn
  FROM sc s JOIN nm USING (component)) z
WHERE rn = 1 ORDER BY component
""",
)
def dedup_semantic_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style representative selection (Abbas et al. 2023,
    public): within each semantic duplicate cluster keep the member
    most aligned with the cluster centroid — NOT the arbitrary min-id
    survivor `semantic_dedup_pipeline` keeps. Alignment is the exact
    integer dot product <v_i, SUM_j v_j> on the micro grid (the
    unnormalized centroid — dropping the 1/n and the norm changes no
    argmax within a cluster and keeps every comparison in int64), so
    the per-cluster winner and its (score DESC, vec_id) tie-break are
    bit-identical across engines.

    Pipeline shape: embedding-cosine pairs (`dedup_embed_cosine`'s
    normalize-first kernel) -> `components` ->
    element-wise cluster-sum vectors (one (component, dim)-keyed
    aggregation) -> dot-product argmax. The DuckDB oracle recomputes
    the fixpoint with `components_sql` — independent algorithms, same
    answer.

    100-TB posture: the exploded (member, dim) relation is |rows|·64 —
    linear; centroids are |clusters|·64; both shuffles key on the
    component. Overflow: |g| <= ~5e6 micro, cluster sums |s| <= n·5e6,
    per-dim product g·s <= n·2.5e13 — int64-safe to ~300k-member
    clusters at 64 dims; the ledger's escalation is per-dim DECIMAL
    partials.
    """
    pairs = dedup_embed_cosine(spark, sf_dir).select("ia", "ib")
    em = load_table(spark, sf_dir, "embeddings")
    nodes = em.select(F.col("vec_id").alias("node_id"))
    labels = components(nodes, pairs).toDF("vec_id", "component")
    dims = em.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(embedding, x ->"
                f" CAST({grid_sql('CAST(x AS DOUBLE)', 6)}"
                " AS BIGINT))"
            )
        ).alias("i", "g"),
    )
    dl = dims.join(labels, "vec_id")
    cent = dl.groupBy("component", "i").agg(
        F.sum("g").cast("long").alias("s")
    )
    sc = (
        dl.join(cent, ["component", "i"])
        .groupBy("vec_id", "component")
        .agg(F.sum(F.col("g") * F.col("s")).cast("long").alias("score"))
    )
    nm = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc(), "vec_id"
    )
    return (
        sc.join(nm, "component")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component", F.col("vec_id").alias("rep_vec_id"),
            "n_members", F.col("score").alias("rep_score"),
        )
        .orderBy("component")
    )
