"""Text-analysis operators for training-data pipelines (SURVEY.md §2.10).

All pure built-in expressions (split/explode/regexp/higher-order fns) —
no Python in the hot path. Each operator is a single scan plus at most
one shuffle; ratios and scores are integer-derived or identically-
associated doubles, so every query here is oracle-hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.exact import dsum, dsum_sql, grid, grid_sql
from ..registry import register


@register(
    "text_stats",
    oracle=f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       {dsum_sql("len(string_split(text, ' '))", 'avg_tokens_numer', 2)}
FROM documents
GROUP BY lang, source
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source): doc/char/token counts.
    Token counts are ints → all derived stats are exact."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(n_tokens).alias("total_tokens"),
        dsum(n_tokens, "avg_tokens_numer", 2),
    )


@register(
    "text_ngram_tf",
    oracle="""
SELECT word, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS df
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
) t
GROUP BY word
ORDER BY freq DESC, word
LIMIT 50
""",
)
def text_ngram_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 term frequencies + document frequencies — the map-side-
    combined word count (one shuffle on the word key; at 100 TB salt the
    stop-word head or pre-filter it)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(50)
    )


@register(
    "text_tfidf",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word
),
df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, word,
       round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
ORDER BY tfidf DESC, doc_id, word
LIMIT 100
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring, fully relational (tf join df join corpus-size),
    top-100. ln() is libm-dependent → rounded to 6; ordering is on the
    rounded score with (doc_id, word) tie-breaks."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    return (
        tf.join(df, "word")
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "word")
        .limit(100)
    )


@register(
    "text_lang_filter",
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE lang IN ('en', 'es')
  AND n_chars BETWEEN 100 AND 400
  AND n_chars = length(text)
  AND text LIKE '% table %'
""",
)
def text_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus slicing: language allow-list + length bounds + the
    n_chars==length(text) integrity predicate + content match."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("lang").isin("en", "es")
        & F.col("n_chars").between(100, 400)
        & (F.col("n_chars") == F.length("text"))
        & F.col("text").like("% table %")
    ).select("doc_id", "lang", "source", "n_chars")


_STOPWORDS = {
    "en": ("the", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _lang_score_spark(lang: str):
    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return F.expr(f"size(filter(split(text, ' '), w -> w IN ({words})))")


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({words})))"


@register(
    "text_langid",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('es')} AS s_es,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr
  FROM documents
)
SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
       CASE WHEN s_en + s_es + s_de + s_fr = 0 THEN 'unknown'
            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM scored
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language ID (the classic n-gram-heuristic shape):
    per-language evidence counts + deterministic argmax (ties resolve in
    a fixed language order). Integer scores → exact cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    s = {lang: _lang_score_spark(lang) for lang in _STOPWORDS}
    scored = d.select(
        "doc_id",
        "lang",
        s["en"].alias("s_en"),
        s["es"].alias("s_es"),
        s["de"].alias("s_de"),
        s["fr"].alias("s_fr"),
    )
    return scored.withColumn(
        "pred_lang",
        F.when(
            (F.col("s_en") + F.col("s_es") + F.col("s_de") + F.col("s_fr")) == 0,
            "unknown",
        )
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr"),
    )


@register(
    "text_quality",
    oracle="""
SELECT doc_id,
       n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))
         AS avg_token_len,
       length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
       length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
       (n_chars BETWEEN 50 AND 5000
        AND len(string_split(text, ' ')) >= 10
        AND CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) < 15)
         AS passes_quality
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length / token / punctuation /
    uppercase signals + a composite keep/drop predicate — the standard
    pre-training corpus filter, all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    avg_tok = F.col("n_chars").cast("double") / n_tokens
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        F.length(F.regexp_replace("text", r"[^.,!?;:]", "")).alias("n_punct"),
        F.length(F.regexp_replace("text", r"[^A-Z]", "")).alias("n_upper"),
        (
            F.col("n_chars").between(50, 5000)
            & (n_tokens >= 10)
            & (avg_tok < 15)
        ).alias("passes_quality"),
    )


_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_TOKEN_RE}')) AS re_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS approx_bpe
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (letter runs / digit runs / single punctuation), and the chars/4
    rule-of-thumb estimate."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).alias("re_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("approx_bpe"),
    )


_FP_MOD = 1_000_003


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          w -> (length(w) * 131 + ascii(w)) % {_FP_MOD})),
         (a, x) -> (a * 31 + x) % {_FP_MOD}) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint over the word
    sequence — order-sensitive (unlike the bag-of-words hashes), so
    reordered near-dups get different fingerprints. Pure integer
    arithmetic → exact in both engines; DuckDB's list_reduce is seeded
    via list_prepend to match Spark's aggregate(…, 0, …) init."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(
            f"""
            aggregate(
              transform(split(text, ' '),
                        w -> (length(w) * 131 + ascii(w)) % {_FP_MOD}),
              CAST(0 AS BIGINT),
              (a, x) -> (a * 31 + x) % {_FP_MOD})
            """
        ).alias("fingerprint"),
    )


@register(
    "text_chunk",
    oracle="""
SELECT doc_id, CAST(n AS INT) AS chunk_id,
       substr(text, CAST(n*90 + 1 AS INT), 120) AS chunk,
       length(substr(text, CAST(n*90 + 1 AS INT), 120)) AS chunk_len
FROM documents,
     UNNEST(range(0, CAST(GREATEST(CEIL(n_chars / 90.0), 1) AS BIGINT))) AS u(n)
""",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step.

    Chunks of 120 characters with stride 90 (30-char overlap): chunk
    starts are ``sequence(0, n_chunks-1)`` exploded map-side, the slice
    is a built-in ``substr`` — zero Python, zero shuffle, output rows ≈
    input_chars/stride. At 100 TB chunking is embarrassingly parallel
    per input split; the overlap parameterization (chunk > stride) is
    what RAG/embedding pipelines need so no boundary sentence is lost.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(F.ceil(F.col("n_chars") / F.lit(90.0)), F.lit(1)).cast(
        "long"
    )
    start = F.col("chunk_id").cast("int") * 90 + 1
    chunk = F.col("text").substr(start, F.lit(120))
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


@register(
    "chunk_dedup_pipeline",
    oracle="""
WITH chunks AS (
  SELECT doc_id, substr(text, CAST(n*90 + 1 AS INT), 120) AS chunk
  FROM documents,
       UNNEST(range(0, CAST(GREATEST(CEIL(n_chars / 90.0), 1) AS BIGINT)))
         AS u(n)
), marked AS (
  SELECT doc_id, chunk,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, chunk) AS rn
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks
FROM marked
GROUP BY doc_id
""",
)
def chunk_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup audit — document dedup's finer-grained sibling
    (two documents can be globally distinct yet share paragraphs; RAG
    and pretraining dedup both operate at this granularity). Composes
    the engine's own kernels: the `text_chunk` fan-out feeds the
    `dedup_exact` window-keeper idiom keyed on the chunk hash, rolled
    back up to one audit row per document (chunks emitted, chunks that
    are duplicates of an earlier chunk anywhere in the corpus).

    Scale: the fan-out is map-side; the only shuffles are the chunk-
    hash window (uniform md5 — no skew) and the per-doc rollup. The
    keeper order (doc_id, chunk) is fully tie-broken so the 'earlier'
    copy is deterministic under any partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(F.ceil(F.col("n_chars") / F.lit(90.0)), F.lit(1)).cast(
        "long"
    )
    start = F.col("chunk_id").cast("int") * 90 + 1
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    ).select("doc_id", F.col("text").substr(start, F.lit(120)).alias("chunk"))
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk")
    marked = chunks.select(
        "doc_id", F.row_number().over(w).alias("rn")
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_chunks"),
    )


_PMI_MIN_PAIRS = 5


@register(
    "text_word_pmi",
    oracle=f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dw),
df AS (SELECT w, COUNT(*) AS n_w FROM dw GROUP BY w),
co AS (
  SELECT a.w AS word_a, b.w AS word_b, COUNT(*) AS n_ab
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
)
SELECT word_a, word_b, n_ab,
       ROUND(LN((n_ab * 1.0 * n_docs) / (x.n_w * 1.0 * y.n_w)), 6) AS pmi
FROM co
JOIN df x ON x.w = word_a
JOIN df y ON y.w = word_b
CROSS JOIN n
WHERE n_ab >= {_PMI_MIN_PAIRS}
""",
)
def text_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring in the
    same document — the corpus-statistics operator behind collocation
    discovery, vocabulary merging, and embedding-quality probes
    (PMI > 0: the pair attracts; < 0: repels). Counts are exact ints
    (document frequencies, co-occurrence via a doc-keyed self-join —
    pair space bounded by per-doc vocab², never corpus²); the single
    log is the only float, rounded per the transcendental rule. The
    doc-frequency join sides are word-count-sized (vocabulary, not
    corpus) and broadcast; the support threshold prunes inside the
    pair aggregation. Same sweep shape at 100 TB with a frequent-word
    cap (stopword-class words dominate the pair space exactly like hot
    shingles).
    """
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    n_docs = dw.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = dw.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    a, b = dw.alias("a"), dw.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    dfa = df.select(F.col("w").alias("word_a"), F.col("n_w").alias("na"))
    dfb = df.select(F.col("w").alias("word_b"), F.col("n_w").alias("nb"))
    return (
        co.join(F.broadcast(dfa), "word_a")
        .join(F.broadcast(dfb), "word_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * 1.0 * F.col("n_docs"))
                    / (F.col("na") * 1.0 * F.col("nb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


#: boilerplate-detection chunk width (words, non-overlapping, aligned).
_BP_W = 4


@register(
    "text_boilerplate",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
ch AS (
  SELECT doc_id,
         array_to_string(a[{_BP_W} * i + 1 : {_BP_W} * i + {_BP_W}], ' ')
           AS chunk
  FROM ws, LATERAL unnest(generate_series(0, len(a) // {_BP_W} - 1)) t(i)
)
SELECT chunk,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS example_doc
FROM ch
GROUP BY chunk
HAVING COUNT(DISTINCT doc_id) >= 2
""",
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: aligned word-chunks recurring across
    documents — the C4/RefinedWeb cleaning step that strips navigation
    text, cookie banners, and license headers before training.

    Each document splits into non-overlapping aligned 4-word chunks
    (cheaper than the sliding shingles of the contamination check —
    boilerplate repeats VERBATIM, so alignment suffices); a chunk seen
    in ≥ 2 distinct documents is flagged with its document frequency.
    One explode + one aggregation: the distinct-doc count rides the
    same groupBy as the occurrence count. At 100 TB the chunk stream is
    ~n_words/4 rows — map-side fan-out, one shuffle on the chunk hash;
    the flagged set is tiny and broadcasts back into the scrub pass
    (subtract flagged chunks from documents — regexp_replace or an
    anti-join on chunk position).
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    ch = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(split(text, ' ')) div {_BP_W} - 1),"
                f" i -> concat_ws(' ', slice(split(text, ' '), {_BP_W} * i + 1, {_BP_W})))"
            )
        ).alias("chunk"),
    )
    return (
        ch.groupBy("chunk")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "text_sentiment_lexicon",
    oracle="""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
scored AS (
  SELECT doc_id, lang,
         CAST(SUM(CASE WHEN w IN ('fast', 'big') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN w IN ('slow', 'small', 'dup') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_neg
  FROM words GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_pos, n_neg,
       CASE WHEN n_pos + n_neg = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(n_pos - n_neg AS DOUBLE) / (n_pos + n_neg) END
         AS polarity
FROM scored
""",
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the classic large-scale shape —
    cf. "Large Scale Sentiment Analysis on Twitter with Spark",
    EDBT 2016, PAPERS.md): count positive- and negative-lexicon hits
    per document in one pass and report polarity
    ``(pos − neg)/(pos + neg)`` — the zero-model baseline every
    sentiment pipeline starts from, and at corpus scale often all you
    need for trend monitoring.

    Both lexicon counts are conditional sums inside ONE hash aggregate
    over the exploded token stream (never a scan per lexicon); a real
    lexicon with thousands of entries broadcasts as a join against the
    token stream instead of inlining IN-lists — same plan shape. The
    polarity is an exact integer ratio with the empty-denominator case
    pinned to 0.0 in both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    pos = F.col("w").isin("fast", "big")
    neg = F.col("w").isin("slow", "small", "dup")
    scored = words.groupBy("doc_id", "lang").agg(
        F.sum(pos.cast("long")).alias("n_pos"),
        F.sum(neg.cast("long")).alias("n_neg"),
    )
    tot = F.col("n_pos") + F.col("n_neg")
    return scored.select(
        "doc_id",
        "lang",
        "n_pos",
        "n_neg",
        F.when(tot == 0, F.lit(0.0))
        .otherwise((F.col("n_pos") - F.col("n_neg")).cast("double") / tot)
        .alias("polarity"),
    )


#: shingle width for the cross-document duplication profile.
_SPAN_NGRAM = 8


@register(
    "text_dup_shingle_fraction",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT a.doc_id,
         md5(string_agg(b.w, ' ' ORDER BY b.i)) AS shingle
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.i BETWEEN a.i AND a.i + {_SPAN_NGRAM} - 1
  GROUP BY a.doc_id, a.i
  HAVING COUNT(*) = {_SPAN_NGRAM}
),
docs_per AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup,
       CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_fraction
FROM sh JOIN docs_per d USING (shingle)
GROUP BY sh.doc_id
""",
)
def text_dup_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus duplication profile: the fraction of a
    document's distinct 8-gram shingles that appear in at least one
    OTHER document — the Lee-et-al-style "how much of this text exists
    elsewhere" signal that decides between dropping a whole near-dup
    (`dedup_ngram_jaccard` pairs) and span-level surgery: a doc at 0.9
    is a copy; one at 0.2 shares boilerplate (`text_boilerplate` finds
    which spans).

    Shingles hash to md5 so the global frequency table is a compact
    term-keyed aggregate; the per-doc fraction is a ratio of exact
    counts. Spark builds shingles with a single transform over the
    token array (no positional self-join — the array is already
    ordered) and dedups them with a per-row ``array_distinct`` BEFORE
    the explode: (doc_id, shingle) is then already globally unique, so
    the whole-stream DISTINCT shuffle disappears (the
    `join_set_similarity` trick; measured 1.68 s → 1.0 s at sf0.1
    together with the fan-out repartition). The oracle rebuilds
    shingles via the positional join, so two independent constructions
    must agree through the hash. At 100 TB the remaining passes key on
    the shingle hash — the same shuffle the MinHash ladder already
    pays.
    """
    docs = load_table(spark, sf_dir, "documents")
    # single-file input: size partitions for the post-fan-out CPU work
    # (the shingle_bag rule), not the input bytes.
    docs = fan_out(docs, "doc_id")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t")
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.when(
                        n >= _SPAN_NGRAM,
                        F.sequence(F.lit(1), n - F.lit(_SPAN_NGRAM - 1)),
                    ).otherwise(F.expr("array()").cast("array<int>")),
                    lambda i: F.md5(
                        F.array_join(
                            F.slice("t", i, _SPAN_NGRAM), " "
                        )
                    ),
                )
            )
        ).alias("shingle"),
    )
    # feeds the frequency aggregate AND the join-back side
    sh = sh.localCheckpoint(eager=True)
    docs_per = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        sh.join(docs_per, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("n_docs") > 1, 1).otherwise(0)
            ).alias("n_dup"),
            (
                F.sum(
                    F.when(F.col("n_docs") > 1, 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_fraction"),
        )
    )


@register(
    "text_langid_confusion",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('es')} AS s_es,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN s_en + s_es + s_de + s_fr = 0 THEN 'unknown'
              WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              WHEN s_de >= s_fr THEN 'de'
              ELSE 'fr' END AS pred_lang
  FROM scored
),
m AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, pred_lang
),
tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM m GROUP BY lang)
SELECT m.lang, m.pred_lang, m.n,
       CAST(m.n AS DOUBLE) / tot.t AS class_rate
FROM m JOIN tot USING (lang)
""",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass confusion matrix of the heuristic language
    identifier against the gold `lang` label — the eval loop every
    langid gate needs before its threshold is trusted (`text_langid`
    predicts; this measures): one aggregation over the scored
    predictions plus the per-class rate (recall on the diagonal,
    confusion rates off it). Composes the EXACT same stopword-score
    CASE as the predictor, so the eval can never drift from the model
    it grades; counts and rates are exact-integer arithmetic.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        _lang_score_spark("en").alias("s_en"),
        _lang_score_spark("es").alias("s_es"),
        _lang_score_spark("de").alias("s_de"),
        _lang_score_spark("fr").alias("s_fr"),
    )
    total = (
        F.col("s_en") + F.col("s_es") + F.col("s_de") + F.col("s_fr")
    )
    pred = scored.select(
        "lang",
        F.when(total == 0, "unknown")
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de"))
            & (F.col("s_es") >= F.col("s_fr")),
            "es",
        )
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
        .alias("pred_lang"),
    )
    m = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = m.groupBy("lang").agg(F.sum("n").alias("t"))
    return m.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n",
        (F.col("n").cast("double") / F.col("t")).alias("class_rate"),
    )


@register(
    "text_ngram_lm",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
),
big AS (
  SELECT a.w AS w1, b.w AS w2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1)
SELECT w1, w2, c12, c1, ROUND(c12 * 1.0 / c1, 6) AS p_cond
FROM c12 JOIN c1 USING (w1)
ORDER BY c12 DESC, w1, w2
LIMIT 50
""",
)
def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model training counts — the count tables behind
    every classic LM / next-token statistic: per bigram (w1, w2) the
    joint count, the left-context count, and the MLE conditional
    P(w2|w1) = c12/c1; top-50 bigrams with a total tie-break. (The
    smoothed variant just adds constants to the same two counts —
    `text_perplexity` applies exactly that add-one form at scoring
    time.)

    Spark-first shape: bigrams come from ONE array expression per doc
    (`transform` pairing each token with its successor) — no positional
    self-join, no UDF — then two hash aggregates: (w1,w2) counts and a
    w1 re-aggregate (c1 = Σ_w2 c12, an identity that saves a second
    pass over the token stream). At 100 TB both aggregates combine
    map-side and shuffle only distinct bigrams (vocab², not corpus
    size); the conditional is a ratio of exact ints so the hash is
    engine-independent. The final top-50 is a TakeOrderedAndProject,
    never a global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
    big = (
        d.select(t.alias("t"))
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        c12.join(c1, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.round(F.col("c12") * 1.0 / F.col("c1"), 6).alias("p_cond"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(50)
    )


#: aligned line width (words) and position cap for text_line_dedup —
#: the cap mirrors the oracle's range(0, 200) so both engines enumerate
#: identical line positions (join_set_similarity guard-pair convention).
_LD_W = 8
_LD_CAP = 200

@register(
    "text_line_dedup",
    oracle=f"""
WITH ln AS (
  SELECT doc_id, t.i::BIGINT AS pos,
         array_to_string(list_slice(string_split(text, ' '),
                                    {_LD_W} * t.i + 1, {_LD_W} * t.i + {_LD_W}), ' ') AS line
  FROM documents, range(0, {_LD_CAP}) t(i)
  WHERE t.i < len(string_split(text, ' ')) // {_LD_W}
),
rn AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS r
  FROM ln
)
SELECT doc_id,
       COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE r = 1), '') AS text_clean,
       COUNT(*) FILTER (WHERE r = 1) AS n_kept,
       COUNT(*) FILTER (WHERE r > 1) AS n_dropped
FROM rn
GROUP BY doc_id
""",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-line removal — the CCNet/RefinedWeb cleaning
    transform that strips lines already seen ANYWHERE earlier in the
    corpus (navigation text, cookie banners, degenerate repetition),
    keeping each line's global first occurrence by (doc_id, position).
    `text_boilerplate` FLAGS recurring chunks; this key applies the cut
    and returns the cleaned documents — the same audit→transform
    pairing as dedup_substring_spans → dedup_substring_cut.

    Documents split into aligned 8-word lines (``_LD_W``; the fixture
    has no newlines — on real text the splitter is ``split(text,
    '\\n')`` and the plan is unchanged). First occurrence = row_number
    1 over a window PARTITIONED BY LINE — state per line, not global,
    so the window shuffles |lines| rows by line hash exactly like the
    groupBy a dedup would use; at 100 TB hot boilerplate lines are the
    skew risk and salt-by-prefix applies unchanged. Reassembly sorts
    each survivor's (pos, line) pairs inside one per-doc aggregate —
    no second window. Docs shorter than one line carry no lines and
    are excluded by both engines; a doc whose every line is someone
    else's duplicate survives with text_clean = ''.
    """
    d = load_table(spark, sf_dir, "documents")
    lines = d.filter(
        F.size(F.split("text", " ")) >= _LD_W
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, least(size(split(text, ' ')) div {_LD_W},"
                f" {_LD_CAP}) - 1),"
                f" i -> concat_ws(' ', slice(split(text, ' '), {_LD_W} * i + 1, {_LD_W})))"
            )
        ).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy("doc_id", "pos")
    flagged = lines.select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "line",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.coalesce(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list("
                    "CASE WHEN keep THEN struct(pos, line) END)), s -> s.line)"
                ),
            ),
            F.lit(""),
        ).alias("text_clean"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"),
    )


@register(
    "text_readability",
    oracle=f"""
WITH per_doc AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         CAST(GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1)
              AS BIGINT) AS s,
         CAST(len(string_split_regex(lower(text), '[aeiou]+')) - 1
              AS BIGINT) AS y
  FROM documents WHERE n_chars > 0
),
grids AS (
  SELECT lang,
         {grid_sql('CAST(w AS DOUBLE) / s', 6)}
           AS wps_g,
         {grid_sql('CAST(y AS DOUBLE) / w', 6)}
           AS spw_g,
         {grid_sql('''(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                     - 84.6 * (CAST(y AS DOUBLE) / w))''', 6)} AS fl_g
  FROM per_doc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(wps_g) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS avg_words_per_sentence,
       CAST(SUM(spw_g) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS avg_syllables_per_word,
       CAST(SUM(fl_g) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS avg_flesch
FROM grids
GROUP BY lang
ORDER BY lang
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Flesch reading-ease profile — the corpus-quality
    signal that needs no model: words via the repo's standard
    space-split tokenization, sentences as `[.!?]+` runs (min 1),
    syllables approximated as vowel GROUPS (`[aeiou]+` runs in the
    lowercased text — the classic dictionary-free estimator). Each
    per-doc ratio and the Flesch score land on a 1e-6 grid BEFORE the
    per-language mean, so the aggregate is exact long arithmetic; the
    206.835 − 1.015·(w/s) − 84.6·(y/w) expression tree is evaluated
    left-to-right identically in both engines.

    One data-sized projection (three regex splits fused into the scan
    stage) followed by one hash aggregate on the low-cardinality
    language key — map-side combinable, no skew risk (scores are
    per-doc bounded). At 100 TB this pipelines with every other
    text_* per-doc feature in a single pass.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    w = F.size(F.split(F.col("text"), " ")).cast("long")
    s = F.greatest(
        (F.size(F.split(F.col("text"), r"[.!?]+")) - 1).cast("long"),
        F.lit(1).cast("long"),
    )
    y = (
        F.size(F.split(F.lower(F.col("text")), "[aeiou]+")) - 1
    ).cast("long")
    per_doc = docs.select("lang", w.alias("w"), s.alias("s"), y.alias("y"))
    wps = F.col("w").cast("double") / F.col("s")
    spw = F.col("y").cast("double") / F.col("w")
    fl = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    g = lambda c: grid(c, 6)  # noqa: E731
    grids = per_doc.select(
        "lang",
        g(wps).alias("wps_g"),
        g(spw).alias("spw_g"),
        g(fl).alias("fl_g"),
    )
    n = F.count(F.lit(1))
    return (
        grids.groupBy("lang")
        .agg(
            n.alias("n_docs"),
            (F.sum("wps_g").cast("double") / F.lit(1e6) / n).alias(
                "avg_words_per_sentence"
            ),
            (F.sum("spw_g").cast("double") / F.lit(1e6) / n).alias(
                "avg_syllables_per_word"
            ),
            (F.sum("fl_g").cast("double") / F.lit(1e6) / n).alias(
                "avg_flesch"
            ),
        )
        .orderBy("lang")
    )


#: RAKE stopword list (phrase delimiters) — small English function-word
#: set; membership is checked on the punctuation-stripped lowercase
#: token, so "The" and "the," both delimit.
_RAKE_STOP = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "from", "has", "have", "in", "is", "it", "its", "of", "on", "or",
    "that", "the", "to", "was", "were", "will", "with", "this", "not",
)
_RAKE_MIN_FREQ = 3
_RAKE_TOP = 20
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)


@register(
    "text_keyword_rake",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(lower(text), ' '), 1)
              AS BIGINT) AS pos,
         regexp_replace(unnest(string_split(lower(text), ' ')),
                        '[^a-z]', '', 'g') AS wc
  FROM documents
),
flagged AS (
  SELECT doc_id, pos, wc,
         (wc = '' OR wc IN ({_RAKE_STOP_SQL})) AS is_stop
  FROM toks
),
phrased AS (
  SELECT doc_id, wc, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS pid
  FROM flagged
),
content AS (
  SELECT doc_id, pid, wc FROM phrased WHERE NOT is_stop
),
plen AS (
  SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS phrase_len
  FROM content GROUP BY doc_id, pid
),
wordstats AS (
  SELECT c.wc AS word,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(p.phrase_len) AS BIGINT) AS degree
  FROM content c JOIN plen p ON c.doc_id = p.doc_id AND c.pid = p.pid
  GROUP BY c.wc
),
scored AS (
  SELECT word, freq, degree,
         (degree * 2000000 + freq) // (2 * freq) AS score_g
  FROM wordstats WHERE freq >= {_RAKE_MIN_FREQ}
)
SELECT word, freq, degree,
       CAST(score_g AS DOUBLE) / 1000000.0 AS rake_score
FROM scored
ORDER BY score_g DESC, word
LIMIT {_RAKE_TOP}
""",
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — corpus keywords
    scored degree/frequency over stopword-delimited phrases, the
    model-free keyword baseline. Phrases are maximal runs of content
    tokens: tokens come from the repo's standard space-split, are
    lowercased and punctuation-stripped with the same `[^a-z]` regex in
    both engines, and every stopword/empty token closes a phrase via a
    running stopword count (the gaps-and-islands window). A word's
    degree sums the lengths of every phrase containing it; the score is
    round-half-up INTEGER division onto a 1e-6 grid
    (`(degree·2e6 + freq) // (2·freq)`), so ranking and values are
    exact in both engines — no doubles until the display column.

    Scale: tokenization and flagging fuse into the scan; the phrase
    window partitions by doc_id (per-doc state only — streams at any
    corpus size); word stats are one hash aggregate on the word key;
    top-k is TakeOrderedAndProject, never a global sort. The
    phrase-length join is doc-local (same partitioning as the window),
    so at 100 TB nothing shuffles twice.
    """
    d = load_table(spark, sf_dir, "documents")
    # r12: fan the single-file scan out first — tokenization and the
    # per-token regex strip (this op's data-sized work) otherwise run
    # in ONE task (the dedup-module single-split rule). Keyed on doc_id
    # so the phrase window reuses the exchange.
    d = fan_out(d, "doc_id")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "w"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.regexp_replace("w", "[^a-z]", "").alias("wc"),
    )
    flagged = toks.select(
        "doc_id",
        "pos",
        "wc",
        ((F.col("wc") == "") | F.col("wc").isin(*_RAKE_STOP)).alias("is_stop"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    content = (
        flagged.select(
            "doc_id",
            "wc",
            "is_stop",
            F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(w).alias("pid"),
        )
        .where(~F.col("is_stop"))
    )
    # r12 (guide §2.4): phrase length used to be a groupBy + self-join
    # back onto `content`, which re-executed the whole tokenize/window
    # lineage on both sides; a COUNT window over (doc_id, pid) is the
    # same value on the partitioning the phrase window already
    # established — one lineage, no join, identical integers.
    wp = Window.partitionBy("doc_id", "pid")
    wordstats = (
        content.select(
            "wc", F.count(F.lit(1)).over(wp).alias("phrase_len")
        )
        .groupBy(F.col("wc").alias("word"))
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("phrase_len").alias("degree"),
        )
        .where(F.col("freq") >= _RAKE_MIN_FREQ)
    )
    score_g = F.expr("(degree * 2000000 + freq) div (2 * freq)")
    return (
        wordstats.select(
            "word",
            "freq",
            "degree",
            score_g.alias("score_g"),
        )
        .orderBy(F.col("score_g").desc(), "word")
        .limit(_RAKE_TOP)
        .select(
            "word",
            "freq",
            "degree",
            (F.col("score_g").cast("double") / F.lit(1e6)).alias("rake_score"),
        )
    )


@register(
    "text_cdc_chunking",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
           AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
cut AS (
  SELECT doc_id, pos, w,
         CASE WHEN substr(md5(w), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END
           AS is_cut
  FROM toks
),
chunked AS (
  SELECT doc_id, pos, w,
         SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS chunk_id
  FROM cut
),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(w, ' ' ORDER BY pos)) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM chunked GROUP BY doc_id, chunk_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
       {grid_sql('1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*)', 6)}
         AS dup_micro,
       {grid_sql('CAST(SUM(n_words) AS DOUBLE) / COUNT(*)', 6)} AS avg_words_micro
FROM chunks
""",
)
def text_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC idea at word
    granularity): a token is a cut point when its md5 falls in 1/8 of
    hash space, so chunk boundaries are determined by CONTENT — insert
    a sentence and only the chunks that contain it change identity,
    where `text_chunk`'s fixed stride re-keys every chunk after the
    edit. That shift-resistance is what makes CDC the storage-dedup
    standard; the audit measures the cross-corpus duplicate-chunk
    fraction (exact md5 identity) and the realized mean chunk size
    (expected 8 words from the 2/16 first-hex-digit gate).

    Chunk assembly orders tokens explicitly (DuckDB ``string_agg …
    ORDER BY pos``, Spark sort of collected (pos, w) structs) — never
    relying on shuffle arrival order. Scale: tokenize + cut-flag are
    map-side; the chunk_id window is per-doc state; the chunk group-by
    shuffles once on (doc, chunk) and the final distinct-count once on
    the 16-byte digest. All lanes linear in tokens.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "w",
        F.when(
            F.substring(F.md5("w"), 1, 1).isin("0", "1"), 1
        ).otherwise(0).alias("is_cut"),
    )
    wc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = toks.select(
        "doc_id",
        "pos",
        "w",
        F.sum("is_cut").over(wc).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, w))),"
                    " x -> x.w)"
                ),
            )
        ).alias("h"),
        F.count(F.lit(1)).alias("n_words"),
    )
    n = F.count(F.lit(1))
    nd = F.countDistinct("h")
    return chunks.agg(
        n.alias("n_chunks"),
        nd.alias("n_distinct"),
        grid(F.lit(1.0) - nd.cast("double") / n, 6).alias("dup_micro"),
        grid(F.sum("n_words").cast("double") / n, 6).alias("avg_words_micro"),
    )


@register(
    "corpus_source_overlap",
    oracle=f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
pos AS MATERIALIZED (
  SELECT doc_id, source, unnest(t) AS w, generate_subscripts(t, 1) AS i
  FROM toks
),
sh0 AS MATERIALIZED (
  SELECT a.source, md5(string_agg(b.w, ' ' ORDER BY b.i)) AS shingle
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.i BETWEEN a.i AND a.i + {_SPAN_NGRAM} - 1
  GROUP BY a.doc_id, a.source, a.i
  HAVING COUNT(*) = {_SPAN_NGRAM}
),
sh AS MATERIALIZED (SELECT DISTINCT source, shingle FROM sh0),
per AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source
),
shared AS MATERIALIZED (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa, sb, n_shared,
       CAST((1000000 * n_shared) // (pa.n + pb.n - n_shared) AS BIGINT)
         AS jac_ppm
FROM shared
JOIN per pa ON pa.source = sa
JOIN per pb ON pb.source = sb
ORDER BY sa, sb
""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix — "which sources syndicate
    from which": for every source pair, the number of distinct 8-gram
    shingles both emit and the exact-integer Jaccard (ppm grid) of
    their shingle sets. This is the corpus-construction view the
    per-document rungs don't give: `text_dup_shingle_fraction` says a
    DOC is 40% duplicated; this says source A and source B share a
    content stream — the signal for collapsing mirrors BEFORE paying
    per-document dedup on their union.

    Plan: shingles build with the single-transform + per-row
    array_distinct idiom (no positional self-join, no whole-stream
    DISTINCT — the `text_dup_shingle_fraction` lesson), reduce to
    distinct (source, shingle) — the shuffle key is the shingle hash,
    same as the MinHash ladder — then one self-equi-join on shingle.
    Pair fan-out per shingle is bounded by C(#sources, 2), and
    #sources is catalog-sized (thousands at worst), so the join cannot
    blow up the way doc-pair joins do; the overlap matrix itself is
    #source² at most — driver-safe. The oracle rebuilds shingles via
    DuckDB's positional join: two independent constructions must agree
    through the hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, "doc_id")
    toks = docs.select("source", F.split("text", " ").alias("t"))
    n = F.size("t")
    sh = toks.select(
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.when(
                        n >= _SPAN_NGRAM,
                        F.sequence(F.lit(1), n - F.lit(_SPAN_NGRAM - 1)),
                    ).otherwise(F.expr("array()").cast("array<int>")),
                    lambda i: F.md5(
                        F.array_join(F.slice("t", i, _SPAN_NGRAM), " ")
                    ),
                )
            )
        ).alias("shingle"),
    ).distinct()
    # materialize the distinct (source, shingle) table once — it feeds
    # the per-source totals AND both sides of the self-join, and the
    # shingle explode would otherwise run 3× (the dedup_minhash_sql
    # checkpointed-band-table move; rows are source + 32-byte digest)
    sh = sh.localCheckpoint(eager=True)
    per = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    pa, pb = per.alias("pa"), per.alias("pb")
    return (
        shared.join(F.broadcast(pa), F.col("sa") == F.col("pa.source"))
        .join(F.broadcast(pb), F.col("sb") == F.col("pb.source"))
        .select(
            "sa", "sb", "n_shared",
            F.expr("(1000000L * n_shared) div (pa.n + pb.n - n_shared)")
            .cast("long")
            .alias("jac_ppm"),
        )
        .orderBy("sa", "sb")
    )


#: OOV profiling vocabulary size (top-K corpus words).
_OOV_VOCAB_K = 100


@register(
    "text_oov_rate",
    oracle=f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS MATERIALIZED (
  SELECT w FROM (
    SELECT w, COUNT(*) AS c FROM toks GROUP BY w
    ORDER BY c DESC, w LIMIT {_OOV_VOCAB_K})
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST((1000 * SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS oov_permille
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a corpus-derived
    top-``{_OOV_VOCAB_K}`` vocabulary — the tokenizer-coverage probe a
    training pipeline runs before committing to a vocab/tokenizer: a
    document whose tokens are mostly OOV is either another language,
    code, or noise (and will shatter into byte-fallback pieces at
    train time, inflating its effective length). Deterministic
    vocabulary: frequency ties break lexicographically.

    Plan: one token explode feeds BOTH the vocabulary aggregation (a
    TakeOrderedAndProject top-K — never a full sort of the term
    frequency table) and the per-document count; the vocab is
    broadcast back onto the token stream (catalog-sized: K rows), so
    the only data-sized shuffle is the per-doc aggregation the answer
    requires. The per-mille rate is exact integer division — no float
    in the output. At 100 TB the vocab build is term-keyed (same
    shuffle family as text_ngram_tf) and everything else is narrow.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_OOV_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            F.expr("(1000L * n_oov) div n_tokens")
            .cast("long")
            .alias("oov_permille"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_heaps_law",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
firsts AS (SELECT w, CAST(MIN(doc_id) AS BIGINT) AS fd FROM tok GROUP BY w),
dtok AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok FROM tok GROUP BY doc_id
),
mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mid FROM documents),
thr AS (
  SELECT CAST(u AS BIGINT) AS c, (mid * CAST(u AS BIGINT)) // 10 AS thr
  FROM (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS u) CROSS JOIN mx
),
nv AS (
  SELECT t.c, t.thr,
         CAST(SUM(CASE WHEN d.doc_id <= t.thr THEN d.ntok ELSE 0 END)
              AS BIGINT) AS n_tokens
  FROM dtok d CROSS JOIN thr t GROUP BY t.c, t.thr
),
vv AS (
  SELECT t.c,
         CAST(SUM(CASE WHEN f.fd <= t.thr THEN 1 ELSE 0 END)
              AS BIGINT) AS vocab
  FROM firsts f CROSS JOIN thr t GROUP BY t.c
),
pts AS (
  SELECT nv.c, nv.thr, nv.n_tokens, vv.vocab,
         ln(CAST(nv.n_tokens AS DOUBLE)) AS x,
         ln(CAST(vv.vocab AS DOUBLE)) AS z
  FROM nv JOIN vv ON nv.c = vv.c
),
g AS (
  SELECT c, thr, n_tokens, vocab,
         {grid_sql('x', 9)} AS x9,
         {grid_sql('z', 9)} AS z9,
         {grid_sql('x * z', 9)} AS xz9,
         {grid_sql('x * x', 9)} AS xx9
  FROM pts
),
fit AS (
  SELECT (10.0 * (CAST(SUM(xz9) AS DOUBLE) / 1000000000.0)
          - (CAST(SUM(x9) AS DOUBLE) / 1000000000.0)
            * (CAST(SUM(z9) AS DOUBLE) / 1000000000.0))
         / (10.0 * (CAST(SUM(xx9) AS DOUBLE) / 1000000000.0)
            - (CAST(SUM(x9) AS DOUBLE) / 1000000000.0)
              * (CAST(SUM(x9) AS DOUBLE) / 1000000000.0)) AS beta,
         CAST(SUM(z9) AS DOUBLE) / 1000000000.0 / 10.0 AS zbar,
         CAST(SUM(x9) AS DOUBLE) / 1000000000.0 / 10.0 AS xbar
  FROM g
)
SELECT c, thr, n_tokens, vocab,
       {grid_sql('beta', 6)} AS beta_micro,
       {grid_sql('exp(zbar - beta * xbar)', 3)}
         AS k_milli
FROM g CROSS JOIN fit
ORDER BY c
""",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit — vocabulary growth V(N) = K * N^beta over ten
    corpus-prefix checkpoints, the sublinearity law every tokenizer /
    dedup budget planner leans on (beta ~ 0.5 natural text; beta near 1
    flags boilerplate-free synthetic or heavily-deduped corpora; a
    checkpoint where vocab jumps off the fitted curve flags a source
    mixture shift). The prefix trick keeps it one-pass: a token's first
    occurrence doc (MIN(doc_id) per type) makes "vocab at prefix c" a
    simple <=-threshold count — no running COUNT(DISTINCT), which does
    not distribute.

    Plan: the token explode feeds two hash aggregates (per-type first
    doc, per-doc token count); the 10-row checkpoint table cross-joins
    the COLLAPSED per-doc and per-type tables (10 cheap passes over
    vocab-sized data); the log-log OLS runs over 10 points, each term
    gridded to 1e-9 before the exact sums. 100-TB posture: vocab-sized
    shuffles only; swap the 10x conditional-sum for a one-pass bucket
    rollup (doc_id -> decile) if the checkpoint count ever grows.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    dtok = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ntok"))
    mx = d.agg(F.max("doc_id").alias("mid"))
    thr = (
        spark.range(1, 11)
        .select(F.col("id").alias("c"))
        .crossJoin(F.broadcast(mx))
        .select("c", F.expr("(mid * c) div 10").alias("thr"))
    )
    nv = (
        dtok.crossJoin(F.broadcast(thr))
        .groupBy("c", "thr")
        .agg(
            F.sum(
                F.when(F.col("doc_id") <= F.col("thr"), F.col("ntok"))
                .otherwise(0)
            ).alias("n_tokens")
        )
    )
    vv = (
        firsts.crossJoin(F.broadcast(thr))
        .groupBy("c")
        .agg(
            F.sum(
                F.when(F.col("fd") <= F.col("thr"), 1).otherwise(0)
            ).alias("vocab")
        )
    )
    pts = nv.join(vv, "c").select(
        "c", "thr", "n_tokens", "vocab",
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("z"),
    )
    g = pts.select(
        "c", "thr", "n_tokens", "vocab",
        grid("x", 9).alias("x9"),
        grid("z", 9).alias("z9"),
        grid(F.col("x") * F.col("z"), 9).alias("xz9"),
        grid(F.col("x") * F.col("x"), 9).alias("xx9"),
    )
    sx = F.sum("x9").cast("double") / F.lit(1e9)
    sz = F.sum("z9").cast("double") / F.lit(1e9)
    sxz = F.sum("xz9").cast("double") / F.lit(1e9)
    sxx = F.sum("xx9").cast("double") / F.lit(1e9)
    fit = g.agg(
        (
            (F.lit(10.0) * sxz - sx * sz)
            / (F.lit(10.0) * sxx - sx * sx)
        ).alias("beta"),
        (sz / F.lit(10.0)).alias("zbar"),
        (sx / F.lit(10.0)).alias("xbar"),
    )
    return (
        g.crossJoin(F.broadcast(fit))
        .select(
            "c", "thr", "n_tokens", "vocab",
            grid("beta", 6).alias("beta_micro"),
            grid(
                F.exp(F.col("zbar") - F.col("beta") * F.col("xbar")), 3
            ).alias("k_milli"),
        )
        .orderBy("c")
    )


@register(
    "text_rouge_overlap",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM tk
),
big AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM idx GROUP BY doc_id, t[i] || ' ' || t[i + 1]
),
tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM big GROUP BY doc_id
),
ov AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
  FROM big a JOIN big b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
  GROUP BY 1, 2
),
scored AS (
  SELECT ov.d1, ov.d2, ov.ov, ta.tot AS tot1, tb.tot AS tot2,
         {grid_sql('CAST(ov.ov AS DOUBLE) / ta.tot', 6)} AS recall_micro,
         {grid_sql('CAST(ov.ov AS DOUBLE) / tb.tot', 6)} AS precision_micro,
         {grid_sql('2.0 * ov.ov / (ta.tot + tb.tot)', 6)} AS f1_micro
  FROM ov JOIN tot ta ON ov.d1 = ta.doc_id
          JOIN tot tb ON ov.d2 = tb.doc_id
)
SELECT d1, d2, ov, tot1, tot2, recall_micro, precision_micro, f1_micro
FROM scored
ORDER BY f1_micro DESC, d1
LIMIT 20
""",
)
def text_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 overlap (clipped bigram-multiset recall / precision / F1)
    between adjacent documents — the summarization-style containment
    measure that `dedup_ngram_jaccard` (set semantics) misses: repeated
    bigrams count up to their occurrence minimum, so a doc that loops
    one phrase cannot inflate its score. Pairing is the deterministic
    equi-join doc_id -> doc_id+1 (a window-free adjacency — no global
    sort), the multiset intersection is SUM(LEAST(c_a, c_b)) over the
    shared-bigram join, and the top-20 ranks on the integer-gridded F1
    with doc_id tie-breaks.

    100-TB posture: the bigram explode is the data-sized pass; the
    overlap join shuffles on (doc pair via +1, gram) — hash-partitioned
    candidate work only, never all-pairs. Any candidate generator
    (LSH buckets, blocking keys) can replace the +1 adjacency and keep
    the clipped-counts machinery unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 2
    )
    idx = tk.select(
        "doc_id", "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
    )
    big = idx.select(
        "doc_id",
        F.concat(
            F.expr("element_at(t, i)"), F.lit(" "),
            F.expr("element_at(t, i + 1)"),
        ).alias("g"),
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tot = big.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    a = big.select(
        F.col("doc_id").alias("d1"), "g", F.col("c").alias("ca")
    )
    b = big.select(
        F.col("doc_id").alias("d2"), "g", F.col("c").alias("cb")
    )
    ov = (
        a.join(b, (F.col("d2") == F.col("d1") + 1) & (a["g"] == b["g"]))
        .groupBy("d1", "d2")
        .agg(F.sum(F.least("ca", "cb")).alias("ov"))
    )
    ta = tot.select(F.col("doc_id").alias("d1"), F.col("tot").alias("tot1"))
    tb = tot.select(F.col("doc_id").alias("d2"), F.col("tot").alias("tot2"))
    return (
        ov.join(ta, "d1")
        .join(tb, "d2")
        .select(
            "d1", "d2", "ov", "tot1", "tot2",
            grid(F.col("ov").cast("double") / F.col("tot1"), 6).alias("recall_micro"),
            grid(
                F.col("ov").cast("double") / F.col("tot2"), 6
            ).alias("precision_micro"),
            grid(
                F.lit(2.0) * F.col("ov") / (F.col("tot1") + F.col("tot2")), 6
            ).alias("f1_micro"),
        )
        .orderBy(F.col("f1_micro").desc(), "d1")
        .limit(20)
    )


#: ml_chi2_feature_select: vocabulary shortlist size (document-
#: frequency top-K) and the chi2(1) significance cut.
_CHI2_TOPK = 30
_CHI2_CRIT = 3.841


@register(
    "ml_chi2_feature_select",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
),
lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM documents
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(is_en) AS BIGINT) AS e
  FROM lab
),
topk AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n1
  FROM dt GROUP BY word
  ORDER BY COUNT(*) DESC, word LIMIT {_CHI2_TOPK}
),
cells AS (
  SELECT t.word, t.n1, CAST(SUM(l.is_en) AS BIGINT) AS a
  FROM topk t JOIN dt ON dt.word = t.word
  JOIN lab l ON l.doc_id = dt.doc_id
  GROUP BY t.word, t.n1
),
chi AS (
  SELECT word, n1, a, tot.n, tot.e,
         n1 - a AS b, tot.e - a AS c,
         tot.n - n1 - (tot.e - a) AS d
  FROM cells CROSS JOIN tot
),
stat AS (
  SELECT word, n1, a,
         CAST(n AS DOUBLE)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
           AS chi2
  FROM chi
)
SELECT word, n1 AS n_docs, a AS n_docs_en,
       {grid_sql('chi2', 6)} AS chi2_micro,
       chi2 > {_CHI2_CRIT} AS selected
FROM stat ORDER BY word
""",
)
def ml_chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection for text classification — score
    every shortlist token's association with the English label (the
    scikit-learn `chi2`/`SelectKBest` step before training a
    quality/language classifier): per token the 2x2 presence-vs-label
    contingency, chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)), tokens
    cleared at chi2(1) = 3.841. Complements `text_word_pmi`
    (association strength) with a significance TEST, and
    `ml_feature_hashing` (representation) with selection.

    The vocabulary shortlist is document-frequency top-K with a word
    tie-break (deterministic); all four cells are exact integer counts
    from one distinct-(doc, word) pass; the statistic is one mirrored
    double expression over exact longs (products <= N^2 ~ 3.6e11 at
    the 10x fixture, exact in double — overflow ledger).

    100-TB posture: the explode + distinct is the data-sized pass
    (shuffle on (doc, word)); the shortlist bounds everything after
    to K rows; label totals are a 1-row broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    lab = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    tot = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_en").cast("long").alias("e"),
    )
    topk = (
        dt.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n1"))
        .orderBy(F.col("n1").desc(), "word")
        .limit(_CHI2_TOPK)
    )
    cells = (
        dt.join(F.broadcast(topk), "word")
        .join(lab, "doc_id")
        .groupBy("word", "n1")
        .agg(F.sum("is_en").cast("long").alias("a"))
    )
    chi = cells.crossJoin(F.broadcast(tot)).select(
        "word", "n1", "a", "n", "e",
        (F.col("n1") - F.col("a")).alias("b"),
        (F.col("e") - F.col("a")).alias("c"),
        (F.col("n") - F.col("n1") - (F.col("e") - F.col("a"))).alias("d"),
    )
    det = (
        F.col("a").cast("double") * F.col("d")
        - F.col("b").cast("double") * F.col("c")
    )
    chi2 = (
        F.col("n").cast("double") * det * det
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
        )
    )
    return chi.select(
        "word",
        F.col("n1").alias("n_docs"),
        F.col("a").alias("n_docs_en"),
        grid(chi2, 6).alias("chi2_micro"),
        (chi2 > F.lit(_CHI2_CRIT)).alias("selected"),
    ).orderBy("word")
