"""Training-corpus construction operators: packing, mixing, scrubbing.

The last mile of an LLM data pipeline after dedup/quality filtering
(pipeline/dedup.py, pipeline/text.py): pack documents into fixed
token-budget training sequences, rebalance the language/source mixture
with deterministic sampling, and scrub PII spans. All pure built-in
expressions (window sums, md5-uniform thresholds, regexp_replace) — no
Python in the path, every operator oracle-hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.exact import grid, grid_sql, md5_int, md5_int_sql
from ..registry import register

#: tokens per packed training sequence.
_PACK_BUDGET = 512

#: per-language keep rates — downsample the dominant language toward a
#: balanced mixture (documents are en-heavy, FIXTURES.md).
_MIX_RATES = {"en": 0.3, "es": 0.9, "de": 0.9, "fr": 0.9, "zh": 0.9}

_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@register(
    "doc_pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT lang, source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
packed AS (
  SELECT lang, source, doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (
           PARTITION BY lang, source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_excl
  FROM toks
)
SELECT lang, source,
       cum_excl // {_PACK_BUDGET} AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY lang, source, cum_excl // {_PACK_BUDGET}
""",
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences.

    Within each (lang, source) shard, documents in doc_id order are
    assigned to sequence ``floor(exclusive-cumulative-tokens / budget)``
    — contiguous bins of ~512 tokens, the deterministic relational form
    of sequence packing (a doc straddling a boundary stays in the bin it
    started in; strict first-fit would need a sequential scan per shard
    via applyInPandas, same shuffle shape). One shuffle on the shard key
    for the window, reused by the per-sequence rollup: at 100 TB the
    window state is one running sum per shard and bins are emitted
    map-side — no global coordination, shards pack independently.
    """
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "lang",
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    cum_excl = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    packed = toks.withColumn(
        "seq_id", F.floor(cum_excl / F.lit(_PACK_BUDGET)).cast("long")
    )
    return packed.groupBy("lang", "source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "corpus_mix_sample",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE {md5_int_sql("CAST(doc_id AS VARCHAR)", 1, 6)}
      < 16777216 * (CASE lang
                      WHEN 'en' THEN {_MIX_RATES["en"]}
                      ELSE {_MIX_RATES["es"]} END)
""",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture rebalancing: per-language keep rates via a
    content-hash threshold.

    The corpus is en-heavy; training mixtures want rebalanced shares.
    Keep a doc iff ``uniform(md5(doc_id)) < rate(lang)`` — the same rows
    on every engine, every run, every partitioning (unlike seeded
    Bernoulli ``sampleBy``, the rows-only ``sample_stratified`` key).
    Map-only, no shuffle; at 100 TB this is the reproducible
    mixture-weighting pass whose output feeds epoch construction, and
    re-runs/audits see the identical sample. Stacks with ``sample_hash``
    (flat split) — thresholds on disjoint hash substrings are
    independent uniforms.
    """
    d = load_table(spark, sf_dir, "documents")
    u24 = md5_int(F.col("doc_id").cast("string"), 1, 6)
    rate = F.when(F.col("lang") == "en", F.lit(_MIX_RATES["en"])).otherwise(
        F.lit(_MIX_RATES["es"])
    )
    return d.filter(u24 < F.lit(16777216) * rate).select(
        "doc_id", "lang", "source"
    )


@register(
    "text_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text2, '{_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text2, '{_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       regexp_replace(
         regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'),
         '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM seeded
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email/phone spans per document.

    The fixture corpus is synthetic word soup, so PII is seeded
    deterministically (same concat expression both engines) and then
    scrubbed with ``regexp_replace`` — the patterns are chosen inside
    the RE2 ∩ Java-regex common dialect so both engines match the same
    spans. Map-only codegen'd expression pipeline: zero shuffles, scan
    bandwidth is the only cost at 100 TB. Real pipelines swap in their
    pattern pack (SSNs, credit cards, addresses) — the plan shape is
    unchanged; counts stay as redaction audit columns.
    """
    d = load_table(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = d.select("doc_id", text2.alias("text2"))
    return seeded.select(
        "doc_id",
        F.regexp_count("text2", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text2", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text2", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


@register(
    "dedup_url_canonical",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
           || '.com/Path/' || CAST(doc_id % 50 AS VARCHAR)
           || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
           || '#section' AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         rtrim(lower(regexp_replace(url, '[?#].*$', '')), '/')
           AS canonical_url
  FROM urls
)
SELECT canonical_url,
       COUNT(*) AS n_variants,
       MIN(doc_id) AS keeper_doc
FROM canon
GROUP BY canonical_url
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the web-crawl ingestion step that
    runs BEFORE content dedup: tracking parameters, fragments, case and
    trailing slashes make one page arrive under many URLs.

    URLs derive deterministically from doc ids (host/path collide on
    purpose; query string is unique per doc, so canonicalization is
    what creates the duplicate groups). Canonical form = strip
    query+fragment, lowercase, trim trailing slash — codegen'd
    regexp/string expressions, then one hash aggregation on the
    canonical key (uniform — no skew beyond genuinely popular pages,
    which AQE splits). Keeper = min doc_id, the same deterministic
    survivor rule as ``dedup_exact``. At 100 TB this is one shuffle of
    (url, id) pairs; real crawls extend the regexp pack (sorted query
    params, punycode hosts) with the plan shape unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/Path/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("#section"),
    )
    canon = d.withColumn("url", url).select(
        "doc_id",
        F.expr(
            "trim(TRAILING '/' FROM lower(regexp_replace(url, '[?#].*$', '')))"
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.min("doc_id").alias("keeper_doc"),
    )


_GRP_SAMPLE_K = 5


@register(
    "corpus_group_sample",
    oracle=f"""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
) WHERE rn <= {_GRP_SAMPLE_K}
""",
)
def corpus_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample — reservoir sampling's batch
    equivalent for corpus balancing (cap every (lang, source) shard at
    k docs for eval sets or mixture probes). Ordering by the md5 of the
    id gives a uniform pseudo-random draw that is REPRODUCIBLE across
    runs, engines, and partitionings — no rand() seed drift, which is
    what makes the sample auditable (and hash-checkable). One shuffle
    on the group key; WindowGroupLimit prunes to k per group map-side
    before the exchange, so the shuffle carries at most k rows per
    group per partition — never the full shard.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= _GRP_SAMPLE_K)
        .drop("rn")
    )


#: word-n-gram width for the contamination check.
_CONTAM_N = 5


@register(
    "text_contamination",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_CONTAM_N - 1}], ' ') AS s
  FROM w, LATERAL unnest(generate_series(1, len(ws) - {_CONTAM_N - 1})) t(i)
  WHERE len(ws) >= {_CONTAM_N}
),
ev AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0),
evsz AS (SELECT doc_id, COUNT(*) AS n_eval FROM ev GROUP BY doc_id),
hits AS (
  SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id, COUNT(*) AS n_shared
  FROM ev JOIN tr ON ev.s = tr.s
  GROUP BY 1, 2
)
SELECT eval_id, train_id, n_shared,
       n_shared * 1.0 / n_eval AS contamination
FROM hits JOIN evsz ON evsz.doc_id = eval_id
""",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: which training documents share
    word-5-grams with the held-out eval slice, and how much.

    The canonical pre-training hygiene pass (eval-set n-gram overlap, as
    in GPT-3/PaLM contamination reports): shingle both corpus sides into
    distinct word 5-grams, equi-join on the shingle so only docs that
    actually share one are ever paired (never an all-pairs scan), and
    score each (eval, train) pair by shared-shingle count over the eval
    doc's shingle total. At 100 TB the shingle join is the standard
    skew-aware equi-join — hot shingles (boilerplate) get a frequency
    cap exactly like dedup_ngram_jaccard's; the eval side is tiny and
    broadcasts. The ratio divides two exact ints — deterministic double.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    sh = (
        d.filter(F.size(ws) >= _CONTAM_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(split(text, ' ')) - {_CONTAM_N - 1}),"
                    f" i -> concat_ws(' ', slice(split(text, ' '), i, {_CONTAM_N})))"
                )
            ).alias("s"),
        )
        .distinct()
    )
    ev = sh.filter(F.col("doc_id") % 10 == 0)
    tr = sh.filter(F.col("doc_id") % 10 != 0)
    evsz = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_eval"))
    hits = (
        ev.alias("e")
        .join(tr.alias("t"), F.col("e.s") == F.col("t.s"))
        .groupBy(
            F.col("e.doc_id").alias("eval_id"),
            F.col("t.doc_id").alias("train_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.join(
        F.broadcast(evsz), hits.eval_id == evsz.doc_id
    ).select(
        "eval_id",
        "train_id",
        "n_shared",
        (F.col("n_shared") * 1.0 / F.col("n_eval")).alias("contamination"),
    )


#: shard count for the deterministic epoch shuffle.
_SHUFFLE_SHARDS = 16


@register(
    "corpus_shuffle",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         md5(CAST(doc_id AS VARCHAR) || '-epoch0') AS hh
  FROM documents
)
SELECT CAST(('0x' || substr(hh, 1, 6)) AS BIGINT) % {_SHUFFLE_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY CAST(('0x' || substr(hh, 1, 6)) AS BIGINT) % {_SHUFFLE_SHARDS}
         ORDER BY hh, doc_id) AS BIGINT) AS pos,
       doc_id, lang
FROM h
""",
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: epoch-seeded hash →
    shard → in-shard position.

    Training epochs need a reproducible random permutation of the
    corpus. Seeded ``orderBy(rand())`` is engine- and partitioning-
    dependent; a global ``row_number`` over the hash is a single-
    partition sort. This operator does neither: the epoch-seeded md5
    assigns each doc a shard (top bits) and an in-shard position
    (row_number partitioned BY shard, ordered by the full hash) — the
    global order is (shard, pos), every window partition sorts in
    parallel, and changing the seed string re-permutes everything.
    At 100 TB this is one shuffle on a uniform 16-way key (use 10k
    shards there), exactly the layout epoch readers want: one sorted
    file list per shard, no global coordination.
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.concat(F.col("doc_id").cast("string"), F.lit("-epoch0"))
    hh = F.md5(key)
    shard = md5_int(key, 1, 6) % _SHUFFLE_SHARDS
    w = Window.partitionBy("shard").orderBy("hh", "doc_id")
    return (
        d.select("doc_id", "lang", hh.alias("hh"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("shard", "pos", "doc_id", "lang")
    )


@register(
    "corpus_quality_pipeline",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
),
st AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_distinct,
         CAST(SUM(length(w)) AS BIGINT) AS sum_len
  FROM pos GROUP BY doc_id
),
big AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bg
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
bgs AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         MAX(c) AS top_bigram
  FROM bgc GROUP BY doc_id
)
SELECT d.doc_id, d.lang, n_tokens, n_distinct,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       CAST(sum_len AS DOUBLE) / n_tokens AS mean_word_len
FROM documents d
JOIN st  ON st.doc_id = d.doc_id
JOIN bgs ON bgs.doc_id = d.doc_id
WHERE d.lang = 'en'
  AND n_tokens >= 20 AND n_tokens <= 1000
  AND 5 * n_distinct >= n_tokens
  AND 5 * top_bigram <= n_bigrams
  AND sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens
""",
)
def corpus_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed Gopher-style quality gate in ONE plan: English
    documents surviving ALL of — length bounds (20–1000 tokens),
    distinct-token ratio ≥ 0.2, most-repeated-bigram share ≤ 0.2, and
    mean word length in [3, 10]. This is the filter chain an LLM corpus
    actually runs before dedup (Rae et al. 2021 rules C4/Gopher-style),
    proven here as one composition rather than N separate scans.

    Plan shape: ONE posexplode of the token stream feeds both the
    token-stat aggregate and (via the position self-join) the bigram
    stats; everything re-joins on doc_id — at 100 TB that is two
    doc_id-partitioned aggregates and a 3-way doc_id join whose
    exchanges AQE coalesces, versus the naive five-pass pipeline that
    re-tokenizes per rule. Every cut is an INTEGER inequality
    (cross-multiplied ratios) so row membership is engine-exact; the
    reported ratios are exact-operand divisions for the survivors
    only.
    """
    d = load_table(spark, sf_dir, "documents")
    pos = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("i", "w"))
    st = pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
        F.sum(F.length("w")).alias("sum_len"),
    )
    wlead = Window.partitionBy("doc_id").orderBy("i")
    big = (
        pos.withColumn("nxt", F.lead("w").over(wlead))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "nxt").alias("bg"))
    )
    bgc = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bgs = bgc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    return (
        d.filter(F.col("lang") == "en")
        .join(st, "doc_id")
        .join(bgs, "doc_id")
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 1000)
            & (F.lit(5) * F.col("n_distinct") >= F.col("n_tokens"))
            & (F.lit(5) * F.col("top_bigram") <= F.col("n_bigrams"))
            & (F.col("sum_len") >= F.lit(3) * F.col("n_tokens"))
            & (F.col("sum_len") <= F.lit(10) * F.col("n_tokens"))
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_distinct",
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "distinct_ratio"
            ),
            (F.col("sum_len").cast("double") / F.col("n_tokens")).alias(
                "mean_word_len"
            ),
        )
    )


@register(
    "corpus_kl_divergence",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
sw AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM sw GROUP BY source),
cw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cc FROM sw GROUP BY w),
ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS ctot FROM cw),
terms AS (
  SELECT sw.source,
         {grid_sql('''
           (CAST(sw.c AS DOUBLE) / st.tot)
           * ln((CAST(sw.c AS DOUBLE) / st.tot)
                / (CAST(cw.cc AS DOUBLE) / ct.ctot))''', 12)} AS term_g
  FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN ct
)
SELECT source,
       CAST(CAST(SUM(term_g) AS BIGINT) AS DOUBLE) / 1000000000000.0
         AS kl_nats
FROM terms GROUP BY source
""",
)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift fingerprint: per-source KL divergence between each
    source's token distribution and the whole-corpus distribution,
    KL(P_src ‖ P_corpus) = Σ_w p ln(p/q) — the standard drift check
    before mixing a new crawl source into a training corpus (a source
    whose KL jumps is distributionally off-mixture; the embedding-space
    sibling is `emb_drift_monitor`).

    Every distribution is a ratio of exact token counts; only the
    per-TERM p·ln(p/q) is float, floored onto a 1e-12 grid before the
    per-source sum (the perplexity/NB discipline — sums stay exact
    longs). No smoothing is needed: the sum ranges over words PRESENT
    in the source, and q > 0 for any corpus word by construction. The
    term table is (source × vocab)-sized — a fraction of the token
    stream; the corpus marginals broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    sw = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    st = sw.groupBy("source").agg(F.sum("c").alias("tot"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cc"))
    ct = cw.agg(F.sum("cc").alias("ctot"))
    p = F.col("c").cast("double") / F.col("tot")
    q = F.col("cc").cast("double") / F.col("ctot")
    term_g = grid(p * F.log(p / q), 12)
    return (
        sw.join(F.broadcast(st), "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(ct))
        .select("source", term_g.alias("term_g"))
        .groupBy("source")
        .agg(
            (F.sum("term_g").cast("double") / F.lit(1e12)).alias("kl_nats")
        )
    )


@register(
    "corpus_dataset_card",
    oracle="""
WITH base AS (
  SELECT doc_id, lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         md5(text) AS h
  FROM documents
),
dups AS (
  SELECT h, COUNT(*) AS c FROM base GROUP BY h
),
q AS (
  SELECT b.doc_id, b.lang, b.n_chars, b.n_tokens,
         CASE WHEN d.c > 1 THEN 1 ELSE 0 END AS is_dup,
         CASE WHEN b.n_chars BETWEEN 50 AND 5000 AND b.n_tokens >= 10
              THEN 1 ELSE 0 END AS passes_quality
  FROM base b JOIN dups d USING (h)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
       CAST(SUM(passes_quality) AS BIGINT) AS n_quality_pass,
       CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate,
       CAST(SUM(passes_quality) AS DOUBLE) / COUNT(*) AS quality_rate
FROM q GROUP BY lang
""",
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the per-language summary table an LLM data
    release publishes: document/token/char counts, exact-duplicate
    rate, and rule-based quality pass rate, in ONE composed query (the
    report that `text_stats`, `dedup_exact` and `text_quality`
    individually feed, joined into the publishable artifact). The
    numbers a consumer checks before training on the corpus.

    One data-sized pass computes per-doc features + content hash; the
    duplicate flag joins the hash-keyed count table back (the
    `dedup_exact` shuffle); everything after is language-keyed. All
    counts exact, rates exact-operand ratios.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    dups = base.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    q = base.join(dups, "h").select(
        "lang",
        "n_chars",
        "n_tokens",
        F.when(F.col("c") > 1, 1).otherwise(0).alias("is_dup"),
        F.when(
            F.col("n_chars").between(50, 5000) & (F.col("n_tokens") >= 10),
            1,
        )
        .otherwise(0)
        .alias("passes_quality"),
    )
    return q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("is_dup").alias("n_exact_dups"),
        F.sum("passes_quality").alias("n_quality_pass"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias(
            "dup_rate"
        ),
        (
            F.sum("passes_quality").cast("double") / F.count(F.lit(1))
        ).alias("quality_rate"),
    )


@register(
    "corpus_split_leakage",
    oracle=r"""
WITH assigned AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
              THEN 'val' ELSE 'test' END AS split,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
  FROM documents
),
clusters AS (
  SELECT h, COUNT(DISTINCT split) AS ns FROM assigned GROUP BY h
)
SELECT a.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c.ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked_docs
FROM assigned a JOIN clusters c ON c.h = a.h
GROUP BY a.split
""",
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assignment + WHOLE-DOCUMENT leakage audit —
    the famous dedup-before-split bug: if a (near-)duplicate cluster
    spans two splits, the eval set leaks into training. Split is a
    deterministic content-independent hash of the doc key (first md5
    hex digit: 12/16 train, 2/16 val, 2/16 test — the stable-split
    idiom that keeps membership fixed as the corpus grows; md5 is
    engine-portable, unlike seeded RNG). Leakage clusters the corpus
    on the `dedup_normalized` canonical hash and counts, per split,
    the docs whose cluster touches ANOTHER split. `text_contamination`
    is the n-gram-level sibling; this is the doc-level gate.

    Plan: one scan → split+hash projection, one aggregate on the
    cluster hash (COUNT(DISTINCT split) over ≤3 values), one join back
    keyed on the same hash (exchange reused), one 3-group aggregate.
    At 100 TB everything shuffles on the uniform 128-bit hash — no
    skew, no data-sized broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(digit < "c", "train").when(digit < "e", "val").otherwise("test")
    )
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    assigned = d.select(split.alias("split"), h.alias("h"))
    clusters = assigned.groupBy("h").agg(
        F.count_distinct("split").alias("ns")
    )
    return (
        assigned.join(clusters, "h")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)).alias(
                "n_leaked_docs"
            ),
        )
    )


@register(
    "corpus_curriculum_order",
    oracle=r"""
WITH scored AS (
  SELECT doc_id, n_chars,
         NTILE(4) OVER (ORDER BY n_chars DESC, doc_id) AS quality_bucket,
         md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT doc_id, quality_bucket,
       ROW_NUMBER() OVER (ORDER BY quality_bucket, shuffle_key, doc_id)
         AS curriculum_pos
FROM scored
""",
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: bucket documents into quality
    quartiles (proxy: length, the `text_quality` family supplies the
    real score), then lay out the corpus best-bucket-first with a
    DETERMINISTIC within-bucket shuffle (md5 of the doc key — the
    `corpus_shuffle` epoch trick) so each quality phase is internally
    unordered but the whole layout is reproducible across engines and
    runs.

    Both windows are global-order at fixture scale (readable form); at
    100 TB the same layout comes from `repartitionByRange` on
    (bucket, shuffle_key) + per-partition offsets — the
    `zorder_layout`/`sample_systematic` rewrite — and the curriculum
    position is consumed as a sort key by the sequence packer
    (`doc_pack_sequences`), not materialized globally.
    """
    d = load_table(spark, sf_dir, "documents")
    wq = Window.orderBy(F.col("n_chars").desc(), "doc_id")
    scored = d.select(
        "doc_id",
        "n_chars",
        F.ntile(4).over(wq).alias("quality_bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    wp = Window.orderBy("quality_bucket", "shuffle_key", "doc_id")
    return scored.select(
        "doc_id",
        "quality_bucket",
        F.row_number().over(wp).alias("curriculum_pos"),
    )


@register(
    "corpus_ngram_novelty",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         range(1, 1000) r(i)
    WHERE i <= len(t) - 2)
),
firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 4) AS novelty
FROM sh JOIN firsts f USING (s)
GROUP BY 1
""",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before it
    (corpus order = doc_id): the fraction of a doc's distinct 3-word
    shingles whose FIRST corpus occurrence is this doc. The declining
    novelty curve is the standard diminishing-returns diagnostic for
    crawl scheduling and dataset mixing ("how much new text does source
    X still add?"), and a near-zero novelty row is a near-dup flag that
    catches containment cases pairwise Jaccard misses.

    Plan: distinct shingles per doc (array_distinct before explode — no
    global dedup shuffle), one groupBy(shingle) for the global first-
    occurrence (min combines map-side), then a shingle-keyed join back
    and a per-doc count. Two shuffles total, both on uniform keys (the
    shingle join could carry md5(s) instead of text at width; kept
    readable here). At 100 TB "first occurrence" is a streaming-ingest
    concept: the firsts table is the persisted state and each new batch
    anti-joins it — `dedup_incremental_minhash`'s ingest pattern with
    min(doc_id) as the tie-break, so backfill replays converge to the
    same answer.
    """
    d = load_table(spark, sf_dir, "documents")
    # split once per doc (an inline `split(text)[i-1]` inside the
    # lambda re-tokenizes the document per shingle — measured 9.4 s vs
    # 1.3 s at sf0.1), and hash the shingle to a long at birth: `s` is
    # an internal key (first-occurrence groupBy + join-back) that never
    # reaches the output, the join_set_similarity trick.
    # size(t) >= 3 guard: a <3-token doc would make sequence(1, size-2)
    # descend ([1,0,-1] → ANSI INVALID_ARRAY_INDEX); the 999 cap mirrors
    # the oracle's range(1, 1000) so both sides enumerate the same
    # positions on >1001-token docs (join_set_similarity's guard pair).
    # r12 fanned the single-file scan out before the explode (the
    # dedup-module single-split rule) and localCheckpointed the shingle
    # table for its two consumers. r13 (ADVICE r12: that checkpoint
    # materializes the ENTIRE exploded shingle table — O(corpus) block
    # storage, lineage-truncated so unrecomputable on executor loss):
    # the first-occurrence doc is simply min(doc_id) OVER (PARTITION BY
    # s) — one window on the shingle hash replaces the groupBy + join-
    # back pair, so the explode lineage has ONE consumer and nothing
    # needs materializing at all.
    sh = fan_out(d, "doc_id").select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, least(size(t) - 2, 999)),"
                " i -> xxhash64(concat_ws(' ', t[i-1], t[i], t[i+1]))))"
            )
        ).alias("s"),
    )
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("s"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(
                F.sum(novel) / F.count(F.lit(1)).cast("double"), 4
            ).alias("novelty"),
        )
    )


@register(
    "corpus_domain_mix_weights",
    oracle="""
WITH tok AS (
  SELECT lang, source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM tok),
temp AS (
  SELECT lang, source, tokens, t,
         CAST(FLOOR(1e12 * SQRT(CAST(tokens AS DOUBLE) / CAST(t AS DOUBLE)))
              AS BIGINT) AS ti
  FROM tok CROSS JOIN tot
),
norm AS (SELECT CAST(SUM(ti) AS BIGINT) AS s FROM temp)
SELECT lang, source, tokens,
       ROUND(CAST(tokens AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share,
       ROUND(CAST(ti AS DOUBLE) / CAST(s AS DOUBLE), 6) AS weight,
       ROUND((CAST(ti AS DOUBLE) * CAST(t AS DOUBLE))
             / (CAST(s AS DOUBLE) * CAST(tokens AS DOUBLE)), 6) AS oversample
FROM temp CROSS JOIN norm
ORDER BY lang, source
""",
)
def corpus_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-(lang, source) domain token
    shares → temperature-smoothed sampling weights w_i ∝ p_i^0.5 and
    the oversampling factor each domain needs to hit its weight — the
    unigram-LM / multilingual-sampling smoothing (α = 1/2) that keeps
    head domains from drowning the tail without flattening the mix,
    and the number a mixture-building epoch planner actually consumes
    (`corpus_mix_sample` then realizes such rates deterministically).

    Exactness: token counts aggregate as longs; p_i^0.5 is SQRT —
    IEEE-754 correctly rounded everywhere, unlike libm pow/exp — of an
    exact-operand division, floored onto the 1e-12 grid per domain
    BEFORE normalization, so the normalizer Σtᵢ is an exact long and
    every output ratio divides exact operands (then rounds for
    display). Plan: one token aggregation (map-side combinable), two
    1-row global sums broadcast back via the scalar cross-join pattern
    — the domain table is |lang × source|-sized, so everything after
    the first aggregate is effectively free at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("lang", "source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    tot = tok.agg(F.sum("tokens").cast("long").alias("t"))
    temp = tok.crossJoin(F.broadcast(tot)).select(
        "lang", "source", "tokens", "t",
        F.floor(
            F.lit(1e12)
            * F.sqrt(F.col("tokens").cast("double") / F.col("t").cast("double"))
        ).cast("long").alias("ti"),
    )
    norm = temp.agg(F.sum("ti").cast("long").alias("s"))
    return (
        temp.crossJoin(F.broadcast(norm))
        .select(
            "lang", "source", "tokens",
            F.round(
                F.col("tokens").cast("double") / F.col("t").cast("double"), 6
            ).alias("share"),
            F.round(
                F.col("ti").cast("double") / F.col("s").cast("double"), 6
            ).alias("weight"),
            F.round(
                (F.col("ti").cast("double") * F.col("t").cast("double"))
                / (F.col("s").cast("double") * F.col("tokens").cast("double")),
                6,
            ).alias("oversample"),
        )
        .orderBy("lang", "source")
    )


#: corpus_importance_resample: weight cap (chars) and md5 seed tag.
_IRS_CAP = 2000
_IRS_SEED = "irs5"


@register(
    "corpus_importance_resample",
    oracle=f"""
WITH weighted AS (
  SELECT lang,
         LEAST(n_chars, {_IRS_CAP}) AS w,
         {md5_int_sql(f"CAST(doc_id AS VARCHAR) || ':{_IRS_SEED}'", 1, 8)} AS u32
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN u32 * {_IRS_CAP} < w * 4294967296
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {grid_sql(f'CAST(SUM(w) AS DOUBLE) / {_IRS_CAP} / COUNT(*)', 6)}
         AS expected_micro,
       {grid_sql(f'''CAST(SUM(CASE WHEN u32 * {_IRS_CAP} < w * 4294967296
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)''', 6)}
                             AS realized_micro
FROM weighted
GROUP BY lang
ORDER BY lang
""",
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling: each document survives with probability
    proportional to its weight (here length capped at 2000 chars —
    stand-in for any quality score), decided by a seeded md5 coin so
    the SAMPLE ITSELF is reproducible across engines, runs and
    repartitions — the property quality-weighted corpus construction
    needs (re-runs must regenerate the identical training set). The
    keep test is pure integer arithmetic (`u32·cap < w·2^32`, max
    ~8.8e12 — five decimal orders under the long lane), so no
    float threshold can disagree between engines; the audit compares
    realized vs expected keep-rate per language on a 1e-6 grid.

    Map-side stateless gate (the sample_stratified_seeded shape) + one
    aggregate over |lang| groups. At 100 TB the scan is the cost; the
    coin adds one md5 per row and shuffles nothing.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars"), F.lit(_IRS_CAP))
    u32 = md5_int(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{_IRS_SEED}")), 1, 8
    )
    keep = (u32 * _IRS_CAP) < (w.cast("long") * F.lit(4294967296).cast("long"))
    return (
        d.select("lang", w.alias("w"), keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            grid(
                F.sum("w").cast("double")
                / F.lit(float(_IRS_CAP))
                / F.count(F.lit(1)),
                6,
            )
            .alias("expected_micro"),
            grid(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .alias("realized_micro"),
        )
        .orderBy("lang")
    )


#: BPE demo bounds: train merges over the TOP-K word types (by
#: frequency, fully tie-broken) for result boundedness; 3 merge rounds.
_BPE_TOP_WORDS = 100
_BPE_ROUNDS = 3


def _bpe_train_ctes(tbl: str) -> str:
    """Unrolled 3-round BPE merge training for DuckDB. Every CTE is
    MATERIALIZED (the round-7 inlining lesson); pair counts are exact
    integers and the per-round winner is fully tie-broken
    (count DESC, pair), so the three winner rows hash exactly.

    Merge semantics pinned by tests/test_round7_ops.py: leftmost,
    non-overlapping, resuming AFTER the replacement — both engines'
    ``replace`` — so a run 'x x x x' merges once per round, not
    cascade-merged (classic batched-BPE behavior differs; this
    operator's contract is the replace-scan form).
    """
    parts = [
        f"""
WITH docs AS MATERIALIZED (SELECT lower(text) AS t FROM {tbl}),
words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_extract_all(t, '[a-z]+')) AS w FROM docs) z
  WHERE length(w) >= 2
  GROUP BY w ORDER BY freq DESC, w LIMIT {_BPE_TOP_WORDS}),
s0 AS MATERIALIZED (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq, freq
  FROM words)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f""",
p{r} AS MATERIALIZED (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(
             range(1, len(string_split(seq, ' '))),
             i -> string_split(seq, ' ')[i] || ' '
                  || string_split(seq, ' ')[i + 1])) AS pair,
           freq
    FROM s{r - 1}) z
  GROUP BY pair),
b{r} AS MATERIALIZED (
  SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
s{r} AS MATERIALIZED (
  SELECT trim(replace(' ' || seq || ' ',
                      ' ' || b{r}.pair || ' ',
                      ' ' || replace(b{r}.pair, ' ', '') || ' ')) AS seq,
         freq
  FROM s{r - 1}, b{r})""")
    return "".join(parts)


def _bpe_oracle_sql(tbl: str) -> str:
    """Training oracle: the merge table itself."""
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, pair AS merged_pair, cnt"
        f" FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return _bpe_train_ctes(tbl) + "\n" + sel


@register(
    "corpus_bpe_merges",
    oracle=_bpe_oracle_sql("documents"),
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the byte-pair-encoding merge loop that
    builds every modern LLM vocabulary: count adjacent symbol pairs
    over the (word, frequency) table, merge the most frequent pair
    corpus-wide, repeat. Three rounds unrolled; output = the learned
    merge table (round, pair, count), which IS a tokenizer's
    ``merges.txt`` prefix.

    Spark-first shape: each round is ONE map-side-combinable pair
    aggregation over the word-type table (types, not running text —
    the standard BPE trick that makes cost independent of corpus
    length), a 1-row argmax broadcast, and a narrow regexp-free
    ``replace`` projection. At 100 TB the word-frequency reduction is
    the only corpus-sized pass; every merge round runs on |vocab| rows.
    Pair counts are exact integers, winners fully tie-broken, so all
    rounds hash-match the unrolled DuckDB oracle.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.lower("text").alias("t")
    )
    words = (
        d.select(
            F.explode(F.expr("regexp_extract_all(t, '[a-z]+', 0)")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(_BPE_TOP_WORDS)
    )
    seqs = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq"), "freq"
    )
    rounds = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = seqs.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(split(seq, ' ')) < 2 THEN array() "
                    "ELSE transform(sequence(1, size(split(seq, ' ')) - 1),"
                    " i -> concat(element_at(split(seq, ' '), i), ' ',"
                    " element_at(split(seq, ' '), i + 1))) END"
                )
            ).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
        )
        rounds.append(
            best.select(
                F.lit(r).cast("long").alias("round"),
                F.col("pair").alias("merged_pair"),
                "cnt",
            )
        )
        seqs = seqs.crossJoin(F.broadcast(best)).select(
            F.trim(
                F.expr(
                    "replace(' ' || seq || ' ', ' ' || pair || ' ',"
                    " ' ' || replace(pair, ' ', '') || ' ')"
                )
            ).alias("seq"),
            "freq",
        )
    return rounds[0].unionAll(rounds[1]).unionAll(rounds[2])


def _bpe_apply_sql(tbl: str) -> str:
    """Oracle for the APPLY side: rebuild the training chain (b1..b3),
    then tokenize EVERY word type of the corpus (not just the training
    top-K) through the three replace-scan merges and roll token counts
    up per language."""
    rounds = "".join(
        f""",
a{r} AS MATERIALIZED (
  SELECT a{r - 1}.lang, a{r - 1}.cnt, a{r - 1}.n_chars,
         trim(replace(' ' || a{r - 1}.seq || ' ',
                      ' ' || b{r}.pair || ' ',
                      ' ' || replace(b{r}.pair, ' ', '') || ' ')) AS seq
  FROM a{r - 1}, b{r})"""
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return _bpe_train_ctes(tbl) + f""",
wordsall AS MATERIALIZED (
  SELECT d.lang, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM {tbl} d2) d
  WHERE length(w) >= 2 GROUP BY lang, w),
a0 AS MATERIALIZED (
  SELECT lang, cnt, CAST(length(w) AS BIGINT) AS n_chars,
         trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq
  FROM wordsall){rounds}
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_word_occurrences,
       CAST(SUM(cnt * n_chars) AS BIGINT) AS tokens_char,
       CAST(SUM(cnt * len(string_split(seq, ' '))) AS BIGINT)
         AS tokens_bpe
FROM a{_BPE_ROUNDS} GROUP BY lang ORDER BY lang
"""


@register(
    "text_bpe_apply",
    oracle=_bpe_apply_sql("documents"),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — close the tokenizer loop: learn the
    merge table (`corpus_bpe_merges`), then tokenize the ENTIRE corpus
    through those merges in order and report per-language token counts
    before (characters) and after (BPE symbols). tokens_bpe /
    tokens_char is the compression the learned vocabulary buys — the
    number a tokenizer-training pipeline actually monitors per
    language, because a vocab trained on one language under-compresses
    the others (the fertility-imbalance problem).

    Spark-first: tokenization runs over WORD TYPES per language (group
    once, tokenize each distinct word once, multiply by its count) —
    corpus length only enters through the one word-count reduction.
    Each merge is a broadcast 1-row winner + a narrow replace
    projection, applied in learned order. Everything integer, so the
    per-language rollup hash-matches the unrolled oracle.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.lower("text").alias("t")
    )
    # training rounds over the top-K word types (same plan as
    # corpus_bpe_merges) to learn the winners
    words = (
        d.select(
            F.explode(F.expr("regexp_extract_all(t, '[a-z]+', 0)")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(_BPE_TOP_WORDS)
    )
    seqs = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq"), "freq"
    )
    pair_expr = (
        "CASE WHEN size(split(seq, ' ')) < 2 THEN array() "
        "ELSE transform(sequence(1, size(split(seq, ' ')) - 1),"
        " i -> concat(element_at(split(seq, ' '), i), ' ',"
        " element_at(split(seq, ' '), i + 1))) END"
    )
    merge_expr = (
        "replace(' ' || seq || ' ', ' ' || pair || ' ',"
        " ' ' || replace(pair, ' ', '') || ' ')"
    )
    bests = []
    for _ in range(_BPE_ROUNDS):
        best = (
            seqs.select(F.explode(F.expr(pair_expr)).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
        )
        bests.append(best)
        seqs = seqs.crossJoin(F.broadcast(best.select("pair"))).select(
            F.trim(F.expr(merge_expr)).alias("seq"), "freq"
        )
    # apply the learned merges to every word type, per language
    wordsall = (
        d.select(
            "lang",
            F.explode(F.expr("regexp_extract_all(t, '[a-z]+', 0)")).alias(
                "w"
            ),
        )
        .filter(F.length("w") >= 2)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = wordsall.select(
        "lang",
        "cnt",
        F.length("w").cast("long").alias("n_chars"),
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq"),
    )
    for best in bests:
        a = a.crossJoin(F.broadcast(best.select("pair"))).select(
            "lang", "cnt", "n_chars", F.trim(F.expr(merge_expr)).alias("seq")
        )
    return a.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_word_occurrences"),
        F.sum(F.col("cnt") * F.col("n_chars"))
        .cast("long")
        .alias("tokens_char"),
        F.sum(F.col("cnt") * F.size(F.split("seq", " ")))
        .cast("long")
        .alias("tokens_bpe"),
    )


@register(
    "corpus_filter_ablation",
    oracle=f"""
WITH flags AS (
  SELECT doc_id,
         (n_chars BETWEEN 150 AND 500) AS f_len,
         (len(string_split(text, ' ')) >= 30) AS f_wc,
         (2 * len(list_distinct(string_split(text, ' ')))
            >= len(string_split(text, ' '))) AS f_uniq,
         (20 * len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and')))
            >= len(string_split(text, ' '))) AS f_stop
  FROM documents
),
u AS (
  SELECT doc_id, 'len' AS filter_name, f_len AS ok,
         (f_wc AND f_uniq AND f_stop) AS others_ok,
         (f_len AND f_wc AND f_uniq AND f_stop) AS all_ok FROM flags
  UNION ALL
  SELECT doc_id, 'wordcount', f_wc, (f_len AND f_uniq AND f_stop),
         (f_len AND f_wc AND f_uniq AND f_stop) FROM flags
  UNION ALL
  SELECT doc_id, 'uniqueness', f_uniq, (f_len AND f_wc AND f_stop),
         (f_len AND f_wc AND f_uniq AND f_stop) FROM flags
  UNION ALL
  SELECT doc_id, 'stopwords', f_stop, (f_len AND f_wc AND f_uniq),
         (f_len AND f_wc AND f_uniq AND f_stop) FROM flags
)
SELECT filter_name,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
       CAST(SUM(CASE WHEN NOT ok AND others_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_fail,
       CAST(SUM(CASE WHEN all_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
       {grid_sql('''CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*)''', 6)} AS pass_rate_micro
FROM u GROUP BY filter_name ORDER BY filter_name
""",
)
def corpus_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ABLATION audit: per filter, how many documents it
    fails, and — the number that actually drives pipeline tuning — how
    many it UNIQUELY kills (docs every other filter would have kept).
    A filter with high n_fail but near-zero n_unique_fail is redundant
    with the rest of the cascade and can be dropped without changing
    the surviving corpus; one with a large unique-kill count is doing
    real (and unreviewable) work and deserves a threshold sweep. This
    is the measurement behind every "which cleaning rules matter"
    iteration on a pretraining corpus (`corpus_quality_pipeline` APPLIES
    a cascade; this key EXPLAINS it).

    All four flags (length band, word count, distinct-token ratio,
    stopword ratio) compute in ONE row-local projection — integer
    cross-multiplication instead of float ratios — then ``stack``
    unpivots doc×filter and one hash aggregate collapses to 4 rows.
    Zero joins, zero windows; at 100 TB the cost is the text scan
    itself, and adding a fifth filter adds one boolean column.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    flags = d.select(
        "doc_id",
        F.col("n_chars").between(150, 500).alias("f_len"),
        (F.size(toks) >= 30).alias("f_wc"),
        (F.lit(2) * F.size(F.array_distinct(toks)) >= F.size(toks)).alias(
            "f_uniq"
        ),
        (F.lit(20) * F.size(stop) >= F.size(toks)).alias("f_stop"),
    )
    u = flags.selectExpr(
        "doc_id",
        "stack(4, "
        "'len', f_len, (f_wc AND f_uniq AND f_stop), "
        "'wordcount', f_wc, (f_len AND f_uniq AND f_stop), "
        "'uniqueness', f_uniq, (f_len AND f_wc AND f_stop), "
        "'stopwords', f_stop, (f_len AND f_wc AND f_uniq)"
        ") AS (filter_name, ok, others_ok)",
        "(f_len AND f_wc AND f_uniq AND f_stop) AS all_ok",
    )
    return (
        u.groupBy("filter_name")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_fail"),
            F.sum(
                F.when(~F.col("ok") & F.col("others_ok"), 1).otherwise(0)
            ).alias("n_unique_fail"),
            F.sum(F.when(F.col("all_ok"), 1).otherwise(0)).alias("n_pass_all"),
            grid(
                F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .alias("pass_rate_micro"),
        )
        .orderBy("filter_name")
    )


#: mix-epoch planning: total token budget, per-source epoch cap.
_MIX_BUDGET = 200_000
_MIX_EPOCH_CAP = 4


@register(
    "corpus_mix_epochs",
    oracle=f"""
WITH src AS (
  SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
plan AS (
  SELECT source, tokens,
         CAST({_MIX_BUDGET} // (SELECT COUNT(*) FROM src) AS BIGINT)
           AS required
  FROM src
)
SELECT source, tokens, required,
       CAST(LEAST(CAST(CEIL(CAST(required AS DOUBLE) / tokens) AS BIGINT),
                  {_MIX_EPOCH_CAP}) AS BIGINT) AS epochs,
       CAST(LEAST(required, {_MIX_EPOCH_CAP} * tokens) AS BIGINT)
         AS effective_tokens,
       CAST(GREATEST(required - {_MIX_EPOCH_CAP} * tokens, 0) AS BIGINT)
         AS deficit
FROM plan ORDER BY source
""",
)
def corpus_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planning for a token-budgeted pretraining mix: given a
    total budget and a target allocation (uniform here), how many
    EPOCHS (repeats) each source needs to fill its share, capped at 4
    (the empirical repeat ceiling past which repeated data stops
    helping — the LLaMA/DoReMi-style recipe step), plus the resulting
    shortfall per source. `corpus_domain_mix_weights` chooses the
    target mix; this key converts it into the repeat plan a sampler
    executes, and the deficit column is what forces a mix
    renegotiation when a small source can't fill its quota.

    One token-count aggregate per source (the only data-sized pass;
    tokens ≈ chars/4 in integer division), a 1-row source-count
    broadcast, then pure integer scalar math — epochs via
    ceil-division on exact longs, effective/deficit via LEAST/GREATEST.
    """
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.expr("n_chars div 4")).alias("tokens")
    )
    nsrc = src.agg(F.count(F.lit(1)).alias("ns"))
    plan = src.crossJoin(F.broadcast(nsrc)).select(
        "source",
        "tokens",
        F.expr(f"{_MIX_BUDGET} div ns").cast("long").alias("required"),
    )
    epochs = F.least(
        F.ceil(F.col("required").cast("double") / F.col("tokens")).cast(
            "long"
        ),
        F.lit(_MIX_EPOCH_CAP).cast("long"),
    )
    return plan.select(
        "source",
        "tokens",
        "required",
        epochs.alias("epochs"),
        F.least(F.col("required"), _MIX_EPOCH_CAP * F.col("tokens"))
        .cast("long")
        .alias("effective_tokens"),
        F.greatest(
            F.col("required") - _MIX_EPOCH_CAP * F.col("tokens"), F.lit(0)
        )
        .cast("long")
        .alias("deficit"),
    ).orderBy("source")


#: span corruption: md5-coin mask rate (percent) — the T5 default 15%.
_SPAN_RATE_PCT = 15


@register(
    "corpus_span_corruption",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, i - 1 AS idx
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
       LATERAL unnest(generate_series(1, len(ws))) t(i)
),
masked AS (
  SELECT doc_id, idx,
         CASE WHEN {md5_int_sql("CAST(doc_id AS VARCHAR) || ':' || "
                                "CAST(idx AS VARCHAR)", 1, 6)}
                   % 100 < {_SPAN_RATE_PCT}
              THEN 1 ELSE 0 END AS m
  FROM toks
),
spans AS (
  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS span_len
  FROM (
    SELECT doc_id, idx,
           idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx)
             AS grp
    FROM masked WHERE m = 1) z
  GROUP BY doc_id, grp
),
per_doc AS (
  SELECT m.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(m.m) AS BIGINT) AS n_masked
  FROM masked m GROUP BY m.doc_id
)
SELECT p.doc_id, p.n_tokens, p.n_masked,
       CAST(COALESCE(COUNT(s.grp), 0) AS BIGINT) AS n_spans,
       CAST(p.n_masked * 1000000 // p.n_tokens AS BIGINT)
         AS corrupt_rate_micro,
       CAST(COALESCE(MAX(s.span_len), 0) AS BIGINT) AS max_span_len
FROM per_doc p LEFT JOIN spans s ON s.doc_id = p.doc_id
GROUP BY p.doc_id, p.n_tokens, p.n_masked
ORDER BY p.doc_id
""",
)
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption masking plan (T5/UL2 denoising objectives,
    public): decide — deterministically and reproducibly — WHICH token
    positions each document masks, merge consecutive masked positions
    into spans (each span becomes one sentinel token at training
    time), and emit the per-doc corruption audit (token count, masked
    count, span count = sentinel budget, realized corruption rate,
    longest span). The mask coin is md5(doc_id:idx) % 100 < 15 — the
    repo's deterministic-sampling convention (`corpus_mix_sample`), so
    re-running the plan on any engine regenerates the identical mask:
    exactly the reproducibility a training-data pipeline needs when
    the corruption plan and the tensor writer are separate jobs.

    Spans via the gaps-and-islands identity (idx − row_number constant
    within a run — the `mm_audio_vad` shape); every statistic is an
    exact integer, the rate a positive-integer cross-multiply div.

    100-TB posture: the token fan-out is an executor-side
    posexplode (no bytes shuffle); the islands window, the span
    rollup, and the per-doc audit all ride ONE doc-key exchange;
    output is doc-sized. Sentinel budgeting (n_spans <= vocab
    sentinels) becomes a plain filter on this audit.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("idx", "_w"),
    ).select("doc_id", "idx")
    coin = md5_int(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("idx").cast("string")),
        1, 6,
    ) % 100
    masked = toks.select(
        "doc_id", "idx",
        F.when(coin < _SPAN_RATE_PCT, 1).otherwise(0).alias("m"),
    )
    spans = (
        masked.filter(F.col("m") == 1)
        .select(
            "doc_id", "idx",
            (
                F.col("idx")
                - F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("idx")
                )
            ).alias("grp"),
        )
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("span_len"))
    )
    per_doc = masked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("m").cast("long").alias("n_masked"),
    )
    return (
        per_doc.join(spans, "doc_id", "left")
        .groupBy("doc_id", "n_tokens", "n_masked")
        .agg(
            F.coalesce(F.count("grp"), F.lit(0)).cast("long")
            .alias("n_spans"),
            F.expr("CAST(n_masked * 1000000 div n_tokens AS BIGINT)")
            .alias("corrupt_rate_micro"),
            F.coalesce(F.max("span_len"), F.lit(0)).cast("long")
            .alias("max_span_len"),
        )
        .orderBy("doc_id")
    )
