"""Training-data curation operators over the documents table.

  decontamination    — flag training docs that share word 8-grams with an
                       eval/benchmark split (train/test leakage removal)
  stratified sample  — deterministic per-stratum quota sampling for data
                       mixing (downsample over-represented lang×source
                       strata)
  tf-idf top terms   — distinctive-term extraction per source

These complete the curation story next to dedup (dedup.py), ANN
(similarity.py) and text stats (textstats.py): a reference-collector user
running an LLM data pipeline needs leak checks, mixing ratios and corpus
introspection in the same engine that dedups.

All built-in expressions — whole-stage codegen, zero Python in the row
path. Score arithmetic sticks to exactly-rounded IEEE ops (multiply /
divide on integer-valued doubles, no transcendentals), so the DuckDB
oracle matches bit-for-bit.

Scale notes (100 TB):
  * decontamination broadcasts only the DISTINCT eval n-gram set (eval
    benchmarks are tiny — MBs — next to a training corpus); the train-side
    n-gram explode streams map-side and the per-doc count is a combinable
    groupBy. No shuffle ever carries the exploded corpus n-grams.
  * the sampler's only shuffle is the per-stratum window, partitioned by
    the stratum key; skew is bounded by the largest stratum, and the hash
    ranking means a map-side top-K pre-filter can be layered in front
    without changing results.
  * tf-idf shuffles (source, term) pairs — combinable aggs both times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collector_spark.ml.dedup import _hash60, _n_tokens, _sql_hash60, _tokens
from collector_spark.ml.textstats import NB_SCALE, _qgrid, _qlog, _sql_qlog

# word n-gram width for contamination checks (8 is the common published
# choice for benchmark decontamination)
NGRAM_N = 8
# the deterministic "benchmark" split of the fixture corpus: the documents
# table has no eval flag, so the smallest source id plays the eval set
EVAL_SOURCE = "src0"
# per-stratum quota for the mixing sampler
STRATUM_QUOTA = 5
# Knuth multiplicative hash constants (public-domain); doc_id is folded to
# 31 bits first so the product stays inside signed-64 exactly in both
# engines
_HASH_MULT = 2654435761
_HASH_FOLD = 2147483648  # 2^31
_HASH_MOD = 4294967296  # 2^32


def _word_ngrams(tok_col: str, n: int):
    """All n-token windows of the token-array column as space-joined strings
    (empty when the doc has fewer than n tokens). References the already-
    materialized token column so the split happens once per row."""
    return F.when(
        F.size(F.col(tok_col)) >= n,
        F.expr(
            f"transform(sequence(1, size({tok_col}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({tok_col}, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _token_pairs(
    df: DataFrame, toks: str, *keep: str, window: int = 1, names=("w1", "w2")
) -> DataFrame:
    """(keep..., w1, w2): every ordered pair (t[i], t[j]), i < j <= i +
    window, of the token-array column ``toks`` (window 1 = adjacent
    pairs). Row-local — a nested transform over positions, no lag window,
    no self-join on position. The size >= 2 guard is load-bearing: Spark's
    sequence(1, 0) is [1, 0], not empty."""
    a, b = names
    pairs = F.expr(
        f"flatten(transform(sequence(1, size({toks}) - 1), i -> "
        f"transform(sequence(i + 1, least(i + {window}, size({toks}))), j -> "
        f"struct(element_at({toks}, i) AS {a}, element_at({toks}, j) AS {b}))))"
    )
    return (
        df.filter(F.size(toks) >= 2)
        .select(*keep, F.explode(pairs).alias("_p"))
        .select(*keep, f"_p.{a}", f"_p.{b}")
    )


def eval_gram_set(spark: SparkSession) -> DataFrame:
    """The DISTINCT eval-split word-8-gram relation decontaminate screens
    against. Exposed so a long-running consumer (the streaming manifest's
    per-micro-batch scoring) computes it ONCE — persisted/checkpointed —
    instead of re-deriving the eval explode+distinct every trigger."""
    eval_docs = spark.table("documents")
    return (
        _decon_grams(eval_docs.filter(F.col("source") == EVAL_SOURCE))
        .select("gram")
        .distinct()
    )


def _decon_grams(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("t")
    ).select(
        "doc_id", "source", F.explode(_word_ngrams("t", NGRAM_N)).alias("gram")
    )


def decontaminate(
    spark: SparkSession,
    docs: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: for every training document (source !=
    EVAL_SOURCE), count how many distinct word 8-grams also occur anywhere
    in the eval split, and flag any overlap as contamination.

    The eval n-gram set is DISTINCT'ed then broadcast — the right plan at
    scale, where the benchmark is orders of magnitude smaller than the
    corpus being screened.

    ``docs`` overrides the corpus side being SCREENED (the streaming
    manifest scores each ingest micro-batch against the static eval set);
    ``eval_grams`` injects a precomputed/persisted eval_gram_set so
    repeated calls (one per micro-batch) don't re-derive it.
    """
    docs = spark.table("documents") if docs is None else docs
    _grams = _decon_grams

    if eval_grams is None:
        eval_grams = eval_gram_set(spark)
    matched = (
        _grams(docs).filter(F.col("source") != EVAL_SOURCE)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("matched_grams"))
    )
    return (
        docs.filter(F.col("source") != EVAL_SOURCE)
        .select("doc_id", "source")
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("matched_grams"), F.lit(0).cast("long")).alias(
                "matched_grams"
            ),
            (F.coalesce(F.col("matched_grams"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def oracle_decontaminate() -> str:
    n = NGRAM_N
    return f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gram
  FROM toks WHERE len(t) >= {n}
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE source = '{EVAL_SOURCE}'),
m AS (
  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS matched_grams
  FROM grams g JOIN eval_grams e USING (gram)
  WHERE g.source <> '{EVAL_SOURCE}'
  GROUP BY g.doc_id
)
SELECT d.doc_id, d.source,
       COALESCE(m.matched_grams, 0) AS matched_grams,
       COALESCE(m.matched_grams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN m USING (doc_id)
WHERE d.source <> '{EVAL_SOURCE}'
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# E93 — decontamination n-gram sensitivity sweep: the table that picks the
# screening window before a production decontamination run (GPT-3 used
# 13-grams, FLAN 8, some evals 5 — the choice trades missed paraphrase
# contamination against false-positive boilerplate hits). For each n in
# SWEEP_NS: the eval split's distinct n-gram count, how many training
# docs overlap at that n, and the contaminated fraction. A doc
# contaminated at a larger n is contaminated at every smaller n (a shared
# n-gram's subwindows are shared too), so the doc counts are monotone
# non-increasing in n — property-pinned.
#
# Scale: ONE corpus tokenization and ONE explode carry all three window
# lengths ((n, gram) structs flattened together), so the sweep costs one
# pass over ~3x the 8-gram volume, not three passes; the eval side stays
# a broadcast (distinct (n, gram) of the benchmark split — small by
# definition), and the per-n rollup is two combinable groupBys. The
# training-doc denominator is relational (broadcast one-row count), never
# an eager driver-side count.
# ---------------------------------------------------------------------------

SWEEP_NS = (5, 8, 13)


def decontaminate_sweep(
    spark: SparkSession, docs: DataFrame | None = None
) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    toks = docs.select("doc_id", "source", F.split(F.col("text"), " ").alias("t"))
    def _tag(n: int):
        # a ONE-parameter lambda: F.transform hands a 2-parameter callable
        # (element, index) — a captured default would be clobbered by the
        # window index
        return lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("gram"))

    gram_arrays = F.flatten(
        F.array(*[F.transform(_word_ngrams("t", n), _tag(n)) for n in SWEEP_NS])
    )
    grams = toks.select(
        "doc_id", "source", F.explode(gram_arrays).alias("g")
    ).select("doc_id", "source", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    eval_g = (
        grams.filter(F.col("source") == EVAL_SOURCE).select("n", "gram").distinct()
    )
    eval_counts = eval_g.groupBy("n").agg(
        F.count("*").cast("long").alias("n_eval_grams")
    )
    matched = (
        grams.filter(F.col("source") != EVAL_SOURCE)
        .join(F.broadcast(eval_g), ["n", "gram"])
        .select("n", "doc_id")
        .distinct()
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("n_contaminated_docs"))
    )
    total = (
        docs.filter(F.col("source") != EVAL_SOURCE)
        .agg(F.count("*").cast("long").alias("n_train_docs"))
    )
    return (
        eval_counts.join(matched, "n", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "n",
            "n_eval_grams",
            F.coalesce(F.col("n_contaminated_docs"), F.lit(0).cast("long")).alias(
                "n_contaminated_docs"
            ),
            "n_train_docs",
            (
                F.coalesce(F.col("n_contaminated_docs"), F.lit(0)).cast("double")
                / F.col("n_train_docs").cast("double")
            ).alias("contaminated_frac"),
        )
        .orderBy("n")
    )


def oracle_decontaminate_sweep() -> str:
    parts = [
        "toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)",
        f"""total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs FROM documents
  WHERE source <> '{EVAL_SOURCE}'
)""",
    ]
    selects = []
    for n in SWEEP_NS:
        parts.append(
            f"""g{n} AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gram
  FROM toks WHERE len(t) >= {n}
)"""
        )
        parts.append(
            f"e{n} AS (SELECT DISTINCT gram FROM g{n} WHERE source = '{EVAL_SOURCE}')"
        )
        selects.append(
            f"""SELECT {n} AS n,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e{n}) AS n_eval_grams,
  (SELECT CAST(COUNT(DISTINCT g.doc_id) AS BIGINT)
   FROM g{n} g JOIN e{n} USING (gram)
   WHERE g.source <> '{EVAL_SOURCE}') AS n_contaminated_docs"""
        )
    body = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH {body}
SELECT CAST(n AS INT) AS n, n_eval_grams, n_contaminated_docs, n_train_docs,
  CAST(n_contaminated_docs AS DOUBLE) / CAST(n_train_docs AS DOUBLE)
    AS contaminated_frac
FROM ({union}) CROSS JOIN total
ORDER BY n
"""


def stratified_sample(spark: SparkSession) -> DataFrame:
    """Deterministic quota sampling per (lang, source) stratum: rank every
    doc inside its stratum by a Knuth multiplicative hash of doc_id (a
    seedless, engine-portable shuffle order) and keep the first
    STRATUM_QUOTA. The decision is a pure function of doc_id, so re-runs
    and backfills select identical rows — the property a training-data
    mixing step needs.
    """
    docs = spark.table("documents")
    samp_hash = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(_HASH_FOLD)) * F.lit(_HASH_MULT),
        F.lit(_HASH_MOD),
    ).cast("long")
    w = Window.partitionBy("lang", "source").orderBy("samp_hash", "doc_id")
    return (
        docs.select("doc_id", "lang", "source", samp_hash.alias("samp_hash"))
        .withColumn("stratum_rank", F.row_number().over(w))
        .withColumn("kept", F.col("stratum_rank") <= STRATUM_QUOTA)
        .orderBy("doc_id")
    )


def oracle_stratified_sample() -> str:
    return f"""
WITH s AS (
  SELECT doc_id, lang, source,
         ((doc_id % {_HASH_FOLD}) * {_HASH_MULT}) % {_HASH_MOD} AS samp_hash
  FROM documents
)
SELECT doc_id, lang, source, samp_hash,
       CAST(row_number() OVER (PARTITION BY lang, source ORDER BY samp_hash, doc_id)
            AS INTEGER) AS stratum_rank,
       CAST(row_number() OVER (PARTITION BY lang, source ORDER BY samp_hash, doc_id)
            AS INTEGER) <= {STRATUM_QUOTA} AS kept
FROM s ORDER BY doc_id
"""


def tfidf_top_terms(spark: SparkSession, k: int = 5) -> DataFrame:
    """Distinctive terms per source: tf-idf with idf = n_sources / df
    (no logarithm — division of integer-valued doubles is exactly rounded,
    keeping Spark and the oracle bit-identical), top-k per source with a
    (score desc, term asc) total order.
    """
    docs = spark.table("documents")
    terms = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    tf = terms.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df_ = terms.groupBy("term").agg(F.countDistinct("source").alias("df"))
    n_sources = docs.select(
        F.countDistinct("source").cast("long").alias("n_sources")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_sources))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_sources").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("source", "term", "tf", "df", "score", "term_rank")
        .orderBy("source", "term_rank")
    )


def oracle_tfidf_top_terms(k: int = 5) -> str:
    return f"""
WITH terms AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (SELECT source, term, COUNT(*) AS tf FROM terms GROUP BY source, term),
df AS (SELECT term, COUNT(DISTINCT source) AS df FROM terms GROUP BY term),
ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * (CAST(ns.n_sources AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN ns
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, term ASC)
                 AS INTEGER) AS term_rank
  FROM scored
)
SELECT source, term, tf, df, score, term_rank
FROM ranked WHERE term_rank <= {k}
ORDER BY source, term_rank
"""


# ---------------------------------------------------------------------------
# Repetition quality signals (Gopher-style)
# ---------------------------------------------------------------------------


def repetition_signals(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    """Per-document repetition statistics used as LLM-pretraining quality
    filters (the Gopher/MassiveText rules): distinct-word fraction, the
    fraction of word occurrences claimed by the most frequent unigram and
    bigram, and the duplicate-trigram fraction.

    Every aggregate is keyed by doc_id, so the explodes stream map-side and
    the shuffles carry one row per (doc, gram) — combinable, skew bounded
    by the longest document, never all-pairs.
    """
    docs = (spark.table("documents") if docs is None else docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    uni = (
        docs.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.max("c").cast("long").alias("top_uni"),
            F.count("*").cast("long").alias("n_distinct"),
        )
    )
    big = (
        docs.select("doc_id", F.explode(_word_ngrams("t", 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_bi"))
    )
    tri = (
        docs.select("doc_id", F.explode(_word_ngrams("t", 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tri"),
            F.count("*").cast("long").alias("d_tri"),
        )
    )
    return (
        uni.join(big, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_distinct").cast("double") / F.col("n_words")).alias(
                "distinct_word_frac"
            ),
            (F.col("top_uni").cast("double") / F.col("n_words")).alias(
                "top_unigram_frac"
            ),
            F.coalesce(
                F.col("top_bi").cast("double") * 2 / F.col("n_words"), F.lit(0.0)
            ).alias("top_bigram_frac"),
            F.coalesce(
                (F.col("n_tri") - F.col("d_tri")).cast("double") / F.col("n_tri"),
                F.lit(0.0),
            ).alias("dup_trigram_frac"),
        )
        .orderBy("doc_id")
    )


def oracle_repetition_signals() -> str:
    return """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni0 AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) u
  GROUP BY doc_id, w
),
uni AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(MAX(c) AS BIGINT) AS top_uni,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM uni0 GROUP BY doc_id
),
big0 AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
big AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bi
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM big0 GROUP BY doc_id, g) b
  GROUP BY doc_id
),
tri0 AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
),
tri AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri, CAST(COUNT(*) AS BIGINT) AS d_tri
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tri0 GROUP BY doc_id, g) b
  GROUP BY doc_id
)
SELECT uni.doc_id, uni.n_words,
  CAST(uni.n_distinct AS DOUBLE) / uni.n_words AS distinct_word_frac,
  CAST(uni.top_uni AS DOUBLE) / uni.n_words AS top_unigram_frac,
  COALESCE(CAST(big.top_bi AS DOUBLE) * 2 / uni.n_words, 0.0) AS top_bigram_frac,
  COALESCE(CAST(tri.n_tri - tri.d_tri AS DOUBLE) / tri.n_tri, 0.0) AS dup_trigram_frac
FROM uni LEFT JOIN big USING (doc_id) LEFT JOIN tri USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# C4-style heuristic filters
# ---------------------------------------------------------------------------

C4_MIN_WORDS = 20
C4_MEAN_WORD_LEN_LO = 3.0
C4_MEAN_WORD_LEN_HI = 10.0


def c4_filters(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    """C4-style document keep/drop heuristics: minimum word count, mean
    word length inside [3, 10], and stopword presence — each emitted as a
    flag plus the conjunction, so a pipeline can audit *why* a document
    was dropped. Pure per-row expressions: codegen, no shuffle."""
    docs = spark.table("documents") if docs is None else docs
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks).cast("long")
    # mean word length from the char count net of separators — avoids a
    # second pass over the tokens
    mean_wl = (F.col("n_chars") - (n_words - 1)).cast("double") / n_words
    has_stop = F.col("text").rlike(r"(^| )(the|a|of|and|to) ")
    min_words_ok = n_words >= C4_MIN_WORDS
    word_len_ok = (mean_wl >= C4_MEAN_WORD_LEN_LO) & (mean_wl <= C4_MEAN_WORD_LEN_HI)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        min_words_ok.alias("min_words_ok"),
        word_len_ok.alias("word_len_ok"),
        has_stop.alias("has_stopword"),
        (min_words_ok & word_len_ok & has_stop).alias("keep"),
    ).orderBy("doc_id")


def oracle_c4_filters() -> str:
    return f"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
  CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
    / len(string_split(text, ' ')) AS mean_word_len,
  len(string_split(text, ' ')) >= {C4_MIN_WORDS} AS min_words_ok,
  (CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
     / len(string_split(text, ' ')) >= {C4_MEAN_WORD_LEN_LO}
   AND CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
     / len(string_split(text, ' ')) <= {C4_MEAN_WORD_LEN_HI}) AS word_len_ok,
  regexp_matches(text, '(^| )(the|a|of|and|to) ') AS has_stopword,
  (len(string_split(text, ' ')) >= {C4_MIN_WORDS}
   AND CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
     / len(string_split(text, ' ')) >= {C4_MEAN_WORD_LEN_LO}
   AND CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
     / len(string_split(text, ' ')) <= {C4_MEAN_WORD_LEN_HI}
   AND regexp_matches(text, '(^| )(the|a|of|and|to) ')) AS keep
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.]+"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d-]{6,}\d"


def pii_scrub(spark: SparkSession) -> DataFrame:
    """Scrub emails / IPv4 addresses / phone numbers from document text
    (the standard pre-training PII pass), emitting the redacted text plus
    per-category match counts for audit. Order matters: emails first (they
    embed dots and digits), then IPs, then phones. Pure regexp_replace /
    regexp_count — JVM codegen, linear scan."""
    docs = spark.table("pii_docs")
    t = F.col("text")
    n_email = F.regexp_count(t, F.lit(PII_EMAIL)).cast("long")
    after_email = F.regexp_replace(t, PII_EMAIL, "[EMAIL]")
    n_ip = F.regexp_count(after_email, F.lit(PII_IP)).cast("long")
    after_ip = F.regexp_replace(after_email, PII_IP, "[IP]")
    n_phone = F.regexp_count(after_ip, F.lit(PII_PHONE)).cast("long")
    scrubbed = F.regexp_replace(after_ip, PII_PHONE, "[PHONE]")
    return docs.select(
        "doc_id",
        scrubbed.alias("text"),
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_phone.alias("n_phones"),
        ((n_email + n_ip + n_phone) > 0).alias("had_pii"),
    ).orderBy("doc_id")


def oracle_pii_scrub() -> str:
    from collector_spark.fixtures.defs import oracle_query

    email, ip, phone = PII_EMAIL, PII_IP, PII_PHONE
    body = f"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{email}', '[EMAIL]', 'g'), '{ip}', '[IP]', 'g'), '{phone}', '[PHONE]', 'g') AS text,
  CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(regexp_replace(text, '{email}', '[EMAIL]', 'g'),
    '{ip}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text,
    '{email}', '[EMAIL]', 'g'), '{ip}', '[IP]', 'g'), '{phone}')) AS BIGINT) AS n_phones,
  (len(regexp_extract_all(text, '{email}'))
   + len(regexp_extract_all(regexp_replace(text, '{email}', '[EMAIL]', 'g'), '{ip}'))
   + len(regexp_extract_all(regexp_replace(regexp_replace(text,
       '{email}', '[EMAIL]', 'g'), '{ip}', '[IP]', 'g'), '{phone}'))) > 0 AS had_pii
FROM pii_docs
ORDER BY doc_id
"""
    return oracle_query(body, ["pii_docs"])


# ---------------------------------------------------------------------------
# Corpus distribution profile: per-source document-length quantiles — the
# summary a data-mixing step reads before setting sampling quotas.
# ---------------------------------------------------------------------------

_QUANTILES = (0.25, 0.5, 0.75, 0.9)


def source_quantiles(spark: SparkSession) -> DataFrame:
    """Per-source length profile: count, char total, min/max and exact
    interpolated quantiles of n_chars. Registered with EXACT percentiles
    (Spark `percentile` and DuckDB `quantile_cont` share the (n-1)*p linear
    interpolation) so the oracle can value-match; at 100 TB the same plan
    swaps `percentile` for `approx_percentile` (t-digest, map-side
    combinable) — a one-expression change that removes the per-group sort.
    """
    docs = spark.table("documents")
    qs = F.percentile(F.col("n_chars"), F.array(*[F.lit(q) for q in _QUANTILES]))
    agg = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        qs.alias("q"),
    )
    return agg.select(
        "source",
        "docs",
        "total_chars",
        "min_chars",
        F.col("q")[0].alias("p25"),
        F.col("q")[1].alias("p50"),
        F.col("q")[2].alias("p75"),
        F.col("q")[3].alias("p90"),
        "max_chars",
    ).orderBy("source")


def oracle_source_quantiles() -> str:
    return """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars,
       quantile_cont(n_chars, 0.25) AS p25,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.75) AS p75,
       quantile_cont(n_chars, 0.9) AS p90,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# E35 — temperature-scaled source mixing weights (data-mixture design, the
# multilingual-LM sampling-rate recipe: p_s ∝ share_s^alpha with alpha=0.5,
# i.e. sqrt — chosen because sqrt is IEEE-correctly-rounded in both
# engines, so the oracle stays bit-identical; arbitrary alpha is the same
# plan shape via POWER). Unnormalized: the normalization constant
# (sum over sources) is a driver-side scalar a consumer applies, keeping
# the distributed computation free of cross-row double summation whose
# ordering is engine-dependent.
#
# Scale: one map over documents + one groupBy(source) with map-side
# combine; the grand total rides a 1-row broadcast.
# ---------------------------------------------------------------------------


def sampling_weights(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    toks = _n_tokens()
    per_source = docs.select("source", toks.alias("t")).groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("t").cast("long").alias("tokens"),
    )
    total = per_source.agg(F.sum("tokens").cast("long").alias("total_tokens"))
    share = F.col("tokens").cast("double") / F.col("total_tokens").cast("double")
    scaled = F.sqrt(share)
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source",
            "docs",
            "tokens",
            share.alias("token_share"),
            scaled.alias("temp_scaled_weight"),
            (scaled / share).alias("boost"),
        )
        .orderBy("source")
    )


def oracle_sampling_weights() -> str:
    return r"""
WITH per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
total AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM per_source)
SELECT source, docs, tokens,
  CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
  sqrt(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS temp_scaled_weight,
  sqrt(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
    / (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS boost
FROM per_source CROSS JOIN total
ORDER BY source
"""


# ---------------------------------------------------------------------------
# E36 — per-source token-length histogram (64-token buckets, top-capped):
# the length-distribution profile a mixture designer reads next to E29's
# quantiles. Integer bucket math only; shares are exact divisions of
# integer-valued doubles.
#
# Scale: one map + one groupBy(source, bucket) with map-side combine; the
# per-source totals ride a broadcast of the O(sources) aggregate.
# ---------------------------------------------------------------------------

HIST_BUCKET_TOKENS = 64
HIST_MAX_BUCKET = 15


def length_histogram(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    toks = _n_tokens()
    bucket = F.least(
        F.floor(toks / HIST_BUCKET_TOKENS), F.lit(HIST_MAX_BUCKET)
    ).cast("int")
    counts = (
        docs.select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("long").alias("docs"))
    )
    totals = counts.groupBy("source").agg(
        F.sum("docs").cast("long").alias("source_docs")
    )
    return (
        counts.join(F.broadcast(totals), on="source")
        .select(
            "source",
            "bucket",
            (F.col("bucket") * HIST_BUCKET_TOKENS).cast("long").alias(
                "bucket_min_tokens"
            ),
            "docs",
            (F.col("docs").cast("double") / F.col("source_docs").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("source", "bucket")
    )


def oracle_length_histogram() -> str:
    return rf"""
WITH counts AS (
  SELECT source,
    CAST(LEAST(FLOOR(len(regexp_split_to_array(trim(text), '\s+')) / {HIST_BUCKET_TOKENS}),
               {HIST_MAX_BUCKET}) AS INT) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS docs
  FROM documents GROUP BY 1, 2
),
totals AS (SELECT source, CAST(SUM(docs) AS BIGINT) AS source_docs FROM counts GROUP BY source)
SELECT c.source, c.bucket,
  CAST(c.bucket * {HIST_BUCKET_TOKENS} AS BIGINT) AS bucket_min_tokens,
  c.docs,
  CAST(c.docs AS DOUBLE) / CAST(t.source_docs AS DOUBLE) AS share
FROM counts c JOIN totals t USING (source)
ORDER BY c.source, c.bucket
"""


# ---------------------------------------------------------------------------
# E37 — sliding-window document chunking (the context-window preprocessing
# step of a training pipeline: CHUNK_TOKENS-token windows every
# CHUNK_STRIDE tokens, full coverage of every start <= n - C + 1; a doc
# shorter than one window yields one partial chunk). Map-side explode only
# — scales linearly with input splits, no shuffle.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 128
CHUNK_STRIDE = 96


def doc_chunks(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    words = _tokens(lower=False)
    n = F.size(words)
    stop = F.greatest(n - CHUNK_TOKENS, F.lit(0)) + 1
    grid = F.sequence(F.lit(1), stop, F.lit(CHUNK_STRIDE))
    # tail coverage: when the last full-window start (stop) is off the
    # stride grid, emit one extra stride-shifted window ending exactly at
    # the last token — otherwise up to stride-1 trailing tokens would
    # appear in no chunk
    starts = F.when(
        ((stop - F.lit(1)) % CHUNK_STRIDE) != 0, F.concat(grid, F.array(stop))
    ).otherwise(grid)
    exploded = docs.select(
        "doc_id",
        "source",
        words.alias("w"),
        n.alias("n"),
        F.posexplode(starts).alias("pos", "start_token"),
    )
    return exploded.select(
        "doc_id",
        "source",
        (F.col("pos") + 1).cast("int").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start_token") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("w"), F.col("start_token"), CHUNK_TOKENS), " "
        ).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


def oracle_doc_chunks() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS wl
  FROM documents
)
SELECT doc_id, source,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY gs.start_token) AS INT) AS chunk_idx,
  CAST(gs.start_token AS BIGINT) AS start_token,
  CAST(LEAST({CHUNK_TOKENS}, len(wl) - gs.start_token + 1) AS BIGINT) AS n_tokens,
  array_to_string(wl[gs.start_token : gs.start_token + {CHUNK_TOKENS} - 1], ' ') AS chunk_text
FROM w, LATERAL (
  SELECT unnest(list_distinct(list_append(
    generate_series(1, GREATEST(len(wl) - {CHUNK_TOKENS}, 0) + 1,
                    {CHUNK_STRIDE}),
    GREATEST(len(wl) - {CHUNK_TOKENS}, 0) + 1))) AS start_token
) gs
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# E38 — symmetric int8 embedding quantization (the storage/serving
# compression step before ANN indexing): per-vector scale = 127 / max|x|,
# elements floored after an exact double multiply (float32 inputs promote
# to double in both engines; floor keeps the math engine-identical — no
# round-half ties). The quantized vector is emitted as a CSV string: array
# columns hash differently across engines in the driver compare, strings
# don't. Map-only; max-per-vector is order-independent.
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127.0


def embedding_quantize(spark: SparkSession) -> DataFrame:
    emb = spark.table("embeddings")
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(xs, lambda x: F.abs(x)))
    scale = F.lit(QUANT_LEVELS) / max_abs
    q = F.transform(
        xs,
        lambda x: F.least(
            F.greatest(F.floor(x * scale), F.lit(-127.0)), F.lit(127.0)
        ).cast("int"),
    )
    max_err = F.array_max(
        F.zip_with(xs, q, lambda x, qi: F.abs(x - qi.cast("double") / scale))
    )
    return (
        emb.filter(max_abs > 0)
        .select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            max_abs.alias("max_abs"),
            scale.alias("scale"),
            F.array_join(q, ",").alias("q_csv"),
            max_err.alias("max_dequant_err"),
        )
        .orderBy("vec_id")
    )


def oracle_embedding_quantize() -> str:
    return f"""
WITH prep AS (
  SELECT vec_id,
    len(embedding) AS n_dims,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
  FROM embeddings
),
scaled AS (
  SELECT vec_id, n_dims, xs,
    list_max(list_transform(xs, x -> abs(x))) AS max_abs
  FROM prep
),
quant AS (
  SELECT vec_id, n_dims, xs, max_abs,
    {QUANT_LEVELS} / max_abs AS scale,
    list_transform(xs, x -> CAST(LEAST(GREATEST(FLOOR(x * ({QUANT_LEVELS} / max_abs)),
                                                -127.0), 127.0) AS INT)) AS q
  FROM scaled WHERE max_abs > 0
)
SELECT vec_id, CAST(n_dims AS INT) AS n_dims, max_abs, scale,
  array_to_string(q, ',') AS q_csv,
  list_max(list_transform(list_zip(xs, q),
           t -> abs(t[1] - CAST(t[2] AS DOUBLE) / scale))) AS max_dequant_err
FROM quant
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# E40 — concatenate-and-chop sequence packing (the GPT-style training-prep
# step: documents are concatenated in a deterministic order and chopped
# into fixed token-budget sequences; a document may straddle a pack
# boundary). Emits, per document, its position in the packed token stream:
# pack id, offset inside the pack, and whether it crosses a boundary —
# the manifest a dataloader consumes.
#
# Scale shape: packing is inherently sequential, so the stream is sharded:
# documents pack within (source, shard) where a shard is PACK_SHARD_DOCS
# consecutive doc_ids. Each shard's cumulative sum is an independent
# bounded window partition (never one giant per-source partition at
# 100 TB); the boundary waste at shard edges is the standard tradeoff.
# One shuffle (the window partition key), map-side nothing else.
# ---------------------------------------------------------------------------

PACK_BUDGET = 512  # tokens per packed training sequence
PACK_SHARD_DOCS = 200  # doc_ids per independent packing shard


def sequence_packing(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    toks = _n_tokens()
    base = docs.select(
        "doc_id",
        "source",
        F.floor(F.col("doc_id") / PACK_SHARD_DOCS).cast("long").alias("shard"),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return (
        base.withColumn("stream_offset", cum_before)
        .select(
            "doc_id",
            "source",
            "shard",
            "n_tokens",
            "stream_offset",
            F.floor(F.col("stream_offset") / PACK_BUDGET)
            .cast("long")
            .alias("pack_id"),
            (F.col("stream_offset") % PACK_BUDGET).alias("offset_in_pack"),
            (
                (F.col("stream_offset") % PACK_BUDGET) + F.col("n_tokens")
                > PACK_BUDGET
            ).alias("crosses_boundary"),
        )
        .orderBy("doc_id")
    )


def oracle_sequence_packing() -> str:
    return rf"""
WITH base AS (
  SELECT doc_id, source,
    CAST(FLOOR(doc_id / {PACK_SHARD_DOCS}) AS BIGINT) AS shard,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  -- CAST: DuckDB window SUM(BIGINT) yields HUGEINT, whose pandas
  -- conversion is float64 on duckdb 1.x — the driver's value-hash then
  -- sees 512.0 vs Spark's int64 512 and mismatches even though values
  -- are identical (the r7 red row). BIGINT keeps the dtype int64 on
  -- both engines.
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY source, shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS stream_offset
  FROM base
)
SELECT doc_id, source, shard, n_tokens, stream_offset,
  CAST(FLOOR(stream_offset / {PACK_BUDGET}) AS BIGINT) AS pack_id,
  CAST(stream_offset % {PACK_BUDGET} AS BIGINT) AS offset_in_pack,
  (stream_offset % {PACK_BUDGET}) + n_tokens > {PACK_BUDGET} AS crosses_boundary
FROM c
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E41 — corpus unigram language-model quality score (the CCNet-style cheap
# LM proxy: score every document by the mean negative log-probability of
# its words under the corpus's own unigram distribution; high mean NLL =
# rare-word-heavy / noisy text, the tail a curation pipeline reviews or
# drops). Natural log on both engines (DuckDB ln(), not its base-10
# log()); per-word ln bits are identical across engines, and each word's
# NLL is quantized onto an integer 2^-20 grid before aggregation so the
# per-doc sum is an exact integer — bit-identical under ANY reduce order
# (the repo's no-tolerance oracle contract; a raw double SUM flaked by
# 1 ulp with partitioning).
#
# Scale shape: vocab build is one combinable groupBy(word); the grand
# total rides a 1-row broadcast. The word->vocab equi-join shuffles on the
# word — at 100 TB the standard refinement is broadcasting only the top-K
# vocabulary with an OOV floor probability, which keeps results stable for
# every in-vocab word and bounds the broadcast; the full join here is the
# exact form the fixture verifies.
# ---------------------------------------------------------------------------


def _grid_mean(x: Column) -> Column:
    """Group mean of ``x``, exact: each value floored onto the shared 2^-20
    grid, summed as int64 (identical under any reduce order — a raw double
    SUM flaked by 1 ulp with partitioning), then ONE division."""
    return F.sum(_qgrid(x)).cast("double") / (F.count("*").cast("double") * NB_SCALE)


def _doc_words(spark: SparkSession, *keep: str) -> DataFrame:
    """(keep..., w): one row per lowered word of every document."""
    return spark.table("documents").select(*keep, F.explode(_tokens()).alias("w"))


def _unigram_model(words: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The corpus unigram model over a (..., w) relation: the (w, cnt)
    vocabulary and its 1-row (total) word count."""
    vocab = words.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    return vocab, vocab.agg(F.sum("cnt").cast("long").alias("total"))


def _nll(cnt: Column) -> Column:
    return -F.log(cnt.cast("double") / F.col("total").cast("double"))


def _doc_mean_nll(scored: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_nll) over words joined to (cnt, total)."""
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        _grid_mean(_nll(F.col("cnt"))).alias("mean_nll"),
    )


def _unigram_nll(spark: SparkSession) -> DataFrame:
    """Unsorted per-doc (doc_id, n_tokens, mean_nll) core shared by the
    registered query and its downstream compositions (perplexity
    bucketing) — compositions join this mid-plan and must not inherit a
    pointless global sort."""
    words = _doc_words(spark, "doc_id")
    vocab, total = _unigram_model(words)
    return _doc_mean_nll(words.join(vocab, "w").crossJoin(F.broadcast(total)))


def unigram_logprob(spark: SparkSession) -> DataFrame:
    return _unigram_nll(spark).orderBy("doc_id")


def oracle_unigram_logprob() -> str:
    return rf"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                      * {NB_SCALE}) AS BIGINT)) AS DOUBLE)
    / (CAST(COUNT(*) AS DOUBLE) * {NB_SCALE}) AS mean_nll
FROM words JOIN vocab USING (w) CROSS JOIN total
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E42 — deterministic content-keyed train/valid/test split assignment:
# each document lands in a split by hashing its CONTENT (not its id) into
# a uniform [0,1) bucket, so the assignment is stable under re-ingestion,
# re-sharding and doc_id renumbering — the property that prevents silent
# eval leakage when a corpus is rebuilt. Map-only, no shuffle.
# ---------------------------------------------------------------------------

SPLIT_BOUNDS = (("train", 0.90), ("valid", 0.95))  # remainder -> test
_SPLIT_MOD = 1_000_000


def split_assign(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    u = (
        _hash60(F.concat(F.lit("split:"), F.col("text"))) % _SPLIT_MOD
    ).cast("double") / float(_SPLIT_MOD)
    split = F.when(u < SPLIT_BOUNDS[0][1], SPLIT_BOUNDS[0][0]).otherwise(
        F.when(u < SPLIT_BOUNDS[1][1], SPLIT_BOUNDS[1][0]).otherwise("test")
    )
    return docs.select(
        "doc_id",
        "source",
        u.alias("u"),
        split.alias("split"),
    ).orderBy("doc_id")


def oracle_split_assign() -> str:
    h = _sql_hash60("'split:' || text")
    return f"""
SELECT doc_id, source,
  CAST(({h}) % {_SPLIT_MOD} AS DOUBLE) / {_SPLIT_MOD}.0 AS u,
  CASE WHEN CAST(({h}) % {_SPLIT_MOD} AS DOUBLE) / {_SPLIT_MOD}.0 < {SPLIT_BOUNDS[0][1]} THEN '{SPLIT_BOUNDS[0][0]}'
       WHEN CAST(({h}) % {_SPLIT_MOD} AS DOUBLE) / {_SPLIT_MOD}.0 < {SPLIT_BOUNDS[1][1]} THEN '{SPLIT_BOUNDS[1][0]}'
       ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E43 — quality keep/drop composition (the filtering stage a pipeline runs
# after dedup: C4 heuristics, Gopher repetition caps, and the composite
# quality floor folded into ONE decision per document with the
# first-failing reason, mirroring dedup_keep_list's audit shape). All
# upstream signals are map-side or per-doc reduces; the composition adds
# only doc_id equi-joins of same-cardinality per-doc relations — plain
# joins, never forced broadcast (each side is O(corpus) at 100 TB).
# ---------------------------------------------------------------------------

GOPHER_TOP_UNI_MAX = 0.20
GOPHER_DUP_TRI_MAX = 0.20
QUALITY_MIN_SCORE = 0.5


def quality_keep_list(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    from collector_spark.ml.textstats import quality_score

    c4 = c4_filters(spark, docs).select("doc_id", F.col("keep").alias("c4_ok"))
    rep = repetition_signals(spark, docs).select(
        "doc_id",
        (
            (F.col("top_unigram_frac") <= GOPHER_TOP_UNI_MAX)
            & (F.col("dup_trigram_frac") <= GOPHER_DUP_TRI_MAX)
        ).alias("repetition_ok"),
    )
    q = quality_score(spark, docs).select(
        "doc_id", (F.col("quality_score") >= QUALITY_MIN_SCORE).alias("score_ok")
    )
    reason = (
        F.when(~F.col("c4_ok"), "c4_heuristics")
        .when(~F.col("repetition_ok"), "gopher_repetition")
        .when(~F.col("score_ok"), "low_quality_score")
    )
    return (
        (spark.table("documents") if docs is None else docs)
        .select("doc_id", "source")
        .join(c4, "doc_id")
        .join(rep, "doc_id")
        .join(q, "doc_id")
        .select(
            "doc_id",
            "source",
            "c4_ok",
            "repetition_ok",
            "score_ok",
            reason.isNull().alias("keep"),
            reason.alias("drop_reason"),
        )
        .orderBy("doc_id")
    )


def oracle_quality_keep_list() -> str:
    from collector_spark.ml.textstats import oracle_quality_score

    c4 = oracle_c4_filters().rsplit("ORDER BY", 1)[0]
    rep = oracle_repetition_signals().rsplit("ORDER BY", 1)[0]
    q = oracle_quality_score().rsplit("ORDER BY", 1)[0]
    return f"""
WITH c4_full AS ({c4}), rep_full AS ({rep}), q_full AS ({q}),
flags AS (
  SELECT d.doc_id, d.source,
    c.keep AS c4_ok,
    r.top_unigram_frac <= {GOPHER_TOP_UNI_MAX}
      AND r.dup_trigram_frac <= {GOPHER_DUP_TRI_MAX} AS repetition_ok,
    s.quality_score >= {QUALITY_MIN_SCORE} AS score_ok
  FROM documents d
  JOIN c4_full c USING (doc_id)
  JOIN rep_full r USING (doc_id)
  JOIN q_full s USING (doc_id)
)
SELECT doc_id, source, c4_ok, repetition_ok, score_ok,
  (c4_ok AND repetition_ok AND score_ok) AS keep,
  CASE WHEN NOT c4_ok THEN 'c4_heuristics'
       WHEN NOT repetition_ok THEN 'gopher_repetition'
       WHEN NOT score_ok THEN 'low_quality_score' END AS drop_reason
FROM flags
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E92 — quality-aware cluster representative selection: production dedup
# keeps the BEST member of each near-duplicate cluster, not the smallest
# id (the min-id canonical is a tie-break convention, not a judgment —
# near-dup copies genuinely differ in formatting noise and truncation, and
# pipelines like RefinedWeb/FineWeb keep the highest-quality copy). Joins
# the E33 connected-component clusters with the E17 quality score and
# ranks within each cluster by (quality_score DESC, doc_id ASC); the
# rank-1 member is the keeper, and `canonical_is_best` audits how often
# the naive min-id rule would have shipped a worse copy.
#
# Per-doc scores are bit-identical across engines (shared IEEE expression
# tree), so the DESC rank is deterministic with the doc_id tiebreak.
#
# Scale: the cluster relation is O(docs-in-clusters) and the score join is
# a doc_id equi-join of same-cardinality relations (plain hash join, never
# broadcast); the rank is one window keyed on cluster_id — cluster sizes
# are bounded by the verified-pair graph (LSH_BUCKET_CAP upstream), so no
# window partition degenerates.
# ---------------------------------------------------------------------------


def cluster_keep_best(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.dedup import dup_clusters
    from collector_spark.ml.textstats import quality_score

    clusters = dup_clusters(spark).select(
        "doc_id", "cluster_id", "cluster_size", "is_canonical"
    )
    q = quality_score(spark).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    best_w = Window.partitionBy("cluster_id")
    ranked = (
        clusters.join(q, "doc_id")
        .withColumn("qrank", F.row_number().over(w).cast("int"))
        .withColumn(
            "canonical_is_best",
            F.max(F.when(F.col("qrank") == 1, F.col("is_canonical"))).over(best_w),
        )
    )
    return ranked.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "quality_score",
        "qrank",
        (F.col("qrank") == 1).alias("keep_best"),
        "is_canonical",
        "canonical_is_best",
    ).orderBy("doc_id")


def oracle_cluster_keep_best() -> str:
    from collector_spark.ml.dedup import oracle_dup_clusters
    from collector_spark.ml.textstats import oracle_quality_score

    cl = oracle_dup_clusters().rsplit("ORDER BY", 1)[0]
    q = oracle_quality_score().rsplit("ORDER BY", 1)[0]
    return f"""
WITH clusters AS ({cl}),
q_full AS ({q}),
ranked AS (
  SELECT c.doc_id, c.cluster_id, c.cluster_size, s.quality_score,
    c.is_canonical,
    CAST(row_number() OVER (
      PARTITION BY c.cluster_id
      ORDER BY s.quality_score DESC, c.doc_id ASC) AS INT) AS qrank
  FROM clusters c JOIN q_full s USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, quality_score, qrank,
  qrank = 1 AS keep_best, is_canonical,
  MAX(CASE WHEN qrank = 1 THEN is_canonical END)
    OVER (PARTITION BY cluster_id) AS canonical_is_best
FROM ranked
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E44 — corpus report fact: the per-(source, lang) dashboard a curation run
# publishes — volume (docs/tokens), mean quality, exact-duplicate rate,
# and the quality-drop rate with its dominant reason. One groupBy over
# per-doc relations (all map-side-combinable aggregates); the dominant
# reason is an exact min over the at-most-3 reason labels, not a mode
# estimate, so both engines agree deterministically.
# ---------------------------------------------------------------------------


def corpus_report(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.dedup import exact_dup_groups

    docs = spark.table("documents")
    toks = _n_tokens()
    base = docs.select("doc_id", "source", "lang", toks.alias("n_tokens"))
    dup = exact_dup_groups(spark).select(
        "doc_id", (~F.col("keep")).alias("is_dup")
    )
    from collector_spark.ml.textstats import quality_score

    q = quality_score(spark).select("doc_id", "quality_score")
    kl = quality_keep_list(spark).select("doc_id", "keep", "drop_reason")
    joined = (
        base.join(dup, "doc_id", "left")
        .join(q, "doc_id")
        .join(kl.select("doc_id", "keep", "drop_reason"), "doc_id")
    )
    return (
        joined.groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            # per-doc scores are bit-identical across engines; AVG's
            # reduce order is not — same integer-grid mean as E41
            _grid_mean(F.col("quality_score")).alias("mean_quality"),
            (
                F.sum(F.when(F.coalesce("is_dup", F.lit(False)), 1).otherwise(0))
                .cast("double")
                / F.count("*")
            ).alias("exact_dup_rate"),
            (
                F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("quality_drop_rate"),
            F.min("drop_reason").alias("first_drop_reason"),
        )
        .orderBy("source", "lang")
    )


def oracle_corpus_report() -> str:
    from collector_spark.ml.dedup import oracle_exact_dup_groups

    dup = oracle_exact_dup_groups().rsplit("ORDER BY", 1)[0]
    from collector_spark.ml.textstats import oracle_quality_score

    q = oracle_quality_score().rsplit("ORDER BY", 1)[0]
    kl = oracle_quality_keep_list().rsplit("ORDER BY", 1)[0]
    return rf"""
WITH dup_full AS ({dup}), q_full AS ({q}), kl_full AS ({kl}),
base AS (
  SELECT doc_id, source, lang,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
joined AS (
  SELECT b.*, COALESCE(NOT d.keep, FALSE) AS is_dup,
         s.quality_score, k.keep, k.drop_reason
  FROM base b
  LEFT JOIN dup_full d USING (doc_id)
  JOIN q_full s USING (doc_id)
  JOIN kl_full k USING (doc_id)
)
SELECT source, lang,
  CAST(COUNT(*) AS BIGINT) AS docs,
  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
  CAST(SUM(CAST(FLOOR(quality_score * 1048576) AS BIGINT)) AS DOUBLE)
    / (CAST(COUNT(*) AS DOUBLE) * 1048576) AS mean_quality,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS exact_dup_rate,
  CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS quality_drop_rate,
  MIN(drop_reason) AS first_drop_reason
FROM joined
GROUP BY source, lang
ORDER BY source, lang
"""


# ---------------------------------------------------------------------------
# E41b — the unigram score's SKEW-SPLIT join (the 100 TB path the E41
# docstring promises, implemented): natural-language word frequencies are
# Zipfian, so the word-keyed vocab join concentrates stopword rows on a
# few shuffle partitions. The standard fix is frequency splitting: the
# top-K hottest vocab rows (bounded: K rows regardless of corpus size)
# broadcast — hot words join map-side, never shuffling their (huge) share
# of the exploded corpus — while the cold tail takes the ordinary
# shuffled join over now-skew-free keys. Union of the two paths is
# row-identical to the plain join; the SAME oracle verifies both.
# ---------------------------------------------------------------------------

VOCAB_HOT_K = 64  # top-K words broadcast (the skew head)


def unigram_logprob_skew(spark: SparkSession) -> DataFrame:
    words = _doc_words(spark, "doc_id")
    vocab, total = _unigram_model(words)
    # deterministic hot set: top-K by (count desc, word) — TakeOrdered,
    # never a full sort; K is a constant, so the broadcast is bounded at
    # any corpus size
    hot = vocab.orderBy(F.col("cnt").desc(), "w").limit(VOCAB_HOT_K)
    cold = vocab.join(
        F.broadcast(hot.select(F.col("w"), F.lit(True).alias("_h"))),
        on="w",
        how="left_anti",
    )
    hot_scored = words.join(F.broadcast(hot), "w")
    cold_scored = words.join(cold, "w")
    scored = hot_scored.unionByName(cold_scored).crossJoin(F.broadcast(total))
    return _doc_mean_nll(scored).orderBy("doc_id")


# ---------------------------------------------------------------------------
# E41c — the unigram score's TOP-K + OOV form (the second 100 TB
# refinement the E41 docstring promises, implemented): instead of joining
# every corpus word against the FULL vocabulary (O(vocab) shuffle state —
# vocab grows with the corpus), keep only the top-K most frequent words
# and give everything else a floor probability of 1/total (one occurrence
# in the corpus — the most pessimistic in-distribution estimate, so OOV
# NLL = ln(total)). K is a constant, so the vocab side is a bounded
# broadcast at ANY corpus size and the corpus side never shuffles for the
# lookup: the whole score is explode -> map-side broadcast left join ->
# one combinable groupBy(doc_id). Top-K selection is deterministic
# ((count DESC, word ASC) — TakeOrdered, no global sort) and the oracle
# applies the identical rule, so results are exactly reproducible.
# n_oov is emitted alongside: the fraction of mass on the floor is the
# knob-health signal that tells you K is too small.
# ---------------------------------------------------------------------------

TOPK_VOCAB_K = 256  # bounded broadcast vocabulary (constant at any SF)


def unigram_logprob_topk(spark: SparkSession) -> DataFrame:
    words = _doc_words(spark, "doc_id")
    vocab, total = _unigram_model(words)
    topk = vocab.orderBy(F.col("cnt").desc(), "w").limit(TOPK_VOCAB_K)
    scored = words.join(F.broadcast(topk), "w", "left").crossJoin(
        F.broadcast(total)
    )
    # in-vocab: -ln(cnt/total); OOV floor: cnt := 1  =>  NLL = ln(total)
    eff_cnt = F.coalesce(F.col("cnt"), F.lit(1).cast("long"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt").isNull().cast("long")).alias("n_oov"),
            _grid_mean(_nll(eff_cnt)).alias("mean_nll"),
        )
        .orderBy("doc_id")
    )


def oracle_unigram_logprob_topk() -> str:
    return rf"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
topk AS (SELECT w, cnt FROM vocab ORDER BY cnt DESC, w ASC LIMIT {TOPK_VOCAB_K})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN t.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(SUM(CAST(FLOOR(-ln(CAST(COALESCE(t.cnt, 1) AS DOUBLE)
                          / CAST(total AS DOUBLE))
                      * {NB_SCALE}) AS BIGINT)) AS DOUBLE)
    / (CAST(COUNT(*) AS DOUBLE) * {NB_SCALE}) AS mean_nll
FROM words LEFT JOIN topk t USING (w) CROSS JOIN total
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E50 — split leakage audit: verified near-duplicate pairs whose members
# landed in DIFFERENT splits (train text near-identical to a test text =
# silent eval contamination that a content-keyed split cannot prevent,
# since near-dups hash differently). Composes the LSH-verified pair graph
# with E42's split assignment; the emitted pairs are the corpus's
# cross-split leakage surface, with the standard remediation being "move
# the whole near-dup cluster into one split".
#
# Scale: the pair relation is the bounded LSH-verified set (never
# all-pairs); the split relation joins by doc_id twice — plain key joins,
# never forced broadcast (both sides are O(corpus)).
# ---------------------------------------------------------------------------

LEAK_JACCARD_THRESHOLD = 0.5


def split_leakage(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, LEAK_JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )
    splits = split_assign(spark).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
        .orderBy("doc_a", "doc_b")
    )


def oracle_split_leakage() -> str:
    from collector_spark.ml.dedup import oracle_ngram_jaccard_pairs

    pairs = oracle_ngram_jaccard_pairs(LEAK_JACCARD_THRESHOLD).rsplit(
        "ORDER BY", 1
    )[0]
    splits = oracle_split_assign().rsplit("ORDER BY", 1)[0]
    return f"""
WITH pairs AS ({pairs}),
splits AS ({splits})
SELECT p.doc_a, p.doc_b, p.jaccard,
  a.split AS split_a, b.split AS split_b
FROM pairs p
JOIN splits a ON a.doc_id = p.doc_a
JOIN splits b ON b.doc_id = p.doc_b
WHERE a.split <> b.split
ORDER BY p.doc_a, p.doc_b
"""


# ---------------------------------------------------------------------------
# E51 — BPE merge-candidate statistics (one tokenizer-training step):
# whitespace pre-tokenization -> word frequency table -> weighted adjacent
# character-pair counts -> top merge candidates. This is the inner loop of
# byte-pair-encoding vocabulary induction (Sennrich et al. 2016): the
# highest-count pair is the next merge. Only ONE step is materialized:
# round 1 of the E89 trainer's own stages (_bpe_pair_counts over the
# initial _bpe_vocab_seg character segmentation), with each candidate
# reported as its merged string (pair = sym_a || sym_b, unambiguous while
# every symbol is one character).
#
# Scale: the pair explode runs over the DISTINCT word table, not the
# corpus — the classic BPE trick; cost is O(vocab x word-length), and the
# corpus-sized work is one map-side-combinable word count. The top-K is a
# TakeOrdered (no global sort shuffle); the final rank window runs on K
# rows.
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 200


def bpe_pair_counts(spark: SparkSession) -> DataFrame:
    counts = _bpe_pair_counts(_bpe_vocab_seg(spark)).select(
        F.concat("sym_a", "sym_b").alias("pair"), "pair_count"
    )
    return _bpe_top(counts, BPE_TOP_PAIRS, ["pair"], ["pair", "pair_count"])


def _bpe_top(counts: DataFrame, k: int, ties: list[str], cols: list[str]) -> DataFrame:
    """The k highest pair counts (ties ascending on ``ties``) with their
    merge_rank — TakeOrdered, then a rank window over k rows."""
    order = [F.desc("pair_count")] + [F.asc(c) for c in ties]
    rank = F.row_number().over(Window.orderBy(*order)).cast("int")
    return (
        counts.orderBy(*order)
        .limit(k)
        .select(rank.alias("merge_rank"), *cols)
        .orderBy("merge_rank")
    )


def oracle_bpe_pair_counts() -> str:
    return rf"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
wcounts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT wc, substr(w, CAST(i AS INT), 2) AS pair
  FROM wcounts, LATERAL (SELECT unnest(range(1, length(w))) AS i) g
),
agg AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count FROM pairs GROUP BY pair
)
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT)
    AS merge_rank,
  pair, pair_count
FROM agg
ORDER BY merge_rank
LIMIT {BPE_TOP_PAIRS}
"""


# ---------------------------------------------------------------------------
# E52 — corpus bigram-LM quality score: mean negative log-probability of
# each document's word bigrams under an interpolated bigram model trained
# on the corpus itself,
#
#   p(w2 | w1) = (c(w1 w2) + p_uni(w2)) / (c(w1) + 1)
#
# (add-one-interpolation with the unigram distribution as the backoff
# mass). The bigram refinement over E41's unigram score separates fluent
# text from bag-of-frequent-words noise — the standard next step of the
# CCNet-style LM-quality ladder. Bigrams come straight off the word array
# (transform over positions — no lag window, no per-doc sort), so the
# corpus-side work is map-side explode + two combinable count aggs.
# Per-bigram NLL rides the same 2^-20 integer quantization grid as E41:
# the per-doc sum is an exact integer total, order-independent under any
# partitioning.
#
# Scale: c2 (bigram counts) and c1 (unigram counts) are data-scaled
# relations — both joins are plain key joins (hash-partitioned on the
# bigram / word key), never forced broadcasts; the 1-row corpus total is
# the only broadcast. The E41b skew treatment (broadcast hot head, shuffle
# cold tail) composes unchanged if the Zipf head dominates.
# ---------------------------------------------------------------------------


def bigram_logprob(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select("doc_id", _tokens().alias("wl"))
    c1, total = _unigram_model(docs.select(F.explode("wl").alias("w")))
    bigrams = _token_pairs(docs, "wl", "doc_id")
    c2 = bigrams.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cnt2"))
    scored = (
        bigrams.join(c2, ["w1", "w2"])
        .join(c1.select(F.col("w").alias("w1"), F.col("cnt").alias("cnt_prev")), "w1")
        .join(c1.select(F.col("w").alias("w2"), F.col("cnt").alias("cnt_cur")), "w2")
        .crossJoin(F.broadcast(total))
    )
    p = (
        F.col("cnt2").cast("double")
        + F.col("cnt_cur").cast("double") / F.col("total").cast("double")
    ) / (F.col("cnt_prev").cast("double") + F.lit(1.0))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            _grid_mean(-F.log(p)).alias("mean_bigram_nll"),
        )
        .orderBy("doc_id")
    )


def oracle_bigram_logprob() -> str:
    return rf"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents
),
words AS (SELECT doc_id, unnest(wl) AS w FROM docs),
c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM words GROUP BY w),
total AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS total FROM c1),
bigrams AS (
  SELECT doc_id, wl[CAST(i AS INT)] AS w1, wl[CAST(i AS INT) + 1] AS w2
  FROM docs, LATERAL (SELECT unnest(range(1, len(wl))) AS i) g
  WHERE len(wl) >= 2
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt2
  FROM bigrams GROUP BY w1, w2
),
scored AS (
  SELECT b.doc_id,
    CAST(FLOOR(-ln(
      (CAST(c2.cnt2 AS DOUBLE)
         + CAST(cur.cnt1 AS DOUBLE) / CAST(total.total AS DOUBLE))
      / (CAST(prv.cnt1 AS DOUBLE) + 1.0)
    ) * {NB_SCALE}) AS BIGINT) AS nll_q
  FROM bigrams b
  JOIN c2 USING (w1, w2)
  JOIN c1 prv ON prv.w = b.w1
  JOIN c1 cur ON cur.w = b.w2
  CROSS JOIN total
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(nll_q) AS DOUBLE)
    / (CAST(COUNT(*) AS DOUBLE) * {NB_SCALE}) AS mean_bigram_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E53 — deterministic weighted sampling (the distributed one-pass form of
# Efraimidis-Spirakis A-ES reservoir sampling): every document draws a
# reproducible uniform u from a content hash and competes with key
# ln(u)/weight (monotone in the classic u^(1/w) — larger is better), and
# the top-K keys per source win. Heavier documents (weight = n_chars here)
# win proportionally more often, and the sample is STABLE under
# re-ingestion, re-sharding and doc_id renumbering because u is keyed on
# content, not position — the same property as E42's split assignment.
# Keys are floor-quantized onto a 2^-20 grid (exactly representable, so
# both engines rank identical integers; doc_id breaks grid ties).
#
# Scale: one shuffle on the source key for the per-source top-K window; a
# map-side per-partition top-K pre-filter can be layered in front without
# changing results (rank keys are final at map time).
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_K = 25


def weighted_sample(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    u = (
        (_hash60(F.concat(F.lit("wsample:"), F.col("text"))) % _SPLIT_MOD).cast(
            "double"
        )
        + F.lit(0.5)
    ) / float(_SPLIT_MOD)
    key_q = _qgrid(F.log(u) / F.col("n_chars").cast("double"))
    ranked = docs.select(
        "source", "doc_id", F.col("n_chars").alias("weight"), key_q.alias("key_q")
    ).withColumn(
        "sample_rank",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.desc("key_q"), F.asc("doc_id")
            )
        )
        .cast("int"),
    )
    return (
        ranked.filter(F.col("sample_rank") <= WEIGHTED_SAMPLE_K)
        .select("source", "sample_rank", "doc_id", "weight", "key_q")
        .orderBy("source", "sample_rank")
    )


def oracle_weighted_sample() -> str:
    h = _sql_hash60("'wsample:' || text")
    return f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars AS weight,
    CAST(FLOOR(
      ln((CAST(({h}) % {_SPLIT_MOD} AS DOUBLE) + 0.5) / {_SPLIT_MOD})
      / CAST(n_chars AS DOUBLE) * {NB_SCALE}
    ) AS BIGINT) AS key_q
  FROM documents
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY source ORDER BY key_q DESC, doc_id ASC
    ) AS INT) AS sample_rank
  FROM keyed
)
SELECT source, sample_rank, doc_id, weight, key_q
FROM ranked
WHERE sample_rank <= {WEIGHTED_SAMPLE_K}
ORDER BY source, sample_rank
"""


# ---------------------------------------------------------------------------
# E55 — BPE merge application + re-count (the round-2 composition over
# E51): apply round 1's best pair to the vocabulary's symbol sequences,
# then re-count adjacent symbol pairs with the E89 trainer's
# _bpe_pair_counts. Together with E51 this materializes one full
# iteration of the BPE training loop (count -> merge -> recount).
#
# Round-1 symbols are single characters, so ONE plain leftmost replace of
# 'a b' by 'ab' is exact greedy BPE: a match can only start on a symbol,
# and the scan resumes on the separator after it ('1 0 0 0 0 0' with '00'
# yields '1 00 00 0'). The trainer's _bpe_apply is not used here: its
# sentinel double replace splits runs of five or more of a doubled pair
# (' 1 0 0 0 0 0 ' yields ' 1 00 0 00 '), see E89. Off such runs the
# rank-1 row is ml_bpe_train's merge 2.
#
# Post-merge symbols are multi-character, so round-2 pairs are emitted as
# (sym_a, sym_b) columns, not a concatenation (which would be ambiguous).
#
# Scale: identical cost shape to E51 — everything after the word count
# runs over the DISTINCT word table; the applied merge is a 1-row
# broadcast.
# ---------------------------------------------------------------------------

BPE_ROUND2_TOP = 50


def bpe_merge_round(spark: SparkSession) -> DataFrame:
    seg = _bpe_vocab_seg(spark)
    best = _bpe_best(_bpe_pair_counts(seg)).select(
        F.concat_ws(" ", "sym_a", "sym_b").alias("pat"),
        F.concat("sym_a", "sym_b").alias("applied_pair"),
    )
    merged = seg.crossJoin(F.broadcast(best)).select(
        "wc", "applied_pair", F.replace("seg", "pat", "applied_pair").alias("seg")
    )
    recount = _bpe_pair_counts(merged, "applied_pair")
    return _bpe_top(
        recount,
        BPE_ROUND2_TOP,
        ["sym_a", "sym_b"],
        ["applied_pair", "sym_a", "sym_b", "pair_count"],
    )


def oracle_bpe_merge_round() -> str:
    return rf"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
wcounts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs1 AS (
  SELECT wc, substr(w, CAST(i AS INT), 2) AS pair
  FROM wcounts, LATERAL (SELECT unnest(range(1, length(w))) AS i) g
),
top1 AS (
  SELECT pair AS applied_pair
  FROM (SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
        FROM pairs1 GROUP BY pair)
  ORDER BY pair_count DESC, pair ASC LIMIT 1
),
segged AS (
  SELECT wc, applied_pair,
    string_split(
      replace(
        array_to_string(
          list_transform(range(1, length(w) + 1),
                         i -> substr(w, CAST(i AS INT), 1)), ' '),
        substr(applied_pair, 1, 1) || ' ' || substr(applied_pair, 2, 1),
        applied_pair),
      ' ') AS toks
  FROM wcounts CROSS JOIN top1
),
pairs2 AS (
  SELECT wc, applied_pair,
    toks[CAST(i AS INT)] AS sym_a, toks[CAST(i AS INT) + 1] AS sym_b
  FROM segged, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
  WHERE len(toks) >= 2
),
agg2 AS (
  SELECT applied_pair, sym_a, sym_b, CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM pairs2 GROUP BY applied_pair, sym_a, sym_b
)
SELECT CAST(row_number() OVER (
    ORDER BY pair_count DESC, sym_a ASC, sym_b ASC) AS INT) AS merge_rank,
  applied_pair, sym_a, sym_b, pair_count
FROM agg2
ORDER BY merge_rank
LIMIT {BPE_ROUND2_TOP}
"""


# ---------------------------------------------------------------------------
# E89 — iterative BPE trainer (Sennrich et al. 2016): the N-round loop
# whose stages E51 (round 1's counts) and E55 (round 1's recount) also
# run, emitting the ORDERED merge table a tokenizer build consumes.
# Each round counts adjacent symbol pairs over the DISTINCT-word
# segmentation relation (the classic O(vocab)-per-round BPE trick —
# corpus word counts are folded once, never re-scanned), picks the argmax
# pair (ties: sym_a, sym_b ascending — engine-aligned string collation on
# ASCII), and applies it as a literal leftmost-greedy merge.
#
# Merge application: segmentations are space-joined symbol strings wrapped
# in sentinel spaces (' c h a r s '), and the pair is replaced textually
# (' a b ' -> ' ab '). A single leftmost non-overlapping replace pass
# misses an occurrence whose LEADING separator was consumed by the
# previous replacement's trailing space ('a b a b' chains); the second
# pass merges those survivors ('a a a' yields 'aa a', 'a b a b' yields
# 'ab ab'). That is exact greedy BPE except on a run of five or more of a
# doubled pair's symbol, where pass 1 leaves the third symbol between two
# merges (' a a a a a ' yields ' aa a aa ', greedy gives ' aa aa a ').
# The oracle applies the same two passes, so both engines agree on it.
#
# The round-consistency property (round i+1's pair counts equal a
# from-scratch recount after applying merge i) is pinned in
# tests/test_curation_semantics.py via the exposed _bpe_* stages.
#
# Scale: the loop is driver-side PLAN construction only (no action per
# round); each round is one combinable groupBy over the bounded vocab
# relation plus a 1-row broadcast of the chosen merge. The corpus-sized
# work (word counting) happens once, upstream.
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 3


def _bpe_vocab_seg(spark: SparkSession, keep_word: bool = False) -> DataFrame:
    """(wc, seg): distinct-word counts with the initial character
    segmentation wrapped in sentinel spaces (' c h a r s ').
    keep_word additionally carries the word itself (the encoder's join
    key back to the corpus)."""
    wcounts = (
        _doc_words(spark)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
        .filter(F.length("w") >= 2)
    )
    seg = F.concat(
        F.lit(" "),
        F.expr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')"),
        F.lit(" "),
    )
    cols = (["w"] if keep_word else []) + ["wc", seg.alias("seg")]
    return wcounts.select(*cols)


def _bpe_pair_counts(segged: DataFrame, *keys: str) -> DataFrame:
    """(keys..., sym_a, sym_b, pair_count) over the current segmentation."""
    toks = segged.select("wc", *keys, F.split(F.trim(F.col("seg")), " ").alias("toks"))
    return (
        _token_pairs(toks, "toks", "wc", *keys, names=("sym_a", "sym_b"))
        .groupBy(*keys, "sym_a", "sym_b")
        .agg(F.sum("wc").cast("long").alias("pair_count"))
    )


def _bpe_best(counts: DataFrame) -> DataFrame:
    return counts.orderBy(
        F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b")
    ).limit(1)


def _bpe_apply(segged: DataFrame, best: DataFrame) -> DataFrame:
    pat = F.concat(F.lit(" "), F.col("sym_a"), F.lit(" "), F.col("sym_b"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("sym_a"), F.col("sym_b"), F.lit(" "))
    others = [c for c in segged.columns if c != "seg"]
    return segged.crossJoin(F.broadcast(best)).select(
        *others, F.replace(F.replace(F.col("seg"), pat, rep), pat, rep).alias("seg")
    )


def bpe_train(spark: SparkSession, rounds: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    seg = _bpe_vocab_seg(spark)
    outs = []
    for r in range(1, rounds + 1):
        best = _bpe_best(_bpe_pair_counts(seg))
        outs.append(
            best.select(
                F.lit(r).cast("int").alias("merge_rank"),
                "sym_a",
                "sym_b",
                F.concat("sym_a", "sym_b").alias("merged"),
                "pair_count",
            )
        )
        if r < rounds:
            seg = _bpe_apply(seg, best)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("merge_rank")


def _sql_bpe_rounds(rounds: int, encode: bool) -> list[str]:
    """The oracle CTE chain shared by E89 and E91: corpus words -> distinct
    word counts -> character segmentation seg0 -> per round r the pair
    counts p{r}, the argmax b{r} and the merged segmentation seg{r} (the
    trainer stops before merging its last pair). The encoder carries
    doc_id through the words and each word through its segmentation."""
    d, w = ("doc_id, ", "w, ") if encode else ("", "")
    parts = [
        rf"""words AS (
  SELECT {d}unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
)""",
        """wcounts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM words WHERE length(w) >= 2 GROUP BY w
)""",
        f"seg0 AS (SELECT {w}wc, ' ' || array_to_string(list_transform("
        "range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)), ' ')"
        " || ' ' AS seg FROM wcounts)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS (
  SELECT toks[CAST(i AS INT)] AS sym_a, toks[CAST(i AS INT) + 1] AS sym_b,
    CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM (SELECT wc, string_split(trim(seg), ' ') AS toks FROM seg{r - 1}) s,
       LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
  WHERE len(toks) >= 2
  GROUP BY sym_a, sym_b
)"""
        )
        parts.append(
            f"""b{r} AS (
  SELECT sym_a, sym_b{"" if encode else ", pair_count"} FROM p{r}
  ORDER BY pair_count DESC, sym_a ASC, sym_b ASC LIMIT 1
)"""
        )
        if encode or r < rounds:
            parts.append(
                f"""seg{r} AS (
  SELECT {w}wc,
    replace(replace(seg,
      ' ' || sym_a || ' ' || sym_b || ' ', ' ' || sym_a || sym_b || ' '),
      ' ' || sym_a || ' ' || sym_b || ' ', ' ' || sym_a || sym_b || ' ') AS seg
  FROM seg{r - 1} CROSS JOIN b{r}
)"""
            )
    return parts


def oracle_bpe_train(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    body = ",\n".join(_sql_bpe_rounds(rounds, encode=False))
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, sym_a, sym_b,"
        f" sym_a || sym_b AS merged, pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
WITH {body}
SELECT CAST(merge_rank AS INT) AS merge_rank, sym_a, sym_b, merged, pair_count
FROM ({union})
ORDER BY merge_rank
"""


# ---------------------------------------------------------------------------
# E91 — BPE encoder: apply the E89-trained merge table to the corpus and
# report per-document token counts under the learned vocabulary — the
# measurement a tokenizer build runs before committing (real
# tokens-per-doc vs the chars/4 estimate in E21, compression vs the
# character baseline, packing-budget inputs for E54). Training and
# application share one plan: the merge at round r is the argmax pair
# over round r-1's segmentation — exactly ml_bpe_train's merges — and the
# final segmentation's token count per DISTINCT word joins back to the
# corpus word explosion (left join: length-1 words are single tokens by
# construction and never enter the trainable vocab).
#
# Scale: the merge loop is driver-side plan construction over the bounded
# DISTINCT-word relation (same O(vocab)-per-round shape as E89); the only
# corpus-sized work is the word explode + the word->token-count join,
# which keys on the word string (vocab side is the post-aggregation small
# side — AQE broadcasts it at any realistic vocab size; never forced, a
# 100 TB crawl's raw vocab can exceed driver memory before length/utf
# pruning). The segmentation is checkpointed per merge round
# (_bpe_tokens_per_word) — the same materialization discipline as
# incremental dedup's canonical shingles.
# ---------------------------------------------------------------------------

BPE_ENCODE_ROUNDS = 4


def _bpe_tokens_per_word(spark: SparkSession, rounds: int) -> DataFrame:
    """(w, w_tokens): each distinct trainable word's token count after
    ``rounds`` merges. Each round's argmax AND the next segmentation both
    read round r-1's segmentation, so an unmaterialized lineage doubles
    per round — 2^rounds re-derivations of the corpus word count.
    Checkpointing the bounded vocab relation per round keeps the plan
    linear: the corpus is scanned once for the vocab fold and once for
    the caller's final join, regardless of rounds."""
    seg = _bpe_vocab_seg(spark, keep_word=True).localCheckpoint(eager=False)
    for _ in range(rounds):
        best = _bpe_best(_bpe_pair_counts(seg))
        seg = _bpe_apply(seg, best).localCheckpoint(eager=False)
    return seg.select(
        "w", F.size(F.split(F.trim("seg"), " ")).cast("long").alias("w_tokens")
    )


def bpe_encode(spark: SparkSession, rounds: int = BPE_ENCODE_ROUNDS) -> DataFrame:
    tok_per_word = _bpe_tokens_per_word(spark, rounds)
    words = _doc_words(spark, "doc_id")
    return (
        words.join(tok_per_word, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.coalesce(F.col("w_tokens"), F.lit(1)))
            .cast("long")
            .alias("n_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_word_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            "n_word_chars",
            (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("doc_id")
    )


def oracle_bpe_encode(rounds: int = BPE_ENCODE_ROUNDS) -> str:
    parts = _sql_bpe_rounds(rounds, encode=True)
    parts.append(
        f"""tokw AS (
  SELECT w, CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS w_tokens
  FROM seg{rounds}
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(COALESCE(w_tokens, 1)) AS BIGINT) AS n_tokens,
  CAST(SUM(length(w)) AS BIGINT) AS n_word_chars,
  CAST(SUM(COALESCE(w_tokens, 1)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
    AS tokens_per_word
FROM words LEFT JOIN tokw USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E57 — DSIR importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every corpus document
# by how target-like its hashed n-gram feature distribution is,
#
#   log w(doc) = sum over bigram occurrences of ln( p_target(b) / p_raw(b) )
#
# with hashed word-bigram buckets (B = 1024), add-one smoothing on both
# bucket distributions, the EVAL_SOURCE split playing the target domain
# (as in decontamination) and the full corpus the raw distribution.
# Sampling proportional to these weights is the DSIR selection step; the
# weights compose directly with ml_weighted_sample's A-ES keys.
#
# Per-occurrence log ratios ride the 2^-20 quantization grid (the E41
# convention), so per-doc sums are exact integer totals, order-independent
# under any partitioning. The ratio is computed from integer bucket counts
# in one expression, so both engines see bit-identical doubles before ln.
#
# Scale: both bucket distributions are B rows — broadcast; the corpus side
# is a map-side bigram explode + broadcast join on the bucket id + one
# combinable per-doc aggregate. No data-scaled shuffle except the final
# groupBy(doc_id).
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024


def _dsir_bigram_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, source, b): hashed word-bigram bucket per occurrence.
    Stateless row-local expressions only, so the SAME projection runs
    unchanged over a streaming DataFrame (st_ml_stream_dsir)."""
    wl = docs.select("doc_id", "source", _tokens().alias("wl"))
    return _token_pairs(wl, "wl", "doc_id", "source").select(
        "doc_id",
        "source",
        (_hash60(F.concat_ws(" ", "w1", "w2")) % DSIR_BUCKETS).alias("b"),
    )


def _dsir_ratio_table(bigrams: DataFrame) -> DataFrame:
    """(b, ratio): smoothed target/raw bucket probability ratio — B rows,
    broadcastable at any corpus size."""
    target = bigrams.filter(F.col("source") == EVAL_SOURCE)
    t_counts = target.groupBy("b").agg(F.count("*").cast("long").alias("ct"))
    r_counts = bigrams.groupBy("b").agg(F.count("*").cast("long").alias("cr"))
    # grand totals as a 1-row broadcast relation (the E41 convention), not
    # driver-side count() actions — one lazy plan, no extra jobs
    totals = bigrams.agg(
        F.count("*").cast("long").alias("rt"),
        F.sum(
            F.when(F.col("source") == EVAL_SOURCE, 1).otherwise(0)
        ).cast("long").alias("tt"),
    )
    return (
        r_counts.join(F.broadcast(t_counts), "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                * (F.col("rt") + DSIR_BUCKETS).cast("double")
                / (
                    (F.col("cr") + 1).cast("double")
                    * (F.col("tt") + DSIR_BUCKETS).cast("double")
                )
            ).alias("ratio"),
        )
    )


def dsir_from_ratio(bigrams: DataFrame, ratio: DataFrame) -> DataFrame:
    """E57's scoring stage: (doc_id, n_bigrams, log_weight) from the
    bucketed bigram occurrences and the (b, ratio) table — shared by the
    batch operator and the streaming twin (a stream-static join there).
    log_weight is the exact grid sum of ln(ratio), one division."""
    return (
        bigrams.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (F.sum(_qgrid(F.log(F.col("ratio")))).cast("double") / NB_SCALE).alias(
                "log_weight"
            ),
        )
    )


def dsir_weights(spark: SparkSession) -> DataFrame:
    bigrams = _dsir_bigram_buckets(spark.table("documents"))
    return dsir_from_ratio(bigrams, _dsir_ratio_table(bigrams)).orderBy("doc_id")


def oracle_dsir_weights() -> str:
    h = _sql_hash60("wl[CAST(i AS INT)] || ' ' || wl[CAST(i AS INT) + 1]")
    return rf"""
WITH docs AS (
  SELECT doc_id, source,
    regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents
),
bigrams AS (
  SELECT doc_id, source, ({h}) % {DSIR_BUCKETS} AS b
  FROM docs, LATERAL (SELECT unnest(range(1, len(wl))) AS i) g
  WHERE len(wl) >= 2
),
t_counts AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bigrams
  WHERE source = '{EVAL_SOURCE}' GROUP BY b
),
r_counts AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bigrams GROUP BY b
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rt,
    CAST(SUM(CASE WHEN source = '{EVAL_SOURCE}' THEN 1 ELSE 0 END) AS BIGINT)
      AS tt
  FROM bigrams
),
ratio AS (
  SELECT r.b,
    CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
      * CAST(x.rt + {DSIR_BUCKETS} AS DOUBLE)
      / (CAST(r.cr + 1 AS DOUBLE) * CAST(x.tt + {DSIR_BUCKETS} AS DOUBLE))
      AS ratio
  FROM r_counts r LEFT JOIN t_counts t USING (b) CROSS JOIN totals x
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(CAST(FLOOR(ln(ratio) * {NB_SCALE}) AS BIGINT)) AS DOUBLE)
    / {NB_SCALE} AS log_weight
FROM bigrams g JOIN ratio USING (b)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


# ---------------------------------------------------------------------------
# E58 — the end-to-end curation manifest: one row per corpus document with
# its final disposition, composing every curation stage this engine ships:
#
#   1. eval-source holdout (the benchmark split never trains),
#   2. dedup keep/drop (exact -> LSH -> verify -> clusters -> span, E31),
#   3. quality keep/drop (C4 + repetition + score floor, E43),
#   4. benchmark decontamination (word-8-gram overlap, E19),
#   5. survivors get their train/valid/test split (E42) and their
#      source's temperature-scaled mixing weight (E35).
#
# The disposition is the FIRST failing stage in that order (the audit
# convention of E31/E43); kept = disposition 'kept'. This is the table a
# training run actually reads — the composition is the product, the
# stages are its explanation.
#
# Scale: four left joins on doc_id over per-doc relations — plain hash
# joins, never forced broadcast (every side is O(corpus)); the mixing
# weight join is O(sources) and broadcast.
# ---------------------------------------------------------------------------


def curation_manifest(
    spark: SparkSession,
    docs: DataFrame | None = None,
    dedup: DataFrame | None = None,
    quality: DataFrame | None = None,
    contam: DataFrame | None = None,
    splits: DataFrame | None = None,
) -> DataFrame:
    from collector_spark.ml.dedup import dedup_keep_list

    docs = (
        spark.table("documents") if docs is None else docs
    ).select("doc_id", "source", "lang")
    d = (dedup_keep_list(spark) if dedup is None else dedup).select(
        "doc_id",
        F.col("keep").alias("dedup_keep"),
        F.col("drop_reason").alias("dedup_reason"),
    )
    q = (quality_keep_list(spark) if quality is None else quality).select(
        "doc_id",
        F.col("keep").alias("quality_keep"),
        F.col("drop_reason").alias("quality_reason"),
    )
    c = (decontaminate(spark) if contam is None else contam).select(
        "doc_id", "contaminated"
    )
    s = (split_assign(spark) if splits is None else splits).select(
        "doc_id", "split"
    )
    w = sampling_weights(spark).select("source", "temp_scaled_weight")

    joined = (
        docs.join(d, "doc_id", "left")
        .join(q, "doc_id", "left")
        .join(c, "doc_id", "left")
        .join(s, "doc_id", "left")
        .join(F.broadcast(w), "source", "left")
    )
    disposition = (
        F.when(F.col("source") == EVAL_SOURCE, F.lit("eval_source"))
        .when(~F.coalesce(F.col("dedup_keep"), F.lit(True)), F.col("dedup_reason"))
        .when(
            ~F.coalesce(F.col("quality_keep"), F.lit(True)),
            F.col("quality_reason"),
        )
        .when(
            F.coalesce(F.col("contaminated"), F.lit(False)), F.lit("contaminated")
        )
        .otherwise(F.lit("kept"))
    )
    return (
        joined.withColumn("disposition", disposition)
        .select(
            "doc_id",
            "source",
            "lang",
            "disposition",
            (F.col("disposition") == "kept").alias("kept"),
            F.when(F.col("disposition") == "kept", F.col("split")).alias("split"),
            F.when(
                F.col("disposition") == "kept", F.col("temp_scaled_weight")
            ).alias("mixing_weight"),
        )
        .orderBy("doc_id")
    )


def oracle_curation_manifest() -> str:
    from collector_spark.ml.dedup import oracle_dedup_keep_list

    return f"""
WITH d AS (SELECT * FROM ({oracle_dedup_keep_list()}) x),
q AS (SELECT * FROM ({oracle_quality_keep_list()}) x),
c AS (SELECT * FROM ({oracle_decontaminate()}) x),
s AS (SELECT * FROM ({oracle_split_assign()}) x),
w AS (SELECT * FROM ({oracle_sampling_weights()}) x),
joined AS (
  SELECT doc.doc_id, doc.source, doc.lang,
    CASE
      WHEN doc.source = '{EVAL_SOURCE}' THEN 'eval_source'
      WHEN NOT COALESCE(d.keep, TRUE) THEN d.drop_reason
      WHEN NOT COALESCE(q.keep, TRUE) THEN q.drop_reason
      WHEN COALESCE(c.contaminated, FALSE) THEN 'contaminated'
      ELSE 'kept' END AS disposition,
    s.split, w.temp_scaled_weight
  FROM documents doc
  LEFT JOIN d USING (doc_id)
  LEFT JOIN q USING (doc_id)
  LEFT JOIN c USING (doc_id)
  LEFT JOIN s USING (doc_id)
  LEFT JOIN w ON w.source = doc.source
)
SELECT doc_id, source, lang, disposition,
  disposition = 'kept' AS kept,
  CASE WHEN disposition = 'kept' THEN split END AS split,
  CASE WHEN disposition = 'kept' THEN temp_scaled_weight END AS mixing_weight
FROM joined
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E63 — quality-signal agreement: per-source Spearman rank correlation
# between the composite heuristic quality score (E13) and the corpus
# unigram-LM mean NLL (E41). The two signals should anti-correlate
# (rare-word-heavy text scores low on heuristics); a source where they
# DON'T is where the heuristics and the LM disagree — exactly the slice a
# curation owner reviews before trusting either filter. Spearman, not
# Pearson: ranks are integers (ordinal, doc_id tie-break — declared
# semantics), so rho = 1 - 6*sum(d^2)/(n(n^2-1)) is integer math until
# one final division — engine-exact with no sqrt/covariance determinism
# risk.
#
# Scale: two per-source rank windows (partitioned on source) + integer
# aggregates; the metric inputs ride their own operators' plans.
# ---------------------------------------------------------------------------


def score_correlation(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.textstats import quality_score

    q = quality_score(spark).select("doc_id", "quality_score")
    n = unigram_logprob(spark).select("doc_id", "mean_nll")
    src = spark.table("documents").select("doc_id", "source")
    joined = src.join(q, "doc_id").join(n, "doc_id")
    rank_q = F.row_number().over(
        Window.partitionBy("source").orderBy(F.asc("quality_score"), F.asc("doc_id"))
    )
    rank_n = F.row_number().over(
        Window.partitionBy("source").orderBy(F.asc("mean_nll"), F.asc("doc_id"))
    )
    ranked = joined.select(
        "source",
        rank_q.cast("long").alias("rq"),
        rank_n.cast("long").alias("rn"),
    )
    d2 = (F.col("rq") - F.col("rn")) * (F.col("rq") - F.col("rn"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(d2).cast("long").alias("sum_d2"),
        )
        .select(
            "source",
            "n_docs",
            "sum_d2",
            (
                F.lit(1.0)
                - F.lit(6.0)
                * F.col("sum_d2").cast("double")
                / (
                    F.col("n_docs").cast("double")
                    * (
                        F.col("n_docs").cast("double")
                        * F.col("n_docs").cast("double")
                        - F.lit(1.0)
                    )
                )
            ).alias("spearman_rho"),
        )
        .orderBy("source")
    )


def oracle_score_correlation() -> str:
    from collector_spark.ml.textstats import oracle_quality_score

    return f"""
WITH q AS (SELECT doc_id, quality_score FROM ({oracle_quality_score()}) x),
n AS (SELECT doc_id, mean_nll FROM ({oracle_unigram_logprob()}) x),
ranked AS (
  SELECT d.source,
    CAST(row_number() OVER (PARTITION BY d.source
        ORDER BY q.quality_score ASC, d.doc_id ASC) AS BIGINT) AS rq,
    CAST(row_number() OVER (PARTITION BY d.source
        ORDER BY n.mean_nll ASC, d.doc_id ASC) AS BIGINT) AS rn
  FROM documents d JOIN q USING (doc_id) JOIN n USING (doc_id)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM((rq - rn) * (rq - rn)) AS BIGINT) AS sum_d2,
  1.0 - 6.0 * CAST(SUM((rq - rn) * (rq - rn)) AS DOUBLE)
    / (CAST(COUNT(*) AS DOUBLE)
       * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0))
    AS spearman_rho
FROM ranked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# E64 — packing efficiency: the audit over E40's concatenate-and-chop
# manifest a pipeline owner reads before training — per (source, shard):
# documents, tokens, packs consumed, boundary straddles, the tail waste of
# the final partially-filled pack, and the fill ratio. All integer math
# until the one fill-ratio division; the shard-edge waste this surfaces
# is exactly the tradeoff the sharded cumulative stream accepts for
# eliminating per-source giant partitions (documented in E40).
#
# Scale: one combinable groupBy over the packing manifest's own exchange.
# ---------------------------------------------------------------------------


def pack_efficiency(spark: SparkSession) -> DataFrame:
    m = sequence_packing(spark)
    end = F.col("stream_offset") + F.col("n_tokens")
    per = (
        m.groupBy("source", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.max(end).cast("long").alias("stream_end"),
            F.sum(F.col("crosses_boundary").cast("long")).cast("long").alias(
                "straddles"
            ),
        )
    )
    n_packs = (F.floor((F.col("stream_end") - 1) / PACK_BUDGET) + 1).cast("long")
    return (
        per.select(
            "source",
            "shard",
            "n_docs",
            "total_tokens",
            n_packs.alias("n_packs"),
            "straddles",
            (n_packs * PACK_BUDGET - F.col("total_tokens")).cast("long").alias(
                "tail_waste"
            ),
            (
                F.col("total_tokens").cast("double")
                / (n_packs * PACK_BUDGET).cast("double")
            ).alias("fill_ratio"),
        )
        .orderBy("source", "shard")
    )


def oracle_pack_efficiency() -> str:
    return f"""
WITH m AS (SELECT * FROM ({oracle_sequence_packing()}) x),
per AS (
  SELECT source, shard,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
    CAST(MAX(stream_offset + n_tokens) AS BIGINT) AS stream_end,
    CAST(SUM(CASE WHEN crosses_boundary THEN 1 ELSE 0 END) AS BIGINT)
      AS straddles
  FROM m GROUP BY source, shard
)
SELECT source, shard, n_docs, total_tokens,
  CAST(FLOOR(CAST(stream_end - 1 AS DOUBLE) / {PACK_BUDGET}) + 1 AS BIGINT)
    AS n_packs,
  straddles,
  CAST((FLOOR(CAST(stream_end - 1 AS DOUBLE) / {PACK_BUDGET}) + 1)
       * {PACK_BUDGET} - total_tokens AS BIGINT) AS tail_waste,
  CAST(total_tokens AS DOUBLE)
    / CAST((FLOOR(CAST(stream_end - 1 AS DOUBLE) / {PACK_BUDGET}) + 1)
           * {PACK_BUDGET} AS DOUBLE) AS fill_ratio
FROM per
ORDER BY source, shard
"""


# ---------------------------------------------------------------------------
# E65 — CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
# High Quality Monolingual Datasets from Web Crawl Data", 2020): documents
# are split per SOURCE into head / middle / tail terciles of the corpus
# LM score (here E41's unigram mean-NLL — lower = more fluent), the
# standard coarse quality strata used to pick how much of each crawl
# segment enters training. The registered form assigns buckets by the
# EXACT per-source NLL rank (3*rank vs tercile bounds, doc_id tie-break) —
# integer logic, so the oracle matches bit-for-bit. At 100 TB the rank
# window becomes two per-source threshold scalars learned on a sample
# (approx_percentile, map-side combinable) broadcast into a map-only
# assignment — the same one-expression swap documented for
# ml_source_quantiles; rank semantics at the tercile boundary differ only
# on ties of the quantized NLL grid.
#
# Scale (registered form): the NLL core is E41's plan (combinable vocab
# build + 1-row total broadcast); bucketing adds one shuffle on source for
# the rank window. No per-doc state, no Python.
# ---------------------------------------------------------------------------


def perplexity_buckets(spark: SparkSession) -> DataFrame:
    nll = _unigram_nll(spark).select("doc_id", "mean_nll")
    docs = spark.table("documents").select("doc_id", "source")
    scored = docs.join(nll, "doc_id")
    w = Window.partitionBy("source").orderBy("mean_nll", "doc_id")
    n = Window.partitionBy("source")
    ranked = scored.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n_src", F.count("*").over(n)
    )
    bucket = (
        F.when(3 * F.col("rnk") <= F.col("n_src"), "head")
        .when(3 * F.col("rnk") <= 2 * F.col("n_src"), "middle")
        .otherwise("tail")
    )
    return ranked.select(
        "doc_id", "source", "mean_nll", bucket.alias("ppl_bucket")
    ).orderBy("doc_id")


def oracle_perplexity_buckets() -> str:
    return rf"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
nll AS (
  SELECT doc_id,
    CAST(SUM(CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                        * {NB_SCALE}) AS BIGINT)) AS DOUBLE)
      / (CAST(COUNT(*) AS DOUBLE) * {NB_SCALE}) AS mean_nll
  FROM words JOIN vocab USING (w) CROSS JOIN total
  GROUP BY doc_id
),
ranked AS (
  SELECT d.doc_id, d.source, nll.mean_nll,
    ROW_NUMBER() OVER (
      PARTITION BY d.source ORDER BY nll.mean_nll, d.doc_id
    ) AS rnk,
    COUNT(*) OVER (PARTITION BY d.source) AS n_src
  FROM documents d JOIN nll USING (doc_id)
)
SELECT doc_id, source, mean_nll,
  CASE WHEN 3 * rnk <= n_src THEN 'head'
       WHEN 3 * rnk <= 2 * n_src THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM ranked
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E66 — per-source vocabulary coverage vs the bounded top-K vocabulary:
# token volume, OOV token share, and distinct-type counts per source — the
# corpus diagnostic that sizes a tokenizer's vocabulary and flags sources
# whose token distribution the broadcast top-K LM variant (E41c) will
# floor to OOV. Complements E41c's per-DOC n_oov with the source-level
# report a mixing decision actually reads.
#
# Scale: vocab build is one combinable groupBy(word); the top-K relation
# is K rows broadcast (TakeOrdered, never a global sort); the coverage
# aggregate is one combinable groupBy(source) over a map-side explode.
# The two COUNT(DISTINCT w) force Spark's expand+two-phase distinct on
# (source, w) — still combinable; at 100 TB the same plan swaps in
# approx_count_distinct, a one-expression change.
#
# K: the fixture corpus holds only ~31 distinct words at every SF, so the
# E41c vocabulary (256) would cover everything and the OOV path would be
# vacuously zero — K is data-calibrated (the VERIFY_NEARDUP_THRESHOLD
# convention) so the report exercises real OOV mass; production sets K to
# the tokenizer's actual vocabulary size, same plan.
# ---------------------------------------------------------------------------

VOCAB_COV_K = 16


def vocab_coverage(spark: SparkSession) -> DataFrame:
    words = _doc_words(spark, "source")
    vocab, _ = _unigram_model(words)
    topk = vocab.orderBy(F.col("cnt").desc(), "w").limit(VOCAB_COV_K)
    j = words.join(
        F.broadcast(topk.select("w", F.lit(True).alias("in_vocab"))), "w", "left"
    )
    oov = F.col("in_vocab").isNull()
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(oov.cast("long")).alias("n_oov"),
        F.count_distinct("w").cast("long").alias("distinct_words"),
        F.count_distinct(F.when(oov, F.col("w"))).cast("long").alias(
            "distinct_oov_words"
        ),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
            "oov_rate"
        ),
        "distinct_words",
        "distinct_oov_words",
    ).orderBy("source")


def oracle_vocab_coverage() -> str:
    return rf"""
WITH words AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w),
topk AS (SELECT w FROM vocab ORDER BY cnt DESC, w ASC LIMIT {VOCAB_COV_K})
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN t.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(SUM(CASE WHEN t.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS oov_rate,
  CAST(COUNT(DISTINCT words.w) AS BIGINT) AS distinct_words,
  CAST(COUNT(DISTINCT CASE WHEN t.w IS NULL THEN words.w END) AS BIGINT)
    AS distinct_oov_words
FROM words LEFT JOIN topk t ON words.w = t.w
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# E71 — Gopher document-level quality rules (Rae et al. 2021, §A1.1).
# The repetition caps of that rule set already live in quality_keep_list
# (GOPHER_TOP_UNI_MAX / GOPHER_DUP_TRI_MAX over repetition_signals); this
# is the rest of the document table: word-count window, mean-word-length
# window, symbol-to-word ratio, alphabetic-word fraction, and the
# stop-word floor (>=2 hits from the canonical 8-word list). The line
# rules (bullet/ellipsis/duplicate line fractions) live in E87
# gopher_line_filters over the F27 doc_lines fixture.
#
# Scale: pure per-row array expressions (split once, filter/aggregate on
# the token array) — map-only, whole-stage codegen, no shuffle, no UDF.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_SYMBOL_RATIO_MAX = 0.10
GOPHER_ALPHA_FRAC_MIN = 0.80
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _gopher_exprs() -> dict[str, "F.Column"]:
    """The E71 rule columns as ROW-LOCAL expressions over (text, n_chars)
    — shared by the audit table (gopher_filters) and every consumer that
    needs the keep label inline (the E113 classifier's streamable fold,
    where a label JOIN would be a stream-stream join)."""
    toks = _tokens()
    n_words = F.size(toks).cast("long")
    mean_wl = (F.col("n_chars") - (n_words - 1)).cast("double") / n_words
    # '#' and '...' are Gopher's symbol set; count occurrences in the raw
    # text (not per word — ellipses can span token joins)
    n_sym = F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.")).cast("long")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda w: w.isin(GOPHER_STOPWORDS))
    ).cast("long")
    word_count_ok = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    mwl_ok = (mean_wl >= GOPHER_MWL_LO) & (mean_wl <= GOPHER_MWL_HI)
    symbol_ok = n_sym.cast("double") / n_words <= GOPHER_SYMBOL_RATIO_MAX
    alpha_ok = n_alpha.cast("double") / n_words >= GOPHER_ALPHA_FRAC_MIN
    stop_ok = stop_hits >= GOPHER_MIN_STOP_HITS
    return {
        "n_words": n_words,
        "n_alpha": n_alpha,
        "stop_hits": stop_hits,
        "word_count_ok": word_count_ok,
        "mwl_ok": mwl_ok,
        "symbol_ok": symbol_ok,
        "alpha_ok": alpha_ok,
        "stop_ok": stop_ok,
        "keep": word_count_ok & mwl_ok & symbol_ok & alpha_ok & stop_ok,
    }


def gopher_filters(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    e = _gopher_exprs()
    n_words = e["n_words"]
    n_alpha = e["n_alpha"]
    stop_hits = e["stop_hits"]
    word_count_ok = e["word_count_ok"]
    mwl_ok = e["mwl_ok"]
    symbol_ok = e["symbol_ok"]
    alpha_ok = e["alpha_ok"]
    stop_ok = e["stop_ok"]
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha_words"),
        stop_hits.alias("stop_hits"),
        word_count_ok.alias("word_count_ok"),
        mwl_ok.alias("mean_word_len_ok"),
        symbol_ok.alias("symbol_ratio_ok"),
        alpha_ok.alias("alpha_frac_ok"),
        stop_ok.alias("stopword_ok"),
        (word_count_ok & mwl_ok & symbol_ok & alpha_ok & stop_ok).alias("keep"),
    ).orderBy("doc_id")


def oracle_gopher_filters() -> str:
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return rf"""
WITH t AS (
  SELECT doc_id, n_chars,
    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS n_sym
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_wl,
    n_sym,
    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
    CAST(len(list_filter(toks, w -> w IN ({stops}))) AS BIGINT) AS stop_hits
  FROM t
)
SELECT doc_id, n_words, n_alpha AS n_alpha_words, stop_hits,
  n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} AS word_count_ok,
  mean_wl >= {GOPHER_MWL_LO} AND mean_wl <= {GOPHER_MWL_HI} AS mean_word_len_ok,
  CAST(n_sym AS DOUBLE) / n_words <= {GOPHER_SYMBOL_RATIO_MAX} AS symbol_ratio_ok,
  CAST(n_alpha AS DOUBLE) / n_words >= {GOPHER_ALPHA_FRAC_MIN} AS alpha_frac_ok,
  stop_hits >= {GOPHER_MIN_STOP_HITS} AS stopword_ok,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
   AND mean_wl >= {GOPHER_MWL_LO} AND mean_wl <= {GOPHER_MWL_HI}
   AND CAST(n_sym AS DOUBLE) / n_words <= {GOPHER_SYMBOL_RATIO_MAX}
   AND CAST(n_alpha AS DOUBLE) / n_words >= {GOPHER_ALPHA_FRAC_MIN}
   AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
FROM m
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E87 — Gopher LINE-structure quality rules (Rae et al. 2021, §A1.1 — the
# half of the rule set E71 documented out until the corpus had lines; the
# F27 doc_lines fixture supplies deterministic multi-line structure): per
# document the bullet-line share (<= 90%), ellipsis-terminated-line share
# (<= 30%), duplicate-line fraction (<= 30%) and duplicate-line-CHARACTER
# fraction (<= 20%), each with its per-flag audit column like E71/E84.
#
# Scale: one groupBy(doc_id, line_text) then one groupBy(doc_id) — both
# shuffles carry doc-local keys, all counters integer-exact; the fractions
# are small-integer divisions so both engines emit identical doubles. At
# 100 TB the first groupBy keys on (doc_id, xxhash64(line)) to keep the
# shuffle rows narrow; semantics unchanged (per-doc collisions only).
# ---------------------------------------------------------------------------

GOPHER_BULLET_MAX = 0.90
GOPHER_ELLIPSIS_MAX = 0.30
GOPHER_DUP_LINE_MAX = 0.30
GOPHER_DUP_CHAR_MAX = 0.20


def gopher_line_filters(spark: SparkSession) -> DataFrame:
    per_text = (
        spark.table("doc_lines")
        .groupBy("doc_id", "line_text")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ll = F.length("line_text").cast("long")
    cnt = F.col("cnt")
    m = per_text.groupBy("doc_id").agg(
        F.sum(cnt).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("line_text").startswith("- "), cnt).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_bullet"),
        F.sum(F.when(F.col("line_text").endswith("..."), cnt).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_ellipsis"),
        F.sum(cnt - 1).cast("long").alias("n_dup_lines"),
        F.sum((cnt - 1) * ll).cast("long").alias("dup_chars"),
        F.sum(cnt * ll).cast("long").alias("total_chars"),
    )
    bullet_frac = F.col("n_bullet").cast("double") / F.col("n_lines")
    ellipsis_frac = F.col("n_ellipsis").cast("double") / F.col("n_lines")
    dup_line_frac = F.col("n_dup_lines").cast("double") / F.col("n_lines")
    dup_char_frac = F.col("dup_chars").cast("double") / F.col("total_chars")
    bullet_ok = bullet_frac <= GOPHER_BULLET_MAX
    ellipsis_ok = ellipsis_frac <= GOPHER_ELLIPSIS_MAX
    dup_line_ok = dup_line_frac <= GOPHER_DUP_LINE_MAX
    dup_char_ok = dup_char_frac <= GOPHER_DUP_CHAR_MAX
    return m.select(
        "doc_id",
        "n_lines",
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_char_frac"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        dup_line_ok.alias("dup_line_ok"),
        dup_char_ok.alias("dup_char_ok"),
        (bullet_ok & ellipsis_ok & dup_line_ok & dup_char_ok).alias("keep"),
    ).orderBy("doc_id")


def oracle_gopher_line_filters() -> str:
    return f"""
WITH per_text AS (
  SELECT doc_id, line_text, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM doc_lines GROUP BY doc_id, line_text
),
m AS (
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_lines,
    CAST(SUM(CASE WHEN line_text LIKE '- %' THEN cnt ELSE 0 END) AS BIGINT) AS n_bullet,
    CAST(SUM(CASE WHEN line_text LIKE '%...' THEN cnt ELSE 0 END) AS BIGINT) AS n_ellipsis,
    CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_lines,
    CAST(SUM((cnt - 1) * length(line_text)) AS BIGINT) AS dup_chars,
    CAST(SUM(cnt * length(line_text)) AS BIGINT) AS total_chars
  FROM per_text GROUP BY doc_id
)
SELECT doc_id, n_lines,
  CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac,
  CAST(n_ellipsis AS DOUBLE) / n_lines AS ellipsis_frac,
  CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_line_frac,
  CAST(dup_chars AS DOUBLE) / total_chars AS dup_char_frac,
  CAST(n_bullet AS DOUBLE) / n_lines <= {GOPHER_BULLET_MAX} AS bullet_ok,
  CAST(n_ellipsis AS DOUBLE) / n_lines <= {GOPHER_ELLIPSIS_MAX} AS ellipsis_ok,
  CAST(n_dup_lines AS DOUBLE) / n_lines <= {GOPHER_DUP_LINE_MAX} AS dup_line_ok,
  CAST(dup_chars AS DOUBLE) / total_chars <= {GOPHER_DUP_CHAR_MAX} AS dup_char_ok,
  (CAST(n_bullet AS DOUBLE) / n_lines <= {GOPHER_BULLET_MAX}
   AND CAST(n_ellipsis AS DOUBLE) / n_lines <= {GOPHER_ELLIPSIS_MAX}
   AND CAST(n_dup_lines AS DOUBLE) / n_lines <= {GOPHER_DUP_LINE_MAX}
   AND CAST(dup_chars AS DOUBLE) / total_chars <= {GOPHER_DUP_CHAR_MAX}) AS keep
FROM m
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E72 — Kneser-Ney interpolated bigram language model (the standard n-gram
# smoothing; Chen & Goodman 1998 eq. 4.17 with a single absolute discount
# D). Per-document mean NLL under the corpus-trained model:
#
#   P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1 ·)
#            + (D * N1+(w1 ·) / c(w1 ·)) * N1+(· w2) / N1+(· ·)
#
# where c(w1 ·) is the bigram-context total, N1+(w1 ·) the distinct
# continuations of w1, N1+(· w2) the distinct left-contexts of w2, and
# N1+(· ·) the bigram type count. Every scored bigram exists in training
# (self-trained), so the max() arm is always live alongside the backoff.
#
# Scale: same shape as bigram_logprob — one shuffle keyed on (w1,w2) for
# counts, w1/w2-keyed model joins (AQE-broadcast at small vocab, shuffle
# joins at web vocab), and two 1-row totals broadcast. NLL quantized on
# the shared 2^20 grid so both engines sum identical integers.
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75


def kneser_ney_bigram(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select("doc_id", _tokens().alias("wl"))
    # r12 optimization: the bigram explode fed FIVE subtree evaluations
    # (the scoring join plus c2/ctx/cont/types_total, which each
    # re-derived it through live lineage — 5 Generate nodes in the plan).
    # Checkpoint the exploded relation once and the model count relation
    # once; every branch reads materialized rows.
    bigrams = _token_pairs(docs, "wl", "doc_id").localCheckpoint(eager=False)
    c2 = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt2"))
        .localCheckpoint(eager=False)
    )
    ctx = c2.groupBy("w1").agg(
        F.sum("cnt2").cast("long").alias("ctx_total"),
        F.count("*").cast("long").alias("fanout"),  # N1+(w1 ·)
    )
    cont = c2.groupBy("w2").agg(F.count("*").cast("long").alias("n_left"))  # N1+(· w2)
    types_total = c2.agg(F.count("*").cast("long").alias("n_types"))
    d = F.lit(KN_DISCOUNT)
    p = (
        F.greatest(F.col("cnt2").cast("double") - d, F.lit(0.0))
        / F.col("ctx_total").cast("double")
    ) + (
        d * F.col("fanout").cast("double") / F.col("ctx_total").cast("double")
    ) * (
        F.col("n_left").cast("double") / F.col("n_types").cast("double")
    )
    return (
        bigrams.join(c2, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types_total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            _grid_mean(-F.log(p)).alias("mean_kn_nll"),
        )
        .orderBy("doc_id")
    )


def oracle_kneser_ney_bigram() -> str:
    return rf"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents
),
bigrams AS (
  SELECT doc_id, wl[CAST(i AS INT)] AS w1, wl[CAST(i AS INT) + 1] AS w2
  FROM docs, LATERAL (SELECT unnest(range(1, len(wl))) AS i) g
  WHERE len(wl) >= 2
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt2
  FROM bigrams GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(SUM(cnt2) AS BIGINT) AS ctx_total,
         CAST(COUNT(*) AS BIGINT) AS fanout
  FROM c2 GROUP BY w1
),
cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_left FROM c2 GROUP BY w2),
types_total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c2),
scored AS (
  SELECT b.doc_id,
    CAST(FLOOR(-ln(
      GREATEST(CAST(c2.cnt2 AS DOUBLE) - {KN_DISCOUNT}, 0.0)
        / CAST(ctx.ctx_total AS DOUBLE)
      + ({KN_DISCOUNT} * CAST(ctx.fanout AS DOUBLE)
           / CAST(ctx.ctx_total AS DOUBLE))
        * (CAST(cont.n_left AS DOUBLE) / CAST(tt.n_types AS DOUBLE))
    ) * {NB_SCALE}) AS BIGINT) AS nll_q
  FROM bigrams b
  JOIN c2 USING (w1, w2)
  JOIN ctx USING (w1)
  JOIN cont USING (w2)
  CROSS JOIN types_total tt
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(nll_q) AS DOUBLE)
    / (CAST(COUNT(*) AS DOUBLE) * {NB_SCALE}) AS mean_kn_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E73 — Zipf law fit per source: least-squares slope of log(freq) on
# log(rank) over the top-R word types. A healthy natural-language corpus
# sits near slope -1; template/boilerplate floods flatten the head and
# spam/noise steepens the tail, so the slope (plus fit quality) is a cheap
# corpus-health monitor per source shard.
#
# Scale: word counts are one combinable groupBy; the per-source top-R
# ranking is a window over at most |vocab(source)| rows of aggregated
# counts (already tiny next to the corpus), and the regression is closed
# form over five INTEGER sums. Integer, not covar_pop/var_pop: float
# aggregation order differs between engines (and between Spark partition
# layouts), so the log inputs are floor-quantized onto the shared 2^20
# grid and summed exactly — order-free — with doubles entering only in
# the final one-expression combination (identical expression tree on both
# engines => identical IEEE result).
# ---------------------------------------------------------------------------

ZIPF_TOP_R = 200


def zipf_fit(spark: SparkSession) -> DataFrame:
    return zipf_fit_from_counts(_source_word_counts(spark.table("documents")))


def _source_word_counts(docs: DataFrame) -> DataFrame:
    """The additive (source, w, cnt) fold — the streaming twin's state."""
    words = docs.select("source", F.explode(_tokens()).alias("w"))
    return words.groupBy("source", "w").agg(F.count("*").cast("long").alias("cnt"))


def zipf_fit_from_counts(counts: DataFrame) -> DataFrame:
    """The rank/regression stage over a (source, w, cnt) relation — shared
    by the batch operator and the streaming twin (word counts are additive,
    so a streamed count state feeds the identical fit)."""
    from pyspark.sql import Window

    ranked = counts.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("w"))
        ),
    ).filter(F.col("rank") <= ZIPF_TOP_R)
    qx = _qlog(F.col("rank"))
    qy = _qlog(F.col("cnt"))
    sums = ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(qy).alias("sy"),
        F.sum(qx * qy).alias("sxy"),
        F.sum(qx * qx).alias("sxx"),
        F.sum(qy * qy).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    slope = cov / vx
    return sums.select(
        "source",
        F.col("n").alias("n_points"),
        slope.alias("zipf_slope"),
        ((sy - (cov / vx) * sx) / (n * NB_SCALE)).alias("zipf_intercept"),
        ((cov * cov) / (vx * vy)).alias("r_squared"),
    ).orderBy("source")


def oracle_zipf_fit() -> str:
    s = NB_SCALE
    return rf"""
WITH words AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
counts AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM words GROUP BY source, w
),
ranked AS (
  SELECT source, cnt,
    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w ASC) AS rank
  FROM counts
  QUALIFY rank <= {ZIPF_TOP_R}
),
q AS (
  SELECT source,
    CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * {s}) AS BIGINT) AS qx,
    CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * {s}) AS BIGINT) AS qy
  FROM ranked
),
sums AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(qx) AS BIGINT) AS sx,
    CAST(SUM(qy) AS BIGINT) AS sy,
    CAST(SUM(qx * qy) AS BIGINT) AS sxy,
    CAST(SUM(qx * qx) AS BIGINT) AS sxx,
    CAST(SUM(qy * qy) AS BIGINT) AS syy
  FROM q GROUP BY source
)
SELECT source,
  n AS n_points,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    AS zipf_slope,
  (CAST(sy AS DOUBLE)
     - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       * CAST(sx AS DOUBLE))
    / (CAST(n AS DOUBLE) * {s}) AS zipf_intercept,
  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
    AS r_squared
FROM sums
ORDER BY source
"""


# ---------------------------------------------------------------------------
# E84 — filter ablation report: for each document-quality rule (the five
# Gopher flags + the three C4 flags), how many documents fail it, how
# many fail ONLY it (its unique contribution — the number that tells a
# curation owner which rule to tune or drop), and the fail rate. The
# standard ablation every filter-stack review starts from.
#
# Scale: per-doc flags come from the two map-only filter operators joined
# on doc_id; the rule explosion is a constant 8-element array per doc and
# the report reduces in ONE combinable groupBy(rule) — a single pass, no
# per-rule rescan.
# ---------------------------------------------------------------------------

ABLATION_RULES = [
    ("gopher_word_count", "word_count_ok"),
    ("gopher_mean_word_len", "mean_word_len_ok"),
    ("gopher_symbol_ratio", "symbol_ratio_ok"),
    ("gopher_alpha_frac", "alpha_frac_ok"),
    ("gopher_stopwords", "stopword_ok"),
    ("c4_min_words", "min_words_ok"),
    ("c4_word_len", "word_len_ok"),
    ("c4_stopword", "has_stopword"),
]


def filter_ablation(spark: SparkSession) -> DataFrame:
    g = gopher_filters(spark).select(
        "doc_id",
        "word_count_ok",
        "mean_word_len_ok",
        "symbol_ratio_ok",
        "alpha_frac_ok",
        "stopword_ok",
    )
    c = c4_filters(spark).select(
        "doc_id", "min_words_ok", "word_len_ok", "has_stopword"
    )
    flags = g.join(c, "doc_id")
    fails_total = sum(
        F.when(~F.col(col), 1).otherwise(0) for _, col in ABLATION_RULES
    )
    exploded = flags.withColumn("fails_total", fails_total).select(
        "fails_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(rule).alias("rule"),
                        (~F.col(col)).cast("int").alias("fail"),
                    )
                    for rule, col in ABLATION_RULES
                ]
            )
        ).alias("r"),
    )
    # denominator stays relational (1-row broadcast aggregate, same shape as
    # the oracle's n CTE): an eager .count() here would fire a Spark job at
    # plan-build time and bake a total that goes stale if the documents view
    # is re-registered between builds — the lazy-builder hazard dedup.py's
    # pinned-relation docs warn about.
    n_docs = spark.table("documents").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return (
        exploded.groupBy(F.col("r.rule").alias("rule"))
        .agg(
            F.sum("r.fail").cast("long").alias("n_fail"),
            F.sum(
                F.when((F.col("r.fail") == 1) & (F.col("fails_total") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_unique_fail"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "rule",
            "n_fail",
            "n_unique_fail",
            (F.col("n_fail").cast("double") / F.col("n_docs").cast("double")).alias(
                "fail_rate"
            ),
        )
        .orderBy("rule")
    )


def oracle_filter_ablation() -> str:
    g = oracle_gopher_filters().rsplit("ORDER BY", 1)[0]
    c4 = oracle_c4_filters().rsplit("ORDER BY", 1)[0]
    fails_total = " + ".join(
        f"CASE WHEN NOT {col} THEN 1 ELSE 0 END" for _, col in ABLATION_RULES
    )
    structs = ", ".join(
        f"{{'rule': '{rule}', 'fail': CASE WHEN NOT {col} THEN 1 ELSE 0 END}}"
        for rule, col in ABLATION_RULES
    )
    return f"""
WITH g AS ({g}), c AS ({c4}),
flags AS (
  SELECT g.doc_id, g.word_count_ok, g.mean_word_len_ok, g.symbol_ratio_ok,
         g.alpha_frac_ok, g.stopword_ok, c.min_words_ok, c.word_len_ok,
         c.has_stopword
  FROM g JOIN c USING (doc_id)
),
exploded AS (
  SELECT ({fails_total}) AS fails_total, unnest([{structs}]) AS r
  FROM flags
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT r.rule AS rule,
  CAST(SUM(r.fail) AS BIGINT) AS n_fail,
  CAST(SUM(CASE WHEN r.fail = 1 AND fails_total = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unique_fail,
  CAST(SUM(r.fail) AS DOUBLE) / CAST(ANY_VALUE(n.n_docs) AS DOUBLE) AS fail_rate
FROM exploded CROSS JOIN n
GROUP BY r.rule
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# E85 — token-budget allocation plan: turn the per-source mixing weights
# (E44's temperature-scaled weights) into INTEGER per-source token quotas
# that sum to the budget EXACTLY, via the largest-remainder method
# (floor the exact shares, hand the leftover tokens to the largest
# fractional remainders; ties break by source name). The table a dataset
# assembly job reads to cut shards — fractional quotas or drifting sums
# are exactly what this closes out.
#
# Scale: everything after the per-source aggregate operates on one row
# per source (bounded); the remainder ranking is a window over that
# gauge relation.
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 1_000_000


TBP_GRID = 1 << 30  # weight quantization grid: order-free double sums


def token_budget_plan(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    # weights floor-quantized onto the 2^-30 grid BEFORE the sum: sums of
    # grid multiples are exactly representable at any aggregation order,
    # so wsum (and every floor(exact_quota) boundary downstream) is the
    # identical double on both engines regardless of partitioning
    wq = (
        F.floor(F.col("temp_scaled_weight") * TBP_GRID) / F.lit(float(TBP_GRID))
    ).alias("wq")
    w = sampling_weights(spark).select("source", "tokens", wq)
    wsum = w.agg(F.sum("wq").alias("wsum"))
    exact = F.lit(float(TOKEN_BUDGET)) * F.col("wq") / F.col("wsum")
    with_exact = w.crossJoin(F.broadcast(wsum)).select(
        "source",
        "tokens",
        exact.alias("exact_quota"),
        F.floor(exact).cast("long").alias("floor_quota"),
        (exact - F.floor(exact)).alias("remainder"),
    )
    leftover = with_exact.agg(
        (F.lit(TOKEN_BUDGET) - F.sum("floor_quota")).cast("long").alias("leftover")
    )
    rank_w = Window.orderBy(F.desc("remainder"), F.asc("source"))
    return (
        with_exact.crossJoin(F.broadcast(leftover))
        .withColumn("remainder_rank", F.row_number().over(rank_w).cast("long"))
        .select(
            "source",
            "tokens",
            "exact_quota",
            "floor_quota",
            "remainder_rank",
            (F.col("floor_quota") + (F.col("remainder_rank") <= F.col("leftover")).cast("long")).alias(
                "final_quota"
            ),
        )
        .orderBy("source")
    )


def oracle_token_budget_plan() -> str:
    sw = oracle_sampling_weights().rsplit("ORDER BY", 1)[0]
    return f"""
WITH sw AS ({sw}),
wq AS (
  SELECT source, tokens,
    FLOOR(temp_scaled_weight * {TBP_GRID}) / CAST({TBP_GRID} AS DOUBLE) AS wq
  FROM sw
),
wsum AS (SELECT SUM(wq) AS wsum FROM wq),
with_exact AS (
  SELECT source, tokens,
    CAST({TOKEN_BUDGET} AS DOUBLE) * wq / wsum AS exact_quota,
    CAST(FLOOR(CAST({TOKEN_BUDGET} AS DOUBLE) * wq / wsum) AS BIGINT) AS floor_quota,
    CAST({TOKEN_BUDGET} AS DOUBLE) * wq / wsum
      - FLOOR(CAST({TOKEN_BUDGET} AS DOUBLE) * wq / wsum) AS remainder
  FROM wq CROSS JOIN wsum
),
leftover AS (
  SELECT CAST({TOKEN_BUDGET} - SUM(floor_quota) AS BIGINT) AS leftover FROM with_exact
)
SELECT source, tokens, exact_quota, floor_quota,
  CAST(row_number() OVER (ORDER BY remainder DESC, source ASC) AS BIGINT) AS remainder_rank,
  floor_quota + CASE WHEN row_number() OVER (ORDER BY remainder DESC, source ASC)
                       <= leftover THEN 1 ELSE 0 END AS final_quota
FROM with_exact CROSS JOIN leftover
ORDER BY source
"""


# ---------------------------------------------------------------------------
# E86 — score-distribution drift (PSI): the population stability index of
# the composite quality score between the existing corpus and the
# incoming arrival batch (E68's split) over 10 fixed score deciles with
# add-1/2 smoothing. PSI is THE production drift monitor for any scorer:
# < 0.1 stable, 0.1-0.25 drifting, > 0.25 retrain/investigate — run it
# before trusting yesterday's quality threshold on today's crawl.
#
# Scale: two combinable bucket-count aggregates over the map-only score
# projection; the PSI math runs on 10 rows.
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10
PSI_SMOOTH = 0.5


def score_drift(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.dedup import _inc_is_incoming
    from collector_spark.ml.textstats import quality_score

    scores = quality_score(spark).select("doc_id", "quality_score")
    docs = spark.table("documents").select("doc_id")
    split = docs.withColumn("incoming", _inc_is_incoming())
    bucket = F.least(
        F.floor(F.col("quality_score") * PSI_BUCKETS), F.lit(PSI_BUCKETS - 1)
    ).cast("long")
    tagged = scores.join(split, "doc_id").select(
        bucket.alias("bucket"), "incoming"
    )
    # dense 10-bucket frame so empty buckets still contribute smoothed mass
    frame = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    counts = (
        frame.join(
            tagged.groupBy("bucket").agg(
                F.sum(F.when(~F.col("incoming"), 1).otherwise(0))
                .cast("long")
                .alias("n_existing"),
                F.sum(F.when(F.col("incoming"), 1).otherwise(0))
                .cast("long")
                .alias("n_incoming"),
            ),
            "bucket",
            "left",
        )
        .select(
            "bucket",
            F.coalesce("n_existing", F.lit(0)).cast("long").alias("n_existing"),
            F.coalesce("n_incoming", F.lit(0)).cast("long").alias("n_incoming"),
        )
    )
    totals = counts.agg(
        F.sum("n_existing").cast("long").alias("te"),
        F.sum("n_incoming").cast("long").alias("ti"),
    )
    p = (F.col("n_existing").cast("double") + PSI_SMOOTH) / (
        F.col("te").cast("double") + PSI_SMOOTH * PSI_BUCKETS
    )
    q = (F.col("n_incoming").cast("double") + PSI_SMOOTH) / (
        F.col("ti").cast("double") + PSI_SMOOTH * PSI_BUCKETS
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "n_existing",
            "n_incoming",
            p.alias("p_existing"),
            q.alias("q_incoming"),
            # floor-quantized on the shared 2^20 grid: Java's Math.log and
            # libm log may differ in the last ulp for the same argument —
            # the same cross-engine hazard the NLL scores pin this way
            (_qgrid((p - q) * F.log(p / q)) / F.lit(float(NB_SCALE))).alias(
                "psi_contrib"
            ),
        )
        .orderBy("bucket")
    )


def oracle_score_drift() -> str:
    from collector_spark.ml.dedup import INC_BATCH_MOD, INC_BATCH_REM
    from collector_spark.ml.textstats import oracle_quality_score

    qs = oracle_quality_score().rsplit("ORDER BY", 1)[0]
    sm = PSI_SMOOTH
    sb = PSI_SMOOTH * PSI_BUCKETS
    return f"""
WITH qs AS ({qs}),
tagged AS (
  SELECT LEAST(CAST(FLOOR(q.quality_score * {PSI_BUCKETS}) AS BIGINT), {PSI_BUCKETS - 1}) AS bucket,
    d.doc_id % {INC_BATCH_MOD} = {INC_BATCH_REM} AS incoming
  FROM qs q JOIN documents d USING (doc_id)
),
frame AS (SELECT unnest(generate_series(0, {PSI_BUCKETS - 1})) AS bucket),
counts AS (
  SELECT f.bucket,
    CAST(COALESCE(SUM(CASE WHEN NOT t.incoming THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_existing,
    CAST(COALESCE(SUM(CASE WHEN t.incoming THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_incoming
  FROM frame f LEFT JOIN tagged t ON t.bucket = f.bucket
  GROUP BY f.bucket
),
totals AS (
  SELECT CAST(SUM(n_existing) AS BIGINT) AS te, CAST(SUM(n_incoming) AS BIGINT) AS ti
  FROM counts
)
SELECT bucket, n_existing, n_incoming,
  (CAST(n_existing AS DOUBLE) + {sm}) / (CAST(te AS DOUBLE) + {sb}) AS p_existing,
  (CAST(n_incoming AS DOUBLE) + {sm}) / (CAST(ti AS DOUBLE) + {sb}) AS q_incoming,
  FLOOR(((CAST(n_existing AS DOUBLE) + {sm}) / (CAST(te AS DOUBLE) + {sb})
   - (CAST(n_incoming AS DOUBLE) + {sm}) / (CAST(ti AS DOUBLE) + {sb}))
  * ln(((CAST(n_existing AS DOUBLE) + {sm}) / (CAST(te AS DOUBLE) + {sb}))
       / ((CAST(n_incoming AS DOUBLE) + {sm}) / (CAST(ti AS DOUBLE) + {sb})))
  * {NB_SCALE}) / CAST({NB_SCALE} AS DOUBLE) AS psi_contrib
FROM counts CROSS JOIN totals
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# E99 — token-budget quality cutoff: "we can afford B training tokens —
# where does the quality bar land?" The scale-correct form of `ORDER BY
# quality DESC LIMIT <budget tokens>`: a global sort of the corpus is
# replaced by (1) a bounded 256-cell quality-score histogram with token
# mass per cell, (2) a cumulative fold over the CELLS (<=256 rows — the
# single-partition window is over the bounded grid, never the corpus),
# and (3) an exact (score DESC, doc_id) ranking confined to the one
# MARGINAL cell the budget boundary lands in. Production raises the grid
# resolution so the marginal cell stays small; every other document gets
# its keep decision from a broadcast join against the 256-row cell table.
# Integer token sums throughout, so the cumulative math is engine-exact.
# ---------------------------------------------------------------------------

CUTOFF_GRID = 256
CUTOFF_BUDGET_FRAC = 0.5


def token_budget_cutoff(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.textstats import quality_score

    q = quality_score(spark).select(
        "doc_id",
        F.col("n_words").cast("long").alias("ws_tokens"),
        F.coalesce(F.col("quality_score"), F.lit(0.0)).alias("score"),
    )
    bucket = F.least(
        F.floor(F.col("score") * CUTOFF_GRID), F.lit(CUTOFF_GRID - 1)
    ).cast("int")
    d = q.select("doc_id", "ws_tokens", "score", bucket.alias("score_bucket"))

    cells = d.groupBy("score_bucket").agg(
        F.sum("ws_tokens").cast("long").alias("bucket_tokens")
    )
    # bounded window: <= CUTOFF_GRID rows by construction
    wcum = Window.orderBy(F.col("score_bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cells = cells.withColumn(
        "cum_tokens", F.sum("bucket_tokens").over(wcum).cast("long")
    ).withColumn("prev_cum", (F.col("cum_tokens") - F.col("bucket_tokens")))
    total = d.agg(F.sum("ws_tokens").cast("long").alias("total_tokens"))
    cells = cells.crossJoin(F.broadcast(total)).withColumn(
        "budget",
        F.floor(F.col("total_tokens") * F.lit(CUTOFF_BUDGET_FRAC)).cast("long"),
    )
    region = (
        F.when(F.col("cum_tokens") <= F.col("budget"), F.lit("above"))
        .when(F.col("prev_cum") >= F.col("budget"), F.lit("below"))
        .otherwise(F.lit("marginal"))
    )
    cell_table = cells.select(
        "score_bucket", "prev_cum", "budget", region.alias("region")
    )
    joined = d.join(F.broadcast(cell_table), "score_bucket")

    plain = joined.filter(F.col("region") != "marginal").select(
        "doc_id",
        "ws_tokens",
        "score_bucket",
        "region",
        (F.col("region") == "above").alias("keep"),
    )
    # exact ranking ONLY inside the marginal grid cell
    wmarg = Window.partitionBy("score_bucket").orderBy(
        F.col("score").desc(), F.col("doc_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    marginal = joined.filter(F.col("region") == "marginal").select(
        "doc_id",
        "ws_tokens",
        "score_bucket",
        "region",
        (
            F.col("prev_cum") + F.sum("ws_tokens").over(wmarg).cast("long")
            <= F.col("budget")
        ).alias("keep"),
    )
    return plain.unionByName(marginal).orderBy("doc_id")


def oracle_token_budget_cutoff() -> str:
    from collector_spark.ml.textstats import oracle_quality_score

    qs = oracle_quality_score().rsplit("ORDER BY", 1)[0]
    g = CUTOFF_GRID
    return f"""
WITH q AS ({qs}),
d AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS ws_tokens,
         COALESCE(quality_score, 0.0) AS score,
         CAST(LEAST(FLOOR(COALESCE(quality_score, 0.0) * {g}), {g - 1}) AS INT) AS score_bucket
  FROM q
),
tot AS (SELECT CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens FROM d),
bt AS (
  SELECT score_bucket, CAST(SUM(ws_tokens) AS BIGINT) AS bucket_tokens
  FROM d GROUP BY score_bucket
),
cells AS (
  SELECT score_bucket, bucket_tokens,
    CAST(SUM(bucket_tokens) OVER (ORDER BY score_bucket DESC) AS BIGINT) AS cum_tokens,
    CAST(SUM(bucket_tokens) OVER (ORDER BY score_bucket DESC) - bucket_tokens AS BIGINT) AS prev_cum,
    CAST(FLOOR(t.total_tokens * {CUTOFF_BUDGET_FRAC}) AS BIGINT) AS budget
  FROM bt, tot t
),
ct AS (
  SELECT score_bucket, prev_cum, budget,
    CASE WHEN cum_tokens <= budget THEN 'above'
         WHEN prev_cum >= budget THEN 'below'
         ELSE 'marginal' END AS region
  FROM cells
),
j AS (SELECT d.*, ct.prev_cum, ct.budget, ct.region FROM d JOIN ct USING (score_bucket))
SELECT doc_id, ws_tokens, score_bucket, region, region = 'above' AS keep
FROM j WHERE region <> 'marginal'
UNION ALL
SELECT doc_id, ws_tokens, score_bucket, region,
  prev_cum + CAST(SUM(ws_tokens) OVER (
    PARTITION BY score_bucket ORDER BY score DESC, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) <= budget AS keep
FROM j WHERE region = 'marginal'
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E104 — tokenizer fertility report: the per-source acceptance table read
# before adopting a trained tokenizer (fertility = tokens per word;
# chars per token = the compression the vocab actually buys on each
# source). Shares E91's exact pipeline — the E89-trained merges applied
# to the bounded distinct-word vocabulary, joined back to the corpus word
# explosion — then folds per SOURCE instead of per doc, so the two
# reports reconcile by construction (sum over sources == sum over docs,
# test-pinned). A source whose fertility stays near its character
# baseline is a source the vocab was not trained for — the signal this
# table exists to surface.
#
# Scale: identical to bpe_encode (the vocab relation is bounded and
# checkpointed per round; the corpus is scanned once for the word counts
# and once for the final join), with the final groupBy on the bounded
# source key.
# ---------------------------------------------------------------------------


def tokenizer_fertility(
    spark: SparkSession, rounds: int = BPE_ENCODE_ROUNDS
) -> DataFrame:
    tok_per_word = _bpe_tokens_per_word(spark, rounds)
    words = _doc_words(spark, "doc_id", "source")
    return (
        words.join(tok_per_word, "w", "left")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.coalesce(F.col("w_tokens"), F.lit(1)))
            .cast("long")
            .alias("n_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_word_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_word_chars",
            (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
                "tokens_per_word"
            ),
            (
                F.col("n_word_chars").cast("double") / F.col("n_tokens").cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


def oracle_tokenizer_fertility(rounds: int = BPE_ENCODE_ROUNDS) -> str:
    # E91's CTE chain with the source carried through the word explosion
    # and the final fold grouped by source
    base = oracle_bpe_encode(rounds)
    head, _, _ = base.rpartition("SELECT doc_id,")
    head = head.replace(
        "SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w",
        "SELECT doc_id, source, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w",
    )
    return (
        head
        + """SELECT source,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(COALESCE(w_tokens, 1)) AS BIGINT) AS n_tokens,
  CAST(SUM(length(w)) AS BIGINT) AS n_word_chars,
  CAST(SUM(COALESCE(w_tokens, 1)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
    AS tokens_per_word,
  CAST(SUM(length(w)) AS DOUBLE) / CAST(SUM(COALESCE(w_tokens, 1)) AS DOUBLE)
    AS chars_per_token
FROM words LEFT JOIN tokw USING (w)
GROUP BY source
ORDER BY source
"""
    )


# ---------------------------------------------------------------------------
# E108 — per-source boilerplate-line detection (the CCNet/OSCAR template
# strip — Wenzek et al. 2020 drop lines repeated across many pages of a
# domain: nav bars, cookie banners, footers): a line is boilerplate within
# its source when it occurs in >= BOILER_MIN_DOCS distinct documents AND
# in more than BOILER_DOC_PCT percent of that source's documents. Differs
# from E88 line dedup (which keeps the FIRST copy) — boilerplate is
# template text where NO copy belongs in the training corpus. Emits the
# per-document strip audit a curation owner reads next to ml_line_dedup.
#
# Scale: the fold to per-(source, doc, line) counts is ONE shuffle keyed
# on (source, doc_id, line_text); the corpus-frequency flag rides a
# groupBy on its prefix (source, line_text) and the per-source doc totals
# are a bounded dimension (broadcast). The flag join back is co-keyed
# with the flag groupBy. The threshold compare is integer
# (100 * n_docs_with > PCT * src_docs) so the boundary has no float edge.
# At 100 TB the line keys on a 128-bit hash (narrow shuffle rows) and the
# fold is exactly the additive state the streaming twin keeps
# (streaming/doc_stream.py stream_boilerplate) — counts are additive, a
# document arrives whole, hence batch-equal under any arrival batching.
# ---------------------------------------------------------------------------

BOILER_MIN_DOCS = 3
BOILER_DOC_PCT = 5


def _doc_line_counts(lines: DataFrame) -> DataFrame:
    """The shared fold: per-(source, doc, line) row counts. Additive, so
    the SAME expression is the streaming twin's state."""
    return lines.groupBy("source", "doc_id", "line_text").agg(
        F.count("*").cast("long").alias("n_rows")
    )


def boilerplate_from_doc_line_counts(
    spark: SparkSession, dlc: DataFrame, docs: DataFrame | None = None
) -> DataFrame:
    """E108's report stage over the folded (source, doc_id, line_text,
    n_rows) relation — shared by the batch form and the streaming twin
    (crafted tests pass their own docs relation for the source totals)."""
    docs = spark.table("documents") if docs is None else docs
    src_tot = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("src_docs")
    )
    # distinct column names on the flag side: the flag branch derives from
    # dlc and joins back to it — identical attribute ids fail resolution
    # when dlc is a memory-sink view (the ST23 lesson)
    flags = (
        dlc.select(
            F.col("source").alias("f_source"), F.col("line_text").alias("f_line")
        )
        .groupBy("f_source", "f_line")
        .agg(F.count("*").cast("long").alias("n_docs_with"))
        .join(F.broadcast(src_tot.select(F.col("source").alias("f_source"), "src_docs")), "f_source")
        .select(
            "f_source",
            "f_line",
            (
                (F.col("n_docs_with") >= BOILER_MIN_DOCS)
                & (100 * F.col("n_docs_with") > BOILER_DOC_PCT * F.col("src_docs"))
            ).alias("is_boiler"),
        )
    )
    ll = F.length("line_text").cast("long")
    joined = dlc.join(
        flags,
        (F.col("source") == F.col("f_source")) & (F.col("line_text") == F.col("f_line")),
    )
    return (
        joined.groupBy("doc_id", "source")
        .agg(
            F.sum("n_rows").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("is_boiler"), F.col("n_rows")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_boiler_lines"),
            F.sum(F.when(F.col("is_boiler"), F.col("n_rows") * ll).otherwise(F.lit(0)))
            .cast("long")
            .alias("boiler_chars"),
            F.sum(F.col("n_rows") * ll).cast("long").alias("total_chars"),
        )
        .select(
            "doc_id",
            "source",
            "n_lines",
            "n_boiler_lines",
            "boiler_chars",
            "total_chars",
            (
                (F.col("total_chars") - F.col("boiler_chars")).cast("double")
                / F.col("total_chars")
            ).alias("kept_char_frac"),
        )
        .orderBy("doc_id")
    )


def boilerplate_lines(spark: SparkSession) -> DataFrame:
    # the folded counts feed two consumers (the corpus-frequency flag and
    # the per-doc audit join) — materialize once, the E103 discipline
    dlc = _doc_line_counts(spark.table("doc_lines")).localCheckpoint(eager=False)
    return boilerplate_from_doc_line_counts(spark, dlc)


def oracle_boilerplate_lines() -> str:
    return f"""
WITH dlc AS (
  SELECT source, doc_id, line_text, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM doc_lines GROUP BY source, doc_id, line_text
),
src_tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs FROM documents GROUP BY source
),
flags AS (
  SELECT d.source, d.line_text,
    (COUNT(*) >= {BOILER_MIN_DOCS}
     AND 100 * COUNT(*) > {BOILER_DOC_PCT} * MAX(s.src_docs)) AS is_boiler
  FROM dlc d JOIN src_tot s ON s.source = d.source
  GROUP BY d.source, d.line_text
)
SELECT d.doc_id, d.source,
  CAST(SUM(d.n_rows) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN f.is_boiler THEN d.n_rows ELSE 0 END) AS BIGINT)
    AS n_boiler_lines,
  CAST(SUM(CASE WHEN f.is_boiler THEN d.n_rows * length(d.line_text) ELSE 0 END)
    AS BIGINT) AS boiler_chars,
  CAST(SUM(d.n_rows * length(d.line_text)) AS BIGINT) AS total_chars,
  CAST(SUM(d.n_rows * length(d.line_text))
       - SUM(CASE WHEN f.is_boiler THEN d.n_rows * length(d.line_text) ELSE 0 END)
    AS DOUBLE) / SUM(d.n_rows * length(d.line_text)) AS kept_char_frac
FROM dlc d
JOIN flags f ON f.source = d.source AND f.line_text = d.line_text
GROUP BY d.doc_id, d.source
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# E109 — PMI collocation table (Church & Hanks 1990 — the association
# ranking behind multi-word vocab entries and tokenizer merge audits):
# over adjacent word pairs, lift(w1, w2) = P(w1 w2) / (P(w1 ·) P(· w2))
# = c12 * N / (c1 * c2) in the bigram event space (lift = e^PMI; reported
# instead of the log so every emitted number is either an exact BIGINT or
# ONE IEEE division of exact integers — no libm transcendental in the
# compared output, the E103 integer-envelope discipline). A pair
# qualifies at c12 >= PMI_MIN_COUNT and integer-exact lift >= PMI_MIN_LIFT
# (c12 * N >= LIFT * c1 * c2 — no float boundary).
#
# Scale: one bigram explode + groupBy(w1, w2) shuffle; the margin totals
# are groupBys OVER the bigram counts (vocab-bounded, not corpus-bounded)
# joined back on w1/w2 (AQE broadcasts them at small vocab, shuffles at
# web vocab); the event total is a 1-row broadcast. Integer envelope:
# c12 * N < 2^63 holds to ~3e9 bigrams per margin key; a 100 TB corpus
# lifts the products to DECIMAL(38,0), nothing else changes.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_MIN_LIFT = 2


def _word_pair_counts(docs: DataFrame, window: int) -> DataFrame:
    """(w1, w2, n_pair): counts of the ordered word pairs at most
    ``window`` apart. Additive groupBy, so the SAME expression folds the
    streaming twins' state (st_ml_pmi, st_ml_skipgram) — batch-equal under
    any arrival batching."""
    wl = docs.select(_tokens().alias("wl"))
    return (
        _token_pairs(wl, "wl", window=window)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_pair"))
    )


def _bigram_pair_counts(docs: DataFrame) -> DataFrame:
    return _word_pair_counts(docs, 1)


def pmi_from_pair_counts(c12: DataFrame) -> DataFrame:
    """E109's report stage over a (w1, w2, n_pair) relation — shared by
    the batch form and the streaming twin. Margin sides carry renamed
    columns (the memory-sink self-join resolution hazard — the ST23
    lesson)."""
    left = (
        c12.select(F.col("w1").alias("lw1"), "n_pair")
        .groupBy("lw1")
        .agg(F.sum("n_pair").cast("long").alias("n_left"))
    )
    right = (
        c12.select(F.col("w2").alias("rw2"), "n_pair")
        .groupBy("rw2")
        .agg(F.sum("n_pair").cast("long").alias("n_right"))
    )
    total = c12.agg(F.sum("n_pair").cast("long").alias("n_bigrams"))
    return (
        c12.join(left, F.col("w1") == F.col("lw1"))
        .join(right, F.col("w2") == F.col("rw2"))
        .crossJoin(F.broadcast(total))
        .filter(
            (F.col("n_pair") >= PMI_MIN_COUNT)
            & (
                F.col("n_pair") * F.col("n_bigrams")
                >= PMI_MIN_LIFT * F.col("n_left") * F.col("n_right")
            )
        )
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_left",
            "n_right",
            "n_bigrams",
            (
                (F.col("n_pair") * F.col("n_bigrams")).cast("double")
                / (F.col("n_left") * F.col("n_right")).cast("double")
            ).alias("lift"),
        )
        .orderBy("w1", "w2")
    )


def pmi_collocations(
    spark: SparkSession, docs: DataFrame | None = None
) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    # the pair counts feed four consumers (left margin, right margin,
    # event total, and the qualifying rows) — materialize once
    return pmi_from_pair_counts(
        _bigram_pair_counts(docs).localCheckpoint(eager=False)
    )


def oracle_pmi_collocations() -> str:
    return rf"""
WITH wl AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents
),
bg AS (
  SELECT wl[CAST(i AS INT)] AS w1, wl[CAST(i AS INT) + 1] AS w2
  FROM wl, LATERAL (
    SELECT unnest(generate_series(1, len(wl) - 1)) AS i) u
  WHERE len(wl) >= 2
),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2
),
lft AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_left FROM c12 GROUP BY w1),
rgt AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_right FROM c12 GROUP BY w2),
tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bigrams FROM c12)
SELECT c.w1, c.w2, c.n_pair, l.n_left, r.n_right, t.n_bigrams,
  CAST(c.n_pair * t.n_bigrams AS DOUBLE)
    / CAST(l.n_left * r.n_right AS DOUBLE) AS lift
FROM c12 c
JOIN lft l ON l.w1 = c.w1
JOIN rgt r ON r.w2 = c.w2
CROSS JOIN tot t
WHERE c.n_pair >= {PMI_MIN_COUNT}
  AND c.n_pair * t.n_bigrams >= {PMI_MIN_LIFT} * l.n_left * r.n_right
ORDER BY c.w1, c.w2
"""


# ---------------------------------------------------------------------------
# E113 — trained QUALITY classifier (the GPT-3/LLaMA pipeline shape: a
# linear bag-of-words classifier trained to separate "good" from "bad"
# text, then run over the whole crawl — Brown et al. 2020 §A; here
# multinomial Naive Bayes self-trained on the E71 Gopher document-rule
# labels, the same quantized-log machinery as E110's language
# classifier). Per document: the rule label, the classifier's verdict,
# and the INTEGER log-odds margin — the score a production pipeline
# thresholds or importance-samples on (Pareto-sampling per Brown et al.
# needs exactly this margin column).
#
# Engine exactness: E110's discipline — every log argument an exact
# integer, quantized once onto the 2^20 grid, int64 accumulation; the
# verdict is an integer sign test (ties predict keep).
#
# Scale: labels ride E71's map-only rule pass; the model is one
# combinable groupBy(label, tok) (vocab x 2); scoring joins per-doc tf
# against the model on the token ONCE — both class sums fold in the same
# doc-keyed aggregate (conditional sums, no per-class grid, no window).
# ---------------------------------------------------------------------------


def nb_quality(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    return _nb_quality_core(spark, docs).orderBy("doc_id")


def _nbq_token_rows(docs: DataFrame) -> DataFrame:
    """(label_keep, tok) training rows for the E113 classifier: every
    token labeled INLINE by the row-local E71 rule expression (no label
    join — streamable), plus one NB_DOC_MARKER row per doc carrying the
    class priors (the E110/ST27 marker trick). Row-local projection +
    union."""
    from collector_spark.ml.textstats import NB_DOC_MARKER

    keep = _gopher_exprs()["keep"]
    toks = docs.select(
        keep.alias("label_keep"),
        F.explode(_tokens()).alias("tok"),
    )
    markers = docs.select(
        keep.alias("label_keep"), F.lit(NB_DOC_MARKER).alias("tok")
    )
    return toks.unionByName(markers)


def _nbq_counts(rows: DataFrame) -> DataFrame:
    """The additive fold: (label_keep, tok, c) — the streaming twin's
    state (st_ml_nb_quality)."""
    return rows.groupBy("label_keep", "tok").agg(
        F.count("*").cast("long").alias("c")
    )


# quantized-log(0) stand-in for a class with zero training documents:
# far below any reachable quantized-log difference (see the guard note in
# nb_quality_from_counts) yet safely inside int64 after summation
NB_ABSENT_PRIOR = -(1 << 60)


def _nbq_doc_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf, label_keep): per-doc token frequencies with the
    row-local rule label — the one token explode the batch scorer runs
    (r12 optimization, see nb_quality_from_counts)."""
    return (
        docs.select(
            "doc_id",
            _gopher_exprs()["keep"].alias("label_keep"),
            F.explode(_tokens()).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.first("label_keep").alias("label_keep"),
        )
    )


def nb_quality_from_counts(
    spark: SparkSession, counts: DataFrame, docs: DataFrame,
    tf: DataFrame | None = None,
) -> DataFrame:
    """E113's scoring stage over the folded (label_keep, tok, c) state —
    shared by the batch form and the streaming twin. Derivations of
    `counts` carry renamed columns (the memory-sink self-join
    discipline). ``tf`` optionally supplies a pre-built (and ideally
    checkpointed) per-doc token-frequency relation; it feeds two branches
    (the class sums and the doc length), so when absent the derivation is
    checkpointed here rather than exploded twice (r12 optimization)."""
    from collector_spark.ml.textstats import NB_DOC_MARKER

    model = counts.filter(F.col("tok") != NB_DOC_MARKER).select(
        F.col("label_keep").alias("m_cls"),
        F.col("tok").alias("m_tok"),
        F.col("c").alias("mc"),
    )
    priors = counts.filter(F.col("tok") == NB_DOC_MARKER).select(
        F.col("label_keep").alias("p_cls"), F.col("c").alias("d")
    )
    vocab = model.select("m_tok").distinct().agg(
        F.count("*").cast("long").alias("v")
    )
    if tf is None:
        tf = _nbq_doc_tf(docs).localCheckpoint(eager=False)
    cls = (
        model.groupBy("m_cls")
        .agg(F.sum("mc").cast("long").alias("t"))
        .join(priors, F.col("m_cls") == F.col("p_cls"))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("m_cls").alias("cls"),
            _qlog(F.col("t") + F.col("v")).alias("q_denom"),
            _qlog(F.col("d")).alias("q_prior"),
        )
    )
    # both class sums in ONE doc-keyed aggregate: tf joins the model on
    # the token, the class splits into conditional sums
    m = model.select(
        F.col("m_cls"), F.col("m_tok").alias("tok"), _qlog(F.col("mc") + 1).alias("lq")
    )
    sums = (
        tf.join(m, "tok")
        .groupBy("doc_id")
        .agg(
            F.first("label_keep").alias("label_keep"),
            F.sum("tf").cast("long").alias("n_tok_x2"),
            F.sum(F.when(F.col("m_cls"), F.col("tf") * F.col("lq")).otherwise(0))
            .cast("long")
            .alias("s_keep"),
            F.sum(F.when(~F.col("m_cls"), F.col("tf") * F.col("lq")).otherwise(0))
            .cast("long")
            .alias("s_drop"),
        )
    )
    # Degenerate-corpus guard: if every document carries the SAME rule
    # label, one class side of `cls` is empty and a bare per-side crossJoin
    # would annihilate every row. Fold BOTH sides in ONE 1-row aggregate
    # instead (conditional MAX per side — null when the class is absent)
    # and substitute the true Laplace denominator for T=0 (ln(0+V)) plus a
    # quantized-log(0) prior sentinel, so a one-class corpus
    # deterministically predicts its only trained class instead of
    # returning nothing. The sentinel dominates every other term:
    # |s_keep - s_drop| and n_tok * |qd_keep - qd_drop| are each
    # < n_tok * 64 * 2^20 < 2^57 for any n_tok < 2^31, and
    # 2^60 + 2 * 2^57 still fits int64.
    def _side(cond: "F.Column", col: str) -> "F.Column":
        return F.max(F.when(cond, F.col(col)))

    cboth = (
        cls.agg(
            _side(F.col("cls"), "q_denom").alias("qdk0"),
            _side(F.col("cls"), "q_prior").alias("qpk0"),
            _side(~F.col("cls"), "q_denom").alias("qdd0"),
            _side(~F.col("cls"), "q_prior").alias("qpd0"),
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            F.coalesce(F.col("qdk0"), _qlog(F.col("v"))).alias("qd_keep"),
            F.coalesce(F.col("qpk0"), F.lit(NB_ABSENT_PRIOR)).alias("qp_keep"),
            F.coalesce(F.col("qdd0"), _qlog(F.col("v"))).alias("qd_drop"),
            F.coalesce(F.col("qpd0"), F.lit(NB_ABSENT_PRIOR)).alias("qp_drop"),
        )
    )
    # n_tok_x2 double-counts tf once per matched class row; every token
    # matches BOTH class rows only if it occurs under both labels — so
    # recover n_tok exactly from its own fold instead
    doc_n = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("n_tok"))
    logodds = (
        F.col("s_keep")
        - F.col("s_drop")
        - F.col("n_tok") * (F.col("qd_keep") - F.col("qd_drop"))
        + (F.col("qp_keep") - F.col("qp_drop"))
    )
    return (
        sums.drop("n_tok_x2")
        .join(doc_n, "doc_id")
        .crossJoin(F.broadcast(cboth))
        .select(
            "doc_id",
            "label_keep",
            logodds.alias("logodds_q"),
            (logodds >= 0).alias("pred_keep"),
            ((logodds >= 0) == F.col("label_keep")).alias("agree"),
        )
    )


def _nb_quality_core(
    spark: SparkSession, docs: DataFrame | None = None
) -> DataFrame:
    """ONE token explode per scoring run (r12 optimization; previously
    three): the per-doc TF relation is built and checkpointed once, the
    (label_keep, tok, c) model counts FOLD FROM IT (sum of per-doc counts
    per label — value-identical to counting the exploded rows, which is
    what the streaming twin still does over its state), and the marker
    rows ride a row-local projection of ``docs``. The scorer reads the
    checkpointed tf for both of its branches."""
    from collector_spark.ml.textstats import NB_DOC_MARKER

    docs = spark.table("documents") if docs is None else docs
    tf = _nbq_doc_tf(docs).localCheckpoint(eager=False)
    markers = docs.select(
        _gopher_exprs()["keep"].alias("label_keep"),
        F.lit(NB_DOC_MARKER).alias("tok"),
        F.lit(1).cast("long").alias("c"),
    )
    # the trailing fold merges a (pathological) corpus token equal to the
    # marker into one row, exactly as the old single groupBy over the
    # exploded rows did — O(vocab) rows, trivial
    counts = (
        tf.groupBy("label_keep", "tok")
        .agg(F.sum("tf").cast("long").alias("c"))
        .unionByName(markers)
        .groupBy("label_keep", "tok")
        .agg(F.sum("c").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    return nb_quality_from_counts(spark, counts, docs, tf=tf)


def oracle_nb_quality() -> str:
    labels_inner = oracle_gopher_filters().rsplit("ORDER BY", 1)[0]
    return rf"""
WITH lab AS (SELECT doc_id, keep AS label_keep FROM ({labels_inner}) g),
toks AS (
  SELECT d.doc_id, l.label_keep,
    unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS tok
  FROM documents d JOIN lab l ON l.doc_id = d.doc_id
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
    MAX(label_keep) AS label_keep
  FROM toks GROUP BY doc_id, tok
),
model AS (
  SELECT label_keep AS m_cls, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY label_keep, tok
),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
cls AS (
  SELECT m.m_cls AS cls,
    {_sql_qlog('t.t + vo.v')} AS q_denom,
    {_sql_qlog('p.d')} AS q_prior
  FROM (SELECT m_cls, CAST(SUM(c) AS BIGINT) AS t FROM model GROUP BY m_cls) t
  JOIN (SELECT m_cls FROM model GROUP BY m_cls) m ON m.m_cls = t.m_cls
  JOIN (SELECT label_keep, CAST(COUNT(*) AS BIGINT) AS d
        FROM lab GROUP BY label_keep) p ON p.label_keep = t.m_cls
  CROSS JOIN vocab vo
),
sums AS (
  SELECT f.doc_id, MAX(f.label_keep) AS label_keep,
    CAST(SUM(CASE WHEN m.m_cls THEN f.tf * {_sql_qlog('m.c + 1')} ELSE 0 END) AS BIGINT)
      AS s_keep,
    CAST(SUM(CASE WHEN NOT m.m_cls THEN f.tf * {_sql_qlog('m.c + 1')} ELSE 0 END) AS BIGINT)
      AS s_drop
  FROM tf f JOIN model m ON m.tok = f.tok
  GROUP BY f.doc_id
),
doc_n AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok FROM tf GROUP BY doc_id),
-- Degenerate-corpus guard, mirroring nb_quality_from_counts' cboth fold:
-- on a one-class corpus one side of cls is empty, and the old per-side
-- CROSS JOINs (WHERE cls / WHERE NOT cls) annihilated every row. Fold
-- both sides in ONE ungrouped aggregate (always exactly 1 row, NULL for
-- the absent side) and substitute ln(0 + V) for the missing denominator
-- plus the NB_ABSENT_PRIOR sentinel for the missing prior.
cagg AS (
  SELECT MAX(CASE WHEN cls THEN q_denom END) AS qdk0,
         MAX(CASE WHEN cls THEN q_prior END) AS qpk0,
         MAX(CASE WHEN NOT cls THEN q_denom END) AS qdd0,
         MAX(CASE WHEN NOT cls THEN q_prior END) AS qpd0
  FROM cls
),
cboth AS (
  SELECT COALESCE(cagg.qdk0, {_sql_qlog('vo.v')}) AS qd_keep,
         COALESCE(cagg.qpk0, {NB_ABSENT_PRIOR}) AS qp_keep,
         COALESCE(cagg.qdd0, {_sql_qlog('vo.v')}) AS qd_drop,
         COALESCE(cagg.qpd0, {NB_ABSENT_PRIOR}) AS qp_drop
  FROM cagg CROSS JOIN vocab vo
),
lo AS (
  SELECT s.doc_id, s.label_keep,
    s.s_keep - s.s_drop
      - n.n_tok * (cb.qd_keep - cb.qd_drop)
      + (cb.qp_keep - cb.qp_drop) AS logodds_q
  FROM sums s
  JOIN doc_n n ON n.doc_id = s.doc_id
  CROSS JOIN cboth cb
)
SELECT doc_id, label_keep, logodds_q,
  logodds_q >= 0 AS pred_keep,
  (logodds_q >= 0) = label_keep AS agree
FROM lo
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E115 — windowed SKIP-GRAM co-occurrence PMI (the word2vec/GloVe
# co-occurrence builder — Mikolov et al. 2013 window sampling, Pennington
# et al. 2014 co-occurrence matrix; E109 grades ADJACENT pairs, this
# grades every ordered pair within SKIPGRAM_WINDOW): pair generation is
# ROW-LOCAL (a nested array transform over the token array — the E112
# fingerprint idiom; no self-join on position), then the identical
# margins/lift report as E109 (pmi_from_pair_counts), with the same
# integer envelope.
#
# Scale: explode cost is W rows per token (bounded fan-out, not
# quadratic); one groupBy(w1, w2); margins over the vocab^2-bounded pair
# counts. The co-occurrence relation this emits IS GloVe's input matrix
# in long form.
# ---------------------------------------------------------------------------

SKIPGRAM_WINDOW = 3


def _skipgram_pair_counts(docs: DataFrame) -> DataFrame:
    return _word_pair_counts(docs, SKIPGRAM_WINDOW)


def skipgram_pmi(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    return pmi_from_pair_counts(
        _skipgram_pair_counts(docs).localCheckpoint(eager=False)
    )


def oracle_skipgram_pmi() -> str:
    w = SKIPGRAM_WINDOW
    return rf"""
WITH wl AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents
),
bg AS (
  SELECT wl[CAST(i AS INT)] AS w1, wl[CAST(j AS INT)] AS w2
  FROM wl,
  LATERAL (SELECT unnest(generate_series(1, len(wl) - 1)) AS i) u,
  LATERAL (SELECT unnest(generate_series(i + 1, least(i + {w}, len(wl)))) AS j) v
  WHERE len(wl) >= 2
),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2
),
lft AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_left FROM c12 GROUP BY w1),
rgt AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_right FROM c12 GROUP BY w2),
tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bigrams FROM c12)
SELECT c.w1, c.w2, c.n_pair, l.n_left, r.n_right, t.n_bigrams,
  CAST(c.n_pair * t.n_bigrams AS DOUBLE)
    / CAST(l.n_left * r.n_right AS DOUBLE) AS lift
FROM c12 c
JOIN lft l ON l.w1 = c.w1
JOIN rgt r ON r.w2 = c.w2
CROSS JOIN tot t
WHERE c.n_pair >= {PMI_MIN_COUNT}
  AND c.n_pair * t.n_bigrams >= {PMI_MIN_LIFT} * l.n_left * r.n_right
ORDER BY c.w1, c.w2
"""


# ---------------------------------------------------------------------------
# E116 — quality-margin importance SAMPLING (how GPT-3's pipeline
# actually consumed its quality classifier — Brown et al. 2020 §A keep a
# crawl doc when its score beats a heavy-tailed random draw, so
# borderline text is kept stochastically instead of cliff-thresholded):
# keep doc d iff logit(u_d) < logodds(d), with u_d a deterministic
# per-doc hash uniform — equivalent to keeping with probability
# sigmoid(logodds/2^20), since logit is monotone. There is NO exp and NO
# float compare anywhere: u_d is the exact integer h in [1, M-1],
# logit_q(u) = qlog(h) - qlog(M - h) on the shared 2^20 grid (both log
# arguments exact integers — the E110 discipline), and the keep decision
# is an int64 compare. The decision column is reproducible forever (hash
# of the text, not RNG) — re-running the pipeline keeps the same docs.
#
# Scale: E113's plan + one map-only projection; the decision adds zero
# shuffles.
# ---------------------------------------------------------------------------

QSAMPLE_M = 1 << 20


def quality_sample(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs_t = spark.table("documents") if docs is None else docs
    margins = _nb_quality_core(spark, docs).select(
        "doc_id", "label_keep", "logodds_q"
    )
    h = (
        _hash60(F.concat(F.lit("qsample:"), F.col("text"))) % (QSAMPLE_M - 1) + 1
    ).cast("long")
    hashed = docs_t.select("doc_id", "source", h.alias("h"))
    logit_q = _qlog(F.col("h")) - _qlog(F.lit(QSAMPLE_M) - F.col("h"))
    return (
        margins.join(hashed, "doc_id")
        .select(
            "doc_id",
            "source",
            "label_keep",
            "logodds_q",
            logit_q.alias("logit_q"),
            (F.col("logodds_q") > logit_q).alias("keep"),
        )
        .orderBy("doc_id")
    )


def oracle_quality_sample() -> str:
    margins = oracle_nb_quality().rsplit("ORDER BY", 1)[0]
    salted = "'qsample:' || text"
    h = f"({_sql_hash60(salted)}) % {QSAMPLE_M - 1} + 1"
    return f"""
WITH m AS ({margins}),
hsh AS (SELECT doc_id, source, CAST({h} AS BIGINT) AS h FROM documents)
SELECT m.doc_id, hsh.source, m.label_keep, m.logodds_q,
  {_sql_qlog('hsh.h')} - {_sql_qlog(f'{QSAMPLE_M} - hsh.h')} AS logit_q,
  m.logodds_q > {_sql_qlog('hsh.h')} - {_sql_qlog(f'{QSAMPLE_M} - hsh.h')} AS keep
FROM m JOIN hsh ON hsh.doc_id = m.doc_id
ORDER BY m.doc_id
"""


# ---------------------------------------------------------------------------
# E118/E119 — ROC curve + AUC of the trained quality classifier (the
# evaluation read before trusting E113's verdicts or picking E99's
# threshold; Spark MLlib's BinaryClassificationMetrics computes exactly
# this curve, downsampled to numBins — the binned form IS the production
# shape). Scores are the E113 integer log-odds margins; the curve is per
# occupied score bin (one nat per bin, clamped at +/-NB_ROC_LIM_NATS —
# |logodds| beyond 32 nats is probability saturation): positives,
# negatives, cumulative tp/fp from the top, tpr/fpr. AUC is the binned
# Mann-Whitney U with half-credit ties inside a bin:
#   U2 = sum_b n_pos_b * (2 * negs_strictly_below_b + n_neg_b)
#   AUC = U2 / (2 * P * N)
# Engine exactness: the bin id is floor((clamp(logodds) + LIM) / 2^20) —
# division by a power of two is EXACT in IEEE doubles for these
# magnitudes (< 2^27), so the floor has no cross-engine boundary; every
# count and U2 is int64 arithmetic; tpr/fpr/auc are ONE IEEE division of
# exact integers. Int64 envelope: U2 <= 2 * P * N < 2^63 holds through
# ~2.1e9 documents per class; a corpus beyond that moves U2 to
# DECIMAL(38,0).
#
# Scale: E113's plan + one groupBy(bin) (bounded: <= 2*LIM_NATS + 1
# occupied bins by construction); the cumulative window and the 1-row
# totals run on that bounded relation — never data-scaled. Degenerate
# one-class corpus: tpr or fpr (and auc) are NULL, the counts still
# report.
# ---------------------------------------------------------------------------

NB_ROC_LIM_NATS = 32
# the clamp in grid units: one nat is NB_SCALE on the shared quantized-log
# grid, and one nat is one bin
_ROC_LIM = NB_ROC_LIM_NATS * NB_SCALE


def _margin_bin() -> Column:
    """The one-nat bin (0 .. 2 * NB_ROC_LIM_NATS) of the clamped
    logodds_q margin."""
    clamped = F.greatest(F.lit(-_ROC_LIM), F.least(F.lit(_ROC_LIM), F.col("logodds_q")))
    return F.floor((clamped + F.lit(_ROC_LIM)) / F.lit(float(NB_SCALE))).cast("long")


def _bin_q_lo() -> Column:
    """A bin's lower edge back on the logodds_q scale."""
    return (F.col("bin") * NB_SCALE - _ROC_LIM).cast("long")


def _quality_bin_counts(margins: DataFrame) -> DataFrame:
    """(bin, n_pos, n_neg) over the occupied score bins — the shared fold
    of the ROC curve, the AUC, and the ST30 streaming twin."""
    return margins.select(_margin_bin().alias("bin"), "label_keep").groupBy("bin").agg(
        F.sum(F.col("label_keep").cast("long")).cast("long").alias("n_pos"),
        F.sum((~F.col("label_keep")).cast("long")).cast("long").alias("n_neg"),
    )


def _quality_curve(spark: SparkSession, docs: DataFrame | None, margins=None):
    from pyspark.sql import Window as W

    if margins is None:
        margins = _nb_quality_core(spark, docs)
    bins = _quality_bin_counts(margins)
    tot = bins.agg(
        F.sum("n_pos").cast("long").alias("p_tot"),
        F.sum("n_neg").cast("long").alias("n_tot"),
    )
    # bounded window: <= 2 * NB_ROC_LIM_NATS + 1 occupied bins
    wd = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, 0)
    return (
        bins.withColumn("tp", F.sum("n_pos").over(wd).cast("long"))
        .withColumn("fp", F.sum("n_neg").over(wd).cast("long"))
        .crossJoin(F.broadcast(tot))
    )


def quality_roc(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    return _roc_select(_quality_curve(spark, docs))


def quality_roc_from_margins(margins: DataFrame) -> DataFrame:
    """The ST30 streaming twin's report stage: the identical curve over
    margins scored from a streamed (label, tok) count state."""
    return _roc_select(_quality_curve(None, None, margins=margins))


def _roc_select(curve: DataFrame) -> DataFrame:
    return curve.select(
        "bin",
        _bin_q_lo().alias("q_lo"),
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        F.when(
            F.col("p_tot") > 0, F.col("tp").cast("double") / F.col("p_tot")
        ).alias("tpr"),
        F.when(
            F.col("n_tot") > 0, F.col("fp").cast("double") / F.col("n_tot")
        ).alias("fpr"),
    ).orderBy("bin")


def quality_auc(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    curve = _quality_curve(spark, docs)
    u2_term = F.col("n_pos") * (
        2 * (F.col("n_tot") - F.col("fp")) + F.col("n_neg")
    )
    return (
        curve.agg(
            F.max("p_tot").alias("n_pos"),
            F.max("n_tot").alias("n_neg"),
            F.sum(u2_term).cast("long").alias("u2_num"),
        )
        .select(
            "n_pos",
            "n_neg",
            "u2_num",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("u2_num").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            ).alias("auc"),
        )
    )


_SQL_QUALITY_BINS = """
b AS (
  SELECT CAST(floor((GREATEST(-{lim}, LEAST({lim}, logodds_q)) + {lim})
              / {bin}.0) AS BIGINT) AS bin,
         label_keep
  FROM m
),
bins AS (
  SELECT bin,
    CAST(SUM(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
    CAST(SUM(CASE WHEN label_keep THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM b GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS p_tot,
         CAST(SUM(n_neg) AS BIGINT) AS n_tot
  FROM bins
),
curve AS (
  SELECT bin, n_pos, n_neg,
    CAST(SUM(n_pos) OVER (ORDER BY bin DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
    CAST(SUM(n_neg) OVER (ORDER BY bin DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
  FROM bins
)"""


def _sql_quality_bins() -> str:
    margins = oracle_nb_quality().rsplit("ORDER BY", 1)[0]
    return f"WITH m AS ({margins}),{_SQL_QUALITY_BINS.format(lim=_ROC_LIM, bin=NB_SCALE)}"


def oracle_quality_roc() -> str:
    return f"""
{_sql_quality_bins()}
SELECT c.bin, CAST(c.bin * {NB_SCALE} - {_ROC_LIM} AS BIGINT) AS q_lo,
  c.n_pos, c.n_neg, c.tp, c.fp,
  CASE WHEN t.p_tot > 0 THEN CAST(c.tp AS DOUBLE) / t.p_tot END AS tpr,
  CASE WHEN t.n_tot > 0 THEN CAST(c.fp AS DOUBLE) / t.n_tot END AS fpr
FROM curve c CROSS JOIN tot t
ORDER BY c.bin
"""


def quality_pr(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    """E121 — precision/recall/F1 per candidate cutoff (predict keep iff
    logodds >= the bin's lower edge): the table that actually picks the
    E99/E116 production threshold. Same bounded curve as E118; every
    ratio is ONE IEEE division of exact int64 counts, NULL-guarded on
    empty denominators (one-class corpora still report their counts)."""
    curve = _quality_curve(spark, docs)
    fn = F.col("p_tot") - F.col("tp")
    return curve.select(
        "bin",
        _bin_q_lo().alias("q_lo"),
        "tp",
        "fp",
        fn.cast("long").alias("fn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        F.when(
            F.col("p_tot") > 0, F.col("tp").cast("double") / F.col("p_tot")
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + fn > 0,
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + fn).cast("double"),
        ).alias("f1"),
    ).orderBy("bin")


def oracle_quality_pr() -> str:
    return f"""
{_sql_quality_bins()}
SELECT c.bin, CAST(c.bin * {NB_SCALE} - {_ROC_LIM} AS BIGINT) AS q_lo,
  c.tp, c.fp, CAST(t.p_tot - c.tp AS BIGINT) AS fn,
  CASE WHEN c.tp + c.fp > 0
       THEN CAST(c.tp AS DOUBLE) / (c.tp + c.fp) END AS precision,
  CASE WHEN t.p_tot > 0 THEN CAST(c.tp AS DOUBLE) / t.p_tot END AS recall,
  CASE WHEN 2 * c.tp + c.fp + (t.p_tot - c.tp) > 0
       THEN CAST(2 * c.tp AS DOUBLE) / (2 * c.tp + c.fp + (t.p_tot - c.tp))
       END AS f1
FROM curve c CROSS JOIN tot t
ORDER BY c.bin
"""


# ---------------------------------------------------------------------------
# E124 — padding-waste report (the NO-packing baseline the E43 packing
# audit is judged against): per power-of-two length bucket, what one
# doc = one padded-to-PACK_BUDGET training sequence costs — padded-slot
# waste and truncation loss. The table a trainer reads to decide whether
# packing is worth turning on for a given corpus shape.
#
# Engine exactness: the bucket is floor(log2(n_tokens)) computed as
# length(bin(n)) - 1 — a STRING-length of the binary representation in
# both engines, integer-exact at every power-of-two boundary (a float
# ln(n)/ln(2) would flip at exact powers, the _qlog boundary class);
# kept/truncated/waste are int64 min/max folds; waste_frac is one IEEE
# division of exact integers.
#
# Scale: row-local projection + one groupBy over <= 63 buckets — the
# bounded-key shape, never data-scaled.
# ---------------------------------------------------------------------------


def padding_waste(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    return padding_waste_from_counts(_padwaste_counts(docs))


def _padwaste_counts(docs: DataFrame) -> DataFrame:
    """The additive per-bucket fold (row-local projection + one bounded
    groupBy) — the ST32 streaming twin's state."""
    toks = _n_tokens()
    b = (F.length(F.bin(toks)) - 1).cast("long")
    kept = F.least(toks, F.lit(PACK_BUDGET).cast("long"))
    trunc = F.greatest(toks - PACK_BUDGET, F.lit(0).cast("long"))
    return (
        docs.select(
            b.alias("len_log2"),
            toks.alias("n_tok"),
            kept.alias("kept"),
            trunc.alias("trunc"),
        )
        .groupBy("len_log2")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("kept").cast("long").alias("kept_tokens"),
            F.sum("trunc").cast("long").alias("truncated_tokens"),
        )
    )


def padding_waste_from_counts(counts: DataFrame) -> DataFrame:
    """Report stage over the folded per-bucket counts — shared by the
    batch form and the ST32 streaming twin."""
    budget_tokens = F.col("n_docs") * PACK_BUDGET
    return (
        counts.select(
            "len_log2",
            F.expr("CAST(shiftleft(1L, CAST(len_log2 AS INT)) AS BIGINT)").alias(
                "len_lo"
            ),
            "n_docs",
            "total_tokens",
            "kept_tokens",
            "truncated_tokens",
            (budget_tokens - F.col("kept_tokens")).cast("long").alias("pad_waste"),
            (
                (budget_tokens - F.col("kept_tokens")).cast("double")
                / budget_tokens.cast("double")
            ).alias("waste_frac"),
        )
        .orderBy("len_log2")
    )


def oracle_padding_waste() -> str:
    return rf"""
WITH t AS (
  SELECT CAST(LENGTH(bin(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                   AS BIGINT))) - 1 AS BIGINT) AS len_log2,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents
),
g AS (
  SELECT len_log2,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
    CAST(SUM(LEAST(n_tok, {PACK_BUDGET})) AS BIGINT) AS kept_tokens,
    CAST(SUM(GREATEST(n_tok - {PACK_BUDGET}, 0)) AS BIGINT) AS truncated_tokens
  FROM t GROUP BY len_log2
)
SELECT len_log2, CAST(1 << len_log2 AS BIGINT) AS len_lo,
  n_docs, total_tokens, kept_tokens, truncated_tokens,
  CAST(n_docs * {PACK_BUDGET} - kept_tokens AS BIGINT) AS pad_waste,
  CAST(n_docs * {PACK_BUDGET} - kept_tokens AS DOUBLE)
    / CAST(n_docs * {PACK_BUDGET} AS DOUBLE) AS waste_frac
FROM g
ORDER BY len_log2
"""


# quantile points for E122, in percent (integer math: the p-quantile bin
# is the smallest bin with cum * 100 >= p * n — cum is an integer, so the
# ceil is implicit and no float appears anywhere)
QUANTILE_PCTS = (25, 50, 75, 90)


def quality_margin_quantiles(
    spark: SparkSession, docs: DataFrame | None = None
) -> DataFrame:
    """E122 — per-source quality-margin distribution on the E118 bin
    grid: doc counts plus the p25/p50/p75/p90 margin-bin lower edges —
    the per-source calibration view read next to ml_corpus_balance when
    deciding which sources a threshold cut would gut. Discrete quantiles
    at one-nat granularity: the smallest bin whose ascending cumulative
    count covers p% (exact integer compare, no interpolation, no float).

    Scale: E113's margin plan + one groupBy(source, bin) (bounded:
    sources x <=65 bins); the cumulative window partitions BY SOURCE over
    that bounded relation — never data-scaled."""
    margins = _nb_quality_core(spark, docs)
    docs_t = spark.table("documents") if docs is None else docs
    per = (
        margins.join(docs_t.select("doc_id", "source"), "doc_id")
        .select("source", _margin_bin().alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("source")
    cum = per.withColumn("cum", F.sum("n").over(wc).cast("long")).withColumn(
        "n_docs", F.sum("n").over(wt).cast("long")
    )
    aggs = [F.max("n_docs").alias("n_docs")] + [
        F.min(
            F.when(F.col("cum") * 100 >= F.lit(p) * F.col("n_docs"), _bin_q_lo())
        ).alias(f"q{p}_lo")
        for p in QUANTILE_PCTS
    ]
    return cum.groupBy("source").agg(*aggs).orderBy("source")


def oracle_quality_margin_quantiles() -> str:
    margins = oracle_nb_quality().rsplit("ORDER BY", 1)[0]
    qs = ",\n  ".join(
        f"CAST(MIN(CASE WHEN cum * 100 >= {p} * n_docs"
        f" THEN bin * {NB_SCALE} - {_ROC_LIM} END) AS BIGINT) AS q{p}_lo"
        for p in QUANTILE_PCTS
    )
    return f"""
WITH m AS ({margins}),
b AS (
  SELECT d.source,
    CAST(floor((GREATEST(-{_ROC_LIM}, LEAST({_ROC_LIM}, m.logodds_q)) + {_ROC_LIM})
         / {NB_SCALE}.0) AS BIGINT) AS bin
  FROM m JOIN documents d ON d.doc_id = m.doc_id
),
per AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY source, bin),
cum AS (
  SELECT source, bin, n,
    CAST(SUM(n) OVER (PARTITION BY source ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS n_docs
  FROM per
)
SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
  {qs}
FROM cum
GROUP BY source
ORDER BY source
"""


def oracle_quality_auc() -> str:
    return f"""
{_sql_quality_bins()}
SELECT p_tot AS n_pos, n_tot AS n_neg,
  CAST(SUM(n_pos * (2 * (n_tot - fp) + n_neg)) AS BIGINT) AS u2_num,
  CASE WHEN p_tot > 0 AND n_tot > 0
       THEN CAST(SUM(n_pos * (2 * (n_tot - fp) + n_neg)) AS DOUBLE)
            / CAST(2 * p_tot * n_tot AS DOUBLE) END AS auc
FROM curve c CROSS JOIN tot t
GROUP BY p_tot, n_tot
"""


# ---------------------------------------------------------------------------
# E117 — corpus BALANCE report (the source-mix dashboard read next to
# ml_sampling_weights / ml_source_tvd before fixing mixture weights):
# per-source doc/char/token volumes and shares, plus two corpus-level
# concentration numbers — Shannon entropy of the token mix and the Gini
# coefficient of per-source token mass.
#
# Integer envelope (the E103/E110 discipline): entropy's numerator is
#   ent_num = sum_s c_s * (qlog(T) - qlog(c_s))        [int64 exact]
# with qlog the shared 2^20 grid — H ~= ent_num / (T * 2^20) in ONE
# final division; Gini's numerator is the classic sorted form
#   gini_num = sum_i (2i - n - 1) * c_(i)              [int64 exact]
# with the rank window over the BOUNDED source dimension (never
# data-scaled). Every emitted float is one IEEE division of exact
# integers.
# ---------------------------------------------------------------------------


def corpus_balance(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum(F.size(_tokens()))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("long").alias("t"),
        F.count("*").cast("long").alias("n_src"),
    )
    w = Window.orderBy("n_tokens", "source")  # bounded: one row per source
    ranked = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn(
            "ent_term", F.col("n_tokens") * (_qlog(F.col("t")) - _qlog(F.col("n_tokens")))
        )
        .withColumn(
            "gini_term",
            (2 * F.col("rk") - F.col("n_src") - 1) * F.col("n_tokens"),
        )
    )
    corpus = ranked.agg(
        F.sum("ent_term").cast("long").alias("entropy_num"),
        F.sum("gini_term").cast("long").alias("gini_num"),
        # every row carries the identical broadcast scalar; MAX states the
        # order-independence outright (F.first was value-identical but
        # read as order-dependent — r10 verdict caution 4)
        F.max("t").alias("t"),
        F.max("n_src").alias("n_src"),
    )
    return (
        per_src.crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("t").cast("double")).alias(
                "token_share"
            ),
            "entropy_num",
            (
                F.col("entropy_num").cast("double")
                / (F.col("t").cast("double") * float(NB_SCALE))
            ).alias("entropy_nats"),
            "gini_num",
            (
                F.col("gini_num").cast("double")
                / (F.col("n_src").cast("double") * F.col("t").cast("double"))
            ).alias("gini"),
        )
        .orderBy("source")
    )


def oracle_corpus_balance() -> str:
    return rf"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
    CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
      AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
    CAST(COUNT(*) AS BIGINT) AS n_src
  FROM per_src
),
ranked AS (
  SELECT p.*, t.t, t.n_src,
    CAST(row_number() OVER (ORDER BY p.n_tokens, p.source) AS BIGINT) AS rk
  FROM per_src p CROSS JOIN tot t
),
corpus AS (
  SELECT
    CAST(SUM(n_tokens * ({_sql_qlog('t')} - {_sql_qlog('n_tokens')})) AS BIGINT) AS entropy_num,
    CAST(SUM((2 * rk - n_src - 1) * n_tokens) AS BIGINT) AS gini_num,
    MAX(t) AS t, MAX(n_src) AS n_src
  FROM ranked
)
SELECT p.source, p.n_docs, p.n_chars, p.n_tokens,
  CAST(p.n_tokens AS DOUBLE) / CAST(c.t AS DOUBLE) AS token_share,
  c.entropy_num,
  CAST(c.entropy_num AS DOUBLE) / (CAST(c.t AS DOUBLE) * {float(NB_SCALE)})
    AS entropy_nats,
  c.gini_num,
  CAST(c.gini_num AS DOUBLE) / (CAST(c.n_src AS DOUBLE) * CAST(c.t AS DOUBLE))
    AS gini
FROM per_src p CROSS JOIN corpus c
ORDER BY p.source
"""


# ---------------------------------------------------------------------------
# E123 — per-document ATTRIBUTES table (the Dolma artifact shape: the
# curation pipeline ships, next to the corpus, one row per document
# carrying every quality/repetition/language signal so downstream
# filtering is a column predicate instead of a recompute — Soldaini et
# al. 2024's "attributes" files). Composes the EXISTING signal relations
# with doc_id equi-joins: the E13 language detector, the E14 heuristic
# quality score, the E15 token counts, the E16 repetition signals, and
# the C4/Gopher rule verdicts. The trained-classifier columns live in
# ml_nb_quality / ml_quality_sample (E113/E116) and join the same way —
# kept out of this plan so the attributes table stays heuristics-only
# (recomputable without a training pass).
#
# Scale: every input is doc_id-keyed and linear (row-local expressions or
# per-doc folds); the composition is doc_id hash-equi-joins of same-size
# relations — no broadcast (each side is O(corpus)), AQE picks the
# physical join. One output row per document.
# ---------------------------------------------------------------------------


def doc_attributes(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.textstats import language_id, quality_score, token_counts

    base = spark.table("documents").select("doc_id", "source", "lang", "n_chars")
    lid = language_id(spark).select("doc_id", "detected_lang")
    qs = quality_score(spark).select("doc_id", "quality_score")
    tc = token_counts(spark).select("doc_id", "ws_tokens")
    rep = repetition_signals(spark).select(
        "doc_id", "distinct_word_frac", "top_unigram_frac", "dup_trigram_frac"
    )
    gopher = gopher_filters(spark).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    c4 = c4_filters(spark).select("doc_id", F.col("keep").alias("c4_keep"))
    return (
        base.join(lid, "doc_id")
        .join(qs, "doc_id")
        .join(tc, "doc_id")
        .join(rep, "doc_id")
        .join(gopher, "doc_id")
        .join(c4, "doc_id")
        .orderBy("doc_id")
    )


def oracle_doc_attributes() -> str:
    from collector_spark.ml.textstats import (
        oracle_language_id,
        oracle_quality_score,
        oracle_token_counts,
    )

    lid = oracle_language_id().rsplit("ORDER BY", 1)[0]
    qs = oracle_quality_score().rsplit("ORDER BY", 1)[0]
    tc = oracle_token_counts().rsplit("ORDER BY", 1)[0]
    rep = oracle_repetition_signals().rsplit("ORDER BY", 1)[0]
    gop = oracle_gopher_filters().rsplit("ORDER BY", 1)[0]
    c4 = oracle_c4_filters().rsplit("ORDER BY", 1)[0]
    return f"""
WITH lid AS ({lid}),
qs AS ({qs}),
tc AS ({tc}),
rep AS ({rep}),
gop AS ({gop}),
c4f AS ({c4})
SELECT d.doc_id, d.source, d.lang, d.n_chars,
  lid.detected_lang, qs.quality_score, tc.ws_tokens,
  rep.distinct_word_frac, rep.top_unigram_frac, rep.dup_trigram_frac,
  gop.keep AS gopher_keep, c4f.keep AS c4_keep
FROM documents d
JOIN lid ON lid.doc_id = d.doc_id
JOIN qs ON qs.doc_id = d.doc_id
JOIN tc ON tc.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
JOIN gop ON gop.doc_id = d.doc_id
JOIN c4f ON c4f.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# E125 — TOKEN-mass weighted sampling without replacement (Efraimidis &
# Spirakis 2006, the A-ES one-pass scheme): sample WSAMPLE_K documents
# per source with inclusion probability proportional to TOKEN MASS,
# reproducibly. Complements E53 (ml_weighted_sample, which weights by
# n_chars on the 2^-20 key grid): this one weights by the trainer's
# actual cost unit (tokens), carries the fully-integer key numerator,
# and is the batch twin of the ST33 BOUNDED-STATE streaming maintainer.
# A-ES ranks items by k_i = u_i^(1/w_i) descending, which is the same
# order as ln(u_i) / w_i descending; here u_i is the deterministic
# per-doc hash uniform (the E116 machinery) and w_i = ws_tokens.
#
# Engine exactness — this one has NO residual float risk at all:
# ln(u_i) is quantized ONCE onto the 2^20 integer grid relative to the
# modulus (a_i = qlog(h) - qlog(M), both arguments exact integers), w_i
# is an exact integer, and the sort key a_i / w_i is ONE IEEE division
# of two exact int64s — bit-identical in every engine, so even the
# ORDERING (and therefore the sampled set) is deterministic across
# engines. Ties (byte-identical texts share h AND w) break by doc_id.
#
# Scale: row-local key projection + one rank window PARTITIONED BY
# SOURCE ordered by the key — the stratified_sample shape; the sample is
# re-derivable forever from the corpus alone (hash, not RNG).
# ---------------------------------------------------------------------------

WSAMPLE_K = 25


def _wsample_keyed(docs: DataFrame) -> DataFrame:
    """Row-local A-ES key projection — shared by the batch sampler and
    the ST33 streaming top-K maintainer (the stream computes the SAME
    JVM expressions; the stateful merge never hashes in Python)."""
    h = (
        _hash60(F.concat(F.lit("wsample:"), F.col("text"))) % (QSAMPLE_M - 1) + 1
    ).cast("long")
    w_tok = _n_tokens()
    return docs.select(
        "doc_id",
        "source",
        w_tok.alias("w_tokens"),
        (_qlog(h) - _qlog(F.lit(QSAMPLE_M))).alias("lnu_q"),
    ).withColumn(
        "key", F.col("lnu_q").cast("double") / F.col("w_tokens").cast("double")
    )


def token_weighted_sample(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    keyed = _wsample_keyed(docs)
    win = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        keyed.withColumn("sample_rank", F.row_number().over(win).cast("long"))
        .filter(F.col("sample_rank") <= WSAMPLE_K)
        .select("source", "sample_rank", "doc_id", "w_tokens", "lnu_q", "key")
        .orderBy("source", "sample_rank")
    )


def oracle_token_weighted_sample() -> str:
    h = f"({_sql_hash60(chr(39) + 'wsample:' + chr(39) + ' || text')}) % {QSAMPLE_M - 1} + 1"
    return rf"""
WITH keyed AS (
  SELECT doc_id, source,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w_tokens,
    {_sql_qlog(h)} - {_sql_qlog(QSAMPLE_M)} AS lnu_q
  FROM documents
),
ranked AS (
  SELECT source, doc_id, w_tokens, lnu_q,
    CAST(lnu_q AS DOUBLE) / w_tokens AS key,
    ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY CAST(lnu_q AS DOUBLE) / w_tokens DESC, doc_id ASC) AS sample_rank
  FROM keyed
)
SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, w_tokens,
       lnu_q, key
FROM ranked
WHERE sample_rank <= {WSAMPLE_K}
ORDER BY source, sample_rank
"""
