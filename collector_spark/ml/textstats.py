"""Text-analysis operators over the documents table.

  language-ID   — stopword-hit n-gram heuristic across 3 language profiles
  quality score — length / punctuation / stopword-ratio composite
  token counts  — whitespace tokens + BPE-ish regex tokens
  fingerprint   — md5 doc fingerprint + min-shingle rolling fingerprint

All built-in expressions (split/filter/regexp_extract_all/aggregate) —
whole-stage codegen, no Python in the row path. Ratios divide exact BIGINT
counts in DOUBLE, so the oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from collector_spark.ml.dedup import (
    _SQL_SHINGLES,
    P31,
    _n_tokens,
    _norm_hash,
    _norm_text,
    _shingle_hashes,
    _tokens,
    _words,
)

# tiny language profiles (public stopword lists, truncated)
PROFILES = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "ein", "zu", "den"],
}

_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _hits(words: Column, profile: list[str]) -> Column:
    lits = F.array(*[F.lit(w) for w in profile])
    return F.size(F.filter(words, lambda w: F.array_contains(lits, w))).cast("long")


def _detect_exprs() -> tuple[dict[str, Column], Column]:
    """(per-profile hit counts, argmax detected-lang column) over the text
    column. Argmax across profiles with deterministic tie-break (profile
    order): the chain is built last-profile-first with a >= condition, so
    the earliest profile overwrites on ties — en beats es beats de,
    matching the oracle CASE, which resolves ties to the first profile."""
    words = _words(F.col("text"))
    hits = {lang: _hits(words, prof) for lang, prof in PROFILES.items()}
    best = F.lit("unknown")
    best_hits = F.lit(0).cast("long")
    for lang in reversed(list(PROFILES)):
        h = hits[lang]
        cond = (h > 0) & (h >= best_hits)
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, h).otherwise(best_hits)
    return hits, best


def language_id(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    hits, best = _detect_exprs()
    sel = [F.col("doc_id")]
    for lang in PROFILES:
        sel.append(hits[lang].alias(f"hits_{lang}"))
    sel.append(best.alias("detected_lang"))
    return docs.select(*sel).orderBy("doc_id")


def oracle_language_id() -> str:
    hit_exprs = {}
    for lang, prof in PROFILES.items():
        in_list = ", ".join(f"'{w}'" for w in prof)
        hit_exprs[lang] = (
            "CAST(len(list_filter(string_split(lower(text), ' '), "
            f"w -> w IN ({in_list}))) AS BIGINT)"
        )
    cols = ", ".join(f"{e} AS hits_{lang}" for lang, e in hit_exprs.items())
    # same argmax chain, same tie-break
    langs = list(PROFILES)
    case = "CASE "
    for lang in langs:
        earlier = " AND ".join(
            f"hits_{lang} > hits_{o}" for o in langs if langs.index(o) < langs.index(lang)
        )
        later = " AND ".join(
            f"hits_{lang} >= hits_{o}" for o in langs if langs.index(o) > langs.index(lang)
        )
        conds = " AND ".join(x for x in [f"hits_{lang} > 0", earlier, later] if x)
        case += f"WHEN {conds} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return f"""
WITH h AS (SELECT doc_id, {cols} FROM documents)
SELECT doc_id, hits_en, hits_es, hits_de, {case} AS detected_lang
FROM h ORDER BY doc_id
"""


def lang_confusion(spark: SparkSession) -> DataFrame:
    """E76 — detector evaluation: confusion matrix of the ground-truth lang
    column vs the n-gram detector, with each cell's share of its truth row
    (recall when lang == detected_lang). The grading loop every language-ID
    deployment runs before trusting the filter downstream.

    Scale: one combinable groupBy over (lang, detected) — at most
    |langs| x (|profiles|+1) cells out; the truth-row total joins back as a
    broadcast of that same bounded cell relation."""
    docs = spark.table("documents")
    _, best = _detect_exprs()
    cells = (
        docs.select(F.col("lang"), best.alias("detected_lang"))
        .groupBy("lang", "detected_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("truth_total"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "detected_lang",
            "n",
            "truth_total",
            (F.col("n").cast("double") / F.col("truth_total").cast("double")).alias(
                "share_of_truth"
            ),
            (F.col("lang") == F.col("detected_lang")).alias("is_correct"),
        )
        .orderBy("lang", "detected_lang")
    )


def oracle_lang_confusion() -> str:
    det = oracle_language_id().rsplit("ORDER BY", 1)[0]
    return f"""
WITH det AS ({det}),
cells AS (
  SELECT d.lang, det.detected_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents d JOIN det ON det.doc_id = d.doc_id
  GROUP BY d.lang, det.detected_lang
),
totals AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS truth_total FROM cells GROUP BY lang)
SELECT c.lang, c.detected_lang, c.n, t.truth_total,
  CAST(c.n AS DOUBLE) / CAST(t.truth_total AS DOUBLE) AS share_of_truth,
  c.lang = c.detected_lang AS is_correct
FROM cells c JOIN totals t USING (lang)
ORDER BY lang, detected_lang
"""


def quality_score(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    words = _words(F.col("text"))
    n_words = F.size(words).cast("long")
    n_chars = F.length(F.col("text")).cast("long")
    punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0)).cast(
        "long"
    )
    stop_hits = _hits(words, PROFILES["en"])
    punct_ratio = punct.cast("double") / F.nullif(n_chars, F.lit(0)).cast("double")
    stop_ratio = stop_hits.cast("double") / F.nullif(n_words, F.lit(0)).cast("double")
    avg_word_len = n_chars.cast("double") / F.nullif(n_words, F.lit(0)).cast("double")
    score = (
        F.least(n_words.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_computed"),
        punct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        avg_word_len.alias("avg_word_len"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


def oracle_quality_score() -> str:
    in_list = ", ".join(f"'{w}'" for w in PROFILES["en"])
    return f"""
WITH m AS (
  SELECT doc_id,
    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
    CAST(length(text) AS BIGINT) AS n_chars_computed,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
    CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN ({in_list}))) AS BIGINT) AS stop_hits
  FROM documents
)
SELECT doc_id, n_words, n_chars_computed, n_punct,
  CAST(n_punct AS DOUBLE) / CAST(nullif(n_chars_computed, 0) AS DOUBLE) AS punct_ratio,
  CAST(stop_hits AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE) AS stopword_ratio,
  CAST(n_chars_computed AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE) AS avg_word_len,
  least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
    + (1.0 - least(CAST(n_punct AS DOUBLE) / CAST(nullif(n_chars_computed, 0) AS DOUBLE) * 10.0, 1.0)) * 0.3
    + least(CAST(stop_hits AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE) * 5.0, 1.0) * 0.3
    AS quality_score
FROM m ORDER BY doc_id
"""


def token_counts(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    ws_tokens = _n_tokens()
    re_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)).cast("long")
    est_bpe = (F.length(F.col("text")).cast("double") / 4.0).alias("est_bpe_tokens")
    return docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        re_tokens.alias("re_tokens"),
        est_bpe,
    ).orderBy("doc_id")


def oracle_token_counts() -> str:
    return f"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS re_tokens,
  CAST(length(text) AS DOUBLE) / 4.0 AS est_bpe_tokens
FROM documents ORDER BY doc_id
"""


def doc_fingerprint(spark: SparkSession) -> DataFrame:
    """Document fingerprinting: a whole-document content hash over
    whitespace-normalized text plus a winnowing-style rolling fingerprint
    (the minimum word-trigram shingle hash — the window-min of the rolling
    hash sequence with the window spanning the document)."""
    docs = spark.table("documents")
    whole = docs.select("doc_id", _norm_hash().alias("content_md5"))
    rolling = (
        _shingle_hashes(docs)
        .groupBy("doc_id")
        .agg(F.min("h").cast("long").alias("min_shingle_hash"))
    )
    return (
        whole.join(rolling, on="doc_id", how="left")
        .select("doc_id", "content_md5", "min_shingle_hash")
        .orderBy("doc_id")
    )


def oracle_doc_fingerprint() -> str:
    return f"""
WITH sh AS ({_SQL_SHINGLES}),
rolling AS (SELECT doc_id, CAST(MIN(h) AS BIGINT) AS min_shingle_hash FROM sh GROUP BY doc_id)
SELECT d.doc_id,
  md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS content_md5,
  r.min_shingle_hash
FROM documents d LEFT JOIN rolling r USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# E59 — full winnowing fingerprints (Schleimer et al. 2003, the MOSS
# algorithm): char k-gram rolling hashes, then in every window of w
# consecutive hashes select the minimum — rightmost on ties, the paper's
# rule — giving a position-aware local fingerprint set with the guarantee
# that any match of length >= w + k - 1 shares at least one selected
# fingerprint. This is the LOCAL counterpart of E15's global min-shingle:
# winnowing detects partial overlap at known offsets (plagiarism-style
# span matches), not just whole-document similarity.
#
# Selections are encoded as pos * 2^31 + fp (fp < 2^31, so the encoding
# is injective and decodes with %) and the registered row is the bounded
# per-doc summary: selected count, distinct-fingerprint count, and an
# order-insensitive modular checksum over the encoded selections — the
# full selection set validates through the checksum without driver-side
# megarow output.
#
# Scale: entirely row-local array expressions (map-only, no shuffle but
# the determinism orderBy); density is 2/(w+1) selections per char,
# independent of corpus size.
# ---------------------------------------------------------------------------

WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # winnowing window (guarantee threshold t = w + k - 1)
_ENC = 2_147_483_648  # 2^31: position/fingerprint encoding base
_CKSUM_P = 1_000_000_007


def winnowing_fingerprints(spark: SparkSession) -> DataFrame:
    k, w = WINNOW_K, WINNOW_W
    norm = _norm_text()
    hashes = (
        f"transform(sequence(1, length(norm) - {k - 1}), i -> "
        f"CAST(conv(substring(md5(substring(norm, i, {k})), 1, 15), 16, 10) "
        f"AS BIGINT) % {P31})"
    )
    sel = (
        f"array_distinct(transform(sequence(1, size(hashes) - {w - 1}), j -> "
        f"(j + {w} - array_position(reverse(slice(hashes, j, {w})), "
        f"array_min(slice(hashes, j, {w})))) * CAST({_ENC} AS BIGINT) "
        f"+ array_min(slice(hashes, j, {w}))))"
    )
    return (
        spark.table("documents")
        .select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= k + w - 1)
        .withColumn("hashes", F.expr(hashes))
        .withColumn("sel", F.expr(sel))
        .select(
            "doc_id",
            F.size("sel").cast("long").alias("n_selected"),
            F.expr(
                f"CAST(size(array_distinct(transform(sel, e -> e % {_ENC}))) "
                "AS BIGINT)"
            ).alias("n_distinct_fp"),
            F.expr(
                f"aggregate(transform(sel, e -> e % {_CKSUM_P}), "
                f"CAST(0 AS BIGINT), (acc, x) -> acc + x) % {_CKSUM_P}"
            ).alias("fp_checksum"),
        )
        .orderBy("doc_id")
    )


def oracle_winnowing_fingerprints() -> str:
    k, w = WINNOW_K, WINNOW_W
    return rf"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents
),
hashed AS (
  SELECT doc_id,
    list_transform(range(1, length(norm) - {k - 2}), i ->
      CAST(('0x' || substr(md5(substr(norm, CAST(i AS INT), {k})), 1, 15))
           AS BIGINT) % {P31}) AS hashes
  FROM base WHERE length(norm) >= {k + w - 1}
),
selected AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(hashes) - {w - 2}), j ->
      (j + {w} - list_position(list_reverse(hashes[CAST(j AS INT):CAST(j AS INT) + {w - 1}]),
                               list_min(hashes[CAST(j AS INT):CAST(j AS INT) + {w - 1}])))
        * CAST({_ENC} AS BIGINT)
      + list_min(hashes[CAST(j AS INT):CAST(j AS INT) + {w - 1}]))) AS sel
  FROM hashed
)
SELECT doc_id,
  CAST(len(sel) AS BIGINT) AS n_selected,
  CAST(len(list_distinct(list_transform(sel, e -> e % {_ENC}))) AS BIGINT)
    AS n_distinct_fp,
  CAST(list_aggregate(list_transform(sel, e -> e % {_CKSUM_P}), 'sum')
       % {_CKSUM_P} AS BIGINT) AS fp_checksum
FROM selected
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E60 — winnowing span matches: the matching stage that makes E59 a
# pipeline (the MOSS use case). Selected fingerprints explode to
# (doc, pos, fp) rows, fingerprints bucket documents exactly like LSH
# bands bucket signatures (groupBy(fp) + in-bucket pair expansion — never
# an all-pairs join), and each document pair reports how many distinct
# fingerprints it shares plus its best position ALIGNMENT: the most
# common pos_a - pos_b offset and how many shared occurrences sit at it.
# A high aligned count at one offset is a copied SPAN at a known
# location — the position-aware evidence MinHash similarity cannot give.
#
# Stop-fingerprint guard: buckets larger than WINNOW_BUCKET_CAP
# occurrences are dropped (boilerplate 8-grams shared by everything) —
# the standard MOSS practice and the skew/blowup bound at 100 TB; the cap
# is the knob, AQE skew-join splits what remains.
# ---------------------------------------------------------------------------

WINNOW_BUCKET_CAP = 64
WINNOW_MIN_SHARED = 2
# report pairs whose best alignment carries >= this many fingerprints: a
# run of aligned selections is a copied span (threshold ~ w+k-1 chars per
# fingerprint); lower alignments are phrase-level noise in prose
WINNOW_MIN_ALIGNED = 8


def winnowing_matches(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    k, w = WINNOW_K, WINNOW_W
    norm = _norm_text()
    hashes = (
        f"transform(sequence(1, length(norm) - {k - 1}), i -> "
        f"CAST(conv(substring(md5(substring(norm, i, {k})), 1, 15), 16, 10) "
        f"AS BIGINT) % {P31})"
    )
    sel = (
        f"array_distinct(transform(sequence(1, size(hashes) - {w - 1}), j -> "
        f"(j + {w} - array_position(reverse(slice(hashes, j, {w})), "
        f"array_min(slice(hashes, j, {w})))) * CAST({_ENC} AS BIGINT) "
        f"+ array_min(slice(hashes, j, {w}))))"
    )
    rows = (
        spark.table("documents")
        .select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= k + w - 1)
        .withColumn("hashes", F.expr(hashes))
        .select("doc_id", F.explode(F.expr(sel)).alias("e"))
        .select(
            "doc_id",
            # integer div, NOT '/': float division of 2^62-scale encodings
            # rounds in the double mantissa and can cross the pos boundary
            F.expr(f"e div {_ENC}").alias("pos"),
            (F.col("e") % _ENC).alias("fp"),
        )
    )
    pair_rows = (
        rows.groupBy("fp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "pos"))
            ).alias("items")
        )
        .filter((F.size("items") > 1) & (F.size("items") <= WINNOW_BUCKET_CAP))
        .select(
            "fp",
            F.explode(
                F.expr(
                    "flatten(transform(items, (a, i) -> "
                    "transform(slice(items, i + 2, size(items) - i - 1), "
                    "b -> struct(a.doc_id AS doc_a, a.pos AS pos_a, "
                    "b.doc_id AS doc_b, b.pos AS pos_b))))"
                )
            ).alias("p"),
        )
        .filter(F.col("p.doc_a") < F.col("p.doc_b"))
        .select(
            "fp",
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            (F.col("p.pos_a") - F.col("p.pos_b")).alias("delta"),
        )
    )
    shared = pair_rows.groupBy("doc_a", "doc_b").agg(
        F.count_distinct("fp").cast("long").alias("n_shared_fp")
    )
    deltas = pair_rows.groupBy("doc_a", "doc_b", "delta").agg(
        F.count("*").cast("long").alias("n_at_delta")
    )
    best = (
        deltas.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_a", "doc_b").orderBy(
                    F.desc("n_at_delta"), F.asc("delta")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "doc_a",
            "doc_b",
            F.col("delta").alias("best_delta"),
            F.col("n_at_delta").alias("n_aligned"),
        )
    )
    return (
        shared.join(best, ["doc_a", "doc_b"])
        .filter(
            (F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
            & (F.col("n_aligned") >= WINNOW_MIN_ALIGNED)
        )
        .orderBy("doc_a", "doc_b")
    )


def oracle_winnowing_matches() -> str:
    k, w = WINNOW_K, WINNOW_W
    return rf"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents
),
hashed AS (
  SELECT doc_id,
    list_transform(range(1, length(norm) - {k - 2}), i ->
      CAST(('0x' || substr(md5(substr(norm, CAST(i AS INT), {k})), 1, 15))
           AS BIGINT) % {P31}) AS hashes
  FROM base WHERE length(norm) >= {k + w - 1}
),
sel AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(hashes) - {w - 2}), j ->
      (j + {w} - list_position(
          list_reverse(hashes[CAST(j AS INT):CAST(j AS INT) + {w - 1}]),
          list_min(hashes[CAST(j AS INT):CAST(j AS INT) + {w - 1}])))
        * CAST({_ENC} AS BIGINT)
      + list_min(hashes[CAST(j AS INT):CAST(j AS INT) + {w - 1}])))) AS e
  FROM hashed
),
rows_ AS (
  SELECT doc_id, CAST(e // {_ENC} AS BIGINT) AS pos, e % {_ENC} AS fp
  FROM sel
),
sized AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS n FROM rows_ GROUP BY fp
),
pair_rows AS (
  SELECT a.fp, a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.pos - b.pos AS delta
  FROM rows_ a
  JOIN rows_ b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN sized s ON s.fp = a.fp
  WHERE s.n > 1 AND s.n <= {WINNOW_BUCKET_CAP}
),
shared AS (
  SELECT doc_a, doc_b, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_shared_fp
  FROM pair_rows GROUP BY doc_a, doc_b
),
deltas AS (
  SELECT doc_a, doc_b, delta, CAST(COUNT(*) AS BIGINT) AS n_at_delta
  FROM pair_rows GROUP BY doc_a, doc_b, delta
),
best AS (
  SELECT doc_a, doc_b, delta AS best_delta, n_at_delta AS n_aligned,
    row_number() OVER (PARTITION BY doc_a, doc_b
                       ORDER BY n_at_delta DESC, delta ASC) AS rn
  FROM deltas
)
SELECT s.doc_a, s.doc_b, s.n_shared_fp, b.best_delta, b.n_aligned
FROM shared s JOIN best b USING (doc_a, doc_b)
WHERE b.rn = 1 AND s.n_shared_fp >= {WINNOW_MIN_SHARED}
  AND b.n_aligned >= {WINNOW_MIN_ALIGNED}
ORDER BY s.doc_a, s.doc_b
"""


# ---------------------------------------------------------------------------
# E103 — pairwise source divergence as TOTAL VARIATION DISTANCE over the
# per-source unigram distributions:
#
#   TVD(a, b) = 1/2 * sum_t | p_a(t) - p_b(t) |,   p_s(t) = c_s(t) / T_s
#
# the corpus-mixing health check ("how different are my sources really?")
# that sits next to ml_dsir_weights and ml_sampling_weights. TVD is chosen
# over KL/JS deliberately: |c_a*T_b - c_b*T_a| keeps every aggregated term
# an INTEGER (one scalar division per pair at the very end), so the
# distributed SUM is aggregation-order-exact on both engines — the same
# reason ml_zipf_fit rides integer grids instead of float logs.
#
# Terms present in only one source are handled WITHOUT a dense
# vocab x pair grid: their contribution is recovered from the matched
# join alone, since  sum_{t in A\B} c_a(t) = T_a - sum_matched c_a  —
# one equi-join on the term plus per-pair totals.
#
# Scale: one token explode + groupBy(source, term); the matched self-join
# shuffles on the term exactly once (expansion bounded by S per side,
# sources are a bounded dimension); totals broadcast. Integer envelope:
# partial sums are bounded by 2*T_a*T_b — exact while source token totals
# stay under ~2e9 (int64); a 100 TB deployment lifts the numerator to
# DECIMAL(38,0) with no other change.
# ---------------------------------------------------------------------------


def _source_tok_counts(docs: DataFrame) -> DataFrame:
    """(source, tok, c): the per-source unigram counts. Stateless
    projection + additive groupBy, so the SAME code folds a streaming
    DataFrame's state (st_ml_source_tvd) — counts are additive, hence
    batch-equal under any arrival batching."""
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    )
    return toks.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c"))


def tvd_from_counts(counts: DataFrame) -> DataFrame:
    """The TVD report stage over a (source, tok, c) relation — shared by
    the batch form and the streaming twin (which feeds it the folded
    state)."""
    totals = counts.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    # distinct column names per side: a plain self-join on "tok" fails
    # attribute resolution when `counts` is a memory-sink view (the
    # streaming twin feeds one in)
    ca = counts.select(F.col("source").alias("source_a"), F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    ta = totals.select(F.col("source").alias("source_a"), F.col("t").alias("t_a"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("t").alias("t_b"))
    magg = (
        ca.join(cb, F.col("tok_a") == F.col("tok_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.abs(F.col("ca") * F.col("t_b") - F.col("cb") * F.col("t_a")))
            .cast("long")
            .alias("m_abs"),
            F.sum("ca").cast("long").alias("m_ca"),
            F.sum("cb").cast("long").alias("m_cb"),
            F.count("*").cast("long").alias("matched_terms"),
        )
    )
    pairs = ta.crossJoin(tb).filter(F.col("source_a") < F.col("source_b"))
    num = (
        F.col("m_abs")
        + (F.col("t_a") - F.col("m_ca")) * F.col("t_b")
        + (F.col("t_b") - F.col("m_cb")) * F.col("t_a")
    )
    return (
        pairs.join(magg, ["source_a", "source_b"], "left")
        .fillna(0, subset=["m_abs", "m_ca", "m_cb", "matched_terms"])
        .select(
            "source_a",
            "source_b",
            "matched_terms",
            num.cast("long").alias("tvd_num"),
            (
                num.cast("double")
                / (F.lit(2.0) * F.col("t_a").cast("double") * F.col("t_b").cast("double"))
            ).alias("tvd"),
        )
        .orderBy("source_a", "source_b")
    )


def source_tvd(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    # the counts relation feeds four consumers in the report stage
    # (totals x2 sides, matched x2 sides) — materialize it once instead
    # of re-running the corpus explode per consumer (23 -> ~8 exchanges);
    # the streaming twin's memory-sink state is already materialized
    return tvd_from_counts(_source_tok_counts(docs).localCheckpoint(eager=False))


def oracle_source_tvd() -> str:
    return """
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY source),
magg AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(abs(a.c * tb.t - b.c * ta.t)) AS BIGINT) AS m_abs,
         CAST(SUM(a.c) AS BIGINT) AS m_ca,
         CAST(SUM(b.c) AS BIGINT) AS m_cb,
         CAST(COUNT(*) AS BIGINT) AS matched_terms
  FROM counts a
  JOIN counts b ON a.tok = b.tok AND a.source < b.source
  JOIN totals ta ON ta.source = a.source
  JOIN totals tb ON tb.source = b.source
  GROUP BY a.source, b.source
),
pairs AS (
  SELECT ta.source AS source_a, ta.t AS t_a, tb.source AS source_b, tb.t AS t_b
  FROM totals ta, totals tb WHERE ta.source < tb.source
)
SELECT p.source_a, p.source_b,
       COALESCE(m.matched_terms, 0) AS matched_terms,
       CAST(COALESCE(m.m_abs, 0)
            + (p.t_a - COALESCE(m.m_ca, 0)) * p.t_b
            + (p.t_b - COALESCE(m.m_cb, 0)) * p.t_a AS BIGINT) AS tvd_num,
       CAST(COALESCE(m.m_abs, 0)
            + (p.t_a - COALESCE(m.m_ca, 0)) * p.t_b
            + (p.t_b - COALESCE(m.m_cb, 0)) * p.t_a AS DOUBLE)
         / (2.0 * CAST(p.t_a AS DOUBLE) * CAST(p.t_b AS DOUBLE)) AS tvd
FROM pairs p
LEFT JOIN magg m ON m.source_a = p.source_a AND m.source_b = p.source_b
ORDER BY p.source_a, p.source_b
"""


# ---------------------------------------------------------------------------
# E110 — self-trained multinomial Naive Bayes language classifier (the
# TRAINED counterpart of the E13 stopword heuristic; the same linear
# bag-of-words shape as the fastText/logistic quality classifiers run over
# web crawls — McCallum & Nigam 1998): train per-language unigram models
# with add-one smoothing on the corpus's own lang labels, score every
# document under every language, and emit the confusion matrix of true
# lang vs argmax prediction.
#
#   score(d, l) = log P(l) + sum_t tf(d,t) * log P(t|l)
#   P(t|l) = (c(l,t) + 1) / (T_l + V)        (Laplace)
#
# Engine exactness: every log argument is an exact INTEGER (c+1, T_l + V,
# doc counts), each log is quantized ONCE onto the shared 2^20 grid
# (floor(ln(k) * 2^20), NB_SCALE below), and all per-document
# accumulation is int64 arithmetic, so the distributed sums are
# aggregation-order-exact and the argmax has no float boundary. Unseen
# (t, l) pairs contribute log(0 + 1) = 0 to the matched sum, so the model
# join can stay INNER — the - N_d * log(T_l + V) normalizer and the prior
# are applied on the dense (doc x lang) grid.
#
# Scale: model = one groupBy(lang, tok) (vocab x L bounded); the tf-model
# join shuffles on tok once (AQE broadcasts the model at small vocab);
# the (doc x lang) grid is a crossJoin against the L-row lang dimension
# (broadcast, L bounded); argmax is MIN(struct(-score, lang)) inside one
# doc-keyed aggregate — no window, ties break to the smaller lang name.
# ---------------------------------------------------------------------------

# The one 2^20 quantization grid of every exact-integer-sum statistic:
# the quantized logs here and in curation's classifier, entropy and
# sampling keys, the LM per-doc NLL means, DSIR log weights, Zipf fits
# and the one-nat quality-margin bins. Values floored onto it are int64,
# so their sums are exact under any reduce order and partitioning.
NB_SCALE = 1 << 20


def _qgrid(x: Column) -> Column:
    """floor(x * 2^20) as int64 — a double onto the shared grid."""
    return F.floor(x * F.lit(NB_SCALE)).cast("long")


def _qlog(col: Column) -> Column:
    """floor(ln(k) * 2^20) over an exact-integer column — the shared
    quantized-log grid.

    Accepted residual risk (cross-engine): everything DOWNSTREAM of this
    quantization is exact int64 arithmetic, but the quantization itself
    evaluates ``ln`` in two different libms — JVM ``Math.log`` on the Spark
    side, DuckDB ``ln()`` in the E110/E113/E116/E117 oracles. Both are
    documented to stay within 1 ulp of the true value (~|x| * 2^-52, i.e.
    ~2^-29 for the |x| < 2^23 products reached here), so the floors can
    disagree only when the TRUE product ln(k) * 2^20 lies within ~2^-29 of
    an integer — a measure-zero boundary that no integer k in any fixture
    or testdata table hits. ln(1) = 0.0 is exact in both engines (floor 0,
    no boundary). Shifting the boundary with an epsilon guard would not
    shrink the disagreement set (it moves the boundary, and breaks the
    exact k=1 case), and re-deriving the logs engine-side is the design —
    so the risk is documented here and pinned empirically instead:
    tests/test_r11_additions.py sweeps k = 1..200000 plus the large-k
    band and asserts the two engines' grids are identical in this
    container.
    """
    return _qgrid(F.log(col.cast("double")))


def _sql_qlog(arg) -> str:
    """_qlog's oracle (DuckDB) spelling over a SQL expression."""
    return f"CAST(floor(ln(CAST({arg} AS DOUBLE)) * {NB_SCALE}) AS BIGINT)"


# the per-document marker row folded alongside token rows: '\x01doc'
# cannot collide with a real token (tokens come from \s+ splitting of
# lower-cased text; the fixture corpus is printable), so ONE additive
# (lang, tok) count state carries both the unigram model and the class
# priors — which is what makes the streaming twin a single stateful fold
NB_DOC_MARKER = "\x01doc"


def _nb_token_rows(docs: DataFrame) -> DataFrame:
    """(lang, tok) training rows: every token of every doc + one marker
    row per doc. Row-local projection + union — streamable."""
    toks = docs.select("lang", F.explode(_tokens()).alias("tok"))
    markers = docs.select("lang", F.lit(NB_DOC_MARKER).alias("tok"))
    return toks.unionByName(markers)


def _nb_counts(rows: DataFrame) -> DataFrame:
    """The additive fold: (lang, tok, c). The SAME expression is the
    streaming twin's state (st_ml_nb_langid)."""
    return rows.groupBy("lang", "tok").agg(F.count("*").cast("long").alias("c"))


def nb_langid_from_counts(
    spark: SparkSession, counts: DataFrame, docs: DataFrame
) -> DataFrame:
    """E110's scoring + confusion stage over the folded (lang, tok, c)
    state — shared by the batch form and the streaming twin. Every
    derivation of `counts` carries renamed columns (memory-sink self-join
    resolution — the ST23 discipline)."""
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    model = counts.filter(F.col("tok") != NB_DOC_MARKER).select(
        F.col("lang").alias("m_lang"), F.col("tok").alias("m_tok"), F.col("c").alias("mc")
    )
    vocab = model.select("m_tok").distinct().agg(
        F.count("*").cast("long").alias("v")
    )
    lang_tot = model.groupBy("m_lang").agg(F.sum("mc").cast("long").alias("t"))
    priors = counts.filter(F.col("tok") == NB_DOC_MARKER).select(
        F.col("lang").alias("p_lang"), F.col("c").alias("d")
    )
    n_docs = priors.agg(F.sum("d").cast("long").alias("nd"))
    # matched term: sum_t tf * qlog(c + 1) per (doc, candidate lang)
    smatch = (
        tf.join(
            model.select(
                F.col("m_lang").alias("cand"),
                F.col("m_tok").alias("tok"),
                _qlog(F.col("mc") + 1).alias("lq"),
            ),
            "tok",
        )
        .groupBy("doc_id", "cand")
        .agg(F.sum(F.col("tf") * F.col("lq")).cast("long").alias("s_match"))
    )
    doc_n = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("n_tok"))
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    langs = (
        lang_tot.join(priors, F.col("m_lang") == F.col("p_lang"))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("m_lang").alias("cand"),
            _qlog(F.col("t") + F.col("v")).alias("q_denom"),
            (_qlog(F.col("d")) - _qlog(F.col("nd"))).alias("q_prior"),
        )
    )
    score = (
        truth.join(doc_n, "doc_id")
        .crossJoin(F.broadcast(langs))
        .join(smatch, ["doc_id", "cand"], "left")
        .fillna(0, subset=["s_match"])
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (
                F.col("s_match")
                - F.col("n_tok") * F.col("q_denom")
                + F.col("q_prior")
            ).alias("score_q"),
        )
    )
    pred = (
        score.groupBy("doc_id", "true_lang")
        .agg(
            F.min(F.struct((-F.col("score_q")).alias("neg"), F.col("cand"))).alias(
                "best"
            )
        )
        .select("doc_id", "true_lang", F.col("best.cand").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def nb_langid(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    docs = spark.table("documents") if docs is None else docs
    # the folded counts feed model / vocab / totals / priors — materialize
    counts = _nb_counts(_nb_token_rows(docs)).localCheckpoint(eager=False)
    return nb_langid_from_counts(spark, counts, docs)


def oracle_nb_langid() -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, tok
),
model AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY lang, tok
),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
lang_tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM model GROUP BY lang),
priors AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d FROM documents GROUP BY lang),
ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
smatch AS (
  SELECT f.doc_id, m.lang AS cand,
    CAST(SUM(f.tf * {_sql_qlog('m.c + 1')})
      AS BIGINT) AS s_match
  FROM tf f JOIN model m ON m.tok = f.tok
  GROUP BY f.doc_id, m.lang
),
doc_n AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok FROM tf GROUP BY doc_id),
langs AS (
  SELECT lt.lang AS cand,
    {_sql_qlog('lt.t + vo.v')} AS q_denom,
    {_sql_qlog('p.d')}
      - {_sql_qlog('nd.nd')} AS q_prior
  FROM lang_tot lt JOIN priors p ON p.lang = lt.lang
  CROSS JOIN vocab vo CROSS JOIN ndocs nd
),
score AS (
  SELECT d.doc_id, d.lang AS true_lang, l.cand,
    COALESCE(s.s_match, 0) - n.n_tok * l.q_denom + l.q_prior AS score_q
  FROM documents d
  JOIN doc_n n ON n.doc_id = d.doc_id
  CROSS JOIN langs l
  LEFT JOIN smatch s ON s.doc_id = d.doc_id AND s.cand = l.cand
),
pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang,
    row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, cand ASC) AS rn
  FROM score
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


# ---------------------------------------------------------------------------
# E126 — per-language precision/recall over the E110 confusion matrix
# (the table read next to ml_nb_langid before trusting the classifier's
# routing: WHICH languages it confuses, not just how often): per language
# the true-count, predicted-count, true-positive diagonal cell, and
# precision/recall/F1 — the E121 discipline (exact int64 counts, one IEEE
# division per ratio, NULL-guarded when a language is never predicted).
#
# Scale: everything derives from the BOUNDED L x L confusion relation
# (languages are a dimension); three folds over it plus left joins on the
# language key — never data-scaled past E110's scoring itself.
# ---------------------------------------------------------------------------


def nb_langid_pr(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    # the L x L confusion relation feeds THREE folds — materialize it once
    # (lazy localCheckpoint, the shared-stage idiom) or each fold re-derives
    # the entire E110 scoring plan (measured 64 exchanges before, ~30 after)
    conf = nb_langid(spark, docs).localCheckpoint(eager=False)
    t = conf.groupBy("true_lang").agg(
        F.sum("n_docs").cast("long").alias("n_true")
    )
    p = conf.groupBy("pred_lang").agg(
        F.sum("n_docs").cast("long").alias("n_pred")
    )
    tp = conf.filter(F.col("true_lang") == F.col("pred_lang")).select(
        F.col("true_lang").alias("tp_lang"), F.col("n_docs").alias("tp")
    )
    base = (
        t.select(F.col("true_lang").alias("lang"), "n_true")
        .join(p, F.col("lang") == F.col("pred_lang"), "left")
        .join(tp, F.col("lang") == F.col("tp_lang"), "left")
        .select(
            "lang",
            "n_true",
            F.coalesce(F.col("n_pred"), F.lit(0).cast("long")).alias("n_pred"),
            F.coalesce(F.col("tp"), F.lit(0).cast("long")).alias("tp"),
        )
    )
    return base.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        F.when(
            F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
        ).alias("precision"),
        (F.col("tp").cast("double") / F.col("n_true")).alias("recall"),
        F.when(
            F.col("n_true") + F.col("n_pred") > 0,
            (2 * F.col("tp")).cast("double")
            / (F.col("n_true") + F.col("n_pred")).cast("double"),
        ).alias("f1"),
    ).orderBy("lang")


def oracle_nb_langid_pr() -> str:
    conf = oracle_nb_langid().rsplit("ORDER BY", 1)[0]
    return f"""
WITH conf AS ({conf}),
t AS (SELECT true_lang AS lang, CAST(SUM(n_docs) AS BIGINT) AS n_true
      FROM conf GROUP BY true_lang),
p AS (SELECT pred_lang, CAST(SUM(n_docs) AS BIGINT) AS n_pred
      FROM conf GROUP BY pred_lang),
d AS (SELECT true_lang AS tp_lang, CAST(n_docs AS BIGINT) AS tp
      FROM conf WHERE true_lang = pred_lang)
SELECT t.lang, t.n_true,
  CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
  CAST(COALESCE(d.tp, 0) AS BIGINT) AS tp,
  CASE WHEN COALESCE(p.n_pred, 0) > 0
       THEN CAST(COALESCE(d.tp, 0) AS DOUBLE) / p.n_pred END AS precision,
  CAST(COALESCE(d.tp, 0) AS DOUBLE) / t.n_true AS recall,
  CASE WHEN t.n_true + COALESCE(p.n_pred, 0) > 0
       THEN CAST(2 * COALESCE(d.tp, 0) AS DOUBLE)
            / (t.n_true + COALESCE(p.n_pred, 0)) END AS f1
FROM t
LEFT JOIN p ON p.pred_lang = t.lang
LEFT JOIN d ON d.tp_lang = t.lang
ORDER BY t.lang
"""


def nb_langid_kappa(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    """E128 — Cohen's kappa over the E110 confusion matrix: chance-
    corrected agreement between the NB prediction and the declared
    language, the single-number companion to the per-language P/R table
    (E126). Exact-integer form: with N total docs, D the diagonal sum,
    and PE = sum_l n_true_l * n_pred_l,

        kappa = (N * D - PE) / (N * N - PE)

    — ONE IEEE division of exact int64 numerator/denominator (po and pe
    are each one further division, reported alongside). Int64 envelope:
    N^2 < 2^63 holds through ~3e9 documents; beyond that the two products
    move to DECIMAL(38,0).

    Scale: the confusion relation is bounded at L x L rows; every fold
    here is over that bounded relation — never data-scaled."""
    return kappa_from_confusion(nb_langid(spark, docs))


def kappa_from_confusion(conf: DataFrame) -> DataFrame:
    """The E128 fold over any (true_lang, pred_lang, n_docs) confusion
    relation — shared by the batch operator and the ST twin (which feeds
    the confusion scored from streamed count state)."""
    conf = conf.localCheckpoint(eager=False)
    t = conf.groupBy("true_lang").agg(
        F.sum("n_docs").cast("long").alias("n_true")
    )
    p = conf.groupBy("pred_lang").agg(
        F.sum("n_docs").cast("long").alias("n_pred")
    )
    marg = (
        t.join(p, F.col("true_lang") == F.col("pred_lang"), "full")
        .select(
            F.coalesce("n_true", F.lit(0).cast("long")).alias("n_true"),
            F.coalesce("n_pred", F.lit(0).cast("long")).alias("n_pred"),
        )
        .agg(
            F.sum("n_true").cast("long").alias("n"),
            F.sum(F.col("n_true") * F.col("n_pred")).cast("long").alias("pe_num"),
        )
    )
    diag = conf.filter(F.col("true_lang") == F.col("pred_lang")).agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("diag")
    )
    return (
        marg.crossJoin(F.broadcast(diag))
        .select(
            "n",
            "diag",
            "pe_num",
            (F.col("diag").cast("double") / F.col("n").cast("double")).alias("po"),
            (
                F.col("pe_num").cast("double")
                / (F.col("n") * F.col("n")).cast("double")
            ).alias("pe"),
            F.when(
                F.col("n") * F.col("n") != F.col("pe_num"),
                (F.col("n") * F.col("diag") - F.col("pe_num")).cast("double")
                / (F.col("n") * F.col("n") - F.col("pe_num")).cast("double"),
            ).alias("kappa"),
        )
    )


def oracle_nb_langid_kappa() -> str:
    conf = oracle_nb_langid().rsplit("ORDER BY", 1)[0]
    return f"""
WITH conf AS ({conf}),
t AS (SELECT true_lang, CAST(SUM(n_docs) AS BIGINT) AS n_true
      FROM conf GROUP BY true_lang),
p AS (SELECT pred_lang, CAST(SUM(n_docs) AS BIGINT) AS n_pred
      FROM conf GROUP BY pred_lang),
marg AS (
  SELECT CAST(SUM(COALESCE(n_true, 0)) AS BIGINT) AS n,
    CAST(SUM(COALESCE(n_true, 0) * COALESCE(n_pred, 0)) AS BIGINT) AS pe_num
  FROM t FULL OUTER JOIN p ON t.true_lang = p.pred_lang
),
d AS (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS diag
      FROM conf WHERE true_lang = pred_lang)
SELECT m.n, d.diag, m.pe_num,
  CAST(d.diag AS DOUBLE) / m.n AS po,
  CAST(m.pe_num AS DOUBLE) / (m.n * m.n) AS pe,
  CASE WHEN m.n * m.n != m.pe_num
       THEN CAST(m.n * d.diag - m.pe_num AS DOUBLE)
            / (m.n * m.n - m.pe_num) END AS kappa
FROM marg m CROSS JOIN d
"""
