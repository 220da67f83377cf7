"""Semantic unit tests for the curation operators on handcrafted corpora —
the oracle gate proves Spark==DuckDB on the fixture; these prove the
*intended* behavior on adversarial inputs (the two can drift together,
which the oracle cannot catch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def docs_view(prepared_spark):
    """Swap the documents view for a handcrafted corpus; restore after."""
    from collector_spark import tables
    from tests.conftest import SF_DIR

    def install(rows):
        df = prepared_spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        df.createOrReplaceTempView("documents")

    yield install
    tables.register_views(prepared_spark, SF_DIR)


WORDS8 = "w1 w2 w3 w4 w5 w6 w7 w8"


def test_decontaminate_flags_shared_8gram(prepared_spark, docs_view):
    from collector_spark.ml.curation import decontaminate

    docs_view(
        [
            # eval doc (src0) carries the 8-gram
            (1, f"prefix {WORDS8} suffix", "en", "src0", 0),
            # train doc embedding the same 8 tokens consecutively -> flagged
            (2, f"a b {WORDS8} c", "en", "src1", 0),
            # train doc with 7 of the 8 tokens -> clean
            (3, "w1 w2 w3 w4 w5 w6 w7 x y z q r s t", "en", "src1", 0),
            # short train doc (< 8 tokens) -> clean, and must not crash
            (4, "w1 w2 w3", "en", "src2", 0),
        ]
    )
    got = {r["doc_id"]: r for r in decontaminate(prepared_spark).collect()}
    assert set(got) == {2, 3, 4}  # eval doc excluded from output
    assert got[2]["contaminated"] and got[2]["matched_grams"] >= 1
    assert not got[3]["contaminated"] and got[3]["matched_grams"] == 0
    assert not got[4]["contaminated"]


def test_stratified_sample_quota_and_determinism(prepared_spark, docs_view):
    from collector_spark.ml.curation import STRATUM_QUOTA, stratified_sample

    rows = [
        (i, "t", "en" if i % 2 else "de", f"src{i % 3}", 0) for i in range(60)
    ]
    docs_view(rows)
    out1 = stratified_sample(prepared_spark).collect()
    out2 = stratified_sample(prepared_spark).collect()
    assert out1 == out2  # pure function of doc_id
    kept_per_stratum: dict[tuple, int] = {}
    for r in out1:
        if r["kept"]:
            key = (r["lang"], r["source"])
            kept_per_stratum[key] = kept_per_stratum.get(key, 0) + 1
    assert kept_per_stratum and all(
        v <= STRATUM_QUOTA for v in kept_per_stratum.values()
    )
    # every stratum with >= quota docs keeps exactly quota
    from collections import Counter

    sizes = Counter((r["lang"], r["source"]) for r in out1)
    for key, n in sizes.items():
        assert kept_per_stratum.get(key, 0) == min(n, STRATUM_QUOTA)


def test_tfidf_prefers_source_exclusive_terms(prepared_spark, docs_view):
    from collector_spark.ml.curation import tfidf_top_terms

    docs_view(
        [
            (1, "shared shared unique_a unique_a unique_a", "en", "srcA", 0),
            (2, "shared shared shared unique_b unique_b", "en", "srcB", 0),
        ]
    )
    out = tfidf_top_terms(prepared_spark, k=1).collect()
    top = {r["source"]: r["term"] for r in out}
    # the source-exclusive term (df=1, idf=2) outranks the shared term
    # (df=2, idf=1) in both sources despite lower raw tf in srcB's case
    # (unique_b: 2*2=4 vs shared: 3*1=3)
    assert top == {"srcA": "unique_a", "srcB": "unique_b"}


def test_ngram_span_dedup_partial_and_exact_overlap(prepared_spark, docs_view):
    from collector_spark.ml.dedup import SPAN_W, ngram_span_dedup

    base = " ".join(f"w{i}" for i in range(SPAN_W))          # exactly W words
    long_uniq = " ".join(f"u{i}" for i in range(3 * SPAN_W))
    docs_view(
        [
            # exact pair: sibling 2 is scoped out (E1's drop, not span
            # duplication); canonical 1 holds the min doc_id for its window
            # so the asymmetric rule never flags it -> both keep here
            (1, base, "en", "s", 0),
            (2, base, "en", "s", 0),
            # doc embedding the duplicated span inside unique context:
            # the embedded windows match canonical 1 (smaller doc_id) ->
            # 0 < fraction < 0.5 -> keep
            (3, f"{long_uniq} {base} {long_uniq.replace('u', 'v')}", "en", "s", 0),
            # fully unique doc -> fraction 0.0
            (4, " ".join(f"z{i}" for i in range(2 * SPAN_W)), "en", "s", 0),
            # shorter than one window -> zero windows, kept
            (5, "a b c", "en", "s", 0),
        ]
    )
    got = {r["doc_id"]: r for r in ngram_span_dedup(prepared_spark).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # canonical of the exact pair: min-doc_id holder, never self-flagged
    assert got[1]["dup_fraction"] == 0.0 and got[1]["keep"]
    # exact sibling: no windows generated (canonical-first scope)
    assert got[2]["n_windows"] == 0 and got[2]["keep"]
    # doc 3 shares exactly the windows fully inside the embedded span
    assert 0 < got[3]["dup_windows"] < got[3]["n_windows"]
    assert got[3]["keep"]
    assert got[4]["dup_fraction"] == 0.0 and got[4]["keep"]
    assert got[5]["n_windows"] == 0 and got[5]["keep"]


def test_span_dedup_drops_majority_overlap_doc_asymmetrically(
    prepared_spark, docs_view
):
    """A >=50%-window-overlap pair: ONLY the larger doc_id drops; the
    min-doc_id representative of the shared content always survives."""
    from collector_spark.ml.dedup import SPAN_W, ngram_span_dedup

    shared = " ".join(f"s{i}" for i in range(3 * SPAN_W))
    docs_view(
        [
            (1, shared, "en", "s", 0),
            # doc 2 = shared content + a short unique tail: most of its
            # windows match doc 1 -> fraction >= 0.5 -> drop; doc 1 keeps
            (2, f"{shared} t1 t2 t3", "en", "s", 0),
        ]
    )
    got = {r["doc_id"]: r for r in ngram_span_dedup(prepared_spark).collect()}
    assert got[1]["keep"] and got[1]["dup_fraction"] == 0.0
    assert not got[2]["keep"] and got[2]["dup_fraction"] >= 0.5


def test_dedup_keep_list_keeps_one_copy_of_duplicated_content(
    prepared_spark, docs_view
):
    """Regression for the round-5 advisory: exact-dup siblings must not
    span-drop their canonical — exactly one copy of identical content
    survives the full composition, dropped siblings say exact_duplicate."""
    from collector_spark.ml.dedup import SPAN_W, dedup_keep_list

    base = " ".join(f"w{i}" for i in range(2 * SPAN_W))
    uniq = " ".join(f"u{i}" for i in range(2 * SPAN_W))
    docs_view(
        [
            (0, base, "en", "s", 0),
            (1, base, "en", "s", 0),   # identical to 0
            (2, uniq, "en", "s", 0),   # unrelated
        ]
    )
    got = {r["doc_id"]: r for r in dedup_keep_list(prepared_spark).collect()}
    assert got[0]["keep"] and got[0]["drop_reason"] is None
    assert not got[1]["keep"] and got[1]["drop_reason"] == "exact_duplicate"
    assert got[2]["keep"]


def test_source_quantiles_interpolation_matches_definition(
    prepared_spark, docs_view
):
    from collector_spark.ml.curation import source_quantiles

    # 4 docs: (n-1)*p interpolation -> p25 over [10,20,30,40] = 17.5
    docs_view(
        [(i, "t", "en", "s", 10 * (i + 1)) for i in range(4)]
    )
    row = source_quantiles(prepared_spark).collect()[0]
    assert row["docs"] == 4 and row["total_chars"] == 100
    assert row["p25"] == 17.5 and row["p50"] == 25.0 and row["p90"] == 37.0


def test_containment_flags_embedded_subset(prepared_spark, docs_view):
    """A short doc embedded verbatim in a much longer one: containment ~1.0
    while Jaccard is low -> subset_only. Whole-doc near-dups score high on
    both -> contained but not subset_only."""
    from collector_spark.ml import dedup as D

    short = " ".join(f"w{i}" for i in range(30))
    filler = " ".join(f"f{i}" for i in range(300))
    docs_view(
        [
            (1, short, "en", "s", 0),
            (2, f"{filler} {short}", "en", "s", 0),   # contains doc 1
            (3, short + " tail", "en", "s", 0),        # near-dup of doc 1
        ]
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in D.ngram_containment_pairs(prepared_spark).collect()
    }
    assert (1, 2) in rows, rows.keys()
    r12 = rows[(1, 2)]
    assert r12["containment"] >= 0.95 and r12["jaccard"] < 0.5
    assert r12["subset_only"]
    if (1, 3) in rows:
        assert not rows[(1, 3)]["subset_only"]


def test_containment_dominates_jaccard(prepared_spark):
    """|A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| always — a metric-level invariant
    over the real fixture corpus that would catch a swapped denominator."""

    from collector_spark.ml.dedup import ngram_containment_pairs

    pairs = ngram_containment_pairs(prepared_spark, threshold=0.0)
    bad = pairs.filter(F.col("containment") < F.col("jaccard")).count()
    assert bad == 0


def test_kneser_ney_mass_sums_to_one(prepared_spark):
    """KN's defining algebraic property: for every context w1, summing
    P(w2|w1) over the full continuation vocabulary gives exactly 1 — the
    discounted mass D*N1+(w1,.)/c(w1,.) is redistributed by Pcont, not
    lost. Checked for every context in the corpus model."""
    from collector_spark.ml.curation import KN_DISCOUNT

    spark = prepared_spark
    docs = spark.table("documents").select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("wl")
    )
    bigrams = (
        docs.filter(F.size("wl") >= 2)
        .select(F.explode(F.expr("sequence(1, size(wl) - 1)")).alias("i"), "wl")
        .select(
            F.element_at("wl", F.col("i").cast("int")).alias("w1"),
            F.element_at("wl", F.col("i").cast("int") + 1).alias("w2"),
        )
    )
    c2 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("cnt2"))
    ctx = c2.groupBy("w1").agg(
        F.sum("cnt2").alias("ctx_total"), F.count("*").alias("fanout")
    )
    cont = c2.groupBy("w2").agg(F.count("*").alias("n_left"))
    n_types = c2.count()
    # sum over the FULL vocab: cross join every context with every
    # continuation type, coalescing unobserved bigrams to count 0
    vocab = cont
    full = (
        ctx.crossJoin(vocab)
        .join(c2, ["w1", "w2"], "left")
        .select(
            "w1",
            (
                F.greatest(
                    F.coalesce(F.col("cnt2"), F.lit(0)).cast("double") - KN_DISCOUNT,
                    F.lit(0.0),
                )
                / F.col("ctx_total").cast("double")
                + (
                    KN_DISCOUNT
                    * F.col("fanout").cast("double")
                    / F.col("ctx_total").cast("double")
                )
                * (F.col("n_left").cast("double") / F.lit(float(n_types)))
            ).alias("p"),
        )
    )
    mass = full.groupBy("w1").agg(F.sum("p").alias("mass")).collect()
    assert mass
    worst = max(abs(r.mass - 1.0) for r in mass)
    assert worst < 1e-9, worst


def test_token_budget_quotas_sum_exactly(prepared_spark):
    """E85's defining property: integer final quotas sum to TOKEN_BUDGET
    exactly (largest-remainder closes the floor drift)."""
    from collector_spark.ml.curation import TOKEN_BUDGET, token_budget_plan

    rows = token_budget_plan(prepared_spark).collect()
    assert rows
    assert sum(r.final_quota for r in rows) == TOKEN_BUDGET
    for r in rows:
        assert r.final_quota in (r.floor_quota, r.floor_quota + 1)


def test_filter_ablation_unique_bounded_by_fail(prepared_spark):
    from collector_spark.ml.curation import filter_ablation

    rows = filter_ablation(prepared_spark).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r.n_unique_fail <= r.n_fail


# ---------------------------------------------------------------------------
# E89 — iterative BPE trainer
# ---------------------------------------------------------------------------


def test_bpe_round_consistency(prepared_spark):
    """The verdict-mandated pin: round i+1's pair counts equal a
    from-scratch recount after applying merges 1..i. The from-scratch side
    replays the COLLECTED merge table as literal replacements onto the
    initial segmentation — independent of the lazy argmax chain the
    trainer embeds in its plan."""
    from collector_spark.ml.curation import (
        BPE_TRAIN_ROUNDS,
        _bpe_apply,
        _bpe_best,
        _bpe_pair_counts,
        _bpe_vocab_seg,
        bpe_train,
    )

    spark = prepared_spark
    merges = bpe_train(spark, BPE_TRAIN_ROUNDS).collect()
    assert len(merges) == BPE_TRAIN_ROUNDS
    assert [m.merge_rank for m in merges] == list(range(1, BPE_TRAIN_ROUNDS + 1))

    # chained (plan-embedded argmax) segmentation per round
    chained = _bpe_vocab_seg(spark)
    for i, m in enumerate(merges, start=1):
        chained = _bpe_apply(chained, _bpe_best(_bpe_pair_counts(chained)))

        # from-scratch: replay collected merges 1..i as literals
        scratch = _bpe_vocab_seg(spark)
        seg_col = F.col("seg")
        for mm in merges[:i]:
            pat = f" {mm.sym_a} {mm.sym_b} "
            rep = f" {mm.sym_a}{mm.sym_b} "
            seg_col = F.replace(
                F.replace(seg_col, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
            )
        scratch = scratch.select("wc", seg_col.alias("seg"))

        a = _bpe_pair_counts(chained)
        b = _bpe_pair_counts(scratch)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (
            f"round {i + 1} counts diverge from from-scratch recount"
        )


def test_bpe_apply_is_greedy_leftmost(prepared_spark):
    """Double-replace equals exact greedy BPE on the overlap edge cases a
    single leftmost pass gets wrong: 'a a a' -> 'aa a' (not 'a aa'),
    'a b a b' -> 'ab ab' (single pass would leave the second pair)."""
    from collector_spark.ml.curation import _bpe_apply

    spark = prepared_spark
    segged = spark.createDataFrame(
        [(1, " a a a "), (1, " a b a b "), (1, " x a b y ")], ["wc", "seg"]
    )
    best_aa = spark.createDataFrame([("a", "a", 1)], ["sym_a", "sym_b", "pair_count"])
    got = {r.seg for r in _bpe_apply(segged, best_aa).collect()}
    assert " aa a " in got and " a b a b " in got

    best_ab = spark.createDataFrame([("a", "b", 1)], ["sym_a", "sym_b", "pair_count"])
    got = {r.seg for r in _bpe_apply(segged, best_ab).collect()}
    assert " ab ab " in got and " x ab y " in got


# ---------------------------------------------------------------------------
# E91 — BPE encoder (session 2)
# ---------------------------------------------------------------------------


def test_bpe_encode_bounds_and_monotone_compression(prepared_spark):
    """Token counts sit between the word count (every word >= 1 token) and
    the word-character count (rounds=0 tokenizes to characters, each merge
    only ever joins two adjacent tokens), per document; total tokens are
    non-increasing in rounds and strictly drop by round 4 somewhere."""
    from collector_spark.ml.curation import bpe_encode

    spark = prepared_spark
    r0 = bpe_encode(spark, rounds=0).select(
        "doc_id", "n_words", "n_tokens", "n_word_chars"
    )
    bad = r0.filter(F.col("n_tokens") != F.col("n_word_chars")).count()
    assert bad == 0, "rounds=0 must be the character baseline"

    prev_total = None
    for r in (1, 4):
        enc = bpe_encode(spark, rounds=r)
        assert (
            enc.filter(
                (F.col("n_tokens") < F.col("n_words"))
                | (F.col("n_tokens") > F.col("n_word_chars"))
            ).count()
            == 0
        )
        total = enc.agg(F.sum("n_tokens")).first()[0]
        if prev_total is not None:
            assert total <= prev_total
        prev_total = total
    base_total = r0.agg(F.sum("n_tokens")).first()[0]
    assert prev_total < base_total, "4 merges must compress the corpus"


def test_bpe_encode_applies_the_trainer_merges(prepared_spark):
    """The encoder's per-doc token counts equal a from-scratch replay of
    ml_bpe_train's COLLECTED merge table — training and application share
    one merge sequence, independent of the lazy argmax chain."""
    from collector_spark.ml.curation import (
        _bpe_vocab_seg,
        bpe_encode,
        bpe_train,
    )

    spark = prepared_spark
    rounds = 3
    merges = bpe_train(spark, rounds).collect()
    seg_col = F.col("seg")
    for mm in merges:
        pat = f" {mm.sym_a} {mm.sym_b} "
        rep = f" {mm.sym_a}{mm.sym_b} "
        seg_col = F.replace(
            F.replace(seg_col, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
        )
    tokw = _bpe_vocab_seg(spark, keep_word=True).select(
        "w",
        F.size(F.split(F.trim(seg_col), " ")).cast("long").alias("w_tokens"),
    )
    words = spark.table("documents").select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    scratch = (
        words.join(tokw, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("w_tokens"), F.lit(1)))
            .cast("long")
            .alias("n_tokens")
        )
    )
    enc = bpe_encode(spark, rounds).select("doc_id", "n_tokens")
    assert enc.exceptAll(scratch).count() == 0
    assert scratch.exceptAll(enc).count() == 0


def test_bpe_queries_agree_with_the_trainer(prepared_spark):
    """ml_bpe_pair_counts and ml_bpe_merge_round are rounds 1 and 2 of
    ml_bpe_train's loop on the fixture (no run of five of a doubled pair,
    where the trainer's two-pass merge departs from greedy): the rank-1
    candidate is merge 1, the applied pair is merge 1, and the recount's
    rank-1 row is merge 2."""
    from collector_spark.ml.curation import bpe_merge_round, bpe_pair_counts, bpe_train

    spark = prepared_spark
    m1, m2 = bpe_train(spark, 2).collect()
    top = bpe_pair_counts(spark).first()
    assert (top.merge_rank, top.pair, top.pair_count) == (1, m1.merged, m1.pair_count)

    recount = bpe_merge_round(spark).collect()
    assert {r.applied_pair for r in recount} == {m1.merged}
    r1 = recount[0]
    assert r1.merge_rank == 1
    assert (r1.sym_a, r1.sym_b, r1.pair_count) == (m2.sym_a, m2.sym_b, m2.pair_count)


def test_bpe_merge_round_matches_oracle_on_long_doubled_runs(
    prepared_spark, docs_view
):
    """A doubled argmax pair ('00') over a run of five of its symbol: the
    greedy leftmost merge of '100000' is 1 00 00 0, so the recount holds
    (00, 00) and never (0, 00). Engine and oracle agree row for row."""
    import duckdb
    import pandas as pd

    from collector_spark.ml.curation import bpe_merge_round, oracle_bpe_merge_round

    rows = [(i, "100000 100000 x", "en", "s", 15) for i in range(3)]
    docs_view(rows)
    got = sorted(tuple(r) for r in bpe_merge_round(prepared_spark).collect())
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
        )
        want = sorted(con.execute(oracle_bpe_merge_round()).fetchall())
    finally:
        con.close()
    assert got == want
    assert {(r[2], r[3]) for r in got} == {("1", "00"), ("00", "00"), ("00", "0")}
    assert {r[1] for r in got} == {"00"}
