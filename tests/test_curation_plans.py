"""Scale contract proofs for the curation operators: the plan shapes that
keep them viable at 100 TB, pinned so a refactor can't silently regress
them (same idea as test_bucketed_diff.py)."""

from __future__ import annotations


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontaminate_broadcasts_eval_grams(prepared_spark):
    """The corpus-side n-gram explode must never shuffle: the tiny eval
    n-gram set is the broadcast side of the contamination join."""
    from collector_spark.ml.curation import decontaminate

    plan = _plan(decontaminate(prepared_spark))
    assert "BroadcastHashJoin" in plan, plan
    # the exploded corpus grams appear only under broadcast joins — the only
    # hash exchanges are the per-doc count-distinct pair (partial distinct +
    # final agg) and the distinct over the (tiny) eval split
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_stratified_sample_window_is_partitioned(prepared_spark):
    """The quota ranking must partition by the stratum key — a global
    single-partition window would serialize the corpus through one task."""
    from collector_spark.ml.curation import stratified_sample

    plan = _plan(stratified_sample(prepared_spark))
    assert "Exchange hashpartitioning(lang" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_tfidf_uses_partial_top_k(prepared_spark):
    """row_number + rank<=k must compile to WindowGroupLimit (map-side
    partial top-k before the shuffle), not a full per-source sort of every
    (source, term) pair on the reduce side only."""
    from collector_spark.ml.curation import tfidf_top_terms

    plan = _plan(tfidf_top_terms(prepared_spark))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("WindowGroupLimit", 2)[-1] or plan.count(
        "WindowGroupLimit"
    ) >= 2, plan


def test_unigram_topk_vocab_is_broadcast(prepared_spark):
    """E41c's whole point is the bounded lookup side: the top-K vocab must
    reach the corpus-word join as a broadcast (no shuffle of the exploded
    corpus for the lookup) and the K-selection must be a TakeOrdered, not
    a global sort of the vocabulary."""
    from collector_spark.ml.curation import unigram_logprob_topk

    plan = _plan(unigram_logprob_topk(prepared_spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrdered" in plan, plan
    # the property protected: the exploded corpus is never shuffle-joined
    # on the word for the lookup (the K-row vocab broadcasts; only the
    # final per-doc agg hash-exchanges on doc_id). Total exchange counts
    # are deliberately NOT pinned — they move with AQE/planner versions.
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan


def test_truth_joins_are_capped_in_plan(prepared_spark):
    """The exact-Jaccard truth self-join must carry the TRUTH_BUCKET_CAP
    stop-shingle anti-join in the executed plan — the bound on its
    per-hash quadratic expansion lives in the plan, not in run-book prose
    (r7 verdict item 2). Asserted on the truth component directly: the
    registered consumers (recall, tuning) scan it MATERIALIZED
    (localCheckpoint — one derivation shared by recall and every tuning
    configuration), so their own plans show the checkpoint scan."""
    import re

    from collector_spark.ml.dedup import (
        TRUTH_BUCKET_CAP,
        _jaccard_truth,
        _persisted_shingles,
        lsh_dedup_recall,
        lsh_tuning,
    )

    plan = _plan(_jaccard_truth(_persisted_shingles(prepared_spark)))
    assert "LeftAnti" in plan, plan
    # the cap predicate itself (df > CAP on the hot-hash build side), not
    # just the literal appearing anywhere in the plan
    assert re.search(rf"\(df#\d+L? > {TRUTH_BUCKET_CAP}\)", plan), plan

    for fn in (lsh_dedup_recall, lsh_tuning):
        p = _plan(fn(prepared_spark))
        assert "ExistingRDD" in p, (fn.__name__, p)


def test_vocab_coverage_topk_is_broadcast(prepared_spark):
    """E66: the bounded top-K vocab must broadcast into the exploded
    corpus-word probe (TakeOrdered selection, no shuffle join on the word
    column for the lookup)."""
    from collector_spark.ml.curation import vocab_coverage

    plan = _plan(vocab_coverage(prepared_spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrdered" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_perplexity_buckets_window_is_per_source(prepared_spark):
    """E65: the tercile rank window must partition by source — a global
    single-partition rank would serialize the corpus through one task.
    (The one SinglePartition exchange in the plan is the 1-row vocab
    total broadcast, same as E41.)"""
    from collector_spark.ml.curation import perplexity_buckets

    plan = _plan(perplexity_buckets(prepared_spark))
    assert "Exchange hashpartitioning(source" in plan, plan
    assert "Window" in plan, plan


def test_semdedup_pairs_confined_to_clusters(prepared_spark):
    """E67: the pairwise-cosine expansion must be keyed on cluster_id —
    no all-pairs CartesianProduct may appear anywhere; the only
    nested-loop joins are the broadcast-K centroid assignments (Lloyd's
    cross join over K rows)."""
    from collector_spark.ml.similarity import semdedup

    plan = _plan(semdedup(prepared_spark))
    assert "CartesianProduct" not in plan, plan
    # the pair join itself is an equi-join on cid
    assert "cid#" in plan and "Join" in plan, plan


def test_incremental_dedup_cap_and_cross_side_in_plan(prepared_spark):
    """E68: the per-bucket bound and the cross-side-only expansion live in
    the executed plan — buckets above LSH_BUCKET_CAP (combined sides) are
    dropped before pair expansion, and the pair transform crosses
    ex_ids x inc_ids only (the existing corpus never re-pairs with
    itself)."""
    import re

    from collector_spark.ml.dedup import LSH_BUCKET_CAP, incremental_dedup

    plan = _plan(incremental_dedup(prepared_spark))
    assert re.search(
        rf"size\(ex_ids#\d+, false\) \+ size\(inc_ids#\d+, false\)\) <= "
        rf"{LSH_BUCKET_CAP}",
        plan,
    ), plan
    assert re.search(r"transform\(ex_ids#\d+", plan), plan


def test_gopher_filters_is_map_only(prepared_spark):
    """E71 is per-row array math: nothing but the presentation sort may
    shuffle — no aggregate exchange, no join, no UDF."""
    from collector_spark.ml.curation import gopher_filters

    plan = _plan(gopher_filters(prepared_spark))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_kneser_ney_totals_broadcast(prepared_spark):
    """E72's two corpus-level statistics (bigram type count) enter as a
    1-row broadcast, never a shuffled join side; the model joins stay on
    the bigram/word keys."""
    from collector_spark.ml.curation import kneser_ney_bigram

    plan = _plan(kneser_ney_bigram(prepared_spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zipf_fit_two_exchanges(prepared_spark):
    """E73: one shuffle for the (source, word) counts, one for the
    per-source ranking/regression — the regression itself adds none
    (integer sums reduce in the same agg)."""
    from collector_spark.ml.curation import zipf_fit

    plan = _plan(zipf_fit(prepared_spark))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    # map-side partial top-R before the per-source window shuffle
    assert "WindowGroupLimit" in plan, plan


def test_embedding_outliers_single_pass(prepared_spark):
    """E74 must not self-join the scored relation: own/best-other reduce in
    ONE groupBy(vec_id) over the broadcast-scored rows."""
    from collector_spark.ml.similarity import embedding_outliers

    plan = _plan(embedding_outliers(prepared_spark))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # L-row centroid side
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_incremental_dedup_materialize_collapses_scans(prepared_spark):
    """E68's materialization: the canonical union's shingles are
    checkpointed once and the plan's source-scan count collapses (46 in
    the former recompute shape -> a handful)."""
    from collector_spark.ml.dedup import incremental_dedup

    def scans(df):
        plan = _plan(df)
        return plan.count("Scan parquet") + plan.count("FileScan")

    mat_scans = scans(incremental_dedup(prepared_spark))
    assert mat_scans <= 8, mat_scans


def test_incremental_dedup_default_is_sink_shape(prepared_spark):
    """r9 verdict item 5 (+ r10 re-measurement): the DEFAULT (what an
    unconfigured production call — including the foreachBatch streaming
    twin — gets) is the materialized 6-scan cluster shape, and the
    registered form IS the default — the r9 recompute-wins measurement
    did not hold up under repeated idle runs (checkpoint 4.8-5.2 s vs
    recompute 5.9-9.6 s at sf0.1)."""
    from collector_spark import registry
    from collector_spark.ml.dedup import incremental_dedup

    def scans(df):
        plan = _plan(df)
        return plan.count("Scan parquet") + plan.count("FileScan")

    default_scans = scans(incremental_dedup(prepared_spark))
    assert default_scans <= 8, default_scans

    registry.load_all()
    registered = registry.REGISTRY["ml_incremental_dedup"].spark_fn
    assert scans(registered(prepared_spark)) == default_scans


def test_bpe_encode_default_is_linear_shape(prepared_spark):
    """E91's materialization policy: the unconfigured default checkpoints
    the bounded vocab segmentation per round (linear 2-scan plan — corpus
    read once for the vocab fold, once for the doc join, at ANY round
    count) and the registered form IS the default — unlike incremental
    dedup, the cluster shape also wins at bench scale (sf0.1 steady-state
    2.6 s vs 4.0 s recompute)."""
    from collector_spark import registry
    from collector_spark.ml.curation import bpe_encode

    def scans(df):
        plan = _plan(df)
        return plan.count("Scan parquet") + plan.count("FileScan")

    default_scans = scans(bpe_encode(prepared_spark))
    assert default_scans <= 4, default_scans

    registry.load_all()
    registered = registry.REGISTRY["ml_bpe_encode"].spark_fn
    assert scans(registered(prepared_spark)) == default_scans
