"""Input-keyed pinned relations: persist a derived relation once per
(session, prepared input dir, name) and reuse it across the multiple plan
branches that consume it.

Fixture/temp views are lazy derivations — every scan branch re-evaluates
the full derivation subtree. Operators whose shape is "one derived relation
feeds N dimension builds plus the fact join" (snapshot assembly,
activity assembly) pin that relation instead: one evaluation, N reads.

Bounded by design: pinned relations are rollups or per-connection facts —
O(distinct keys) or O(max_connections), never O(input rows) — and at most
one copy per name is retained; re-preparing a different input dir replaces
(unpersists) the old copy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple[int, str], tuple[str, DataFrame]] = {}


def pinned(
    spark: SparkSession, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the pinned relation `name`, building + persisting on first
    use for the currently-prepared input dir."""
    return _pin(spark, name, lambda: build().persist())


def pinned_interpreted(
    spark: SparkSession, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """``pinned()`` for fixture renders whose single fused projection
    exceeds the JVM's 64 KB method limit (the ~115-branch rule-sample CASE
    in log_raw, the query-sample render + fingerprint fusion): build with
    whole-stage codegen DISABLED and materialize eagerly inside that
    window, so the render never attempts the doomed compile. Otherwise
    Spark logs ``ERROR CodeGenerator: Failed to compile`` and falls back
    to interpreted execution anyway — results are identical, but the
    error lines mask real codegen regressions in every sweep log.
    Consumers read the persisted relation with codegen on as usual; only
    the one-time render runs interpreted."""

    def render() -> DataFrame:
        # whole-stage off alone is not enough: Spark then compiles the giant
        # projection via GenerateUnsafeProjection, which hits the same 64 KB
        # janino wall before falling back — NO_CODEGEN skips straight to the
        # interpreted projection for this one render.
        prev_ws = spark.conf.get("spark.sql.codegen.wholeStage", "true")
        prev_fm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try:
            df = build().persist()
            df.count()  # fill the cache while codegen is off
        finally:
            spark.conf.set("spark.sql.codegen.wholeStage", prev_ws)
            spark.conf.set("spark.sql.codegen.factoryMode", prev_fm)
        return df

    return _pin(spark, name, render)


def _pin(
    spark: SparkSession, name: str, render: Callable[[], DataFrame]
) -> DataFrame:
    """The one cache path: reuse the entry for the active input dir, else
    unpersist the stale copy and store ``render()``'s persisted relation."""
    from collector_spark import registry

    input_key = registry.active_dir(spark)
    key = (id(spark), name)
    cached = _CACHE.get(key)
    if cached is not None:
        if cached[0] == input_key:
            return cached[1]
        cached[1].unpersist()
        del _CACHE[key]
    df = render()
    _CACHE[key] = (input_key, df)
    return df
