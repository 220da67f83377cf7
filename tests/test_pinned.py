"""Input-keyed pinned-relation cache (core/pinned.py): one build per
(session, input dir, name); re-preparing a different dir replaces —
unpersists — the old copy instead of stacking cached relations."""

from __future__ import annotations

_CODEGEN_KEYS = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")


def _check_builds_once_and_invalidates(spark, pin, name):
    """Returns the session's codegen settings as each build saw them."""
    from collector_spark import registry

    calls = []

    def build():
        calls.append([spark.conf.get(k) for k in _CODEGEN_KEYS])
        return spark.range(3)

    a = pin(spark, name, build)
    b = pin(spark, name, build)
    assert a is b
    assert len(calls) == 1
    assert a.is_cached

    # simulate an input-dir switch: the cache key changes, the old copy is
    # replaced and unpersisted, and the builder runs again
    old_dir = registry.active_dir(spark)
    try:
        registry._ACTIVE_DIR[id(spark)] = old_dir + "_other"
        c = pin(spark, name, build)
        assert c is not a
        assert len(calls) == 2
        assert a.is_cached is False  # unpersisted
    finally:
        registry._ACTIVE_DIR[id(spark)] = old_dir
        pin(spark, name, build)  # restore entry for the real dir
    return calls


def test_pinned_builds_once_and_invalidates_on_dir_change(prepared_spark):
    from collector_spark.core.pinned import pinned

    _check_builds_once_and_invalidates(prepared_spark, pinned, "pinned_test_rel")


def test_pinned_interpreted_renders_without_codegen_and_restores(prepared_spark):
    from collector_spark.core.pinned import pinned_interpreted

    spark = prepared_spark
    before = [spark.conf.get(k) for k in _CODEGEN_KEYS]
    calls = _check_builds_once_and_invalidates(
        spark, pinned_interpreted, "pinned_interpreted_test_rel"
    )
    # every render ran with codegen off; the session got its settings back
    assert all(seen == ["false", "NO_CODEGEN"] for seen in calls)
    assert [spark.conf.get(k) for k in _CODEGEN_KEYS] == before
