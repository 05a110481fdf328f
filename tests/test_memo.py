"""Pins for core.memo, the one way to cut lineage, count a table and
memoize it: observed counts equal plain counts and cost no extra job, and
the registry builds each (session, corpus, name) entry once."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from datafusion_table_providers_spark.core.memo import (
    clear_memo_caches,
    materialize,
    memoized,
)
from datafusion_table_providers_spark.llm import dedup
from tests.conftest import SF_DIR as SF


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"test-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus; let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_materialize_counts_equal_count(spark):
    df = _docs(spark)
    third = F.col("doc_id") % 3 == 0
    out, c = materialize(df, n=F.count(F.lit(1)), thirds=F.count_if(third))
    assert c == {"n": df.count(), "thirds": df.filter(third).count()}
    assert c["n"] > c["thirds"] > 0
    assert out.count() == c["n"]


def test_materialize_without_counts(spark):
    out, c = materialize(_docs(spark))
    assert c == {}
    assert out.count() == _docs(spark).count()


def test_materialize_runs_one_job(spark):
    df = _docs(spark)
    (_, c), jobs = _jobs_of(spark, lambda: materialize(df, n=F.count(F.lit(1))))
    assert c["n"] > 0
    assert jobs == 1, "the counts must come from the checkpoint's own job"


def test_text_group_counts_run_no_jobs(spark):
    clear_memo_caches()
    m = dedup._text_groups(spark, SF)
    (n_docs, n_reps), jobs = _jobs_of(
        spark, lambda: (dedup._doc_count(spark, SF), dedup._rep_count(spark, SF))
    )
    assert jobs == 0, "the counts were observed while the map was built"
    assert n_docs == m.count()
    assert n_reps == m.where(F.col("doc_id") == F.col("gid")).count()
    assert n_docs > 0 and n_reps > 0


def test_memoized_builds_once_per_key(spark):
    clear_memo_caches()
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert memoized(spark, "/corpus/a", "x", build) == 1
    assert memoized(spark, "/corpus/a/", "x", build) == 1  # normalized dir
    assert memoized(spark, "/corpus/a", "y", build) == 2
    assert memoized(spark, "/corpus/b", "x", build) == 3
    assert len(calls) == 3


def test_clear_memo_caches_returns_entries_dropped(spark):
    clear_memo_caches()
    memoized(spark, "/corpus/a", "x", lambda: 1)
    memoized(spark, "/corpus/a", "y", lambda: 2)
    assert clear_memo_caches() == 2
    assert clear_memo_caches() == 0
    # the next caller rebuilds
    assert memoized(spark, "/corpus/a", "x", lambda: 3) == 3
    clear_memo_caches()
