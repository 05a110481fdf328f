"""Contract of the dedup group-pair pipeline in llm/dedup.py: the one
expansion from group pairs to member pairs, the one broadcast gate, and
the gate sizing each broadcast by the table it broadcasts."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from datafusion_table_providers_spark.core.memo import clear_memo_caches
from datafusion_table_providers_spark.llm import dedup


@pytest.fixture()
def groups(spark):
    """Group map {1: [1, 2, 3], 4: [4, 5]} and the group pairs
    [(1, 1, p), (1, 4, q)]: a diagonal row for group 1 only, and one
    cross-group row."""
    m = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "doc_id long, gid long"
    )
    gpairs = spark.createDataFrame(
        [(1, 1, "p"), (1, 4, "q")], "ga long, gb long, v string"
    )
    return m, gpairs


def test_symmetric_expansion_emits_each_member_pair_once(groups):
    m, gpairs = groups
    got = sorted(
        map(tuple, dedup._expand_group_pairs(gpairs, m, 5, [F.col("v")]).collect())
    )
    intra = [(1, 2, "p"), (1, 3, "p"), (2, 3, "p")]
    cross = [(a, b, "q") for a in (1, 2, 3) for b in (4, 5)]
    # group 4 has no diagonal row, so its pair (4, 5) is not emitted
    assert got == sorted(intra + cross)
    assert all(da < db for da, db, _ in got)


def test_directional_expansion_emits_only_requested_members(groups):
    m, gpairs = groups
    odd = F.col("doc_id") % 2 == 1
    got = sorted(
        map(
            tuple,
            dedup._expand_group_pairs(
                gpairs, m, 5, [F.col("v")], sides=(odd, ~odd)
            ).collect(),
        )
    )
    # odd members of ga x even members of gb, in that order
    assert got == [(1, 2, "p"), (1, 4, "q"), (3, 2, "p"), (3, 4, "q")]


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def test_bounded_broadcast_hints_only_under_the_cap(spark, monkeypatch):
    monkeypatch.setattr(dedup, "SEMIJOIN_MAX_BROADCAST_ROWS", 3)
    df = spark.range(5)
    assert not _hinted(dedup._bounded_broadcast(df, 4))
    assert _hinted(dedup._bounded_broadcast(df, 3))
    assert _hinted(dedup._bounded_broadcast(df, 2))


@pytest.fixture()
def near_dup_dir(spark, tmp_path):
    """Four distinct texts that differ only in their last word: every pair
    collides on a band, so the candidate table holds 6 pairs over 4 docs."""
    base = " ".join(f"w{i}" for i in range(40))
    rows = [(k, f"{base} end{k}", "en", "s0", 0) for k in range(4)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


#: the join operator of each two-key left-semi join probing (da, db)
_PAIR_SEMI = re.compile(r"(\w+) \[\w+#\d+L?, \w+#\d+L?\], \[da#\d+L?, db#\d+L?\], LeftSemi")


def test_d02b_pair_probe_gated_on_pair_count(spark, near_dup_dir, monkeypatch):
    """The (da, db) semi-join broadcasts the candidate PAIR table, so its
    gate must count pairs, not candidate docs: with the cap at the doc
    count and the pair count above it, the probe must not broadcast."""
    clear_memo_caches()
    pairs = dedup.d02b_minhash_lsh_pairs(spark, near_dup_dir).collect()
    n_cand = len({d for p in pairs for d in (p.da, p.db)})
    # distinct texts: the output pairs are exactly the candidate pairs
    assert len(pairs) == 6 and n_cand == 4
    monkeypatch.setattr(dedup, "SEMIJOIN_MAX_BROADCAST_ROWS", n_cand)
    # only the explicit hint may broadcast here, not the size statistics
    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "-1")
        clear_memo_caches()
        df = dedup.d02b_minhash_lsh_pairs(spark, near_dup_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert _PAIR_SEMI.findall(plan) == ["SortMergeJoin"], plan
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, pairs))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        clear_memo_caches()
