"""d12's min-label propagation must reach the recursive-CTE oracle's
components or fail loudly — never return unconverged labels. Pinned on a
chain of near-duplicate texts whose LSH pair graph is a path, so one
propagation round cannot finish."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from datafusion_table_providers_spark.core.memo import clear_memo_caches
from datafusion_table_providers_spark.llm import dedup


def _chain_texts():
    # each text replaces one word of the one before: neighbours have
    # jaccard 0.65-0.75 and share an LSH band, texts two steps apart fall
    # under D12_JACCARD_TAU — the pair graph is the path 0-1-2-3-4
    words = [f"c0w{j}" for j in range(16)]
    texts = [" ".join(words)]
    for i in range(1, 5):
        words[7 * i % 16] = f"c0x{i}"
        texts.append(" ".join(words))
    return texts


@pytest.fixture
def chain_dir(tmp_path):
    chain = _chain_texts()
    # an exact copy of the middle text (intra-group pairs) and a loner
    texts = chain + [chain[2], "an unrelated document about something else"]
    pd.DataFrame({"doc_id": range(1, len(texts) + 1), "text": texts}).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_d12_round_cap_fails_loudly(spark, chain_dir, monkeypatch):
    monkeypatch.setattr(dedup, "D12_MAX_ROUNDS", 1)
    clear_memo_caches()
    with pytest.raises(RuntimeError, match="did not converge within 1 rounds"):
        dedup.d12_dedup_components(spark, chain_dir)


def test_d12_chain_matches_oracle(spark, chain_dir):
    clear_memo_caches()
    got = sorted(
        (r.doc_id, r.component_id)
        for r in dedup.d12_dedup_components(spark, chain_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{chain_dir}/documents.parquet'"
    )
    want = sorted(con.execute(dedup._d12_sql()).fetchall())
    assert got == want
    # the chain and the copy form one component; the loner pairs with none
    assert got == [(d, 1) for d in range(1, 7)]
