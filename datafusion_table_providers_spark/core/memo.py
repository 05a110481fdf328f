"""Lineage cuts and session memoization: the one way to materialize.

Every lineage cut and every memoized artifact of the operator library goes
through two functions:

- :func:`materialize` ``(df, **counts) -> (df, values)`` cuts ``df``'s
  lineage with an eager ``localCheckpoint``. Each keyword is an aggregate
  column (``n=F.count(F.lit(1))``, ``hits=F.count_if(cond)``) observed by
  ``df.observe`` inside the checkpoint's own job, so a table and its counts
  cost one scan. Spark rejects DISTINCT aggregates in ``observe``; a
  distinct count needs its own ``.count()``.
- :func:`memoized` ``(spark, sf_dir, name, build)`` returns ``build()``,
  computed once per ``(applicationId, normalized sf_dir, name)``. Inputs
  under one ``sf_dir`` are immutable, so the value stays valid for the life
  of the SparkSession. A memoized table and the counts observed while it
  was built share one entry.

Contract (know before reusing the pattern):

- Local checkpoints are NON-RECOVERABLE: after an executor loss the
  checkpointed blocks are gone and every DataFrame reading them stays
  broken for the rest of the session. A long-lived driver should call
  :func:`clear_memo_caches` from its failure handler; the next caller
  rebuilds from the source tables.
- Nothing is evicted: a driver sweeping many ``sf_dir`` values keeps one
  small artifact set per directory until :func:`clear_memo_caches`.
- Observed counts may only steer plan choices whose results are identical
  either way (broadcast or shuffle, apply a pre-filter or skip it, stop a
  fixpoint loop once nothing moved), never output values: a retried task
  can report its partial aggregate twice, so a count may overshoot.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Dict, Tuple

from pyspark.sql import Column, DataFrame, Observation

#: (applicationId, normalized sf_dir, name) → memoized value
_MEMO: Dict[Tuple[str, str, str], Any] = {}


def materialize(df: DataFrame, **counts: Column) -> Tuple[DataFrame, Dict[str, Any]]:
    """Checkpoint ``df`` eagerly; return it with the observed ``counts``."""
    if not counts:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    observed = df.observe(obs, *[c.alias(k) for k, c in counts.items()])
    return observed.localCheckpoint(eager=True), obs.get


def memoized(spark, sf_dir: str, name: str, build: Callable[[], Any]) -> Any:
    """``build()``, computed once per session, corpus and ``name``."""
    key = (spark.sparkContext.applicationId, os.path.normpath(sf_dir), name)
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]


def clear_memo_caches() -> int:
    """Drop every memoized artifact (e.g. after an executor loss made the
    checkpointed blocks unrecoverable). Returns the number of entries
    dropped; the next caller recomputes from the source tables."""
    n = len(_MEMO)
    _MEMO.clear()
    return n
