"""Per-layer measurements, taken from outside the package.

- :class:`StageStats` reads executor-side stage metrics from the local
  Spark UI REST API (``/api/v1/applications/<app>/jobs`` and ``/stages``)
  and sums them per job group; it also reads the SQL executions
  (``/sql``) a job group ran, to see which transport a write took;
- :func:`tree_cpu_s` sums the CPU time of this process and every process
  below it (the Spark JVM and its Python workers);
- :func:`plan_counts` counts exchanges and broadcasts in a physical plan;
- ``probe_*`` call one layer's public functions directly, each call inside
  a span, on the same inputs the workload's operations use.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from typing import Dict, Iterable, List

MB = 1024 * 1024


class StageStats:
    """Executor metrics of finished jobs, grouped by job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def collect(self, groups: Iterable[str]) -> Dict[str, dict]:
        """``{group: metrics}`` for the given job groups. Waits until the UI
        store has recorded the end of every job the tracker knows of."""
        groups = list(groups)
        want = {g: set(self.tracker.getJobIdsForGroup(g)) for g in groups}
        every = set().union(*want.values()) if want else set()
        deadline = time.monotonic() + 10
        while True:
            jobs = {j["jobId"]: j for j in self._get("/jobs")}
            done = all(
                j in jobs and jobs[j]["status"] in ("SUCCEEDED", "FAILED") for j in every
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stages = {}
        for s in self._get("/stages"):
            if s["status"] == "COMPLETE":
                stages.setdefault(s["stageId"], s)
        out = {}
        for g, ids in want.items():
            m = dict.fromkeys(
                ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
            m["jobs"] = len(ids)
            seen = set()
            for j in ids:
                for sid in jobs.get(j, {}).get("stageIds", []):
                    s = stages.get(sid)
                    if s is None or sid in seen:
                        continue  # skipped: its shuffle output was reused
                    seen.add(sid)
                    m["stages"] += 1
                    m["tasks"] += s["numCompleteTasks"]
                    m["executor_run_s"] += s["executorRunTime"] / 1e3
                    m["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    m["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                    m["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                    m["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
            out[g] = m
        return out

    def wrote_files(self, group: str) -> bool:
        """Whether a SQL execution of the job group wrote files (a Spark
        ``InsertIntoHadoopFsRelationCommand``): the writer's spool transport
        does, the Arrow transport does not."""
        ids = set(self.tracker.getJobIdsForGroup(group))
        deadline = time.monotonic() + 10
        while True:
            execs = [
                e for e in self._get("/sql?details=true&planDescription=true&length=100000")
                if ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
            ]
            done = all(e["status"] != "RUNNING" for e in execs)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return any("InsertIntoHadoopFsRelationCommand" in e["planDescription"] for e in execs)


def _proc_table() -> Dict[int, tuple]:
    """``{pid: (ppid, cpu ticks incl. reaped children)}`` from /proc."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime
        out[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def descendants(root: int = None, table: Dict[int, tuple] = None) -> List[int]:
    """``root`` (default: this process) and every live process below it."""
    table = _proc_table() if table is None else table
    kids: Dict[int, list] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its live
    descendants (the Spark JVM and its Python workers), including what they
    collected from children that already exited."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in descendants(table=table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def plan_counts(df) -> Dict[str, int]:
    """Shuffle exchanges and broadcasts in the DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    bcast = sum("BroadcastExchange" in ln for ln in lines)
    exch = sum(("Exchange " in ln) for ln in lines) - bcast
    return {"plan.exchanges": exch, "plan.broadcasts": bcast}


def _timed(tr, name, fn, repeats=1):
    """Median seconds of ``repeats`` calls of ``fn``, each in a span."""
    times, out = [], None
    for _ in range(repeats):
        with tr.span(name) as s:
            out = fn()
        times.append(s["end"] - s["start"])
    return statistics.median(times), out


def probe_reads(ctx, tr) -> Dict[str, float]:
    from datafusion_table_providers_spark.engine import Engine
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend
    from datafusion_table_providers_spark.sources.duckdb_source import (
        DuckDBDataSource,
        duckdb_reader_df,
    )
    from datafusion_table_providers_spark.sources.dynamic_filter import (
        runtime_filter_clause,
    )
    from datafusion_table_providers_spark.sources.transport import materialize_remote
    from pyspark.sql import functions as F

    spark, m = ctx.spark, {}
    views = {n: ctx.pq(n) for n in ("nation", "region", "customer", "orders", "supplier", "part")}
    backend = DuckDBBackend(parquet_tables=views)

    # schema probe: the connector DataFrame construction of the pushdown scan
    m["sources.schema_probe_s"], _ = _timed(
        tr, "sources.duckdb_reader_df",
        lambda: duckdb_reader_df(spark, backend, "orders",
                                 columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]),
        repeats=3)

    # the partitioned lineitem scan's reader, driven in this process: the
    # remote engine's share of the scan, without Spark or the Python workers
    # (the reader options and range slices duckdb_reader_df builds for it:
    # ``cores`` equal-width l_orderkey ranges, the outer two open-ended)
    lb = ctx.fixtures["lineitem_backend"]
    lo, hi = lb.query_arrow(
        "SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi FROM lineitem"
    ).to_pylist()[0].values()
    edges = [lo + (hi - lo) / ctx.cores * i for i in range(1, ctx.cores)]
    clauses = []
    for a, b in zip([None] + edges, edges + [None]):
        c = ([f'"l_orderkey" >= {a}'] if a is not None else [])
        c += [f'"l_orderkey" < {b}'] if b is not None else []
        clauses.append(" AND ".join(c))
    opts = {"path": ":memory:", "relation": "lineitem", "settings": "{}", "attach": "[]",
            "parquet_tables": json.dumps(lb.parquet_tables),
            "partition_clauses": json.dumps(clauses)}
    src = DuckDBDataSource(opts)
    reader = src.reader(src.schema())
    rows = batches = nbytes = 0
    remote = 0.0
    parts = reader.partitions()
    for p in parts:
        with tr.span("sources.read") as s:
            for b in reader.read(p):
                rows += b.num_rows
                batches += 1
                nbytes += b.nbytes
        remote += s["end"] - s["start"]
    m.update({"sources.remote_s": remote, "sources.rows": rows, "sources.batches": batches,
              "sources.arrow_mb": nbytes / MB, "sources.partitions": len(parts)})
    exec_s = ctx.op_exec_s.get("scan_rows")
    if exec_s is not None:
        m["pyboundary.overhead_s"] = exec_s - remote / min(len(parts), ctx.cores)

    # federation: routing decision, the Engine.sql call, and the pushed SQL
    # run on the backend alone
    eng = Engine(spark)
    eng.register_backend_table("fed_nation", backend, "nation")
    eng.register_backend_table("fed_region", backend, "region")
    q = ("SELECT r_name, COUNT(*) AS n_nations FROM fed_nation JOIN fed_region "
         "ON n_regionkey = r_regionkey GROUP BY r_name")
    m["engine.route_s"], _ = _timed(tr, "engine.explain_federation",
                                    lambda: eng.explain_federation(q), repeats=3)
    m["engine.sql_s"], _ = _timed(tr, "engine.sql", lambda: eng.sql(q), repeats=3)
    pushed = q.replace("fed_nation", "nation").replace("fed_region", "region")
    m["transport.remote_s"], _ = _timed(
        tr, "sources.transport.query_arrow_batches",
        lambda: sum(b.num_rows for b in backend.query_arrow_batches(pushed)), repeats=3)
    fed = materialize_remote(spark, backend, pushed)
    m["transport.spooled"] = 1 if fed.inputFiles() else 0

    # runtime filter: clause computation, and the share of fact rows it keeps
    dim = (spark.read.parquet(ctx.pq("customer"))
           .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5))
           .select("c_custkey"))
    m["dynamic_filter.clause_s"], (clause, _) = _timed(
        tr, "sources.dynamic_filter.runtime_filter_clause",
        lambda: runtime_filter_clause(dim, "c_custkey", backend.dialect, fact_column="o_custkey"),
        repeats=3)
    def count(where):
        return backend.query_arrow(f"SELECT COUNT(*) FROM orders WHERE {where}").column(0)[0].as_py()

    m["dynamic_filter.kept_ratio"] = count(clause) / count("TRUE")
    backend.close()
    return m


def probe_writes(ctx, tr) -> Dict[str, float]:
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend
    from datafusion_table_providers_spark.write import writer
    from datafusion_table_providers_spark.write.constraints import (
        validate_not_null,
        validate_unique,
    )
    from perfbench.workloads import INSERT_KEYS

    spark, m = ctx.spark, {}
    df = spark.read.parquet(ctx.pq("lineitem"))

    def validate():
        validate_not_null(df, INSERT_KEYS)
        validate_unique(df, INSERT_KEYS)

    m["write.validate_s"], _ = _timed(tr, "write.validate", validate)
    m["write.toarrow_s"], table = _timed(tr, "spark.toArrow", df.toArrow)
    path = os.path.join(ctx.tmp, "probe_ingest.duckdb")
    backend = DuckDBBackend(path)
    sc = spark.sparkContext
    group = "probe/write.insert_into"
    sc.setJobGroup(group, group)
    try:
        m["write.insert_s"], n = _timed(
            tr, "write.insert_into",
            lambda: writer.insert_into(backend, "lineitem", df, mode="append",
                                       primary_keys=INSERT_KEYS))
    finally:
        sc._jsc.clearJobGroup()
        backend.close()
    m["write.rows"] = n
    # the transport the writer chose: 1 if its jobs wrote a parquet spool
    m["write.transport"] = 1 if StageStats(spark).wrote_files(group) else 0
    m["write.db_bytes_per_input_byte"] = os.path.getsize(path) / table.nbytes
    os.remove(path)
    return m


def probe_connectors(ctx, tr) -> Dict[str, float]:
    return {**probe_reads(ctx, tr), **probe_writes(ctx, tr)}


PROBES = {"connectors": probe_connectors}
