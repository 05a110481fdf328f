"""Benchmark of the connector, federation, write and LLM-data layers.

Run from the repository root:

    python3 perfbench/run.py --workload connectors --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Each workload is a closed loop: one client (this process) drives one Spark
driver on ``local[$SPARK_GRAFT_CPUS]`` (default: the usable cores) and runs the
workload's operations back to back, in an order the seed shuffles per pass.
Inputs are generated from the seed (``perfbench/data.py``) and every
operation is checked against its DuckDB oracle (``perfbench/oracle.py``):
the row count on every repeat, the full values once per run.

``setup_s`` is the run's set-up: writing the inputs and their oracles,
launching the JVM and the session, a small job, the workload's fixtures,
and one warm-up pass, which pays the remaining cold costs (the Python
worker pool, first-call imports and code generation) and compares every
registry result value by value. Timed passes then run for ``--seconds``;
``pass_s`` is their median. ``--trace 0`` prints the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` alternates untraced
and traced passes, probes each layer directly, prints the per-layer metrics
and writes every span to ``.perfbench/traces/``. The last line of standard
output is the JSON result; the line before it lists the metrics the run
measured (the others, of layers the workload does not use, read 0).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import signal
import tempfile
import time
import traceback
from contextlib import contextmanager

ROOT = os.getcwd()
PKG = "datafusion_table_providers_spark"
WORK = os.path.join(ROOT, ".perfbench")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What operations need: the session, the inputs and the fixtures."""

    def __init__(self, workload: str, sf_dir: str, cores: int, tmp: str) -> None:
        self.spark = None
        self.workload = workload
        #: ``{op: {"rows": n, "digest": hex | None}}`` from oracle.py
        self.expected: dict = {}
        self.sf_dir = sf_dir
        self.cores = cores
        self.tmp = tmp
        self.fixtures: dict = {}
        self.op_id = ""
        self.groups: list = []
        self.last_df = None
        #: per-op execution seconds of the last traced pass (probes use them)
        self.op_exec_s: dict = {}

    def pq(self, table: str) -> str:
        return os.path.join(self.sf_dir, f"{table}.parquet")

    @contextmanager
    def phase(self, tr, kind: str, name: str):
        """Span one build or exec call; in a traced pass its Spark jobs run
        in the job group ``<op id>/<kind>``."""
        with tr.span(name) as s:
            if not tr.enabled:
                yield s
                return
            s["kind"] = kind
            group = f"{self.op_id}/{kind}"
            self.groups.append(group)
            self.spark.sparkContext.setJobGroup(group, group)
            try:
                yield s
            finally:
                self.spark.sparkContext._jsc.clearJobGroup()


def _cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _environment(tmp: str, cores: int) -> None:
    """Environment of the driver, the JVM and the Spark Python workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the Python Data Source readers run in Spark's Python workers, which
    # import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # temp files of this run (the registry's write cases use fixed names
    # under the temp dir) stay in a directory no other run shares
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # every JVM (spark-submit's launcher too) keeps its files there as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=5000",
        "--conf spark.ui.retainedStages=20000",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "pyspark-shell",
    ])


def _start_session(ctx, workload: str) -> None:
    """Launch the JVM and the session, run a small job, and create the
    workload's fixtures."""
    from datafusion_table_providers_spark.session import get_spark

    from perfbench.workloads import setup_fixtures

    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    spark.range(1000, numPartitions=ctx.cores).selectExpr("sum(id)").collect()
    setup_fixtures(ctx, workload)


def _stop(ctx) -> None:
    """Stop the session and the JVM, and wait until every process started
    under this one (the JVM's Python workers too) has ended."""
    from perfbench.layers import descendants

    started = descendants()[1:]
    if ctx.spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        ctx.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _one_pass(ctx, ops, rng, tr, tag: str, con=None) -> dict:
    """Run every operation once, in a seeded order; returns timings and the
    number of operations that raised or missed their oracle's row count.
    With ``con`` every result is also compared value by value."""
    from datafusion_table_providers_spark.core.memo import clear_memo_caches

    from perfbench.layers import plan_counts, tree_cpu_s
    from perfbench.workloads import run_op

    order = list(ops)
    rng.shuffle(order)
    lat, failed, plans = {}, 0, []
    ctx.groups = []
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with tr.span("memo.clear_memo_caches"):
        clear_memo_caches()
    for op in order:
        ctx.op_id = f"{tag}-{op.name}"
        t = time.perf_counter()
        try:
            with tr.span(f"bench.{op.name}", op=ctx.op_id):
                n = run_op(ctx, op, tr, con)
            want = ctx.expected[op.name]["rows"]
            if n != want:
                raise AssertionError(f"{op.name}: {n} rows, oracle {want}")
        except Exception:  # noqa: BLE001 — counted as failed, run goes on
            traceback.print_exc()
            failed += 1
            continue
        lat[op.name] = time.perf_counter() - t
        if tr.enabled and ctx.last_df is not None:
            plans.append(plan_counts(ctx.last_df))
    with tr.span("memo.clear_memo_caches"):
        entries = clear_memo_caches()
    return {
        "pass_s": time.perf_counter() - t0,
        "cpu_s": tree_cpu_s() - cpu0,
        "lat": lat,
        "failed": failed,
        "memo_entries": entries,
        "plans": plans,
        "groups": list(ctx.groups),
    }


def _oracle_con(ctx):
    """DuckDB over the workload's input tables, for full-value checks."""
    import duckdb

    from perfbench.workloads import WORKLOADS

    con = duckdb.connect()
    for t in WORKLOADS[ctx.workload]["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.pq(t)}')")
    return con


def _prepare(data_dir: str, workload: str, sf: float, seed: int):
    """Start the process that writes the inputs and computes the oracles."""
    return subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "oracle.py"), data_dir,
         "--workload", workload, "--sf", str(sf), "--seed", str(seed)],
        stdout=subprocess.PIPE, text=True, cwd=ROOT,
    )


def _expected(proc) -> dict:
    out, _ = proc.communicate()
    if proc.returncode:
        raise RuntimeError(f"oracle.py exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args) -> dict:
    from perfbench.trace import NoTrace, Tracer
    from perfbench.workloads import WORKLOADS, ops_of

    spec = _spec()
    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl["sf"]
    tmp = os.environ["TMPDIR"]
    data_dir = os.path.join(tmp, "data")
    ctx = Ctx(args.workload, data_dir, int(os.environ["SPARK_GRAFT_CPUS"]), tmp)
    ops = ops_of(args.workload)
    rng = random.Random(args.seed)
    print(f"# workload={args.workload} seed={args.seed} cores={ctx.cores} sf={sf}", flush=True)

    con = None
    t_setup = time.perf_counter()
    # the inputs and oracles are written while the JVM launches
    prep = _prepare(data_dir, args.workload, sf, args.seed)
    try:
        _start_session(ctx, args.workload)
        start_s = time.perf_counter() - t_setup
        ctx.expected = _expected(prep)
        con = _oracle_con(ctx)
        # the warm-up pass pays the remaining cold costs and compares every
        # registry result value by value; it counts only towards setup_s
        warm = _one_pass(ctx, ops, rng, NoTrace(), "warm", con)
        setup_s = time.perf_counter() - t_setup
        attempted, failed = len(ops), warm["failed"]
        plain, traced, tracers = [], [], []
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or not plain or (args.trace and not traced):
            if args.trace and len(traced) < len(plain):
                tr = Tracer()
                p = _one_pass(ctx, ops, rng, tr, f"t{len(traced)}")
                traced.append(p)
                tracers.append(tr)
            else:
                p = _one_pass(ctx, ops, rng, NoTrace(), f"p{len(plain)}")
                plain.append(p)
            attempted += len(ops)
            failed += p["failed"]
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        log(f"set-up {setup_s:.3f} (session {start_s:.3f}, warm-up pass "
            f"{warm['pass_s']:.3f}); timed passes "
            + " ".join(f"{p['pass_s']:.3f}" for p in plain))
        # large results are compared in DuckDB, after the memory reading
        for op in ops:
            if op.check is None:
                continue
            attempted += 1
            try:
                bad = op.check(ctx, con)
                if bad:
                    raise AssertionError(f"{op.name}: {bad} rows differ from the oracle")
            except Exception:  # noqa: BLE001 — counted as failed
                traceback.print_exc()
                failed += 1
        layer = _per_layer(ctx, ops, plain, traced, tracers, args) if args.trace else {}
    finally:
        if prep.poll() is None:
            prep.kill()
        prep.wait()
        if con is not None:
            con.close()
        _stop(ctx)

    clean = [p for p in plain if not p["failed"]] or plain
    if args.trace:
        names = spec["per_layer"]
        layer["bench.cores"] = ctx.cores
        values = layer
    else:
        names = spec["end_to_end"]
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["pass_s"] for p in clean),
            "driver_rss_peak_mb": rss_mb,
        }
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    # the names measured, for --smoke; the result lists every declared one
    print(f"# measured {json.dumps(sorted(values))}", flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }


def _per_layer(ctx, ops, plain, traced, tracers, args) -> dict:
    """Per-layer metrics: medians over the traced passes, layer probes, and
    the tracing overhead; writes the spans out."""
    from perfbench.layers import PROBES, StageStats
    from perfbench.trace import Tracer

    med = statistics.median
    m = {}
    # CPU seconds of this process tree per untraced pass, and per-operation
    # latency of the untraced passes (rows per second for per-row operations)
    m["bench.pass_cpu_s"] = med(p["cpu_s"] for p in plain)
    for op in ops:
        lats = [p["lat"][op.name] for p in plain if op.name in p["lat"]]
        if not lats:
            continue
        if op.per_row:
            m[f"op.{op.name}_per_s"] = ctx.expected[op.name]["rows"] / med(lats)
        else:
            m[f"op.{op.name}_s"] = med(lats)

    stats = StageStats(ctx.spark)
    per_pass = []
    for p, tr in zip(traced, tracers):
        g = stats.collect(p["groups"])
        q = {"build.s": 0.0, "exec.s": 0.0}
        for s in tr.spans:
            if "kind" in s:
                q[f"{s['kind']}.s"] += s["end"] - s["start"]
        for k in ("build", "exec"):
            sel = [v for grp, v in g.items() if grp.endswith("/" + k)]
            q[f"{k}.jobs"] = sum(v["jobs"] for v in sel)
        for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            q[f"spark.{key}"] = sum(v[key] for v in g.values())
        exec_run = sum(v["executor_run_s"] for grp, v in g.items() if grp.endswith("/exec"))
        q["spark.slot_idle_frac"] = 1 - exec_run / (q["exec.s"] * ctx.cores) if q["exec.s"] else 0.0
        for key in ("plan.exchanges", "plan.broadcasts"):
            q[key] = sum(pc[key] for pc in p["plans"])
        q["memo.entries"] = p["memo_entries"]
        for layer, sec in tr.self_times().items():
            q[f"self.{layer}_s"] = sec
        per_pass.append(q)
    for key in sorted({k for q in per_pass for k in q}):
        m[key] = med(q.get(key, 0.0) for q in per_pass)

    # exec seconds of the scan operation, for the Python-boundary estimate
    for s in tracers[-1].spans:
        if s["name"] == "spark.count" and s["op"] and s["op"].endswith("-scan_rows"):
            ctx.op_exec_s["scan_rows"] = s["end"] - s["start"]
    probe_tr = Tracer()
    probe = PROBES.get(args.workload)
    if probe is not None:
        m.update(probe(ctx, probe_tr))
    m["trace.overhead_s"] = med(p["pass_s"] for p in traced) - med(p["pass_s"] for p in plain)

    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "cores": ctx.cores,
            "untraced_pass_s": [p["pass_s"] for p in plain],
            "traced_pass_s": [p["pass_s"] for p in traced],
            "per_layer": m,
            "passes": [tr.spans for tr in tracers],
            "probes": probe_tr.spans,
        }, f, indent=1)
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    return m


def smoke() -> int:
    """Run every workload once per trace mode at sf0.01 and check that every
    check passed, that each declared metric is reported with its unit, and
    that the run measured each of them except those of layers the workload
    does not use (``WORKLOADS[name]["unmeasured"]``)."""
    from fnmatch import fnmatch

    from perfbench.workloads import WORKLOADS

    spec = _spec()
    bad = 0
    for w in spec["workloads"]:
        skip = WORKLOADS[w["name"]]["unmeasured"]
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.01"]
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            problems = []
            try:
                lines = out.stdout.strip().splitlines()
                res = json.loads(lines[-1])
                measured = set(json.loads(lines[-2].removeprefix("# measured ")))
                want = {m["name"]: m["unit"] for m in spec[kind]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want:
                    problems.append("declared metrics or units differ")
                expect = {n for n in want if not any(fnmatch(n, pat) for pat in skip)}
                if measured != expect:
                    problems.append(f"not measured {sorted(expect - measured)}, "
                                    f"measured though unused {sorted(measured - expect)}")
                if not res["correct"] or res["failed"]:
                    problems.append(f"{res['failed']} of {res['attempted']} checks failed")
            except (IndexError, ValueError, KeyError) as e:
                problems.append(f"no result ({e!r}), exit code {out.returncode}")
            if problems:
                bad += 1
                sys.stderr.write(out.stderr[-4000:])
            print(f"{'FAIL' if problems else 'ok  '} {w['name']} trace={trace} "
                  + "; ".join(problems), flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale factor (default: the workload's own)")
    ap.add_argument("--smoke", action="store_true",
                    help="self-test: every workload once at sf0.01")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"no {PKG}/ package in {ROOT}: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke()
    from_spec = {w["name"] for w in _spec()["workloads"]}
    if args.workload not in from_spec:
        ap.error(f"--workload must be one of {sorted(from_spec)}")
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = _cores()
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=WORK)
    try:
        _environment(tmp, cores)
        result = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
