"""Writes a workload's inputs and prints the oracle result of each of its
operations as one JSON object: ``{op: {"rows": n, "digest": hex | null}}``.

Runs in its own process, so the DuckDB work and the generated tables never
count towards the benchmark driver's memory. The digest covers the oracle
rows canonicalised as ``tools/verify_local.py`` does in strict mode
(``workloads.digest``); operations with a ``check`` function compare their
full output in DuckDB instead and get no digest.

    python3 perfbench/oracle.py DATA_DIR --workload NAME --sf SF --seed N
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    sys.path.insert(0, os.getcwd())
    import duckdb

    from perfbench import data
    from perfbench.workloads import WORKLOADS, digest, ops_of

    ap = argparse.ArgumentParser()
    ap.add_argument("data_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    tables = WORKLOADS[a.workload]["tables"]
    data.write(a.data_dir, a.sf, a.seed, tables)
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(a.data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for op in ops_of(a.workload):
        if op.check is not None:
            n = con.execute(f"SELECT COUNT(*) FROM ({op.oracle})").fetchone()[0]
            out[op.name] = {"rows": n, "digest": None}
            continue
        res = con.execute(op.oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[op.name] = {"rows": len(rows), "digest": digest(cols, rows)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
