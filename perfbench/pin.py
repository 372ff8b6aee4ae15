#!/usr/bin/env python3
"""Pin the benchmark's result digests and cross-check them against DuckDB.

Usage, from the repository root:

    python3 perfbench/pin.py          # check the pins in digests.json
    python3 perfbench/pin.py --write  # re-pin from the current program

For each workload it runs the check pass in two JVMs with different
seeds (so different query orders) and requires equal digests. For each
query with an oracle, it runs graft.Verify over the same data to get
the oracle SQL, runs that SQL in DuckDB over the data's tables and
requires the oracle result's digest to equal the engine's. With
--write the engine's digests replace digests.json; without it they
must equal the pinned ones. Exits 1 on any mismatch.
"""
import argparse
import json
import os
import shutil
import sys
import time

import duckdb

import run
import digest

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def engine_digests(workload):
    found = []
    for seed in (11, 12):
        res, digests = run.run_jvm(workload, seed, 0, False, time.time() + run.RUN_BUDGET_S)
        errors = [e for p in (res or {}).get("passes", []) for e in p["execs"] if e["error"]]
        if res is None or errors:
            sys.exit(f"{workload}: the check pass failed: {errors or 'no result'}")
        found.append(digests)
    if found[0] != found[1]:
        sys.exit(f"{workload}: digests depend on query order: {found}")
    return found[0]


def oracle_sql(queries):
    """Oracle SQL of `queries`, as graft.Verify writes it."""
    work = os.path.join(run.WORK, f"verify-{os.getpid()}")
    out = os.path.join(work, "out")
    os.makedirs(work, exist_ok=True)
    os.environ["SPARK_GRAFT_VERIFY_ONLY"] = ",".join(queries)
    try:
        rc = run.java("graft.Verify", [run.DATA, out], work, os.path.join(work, "log"),
                      run.RUN_BUDGET_S)
        if rc != 0:
            sys.exit(f"graft.Verify exited with {rc}")
        with open(os.path.join(out, "oracle_sql.json")) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    run.build()
    with open(run.PINS) as f:
        pins = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    bad = 0
    new = {}
    for workload, w in run.WORKLOADS.items():
        new[workload] = engine_digests(workload)
        oracles = oracle_sql(w["queries"])
        for q in w["queries"]:
            got = new[workload][q]
            if q in oracles:
                want = digest.frame_digest(con.sql(oracles[q]).df())
                verdict = "oracle agrees" if want == got else f"ORACLE DIFFERS ({want})"
                bad += want != got
            else:
                verdict = "no oracle"
            if not a.write and pins.get(workload, {}).get(q) != got:
                verdict += f", PIN DIFFERS ({pins.get(workload, {}).get(q)})"
                bad += 1
            print(f"{workload:12s} {q:32s} {got[:16]}  {verdict}")
    shutil.rmtree(run.WORK, ignore_errors=True)
    if a.write and not bad:
        with open(run.PINS, "w") as f:
            json.dump(new, f, indent=2, sort_keys=True)
            f.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
