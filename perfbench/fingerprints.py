#!/usr/bin/env python3
"""Rebuilds perfbench/expected/queries.json, the expected result of every
contract query on the benchmark's generated tables.

    python3 perfbench/fingerprints.py      (from the repository root; ~1 h on 4 cores)

Steps, each skipped when its output already exists under .bench_build:
  1. scan every query twice in fresh sessions (graft.perfbench.Scan);
     the second scan also dumps the collected rows;
  2. run tools/check_oracle.py (the DuckDB oracle compare) on that dump,
     one query at a time with a time limit: some oracle SQL is quadratic
     in the documents table and does not finish at sf0.1;
  3. keep a fingerprint only if both scans agree and the oracle, where the
     query has oracle SQL, agrees too. A query the oracle disagrees with
     gets no fingerprint: calling it counts as a failure, it is never
     re-fingerprinted from the engine's own output.
Each query also records `cost_s`, its time in the repository's
BENCH_LOCAL.json, and `scan_s`, its wall time in the first scan (the
benchmark's tables, a fresh session in a warm JVM); workloads.py picks
its pools and cost strata from them.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

ORACLE_TIMEOUT_S = 60


def scan(cp, data, out, dump):
    if os.path.exists(out):
        return
    work = os.path.join(run.OUT, "scan")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = run.java_cmd(cp, work, "graft.perfbench.Scan", [data, out, work, dump or "-"], "6g")
    if run.run_group(cmd, out + ".log", 3 * 3600, cwd=work) != 0:
        sys.exit(f"scan failed, see {out}.log")


def oracle_status(log_path):
    status = {}
    with open(log_path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("OK", "FAIL", "ERR", "TIMEOUT"):
                status[parts[1].rstrip(":")] = parts[0]
    return status


def main():
    cp = run.build()
    data = run.ensure_data(workloads.SF)
    s1, s2 = (os.path.join(run.OUT, f"scan{i}.json") for i in (1, 2))
    dump = os.path.join(run.OUT, "dump")
    scan(cp, data, s1, None)
    scan(cp, data, s2, dump)
    oracle_log = os.path.join(run.OUT, "oracle.log")
    if not os.path.exists(oracle_log):
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            names = sorted(json.load(f))
        with open(oracle_log + ".tmp", "w") as log:
            for name in names:
                cmd = [sys.executable, os.path.join("tools", "check_oracle.py"), dump, data, name]
                rc = run.run_group(cmd, oracle_log + ".one", ORACLE_TIMEOUT_S)
                with open(oracle_log + ".one") as f:
                    out = f.read()
                log.write(out if rc is not None else f"TIMEOUT {name} after {ORACLE_TIMEOUT_S} s\n")
                log.flush()
        os.rename(oracle_log + ".tmp", oracle_log)
    with open(s1) as f:
        a = json.load(f)
    with open(s2) as f:
        b = json.load(f)
    with open("BENCH_LOCAL.json") as f:
        costs = json.load(f)["queries"]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        has_oracle = set(json.load(f))
    oracle = oracle_status(oracle_log)
    out = {}
    for name in sorted(a):
        q = {"cost_s": costs.get(name), "scan_s": a[name].get("wall_s"),
             "rows": a[name].get("rows"),
             "index_builds": a[name]["index_builds"], "fp": None}
        if "error" in a[name] or "error" in b[name]:
            q["defect"] = a[name].get("error") or b[name].get("error")
        elif a[name]["fp"] != b[name]["fp"]:
            q["defect"] = "fingerprint differs between two scans"
        elif name in has_oracle and oracle.get(name) != "OK":
            q["defect"] = f"DuckDB oracle: {oracle.get(name, 'not checked')}"
        else:
            q["fp"] = a[name]["fp"]
        q["oracle"] = oracle.get(name, "none") if name in has_oracle else "none"
        out[name] = q
    path = os.path.join(HERE, "expected", "queries.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = {n: q["defect"] for n, q in out.items() if "defect" in q}
    print(f"{len(out)} queries, {len(out) - len(bad)} fingerprinted, {len(bad)} defects")
    for n, d in sorted(bad.items()):
        print(f"  {n}: {d}")


if __name__ == "__main__":
    main()
