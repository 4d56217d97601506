#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's JVM code from source (sbt, offline),
generates the input tables once per checkout, then runs one workload in one
JVM with one closed-loop client thread on `local[4]`. Every timed call
collects its whole result and checks it: query results against the
committed fingerprints, sketch answers against exact ground truth.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Lines before it give the same numbers
in readable form, with sample counts and the error rate.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, log_path, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    stamp = tree_digest([ENGINE_SRC, os.path.join(HERE, "src"),
                         os.path.join(HERE, "build.sbt")])
    cp_file = os.path.join(OUT, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(OUT, "build.log")
    # sbt's global state goes under the checkout too
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    f"-Dsbt.global.base={os.path.join(OUT, 'sbt-global')}",
                    "compile", "export Runtime/fullClasspath"],
                   log, 800, cwd=HERE, env=env)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def ensure_data(sf):
    """Generates the input tables once per checkout and generator version."""
    d = os.path.join(OUT, "data", f"sf{sf}-{tree_digest([os.path.join(HERE, 'gendata.py')])}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gendata.generate(d, sf)
        open(os.path.join(d, "_done"), "w").close()
    return d


def java_cmd(cp, work, main_class, args, heap="4g"):
    """A JVM running main_class with Spark's module opens, its scratch
    files under work/tmp."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main_class] + list(args)


def run_jvm(cp, plan, work):
    plan_path = os.path.join(work, "plan.json")
    result_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = java_cmd(cp, work, "graft.perfbench.Main", [plan_path, result_path])
    rc = run_group(cmd, os.path.join(work, "jvm.log"), JVM_TIMEOUT_S, cwd=work)
    if rc != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'} "
             f"(see {work}/jvm.log)")
    with open(result_path) as f:
        return json.load(f)


def main(argv=None):
    # a terminated run still stops the JVM or sbt it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from the repository root")

    os.makedirs(OUT, exist_ok=True)
    cp = build()
    work = os.path.join(OUT, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    plan = workloads.plan(a.workload, a.seed, a.seconds, bool(a.trace),
                          ensure_data(workloads.SF), work)
    result = run_jvm(cp, plan, work)
    summary = stats.summarize(result)
    for line in stats.report(summary, result, a.workload, bool(a.trace)):
        print(line)
    print(json.dumps(stats.final_line(summary, result, bool(a.trace))))


if __name__ == "__main__":
    main()
