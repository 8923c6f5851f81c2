#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload neel-stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run builds the engine and the
benchmark from source with sbt (cached under ``.bench_build/`` until a
source file changes); every run then generates its inputs from the seed,
runs the workload on a ``local[N]`` Spark session (N = SPARK_GRAFT_CPUS,
default: all cores), checks the outputs and prints one line per metric,
then the result as one JSON object on the last line of stdout.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from a traced run (spans are written to
``.bench_build/traces/``).
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

RUN_LIMIT_S = 175

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    # dependencies come from the local caches only (no network)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"sbt build failed with code {proc.returncode}")
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    cp = lines[-1]
    if ".jar" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("sbt did not print a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def check_layout():
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
              os.path.join(HERE, "build.sbt")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log("not a checkout of the engine (missing: "
            + ", ".join(os.path.relpath(p, ROOT) for p in missing) + ")")
        sys.exit(2)


def run_jvm(cp, workload, run_dir, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temporary files stay inside the run directory; no perf-data file
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *opens,
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           workload, run_dir, str(seconds), str(trace)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload} exceeded the {RUN_LIMIT_S} s run limit")
    if proc.returncode != 0:
        raise SystemExit(f"JVM exited with code {proc.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    check_layout()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.makedirs(run_dir)
        t0 = time.perf_counter()
        _, props = gen.generate(a.workload, a.seed, a.seconds, run_dir)
        gen_s = time.perf_counter() - t0
        run_jvm(cp, a.workload, run_dir, a.seconds, a.trace, deadline)
        with open(os.path.join(run_dir, "result.json")) as f:
            raw = json.load(f)
        if a.trace:
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # the checks first: a run that aborted or lagged still reports them,
    # and report.py leaves out the metrics it has no samples for
    for msg in raw["failures"]:
        log(f"check failed: {msg}")
    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    correct = bool(raw["correct"]) and attempted >= 1
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}")
    print(f"  failed_ratio = {failed / max(1, attempted):.6f} ratio"
          f"  ({failed} of {attempted} attempted)")

    setup = raw["setup"]
    setup_s = gen_s + sum(
        statistics.median(v) if isinstance(v, list) else v for v in setup.values())
    for k, x in sorted(props.items()):
        print(f"  input.{k} = {x:.4g}" if isinstance(x, float) else f"  input.{k} = {x}")
    for k, x in sorted(raw["values"].items()):
        if k.startswith("input."):
            print(f"  {k} = {x:.4g}")
    per_batch = raw["series"].get("progress.triggerExecution") \
        or raw["series"].get("latency_ms")
    if per_batch:
        print("  ms per batch: " + " ".join(f"{x:.0f}" for x in per_batch))
    if a.trace:
        metrics = report.per_layer(a.workload, raw)
        units = report.PER_LAYER
        for k, x in metrics.items():
            print(f"  {k} = {x:.6g} {units[k]}")
    else:
        e2e = report.end_to_end(a.workload, raw, setup_s)
        units = report.END_TO_END
        metrics = {}
        for k, (x, n) in e2e.items():
            metrics[k] = x
            note = ""
            if n > 1:
                p = report.supported_percentile(n)
                note = f"  (n={n}; highest supported percentile: p{p:g})" if p \
                    else f"  (n={n}; fewer than 20 samples)"
            print(f"  {k} = {x:.6g} {units[k]}{note}")
        print("  setup parts: " + ", ".join(
            [f"generate {gen_s:.3f} s"]
            + [f"{k} {statistics.median(v) if isinstance(v, list) else v:.3f} s"
               for k, v in setup.items()]))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": x, "unit": units[k]} for k, x in metrics.items()},
    }))


if __name__ == "__main__":
    main()
