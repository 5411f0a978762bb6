#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program from this checkout
(graft's main sources plus the benchmark driver, perfbench/build.sbt)
when the sources are newer than the last build, generates the
workload's inputs from the seed, runs the workload in one JVM, checks
the outputs in DuckDB, and prints every metric by name and unit. The
last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(from an extra traced unit). Every span and count of a traced run is
written unclipped to .bench_build/artifacts/. See perfbench/METRICS.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = sorted(gen.GENERATORS)
CPUS = 4  # local[4], shuffle partitions 4: fixed so hosts compare
SETUPS = 2  # set-ups per untraced run; setup_s is their median
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-DontCompileHugeMethods",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build(root, build_dir):
    """Compile graft + the driver with sbt when any source is newer than
    the cached classpath; return the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    bench = os.path.join(root, "perfbench")
    sources = [os.path.join(root, "src", "main"), os.path.join(bench, "src"),
               os.path.join(bench, "project")]
    stamp = max(newest_mtime(sources), os.path.getmtime(os.path.join(bench, "build.sbt")))
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= stamp:
        with open(cp_file) as f:
            return f.read().strip()
    log("building graft + perfbench with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Compile/fullClasspath"],
        cwd=bench, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, run_dir, timeout):
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp,
           "graft.perfbench.PerfBench", *args]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "run", "Runner.scala")):
        raise SystemExit("no graft sources under ./src/main/scala: run from the repository root")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    t_build = time.monotonic()
    cp = build(root, build_dir)
    t_start = time.monotonic()  # the run's time limit excludes a build

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work_dir)
    t_gen = time.monotonic()
    inputs = gen.generate(a.workload, a.seed, data_dir)
    t_jvm = time.monotonic()
    result = os.path.join(run_dir, "result.json")
    run_jvm(cp, ["--workload", a.workload, "--data", data_dir, "--work", work_dir,
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--cpus", str(CPUS), "--setups", str(1 if a.trace else SETUPS),
                 "--result", result],
            run_dir, RUN_TIMEOUT_S - (time.monotonic() - t_start))
    t_check = time.monotonic()
    with open(result) as f:
        raw = json.load(f)

    results = {k: (v["ok"], v["detail"]) for k, v in raw["checks"].items()}
    results.update(checks.CHECKS[a.workload](raw, data_dir, work_dir, inputs))
    bad = sorted(k for k, (ok, _) in results.items() if not ok)
    n_ops = sum(len(u.get("queries", {})) or 1 for u in raw["units"])
    failed = min(n_ops, raw["failed"] + len(bad))
    e2e = metrics.end_to_end(raw)
    raw["phase_s"].update(build_s=t_start - t_build, gen_s=t_jvm - t_gen,
                          jvm_s=t_check - t_jvm, duckdb_check_s=time.monotonic() - t_check)

    if a.trace:
        values = metrics.layer_metrics(raw["trace"], e2e["wall_s"])
        units = {n: u for n, u, _ in metrics.per_layer_names()}
    else:
        values = e2e
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
    for n in values:
        assert metrics.valid_name(n), n

    art_dir = os.path.join(build_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    artifact = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(artifact, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "inputs": inputs,
                   "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in results.items()},
                   "metrics": values, "raw": raw}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  inputs {json.dumps(inputs)}")
    for n, v in values.items():
        print(f"  {n:40s} {v:16.6g} {units[n]}")
    tail = metrics.tail_percentile([u["s"] for u in raw["units"]])
    if tail:
        print(f"  unit time p{tail[0]} {tail[1]:.4f} s over {tail[2]} units")
    print(f"  failed_frac {failed / n_ops:.4f} ({failed}/{n_ops})  "
          f"calib_s {raw['calib_s']:.4f} (diagnostic)  checks: "
          + ", ".join(f"{k}={'ok' if ok else 'FAIL ' + str(d)}" for k, (ok, d) in sorted(results.items())))
    for e in raw["errors"]:
        print(f"  error: {e}")
    print(f"  artifact {os.path.relpath(artifact, root)}")
    print(json.dumps({
        "correct": not bad and raw["failed"] == 0,
        "attempted": n_ops,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))


if __name__ == "__main__":
    main()
