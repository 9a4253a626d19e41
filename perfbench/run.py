#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload gmall_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source with
the benchmark's own sbt build (cached by a hash of the sources), writes
the seeded inputs (gen.py) into a fresh directory under perfbench/.work,
runs the workload in its own JVM at local[4], checks every output with
DuckDB (checks.py) and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (a layer the workload does not run
reads 0). Every run leaves its step timings in
perfbench/.work/last-<workload>.json; a traced run also keeps its spans,
progress events and counters in perfbench/.work/trace-<workload>.json.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("gmall_stream", "corpus")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark 4 on JDK 17 outside spark-submit (the program's build.sbt list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + runner; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) in this checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    os.makedirs(WORK, exist_ok=True)
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "classpath.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Compile/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, cpus, inp, out, tmp, deadline):
    os.makedirs(out)
    # the heap limit of the program's own build (build.sbt)
    cmd = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/spark",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--workload", workload, "--in", inp, "--out", out,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--cpus", str(cpus)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = open(os.path.join(tmp, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL,
                            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # the JVM's process group: nothing it started may outlive the run
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
    res_path = os.path.join(out, "result.json")
    result = json.load(open(res_path)) if os.path.exists(res_path) else None
    # the result is on disk before the session stops, so a teardown that
    # aborts (a non-zero exit after a complete result) does not void the run
    if result is None or not result.get("completed"):
        sys.stderr.write(open(os.path.join(tmp, "jvm.log")).read()[-6000:])
        fail(f"workload {workload} did not complete (exit {proc.returncode})")
    return result


def summarize(result, extras):
    """End-to-end and per-layer figures of one run."""
    per_round = {k: statistics.median(v) for k, v in result["metrics"].items()}
    e2e = {"setup_s": result["setup_s"], "peak_live_heap_mb": result["peak_live_heap_mb"],
           "work_s": per_round["work_s"], "work_cpu_s": per_round["work_cpu_s"]}
    layers = dict(per_round, peak_rss_mb=result["peak_rss_mb"])
    layers.update(result.get("layers", {}))
    layers.update({k: statistics.median(v) for k, v in extras.items()})
    return e2e, layers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="task threads (local[N])")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out, tmp = (os.path.join(run_dir, d) for d in ("in", "out", "tmp"))
    os.makedirs(tmp)
    try:
        sys.path.insert(0, HERE)
        import checks as chk
        import gen
        gen.generate(a.workload, a.seed, inp)
        result = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, a.cpus,
                         inp, out, tmp, deadline)
        checks, extras = chk.run(a.workload, inp, out, result)
        e2e, layers = summarize(result, extras)
        with open(os.path.join(WORK, f"last-{a.workload}.json"), "w") as f:
            json.dump({"seed": a.seed, "cpus": a.cpus, "trace": a.trace, "end_to_end": e2e,
                       "steps": result["steps"], "setup_parts": result["setup_parts"]}, f, indent=1)
        if a.trace:
            keep = {"seed": a.seed, "end_to_end": e2e, "per_layer": layers,
                    "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
                    "spans": result.get("spans", []), "progress": result.get("progress", []),
                    "counters": result.get("counters", {})}
            with open(os.path.join(WORK, f"trace-{a.workload}.json"), "w") as f:
                json.dump(keep, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for n, ok, d in checks:
        if not ok:
            print(f"perfbench: check {n} failed: {d}", file=sys.stderr)
    failed = sum(1 for _, ok, _ in checks if not ok)
    correct = all(ok or n in chk.KNOWN_FAULTS for n, ok, _ in checks)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else e2e
    # a layer the workload does not run reads 0: no time, rows or bytes
    # were spent in it
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": correct, "attempted": len(checks), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
