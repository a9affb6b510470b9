#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. On first use it builds the program and the
benchmark's own JVM program from source (sbt, offline, `perfbench/build.sbt`).
Each run then generates the workload's inputs from the seed, runs that
JVM (set-up, a timed closed loop of ops, result dump), checks every op
kind's result against DuckDB, and prints two lines: the input properties
and run details as JSON, then the result as one JSON object with keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer ones.

Work files go under `.bench_build/` in the repository and are removed
when the run ends.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# a fixed heap (-Xms = -Xmx): no heap-resizing decisions, so peak RSS
# tracks what the run touches rather than when the collector grew the heap
HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: the program's build and main sources,
    and the benchmark's own build and sources."""
    for d in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for base, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(base, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT} (build.sbt, src/main/scala)")
    newest = max(os.path.getmtime(p) for p in build_inputs() if os.path.exists(p))
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return
    # resolve offline, from the local caches and the user's repository list
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S, check=True)
    except (OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")


def tail_value(xs):
    """(value, percentile): the highest whole percentile with at least ten
    samples beyond it, never below the median (nearest-rank)."""
    n = len(xs)
    p = max(50, (100 * (n - 10)) // n) if n > 10 else 50
    return sorted(xs)[max(0, math.ceil(p * n / 100) - 1)], p


def run_jvm(args, data, work, out, deadline):
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
           "--workload", args.workload, "--data", data, "--work", f"{work}/streams",
           "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    log_path = f"{work}/jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # on a timeout or our own termination, the JVM goes too
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM ended with {code}", 1)
    with open(f"{out}/run.json") as f:
        return json.load(f)


def store_stats(run, data):
    """(files, bytes) of the published stores, and the input bytes the
    publishing stream was fed (bootstrap plus delivered deltas)."""
    files = size = 0
    for base, _, names in os.walk(run["stores"]):
        if "published" in base.split(os.sep):
            for n in names:
                if not n.startswith("."):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    n = run["delivered"]
    fed = os.path.getsize(f"{data}/embeddings_boot.parquet") + sum(
        os.path.getsize(f"{data}/embeddings_deltas/d{i:05d}.parquet") for i in range(n))
    return files, size, fed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["phoenix_text", "dedup_batch", "trickle_publish"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit so the JVM is stopped and work files go
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data, out = f"{work}/data", f"{work}/out"
        props = gen.generate(args.workload, args.seed, data)
        run = run_jvm(args, data, work, out, deadline)
        ops = run["ops"]
        kinds = list(dict.fromkeys(o["kind"] for o in ops))
        bad = check.check(args.workload, data, out, run["checked"], run.get("delivered"))
        wrong = {k for k, v in bad.items() if v}
        # an op whose result was wrong is a failed op: the op of a wrong
        # kind, or any op of a kind that feeds every checked result
        ok = [o for o in ops if o["ok"] and o["kind"] not in wrong
              and (o["kind"] in bad or not wrong)]
        failed = len(ops) - len(ok)
        timed = [o for o in ok if not o["traced"]]
        lat = [o["end"] - o["start"] for o in timed]
        by_kind = {k: [o["end"] - o["start"] for o in timed if o["kind"] == k]
                   for k in run["kinds"]}
        tail, tail_p = tail_value(lat) if lat else (0.0, 50)
        info = {"workload": args.workload, "seed": args.seed, "inputs": props,
                "cpus": run["cpus"], "warmup_ops": run["warmup_ops"],
                "ops_by_kind": {k: sum(o["kind"] == k for o in ops) for k in kinds},
                "p50_s_by_kind": {k: statistics.median(v) for k, v in by_kind.items() if v},
                "op_fail_ratio": failed / max(1, len(ops)),
                "op_tail_s": tail, "op_tail_percentile": tail_p, "op_samples": len(lat),
                "check": {k: v or "ok" for k, v in bad.items()},
                "errors": [o["err"] for o in ops if o["err"]][:3]}

        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            with open(f"{out}/trace.json") as f:
                metrics, selft = layers.per_layer(run, json.load(f), names)
            traced = [o["end"] - o["start"] for o in ok if o["traced"]]
            if lat and traced:
                metrics["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(lat)
            if args.workload == "trickle_publish":
                files, size, fed = store_stats(run, data)
                metrics["store_files"] = files
                metrics["store_bytes_per_input_byte"] = size / fed
            info["self_s_per_op"] = selft
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            # ops cycle round-robin over the kinds; throughput counts only
            # complete rounds, so every run weighs the kinds alike
            full = ops[:len(ops) // len(run["kinds"]) * len(run["kinds"])] or ops
            metrics = {"setup_s": run["setup_s"],
                       "op_p50_s": statistics.mean(
                           [statistics.median(v) for v in by_kind.values() if v] or [0.0]),
                       "rows_per_s": sum(o["rows"] for o in full if o in ok)
                       / (full[-1]["end"] - full[0]["start"]),
                       "peak_rss_mb": run["peak_rss_mb"]}
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        info["wall_s"] = time.monotonic() - t_start
        print(json.dumps(info))
        print(json.dumps({
            "correct": failed == 0 and all(v is None for v in bad.values()),
            "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
