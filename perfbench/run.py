#!/usr/bin/env python3
"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and harness (see build.py),
generates the workload's inputs from the seed (gen.py), runs the harness JVM
with a fresh, empty java.io.tmpdir inside a work directory of the
checkout, checks every output the run produced, and prints one JSON object as
the last line of stdout: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it stamps the run: host noise (nproc, load, steal), JVM max
heap, the resolved session conf, and details the metrics do not carry.
Workloads, metrics and the layer → end-to-end predictions are documented in
BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {"etl_drain": ("etl",), "tpch_sql": ("corpus",),
             "refinery": ("corpus",), "kernels": ("kernels",)}
# A run must end within this many seconds of starting.
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except (OSError, ValueError):
        return None


def run_jvm(classpath, workload, inputs, work, args, cores, timeout, on_measured):
    """Run the harness JVM; `on_measured` is called once its timed loop has
    ended (the harness then touches `measured`), so untimed checking can
    overlap the harness's own untimed checks."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(work, "record.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join(c if c.endswith("*") else os.path.abspath(c)
                                     for c in classpath),
              "perfbench.Main", workload, inputs, work, str(args.seconds),
              str(args.trace), str(args.seed), str(cores), out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log = os.path.join(work, "jvm.log")
    deadline = time.time() + timeout
    notified = False
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            while p.poll() is None and time.time() < deadline:
                if not notified and os.path.exists(os.path.join(work, "measured")):
                    notified = True
                    on_measured()
                time.sleep(0.1)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"harness JVM exited with {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    classpath = build.build(root)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        t_gen = time.time()
        # a traced etl_drain run also times the kernels (see Workloads.scala)
        parts = WORKLOADS[args.workload] + (
            ("kernels",) if args.trace and args.workload == "etl_drain" else ())
        gen.generate(args.seed, inputs, parts)
        cores = len(os.sched_getaffinity(0))
        load0, cpu0 = os.getloadavg()[0], cpu_times()
        remaining = RUN_LIMIT_S - (time.time() - t_start) - 10
        oracles = {}

        def start_oracles():
            if args.workload in ("tpch_sql", "refinery"):
                t = threading.Thread(
                    target=lambda: oracles.update(check.oracle_results(inputs, work)),
                    daemon=True)
                t.start()
                oracles["thread"] = t

        record = run_jvm(classpath, args.workload, inputs, work, args, cores, remaining,
                         start_oracles)
        load1, cpu1 = os.getloadavg()[0], cpu_times()
        t_check = time.time()
        if "thread" in oracles:
            oracles.pop("thread").join()
        problems = check.check(args.workload, record, inputs, work, oracles)
        steal = None
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        stamp = {"nproc": cores, "load_start": load0, "load_end": load1,
                 "steal_share": steal, "max_heap_mb": record["max_heap_mb"],
                 "conf": record["conf"], "problems": problems[:20],
                 "phases_s": {"build": t_gen - t_start, "jvm": t_check - t_gen,
                              "check": time.time() - t_check,
                              "measured": record["measured_s"],
                              "jvm_prepare": record["prepare_s"],
                              "jvm_check": record["check_s"]},
                 "errors": record["errors"][:20]}
        ops = [o for it in record["iterations"] for o in it["ops"]]
        failed = sum(1 for o in ops if not o["ok"]) + record["failed_ops"]
        if args.trace:
            values, notes = metrics.per_layer(record, cores)
        else:
            values, notes = metrics.end_to_end(record)
        stamp.update(notes)
        stamp["setup_samples_s"] = record["setup_s"]
        stamp["iteration_walls_s"] = [round(it["wall_s"], 3) for it in record["iterations"]]
        stamp["warm_counts"] = [[it["counters"][k] for k in ("jobs", "stages", "tasks")]
                                for it in record["iterations"][1:]]
        print(json.dumps({"stamp": stamp}, sort_keys=True))
        print(json.dumps({
            "correct": not problems and failed == 0,
            "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        sys.exit(f"perfbench: {e}")
