#!/usr/bin/env python3
"""Benchmark of the graft engine through its public surface.

    python3 perfbench/run.py --workload catalog_rw --seed 1 --seconds 10 --trace 0

Workloads: catalog_rw and stream_ingest (BENCHMARK.json says why each
was chosen; workloads.py defines them). One run:

1. builds the engine and the benchmark's Spark side from source into
   .bench_build/classes (perfbench/build.sh; a no-op when up to date);
2. generates the seeded inputs (datagen.py) and the workload's plan;
3. runs one Spark local[4] process (graft.perfbench.Main) that executes
   the plan with one client thread in a closed loop for --seconds;
4. checks every result against DuckDB and the on-disk ledger;
5. prints every metric with its unit and sample count, then one JSON
   line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
   the metrics are the end-to-end ones, with --trace 1 the per-layer
   ones, and the run's spans go to .bench_build/traces/.

Exits non-zero when a result is wrong or an operation failed.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog_rw", "stream_ingest")
RUN_LIMIT_S = 170          # a run must end within 180 s once built
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("neither SPARK_HOME nor spark-submit is available")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def run_jvm(plan_path, work, seconds, trace, deadline):
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Main",
            plan_path, work, str(seconds), str(trace)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:   # timed out, or this process is being stopped
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"the Spark process ended with {code}:\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Stopping the benchmark stops its Spark process too (see run_jvm).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (src/main/scala) are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    built = subprocess.run(["bash", os.path.join(HERE, "build.sh"),
                            os.path.join(BUILD, "classes")], cwd=ROOT)
    if built.returncode != 0:
        fail("the build failed")
    deadline = time.monotonic() + RUN_LIMIT_S

    sys.path.insert(0, HERE)
    import datagen
    import workloads

    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        datagen.write_tables(data, args.seed)
        plan = workloads.make_plan(args.workload, args.seed, data, work)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        run_jvm(plan_path, work, args.seconds, args.trace, deadline)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        correct, attempted, failed, metrics, report, problems = workloads.summarize(
            args.workload, plan, result, args.trace == 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, value, unit, n in report:
        print(f"{args.workload} {name} = {value} {unit} (n={n})")
    for p in problems:
        print(f"{args.workload} problem: {p}")
    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": [{"name": n, "value": v, "unit": u, "samples": c}
                                   for n, v, u, c in report],
                       "ops": [{k: r.get(k) for k in ("name", "class", "s", "ok", "traced")}
                               | ({"jobs": r["trace"]["jobs"]} if "trace" in r else {})
                               for r in result["ops"]],
                       "spans": result["spans"]}, f)
        print(f"{args.workload} trace written to {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": next(u for n, _, u, _ in report if n == k)}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
