"""CDC benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --steady 10 [--seed <first>]

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones (the traced run measures an
untraced window first and reports the difference as tracing overhead).
``--steady N`` repeats the run N times with seeds seed..seed+N-1 and
prints each metric's median, quartiles and quartile spread.

Everything the run writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_tail_catchup", "batch_jobs")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Context:
    def __init__(self, args, work: str):
        from common import MemSampler, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.mem = MemSampler()
        self.tracer = Tracer()
        self.spark = None
        self.load = None
        self.setup_reps: list[float] = []


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # the session's deployment setting for driver heap (default 8g),
    # lowered to keep the benchmark's footprint small
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def stop_spark(spark, exclude: set[int]) -> None:
    """Stop the session, the JVM and the Python workers it forked."""
    from pyspark import SparkContext

    from common import descendants, reap

    started = descendants(os.getpid(), exclude)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(started)


def run_once(args) -> dict:
    from statistics import median

    from common import LoadClient

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    sys.path.insert(0, ROOT)
    ctx = Context(args, work)
    spark = None
    try:
        ctx.load = LoadClient(args.seed, ctx.mem)
        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            from timescaledb_event_streamer_spark.session import get_spark

            spark = ctx.spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        spark_start = time.perf_counter() - t0
        boot = time.perf_counter() - T_START
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        if args.workload == "cdc_tail_catchup":
            import cdc

            res = cdc.run(ctx)
        else:
            import jobs

            res = jobs.run(ctx)
        stop_spark(spark, ctx.mem.exclude)
        spark = None
        res["metrics"]["setup_s"] = boot + median(ctx.setup_reps)
        peak_mb = ctx.mem.stop()
        if "layer" in res:
            res["layer"]["session.spark_start_s"] = spark_start
            res["layer"]["session.peak_pss_mb"] = peak_mb
            for layer, s in ctx.tracer.self_times().items():
                res["layer"][f"{layer}.self_s"] = s
            ctx.tracer.write(os.path.join(base, f"trace-{args.workload}.json"))
        return res
    finally:
        if spark is not None:
            try:
                stop_spark(spark, ctx.mem.exclude)
            except Exception:  # noqa: BLE001 - already failing; keep the first error
                traceback.print_exc()
        if ctx.load is not None:
            ctx.load.kill()
        ctx.mem.stop()
        shutil.rmtree(work, ignore_errors=True)


def result_line(res: dict, trace: bool) -> dict:
    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    src = res.get("layer", {}) if trace else res["metrics"]
    metrics = {}
    for m in wanted:
        if not trace and m["name"] not in src:
            raise KeyError(f"metric {m['name']} not measured")
        # a layer this workload bypasses did no work: its counts and times are 0
        metrics[m["name"]] = {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
    # a content mismatch raises before this point: no result, exit 1
    return {"correct": True, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def steady(args) -> int:
    import statistics

    values: dict[str, list[float]] = {}
    for i in range(args.steady):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": args.seed + i, **res}), flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:45s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
              f"spread {spread:7.2%}  n {len(vs)}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, help="repeat N runs and summarise")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    res = run_once(args)
    print(f"perfbench: {args.workload} seed {args.seed} took {time.perf_counter() - T_START:.1f} s",
          file=sys.stderr)
    print(json.dumps(result_line(res, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - any failure: no result line, non-zero exit
        traceback.print_exc()
        sys.exit(1)
