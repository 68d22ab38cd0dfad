"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload page_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding gdal_spark/
and __spark_entry__.py). One driver process runs Spark on local[k],
k = min(4, cpus), and one closed-loop client: the next operation starts
only after the previous one finished. Every input is generated from
--seed. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in BENCHMARK.json.
The line before it is the full record: environment fingerprint, every
metric, and per-operation detail. The exit code is 1 when an output was
wrong (the result line is still printed), 2 on a usage error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


class Ctx:
    """Run-wide state shared by a workload's operations."""

    def __init__(self, seed, seconds, smoke, work, trace=False):
        self.seed, self.seconds, self.smoke, self.work = seed, seconds, smoke, work
        self.trace = trace
        self.tracer = None
        self.warm = False  # False during the first (cold) round
        self.times: dict = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._op_ok = True

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self._op_ok = False
            self.errors.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return bool(ok)

    def sample(self, name: str, seconds: float) -> None:
        """Wall time of one checked operation, kept apart by cold/warm."""
        d = self.times.setdefault(name, {"cold": [], "warm": []})
        d["warm" if self.warm else "cold"].append(seconds)

    def run_op(self, op, spark) -> None:
        """One closed-loop operation: counted, and failed on a raise or a
        failed output check."""
        self._op_ok = True
        self.attempted += 1
        try:
            op(spark)
        except Exception:  # noqa: BLE001 - the loop must go on and report it
            traceback.print_exc()
            self.check(False, f"{getattr(op, '__name__', 'op')} raised")
        if not self._op_ok:
            self.failed += 1


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def set_env(work: str, cpus: int) -> dict:
    """Environment for the engine: scratch space inside the checkout, a
    driver heap sized for a shared small box. Returned for the fingerprint."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # fixed, pre-touched driver heap: no mid-run heap growth stalls,
        # and a peak RSS that does not depend on when the heap grew
        "SPARK_GRAFT_PRETOUCH": "1",
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return env


def trivial_udf_job(spark) -> None:
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def plus_one(x: pd.Series) -> pd.Series:
        return x + 1

    spark.range(1000).select(plus_one("id").alias("y")).agg(F.sum("y")).collect()


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it (spark.stop() alone leaves the
    gateway JVM running until this process exits)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one round of every operation")
    ap.add_argument("--record", help="append the full record to this JSONL file")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "gdal_spark"))):
        print(f"error: no engine sources (gdal_spark/, __spark_entry__.py) in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env as EV
    from perfbench import kernels_bench, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    names = spec()
    record_path = os.path.abspath(args.record) if args.record else None
    cpus = min(4, len(os.sched_getaffinity(0)))
    master = f"local[{cpus}]"
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    EV.BENCH_ENV.update(set_env(work, cpus))
    os.chdir(work)
    ctx = Ctx(args.seed, args.seconds, args.smoke, work, bool(args.trace))
    w = workloads.WORKLOADS[args.workload](ctx)
    spark = None
    try:
        with EV.ProcSampler() as sampler:
            from gdal_spark.session import get_spark

            t0 = time.perf_counter()
            w.generate()
            gen_s = time.perf_counter() - t0
            setup = []
            for i in range(SETUP_REPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(f"perfbench-{args.workload}", master=master)
                spark.sparkContext.setLogLevel("ERROR")
                w.setup(spark)
                trivial_udf_job(spark)
                setup.append(time.perf_counter() - t0)
            # peak RSS counts from here: stopping and restarting the
            # context between set-ups briefly overlaps two worker pools
            setup_peak_kb = sampler.reset_peak()
            ctx.tracer = Tracer(spark, bool(args.trace), sampler)
            t0 = time.perf_counter()
            w.prepare_checks(spark)
            check_s = time.perf_counter() - t0
            # round 0 is cold: every operation's first run in the process
            ctx.tracer.active = False
            for op in w.rounds():
                ctx.run_op(op, spark)
            ctx.warm = ctx.tracer.active = True
            t0 = time.perf_counter()
            deadline = t0 + (0 if args.smoke else args.seconds)
            rounds = 0
            while rounds < 1 or time.perf_counter() < deadline:
                for op in w.rounds():
                    ctx.run_op(op, spark)
                rounds += 1
            loop_s = time.perf_counter() - t0
            if args.trace:
                ctx.run_op(w.layers, spark)
                ctx.tracer.record(kernels_bench.run(args.seed, 0.05 if args.smoke else 0.3))
            fp = EV.fingerprint(ROOT, spark, master)
            stop_spark(spark)
            spark = None
            sampler.sample()
        e2e_named = w.e2e()
    finally:
        if spark is not None:
            stop_spark(spark)
    if not EV.wait_children_gone():
        print("warning: child processes still running", file=sys.stderr)

    e2e = {
        "setup_s": statistics.median(setup),
        "peak_rss_mb": sampler.peak_kb / 1024.0,
        **w.generic(e2e_named),
    }
    tr = ctx.tracer
    if args.trace:
        metrics = {m["name"]: (tr.median(m["name"]), m["unit"]) for m in names["per_layer"]}
    else:
        metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in names["end_to_end"]}
    correct = ctx.failed == 0 and all(finite(v) for v, _ in metrics.values())
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "fingerprint": fp,
        "fingerprint_key": EV.fingerprint_key(fp),
        "e2e": e2e, "named": e2e_named,
        "layers": {k: tr.median(k) for k in sorted(tr.samples)},
        "setup_reps_s": setup, "setup_peak_rss_mb": setup_peak_kb / 1024.0,
        "generate_s": gen_s, "checks_prep_s": check_s,
        "loop_s": loop_s, "warm_rounds": rounds, "errors": ctx.errors[:20],
        "op_times_s": ctx.times,
        "detail": tr.detail if args.trace else [],
    }
    result = {
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if record_path:
        with open(record_path, "a") as f:
            f.write(json.dumps({**record, "result": result}, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": {k: v for k, v in record.items() if k != "detail"}}, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
