"""Benchmark of the hadoop_map_reduce_spark engine: one workload, one seed.

Run from the repository root:

    python3 perfbench/run.py --workload board|cookbook|admission \\
        --seed N --seconds S --trace 0|1

One driver process starts a Spark session on ``local[$SPARK_GRAFT_CPUS]``
(default: up to 4 cores), makes the workload's inputs from the seed, runs
one untimed warm-up pass, then runs passes until ``--seconds`` have gone
by (at least two). Every operation's output is checked. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s`` (process
start until the session is up and the cold warm-up pass is done, input
generation excluded), ``pass_s`` (median warm pass) and ``op_gmean_s``
(operation latency, see ``op_gmean``); ``peak_rss_mb`` (driver JVM plus
driver Python) is printed too. With ``--trace 1`` every pass but the
second is traced, and the second gives ``trace.overhead_pct``; the metrics
are the per-layer ones. Lines starting with ``#`` before the JSON line
give every pass, every metric with its sample count, the input parameters
and the workload's own layer counters. Spans and the run record are
written to ``.perfbench_work/results/``; everything else the run writes
is removed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from spans import MB, Tracer, peak_rss_mb  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

MIN_PASSES = 2

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_gmean_s": "s"}
# Peak memory is a per-layer figure: across ten seeds its spread reached
# 0.21 of its median (garbage-collector heap sizing), too close to the
# largest bound an end-to-end metric may have.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "session.warmup_s": "s",
    "session.pass_drift_pct": "%",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_share": "ratio",
    "operators.execute_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_s": "s",
    "operators.core_util": "ratio",
    "operators.input_mb": "MB",
    "operators.output_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "trace.overhead_pct": "%",
}


def configure_env(work: str) -> None:
    """Keep every file the session writes inside ``work`` and pin the
    local-mode tuning the repository's own benchmark uses."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")
    os.environ.setdefault("SPARK_GRAFT_OPEN_COST_BYTES", "1m")
    # A fixed heap keeps peak memory independent of the host's RAM.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_spark():
    from hadoop_map_reduce_spark import get_spark

    return get_spark(app_name="perfbench")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def median(values):
    return statistics.median(values) if values else 0.0


def op_gmean(passes) -> tuple[float, int]:
    """Geometric mean over operation kinds (a query, a job, a batch
    position) of each kind's median latency, and the sample count. Kinds
    differ in cost by up to tenfold, so a pooled median would jump
    between kinds from run to run."""
    by_kind: dict[str, list[float]] = {}
    for p in passes:
        for o in p.ops:
            if o.seconds > 0:
                by_kind.setdefault(o.name, []).append(o.seconds)
    logs = [math.log(median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs)), sum(map(len, by_kind.values()))


def pass_spans(tracer, span):
    return [s for s in tracer.spans if s is not span and span.start <= s.start and s.end <= span.end]


def generic_layers(tracer, traced_spans, untraced_s, get_spark_s, warm_s, rss_mb) -> tuple[dict, dict]:
    """Per-layer metrics every workload has, as medians over the traced
    passes, and which counts repeated exactly from pass to pass."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    rows = []
    for span in traced_spans:
        inner = pass_spans(tracer, span)
        construct = [s for s in inner if s.layer == "plans"]
        construct_s = sum(s.seconds for s in construct)
        ops_s = sum(s.seconds for s in inner if s.layer in ("query", "job", "batch"))
        c = span.counters
        rows.append({
            "plans.construct_s": construct_s,
            "plans.construct_jobs": sum(s.jobs for s in construct),
            "plans.construct_share": construct_s / span.seconds,
            "operators.execute_s": ops_s - construct_s,
            "operators.jobs": span.jobs,
            "operators.stages": c["stages"],
            "operators.tasks": c["tasks"],
            "operators.task_s": c["task_ms"] / 1000,
            "operators.core_util": c["task_ms"] / 1000 / (cores * span.seconds),
            "operators.input_mb": c["input_bytes"] / MB,
            "operators.output_mb": c["output_bytes"] / MB,
            "operators.shuffle_read_mb": c["shuffle_read_bytes"] / MB,
            "operators.shuffle_write_mb": c["shuffle_write_bytes"] / MB,
        })
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    traced_s = [s.seconds for s in traced_spans]
    out.update({
        "session.get_spark_s": get_spark_s,
        "session.peak_rss_mb": rss_mb,
        "session.warmup_s": warm_s,
        "session.pass_drift_pct": (traced_s[-1] / traced_s[0] - 1) * 100,
        "trace.overhead_pct": (median(traced_s) / untraced_s - 1) * 100,
    })
    repeat = {
        k: len({r[k] for r in rows}) == 1
        for k in ("plans.construct_jobs", "operators.jobs", "operators.stages", "operators.tasks")
    }
    return out, repeat


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hadoop_map_reduce_spark")):
        print(f"perfbench: no hadoop_map_reduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        return run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, workload) -> int:
    spark = start_spark()
    try:
        get_spark_s = time.perf_counter() - T0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = workload(spark, tracer, work, args.seed)

        t = time.perf_counter()
        params = wl.prepare()
        gen_s = time.perf_counter() - t
        print(f"# inputs: generated in {gen_s:.3f} s (excluded from every metric): {json.dumps(params)}")

        tracer.enabled = False
        warm = wl.run_pass(-1, warmup=True)
        # Set-up is everything a user waits for before steady state: the
        # session start and the cold first pass (input generation aside).
        setup_s = get_spark_s + warm.seconds
        print(f"# warm-up pass: {warm.seconds:.3f} s, {len(warm.ops)} ops")

        # A traced run leaves its second pass untraced: the traced passes on
        # either side of it cancel most of the within-session drift in
        # trace.overhead_pct.
        passes = []
        start = time.perf_counter()
        while len(passes) < MIN_PASSES + args.trace or time.perf_counter() - start < args.seconds:
            tracer.enabled = bool(args.trace) and len(passes) != 1
            p = wl.run_pass(len(passes))
            tracer.collect()
            passes.append(p)
            print(f"# pass {len(passes) - 1}: {p.seconds:.3f} s, {len(p.ops)} ops, "
                  f"{sum(o.failed for o in p.ops)} failed, traced={int(p.traced)}")
        ops = [o for p in [warm, *passes] for o in p.ops]
        attempted, failed = len(ops), sum(o.failed for o in ops)
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "inputs": params,
                  "gen_s": gen_s, "get_spark_s": get_spark_s, "warmup_s": warm.seconds,
                  "passes": [p.seconds for p in passes], "attempted": attempted, "failed": failed}

        if args.trace:
            units = PER_LAYER
            traced = [s for s, p in zip(wl.pass_spans[1:], passes) if p.traced]
            untraced_s = median([p.seconds for p in passes if not p.traced])
            metrics, repeat = generic_layers(tracer, traced, untraced_s, get_spark_s, warm.seconds,
                                             peak_rss_mb(spark))
            tracer.enabled = True
            specific = wl.layers(traced) if failed == 0 else {}
            record.update(layers=metrics, workload_layers=specific, repeat=repeat)
            print(f"# counts repeating exactly across traced passes: {json.dumps(repeat)}")
            for name, value in sorted(metrics.items()) + sorted(specific.items()):
                print(f"# {name} = {value:.6g}")
        else:
            units = END_TO_END
            op_s, op_n = op_gmean(passes)
            metrics = {
                "setup_s": setup_s,
                "pass_s": median([p.seconds for p in passes]),
                "op_gmean_s": op_s,
            }
            samples = {"setup_s": 1, "pass_s": len(passes), "op_gmean_s": op_n}
            rss = peak_rss_mb(spark)
            record.update(metrics=metrics, peak_rss_mb=rss)
            for name in metrics:
                print(f"# {name} = {metrics[name]:.6g} {units[name]} (n={samples[name]})")
            print(f"# peak_rss_mb = {rss:.6g} MB (n=1)")
            for name, (value, unit, n) in wl.named_metrics(passes).items():
                print(f"# {name} = {value:.6g} {unit} (n={n})")
            print(f"# error_rate = {failed / attempted:.6g} (n={attempted})")
    finally:
        stop_spark(spark)

    tracer.write(os.path.join(WORK_ROOT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                 record)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
