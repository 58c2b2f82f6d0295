"""Per-query measurement harness: timing into the noop sink plus
``explain("formatted")`` capture for before/after evidence. Same
methodology as bench.py (warmup + median of 3, noop sink,
$SPARK_GRAFT_SF_DIR input, page-cache prewarm) so numbers are
comparable with it; runs only the requested subset so one query can be
isolated while iterating.

Usage:
    python tools/r12_measure.py plans [query ...]   # plans/r12/<q>_<tag>.txt
    python tools/r12_measure.py time  [query ...]   # time median-of-3 into noop
    python tools/r12_measure.py split [query ...]   # construct vs execute split
    R12_TAG=after python tools/r12_measure.py plans ...  # tag output files

``split`` separates fn() CONSTRUCTION (driver-side plan building,
including any eager checkpoints an iterative query runs) from noop-sink
EXECUTION — the round-11 lesson: two queries were dominated by py4j
literal construction, invisible to end-to-end timing diffs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> None:
    from hadoop_map_reduce_spark import get_spark
    from hadoop_map_reduce_spark.plans import REGISTRY

    mode = sys.argv[1] if len(sys.argv) > 1 else "plans"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("R12_TAG", "before")
    # Same session knobs as bench.py (the split tuning moved out of the
    # library default in round 12) so timings stay comparable.
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")
    os.environ.setdefault("SPARK_GRAFT_OPEN_COST_BYTES", "1m")

    spark = get_spark(app_name=f"r12-measure-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    headline = [q for q in REGISTRY.values() if q.headline]
    if names:
        qs = [REGISTRY[n] for n in names]
    else:
        qs = headline

    if mode == "plans":
        out_dir = REPO / "plans" / "r12"
        out_dir.mkdir(parents=True, exist_ok=True)
        for q in qs:
            df = q.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = out_dir / f"{q.name}_{tag}.txt"
            path.write_text(plan)
            print(f"wrote {path}")
        spark.stop()
        return

    # Warm page cache like bench.py so numbers are comparable.
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            with open(os.path.join(sf_dir, fname), "rb") as fh:
                while fh.read(1 << 24):
                    pass

    if mode == "time":
        results = {}
        for q in qs:
            spark.sparkContext.setJobDescription(f"r12:{q.name}")

            def run(q=q):
                q.fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()

            run()  # warmup
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                run()
                runs.append(round(time.perf_counter() - t0, 3))
            results[q.name] = {
                "median": statistics.median(runs),
                "runs": runs,
            }
            print(json.dumps({q.name: results[q.name]}), flush=True)
        total = round(sum(v["median"] for v in results.values()), 3)
        print(json.dumps({"total_median": total}))
    elif mode == "split":
        for q in qs:
            spark.sparkContext.setJobDescription(f"r12:{q.name}:split")
            # warmup (construction + execution)
            q.fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            rows = []
            for _ in range(3):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                rows.append(
                    {
                        "construct": round(t1 - t0, 3),
                        "execute": round(t2 - t1, 3),
                    }
                )
            print(json.dumps({q.name: rows}), flush=True)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    spark.stop()


if __name__ == "__main__":
    main()
