"""The three workloads. Each is a closed loop with one client: one driver
thread issues one operation and waits for it before the next.

A workload prepares its inputs once, then runs passes. ``run_pass``
returns the pass wall time and one ``Op`` per operation (a query, a job,
a micro-batch) with its latency and whether it failed or produced a wrong
output. Output checks run after the pass span has closed. With tracing
on, ``layers`` turns the traced spans into this workload's own layer
counters and runs the direct layer probes.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import traceback
from dataclasses import dataclass

from checks import (
    check_admissions,
    check_kv_output,
    compare_rows,
    oracle_results,
    output_bytes,
    recount_bigrams,
)
from inputs import BOARD_DATA, write_admission, write_cookbook
from spans import MB, Span, Tracer

# Family of every headline query. ``Board`` refuses to start when the
# registry's headline set differs from these names, so a board change
# cannot silently change what the family counters mean.
FAMILIES = {
    "bigram_count": "reference",
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "q5_local_supplier": "relational",
    "q18_large_volume": "relational",
    "join_asof": "relational",
    "sessionization": "relational",
    "subq_large_orders": "relational",
    "events_rfm_segments": "relational",
    "join_bloom_semi": "relational",
    "interval_union_days": "relational",
    "dedup_ngram_jaccard": "dedup",
    "dedup_minhash_lsh": "dedup",
    "dedup_containment": "dedup",
    "embedding_neardup": "dedup",
    "multimodal_phash_neardup": "dedup",
    "similarity_topk": "similarity",
    "ann_index_served_search": "similarity",
    "search_hybrid_rrf": "similarity",
    "tfidf_top_terms": "similarity",
    "text_quality": "curation",
    "curation_dsir_score": "curation",
    "pack_write_shards": "curation",
    "pack_global_shuffle": "curation",
    "graph_pagerank": "graph",
    "graph_triangles_hybrid": "graph",
    "graph_kcore_bounded": "graph",
}

# The timed board: one query per family, with k-core, the largest
# driver-side job outlier (27 jobs a run, most of them during plan
# construction), as the graph pick. Every query's DuckDB oracle answers in
# well under a second on these tables. The whole 27-query board takes
# about a minute per warm pass even on the smallest tables, which does
# not fit one benchmark run.
BOARD = (
    "bigram_count",
    "q3_shipping_priority",
    "multimodal_phash_neardup",
    "similarity_topk",
    "text_quality",
    "graph_kcore_bounded",
)
JOB_TARGETS = ("graph_kcore_bounded",)

NUM_PARTS = 32


@dataclass
class Op:
    name: str
    seconds: float
    failed: bool


@dataclass
class Pass:
    seconds: float
    ops: list[Op]
    traced: bool


def _guard(fn) -> bool:
    """Run one operation; report (not raise) its failure so the loop
    keeps measuring the others."""
    try:
        fn()
        return True
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return False


def _median(values):
    return statistics.median(values) if values else 0.0


def _sum_counters(spans: list[Span]) -> dict:
    out = {"jobs": sum(s.jobs for s in spans)}
    for s in spans:
        for k, v in s.counters.items():
            out[k] = out.get(k, 0) + v
    return out


def _children(tracer: Tracer, parent: Span, layer: str | None = None) -> list[Span]:
    return [s for s in tracer.spans if s.parent == parent.id and (layer is None or s.layer == layer)]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.pass_spans: list[Span] = []

    def prepare(self) -> dict:
        """Make the inputs; return the parameters to record."""
        return {}

    def run_pass(self, index: int, warmup: bool = False) -> Pass:
        raise NotImplementedError

    def layers(self, traced: list[Span]) -> dict:
        """Workload-specific layer counters from the traced pass spans."""
        return {}

    def named_metrics(self, passes: list[Pass]) -> dict:
        """This workload's own end-to-end figures: name -> (value, unit, samples)."""
        return {}

    def _begin_pass(self, index: int) -> Span:
        span = self.tracer.begin(f"pass{index}", "pass")
        self.pass_spans.append(span)
        return span


class Board(Workload):
    """Headline registry queries on the committed sf0.001 tables. The seed
    only permutes the query order of each pass."""

    name = "board"

    def prepare(self) -> dict:
        from hadoop_map_reduce_spark.plans import REGISTRY

        headline = {q.name for q in REGISTRY.values() if q.headline}
        if headline != FAMILIES.keys():
            raise SystemExit(
                "headline board changed; update FAMILIES: "
                f"added {sorted(headline - FAMILIES.keys())}, "
                f"removed {sorted(FAMILIES.keys() - headline)}"
            )
        self.queries = {name: REGISTRY[name] for name in BOARD}
        self.rng = random.Random(self.seed)
        self.expected = oracle_results(BOARD_DATA, {n: q.oracle for n, q in self.queries.items()})
        self.wrong: set[str] = set()
        return {"data": "sf0.001", "queries": list(BOARD)}

    def run_pass(self, index: int, warmup: bool = False) -> Pass:
        t = self.tracer
        order = self.rng.sample(BOARD, len(BOARD))
        results = {}
        span = self._begin_pass(index)
        ops = []
        for name in order:
            q = self.queries[name]
            op = t.begin(name, "query", span, family=FAMILIES[name])

            def run(q=q, op=op, name=name):
                df, _ = t.timed("construct", "plans", lambda: q.fn(self.spark, BOARD_DATA), op)
                if warmup:
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    t.timed("execute", "operators", lambda: df.write.mode("overwrite").format("noop").save(), op)

            ok = _guard(run)
            t.end(op)
            ops.append(Op(name, op.seconds, not ok))
        t.end(span)
        if warmup:
            for op in ops:
                got = results.get(op.name)
                problems = ["failed"] if got is None else compare_rows(*got, *self.expected[op.name])
                if problems:
                    print(f"# board: {op.name}: {problems}", file=sys.stderr)
                    self.wrong.add(op.name)
        for op in ops:
            op.failed = op.failed or op.name in self.wrong
        return Pass(span.seconds, ops, t.enabled)

    def named_metrics(self, passes: list[Pass]) -> dict:
        secs = [o.seconds for p in passes for o in p.ops]
        p90 = statistics.quantiles(secs, n=10)[-1] if len(secs) >= 10 else max(secs)
        return {"query_p50_s": (_median(secs), "s", len(secs)), "query_p90_s": (p90, "s", len(secs))}

    def layers(self, traced: list[Span]) -> dict:
        from hadoop_map_reduce_spark.session import load_table

        t = self.tracer
        out: dict = {}
        per_family: dict[str, list[dict]] = {}
        per_query: dict[str, list[int]] = {}
        for p in traced:
            fam: dict[str, dict] = {}
            for op in _children(t, p, "query"):
                f = fam.setdefault(op.attrs["family"], dict.fromkeys(
                    ("construct_s", "construct_jobs", "execute_s", "jobs", "task_s"), 0.0))
                for child in _children(t, op):
                    if child.layer == "plans":
                        f["construct_s"] += child.seconds
                        f["construct_jobs"] += child.jobs
                    else:
                        f["execute_s"] += child.seconds
                        f["jobs"] += child.jobs
                        f["task_s"] += child.counters["task_ms"] / 1000
                per_query.setdefault(op.name, []).append(op.jobs)
            for name, f in fam.items():
                per_family.setdefault(name, []).append(f)
        for family, rows in sorted(per_family.items()):
            for key in ("construct_s", "construct_jobs"):
                out[f"plans.{family}.{key}"] = _median([r[key] for r in rows])
            for key in ("execute_s", "jobs", "task_s"):
                out[f"operators.{family}.{key}"] = _median([r[key] for r in rows])
        for name in JOB_TARGETS:
            out[f"operators.{name}.jobs"] = _median(per_query.get(name, []))
        tables = sorted(f[: -len(".parquet")] for f in os.listdir(BOARD_DATA))
        load = [t.timed(table, "session", lambda table=table: load_table(self.spark, BOARD_DATA, table))[1]
                for table in tables]
        t.collect()
        out["session.load_table_s"] = sum(s.seconds for s in load)
        out["session.load_table_jobs"] = sum(s.jobs for s in load)
        return out


class Cookbook(Workload):
    """The paper's job: bigram counts of a seeded cookbook corpus, read as
    text books (Hadoop layout sink) and as ZIP shelves (native sink)."""

    name = "cookbook"

    def prepare(self) -> dict:
        from hadoop_map_reduce_spark.functions.hashing import hadoop_partition

        inputs = write_cookbook(os.path.join(self.work, "inputs"), self.seed)
        self.inputs = inputs
        self.expected = recount_bigrams(inputs["lines"])
        self.placement = {k: hadoop_partition(k, NUM_PARTS) for k in self.expected}
        self.out_text = os.path.join(self.work, "out-text")
        self.out_zip = os.path.join(self.work, "out-zip")
        return inputs["params"]

    def text_job(self) -> None:
        from hadoop_map_reduce_spark.compat import run_bigram_job

        run_bigram_job(self.spark, self.inputs["text_dir"], self.out_text,
                       num_partitions=NUM_PARTS, hadoop_layout=True)

    def run_pass(self, index: int, warmup: bool = False) -> Pass:
        from hadoop_map_reduce_spark.operators.bigram import bigram_counts
        from hadoop_map_reduce_spark.sinks.text_sink import write_kv_text
        from hadoop_map_reduce_spark.sources.zip_source import read_zip_text_lines

        t = self.tracer
        span = self._begin_pass(index)
        text_op = t.begin("text_job", "job", span)
        text_ok = _guard(self.text_job)
        t.end(text_op)

        zip_op = t.begin("zip_job", "job", span)

        def zip_job():
            counts, _ = t.timed(
                "construct", "plans",
                lambda: bigram_counts(read_zip_text_lines(self.spark, self.inputs["zip_dir"]), text_col="line"),
                zip_op,
            )
            t.timed("write", "sinks", lambda: write_kv_text(counts, self.out_zip, "bigram", "cnt",
                                                            num_partitions=NUM_PARTS), zip_op)

        zip_ok = _guard(zip_job)
        t.end(zip_op)
        t.end(span)
        ops = []
        for op, ok, out, placement in ((text_op, text_ok, self.out_text, self.placement),
                                       (zip_op, zip_ok, self.out_zip, None)):
            problems = check_kv_output(out, self.expected, NUM_PARTS, placement) if ok else ["failed"]
            if problems:
                print(f"# cookbook: {op.name}: {problems}", file=sys.stderr)
            ops.append(Op(op.name, op.seconds, bool(problems)))
        return Pass(span.seconds, ops, t.enabled)

    def named_metrics(self, passes: list[Pass]) -> dict:
        out = {}
        for name in ("text_job", "zip_job"):
            secs = [o.seconds for p in passes for o in p.ops if o.name == name]
            out[name + "_s"] = (_median(secs), "s", len(secs))
        return out

    def layers(self, traced: list[Span]) -> dict:
        from hadoop_map_reduce_spark.operators.bigram import bigram_counts
        from hadoop_map_reduce_spark.sinks.text_sink import write_kv_text
        from hadoop_map_reduce_spark.sources.text_source import read_text_lines
        from hadoop_map_reduce_spark.sources.zip_datasource import register_zip_datasource
        from hadoop_map_reduce_spark.sources.zip_source import read_zip_entries

        t, spark = self.tracer, self.spark
        noop = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731
        zip_dir = self.inputs["zip_dir"]
        register_zip_datasource(spark)
        probes = {
            "text_scan": lambda: noop(read_text_lines(spark, self.inputs["text_dir"])),
            "zip_scan": lambda: noop(read_zip_entries(spark, zip_dir)),
            "zipentries_scan": lambda: noop(spark.read.format("zipentries").load(os.path.join(zip_dir, "*.zip"))),
        }
        for fn in probes.values():
            fn()  # the first scan of each path pays one-off worker and plan start-up
        spans = {name: t.timed(name, "sources", fn)[1] for name, fn in probes.items()}
        lines = read_text_lines(spark, self.inputs["text_dir"]).persist()
        lines.count()
        spans["bigram"] = t.timed("bigram", "operators", lambda: noop(bigram_counts(lines, text_col="value")))[1]
        counts = bigram_counts(lines, text_col="value").persist()
        counts.count()
        sinks = {}
        for mode, layout in (("hadoop_layout", True), ("native", False)):
            path = os.path.join(self.work, f"probe-{mode}")
            spans[mode] = t.timed(mode, "sinks", lambda: write_kv_text(
                counts, path, "bigram", "cnt", num_partitions=NUM_PARTS, hadoop_layout=layout))[1]
            sinks[mode] = output_bytes(path)
        counts.unpersist()
        lines.unpersist()
        t.collect()
        emitted = sum(self.expected.values())
        line_bytes = sum(len(f"{k}\t{v}\n".encode()) for k, v in self.expected.items())
        zip_mb = _dir_bytes(zip_dir) / MB
        files = sum(n for n, _ in sinks.values())
        written = sum(b for _, b in sinks.values())
        return {
            "sources.text_scan_s": spans["text_scan"].seconds,
            "sources.zip_scan_s": spans["zip_scan"].seconds,
            "sources.zipentries_scan_s": spans["zipentries_scan"].seconds,
            "sources.zip_entries": self.inputs["params"]["books"],
            "sources.zip_scan_mb_per_s": zip_mb / spans["zip_scan"].seconds,
            "operators.bigram_s": spans["bigram"].seconds,
            "operators.bigram_emitted": emitted,
            "operators.bigram_distinct": len(self.expected),
            "operators.bigram_combine_ratio": spans["bigram"].counters["shuffle_write_records"] / emitted,
            "sinks.hadoop_layout_s": spans["hadoop_layout"].seconds,
            "sinks.native_s": spans["native"].seconds,
            "sinks.files_written": files,
            "sinks.mb_written": written / MB,
            # Both probes write every line once.
            "sinks.write_amp": written / (2 * line_bytes),
        }


class Admission(Workload):
    """Streaming near-duplicate admission: seed the signature store, run
    the arrival stream in legs, and compact the store between legs."""

    name = "admission"

    def prepare(self) -> dict:
        self.inputs = write_admission(os.path.join(self.work, "inputs"), self.seed)
        self.stats: list[dict] = []
        self.stream_s: list[float] = []
        params = self.inputs["params"]
        return dict(params, planted=self.inputs["planted"])

    def run_pass(self, index: int, warmup: bool = False) -> Pass:
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from hadoop_map_reduce_spark.streaming.neardup import NearDupAdmitter, run_neardup_stream

        t, spark, inputs = self.tracer, self.spark, self.inputs
        schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
        base = os.path.join(self.work, f"pass{index}")
        arrivals = os.path.join(base, "arrivals")
        os.makedirs(arrivals)
        per_leg = inputs["params"]["files_per_leg"]

        class TimedAdmitter(NearDupAdmitter):
            leg: Span | None = None

            def apply_batch(self, batch_df, batch_id):
                span = t.begin(f"batch{batch_id}", "batch", self.leg)
                try:
                    super().apply_batch(batch_df, batch_id)
                finally:
                    t.end(span)

        admitter = TimedAdmitter(os.path.join(base, "store"))
        span = self._begin_pass(index)
        seed = t.begin("seed", "streaming", span)

        def seed_store():
            docs, _ = t.timed("construct", "plans", lambda: spark.read.parquet(inputs["seed_path"]), seed)
            admitter.seed(docs)

        ok = _guard(seed_store)
        t.end(seed)
        compact_mb = 0.0
        for leg in range(inputs["params"]["legs"]):
            for b in range(leg * per_leg, (leg + 1) * per_leg):
                dst = os.path.join(arrivals, os.path.basename(inputs["files"][b]))
                shutil.copyfile(inputs["files"][b], dst)
                # One file per trigger, oldest first: mtimes fix the batch order.
                os.utime(dst, (1_000_000 + b, 1_000_000 + b))
            if leg:
                ok = ok and _guard(lambda: t.timed("compact", "streaming",
                                                   lambda: admitter.compact_store(spark, leg * per_leg - 1), span))
                compact_mb = _dir_bytes(os.path.join(base, "store", "seed")) / MB
            admitter.leg = t.begin(f"leg{leg}", "streaming", span)
            ok = ok and _guard(lambda: run_neardup_stream(arrivals, os.path.join(base, "checkpoint"),
                                                          admitter, spark, schema))
            t.end(admitter.leg)
        t.end(span)
        self.stream_s.append(sum(s.seconds for s in _children(t, span) if s.name.startswith("leg")))
        manifest = [tuple(r) for r in admitter.result(spark).collect()] if ok else []
        wrong = set(check_admissions(manifest, inputs["expected"]))
        if wrong:
            print(f"# admission: batches {sorted(wrong)} admitted the wrong documents", file=sys.stderr)
        batches = {s.name: s for s in t.spans if s.layer == "batch" and s.parent is not None
                   and t.spans[s.parent].parent == span.id}
        ops = []
        for b in inputs["expected"]:
            s = batches.get(f"batch{b}")
            ops.append(Op(f"batch{b}", s.seconds if s else 0.0, s is None or b in wrong))
        store_bytes = _dir_bytes(os.path.join(base, "store")) - _dir_bytes(os.path.join(base, "store", "manifest"))
        self.stats.append({"pass": span.id, "admitted": len(manifest), "store_bytes": store_bytes,
                           "compact_mb": compact_mb})
        shutil.rmtree(base)
        return Pass(span.seconds, ops, t.enabled)

    def named_metrics(self, passes: list[Pass]) -> dict:
        secs = [o.seconds for p in passes for o in p.ops if o.seconds]
        rates = [self._arriving() / s for s in self.stream_s[-len(passes):]]
        return {"batch_p50_s": (_median(secs), "s", len(secs)), "docs_per_s": (_median(rates), "1/s", len(rates))}

    def layers(self, traced: list[Span]) -> dict:
        t = self.tracer
        rows = []
        for p in traced:
            legs = [s for s in _children(t, p) if s.name.startswith("leg")]
            batches = [b for leg in legs for b in _children(t, leg, "batch")]
            named = {s.name: s for s in _children(t, p, "streaming")}
            stats = next(s for s in self.stats if s["pass"] == p.id)
            secs = [b.seconds for b in batches]
            q = max(1, len(secs) // 4)
            c = _sum_counters(batches)
            docs = self.inputs["params"]["seed_docs"] + stats["admitted"]
            rows.append({
                "streaming.seed_s": named["seed"].seconds,
                "streaming.apply_batch_p50_s": _median(secs),
                "streaming.trigger_overhead_s": sum(leg.seconds for leg in legs) - sum(secs),
                "streaming.jobs_per_batch": c["jobs"] / len(batches),
                "streaming.tasks_per_batch": c.get("tasks", 0) / len(batches),
                "streaming.batch_growth": _median(secs[-q:]) / _median(secs[:q]),
                "streaming.store_mb": stats["store_bytes"] / MB,
                "streaming.store_bytes_per_doc": stats["store_bytes"] / docs,
                "streaming.admitted": stats["admitted"],
                "streaming.rejected": self._arriving() - stats["admitted"],
                "streaming.compact_s": named["compact"].seconds,
                "streaming.compact_mb_rewritten": stats["compact_mb"],
            })
        return {k: _median([r[k] for r in rows]) for k in rows[0]} if rows else {}

    def _arriving(self) -> int:
        p = self.inputs["params"]
        return p["legs"] * p["files_per_leg"] * p["docs_per_file"]


WORKLOADS = {w.name: w for w in (Board, Cookbook, Admission)}
