"""Spans kept in memory, plus Spark job and stage counters per span.

Every operation the benchmark issues is wrapped in a span (name, layer,
start, end, parent). Spans are always timed. With tracing on, each span
also gets its own job group and remembers the window of Spark job ids
submitted while it was open; after a pass, ``collect`` reads those jobs
and their stages from the application status store. The status store is
reachable with ``spark.ui.enabled=false``. Operations are issued one at a
time from one driver thread (streaming batches run one at a time too), so
a job-id window attributes every job to exactly one span.
"""

from __future__ import annotations

import json
import os
import resource
import time
from dataclasses import asdict, dataclass, field

MB = 1024 * 1024

# Stage counters summed into each traced span.
COUNTERS = (
    "stages",
    "tasks",
    "task_ms",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    # Spark job ids submitted while the span was open: [first_job, end_job).
    first_job: int = -1
    end_job: int = -1
    jobs: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._collected = 0
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore() if enabled else None

    def _next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def begin(self, name: str, layer: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            start=time.perf_counter(),
            parent=None if parent is None else parent.id,
            attrs=attrs,
        )
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"{layer}:{name}:{span.id}", name)
            span.first_job = self._next_job_id()
        self.spans.append(span)
        return span

    def end(self, span: Span) -> Span:
        span.end = time.perf_counter()
        if self.enabled:
            span.end_job = self._next_job_id()
        return span

    def timed(self, name: str, layer: str, fn, parent: Span | None = None, **attrs):
        """Run ``fn()`` inside a span; return ``(result, span)``."""
        span = self.begin(name, layer, parent, **attrs)
        try:
            return fn(), span
        finally:
            self.end(span)

    def collect(self) -> None:
        """Attach job and stage counters to every span closed since the
        last call. Runs between passes, outside every timed span."""
        if not self.enabled:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        jvm = self.spark.sparkContext._jvm
        empty = jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages: dict[int, dict | None] = {}

        def stage_counters(sid: int) -> dict | None:
            if sid not in stages:
                st = self._store.stageAttempt(sid, 0, False, empty, False, no_quantiles)._1()
                stages[sid] = None if str(st.status()) not in ("COMPLETE", "FAILED") else {
                    "stages": 1,
                    "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                    "task_ms": st.executorRunTime(),
                    "input_bytes": st.inputBytes(),
                    "output_bytes": st.outputBytes(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "shuffle_write_records": st.shuffleWriteRecords(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                }
            return stages[sid]

        jobs: dict[int, list[int]] = {}
        for span in self.spans[self._collected:]:
            totals = dict.fromkeys(COUNTERS, 0)
            seen: set[int] = set()
            for job_id in range(span.first_job, span.end_job):
                if job_id not in jobs:
                    ids = self._store.job(job_id).stageIds()
                    jobs[job_id] = [ids.apply(i) for i in range(ids.size())]
                for sid in jobs[job_id]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    # None: skipped, because an earlier stage's output was reused.
                    for k, v in (stage_counters(sid) or {}).items():
                        totals[k] += v
            span.jobs = max(0, span.end_job - span.first_job)
            span.counters = totals
        self._collected = len(self.spans)

    def write(self, path: str, record: dict) -> None:
        """Write every span plus the run record as one JSON document."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"record": record, "spans": [asdict(s) for s in self.spans]}, fh)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (``VmHWM``) plus this
    Python process (``ru_maxrss``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024
