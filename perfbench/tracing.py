"""The traced run: per-layer numbers taken around calls into each layer.

Everything here sits outside the package. It uses public Spark surfaces
(job groups, ``statusTracker``, the status store's ``jobsList``,
``job`` and ``lastStageAttempt``, a ``StreamingQueryListener``, the JVM's
``CompilationMXBean`` and Spark's ``CodegenMetrics``) and wraps public
functions of the package:

- ``sources.load_table`` (``load_tables`` calls it);
- ``plans.caching.truncate_lineage`` and ``persisted_result``, and
  ``operators.dedup._truncate_lineage``, the iterative-loop cut that
  ``analytics`` and ``text`` import from ``dedup``. Each
  ``truncate_lineage`` call is a cut, also the one inside
  ``persisted_result``, which is only counted;
- the streaming sink callable (``wrap_sink``).

``install`` must run before ``registry.all_queries()`` imports the
operator modules, because twelve of them bind ``load_table`` (and some
``truncate_lineage``) at import time; ``unwrapped_bindings`` lists any
binding that still holds an original.

Job attribution: each query phase (build / plan / exec) runs under its own
job group, and each load or cut sets its own group in whichever thread
calls it, so their jobs are counted exactly. Jobs a phase starts from
pooled threads carry no group, and jobs of a streaming query carry its run
id as their group (learnt from the listener); both are attributed to the
phase during which they appeared.
"""

from __future__ import annotations

import itertools
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_PKG = "weather_stream_processor_spark"
_GROUP = "spark.jobGroup.id"
_DURATIONS = {
    "add_batch_s": "addBatch",
    "get_batch_s": "getBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "latest_offset_s": "latestOffset",
}
LISTING = "Listing leaf files"  # description of the file index's listing job


def progress_record(p) -> dict:
    """The fields of a ``StreamingQueryProgress`` the benchmark reads."""
    state = p.stateOperators[0] if p.stateOperators else None
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return {
        "run_id": str(p.runId),
        "batch_id": p.batchId,
        "end": start + p.durationMs.get("triggerExecution", 0) / 1e3,
        "rows": p.numInputRows,
        "durations": dict(p.durationMs),
        "state_rows": state.numRowsTotal if state else 0,
        "state_mem": state.memoryUsedBytes if state else 0,
        "dropped": state.numRowsDroppedByWatermark if state else 0,
    }


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event and the run id of every started query."""

    def __init__(self):
        self.lock = threading.Lock()
        self.run_ids: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        rec = progress_record(event.progress)
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def records(self, run_id: str) -> list[dict]:
        with self.lock:
            return [p for p in self.progress if p["run_id"] == run_id]


def streaming_metrics(catchup: list[dict], live: list[dict]) -> dict[str, float]:
    """Per-batch phase medians over the ``live`` batches (those that took
    in rows), the catch-up batch's time and state figures over both."""
    busy = [p for p in live if p["rows"] > 0]
    med = lambda vals: statistics.median(vals) if vals else 0.0  # noqa: E731
    out = {
        "streaming.batches": len(catchup) + len(live),
        "streaming.batch_p50_s": med([p["durations"].get("triggerExecution", 0) / 1e3 for p in busy]),
        "streaming.catchup_batch_s": sum(p["durations"].get("triggerExecution", 0) for p in catchup) / 1e3,
    }
    for name, key in _DURATIONS.items():
        out[f"streaming.{name}"] = med([p["durations"].get(key, 0) / 1e3 for p in busy])
    both = catchup + live
    out["streaming.state_rows"] = max((p["state_rows"] for p in both), default=0)
    out["streaming.state_mem_mb"] = max((p["state_mem"] for p in both), default=0) / 2**20
    out["streaming.rows_dropped_late"] = sum(p["dropped"] for p in both)
    return out


def jvm_warmup(spark) -> dict[str, float]:
    """Cumulative JIT compile time (``CompilationMXBean``) and Spark
    whole-stage codegen compile time (``CodegenMetrics``; its histogram
    keeps a decaying sample, so the sum is mean x count)."""
    jvm = spark._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "jit_compile_s": jit.getTotalCompilationTime() / 1e3,
        "codegen_compile_s": codegen.getCount() * codegen.getSnapshot().getMean() / 1e3,
    }


class Tracer:
    """Per-layer counters for one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.active = False
        self.lock = threading.Lock()
        self.ids = itertools.count()
        self.totals: dict[str, float] = defaultdict(float)
        self.groups: dict[str, list[str]] = {"load": [], "cut": []}
        self.sink_calls: list[float] = []
        self.calls: Counter[str] = Counter()  # wrapped function -> traced calls
        self.originals: dict[object, object] = {}
        self._seen_untagged = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self._seen_runs = 0
        self.last_job = -1

    # -- wrappers around package functions ---------------------------------

    def _wrapped(self, fn, label: str, kind: str | None):
        """``fn`` counted under ``label`` while the tracer is active; with a
        ``kind`` (``load`` or ``cut``) also timed, under its own job group."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.lock:
                tracer.calls[label] += 1
            if kind is None:
                return fn(*args, **kwargs)
            sc = tracer.sc
            group = f"pb-{kind}-{next(tracer.ids)}"
            prev = sc.getLocalProperty(_GROUP)
            sc.setLocalProperty(_GROUP, group)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                sc.setLocalProperty(_GROUP, prev)
                with tracer.lock:
                    tracer.totals[f"{kind}_calls"] += 1
                    tracer.totals[f"{kind}_s"] += dt
                    tracer.groups[kind].append(group)

        return wrapper

    def _swap(self, mod, attr: str, kind: str | None) -> None:
        fn = getattr(mod, attr)
        label = f"{mod.__name__.removeprefix(_PKG + '.')}.{attr}"
        self.originals[fn] = self._wrapped(fn, label, kind)
        setattr(mod, attr, self.originals[fn])

    def install(self) -> None:
        """Swap the wrappers in, before the operator modules are imported.

        ``sources`` and ``plans.caching`` are imported and patched first;
        importing ``operators.dedup`` then imports every operator module,
        which binds the wrapped functions; ``dedup._truncate_lineage`` is
        patched last (its users import it inside their functions)."""
        import weather_stream_processor_spark.sources as sources
        from weather_stream_processor_spark.plans import caching
        from weather_stream_processor_spark.sources import tables

        if any(n.startswith(f"{_PKG}.operators") for n in sys.modules):
            raise RuntimeError("install the tracer before the operator modules are imported")
        self._swap(tables, "load_table", "load")
        sources.load_table = tables.load_table
        self._swap(caching, "truncate_lineage", "cut")
        # its cut is the truncate_lineage call inside it: counted, not timed
        self._swap(caching, "persisted_result", None)
        from weather_stream_processor_spark.operators import dedup

        self._swap(dedup, "_truncate_lineage", "cut")

    def unwrapped_bindings(self) -> list[str]:
        """``module.attr`` of every loaded package module that still binds
        an original of a wrapped function."""
        return [
            f"{name}.{attr}"
            for name, mod in list(sys.modules.items())
            if name.startswith(_PKG) and mod is not None
            for attr, value in vars(mod).items()
            if callable(value) and value in self.originals
        ]

    def wrap_sink(self, sink):
        def traced_sink(batch_df, batch_id):
            t0 = time.perf_counter()
            try:
                return sink(batch_df, batch_id)
            finally:
                if self.active:
                    self.sink_calls.append(time.perf_counter() - t0)
                    self.calls["sink"] += 1

        return traced_sink

    # -- job attribution ----------------------------------------------------

    def _new_jobs(self, group: str) -> set[int]:
        """Jobs of ``group`` plus jobs that appeared, untagged or under a
        streaming run id, since the previous call."""
        st = self.sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(group))
        untagged = set(st.getJobIdsForGroup(None))
        jobs |= untagged - self._seen_untagged
        self._seen_untagged = untagged
        with self.listener.lock:
            runs = self.listener.run_ids[self._seen_runs :]
            self._seen_runs = len(self.listener.run_ids)
        for run in runs:
            jobs |= set(st.getJobIdsForGroup(run))
        return jobs

    def _nested_jobs(self, kind: str) -> set[int]:
        st = self.sc.statusTracker()
        with self.lock:
            taken, self.groups[kind] = self.groups[kind], []
        return {j for g in taken for j in st.getJobIdsForGroup(g)}

    def jobs_since_last_call(self) -> set[int]:
        """Every job the status store holds with an id above the highest
        one returned by the previous call: all jobs of a pass, whatever
        group or thread started them."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        ids = {int(j.jobId()) for j in conv.asJava(self.store.jobsList(None))}
        new = {j for j in ids if j > self.last_job}
        self.last_job = max(ids, default=self.last_job)
        return new

    def job_descriptions(self, jobs: set[int]) -> list[str]:
        out = []
        for j in jobs:
            try:
                d = self.store.job(j).description()
            except Py4JJavaError:  # evicted from the status store
                continue
            out.append(d.get() if d.isDefined() else "")
        return out

    def stage_totals(self, jobs: set[int]) -> dict[str, float]:
        """Summed last-attempt metrics of every stage of ``jobs``."""
        st = self.sc.statusTracker()
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = defaultdict(float)
        for sid in stages:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: stage evicted
                continue
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += s.diskBytesSpilled() / 2**20
        return out

    # -- one traced query ---------------------------------------------------

    def run_query(self, name: str, build, materialize) -> tuple[object, dict]:
        """Build, plan and execute one query under per-phase job groups;
        return the frame and the query's increments."""
        sc = self.sc
        tag = f"pb-q{next(self.ids)}-{name}"
        self._new_jobs(tag)  # forget jobs started before this query
        sc.setJobGroup(f"{tag}-build", name)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        load_jobs = self._nested_jobs("load")
        cut_jobs = self._nested_jobs("cut")
        build_jobs = self._new_jobs(f"{tag}-build") | load_jobs | cut_jobs
        sc.setJobGroup(f"{tag}-plan", name)
        t2 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        sc.setJobGroup(f"{tag}-exec", name)
        materialize(df)
        t4 = time.perf_counter()
        exec_jobs = self._new_jobs(f"{tag}-exec") | self._new_jobs(f"{tag}-plan")
        sc.setLocalProperty(_GROUP, None)
        with self.lock:
            nested, self.totals = dict(self.totals), defaultdict(float)
        return df, {
            **nested,
            "build_s": t1 - t0,
            "plan_s": t3 - t2,
            "exec_s": t4 - t3,
            "build_jobs": build_jobs,
            "load_jobs": load_jobs,
            "cut_jobs": cut_jobs,
            "exec_jobs": exec_jobs,
        }
