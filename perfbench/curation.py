"""The curation_small workload: one client runs a fixed query list, pass
after pass.

Each query is built and fully materialized through a noop write, as
``bench.py`` does, with the builder inside the timed window because
builders execute eagerly (schema inference, lineage cuts, gate collects).
The list and its order are the same in every run: the seed changes the
tables' values only, so every run meets the same JIT state at the same
point. After ``WARM_UP_PASSES`` unscored passes (part of set-up), a run
times a fixed number of passes, which follows ``--seconds`` and never the
host's speed. After the timed window, the frames of the last pass are
fingerprinted and compared with their DuckDB oracles.
"""

from __future__ import annotations

import statistics
import time
import traceback
from collections import defaultdict

# Per-query fixed cost dominates at sf0.01: builder py4j calls,
# schema-inference jobs, eager cuts, gate collects and many tiny jobs.
# The job-heavy iterative builder (28 jobs, cuts through plans.caching),
# a six-table load, the exhaustive branch of the dedup rate gate, the
# reference surface and a text pipeline. No query starts Python workers,
# which would run beside the task threads on the same cores.
QUERIES = [
    "dawid_skene_correction",
    "q5_local_supplier_volume",
    "ngram_jaccard_pairs",
    "weather_pipeline_batch",
    "tfidf_top_term_per_doc",
]
# one cold pass starts the JIT, the Python workers and the codegen cache
WARM_UP_PASSES = 1
# timed passes per second of --seconds, rounded, at least one; about one
# warm pass on 4 cores for each
SECONDS_PER_PASS = 6.5
# the traced run alternates untraced (U) and traced (T) passes in this
# order, so a linear warm-up drift cancels out of the tracing overhead
TRACE_ORDER = "UTTU"


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed_passes(seconds: float) -> int:
    return max(1, round(seconds / SECONDS_PER_PASS))


class Run:
    """Results of one closed-loop run."""

    def __init__(self):
        self.passes: list[dict] = []  # traced, wall_s, jit/codegen compile seconds
        self.walls: list[tuple[int, str, float]] = []  # (pass index, query, wall)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.zero_rows: list[str] = []
        self.layers: dict[str, float] = defaultdict(float)  # traced passes, summed
        self.jobs: list[dict] = []  # per traced pass: attributed vs all

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def _one_pass(spark, specs, names, data_dir, run, tracer=None) -> dict:
    """Run every query once; return ``{name: frame}`` of the ones that
    succeeded. ``run.walls`` gets each query's wall."""
    from tracing import jvm_warmup

    frames, wall, pass_jobs = {}, 0.0, defaultdict(set)
    before = jvm_warmup(spark)
    if tracer:
        tracer.jobs_since_last_call()
    for name in names:
        run.attempted += 1
        build = lambda: specs[name].builder(spark, data_dir)  # noqa: E731
        try:
            t0 = time.perf_counter()
            if tracer:
                df, inc = tracer.run_query(name, build, materialize)
            else:
                df = build()
                materialize(df)
            dt = time.perf_counter() - t0
        except Exception:  # a failing query is counted, the loop goes on
            run.fail(f"{name}: {traceback.format_exc(limit=3)}")
            continue
        frames[name] = df
        wall += dt
        run.walls.append((len(run.passes), name, dt))
        if tracer:
            for k, v in inc.items():
                if isinstance(v, set):
                    run.layers[k] += len(v)
                    pass_jobs[k] |= v
                else:
                    run.layers[k] += v
    after = jvm_warmup(spark)
    rec = {
        "traced": tracer is not None,
        "wall_s": wall,
        **{k: after[k] - before[k] for k in after},
    }
    if tracer:
        # per pass: the status store keeps only the last 1,000 stages
        for kind in ("exec", "build"):
            for k, v in tracer.stage_totals(pass_jobs[f"{kind}_jobs"]).items():
                run.layers[f"{kind}.{k}"] += v
        seen = tracer.jobs_since_last_call()
        attributed = pass_jobs["build_jobs"] | pass_jobs["exec_jobs"]
        run.jobs.append({
            "all": len(seen),
            "attributed": len(attributed & seen),
            "unattributed": sorted(seen - attributed),
            "outside_pass": sorted(attributed - seen),
        })
    run.passes.append(rec)
    return frames


def warm_up(spark, specs, data_dir: str) -> Run:
    """The unscored warm-up passes (part of set-up)."""
    run = Run()
    for _ in range(WARM_UP_PASSES):
        _one_pass(spark, specs, QUERIES, data_dir, run)
    return run


def run_timed(spark, specs, data_dir, oracle, seconds, memory, tracer=None) -> Run:
    """The timed passes, each followed by a memory sample while its frames
    are alive, then the output checks."""
    from fixtures import fingerprint

    names = QUERIES
    run = Run()
    n = timed_passes(seconds)
    order = TRACE_ORDER if tracer else "U" * n
    for kind in order:
        if tracer:
            tracer.active = kind == "T"
        frames = _one_pass(spark, specs, names, data_dir, run, tracer if kind == "T" else None)
        memory.sample()
    if tracer:
        tracer.active = False
    for name in names:  # untimed: fingerprints of the last pass's frames
        if name not in frames:
            continue
        run.attempted += 1
        try:
            got = fingerprint(frames[name].toPandas())
        except Exception:
            run.fail(f"{name} (check): {traceback.format_exc(limit=3)}")
            continue
        if got[0] == 0:
            run.zero_rows.append(name)
        if list(got) != oracle.get(name):
            run.fail(f"{name}: got {list(got)}, oracle {oracle.get(name)}")
    return run


def end_to_end(run: Run) -> dict[str, float]:
    """Over the untraced timed passes: ``pass_s``, the sum over the query
    list of each query's median wall, a median pass that a slow moment of
    the host in one pass does not move; ``result_p50_s``, the median wall
    per query."""
    per_query = defaultdict(list)
    for i, name, w in run.walls:
        if not run.passes[i]["traced"]:
            per_query[name].append(w)
    walls = [w for ws in per_query.values() for w in ws]
    return {
        "pass_s": sum(statistics.median(ws) for ws in per_query.values()),
        "result_p50_s": statistics.median(walls),
        "result_samples": len(walls),
    }


def per_layer(run: Run, cores: int) -> dict[str, float]:
    """Per-pass means of the traced passes' layer counters, and the
    tracing overhead: mean traced pass minus mean untraced pass."""
    traced = [p for p in run.passes if p["traced"]]
    untraced = [p for p in run.passes if not p["traced"]]
    lay = {k: v / len(traced) for k, v in run.layers.items()}
    get = lambda k: lay.get(k, 0.0)  # noqa: E731
    out = {
        "operators.build_s": get("build_s"),
        "operators.build_jobs": get("build_jobs"),
        "operators.build_executor_run_s": get("build.executor_run_s"),
        "sources.load_table_calls": get("load_calls"),
        "sources.load_table_s": get("load_s"),
        "sources.load_table_jobs": get("load_jobs"),
        "plans.cuts": get("cut_calls"),
        "plans.cut_s": get("cut_s"),
        "plans.cut_jobs": get("cut_jobs"),
        "planning.plan_s": get("plan_s"),
        "execution.exec_s": get("exec_s"),
        "execution.jobs": get("exec_jobs"),
    }
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "failed_tasks"):
        out[f"execution.{k}"] = get(f"exec.{k}")
    exec_s = get("exec_s")
    out["execution.core_busy_ratio"] = get("exec.executor_run_s") / (exec_s * cores) if exec_s else 0.0
    mean = lambda ps: sum(p["wall_s"] for p in ps) / len(ps)  # noqa: E731
    out["trace.overhead_s"] = mean(traced) - mean(untraced)
    return out
