"""The repo's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curation_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see README.md):

- ``curation_small``: five headline queries on sf0.01-shaped tables, closed
  loop; per-query fixed cost decides it;
- ``weather_stream``: the reference pipeline, a backlog catch-up then a
  closed live loop fed by a separate generator process.

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, from an
instrumented run. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
``{"perfbench_detail": ...}``, explains the run. Everything the run writes
stays under ``.perfbench_work/`` in the checkout and is deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("curation_small", "weather_stream")


def _environment(run_dir: Path, n_cores: int) -> None:
    """Keep every file Spark, Java and Python write inside the checkout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        SPARK_WAREHOUSE_DIR=str(tmp / "warehouse"),
        SPARK_GRAFT_CPUS=str(n_cores),
        # no hsperfdata file: HotSpot would write it under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None


def _curation(args, run_dir: Path, n_cores: int, boot_s: float, marks: dict) -> dict:
    import harness

    fx = run_dir / "inputs"
    subprocess.run(
        [sys.executable, str(HERE / "fixtures.py"), "--seed", str(args.seed), "--out", str(fx)],
        check=True, stdout=sys.stderr,
    )
    manifest = json.loads((fx / "manifest.json").read_text())
    data_dir = str(fx / "tables")
    marks["inputs"] = time.perf_counter()

    spark, specs, tracer, setup = harness.start_session(args.workload, args.trace)
    import curation
    from tracing import jvm_warmup

    t0 = time.perf_counter()
    warm = curation.warm_up(spark, specs, data_dir)
    setup["warm_up_s"] = time.perf_counter() - t0
    setup["warm_up_passes_s"] = [p["wall_s"] for p in warm.passes]
    setup.update(jvm_warmup(spark))
    marks["setup"] = time.perf_counter()

    before = harness.host_probe(spark, n_cores)
    marks["probe_before"] = time.perf_counter()
    memory = harness.Memory(spark)
    run = curation.run_timed(spark, specs, data_dir, manifest["oracle"], args.seconds, memory, tracer)
    marks["timed_and_checks"] = time.perf_counter()
    after = harness.host_probe(spark, n_cores)
    marks["probe_after"] = time.perf_counter()
    out = {
        "attempted": warm.attempted + run.attempted,
        "failed": warm.failed + run.failed,
        "errors": warm.errors + run.errors,
        "end_to_end": curation.end_to_end(run),
        "detail": {
            "inputs": {**manifest["corpus"], "queries": curation.QUERIES},
            "passes": run.passes,
            "query_walls_s": [[i, q, round(w, 4)] for i, q, w in run.walls],
            "zero_row_outputs": run.zero_rows,
        },
    }
    if tracer:
        out["layers"] = curation.per_layer(run, n_cores)
        out["detail"]["tracing"] = {
            "jobs_per_traced_pass": run.jobs,
            "wrapper_calls": dict(tracer.calls),
            "unwrapped_bindings": tracer.unwrapped_bindings(),
        }
    return _finish(out, setup, boot_s, memory, before, after, tracer, marks)


def _stream(args, run_dir: Path, n_cores: int, boot_s: float, marks: dict) -> dict:
    import harness
    import stream

    rounds = stream.live_rounds(args.seconds)
    gen = stream.Generator(args.seed, str(run_dir), rounds)
    try:
        gen.wait_ready()
        marks["inputs"] = time.perf_counter()
        spark, _, tracer, setup = harness.start_session(args.workload, args.trace)
        from tracing import jvm_warmup

        memory = harness.Memory(spark)
        s = stream.Stream(spark, str(run_dir), gen, memory, tracer)
        t0 = time.perf_counter()
        for _ in range(stream.WARM_UP_DRAINS):
            s.drain()
        setup["warm_up_s"] = time.perf_counter() - t0
        setup["warm_up_passes_s"] = [d["s"] for d in s.drains]
        setup.update(jvm_warmup(spark))
        marks["setup"] = time.perf_counter()

        before = harness.host_probe(spark, n_cores)
        marks["probe_before"] = time.perf_counter()
        # a traced run drains untraced and traced in an order that cancels
        # a linear drift; the last drain's query goes on into the live loop
        order = "TUUT" if tracer else "U" * stream.DRAINS
        for i, kind in enumerate(order):
            s.drain(traced=kind == "T", keep=i == len(order) - 1, timed=True)
        live = s.live(rounds)
        marks["timed_and_checks"] = time.perf_counter()
        after = harness.host_probe(spark, n_cores)
        marks["probe_after"] = time.perf_counter()
    finally:
        gen.close()
    truth = live["truth"]
    out = {
        "attempted": sum(truth["counts"].values()),
        "failed": live["failed"],
        "errors": live["errors"],
        "end_to_end": stream.end_to_end(s, live),
        "detail": {
            "inputs": {
                "backlog_events": gen.backlog_lines,
                "backlog_files": gen.backlog_files,
                "live_chunk_files": len(truth["chunks"][0]),
                "live_rounds": rounds,
                "counts": truth["counts"],
            },
            "drains": [{k: d[k] for k in ("s", "traced", "catchup_batch", "batches")} for d in s.drains],
            "live_trips_s": [round(t, 4) for t in live["trips"]],
            "live_settle_s": [round(t, 4) for t in live["settle_s"]],
            "live_batches": [
                [p["batch_id"], p["rows"], p["durations"]]
                for p in live["progress"] if p["batch_id"] > live["catchup_batch"]
            ],
            "rows_dropped_late": live["dropped"],
            "generator_write_s": [round(t, 4) for t in truth["write_s"]],
        },
    }
    if tracer:
        out["layers"], live_jobs = stream.per_layer(s, live, n_cores)
        out["detail"]["tracing"] = {
            "jobs_per_traced_pass": [live_jobs],
            "wrapper_calls": dict(tracer.calls),
            "unwrapped_bindings": tracer.unwrapped_bindings(),
        }
    return _finish(out, setup, boot_s, memory, before, after, tracer, marks)


def _finish(out, setup, boot_s, memory, before, after, tracer, marks) -> dict:
    """Add set-up, memory and host figures shared by every workload."""
    setup["boot_s"] = boot_s
    setup["total_s"] = boot_s + setup["get_spark_s"] + setup["registry_s"] + setup["warm_up_s"]
    out["end_to_end"]["setup_s"] = setup["total_s"]
    rss = memory.reading()
    out["end_to_end"]["peak_rss_mb"] = rss["total"]
    out["detail"].update(setup=setup, host_before=before, host_after=after, peak_rss_mb=rss)
    # CPU time taken by other guests between the two probes
    out["detail"]["cpu_steal_s"] = after["cpu_steal_s"] - before["cpu_steal_s"]
    if tracer:
        layers = out["layers"]
        layers["session.get_spark_s"] = setup["get_spark_s"]
        layers["registry.all_queries_s"] = setup["registry_s"]
        layers["execution.jit_compile_s"] = setup["jit_compile_s"]
        layers["execution.codegen_compile_s"] = setup["codegen_compile_s"]
        for k in ("calib_jvm_s", "calib_py_s", "loadavg_1m"):
            layers[f"host.{k}"] = (before[k] + after[k]) / 2
    return out


def main(argv: list[str] | None = None) -> int:
    import harness

    boot_s = harness.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and the generator on its way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "weather_stream_processor_spark" / "__init__.py").is_file():
        print(f"perfbench: no package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(HERE), str(ROOT)]
    n_cores = harness.cores()
    run_dir = WORK / f"run-{os.getpid()}"
    try:
        _environment(run_dir, n_cores)
        body = _stream if args.workload == "weather_stream" else _curation
        marks = {"start": time.perf_counter()}
        out = body(args, run_dir, n_cores, boot_s, marks)
    finally:
        harness.stop_spark()
        marks["stop"] = time.perf_counter()
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["layers"] if args.trace else out["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    names = list(marks)
    out["detail"]["phases_s"] = {b: marks[b] - marks[a] for a, b in zip(names, names[1:])}
    out["detail"].update(workload=args.workload, seed=args.seed, trace=args.trace,
                         errors=out["errors"], end_to_end=out["end_to_end"])
    print(json.dumps({"perfbench_detail": out["detail"]}, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
