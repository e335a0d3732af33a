"""The weather_stream workload: the reference pipeline, fed by the separate
generator process (``generator.py``).

The pipeline is composed from the functions ``cli.main`` wires: the spool
``build_source``, ``hourly_precipitation_aggregate`` with a 2 h watermark,
the parquet ``build_sink``, checkpointed, update mode, micro-batches as
fast as data arrives (no trigger interval).

- Catch-up: a fresh query drains the pre-written backlog, like the
  reference's ``startingOffsets=earliest``; per-row parse, aggregate and
  state work decide it. ``WARM_UP_DRAINS`` drains belong to set-up; the
  run then times ``DRAINS`` drains, each by a fresh query, from
  ``start()`` to the end of the micro-batch that committed the last
  backlog line, and reports their median.
- Live, a closed loop: the last drain's query keeps running; each round
  asks the generator for one chunk (one poll cycle) and waits until the
  micro-batch holding the chunk's last file has committed. A round trip
  runs from the chunk's last rename to that commit; per-batch fixed cost
  decides it.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

# drain times fall over the first three drains of a run (JIT); two belong
# to set-up, so the timed drains start at the third
WARM_UP_DRAINS = 2
DRAINS = 3
# the first live rounds run a code path the catch-up did not warm (small
# batches of a few files): their round trips fall for about three rounds,
# so that many are unscored
LIVE_WARM_UP_ROUNDS = 3
# scored live rounds per second of --seconds, at least five; a round (round
# trip plus the no-data batch that follows it) takes about 1.3 s on 4 cores
ROUNDS_PER_SECOND = 0.6
COMMIT_POLL_S = 0.002
# idle: no trigger running and every planned micro-batch committed, seen
# on two polls this far apart (the source polls for new files every 10 ms)
IDLE_POLL_S = 0.015
ROUND_TIMEOUT_S = 60.0
VALUE_TOL = 2e-5  # one unit of the sink's 5-decimal rounding, plus slack


def live_rounds(seconds: float) -> int:
    """All live rounds of a run, the unscored ones first."""
    return LIVE_WARM_UP_ROUNDS + max(5, round(seconds * ROUNDS_PER_SECOND))


def chunk_file(i: int, k: int) -> str:
    """The name of file ``k`` of live chunk ``i``."""
    return f"live-{i:05d}-{k:03d}.json"


class Generator:
    """The generator process and its line protocol."""

    def __init__(self, seed: int, run_dir: str, rounds: int):
        self.spool = os.path.join(run_dir, "spool")
        self.truth_path = os.path.join(run_dir, "truth.json")
        os.makedirs(self.spool)
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
                "--seed", str(seed), "--spool", self.spool, "--truth", self.truth_path,
                "--chunks", str(rounds),
            ],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.backlog_lines = self.backlog_files = self.chunk_files = 0

    def _expect(self, word: str) -> list[str]:
        line = self.proc.stdout.readline().split()
        if not line or line[0] != word:
            raise RuntimeError(f"generator: expected {word}, got {line}")
        return line

    def _send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def wait_ready(self) -> None:
        _, lines, files, chunk_files = self._expect("READY")
        self.backlog_lines, self.backlog_files = int(lines), int(files)
        self.chunk_files = int(chunk_files)

    def chunk(self, i: int) -> tuple[float, list[str]]:
        """Write chunk ``i``; the epoch at which its last file appeared,
        and the chunk's file names."""
        self._send(f"CHUNK {i}")
        written = float(self._expect("WROTE")[2])
        return written, [chunk_file(i, k) for k in range(self.chunk_files)]

    def finish(self) -> dict:
        self._send("END")
        self._expect("DONE")
        self.proc.wait(timeout=60)
        with open(self.truth_path, encoding="utf-8") as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def _start(spark, spool: str, out: str, ckpt: str, wrap=None):
    from weather_stream_processor_spark.cli import apply_trigger, build_sink, build_source
    from weather_stream_processor_spark.streaming.pipeline import hourly_precipitation_aggregate

    ns = argparse.Namespace(source="spool", spool_dir=spool, sink="parquet", out=out)
    agg = hourly_precipitation_aggregate(build_source(spark, ns), watermark="2 hours")
    sink = build_sink(ns)
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(wrap(sink) if wrap else sink)
        .option("checkpointLocation", ckpt)
    )
    return apply_trigger(writer, bounded=False, trigger_interval=None).start()


class CommitLog:
    """Which micro-batch took in each file, and which batches committed,
    read from the query's checkpoint.

    The file source's metadata log (``sources/0``) maps each file to the
    source's own batch counter, which skips micro-batches that read no
    new file; the offset log (``offsets/<micro-batch>``) gives the source
    offset each micro-batch read up to, and the commit log (``commits``)
    which micro-batches committed."""

    def __init__(self, ckpt: str):
        self.ckpt = ckpt
        self.source_batch: dict[str, int] = {}
        self.offset_of: dict[int, int] = {}  # micro-batch -> source offset
        self._read: set[str] = set()

    def _new_files(self, log: str):
        for name in sorted(os.listdir(os.path.join(self.ckpt, log))):
            if name.startswith(".") or (log, name) in self._read:
                continue
            self._read.add((log, name))
            with open(os.path.join(self.ckpt, log, name), encoding="utf-8") as f:
                yield name, f.read().splitlines()

    def committed_batch(self, files: list[str]) -> int | None:
        """The micro-batch that took in the last of ``files``, once it has
        committed."""
        for _, lines in self._new_files(os.path.join("sources", "0")):
            for line in lines[1:]:  # after the version line
                entry = json.loads(line)
                self.source_batch[os.path.basename(entry["path"])] = entry["batchId"]
        batches = [self.source_batch.get(f) for f in files]
        if None in batches:
            return None
        for name, lines in self._new_files("offsets"):
            self.offset_of[int(name)] = json.loads(lines[2])["logOffset"]
        need = max(batches)
        micro = min((b for b, off in self.offset_of.items() if off >= need), default=None)
        if micro is None or not os.path.exists(os.path.join(self.ckpt, "commits", str(micro))):
            return None
        return micro

    def caught_up(self) -> bool:
        """Every micro-batch the offset log planned has committed."""
        last = lambda log: max(  # noqa: E731
            (int(n) for n in os.listdir(os.path.join(self.ckpt, log)) if n.isdigit()), default=-1
        )
        return last("offsets") == last("commits")


def _drain_end(progress: list[dict]) -> tuple[float, int]:
    """End time and batch id of the last batch that took in backlog rows.

    Only the backlog is in the spool while a drain runs, and
    ``processAllAvailable`` returned, so the last non-empty batch is the
    one that committed the last backlog line."""
    last = max((p for p in progress if p["rows"] > 0), key=lambda p: p["batch_id"])
    return last["end"], last["batch_id"]


def _check_sink(out: str, ckpt: str, truth: dict, dropped: int) -> tuple[int, list[str]]:
    """Failed-line count and reasons: the last value per (hour, lat, lon)
    over the committed batches must equal the generator's on-time sum; late
    and malformed lines must leave no trace; rows dropped as late must
    equal the late lines."""
    import pyarrow.parquet as pq

    committed = {int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    last: dict[tuple, tuple[int, float]] = {}
    for d in glob.glob(os.path.join(out, "batch_id=*")):
        bid = int(d.rsplit("=", 1)[1])
        if bid not in committed:
            continue
        t = pq.read_table(d).to_pydict()
        for h, a, o, v in zip(t["hour"], t["lat"], t["lon"], t["hourly_precipitation"]):
            key = (int(h.timestamp()), a, o)
            if key not in last or last[key][0] < bid:
                last[key] = (bid, v)
    failed, errors = 0, []
    expected = {(h, a, o): v for h, a, o, v in truth["keys"]}
    for key, v in expected.items():
        got = last.pop(key, (None, None))[1]
        if got is None or abs(got - v) > VALUE_TOL:
            failed += 1
            if len(errors) < 5:
                errors.append(f"key {key}: sink {got}, expected {v}")
    if last:
        failed += len(last)
        errors.append(f"{len(last)} sink keys from late or malformed lines, e.g. {next(iter(last))}")
    late = truth["counts"]["late"]
    if dropped != late:
        failed += abs(dropped - late)
        errors.append(f"dropped {dropped} rows as late, generator sent {late}")
    return failed, errors


class Stream:
    """One run's queries; the drains and the live loop."""

    def __init__(self, spark, run_dir: str, gen: Generator, memory, tracer=None):
        from tracing import progress_record

        self.spark, self.run_dir, self.gen, self.tracer = spark, run_dir, gen, tracer
        self.memory = memory
        self.record = progress_record
        self.drains: list[dict] = []
        self.query = None

    def drain(self, traced: bool = False, keep: bool = False, timed: bool = False) -> None:
        """One fresh query drains the backlog. ``keep`` leaves it running
        for the live loop; a ``timed`` drain samples memory while its query
        still holds its state."""
        k = len(self.drains)
        out, ckpt = (os.path.join(self.run_dir, f"{x}-{k}") for x in ("out", "ckpt"))
        wrap = self.tracer.wrap_sink if self.tracer else None
        if self.tracer:
            self.tracer.active = traced
            self.tracer.sink_calls.clear()  # keep the last traced query's
        t0 = time.time()
        q = _start(self.spark, self.gen.spool, out, ckpt, wrap)
        q.processAllAvailable()
        progress = [self.record(p) for p in q.recentProgress]
        end, batch = _drain_end(progress)
        self.drains.append({
            "s": end - t0, "traced": traced, "catchup_batch": batch, "run_id": str(q.runId),
            "batches": [[p["batch_id"], p["rows"], p["durations"]] for p in progress],
        })
        if timed:
            self.memory.sample()
        if keep:
            self.query, self.out, self.ckpt = q, out, ckpt
        else:
            q.stop()

    def live(self, rounds: int) -> dict:
        """The closed loop; round trips and the sink check."""
        q, log = self.query, CommitLog(self.ckpt)
        trips, start_batch = [], self.drains[-1]["catchup_batch"]
        first_live_job = -1
        if self.tracer:
            self.tracer.jobs_since_last_call()
            first_live_job = self.tracer.last_job
        t_live = time.time()
        settle = [_settle(q, log)]
        for i in range(rounds):
            written, names = self.gen.chunk(i)
            deadline = time.time() + ROUND_TIMEOUT_S
            while log.committed_batch(names) is None:
                if time.time() > deadline or q.exception() is not None:
                    raise RuntimeError(f"round {i}: chunk not committed: {q.exception()}")
                time.sleep(COMMIT_POLL_S)
            trips.append(time.time() - written)
            # the next chunk goes in once the no-data batch that the moved
            # watermark triggers has run, so every round meets an idle query
            settle.append(_settle(q, log))
        live_s = time.time() - t_live
        truth = self.gen.finish()
        seen = self.tracer.jobs_since_last_call() if self.tracer else set()
        progress = [self.record(p) for p in q.recentProgress]
        self.memory.sample()
        q.stop()
        if self.tracer:
            self.tracer.active = False
        dropped = sum(p["dropped"] for p in progress)
        failed, errors = _check_sink(self.out, self.ckpt, truth, dropped)
        return {
            "trips": trips, "live_s": live_s, "truth": truth, "failed": failed, "errors": errors,
            "dropped": dropped, "progress": progress, "catchup_batch": start_batch,
            "first_live_job": first_live_job, "seen_jobs": seen, "settle_s": settle,
        }


def _settle(q, log: CommitLog) -> float:
    """Wait until the query is idle; the seconds waited."""
    t0, quiet = time.time(), 0
    while quiet < 2:
        if time.time() - t0 > ROUND_TIMEOUT_S or q.exception() is not None:
            raise RuntimeError(f"query did not settle: {q.exception()}")
        time.sleep(IDLE_POLL_S)
        busy = q.status["isTriggerActive"] or not log.caught_up()
        quiet = 0 if busy else quiet + 1
    return time.time() - t0


def end_to_end(stream: Stream, live: dict) -> dict[str, float]:
    """``pass_s``: median untraced timed drain; ``result_p50_s``: median
    scored live round trip."""
    timed = [d["s"] for d in stream.drains[WARM_UP_DRAINS:] if not d["traced"]]
    scored = live["trips"][LIVE_WARM_UP_ROUNDS:]
    return {
        "pass_s": statistics.median(timed),
        "result_p50_s": statistics.median(scored),
        "result_samples": len(scored),
    }


def per_layer(stream: Stream, live: dict, cores: int) -> tuple[dict[str, float], dict]:
    """Streaming, sink, execution and planning figures of the traced query
    (its catch-up drain and the live loop), and the tracing overhead; and
    the live loop's jobs: all of them, and those of the query's run id."""
    from tracing import LISTING, streaming_metrics

    tracer = stream.tracer
    run_id = stream.drains[-1]["run_id"]
    recs = tracer.listener.records(run_id)
    cut = live["catchup_batch"]
    catchup = [p for p in recs if p["batch_id"] <= cut]
    live_recs = [p for p in recs if p["batch_id"] > cut]
    out = streaming_metrics(catchup, live_recs)
    st = tracer.sc.statusTracker()
    jobs = set(st.getJobIdsForGroup(run_id))
    live_jobs = {j for j in jobs if j > live["first_live_job"]}
    seen = live["seen_jobs"]
    jobs_check = {
        "all": len(seen),
        "attributed": len(live_jobs & seen),
        "unattributed": sorted(seen - live_jobs),
        "outside_pass": sorted(live_jobs - seen),
    }
    out["streaming.listing_jobs"] = sum(
        d.startswith(LISTING) for d in tracer.job_descriptions(live_jobs)
    )
    out["planning.plan_s"] = sum(p["durations"].get("queryPlanning", 0) for p in recs) / 1e3
    stages = tracer.stage_totals(jobs)
    exec_s = stream.drains[-1]["s"] + live["live_s"]
    out["execution.exec_s"] = exec_s
    out["execution.jobs"] = len(jobs)
    out.update({f"execution.{k}": v for k, v in stages.items()})
    out["execution.core_busy_ratio"] = stages["executor_run_s"] / (exec_s * cores)
    calls = tracer.sink_calls
    out["sinks.write_calls"] = len(calls)
    out["sinks.write_s"] = sum(calls)
    out["sinks.write_p50_s"] = statistics.median(calls) if calls else 0.0
    out["generator.events"] = sum(live["truth"]["counts"].values())
    out["generator.write_p50_s"] = statistics.median(live["truth"]["write_s"])
    timed = stream.drains[WARM_UP_DRAINS:]
    mean = lambda ds: sum(d["s"] for d in ds) / len(ds)  # noqa: E731
    out["trace.overhead_s"] = mean([d for d in timed if d["traced"]]) - mean(
        [d for d in timed if not d["traced"]]
    )
    return out, jobs_check
