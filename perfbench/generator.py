"""Weather traffic generator for the ``weather_stream`` workload, run as its
own process.

It renders every payload before the run starts, so it never becomes the
bottleneck, and then:

1. writes the backlog (``BACKLOG_EVENTS`` lines in ``BACKLOG_FILES`` files,
   ``backlog-*.json``) into the spool directory and prints
   ``READY <backlog lines> <backlog files> <files per chunk>``;
2. for each ``CHUNK <i>`` read from stdin, writes live chunk ``i`` and
   prints ``WROTE <i> <epoch after the last rename>``. Each file is
   written under a hidden name and renamed, so the file source never sees
   a partial file;
3. on ``END``, writes the truth file and prints ``DONE``.

A live chunk is one cycle of the reference producer's poll loop
(``sources.http_poll``, SURVEY.md section 6, FIXTURES.md A1): one message
per configured location, of which the reference has two
(``REFERENCE_LOCATIONS``), one file per message (``spool_writer``), all
stamped with the cycle's minute; cycles are ``POLL_INTERVAL_S`` of event
time apart. To that cycle each chunk adds ``LATE_PER_CHUNK`` late and
``BAD_PER_CHUNK`` malformed messages, so every round runs the pipeline's
drop and reject paths; ``CHUNK_FILES`` files in all.

The backlog is not the reference's traffic (at two messages a minute,
1 M events are about a year of it): it stands for a fleet of producers whose consumer restarts
from ``earliest``, sized so per-row parse, aggregate and state work
decides the drain. Its shape is chosen, not sourced: ``N_LOCATIONS``
locations (the two reference ones first) with Zipf-skewed popularity
(``ZIPF_S``), so (hour, location) keys repeat and the state holds about
24,000 keys; ``OOO_SHARE`` of events up to ``OOO_MAX_S`` out of order,
inside the 2 h watermark, so arrival order differs from event order
without any drop; ``BAD_SHARE`` of lines malformed, the "occasional
malformed JSON and null fields" FIXTURES.md A1 asks for. A late message
lies 8-12 hours behind the cycle, four or more watermark spans, and must be
dropped; each has its own (hour, location), so partial aggregation never
merges two of them and the dropped-row count equals the late count.
Malformed lines (truncated JSON, null value, non-numeric timestamp) must be
rejected; the ones that parse carry a sentinel location that appears in no
valid event.

The truth file holds, per (hour, lat, lon), the sum over on-time events
rounded to 5 decimals as the pipeline rounds it, the line counts, each
chunk's file names and how long writing each chunk took.

    python3 perfbench/generator.py --seed 1 --spool DIR --truth FILE --chunks 20
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from stream import chunk_file

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z, event time origin
BACKLOG_HOURS = 24
BACKLOG_EVENTS = 1_000_000
BACKLOG_FILES = 8
# the reference's two configured locations (FIXTURES.md A1)
REFERENCE_LOCATIONS = ((52.084516, 5.115539), (41.149940, -8.610250))
N_LOCATIONS = 1000
ZIPF_S = 1.1
OOO_SHARE = 0.02
OOO_MAX_S = 1800
BAD_SHARE = 0.005  # of backlog lines
LATE_MIN_S, LATE_MAX_S = 8 * 3600, 12 * 3600
POLL_INTERVAL_S = 60  # the producer's cycle (http_poll.CALL_INTERVAL_S)
LATE_PER_CHUNK = 1
BAD_PER_CHUNK = 1
CHUNK_FILES = len(REFERENCE_LOCATIONS) + LATE_PER_CHUNK + BAD_PER_CHUNK
SENTINEL = (-89.999999, -179.999999)


def _locations(rng) -> tuple[list[str], list[str], np.ndarray]:
    """The reference locations, then random ones; the first are the most
    popular."""
    n = N_LOCATIONS - len(REFERENCE_LOCATIONS)
    ref_lat, ref_lon = zip(*REFERENCE_LOCATIONS)
    lat = np.concatenate([ref_lat, np.round(rng.uniform(-55.0, 70.0, n), 6)])
    lon = np.concatenate([ref_lon, np.round(rng.uniform(-180.0, 180.0, n), 6)])
    p = 1.0 / np.arange(1, N_LOCATIONS + 1) ** ZIPF_S
    return [f"{x:.6f}" for x in lat], [f"{x:.6f}" for x in lon], p / p.sum()


def _line(ts: int, value: float, lat: str, lon: str) -> str:
    return (
        f'{{"timestamp": {ts}, "total_precipitation": {value:.5f}, '
        f'"location": {{"lat": {lat}, "lon": {lon}}}}}'
    )


def _bad_line(rng, ts: int) -> str:
    lat, lon = SENTINEL
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return _line(ts, 1.0, str(lat), str(lon))[: int(rng.integers(5, 40))]
    if kind == 1:
        return (
            f'{{"timestamp": {ts}, "total_precipitation": null, '
            f'"location": {{"lat": {lat}, "lon": {lon}}}}}'
        )
    return (
        f'{{"timestamp": "t{ts}", "total_precipitation": 1.0, '
        f'"location": {{"lat": {lat}, "lon": {lon}}}}}'
    )


class Traffic:
    """Renders lines and keeps the truth the sink is checked against."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.lat, self.lon, self.p = _locations(self.rng)
        self._lat, self._lon = pa.array(self.lat), pa.array(self.lon)
        self.sums: dict[tuple[int, str, str], float] = {}
        self.counts = {"ontime": 0, "late": 0, "malformed": 0}
        self._late_keys: set[tuple[int, int]] = set()

    def _add(self, ts: np.ndarray, locs: np.ndarray, values: np.ndarray) -> None:
        self.counts["ontime"] += len(ts)
        keys, inv = np.unique(ts // 3600 * N_LOCATIONS + locs, return_inverse=True)
        for key, v in zip(keys.tolist(), np.bincount(inv, weights=values).tolist()):
            hour, j = divmod(key, N_LOCATIONS)
            key = (hour * 3600, self.lat[j], self.lon[j])
            self.sums[key] = self.sums.get(key, 0.0) + v

    def backlog(self, t_lo: float, t_hi: float, n: int) -> pa.StringArray:
        """``n`` backlog lines, each ending in a newline, rendered in
        Arrow's string kernels; the malformed ones are then replaced."""
        rng = self.rng
        ts = np.sort(rng.uniform(t_lo, t_hi, n))
        ooo = rng.random(n) < OOO_SHARE
        ts = np.where(ooo, ts - rng.uniform(0, OOO_MAX_S, n), ts).astype(np.int64)
        locs = rng.choice(N_LOCATIONS, n, p=self.p)
        values = np.round(rng.exponential(0.2, n), 5)
        bad = rng.random(n) < BAD_SHARE
        lines = pc.binary_join_element_wise(
            '{"timestamp": ', pc.cast(pa.array(ts), pa.string()),
            ', "total_precipitation": ', pc.cast(pa.array(values), pa.string()),
            ', "location": {"lat": ', self._lat.take(locs), ', "lon": ', self._lon.take(locs),
            "}}\n", "",
        )
        other = [_bad_line(rng, int(ts[i])) + "\n" for i in np.flatnonzero(bad).tolist()]
        lines = pc.replace_with_mask(lines, pa.array(bad), pa.array(other, pa.string()))
        self.counts["malformed"] += int(bad.sum())
        ok = ~bad
        self._add(ts[ok], locs[ok], values[ok])
        return lines

    def chunk(self, ts: int) -> list[str]:
        """One poll cycle at event time ``ts``, with its late and malformed
        messages: one line per file."""
        rng = self.rng
        locs = np.arange(len(REFERENCE_LOCATIONS))
        values = np.round(rng.exponential(0.2, len(locs)), 5)
        self._add(np.full(len(locs), ts, np.int64), locs, values)
        lines = [_line(ts, v, self.lat[j], self.lon[j]) for j, v in zip(locs, values)]
        lines += [self._late_line(ts) for _ in range(LATE_PER_CHUNK)]
        lines += [_bad_line(rng, ts) for _ in range(BAD_PER_CHUNK)]
        self.counts["malformed"] += BAD_PER_CHUNK
        return [x + "\n" for x in lines]

    def _late_line(self, now: int) -> str:
        while True:
            ts = now - int(self.rng.integers(LATE_MIN_S, LATE_MAX_S))
            j = int(self.rng.integers(0, N_LOCATIONS))
            if (ts // 3600, j) not in self._late_keys:
                self._late_keys.add((ts // 3600, j))
                break
        self.counts["late"] += 1
        return _line(ts, float(np.round(self.rng.exponential(0.2), 5)), self.lat[j], self.lon[j])

    def truth(self) -> dict:
        return {
            "keys": [[h, float(a), float(o), round(v, 5)] for (h, a, o), v in self.sums.items()],
            "counts": self.counts,
        }


def _write_lines(path: str, lines: pa.StringArray) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    # the lines' character buffer is the file's content
    offsets = np.frombuffer(lines.buffers()[1], np.int32)
    start, end = offsets[lines.offset], offsets[lines.offset + len(lines)]
    with open(tmp, "wb") as f:
        f.write(memoryview(lines.buffers()[2])[start:end])
    os.rename(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--truth", required=True)
    ap.add_argument("--chunks", type=int, required=True)
    a = ap.parse_args()

    traffic = Traffic(a.seed)
    span = BACKLOG_HOURS * 3600
    # the backlog is rendered and written a file at a time, which keeps
    # the generator's memory small
    per = BACKLOG_EVENTS // BACKLOG_FILES
    for k in range(BACKLOG_FILES):
        lo = T0 + span * k / BACKLOG_FILES
        lines = traffic.backlog(lo, lo + span / BACKLOG_FILES, per)
        _write_lines(os.path.join(a.spool, f"backlog-{k:03d}.json"), lines)
    chunks = [traffic.chunk(T0 + span + (i + 1) * POLL_INTERVAL_S) for i in range(a.chunks)]
    print(f"READY {per * BACKLOG_FILES} {BACKLOG_FILES} {CHUNK_FILES}", flush=True)

    files, write_s = [], []
    for cmd in sys.stdin:
        word = cmd.split()
        if word == ["END"]:
            break
        i = int(word[1])
        names = [chunk_file(i, k) for k in range(CHUNK_FILES)]
        t0 = time.time()
        for name, line in zip(names, chunks[i]):
            with open(os.path.join(a.spool, "." + name), "w", encoding="utf-8") as f:
                f.write(line)
        for name in names:
            os.rename(os.path.join(a.spool, "." + name), os.path.join(a.spool, name))
        t1 = time.time()
        write_s.append(t1 - t0)
        files.append(names)
        print(f"WROTE {i} {t1!r}", flush=True)
    out = traffic.truth()
    out.update(chunks=files, write_s=write_s)
    tmp = a.truth + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(out, f)
    os.rename(tmp, a.truth)
    print("DONE", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
