"""stream_ingest: the live NMEA ingest chain
``nmea_source.read_and_decode_stream`` -> ``egress.position_table`` ->
``sinks.append_stream`` over a seeded feed split into files that keep every
multi-part group whole.

Phase 1 (every run) drains a fixed backlog with a fresh query; one unit is
the time from ``start()`` to the commit of the batch holding the last
backlog file. Blocks of the single-process twin of the same ingest (the
reference's per-line decode loop, a pandas position frame and a parquet
write) interleave with the units. Each unit is gated: the sink must hold
exactly the generator's valid positions.

Phase 2 (traced run) is an open loop: one thread drops a file on a fixed
schedule and each file's lag runs from its scheduled drop to the commit of
the micro-batch that contains it, read from the query's checkpoint.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from datetime import datetime
from statistics import median

import aisgen
from harness import (WORK, Tally, log_units, median_of_ok, metric, reference_baseline,
                     start_session, tail_percentile)

BACKLOG_MESSAGES = 24_000
VESSELS = 500
LINES_PER_FILE = 2_000
WARM_FILES = 3
TWIN_BLOCK = 3
LIVE_FILES = 100
LIVE_LINES_PER_FILE = 150
LIVE_RATE_LINES_S = 2_500  # about half the warm drain throughput on 4 cores
PHASE2_TIMEOUT_S = 40


def _write_files(directory: str, chunks: list[list[str]]) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    names = []
    for i, chunk in enumerate(chunks):
        name = f"f{i:05d}.nmea"
        drop(directory, name, chunk)
        names.append(name)
    return names


def drop(directory: str, name: str, lines: list[str]) -> None:
    """Write under a hidden name, then rename: the file source never sees
    a half-written file."""
    tmp = os.path.join(directory, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(directory, name))


def committed(ckpt: str) -> dict[str, float]:
    """{file name: commit time} for every source file whose micro-batch has
    committed, from the checkpoint's file-source log and commit log."""
    src = os.path.join(ckpt, "sources", "0")
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(src) or not os.path.isdir(commits):
        return {}
    commit_t = {
        int(n): os.stat(os.path.join(commits, n)).st_mtime
        for n in os.listdir(commits) if n.isdigit()
    }
    out = {}
    for n in os.listdir(src):
        if not (n.isdigit() or n.endswith(".compact")):
            continue
        with open(os.path.join(src, n)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry["batchId"] in commit_t:
                    out[os.path.basename(entry["path"])] = commit_t[entry["batchId"]]
    return out


def _progress_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


class Run(Tally):
    def __init__(self, seed: int):
        super().__init__()
        self.seed = seed
        self.n = 0

    def setup(self, trace: bool):
        t0 = time.perf_counter()
        lines, self.truth = aisgen.generate(
            self.seed, n_messages=BACKLOG_MESSAGES, n_vessels=VESSELS)
        self.backlog = aisgen.split_groups(lines, LINES_PER_FILE)
        self.backlog_lines = len(lines)
        self.backlog_file = os.path.join(WORK, "backlog.nmea")
        with open(self.backlog_file, "w") as f:
            f.write("\n".join(lines) + "\n")
        if trace:
            live, self.live_truth = aisgen.generate(
                self.seed + 104729, n_messages=LIVE_FILES * LIVE_LINES_PER_FILE,
                n_vessels=VESSELS, start=aisgen.DAY0 + aisgen.DAY_S)
            self.live = aisgen.split_groups(live, LIVE_LINES_PER_FILE)
        self.spark = start_session()
        self.decode_archive = reference_baseline().decode_archive
        # A few files start the workers and compile the plan; a full drain
        # then lets the JIT settle before any unit is timed.
        self.drain(self.backlog[:WARM_FILES], want_rows=None)
        self.drain(self.backlog, want_rows=None)
        self.twin(self.backlog_file)
        return time.perf_counter() - t0

    def start_query(self, base: str):
        from pincspark.egress import position_table
        from pincspark.sources.nmea_source import read_and_decode_stream
        from pincspark.streaming.sinks import append_stream

        stream = position_table(read_and_decode_stream(self.spark, os.path.join(base, "src")))
        return append_stream(stream, os.path.join(base, "sink"), os.path.join(base, "ckpt"))

    def drain(self, chunks, want_rows: int | None):
        """Start a fresh query over ``chunks`` already on disk and wait for
        every file to commit; returns seconds from start() to that commit.
        ``want_rows=None`` is an ungated warm-up."""
        gate = want_rows is not None
        base = os.path.join(WORK, f"stream_{self.n}")
        self.n += 1
        names = set(_write_files(os.path.join(base, "src"), chunks))
        if gate:
            self.attempted += 1
        wall_start = time.time()
        q = self.start_query(base)
        try:
            done = {}
            deadline = time.perf_counter() + 120
            while len(done) < len(names):
                if not q.isActive or time.perf_counter() > deadline:
                    raise RuntimeError(f"query ended or stalled: {q.exception()}")
                time.sleep(0.02)
                done = {k: v for k, v in committed(os.path.join(base, "ckpt")).items()
                        if k in names}
            wall = max(done.values()) - wall_start
            self.last_progress = list(q.recentProgress)
            if gate:
                rows = self.spark.read.parquet(os.path.join(base, "sink")).count()
                self.check(rows == want_rows, f"fact rows {rows} != truth {want_rows}")
        except Exception as e:  # a raised drain is a failed operation
            if gate:
                self.failed += 1
                self.notes.append(f"drain raised {e!r}")
            wall = float("nan")
        finally:
            q.stop()
            shutil.rmtree(base, ignore_errors=True)
        return wall

    def twin(self, path: str) -> int:
        """The reference's ingest of ``path``: per-line decode, a pandas
        position frame and a parquet write; returns the rows written."""
        import pandas as pd

        positions, _ = self.decode_archive(path)
        frame = pd.DataFrame(positions, columns=[
            "ts", "messageType", "mmsi", "longitude", "latitude", "sog", "cog"])
        frame["ts"] = pd.to_datetime(frame["ts"], unit="s")
        frame.to_parquet(os.path.join(WORK, "twin_positions.parquet"), index=False)
        return len(frame)

    def twin_block(self) -> float:
        """Seconds per twin run over TWIN_BLOCK back-to-back gated runs. One
        run is under a second, short enough for a shared machine's noise to
        swing it by a third; a block spans about as long as a drain."""
        t0 = time.perf_counter()
        for _ in range(TWIN_BLOCK):
            rows = self.twin(self.backlog_file)
            self.check(rows == self.truth.positions,
                       f"twin rows {rows} != truth {self.truth.positions}")
        return (time.perf_counter() - t0) / TWIN_BLOCK

    def measure(self, seconds: float, min_units: int = 3):
        """Backlog drains until ``seconds`` have passed, with a twin block
        before the first drain and after each one."""
        walls, twins = [], [self.twin_block()]
        t0 = time.perf_counter()
        while len(walls) < min_units or time.perf_counter() - t0 < seconds:
            walls.append(self.drain(self.backlog, self.truth.positions))
            twins.append(self.twin_block())
        log_units("stream_ingest", walls, twins)
        return walls, twins

    def open_loop(self) -> dict:
        """Phase 2: drop LIVE_FILES files at LIVE_RATE_LINES_S into a running
        query; lag per file from scheduled drop to its batch's commit."""
        base = os.path.join(WORK, "stream_live")
        src = os.path.join(base, "src")
        os.makedirs(src)
        q = self.start_query(base)
        interval = LIVE_LINES_PER_FILE / LIVE_RATE_LINES_S
        due: dict[str, float] = {}
        late: list[float] = []

        def generator():
            t0 = time.time() + 0.5
            for k, chunk in enumerate(self.live):
                name = f"live{k:05d}.nmea"
                due_t = t0 + k * interval
                pause = due_t - time.time()
                if pause > 0:
                    time.sleep(pause)
                drop(src, name, chunk)
                late.append(max(0.0, time.time() - due_t))
                due[name] = due_t

        progress: dict = {}
        gen = threading.Thread(target=generator, name="feed")
        gen.start()
        while gen.is_alive():
            time.sleep(0.2)
            progress.update({(p["runId"], p["batchId"]): p for p in q.recentProgress})
        gen.join()
        schedule_end = time.time()
        backlog_end = len(set(due) - set(committed(os.path.join(base, "ckpt"))))
        deadline = time.perf_counter() + PHASE2_TIMEOUT_S
        done = {}
        while time.perf_counter() < deadline and q.isActive:
            done = committed(os.path.join(base, "ckpt"))
            progress.update({(p["runId"], p["batchId"]): p for p in q.recentProgress})
            if set(due) <= set(done):
                break
            time.sleep(0.05)
        q.stop()
        self.attempted += len(due)
        missing = set(due) - set(done)
        self.failed += len(missing)
        if missing:
            self.notes.append(f"{len(missing)} live files not committed")
        rows = self.spark.read.parquet(os.path.join(base, "sink")).count()
        self.attempted += 1
        self.check(rows == self.live_truth.positions,
                   f"live fact rows {rows} != truth {self.live_truth.positions}")
        # With nothing committed the lag is at least the time waited.
        lags = [done[n] - due[n] for n in due if n in done] or [float(PHASE2_TIMEOUT_S)]
        pct, tail = tail_percentile(lags)
        data = [p for p in progress.values() if p["numInputRows"] > 0]
        last = max(progress.values(), key=_progress_end) if progress else None
        state = (last or {}).get("stateOperators") or [{}]

        def med(key):
            return median(p["durationMs"].get(key, 0) for p in data) / 1000.0 if data else 0.0

        return {
            "stream.lag_p50_s": metric(median(lags), "s"),
            "stream.lag_tail_s": metric(tail, "s"),
            "stream.lag_tail_pct": metric(pct, "percentile"),
            "stream.live_files": metric(len(due), "count"),
            "stream.live_seconds": metric(schedule_end - min(due.values()), "s"),
            "stream.batches": metric(len(data), "count"),
            "stream.empty_batches": metric(len(progress) - len(data), "count"),
            "stream.add_batch_s": metric(med("addBatch"), "s"),
            "stream.query_planning_s": metric(med("queryPlanning"), "s"),
            "stream.wal_commit_s": metric(med("walCommit"), "s"),
            "stream.state_rows": metric(state[0].get("numRowsTotal", 0), "count"),
            "stream.state_bytes": metric(state[0].get("memoryUsedBytes", 0), "bytes"),
            "stream.generator_late_s": metric(max(late), "s"),
            "stream.backlog_files_end": metric(backlog_end, "count"),
        }


def run(seed: int, seconds: float, trace: bool) -> tuple[Run, dict]:
    r = Run(seed)
    setup_s = r.setup(trace)
    if not trace:
        walls, twins = r.measure(seconds)
        return r, {
            "wall_s": metric(median_of_ok(walls), "s"),
            "setup_s": metric(setup_s, "s"),
            "vs_reference_ratio": metric(median_of_ok(walls) / median(twins), "ratio"),
        }
    walls, twins = r.measure(0, min_units=1)
    layers = {
        "stream.drain_s": metric(walls[0], "s"),
        "stream.drain_lines_per_s": metric(r.backlog_lines / walls[0], "1/s"),
        "reference.twin_s": metric(median(twins), "s"),
    }
    drain = [p for p in r.last_progress if p["numInputRows"] > 0]
    if drain:
        layers["stream.drain_add_batch_s"] = metric(drain[0]["durationMs"]["addBatch"] / 1000.0, "s")
    layers.update(r.open_loop())
    return r, layers
