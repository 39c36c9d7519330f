"""The ``vote_stream`` workload: a live open loop, then a backlog drain.

One streaming query runs the project's tally chain, ``read_text_stream ->
parse_vote_events -> dedup_one_vote -> tally_per_candidate``, into
``sinks.write_parquet_batches(idempotent=True)`` on the default trigger.

0. Prime: one file of PRIME_EVENTS waits when the query starts; the first
   trigger drains it and pays the query's first-use costs.  Not measured.
1. Live: a single-threaded generator publishes one file every LIVE_TICK_S,
   on schedule, whatever the query is doing.  The first LIVE_WARMUP_S of
   files are a warm-up; the next ``seconds`` of files are measured.
2. Backlog: once every live file is tallied, one file of BACKLOG_EVENTS
   lands, as when a producer catches up.  Its drain time is the execution
   time of the trigger that reads it; a no-data trigger still running when
   it lands is not counted.

The bench reads only the source directory it writes, the query's
``recentProgress`` and the sink's parquet output.  A file is covered by the
first trigger whose cumulative input rows include all of its lines (the
source admits files in modification-time order); that trigger's end is when
the file's votes are visible in the sink.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from votegen import VoteFile, VoteStream

LIVE_RATE = 500  # events per second: far below what one trigger can take in
LIVE_TICK_S = 0.1  # one file per tick
LIVE_WARMUP_S = 6.0  # live files before the measured window (JIT warm-up)
PRIME_EVENTS = 20_000  # the first trigger also warms the parse and state paths at backlog volume
BACKLOG_EVENTS = 40_000  # one ~24 MB file: the source splits it across cores
MAX_FILES_PER_TRIGGER = 100  # bounds a catch-up trigger; far above a live trigger's intake
WAIT_LIMIT_S = 60.0


@dataclass
class PhaseResult:
    latencies: list[float]
    events: int
    seconds: float
    attempted: int
    failed: int
    progress: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _publish(stage: str, src: str, name: str, f: VoteFile) -> None:
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(f.lines) + "\n")
    os.rename(tmp, os.path.join(src, name))  # atomic: the source never sees a partial file


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _start_time(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _end_time(p: dict) -> float:
    return _start_time(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


class _Generator(threading.Thread):
    """Open-loop publisher: file ``i`` is due at ``t0 + i * LIVE_TICK_S``."""

    def __init__(self, files, stage: str, src: str):
        super().__init__(name="vote-loadgen", daemon=True)
        self.files, self.stage, self.src = files, stage, src
        self.t0 = 0.0
        self.late_max = 0.0
        self.stop_at = len(files)
        self.error: Exception | None = None

    def due(self, i: int) -> float:
        return self.t0 + i * LIVE_TICK_S

    def run(self) -> None:
        try:
            for i, f in enumerate(self.files):
                if i >= self.stop_at:
                    return
                wait = self.due(i) - time.time()
                if wait > 0:
                    time.sleep(wait)
                _publish(self.stage, self.src, f"votes-{i:06d}.json", f)
                self.late_max = max(self.late_max, time.time() - self.due(i))
        except Exception as ex:  # re-raised by the caller after join
            self.error = ex


class _Query:
    """The tally query plus a view of its committed triggers."""

    def __init__(self, spark, src: str, out: str, ckpt: str):
        from realtimevotingdataengineer_spark.streaming import pipeline, sinks

        raw = pipeline.read_text_stream(spark, src, max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        tally = pipeline.tally_per_candidate(
            pipeline.dedup_one_vote(pipeline.parse_vote_events(raw))
        )
        self.q = sinks.write_parquet_batches(tally, out, ckpt, idempotent=True)

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.q.recentProgress]

    def wait_rows(self, rows: int, limit: float) -> None:
        """Wait until committed triggers have read ``rows`` input lines, or
        ``limit`` seconds; files still uncovered then count as failed."""
        deadline = time.time() + limit
        while time.time() < deadline:
            if self.q.exception() is not None:
                raise RuntimeError(str(self.q.exception()))
            if sum(p["numInputRows"] or 0 for p in self.progress()) >= rows:
                return
            time.sleep(0.02)


def _covering_ends(progress: list[dict], cum_lines: list[int]) -> list[float | None]:
    """End time of the first trigger that has read each file's last line."""
    ends, done = [], 0
    for p in progress:
        if p.get("numInputRows"):
            done += p["numInputRows"]
            ends.append((_end_time(p), done))
    return [next((t for t, d in ends if d >= c), None) for c in cum_lines]


def _check_tallies(spark, out: str, progress: list[dict], files, cum_lines) -> int:
    """Every committed running total must equal the generator's expected
    total for exactly the files its trigger had read.  Returns mismatches."""
    from collections import defaultdict

    per_batch = defaultdict(dict)
    for r in spark.read.parquet(out).collect():
        per_batch[r["batch_id"]][r["candidate_id"]] = r["total_votes"]
    totals: dict[str, int] = {}
    done = covered = bad = 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        totals.update(per_batch.get(p["batchId"], {}))
        done += p.get("numInputRows") or 0
        while covered < len(cum_lines) and cum_lines[covered] <= done:
            covered += 1
        if covered and done == cum_lines[covered - 1]:
            want = {c: n for c, n in files[covered - 1].cum_expected.items() if n}
            bad += totals != want
    return bad


def run_stream(spark, work: str, seed: int, seconds: float, log) -> dict[str, PhaseResult]:
    base = _fresh(os.path.join(work, "vote_stream"))
    stage, src = _fresh(f"{base}/stage"), _fresh(f"{base}/in")
    gen = VoteStream(seed, LIVE_RATE)
    n_warm = round(LIVE_WARMUP_S / LIVE_TICK_S)
    n_live = round(seconds / LIVE_TICK_S)
    prime = gen.file(PRIME_EVENTS)
    live = [gen.file(round(LIVE_RATE * LIVE_TICK_S)) for _ in range(n_warm + n_live)]
    backlog = gen.file(BACKLOG_EVENTS)
    files = [prime, *live, backlog]
    cum_lines, n = [], 0
    for f in files:
        n += len(f.lines)
        cum_lines.append(n)
    n_prime = 1  # files before the live ones
    _publish(stage, src, "prime.json", prime)

    query = _Query(spark, src, f"{base}/out", f"{base}/ckpt")
    loadgen = _Generator(live, stage, src)
    try:
        query.wait_rows(cum_lines[n_prime - 1], WAIT_LIMIT_S)
        log("prime drained")
        loadgen.t0 = time.time() + LIVE_TICK_S
        loadgen.start()
        loadgen.join(loadgen.due(len(live)) - time.time() + WAIT_LIMIT_S)
        if loadgen.error is not None:
            raise loadgen.error
        query.wait_rows(cum_lines[n_prime + len(live) - 1], WAIT_LIMIT_S)
        log("live files tallied")
        t_backlog = time.time()
        _publish(stage, src, "backlog.json", backlog)
        query.wait_rows(cum_lines[-1], WAIT_LIMIT_S)
        log("backlog drained")
        progress = query.progress()
    finally:
        query.q.stop()
    log("query stopped")

    ends = _covering_ends(progress, cum_lines)
    now = time.time()

    def waits(idx, due):  # a file never covered counts as the whole wait
        return [(ends[i] if ends[i] is not None else now) - due(i) for i in idx]

    measured = range(n_prime + n_warm, n_prime + n_warm + n_live)
    l_failed = sum(ends[i] is None for i in measured)
    if loadgen.late_max > LIVE_TICK_S:  # a stalled generator would hide latency
        l_failed += n_live
    b_progress = [p for p in progress if _start_time(p) >= t_backlog]
    b_busy = sum(_end_time(p) - _start_time(p) for p in b_progress if p["numInputRows"])
    b_seconds = b_busy or now - t_backlog  # an undrained backlog counts as the whole wait
    bad = _check_tallies(spark, f"{base}/out", progress, files, cum_lines)
    window_open = loadgen.due(n_warm)
    return {
        "live": PhaseResult(
            latencies=waits(measured, lambda i: loadgen.due(i - n_prime)),
            events=live[-1].cum_first_votes - live[n_warm - 1].cum_first_votes,
            seconds=n_live * LIVE_TICK_S,
            attempted=n_live + 1,
            failed=l_failed + bad,
            progress=[p for p in progress if window_open <= _start_time(p) < t_backlog],
            extra={"loadgen.late_max_s": loadgen.late_max, "tally_mismatches": bad},
        ),
        "backlog": PhaseResult(
            latencies=[b_seconds],
            events=backlog.cum_first_votes - live[-1].cum_first_votes,
            seconds=b_seconds,
            attempted=1,
            failed=int(ends[-1] is None),
            progress=b_progress,
        ),
    }
