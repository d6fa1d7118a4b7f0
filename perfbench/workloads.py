"""The three benchmark workloads.

Each workload generates its inputs and oracle expectations from the
seed (``prepare``, before Spark starts), warms the session with one tiny
call of its own entry point (``warm``, part of ``setup_s``: ``run_flat``,
``run_pipeline`` or one ``run_streaming`` trigger), then
runs operations for the requested time (``measure``) and checks every
operation's outputs against the oracle.  The program is driven only
through its public functions; ``mods`` holds the modules so a traced
run can wrap their attributes.

* ``batch_flat``   — closed loop, one caller: ``plans.job.run_flat``
  calls back to back on one 100k-turn table.  Operation = one call.
* ``batch_resume`` — closed loop, one caller: ``plans.job.run_pipeline``
  over 3 conv-hash buckets, killed by ``fail_after=1``, then resumed to
  the final snapshot; at least two such cycles.  Operation = one bucket
  wave.
* ``stream_incr``  — open loop: increments land on a fixed schedule
  from a separate thread; whenever files are pending the caller runs
  ``streaming.pipeline.run_streaming(trigger_once=True)`` and waits for
  both queries.  Operation = one increment.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import expect, gen

# batch_flat: at 100k turns the data-proportional part (parse, rank
# shuffle, encoded writes) is over half of a call; the rest is the fixed
# per-job cost (≈ 2.3 s on 4 cores)
FLAT_TURNS, TURNS_PER_CONV, DUP_FRAC = 100_000, 100, 0.02
# the first full-size call after the tiny warm-up still compiles: it is
# checked but not timed, and the median is taken over the others
FLAT_MIN_OPS = 3
# batch_resume; the tiny run_pipeline of the warm-up runs every
# per-bucket path once, so no timed cycle is the first to run them
RESUME_TURNS, RESUME_CONVS, RESUME_BUCKETS, FAIL_AFTER = 6_000, 150, 3, 1
RESUME_MIN_CYCLES, WARM_BUCKETS = 2, 1
# stream_incr: 200 turns every 1 s (200 turns/s offered); at most
# maxFilesPerTrigger=8 files pend per trigger, so a trigger is one batch
INCR_TURNS, INCR_EVERY_S, STREAM_CONVS = 200, 1.0, 200
LATE_FRAC, STREAM_DUP_FRAC = 0.03, 0.02
# an increment not committed this long after the schedule ends counts
# as failed
DRAIN_LIMIT_S = 60.0
WARM_TURNS = 400


@dataclass
class Mods:
    session: object
    job: object
    ckpt: object
    streaming: object


def load_mods() -> Mods:
    from skewer_spark import session
    from skewer_spark.plans import checkpoint, job
    from skewer_spark.streaming import pipeline

    return Mods(session, job, checkpoint, pipeline)


@dataclass
class Op:
    latency_s: float
    ok: bool
    rows: int
    timed: bool = True


@dataclass
class Measured:
    ops: list[Op] = field(default_factory=list)
    turns_per_s: list[float] = field(default_factory=list)
    store_bytes: int = 0
    store_turns: int = 1
    gen_late_s: float = 0.0     # stream: how late the lander ran, at most


def tail(values: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least ten samples beyond it
    (never below the median), and that percentile."""
    n = len(values)
    pct = max(50, math.floor(100 * (1 - 10 / n))) if n else 50
    if pct == 50:
        return statistics.median(values), 50
    return float(np.percentile(values, pct)), pct


def _report_mismatch(what: str, bad: list[str]) -> None:
    print(f"# MISMATCH {what}: " + "; ".join(bad), file=sys.stderr)


def _write_warm(work: str, seed: int, n_files: int) -> str:
    path = os.path.join(work, "warm_in")
    warm = gen.make_turns(np.random.default_rng([seed, 9]), WARM_TURNS, 8)
    gen.write_files(warm, path, n_files)
    return path


class BatchFlat:
    name = "batch_flat"
    latency = False        # no per-increment latency in a batch

    def __init__(self, work: str, seed: int, mods: Mods,
                 turns: int = FLAT_TURNS):
        self.work, self.seed, self.m = work, seed, mods
        self.turns = turns
        self.inp = os.path.join(work, "flat_in")

    def prepare(self, seconds: int) -> None:
        rng = np.random.default_rng([self.seed, 1])
        turns = gen.make_turns(rng, self.turns, self.turns // TURNS_PER_CONV)
        table = gen.with_duplicates(rng, turns, DUP_FRAC)
        gen.write_files(table, self.inp, 8, rng)
        self.rows = table.num_rows
        self.want = expect.expected(turns)
        self.warm_in = _write_warm(self.work, self.seed, 2)

    def warm(self, spark) -> None:
        self.m.job.run_flat(spark, self.warm_in,
                            os.path.join(self.work, "warm_out"))

    def run_once(self, spark, out: str) -> Op:
        t0 = time.perf_counter()
        self.m.job.run_flat(spark, self.inp, out)
        dt = time.perf_counter() - t0
        bad = expect.diff(self.want, expect.read_flat(out))
        if bad:
            _report_mismatch(f"{self.name} {out}", bad)
        return Op(dt, not bad, self.rows)

    def measure(self, spark, seconds: int) -> Measured:
        res = Measured(store_turns=self.rows)
        t_end = time.perf_counter() + seconds
        k = 0
        while len(res.ops) < FLAT_MIN_OPS or time.perf_counter() < t_end:
            out = os.path.join(self.work, f"flat_out{k}")
            op = _guarded(self.run_once, spark, out, self.rows)
            op.timed = k > 0
            res.ops.append(op)
            if op.ok and op.timed:
                res.turns_per_s.append(op.rows / op.latency_s)
                if not res.store_bytes:
                    res.store_bytes = store_bytes(out)
            shutil.rmtree(out, ignore_errors=True)
            k += 1
        return res


def store_bytes(out: str) -> int:
    """Bytes of the routed, sink and aggregate outputs."""
    return expect.dir_bytes(*[os.path.join(out, d) for d in
                              ("routed", "sinks", "agg", "agg_final")])


def _guarded(fn, spark, out: str, rows: int) -> Op:
    """An operation that raises counts as failed; the run goes on."""
    t0 = time.perf_counter()
    try:
        return fn(spark, out)
    except Exception:
        traceback.print_exc()
        return Op(time.perf_counter() - t0, False, rows)


class BatchResume:
    name = "batch_resume"
    latency = False

    def __init__(self, work: str, seed: int, mods: Mods,
                 turns: int = RESUME_TURNS, buckets: int = RESUME_BUCKETS,
                 fail_after: int = FAIL_AFTER):
        self.work, self.seed, self.m = work, seed, mods
        self.turns, self.buckets, self.fail_after = turns, buckets, fail_after
        self.inp = os.path.join(work, "resume_in")

    def prepare(self, seconds: int) -> None:
        rng = np.random.default_rng([self.seed, 2])
        turns = gen.make_turns(rng, self.turns,
                               self.turns * RESUME_CONVS // RESUME_TURNS)
        table = gen.with_duplicates(rng, turns, DUP_FRAC)
        gen.write_files(table, self.inp, 8, rng)
        self.rows = table.num_rows
        self.unique = turns.num_rows
        self.want = expect.expected(turns)
        self.warm_in = _write_warm(self.work, self.seed, 2)

    def warm(self, spark) -> None:
        self.m.job.run_pipeline(spark, self.warm_in,
                                os.path.join(self.work, "warm_out"),
                                n_buckets=WARM_BUCKETS)

    def run_once(self, spark, out: str) -> Op:
        job = self.m.job
        t0 = time.perf_counter()
        try:
            job.run_pipeline(spark, self.inp, out, n_buckets=self.buckets,
                             fail_after=self.fail_after)
        except RuntimeError as e:
            # the injected kill is expected; anything else is a failure
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("fail_after did not stop the first attempt")
        res = job.run_pipeline(spark, self.inp, out, n_buckets=self.buckets)
        dt = time.perf_counter() - t0
        bad = expect.diff(self.want, expect.read_resumable(out))
        if res["rows"] != self.unique:
            bad.append(f"rows: want {self.unique} got {res['rows']}")
        if bad:
            _report_mismatch(f"{self.name} {out}", bad)
        return Op(dt, not bad, self.rows)

    def measure(self, spark, seconds: int) -> Measured:
        res = Measured(store_turns=self.rows)
        t_end = time.perf_counter() + seconds
        k = 0
        while (len(res.ops) < RESUME_MIN_CYCLES * self.buckets
               or time.perf_counter() < t_end):
            out = os.path.join(self.work, f"resume_out{k}")
            op = _guarded(self.run_once, spark, out, self.rows)
            # one operation per bucket wave; a wrong result fails them all
            res.ops += [Op(op.latency_s, op.ok, op.rows)] * self.buckets
            if op.ok:
                res.turns_per_s.append(op.rows / op.latency_s)
                if not res.store_bytes:
                    res.store_bytes = store_bytes(out)
            shutil.rmtree(out, ignore_errors=True)
            k += 1
        return res


class Lander(threading.Thread):
    """Lands increments at their scheduled times, independent of the
    system: write beside the input directory, then rename into it."""

    def __init__(self, incs: list[gen.Increment], in_dir: str, stage: str):
        super().__init__(daemon=True)
        self.incs, self.in_dir, self.stage = incs, in_dir, stage
        self.landed = 0              # increments fully in in_dir
        self.late_s: list[float] = []
        self.t0 = 0.0

    def run(self) -> None:
        for k, inc in enumerate(self.incs):
            due = self.t0 + inc.due_s
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(self.stage, f"incr-{k:05d}.parquet")
            pq.write_table(inc.table, tmp)
            os.rename(tmp, os.path.join(self.in_dir,
                                        f"incr-{k:05d}.parquet"))
            self.late_s.append(time.perf_counter() - due)
            self.landed = k + 1


class StreamIncr:
    name = "stream_incr"
    latency = True
    SENTINEL_CONV = "wm-sentinel"

    def __init__(self, work: str, seed: int, mods: Mods):
        self.work, self.seed, self.m = work, seed, mods
        self.in_dir = os.path.join(work, "stream_in")
        self.out = os.path.join(work, "stream_out")
        self.progress: list[list[dict]] | None = None  # set by the tracer

    def prepare(self, seconds: int) -> None:
        rng = np.random.default_rng([self.seed, 3])
        n_incr = max(2, math.ceil(seconds / INCR_EVERY_S))
        self.incs, turns = gen.stream_increments(
            rng, n_incr, INCR_TURNS, STREAM_CONVS, INCR_EVERY_S,
            LATE_FRAC, STREAM_DUP_FRAC)
        self.rows = sum(i.table.num_rows for i in self.incs)
        # the last increment carries the far-future DROPPED sentinel, so
        # the trigger that commits it also emits every open window
        last = self.incs[-1]
        last.table = pa.concat_tables(
            [last.table, gen.sentinel(gen.BASE_EPOCH + turns.num_rows)])
        self.want = expect.expected(turns)
        self.warm_in = _write_warm(self.work, self.seed, 1)

    def trigger(self, spark, in_dir: str, out: str) -> None:
        sink_q, agg_q = self.m.streaming.run_streaming(
            spark, in_dir, out, trigger_once=True)
        for q in (sink_q, agg_q):
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
        if self.progress is not None:
            self.progress.append([p for q in (sink_q, agg_q)
                                  for p in q.recentProgress])

    def warm(self, spark) -> None:
        self.trigger(spark, self.warm_in, os.path.join(self.work, "warm_out"))

    def measure(self, spark, seconds: int) -> Measured:
        stage = os.path.join(self.work, "stream_stage")
        os.makedirs(self.in_dir)
        os.makedirs(stage)
        lander = Lander(self.incs, self.in_dir, stage)
        done_at: list[float | None] = [None] * len(self.incs)
        busy = 0.0
        res = Measured(store_turns=self.rows)
        lander.t0 = t0 = time.perf_counter()
        lander.start()
        limit = t0 + self.incs[-1].due_s + DRAIN_LIMIT_S
        committed = 0
        error = False
        while committed < len(self.incs) and time.perf_counter() < limit:
            landed = lander.landed
            if landed == committed:
                time.sleep(0.01)
                continue
            ts = time.perf_counter()
            try:
                self.trigger(spark, self.in_dir, self.out)
            except Exception:
                traceback.print_exc()
                error = True
                break
            te = time.perf_counter()
            busy += te - ts
            for k in range(committed, landed):
                done_at[k] = te
            committed = landed
        lander.join(timeout=DRAIN_LIMIT_S)
        res.gen_late_s = max(lander.late_s or [0.0])

        ok = not error
        if ok:
            try:
                bad = expect.diff(self.want, expect.read_stream(
                    self.out, self.SENTINEL_CONV))
            except (OSError, ValueError, KeyError) as e:
                bad = [f"stream outputs unreadable: {e!r}"]
            if bad:
                _report_mismatch(self.name, bad)
                ok = False
        for k, inc in enumerate(self.incs):
            done = done_at[k]
            res.ops.append(Op(
                (done if done is not None else limit) - (t0 + inc.due_s),
                ok and done is not None, inc.table.num_rows))
        if ok:
            res.turns_per_s.append(self.rows / busy)
            res.store_bytes = expect.dir_bytes(
                os.path.join(self.out, "sinks"),
                os.path.join(self.out, "agg"))
        return res


WORKLOADS = {w.name: w for w in (BatchFlat, BatchResume, StreamIncr)}


def end_to_end(m: Measured, setup_s: float, peak_rss: int,
               latency: bool) -> tuple[dict, int, int]:
    """The end-to-end metrics of one run, the tail percentile and the
    number of latency samples.  The increment latencies exist only for
    the stream: a batch operation has no landing time."""
    lat = [o.latency_s for o in m.ops if o.ok and o.timed]
    metrics = {"turns_per_s": (statistics.median(m.turns_per_s), "turns/s")}
    p_tail, pct = tail(lat)
    if latency:
        metrics["incr_latency_p50_s"] = (statistics.median(lat), "s")
        metrics["incr_latency_tail_s"] = (p_tail, "s")
    metrics.update({
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "store_bytes_per_turn": (m.store_bytes / m.store_turns, "B/turn"),
    })
    return metrics, pct, len(lat)
