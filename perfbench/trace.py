"""The traced run: spans around eager public calls, prefix timing of the
lazy operator layers, and engine counters from Spark's event log.

A traced run reports every per-layer metric of BENCHMARK.json.  It sets
up as the named workload's metric run does (``build_session`` and that
workload's tiny warm-up), then measures three parts, the named
workload's first and at that workload's own size, the other two on
smaller inputs (``SIDE_*``):

* flat: ``run_flat`` untraced and traced (the difference is the tracing
  overhead), the two aggregate operators over the written sinks, and
  successive plan prefixes (scan → parse → dedup_and_rank → enrich →
  route → sink labels + encoders), each materialised to a no-op sink,
  self time = difference of neighbours;
* resume: one ``fail_after`` kill + resume cycle;
* stream: a landing schedule with ``StreamingQueryProgress``.

Then it reads the event log of all three (shuffle, spill and GC totals,
the rank stage, the parse UDF's output rows, Spark jobs per bucket
wave) and runs the flat input at ``local[1]`` in the same JVM, the
single-thread baseline for parallel efficiency.

Spans come from wrappers installed on the module attributes in this
process only; they stay in memory and are written to
``.perfbench/traces/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
import uuid
from collections import Counter
from dataclasses import asdict, dataclass

from perfbench import expect, harness
from perfbench.layers import MOVES
from perfbench.workloads import BatchFlat, BatchResume, StreamIncr

# sizes of the parts a traced run measures for the workloads it is not
# named after: every per-layer metric gets a value in every traced run,
# the named workload's at that workload's own size
SIDE_FLAT = {"turns": 20_000}
SIDE_RESUME = {"turns": 1_500, "buckets": 2, "fail_after": 1}
SIDE_STREAM_SECONDS = 2


@dataclass
class Span:
    run_id: str
    span_id: int
    parent: int | None
    name: str
    start: float        # perf_counter seconds
    end: float
    wall_ms: float      # time.time() at start, to match event-log times

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = True
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(self.run_id, len(self.spans), stack[-1] if stack else None,
                  name, time.perf_counter(), 0.0, time.time() * 1000)
        self.spans.append(sp)
        stack.append(sp.span_id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; the return
        value is kept on the span for callers that count rows."""
        fn = getattr(owner, attr)
        label = name or attr

        @functools.wraps(fn)
        def spanned(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(label) as sp:
                sp.result = fn(*a, **kw)
                return sp.result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def named(self, name: str, since: int = 0) -> list[Span]:
        """Finished spans called ``name``, from span index ``since``."""
        return [s for s in self.spans[since:] if s.name == name and s.end]

    def durs(self, name: str, since: int = 0) -> list[float]:
        return [s.dur for s in self.named(name, since)]

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the children's intervals."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == sp.span_id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def dump(self, path: str, per_layer: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "run_id": self.run_id,
                "spans": [{**asdict(s), "self_s": self.self_time(s)}
                          for s in self.spans],
                "per_layer": per_layer,
            }, f, indent=1)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class EventLog:
    """Jobs, stages, tasks and SQL plan metrics from one event log."""

    def __init__(self, log_dir: str):
        self.job_submit: dict[int, float] = {}
        self.job_exec: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.exec_udf_accs: dict[int, set[int]] = {}
        for path in self._files(log_dir):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    @staticmethod
    def _files(log_dir: str) -> list[str]:
        """The one application's log: a file, or a rolling-log directory
        of ``events_<n>_...`` parts."""
        (app,) = os.listdir(log_dir)
        path = os.path.join(log_dir, app)
        if not os.path.isdir(path):
            return [path]
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        return [os.path.join(path, f) for f in
                sorted(parts, key=lambda f: int(f.split("_")[1]))]

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            self.job_submit[job] = ev["Submission Time"]
            ex = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if ex is not None:
                self.job_exec[job] = int(ex)
            for st in ev["Stage IDs"]:
                self.stage_job.setdefault(st, job)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "shuffle_read": rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0),
                "accs": {a["ID"]: a.get("Update") for a in
                         info.get("Accumulables", [])},
            })
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            accs = self.exec_udf_accs.setdefault(ev["executionId"], set())
            todo = [ev["sparkPlanInfo"]]
            while todo:
                node = todo.pop()
                todo += node.get("children", [])
                if node["nodeName"] == "ArrowEvalPython":
                    accs |= {m["accumulatorId"] for m in node["metrics"]
                             if m["name"] == "number of output rows"}

    def jobs_in(self, spans: list[Span]) -> set[int]:
        wins = [(s.wall_ms, s.wall_ms + s.dur * 1000) for s in spans]
        return {j for j, t in self.job_submit.items()
                if any(a <= t <= b for a, b in wins)}

    def tasks_of(self, jobs: set[int]) -> list[dict]:
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def udf_rows(self, jobs: set[int]) -> int:
        accs = set().union(*[self.exec_udf_accs.get(self.job_exec.get(j), set())
                             for j in jobs])
        return sum(int(t["accs"][a]) for t in self.tasks_of(jobs)
                   for a in accs if t["accs"].get(a) is not None)

    def stage_skew(self, jobs: set[int]) -> float:
        """max ÷ median task time of the busiest shuffle-reading stage."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks_of(jobs):
            if t["shuffle_read"] > 0:
                by_stage.setdefault(t["stage"], []).append(t["dur_ms"])
        if not by_stage:
            return 0.0
        durs = max(by_stage.values(), key=sum)
        return max(durs) / max(statistics.median(durs), 1.0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefixes(spark, tr: Tracer, inp: str) -> dict[str, float]:
    """Materialise successive prefixes of the run_flat plan; returns the
    duration of each prefix."""
    from skewer_spark.operators.enrich import dedup_and_rank, enrich
    from skewer_spark.operators.parse import parse_transcripts
    from skewer_spark.operators.route import route, with_sink_labels
    from skewer_spark.sinks.encoders import encoded_by_sink

    steps = [
        ("scan", lambda df: df),
        ("parse", lambda df: parse_transcripts(df).drop("text")),
        ("rank", dedup_and_rank),
        ("enrich", enrich),
        ("route", route),
        ("encode", lambda df: with_sink_labels(df, include_dropped=True)
         .withColumn("encoded", encoded_by_sink())),
    ]
    out: dict[str, float] = {}
    df = spark.read.parquet(inp)
    for name, step in steps:
        df = step(df)
        with tr.span(f"prefix:{name}") as sp:
            _noop(df)
        out[name] = sp.dur
    return out


def _aggregates(spark, tr: Tracer, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from skewer_spark.operators.aggregate import (
        metric_grouping_sets, windowed_counts_from_labeled)
    from skewer_spark.operators.route import CANONICAL_SINKS, DROPPED_SINK

    path = os.path.join(out_dir, "sinks")
    sinks = spark.read.option("basePath", path).parquet(path)
    with tr.span("aggregate"):
        metric_grouping_sets(
            sinks.filter(F.col("sink").isin(*CANONICAL_SINKS))).toPandas()
        _noop(windowed_counts_from_labeled(
            sinks.filter(F.col("sink") != DROPPED_SINK)))


def _count_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def _stream_progress(triggers: list[list[dict]]) -> dict[str, float]:
    """Medians over data-carrying micro-batches of both queries; state
    size is the largest, over triggers, of the two queries' state at the
    end of the trigger."""
    data = [p for trig in triggers for p in trig if p.get("numInputRows")]
    dur = {k: _median([p["durationMs"].get(k, 0) for p in data])
           for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset")}
    per_query = [max(Counter(p["id"] for p in trig).values())
                 for trig in triggers if trig]
    rows, mem = [0], [0]
    for trig in triggers:
        lasts = {p["id"]: p for p in trig}.values()
        ops = [op for p in lasts for op in p.get("stateOperators", [])]
        rows.append(sum(op.get("numRowsTotal", 0) for op in ops))
        mem.append(sum(op.get("memoryUsedBytes", 0) for op in ops))
    return {
        "streaming.pipeline.batches_per_trigger": _median(per_query),
        "streaming.pipeline.add_batch_ms": dur["addBatch"],
        "streaming.pipeline.query_planning_ms": dur["queryPlanning"],
        "streaming.pipeline.wal_commit_ms": dur["walCommit"],
        "streaming.pipeline.latest_offset_ms": dur["latestOffset"],
        "streaming.pipeline.state_rows": max(rows),
        "streaming.pipeline.state_mem_bytes": max(mem),
    }


def _flat_part(spark, tr: Tracer, flat: BatchFlat, m: dict,
               ok: list[bool]) -> tuple[float, list[Span]]:
    """run_flat untraced vs traced, the aggregates over its sinks and the
    operator prefixes; returns the untraced turns/s and the traced
    run_flat spans."""
    # one untimed call to finish compiling, then untraced, traced,
    # traced, untraced: a linear warm-up drift cancels out
    tr.enabled = False
    ok.append(flat.run_once(spark, os.path.join(flat.work, "trace_warm")).ok)
    mark = len(tr.spans)
    tps: dict[bool, list[float]] = {False: [], True: []}
    outs = []
    for k, traced in enumerate((False, True, True, False)):
        tr.enabled = traced
        outs.append(os.path.join(flat.work, f"trace_out{k}"))
        op = flat.run_once(spark, outs[-1])
        ok.append(op.ok)
        tps[traced].append(op.rows / op.latency_s)
    tr.enabled = True
    flat_spans = tr.named("run_flat", mark)
    _aggregates(spark, tr, outs[1])
    m["operators.aggregate.self_s"] = tr.durs("aggregate")[0]
    m["plans.job.write_outputs_s"] = _median(tr.durs("write_outputs", mark))
    m["plans.job.routed_bytes"] = expect.dir_bytes(
        os.path.join(outs[1], "routed"))
    m["plans.job.sink_bytes"] = expect.dir_bytes(
        os.path.join(outs[1], "sinks"))
    untraced = _median(tps[False])
    m["trace.turns_per_s_delta"] = _median(tps[True]) - untraced
    # the prefixes run after the calls above, so nothing in them compiles
    pre = _prefixes(spark, tr, flat.inp)
    order = list(pre)
    d = {b: pre[b] - pre[a] for a, b in zip(order, order[1:])}
    m["operators.parse.self_s"] = d["parse"]
    m["operators.enrich.rank_self_s"] = d["rank"]
    m["operators.enrich.enrich_self_s"] = d["enrich"]
    m["operators.route.self_s"] = d["route"]
    m["sinks.encoders.self_s"] = d["encode"]
    return untraced, flat_spans


def _resume_part(spark, tr: Tracer, resume: BatchResume, m: dict,
                 ok: list[bool]) -> None:
    """One fail_after kill + resume cycle."""
    mark = len(tr.spans)
    out = os.path.join(resume.work, "trace_out")
    ok.append(resume.run_once(spark, out).ok)
    waves = tr.named("process_bucket", mark)
    commits = tr.named("commit_bucket", mark)
    m["plans.job.stage_input_s"] = _median(tr.durs("stage_input", mark))
    m["plans.job.bucket_wave_p50_s"] = _median(
        [c.end - w.start for w, c in zip(waves, commits)])
    m["plans.job.files_written"] = _count_files(out)
    m["plans.job.finalize_s"] = _median(tr.durs("finalize_aggregates", mark))
    m["plans.checkpoint.commit_bucket_p50_s"] = _median(
        [s.dur for s in commits])
    m["plans.checkpoint.committed_buckets_s"] = _median(
        tr.durs("committed_buckets", mark))
    m["plans.checkpoint.commit_snapshot_s"] = _median(
        tr.durs("commit_snapshot", mark))
    m["plans.checkpoint.redo_ratio"] = (
        sum(w.result[0] for w in waves) / resume.unique)


def _stream_part(spark, tr: Tracer, stream: StreamIncr, seconds: int,
                 m: dict, ok: list[bool]) -> None:
    """A landing schedule of ``seconds``, with query progress."""
    mark = len(tr.spans)
    stream.progress = []
    sm = stream.measure(spark, seconds)
    ok += [o.ok for o in sm.ops]
    m["streaming.pipeline.trigger_p50_s"] = _median(
        tr.durs("run_streaming+await", mark))
    m.update(_stream_progress(stream.progress))
    m["streaming.pipeline.gen_late_s"] = sm.gen_late_s


def _event_log(tr: Tracer, log_dir: str, flat: BatchFlat,
               flat_spans: list[Span], m: dict) -> None:
    ev = EventLog(log_dir)
    m["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in ev.tasks)
    m["spark.spill_bytes"] = sum(t["spill"] for t in ev.tasks)
    m["spark.gc_s"] = sum(t["gc_ms"] for t in ev.tasks) / 1000
    rank_jobs = ev.jobs_in(tr.named("prefix:rank")[-1:])
    m["operators.enrich.rank_shuffle_bytes"] = sum(
        t["shuffle_write"] for t in ev.tasks_of(rank_jobs))
    m["operators.enrich.rank_task_skew"] = ev.stage_skew(rank_jobs)
    m["operators.parse.udf_rows_per_input_row"] = (
        ev.udf_rows(ev.jobs_in(flat_spans)) / (flat.rows * len(flat_spans)))
    waves = tr.named("process_bucket") + tr.named("commit_bucket")
    m["plans.job.spark_jobs_per_bucket"] = (
        len(ev.jobs_in(waves)) / max(len(tr.named("process_bucket")), 1))


def per_layer_units(root: str) -> dict[str, str]:
    """Per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}


def run(workload: str, seed: int, seconds: int, root: str, work: str, mods,
        cores: int, emit) -> int:
    run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
    tr = Tracer(run_id)
    flat = BatchFlat(os.path.join(work, "flat"), seed, mods,
                     **({} if workload == BatchFlat.name else SIDE_FLAT))
    resume = BatchResume(os.path.join(work, "resume"), seed, mods,
                         **({} if workload == BatchResume.name
                            else SIDE_RESUME))
    stream = StreamIncr(os.path.join(work, "stream"), seed, mods)
    stream_s = seconds if workload == StreamIncr.name else SIDE_STREAM_SECONDS
    flat.prepare(seconds)
    resume.prepare(seconds)
    stream.prepare(stream_s)
    ok: list[bool] = []
    m: dict[str, float] = {}

    job, ckpt = mods.job, mods.ckpt
    for owner, attr in [(mods.session, "build_session"),
                        (job, "run_flat"), (job, "run_pipeline"),
                        (job, "stage_input"), (job, "process_bucket"),
                        (job, "write_outputs"), (job, "finalize_aggregates"),
                        (ckpt, "commit_bucket"), (ckpt, "committed_buckets"),
                        (ckpt, "commit_snapshot")]:
        tr.wrap(owner, attr)
    tr.wrap(stream, "trigger", "run_streaming+await")
    parts = {
        BatchFlat.name: lambda: _flat_part(spark, tr, flat, m, ok),
        BatchResume.name: lambda: _resume_part(spark, tr, resume, m, ok),
        StreamIncr.name: lambda: _stream_part(spark, tr, stream, stream_s,
                                              m, ok),
    }
    spark = None
    try:
        # set-up as in the named workload's metric run, then its own part
        # first, right after its own warm-up, as in that run
        with tr.span("setup"):
            spark = harness.build(mods.session, work, cores, event_log=True)
            with tr.span("warm"):
                {w.name: w for w in (flat, resume, stream)}[workload].warm(
                    spark)
        m["session.build_s"] = tr.durs("build_session")[0]
        m["session.warm_s"] = tr.durs("warm")[0]
        res = {name: parts[name]()
               for name in [workload] + [n for n in parts if n != workload]}
        untraced, flat_spans = res[BatchFlat.name]

        # the event log is complete once the context stops
        spark.stop()
        _event_log(tr, os.path.join(work, "eventlog"), flat, flat_spans, m)

        # single-thread baseline in the same JVM, untraced.  The pandas
        # UDF keeps the Java function it built for the first context, so
        # this second context logs accumulator-update errors for it; they
        # do not touch the results, which are checked against the oracle.
        tr.unwrap_all()
        spark = harness.build(mods.session, work, 1)
        flat.warm(spark)
        op = flat.run_once(spark, os.path.join(flat.work, "one_core_out"))
        ok.append(op.ok)
        one = op.rows / op.latency_s
        m["scaling.turns_per_s_1core"] = one
        m["scaling.parallel_efficiency"] = untraced / (cores * one)
    finally:
        tr.unwrap_all()
        if spark is not None:
            harness.stop_jvm(spark)
    m["calib.alu_burn_s"] = harness.alu_burn_s()
    m["calib.mem_burn_s"] = harness.mem_burn_s()

    per_layer = {k: (float(m[k]), unit)
                 for k, unit in per_layer_units(root).items()}
    trace_path = os.path.join(root, ".perfbench", "traces", f"{run_id}.json")
    tr.dump(trace_path, {k: v for k, (v, _) in per_layer.items()})
    print(f"# traced run {run_id}: {len(tr.spans)} spans -> {trace_path}")
    print(f"# flat part {flat.turns} turns, resume part {resume.turns} turns "
          f"in {resume.buckets} buckets, stream part {stream_s} s")
    for k in per_layer:
        print(f"# {k:<44} should move {MOVES.get(k, '?')}")
    return emit(per_layer, len(ok), ok.count(False))
