"""Correctness gate: expected outputs from the independent per-row
oracle in ``tests/oracle.py``, and readers for what the pipeline wrote.

Expected values are computed once per seed, before any timed region.
Outputs are read with pyarrow straight from the parquet files, so a
check adds no Spark job to the run.  Compared per operation:

* rows per sink (``sink_alerts``, ``sink_tools``, ``sink_firehose``,
  ``sink_rejects`` and the ``_dropped`` audit sink),
* ``filter_counts``  — (filter_status, role) → n,
* ``sink_counts``    — (sink, severity_name) → n,
* ``windowed_counts`` — (hour start, sink, severity_name, tool) → n.
"""

from __future__ import annotations

import collections
import os
from datetime import timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DROPPED_SINK = "_dropped"
CANONICAL = ("sink_firehose", "sink_rejects", DROPPED_SINK)


def expected(turns: pa.Table) -> dict:
    """Oracle verdicts over unique turns, aggregated to the four checks."""
    from tests import oracle

    sink_rows: collections.Counter = collections.Counter()
    filt: collections.Counter = collections.Counter()
    sinks: collections.Counter = collections.Counter()
    windowed: collections.Counter = collections.Counter()
    for row in turns.to_pylist():
        ts = row["ts"].astimezone(timezone.utc).replace(tzinfo=None)
        r = oracle.enrich_route_row({**row, "ts": ts})
        hour = int(row["ts"].timestamp()) // 3600 * 3600
        filt[(r["filter_status"], r["role"])] += 1
        if r["filter_status"] == "DROPPED":
            sink_rows[DROPPED_SINK] += 1
        for s in r["sinks"]:
            sink_rows[s] += 1
            sinks[(s, r["severity_name"])] += 1
            windowed[(hour, s, r["severity_name"], r["tool"])] += 1
    return {"sink_rows": dict(sink_rows), "filter_counts": dict(filt),
            "sink_counts": dict(sinks), "windowed_counts": dict(windowed)}


def _dataset(path: str) -> ds.Dataset:
    return ds.dataset(path, format="parquet", partitioning="hive")


def _sink_files(sinks_dir: str) -> dict[str, list[str]]:
    """parquet files per ``sink=`` leaf, below any other partition level."""
    out: dict[str, list[str]] = collections.defaultdict(list)
    for root, _, files in os.walk(sinks_dir):
        leaf = os.path.basename(root)
        if not leaf.startswith("sink="):
            continue
        out[leaf[5:]] += [os.path.join(root, f) for f in files
                          if f.endswith(".parquet")]
    return out


def sink_rows(sinks_dir: str) -> dict[str, int]:
    """Row count per sink from parquet footers (no data read)."""
    return {s: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
            for s, fs in _sink_files(sinks_dir).items()}


def _counter(table: pa.Table, keys: list[str], value: str) -> dict:
    got: collections.Counter = collections.Counter()
    cols = [table.column(k).to_pylist() for k in keys]
    for key, n in zip(zip(*cols), table.column(value).to_pylist()):
        got[key] += n
    return {k: v for k, v in got.items() if v}


def windowed_counts(path: str) -> dict:
    t = _dataset(path).to_table(
        columns=["window_start", "sink", "severity_name", "tool",
                 "n_messages"])
    # Spark writes INT96 (ns) or INT64 (us) timestamps; normalise to s
    secs = pc.cast(pc.cast(t.column("window_start"),
                           pa.timestamp("s", tz="UTC")), pa.int64())
    t = t.set_column(0, "window_start", secs)
    return _counter(t, ["window_start", "sink", "severity_name", "tool"],
                    "n_messages")


def rollup_sink_counts(windowed: dict) -> dict:
    got: collections.Counter = collections.Counter()
    for (_, sink, sev, _), n in windowed.items():
        got[(sink, sev)] += n
    return dict(got)


def filter_counts_from_sinks(sinks_dir: str, exclude_conv: str) -> dict:
    """(filter_status, role) counts over the canonical sinks — every
    message lands in exactly one of them."""
    files = _sink_files(sinks_dir)
    tables = [pq.read_table(f, columns=["conv_id", "filter_status", "role"])
              for s in CANONICAL for f in files.get(s, [])]
    t = pa.concat_tables(tables)
    t = t.filter(pc.not_equal(t.column("conv_id"), exclude_conv))
    t = t.append_column("n", pa.array([1] * t.num_rows, pa.int64()))
    return _counter(t, ["filter_status", "role"], "n")


def read_flat(out_dir: str) -> dict:
    """Outputs of ``plans.job.run_flat``."""
    w = windowed_counts(os.path.join(out_dir, "agg", "windowed_counts"))
    fc = pq.read_table(os.path.join(out_dir, "agg", "filter_counts"))
    return {"sink_rows": sink_rows(os.path.join(out_dir, "sinks")),
            "filter_counts": _counter(fc, ["filter_status", "role"],
                                      "n_messages"),
            "sink_counts": rollup_sink_counts(w), "windowed_counts": w}


def read_resumable(out_dir: str) -> dict:
    """Final outputs of ``plans.job.run_pipeline``."""
    fin = os.path.join(out_dir, "agg_final")
    fc = _dataset(os.path.join(fin, "filter_counts")).to_table()
    sc = _dataset(os.path.join(fin, "sink_counts")).to_table()
    return {"sink_rows": sink_rows(os.path.join(out_dir, "sinks")),
            "filter_counts": _counter(fc, ["filter_status", "role"],
                                      "n_messages"),
            "sink_counts": _counter(sc, ["sink", "severity_name"],
                                    "n_messages"),
            "windowed_counts": windowed_counts(
                os.path.join(fin, "windowed_counts"))}


def read_stream(out_dir: str, sentinel_conv: str) -> dict:
    """Drained outputs of ``streaming.pipeline.run_streaming``; the
    watermark sentinel is left out of the DROPPED audit count."""
    sinks_dir = os.path.join(out_dir, "sinks")
    rows = sink_rows(sinks_dir)
    rows[DROPPED_SINK] = rows.get(DROPPED_SINK, 0) - 1
    w = windowed_counts(os.path.join(out_dir, "agg", "windowed_counts"))
    return {"sink_rows": {k: v for k, v in rows.items() if v},
            "filter_counts": filter_counts_from_sinks(sinks_dir,
                                                      sentinel_conv),
            "sink_counts": rollup_sink_counts(w), "windowed_counts": w}


def diff(want: dict, got: dict) -> list[str]:
    """Names of the checks that disagree, with a short sample."""
    bad = []
    for name, w in want.items():
        g = got.get(name, {})
        if g != w:
            keys = sorted(set(w) ^ set(g) | {k for k in w if g.get(k) != w[k]},
                          key=str)[:3]
            bad.append(f"{name}: " + ", ".join(
                f"{k}: want {w.get(k)} got {g.get(k)}" for k in keys))
    return bad


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
    return total
