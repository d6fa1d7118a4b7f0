"""Seeded transcript generator for the benchmark workloads.

Pure numpy + pyarrow: the program under test receives only the parquet
files written here.  The shape follows FIXTURES.md §1:

* format mix chosen by ``(conv_hash + turn_idx) % 10`` — exactly 3/10
  RFC5424 full, 1/10 RFC5424 nil fields, 2/10 RFC3164 classic, 1/10
  RFC3164 with an RFC3339 stamp, 1/10 RFC3164 without hostname, 1/10
  bare line, 1/10 malformed PRI;
* conversation 0 owns ~10% of all turns (the hot key), spread over the
  whole time range; the rest are spread uniformly over the other
  conversations; ``turn_idx`` is contiguous within a conversation;
* ``ts = 2026-01-01T00:00:00Z + seq seconds``;
* ~1/17 of messages carry ``REJECTME`` and ~1/23 of full RFC5424 lines
  carry an invalid month, so every filter branch is hit.

On top of FIXTURES the generator adds seeded re-delivered duplicates
(exact copies of earlier turns) and, for the stream, turns delivered
one increment late.  Both stay well inside the pipeline's one-hour
watermark, so no operation is expected to drop data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
BASE_EPOCH = int(BASE_TS.timestamp())
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["bash", "search", "editor", "browser", "none"]
HOT_SHARE = 0.10

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _iso(epoch: int) -> str:
    return datetime.fromtimestamp(epoch, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def _stamp(epoch: int) -> str:
    """Go ``time.Stamp`` shape, ``Jan _2 15:04:05``."""
    d = datetime.fromtimestamp(epoch, timezone.utc)
    return f"{MONTHS[d.month - 1]} {d.day:>2} {d:%H:%M:%S}"


def _line(fmt: int, seq: int, epoch: int, pri: int, conv: int, turn: int,
          reject: bool, bad_ts: bool) -> str:
    payload = f"event {seq}" + (" REJECTME" if reject else "")
    host = f"host{conv % 50:02d}"
    app = f"app{turn % 20:02d}"
    if fmt <= 2:
        iso = "2026-13-01T00:00:00Z" if bad_ts else _iso(epoch)
        return (f'<{pri}>1 {iso} {host} {app} {turn} MSG{turn % 100:02d} '
                f'[meta k="v" k2="a\\]b"] {payload}')
    if fmt == 3:
        return f"<14>1 - - - - - - {payload}"
    if fmt in (4, 5):
        return f"<{pri}>{_stamp(epoch)} {host} {app}[{turn}]: {payload}"
    if fmt == 6:
        return f"<{pri}>{_iso(epoch)} {host} {app}: {payload}"
    if fmt == 7:
        return f"<13>{_stamp(epoch)} {app}[{turn}]: {payload}"
    if fmt == 8:
        return f"plain text with no priority {payload}"
    return f"<9999999999>broken {payload}"


def make_turns(rng: np.random.Generator, n_turns: int, n_convs: int,
               seq0: int = 0) -> pa.Table:
    """``n_turns`` unique turns in ts order (``seq`` = position)."""
    seq = np.arange(seq0, seq0 + n_turns, dtype=np.int64)
    conv = np.where(rng.random(n_turns) < HOT_SHARE, 0,
                    rng.integers(1, max(n_convs, 2), n_turns))
    # turn_idx = occurrence number of the conversation in ts order
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_turns]))
    turn = np.empty(n_turns, dtype=np.int64)
    turn[order] = np.arange(n_turns) - run_start
    conv_hash = rng.integers(0, 2**31, max(n_convs, 2))[conv]
    fmt = (conv_hash + turn) % 10
    pri = rng.integers(0, 192, n_turns)
    reject = rng.random(n_turns) < 1 / 17
    bad_ts = rng.random(n_turns) < 1 / 23
    epoch = BASE_EPOCH + seq
    text = [
        _line(int(f), int(s), int(e), int(p), int(c), int(t), bool(r), bool(b))
        for f, s, e, p, c, t, r, b in zip(fmt, seq, epoch, pri, conv, turn,
                                          reject, bad_ts)
    ]
    return pa.table({
        "conv_id": [f"conv-{c:08d}" for c in conv],
        "turn_idx": pa.array(turn, pa.int32()),
        "role": [ROLES[t % 4] for t in turn],
        "text": text,
        "tool": [TOOLS[int(h)] for h in (conv_hash + turn * 3) % 5],
        "ts": pa.array(epoch * 1_000_000, pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)


def with_duplicates(rng: np.random.Generator, turns: pa.Table,
                    dup_frac: float) -> pa.Table:
    """Append exact re-delivered copies of a seeded share of turns."""
    n = turns.num_rows
    idx = np.sort(rng.choice(n, size=int(n * dup_frac), replace=False))
    return pa.concat_tables([turns, turns.take(idx)])


def write_files(table: pa.Table, path: str, n_files: int,
                rng: np.random.Generator | None = None) -> None:
    """Write ``table`` as ``n_files`` parquet files, row order scrambled
    when ``rng`` is given (stable order must come from the pipeline)."""
    os.makedirs(path, exist_ok=True)
    if rng is not None:
        table = table.take(rng.permutation(table.num_rows))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


@dataclass
class Increment:
    due_s: float        # scheduled landing, seconds after the stream starts
    table: pa.Table


def stream_increments(rng: np.random.Generator, n_incr: int, incr_turns: int,
                      n_convs: int, interval_s: float, late_frac: float,
                      dup_frac: float) -> tuple[list[Increment], pa.Table]:
    """ts-ordered increments on a fixed landing schedule.

    A seeded ``late_frac`` of each increment's turns is delivered with
    the NEXT increment (out of order by at most two increments of event
    time, far inside the one-hour watermark) and a seeded ``dup_frac``
    is delivered again one or two increments later.  Returns the
    increments and the table of unique turns they carry."""
    turns = make_turns(rng, n_incr * incr_turns, n_convs)
    parts: list[list[pa.Table]] = [[] for _ in range(n_incr)]
    for k in range(n_incr):
        chunk = turns.slice(k * incr_turns, incr_turns)
        late = rng.random(incr_turns) < late_frac
        if k == n_incr - 1:
            late[:] = False
        parts[k].append(chunk.filter(pa.array(~late)))
        if late.any():
            parts[k + 1].append(chunk.filter(pa.array(late)))
        dup = np.flatnonzero(rng.random(incr_turns) < dup_frac)
        for i in dup:
            j = min(k + int(rng.integers(1, 3)), n_incr - 1)
            parts[j].append(chunk.slice(int(i), 1))
    incs = [Increment(k * interval_s, pa.concat_tables(p))
            for k, p in enumerate(parts)]
    return incs, turns


def sentinel(after_epoch: int) -> pa.Table:
    """One severity-7 (DROPPED) turn six hours after ``after_epoch``: it
    advances the watermark so every real window is emitted, without
    contributing a count to any sink (as in
    test_stream_windowed_counts_equals_batch)."""
    return pa.table({
        "conv_id": ["wm-sentinel"], "turn_idx": pa.array([0], pa.int32()),
        "role": ["system"], "text": ["<7>advance watermark"],
        "tool": ["none"],
        "ts": pa.array([(after_epoch + 6 * 3600) * 1_000_000],
                       pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)
