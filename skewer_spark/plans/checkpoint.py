"""Per-partition checkpoint / lineage manifest (SURVEY.md §2.6, §4.3).

Replaces the reference's badger durable queue (Ready → Sent → ACK,
``/root/reference/store/store.go:141-167, 1136-1470``) with the batch
contract: a conversation-hash **bucket** is the unit of work; a bucket's
rows count as delivered only once its sink files are fully written and
a manifest row is committed (the ACK).  A rerun skips committed buckets
and reprocesses the rest — combined with the deterministic uid this
gives effectively-once delivery (dominates the reference's
at-least-once + ULID dedup).

The manifest is an append-only parquet directory of single-row commits:
``(run_id, bucket, n_rows, n_pass, wall_ms)``.  On Iceberg this would
be the snapshot log; the parquet layout keeps the identical semantics
without the runtime jar.

Metadata commits run on the driver, not as Spark jobs — like an
Iceberg commit, which is a metadata file the driver writes (and like
the reference's ACK, one key write).  Each commit is one small parquet
file written with pyarrow under a hidden ``.part-<uuid>.parquet`` name
in the target directory, then ``os.replace``d to ``part-<uuid>.parquet``
(the commit point).  Spark and ``pyarrow.dataset`` both skip ``.`` and
``_`` names, so a crash mid-write leaves nothing visible.  The readers
below scan the same directories with ``pyarrow.dataset`` on the
driver; stores whose metadata Spark wrote (``_SUCCESS``, ``.crc``
siblings) read the same way.  The public ``read_*`` functions still
return DataFrames for Spark-side joins.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_pass", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
])

# Spark SQL type name → pyarrow type factory, for the metadata schemas
_ARROW_TYPES = {"string": "string", "int": "int32", "bigint": "int64"}


def _arrow_schema(schema: T.StructType):
    import pyarrow as pa

    return pa.schema([
        pa.field(f.name, getattr(pa, _ARROW_TYPES[f.dataType.simpleString()])(),
                 f.nullable)
        for f in schema.fields
    ])


def _append_rows(path: str, schema: T.StructType, rows: list[tuple]) -> None:
    """Commit ``rows`` as one new parquet file under ``path``, on the
    driver: written under a hidden temp name, then renamed into view
    (the rename is the commit point)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow = _arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def _read_rows(path: str, schema: T.StructType, where=None) -> list[Row]:
    """Every committed row under ``path`` (optionally filtered by a
    ``pyarrow.dataset`` expression), read on the driver.  Hidden and
    ``_`` files (temps, ``_SUCCESS``, ``.crc``) are skipped; an
    unreadable file raises."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, schema=_arrow_schema(schema),
                       format="parquet").to_table(filter=where)
    return [Row(**d) for d in table.to_pylist()]


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _manifest_rows(out_dir: str) -> list[Row]:
    """Manifest rows, or [] iff the manifest dir doesn't exist yet.

    Only the missing-path case means "nothing committed": treating an
    unreadable manifest as empty would make a resume redo every bucket
    and append a second manifest row for each, doubling ``rows`` and
    the snapshot's ``total_rows``."""
    path = manifest_path(out_dir)
    if not os.path.isdir(path):
        return []
    return _read_rows(path, MANIFEST_SCHEMA)


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return {r.bucket for r in _manifest_rows(out_dir)}


def committed_rows(spark: SparkSession, out_dir: str) -> int:
    """Rows delivered by every committed bucket (the table's size)."""
    return sum(r.n_rows for r in _manifest_rows(out_dir))


def commit_bucket(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    bucket: int,
    n_rows: int,
    n_pass: int,
    wall_ms: int,
) -> None:
    _append_rows(manifest_path(out_dir), MANIFEST_SCHEMA,
                 [(run_id, bucket, n_rows, n_pass, wall_ms)])


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path(out_dir))


# ---------------------------------------------------------------------------
# snapshot summaries — the Iceberg snapshot-log analog (north rule:
# "lineage and metrics emitted per Iceberg snapshot").  One row per
# completed run: what Iceberg records as snapshot.summary
# ("added-records", "total-records", operation, ...).  Each snapshot has
# its OWN id (``snapshot_id`` = "s{seq}-{run_id}") distinct from the
# run_id that stamps bucket manifest rows: run_ids are user-suppliable
# and reusable across a crash+resume, snapshot ids are not — so the
# parent chain (``parent_snapshot_id``, like Iceberg's
# parent-snapshot-id) can never self-loop, and the monotonically
# increasing ``seq`` makes parent selection deterministic even when two
# snapshots share a ``committed_at_ms``.  snapshot → run_id → buckets →
# sink files remains a walkable lineage chain.
# ---------------------------------------------------------------------------

SNAPSHOT_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("run_id", T.StringType(), False),
    T.StructField("parent_snapshot_id", T.StringType(), True),
    T.StructField("operation", T.StringType(), False),
    T.StructField("buckets_committed", T.IntegerType(), False),
    T.StructField("buckets_total", T.IntegerType(), False),
    T.StructField("added_rows", T.LongType(), False),
    T.StructField("added_pass", T.LongType(), False),
    T.StructField("total_rows", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("committed_at_ms", T.LongType(), False),
])


def snapshot_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots")


# one row per (snapshot, bucket): WHICH committed buckets a snapshot
# covers — the Iceberg manifest-list analog (a snapshot points at the
# concrete data-file set; time travel never needs timestamps or clock
# ordering).  n_buckets rows per snapshot: tiny even at 10^5 buckets.
MEMBERS_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("run_id", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
])


def members_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshot_members")


def read_snapshot_members(spark: SparkSession, out_dir: str) -> DataFrame:
    # distinct: commit_snapshot writes members BEFORE the snapshot row,
    # so a crash between the two followed by a same-run_id retry (legal:
    # the crash never snapshotted) re-appends the identical member rows
    # under the recomputed snapshot_id.  Buckets are immutable, so the
    # re-append is always a full-row duplicate — distinct is exact.
    return (
        spark.read.schema(MEMBERS_SCHEMA)
        .parquet(members_path(out_dir))
        .distinct()
    )


def buckets_asof(
    spark: SparkSession, out_dir: str, snapshot_id: str
) -> list[int]:
    """Buckets visible at ``snapshot_id`` — exactly the set its member
    list recorded at commit time (crashed-run buckets that were never
    covered by a snapshot stay invisible, matching Iceberg's
    uncommitted-data semantics)."""
    if not any(
        r.snapshot_id == snapshot_id
        for r in _read_snapshots_or_empty(spark, out_dir)
    ):
        raise ValueError(f"unknown snapshot {snapshot_id!r} in {out_dir!r}")
    # commit_snapshot writes the members file only when the member list
    # is non-empty, so a store whose history is all empty/noop snapshots
    # has no members dir at all — that is "zero visible buckets", not an
    # error (mirrors _read_snapshots_or_empty's missing-path case)
    path = members_path(out_dir)
    if not os.path.isdir(path):
        return []
    import pyarrow.dataset as ds

    rows = _read_rows(path, MEMBERS_SCHEMA,
                      ds.field("snapshot_id") == snapshot_id)
    # a set, as read_snapshot_members' distinct: a crash-retry may
    # re-append identical member rows.  An empty-store snapshot
    # legitimately has zero members
    return sorted({r.bucket for r in rows})


def snapshotted_run_ids(spark: SparkSession, out_dir: str) -> set[str]:
    """run_ids that already own a snapshot in this out_dir."""
    snaps = _read_snapshots_or_empty(spark, out_dir)
    return {r.run_id for r in snaps}


def _read_snapshots_or_empty(spark: SparkSession, out_dir: str) -> list[Row]:
    """Snapshot rows, or [] iff the snapshot dir doesn't exist yet.

    Only the missing-path case maps to "no history" — a corrupted
    snapshot dir must surface, not silently produce an orphan snapshot
    (ADVICE r02)."""
    path = snapshot_path(out_dir)
    if not os.path.isdir(path):
        return []
    return _read_rows(path, SNAPSHOT_SCHEMA)


def commit_snapshot(
    spark: SparkSession, out_dir: str, run_id: str,
    operation: str | None = None,
) -> str:
    """Append one snapshot-summary row derived from the manifest.

    ``parent_snapshot_id`` is the previous snapshot (linear history); a
    resume run's snapshot records only the buckets ITS run_id committed
    as ``added_*`` while ``total_rows`` covers the table.  A run_id
    that already snapshotted is REJECTED: its bucket rows are already
    accounted in that snapshot's ``added_*``, so a second snapshot
    under the same run_id would double-attribute them (a resume of a
    *crashed* attempt reuses the run_id legally — the crash never
    snapshotted).  Also writes the snapshot's MEMBER list (every
    manifest bucket visible at commit time — the Iceberg manifest-list
    analog that makes time-travel reads exact).  ``operation``
    overrides the append/noop auto-label (compaction passes
    ``"replace"``, Iceberg's rewrite operation).  Returns the new
    snapshot_id."""
    prev = _read_snapshots_or_empty(spark, out_dir)
    if any(r.run_id == run_id for r in prev):
        raise ValueError(
            f"run_id {run_id!r} already has a snapshot in {out_dir!r}; "
            "pick a fresh run_id per attempt (resume of a crashed run "
            "may reuse its run_id only because the crash never "
            "snapshotted)"
        )
    # deterministic parent: highest seq wins; snapshot_id breaks the
    # (impossible-in-one-driver, but cheap to guard) seq tie
    head = max(prev, key=lambda r: (r.seq, r.snapshot_id), default=None)
    seq = (head.seq + 1) if head is not None else 1
    snapshot_id = f"s{seq:06d}-{run_id}"

    # an empty store (no manifest yet) legitimately snapshots as a
    # zero-member noop — the Iceberg analog of snapshotting a table
    # before its first append; missing-path only, a corrupted manifest
    # still raises
    members = _manifest_rows(out_dir)
    mine = [m for m in members if m.run_id == run_id]
    row = (
        snapshot_id, seq, run_id,
        head.snapshot_id if head is not None else None,
        operation or ("append" if mine else "noop"),
        len(mine), len(members),
        sum(m.n_rows for m in mine), sum(m.n_pass for m in mine),
        sum(m.n_rows for m in members), sum(m.wall_ms for m in mine),
        int(time.time() * 1000),
    )
    # member list FIRST, snapshot row last: the snapshot row is the
    # commit point (buckets_asof checks it), so a crash between the two
    # writes leaves only an orphaned member list, never a snapshot
    # whose member query comes back empty
    if members:
        _append_rows(members_path(out_dir), MEMBERS_SCHEMA, [
            (snapshot_id, seq, m.bucket, m.run_id, m.n_rows)
            for m in members
        ])
    _append_rows(snapshot_path(out_dir), SNAPSHOT_SCHEMA, [row])
    return snapshot_id


def read_snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(SNAPSHOT_SCHEMA).parquet(snapshot_path(out_dir))


class Stopwatch:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *a):
        self.ms = int((time.monotonic() - self.t0) * 1000)
        return False
