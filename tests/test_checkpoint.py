"""Driver-side metadata commits (plans/checkpoint.py): the manifest and
snapshot files are written and read with pyarrow on the driver, never
as Spark jobs; a commit is a hidden temp file renamed into view, so a
crash mid-write leaves nothing visible; only a missing directory means
"nothing committed"; stores whose metadata Spark wrote keep working.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import Counter

import pyarrow as pa
import pytest

from skewer_spark.plans import checkpoint as ckpt
from skewer_spark.plans import job
from skewer_spark.synth import transcripts_df


def _commit_two_buckets(spark, out):
    ckpt.commit_bucket(spark, out, "rA", 0, 10, 7, 100)
    ckpt.commit_bucket(spark, out, "rA", 1, 5, 2, 50)


def _same_rows(df, rows) -> bool:
    return Counter(map(tuple, df.collect())) == Counter(map(tuple, rows))


def _visible_files(path):
    return sorted(f for f in os.listdir(path) if f.startswith("part-"))


def test_corrupt_manifest_raises(spark, tmp_path):
    """A garbage committed file must surface: reading it as "nothing
    committed" would make a resume redo every bucket and append a
    second manifest row for each."""
    out = str(tmp_path / "out")
    _commit_two_buckets(spark, out)
    man = ckpt.manifest_path(out)
    with open(os.path.join(man, "part-garbage.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    before = _visible_files(man)
    with pytest.raises(pa.ArrowInvalid):
        ckpt.committed_buckets(spark, out)
    with pytest.raises(pa.ArrowInvalid):
        ckpt.commit_snapshot(spark, out, "rB")
    inp = str(tmp_path / "in")
    transcripts_df(spark, 4, 5).write.parquet(inp)
    with pytest.raises(pa.ArrowInvalid):
        job.run_pipeline(spark, inp, out, n_buckets=2, run_id="rB")
    # nothing was redone or snapshotted on top of the unreadable manifest
    assert _visible_files(man) == before
    assert not os.path.exists(ckpt.snapshot_path(out))


def test_metadata_commits_launch_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    group = f"ckpt-meta-{uuid.uuid4().hex}"
    control = f"ckpt-control-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "driver-side metadata commits")
        _commit_two_buckets(spark, out)
        assert ckpt.committed_buckets(spark, out) == {0, 1}
        sid = ckpt.commit_snapshot(spark, out, "rA")
        assert ckpt.buckets_asof(spark, out, sid) == [0, 1]
        assert ckpt.committed_rows(spark, out) == 15
        assert ckpt.snapshotted_run_ids(spark, out) == {"rA"}
        # positive control: a Spark read does launch a job.  Job events
        # reach the status tracker through the asynchronous listener
        # bus in order, so once the control's job shows up every job
        # started before it would have too
        sc.setJobGroup(control, "control")
        assert ckpt.read_manifest(spark, out).count() == 2
        deadline = time.monotonic() + 30
        tracker = sc.statusTracker()
        while not tracker.getJobIdsForGroup(control):
            assert time.monotonic() < deadline, "control job never seen"
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_leftover_temp_files_are_invisible(spark, tmp_path):
    """A crash before the rename leaves a hidden ``.part-*`` temp: a
    complete-but-uncommitted file or a truncated one.  No reader may
    see either."""
    out = str(tmp_path / "out")
    _commit_two_buckets(spark, out)
    sid = ckpt.commit_snapshot(spark, out, "rA")

    man = ckpt.manifest_path(out)
    # a full copy of a committed row: counted, it would show as a
    # third manifest row
    shutil.copy(os.path.join(man, _visible_files(man)[0]),
                os.path.join(man, ".part-uncommitted.parquet"))
    for d in (ckpt.snapshot_path(out), ckpt.members_path(out)):
        with open(os.path.join(d, ".part-truncated.parquet"), "wb") as f:
            f.write(b"PAR1\x00\x01")

    assert ckpt.committed_buckets(spark, out) == {0, 1}
    assert ckpt.committed_rows(spark, out) == 15
    assert ckpt.read_manifest(spark, out).count() == 2
    assert ckpt.read_snapshots(spark, out).count() == 1
    assert ckpt.read_snapshot_members(spark, out).count() == 2
    assert ckpt.snapshotted_run_ids(spark, out) == {"rA"}
    assert ckpt.buckets_asof(spark, out, sid) == [0, 1]
    # and the next commit chains onto the visible history only
    sid2 = ckpt.commit_snapshot(spark, out, "rB")
    snaps = {r.run_id: r for r in ckpt.read_snapshots(spark, out).collect()}
    assert snaps["rB"].parent_snapshot_id == sid and snaps["rB"].seq == 2
    assert snaps["rB"].operation == "noop" and snaps["rB"].total_rows == 15
    assert ckpt.buckets_asof(spark, out, sid2) == [0, 1]


def _rewrite_with_spark(spark, path, schema):
    """Rewrite a metadata dir the way commits used to be written:
    ``createDataFrame(...).write.mode("append")``, one job per row."""
    rows = ckpt._read_rows(path, schema)
    shutil.rmtree(path)
    for r in rows:
        spark.createDataFrame([tuple(r)], schema).coalesce(1) \
            .write.mode("append").parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)


def test_spark_written_store_resumes_and_snapshots(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    transcripts_df(spark, 8, 10).write.parquet(inp)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run_pipeline(spark, inp, out, n_buckets=2, fail_after=1,
                         run_id="runA")
    s1 = ckpt.commit_snapshot(spark, out, "runA")
    metadata = (
        (ckpt.manifest_path(out), ckpt.MANIFEST_SCHEMA, ckpt.read_manifest),
        (ckpt.snapshot_path(out), ckpt.SNAPSHOT_SCHEMA, ckpt.read_snapshots),
        (ckpt.members_path(out), ckpt.MEMBERS_SCHEMA,
         ckpt.read_snapshot_members),
    )
    for path, schema, _ in metadata:
        _rewrite_with_spark(spark, path, schema)
    (done,) = ckpt.committed_buckets(spark, out)
    assert ckpt.buckets_asof(spark, out, s1) == [done]

    res = job.run_pipeline(spark, inp, out, n_buckets=2, run_id="runB")
    assert res["rows"] == 80
    by_run = {}
    for r in ckpt.read_manifest(spark, out).collect():
        by_run.setdefault(r.run_id, set()).add(r.bucket)
    assert by_run == {"runA": {done}, "runB": {1 - done}}
    snaps = {r.run_id: r for r in ckpt.read_snapshots(spark, out).collect()}
    s2 = snaps["runB"]
    assert s2.parent_snapshot_id == s1 and s2.seq == 2
    assert s2.operation == "append" and s2.total_rows == 80
    assert s2.buckets_committed == 1 and s2.buckets_total == 2
    assert ckpt.buckets_asof(spark, out, s2.snapshot_id) == [0, 1]
    # old (Spark-written) and new (driver-written) files side by side:
    # the Spark readers and the driver-side readers agree row for row
    for path, schema, read in metadata:
        assert _same_rows(read(spark, out), ckpt._read_rows(path, schema))
