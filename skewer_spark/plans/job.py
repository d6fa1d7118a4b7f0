"""End-to-end pipeline driver: parse → enrich → route → fan-out → aggregate,
resumable per conversation-hash bucket.

Execution model (SURVEY.md §3.1 "Spark trace", §4.2):

1. **Stage (ingest pass)** — one shuffle: the raw transcript table is
   bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` and written
   ``partitionBy(bucket)``.  This is the Store-ingest analog
   (``/root/reference/store/store.go:1136-1178``) and what an Iceberg
   table bucketed by conv_id gives for free; it buys *file-level
   partition pruning* for every later wave, so resuming bucket k never
   re-reads the other buckets — the property that matters at 100 TB.
   Within each bucket, files are split by a turn-level salt so a hot
   conversation (10% of all rows on one key) spreads across tasks for
   the narrow stages.
2. **Per-bucket wave** — scan only ``bucket=k`` files → vectorized
   parse (narrow) → broadcast-join enrich (narrow) → route (narrow) →
   ``persist()`` once → 4 sink writes + aggregate writes (the fan-out
   reads the routed frame once, mirroring ingest-once /
   reference-per-destination, ``store/store.go:1161-1177``) → manifest
   commit (the ACK, a driver-side metadata write — no Spark job).  A
   killed run leaves un-committed buckets; a rerun on the same
   ``out_dir`` processes exactly those.
3. **Finalize** — per-bucket partial aggregate tables are summed
   (counts are associative) into the final metric tables.

``dropDuplicates(uid)`` inside a bucket is globally correct because the
uid is a function of (conv_id, turn_idx) and conv_id determines the
bucket — dedup never needs a global shuffle.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from skewer_spark.operators.aggregate import (
    metric_grouping_sets,
    windowed_counts_from_labeled,
)
from skewer_spark.operators.enrich import dedup_and_rank, enrich
from skewer_spark.operators.parse import parse_transcripts
from skewer_spark.operators.route import route
from skewer_spark.plans import checkpoint as ckpt

# the routed table keeps full message fidelity; sink files are
# Kafka-message-shaped (store/dests/kafkadest.go:78-108: key, partition,
# topic, value=encoded, timestamp=time_reported) plus the join/test keys
ROUTED_COLUMNS_FULL = True  # routed table: all columns
SINK_COLUMNS = [
    "uid", "conv_id", "turn_idx", "role", "tool", "ts", "severity",
    "severity_name", "filter_status", "parse_ok", "parser_name",
    "topic", "partition_key", "partition_number", "time_reported", "encoded",
]

AGG_TABLES = ("filter_counts", "sink_counts", "windowed_counts",
              "parse_error_counts", "incoming_counts")


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


# Content-bearing columns sealed at rest alongside the sinks' encoded
# payloads (finding: sealing only `encoded` left full plaintext copies
# of every message in routed/ and _staged/).  Routing/metric metadata
# (severity, topic, hostname, ts, …) stays clear BY DESIGN — the
# Parquet-modular-encryption / Iceberg column-key pattern: partition
# pruning, resume bookkeeping and count metrics must work without the
# key, while message content must not be recoverable from the store.
SEALED_CONTENT_COLUMNS = ("text", "message", "structured", "properties_json")


def _staged_nonce_basis():
    """Deterministic per-row nonce basis for the staged table (uid is
    not derived yet at ingest): (conv_id, turn_idx) is the table's
    primary key.  F.concat propagates NULLs so a null key fails loud in
    seal_col instead of reusing a keystream."""
    return F.concat(
        F.col("conv_id").cast("string"), F.lit("|"),
        F.col("turn_idx").cast("string"),
    )


def seal_content_cols(df: DataFrame, secret: bytes, salt_prefix: str,
                      uid_col="uid") -> DataFrame:
    """Seal every present content column; per-column salt so one row's
    columns never share a (key, nonce) pair."""
    from skewer_spark.functions.crypto import seal_col

    for c in SEALED_CONTENT_COLUMNS:
        if c in df.columns:
            df = df.withColumn(
                c, seal_col(c, uid_col, secret,
                            salt_col=F.lit(f"{salt_prefix}:{c}"))
            )
    return df


def open_content_cols(df: DataFrame, secret: bytes) -> DataFrame:
    """Revive sealed content columns (binary boxes → utf-8 strings)."""
    from skewer_spark.functions.crypto import open_col

    for c in SEALED_CONTENT_COLUMNS:
        if c in df.columns:
            df = df.withColumn(c, open_col(c, secret).cast("string"))
    return df


def stage_input(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int,
    files_per_bucket: int = 8,
    secret: bytes | None = None,
) -> str:
    """Ingest pass: bucket the raw table for partition-pruned waves."""
    staged = os.path.join(out_dir, "_staged")
    if os.path.exists(os.path.join(staged, "_SUCCESS")):
        return staged
    df = spark.read.parquet(input_path)
    if secret is not None:
        # the staged copy is part of the store: seal its content too
        df = seal_content_cols(df, secret, "staged",
                               uid_col=_staged_nonce_basis())
    df = df.withColumn("bucket", bucket_col(n_buckets))
    # salt the intra-bucket layout so one hot conv spans several files
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(files_per_bucket))
    (
        df.repartition(n_buckets * files_per_bucket, F.col("bucket"), salt)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged)
    )
    return staged


def build_routed(df: DataFrame) -> DataFrame:
    """The logical plan for one slice of transcripts → routed rows.

    dedup + turn rank share one skew-safe shuffle (dedup_and_rank);
    parse runs before it so the UDF work is spread over the scan's even
    partitioning rather than the conv-keyed (skewed) layout."""
    parsed = parse_transcripts(df).drop("text")
    # raw line dropped post-parse — the reference Store also persists
    # only the parsed message (protobuf), not the raw bytes
    return route(enrich(dedup_and_rank(parsed)))


def write_outputs(
    spark: SparkSession,
    routed,
    out_dir: str,
    sub: str = "",
    write_routed: bool = True,
    secret: bytes | None = None,
) -> tuple[int, int]:
    """Materialize one slice.

    Two modes, mirroring the reference's two delivery paths:

    * ``write_routed=True`` — Store mode (badger durable queue analog,
      store/store.go): the full-fidelity routed table is written once,
      then the sink fan-out and aggregates read it back with column
      pruning.  Lineage keeps every parsed field.
    * ``write_routed=False`` — DirectRELP mode
      (services/network/directrelp.go: parse → produce straight to
      Kafka, no store): ONE pass from raw input to the exploded
      per-destination write; metrics derive from the sink files.
      This is the throughput shape.

    Either way the metrics come from the sink parquet: every message
    lands in exactly one CANONICAL sink (firehose / rejects / _dropped
    audit), so counter metrics never rescan the input.
    """
    from skewer_spark.operators.route import (
        CANONICAL_SINKS, DROPPED_SINK, with_sink_labels,
    )
    from skewer_spark.sinks.encoders import encoded_by_sink

    from concurrent.futures import ThreadPoolExecutor

    src = routed
    if write_routed:
        routed_path = os.path.join(out_dir, "routed", sub)
        if secret is not None:
            # the routed table keeps full message fidelity — sealed
            # mode must not leave it as a plaintext copy of everything
            # the sinks seal (content columns boxed per (uid, column);
            # metadata stays clear, see SEALED_CONTENT_COLUMNS)
            routed = seal_content_cols(routed, secret, "routed")
        # REBALANCE: the turn-rank window shuffles by conv_id, so a hot
        # conversation lands in one partition; AQE rebalance splits it
        # for the write stage (straggler kill, SURVEY.md §4.2).
        routed.hint("rebalance").write.mode("overwrite").parquet(routed_path)
        src = spark.read.parquet(routed_path)
        if secret is not None:
            # the fan-out encoders need plaintext back (one open per
            # bucket — the cost of not storing cleartext)
            src = open_content_cols(src, secret)

    sinks_path = os.path.join(out_dir, "sinks", sub)
    labeled = with_sink_labels(src, include_dropped=True).withColumn(
        "encoded", encoded_by_sink()
    )
    if secret is not None:
        # encryption at rest (store/store.go:617-635 secretbox analog):
        # the stored payload is sealed nonce||tag||ct keyed per
        # (uid, sink) — the sink salt matters: fan-out gives the SAME
        # uid a different encoding per sink, and an unsalted per-uid
        # nonce would reuse one keystream across those plaintexts
        # (two-time pad).  Deterministic per row, so bucket reruns stay
        # byte-identical (resume idempotence).  Metrics/aggregates
        # never touch `encoded`, so the rest of this function is
        # unchanged.
        from skewer_spark.functions.crypto import seal_col

        labeled = labeled.withColumn(
            "encoded", seal_col("encoded", "uid", secret, salt_col="sink")
        )
    cols = [c for c in SINK_COLUMNS if c in labeled.columns]
    labeled.select(*cols, "sink").write.partitionBy("sink").mode(
        "overwrite"
    ).parquet(sinks_path)

    sinks_p = spark.read.option("basePath", sinks_path).parquet(sinks_path)
    canonical = sinks_p.filter(F.col("sink").isin(*CANONICAL_SINKS))

    def _windowed():
        # per-destination hourly rollup (excludes the _dropped audit)
        # no coalesce(1): it would run the final aggregation of every
        # window group in a single task (serial tail); finalize
        # re-aggregates the partials anyway
        windowed_counts_from_labeled(
            sinks_p.filter(F.col("sink") != DROPPED_SINK)
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "agg", "windowed_counts", sub)
        )

    def _metrics():
        # every counter-style metric in ONE scan of the canonical sinks
        # via grouping sets; result is tiny → written driver-side.
        return metric_grouping_sets(canonical).toPandas()

    # both jobs read the (small-column) sink parquet — run concurrently
    # so planning/commit phases overlap.  SKEWER_SEQUENTIAL_JOBS=1
    # disables (ablation hook).
    if os.environ.get("SKEWER_SEQUENTIAL_JOBS"):
        _windowed()
        gs = _metrics()
    else:
        with ThreadPoolExecutor(max_workers=2) as ex:
            f_win = ex.submit(_windowed)
            f_gs = ex.submit(_metrics)
            f_win.result()
            gs = f_gs.result()
    fc = (
        gs[gs["gid"] == 3][["filter_status", "role", "n_messages"]]
        .reset_index(drop=True)
    )
    perr_src = gs[(gs["gid"] == 12) & (gs["parse_ok"] == False)]  # noqa: E712
    perr = perr_src[["parser_name", "n_messages"]].rename(
        columns={"n_messages": "n_errors"}
    ).reset_index(drop=True)
    inc = gs[gs["gid"] == 11][
        ["role", "n_messages", "n_convs", "convs_hll"]
    ].reset_index(drop=True)
    for name, pdf_out in (
        ("filter_counts", fc),
        ("parse_error_counts", perr),
        ("incoming_counts", inc),
    ):
        _write_pandas_parquet(pdf_out, os.path.join(out_dir, "agg", name, sub),
                              _AGG_ARROW_SCHEMAS[name])

    n_rows = int(fc["n_messages"].sum())
    n_pass = int(fc.loc[fc["filter_status"] == "PASS", "n_messages"].sum())
    return n_rows, n_pass


def _agg_arrow_schemas():
    import pyarrow as pa

    s = pa.string()
    i = pa.int64()
    return {
        "filter_counts": pa.schema(
            [("filter_status", s), ("role", s), ("n_messages", i)]
        ),
        "parse_error_counts": pa.schema([("parser_name", s), ("n_errors", i)]),
        "incoming_counts": pa.schema(
            [("role", s), ("n_messages", i), ("n_convs", i),
             ("convs_hll", pa.binary())]
        ),
    }


class _LazySchemas(dict):
    """Deferred so importing this module never needs pyarrow."""

    def __missing__(self, key):
        self.update(_agg_arrow_schemas())
        return self[key]


_AGG_ARROW_SCHEMAS = _LazySchemas()


def _write_pandas_parquet(pdf, path: str, schema=None) -> None:
    """Write a tiny driver-side partial with an EXPLICIT arrow schema.

    Without it, a bucket whose partial is EMPTY (e.g. zero parse errors)
    lets pyarrow infer a different physical type for the same column
    than its sibling buckets, and the finalize scan fails with a parquet
    type mismatch (hit by the 3-bucket spark-submit resume test)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    if schema is not None:
        table = table.select(schema.names).cast(schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def process_bucket(
    spark: SparkSession, staged: str, out_dir: str, bucket: int,
    secret: bytes | None = None,
) -> tuple[int, int]:
    src = spark.read.parquet(os.path.join(staged, f"bucket={bucket}"))
    if secret is not None:
        src = open_content_cols(src, secret)
    routed = build_routed(src)
    return write_outputs(spark, routed, out_dir, f"bucket={bucket}",
                         write_routed=True, secret=secret)


ENCRYPTION_MARKER = "_encryption.json"


def _check_store_encryption(out_dir: str, secret: bytes | None) -> None:
    """Pin the store's at-rest mode at first write.

    Without this, a crashed run that sealed buckets 0..k could resume
    on a host where SKEWER_BOX_SECRET is unset (or mistyped) and write
    the remaining buckets in plaintext — one store silently mixing
    sealed and clear payloads.  The marker records sealed yes/no plus
    the key fingerprint (a domain-separated hash, reveals nothing);
    every later attempt must present the same mode + key or fail fast
    BEFORE writing anything.
    """
    import json

    from skewer_spark.functions.crypto import key_fingerprint

    path = os.path.join(out_dir, ENCRYPTION_MARKER)
    fp = key_fingerprint(secret) if secret is not None else None
    if os.path.exists(path):
        with open(path) as f:
            mode = json.load(f)
        if bool(mode.get("sealed")) != (secret is not None):
            raise ValueError(
                f"store {out_dir!r} was started "
                f"{'SEALED' if mode.get('sealed') else 'UNENCRYPTED'} but "
                f"this attempt has SKEWER_BOX_SECRET "
                f"{'unset' if secret is None else 'set'}; refusing to mix "
                "sealed and plaintext buckets in one store"
            )
        if mode.get("sealed") and mode.get("key_fp") != fp:
            raise ValueError(
                f"store {out_dir!r} is sealed with key "
                f"{mode.get('key_fp')} but this attempt's secret "
                f"fingerprints as {fp}: wrong SKEWER_BOX_SECRET"
            )
        return
    os.makedirs(out_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"sealed": secret is not None, "key_fp": fp}, f)
    os.replace(tmp, path)


def _read_store_encryption(out_dir: str) -> dict | None:
    import json

    path = os.path.join(out_dir, ENCRYPTION_MARKER)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    run_id: str | None = None,
) -> dict:
    run_id = run_id or uuid.uuid4().hex[:12]
    # fail fast, not after n_buckets of work: a run_id that already
    # snapshotted would be rejected by commit_snapshot at the end
    if run_id in ckpt.snapshotted_run_ids(spark, out_dir):
        raise ValueError(
            f"run_id {run_id!r} already snapshotted in {out_dir!r}; "
            "use a fresh run_id per attempt"
        )
    # encryption at rest rides SKEWER_BOX_SECRET (64 hex chars) — the
    # spark-submit deploy path turns it on without an API change, like
    # the reference's session-secret handshake (store/store.go:617-635).
    # The mode check runs BEFORE stage_input: the guard's contract is
    # "fail fast before writing anything", and staging is a write
    # (sealed staging also needs the secret).
    from skewer_spark.functions.crypto import secret_from_env

    secret = secret_from_env()
    _check_store_encryption(out_dir, secret)
    staged = stage_input(spark, input_path, out_dir, n_buckets,
                         secret=secret)
    done = ckpt.committed_buckets(spark, out_dir)

    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        with ckpt.Stopwatch() as sw:
            n_rows, n_pass = process_bucket(spark, staged, out_dir, b,
                                            secret=secret)
        ckpt.commit_bucket(spark, out_dir, run_id, b, n_rows, n_pass, sw.ms)
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after {processed} buckets")

    finalize_aggregates(spark, out_dir)
    ckpt.commit_snapshot(spark, out_dir, run_id)
    return {"run_id": run_id, "buckets": n_buckets,
            "rows": ckpt.committed_rows(spark, out_dir)}


_AGG_KEYS = {
    "filter_counts": ["filter_status", "role"],
    "windowed_counts": ["window_start", "sink", "severity_name", "tool"],
    "parse_error_counts": ["parser_name"],
    "incoming_counts": ["role"],
}


def finalize_aggregates(spark: SparkSession, out_dir: str) -> None:
    """Merge per-bucket partials (counts are associative); sink_counts
    is the (sink, severity_name) rollup of the merged windowed table."""
    for name, keys in _AGG_KEYS.items():
        src = os.path.join(out_dir, "agg", name)
        try:
            df = spark.read.option("basePath", src).parquet(src)
        except Exception:
            continue
        if name == "parse_error_counts":
            agg = [F.sum("n_errors").alias("n_errors")]
        elif name == "incoming_counts":
            # n_convs: summed per-bucket approx distincts — exact-sum
            # ONLY because buckets partition conv_id (bucket_col).
            # n_convs_merged: HLL sketch union — the slicing-agnostic
            # number (time-sliced resume keeps it right when summing
            # would double-count convs spanning slices).
            agg = [F.sum("n_messages").alias("n_messages"),
                   F.sum("n_convs").alias("n_convs"),
                   F.hll_sketch_estimate(F.hll_union_agg("convs_hll"))
                    .cast("bigint").alias("n_convs_merged")]
        else:
            agg = [F.sum("n_messages").alias("n_messages")]
        (
            df.groupBy(*keys)
            .agg(*agg)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "agg_final", name))
        )
    wfin = os.path.join(out_dir, "agg_final", "windowed_counts")
    try:
        wdf = spark.read.parquet(wfin)
    except Exception:
        return
    (
        wdf.groupBy("sink", "severity_name")
        .agg(F.sum("n_messages").alias("n_messages"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "agg_final", "sink_counts"))
    )


def run_flat(spark: SparkSession, input_path: str, out_dir: str) -> int:
    """Single-slice pipeline (no checkpoint waves) — the bench shape:
    scan → parse → enrich → route → routed table → one-pass fan-out +
    aggregates.  Returns routed row count."""
    src = spark.read.parquet(input_path)
    routed = build_routed(src)
    # Store mode measured faster AND better-scaling than the fused
    # single-pass on local[N] (the mega-stage saturates memory
    # bandwidth at high core counts); it is also the full-lineage path.
    n_rows, _ = write_outputs(spark, routed, out_dir, "", write_routed=True)
    return n_rows


def read_routed(
    spark: SparkSession, out_dir: str, secret: bytes | None = None
) -> DataFrame:
    """Read the full-fidelity routed table (all parsed/enriched
    columns); ``secret`` revives content columns sealed at rest (same
    mode contract as :func:`read_sink` — fail loud on a missing or
    superfluous key)."""
    mode = _read_store_encryption(out_dir)
    if mode is not None:
        if mode.get("sealed") and secret is None:
            raise ValueError(
                f"store {out_dir!r} is sealed at rest (key "
                f"{mode.get('key_fp')}); pass secret= to read content"
            )
        if not mode.get("sealed") and secret is not None:
            raise ValueError(
                f"store {out_dir!r} is not sealed; drop the secret= "
                "argument"
            )
    path = os.path.join(out_dir, "routed")
    df = spark.read.option("basePath", path).parquet(path)
    if secret is not None:
        df = open_content_cols(df, secret)
    return df


def read_sink(
    spark: SparkSession, out_dir: str, name: str,
    secret: bytes | None = None,
) -> DataFrame:
    """Read one destination's rows (partition-pruned on sink=);
    ``secret`` opens payloads sealed at rest (fail-loud on tamper)."""
    mode = _read_store_encryption(out_dir)
    if mode is not None:
        # run_pipeline stores carry the at-rest marker: refuse the two
        # silent failure shapes (ciphertext handed downstream as the
        # payload; plaintext "decrypted" with a key)
        if mode.get("sealed") and secret is None:
            raise ValueError(
                f"store {out_dir!r} is sealed at rest (key "
                f"{mode.get('key_fp')}); pass secret= to read payloads"
            )
        if not mode.get("sealed") and secret is not None:
            raise ValueError(
                f"store {out_dir!r} is not sealed; drop the secret= "
                "argument"
            )
    path = os.path.join(out_dir, "sinks")
    df = (
        spark.read.option("basePath", path).parquet(path)
        .filter(F.col("sink") == name)
    )
    if secret is not None:
        from skewer_spark.functions.crypto import open_col

        df = df.withColumn("encoded", open_col("encoded", secret))
    return df


def read_sink_asof(
    spark: SparkSession,
    out_dir: str,
    name: str,
    snapshot_id: str,
    secret: bytes | None = None,
) -> DataFrame:
    """Time-travel read: one destination's rows AS OF a snapshot.

    Visibility comes from the snapshot's member list (the Iceberg
    manifest-list analog written at commit time), never from clocks:
    buckets committed after the snapshot — including a crashed run's
    buckets that no snapshot ever covered — are invisible.  The filter
    is on the ``bucket`` partition column, so the scan prunes to the
    member buckets' directories (at 10^5 buckets the literal ``isin``
    stays a few-KB predicate; beyond that, join against
    ``read_snapshot_members`` instead)."""
    visible = ckpt.buckets_asof(spark, out_dir, snapshot_id)
    df = read_sink(spark, out_dir, name, secret=secret)
    if "bucket" not in df.columns:
        raise ValueError(
            "time-travel needs the bucketed store layout "
            "(run_pipeline); this out_dir has no bucket= partitions"
        )
    return df.filter(F.col("bucket").isin(visible))


def read_sink_diff(
    spark: SparkSession,
    out_dir: str,
    name: str,
    from_snapshot_id: str,
    to_snapshot_id: str,
    secret: bytes | None = None,
) -> DataFrame:
    """Incremental read: one destination's rows appended BETWEEN two
    snapshots — the Iceberg incremental-scan analog, and the cheap way
    to feed downstream consumers (index refresh, metric backfill,
    export) without rescanning 10^12 rows of history.

    ``from`` must be an ancestor of ``to`` on the lineage chain
    (``parent_snapshot_id`` walk) — diffing across divergent or
    reversed histories is a caller bug and raises rather than returning
    a silently-wrong row set.  The diff itself is pure bucket-set
    membership (buckets are append-granular, like Iceberg data files),
    so the scan prunes to exactly the new buckets' directories;
    ``replace`` snapshots in between (compaction) rewrite bytes but
    never membership, so they do not pollute the diff.
    """
    chain = {
        r.snapshot_id: r.parent_snapshot_id
        for r in ckpt._read_snapshots_or_empty(spark, out_dir)
    }
    if to_snapshot_id not in chain:
        raise ValueError(f"unknown snapshot {to_snapshot_id!r}")
    cur, seen = to_snapshot_id, set()
    while cur is not None and cur not in seen:
        if cur == from_snapshot_id:
            break
        seen.add(cur)
        cur = chain.get(cur)
    else:
        raise ValueError(
            f"{from_snapshot_id!r} is not an ancestor of "
            f"{to_snapshot_id!r}; incremental reads need a linear "
            "lineage between the two snapshots"
        )
    new_buckets = sorted(
        set(ckpt.buckets_asof(spark, out_dir, to_snapshot_id))
        - set(ckpt.buckets_asof(spark, out_dir, from_snapshot_id))
    )
    df = read_sink(spark, out_dir, name, secret=secret)
    if "bucket" not in df.columns:
        raise ValueError(
            "incremental reads need the bucketed store layout "
            "(run_pipeline); this out_dir has no bucket= partitions"
        )
    return df.filter(F.col("bucket").isin(new_buckets))


def compact_sinks(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    files_per_partition: int = 1,
) -> str:
    """Small-file compaction — the Iceberg ``rewrite_data_files``
    maintenance analog.  Per-bucket waves write one parquet file per
    task, so a 10^5-bucket × 4-sink store accumulates O(buckets ×
    sinks × tasks) small files; scans then pay per-file open cost.
    This rewrites each ``bucket=/sink=`` leaf down to
    ``files_per_partition`` files with IDENTICAL rows (no re-encode,
    no re-encrypt — bytes move, content doesn't), then commits a
    ``replace`` snapshot so lineage records the rewrite.

    The directory swap is atomic-enough on a local/HDFS filesystem
    (rename); on an object store this step is exactly what the Iceberg
    metadata swap replaces — documented, not hidden.
    """
    import shutil

    # fail fast, BEFORE the rewrite and the destructive swap: a reused
    # run_id would only be rejected by commit_snapshot at the very end —
    # after the backup was already deleted — leaving an unrecorded
    # rewrite with no lineage row and nothing to roll back to
    if run_id in ckpt.snapshotted_run_ids(spark, out_dir):
        raise ValueError(
            f"run_id {run_id!r} already snapshotted in {out_dir!r}; "
            "use a fresh run_id per compaction"
        )
    old = os.path.join(out_dir, "_sinks_precompact")
    if os.path.exists(old):
        raise RuntimeError(
            f"leftover {old} from a crashed compaction — a crash between "
            "the two renames leaves the pre-compaction data there; "
            "restore it to sinks/ (or remove it) before compacting"
        )
    path = os.path.join(out_dir, "sinks")
    df = spark.read.option("basePath", path).parquet(path)
    part_cols = [c for c in ("bucket", "sink") if c in df.columns]
    if "sink" not in part_cols:
        raise ValueError(f"{path} is not a sink store")
    tmp = os.path.join(out_dir, "_sinks_compacting")
    n_leaves = max(1, df.select(*part_cols).distinct().count())
    # hash-repartition on the partition columns puts each leaf's rows in
    # ONE task → one output file per leaf; files_per_partition > 1 adds
    # a deterministic uid salt so big leaves split into exactly that
    # many files
    keys = [F.col(c) for c in part_cols]
    if files_per_partition > 1:
        keys.append(F.pmod(F.xxhash64("uid"), F.lit(files_per_partition)))
    (
        df.repartition(n_leaves * files_per_partition, *keys)
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return ckpt.commit_snapshot(spark, out_dir, run_id, operation="replace")
