"""Structured Streaming ingestion — the reference's Kafka→Delta job
(spark/SaveDelta.scala) re-expressed, source- and sink-agnostic.

The transform (operators/cdc.parse_cdc) is the SAME function the batch/oracle
path uses; only the frame source differs. That is the testing seam the
reference itself hints at with its rate-source fallback
(SaveDelta.scala:121-128): file source + Trigger.AvailableNow in tests,
Kafka + processing-time trigger in deployment.

Scale posture: one micro-batch = one Kafka offset range per partition; the
parse is stateless (no shuffle), so throughput scales linearly with
executors × topic partitions. Checkpointing gives exactly-once into
file/Delta sinks (T3, SaveDelta.scala:161).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cdc import parse_cdc
from ..sources.txnlog import TxnConflictError, TxnTable

# Schema of the raw CDC record frame (FIXTURES.md §4 / Kafka wire format).
CDC_RAW_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
])


def stream_cdc_from_files(spark: SparkSession, path: str,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stand-in for the Kafka topic (S1/S2 test twin):
    a directory of parquet files with the Kafka record schema.
    ``max_files_per_trigger`` bounds each micro-batch (the file-source
    analog of a Kafka offset range) — without it availableNow drains the
    directory in one batch."""
    reader = spark.readStream.schema(CDC_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(path)
    return parse_cdc(raw)


def stream_cdc_from_kafka(spark: SparkSession, bootstrap_servers: str,
                          topic: str, starting_offsets: str = "earliest") -> DataFrame:
    """S1 (SaveDelta.scala:104-112): Kafka source with the reference's
    options (earliest offsets, tolerate data loss). Requires the
    spark-sql-kafka package (cluster deployment); without it, load() fails
    at analysis time — re-raised here with the actionable fix."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .option("failOnDataLoss", "false")
            .load()
        )
    except Exception as e:  # AnalysisException: data source not found
        raise RuntimeError(
            "Kafka source unavailable: add the spark-sql-kafka-0-10 package "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark "
            "version>) or use stream_cdc_from_files for the file-source twin"
        ) from e
    return parse_cdc(raw)  # parse_cdc casts binary value → string itself


def stream_rate_fallback(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """S2 (SaveDelta.scala:123-127): synthetic rate source fallback."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second).load()
    )


# --- sink plumbing shared by every streaming sink in this package ---------


def _start(writer, checkpoint: str | None, available_now: bool,
           processing_time: str | None = None):
    """Set the checkpoint and the trigger on ``writer`` (a
    DataStreamWriter) and start the query. An explicit
    ``processing_time`` wins over ``available_now``, which otherwise
    picks availableNow (drain what is there, then stop) over Spark's
    default continuous micro-batching."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _stream_meta(batch_id: int, app_id: str | None, operation: str) -> dict:
    meta = {"stream_batch_id": batch_id, "operation": operation}
    if app_id is not None:
        meta["stream_app_id"] = app_id
    return meta


def _ledger_seen(table: TxnTable, app_id: str | None,
                 batch_id: int) -> bool:
    """True when the (app_id, batch_id) ledger already covers this
    batch — the Delta SetTransaction lookup every exactly-once sink
    runs. None-SAFE: batch 0's high water is 0, which the
    ``(x or -1) >= batch_id`` idiom mis-read as absent — with the r12
    in-commit ledger raise, that false negative turned a batch-0
    replay race into 10+ doomed retries and a dead stream instead of
    an absorbed replay."""
    seen = table.max_stream_batch_id(app_id)
    return seen is not None and seen >= batch_id


def _routed_append(table: TxnTable, batch_df, batch_id: int,
                   app_id: str | None, meta: dict) -> None:
    """Replay-guarded append THROUGH the table's declared write path —
    the leg for targets that declare generated/identity/partition_by
    config (a raw ``_write_data`` would bypass generation and strand
    rows outside a declared partition layout). ``append()`` handles
    ordinary version races internally (data written once, only the
    metadata publish retries — except identity re-assignment, which
    must rewrite); a conflict that ESCAPES it is re-checked against
    the ledger (the in-commit ledger raise surfaces same-batch replica
    races this way) and absorbed when it was our own replay."""
    try:
        table.append(batch_df, meta)
    except TxnConflictError:
        if not _ledger_seen(table, app_id, batch_id):
            raise
        return  # racer was our own replay: batch already committed
    table.checkpoint_if_needed()


def _retry_commit(table: TxnTable, batch_id: int, app_id: str | None,
                  attempt) -> bool:
    """Run ``attempt()`` (which must raise TxnConflictError on a lost
    commit race), re-checking the ledger after every lost race. True
    when ``attempt()`` committed, False when the ledger shows the
    batch was committed by someone else — our own replay."""
    for _ in range(5):
        try:
            attempt()
            table.checkpoint_if_needed()
            return True
        except TxnConflictError:
            if _ledger_seen(table, app_id, batch_id):
                return False
    attempt()
    table.checkpoint_if_needed()
    return True


def _guarded_commit(table: TxnTable, batch_id: int, app_id: str | None,
                    attempt) -> None:
    """Run ``attempt()`` unless the (app_id, batch_id) ledger says
    this leg already committed; see :func:`_retry_commit`."""
    if not _ledger_seen(table, app_id, batch_id):
        _retry_commit(table, batch_id, app_id, attempt)


def _guarded_append(table: TxnTable, frame: DataFrame, batch_id: int,
                    app_id: str | None, op: str) -> bool:
    """The exactly-once append leg every txn append sink shares: one
    ledger lookup, one write, one commit. True when the table holds
    this batch afterwards (committed now or by an earlier run), False
    when the frame was empty and nothing was committed.

    A plain target runs ONE Spark job, the parquet write: the written
    dir's row count comes from its footers, and an empty frame removes
    its dir and commits nothing (a crash before that removal leaves an
    unreferenced dir for ``vacuum()``). A target with generated/
    identity/partition config goes through :func:`_routed_append`
    after an ``isEmpty()`` job, since ``append()`` would commit an
    empty version. A lost commit race that turns out to be our own
    replay drops the now-orphaned dir."""
    if _ledger_seen(table, app_id, batch_id):
        return True
    meta = _stream_meta(batch_id, app_id, op)
    if table.generation_config():
        if frame.isEmpty():
            return False
        _routed_append(table, frame, batch_id, app_id, meta)
        return True
    rel = table._write_data(frame)  # noqa: SLF001 — package-internal
    written = os.path.join(table.path, rel)
    if table._dir_rows(rel) == 0:  # noqa: SLF001 — footers only
        shutil.rmtree(written, ignore_errors=True)
        return False
    if not _retry_commit(table, batch_id, app_id,
                         lambda: table.commit([rel], [], meta)):
        shutil.rmtree(written, ignore_errors=True)
    return True


def write_stream_parquet(df: DataFrame, path: str, checkpoint: str,
                         available_now: bool = True, processing_time: str | None = None):
    """K1 (SaveDelta.scala:156-163): checkpointed append sink. Parquet here;
    on a lakehouse deployment swap format for "delta" — the call shape is
    identical."""
    w = (df.writeStream.format("parquet").outputMode("append")
         .option("path", path))
    return _start(w, checkpoint, available_now, processing_time)


def write_stream_memory(df: DataFrame, name: str, available_now: bool = True):
    """Test sink: in-memory table queryable as ``SELECT * FROM {name}``."""
    w = df.writeStream.format("memory").queryName(name).outputMode("append")
    return _start(w, None, available_now)


def write_stream_merge(df: DataFrame, target: str, checkpoint: str,
                       key: str = "id", order_col: str = "start_datetime",
                       available_now: bool = True):
    """Streaming UPSERT sink: each micro-batch MERGEs into the target by
    key via foreachBatch — the Delta "MERGE INTO from a stream" pattern
    (the incremental successor to the reference's append-only sink), on
    plain parquet. Last write per key wins; replayed batches are
    idempotent because merge is keyed, so the end state is exactly-once
    even at-least-once delivery.

    Parquet cannot transactionally overwrite a path it is reading, so the
    merged batch is materialized (localCheckpoint) before the overwrite —
    on Delta this hop disappears (MERGE is a single transactional
    command); at 100 TB pair with write_overwrite_partitions so only the
    batch's partitions rewrite.
    """
    from ..operators.merge import merge_upsert

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # last event per key within the batch wins (micro-batches can
        # carry several CDC frames for one key)
        latest = (batch_df.withColumn(
            "__rn", F.row_number().over(
                W.partitionBy(key).orderBy(F.desc(order_col))))
            .filter(F.col("__rn") == 1).drop("__rn"))
        # Only "target does not exist yet" may fall back to plain-append
        # semantics (ADVICE r2): a transient read/merge/materialization
        # error must FAIL the batch so the checkpoint retries it —
        # swallowing it here would overwrite the whole target with just
        # this micro-batch (silent data loss).
        jvm_fs = spark._jvm.org.apache.hadoop.fs  # noqa: SLF001
        hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        tpath = jvm_fs.Path(target)
        if tpath.getFileSystem(hconf).exists(tpath):
            target_df = spark.read.parquet(target)
            merged = merge_upsert(target_df, latest.select(*target_df.columns),
                                  key).localCheckpoint()
        else:  # first batch: no target yet
            merged = latest
        merged.write.mode("overwrite").parquet(target)

    return _start(df.writeStream.foreachBatch(_merge), checkpoint,
                  available_now)


def write_stream_merge_txn(df: DataFrame, target: str, checkpoint: str,
                           key: str = "id", order_col: str = "start_datetime",
                           available_now: bool = True,
                           matched_delete: str | None = None,
                           insert: bool | str = True):
    """Streaming MERGE INTO a transactional table (sources/txnlog.TxnTable)
    — the actual Delta-sink shape (SaveDelta.scala:157-163 + MERGE, minus
    the jars): each micro-batch upserts by key and commits atomically, so
    a crash at ANY point leaves the previous snapshot intact (the failure
    mode the plain-parquet write_stream_merge can only narrow, not close).

    Exactly-once comes from two independent layers: the commit meta
    records the micro-batch id, so a batch replayed after
    crash-after-commit-before-checkpoint is detected and skipped; and the
    merge itself is keyed, so even a double-applied batch converges to
    the same state.

    ``matched_delete`` / ``insert`` (r11): the MERGE clause surface for
    streaming CDC APPLY — a feed carrying tombstones (e.g. a
    ``__deleted`` flag column) deletes matched keys and skips inserting
    tombstones for unseen keys (``insert="NOT __deleted"``), in the SAME
    atomic commit as the batch's upserts. Last-event-per-key dedup runs
    first, so a key that is updated then tombstoned within one batch
    deletes."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        table = TxnTable(target)
        if _ledger_seen(table, None, batch_id):
            return  # replay of an already-committed batch
        latest = (batch_df.withColumn(
            "__rn", F.row_number().over(
                W.partitionBy(key).orderBy(F.desc(order_col))))
            .filter(F.col("__rn") == 1).drop("__rn"))
        table.merge(spark, latest, key,
                    meta={"stream_batch_id": batch_id},
                    matched_delete=matched_delete, insert=insert)

    return _start(df.writeStream.foreachBatch(_merge), checkpoint,
                  available_now)


def write_stream_txn_append(df: DataFrame, target: str, checkpoint: str,
                            app_id: str | None = None,
                            available_now: bool = True,
                            processing_time: str | None = None,
                            export_delta: bool = False):
    """Exactly-once streaming APPEND into a transactional table on the
    JVM write path: each micro-batch writes its parquet with Spark's
    native writer (whole-stage codegen straight into the commit dir — no
    Arrow hop into Python workers) and then publishes one atomic log
    commit. Same exactly-once contract as ``format("txnlog")``
    (SetTransaction-style log-scan replay guard keyed by
    ``stream_batch_id``/``app_id``); same crash story (an unreferenced
    dir from a crash between write and commit is invisible and falls to
    ``vacuum()``). Use this when sink throughput matters — the Python
    DataSource sink pays the JVM→Arrow→Python→parquet round trip per
    batch (~1.8x slower on the CDC bench); this one matches the plain
    parquet sink minus one footer-stats harvest per commit (footer
    metadata only, O(files-per-batch), fine at micro-batch file counts —
    executor-computed stats stay the DataSource path's advantage).
    Reference anchor: SaveDelta.scala:157-163 (checkpointed Delta append
    sink).

    Each micro-batch is one :func:`_guarded_append` leg: ONE Spark job
    on a plain target, and an empty batch (e.g. only malformed or
    tombstone frames) commits nothing.

    ``export_delta=True`` (r14) re-exports the table's Delta-protocol
    ``_delta_log`` after every committed micro-batch — the INCREMENTAL
    export writes only the new commit's JSON (O(batch), the
    export-per-commit shape the interop module documents), so a real
    Delta reader can tail the streamed table continuously."""
    def _append(batch_df: DataFrame, batch_id: int) -> None:
        table = TxnTable(target)
        # a replayed batch also re-runs the export: a crash BETWEEN
        # commit and export would otherwise leave the exported log one
        # commit behind indefinitely on a quiet stream (incremental
        # export is a no-op when already current)
        if _guarded_append(table, batch_df, batch_id, app_id,
                           "stream_append"):
            _maybe_export(table)

    def _maybe_export(table) -> None:
        if export_delta:
            from ..sources.deltainterop import (
                compact_delta_log_if_needed,
                export_delta_checkpoint_if_needed,
                export_delta_log,
            )

            export_delta_log(table)
            # checkpoint cadence keeps the foreign reader's JSON-tail
            # replay bounded as the streamed history grows; between
            # checkpoints, log compaction keeps the tail SEGMENT at
            # O(tail/span) replay units (r14 session 5 — a bounded
            # JSON rewrite, far cheaper than an extra checkpoint)
            export_delta_checkpoint_if_needed(
                df.sparkSession, table.path)
            compact_delta_log_if_needed(table.path, span=5)

    return _start(df.writeStream.foreachBatch(_append), checkpoint,
                  available_now, processing_time)


def notify_foreach_batch(df: DataFrame, send, checkpoint: str,
                         available_now: bool = True):
    """K4 (slack_notification.py:37-91): filtered webhook sink via
    foreachBatch. ``send(row_dict)`` is the transport — an HTTP POST in
    deployment, a list-append in tests (the reference's requests.post is
    IO wiring, not query semantics)."""
    from ..operators.relational import notifier_events

    msgs = notifier_events(df)

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.toLocalIterator():
            send(row.asDict())

    return _start(msgs.writeStream.foreachBatch(_emit), checkpoint,
                  available_now)
