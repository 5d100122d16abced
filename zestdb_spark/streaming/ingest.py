"""Streaming ingest INTO the store (the write-side dual of observe.py).

The reference ingests one CoAP request at a time into a write buffer
that flushes to shards (src/server.re:1200 — max_buffer_size=10000,
shard_size=1000). The Spark-native equivalent of that firehose is
Structured Streaming: ``readStream`` on whatever transport lands the
data (file drop, Kafka, rate source) → validation → ``foreachBatch``
appending each micro-batch to the ZestStore layout as ONE bulk write
carrying ONE provenance record (write_log), exactly like each
reference buffer-flush is one Irmin commit with one Prov.info message.

At 100 TB/day this is the ingestion story: micro-batches are
distributed appends into (series_id, time_bucket) partitions,
checkpointing gives exactly-once per batch, and ``compact()`` plays
the role of the reference's shard overlap-merge behind the write head.

Validation mirrors the request path's is_valid (numeric_timeseries
.re:5-13) relationally: rows with a null/NaN value are diverted, not
fatal — a poisoned record must not kill a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zestdb_spark.storage import ZestStore

#: columns a ts_numeric-shaped stream must provide
_REQUIRED = ("series_id", "timestamp", "value")


def validated(stream_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ts_numeric-shaped stream into (good, rejected) by the
    reference's ingest rules: series and timestamp present, value a
    real number. Both halves stay streaming frames."""
    for c in _REQUIRED:
        if c not in stream_df.columns:
            raise ValueError(f"stream is missing required column {c!r}")
    if "tag_name" not in stream_df.columns:
        stream_df = stream_df.withColumn("tag_name", F.lit(None).cast("string"))
    if "tag_value" not in stream_df.columns:
        stream_df = stream_df.withColumn("tag_value", F.lit(None).cast("string"))
    ok = (
        F.col("series_id").isNotNull()
        & F.col("timestamp").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan(F.col("value"))
    )
    cols = ["series_id", "timestamp", "value", "tag_name", "tag_value"]
    return (
        stream_df.filter(ok).select(*cols),
        stream_df.filter(~F.coalesce(ok, F.lit(False))).select(*cols),
    )


def start_ingest(
    stream_df: DataFrame,
    store: ZestStore,
    checkpoint_dir: str,
    client: str = "stream",
    path: str = "/ts/stream",
    trigger_once: bool = False,
):
    """Attach a validated ts_numeric stream to ``store``: every
    micro-batch becomes one distributed bulk append under one
    provenance record (write_log path carries the batch id, so
    lineage survives at per-commit granularity like the reference's
    shard writes). Returns the StreamingQuery.

    EXACTLY-ONCE under replay: foreachBatch is at-least-once, so a
    batch that committed before a crash can be redelivered. The sink
    stamps every append ``txn=(app_id, batch_id)`` — the batch marker
    rides the SAME atomic manifest commit as the data files
    (snapshots.commit / Delta's idempotent-writes txn recipe), so
    there is no ordering window: a crash either happened before the
    commit (no data, no marker — the replay appends) or after it
    (data AND marker — the replay is skipped via the manifest's
    per-app watermark). Structured Streaming batch ids are monotone
    per checkpoint, so the watermark is one integer, not a set.

    Batch identity is scoped to the CHECKPOINT (the app_id digests
    checkpoint_dir and the target path): a fresh checkpoint or a
    second stream on the same target can never collide with old batch
    numbers. The write_log row still lands after the data — it is
    provenance/lineage, never the commit-or-not oracle."""
    import hashlib

    good, _bad = validated(stream_df)
    ck_digest = hashlib.md5(f"{checkpoint_dir}\x00{path}".encode()).hexdigest()[:12]
    app_id = f"ingest-{ck_digest}"
    last = store.last_txn_version("ts_numeric", app_id)
    if last is None and store._exists("write_log"):
        # UPGRADE path (once, at attach): a checkpoint whose history
        # predates the manifest-txn watermarks has no txn record — its
        # committed batches live only as legacy write_log rows keyed by
        # the OLD digest (md5(checkpoint_dir)[:10], no path salt). If
        # such rows exist, seed the watermark from their max batch id
        # so the first post-upgrade redelivery is skipped, not
        # re-appended. One bounded log scan; brand-new checkpoints pay
        # only the filter on an existing log.
        legacy_prefix = (
            f"{path}/ck/{hashlib.md5(checkpoint_dir.encode()).hexdigest()[:10]}/batch/"
        )
        legacy = (
            store.load("write_log")
            .filter(F.col("path").startswith(legacy_prefix))
            .select(
                F.max(
                    F.substring(F.col("path"), len(legacy_prefix) + 1, 20).cast("long")
                ).alias("b")
            )
            .collect()
        )
        if legacy and legacy[0]["b"] is not None:
            last = int(legacy[0]["b"])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal last
        if last is not None and batch_id <= last:
            return  # redelivered batch — its marker is in the manifest
        if not batch_df.head(1):
            return
        with store._request("POST", f"{path}/ck/{ck_digest}/batch/{batch_id}", client):
            store.write_numeric_bulk(batch_df, txn=(app_id, batch_id))
        last = batch_id

    writer = good.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
