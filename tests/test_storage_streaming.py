"""Engine-storage ↔ streaming integration: writes through ZestStore are
immediately consumable as a Structured Stream (ST1 at scale)."""

from __future__ import annotations

import pyspark.sql.functions as F

from zestdb_spark.storage import ZestStore


def test_store_dir_is_streaming_source(spark, tmp_path):
    """The (series_id, time_bucket)-partitioned parquet dir that
    ZestStore appends to is a valid readStream source: the observe tier
    needs no separate log."""
    store = ZestStore(spark, str(tmp_path / "store"))
    for i in range(5):
        store.write_numeric("s1", {"value": float(i)}, timestamp=1000 * i)

    from zestdb_spark import schema as S
    from pyspark.sql import types as T

    read_schema = T.StructType(
        list(S.TS_NUMERIC.fields) + [T.StructField("time_bucket", T.LongType(), True)]
    )
    stream = (
        spark.readStream.schema(read_schema)
        .parquet(str(tmp_path / "store" / "ts_numeric"))
        .groupBy("series_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("store_stream_t")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        row = spark.sql("SELECT * FROM store_stream_t").collect()[0]
        assert row["n"] == 5 and row["mx"] == 4.0
    finally:
        q.stop()

