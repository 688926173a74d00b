"""Compaction maintenance + event-time windowed rollups."""

from pyspark.sql import functions as F, types as T

from datax_spark.cdc.generator import changes_df
from datax_spark.cdc.windows import windowed_change_counts
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def test_compact_buckets_reduces_files(spark, tmp_path):
    from datax_spark.lake.merge import bulk_load

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key_col="url", num_buckets=4)
    # CoW merges leave one file per touched bucket — compaction is a no-op
    ch0 = changes_df(spark, 400, n_keys=200, partitions=4)
    merge_into(t, ch0, batch_id=0)
    assert t.compact_buckets(min_files_per_bucket=2) is None
    # appends (bulk loads) accumulate files per bucket
    base = spark.range(200).select(
        F.concat(F.lit("https://b/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("en").alias("lang"),
    )
    bulk_load(t, base, lsn=1_000_000)
    bulk_load(
        t,
        base.withColumn("url", F.concat(F.lit("https://c/"), F.col("url"))),
        lsn=2_000_000,
    )
    before_files = len(t.manifest())
    before_rows = sorted(map(tuple, t.read().select("url", "lang").collect()))
    snap = t.compact_buckets(min_files_per_bucket=2)
    assert snap is not None and snap["summary"]["operation"] == "compact"
    after_files = len(t.manifest())
    assert after_files <= 4 < before_files
    # contents identical after compaction
    after_rows = sorted(map(tuple, t.read().select("url", "lang").collect()))
    assert before_rows == after_rows
    # vacuum drops the replaced files
    assert t.vacuum() > 0
    assert sorted(map(tuple, t.read().select("url", "lang").collect())) == before_rows


def test_windowed_counts_batch(spark):
    ch = changes_df(spark, 3000, n_keys=500, partitions=4)
    w = windowed_change_counts(ch, window_duration="10 minutes").collect()
    assert sum(r["n_events"] for r in w) == 3000
    assert all(r["window_end"] > r["window_start"] for r in w)
    ops = {r["op"] for r in w}
    assert ops == {"I", "U", "D"}


def test_windowed_counts_streaming_with_watermark(spark, tmp_path):
    import glob
    import os
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)
    ch = changes_df(spark, 2000, n_keys=300, partitions=2)
    stg = str(tmp_path / "stg")
    ch.coalesce(1).write.parquet(stg)
    shutil.move(glob.glob(f"{stg}/part-*.parquet")[0], f"{src}/f0.parquet")

    from datax_spark.cdc.pipeline import CHANGE_SCHEMA

    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(src)
    agg = windowed_change_counts(stream, window_duration="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    total = spark.sql("SELECT sum(n_events) s FROM win_counts").first()["s"]
    assert total == 2000


def test_size_aware_compaction_trigger(spark, tmp_path):
    """max_delta_ratio compacts by VOLUME: a big base with tiny deltas
    stays put; once delta bytes outweigh the ratio, only the offending
    buckets fold (STATUS round-2 limitation: counter-based compact_every
    churned hot buckets regardless of size)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key_col="url", num_buckets=4)
    big = spark.range(4000).select(
        F.concat(F.lit("https://b/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.encode(F.repeat(F.lit("x"), 200), "UTF-8").alias("html"),
        F.lit("en").alias("lang"),
    )
    from datax_spark.lake.merge import bulk_load

    bulk_load(t, big, lsn=1)
    # tiny trickle delta: far below the ratio -> no compaction
    tiny = changes_df(spark, 20, n_keys=10, partitions=1)
    merge_into(t, tiny, batch_id=1, merge_mode="mor")
    amp = t.delta_amplification()
    assert amp and max(amp.values()) < 0.5
    assert t.compact_buckets(min_files_per_bucket=None, max_delta_ratio=0.5) is None
    # bulk delta comparable to the base -> ratio exceeded -> compacts
    merge_into(t, changes_df(spark, 6000, n_keys=3000, partitions=4),
               batch_id=2, merge_mode="mor")
    assert max(t.delta_amplification().values()) > 0.5
    before_rows = sorted(map(tuple, t.read().select("url", "lang").collect()))
    snap = t.compact_buckets(min_files_per_bucket=None, max_delta_ratio=0.5)
    assert snap is not None
    assert t.delta_amplification() == {}  # all deltas folded
    assert sorted(map(tuple, t.read().select("url", "lang").collect())) == before_rows


def test_delta_amplification_reports_ratio(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key_col="url", num_buckets=2)
    merge_into(t, changes_df(spark, 200, n_keys=100, partitions=2), batch_id=0)
    assert t.delta_amplification() == {}  # pure CoW: no deltas
    merge_into(t, changes_df(spark, 200, n_keys=100, partitions=2),
               batch_id=1, merge_mode="mor")
    amp = t.delta_amplification()
    assert amp and all(r > 0 for r in amp.values())
