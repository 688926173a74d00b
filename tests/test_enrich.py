"""Stream-stream watermarked enrichment join (cdc/enrich.py): real
Structured Streaming drive vs the identical batch plan as oracle."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from datax_spark.cdc.enrich import stream_enrich_join

CH = "url string, warc_ts timestamp, lsn long"
MT = "host string, meta_ts timestamp, policy string"


def _changes(spark):
    # events at minute marks t+0 .. t+59 over 4 keys
    return spark.range(60).select(
        F.concat(F.lit("h"), (F.col("id") % 4).cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 60).alias("warc_ts"),
        F.col("id").alias("lsn"),
    )


def _meta(spark):
    # policy rows every 10 minutes per key, plus one key with none
    return spark.range(24).select(
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"),
        F.timestamp_seconds(F.lit(1704067200) + (F.col("id") / 3).cast("long") * 600)
         .alias("meta_ts"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("policy"),
    )


def _write_single(df, src, base, name):
    stg = f"{base}/stg_{name}"
    df.coalesce(1).write.parquet(stg)
    os.makedirs(src, exist_ok=True)
    shutil.move(glob.glob(f"{stg}/part-*.parquet")[0], f"{src}/{name}.parquet")


def test_stream_enrich_matches_batch_plan(spark, tmp_path):
    base = str(tmp_path)
    ch_src, mt_src = f"{base}/ch", f"{base}/mt"
    ch, mt = _changes(spark), _meta(spark)
    # two files per stream: exercise cross-micro-batch join state
    _write_single(ch.where(F.col("lsn") < 30), ch_src, base, "c0")
    _write_single(ch.where(F.col("lsn") >= 30), ch_src, base, "c1")
    _write_single(mt.where(F.col("policy") < "p12"), mt_src, base, "m0")
    _write_single(mt.where(F.col("policy") >= "p12"), mt_src, base, "m1")

    want = stream_enrich_join(
        ch, mt, "url", meta_key_col="host", tolerance="15 minutes"
    )
    assert want.count() > 0

    cs = spark.readStream.schema(ch.schema).parquet(ch_src)
    ms = spark.readStream.schema(mt.schema).parquet(mt_src)
    out = stream_enrich_join(
        cs, ms, "url", meta_key_col="host", tolerance="15 minutes"
    )
    sink = f"{base}/out"
    q = (out.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", f"{base}/ckpt")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    got = spark.read.parquet(sink)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # key with no metadata (h3) is dropped inner, kept left with NULLs
    assert want.where(F.col("url") == "h3").count() == 0
    left = stream_enrich_join(
        ch, mt, "url", meta_key_col="host", tolerance="15 minutes", how="left"
    )
    h3 = left.where(F.col("url") == "h3")
    assert h3.count() == 15 and h3.where(F.col("m_policy").isNull()).count() == 15

    # tolerance bound: a change BEFORE any metadata of its key matches none
    first = left.where((F.col("url") == "h0") & (F.col("lsn") == 0))
    # change at t+0, metadata at t+0 qualifies (<=), so exactly 1 match
    assert first.count() == 1
