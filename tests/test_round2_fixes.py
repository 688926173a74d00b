"""Round-2 parity/robustness fixes: dx_filter null semantics + type
dispatch, live-row accounting, vacuum vs time travel, fence epoch reset,
frame-sampling fan-out."""

import pytest
from pyspark.sql import functions as F, types as T

from datax_spark.functions.transformers import dx_filter


# ------------------------------------------------------------- dx_filter

def _df(spark):
    # s: string column with numeric-looking values; n: long with nulls
    rows = [(1, "9", 5), (2, "10", None), (3, None, 7), (4, "abc", 20)]
    return spark.createDataFrame(rows, "id long, s string, n long")


def test_dx_filter_string_column_compares_lexicographically(spark):
    # reference FilterTransformer: StringColumn compares String#compareTo
    # even when the value parses numeric — "9" > "10" lexicographically.
    kept = sorted(r.id for r in dx_filter(_df(spark), "s", ">", "10").collect())
    # drops rows where s > "10" lexicographically: "9">"10" T, "abc">"10" T
    # null (id 3) never matches >: kept
    assert kept == [2, 3]


def test_dx_filter_long_column_numeric_compare(spark):
    kept = sorted(r.id for r in dx_filter(_df(spark), "n", "<", 10).collect())
    # n<10 matches (drops) ids 1 (5) and 3 (7); null n (id 2) kept
    assert kept == [2, 4]


def test_dx_filter_noteq_drops_nulls(spark):
    # doNotEqual: null column MATCHES (dropped) unless value == 'null'
    kept = sorted(r.id for r in dx_filter(_df(spark), "s", "!=", "9").collect())
    assert kept == [1]  # only the exact match survives; nulls dropped
    kept2 = sorted(r.id for r in dx_filter(_df(spark), "s", "!=", "null").collect())
    assert kept2 == [3]  # value 'null': only the null row survives


def test_dx_filter_notlike_drops_nulls(spark):
    kept = sorted(r.id for r in dx_filter(_df(spark), "s", "not like", "[0-9]+").collect())
    assert kept == [1, 2]  # numeric strings survive; 'abc' and null dropped


def test_dx_filter_eq_null_literal(spark):
    kept = sorted(r.id for r in dx_filter(_df(spark), "s", "=", "null").collect())
    assert kept == [1, 2, 4]  # null row dropped


# ------------------------------------------------------------- lake table

def _mk_table(spark, root):
    from datax_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    return LakeTable.create(spark, root, schema, key_col="url", num_buckets=4)


def _pages(spark, n, prefix="https://x/"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )


def test_row_count_excludes_tombstones(spark, tmp_path):
    from datax_spark.lake.merge import bulk_load, merge_into

    t = _mk_table(spark, str(tmp_path / "t"))
    bulk_load(t, _pages(spark, 40).drop("lsn", "op"))
    deletes = _pages(spark, 10).withColumn("op", F.lit("D")).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
    ).withColumn("lsn", F.col("lsn") + 1000)
    merge_into(t, deletes)
    assert t.read().count() == 30
    assert t.row_count() == 30  # live excludes tombstones
    snap = t.current_snapshot()
    assert snap["summary"]["total_rows"] == 40


def test_vacuum_preserves_time_travel_with_retention(spark, tmp_path):
    from datax_spark.lake.merge import bulk_load

    t = _mk_table(spark, str(tmp_path / "t"))
    bulk_load(t, _pages(spark, 10).drop("lsn", "op"))
    s1 = t.current_snapshot()["snapshot_id"]
    bulk_load(t, _pages(spark, 10, prefix="https://y/").drop("lsn", "op"))
    t.compact_buckets(min_files_per_bucket=1)
    # retain-all vacuum removes nothing still referenced by any snapshot
    assert t.vacuum(expire_keep_last=None) == 0
    assert t.read(snapshot_id=s1).count() == 10  # time travel intact
    # expire down to the latest snapshot, then vacuum frees old files
    removed = t.vacuum(expire_keep_last=1)
    assert removed > 0
    assert t.read().count() == 20
    with pytest.raises(KeyError):
        t.read(snapshot_id=s1)


def test_fence_epoch_resets_high_water(spark, tmp_path):
    from datax_spark.lake.merge import merge_into

    t = _mk_table(spark, str(tmp_path / "t"))
    ch = _pages(spark, 5)
    merge_into(t, ch, stream_id="s", batch_id=3, fence_epoch="epochA")
    assert t.last_batch_id("s", "epochA") == 3
    assert t.last_batch_id("s") == 3  # wildcard (legacy callers)
    assert t.last_batch_id("s", "epochB") == -1  # new checkpoint generation


# ------------------------------------------------------------ multimodal

def test_sample_frames_fanout_vectorized(spark):
    from datax_spark.operators.multimodal import sample_frames, synthetic_media

    media = synthetic_media(spark, 60)
    vids = media.filter(F.col("kind") == "video").collect()
    frames = sample_frames(media, every_ms=1000).collect()
    want = {
        r["media_id"]: max(1, (r["meta"]["duration_ms"] or 0) // 1000) for r in vids
    }
    got: dict[int, int] = {}
    for fr in frames:
        got[fr["media_id"]] = got.get(fr["media_id"], 0) + 1
        assert len(fr["frame"]) <= 32
    assert got == want
    # frame content matches the scalar stub definition
    by_id = {r["media_id"]: bytes(r["payload"]) for r in vids}
    for fr in frames:
        p = by_id[fr["media_id"]]
        lo = (fr["frame_idx"] * 32) % max(1, len(p))
        assert bytes(fr["frame"]) == p[lo : lo + 32]


def test_dx_filter_null_literal_on_typed_columns(spark):
    # regression: '='/'!=' with the value "null" must not try to parse
    # 'null' as a number on long/double/date columns
    df = _df(spark)
    kept_eq = sorted(r.id for r in dx_filter(df, "n", "=", "null").collect())
    assert kept_eq == [1, 3, 4]  # only the null-n row (id 2) dropped
    kept_ne = sorted(r.id for r in dx_filter(df, "n", "!=", "null").collect())
    assert kept_ne == [1, 2, 3, 4]  # numeric column never text-matches


def test_legacy_int_fence_resets_under_epoch(spark, tmp_path):
    from datax_spark.lake.merge import merge_into

    t = _mk_table(spark, str(tmp_path / "t"))
    ch = _pages(spark, 5)
    # legacy commit: no epoch recorded (round-1 format)
    merge_into(t, ch, stream_id="s", batch_id=7)
    assert t.last_batch_id("s") == 7  # epoch-less callers still fenced
    # epoch-aware caller cannot trust an epoch-less mark → reset
    assert t.last_batch_id("s", "epochX") == -1
    # next epoch-tagged commit upgrades the fence format
    merge_into(t, ch, stream_id="s", batch_id=0, fence_epoch="epochX")
    assert t.last_batch_id("s", "epochX") == 0
    assert t.last_batch_id("s", "epochY") == -1


def test_post_dedup_transform_contract_guard(spark, tmp_path):
    from datax_spark.lake.merge import merge_into

    t = _mk_table(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="enrichment"):
        merge_into(t, _pages(spark, 5),
                   post_dedup_transform=lambda df: df.drop("lang"))


def test_jdbc_split_requires_bounds(spark):
    from datax_spark.sources.files import read_jdbc_partitioned

    with pytest.raises(ValueError, match="bounds"):
        read_jdbc_partitioned(spark, "jdbc:mysql://h/db", "t", split_col="id")
