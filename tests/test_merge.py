"""Replay convergence + LWW semantics of the MERGE operator.

The properties the north rule demands (SURVEY §7.4 risks 1-3):
- replaying the same change stream in any batching reproduces the same
  final table state (byte-identical rows);
- stale updates (older (warc_ts, lsn)) never overwrite newer state, even
  across batches;
- delete-then-reinsert and update-then-delete inside one batch resolve to
  the final op per key;
- out-of-order arrival after a delete cannot resurrect the key
  (tombstone guard).
"""

import pytest
from pyspark.sql import functions as F, types as T

from datax_spark.cdc.generator import changes_df
from datax_spark.lake.merge import lww_dedup, merge_into
from datax_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def _table(spark, root):
    return LakeTable.create(spark, root, SCHEMA, key_col="url", num_buckets=4)


def _expected_final(spark, ch):
    ch.createOrReplaceTempView("_exp_ch")
    return spark.sql(
        """
        SELECT url,
               max_by(lang, struct(warc_ts, lsn)) AS lang,
               max_by(warc_ts, struct(warc_ts, lsn)) AS warc_ts
        FROM _exp_ch GROUP BY url
        HAVING max_by(op, struct(warc_ts, lsn)) <> 'D'
        """
    )


def _state(t):
    return t.read().select("url", "lang", "warc_ts")


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_lww_dedup_picks_newest(spark):
    rows = [
        (1, "U", "k1", "2024-01-01 00:00:10", "a"),
        (2, "U", "k1", "2024-01-01 00:00:05", "b"),  # older ts, higher lsn → loses
        (3, "U", "k2", "2024-01-01 00:00:05", "c"),
        (4, "D", "k2", "2024-01-01 00:00:05", None),  # same ts, higher lsn → wins
    ]
    df = spark.createDataFrame(rows, "lsn long, op string, url string, warc_ts string, lang string") \
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))
    out = {r["url"]: (r["op"], r["lsn"]) for r in lww_dedup(df, "url", "warc_ts", "lsn").collect()}
    assert out["k1"] == ("U", 1)
    assert out["k2"] == ("D", 4)


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("batching", [[1], [2, 3], [5, 1, 4, 7]])
def test_replay_convergence_any_batching(spark, tmp_path, batching, mode):
    ch = changes_df(spark, 4000, n_keys=600, partitions=8).cache()
    expected = _expected_final(spark, ch)
    root = str(tmp_path / f"t{len(batching)}_{mode}")
    t = _table(spark, root)
    total = sum(batching)
    bounds = [0]
    for w in batching:
        bounds.append(bounds[-1] + w)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        batch = ch.filter(
            (F.col("lsn") % total >= lo) & (F.col("lsn") % total < hi)
        )
        merge_into(t, batch, batch_id=i, merge_mode=mode)
    _assert_same(_state(t), expected)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_exact_replay_is_noop(spark, tmp_path, mode):
    ch = changes_df(spark, 2000, n_keys=300, partitions=4).cache()
    t = _table(spark, str(tmp_path / "t"))
    merge_into(t, ch, merge_mode=mode)
    before = _state(t).collect()
    merge_into(t, ch, merge_mode=mode)  # full duplicate delivery, no fence — LWW guard absorbs
    after = _state(t).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stale_update_cross_batch_noop(spark, tmp_path, mode):
    t = _table(spark, str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(
        rows, "lsn long, op string, url string, warc_ts string, lang string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).withColumn(
        "html", F.encode(F.coalesce(F.col("lang"), F.lit("")), "UTF-8")
    )
    merge_into(t, mk([(10, "I", "k", "2024-01-01 00:10:00", "new")]), merge_mode=mode)
    # older event arrives later (late replay of an earlier batch)
    merge_into(t, mk([(5, "U", "k", "2024-01-01 00:05:00", "old")]), merge_mode=mode)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["lang"] == "new"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_delete_then_stale_update_stays_dead(spark, tmp_path, mode):
    t = _table(spark, str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(
        rows, "lsn long, op string, url string, warc_ts string, lang string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).withColumn(
        "html", F.lit(None).cast("binary")
    )
    merge_into(t, mk([(1, "I", "k", "2024-01-01 00:01:00", "v1")]), merge_mode=mode)
    merge_into(t, mk([(9, "D", "k", "2024-01-01 00:09:00", None)]), merge_mode=mode)
    assert t.read().count() == 0
    # out-of-order older update must NOT resurrect the deleted key
    merge_into(t, mk([(5, "U", "k", "2024-01-01 00:05:00", "zombie")]), merge_mode=mode)
    assert t.read().count() == 0
    # but a genuinely newer insert revives it
    merge_into(t, mk([(12, "I", "k", "2024-01-01 00:12:00", "reborn")]), merge_mode=mode)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["lang"] == "reborn"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_then_delete_single_batch(spark, tmp_path, mode):
    t = _table(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [
            (1, "I", "k", "2024-01-01 00:01:00", "a"),
            (2, "U", "k", "2024-01-01 00:02:00", "b"),
            (3, "D", "k", "2024-01-01 00:03:00", None),
            (4, "I", "j", "2024-01-01 00:01:00", "x"),
            (5, "D", "j", "2024-01-01 00:02:00", None),
            (6, "I", "j", "2024-01-01 00:03:00", "y"),  # delete-then-reinsert
        ],
        "lsn long, op string, url string, warc_ts string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).withColumn("html", F.lit(None).cast("binary"))
    merge_into(t, df, merge_mode=mode)
    out = {r["url"]: r["lang"] for r in t.read().collect()}
    assert out == {"j": "y"}


def test_merge_only_rewrites_touched_buckets(spark, tmp_path):
    from datax_spark.lake.merge import bulk_load

    t = _table(spark, str(tmp_path / "t"))
    base = spark.range(400).select(
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("en").alias("lang"),
    )
    bulk_load(t, base)
    one = spark.createDataFrame(
        [(99, "U", "https://x/7", "2024-06-01 00:00:00", "de")],
        "lsn long, op string, url string, warc_ts string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).withColumn("html", F.lit(None).cast("binary"))
    snap = merge_into(t, one)
    assert len(snap["summary"]["replaced_buckets"]) == 1  # single-bucket CoW
    assert t.read().filter("url='https://x/7'").first()["lang"] == "de"
    assert t.read().count() == 400


def test_cow_base_then_tail_matches_reference(spark, tmp_path):
    """A cow merge into a non-empty target: the tail batch carries keys
    the base already holds (matched) and keys it does not (unmatched);
    the final state must equal the SQL LWW reference."""
    ch = changes_df(spark, 3000, n_keys=500, partitions=4).cache()
    base = ch.filter(F.col("lsn") <= 1000)
    tail = ch.filter(F.col("lsn") > 1000)
    base_keys = base.select("url").distinct()
    tail_keys = tail.select("url").distinct()
    assert tail_keys.intersect(base_keys).count() > 0
    assert tail_keys.subtract(base_keys).count() > 0
    t = _table(spark, str(tmp_path / "t"))
    merge_into(t, base, batch_id=0)
    snap = merge_into(t, tail, batch_id=1)
    assert snap["summary"]["merge_strategy"] == "cow-union"
    _assert_same(_state(t), _expected_final(spark, ch))


def test_mor_writes_deltas_only_and_compaction_folds(spark, tmp_path):
    from datax_spark.lake.merge import bulk_load

    t = _table(spark, str(tmp_path / "t"))
    base = spark.range(400).select(
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("en").alias("lang"),
    )
    bulk_load(t, base)
    files_before = len(t.manifest())
    one = spark.createDataFrame(
        [(99, "U", "https://x/7", "2024-06-01 00:00:00", "de")],
        "lsn long, op string, url string, warc_ts string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).withColumn("html", F.lit(None).cast("binary"))
    snap = merge_into(t, one, merge_mode="mor")
    # delta append: nothing replaced, exactly one new (delta) file
    assert snap["summary"]["replaced_buckets"] == []
    assert snap["summary"]["merge_strategy"] == "mor-delta"
    manifest = t.manifest()
    deltas = [e for e in manifest if e.get("kind") == "delta"]
    assert len(deltas) == 1 and len(manifest) == files_before + 1
    # read-time collapse: updated value visible, no duplicate key
    assert t.read().filter("url='https://x/7'").first()["lang"] == "de"
    assert t.read().count() == 400
    assert t.row_count() == 400  # exact path (delta present)
    # compaction folds the delta back into base files
    t.compact_buckets(min_files_per_bucket=2)
    assert all(e.get("kind") != "delta" for e in t.manifest())
    assert t.read().filter("url='https://x/7'").first()["lang"] == "de"
    assert t.read().count() == 400


def test_mor_and_cow_byte_identical(spark, tmp_path):
    ch = changes_df(spark, 3000, n_keys=500, partitions=4).cache()
    t_cow = _table(spark, str(tmp_path / "cow"))
    t_mor = _table(spark, str(tmp_path / "mor"))
    bounds = [0, 1, 3, 6]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        batch = ch.filter((F.col("lsn") % 6 >= lo) & (F.col("lsn") % 6 < hi))
        merge_into(t_cow, batch, batch_id=i, merge_mode="cow")
        merge_into(t_mor, batch, batch_id=i, merge_mode="mor")
    _assert_same(_state(t_cow), _state(t_mor))
    # and after compaction the MoR table still matches
    t_mor.compact_buckets(min_files_per_bucket=2)
    _assert_same(_state(t_cow), _state(t_mor))
    _assert_same(_state(t_mor), _expected_final(spark, ch))


def test_cow_transform_runs_once_on_winners(spark, tmp_path):
    """cow across a non-empty target, deletes and out-of-order arrivals
    with a post-dedup transform: the transform runs once per batch on
    the LWW winners only, and re-applying an older batch is a no-op."""
    ch = changes_df(spark, 3000, n_keys=500, partitions=4).cache()
    t = _table(spark, str(tmp_path / "cow"))
    base = ch.filter(F.col("lsn") <= 1000)
    tail = ch.filter(F.col("lsn") > 1000)

    def tag(df):
        return df.withColumn("lang", F.concat(F.lit("x-"), F.col("lang")))

    merge_into(t, base, batch_id=0, post_dedup_transform=tag)
    merge_into(t, tail, batch_id=1, post_dedup_transform=tag)
    expected = tag(_expected_final(spark, ch))
    _assert_same(_state(t), expected)
    assert t.read().filter(~F.col("lang").startswith("x-")).count() == 0
    assert t.read().filter(F.col("lang").startswith("x-x-")).count() == 0
    # stale re-apply of the base batch changes nothing
    merge_into(t, base, batch_id=2, post_dedup_transform=tag)
    _assert_same(_state(t), expected)


def test_cow_null_lsn_rows_not_dropped(spark, tmp_path):
    """A key whose only change carries a NULL lsn must survive the cow
    merge (the stats job keeps a null lsn range for its bucket)."""
    rows = [
        (None, "U", "k1", "2024-01-01 00:00:10", "a"),
        (7,    "U", "k2", "2024-01-01 00:00:05", "b"),
    ]
    sch = T.StructType([
        T.StructField("lsn", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("ts_s", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    ch = spark.createDataFrame(rows, sch).select(
        "lsn", "op", "url", F.col("ts_s").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "lang")
    t = _table(spark, str(tmp_path / "cow"))
    merge_into(t, ch, batch_id=0, merge_mode="cow")
    assert sorted((r["url"], r["lang"]) for r in t.read().collect()) == [
        ("k1", "a"), ("k2", "b")]


def test_unknown_merge_mode_rejected_before_any_job(spark, tmp_path):
    """Only cow and mor exist; any other mode fails before a job runs."""
    t = _table(spark, str(tmp_path / "t"))
    ch = changes_df(spark, 10, n_keys=5, partitions=1)
    sc = spark.sparkContext
    sc.setJobGroup("merge-mode-check", "unknown merge_mode")
    try:
        for mode in ("cow-union", "MOR", ""):
            with pytest.raises(ValueError, match="merge_mode"):
                merge_into(t, ch, merge_mode=mode)
        assert list(sc.statusTracker().getJobIdsForGroup("merge-mode-check")) == []
    finally:
        sc._jsc.clearJobGroup()
