"""Lake table format: commits, reads, evolution, tombstones, time travel."""

import pytest
from pyspark.sql import functions as F, types as T

from datax_spark.lake.merge import bulk_load, merge_into
from datax_spark.lake.schema import TableSchema, can_widen, widen
from datax_spark.lake.table import CommitConflict, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def _mk(spark, root, nb=4):
    return LakeTable.create(spark, root, SCHEMA, key_col="url", num_buckets=nb)


def _pages(spark, n, v="a"):
    return spark.range(n).select(
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.lit(v).alias("lang"),
    )


def test_create_load_roundtrip(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    assert t.read().count() == 0
    t2 = LakeTable(spark, tmp_table_root).load()
    assert t2.key_col == "url" and t2.num_buckets == 4


def test_bulk_load_and_read(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    bulk_load(t, _pages(spark, 100))
    assert t.read().count() == 100
    assert set(t.read().columns) == {"url", "warc_ts", "lang"}
    # system columns available on demand
    sys_df = t.read(include_system=True)
    assert "_lsn" in sys_df.columns and "_deleted" in sys_df.columns


def test_bucket_pruned_read(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    bulk_load(t, _pages(spark, 200))
    total = sum(t.read(buckets=[b]).count() for b in range(4))
    assert total == 200
    # manifest has at most one file per (bucket, write)
    assert len(t.manifest()) <= 4


def test_snapshot_time_travel(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    s1 = bulk_load(t, _pages(spark, 50))
    s2 = bulk_load(t, _pages(spark, 30, v="b").withColumn(
        "url", F.concat(F.lit("https://y/"), F.col("url"))))
    assert t.read(snapshot_id=s1["snapshot_id"]).count() == 50
    assert t.read(snapshot_id=s2["snapshot_id"]).count() == 80


def test_commit_conflict_detected(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    stale = LakeTable(spark, tmp_table_root).load()
    bulk_load(t, _pages(spark, 10))
    with pytest.raises(CommitConflict):
        bulk_load(stale, _pages(spark, 10))


def test_widen_lattice():
    assert can_widen("int", "bigint")
    assert can_widen("float", "double")
    assert not can_widen("bigint", "int")
    assert widen("int", "bigint") == "bigint"
    assert can_widen("decimal(10,2)", "decimal(18,2)")
    assert not can_widen("decimal(10,2)", "decimal(18,4)")
    with pytest.raises(ValueError):
        widen("string", "bigint")


def test_schema_union_evolution():
    ts = TableSchema.from_spark(SCHEMA)
    incoming = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("fetch_status", T.IntegerType(), True),
        ]
    )
    ev, changes = ts.evolve_to_union(incoming)
    assert ev.schema_id == ts.schema_id + 1
    assert any("add column fetch_status" in c for c in changes)
    # field ids are stable for untouched fields
    assert ev.by_name()["url"].id == ts.by_name()["url"].id


def test_expire_tombstones_and_vacuum(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    bulk_load(t, _pages(spark, 40))
    deletes = spark.range(10).select(
        (F.col("id") + 100).alias("lsn"),
        F.lit("D").alias("op"),
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1704070000) + F.col("id")).alias("warc_ts"),
        F.lit(None).cast("string").alias("lang"),
    )
    merge_into(t, deletes)
    assert t.read().count() == 30
    assert t.read(include_deleted=True).count() == 40  # tombstones retained
    t.expire_tombstones()
    assert t.read(include_deleted=True).count() == 30
    removed = t.vacuum()
    assert removed > 0
    # table still reads fine after vacuum
    assert t.read().count() == 30


def test_lookup_point_read_prunes_to_one_bucket(spark, tmp_table_root):
    """lookup(key) computes the bucket python-side (bit-identical xxh64)
    and scans ONLY that bucket's files; result equals the full-scan
    filter, including through MoR deltas and tombstones."""
    t = _mk(spark, tmp_table_root, nb=8)
    bulk_load(t, _pages(spark, 200))

    url = "https://x/57"
    got = t.lookup(url).collect()
    want = t.read().where(F.col("url") == url).collect()
    assert got == want and len(got) == 1

    # the pruned scan reads strictly fewer files than the full scan
    full_files = set(t.read().inputFiles())
    point_files = set(t.lookup(url).inputFiles())
    assert point_files and point_files < full_files
    assert len(point_files) <= len(full_files) / 4  # 1 of 8 buckets

    # bucket math agrees with the JVM's bucket_expr for every key
    from datax_spark.lake.table import bucket_expr

    jvm = {
        r["url"]: r["b"]
        for r in _pages(spark, 200)
        .select("url", bucket_expr("url", 8).alias("b"))
        .collect()
    }
    assert all(t.key_bucket(u) == b for u, b in jvm.items())

    # through a MoR delta + tombstone: lookup sees the LWW winner
    import datetime as _dt

    late = _dt.datetime(2099, 1, 1)  # beats every bulk-load warc_ts in LWW
    upd = spark.createDataFrame(
        [("https://x/57", late, "zz", 999_999, "U"),
         ("https://x/58", late, "aa", 999_999, "D")],
        "url string, warc_ts timestamp, lang string, lsn long, op string",
    )
    merge_into(t, upd, batch_id=1, merge_mode="mor")
    assert t.lookup("https://x/57").collect()[0]["lang"] == "zz"
    assert t.lookup("https://x/58").collect() == []

    # integral-key tables: the python bucket and bloom math follow the
    # key column's declared type (Spark hashes int with the 4-byte
    # hashInt, bigint with the 8-byte hashLong), so every key of either
    # table is found, through a MoR delta too
    n = 16
    for kt in (T.LongType(), T.IntegerType()):
        t2 = LakeTable.create(
            spark, f"{tmp_table_root}_{kt.simpleString()}",
            T.StructType([T.StructField("k", kt, False),
                          T.StructField("warc_ts", T.TimestampType(), True),
                          T.StructField("v", T.StringType(), True)]),
            key_col="k", num_buckets=4,
        )
        bulk_load(t2, spark.range(n).select(
            F.col("id").cast(kt).alias("k"),
            F.timestamp_seconds(F.lit(1704067200)).alias("warc_ts"),
            F.lit("x").alias("v")))
        merge_into(t2, spark.createDataFrame(
            [(7, late, "y", 999_999, "U")],
            "k int, warc_ts timestamp, v string, lsn long, op string",
        ), batch_id=1, merge_mode="mor")
        jvm = {r["k"]: r["b"] for r in
               t2.read().select("k", bucket_expr("k", 4).alias("b")).collect()}
        assert {k: t2.key_bucket(k) for k in range(n)} == jvm
        for k in range(n):
            got = [r["v"] for r in t2.lookup(k).collect()]
            assert got == ["y" if k == 7 else "x"], (kt, k)

    with pytest.raises(TypeError):
        t2.key_bucket(True)


def test_lookup_bloom_skips_unrelated_delta_files(spark, tmp_table_root):
    """Each MoR delta file carries a manifest key bloom; a point lookup
    probes the blooms PYTHON-side and scans only the base file plus the
    deltas that actually wrote the key — not every delta in the bucket."""
    import datetime as _dt

    t = _mk(spark, tmp_table_root, nb=2)
    bulk_load(t, _pages(spark, 60))

    # 5 trickle MoR batches, each updating 3 DISTINCT keys
    def _batch(i):
        ts = _dt.datetime(2099, 1, 1 + i)
        rows = [(f"https://x/{k}", ts, f"b{i}", 10_000 + i * 10 + j, "U")
                for j, k in enumerate(range(i * 3, i * 3 + 3))]
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, lang string, lsn long, op string")

    for i in range(5):
        merge_into(t, _batch(i), batch_id=100 + i, merge_mode="mor")

    deltas = [e for e in t.manifest() if e["kind"] == "delta"]
    assert deltas and all(e.get("key_bloom") for e in deltas)
    assert all(e["bloom_bits"] == 1 << 16 for e in deltas)

    # key updated ONLY in batch 3: lookup must read strictly fewer delta
    # files than live in its bucket (bloom fp rate at 3 keys/64Kbit ≈ 0)
    key = "https://x/9"  # batch 3 covers keys 9,10,11
    got = t.lookup(key).collect()
    assert len(got) == 1 and got[0]["lang"] == "b3"
    point_files = set(t.lookup(key).inputFiles())
    b = t.key_bucket(key)
    bucket_files = {e["path"].split("/")[-1] for e in t.manifest() if e["bucket"] == b}
    bucket_deltas = [e for e in deltas if e["bucket"] == b]
    point_deltas = sum(1 for f in point_files
                       if any(f.endswith(e["path"].split("/")[-1]) for e in bucket_deltas))
    assert len(bucket_deltas) >= 2, "fixture must spread batches over this bucket"
    assert point_deltas == 1, (point_files, bucket_files)

    # no false negatives anywhere: every key still resolves to its LWW row
    expect = {r["url"]: r["lang"] for r in t.read().collect()}
    for k in [0, 4, 9, 13, 14, 30, 59]:
        u = f"https://x/{k}"
        rows = t.lookup(u).collect()
        assert len(rows) == 1 and rows[0]["lang"] == expect[u], u

    # JVM-built bloom vs python probe parity on a fresh filter
    from datax_spark.operators.bloom import bucket_blooms, might_contain_python

    df = spark.range(500).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
        (F.col("id") % 3).cast("int").alias("bk"),
    )
    blooms = bucket_blooms(df, "key", "bk", num_bits=1 << 14)
    for i in range(0, 500, 37):
        bkt = i % 3
        assert might_contain_python(blooms[bkt], 1 << 14, 5, f"k{i}")
    fp = sum(1 for i in range(500, 1500)
             if might_contain_python(blooms[i % 3], 1 << 14, 5, f"k{i}"))
    assert fp < 100  # far under saturation at this sizing


def test_delta_bloom_disable_property(spark, tmp_table_root):
    import datetime as _dt

    t = LakeTable.create(
        spark, tmp_table_root, SCHEMA, key_col="url", num_buckets=2,
        properties={"delta_bloom_bits": 0},
    )
    bulk_load(t, _pages(spark, 20))
    upd = spark.createDataFrame(
        [("https://x/3", _dt.datetime(2099, 1, 1), "zz", 999, "U")],
        "url string, warc_ts timestamp, lang string, lsn long, op string")
    merge_into(t, upd, batch_id=1, merge_mode="mor")
    deltas = [e for e in t.manifest() if e["kind"] == "delta"]
    assert deltas and all(not e.get("key_bloom") for e in deltas)
    assert t.lookup("https://x/3").collect()[0]["lang"] == "zz"


def test_delete_where_tombstones_and_purge_where_erases(spark, tmp_table_root):
    """delete_where: logical tombstones through the fenced MERGE (history
    kept as versions); purge_where: affected buckets rewritten, every
    version of matching keys physically gone from the current snapshot,
    untouched buckets' files untouched."""
    t = _mk(spark, tmp_table_root, nb=4)
    bulk_load(t, _pages(spark, 100))
    # second version for some keys via MoR (history to purge later)
    import datetime as _dt

    upd = spark.createDataFrame(
        [(f"https://x/{k}", _dt.datetime(2099, 1, 1), "b", 5000 + k, "U")
         for k in range(0, 100, 10)],
        "url string, warc_ts timestamp, lang string, lsn long, op string")
    merge_into(t, upd, batch_id=1, merge_mode="mor")
    t = t.load()
    assert t.read().where(F.col("lang") == "b").count() == 10

    # logical delete of all lang='b' rows
    snap = t.delete_where(F.col("lang") == "b", ts_col="warc_ts", batch_id=2)
    assert snap is not None
    t = t.load()
    assert t.read().where(F.col("lang") == "b").count() == 0
    assert t.read().count() == 90
    # versions survive the logical delete (raw scan still sees 'b' rows)
    raw = t.read(include_deleted=True, collapse=False)
    assert raw.where(F.col("lang") == "b").count() == 10
    # no-match delete is a no-op
    assert t.load().delete_where(F.col("lang") == "zz", ts_col="warc_ts",
                                 batch_id=3) is None

    # physical purge: every version of those keys erased
    before_paths = {e["path"] for e in t.manifest()}
    snap2 = t.load().purge_where(F.col("lang") == "b")
    assert snap2 is not None
    t = t.load()
    assert t.read().count() == 90
    assert t.read(include_deleted=True, collapse=False) \
        .where(F.col("lang") == "b").count() == 0
    purged_keys = {f"https://x/{k}" for k in range(0, 100, 10)}
    left = {r["url"] for r in
            t.read(include_deleted=True, collapse=False).select("url").collect()}
    assert not (left & purged_keys)

    # single-key purge rewrites ONE bucket; the other buckets' files
    # survive the commit verbatim
    before_paths = {e["path"] for e in t.manifest()}
    t.purge_where(F.col("url") == "https://x/1")
    t = t.load()
    b1 = t.key_bucket("https://x/1")
    untouched_now = {e["path"] for e in t.manifest() if e["bucket"] != b1}
    rewritten_now = {e["path"] for e in t.manifest() if e["bucket"] == b1}
    assert untouched_now and untouched_now <= before_paths
    assert rewritten_now.isdisjoint(before_paths)
    assert t.read().count() == 89


def test_stats_manifest_report(spark, tmp_table_root):
    import datetime as _dt

    t = _mk(spark, tmp_table_root, nb=4)
    bulk_load(t, _pages(spark, 80))
    upd = spark.createDataFrame(
        [("https://x/3", _dt.datetime(2099, 1, 1), None, 900, "D"),
         ("https://x/5", _dt.datetime(2099, 1, 1), "zz", 901, "U")],
        "url string, warc_ts timestamp, lang string, lsn long, op string")
    merge_into(t, upd, batch_id=1, merge_mode="mor")
    s = t.load().stats()
    assert s["files"]["base"] >= 1 and s["files"]["delta"] >= 1
    assert s["records"]["base"] == 80 and s["records"]["delta"] == 2
    assert s["tombstones"] == 1
    assert s["num_buckets"] == 4 and s["snapshots"] == 2
    assert s["worst_delta_amplification"] > 0
    assert s["files_per_bucket"]["max"] >= s["files_per_bucket"]["min"] >= 1


def test_driver_bloom_build_bit_identical(spark, tmp_path):
    """r6: trickle-sized delta writes build their key blooms on the
    driver (bucket_blooms_local) instead of via a Spark job — the bytes
    must be identical to the distributed build, for string, long AND int
    keys (int32 keys hash with the 4-byte hashInt), so manifest pruning
    semantics cannot depend on batch size."""
    import glob
    import os

    from pyspark.sql import functions as F

    from datax_spark.operators.bloom import bucket_blooms, bucket_blooms_local

    keys = {"str": F.concat(F.lit("k-"), F.col("id").cast("string")),
            "long": F.col("id"), "int": F.col("id").cast("int")}
    for typ, key in keys.items():
        df = spark.range(300).select(
            key.alias("k"),
            F.pmod(F.col("id"), F.lit(4)).alias("_bucket"),
        )
        out = str(tmp_path / f"bl_{typ}")
        df.write.partitionBy("_bucket").parquet(out)
        dist = bucket_blooms(
            spark.read.parquet(out).select("k", "_bucket"),
            "k", "_bucket", 1 << 12, 5)
        files = []
        for bdir in glob.glob(os.path.join(out, "_bucket=*")):
            b = int(os.path.basename(bdir).split("=")[1])
            files += [(p, b) for p in glob.glob(os.path.join(bdir, "*.parquet"))]
        local = bucket_blooms_local(files, "k", 1 << 12, 5)
        assert set(dist) == set(local) == {0, 1, 2, 3}
        for b in dist:
            assert dist[b] == local[b], (typ, b)


def test_trickle_delta_write_uses_driver_bloom(spark, tmp_table_root, monkeypatch):
    """A small MoR delta write must not launch the bloom Spark job (the
    driver path covers it) — and lookups through those blooms still
    prune and answer correctly."""
    from pyspark.sql import functions as F, types as T

    import datax_spark.operators.bloom as bloom_mod
    from datax_spark.lake.merge import merge_into
    from datax_spark.lake.table import LakeTable

    calls = {"dist": 0}
    orig = bloom_mod.bucket_blooms

    def spy(*a, **k):
        calls["dist"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(bloom_mod, "bucket_blooms", spy)
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("v", T.LongType(), True),
    ])
    t = LakeTable.create(spark, tmp_table_root, schema, key_col="k", num_buckets=4)
    ch = spark.range(50).select(
        F.concat(F.lit("u-"), F.col("id").cast("string")).alias("k"),
        F.lit("I").alias("op"),
        F.timestamp_seconds(F.col("id") + 1).alias("ts"),
        F.col("id").alias("lsn"),
        (F.col("id") * 10).alias("v"),
    )
    merge_into(t, ch, ts_col="ts", merge_mode="mor", batch_id=1, stream_id="s")
    assert calls["dist"] == 0, "small delta should use the driver bloom build"
    t = t.load()
    assert [r["v"] for r in t.lookup("u-7").collect()] == [70]
    m = t.manifest()
    assert all(e["key_bloom"] is not None for e in m if e["kind"] == "delta")
