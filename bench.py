"""Benchmark harness — prints ONE JSON line.

Headline: sustained CDC MERGE throughput (events/s) replaying a bounded,
deterministic change stream into the from-scratch lake table, measured at
two parallelism levels on the SAME parquet input — local[8] (N) vs
local[32] (4N) — evidencing the north rule's two-cluster-size scaling
criterion in this single-box sandbox (see BASELINE.md). Plus wall time
for representative queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR.

Scaling protocol: input events are generated once and written to parquet
(identical bytes for both runs); each session first runs a full-size
warmup replay into a throwaway table (codegen compiled, allocator pools
grown, heap committed — the steady state a long-lived streaming job runs
in), then times the real replay; efficiency = (T_N / T_4N) / (4N/N).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CORES_SMALL = max(2, CPUS // 4)
# sf0.1 events table = 100k rows -> 3.2M change events by default;
# SPARK_GRAFT_BENCH_EVENTS_PER_ROW=64 SPARK_GRAFT_BENCH_BATCHES=1 gives
# the big-batch configuration used for the BENCH.md scaling evidence.
EVENTS_PER_SF_ROW = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS_PER_ROW", "32"))
N_BATCHES = int(os.environ.get("SPARK_GRAFT_BENCH_BATCHES", "2"))
NUM_BUCKETS = 64
HTML_PARAGRAPHS = 20    # ~2.8 KB pages (Common-Crawl-ish weight)

QUERY_NAMES = [
    "cdc_lww_final_state",
    "q1_pricing_summary",
    "q3_shipping",
    "dedup_exact",
    "dedup_minhash_lsh",
    "doc_token_stats",
    "ann_cosine_topk",
    # round-3 session additions
    "asof_enrich_events",
    "range_join_event_windows",
    "doc_hash_split",
    "sketch_kmv_distinct",
    # round-4 session additions
    "bucket_local_agg",
    "hll_distinct_urls",
    "doc_paragraph_dedup",
    "cdc_canonical_merge",
    "bucket_local_join",
    "dedup_components",      # the iterative star-contraction path
    "dedup_repeated_spans",
    # round-4 late additions
    "cdc_scd2_history",
    "heavy_hitters_partkey",
    "bloom_semi_join",
    "ann_kmeans_clusters",
    "emb_semantic_dedup",
    "cdc_scd2_lookup",
    # round-5 additions
    "cdc_multi_source_union",
    "events_zone_scan",
]

# dedup_exact regressed 0.42→0.98 s in BENCH_r03 with an UNCHANGED plan
# (no rebalance in its path; scan → digest → hash agg) — extra reps to
# separate noise from signal on this virtualized host (VERDICT r3 #4).
EXTRA_REPS = {"dedup_exact": 4}


def _fresh_spark(cores: int):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        time.sleep(1)
    from datax_spark.session import get_spark

    # tmpfs for shuffle/spill: measures compute scaling, not /tmp disk
    os.makedirs("/dev/shm/datax_bench_local", exist_ok=True)
    return get_spark(
        app_name=f"bench_{cores}",
        master=f"local[{cores}]",
        # 4x cores: keeps per-task aggregation state small enough to stay
        # in the hash-agg fast path (32 partitions over a 10 GB batch
        # spilled; 128 ran 3x faster); AQE coalesces the light stages
        shuffle_partitions=cores * 4,
        extra_conf={
            "spark.local.dir": "/dev/shm/datax_bench_local",
            # one JVM in local mode; pre-commit the heap so page-fault
            # storms don't serialize the timed region (measured: cold
            # JVMs spend 10s of seconds in minor-fault kernel time)
            "spark.driver.memory": "24g",
            # GCLockerRetryAllocationCount: the sf1 run surfaced the JDK
            # GCLocker-starvation lottery (spurious OOM in the parquet
            # read-ahead thread with free heap, "Retried waiting for
            # GCLocker too often") under heavy Arrow/snappy JNI critical
            # sections; the default of 2 retries is far too few at 32
            # concurrent tasks — see BENCH.md round-5 stability note.
            "spark.driver.extraJavaOptions": (
                "-Xms24g -XX:+AlwaysPreTouch "
                "-XX:+UnlockDiagnosticVMOptions "
                "-XX:GCLockerRetryAllocationCount=64"
            ),
        },
    )


def _replay(spark, input_path: str, table_root: str, n_events: int,
            merge_mode: str = "cow") -> float:
    """Timed bounded replay: N_BATCHES fenced merges with the html→text
    pandas-UDF extractor on the post-dedup winners (the full north-star
    hot path). Returns seconds."""
    from pyspark.sql import functions as F, types as T

    from datax_spark.cdc.apply import apply_changes
    from datax_spark.functions.extract import with_enrichment
    from datax_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("lang_id", T.StringType(), True),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("quality", T.DoubleType(), True),
            T.StructField("fp", T.LongType(), True),
        ]
    )
    # warmup: a full-size replay into a throwaway table reaches JVM/python
    # steady state (codegen compiled, allocator pools grown, heap
    # committed, page cache warm) — the state a long-running streaming
    # job actually operates in, which is what we measure.
    ch = spark.read.parquet(input_path)
    wt = LakeTable.create(spark, f"{table_root}_warm", schema, key_col="url",
                          num_buckets=NUM_BUCKETS)
    apply_changes(wt, ch, batch_id=0, transform=with_enrichment, merge_mode=merge_mode)
    shutil.rmtree(f"{table_root}_warm", ignore_errors=True)

    # two timed repetitions into fresh tables; report the min (the box
    # is virtualized and noisy — min-of-repeats is the standard estimator
    # for the machine's actual capability). Throwaway tables are deleted
    # between reps: the workspace is tmpfs, and letting ~9 GB tables
    # accumulate puts the LAST measurements under memory pressure (the
    # round-3 first full run recorded a 61 s MoR replay purely because it
    # ran after ~50 GB of dead tables had piled up in RAM).
    per = n_events // N_BATCHES
    times = []
    for rep in range(2):
        t = LakeTable.create(spark, f"{table_root}_r{rep}", schema, key_col="url",
                             num_buckets=NUM_BUCKETS)
        t0 = time.time()
        for b in range(N_BATCHES):
            hi = (b + 1) * per if b < N_BATCHES - 1 else n_events + 1
            batch = ch.filter((F.col("lsn") > b * per) & (F.col("lsn") <= hi))
            apply_changes(t, batch, batch_id=b, transform=with_enrichment,
                          merge_mode=merge_mode)
        times.append(time.time() - t0)
        shutil.rmtree(f"{table_root}_r{rep}", ignore_errors=True)
    return min(times)


def _shard_trickle(tmp_base: str, n_rows: int = 400_000, group: int = 4096,
                   budget: int = 4096, triggers: int = 6) -> dict:
    """Per-trigger read cost of a bounded tail crawling ONE large shard
    file: the round-4 row-group-pruned `_read_slice` vs the round-3
    whole-file decode (reimplemented inline as the A baseline). With
    pruning, a trigger reads ∝ budget bytes regardless of file size —
    the delta VERDICT r3 #2 asked to be measured. Pure pyarrow (the
    executor-side read path), no Spark session needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datax_spark.sources.shardtail import ShardSlice, _read_slice

    d = os.path.join(tmp_base, "shard_trickle", "shard=0")
    os.makedirs(d, exist_ok=True)
    fpath = os.path.join(d, "f0000.parquet")
    t = pa.table({
        "lsn": pa.array(range(n_rows), pa.int64()),
        "payload": pa.array([f"padding-{i % 97:064d}" for i in range(n_rows)]),
    })
    pq.write_table(t, fpath, row_group_size=group)
    files = [(fpath, 0, n_rows)]

    def _full_read(part):  # the pre-round-4 implementation, A baseline
        table = pq.read_table(part.files[0][0]).slice(part.start, part.end - part.start)
        yield from table.to_batches()

    out = {}
    for label, reader in (("shard_trickle_pruned_sec", _read_slice),
                          ("shard_trickle_fullread_sec", _full_read)):
        t0 = time.time()
        rows = 0
        for k in range(triggers):
            lo = k * budget
            for b in reader(ShardSlice("0", files, lo, lo + budget)):
                rows += b.num_rows
        assert rows == triggers * budget
        out[label] = round(time.time() - t0, 3)
    shutil.rmtree(os.path.join(tmp_base, "shard_trickle"), ignore_errors=True)
    return out


def _ann_highdim(spark, n: int = 50000, dim: int = 512, n_q: int = 32, k: int = 10) -> dict:
    """Dim-based ANN dispatch delta at a realistic embedding size: the
    interpreted HOF cosine fold vs the Arrow/numpy matmul path, same
    deterministic 512-dim corpus (xxhash64-derived components — no RNG)."""
    from pyspark.sql import functions as F

    from datax_spark.operators.similarity import cosine_topk

    corpus = (
        spark.range(n)
        .withColumn(
            "embedding",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: (F.pmod(F.xxhash64(F.col("id"), d), F.lit(2001)) - 1000.0) / 1000.0,
            ).cast("array<float>"),
        )
        .select(F.col("id").alias("vec_id"), "embedding")
        .repartition(CPUS)
        .persist()
    )
    corpus.count()
    q = corpus.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = {}
    for label, dim_arg in (("ann_highdim_hof", None), ("ann_highdim_numpy", dim)):
        best = None
        for _rep in range(2):
            t0 = time.time()
            cosine_topk(corpus, q, k=k, dim=dim_arg).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[label] = round(best, 2)
    corpus.unpersist()
    return out


def _trickle(spark, base: str) -> dict:
    """Trickle-batch latency: median seconds per 1k-event batch applied to
    a 200k-key table, copy-on-write vs merge-on-read. The MoR number is
    the engine's answer to the CoW full-bucket-rewrite scale problem —
    per-batch cost ∝ batch, not touched-bucket bytes."""
    from pyspark.sql import functions as F, types as T

    from datax_spark.cdc.apply import apply_changes
    from datax_spark.cdc.generator import changes_df
    from datax_spark.functions.extract import with_enrichment
    from datax_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("lang_id", T.StringType(), True),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("quality", T.DoubleType(), True),
            T.StructField("fp", T.LongType(), True),
        ]
    )
    big = changes_df(spark, 200_000, n_keys=200_000, partitions=CPUS,
                     html_paragraphs=HTML_PARAGRAPHS)
    trickle = changes_df(spark, 500_000, n_keys=200_000, partitions=CPUS,
                         html_paragraphs=HTML_PARAGRAPHS) \
        .filter("lsn > 490000").cache()
    trickle.count()
    out = {}
    for mode in ("cow", "mor"):
        root = f"{base}/trickle_{mode}"
        t = LakeTable.create(spark, root, schema, key_col="url", num_buckets=NUM_BUCKETS)
        apply_changes(t, big, batch_id=0, ts_col="warc_ts",
                      transform=with_enrichment, merge_mode="cow")
        apply_changes(t, trickle.limit(100), batch_id=1, ts_col="warc_ts",
                      transform=with_enrichment, merge_mode=mode)  # warm
        times = []
        for b in range(6):
            batch = trickle.filter(
                (F.col("lsn") > 491_000 + b * 1000) & (F.col("lsn") <= 492_000 + b * 1000)
            )
            t0 = time.time()
            apply_changes(t, batch, batch_id=b + 2, ts_col="warc_ts",
                          transform=with_enrichment, merge_mode=mode)
            times.append(time.time() - t0)
        out[f"trickle_{mode}_median_sec"] = round(sorted(times)[len(times) // 2], 2)
        shutil.rmtree(root, ignore_errors=True)  # tmpfs hygiene (see _replay)
    trickle.unpersist()
    return out


def _calibration_burn(_):
    import hashlib

    h = b"x"
    for _ in range(1_000_000):
        h = hashlib.md5(h).digest()
    return 0


def _host_calibration() -> dict:
    """Fixed-work CPU probe: flags noisy-neighbor interference on this
    virtualized host (cross-run variance up to 2x observed). Nominal
    single-core time on a quiet host ≈ 0.45 s; a higher reading means
    the accompanying throughput numbers understate the engine."""
    import multiprocessing as mp

    t0 = time.time()
    _calibration_burn(0)
    single = time.time() - t0
    t0 = time.time()
    with mp.Pool(16) as p:
        p.map(_calibration_burn, range(16))
    par16 = time.time() - t0
    # fixed TOTAL work at the two scaling widths: the host's own maximum
    # N->4N speedup in THIS window (pure CPU, zero shared state, no
    # Spark) — the physical ceiling any engine scaling number is graded
    # against. On real hardware this is ~4.0; on this shared box it has
    # measured 2.6-3.0 (the documented DRAM/hypervisor ceiling).
    units = 64
    t0 = time.time()
    with mp.Pool(N_CORES_SMALL) as p:
        p.map(_calibration_burn, range(units))
    burn_n = time.time() - t0
    t0 = time.time()
    with mp.Pool(CPUS) as p:
        p.map(_calibration_burn, range(units))
    burn_4n = time.time() - t0
    return {
        "single_core_sec": round(single, 2),
        "parallel16_sec": round(par16, 2),
        f"burn64_{N_CORES_SMALL}w_sec": round(burn_n, 2),
        f"burn64_{CPUS}w_sec": round(burn_4n, 2),
        # max t_N/t_4N the host can physically deliver in this window
        "host_speedup_n_to_4n": round(burn_n / burn_4n, 3),
    }


def main() -> None:
    import __spark_entry__ as entry_mod

    t_bench0 = time.time()
    calibration = _host_calibration()
    # tmpfs workspace: a 1000-executor cluster brings aggregate disk/net
    # bandwidth that scales with N; this box's single 380 MB/s disk does
    # not, so measuring compute scaling requires RAM-backed storage.
    base = tempfile.mkdtemp(prefix="datax_bench_", dir="/dev/shm")
    try:
        # ---- derive scale from the sf dir
        spark = _fresh_spark(CPUS)
        sf_rows = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
        n_events = sf_rows * EVENTS_PER_SF_ROW
        sf = round(sf_rows / 1_000_000, 4)

        # ---- deterministic input, written once, shared by both runs
        from datax_spark.cdc.generator import changes_df

        changes_df(
            spark, n_events, n_keys=max(1000, n_events // 4), partitions=CPUS,
            html_paragraphs=HTML_PARAGRAPHS,
        ).write.parquet(f"{base}/changes")
        # ---- representative queries at SF_DIR (current session, 4N cores)
        # min-of-2: the first execution pays plan analysis + cold shuffle
        # files; the steady-state number is what a resident service sees
        q_times: dict[str, float] = {}
        qs = entry_mod.queries()
        for name in QUERY_NAMES:
            best = None
            for _rep in range(EXTRA_REPS.get(name, 2)):
                t0 = time.time()
                qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            q_times[name] = round(best, 2)

        # ---- trickle-batch latency (cow vs mor), 4N session
        trickle_stats = _trickle(spark, base)
        q_times.update(trickle_stats)

        # ---- high-dim ANN dispatch delta (512-dim, numpy vs HOF)
        q_times.update(_ann_highdim(spark))

        # ---- shard-tail per-trigger read cost (pruned vs full decode)
        q_times.update(_shard_trickle(base))

        # ---- replay at 4N cores (this session)
        t_4n = _replay(spark, f"{base}/changes", f"{base}/t4n", n_events)
        t_4n_mor = _replay(spark, f"{base}/changes", f"{base}/t4nm", n_events,
                           merge_mode="mor")
        q_times["cdc_replay_4n_mor"] = round(t_4n_mor, 2)

        # ---- replay at N cores: a fresh SUBPROCESS, same input bytes.
        # Restarting a SparkSession inside one Python process leaves the
        # new context's PythonAccumulatorV2 channel broken (observed in
        # BENCH_r02/r03 tails: every N-core task completion logged
        # "Failed to update accumulator 0" — harmless here since no
        # engine metric rides python accumulators, but ~10^3 ERROR lines
        # of noise and a real measurement-hygiene smell). A child process
        # gives the N-core run a genuinely fresh JVM instead.
        # Known residual: spark.stop() stops the CONTEXT but this
        # process's py4j gateway JVM stays resident (idle, but holding
        # its pre-touched heap) through the child runs — it cannot be
        # shed without ending this process. tools/submit_scaling.py is
        # the clean-room protocol (every arm a fresh child, generator
        # in a subprocess); its independently-measured efficiency
        # brackets this in-session number.
        spark.stop()
        time.sleep(1)
        import subprocess

        def _n_core_child(mode: str, root: str) -> float:
            child = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--replay-child",
                 str(N_CORES_SMALL), f"{base}/changes", root, str(n_events), mode],
                # child = warmup + 2 timed reps; at sf1 (32M events) each
                # N-core rep runs ~1000 s, so a flat 3600 s cap is too tight
                capture_output=True, text=True,
                timeout=max(3600, int(n_events / 2000)),
            )
            if child.returncode != 0:
                sys.stderr.write(child.stderr[-4000:])
                raise RuntimeError(
                    f"N-core {mode} replay child failed rc={child.returncode}")
            return json.loads(child.stdout.strip().splitlines()[-1])["replay_sec"]

        t_n = _n_core_child("cow", f"{base}/tn")
        # MoR arm at N too: the north metric is MERGE throughput scaling,
        # and mor is the merge mode a sustained 10^10-event tail would run
        # (delta appends, compaction amortized) — so its N->4N efficiency
        # is reported alongside CoW's, not inferred from it. MoR moves
        # fewer bytes per batch (no bucket rewrite), so the 4N arm sits
        # further from this host's shared-DRAM ceiling.
        t_n_mor = _n_core_child("mor", f"{base}/tnm")
        q_times["cdc_replay_n_mor"] = round(t_n_mor, 2)

        ratio = CPUS / N_CORES_SMALL
        efficiency = (t_n / t_4n) / ratio if t_4n > 0 else None
        efficiency_mor = (t_n_mor / t_4n_mor) / ratio if t_4n_mor > 0 else None
        eps_4n = n_events / t_4n
        q_times["cdc_replay_4n"] = round(t_4n, 2)
        q_times["cdc_replay_n"] = round(t_n, 2)

        out = {
            "metric": "cdc_merge_replay_sec_at_4N",
            "value": round(t_4n, 3),
            "unit": "sec",
            "queries": q_times,
            "sf": sf,
            "n_change_events": n_events,
            "events_per_sec_4n": round(eps_4n),
            "events_per_sec_n": round(n_events / t_n),
            "scaling": {
                "n_cores": N_CORES_SMALL,
                "4n_cores": CPUS,
                "t_n_sec": round(t_n, 2),
                "t_4n_sec": round(t_4n, 2),
                "efficiency": round(efficiency, 3) if efficiency else None,
                # fraction of the HOST's own max N->4N speedup (see
                # host_calibration.host_speedup_n_to_4n) the engine
                # captures — isolates engine scaling from the shared-DRAM
                # ceiling a single box imposes on the 4N arm
                "efficiency_net_of_host": round(
                    (t_n / t_4n) / calibration["host_speedup_n_to_4n"], 3),
            },
            "scaling_mor": {
                "n_cores": N_CORES_SMALL,
                "4n_cores": CPUS,
                "t_n_sec": round(t_n_mor, 2),
                "t_4n_sec": round(t_4n_mor, 2),
                "efficiency": round(efficiency_mor, 3) if efficiency_mor else None,
                "efficiency_net_of_host": round(
                    (t_n_mor / t_4n_mor) / calibration["host_speedup_n_to_4n"], 3),
            },
            "host_calibration": calibration,
            "bench_total_sec": round(time.time() - t_bench0, 1),
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree("/dev/shm/datax_bench_local", ignore_errors=True)


def _replay_child() -> None:
    """Entry for the fresh-process N-core replay (see main): argv =
    --replay-child <cores> <input> <table_root> <n_events> <merge_mode>."""
    cores, input_path, table_root, n_events, mode = (
        int(sys.argv[2]), sys.argv[3], sys.argv[4], int(sys.argv[5]), sys.argv[6])
    spark = _fresh_spark(cores)
    t = _replay(spark, input_path, table_root, n_events, merge_mode=mode)
    spark.stop()
    print(json.dumps({"replay_sec": t}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--replay-child":
        _replay_child()
    else:
        main()
