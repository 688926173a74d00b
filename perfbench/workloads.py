"""The workloads and the correctness gate.

Every workload drives the engine only through its public API
(``apply_changes``, ``run_stream``, ``LakeTable``) on inputs from
``inputs.py``, records latency samples, and leaves a table that
:func:`gate` checks against an independent last-writer-wins reference
outside the timed region. Sizes are the defaults below times ``--scale``
(the smoke test runs at a small scale).

- ``backfill_cow``: closed loop, one caller. A bounded change set (32k
  events over 8k keys) is cut into ``BACKFILL_BATCHES`` LSN-range batches
  and replayed with ``merge_mode="cow"`` and enrichment into an empty
  16-bucket table. Set-up applies all but the last batch (the base);
  the timed loop applies the last batch, each time into a fresh copy of
  the base, until the run time is used. Enrichment, the LWW dedup
  exchange and the bucket rewrite do the work; commit, lookup and feed do
  almost none.
- ``tail_stream``: open loop, one generator thread moving change files
  into a watched directory at ``STREAM_RATE`` files/s while
  ``run_stream`` tails it with MoR merges. 1% dirty rows, a
  schema-evolution point half way through, count-triggered compaction.
  Per-batch fixed costs dominate. The only workload that runs the
  streaming pipeline, quarantine and schema evolution, and the only one
  whose freshness includes queueing: from a file's due time to the commit
  of the snapshot that holds it.

Each run measures one window (``TimedWindow``), and a second one of the
same work if the hypervisor stole too much CPU time during the first
(``STEAL_LIMIT``); it reports the window with less steal.

In a traced run both workloads then run the same read probe on the table
they produced (point lookups, incremental feed, full scan), so the read
metrics exist for a copy-on-write table and for a merge-on-read one.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Window, functions as F, types as T

import inputs

BACKFILL_EVENTS = 32_000
BACKFILL_BATCHES = 2
BACKFILL_BUCKETS = 16
STREAM_FILE_EVENTS = 200
# one file per trigger; a batch takes 1.5-2.5 s on 4 cores, so ~0.5 files/s
# is sustainable and 1 file / 3 s is about two thirds of it: a batch that
# runs 1.4x slower than usual still ends before the next file is due
STREAM_RATE = 1 / 3  # files per second
STREAM_MIN_FILES = 8  # freshness samples per run, whatever --seconds says
STREAM_WARM_FILES = 2
STREAM_BUCKETS = 16
STREAM_DIRTY_FRACTION = 0.01
# dirty-ratio limit per batch: checked on every batch with dirty rows, and
# far enough above 1% that a small file's random excess never trips it
STREAM_ERROR_LIMIT = 0.2
# a measuring window in which the hypervisor stole more than this share of
# the host's CPU time is measured once more, and the window with less steal
# is reported: in such a window the other tenants' load, not the program,
# sets the times (steal was 0.5-4% of a 4-core window here in most runs; a
# window with 16% ran its micro-batches 1.6x slower, one with 8% took 1.4x
# as long as the next window of the same run, with 1.5%)
STEAL_LIMIT = 0.05
MAX_WINDOWS = 2
PROBE_LOOKUPS = 12
PROBE_FEEDS = 4
PROBE_SCANS = 3
STREAM_SCHEMA_EXTRA = [T.StructField("fetch_status", T.IntegerType(), True),
                       T.StructField("content_len", T.LongType(), True)]


class Ctx:
    """Per-run state: session, work dir, samples, counts and gate results."""

    def __init__(self, spark, work, seed, seconds, scale, tracer, listener, corrupt=False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.tracer = tracer
        self.listener = listener
        self.corrupt = corrupt
        self.rng = np.random.default_rng([seed, 99])
        self.samples = {k: [] for k in ("batch", "freshness", "lookup", "feed", "scan", "rate",
                                         "cpu_ms")}
        # of the reported measuring window
        self.events = 0          # clean events committed
        self.timed_s = 0.0       # wall time
        self.cpu_s = 0.0         # process-tree CPU time
        self.all_events = 0      # clean events committed in all windows
        self.windows: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, bool] = {}
        self.digests: dict[str, str] = {}
        self.setup: dict[str, float] = {}
        self.reads: dict = {"lookup_files": [], "bloom_skip": [], "feed_ratio": []}
        self.stream: dict | None = None
        self.live_rows = 0
        self.stored_bytes = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(base * self.scale))

    def fail(self, what: str, exc: BaseException | None = None):
        self.failed += 1
        self.errors.append(f"{what}: {exc!r}" if exc is not None else what)


# ------------------------------------------------------------------ helpers
def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the driver, the JVM and its Python
    workers. Time stolen by the hypervisor is not charged to a task, so
    this is steadier than wall time on a shared host."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):  # exited meanwhile
            continue
        # fields[1] is ppid; utime, stime, cutime, cstime are fields[11:15]
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class TimedWindow:
    """One measuring window: its samples, and its wall time, process-tree
    CPU time and host steal."""

    def __init__(self):
        self.samples = {"batch": [], "freshness": [], "rate": [], "cpu_ms": []}
        self.events = 0
        self.t0, self._cpu, self._steal = time.perf_counter(), tree_cpu_s(), host_steal_s()

    def close(self):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self._cpu
        self.steal_share = (host_steal_s() - self._steal) / (self.wall * (os.cpu_count() or 1))
        self.timed_s = self.wall  # a workload may end it at its last commit instead
        return self

    @property
    def stolen(self) -> bool:
        return self.steal_share > STEAL_LIMIT


def report_window(ctx: Ctx, windows: list[TimedWindow]):
    """Report the window with the least steal; record every window.
    Returns the reported window."""
    w = min(windows, key=lambda w: w.steal_share)
    ctx.samples.update(w.samples)
    ctx.events, ctx.timed_s, ctx.cpu_s = w.events, w.timed_s, w.cpu
    ctx.all_events = sum(x.events for x in windows)
    ctx.windows = [{"reported": x is w, "wall_s": x.wall, "steal_share": x.steal_share,
                    "samples": len(x.samples["batch"])} for x in windows]
    return w


def write(table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def generate(ctx: Ctx, name: str, make, reps: int = 3):
    """Build an input ``reps`` times; the digests must agree (determinism),
    the median build time goes into set-up time."""
    times, digests, out = [], set(), None
    for _ in range(reps):
        t = time.perf_counter()
        out = make()
        tables = out if isinstance(out, tuple) else (out,)
        digests.add(inputs.digest(*tables))
        times.append(time.perf_counter() - t)
    ctx.checks[f"{name}_deterministic"] = len(digests) == 1
    ctx.digests[f"{name}/{ctx.seed}/{sum(len(t) for t in tables)}"] = digests.pop()
    ctx.setup["generate_s"] = ctx.setup.get("generate_s", 0.0) + statistics.median(times)
    return out


def enriched_schema(spark) -> T.StructType:
    """The lake table's user schema: the page columns plus the columns
    ``with_enrichment`` adds (a plan-only call, no Spark job)."""
    from datax_spark.functions.extract import with_enrichment

    page = T.StructType([T.StructField(f.name, t, True) for f, t in zip(
        inputs.PAGE_FIELDS, [T.StringType(), T.TimestampType(), T.BinaryType(), T.StringType()])])
    return with_enrichment(spark.createDataFrame([], page)).schema


def create_table(ctx: Ctx, root: str, buckets: int):
    from datax_spark.lake.table import LakeTable

    shutil.rmtree(root, ignore_errors=True)
    return LakeTable.create(ctx.spark, root, enriched_schema(ctx.spark), key_col="url",
                            num_buckets=buckets)


def apply_batch(ctx: Ctx, table, path: str, batch_id: int, mode: str) -> dict:
    from datax_spark.cdc import apply as apply_mod
    from datax_spark.functions.extract import with_enrichment

    return apply_mod.apply_changes(table.load(), ctx.spark.read.parquet(path), batch_id=batch_id,
                                   transform=with_enrichment, merge_mode=mode)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# the read probe's operations (traced runs only, see read_probe)
def lookup(ctx: Ctx, table, key: str):
    ctx.attempted += 1
    table.load()
    df = table.lookup(key)
    b = table.key_bucket(key)
    deltas = [e for e in table.manifest() if e["bucket"] == b and e.get("kind") == "delta"]
    read = {urlparse(f).path for f in df.inputFiles()}  # planning only, no Spark job
    kept = sum(1 for e in deltas if os.path.join(table.root, e["path"]) in read)
    ctx.reads["lookup_files"].append(len(read))
    if deltas:
        ctx.reads["bloom_skip"].append(1 - kept / len(deltas))
    with ctx.tracer.span("lake.table.lookup"):
        t = time.perf_counter()
        df.collect()
        ctx.samples["lookup"].append(time.perf_counter() - t)


def feed(ctx: Ctx, table, prev_snapshot: int, changed_keys: int):
    from pyspark.sql import Observation

    ctx.attempted += 1
    table.load()
    obs = Observation()
    df = table.read_incremental(prev_snapshot).observe(obs, F.count(F.lit(1)).alias("rows"))
    with ctx.tracer.span("lake.table.read_incremental"):
        t = time.perf_counter()
        noop(df)
        ctx.samples["feed"].append(time.perf_counter() - t)
    if changed_keys:
        ctx.reads["feed_ratio"].append(obs.get["rows"] / changed_keys)


def scan(ctx: Ctx, table):
    ctx.attempted += 1
    table.load()
    with ctx.tracer.span("lake.table.scan"):
        t = time.perf_counter()
        table.read().count()
        ctx.samples["scan"].append(time.perf_counter() - t)


def read_probe(ctx: Ctx, table, hot_keys: list[str], all_keys: list[str], prev_snapshot: int,
               changed_keys: int):
    """Fixed read work on the table a workload produced, in traced runs
    only: point lookups on a seeded mix of just-changed and cold keys, the
    incremental feed of the last batch, and full collapsed scans. Their
    latency drifts down through a run as the read path compiles, so it is
    reported per layer, next to the exact file counts it records."""
    if not ctx.tracer.enabled:
        return
    # two thirds on just-changed keys: the median then sits among them
    # rather than on the boundary between the two kinds
    hot = PROBE_LOOKUPS * 2 // 3
    keys = list(ctx.rng.choice(hot_keys, hot)) + list(ctx.rng.choice(all_keys, PROBE_LOOKUPS - hot))
    for k in keys:
        lookup(ctx, table, str(k))
    for _ in range(PROBE_FEEDS):
        feed(ctx, table, prev_snapshot, changed_keys)
    for _ in range(PROBE_SCANS):
        scan(ctx, table)


def warm_reads(ctx: Ctx, table, key: str):
    """One lookup, feed and scan before timing (traced runs), so the read
    probe does not pay first-use compilation; the samples are discarded."""
    if not ctx.tracer.enabled:
        return
    t = time.perf_counter()
    table.load()
    lookup(ctx, table, key)
    feed(ctx, table, table.snapshots()[0]["snapshot_id"], 1)
    scan(ctx, table)
    ctx.setup["warm_reads_s"] = time.perf_counter() - t
    ctx.attempted = 0
    ctx.samples = {k: [] for k in ctx.samples}
    ctx.reads = {k: [] for k in ctx.reads}


def finish_table_stats(ctx: Ctx, table):
    """Manifest bytes and delta files per bucket of the table a run leaves."""
    table.load()
    entries = table.manifest()
    ctx.stored_bytes = sum(e["bytes"] for e in entries)
    deltas = sum(1 for e in entries if e.get("kind") == "delta")
    ctx.reads["delta_files_per_bucket"] = deltas / table.num_buckets


# --------------------------------------------------------------------- gate
def corrupt_copy(table, dest: str):
    """Copy ``table`` and drop its largest data file from the copy's
    current manifest (``--corrupt``: shows that the gate fails a wrong
    table)."""
    from datax_spark.lake.table import LakeTable

    shutil.copytree(table.root, dest)
    copy = LakeTable(table.spark, dest).load()
    path = os.path.join(dest, copy.current_snapshot()["manifest"])
    manifest = pq.read_table(path)
    drop = int(np.argmax(manifest.column("records").to_numpy()))
    pq.write_table(manifest.filter(np.arange(len(manifest)) != drop), path)
    return copy


def gate(ctx: Ctx, table, event_files: list[str], fence: tuple, quarantine: tuple | None = None):
    """Correctness checks, outside the timed region.

    - live state (key, winning ``_lsn``, md5 of html) equals a reference
      computed with a window ``row_number`` over the generated events —
      a different code path from the engine's struct-max collapse;
    - re-applying the last batch id returns ``skipped`` (the fence);
    - the quarantined row count equals the injected dirty count.
    """
    from datax_spark.cdc import apply as apply_mod

    spark = ctx.spark
    if ctx.corrupt:
        table = corrupt_copy(table, ctx.path("corrupt"))
    cols = T.StructType([T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType()),
                         T.StructField("url", T.StringType()),
                         T.StructField("warc_ts", T.TimestampType()),
                         T.StructField("html", T.BinaryType())])
    ev = spark.read.schema(cols).parquet(*event_files).filter(
        F.col("url").isNotNull() & F.col("op").isin("I", "U", "D"))
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("lsn").desc())
    ref = (ev.withColumn("rn", F.row_number().over(w)).filter((F.col("rn") == 1) & (F.col("op") != "D"))
           .select("url", F.col("lsn").alias("ref_lsn"), F.md5("html").alias("ref_h")))
    got = table.load().read(include_system=True).select(
        "url", F.col("_lsn").alias("got_lsn"), F.md5("html").alias("got_h"))
    same = F.col("ref_lsn").eqNullSafe(F.col("got_lsn")) & F.col("ref_h").eqNullSafe(F.col("got_h"))
    row = ref.join(got, "url", "full_outer").agg(
        F.count("got_lsn").alias("live"), F.count(F.when(~same, 1)).alias("bad")).first()
    ctx.live_rows, mismatched = row["live"], row["bad"]
    ctx.checks["live_state_equals_lww_reference"] = mismatched == 0
    if mismatched:
        ctx.errors.append(f"{mismatched} keys differ from the LWW reference")
    path, batch_id, epoch = fence
    m = apply_mod.apply_changes(table.load(), spark.read.parquet(path), batch_id=batch_id,
                                fence_epoch=epoch)
    ctx.checks["reapply_last_batch_skipped"] = bool(m.get("skipped"))
    if quarantine is not None:
        qdir, injected = quarantine
        got_q = spark.read.parquet(qdir).count() if os.path.isdir(qdir) else 0
        ctx.checks["quarantined_equals_injected"] = got_q == injected
        if got_q != injected:
            ctx.errors.append(f"quarantined {got_q} rows, injected {injected}")
    ctx.failed += sum(1 for ok in ctx.checks.values() if not ok)


# ---------------------------------------------------------------- workloads
def copy_table(ctx: Ctx, table, root: str):
    """A fresh copy of ``table`` at ``root`` (its paths are relative)."""
    from datax_spark.lake.table import LakeTable

    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(table.root, root)
    return LakeTable(ctx.spark, root).load()


def backfill_cow(ctx: Ctx):
    n_events = ctx.n(BACKFILL_EVENTS, 400)
    # two builds, not three: one build of the replay takes ~0.7 s
    events = generate(ctx, "events", lambda: inputs.changes_table(ctx.seed, n_events, n_events // 4),
                      reps=2)
    step = -(-n_events // BACKFILL_BATCHES)
    parts = [events.slice(i * step, step) for i in range(BACKFILL_BATCHES)]
    files = [write(p, ctx.path("in", f"b{i}.parquet")) for i, p in enumerate(parts)]
    last, last_events = len(files) - 1, len(parts[-1])
    yield "warmup"
    # the replay's first batches, into the empty table, build the base every
    # timed batch starts from; the first of them is also the JVM's cold start
    base = create_table(ctx, ctx.path("base"), BACKFILL_BUCKETS)
    for b, f in enumerate(files[:-1]):
        t = time.perf_counter()
        apply_batch(ctx, base, f, b, "cow")
        ctx.setup[f"base_batch{b}_s"] = time.perf_counter() - t
    t = time.perf_counter()
    warm = copy_table(ctx, base, ctx.path("warm"))
    apply_batch(ctx, warm, files[-1], last, "cow")
    ctx.setup["warm_batch_s"] = time.perf_counter() - t
    warm_reads(ctx, warm, events.column("url")[0].as_py())
    yield "timed"

    # closed loop: the replay's last batch, each time into a fresh copy of
    # the base (the copy is not timed), so every sample is the same work
    ctx.tracer.side_enabled = True
    windows = []
    while not windows or (windows[-1].stolen and len(windows) < MAX_WINDOWS):
        w = TimedWindow()
        deadline = w.t0 + ctx.seconds
        while not w.samples["batch"] or time.perf_counter() < deadline:
            table = copy_table(ctx, base, ctx.path(f"t{ctx.attempted % 2}"))
            ctx.attempted += 1
            t, cpu = time.perf_counter(), tree_cpu_s()
            apply_batch(ctx, table, files[-1], last, "cow")
            dt, cpu = time.perf_counter() - t, tree_cpu_s() - cpu
            w.samples["batch"].append(dt)
            w.samples["freshness"].append(dt)
            w.samples["rate"].append(last_events / dt)
            w.samples["cpu_ms"].append(1000 * cpu / last_events)
            w.events += last_events
        windows.append(w.close())
    ctx.tracer.side_enabled = False
    report_window(ctx, windows)
    table.load()
    urls = events.column("url").to_pylist()
    prev = table.snapshots()[-2]["snapshot_id"]
    read_probe(ctx, table, urls[-step:], urls, prev, int(table.current_snapshot()["summary"]["batch_rows"]))
    finish_table_stats(ctx, table)
    yield "gate"
    gate(ctx, table, files, fence=(files[-1], last, None))


def _source_log(ckpt: str) -> dict[str, tuple[int, str]]:
    """file name → (micro-batch id, path), from the file source's log in
    the checkpoint (Spark's own record, written before each batch runs and
    compacted every few batches)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    path = urlparse(rec["path"]).path
                    out[os.path.basename(path)] = (int(rec["batchId"]), path)
    return out


def _project_to_files(ckpt: str):
    """pre_merge hook: drop declared columns that none of the batch's files
    carry, so the table evolves at the batch where the data does (the file
    stream's reader schema is fixed for the life of the query). A
    micro-batch DataFrame does not list its files, so they are taken from
    the newest batch in the file source's log."""
    def project(df):
        log = _source_log(ckpt).values()
        newest = max((b for b, _ in log), default=None)
        present = set()
        for b, path in log:
            if b == newest:
                present |= set(pq.read_schema(path).names)
        return df.drop(*[c.name for c in STREAM_SCHEMA_EXTRA if c.name not in present])

    return project


def _run_stream(ctx: Ctx, src: str, root: str, ckpt: str, qdir: str, compact_every: int,
                errors: list):
    """Tail ``src`` until the query is stopped (the stream thread's body)."""
    from datax_spark.cdc.pipeline import CHANGE_SCHEMA, run_stream
    from datax_spark.functions.extract import with_enrichment
    from datax_spark.quarantine import ErrorLimits

    schema = T.StructType(CHANGE_SCHEMA.fields + STREAM_SCHEMA_EXTRA)
    try:
        run_stream(ctx.spark, src, root, ckpt, schema=schema, source_format="files",
                   merge_mode="mor", max_files_per_trigger=1, quarantine_dir=qdir,
                   error_limits=ErrorLimits(percentage=STREAM_ERROR_LIMIT),
                   compact_every=compact_every, transform=with_enrichment,
                   pre_merge=_project_to_files(ckpt), available_now=False)
    except Exception as e:  # the query died; the main thread reports it
        errors.append(e)


def _await_commit(ctx: Ctx, ckpt: str, names: list[str], errors: list, timeout: float = 120):
    """Wait until every file in ``names`` is in a micro-batch that has
    finished (its progress event arrived)."""
    deadline = time.time() + timeout
    while not errors and time.time() < deadline:
        log = _source_log(ckpt)
        if all(n in log for n in names) and ctx.listener.max_batch_id() >= max(
                log[n][0] for n in names):
            return True
        time.sleep(0.05)
    return False


def _stop_streams(ctx: Ctx, threads: list):
    for q in ctx.spark.streams.active:
        q.stop()
    for t in threads:
        t.join()


def tail_stream(ctx: Ctx):
    per_file = ctx.n(STREAM_FILE_EVENTS, 40)
    n_files = max(STREAM_MIN_FILES, round(ctx.seconds * STREAM_RATE))
    # with the warm files, the last timed batch compacts (~5 s), after its
    # commit: every run measures one compaction, and no freshness sample
    # waits behind it
    n_all = STREAM_WARM_FILES + n_files
    evolve_file = STREAM_WARM_FILES + n_files // 2
    n_events = per_file * n_all
    events = generate(ctx, "events", lambda: inputs.changes_table(
        ctx.seed, n_events, max(1, n_events // 4), dirty_fraction=STREAM_DIRTY_FRACTION,
        evolve_from_lsn=1 + evolve_file * per_file))
    staging = ctx.path("staging")
    names = []
    for i in range(n_all):
        part = events.slice(i * per_file, per_file)
        if i < evolve_file:
            part = part.drop_columns([c.name for c in STREAM_SCHEMA_EXTRA])
        names.append(os.path.basename(write(part, os.path.join(staging, f"f{i:04d}.parquet"))))
    warm_names, names = names[:STREAM_WARM_FILES], names[STREAM_WARM_FILES:]
    timed_events = events.slice(STREAM_WARM_FILES * per_file)
    injected = inputs.dirty_count(events)
    yield "warmup"

    # each window is a run of the stream over all the files, into a table,
    # checkpoint and quarantine directory of its own; a second window (see
    # STEAL_LIMIT) repeats the first, its two warm-up files included
    runs, threads, errors = [], [], []
    try:
        while not runs or (runs[-1]["window"].stolen and len(runs) < MAX_WINDOWS and not errors):
            d = ctx.path(f"run{len(runs)}")
            r = {k: os.path.join(d, k) for k in ("src", "t", "ckpt", "q")}
            os.makedirs(r["src"])
            r["table"] = create_table(ctx, r["t"], STREAM_BUCKETS)
            ctx.listener.reset()
            threads.append(threading.Thread(
                target=_run_stream,
                args=(ctx, r["src"], r["t"], r["ckpt"], r["q"], n_all, errors),
                name=f"perfbench-stream-{len(runs)}"))
            threads[-1].start()
            # the first files go through the same query, untimed: they pay its
            # cold start (first batch ~12 s in a new JVM)
            t, spans = time.perf_counter(), len(ctx.tracer.spans)
            for name in warm_names:
                os.link(os.path.join(staging, name), os.path.join(r["src"], name))
            if not _await_commit(ctx, r["ckpt"], warm_names, errors):
                raise RuntimeError(f"warm-up files not committed: {errors}")
            if not runs:
                ctx.setup["warm_batches_s"] = time.perf_counter() - t
                warm_reads(ctx, r["table"], next(u for u in events.column("url").to_pylist() if u))
                yield "timed"
                ctx.tracer.side_enabled = True
            del ctx.tracer.spans[spans:]  # a repeated window's warm-up is not part of the run
            ctx.listener.reset()

            # open loop: file i is due at t0 + i / rate whatever the engine
            # does; freshness counts from the due time, so a stall delays
            # later files too
            w = TimedWindow()
            r["due"], r["dropped"] = [], []
            t0 = time.time()
            for i, name in enumerate(names):
                r["due"].append(t0 + i / STREAM_RATE)
                while (wait := r["due"][i] - time.time()) > 0 and not errors:
                    time.sleep(min(wait, 0.05))
                os.link(os.path.join(staging, name), os.path.join(r["src"], name))
                r["dropped"].append(time.time())
            # the last batch compacts after its commit; the window ends with it
            _await_commit(ctx, r["ckpt"], names, errors)
            r["window"], r["batches"] = w.close(), ctx.listener.data_batches()
            runs.append(r)
            _stop_streams(ctx, threads)
    finally:
        _stop_streams(ctx, threads)
        ctx.tracer.side_enabled = False
    for e in errors:
        ctx.fail("stream", e)

    for r in runs:
        w, due, dropped = r["window"], r["due"], r["dropped"]
        commit_ts = {s["summary"]["batch_id"]: s["timestamp_ms"] / 1000.0
                     for s in r["table"].load().snapshots() if "batch_id" in s["summary"]}
        log = r["log"] = {name: b for name, (b, _) in _source_log(r["ckpt"]).items()}
        committed = []
        for name, d in zip(names, due):
            ctx.attempted += 1
            if log.get(name) not in commit_ts:
                ctx.fail(f"file {name} not committed")
                continue
            committed.append(commit_ts[log[name]])
            w.samples["freshness"].append(commit_ts[log[name]] - d)
        w.samples["batch"] = [b["batch_s"] for b in r["batches"]]
        w.events = len(names) * per_file - inputs.dirty_count(timed_events)
        w.timed_s = (max(committed) if committed else time.time()) - due[0]
        w.stream = {
            "files_per_batch": [sum(1 for n in names if log.get(n) == b)
                                for b in sorted({log[n] for n in names if n in log})],
            "gen_lag_max_s": max((d - u for d, u in zip(dropped, due)), default=0.0),
            # files dropped but not yet committed, at each drop
            "backlog_files_max": max((sum(1 for j in range(i + 1)
                                          if commit_ts.get(log.get(names[j]), float("inf")) > dropped[i])
                                      for i in range(len(dropped))), default=0),
        }
    w = report_window(ctx, [r["window"] for r in runs])
    r = next(r for r in runs if r["window"] is w)
    ctx.stream, table, log = w.stream, r["table"], r["log"]
    urls = [u for u in timed_events.column("url").to_pylist() if u is not None]
    merges = [s for s in table.snapshots() if s["summary"].get("operation") == "merge"]
    read_probe(ctx, table, urls[-per_file:], urls, merges[-2]["snapshot_id"],
               int(merges[-1]["summary"]["batch_rows"]))
    finish_table_stats(ctx, table)
    yield "gate"
    with open(os.path.join(r["ckpt"], "datax-epoch.txt")) as f:
        epoch = f.read().strip()
    last_file = max(n for n in names if log.get(n) == merges[-1]["summary"]["batch_id"])
    gate(ctx, table, [os.path.join(r["src"], n) for n in warm_names + names],
         fence=(os.path.join(r["src"], last_file), merges[-1]["summary"]["batch_id"], epoch),
         quarantine=(r["q"], injected))


WORKLOADS = {"backfill_cow": backfill_cow, "tail_stream": tail_stream}
