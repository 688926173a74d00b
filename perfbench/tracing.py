"""Spans, Spark counters and streaming progress for the benchmark.

The benchmark times layers only from outside the engine. In a traced run
(``--trace 1``) :meth:`Tracer.install` wraps the engine's public entry
points at run time (``apply_changes``, ``merge_into``,
``LakeTable.write_data_files`` / ``commit`` / ``evolve_schema`` /
``compact_buckets``, the quarantine split and write), so calls the engine
makes internally are timed too. Nothing under ``datax_spark/`` is edited.

Each span records name, start, end, parent and run id, and runs its
Spark jobs under a job group of its own. After the run the counters of
those jobs (wall time, executor CPU time, shuffle bytes, spill) are read
back from Spark's status store, which adds no Spark job. Spans stay in
memory until :meth:`Tracer.report` turns them into per-layer metrics.

An untraced run uses :class:`NullTracer`: the same call sites, no
wrapping, no spans.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

JOB_GROUP = "spark.jobGroup.id"


PER_LAYER_UNITS = {
    "cdc.apply.wall_s": "s", "cdc.apply.self_s": "s", "cdc.apply.spark_jobs": "count",
    "quarantine.split_s": "s", "quarantine.write_s": "s", "quarantine.dirty_rows": "count",
    "lake.schema.evolve_s": "s", "lake.schema.changes": "count",
    "lake.merge.merge_into_s": "s", "lake.merge.exec_cpu_s": "s",
    "lake.merge.shuffle_write_mb": "MB", "lake.merge.spill_mb": "MB", "lake.merge.stats_s": "s",
    "lake.merge.lww_dedup_s": "s", "lake.merge.dedup_shuffle_mb": "MB",
    "lake.merge.rewrite_amp": "ratio",
    "functions.extract.enrich_s": "s", "functions.extract.pages": "count",
    "functions.extract.us_per_page": "us",
    "lake.table.write_data_files_s": "s", "lake.table.write_exec_cpu_s": "s",
    "lake.table.write_shuffle_mb": "MB", "lake.table.write_spill_mb": "MB",
    "lake.table.write_driver_s": "s", "lake.table.commit_s": "s",
    "lake.table.metadata_bytes": "bytes", "lake.table.bytes_written_per_event": "bytes/event",
    "lake.table.lookup_s": "s", "lake.table.feed_s": "s", "lake.table.scan_s": "s",
    "lake.table.lookup_files_read": "count", "lake.table.lookup_bloom_skip_ratio": "ratio",
    "lake.table.delta_files_per_bucket": "count", "lake.table.feed_rows_per_changed_key": "ratio",
    "lake.table.compact_s": "s", "lake.table.compactions": "count",
    "lake.table.compact_bytes_rewritten": "bytes",
    "cdc.pipeline.batches": "count", "cdc.pipeline.add_batch_s": "s",
    "cdc.pipeline.latest_offset_s": "s", "cdc.pipeline.wal_commit_s": "s",
    "cdc.pipeline.query_planning_s": "s", "cdc.pipeline.files_per_batch": "count",
    "cdc.pipeline.backlog_files_max": "count", "cdc.pipeline.gen_lag_max_s": "s",
    "host.calib_s": "s", "trace.side_runs_s": "s", "trace.events_per_s": "events/s",
    "trace.freshness_p50_s": "s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class ProgressListener(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` of the run (both modes)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "batch_id": p.batchId,
            "rows": int(p.numInputRows),
            "batch_s": (p.batchDuration or 0) / 1000.0,
            "dur": {k: v / 1000.0 for k, v in (p.durationMs or {}).items()},
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def reset(self):
        with self._lock:
            self.progress.clear()

    def data_batches(self) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["rows"] > 0]

    def max_batch_id(self) -> int:
        with self._lock:
            return max((p["batch_id"] for p in self.progress), default=-1)


class NullTracer:
    """Untraced run: spans are free and record nothing."""

    enabled = False
    spans: list = []

    @contextlib.contextmanager
    def span(self, name):
        yield {}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple] = []
        self.enabled = True
        self.side_enabled = False

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name):
        stack = self._stack()
        sid = next(self._ids)
        s = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
             "run_id": self.run_id, "group": f"perfbench-{self.run_id}-{sid}"}
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, s["group"])
        stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            self.spans.append(s)

    # --------------------------------------------------------- wrapping
    def _patch(self, owner, attr, name, after=None, before=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if before is not None:
                before(a, kw)
            with self.span(name) as s:
                out = orig(*a, **kw)
                if after is not None:
                    after(s, a, kw, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))
        return orig

    def install(self):
        import datax_spark.cdc.apply as apply_mod
        import datax_spark.cdc.pipeline as pipeline_mod
        import datax_spark.quarantine as quarantine_mod
        from datax_spark.lake.table import LakeTable

        def wrote(s, a, kw, entries):
            s["records"] = sum(e["records"] for e in entries)
            s["bytes"] = sum(e["bytes"] for e in entries)

        def committed(s, a, kw, snap):
            table = a[0]
            s["metadata_bytes"] = os.path.getsize(table._version_path(table._loaded_version))

        def evolved(s, a, kw, out):
            s["changes"] = len(out[1])

        def compacted(s, a, kw, snap):
            s["did_compact"] = snap is not None

        def merged(s, a, kw, snap):
            s["batch_rows"] = int(snap["summary"].get("batch_rows", 0))

        def applied(s, a, kw, m):
            s["skipped"] = bool(m.get("skipped"))
            s["dirty_rows"] = int(m.get("dirty_rows", 0) or 0)
            s["rows_in"] = int(m.get("rows_in", 0) or 0)

        def side(a, kw):
            self.side_runs(a[1], a[0].key_col)

        self._patch(apply_mod, "apply_changes", "cdc.apply", applied, before=side)
        # the pipeline imported the name; route it through the same wrapper
        self._undo.append((pipeline_mod, "apply_changes", pipeline_mod.apply_changes))
        pipeline_mod.apply_changes = apply_mod.apply_changes
        self._patch(apply_mod, "merge_into", "lake.merge.merge_into", merged)
        self._orig_split = self._patch(quarantine_mod, "split_dirty_lazy", "quarantine.split_plan")
        self._patch(quarantine_mod, "write_quarantine", "quarantine.write")
        self._patch(LakeTable, "write_data_files", "lake.table.write_data_files", wrote)
        self._patch(LakeTable, "commit", "lake.table.commit", committed)
        self._patch(LakeTable, "evolve_schema", "lake.schema.evolve", evolved)
        self._patch(LakeTable, "compact_buckets", "lake.table.compact", compacted)

    def uninstall(self):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -------------------------------------------------------- side runs
    def side_runs(self, batch, key):
        """Time the lazy layers of one batch by writing their output to a
        noop sink, outside the apply span: the quarantine split, the LWW
        dedup, and enrichment on top of the dedup (enrichment time is the
        difference of the last two)."""
        if not self.side_enabled:
            return
        from pyspark.sql import Observation, functions as F

        from datax_spark.functions.extract import with_enrichment
        from datax_spark.lake.merge import lww_dedup
        from workloads import noop

        with self.span("side.quarantine.split"):
            clean, _, _ = self._orig_split(batch, key_col=key, op_col="op", lsn_col="lsn")
            noop(clean)
        clean, _, _ = self._orig_split(batch, key_col=key, op_col="op", lsn_col="lsn")
        with self.span("side.lww_dedup"):
            noop(lww_dedup(clean, key, "warc_ts", "lsn"))
        clean, _, _ = self._orig_split(batch, key_col=key, op_col="op", lsn_col="lsn")
        obs = Observation()
        deduped = lww_dedup(clean, key, "warc_ts", "lsn").observe(
            obs, F.count(F.col("html")).alias("pages"))
        with self.span("side.dedup_enrich") as s:
            noop(with_enrichment(deduped))
        s["pages"] = int(obs.get["pages"])

    # ---------------------------------------------------- Spark counters
    def _resolve_counters(self):
        jsc = self.sc._jsc.sc()
        bus = jsc.listenerBus()
        bus.waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            c = {"jobs": 0, "job_wall_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0,
                 "spill_mb": 0.0}
            for jid in tracker.getJobIdsForGroup(s["group"]):
                c["jobs"] += 1
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    c["job_wall_s"] += (jd.completionTime().get().getTime()
                                        - jd.submissionTime().get().getTime()) / 1000.0
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never ran (skipped): no counters
                        continue
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                    c["spill_mb"] += st.diskBytesSpilled() / 2**20
            s["spark"] = c

    # ------------------------------------------------------------ report
    def report(self, events: int, listener: ProgressListener | None, stream: dict | None,
               reads: dict) -> dict:
        """Per-layer metrics from the spans of this run."""
        self._resolve_counters()
        by = {}
        for s in self.spans:
            by.setdefault(s["name"], []).append(s)
        children = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        index = {s["id"]: s for s in self.spans}

        def wall(s):
            return s["end"] - s["start"]

        def walls(name):
            return [wall(s) for s in by.get(name, [])]

        def descendants(s):
            out = []
            for c in children.get(s["id"], []):
                out.append(c)
                out += descendants(c)
            return out

        def inclusive(s, key):
            return s["spark"][key] + sum(d["spark"][key] for d in descendants(s))

        def under(name, ancestor):
            out = []
            for s in by.get(name, []):
                p = s["parent"]
                while p is not None and index[p]["name"] != ancestor:
                    p = index[p]["parent"]
                if p is not None:
                    out.append(s)
            return out

        applies = [s for s in by.get("cdc.apply", []) if not s.get("skipped")]
        merges = by.get("lake.merge.merge_into", [])
        writes = by.get("lake.table.write_data_files", [])
        merge_writes = under("lake.table.write_data_files", "lake.merge.merge_into")
        compacts = [s for s in by.get("lake.table.compact", []) if s["did_compact"]]
        compact_writes = under("lake.table.write_data_files", "lake.table.compact")
        commits = by.get("lake.table.commit", [])
        side_dedup = walls("side.lww_dedup")
        side_enrich = by.get("side.dedup_enrich", [])
        pages = sum(s["pages"] for s in side_enrich)
        enrich_s = sum(wall(s) for s in side_enrich) - sum(side_dedup)
        changed = sum(s.get("batch_rows", 0) for s in merges)
        m = {
            "cdc.apply.wall_s": median([wall(s) for s in applies]),
            "cdc.apply.self_s": median([wall(s) - sum(wall(c) for c in children.get(s["id"], []))
                                        for s in applies]),
            "cdc.apply.spark_jobs": median([inclusive(s, "jobs") for s in applies]),
            "quarantine.split_s": median(walls("side.quarantine.split")),
            "quarantine.write_s": median(walls("quarantine.write")),
            "quarantine.dirty_rows": sum(s.get("dirty_rows", 0) for s in applies),
            "lake.schema.evolve_s": median(walls("lake.schema.evolve")),
            "lake.schema.changes": sum(s.get("changes", 0) for s in by.get("lake.schema.evolve", [])),
            "lake.merge.merge_into_s": median([wall(s) for s in merges]),
            "lake.merge.exec_cpu_s": median([inclusive(s, "cpu_s") for s in merges]),
            "lake.merge.shuffle_write_mb": median([inclusive(s, "shuffle_write_mb") for s in merges]),
            "lake.merge.spill_mb": median([inclusive(s, "spill_mb") for s in merges]),
            "lake.merge.stats_s": median([s["spark"]["job_wall_s"] for s in merges]),
            "lake.merge.lww_dedup_s": median(side_dedup),
            "lake.merge.dedup_shuffle_mb": median([s["spark"]["shuffle_write_mb"]
                                                   for s in by.get("side.lww_dedup", [])]),
            "lake.merge.rewrite_amp": (sum(s.get("records", 0) for s in merge_writes) / changed
                                       if changed else 0.0),
            "functions.extract.enrich_s": enrich_s / len(side_enrich) if side_enrich else 0.0,
            "functions.extract.pages": pages,
            "functions.extract.us_per_page": enrich_s / pages * 1e6 if pages else 0.0,
            "lake.table.write_data_files_s": median(walls("lake.table.write_data_files")),
            "lake.table.write_exec_cpu_s": median([s["spark"]["cpu_s"] for s in writes]),
            "lake.table.write_shuffle_mb": median([s["spark"]["shuffle_write_mb"] for s in writes]),
            "lake.table.write_spill_mb": median([s["spark"]["spill_mb"] for s in writes]),
            "lake.table.write_driver_s": median([wall(s) - s["spark"]["job_wall_s"] for s in writes]),
            "lake.table.commit_s": median(walls("lake.table.commit")),
            "lake.table.metadata_bytes": commits[-1]["metadata_bytes"] if commits else 0,
            "lake.table.bytes_written_per_event": (sum(s.get("bytes", 0) for s in merge_writes)
                                                   / events if events else 0.0),
            "lake.table.lookup_files_read": median(reads.get("lookup_files", [])),
            "lake.table.lookup_bloom_skip_ratio": median(reads.get("bloom_skip", [])),
            "lake.table.delta_files_per_bucket": reads.get("delta_files_per_bucket", 0.0),
            "lake.table.feed_rows_per_changed_key": median(reads.get("feed_ratio", [])),
            "lake.table.compact_s": median([wall(s) for s in compacts]),
            "lake.table.compactions": len(compacts),
            "lake.table.compact_bytes_rewritten": sum(s.get("bytes", 0) for s in compact_writes),
            "trace.side_runs_s": sum(wall(s) for s in self.spans if s["name"].startswith("side.")),
        }
        m.update(pipeline_metrics(listener, stream))
        return m


def pipeline_metrics(listener: ProgressListener | None, stream: dict | None) -> dict:
    """``cdc.pipeline.*`` from Spark's own progress events and the
    generator's drop log; zeros for workloads without a stream."""
    batches = listener.data_batches() if listener is not None else []

    def dur(key):
        return median([b["dur"].get(key, 0.0) for b in batches])

    stream = stream or {}
    files_per_batch = stream.get("files_per_batch", [])
    return {
        "cdc.pipeline.batches": len(batches),
        "cdc.pipeline.add_batch_s": dur("addBatch"),
        "cdc.pipeline.latest_offset_s": dur("latestOffset"),
        "cdc.pipeline.wal_commit_s": dur("walCommit"),
        "cdc.pipeline.query_planning_s": dur("queryPlanning"),
        "cdc.pipeline.files_per_batch": (sum(files_per_batch) / len(files_per_batch)
                                         if files_per_batch else 0.0),
        "cdc.pipeline.backlog_files_max": stream.get("backlog_files_max", 0),
        "cdc.pipeline.gen_lag_max_s": stream.get("gen_lag_max_s", 0.0),
    }
