"""CDC engine benchmark: one workload per run, metrics as one JSON line.

    python3 perfbench/run.py --workload backfill_cow --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine (``datax_spark``) is imported
from that checkout only; without it the run exits with code 2 and prints
no result. All data (inputs, tables, Spark scratch) lives under
``perfbench/.work/`` in the checkout and is removed at exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it is a detail record (host, versions,
input digests, set-up breakdown, sample counts, tail percentiles, gate
checks, errors). See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
MAX_CORES = 4

E2E_UNITS = {
    "setup_s": "s", "events_per_s": "events/s", "cpu_ms_per_event": "ms",
    "freshness_p50_s": "s", "stored_bytes_per_row": "bytes",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test uses a small one)")
    p.add_argument("--corrupt", action="store_true",
                   help="gate a copy of the final table with one manifest entry dropped "
                        "(shows that the gate is live; the run must fail)")
    return p.parse_args(argv)


# ------------------------------------------------------------------- host
def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def calibrate() -> float:
    """Fixed pure-Python work (hashing and integer arithmetic), median of
    three; tells a slower host from a slower program."""
    import hashlib

    blob = bytes(range(256)) * 4096
    times = []
    for _ in range(3):
        t = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(16):
            h.update(blob)
        sum(i * i % 7 for i in range(300_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def tail(xs: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return {"n": n, "p": None, "value": None}
    p = int(100 * (n - 10) / n)
    return {"n": n, "p": p, "value": statistics.quantiles(xs, n=100, method="inclusive")[p - 1]}


# ---------------------------------------------------------------- session
def start_session(work: Path, cores: int):
    from datax_spark.session import get_spark

    for k in [k for k in os.environ if k.startswith("DATAX_SPARK_")]:
        del os.environ[k]  # run the engine's defaults, not a caller's overrides
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # python workers import the engine (UDFs) from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    mem = max(1024, min(3072, ram_mb() // 5))
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{mem}m",
            "spark.local.dir": str(local),
            # a fixed heap size (no pre-touch: the OS maps pages on first use)
            # keeps G1 from resizing the heap differently in every run.
            # C1 only: with the C2 tier a 32k-event batch keeps getting
            # faster for 2+ minutes (7.7 s to 4.9 s) while C2 threads compete
            # with the tasks for the 4 cores, so a run of about a minute
            # measures how far the JIT got; with C1 the second batch is
            # already at its steady 6.1-6.6 s
            "spark.driver.extraJavaOptions":
                f"-Xms{mem}m -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    ), mem


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit
    (its Python workers exit with it)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed after stop()
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------- main
def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import datax_spark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(datax_spark.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: datax_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    import pyarrow
    import pyspark

    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = min(os.cpu_count() or 1, MAX_CORES)
    calib_s = calibrate()
    spark = None
    try:
        spark, mem_mb = start_session(work, cores)
        session_s = time.perf_counter() - t_start
        listener = tracing.ProgressListener()
        spark.streams.addListener(listener)
        tracer = tracing.Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else tracing.NullTracer()
        if args.trace:
            tracer.install()
        ctx = workloads.Ctx(spark, str(work / "data"), args.seed, args.seconds, args.scale,
                            tracer, listener, args.corrupt)
        # the workload yields the name of each phase as it begins
        phases, current, phase_t = {}, "prepare", time.perf_counter()
        steal, steal_t = {}, workloads.host_steal_s()
        steps = workloads.WORKLOADS[args.workload](ctx)
        try:
            for phase in steps:
                now, now_steal = time.perf_counter(), workloads.host_steal_s()
                phases[current], steal[current] = now - phase_t, now_steal - steal_t
                current, phase_t, steal_t = phase, now, now_steal
                if phase == "timed" and tracer.enabled:
                    tracer.spans.clear()  # warm-up spans are not part of the run
        finally:
            steps.close()  # a workload stops its own threads and queries
        phases[current] = time.perf_counter() - phase_t
        steal[current] = workloads.host_steal_s() - steal_t
        setup_s = session_s + phases["prepare"] + phases["warmup"]
        if args.trace:
            tracer.uninstall()
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = vm_hwm_mb("self") + (vm_hwm_mb(jvm_pid.pid) if jvm_pid else 0.0)
        jdk = spark.sparkContext._jvm.System.getProperty("java.version")
        layer = tracer.report(ctx.all_events, listener, ctx.stream, ctx.reads) if args.trace else None
    except Exception:  # a crash is a failed run, reported as one
        import traceback

        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    # inputs whose (seed, size) is pinned must match the pinned digest
    pinned = json.loads((HERE / "digests.json").read_text()).get(args.workload, {})
    for key, got in ctx.digests.items():
        if key in pinned:
            ctx.checks["input_digest_pinned"] = pinned[key] == got
            ctx.failed += pinned[key] != got
    s = ctx.samples
    e2e = {
        "setup_s": setup_s,
        # per-batch medians where a workload records them (backfill_cow),
        # else totals over the reported window
        "events_per_s": statistics.median(s["rate"]) if s["rate"] else (
            ctx.events / ctx.timed_s if ctx.timed_s else 0.0),
        "cpu_ms_per_event": statistics.median(s["cpu_ms"]) if s["cpu_ms"] else (
            1000 * ctx.cpu_s / ctx.events if ctx.events else 0.0),
        "freshness_p50_s": statistics.median(s["freshness"]) if s["freshness"] else 0.0,
        "stored_bytes_per_row": ctx.stored_bytes / ctx.live_rows if ctx.live_rows else 0.0,
    }
    correct = ctx.failed == 0 and all(ctx.checks.values())
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host": {"nproc": os.cpu_count(), "spark_master": f"local[{cores}]", "ram_mb": ram_mb(),
                 "driver_mem_mb": mem_mb, "pyspark": pyspark.__version__,
                 "pyarrow": pyarrow.__version__, "jdk": jdk, "host.calib_s": calib_s,
                 "tables_on": fs_type(str(work))},
        "digests": ctx.digests,
        "setup": {"session_s": session_s, "prepare_s": phases["prepare"],
                  "warmup_s": phases["warmup"], **ctx.setup},
        "timed_s": ctx.timed_s, "timed_and_probe_s": phases["timed"], "gate_s": phases["gate"],
        "host_steal_s": steal, "windows": ctx.windows,
        "batch_p50_s": statistics.median(s["batch"]) if s["batch"] else 0.0,
        "samples": {k: [round(x, 4) for x in v] for k, v in s.items()},
        "tails": {f"{k}_tail_s": tail(s[k]) for k in ("batch", "freshness", "lookup", "feed")},
        "fail_ratio": ctx.failed / max(1, ctx.attempted),
        "peak_rss_mb": peak_rss,
        "spans_recorded": len(tracer.spans),
        "checks": ctx.checks, "errors": ctx.errors,
        "e2e": e2e,
    }
    if layer is not None:
        layer["host.calib_s"] = calib_s
        for k in ("lookup", "feed", "scan"):
            layer[f"lake.table.{k}_s"] = statistics.median(s[k]) if s[k] else 0.0
        layer["trace.events_per_s"] = e2e["events_per_s"]
        layer["trace.freshness_p50_s"] = e2e["freshness_p50_s"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in tracing.PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
