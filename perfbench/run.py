"""Benchmark of the engine on one workload, in a fresh JVM.

    python3 perfbench/run.py --workload catalog_join --seed 7 --seconds 3 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last line of
standard output is the end-to-end result; with ``--trace 1`` it carries the
per-layer metrics of a traced run, whose spans and layer table are also
written under ``.perfbench/traces/``.  ``--inject-fault`` corrupts the output
of the first timed op, to show that the output checks count it as failed.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import procstat

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("catalog_join", "ingest_raster")
#: no timed op starts after this many seconds of the loop (a run must end
#: within 180 s)
MAX_LOOP_S = 60
#: the tail percentile: the highest of these with at least ten samples
#: beyond it, else the highest with at least one
TAIL_PERCENTILES = (99, 95, 90, 75)

END_TO_END = {
    "setup_s": "s", "job_s": "s", "images_per_s": "1/s", "batch_p50_s": "s",
    "batch_tail_s": "s", "cpu_s": "s",
}

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.ingest.read_s": "s", "sources.ingest.files": "count",
    "sources.ingest.bytes": "B", "sources.ingest.invalid": "count",
    "codecs.image.decode_s": "s", "codecs.image.decodes_per_s": "1/s", "codecs.image.encode_s": "s",
    "tiling.with_cell_s": "s", "tiling.cells_assigned": "count", "tiling.distinct_cells": "count",
    "tiling.chip_s": "s", "tiling.windows": "count",
    "geo.strtree.query_s": "s", "geo.strtree.candidates": "count", "geo.geometry.exact_s": "s",
    "geo.geometry.hits": "count", "geo.hit_ratio": "ratio",
    "spatial_join.broadcast_s": "s", "spatial_join.broadcast_pairs": "count",
    "spatial_join.pack_aois_s": "s", "spatial_join.partitioned_s": "s",
    "spatial_join.partitioned_pairs": "count", "spatial_join.shuffle_bytes": "B",
    "spatial_join.task_skew": "ratio",
    "knn.busy_s": "s", "knn.spark_jobs": "count", "knn.shuffle_bytes": "B",
    "raster.make_rgb_s": "s", "raster.pseudo_inference_s": "s", "masking.mask_chain_s": "s",
    "masking.mask_ocean_s": "s", "vectorize.busy_s": "s", "vectorize.polygons": "count",
    "regularize.busy_s": "s",
    "python.ops": "count", "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_to_worker": "B", "python.bytes_from_worker": "B",
    "hamming_index.build_s": "s", "hamming_index.probe_s": "s", "hamming_index.append_s": "s",
    "hamming_index.compact_s": "s", "hamming_index.files": "count",
    "hamming_index.bytes_rewritten": "B", "hamming_index.pairs": "count", "hamming_index.recall": "ratio",
    "pipeline.run_stage_s.ingest": "s", "pipeline.run_stage_s.cells": "s",
    "pipeline.run_stage_s.aoi_pairs": "s", "pipeline.run_stage_s.near_dups": "s",
    "pipeline.overhead_s": "s", "pipeline.bytes_written_per_input_byte": "ratio",
    "pipeline.resume_s": "s", "pipeline.resume_skip_s": "s", "pipeline.metrics_rows_match": "count",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.jobs": "count",
    "trace.overhead_s": "s", "trace.spans": "count", "procs.peak_rss_mb": "MB",
}

#: span name -> per-layer metric holding that span's self time per op
SELF_TIME = {
    "sources.ingest.read": "sources.ingest.read_s",
    "tiling.with_cell": "tiling.with_cell_s",
    "tiling.chip": "tiling.chip_s",
    "spatial_join.broadcast": "spatial_join.broadcast_s",
    "spatial_join.pack_aois": "spatial_join.pack_aois_s",
    "spatial_join.partitioned": "spatial_join.partitioned_s",
    "knn": "knn.busy_s",
    "raster.make_rgb": "raster.make_rgb_s",
    "raster.pseudo_inference": "raster.pseudo_inference_s",
    "masking.mask_chain": "masking.mask_chain_s",
    "masking.mask_ocean": "masking.mask_ocean_s",
    "vectorize": "vectorize.busy_s",
    "regularize": "regularize.busy_s",
    "hamming_index.probe": "hamming_index.probe_s",
    "hamming_index.append": "hamming_index.append_s",
    "hamming_index.compact": "hamming_index.compact_s",
}
#: per-layer metrics that are not divided by the number of traced ops
PER_RUN = {
    "session.start_s", "session.warmup_s", "hamming_index.build_s", "hamming_index.files",
    "hamming_index.recall", "geo.hit_ratio", "spatial_join.task_skew", "pipeline.resume_s",
    "pipeline.resume_skip_s", "pipeline.metrics_rows_match", "pipeline.bytes_written_per_input_byte",
    "trace.overhead_s", "procs.peak_rss_mb",
} | {k for k in PER_LAYER if k.startswith(("codecs.", "geo."))}


#: driver heap, fixed in size (-Xms = -Xmx), so that the JVM's share of
#: peak memory does not depend on when G1 chooses to grow the heap, and
#: pre-touched, so that first-use page faults do not slow the early timed ops
DRIVER_MEM = "1g"
#: C1 only: with the tiered C2 compiler the JVM was still compiling a third of
#: the CPU time 40 s into a run, and each job ran faster than the one before
#: it; C1 reaches its steady state within the warm-up
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt the first timed op's output (self-test of the checks)")
    return ap.parse_args(argv)


def set_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run directory."""
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp directory, from any JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, str(ROOT))


def start_session(workload: str, run_dir: Path, cores: int):
    from geospatial_studio_pipelines_spark.session import spark_session

    spark = spark_session(
        app_name=f"perfbench-{workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, sampler: procstat.TreeSampler) -> None:
    """Stop Spark, end the JVM, and wait for every process of the tree."""
    from pyspark import SparkContext

    pids = sampler.descendants()
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        left = procstat.wait_gone(pids, 30)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        procstat.wait_gone(left, 10)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def make_workload(name: str, ctx):
    if name == "catalog_join":
        from catalog_join import CatalogJoin as W
    else:
        from ingest_raster import IngestRaster as W
    return W(ctx)


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it) of the tail percentile."""
    ordered = sorted(values)
    n = len(ordered)
    for need in (10, 1):
        for p in TAIL_PERCENTILES:
            rank = max(1, -(-p * n // 100))  # nearest rank
            if n - rank >= need:
                return ordered[rank - 1], p, n - rank
    return ordered[-1], 100, 0


def timed_loop(wl, ctx, seconds: float, sampler, inject: bool) -> tuple[list[dict], float]:
    """Closed loop, one client: ops back to back until ``seconds`` passed
    (at least one op)."""
    ops = []
    cpu0 = sampler.cpu_s()
    start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        if ops and elapsed >= min(seconds, MAX_LOOP_S):
            break
        ctx.tracer.op = len(ops) + 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op"):
                res = wl.op()
            res.setdefault("latency_s", time.perf_counter() - t0)
            res["error"] = None
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            res = {"latency_s": time.perf_counter() - t0, "images": 0, "out": None,
                   "error": f"{type(exc).__name__}: {exc}"}
            traceback.print_exc(file=sys.stderr)
        if inject and not ops and res["out"] is not None:
            wl.corrupt(res["out"])
        ops.append(res)
    return ops, sampler.cpu_s() - cpu0


def check_ops(wl, ops: list[dict]) -> None:
    """Compare every op's outputs with the oracles; a mismatch fails the op."""
    wl.prepare_oracles()
    for res in ops:
        if res["error"] is None:
            try:
                wl.check(res["out"])
            except AssertionError as exc:
                res["error"] = f"wrong output: {exc}"


def environment(args, ctx, cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "master": f"local[{cores}]", "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "inputs": ctx.sizes,
    }


def run(args, run_dir: Path, sampler: procstat.TreeSampler, holder: dict) -> dict:
    from common import Context, Interrupted
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    ctx = Context(seed=args.seed, run_dir=run_dir)
    wl = make_workload(args.workload, ctx)
    t0 = time.perf_counter()
    # the JVM starts while this process generates the inputs that need no Spark
    with ThreadPoolExecutor(1) as pool:
        started = pool.submit(timed, start_session, args.workload, run_dir, cores)
        try:
            wl.prepare()
        finally:
            spark, session_s = started.result()
            holder["spark"] = spark
    ctx.spark, ctx.tracer = spark, Tracer(spark)
    wl.setup()
    t1 = time.perf_counter()
    try:
        wl.warmup()
    except Interrupted:
        pass  # the warm-up job is cut short on purpose
    warmup_s = time.perf_counter() - t1
    setup_s = procstat.process_age_s()
    # ingest_raster re-runs its interrupted Pipeline job here; in
    # catalog_join the first timed job is the re-run of its warm-up job
    resumed = wl.resume() if hasattr(wl, "resume") else {}

    untraced_s = None
    if args.trace:
        t2 = time.perf_counter()
        ref = wl.op()  # untraced reference op for the tracing overhead
        untraced_s = ref.get("job_s", time.perf_counter() - t2)
        ctx.layer_counts.clear()
        ctx.tracer.enable()
    t3 = time.perf_counter()
    steal0, ticks0 = procstat.host_ticks()
    sampler.reset_peak()
    ops, cpu = timed_loop(wl, ctx, args.seconds, sampler, args.inject_fault)
    t4 = time.perf_counter()
    steal1, ticks1 = procstat.host_ticks()
    sampler.sample()
    peak_rss = sampler.peak_rss
    ctx.tracer.disable()  # the checks below are not traced
    finished = wl.finish(ops)
    check_ops(wl, ops)
    print(f"phases: session {session_s:.1f}s, set-up {t1 - t0 - session_s:.1f}s, warm-up {warmup_s:.1f}s, "
          f"timed {t4 - t3:.1f}s, checks {time.perf_counter() - t4:.1f}s", file=sys.stderr)
    # resume() and finish() report their own checked ops next to their values
    extra, attempted, failed = {}, len(ops), sum(1 for r in ops if r["error"])
    errors = [r["error"] for r in ops if r["error"]]
    for part in (resumed, finished):
        attempted += part.pop("attempted", 0)
        failed += part.pop("failed", 0)
        errors += part.pop("errors", [])
        extra.update(part)

    env = environment(args, ctx, cores)
    # the share of the machine's CPU time the hypervisor gave to others
    # during the timed loop: high values explain slow runs on a shared host
    env["host_steal_share"] = (steal1 - steal0) / max(ticks1 - ticks0, 1)
    report = {"env": env, "attempted": attempted, "failed": failed, "errors": errors}
    lat = [r["latency_s"] for r in ops]
    jobs = [r.get("job_s", r["latency_s"]) for r in ops]
    tail_v, tail_p, beyond = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "job_s": statistics.median(jobs),
        "images_per_s": sum(r["images"] for r in ops) / sum(lat),
        "batch_p50_s": statistics.median(lat),
        "batch_tail_s": tail_v,
        "cpu_s": cpu / len(ops),
    }
    report["e2e"] = e2e
    # not an end-to-end metric: the Python workers alive (forked for earlier
    # jobs, reaped after a minute idle) moved it by up to 0.5 GB between runs
    report["peak_rss_mb"] = peak_rss / 1e6
    report["samples"] = {
        "ops": len(ops), "latencies_s": lat, "parts_s": [r.get("parts_s") for r in ops],
        "batch_tail_percentile": tail_p, "beyond_tail": beyond, "error_rate": failed / attempted,
    }
    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        layers = layer_metrics(ctx, wl, ops, session_s, warmup_s, untraced_s, extra)
        layers["procs.peak_rss_mb"] = peak_rss / 1e6
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{args.workload}-seed{args.seed}.json"
        ctx.tracer.write(str(path), {"env": env, "per_layer": layers})
        report["trace_file"] = str(path.relative_to(ROOT))
        print_layer_table(ctx.tracer.layer_table())
    report.update(extra)
    print(json.dumps(report, default=str))
    print_summary(e2e, report)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def layer_metrics(ctx, wl, ops, session_s, warmup_s, untraced_s, extra) -> dict:
    """The per-layer metrics of a traced run: self times, Spark and Python
    counters, workload counts and driver-side kernel rates."""
    table = ctx.tracer.layer_table()
    out = dict.fromkeys(PER_LAYER, 0.0)
    for span_name, key in SELF_TIME.items():
        if span_name in table:
            out[key] = table[span_name]["self_s"]
    for name, row in table.items():
        for k, v in row.items():
            if k.startswith(("spark.", "python.")):
                out[k] += v
        if name.startswith("pipeline.run_stage."):
            out["pipeline.run_stage_s." + name.rsplit(".", 1)[1]] = row["total_s"]
    for span_name, prefix in (("knn", "knn"), ("spatial_join.partitioned", "spatial_join")):
        row = table.get(span_name, {})
        out[prefix + ".shuffle_bytes"] = row.get("spark.shuffle_write_bytes", 0)
    out["knn.spark_jobs"] = table.get("knn", {}).get("spark.jobs", 0)
    out["spatial_join.task_skew"] = table.get("spatial_join.partitioned", {}).get("task_skew", 0.0)
    pack = table.get("spatial_join.pack_aois")
    if pack:
        out["spatial_join.pack_aois_s"] = pack["self_s"] / pack["calls"] * len(ops)
    out.update(ctx.layer_counts)
    out.update({k: v for k, v in extra.items() if k in PER_LAYER})
    out["trace.spans"] = len(ctx.tracer.spans)
    n = len(ops)
    out = {k: (v if k in PER_RUN else v / n) for k, v in out.items()}
    out["session.start_s"] = session_s
    out["session.warmup_s"] = warmup_s
    out["trace.overhead_s"] = statistics.mean(r.get("job_s", r["latency_s"]) for r in ops) - untraced_s
    out.update(wl.kernels())
    return out


def print_layer_table(table: dict) -> None:
    cols = ("calls", "self_s", "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
            "spark.spill_bytes", "python.ops", "python.run_s", "python.bytes_to_worker")
    print("layer".ljust(30) + "".join(c.split(".")[-1][:12].rjust(13) for c in cols))
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        print(name[:30].ljust(30) + "".join(f"{row.get(c, 0):13.4g}" for c in cols))


def print_summary(e2e: dict, report: dict) -> None:
    for k, v in e2e.items():
        print(f"{k:14s} {v:12.4f} {END_TO_END[k]}")
    s = report["samples"]
    print(f"{'peak_rss_mb':14s} {report['peak_rss_mb']:12.4f} MB     (reported, not bounded)")
    print(f"{'error_rate':14s} {s['error_rate']:12.4f} ratio  ({report['failed']}/{report['attempted']} ops)")
    print(f"samples: {s['ops']} timed ops; batch_tail_s is p{s['batch_tail_percentile']} "
          f"with {s['beyond_tail']} beyond it")
    for err in report["errors"]:
        print(f"FAILED: {err}")


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    set_env(run_dir)
    sampler = procstat.TreeSampler().start()
    holder: dict = {}
    try:
        result = run(args, run_dir, sampler, holder)
    finally:
        if "spark" in holder:
            stop_session(holder["spark"], sampler)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
