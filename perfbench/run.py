#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One Python process drives one
``local[N]`` Spark session (N = min(nproc, 4)) with a single closed-loop
client.  With ``--trace 0`` the last stdout line is the JSON result with
the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics of a traced round (see perfbench/README.md).  The exit code is 0
only when every checked answer was correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "_out")
GEN_REPS = 3

E2E = {
    "setup_s": "s",
    "op_cpu_gmean_s": "s",
    "docs_per_cpu_s": "docs/cpu_s",
}

PER_LAYER = {
    "extract.s": "s", "extract.rows": "count",
    "lifetime_bboxes.s": "s", "lifetime_bboxes.stages": "count",
    "lifetime_bboxes.shuffle_write_bytes": "bytes",
    "insert_cell_udf.s": "s", "insert_cell_udf.rows": "count",
    "insert_cell_udf.arrow_bytes": "bytes",
    "cell_prune.s": "s", "cell_prune.rows_in": "count",
    "cell_prune.rows_out": "count", "cell_prune.keep_ratio": "ratio",
    "aggregate.s": "s",
    "api.plan_s": "s",
    "store.read.s": "s", "store.read.files_scanned": "count",
    "store.read.rows_scanned": "count", "store.rows_scanned_per_result": "ratio",
    "snapshot.s": "s", "snapshot.rows_out": "count",
    "geometry_udf.rows": "count", "geometry_udf.arrow_bytes": "bytes",
    "contribution.s": "s", "contribution.shuffle_write_bytes": "bytes",
    "knn.s": "s", "knn.histogram_s": "s", "knn.driver_ring_s": "s",
    "knn.candidates_per_result": "ratio",
    "zonal.s": "s", "zonal.candidates_per_match": "ratio",
    "store.write.s": "s", "store.write.bytes": "bytes",
    "store.write.files": "count", "store.manifest_s": "s",
    "stream.s": "s", "stream.batches": "count", "stream.batch_s": "s",
    "spark.executor_run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.tasks": "count",
    "spark.stages": "count", "spark.core_util": "ratio",
    "harness.s": "s", "trace_aux.s": "s", "other.s": "s",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}

# span name -> per-layer self-time metric ("op.*" spans are the harness)
SELF_KEY = {
    "api.plan": "api.plan_s", "knn.histogram": "knn.histogram_s",
    "knn.driver_ring": "knn.driver_ring_s", "store.manifest": "store.manifest_s",
    "trace.aux": "trace_aux.s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tile_join", "aoi_queries", "etl_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is for the smoke check")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb one answer before it is checked (the run must fail)")
    return p.parse_args(argv)


def layer_metrics(tracer, per_span: dict, counts: dict, wall: float,
                  untraced: float, cores: int) -> dict:
    from tracing import spark_wide, sum_by_name

    m = {k: 0.0 for k in PER_LAYER}
    spans = tracer.spans
    # virtual child spans read off the event log: the driver time before an
    # API call's first job, and kNN's driver-side ring search after its
    # histogram job
    for sid in counts.pop("api_spans", []):
        jobs = per_span[sid]["jobs"]
        if jobs:
            spans.append({"id": len(spans), "name": "api.plan", "parent": sid,
                          "start": spans[sid]["start"], "end": jobs[0][0]})
    for s in list(spans):
        if s["name"] == "knn.histogram" and per_span[s["id"]]["jobs"]:
            last = max(j[1] or j[0] for j in per_span[s["id"]]["jobs"])
            spans.append({"id": len(spans), "name": "knn.driver_ring",
                          "parent": s["id"], "start": last, "end": s["end"]})
    for s in spans[len(per_span):]:
        per_span[s["id"]] = {"jobs": []}
    for sid, t in tracer.self_times().items():
        name = spans[sid]["name"]
        key = "harness.s" if name.startswith("op.") else SELF_KEY.get(name, name + ".s")
        m[key] += t
    m["other.s"] = wall - tracer.root_total_s()
    m["trace.wall_s"] = wall
    m["trace.untraced_wall_s"] = untraced
    m["trace.overhead_s"] = wall - untraced

    def ev(name, key, own=False):
        return sum_by_name(tracer, per_span, name, key, descendants=not own)

    m["lifetime_bboxes.stages"] = ev("lifetime_bboxes", "stages")
    m["lifetime_bboxes.shuffle_write_bytes"] = ev("lifetime_bboxes", "shuffle_write_bytes")
    m["insert_cell_udf.arrow_bytes"] = (ev("insert_cell_udf", "py_sent_bytes")
                                        + ev("insert_cell_udf", "py_returned_bytes"))
    m["geometry_udf.arrow_bytes"] = (ev("snapshot", "py_sent_bytes")
                                     + ev("snapshot", "py_returned_bytes"))
    m["contribution.shuffle_write_bytes"] = ev("contribution", "shuffle_write_bytes")
    knn_results = counts.pop("knn.results", 0)
    if knn_results:
        m["knn.candidates_per_result"] = (
            ev("knn", "shuffle_read_records", own=True) / knn_results)
    zc, zm = counts.pop("zonal.candidates", 0), counts.pop("zonal.matches", 0)
    if zm:
        m["zonal.candidates_per_match"] = zc / zm
    results = counts.pop("results", 0)
    if results:
        m["store.rows_scanned_per_result"] = counts["store.read.rows_scanned"] / results
    for k, v in counts.items():
        m[k] = float(v)
    m.update(spark_wide(per_span, wall, cores))
    return m


def stop_processes(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every child to end."""
    from hostenv import tree_pids

    me = os.getpid()
    gateway = spark.sparkContext._gateway
    spark.stop()
    kids = tree_pids(me)
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as e:  # the JVM may already be gone
        print(f"# gateway shutdown: {e!r}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # reap any direct children left behind
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def fmt(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "n/a"
    if isinstance(v, list):
        return "[" + ", ".join(fmt(x) for x in v) + "]"
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import hostenv

    hostenv.prepare_env(WORK)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import oshdb_spark  # noqa: F401
        from oshdb_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    from tracing import Tracer, attribute_tasks, read_event_log
    from workloads import WORKLOADS

    cores = hostenv.local_cores()
    window = hostenv.HostWindow()
    rss = hostenv.RssSampler().start()
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=hostenv.spark_conf(WORK, cores, event_log=bool(args.trace)),
    )
    session_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, WORK, args.scale, cores,
                                      corrupt=args.corrupt)
        gen = []
        for _ in range(GEN_REPS):
            t = time.perf_counter()
            wl.generate()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen) + prep_s
        if args.trace:
            # the untraced round runs before and after the traced one, so
            # warm-up favours neither side of the overhead
            untraced = [timed(wl.cycle)]
            tracer = Tracer(spark)
            t = time.perf_counter()
            counts = wl.trace_cycle(tracer)
            traced = time.perf_counter() - t
            spark.sparkContext.setJobDescription(None)
            untraced.append(timed(wl.cycle))
            result = None
        else:
            result = wl.measure(args.seconds)
        wl.check()
    finally:
        stop_processes(spark)
    peak_mb = rss.stop()
    host = window.stamp()

    print(f"# perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"scale={args.scale} cores={cores} driver_mem={os.environ['SPARK_DRIVER_MEM']}")
    print(f"# host {json.dumps(host)}")
    print(f"# setup: session_s={session_s:.3f} generate_s={[round(g, 3) for g in gen]} "
          f"prepare_s={prep_s:.3f}")
    if args.trace:
        per_span = attribute_tasks(read_event_log(os.path.join(WORK, "eventlog")), tracer)
        metrics = layer_metrics(tracer, per_span, counts, traced,
                                statistics.mean(untraced), cores)
        metrics["peak_rss_mb"] = peak_mb
        selfs = sum(tracer.self_times().values()) + metrics["other.s"]
        print(f"# trace: self times + other = {selfs:.4f} s, traced wall = {traced:.4f} s")
        tracer.write(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
                     {"metrics": metrics, "per_span": {str(k): v for k, v in per_span.items()}})
        units = PER_LAYER
    else:
        for name, value, unit in result["report"]:
            print(f"{name} = {fmt(value)} {unit}")
        print(f"peak_rss_mb = {fmt(peak_mb)} MB")
        metrics = {"setup_s": setup_s, **result["contract"]}
        units = E2E
    out = wl.out
    print(f"error_rate = {out.failed}/{out.attempted} failed/attempted")
    for note in out.notes[:10]:
        print(f"# MISMATCH {note}")
    for k in units:
        print(f"{k} = {fmt(metrics[k])} {units[k]}")
    correct = out.failed == 0 and out.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
