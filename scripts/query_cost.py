#!/usr/bin/env python3
"""Where each gated AOI query's CPU goes, thread by thread.

    python3 scripts/query_cost.py --seed 1 [--root CHECKOUT] [--work DIR]

Builds perfbench's ``aoi_queries`` world for ``--seed`` on the engine of
``--root`` (default: this checkout; point it at another checkout to
measure that engine with the same script), warms up exactly as perfbench
does, and then runs the first timed round of the five query types,
followed by that round's contribution query once more and by a
``type:way`` contribution query (a memo-key miss: the handle builds and
persists new contribution states).  For each query it prints the wall
time, the jobs it started, the process-tree CPU and its split, read from
``/proc`` around the query:

* ``jit``        the JVM's C1/C2 compiler threads;
* ``gc``         GC and VM threads;
* ``executor``   Spark executor task threads;
* ``jvm_driver`` every other JVM thread (Py4J, scheduler, planner), and
                 CPU of threads that ended between two samples;
* ``py_driver``  the Python driver process;
* ``py_workers`` the JVM's child processes (the pyspark daemon and its
                 workers, with the workers they reaped).

``compiles`` is the number of whole-stage-codegen classes Janino compiled
during the query (Spark's ``CodegenMetrics`` compilation-time histogram).
After the table it prints the Py4J round trips and the wall time of
building (not running) a contribution DataFrame on the warm handle, the
bytes the session holds cached (``getRDDStorageInfo``: memory plus disk)
after the repeat and after the key miss -- the handle's contribution
states are all it caches then -- and a JSON line with everything.  It
changes nothing under ``perfbench/``: the world, the queries and the
session settings are perfbench's own.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CLK_TCK = os.sysconf("SC_CLK_TCK")
SPLIT = ("jit", "gc", "executor", "jvm_driver", "py_driver", "py_workers")


def _stat(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _ticks(fields: list[str], children: bool = False) -> int:
    return sum(int(v) for v in fields[11:15 if children else 13])


def _thread_kind(name: str) -> str:
    if "CompilerThre" in name:
        return "jit"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    if name.startswith("Executor task"):
        return "executor"
    return "jvm_driver"


def _jvm_threads(jvm_pid: int) -> dict[int, tuple[str, int]]:
    """tid -> (kind, CPU ticks so far) of the JVM's live threads."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                name = f.read().strip()
            out[int(tid)] = (_thread_kind(name),
                             _ticks(_stat(f"/proc/{jvm_pid}/task/{tid}/stat")))
        except OSError:
            continue  # the thread ended while being read
    return out


def _workers_ticks(jvm_pid: int) -> int:
    from hostenv import tree_pids  # perfbench's, on the path main() set

    n = 0
    for pid in tree_pids(jvm_pid):
        try:
            n += _ticks(_stat(f"/proc/{pid}/stat"), children=True)
        except OSError:
            continue
    return n


class Probe:
    """Wall, CPU split and Janino compiles of one call.

    The JVM's threads are sampled every ``POLL_S`` while the call runs,
    so a thread that ends during it (the JVM starts and stops compiler
    threads as the JIT queue grows and drains) keeps its kind up to its
    last sample; CPU seen only in the process total lands in
    ``jvm_driver``.  The sampler thread's own CPU is left out of
    ``py_driver``."""

    POLL_S = 0.05

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def compiles(self) -> int:
        metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())

    def run(self, fn) -> dict:
        start = _jvm_threads(self.pid)
        seen = dict(start)
        done = threading.Event()
        sampler: dict = {}

        def poll():
            me = f"/proc/{os.getpid()}/task/{threading.get_native_id()}/stat"
            while not done.wait(self.POLL_S):
                seen.update(_jvm_threads(self.pid))
            sampler["ticks"] = _ticks(_stat(me))

        jvm0 = _ticks(_stat(f"/proc/{self.pid}/stat"))
        py0 = _ticks(_stat(f"/proc/{os.getpid()}/stat"))
        w0 = _workers_ticks(self.pid)
        c0, t0 = self.compiles(), time.perf_counter()
        th = threading.Thread(target=poll, daemon=True)
        th.start()
        group = f"query_cost-{c0}-{t0}"
        self.sc.setJobGroup(group, "query_cost probe")
        try:
            fn()
        finally:
            wall = time.perf_counter() - t0
            done.set()
            th.join()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        seen.update(_jvm_threads(self.pid))
        c1 = self.compiles()
        t = dict.fromkeys(SPLIT, 0)
        for tid, (kind, n) in seen.items():
            t[kind] += n - start.get(tid, (kind, 0))[1]
        jvm = _ticks(_stat(f"/proc/{self.pid}/stat")) - jvm0
        t["jvm_driver"] += jvm - sum(t.values())
        t["py_driver"] = _ticks(_stat(f"/proc/{os.getpid()}/stat")) - py0 - sampler["ticks"]
        t["py_workers"] = _workers_ticks(self.pid) - w0
        d = {k: v / CLK_TCK for k, v in t.items()}
        return {"wall_s": wall, "jobs": jobs, "cpu_s": sum(d.values()), **d,
                "compiles": c1 - c0}


def cached_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD the session holds cached."""
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def count_py4j(spark, fn) -> tuple[int, float]:
    """(Py4J round trips, wall s) of ``fn()``."""
    client = spark._jvm._gateway_client
    calls = [0]
    send = client.send_command

    def counted(*a, **kw):
        calls[0] += 1
        return send(*a, **kw)

    client.send_command = counted
    t = time.perf_counter()
    try:
        fn()
    finally:
        del client.send_command  # back to the class's method
    return calls[0], time.perf_counter() - t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--root", default=os.path.dirname(HERE),
                    help="checkout whose engine and perfbench to use")
    ap.add_argument("--work", default=None,
                    help="scratch directory, emptied first (default: a new temp dir)")
    args = ap.parse_args(argv)
    root = os.path.abspath(args.root)
    work = args.work or tempfile.mkdtemp(prefix="query_cost_")
    sys.path[:0] = [os.path.join(root, "perfbench"), root]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import hostenv
    from run import stop_processes
    from workloads import ROUND, AoiQueries

    from oshdb_spark.session import get_spark

    hostenv.prepare_env(work)
    cores = hostenv.local_cores()
    spark = get_spark(
        app_name="query_cost", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=hostenv.spark_conf(work, cores, event_log=False),
    )
    out: dict = {"seed": args.seed, "root": root, "cores": cores}
    try:
        probe = Probe(spark)
        out["cache_max_entries"] = int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries"))
        wl = AoiQueries(spark, args.seed, work, "full", cores)
        wl.generate()
        c0 = probe.compiles()
        wl.prepare()  # the store ETL and perfbench's warm-up round
        out["setup_compiles"] = probe.compiles() - c0
        rows = []
        timed = wl.queries[: len(ROUND)]
        contribution = next(q for q in timed if q["op"] == "contribution")
        for q in [*timed, contribution]:
            r = probe.run(lambda q=q: wl._execute(q, wl.db))
            rows.append({"op": q["op"], **r})
        rows[-1]["op"] = "contribution (repeat)"
        out["round_compiles"] = sum(r["compiles"] for r in rows[:-1])
        trips, build_s = count_py4j(
            spark, lambda: wl._view(contribution, wl.db).dataframe())
        out["warm_contribution_build"] = {"py4j_round_trips": trips,
                                          "wall_s": build_s}
        out["cached_bytes"] = {"after_repeat": cached_bytes(spark)}
        rows.append({"op": "contribution (key miss)", **probe.run(
            lambda: wl._view(contribution, wl.db).filter("type:way").count())})
        out["cached_bytes"]["after_key_miss"] = cached_bytes(spark)
        out["queries"] = rows
    finally:
        stop_processes(spark)
        if args.work is None:
            shutil.rmtree(work, ignore_errors=True)

    cols = ("wall_s", "cpu_s", *SPLIT)
    print(f"# query_cost seed={args.seed} cores={cores} root={root} "
          f"codegen cache={out['cache_max_entries']}")
    print(f"{'query':24s}" + "".join(f"{c:>11s}" for c in cols)
          + f"{'jobs':>6s}{'compiles':>10s}")
    for r in out["queries"]:
        print(f"{r['op']:24s}" + "".join(f"{r[c]:11.2f}" for c in cols)
              + f"{r['jobs']:6d}{r['compiles']:10d}")
    print(f"# compiles: set-up {out['setup_compiles']}, "
          f"timed round {out['round_compiles']}")
    b = out["warm_contribution_build"]
    print(f"# warm-handle contribution build: {b['py4j_round_trips']} Py4J "
          f"round trips, {b['wall_s']:.2f} s")
    m = out["cached_bytes"]
    print(f"# cached bytes: after the repeat {m['after_repeat']}, "
          f"after the key miss {m['after_key_miss']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
