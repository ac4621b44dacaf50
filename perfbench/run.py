"""CDC sync benchmark: one command, closed-loop sync workloads.

    python3 perfbench/run.py --workload initial_load --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout; the engine is imported from
that checkout (``python_cdc_component_spark/``), never from an installed
copy.  Inputs are generated from ``--seed`` (cached per seed under
``perfbench/.work/inputs``), the workload's syncs are issued back to back
for ``--seconds`` seconds, every output is checked against DuckDB, and the
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (from a traced
repeat of the same loop plus per-layer probes, with the tracing overhead).
"""

from __future__ import annotations

import argparse
import glob
import json
from contextlib import nullcontext
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "python_cdc_component_spark"

MIN_OPS = 3             # syncs per loop even when --seconds is short
WARM_SYNCS = 2          # untimed syncs on the real input in set-up: after
                        # one, the next syncs still got faster (JIT, heap)
READS_PER_SYNC = 2      # read-backs after each sync; read_s is their median
DRIVER_MEMORY = "2g"

END_TO_END = {"sync_s": "s", "read_s": "s", "setup_s": "s"}
PER_LAYER = {
    "memory.peak_rss_mb": "MB", "memory.peak_old_gen_mb": "MB",
    "spark.jobs": "count", "spark.tasks": "count",
    "sources.scan_s": "s", "sources.events_read": "count",
    "sources.stream_build_s": "s",
    "operators.dedup_s": "s", "operators.rows_in": "count",
    "operators.rows_out": "count",
    "sinks.csv_write_s": "s", "sinks.csv_bytes": "bytes",
    "sinks.csv_files": "count", "sinks.metadata_s": "s",
    "sinks.merge_s": "s", "sinks.merge_buckets_touched": "count",
    "sinks.merge_bytes_rewritten": "bytes",
    "sinks.write_amplification": "ratio",
    "sinks.state_files": "count", "sinks.state_bytes": "bytes",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s", "streaming.micro_batches": "count",
    "streaming.queries": "count", "streaming.plan_s": "s",
    "streaming.driver_jobs": "count",
    "trace.overhead_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _find_program() -> None:
    """Import the engine from this checkout or fail before any work."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"error: no {PACKAGE}/ next to {os.path.basename(HERE)}/ "
                 "- run from the root of a source checkout")
    sys.path[:0] = [ROOT, HERE]
    sys.dont_write_bytecode = True
    import python_cdc_component_spark as pkg
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"error: {PACKAGE} resolved outside the checkout")


def _prune_inputs(parent: str, keep: int = 4) -> None:
    """Keep the input caches of the most recently used seeds only."""
    if not os.path.isdir(parent):
        return
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _remove_stale_runs(work: str) -> None:
    """Remove scratch dirs left by runs whose process no longer exists."""
    for d in glob.glob(os.path.join(work, "run-*")):
        if not os.path.exists(f"/proc/{d.rsplit('-', 1)[1]}"):
            shutil.rmtree(d, ignore_errors=True)


class Session:
    """The pinned Spark session shape and the processes behind it."""

    def __init__(self, run_dir: str):
        self.cpus = len(os.sched_getaffinity(0))
        self.local_dirs = os.path.join(run_dir, "spark-local")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dirs
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None

    def start(self):
        from python_cdc_component_spark.session import get_spark
        self.spark = get_spark(app_name="perfbench", cpus=str(self.cpus),
                               extra_conf=self.conf)
        return self.spark

    def describe(self) -> str:
        sc = self.spark.sparkContext
        return (f"session master={sc.master} cpus={self.cpus} "
                f"driver_memory={DRIVER_MEMORY} shuffle_partitions="
                f"{self.spark.conf.get('spark.sql.shuffle.partitions')} "
                f"SPARK_LOCAL_DIRS={self.local_dirs}")

    def jvm_pid(self):
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident MB of (this Python process, the driver JVM)."""
        from tracing import vm_hwm_mb
        pid = self.jvm_pid()
        return vm_hwm_mb(), vm_hwm_mb(pid) if pid is not None else 0.0

    def _old_gen_pools(self) -> list:
        """The driver JVM's heap pools for objects that survived young
        collections (G1 Old Gen, Tenured Gen, ...)."""
        mgmt = self.spark.sparkContext._jvm.java.lang.management
        return [p for p in mgmt.ManagementFactory.getMemoryPoolMXBeans()
                if p.getType().name() == "HEAP"
                and not any(x in p.getName() for x in ("Eden", "Survivor"))]

    def reset_peak_old_gen(self) -> None:
        for p in self._old_gen_pools():
            p.resetPeakUsage()

    def peak_old_gen_mb(self) -> float:
        """Peak old-generation occupancy since the last reset: the heap
        the program keeps alive past young collections."""
        return sum(p.getPeakUsage().getUsed()
                   for p in self._old_gen_pools()) / 2**20

    def stop(self) -> None:
        """Stop Spark, close the gateway and wait for the JVM to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Loop:
    """Closed loop: restore, sync (timed), read back (timed), check."""

    def __init__(self, spark, w, log):
        self.spark, self.w, self.log = spark, w, log
        self.attempted = self.failed = 0

    def run(self, seconds: float, tracer=None, tap=None,
            min_ops: int = MIN_OPS) -> dict:
        from tracing import drain_listener_bus, jobs_and_tasks
        from workloads import stream_metrics
        sc = self.spark.sparkContext
        out = {"sync": [], "read": [], "jobs": [], "tasks": [],
               "stream": []}
        t_end = time.perf_counter() + seconds
        while len(out["sync"]) < min_ops or time.perf_counter() < t_end:
            i = len(out["sync"])
            self.w.restore()
            group = f"op-{i}-{time.time_ns()}"
            if tracer is not None:
                tracer.run_id += 1
                tap.reset()
                sc.setJobGroup(group, "benchmark sync")
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                with _span(tracer, "sync"):
                    self.w.sync(self.spark)
                sync_s = time.perf_counter() - t0
                reads = []
                if tracer is not None:
                    sc.setJobGroup(group + "-read", "benchmark read-back")
                for _ in range(READS_PER_SYNC):
                    t1 = time.perf_counter()
                    with _span(tracer, "read"):
                        self.w.read(self.spark)
                    reads.append(time.perf_counter() - t1)
                checks = self.w.check(self.spark)
            except Exception:
                # a sync, read or check that raises is one failed operation
                # and ends the loop: the state it left is not trustworthy
                self.failed += 1
                traceback.print_exc()
                break
            out["sync"].append(sync_s)
            out["read"].extend(reads)
            self.attempted += len(checks)
            bad = checks.count(False)
            self.failed += bad
            if bad:
                self.log(f"sync {i}: {bad} of {len(checks)} output checks "
                         "failed")
            if tracer is not None:
                drain_listener_bus(self.spark)
                groups = [group] + [rid for _, rid in tap.started]
                jobs, tasks = jobs_and_tasks(self.spark, groups)
                out["jobs"].append(jobs)
                out["tasks"].append(tasks)
                out["stream"].append(
                    stream_metrics(self.spark, tap, t0, [group]))
        return out


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def main(argv=None) -> int:
    a = _args(argv)
    _find_program()
    from tracing import reset_peak_rss, steal_share, steal_snapshot
    from workloads import WORKLOADS
    if a.workload not in WORKLOADS:
        sys.exit(f"error: unknown workload {a.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")

    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", flush=True)

    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    inputs_parent = os.path.join(work, "inputs", a.workload)
    _prune_inputs(inputs_parent)
    _remove_stale_runs(work)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    w = WORKLOADS[a.workload](run_dir, os.path.join(
        inputs_parent, f"seed-{a.seed}"), a.seed)
    sess = Session(run_dir)
    try:
        gen_s = w.ensure_inputs()
        os.utime(w.inp)
        reset_peak_rss()        # input generation is not the program's
        log(f"inputs seed={a.seed} ready in {gen_s:.2f}s")

        # set-up, one cold start per run: JVM launch and session, warm-up
        # on a tiny input, the pristine state, untimed syncs on the real
        # input
        t0 = time.perf_counter()
        spark = sess.start()
        t1 = time.perf_counter()
        w.warm(spark)
        t2 = time.perf_counter()
        w.prepare(spark)
        t3 = time.perf_counter()
        loop = Loop(spark, w, log)
        loop.run(0, min_ops=WARM_SYNCS)
        t4 = time.perf_counter()
        setup_s = t4 - t0
        log(sess.describe())
        log(f"set-up {setup_s:.2f}s: session {t1 - t0:.2f}s, warm-up "
            f"{t2 - t1:.2f}s, pristine state {t3 - t2:.2f}s, warm syncs "
            f"{t4 - t3:.2f}s")

        sess.reset_peak_old_gen()
        steal0 = steal_snapshot()
        plain = loop.run(a.seconds)
        steal = steal_share(steal0)
        rss = sess.peak_rss_mb()
        memory = {"memory.peak_rss_mb": sum(rss),
                  "memory.peak_old_gen_mb": sess.peak_old_gen_mb()}
        metrics = _end_to_end(plain, setup_s)
        if a.trace:
            metrics = _traced(spark, w, loop, a, work, log, memory)
        log(f"samples sync={_fmt(plain['sync'])} read={_fmt(plain['read'])}"
            f"; error_rate={loop.failed}/{loop.attempted}; CPU time stolen "
            f"by the host "
            f"during the timed loop {100 * steal:.1f}%; peak RSS Python "
            f"{rss[0]:.0f} MB + JVM {rss[1]:.0f} MB, old-gen peak in the "
            f"timed loop {memory['memory.peak_old_gen_mb']:.0f} MB")
    finally:
        sess.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": loop.failed == 0 and bool(plain["sync"]),
                      "attempted": loop.attempted, "failed": loop.failed,
                      "metrics": metrics}))
    return 0


def _fmt(xs: list) -> str:
    return f"n={len(xs)} [" + " ".join(f"{x:.3f}" for x in xs) + "]"


def _end_to_end(plain: dict, setup_s: float) -> dict:
    from tracing import median
    vals = {"sync_s": median(plain["sync"]), "read_s": median(plain["read"]),
            "setup_s": setup_s}
    return {k: {"value": vals[k], "unit": END_TO_END[k]} for k in END_TO_END}


def _traced(spark, w, loop: Loop, a, work: str, log, memory: dict) -> dict:
    """Traced syncs of the same loop, then the per-layer probes;
    ``memory`` holds the figures of the untraced loop before them."""
    from tracing import StreamTap, Tracer, drain_listener_bus, median
    from workloads import InitialLoad, layer_probes
    # traced and untraced syncs alternate, so both see the same warmth
    tracer, tap = Tracer(), StreamTap()
    untraced, traced = [], {"sync": [], "jobs": [], "tasks": [], "stream": []}
    t_end = time.perf_counter() + a.seconds
    while len(traced["sync"]) < 2 or time.perf_counter() < t_end:
        untraced += loop.run(0, min_ops=1)["sync"]
        spark.streams.addListener(tap)
        try:
            r = loop.run(0, tracer, tap, min_ops=1)
        finally:
            drain_listener_bus(spark)
            spark.streams.removeListener(tap)
        for k in traced:
            traced[k] += r[k]
        if loop.failed:
            break
    spark.streams.addListener(tap)
    try:
        with tracer.span("probes"):
            m = layer_probes(spark, w, tap, tracer)
    finally:
        drain_listener_bus(spark)
        spark.streams.removeListener(tap)
    m.update(memory)
    m["spark.jobs"] = median(traced["jobs"])
    m["spark.tasks"] = median(traced["tasks"])
    if not isinstance(w, InitialLoad):
        for k in traced["stream"][0] if traced["stream"] else ():
            m[k] = median([s[k] for s in traced["stream"]])
    m["trace.overhead_s"] = median(traced["sync"]) - median(untraced)
    path = os.path.join(work, "traces", f"{a.workload}-seed{a.seed}.json")
    tracer.dump(path)
    log(f"{len(tracer.spans)} spans written to {path}")
    # a failed sync leaves some figures unmeasured; they read 0
    return {k: {"value": float(m.get(k, 0.0)), "unit": PER_LAYER[k]}
            for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
