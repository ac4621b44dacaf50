"""The closed-loop CDC sync workloads.

Each workload has one client that issues its next sync only after the
previous one completed.  A workload

- ``generate``s its inputs from the seed (cached per seed) together with
  the DuckDB-computed expected fingerprints,
- ``warm``s up on a tiny input of the same shape (part of set-up),
- ``prepare``s the pristine state its syncs start from,
- ``restore``s that state in place before every sync (untimed),
- runs ``sync`` (timed: ``sync_s``) and ``read`` (timed: ``read_s``,
  every synced table read back whole through the engine's reader), and
- ``check``s the output's fingerprints against the expected ones
  (untimed).

``layer_probes`` runs the per-layer measurements of a traced run on the
workload's own inputs.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np

import gen
import oracle
from tracing import (StreamTap, Tracer, drain_listener_bus, jobs_and_tasks,
                     median)

from python_cdc_component_spark import engine
from python_cdc_component_spark.model.schema import (
    SchemaRegistry, TableSchema)
from python_cdc_component_spark.sinks.csv_sink import write_csv
from python_cdc_component_spark.sinks.manifest import write_manifest
from python_cdc_component_spark.sinks.merge import MergeCompactor
from python_cdc_component_spark.sinks.state import RunState
from python_cdc_component_spark.sources.csv import read_csv_with_schema
from python_cdc_component_spark.sources.events import read_cdc_events
from python_cdc_component_spark.streaming import bounded

# Sizes, scaled from the reference's fixtures so that every run of every
# workload (JVM start, set-up, measurement, checks) fits the benchmark's
# time budget on a 4-core machine; the reasons are in BENCHMARK.json.
SIZES = {
    "initial_load": {"events": 600_000, "keys": 150_000, "files": 4},
    "incremental_merge": {"keys": 100_000, "deltas": 3,
                          "delta_events": 1_000, "buckets": 32},
}
WARM = {"events": 5_000, "keys": 1_250}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fingerprint(df, key: str, pos: str, deleted: str) -> tuple[int, int]:
    from pyspark.sql import functions as F
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum(F.expr(oracle.row_hash_sql(
                     key, pos, deleted))), F.lit(0)).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"])


def _reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark/Hadoop bookkeeping
    (``_*``, ``.*`` such as CRC files) excluded."""
    files = size = 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_spark"))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _listing(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size)
    return out


class Workload:
    name = ""

    def __init__(self, work: str, inputs: str, seed: int):
        self.work = work            # per-run scratch, removed at exit
        self.inp = inputs           # per-seed input cache
        self.seed = seed
        self.expected: dict = {}

    # -- inputs ----------------------------------------------------------
    def rng(self, part: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, part])

    def ensure_inputs(self) -> float:
        """Generate this seed's inputs unless cached; returns seconds."""
        t = time.perf_counter()
        done = os.path.join(self.inp, "expected.json")
        if not os.path.exists(done):
            shutil.rmtree(self.inp, ignore_errors=True)
            os.makedirs(self.inp)
            expected = self.generate()
            with open(done + ".tmp", "w") as fh:
                json.dump(expected, fh)
            os.replace(done + ".tmp", done)
        with open(done) as fh:
            self.expected = {k: tuple(v) for k, v in json.load(fh).items()}
        return time.perf_counter() - t

    def generate(self) -> dict:
        raise NotImplementedError

    # -- per-layer probes --------------------------------------------------
    def probe_batches(self) -> list[str]:
        """Batch roots (``<root>/events.parquet``) the source/operator/sink
        probes scan."""
        raise NotImplementedError

    def probe_streams(self) -> list[str]:
        raise NotImplementedError

    def merge_probe(self, spark) -> tuple[list[float], int, int, int]:
        """Direct ``MergeCompactor.merge`` per delta: (seconds per merge,
        buckets touched, bytes rewritten, delta bytes)."""
        raise NotImplementedError

    def state_dir(self) -> str:
        raise NotImplementedError


def _merge_deltas(spark, work: str, state: str, deltas: list[str]) -> tuple:
    """Merge each delta file, read through the batch source, into the
    compacted state at ``state`` (keyed like ``bounded_sync``'s); bytes
    rewritten come from a before/after file listing."""
    times, touched, rewritten, delta_bytes = [], 0, 0, 0
    for i, f in enumerate(deltas):
        root = os.path.join(work, "probe_merge", f"{i:05d}")
        _reset(os.path.join(root, "events.parquet"))
        shutil.copy(f, os.path.join(root, "events.parquet"))
        df = read_cdc_events(spark, root)
        before = _listing(state)
        t = time.perf_counter()
        touched += MergeCompactor(state, ["user_id"]).merge(spark, df)
        times.append(time.perf_counter() - t)
        after = _listing(state)
        rewritten += sum(sz for p, (ino, sz) in after.items()
                         if before.get(p, (None,))[0] != ino)
        delta_bytes += os.path.getsize(f)
    return times, touched, rewritten, delta_bytes


class InitialLoad(Workload):
    """First snapshot sync of one large table through ``engine.sync``
    (DEDUPE, CSV egress): the data-volume path."""

    name = "initial_load"

    def generate(self) -> dict:
        s = SIZES[self.name]
        rng = self.rng(1)
        n = s["events"]
        keys = rng.integers(0, s["keys"], size=n)
        tb = gen.events(rng, 0, keys, gen.op_kinds(rng, n, 0.10, 0.05))
        gen.write(tb, os.path.join(self.inp, "main", "events.parquet"),
                  s["files"])
        rng = self.rng(2)
        w = gen.events(rng, 0, rng.integers(0, WARM["keys"], WARM["events"]),
                       gen.op_kinds(rng, WARM["events"], 0.10, 0.05))
        gen.write(w, os.path.join(self.inp, "warm", "events.parquet"))
        return {"events": oracle.latest_per_key(self._files())}

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(
            self.inp, "main", "events.parquet", "*.parquet")))

    def _cfg(self) -> engine.SyncConfig:
        return engine.SyncConfig(mode="DEDUPE", output_format="csv")

    def warm(self, spark) -> None:
        out = os.path.join(self.work, "warm_out")
        shutil.rmtree(out, ignore_errors=True)
        engine.sync(spark, os.path.join(self.inp, "warm"), out, self._cfg())
        _noop(self._table(spark, out))

    def prepare(self, spark) -> None:
        self.out = os.path.join(self.work, "out")

    def restore(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def sync(self, spark) -> None:
        engine.sync(spark, os.path.join(self.inp, "main"), self.out,
                    self._cfg())

    @staticmethod
    def _table(spark, out: str):
        reg = SchemaRegistry.load(os.path.join(out, "schema.json"))
        return read_csv_with_schema(spark, os.path.join(out, "events"),
                                    reg.tables["events"].struct)

    def read(self, spark) -> None:
        _noop(self._table(spark, self.out))

    def check(self, spark) -> list[bool]:
        """The CSV read back by the engine, and read by DuckDB in manifest
        column order."""
        got = _fingerprint(self._table(spark, self.out),
                           "user_id", "KBC__POS", "KBC__DELETED")
        with open(os.path.join(self.out, "events.manifest")) as fh:
            cols = json.load(fh)["columns"]
        csv = oracle.csv_output(os.path.join(self.out, "events"), cols,
                                "user_id", "KBC__POS", "KBC__DELETED")
        want = self.expected["events"]
        return [got == want, csv == want]

    def probe_batches(self) -> list[str]:
        return [os.path.join(self.inp, "main")]

    def probe_streams(self) -> list[str]:
        return [os.path.join(self.inp, "main", "events.parquet")]

    def merge_probe(self, spark):
        # no compacted state exists on this path: merge the first input
        # file into an empty store (a first load through the MERGE sink)
        self._probe_state = os.path.join(self.work, "probe_state")
        shutil.rmtree(self._probe_state, ignore_errors=True)
        return _merge_deltas(spark, self.work, self._probe_state,
                             self._files()[:1])

    def state_dir(self) -> str:
        return self._probe_state

    def stream_probe(self, spark) -> None:
        """This path runs no stream; the streaming layer is measured on a
        one-file ``bounded_sync`` of the same input."""
        src = os.path.join(self.work, "probe_stream")
        _reset(src)
        shutil.copy(self._files()[0], src)
        bounded.bounded_sync(
            spark, src, os.path.join(self.work, "probe_stream_state"),
            os.path.join(self.work, "probe_stream_ckpt"),
            bounded.BoundedStreamConfig(mode="DEDUPE",
                                        max_files_per_trigger=1))


class IncrementalMerge(Workload):
    """Chained bounded run: small deltas drained by one ``bounded_sync``
    into a pre-built bucketed compacted state, then one full read."""

    name = "incremental_merge"

    def generate(self) -> dict:
        s = SIZES[self.name]
        k, e = s["keys"], s["delta_events"]
        rng = self.rng(1)
        base = gen.events(rng, 0, rng.permutation(k),
                          np.full(k, "c"))
        gen.write(base, os.path.join(self.inp, "base"))
        next_id, next_key = k, k
        for d in range(s["deltas"]):
            kinds = rng.permutation(np.repeat(
                np.array(["u", "c", "d"]),
                [e - e // 5 - e // 10, e // 5, e // 10]))
            keys = gen.skewed_keys(rng, e, k)
            n_new = int((kinds == "c").sum())
            keys[kinds == "c"] = np.arange(next_key, next_key + n_new)
            next_key += n_new
            tb = gen.events(rng, next_id, keys, kinds)
            next_id += e
            gen.write(tb, os.path.join(self.inp, "deltas", "events.parquet"),
                      first=d)
        self._warm_inputs()
        return {"events": oracle.latest_per_key(
            self._base_files() + self._delta_files())}

    def _warm_inputs(self) -> None:
        rng = self.rng(2)
        n = WARM["keys"]
        gen.write(gen.events(rng, 0, rng.permutation(n), np.full(n, "c")),
                  os.path.join(self.inp, "warm_base"))
        d = gen.events(rng, n, gen.skewed_keys(rng, 200, n),
                       gen.op_kinds(rng, 200, 0.2, 0.1))
        gen.write(d, os.path.join(self.inp, "warm_delta"))

    def _base_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.inp, "base", "*.parquet")))

    def _delta_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(
            self.inp, "deltas", "events.parquet", "*.parquet")))

    def _cfg(self) -> bounded.BoundedStreamConfig:
        return bounded.BoundedStreamConfig(
            mode="DEDUPE", max_files_per_trigger=1,
            num_state_buckets=SIZES[self.name]["buckets"])

    def _build(self, spark, root: str, base: list[str],
               deltas: list[str]) -> None:
        """Drain ``base`` into a fresh state, keep state + checkpoint as
        pristine, then stage ``deltas`` as new files of the stream."""
        stream, state, ckpt = (os.path.join(root, x)
                               for x in ("stream", "state", "ckpt"))
        for p in (stream, state, ckpt):
            shutil.rmtree(p, ignore_errors=True)
        os.makedirs(stream)
        for i, f in enumerate(base):
            shutil.copy(f, os.path.join(stream, f"base-{i:05d}.parquet"))
        bounded.bounded_sync(spark, stream, state, ckpt, self._cfg())
        for p in (state, ckpt):
            shutil.rmtree(p + ".pristine", ignore_errors=True)
            shutil.copytree(p, p + ".pristine")
        for i, f in enumerate(deltas):
            shutil.copy(f, os.path.join(stream, f"delta-{i:05d}.parquet"))

    @staticmethod
    def _restore(root: str) -> None:
        for x in ("state", "ckpt"):
            p = os.path.join(root, x)
            shutil.rmtree(p, ignore_errors=True)
            shutil.copytree(p + ".pristine", p)

    def warm(self, spark) -> None:
        # one drain of base + delta: the second trigger merges into an
        # existing state, the path the timed syncs take
        root = os.path.join(self.work, "warm")
        self._build(spark, root,
                    glob.glob(os.path.join(self.inp, "warm_base", "*")) +
                    glob.glob(os.path.join(self.inp, "warm_delta", "*")), [])
        _noop(MergeCompactor(os.path.join(root, "state"), ["user_id"])
              .read(spark))

    def prepare(self, spark) -> None:
        self.root = os.path.join(self.work, "main")
        self._build(spark, self.root, self._base_files(),
                    self._delta_files())

    def restore(self) -> None:
        self._restore(self.root)

    def _drain(self, spark, root: str) -> None:
        bounded.bounded_sync(spark, os.path.join(root, "stream"),
                             os.path.join(root, "state"),
                             os.path.join(root, "ckpt"), self._cfg())

    def sync(self, spark) -> None:
        self._drain(spark, self.root)

    def _table(self, spark):
        return MergeCompactor(os.path.join(self.root, "state"),
                              ["user_id"]).read(spark)

    def read(self, spark) -> None:
        _noop(self._table(spark))

    def check(self, spark) -> list[bool]:
        got = _fingerprint(self._table(spark),
                           "user_id", "kbc__pos", "__deleted")
        return [got == self.expected["events"]]

    def probe_batches(self) -> list[str]:
        return [os.path.join(self.inp, "deltas")]

    def probe_streams(self) -> list[str]:
        return [os.path.join(self.root, "stream")]

    def merge_probe(self, spark):
        self._restore(self.root)
        return _merge_deltas(spark, self.work,
                             os.path.join(self.root, "state"),
                             self._delta_files())

    def state_dir(self) -> str:
        return os.path.join(self.root, "state")


WORKLOADS = {w.name: w for w in (InitialLoad, IncrementalMerge)}


def layer_probes(spark, w: Workload, tap: StreamTap, tr: Tracer) -> dict:
    """Per-layer measurements on the workload's own inputs, each a span
    around public engine calls."""
    m = {}
    roots = w.probe_batches()
    spark.sparkContext.setJobGroup("probe", "per-layer probes")

    def timed(name: str, fn, reps: int = 1) -> float:
        for _ in range(reps):
            with tr.span(name):
                fn()
        return median(tr.durations(name)[-reps:])

    m["sources.scan_s"] = timed("sources.scan", lambda: [
        _noop(read_cdc_events(spark, r)) for r in roots], reps=3)
    n_events = sum(read_cdc_events(spark, r).count() for r in roots)
    m["sources.events_read"] = n_events
    m["sources.stream_build_s"] = timed("sources.stream_build", lambda: [
        bounded.read_event_stream(spark, s) for s in w.probe_streams()])

    # the dedup runs over a checkpointed scan, so it is timed without it
    cfg = engine.SyncConfig(mode="DEDUPE", output_format="csv")
    scanned = [read_cdc_events(spark, r).localCheckpoint(eager=True)
               for r in roots]
    planned = [engine.plan_table(df, cfg) for df in scanned]
    m["operators.dedup_s"] = timed("operators.dedup", lambda: [
        _noop(df) for df in planned], reps=3)
    m["operators.rows_in"] = n_events
    results = [df.localCheckpoint(eager=True) for df in planned]
    m["operators.rows_out"] = sum(df.count() for df in results)

    csv_root = os.path.join(w.work, "probe_csv")
    shutil.rmtree(csv_root, ignore_errors=True)
    m["sinks.csv_write_s"] = timed("sinks.csv_write", lambda: [
        write_csv(df, os.path.join(csv_root, f"t{i:03d}"))
        for i, df in enumerate(results)])
    m["sinks.csv_files"], m["sinks.csv_bytes"] = _tree_bytes(csv_root)

    def metadata() -> None:
        reg, st = SchemaRegistry(), RunState()
        for i, df in enumerate(results):
            name = f"t{i:03d}"
            merged = reg.update(TableSchema(name=name, struct=df.schema,
                                            primary_keys=["user_id"]))
            write_manifest(merged, os.path.join(csv_root, name + ".manifest"),
                           incremental=True)
            st.offsets[name] = {"ts": 0, "file": "binlog.000001", "pos": 0}
        reg.save(os.path.join(csv_root, "schema.json"))
        st.save(os.path.join(csv_root, "state.json"))
    m["sinks.metadata_s"] = timed("sinks.metadata", metadata)
    for df in scanned + results:
        df.unpersist()

    with tr.span("sinks.merge"):
        times, touched, rewritten, delta_bytes = w.merge_probe(spark)
    m["sinks.merge_s"] = median(times)
    m["sinks.merge_buckets_touched"] = touched
    m["sinks.merge_bytes_rewritten"] = rewritten
    m["sinks.write_amplification"] = rewritten / max(delta_bytes, 1)
    m["sinks.state_files"], m["sinks.state_bytes"] = _tree_bytes(
        w.state_dir())

    if isinstance(w, InitialLoad):
        tap.reset()
        spark.sparkContext.setJobGroup("probe-stream", "stream probe")
        t0 = time.perf_counter()
        with tr.span("streaming.probe"):
            w.stream_probe(spark)
        drain_listener_bus(spark)
        m.update(stream_metrics(spark, tap, t0, ["probe-stream"]))
    spark.sparkContext.setJobGroup("idle", "idle")
    return m


def stream_metrics(spark, tap: StreamTap, t0: float,
                   groups: list[str]) -> dict:
    """Streaming-layer figures of one call that started at ``t0``."""
    prog = tap.progress
    trig = [p["trigger_ms"] / 1000 for p in prog]
    add = [p["add_batch_ms"] / 1000 for p in prog]
    driver_jobs, _ = jobs_and_tasks(spark, groups)
    return {
        "streaming.trigger_s": median(trig),
        "streaming.add_batch_s": median(add),
        "streaming.overhead_s": sum(trig) - sum(add),
        "streaming.micro_batches": sum(1 for p in prog if p["rows"] > 0),
        "streaming.queries": len(tap.started),
        "streaming.plan_s": (tap.started[0][0] - t0
                                   if tap.started else 0.0),
        "streaming.driver_jobs": driver_jobs,
    }
