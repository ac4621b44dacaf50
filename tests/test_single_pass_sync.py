"""The batch sync runs its plan once: offsets are observed during the
write, ``write_csv`` probes nothing before writing, and the post-shuffle
write keeps one slice per core."""

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import count_jobs
from python_cdc_component_spark.engine import SyncConfig, sync, sync_multi
from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC
from python_cdc_component_spark.sinks.csv_sink import write_csv
from python_cdc_component_spark.sinks.state import RunState
from python_cdc_component_spark.sources.csv import read_csv_with_schema
from python_cdc_component_spark.sources.events import read_cdc_events


def _csv_files(path):
    return [f for f in os.listdir(path) if f.endswith(".csv")]


def _written(spark, path, fmt, schema):
    if fmt == "csv":
        return read_csv_with_schema(spark, path, schema)
    return spark.read.parquet(path)


def _output_bounds(df):
    row = df.agg(F.max(SC.EVENT_TIMESTAMP_MS).alias("ts"),
                 F.max(SC.POS).alias("pos")).collect()[0]
    return row["ts"], row["pos"]


def test_sync_dedupe_csv_runs_at_most_two_jobs(spark, sf_dir, tmp_path):
    """One scan + PK shuffle (the map stage) and one window + write: the
    offset bounds and the slice count cost no extra job."""
    jobs, _ = count_jobs(spark, lambda: sync(
        spark, sf_dir, str(tmp_path / "out"),
        SyncConfig(mode="DEDUPE", output_format="csv")))
    assert jobs <= 2


def test_write_csv_runs_no_job_before_its_write(spark, tmp_path):
    """A partition probe on a shuffled frame materializes the shuffle
    under AQE; ``write_csv`` must cost no more jobs or tasks than a bare
    write."""
    df = (spark.range(0, 20_000, 1, 4).selectExpr("id % 97 AS k", "id")
          .groupBy("k").agg(F.max("id").alias("m")))
    bare = count_jobs(spark, lambda: df.write.csv(str(tmp_path / "bare")))
    sliced = count_jobs(spark, lambda: write_csv(df, str(tmp_path / "s")))
    assert sliced[0] <= bare[0]          # jobs
    assert sliced[1] <= bare[1]          # tasks


@pytest.mark.parametrize("mode", ["DEDUPE", "APPEND"])
@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_sync_offsets_match_written_output(spark, sf_dir, tmp_path,
                                           mode, fmt):
    """state.json offsets are the max timestamp and position of the rows
    the sync wrote; a rerun with nothing past them keeps them."""
    out = str(tmp_path / "out")
    cfg = SyncConfig(mode=mode, output_format=fmt)
    result = sync(spark, sf_dir, out, cfg)["events"]
    st = RunState.load(os.path.join(out, "state.json"))
    written = _written(spark, os.path.join(out, "events"), fmt,
                       result.schema)
    ts, pos = _output_bounds(written)
    assert pos is not None
    assert (st.offsets["events"]["ts"], st.offsets["events"]["pos"]) \
        == (ts, pos)

    # incremental rerun: no event past the stored offsets → NULL observed
    # bounds → the prior offsets survive
    again = sync(spark, sf_dir, out, cfg, state=st)["events"]
    assert again.count() == 0
    st2 = RunState.load(os.path.join(out, "state.json"))
    assert st2.offsets["events"] == st.offsets["events"]


def test_sync_multi_offsets_and_legacy_manifest(spark, sf_dir, tmp_path):
    """``sync_multi`` records each table's bounds from its own write and
    honors ``manifest_format``/``destination`` like ``sync``."""
    ev = read_cdc_events(spark, sf_dir)
    multi = ev.withColumn(
        "_table", F.when(F.col("event_type").isin("click", "view"), "tab_a")
                   .otherwise("tab_b"))
    out = str(tmp_path / "multi")
    st = RunState()
    cfgs = {
        "tab_a": SyncConfig(mode="DEDUPE", output_format="csv",
                            manifest_format="legacy",
                            destination="in.c-bucket"),
        "tab_b": SyncConfig(mode="APPEND"),
    }
    results = sync_multi(spark, multi, out, cfgs, st)

    for t, cfg in cfgs.items():
        written = _written(spark, os.path.join(out, t), cfg.output_format,
                           results[t].schema)
        ts, pos = _output_bounds(written)
        assert (st.offsets[t]["ts"], st.offsets[t]["pos"]) == (ts, pos)

    with open(os.path.join(out, "tab_a.manifest")) as fh:
        legacy = json.load(fh)
    assert "column_metadata" in legacy and "schema" not in legacy
    assert legacy["destination"] == "in.c-bucket.tab_a"
    assert legacy["primary_key"] == ["user_id"]
    with open(os.path.join(out, "tab_b.manifest")) as fh:
        assert "schema" in json.load(fh)


def test_write_csv_keeps_one_slice_per_core_after_a_shuffle(spark, tmp_path):
    """A small frame after a shuffle is written by up to one task per
    core, not coalesced into a single slice."""
    df = (spark.range(0, 20_000, 1, 4).selectExpr("id % 1000 AS k", "id")
          .repartition(16, "k"))
    non_empty = df.rdd.glom().filter(bool).count()
    floor = min(spark.sparkContext.defaultParallelism, non_empty)
    assert floor > 1
    path = str(tmp_path / "csv")
    write_csv(df, path)
    assert len(_csv_files(path)) >= floor


def test_write_csv_caps_slices_by_target_size(spark, tmp_path):
    """Above the per-core floor the 500 MB-style slice target still caps
    the file count: ``size / target + 1`` slices at most."""
    dp = spark.sparkContext.defaultParallelism
    df = spark.range(0, 50_000, 1, 4 * dp + 8).selectExpr(
        "id", "repeat('x', 40) AS pad")
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    target = size // (2 * dp)
    cap = size // target + 1
    assert dp < cap < df.rdd.getNumPartitions()
    path = str(tmp_path / "csv")
    write_csv(df, path, target_slice_bytes=target)
    assert len(_csv_files(path)) <= cap
