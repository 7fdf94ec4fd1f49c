"""Python-worker budget of the map-only kernels and the lookup path.

Every Python task pays a fixed worker start-up before user code runs, so
the engine keeps Python out of every frame that does not need it: the
copart apply and the map-only compaction kernel drive their Arrow task
bodies from a JVM range (never ``sc.parallelize``), empty scan sides are
JVM LocalRelations, and ``read_keys`` evaluates the caller's keys frame
exactly once.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.oracle import final_state
from cnpj_data_pipeline_spark.sources.change_stream import (
    write_epoch,
    write_epoch_bucketed,
)

KEYS = ["conv_id", "turn_idx"]


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(KEYS).reset_index(drop=True)


def _bucketed_lake(spark, tmp_path, n_buckets=4, n_epochs=2):
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=n_epochs)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, n_epochs):
        write_epoch_bucketed(b, wal, e, KEYS, n_buckets)
    return ch, wal, str(tmp_path / "lake")


def test_map_kernels_never_parallelize(spark, tmp_path, monkeypatch):
    """The copart apply and the map-kernel compaction build no Python-fed
    driving frame: with ``SparkContext.parallelize`` raising, both still
    run and match the oracle."""
    ch, wal, lake = _bucketed_lake(spark, tmp_path, n_epochs=3)
    golden = _sorted(final_state(ch.toPandas()))

    def _no_parallelize(*_a, **_k):
        raise AssertionError("sc.parallelize on a map-kernel path")

    monkeypatch.setattr(SparkContext, "parallelize", _no_parallelize)
    ms = IngestJob(lake, EngineConfig(n_buckets=4)).run_stream(spark, wal)
    assert ms and all(m.get("copartitioned") for m in ms), ms
    t = LakeTable.load(lake)
    assert any(
        not info.get("merged", True) for info in t.snapshot()["buckets"].values()
    )
    pd.testing.assert_frame_equal(
        _sorted(t.read(spark).toPandas()), golden, check_dtype=False
    )

    t.compact(spark)
    snap = t.snapshot()
    assert snap["op"] == "compact"
    for info in snap["buckets"].values():  # the map kernel: one file each
        assert info["merged"] and len(info["files"]) == 1, info
    pd.testing.assert_frame_equal(
        _sorted(t.read(spark).toPandas()), golden, check_dtype=False
    )


def test_read_of_unmerged_table_plans_no_python_scan(spark, tmp_path):
    """A read whose merged side is empty unions a JVM LocalRelation, not
    a parallelize-backed ``ExistingRDD`` scan (one Python task per default
    partition on every evaluation)."""
    ch, wal, lake = _bucketed_lake(spark, tmp_path)
    IngestJob(lake, EngineConfig(n_buckets=4)).run_stream(spark, wal)
    t = LakeTable.load(lake)
    buckets = t.snapshot()["buckets"]
    assert len(buckets) == 4
    assert not any(info.get("merged", True) for info in buckets.values())
    df = t.read(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    pd.testing.assert_frame_equal(
        _sorted(df.toPandas()),
        _sorted(final_state(ch.toPandas())),
        check_dtype=False,
    )


@pytest.mark.parametrize("on", [None, ["conv_id"]])
def test_read_keys_evaluates_keys_once(spark, tmp_path, on):
    """``read_keys`` (broadcast regime) runs the caller's keys plan once:
    neither the semi join's broadcast nor re-collecting the returned frame
    re-evaluates it. Counted through a Python UDF that bumps an
    accumulator per key row."""
    ch = gen_changes(spark, n_events=2_000, n_convs=80, n_epochs=2)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 2):
        write_epoch(b, wal, e)
    lake = str(tmp_path / "lake")
    IngestJob(lake, EngineConfig(n_buckets=8)).run_stream(spark, wal)
    golden = final_state(ch.toPandas())
    picked = [
        (str(r.conv_id), int(r.turn_idx))
        for r in golden.head(24).itertuples()
    ] + [("no-such-conv", 0)]

    acc = spark.sparkContext.accumulator(0)

    def _key(i):
        acc.add(1)
        return picked[i]

    key_udf = F.udf(_key, "struct<conv_id:string,turn_idx:bigint>")
    keys = (
        spark.range(len(picked))
        .select(key_udf("id").alias("k"))
        .select("k.conv_id", "k.turn_idx")
    )
    got = LakeTable.load(lake).read_keys(spark, keys, on=on)
    first = got.toPandas()
    second = got.toPandas()
    assert acc.value == len(picked)

    match = ["conv_id"] if on else KEYS
    want = golden.merge(
        pd.DataFrame(picked, columns=KEYS)[match].drop_duplicates(), on=match
    )
    for res in (first, second):
        pd.testing.assert_frame_equal(
            _sorted(res), _sorted(want), check_dtype=False
        )
