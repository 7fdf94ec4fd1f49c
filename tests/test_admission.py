"""Ingest-side bounded admission (round-3 priority: backpressure, SURVEY
§2.9). A producer backlog is drained in bounded runs — max_epochs /
max_rows per run — with exactly-once resume between runs; the consumer side
already had maxSnapshotsPerBatch, this is the producer-facing twin.
Reference analogue: the chunked processing loop (src/processor.py:546-650)
bounds one pass's memory; here the bound is per-run admission with durable
per-epoch commits in between."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.oracle import final_state
from cnpj_data_pipeline_spark.sources import change_stream as cs


@pytest.fixture()
def wal(spark, tmp_path):
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=6)
    root = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 6):
        cs.write_epoch(b, root, e)
    return root, ch


def test_backlog_drains_in_bounded_runs(spark, tmp_path, wal):
    root, ch = wal
    job = IngestJob(str(tmp_path / "lake"), EngineConfig(n_buckets=8))

    applied_per_run = []
    for _ in range(3):
        m = job.run_stream(spark, root, max_epochs=2)
        applied_per_run.append([x["epoch"] for x in m if not x["skipped"]])
    assert applied_per_run == [[0, 1], [2, 3], [4, 5]]

    # backlog drained: the next bounded run admits nothing
    assert job.run_stream(spark, root, max_epochs=2) == []
    table = LakeTable.load(str(tmp_path / "lake"))
    assert table.applied_epochs() == {0, 1, 2, 3, 4, 5}
    final = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(final, final_state(ch.toPandas()), check_dtype=False)


def test_bounded_runs_survive_crash_between_and_within(spark, tmp_path, wal):
    root, ch = wal
    job = IngestJob(str(tmp_path / "lake"), EngineConfig(n_buckets=8))

    m = job.run_stream(spark, root, max_epochs=3)
    assert [x["epoch"] for x in m if not x["skipped"]] == [0, 1, 2]
    # crash INSIDE the next bounded run, after 1 of its 3 admitted epochs
    with pytest.raises(RuntimeError):
        job.run_stream(spark, root, max_epochs=3, fail_after=1)
    # resume: bounded admission + applied_epochs skip = exactly-once
    m = job.run_stream(spark, root, max_epochs=3)
    assert [x["epoch"] for x in m if not x["skipped"]] == [4, 5]
    table = LakeTable.load(str(tmp_path / "lake"))
    assert table.applied_epochs() == {0, 1, 2, 3, 4, 5}
    final = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(final, final_state(ch.toPandas()), check_dtype=False)


def test_row_budget_admission(spark, tmp_path, wal):
    root, ch = wal
    job = IngestJob(str(tmp_path / "lake"), EngineConfig(n_buckets=8))
    # each epoch is ~500 rows; a 800-row budget admits epoch 0 then stops
    # before epoch 1 would blow it (metadata-only footer hints)
    m = job.run_stream(spark, root, max_rows=800)
    assert [x["epoch"] for x in m if not x["skipped"]] == [0]
    # an over-budget single epoch still admits (no livelock)
    m = job.run_stream(spark, root, max_rows=1)
    assert [x["epoch"] for x in m if not x["skipped"]] == [1]


def test_multitable_bounded_admission_keeps_fk_barrier(spark, tmp_path):
    from pyspark.sql import types as T

    from cnpj_data_pipeline_spark.plans.catalog import (
        MultiTableIngestJob,
        TableCatalog,
        TableSpec,
    )

    parent_schema = T.StructType(
        [T.StructField("conv_id", T.StringType()), T.StructField("title", T.StringType())]
    )
    child_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    cat = TableCatalog(
        [
            TableSpec("convs", parent_schema, ("conv_id",)),
            TableSpec("turns", child_schema, ("conv_id", "turn_idx"), ("convs",)),
        ]
    )
    root = str(tmp_path / "mwal")
    env = [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    for e in range(3):
        pdf = spark.createDataFrame(
            [(f"c{i}", f"t{e}", "I", e * 100 + i) for i in range(20)],
            T.StructType(list(parent_schema.fields) + env),
        )
        cdf = spark.createDataFrame(
            [(f"c{i}", 0, f"x{e}", "I", e * 100 + i) for i in range(20)],
            T.StructType(list(child_schema.fields) + env),
        )
        pdf.write.mode("overwrite").parquet(os.path.join(root, "convs", f"epoch={e}"))
        cdf.write.mode("overwrite").parquet(os.path.join(root, "turns", f"epoch={e}"))

    job = MultiTableIngestJob(str(tmp_path / "mlake"), cat, EngineConfig(n_buckets=4))
    m = job.run_stream(spark, root, max_epochs=1)
    # whole epochs only: both tables of epoch 0, nothing of epoch 1
    assert [(x["table"], x["epoch"]) for x in m if not x["skipped"]] == [
        ("convs", 0),
        ("turns", 0),
    ]
    m = job.run_stream(spark, root, max_epochs=2)
    assert [(x["table"], x["epoch"]) for x in m if not x["skipped"]] == [
        ("convs", 1),
        ("turns", 1),
        ("convs", 2),
        ("turns", 2),
    ]


def test_max_epochs_reads_no_further_epoch(spark, tmp_path, monkeypatch):
    """``run_stream(max_epochs=1)`` stops after its one apply: the epoch
    after it is never read (``read_epoch`` infers the WAL schema with a
    Spark job)."""
    ch = gen_changes(spark, n_events=900, n_convs=40, n_epochs=3)
    root = str(tmp_path / "wal3")
    for e, b in epoch_batches(ch, 3):
        cs.write_epoch(b, root, e)
    calls = []
    real = cs.read_epoch

    def _counted(spark_, stream_root, epoch):
        calls.append(epoch)
        return real(spark_, stream_root, epoch)

    monkeypatch.setattr(cs, "read_epoch", _counted)
    job = IngestJob(str(tmp_path / "lake"), EngineConfig(n_buckets=4))
    m = job.run_stream(spark, root, max_epochs=1)
    assert [x["epoch"] for x in m if not x["skipped"]] == [0]
    assert calls == [0]


def _counted_reads(monkeypatch) -> list[int]:
    calls: list[int] = []
    real = cs.read_epoch

    def _counted(spark_, stream_root, epoch):
        calls.append(epoch)
        return real(spark_, stream_root, epoch)

    monkeypatch.setattr(cs, "read_epoch", _counted)
    return calls


def test_fold_window_reads_no_further_epoch(spark, tmp_path, monkeypatch):
    """A full fold window is applied before the next epoch is planned:
    ``run_stream(max_epochs=1, fold_window=2)`` reads epochs 0 and 1 only."""
    ch = gen_changes(spark, n_events=1_200, n_convs=40, n_epochs=4)
    root = str(tmp_path / "wal4")
    for e, b in epoch_batches(ch, 4):
        cs.write_epoch(b, root, e)
    calls = _counted_reads(monkeypatch)
    job = IngestJob(str(tmp_path / "lake"), EngineConfig(n_buckets=4))
    m = job.run_stream(spark, root, max_epochs=1, fold_window=2)
    assert [x["epoch"] for x in m if not x["skipped"]] == [(0, 1)]
    assert calls == [0, 1]


def test_row_budget_reads_no_further_epoch(spark, tmp_path, wal, monkeypatch):
    """``max_rows`` decides admission on the footer hint before the epoch
    is read: an over-budget next epoch is never read."""
    root, _ = wal
    calls = _counted_reads(monkeypatch)
    job = IngestJob(str(tmp_path / "lake"), EngineConfig(n_buckets=8))
    m = job.run_stream(spark, root, max_rows=1)
    assert [x["epoch"] for x in m if not x["skipped"]] == [0]
    assert calls == [0]
