"""Manifest-planned scans: a lake read is planned from the snapshot's file
list on the driver, with no Spark file-listing job.

Past ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
(default 32) Spark lists an explicit file list with a distributed job of
one task per file. The manifest already names every file, so every
explicit-file scan goes through ``lake.format.scan_files``, which lists on
the driver; these tests pin that, and the lookup's single-stage key
collect.
"""

from __future__ import annotations

import ast
import glob
import os
from contextlib import contextmanager

import pandas as pd

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.oracle import final_state
from cnpj_data_pipeline_spark.sources.change_stream import write_epoch_bucketed

KEYS = ["conv_id", "turn_idx"]
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cnpj_data_pipeline_spark",
)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(KEYS).reset_index(drop=True)


@contextmanager
def _jobs(spark, group: str):
    """Collect the ids of the Spark jobs the block starts."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group, False)
    try:
        yield ids
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(f"{group}-done", "", False)


def _uncompacted_table(spark, tmp_path, n_buckets=16, n_epochs=3):
    """An uncompacted copart table: one file per bucket per epoch."""
    ch = gen_changes(spark, n_events=3_000, n_convs=120, n_epochs=n_epochs)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, n_epochs):
        write_epoch_bucketed(b, wal, e, KEYS, n_buckets)
    lake = str(tmp_path / "lake")
    cfg = EngineConfig(n_buckets=n_buckets, compact_threshold=100)
    IngestJob(lake, cfg).run_stream(spark, wal)
    return ch, LakeTable.load(lake)


def test_read_over_many_files_starts_no_job(spark, tmp_path):
    """Building ``read()`` over more live files than the discovery
    threshold runs no Spark job, and the read still matches the oracle."""
    ch, t = _uncompacted_table(spark, tmp_path)
    assert len(t._bucket_files(t.snapshot())) > 32
    with _jobs(spark, "scan-planning-read") as ids:
        df = t.read(spark)
    assert ids == []
    pd.testing.assert_frame_equal(
        _sorted(df.toPandas()),
        _sorted(final_state(ch.toPandas())),
        check_dtype=False,
    )


def test_caller_threshold_survives_read(spark, tmp_path):
    """The pinned discovery threshold is scoped to the load: a value the
    caller set, and an unset conf, are both as they were afterwards."""
    _, t = _uncompacted_table(spark, tmp_path)
    assert spark.conf.get(_DISCOVERY_THRESHOLD, None) is None
    t.read(spark)
    assert spark.conf.get(_DISCOVERY_THRESHOLD, None) is None
    spark.conf.set(_DISCOVERY_THRESHOLD, "40")
    try:
        t.read(spark)
        assert spark.conf.get(_DISCOVERY_THRESHOLD) == "40"
    finally:
        spark.conf.unset(_DISCOVERY_THRESHOLD)


def test_read_keys_dedupes_keys_in_one_stage(spark, tmp_path):
    """Duplicated lookup keys return each row once, and the broadcast
    regime collects its keys in one single-stage job (no distinct
    shuffle)."""
    ch, t = _uncompacted_table(spark, tmp_path, n_buckets=4, n_epochs=1)
    golden = final_state(ch.toPandas())
    picked = [
        (str(r.conv_id), int(r.turn_idx)) for r in golden.head(12).itertuples()
    ]
    keys = spark.createDataFrame(picked * 3, "conv_id string, turn_idx int")
    with _jobs(spark, "scan-planning-keys") as ids:
        got = t.read_keys(spark, keys)
    tracker = spark.sparkContext.statusTracker()
    assert len(ids) == 1, ids
    assert len(tracker.getJobInfo(ids[0]).stageIds) == 1
    want = golden.merge(pd.DataFrame(picked, columns=KEYS), on=KEYS)
    pd.testing.assert_frame_equal(
        _sorted(got.toPandas()), _sorted(want), check_dtype=False
    )


def _parquet_calls_over_lists(tree: ast.AST) -> list[ast.Call]:
    """``….parquet(*files)`` calls: a parquet read over a file list."""
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet"
        and any(isinstance(a, ast.Starred) for a in n.args)
    ]


def test_file_list_scans_have_one_call_site():
    """Every parquet read over a file list in the package goes through
    ``lake.format.scan_files``; a new scan site must call it."""
    sites = []
    for fp in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(fp) as f:
            tree = ast.parse(f.read())
        if _parquet_calls_over_lists(tree):
            sites.append(os.path.relpath(fp, PKG))
    assert sites == [os.path.join("lake", "format.py")], sites

    with open(os.path.join(PKG, "lake", "format.py")) as f:
        tree = ast.parse(f.read())
    (helper,) = [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "scan_files"
    ]
    assert len(_parquet_calls_over_lists(helper)) == 1
    assert len(_parquet_calls_over_lists(tree)) == 1
