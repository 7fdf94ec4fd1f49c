"""Column statistics (lake/stats.py): NDV sketches + null counts (ANALYZE).

Accuracy gates use the HLL error model (lg_k=14 → ~0.8 % relative standard
error; assertions allow 5 σ). Determinism: HLL register state is a per-slot
max, so estimates are independent of partitioning/ordering — asserted by
analyzing the same state twice.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.lake.ddl import execute_ddl
from cnpj_data_pipeline_spark.lake.stats import (
    analyze_table,
    load_stats,
    refresh_stats,
)

TOL = 0.05  # ~5 sigma at lg_k=14


def _exact(spark, table, col):
    df = table.read(spark)
    return (
        df.agg(
            F.count_distinct(col).alias("ndv"),
            F.sum(F.col(col).isNull().cast("long")).alias("nulls"),
        ).first()
    )


def _ingest(spark, path, changes, n_epochs, cfg):
    job = IngestJob(path, cfg)
    job.run_batches(spark, epoch_batches(changes, n_epochs))
    return LakeTable.load(path)


def test_analyze_accuracy_and_determinism(spark, tmp_path):
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=8_000, n_convs=400, turns_per_conv=10, n_epochs=4
    )
    table = _ingest(spark, str(tmp_path / "lake"), changes, 4, cfg)
    rec = analyze_table(spark, table)
    assert rec["mode"] == "exact-state" and rec["commits_behind"] == 0
    assert rec["rows"] == table.read(spark).count()
    for col in ("conv_id", "turn_idx", "role", "text", "tool", "ts"):
        exact = _exact(spark, table, col)
        st = rec["columns"][col]
        assert st["nulls"] == exact["nulls"], col
        assert abs(st["ndv"] - exact["ndv"]) <= max(2, TOL * exact["ndv"]), (
            col, st["ndv"], exact["ndv"],
        )
    # same state analyzed again -> identical estimates (order-independent)
    rec2 = analyze_table(spark, table)
    assert {c: s["ndv"] for c, s in rec2["columns"].items()} == {
        c: s["ndv"] for c, s in rec["columns"].items()
    }


def test_incremental_refresh_upper_bound(spark, tmp_path):
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=6_000, n_convs=300, turns_per_conv=10, n_epochs=4,
        update_ratio=0.4, delete_ratio=0.1,
    )
    path = str(tmp_path / "lake")
    job = IngestJob(path, cfg)
    batches = list(epoch_batches(changes, 4))
    job.run_batches(spark, batches[:2])
    table = LakeTable.load(path)
    analyze_table(spark, table)
    job.run_batches(spark, batches[2:])
    table = LakeTable.load(path)
    rec = refresh_stats(spark, table)
    assert rec["mode"] == "incremental-upper-bound"
    assert rec["commits_behind"] == 0
    assert rec["columns"]["conv_id"]["nulls"] is None  # honest: unmaintainable
    full = analyze_table(spark, table)
    for col in ("conv_id", "turn_idx", "role", "text", "ts"):
        ub = rec["columns"][col]["ndv"]
        cur = full["columns"][col]["ndv"]
        # upper bound modulo sketch error on both sides
        assert ub >= cur * (1 - TOL), (col, ub, cur)
    # refresh with nothing pending returns the latest record unchanged
    again = refresh_stats(spark, table)
    assert again["snapshot_id"] == full["snapshot_id"]
    assert again["mode"] == "exact-state"


def test_refresh_exact_on_insert_only(spark, tmp_path):
    """Truly append-only stream (disjoint keys per epoch, rows never
    replaced): values-ever-live == current values, so the incremental
    refresh estimates the same cardinality as the full analyze. Estimates
    agree only to within ~1 %: DataSketches scores directly-built sketches
    with the HIP estimator but unioned sketches with the register
    estimator, so bit-equal registers can report slightly different
    figures — the register content itself is identical either way. The
    gate is each estimator's own error band (~0.8 % stderr at lg_k=14,
    both sides): 3 % covers their combined spread, vs the ~30 %+
    over-count the upper-bound test sees under real update churn."""
    from cnpj_data_pipeline_spark.operators.merge import apply_changes
    from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    path = str(tmp_path / "lake")
    table = LakeTable.create(
        path, TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
            F.lit(0).alias("turn_idx").cast("int"),
            F.lit("user").alias("role"),
            F.concat(F.lit("t"), F.col("id")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.lit("I").alias("op"),
            F.col("id").alias("lsn"),
        )

    apply_changes(spark, table, batch(0, 1500), epoch=0, cfg=cfg)
    analyze_table(spark, table)
    for e, (lo, hi) in enumerate([(1500, 2600), (2600, 4000)], start=1):
        apply_changes(spark, table, batch(lo, hi), epoch=e, cfg=cfg)
    inc = refresh_stats(spark, table)
    full = analyze_table(spark, table)
    assert set(inc["columns"]) == set(full["columns"])
    for c in full["columns"]:
        a, b = inc["columns"][c]["ndv"], full["columns"][c]["ndv"]
        assert abs(a - b) <= max(2, 0.03 * b), (c, a, b)


def test_stats_survive_rename_and_describe(spark, tmp_path):
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=3_000, n_convs=150, turns_per_conv=8, n_epochs=2
    )
    table = _ingest(spark, str(tmp_path / "lake"), changes, 2, cfg)
    tables = {"t": table}
    out = execute_ddl(
        spark,
        "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS conv_id, tool",
        tables,
    ).collect()
    assert {r["col"] for r in out} == {"conv_id", "tool"}
    # stats keys are physical: a rename re-surfaces them under the new name
    table.rename_column("tool", "tool_name")
    rec = load_stats(table)
    assert "tool_name" in rec["columns"] and "tool" not in rec["columns"]
    assert rec["commits_behind"] == 0  # rename is metadata-only, not an apply
    desc = execute_ddl(spark, "DESCRIBE EXTENDED t", tables).collect()
    by_col = {r["col_name"]: r["info"] for r in desc}
    assert "ndv≈" in by_col["conv_id"]
    assert "ndv≈" in by_col["tool_name"]
    meta = {r["col_name"]: r["data_type"] for r in desc}
    assert "exact-state" in meta["Column Stats"]
    # unknown column fails closed
    with pytest.raises(ValueError, match="unknown column"):
        execute_ddl(
            spark, "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS nope",
            tables,
        )


def test_analyze_incremental_sql_form(spark, tmp_path):
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=3_000, n_convs=150, turns_per_conv=8, n_epochs=4
    )
    path = str(tmp_path / "lake")
    job = IngestJob(path, cfg)
    batches = list(epoch_batches(changes, 4))
    job.run_batches(spark, batches[:2])
    table = LakeTable.load(path)
    tables = {"t": table}
    execute_ddl(spark, "ANALYZE TABLE t COMPUTE STATISTICS", tables)
    job.run_batches(spark, batches[2:])
    out = execute_ddl(
        spark, "ANALYZE TABLE t COMPUTE STATISTICS INCREMENTAL", tables
    ).collect()
    assert all(r["mode"] == "incremental-upper-bound" for r in out)
    with pytest.raises(ValueError, match="INCREMENTAL"):
        execute_ddl(
            spark,
            "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS conv_id "
            "INCREMENTAL",
            tables,
        )


def test_refresh_falls_back_to_full_on_cow_window(spark, tmp_path):
    """A copy-on-write apply inside the refresh window has no readable
    change feed (read_changes raises by design) — refresh_stats must fall
    back to a full exact-state analyze instead of failing."""
    cfg = EngineConfig(n_buckets=8, write_mode="cow")
    changes = gen_changes(
        spark, n_events=2_000, n_convs=100, turns_per_conv=8, n_epochs=4
    )
    path = str(tmp_path / "lake")
    job = IngestJob(path, cfg)
    batches = list(epoch_batches(changes, 4))
    job.run_batches(spark, batches[:2])
    table = LakeTable.load(path)
    analyze_table(spark, table)
    job.run_batches(spark, batches[2:])
    table = LakeTable.load(path)
    rec = refresh_stats(spark, table)
    assert rec["mode"] == "exact-state"
    assert rec["snapshot_id"] == table.current_snapshot_id()
    exact = _exact(spark, table, "conv_id")
    assert abs(rec["columns"]["conv_id"]["ndv"] - exact["ndv"]) <= max(
        2, TOL * exact["ndv"]
    )


def test_analyze_older_snapshot_returns_its_record(spark, tmp_path):
    """ANALYZE at an older snapshot id returns the record it wrote, not the
    newest sidecar on disk."""
    cfg = EngineConfig(n_buckets=4, salt_factor=2)
    changes = gen_changes(
        spark, n_events=1_500, n_convs=60, turns_per_conv=8, n_epochs=2
    )
    path = str(tmp_path / "lake")
    job = IngestJob(path, cfg)
    batches = list(epoch_batches(changes, 2))
    job.run_batches(spark, batches[:1])
    table = LakeTable.load(path)
    old_sid = table.current_snapshot_id()
    job.run_batches(spark, batches[1:])
    head = analyze_table(spark, table)
    assert head["snapshot_id"] > old_sid
    rec = analyze_table(spark, table, snapshot_id=old_sid)
    assert rec["snapshot_id"] == old_sid
    assert rec["rows"] == table.read(spark, snapshot_id=old_sid).count()
    assert rec["commits_behind"] == 1 and "sketches" not in rec
    assert load_stats(table)["snapshot_id"] == head["snapshot_id"]


def test_refresh_stores_no_row_count(spark, tmp_path):
    """An incremental refresh cannot know the live row count (its sketch
    union never retracts), so its record stores none."""
    cfg = EngineConfig(n_buckets=4, salt_factor=2)
    changes = gen_changes(
        spark, n_events=1_500, n_convs=60, turns_per_conv=8, n_epochs=2,
        update_ratio=0.5,
    )
    path = str(tmp_path / "lake")
    job = IngestJob(path, cfg)
    batches = list(epoch_batches(changes, 2))
    job.run_batches(spark, batches[:1])
    table = LakeTable.load(path)
    assert analyze_table(spark, table)["rows"] == table.read(spark).count()
    job.run_batches(spark, batches[1:])
    rec = refresh_stats(spark, table)
    assert rec["mode"] == "incremental-upper-bound"
    assert rec["rows"] is None
