"""FOREIGN KEY constraints (lake/constraints.py + add_fk_constraint):
referential checks per change batch against a parent table's live state,
with the same fail/drop/dlq policies as CHECK constraints, bucket-pruned
O(batch) enforcement on both apply paths, and the SQL DDL forms."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.lake.constraints import (
    ConstraintViolationError,
)
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA
from cnpj_data_pipeline_spark.sources import change_stream as cs

TS = datetime.datetime(2026, 1, 1)

PARENT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
    ]
)


def _parent(spark, path, conv_ids):
    p = LakeTable.create(str(path), PARENT_SCHEMA, ["conv_id"], 4)
    apply_changes(
        spark,
        p,
        spark.createDataFrame(
            [(c, f"t-{c}", "I", i, 0) for i, c in enumerate(conv_ids)],
            "conv_id string, title string, op string, lsn long, epoch int",
        ),
        epoch=0,
        cfg=EngineConfig(n_buckets=4),
    )
    return p


def test_fk_modes_and_null_passes(spark, tmp_path):
    parent = _parent(spark, tmp_path / "convs", ["c1", "c2"])
    child = LakeTable.create(
        str(tmp_path / "turns"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], 4
    )
    child.add_fk_constraint(
        spark, "fk_conv", ["conv_id"], parent, on_violation="dlq",
        ref_name="convs",
    )
    rows = [
        ("c1", 0, "user", "hi", None, TS, "I", 10, 0),
        ("c9", 0, "user", "orphan", None, TS, "I", 11, 0),
        ("c9", 5, None, None, None, TS, "D", 12, 0),  # delete exempt
    ]
    m = apply_changes(
        spark, child, spark.createDataFrame(rows, CHANGE_SCHEMA), epoch=0,
        cfg=EngineConfig(n_buckets=4),
    )
    assert m["constraint_violations"] == {"fk_conv": 1}
    state = {(r.conv_id, r.turn_idx) for r in child.read(spark).collect()}
    assert state == {("c1", 0)}
    dlq = spark.read.parquet(str(tmp_path / "turns/_dlq/constraints/epoch=0"))
    assert [(r.conv_id, sorted(r.violated)) for r in dlq.collect()] == [
        ("c9", ["fk_conv"])
    ]
    # a parent arriving LATER lifts the violation for subsequent events
    apply_changes(
        spark,
        parent,
        spark.createDataFrame(
            [("c9", "late", "I", 100, 1)],
            "conv_id string, title string, op string, lsn long, epoch int",
        ),
        epoch=1,
        cfg=EngineConfig(n_buckets=4),
    )
    m2 = apply_changes(
        spark,
        child,
        spark.createDataFrame(
            [("c9", 0, "user", "retry", None, TS, "I", 13, 1)], CHANGE_SCHEMA
        ),
        epoch=1,
        cfg=EngineConfig(n_buckets=4),
    )
    assert m2["constraint_violations"] == {"fk_conv": 0}
    assert ("c9", 0) in {
        (r.conv_id, r.turn_idx) for r in child.read(spark).collect()
    }


def test_fk_declaration_validation(spark, tmp_path):
    parent = _parent(spark, tmp_path / "convs", ["c1"])
    child = LakeTable.create(
        str(tmp_path / "turns"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], 4
    )
    with pytest.raises(ValueError, match="unknown column"):
        child.add_fk_constraint(spark, "f", ["nope"], parent)
    with pytest.raises(ValueError, match="must be exactly"):
        child.add_fk_constraint(
            spark, "f", ["conv_id"], parent, ref_cols=["title"]
        )
    with pytest.raises(ValueError, match="type mismatch"):
        child.add_fk_constraint(spark, "f", ["turn_idx"], parent)
    keyless = LakeTable.create(str(tmp_path / "log"), PARENT_SCHEMA, None, 4)
    with pytest.raises(ValueError, match="keyless"):
        child.add_fk_constraint(spark, "f", ["conv_id"], keyless)
    # existing orphans refuse declaration unless validate=False
    apply_changes(
        spark,
        child,
        spark.createDataFrame(
            [("cX", 0, "user", "orphan", None, TS, "I", 1, 0)], CHANGE_SCHEMA
        ),
        epoch=0,
        cfg=EngineConfig(n_buckets=4),
    )
    with pytest.raises(ValueError, match="reference no parent row"):
        child.add_fk_constraint(spark, "f", ["conv_id"], parent)
    child.add_fk_constraint(spark, "f", ["conv_id"], parent, validate=False)
    # FK cols gain the same evolution guard as CHECK refs (non-key col FK)
    p2 = _parent(spark, tmp_path / "tools", ["browser"])
    child.drop_constraint("f")
    child.add_fk_constraint(spark, "fk_tool", ["tool"], p2, validate=False)
    with pytest.raises(ValueError, match="referenced by CHECK"):
        child.rename_column("tool", "tool2")
    child.drop_constraint("fk_tool")
    child.rename_column("tool", "tool2")


def test_fk_stream_copart_fail_mode(spark, tmp_path):
    """fail-mode FK keeps the zero-shuffle copart path (bucket-pruned
    parent lookup only); a violating epoch aborts before any commit."""
    n_epochs, nb = 2, 4
    ch = gen_changes(spark, n_events=1_000, n_convs=40, n_epochs=n_epochs)
    conv_ids = [
        r["conv_id"] for r in ch.select("conv_id").distinct().collect()
    ]
    parent = _parent(spark, tmp_path / "convs", conv_ids)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, n_epochs):
        cs.write_epoch_bucketed(b, wal, e, ["conv_id", "turn_idx"], nb)
    lake = str(tmp_path / "lake")
    job = IngestJob(lake, EngineConfig(n_buckets=nb))
    t = job.ensure_table()
    t.add_fk_constraint(spark, "fk_conv", ["conv_id"], parent)
    m = job.run_stream(spark, wal)
    assert all(x.get("copartitioned") for x in m)
    assert all(x["constraint_violations"] == {"fk_conv": 0} for x in m)

    # a WAL containing orphans fails loud on the copart path too
    wal2 = str(tmp_path / "wal2")
    bad = ch.withColumn(
        "conv_id",
        F.when(F.col("lsn") % 101 == 0, F.lit("zz_orphan")).otherwise(
            F.col("conv_id")
        ),
    )
    for e, b in epoch_batches(bad, n_epochs):
        cs.write_epoch_bucketed(b, wal2, e, ["conv_id", "turn_idx"], nb)
    lake2 = str(tmp_path / "lake2")
    job2 = IngestJob(lake2, EngineConfig(n_buckets=nb))
    t2 = job2.ensure_table()
    t2.add_fk_constraint(spark, "fk_conv", ["conv_id"], parent)
    with pytest.raises(ConstraintViolationError):
        job2.run_stream(spark, wal2)
    assert LakeTable.load(lake2).applied_epochs() == set()


def test_fk_sql_surface(spark, tmp_path):
    from cnpj_data_pipeline_spark.lake.ddl import (
        execute_ddl,
        show_create_table,
    )

    parent = _parent(spark, tmp_path / "convs", ["c1", "c2"])
    tables = {"convs": parent}
    execute_ddl(
        spark,
        f"""CREATE TABLE turns (
            conv_id STRING, turn_idx INT, role STRING, text STRING,
            tool STRING, ts TIMESTAMP,
            PRIMARY KEY (conv_id, turn_idx),
            CONSTRAINT fk_conv FOREIGN KEY (conv_id) REFERENCES convs
                (conv_id) ON VIOLATION DROP
        ) USING lake CLUSTERED BY (conv_id, turn_idx) INTO 4 BUCKETS
        LOCATION '{tmp_path / "turns"}'""",
        tables,
    )
    t = tables["turns"]
    spec = t.constraints()["fk_conv"]
    assert spec["fk"]["ref_root"] == parent.root
    assert spec["fk"]["ref_name"] == "convs"
    assert spec["on_violation"] == "drop"
    stmt = show_create_table(t, "turns2")
    assert "FOREIGN KEY (conv_id) REFERENCES convs (conv_id)" in stmt
    # round-trip (the registry still maps 'convs')
    execute_ddl(
        spark,
        stmt.replace("'<path>'", f"'{tmp_path / 'turns2'}'"),
        tables,
    )
    assert (
        tables["turns2"].constraints()["fk_conv"]["fk"]["ref_root"]
        == parent.root
    )
    # ALTER form with a QUOTED root path (no registry needed)
    execute_ddl(
        spark,
        f"ALTER TABLE turns ADD CONSTRAINT fk2 FOREIGN KEY (conv_id) "
        f"REFERENCES '{parent.root}' (conv_id) ON VIOLATION DLQ",
        tables,
    )
    spec2 = t.constraints()["fk2"]
    assert spec2["fk"]["ref_name"] is None
    stmt2 = show_create_table(t)
    assert f"REFERENCES '{parent.root}' (conv_id)" in stmt2
    with pytest.raises(ValueError, match="unknown table"):
        execute_ddl(
            spark,
            "ALTER TABLE turns ADD CONSTRAINT fk3 FOREIGN KEY (conv_id) "
            "REFERENCES ghost (conv_id)",
            tables,
        )
    # DESCRIBE renders the FK body
    rows = execute_ddl(spark, "DESCRIBE EXTENDED turns", tables).collect()
    cons_row = [r for r in rows if r[0] == "Check Constraints"][0][1]
    assert "FOREIGN KEY" in cons_row


def test_fk_dirty_batch_reads_parent_keys_once(spark, tmp_path, monkeypatch):
    """The verdict counts and the drop filter share one probe: a dirty
    epoch looks the parent's keys up exactly once per FK."""
    parent = _parent(spark, tmp_path / "convs", ["c1"])
    child = LakeTable.create(
        str(tmp_path / "turns"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], 4
    )
    child.add_fk_constraint(
        spark, "fk_conv", ["conv_id"], parent, on_violation="drop",
        ref_name="convs",
    )
    calls = []
    real_read_keys = LakeTable.read_keys

    def counting_read_keys(self, *a, **kw):
        calls.append(self.root)
        return real_read_keys(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read_keys", counting_read_keys)
    for e in (0, 1):
        rows = [
            ("c1", e, "user", "ok", None, TS, "I", 10 + 2 * e, e),
            ("c9", e, "user", "orphan", None, TS, "I", 11 + 2 * e, e),
        ]
        m = apply_changes(
            spark, child, spark.createDataFrame(rows, CHANGE_SCHEMA),
            epoch=e, cfg=EngineConfig(n_buckets=4),
        )
        assert m["constraint_violations"] == {"fk_conv": 1}
        assert calls == [parent.root] * (e + 1)
    state = {(r.conv_id, r.turn_idx) for r in child.read(spark).collect()}
    assert state == {("c1", 0), ("c1", 1)}
