"""Multi-table catalog ingest: FK-dependency ordering, cross-table crash
resume, and keyless append-only exactly-once (SURVEY J6 done properly + the
reference's no-PK ``socios`` path)."""

from __future__ import annotations

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import (
    EngineConfig,
    LakeTable,
    MultiTableIngestJob,
    TableCatalog,
    TableSpec,
)
from cnpj_data_pipeline_spark.queries.multitable import CONV_SCHEMA, LABEL_SCHEMA
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA


def _catalog() -> TableCatalog:
    return TableCatalog(
        [
            TableSpec("convs", CONV_SCHEMA, key_cols=("conv_id",)),
            TableSpec(
                "turns",
                TRANSCRIPT_SCHEMA,
                key_cols=("conv_id", "turn_idx"),
                depends_on=("convs",),
            ),
            TableSpec("labels", LABEL_SCHEMA, key_cols=None, depends_on=("convs",)),
        ]
    )


def test_topo_order_parents_first():
    order = [s.name for s in _catalog().topo_order()]
    assert order.index("convs") < order.index("turns")
    assert order.index("convs") < order.index("labels")
    # deterministic: same order on every construction
    assert order == [s.name for s in _catalog().topo_order()]


def test_topo_order_cycle_rejected():
    a = TableSpec("a", CONV_SCHEMA, key_cols=("conv_id",), depends_on=("b",))
    b = TableSpec("b", CONV_SCHEMA, key_cols=("conv_id",), depends_on=("a",))
    with pytest.raises(ValueError, match="cycle"):
        TableCatalog([a, b])


def _write_wals(spark, root: str) -> dict[str, int]:
    """Two epochs of changes for all three tables; returns expected final
    counts. Epoch 1 updates half the convs and appends more labels."""
    ts = pd.Timestamp("2026-01-01")
    convs0 = [(f"c{i:02d}", f"t0:{i}", ts, "I", i, 0) for i in range(8)]
    convs1 = [(f"c{i:02d}", f"t1:{i}", ts, "U", 100 + i, 1) for i in range(4)]
    turns0 = [
        (f"c{i:02d}", t, "user", f"x{i}-{t}", None, ts, "I", 10 * i + t, 0)
        for i in range(8)
        for t in range(3)
    ]
    turns1 = [  # delete turn 0 of conv 0, update turn 1 of conv 1
        ("c00", 0, "user", None, None, ts, "D", 900, 1),
        ("c01", 1, "user", "updated", None, ts, "U", 901, 1),
    ]
    labels0 = [(f"c{i:02d}", f"l{i}", ts, "I", 200 + i, 0) for i in range(5)]
    labels1 = [(f"c{i:02d}", f"m{i}", ts, "I", 300 + i, 1) for i in range(5)]

    conv_cols = ["conv_id", "title", "ts", "op", "lsn", "epoch"]
    turn_cols = [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn", "epoch",
    ]
    label_cols = ["conv_id", "label", "ts", "op", "lsn", "epoch"]
    for name, cols, batches in (
        ("convs", conv_cols, (convs0, convs1)),
        ("turns", turn_cols, (turns0, turns1)),
        ("labels", label_cols, (labels0, labels1)),
    ):
        for e, rows in enumerate(batches):
            df = spark.createDataFrame(pd.DataFrame(rows, columns=cols)).drop("epoch")
            df.write.mode("overwrite").parquet(f"{root}/{name}/epoch={e}")
    return {"convs": 8, "turns": 23, "labels": 10}  # 24 turns - 1 delete


def _final_states(spark, job: MultiTableIngestJob):
    out = {}
    for name in ("convs", "turns", "labels"):
        t = LakeTable.load(job.table_path(name))
        meta = name == "labels"
        df = t.read(spark, include_meta=meta).toPandas()
        sort = [c for c in ("conv_id", "turn_idx", "__lsn", "lsn") if c in df.columns]
        out[name] = df.sort_values(sort, kind="mergesort").reset_index(drop=True)
    return out


def test_cross_table_crash_resume(spark, tmp_path):
    wal = str(tmp_path / "wal")
    expected = _write_wals(spark, wal)
    cfg = EngineConfig(n_buckets=4, salt_factor=2)

    clean = MultiTableIngestJob(str(tmp_path / "clean"), _catalog(), cfg)
    clean.run_stream(spark, wal)
    golden = _final_states(spark, clean)
    for name, n in expected.items():
        assert len(golden[name]) == n, name

    # crash mid-epoch-1: after convs of epoch 1 commits, before labels/turns
    # (topo order within an epoch is convs, labels, turns)
    crashy = MultiTableIngestJob(str(tmp_path / "crashy"), _catalog(), cfg)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashy.run_stream(spark, wal, fail_after=4)
    convs_epochs = LakeTable.load(crashy.table_path("convs")).applied_epochs()
    turns_epochs = LakeTable.load(crashy.table_path("turns")).applied_epochs()
    assert convs_epochs == {0, 1} and turns_epochs == {0}

    # resume: applies only the missing (table, epoch) pairs, in FK order
    metrics = crashy.run_stream(spark, wal)
    applied = [(m["table"], m["epoch"]) for m in metrics if not m["skipped"]]
    assert applied == [("labels", 1), ("turns", 1)]
    assert _final_states(spark, crashy)["convs"].equals(golden["convs"])
    assert _final_states(spark, crashy)["turns"].equals(golden["turns"])
    assert _final_states(spark, crashy)["labels"].equals(golden["labels"])

    # third run: nothing to do
    metrics = crashy.run_stream(spark, wal)
    assert all(m["skipped"] for m in metrics)


def test_keyless_append_crash_resume_no_dup_no_loss(spark, tmp_path):
    """The socios-analogue guarantee: a crash between epochs of a keyless
    append table neither loses nor duplicates rows after resume."""
    wal = str(tmp_path / "wal")
    _write_wals(spark, wal)
    catalog = TableCatalog([TableSpec("labels", LABEL_SCHEMA, key_cols=None)])
    cfg = EngineConfig(n_buckets=4)
    job = MultiTableIngestJob(str(tmp_path / "lakes"), catalog, cfg)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run_stream(spark, wal, fail_after=1)
    job.run_stream(spark, wal)
    job.run_stream(spark, wal)  # replay again: idempotent
    t = LakeTable.load(job.table_path("labels"))
    df = t.read(spark, include_meta=True).toPandas()
    assert len(df) == 10
    assert sorted(df["__lsn"].tolist()) == list(range(200, 205)) + list(
        range(300, 305)
    )
    # keyless tables reject LWW maintenance explicitly
    with pytest.raises(ValueError, match="keyless"):
        t.compact(spark, buckets=[0])


def test_txn_mode_atomic_epoch_visibility_and_resume(spark, tmp_path):
    """txn_catalog upgrades the FK barrier to atomic per-epoch visibility:
    a crash mid-epoch leaves NOTHING visible (plain mode would have the
    parent's epoch committed), resume lands each epoch as one catalog
    version, final state matches the plain job, and a re-run burns no
    catalog version."""
    from cnpj_data_pipeline_spark import Catalog

    wal = str(tmp_path / "wal")
    _write_wals(spark, wal)
    cfg = EngineConfig(n_buckets=4, salt_factor=2)

    clean = MultiTableIngestJob(str(tmp_path / "clean"), _catalog(), cfg)
    clean.run_stream(spark, wal)
    golden = _final_states(spark, clean)

    job = MultiTableIngestJob(
        str(tmp_path / "txn"), _catalog(), cfg,
        txn_catalog=str(tmp_path / "txn" / "_catalog"),
    )
    # crash after 2 of epoch 0's 3 stagings: the epoch's transaction was
    # never prepared — no table committed, no catalog version, no ledger —
    # and the in-process failure ABORTS it, releasing its own staged
    # batches (no storage leak on the crash/retry loop)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run_stream(spark, wal, fail_after=2)
    cat = Catalog.load(job.txn_catalog)
    assert cat.current_version() == 0
    assert LakeTable.load(job.table_path("convs")).applied_epochs() == set()
    assert cat.read(spark, "convs").count() == 0
    for name in ("convs", "turns", "labels"):
        assert LakeTable.load(job.table_path(name)).list_staged() == []

    # resume: the whole epoch re-stages; one catalog version per epoch
    metrics = job.run_stream(spark, wal)
    commits = [m for m in metrics if m["table"] == "__catalog__"]
    assert [c["catalog_version"] for c in commits] == [1, 2]
    assert all(not c["skipped"] for c in commits)
    got = _final_states(spark, job)
    for name in ("convs", "turns", "labels"):
        assert got[name].equals(golden[name]), name
        # catalog pins agree with the table heads after a full run
        assert cat.pins()[name]["snapshot_id"] == LakeTable.load(
            job.table_path(name)
        ).current_snapshot_id()
    # job.read routes through the pins
    assert job.read(spark, "turns").count() == len(golden["turns"])

    # idempotent re-run: every apply skips, the version vector is untouched
    metrics = job.run_stream(spark, wal)
    assert all(m["skipped"] for m in metrics)
    assert cat.current_version() == 2
    assert cat.pending_transactions() == []
    assert got["turns"].equals(_final_states(spark, job)["turns"])


def test_txn_mode_hard_crash_debris_protected_until_abandon(
    spark, tmp_path, monkeypatch
):
    """A HARD crash (process killed — the abort never runs) leaves the
    un-prepared transaction's stagings as PROTECTED debris: clean_orphans
    never eats under a descriptor (a blanket auto-abandon could kill a
    concurrent writer's in-flight transaction), resume re-stages under
    fresh tokens, and the debris is released explicitly via the documented
    abandon-staged maintenance."""
    from cnpj_data_pipeline_spark import Catalog
    from cnpj_data_pipeline_spark.lake.txn_catalog import (
        MultiTableTransaction,
    )

    wal = str(tmp_path / "wal")
    _write_wals(spark, wal)
    cfg = EngineConfig(n_buckets=4, salt_factor=2)
    job = MultiTableIngestJob(
        str(tmp_path / "txn"), _catalog(), cfg,
        txn_catalog=str(tmp_path / "txn" / "_catalog"),
    )
    monkeypatch.setattr(MultiTableTransaction, "abort", lambda self: None)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run_stream(spark, wal, fail_after=2)
    monkeypatch.undo()
    staged_before = {
        name: LakeTable.load(job.table_path(name)).list_staged()
        for name in ("convs", "turns", "labels")
    }
    assert sum(len(v) for v in staged_before.values()) == 2
    cat = Catalog.load(job.txn_catalog)
    assert cat.current_version() == 0

    # resume completes every epoch; the dead run's descriptors survive
    metrics = job.run_stream(spark, wal)
    assert [m["catalog_version"] for m in metrics
            if m["table"] == "__catalog__"] == [1, 2]
    for name, before in staged_before.items():
        t = LakeTable.load(job.table_path(name))
        leftover = t.list_staged()
        assert {d["token"] for d in before} <= {d["token"] for d in leftover}
        for d in leftover:
            st = t.abandon_staged(d["token"])
            assert not st.get("already_published")
        assert t.list_staged() == []


def test_txn_mode_bounded_admission_reads_consistent_epoch(spark, tmp_path):
    """max_epochs=1 under txn mode: after the bounded run, every table read
    through the catalog shows exactly epoch 0 — no table ahead of another."""
    from cnpj_data_pipeline_spark import Catalog

    wal = str(tmp_path / "wal")
    _write_wals(spark, wal)
    cfg = EngineConfig(n_buckets=4, salt_factor=2)
    job = MultiTableIngestJob(
        str(tmp_path / "txn"), _catalog(), cfg,
        txn_catalog=str(tmp_path / "txn" / "_catalog"),
    )
    job.run_stream(spark, wal, max_epochs=1)
    cat = Catalog.load(job.txn_catalog)
    assert cat.current_version() == 1
    convs = {r["conv_id"]: r["title"] for r in cat.read(spark, "convs").collect()}
    assert all(t.startswith("t0:") for t in convs.values())  # no epoch-1 rows
    assert cat.read(spark, "turns").count() == 24  # epoch 0 only, no delete yet
    assert cat.read(spark, "labels").count() == 5
    job.run_stream(spark, wal)
    assert cat.current_version() == 2
    assert cat.read(spark, "turns").count() == 23


def test_copart_epoch_with_row_dropping_constraint_takes_general_path(
    spark, tmp_path
):
    """A bucket-aligned epoch for a table with a drop/dlq CHECK constraint
    must take the general (batch-rewriting) apply in the multi-table loop,
    exactly as the single-table loop routes it: the co-partitioned apply
    cannot drop rows."""
    from cnpj_data_pipeline_spark.sources.change_stream import (
        write_epoch_bucketed,
    )

    n_buckets = 4
    cat = TableCatalog([
        TableSpec("convs", CONV_SCHEMA, key_cols=("conv_id",),
                  n_buckets=n_buckets),
    ])
    job = MultiTableIngestJob(
        str(tmp_path / "lake"), cat, EngineConfig(n_buckets=n_buckets)
    )
    job.ensure_tables()["convs"].add_constraint(
        spark, "titled", "title IS NOT NULL", on_violation="drop"
    )
    ts = pd.Timestamp("2026-01-01")
    rows = [
        (f"c{i:02d}", None if i == 3 else f"t{i}", ts, "I", i)
        for i in range(8)
    ]
    batch = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "title", "ts", "op", "lsn"]),
        "conv_id string, title string, ts timestamp, op string, lsn long",
    )
    wal = str(tmp_path / "wal")
    write_epoch_bucketed(batch, f"{wal}/convs", 0, ["conv_id"], n_buckets)

    (m,) = job.run_stream(spark, wal)
    assert not m.get("copartitioned")
    got = LakeTable.load(job.table_path("convs")).read(spark)
    assert sorted(r["conv_id"] for r in got.collect()) == [
        f"c{i:02d}" for i in range(8) if i != 3
    ]
