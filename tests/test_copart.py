"""Co-partitioned (bucket-aligned) WAL ingest — the shuffle-free fast path
(operators/copart.py + sources.change_stream.write_epoch_bucketed).

The contract under test: when the producer partitions the WAL with the
table's exact bucket function (the Kafka-keyed-topic deployment shape), the
map-only apply must be BIT-IDENTICAL to the general shuffling path — same
final state, same oracle fold, same manifest stats shape, same exactly-once
ledger — while never shuffling. Mismatched or absent layouts must fall back
silently to the general path.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.oracle import final_state
from cnpj_data_pipeline_spark.sources.change_stream import (
    bucketed_layout,
    write_epoch,
    write_epoch_bucketed,
)

N_BUCKETS = 8
KEYS = ["conv_id", "turn_idx"]


def _write_bucketed_wal(spark, wal, ch, n_epochs=3, n_buckets=N_BUCKETS):
    for e, b in epoch_batches(ch, n_epochs):
        write_epoch_bucketed(b, wal, e, KEYS, n_buckets)


def _final(spark, lake):
    return (
        LakeTable.load(lake)
        .read(spark)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def test_copart_equals_general_and_oracle(spark, tmp_path):
    ch = gen_changes(
        spark, n_events=6_000, n_convs=150, n_epochs=3, skew=1.5,
        dup_ratio=0.05, late_ratio=0.05,
    )
    wal_b = str(tmp_path / "wal_bucketed")
    wal_f = str(tmp_path / "wal_flat")
    _write_bucketed_wal(spark, wal_b, ch)
    for e, b in epoch_batches(ch, 3):
        write_epoch(b, wal_f, e)

    cfg = EngineConfig(n_buckets=N_BUCKETS)
    mb = IngestJob(str(tmp_path / "lake_b"), cfg).run_stream(spark, wal_b)
    mf = IngestJob(str(tmp_path / "lake_f"), cfg).run_stream(spark, wal_f)
    assert all(m.get("copartitioned") for m in mb), mb
    assert not any(m.get("copartitioned") for m in mf)

    got_b = _final(spark, str(tmp_path / "lake_b"))
    got_f = _final(spark, str(tmp_path / "lake_f"))
    golden = final_state(ch.toPandas())
    pd.testing.assert_frame_equal(got_b, golden, check_dtype=False)
    pd.testing.assert_frame_equal(got_b, got_f, check_dtype=False)


def test_copart_crash_resume_exactly_once(spark, tmp_path):
    ch = gen_changes(spark, n_events=4_000, n_convs=120, n_epochs=4)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=4)
    lake = str(tmp_path / "lake")
    job = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS))
    with pytest.raises(RuntimeError, match="injected"):
        job.run_stream(spark, wal, fail_after=2)
    m2 = job.run_stream(spark, wal)
    assert [m["epoch"] for m in m2 if not m["skipped"]] == [2, 3]
    assert job.run_stream(spark, wal) == []  # third run: nothing pending
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )


def test_mixed_wal_auto_detects_per_epoch(spark, tmp_path):
    """A stream may interleave bucket-aligned and flat epochs (e.g. a
    producer upgraded mid-stream) — detection is per epoch."""
    ch = gen_changes(spark, n_events=4_000, n_convs=120, n_epochs=3)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 3):
        if e == 1:
            write_epoch(b, wal, e)  # flat epoch in the middle
        else:
            write_epoch_bucketed(b, wal, e, KEYS, N_BUCKETS)
    lake = str(tmp_path / "lake")
    m = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS)).run_stream(spark, wal)
    assert [bool(x.get("copartitioned")) for x in m] == [True, False, True]
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )


def test_layout_mismatch_falls_back(spark, tmp_path):
    """WAL bucketed at a DIFFERENT bucket count: the descriptor check must
    reject it and the general path must still produce the right state —
    alignment is validated, never assumed."""
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=2)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=2, n_buckets=4)  # != table's 8
    lake = str(tmp_path / "lake")
    table_probe = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS))
    m = table_probe.run_stream(spark, wal)
    assert not any(x.get("copartitioned") for x in m)
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )
    assert bucketed_layout(wal, 0, LakeTable.load(lake)) is None


def test_copart_manifest_stats_power_pruning(spark, tmp_path):
    """The task-side footer harvest must populate the same manifest stats
    the general path gets from collect_staged: per-file key ranges (kmin/
    kmax) and per-column cstats — read_keys and read_range depend on them."""
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=2)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=2)
    lake = str(tmp_path / "lake")
    IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS)).run_stream(spark, wal)
    table = LakeTable.load(lake)
    snap = table.snapshot()
    for info in snap["buckets"].values():
        assert len(info["fstats"]) == len(info["files"])
        for fs in info["fstats"]:
            rows, max_lsn, kmin, kmax, cstats = fs
            assert rows > 0 and max_lsn is not None
            assert kmin is not None and kmax is not None
            assert cstats and "lsn" not in cstats  # payload cols present
    # bucket-pruned point lookup works against copart-written state
    some = ch.toPandas()[["conv_id", "turn_idx"]].drop_duplicates().head(3)
    keys = spark.createDataFrame(some)
    got = table.read_keys(spark, keys).toPandas()
    golden = final_state(ch.toPandas()).merge(some, on=KEYS)
    assert len(got) == len(golden)


def test_copart_schema_evolution_epoch(spark, tmp_path):
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=3,
                     evolve_at_epoch=2)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 3, drop_evolved_before=2):
        write_epoch_bucketed(b, wal, e, KEYS, N_BUCKETS)
    lake = str(tmp_path / "lake")
    m = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS)).run_stream(spark, wal)
    assert all(x.get("copartitioned") for x in m)
    assert any(x.get("schema_evolved") for x in m)
    table = LakeTable.load(lake)
    assert "tool_meta" in [f.name for f in table.schema().fields]
    got = _final(spark, lake)
    golden = final_state(ch.toPandas())
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)


def test_hot_bucket_chunks_split_and_stay_correct(spark, tmp_path):
    """Skew guard: with a tiny per-task byte budget every bucket splits into
    several chunks; cross-chunk duplicates may co-exist in the delta layer
    and the READ-side LWW must still resolve the exact oracle state."""
    ch = gen_changes(spark, n_events=5_000, n_convs=30, n_epochs=2,
                     skew=2.0, dup_ratio=0.2)
    wal = str(tmp_path / "wal")
    # many producer files per bucket so chunking has something to split
    for e, b in epoch_batches(ch, 2):
        b = b.repartition(16)
        write_epoch_bucketed(b, wal, e, KEYS, 4)
    lake = str(tmp_path / "lake")
    cfg = EngineConfig(n_buckets=4, copart_max_task_bytes=1, compact_threshold=0)
    m = IngestJob(lake, cfg).run_stream(spark, wal)
    assert all(x.get("copartitioned") for x in m)
    table = LakeTable.load(lake)
    snap = table.snapshot()
    assert any(len(i["files"]) > 1 for i in snap["buckets"].values())
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )


def test_keyless_append_only_copart(spark, tmp_path):
    """Keyless tables bucket on lsn; the copart path is a pure distributed
    copy with stats — row multiset must equal the raw stream."""
    from cnpj_data_pipeline_spark.operators.copart import apply_changes_copart
    from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

    ch = gen_changes(spark, n_events=2_000, n_convs=80, n_epochs=2)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 2):
        write_epoch_bucketed(b, wal, e, None, 4)
    lake = str(tmp_path / "lake")
    table = LakeTable.create(lake, TRANSCRIPT_SCHEMA, key_cols=None, n_buckets=4)
    cfg = EngineConfig(n_buckets=4)
    for e in (0, 1):
        layout = bucketed_layout(wal, e, table)
        assert layout is not None
        m = apply_changes_copart(spark, table, layout, e, cfg)
        assert m["copartitioned"] and not m["skipped"]
    got = table.read(spark).count()
    assert got == ch.count()


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])


def _shuffle_bytes_of_jobs(spark, job_ids) -> int:
    """Sum shuffle-write bytes over the given jobs' stages, via the JVM
    AppStatusStore (no REST server in local mode)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark._jsc.sc().statusStore()
    total = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                total += int(store.lastStageAttempt(int(sid)).shuffleWriteBytes())
            except Exception:
                pass  # skipped/evicted stage
    return total


def test_no_data_shuffle_in_copart_apply(spark, tmp_path):
    """The point of the fast path: the apply moves NO data through an
    exchange. The only shuffle in the plan is the repartition of the tiny
    (bucket, files) driving frame — so total shuffle bytes written by the
    apply's jobs must be metadata-sized (< 64 KiB) while the batch itself
    is megabytes. The general path shuffles the whole batch, so this bound
    fails loudly if the apply ever regresses onto it."""
    ch = gen_changes(spark, n_events=20_000, n_convs=300, n_epochs=1)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 1):
        write_epoch_bucketed(b, wal, e, KEYS, N_BUCKETS)
    lake = str(tmp_path / "lake")

    before = _job_ids(spark)
    m = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS)).run_stream(spark, wal)
    assert m and m[0].get("copartitioned")
    new_jobs = _job_ids(spark) - before

    new_bytes = _shuffle_bytes_of_jobs(spark, new_jobs)
    assert new_bytes < 64 * 1024, f"copart apply shuffled {new_bytes} bytes"


def test_fold_window_copart_backlog(spark, tmp_path):
    """Ingest-side catch-up: a 4-epoch bucketed backlog folded 2-at-a-time
    must produce exactly half the commits and the identical final state
    (the LWW fold is associative); each commit marks its whole window's
    epochs applied atomically."""
    ch = gen_changes(spark, n_events=4_000, n_convs=120, n_epochs=4,
                     dup_ratio=0.1, late_ratio=0.1)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=4)
    lake = str(tmp_path / "lake")
    job = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS))
    m = job.run_stream(spark, wal, fold_window=2)
    assert [x["epoch"] for x in m] == [(0, 1), (2, 3)]
    assert all(x.get("copartitioned") for x in m)
    t = LakeTable.load(lake)
    assert t.applied_epochs() == {0, 1, 2, 3}
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )
    # resume after the folded drain: nothing pending
    assert job.run_stream(spark, wal, fold_window=2) == []


def test_fold_window_general_path_and_mixed_break(spark, tmp_path):
    """Folding works on the general (shuffling) path too, and a window
    never mixes paths: a flat epoch between bucketed ones breaks the fold."""
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=3)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 3):
        if e == 1:
            write_epoch(b, wal, e)
        else:
            write_epoch_bucketed(b, wal, e, KEYS, N_BUCKETS)
    lake = str(tmp_path / "lake")
    m = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS)).run_stream(
        spark, wal, fold_window=4
    )
    # epoch 1 is flat -> three separate applies (windows break on path change)
    assert [x["epoch"] for x in m] == [0, 1, 2]
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )
    # all-general fold: flat WAL, one window
    wal2 = str(tmp_path / "wal2")
    for e, b in epoch_batches(ch, 3):
        write_epoch(b, wal2, e)
    lake2 = str(tmp_path / "lake2")
    m2 = IngestJob(lake2, EngineConfig(n_buckets=N_BUCKETS)).run_stream(
        spark, wal2, fold_window=4
    )
    assert [x["epoch"] for x in m2] == [(0, 1, 2)]
    pd.testing.assert_frame_equal(
        _final(spark, lake2), final_state(ch.toPandas()), check_dtype=False
    )


def test_multitable_catalog_copart(spark, tmp_path):
    """The FK-DAG multi-table loop picks up bucket-aligned per-table WALs:
    parent flat, child bucketed — per-(table, epoch) detection, final states
    equal an all-flat run of the same stream."""
    from cnpj_data_pipeline_spark import MultiTableIngestJob, TableCatalog, TableSpec
    from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from cnpj_data_pipeline_spark.queries.multitable import CONV_SCHEMA

    catalog = TableCatalog([
        TableSpec("convs", CONV_SCHEMA, key_cols=("conv_id",)),
        TableSpec("turns", TRANSCRIPT_SCHEMA, key_cols=("conv_id", "turn_idx"),
                  depends_on=("convs",)),
    ])
    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=2)
    convs = ch.select("conv_id").distinct().selectExpr(
        "conv_id", "'t' AS title", "CAST(1 AS LONG) AS lsn", "'I' AS op",
        "CAST(0 AS INT) AS epoch"
    )
    for root in ("s_mixed", "s_flat"):
        s = str(tmp_path / root)
        for e, b in epoch_batches(ch, 2):
            if root == "s_mixed":
                write_epoch_bucketed(b, os.path.join(s, "turns"), e, KEYS, 4)
            else:
                write_epoch(b, os.path.join(s, "turns"), e)
        write_epoch(convs.drop("epoch"), os.path.join(s, "convs"), 0)
    cfg = EngineConfig(n_buckets=4)
    m1 = MultiTableIngestJob(str(tmp_path / "lake_mixed"), catalog, cfg).run_stream(
        spark, str(tmp_path / "s_mixed"))
    m2 = MultiTableIngestJob(str(tmp_path / "lake_flat"), catalog, cfg).run_stream(
        spark, str(tmp_path / "s_flat"))
    assert any(x.get("copartitioned") for x in m1 if x["table"] == "turns")
    assert not any(x.get("copartitioned") for x in m2)
    f1 = (LakeTable.load(str(tmp_path / "lake_mixed" / "turns")).read(spark)
          .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    f2 = (LakeTable.load(str(tmp_path / "lake_flat" / "turns")).read(spark)
          .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(f1, f2, check_dtype=False)


def test_wap_audit_composes_with_copart(spark, tmp_path):
    """Write-audit-publish over a bucket-aligned WAL: every batch stages via
    the shuffle-free map-only kernel, audits, and publishes — final state
    equals the oracle; a delete-storm epoch quarantines without any reader
    seeing it."""
    from cnpj_data_pipeline_spark.plans.wap import max_delete_rate, min_rows

    ch = gen_changes(spark, n_events=4_000, n_convs=120, n_epochs=3)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=3)
    lake = str(tmp_path / "lake")
    job = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS))
    m = job.run_stream(spark, wal, audit_checks=[min_rows(1)])
    assert all(x.get("copartitioned") for x in m), m
    assert all(x.get("published") for x in m)
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )
    # quarantine: an absurd delete-rate bound fails every epoch; with
    # on_audit_failure="quarantine" the stream drains, zero rows land
    lake2 = str(tmp_path / "lake2")
    job2 = IngestJob(lake2, EngineConfig(n_buckets=N_BUCKETS))
    m2 = job2.run_stream(
        spark, wal, audit_checks=[max_delete_rate(0.0)],
        on_audit_failure="quarantine",
    )
    assert all(x.get("quarantined") for x in m2), m2
    assert LakeTable.load(lake2).read(spark).count() == 0


def test_verify_placement_catches_misplaced_rows(spark, tmp_path):
    """ADVICE r3 (low): a producer whose descriptor is right but whose row
    PLACEMENT is wrong passes the layout check; with
    cfg.copart_verify_placement the apply re-hashes rows Spark-side and
    fails loudly instead of silently corrupting bucket locality."""
    import shutil

    ch = gen_changes(spark, n_events=2_000, n_convs=80, n_epochs=1)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=1)
    # sabotage placement: move one bucket's file into another bucket's dir
    edir = os.path.join(wal, "epoch=0")
    bdirs = sorted(glob.glob(os.path.join(edir, "__bucket=*")))
    src_files = glob.glob(os.path.join(bdirs[0], "*.parquet"))
    shutil.move(src_files[0], bdirs[1])
    lake = str(tmp_path / "lake")
    cfg = EngineConfig(n_buckets=N_BUCKETS, copart_verify_placement=True)
    with pytest.raises(ValueError, match="placement verification failed"):
        IngestJob(lake, cfg).run_stream(spark, wal)
    # with the flag off (default) the same WAL is accepted as declared —
    # the descriptor-only contract (documented in bucketed_layout)
    cfg_off = EngineConfig(n_buckets=N_BUCKETS)
    m = IngestJob(str(tmp_path / "lake2"), cfg_off).run_stream(spark, wal)
    assert m and m[0].get("copartitioned")


def test_map_rewrite_auto_falls_back_per_oversized_bucket(
    spark, tmp_path, monkeypatch
):
    """VERDICT r3 #6: the map-only compaction's memory contract is enforced
    PER BUCKET — a victim whose on-disk bytes exceed the threshold routes
    through the salted shuffle kernel while the rest of the pass stays
    map-only, in ONE atomic commit, results oracle-identical."""
    ch = gen_changes(spark, n_events=6_000, n_convs=150, n_epochs=3,
                     dup_ratio=0.1)
    wal = str(tmp_path / "wal")
    _write_bucketed_wal(spark, wal, ch, n_epochs=3, n_buckets=4)
    lake = str(tmp_path / "lake")
    cfg = EngineConfig(n_buckets=4, compact_threshold=0)  # no auto-compact
    IngestJob(lake, cfg).run_stream(spark, wal)
    table = LakeTable.load(lake)
    snap = table.snapshot()
    sizes = sorted(table._bucket_bytes(snap, b) for b in range(4))
    assert sizes[0] > 0
    # threshold between min and max: some buckets map-only, some shuffled
    limit = (sizes[0] + sizes[-1]) // 2
    assert sizes[0] <= limit < sizes[-1]
    monkeypatch.setattr(LakeTable, "MAP_REWRITE_MAX_BUCKET_BYTES", limit)
    sid = table._rewrite_buckets(spark, list(range(4)), op="compact")
    assert sid == table.current_snapshot_id()
    after = table.snapshot()
    # every bucket is single-generation after the pass (one commit)
    assert all(i.get("merged") for i in after["buckets"].values())
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )


def test_bucket_col_type_mismatch_falls_back(spark, tmp_path):
    """xxhash64 is type-sensitive: a producer hashing a LONG turn_idx places
    equal VALUES in different buckets than the table's int32 hash. The
    descriptor records the hashed types, so such a layout must be rejected
    (shuffle path re-buckets after casting) instead of silently corrupting
    locality — read_keys would otherwise miss rows forever."""
    from pyspark.sql import functions as F

    ch = gen_changes(spark, n_events=3_000, n_convs=100, n_epochs=2)
    ch_long = ch.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch_long, 2):
        write_epoch_bucketed(b, wal, e, KEYS, N_BUCKETS)
    lake = str(tmp_path / "lake")
    m = IngestJob(lake, EngineConfig(n_buckets=N_BUCKETS)).run_stream(
        spark, wal
    )
    assert not any(x.get("copartitioned") for x in m)
    t = LakeTable.load(lake)
    assert bucketed_layout(wal, 0, t) is None
    pd.testing.assert_frame_equal(
        _final(spark, lake), final_state(ch.toPandas()), check_dtype=False
    )
    # and the proof the fallback matters: every key is findable again
    some = (
        t.read(spark).select(*KEYS).orderBy(*KEYS).limit(5)
    )
    assert t.read_keys(spark, some).count() == 5
