"""Shuffle-free mirror catch-up (``plans.sync.FeedSyncJob`` with no
transform, applied through ``operators.copart.apply_changes_copart``).

A mirror has the source's keys and bucket layout, so every change-feed
delta file already sits in the bucket the mirror needs. The contract under
test: such a window applies with no data shuffle, and the mirror's rows and
tombstones are identical to those the general ``apply_changes`` path
(``copart="off"``) produces — through a split hot bucket, an ``evolve``
inside the window, the audit column, bounded windows and a dropped column.
Every window whose layout differs takes the general path and gives the
same rows.
"""

from __future__ import annotations

import dataclasses

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.plans.sync import (
    FeedSyncJob,
    text_stats_transform,
)
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

KEY = ["conv_id", "turn_idx"]
N_BUCKETS = 8


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _shuffle_bytes_of_jobs(spark, job_ids) -> int:
    """Shuffle-write bytes over the given jobs' stages (JVM status store)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark._jsc.sc().statusStore()
    total = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                total += int(
                    store.lastStageAttempt(int(sid)).shuffleWriteBytes()
                )
            except Exception:
                pass  # skipped/evicted stage
    return total


def _apply(spark, table, ch, n_epochs, cfg, only=None, **batch_kw):
    """Apply the generator's epochs (those in ``only``, default all)."""
    for e, batch in epoch_batches(ch, n_epochs, **batch_kw):
        if only is None or e in only:
            apply_changes(spark, table, batch, epoch=e, cfg=cfg)


def _state(spark, root, cfg) -> pd.DataFrame:
    """Every visible row AND tombstone, with its LSN/op meta."""
    df = LakeTable.load(root).read(
        spark, include_meta=True, include_tombstones=True
    )
    if cfg.audit_col in df.columns:
        df = df.drop(cfg.audit_col)
    # a keyless table keeps every version of a key, so order by all columns
    return df.orderBy(*df.columns).toPandas().reset_index(drop=True)


def test_aligned_mirror_catch_up_shuffles_nothing(spark, tmp_path):
    """A 3-epoch catch-up of a bucket-aligned mirror moves no data through
    an exchange: the jobs of ``run_once`` write metadata-sized shuffle
    bytes while the window is megabytes (the general path shuffles it
    all)."""
    cfg = EngineConfig(n_buckets=N_BUCKETS)
    ch = gen_changes(spark, n_events=20_000, n_convs=300, n_epochs=3)
    base = LakeTable.create(
        str(tmp_path / "base"), TRANSCRIPT_SCHEMA, KEY, N_BUCKETS
    )
    _apply(spark, base, ch, 3, cfg)
    mirror = str(tmp_path / "mirror")

    before = _job_ids(spark)
    m = FeedSyncJob(base.root, mirror, cfg=cfg).run_once(spark)
    new_jobs = _job_ids(spark) - before
    assert m["epochs_synced"] == [0, 1, 2]
    assert m["windows_copartitioned"] == 1
    shuffled = _shuffle_bytes_of_jobs(spark, new_jobs)
    assert shuffled < 64 * 1024, f"mirror catch-up shuffled {shuffled} bytes"

    b = base.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    r = LakeTable.load(mirror).read(spark).orderBy(*KEY).toPandas()
    pd.testing.assert_frame_equal(
        r.reset_index(drop=True)[b.columns], b, check_dtype=False
    )


def _sync_both(
    spark, tmp_path, cfg, build, create_kw=None, job_kw=None, run_kw=None
):
    """Run the same source history into a mirror on the copart path and one
    on the general path (``copart="off"``); ``build(base, sync)`` drives the
    source and calls ``sync()`` to catch both mirrors up. Returns the copart
    mirror's ``windows_copartitioned`` total and both states."""
    base = LakeTable.create(
        str(tmp_path / "base"), TRANSCRIPT_SCHEMA,
        **{"key_cols": KEY, "n_buckets": N_BUCKETS, **(create_kw or {})},
    )
    off = dataclasses.replace(cfg, copart="off")
    jobs = {
        name: FeedSyncJob(
            base.root, str(tmp_path / name), cfg=c, **(job_kw or {})
        )
        for name, c in (("auto", cfg), ("off", off))
    }
    n_copart = {"auto": 0, "off": 0}

    def sync():
        for name, job in jobs.items():
            m = job.run_once(spark, **(run_kw or {}))
            n_copart[name] += m["windows_copartitioned"]

    build(base, sync)
    assert n_copart["off"] == 0
    return (
        n_copart["auto"],
        _state(spark, jobs["auto"].derived_root, cfg),
        _state(spark, jobs["off"].derived_root, cfg),
    )


@pytest.mark.parametrize(
    "case",
    ["hot_split", "evolve", "audit", "max_window", "drop_column", "keyless"],
)
def test_copart_mirror_equals_general_path(spark, tmp_path, case):
    cfg = EngineConfig(
        n_buckets=N_BUCKETS,
        # one delta file per task: every bucket of the window splits
        copart_max_task_bytes=1 if case == "hot_split" else 256 * 2**20,
        write_audit_col=case == "audit",
    )
    ch = gen_changes(
        spark, n_events=3_000, n_convs=60, n_epochs=4, skew=1.5,
        dup_ratio=0.05, late_ratio=0.05, delete_ratio=0.1,
        evolve_at_epoch=1 if case == "evolve" else None,
    )
    batch_kw = {"drop_evolved_before": 1} if case == "evolve" else {}
    run_kw = {"max_window_epochs": 2} if case == "max_window" else {}

    def build(base, sync):
        if case == "drop_column":
            # the mirrors keep `tool`; the source drops it inside the next
            # window, whose pre-drop files still hold it: the window must
            # pad it with NULL, not read those files' values
            _apply(spark, base, ch, 4, cfg, only={0})
            sync()
            _apply(spark, base, ch, 4, cfg, only={1})
            base.drop_column("tool")
            _apply(spark, base, ch.drop("tool"), 4, cfg, only={2, 3})
        else:
            _apply(spark, base, ch, 4, cfg, **batch_kw)
        sync()

    create_kw = {"key_cols": None} if case == "keyless" else {}
    n_copart, got, want = _sync_both(
        spark, tmp_path, cfg, build, create_kw, run_kw=run_kw
    )
    assert n_copart == (2 if case in ("max_window", "drop_column") else 1)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert case == "keyless" or (got["__op"] == "D").any()
    if case == "hot_split":
        mirror = LakeTable.load(str(tmp_path / "auto"))
        (apply,) = [s for s in mirror.snapshots() if s["op"] == "append"]
        assert not all(
            info.get("merged", True) for info in apply["buckets"].values()
        )
    if case == "evolve":
        assert "tool_meta" in got.columns
    if case == "drop_column":
        assert got["tool"].isna().any() and got["tool"].notna().any()


@pytest.mark.parametrize(
    "case", ["n_buckets", "rebucket", "bucket_subset", "transform"]
)
def test_mirror_fallbacks_give_identical_rows(spark, tmp_path, case):
    """A window whose layout the derived table does not share takes the
    general path (no copartitioned window) with the same rows."""
    cfg = EngineConfig(n_buckets=N_BUCKETS)
    ch = gen_changes(
        spark, n_events=2_000, n_convs=50, n_epochs=3, delete_ratio=0.1
    )
    create_kw = {"bucket_cols": ["conv_id"]} if case == "bucket_subset" else {}
    job_kw = {
        "n_buckets": {"n_buckets": 4},
        "transform": {"transform": text_stats_transform},
    }.get(case, {})

    def build(base, sync):
        if case == "rebucket":
            _apply(spark, base, ch, 3, cfg, only={0})
            sync()
            base.rebucket(spark, 2 * N_BUCKETS)
            _apply(spark, base, ch, 3, cfg, only={1, 2})
        else:
            _apply(spark, base, ch, 3, cfg)
        sync()

    n_copart, got, want = _sync_both(
        spark, tmp_path, cfg, build, create_kw, job_kw
    )
    # the rebucket case's first window predates the rebucket and aligns
    assert n_copart == (1 if case == "rebucket" else 0)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
