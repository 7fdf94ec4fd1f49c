"""The change-feed consumer chassis (``plans.sync.Consumer``).

Every epoch-ledger consumer — the mirror/derived-table job, both GROUP BY
view jobs, the projection, the SCD2 history and the three corpus indexes —
runs the same window planning, ledger, lag and poll loop. These tests drive
the shared poll loop through each of them, pin SCD2's one-commit window cap,
and keep the loop single with a structural guard."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.plans.decontam import (
    DecontamIndexJob,
    eval_gram_set,
)
from cnpj_data_pipeline_spark.plans.ivf import IVFIndexJob
from cnpj_data_pipeline_spark.plans.ivm import AggSyncJob, GroupRefreshSyncJob
from cnpj_data_pipeline_spark.plans.neardup import NearDupIndexJob
from cnpj_data_pipeline_spark.plans.projection import ProjectionSyncJob
from cnpj_data_pipeline_spark.plans.scd2 import SCD2SyncJob
from cnpj_data_pipeline_spark.plans.sync import FeedSyncJob

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cnpj_data_pipeline_spark",
)
SRC_SCHEMA = "doc_id long, text string, emb array<double>"
CH_SCHEMA = f"{SRC_SCHEMA}, op string, lsn long"
EPOCHS = [
    [
        (1, "the quick brown fox jumps over the lazy dog", [1.0, 0.1], "I", 1),
        (2, "a stitch in time saves nine they say", [0.2, 1.0], "I", 2),
        (3, "all that glitters is not gold in the end", [0.9, 0.3], "I", 3),
    ],
    [
        (1, "the quick brown fox naps under the old oak", [0.1, 1.0], "U", 4),
        (2, None, None, "D", 5),
        (4, "fortune favours the bold and the brave", [1.0, 1.0], "I", 6),
    ],
]

CONSUMERS = {
    "mirror": lambda spark, s, t, cfg: FeedSyncJob(s, t, cfg=cfg),
    "agg": lambda spark, s, t, cfg: AggSyncJob(
        s, t, ["doc_id"], {"n_chars": "length(text)"}, cfg=cfg
    ),
    "group_refresh": lambda spark, s, t, cfg: GroupRefreshSyncJob(
        s, t, ["doc_id"], {"max_chars": "max(length(text))"}, cfg=cfg
    ),
    "projection": lambda spark, s, t, cfg: ProjectionSyncJob(
        s, t, key_cols=("text", "doc_id"), cfg=cfg
    ),
    "scd2": lambda spark, s, t, cfg: SCD2SyncJob(s, t, cfg=cfg),
    "neardup": lambda spark, s, t, cfg: NearDupIndexJob(s, t, cfg=cfg),
    "decontam": lambda spark, s, t, cfg: DecontamIndexJob(
        s, t,
        eval_gram_set(spark.createDataFrame(
            [(0, "the quick brown fox jumps")], "doc_id long, text string"
        )),
        cfg=cfg,
    ),
    "ivf": lambda spark, s, t, cfg: IVFIndexJob(
        s, t,
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, cent array<double>"
        ),
        id_col="doc_id",
        cfg=cfg,
    ),
}


def _source(spark, root: str, cfg: EngineConfig) -> LakeTable:
    base = LakeTable.create(
        root, spark.createDataFrame([], SRC_SCHEMA).schema, ["doc_id"],
        cfg.n_buckets,
    )
    for e, rows in enumerate(EPOCHS):
        apply_changes(
            spark, base, spark.createDataFrame(rows, CH_SCHEMA), epoch=e,
            cfg=cfg,
        )
    return base


@pytest.mark.parametrize("kind", sorted(CONSUMERS))
def test_every_consumer_follows(spark, tmp_path, kind):
    """The shared poll loop drains both source epochs into the target's
    epoch ledger, for every epoch-ledger consumer."""
    cfg = EngineConfig(n_buckets=4)
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    _source(spark, src, cfg)
    job = CONSUMERS[kind](spark, src, tgt, cfg)
    m = job.run_follow(spark, poll_seconds=0.0, max_polls=2)
    assert m["polls"] == 2
    assert sorted(m["epochs_synced"]) == [0, 1]
    assert LakeTable.load(tgt).applied_epochs() == {0, 1}
    again = job.run_once(spark)
    assert again["epochs_synced"] == [] and again["epochs_behind"] == 0


def test_scd2_windows_stay_one_commit_wide(spark, tmp_path):
    """A caller's ``max_window_epochs`` cannot widen an SCD2 window: each
    source apply commit becomes its own history commit."""
    cfg = EngineConfig(n_buckets=4)
    src = str(tmp_path / "src")
    _source(spark, src, cfg)
    job = SCD2SyncJob(src, str(tmp_path / "hist"), cfg=cfg)
    m = job.run_once(spark, max_window_epochs=8)
    assert m["epochs_synced"] == [0, 1]
    applies = LakeTable.applies_of(job.hist_table().snapshots())
    assert [s["epoch"] for s in applies] == [0, 1]


def _package_trees():
    pattern = os.path.join(PKG, "**", "*.py")
    for fp in sorted(glob.glob(pattern, recursive=True)):
        with open(fp) as f:
            yield os.path.relpath(fp, PKG), ast.parse(f.read())


def test_one_consumer_loop():
    """Window planning has one caller, the poll loop one definition outside
    the two-source join view and the file-manifest export, and the
    apply-commit rule one spelling."""
    plan_calls, follows, rules = [], [], []
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(
                    f, "attr", None
                )
                if name == "_pending_windows":
                    plan_calls.append(rel)
            elif (
                isinstance(node, ast.FunctionDef) and node.name == "run_follow"
            ):
                follows.append(rel)
            elif isinstance(node, ast.Compare) and any(
                isinstance(c, ast.Constant) and c.value == "evolve"
                for side in [node.left, *node.comparators]
                for c in ast.walk(side)
            ):
                rules.append(rel)
    assert plan_calls == [os.path.join("plans", "sync.py")], plan_calls
    assert sorted(follows) == sorted(
        os.path.join("plans", f) for f in ("export.py", "join.py", "sync.py")
    ), follows
    assert rules == [os.path.join("lake", "format.py")], rules
