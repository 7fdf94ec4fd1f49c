"""The single commit point of every apply path (``operators.merge._finish``).

Every MERGE/append path — keyless append, merge-on-read, copy-on-write, the
empty copy-on-write batch, and the co-partitioned map-only apply — ends in
the same commit/stage/compact epilogue. These tests pin what callers see
from it: the result keys and phase names of a normal apply, and the
race-skip result when a concurrent writer applies the epoch between the
ledger guard and the commit CAS. A structural guard keeps the commit point
single."""

from __future__ import annotations

import ast
import datetime
import glob
import os

import pytest

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.lake.format import EpochAlreadyAppliedError
from cnpj_data_pipeline_spark.operators.copart import apply_changes_copart
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import (
    CHANGE_SCHEMA,
    TRANSCRIPT_SCHEMA,
    schema_from_json,
)
from cnpj_data_pipeline_spark.sources.change_stream import (
    bucketed_layout,
    write_epoch_bucketed,
)

TS = datetime.datetime(2026, 1, 1)
KEYS = ["conv_id", "turn_idx"]
ROWS = [
    ("c1", 0, "user", "hi", None, TS, "I", 10, 0),
    ("c1", 1, "assistant", "hello", None, TS, "I", 11, 0),
    ("c2", 0, "user", "yo", None, TS, "I", 12, 0),
]

BASE_KEYS = {
    "epoch", "skipped", "rows_applied", "buckets_touched", "seconds",
    "snapshot_id",
}
# per path: (result keys, phase names) of a normal apply, as callers have
# always seen them; a path may report MORE keys, never fewer
PINNED = {
    "keyless": (
        BASE_KEYS | {"schema_evolved", "phases"},
        ["plan", "build_plan", "append_write", "collect_staged", "commit"],
    ),
    "mor": (
        BASE_KEYS | {"schema_evolved", "compacted", "phases"},
        ["plan", "build_plan", "merge_write", "collect_staged", "commit"],
    ),
    "cow": (
        BASE_KEYS | {"schema_evolved", "phases"},
        ["plan", "touched_scan", "build_plan", "merge_write",
         "collect_staged", "commit"],
    ),
    "cow_empty": (BASE_KEYS, []),
    "copart": (
        BASE_KEYS | {"schema_evolved", "compacted", "phases", "copartitioned"},
        ["plan", "merge_write", "commit"],
    ),
    "mirror": (
        BASE_KEYS | {"schema_evolved", "compacted", "phases", "copartitioned"},
        ["plan", "merge_write", "commit"],
    ),
}
PHASE_NAMES = {
    "plan", "build_plan", "merge_write", "collect_staged", "commit",
    "compact", "append_write", "touched_scan", "constraints", "generated",
}


def _apply_fn(spark, tmp_path, path: str):
    """(table, zero-arg apply of epoch 0) for one apply path."""
    lake = str(tmp_path / "lake")
    keys = None if path == "keyless" else KEYS
    table = LakeTable.create(
        lake, TRANSCRIPT_SCHEMA, key_cols=keys, n_buckets=4
    )
    cfg = EngineConfig(
        n_buckets=4, write_mode="cow" if path.startswith("cow") else "mor"
    )
    batch = spark.createDataFrame(
        [] if path == "cow_empty" else ROWS, CHANGE_SCHEMA
    )
    if path == "copart":
        wal = str(tmp_path / "wal")
        write_epoch_bucketed(batch, wal, 0, KEYS, 4)
        layout = bucketed_layout(wal, 0, table)
        assert layout is not None
        return table, lambda: apply_changes_copart(
            spark, table, layout, 0, cfg
        )
    if path == "mirror":
        # the change-feed window of a source table with the same layout
        src = LakeTable.create(
            str(tmp_path / "src"), TRANSCRIPT_SCHEMA, key_cols=KEYS,
            n_buckets=4,
        )
        apply_changes(spark, src, batch, epoch=0, cfg=cfg)
        files, end_schema = src.change_window_files(
            0, src.current_snapshot_id(), by_bucket=True
        )
        return table, lambda: apply_changes_copart(
            spark, table, files, 0, cfg,
            feed_schema=schema_from_json(end_schema),
        )
    return table, lambda: apply_changes(spark, table, batch, epoch=0, cfg=cfg)


@pytest.mark.parametrize("path", list(PINNED))
def test_every_apply_path_skips_on_commit_race(
    spark, tmp_path, monkeypatch, path
):
    table, apply = _apply_fn(spark, tmp_path, path)
    head = table.current_snapshot_id()

    def lost_race(self, **kw):
        raise EpochAlreadyAppliedError("epoch 0 applied by a racing writer")

    with monkeypatch.context() as mp:
        mp.setattr(LakeTable, "commit", lost_race)
        m = apply()
    assert m["skipped"] and m["skipped_by"] == "concurrent-writer"
    assert m["rows_applied"] == 0 and m["buckets_touched"] == 0
    assert m["snapshot_id"] == head
    assert LakeTable.load(table.root).current_snapshot_id() == head

    m = apply()
    keys, phases = PINNED[path]
    assert keys <= set(m), keys - set(m)
    assert not m["skipped"]
    assert m["rows_applied"] == (0 if path == "cow_empty" else len(ROWS))
    assert set(phases) <= set(m.get("phases", {})) <= PHASE_NAMES
    assert m.get("schema_evolved", False) is False
    assert m["snapshot_id"] == LakeTable.load(table.root).current_snapshot_id()
    assert m["snapshot_id"] != head
    assert 0 in LakeTable.load(table.root).applied_epochs()


def _calls_by_attr(tree: ast.AST) -> dict[str, int]:
    counts: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            counts[node.func.attr] = counts.get(node.func.attr, 0) + 1
    return counts


def test_operators_have_one_commit_point():
    """Every commit, stage and inline compaction of an apply goes through
    one function; a new apply path must call it rather than the table."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "cnpj_data_pipeline_spark", "operators",
    )
    totals: dict[str, int] = {}
    for fp in sorted(glob.glob(os.path.join(pkg, "*.py"))):
        with open(fp) as f:
            for attr, n in _calls_by_attr(ast.parse(f.read())).items():
                totals[attr] = totals.get(attr, 0) + n
    for attr in ("commit", "stage_commit", "compact_if_needed"):
        assert totals.get(attr, 0) == 1, (attr, totals.get(attr, 0))

    with open(os.path.join(pkg, "merge.py")) as f:
        tree = ast.parse(f.read())
    (finish,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_finish"
    ]
    inside = _calls_by_attr(finish)
    for attr in ("commit", "stage_commit", "compact_if_needed"):
        assert inside.get(attr, 0) == 1, attr
