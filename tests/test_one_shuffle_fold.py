"""One Spark-side shuffle fold (``operators.merge.shuffle_fold``).

The merge-on-read apply (the batch), the copy-on-write apply (touched
state ∪ batch) and shuffle compaction/vacuum (the victims' state) fold
through one salted exchange: salt by the seeded full-key hash, one
repartition on (bucket, salt), the merge engine's fold. ``rebucket``'s
non-multiple resize uses the same exchange without a fold. Maintenance
picks its kernel from the data (per-bucket bytes, the fold's map
safety, the resize shape) — no caller option selects it.

Also pins two maintenance edge cases: ``compact(buckets=...)`` with a
bucket the manifest never listed, and a zero-bucket compaction budget.
"""

from __future__ import annotations

import ast
import datetime
import glob
import os
import re

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.operators import merge
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cnpj_data_pipeline_spark",
)
KEYS = ["conv_id", "turn_idx"]
TS = datetime.datetime(2026, 1, 1)


def _trees() -> dict[str, ast.AST]:
    out = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            out[os.path.relpath(path, PKG)] = ast.parse(f.read())
    return out


def _func(tree: ast.AST, name: str, cls: str | None = None) -> ast.AST:
    scope = tree
    if cls is not None:
        (scope,) = [
            n for n in tree.body
            if isinstance(n, ast.ClassDef) and n.name == cls
        ]
    (fn,) = [
        n for n in scope.body
        if isinstance(n, ast.FunctionDef) and n.name == name
    ]
    return fn


def _called(fn: ast.AST) -> list[str]:
    out = []
    for n in ast.walk(fn):
        if isinstance(n, ast.Call):
            f = n.func
            out.append(
                f.attr if isinstance(f, ast.Attribute)
                else f.id if isinstance(f, ast.Name) else "?"
            )
    return out


def test_one_salted_exchange_and_one_fold():
    trees = _trees()
    salted = []
    for rel, tree in trees.items():
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "repartition"
                and any(
                    isinstance(a, ast.Name) and a.id == "SALT_COL"
                    for a in ast.walk(n)
                )
            ):
                salted.append(rel)
            names = (
                n.name if isinstance(n, ast.FunctionDef)
                else n.attr if isinstance(n, ast.Attribute)
                else n.id if isinstance(n, ast.Name) else None
            )
            assert names != "_shuffle_rewrite_updates", rel
    assert salted == [os.path.join("operators", "merge.py")], salted
    assert "repartition" in _called(
        _func(trees[os.path.join("operators", "merge.py")], "salted_exchange")
    )

    mrg = trees[os.path.join("operators", "merge.py")]
    fmt = trees[os.path.join("lake", "format.py")]
    assert "salted_exchange" in _called(_func(mrg, "shuffle_fold"))
    # MoR and CoW share the apply's single fold call
    assert _called(_func(mrg, "apply_changes")).count("shuffle_fold") == 1
    assert "shuffle_fold" in _called(
        _func(fmt, "_rewrite_buckets", "LakeTable")
    )
    assert "salted_exchange" in _called(_func(fmt, "rebucket", "LakeTable"))

    # maintenance takes no kernel option
    for name in (
        "compact", "compact_if_needed", "vacuum_tombstones",
        "_rewrite_buckets", "rebucket",
    ):
        args = {a.arg for a in _func(fmt, name, "LakeTable").args.args}
        assert not args & {"strategy", "map_max_bucket_bytes"}, name


@pytest.fixture()
def written_plans(monkeypatch):
    """The physical plan of every DataFrame written as parquet."""
    plans: list[str] = []
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def _batch(spark, epoch: int, n: int = 60):
    rows = [
        (f"c{i % 17}", i % 5, "user", f"t{epoch}-{i}", None, TS, "U",
         epoch * 1000 + i, epoch)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def test_mor_apply_plans_one_salted_exchange(spark, tmp_table, written_plans):
    n_buckets, salt_factor = 2, 2
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEYS, n_buckets)
    cfg = EngineConfig(
        n_buckets=n_buckets, salt_factor=salt_factor, compact_threshold=None
    )
    apply_changes(spark, t, _batch(spark, 0), 0, cfg)
    (plan,) = written_plans
    want = min(
        n_buckets * salt_factor, 2 * spark.sparkContext.defaultParallelism
    )
    assert merge._merge_partitions(spark, n_buckets, salt_factor) == want
    assert plan.count("Exchange") == 1, plan
    (n,) = re.findall(
        r"Exchange hashpartitioning\(__bucket#\d+, __salt#\d+, (\d+)\)", plan
    )
    assert int(n) == want, plan
    # no sort beyond the one the fold's aggregate orders its task by
    sorts = re.findall(r"Sort \[([^\]]*)\]", plan)
    assert len(sorts) <= 1, plan
    for s in sorts:
        cols = [c.split("#")[0] for c in s.split(", ")]
        assert cols == ["__bucket", "__salt", *KEYS], plan


def test_forced_shuffle_compaction_plans_one_exchange(
    spark, tmp_table, written_plans, monkeypatch
):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEYS, 4)
    cfg = EngineConfig(n_buckets=4, compact_threshold=None)
    for e in range(2):
        apply_changes(spark, t, _batch(spark, e), e, cfg)
    golden = t.read(spark).orderBy(*KEYS).toPandas()
    written_plans.clear()
    monkeypatch.setattr(LakeTable, "MAP_REWRITE_MAX_BUCKET_BYTES", -1)
    t.compact(spark)
    assert t.snapshot()["op"] == "compact"
    (plan,) = written_plans
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(__bucket#\d+, __salt#", plan)
    assert t.read(spark).orderBy(*KEYS).toPandas().equals(golden)


def test_cow_apply_folds_through_the_shuffle_fold(spark, tmp_table, monkeypatch):
    calls = []
    real = merge.shuffle_fold

    def spy(*a, **kw):
        calls.append(a[3:5])  # payload columns, buckets in play
        return real(*a, **kw)

    monkeypatch.setattr(merge, "shuffle_fold", spy)
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEYS, 4)
    cfg = EngineConfig(n_buckets=4, write_mode="cow", compact_threshold=None)
    apply_changes(spark, t, _batch(spark, 0), 0, cfg)
    apply_changes(spark, t, _batch(spark, 1, n=3), 1, cfg)
    assert len(calls) == 2
    # the second batch touches at most its 3 keys' buckets
    assert calls[1][1] <= 3


def test_compact_buckets_never_written_or_out_of_range(spark, tmp_table):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEYS, 4)
    head = t.current_snapshot_id()
    # an in-range bucket no commit has written is skipped
    assert t.compact(spark, buckets=[2]) == head
    assert t.current_snapshot_id() == head
    with pytest.raises(ValueError, match=r"0\.\.3"):
        t.compact(spark, buckets=[99])
    with pytest.raises(ValueError, match=r"0\.\.3"):
        t.compact(spark, buckets=[-1])
    # written buckets next to a never-written one still compact
    cfg = EngineConfig(n_buckets=4, compact_threshold=None)
    for e in range(2):
        apply_changes(spark, t, _batch(spark, e, n=6), e, cfg)
    snap = t.snapshot()
    written = sorted(int(b) for b in snap["buckets"])
    unwritten = sorted(set(range(4)) - set(written))
    before = t.read(spark).orderBy(*KEYS).toPandas()
    t.compact(spark, buckets=written + unwritten)
    after = t.snapshot()
    assert after["op"] == "compact"
    assert sorted(int(b) for b in after["buckets"]) == written
    assert t.read(spark).orderBy(*KEYS).toPandas().equals(before)


def test_zero_bucket_compaction_budget_commits_nothing(spark, tmp_table):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEYS, 4)
    cfg = EngineConfig(
        n_buckets=4, compact_threshold=2, compact_max_buckets=0
    )
    for e in range(3):
        m = apply_changes(spark, t, _batch(spark, e), e, cfg)
        assert not m["compacted"], m
    ops = [s["op"] for s in t.snapshots()]
    assert "compact" not in ops, ops
    head = t.current_snapshot_id()
    assert t.compact_if_needed(spark, 2, max_buckets=0) is None
    assert t._rewrite_buckets(spark, [], op="compact") is None
    assert t.current_snapshot_id() == head
