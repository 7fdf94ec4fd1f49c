"""One manifest builder and one CAS log: every table snapshot (create,
commit, rollback, clone), the staged preview and every catalog version is
built by ``lake.format._next_snapshot`` and published through the same
exclusive-create / forward-only hint / probe-forward functions."""

from __future__ import annotations

import ast
import json
import os

import pytest
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.lake.txn_catalog import Catalog
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

pytestmark = pytest.mark.filterwarnings("error::FutureWarning")

KEY = ["conv_id", "turn_idx"]
CFG = EngineConfig(n_buckets=4, salt_factor=2)
LAKE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cnpj_data_pipeline_spark",
    "lake",
)


def _empty_commit(t: LakeTable, epoch: int) -> int:
    return t.commit(op="append", epoch=epoch, bucket_updates={}, mode="append")


@pytest.mark.parametrize("evolve", [False, True], ids=["buckets", "schema"])
def test_staged_preview_is_the_published_manifest(spark, tmp_table, evolve):
    """The audit preview ``read_staged`` reads is the manifest
    ``publish_staged`` then commits: same buckets (per-file ``fstats``
    included) and same schema."""
    ch = gen_changes(spark, n_events=1_500, n_convs=40, n_epochs=2)
    batches = dict(epoch_batches(ch, 2))
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets)
    apply_changes(spark, t, batches[0], epoch=0, cfg=CFG)
    batch = batches[1]
    if evolve:
        batch = batch.withColumn("score", F.lit(1.5))
    m = apply_changes(spark, t, batch, epoch=1, cfg=CFG, stage_only=True)
    preview = t.staged_snapshot(m["token"])
    preview_rows = sorted(
        map(tuple, t.read_staged(spark, m["token"]).collect())
    )
    published = t.snapshot(t.publish_staged(m["token"]))
    assert preview["buckets"] == published["buckets"]
    assert all(
        len(i["fstats"]) == len(i["files"])
        for i in published["buckets"].values()
    )
    assert preview["schema"] == published["schema"]
    assert ("score" in published["schema"]) == evolve
    assert sorted(map(tuple, t.read(spark).collect())) == preview_rows


def _catalog_with_table(tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets
    )
    cat = Catalog.create(str(tmp_path / "cat"), {"t": t})
    return cat, t


def test_catalog_crash_between_version_link_and_pointer_swap(
    tmp_path, monkeypatch
):
    """The version manifest's exclusive create is the catalog commit: a
    crash before the pointer hint advances leaves a version the next
    ``current_version`` still finds by probing forward."""
    cat, t = _catalog_with_table(tmp_path)
    sid = _empty_commit(t, 0)

    def boom(self, n):
        raise OSError("injected crash before pointer advance")

    monkeypatch.setattr(Catalog, "_swap_pointer", boom)
    with pytest.raises(OSError, match="injected"):
        cat.publish({"t": sid})
    monkeypatch.undo()

    with open(os.path.join(cat.root, "_current")) as f:
        assert int(f.read()) == 0  # the hint is stale...
    fresh = Catalog.load(cat.root)
    assert fresh.current_version() == 1  # ...the version is committed
    assert fresh.pins()["t"]["snapshot_id"] == sid
    # the next publish builds on it and heals the hint
    sid2 = _empty_commit(t, 1)
    assert fresh.publish({"t": sid2}) == 2
    with open(os.path.join(cat.root, "_current")) as f:
        assert int(f.read()) == 2


def test_slow_publisher_never_moves_catalog_hint_backwards(tmp_path):
    """A publisher that linked version 1 but advances its hint only after
    version 2 landed must leave the hint at 2."""
    cat, t = _catalog_with_table(tmp_path)
    for e in range(2):
        cat.publish({"t": _empty_commit(t, e)})
    assert cat.current_version() == 2
    cat._swap_pointer(1)  # the slow publisher of version 1 finishes
    with open(os.path.join(cat.root, "_current")) as f:
        assert int(f.read()) == 2


def test_parent_format_table_and_catalog_stay_usable(tmp_path):
    """A table whose first manifest and a catalog whose first version were
    written in the older layout (fewer manifest fields, a plain-text
    pointer) load, commit, time-travel, roll back, clone and publish; every
    new snapshot carries the full field set."""
    root = tmp_path / "old"
    (root / "meta").mkdir(parents=True)
    (root / "data").mkdir()
    old_create = {
        "snapshot_id": 0, "parent_id": None, "epoch": None, "op": "create",
        "schema": TRANSCRIPT_SCHEMA.json(), "key_cols": KEY,
        "bucket_cols": None, "merge_engine": "lww", "agg_spec": None,
        "n_buckets": 4, "buckets": {}, "applied_epochs": [], "lineage": [],
        "rows_total": 0, "props": {},
        "committed_at": "2026-01-01T00:00:00.000000Z",
    }
    (root / "meta" / "snapshot-0.json").write_text(json.dumps(old_create))
    (root / "meta" / "_current").write_text("0")
    t = LakeTable.load(str(root))
    assert t.current_snapshot_id() == 0 and t.applied_epochs() == set()

    upd = {"files": ["data/x.parquet"], "rows": 3, "max_lsn": 9}
    s1 = t.commit(op="append", epoch=0, bucket_updates={1: upd},
                  mode="append")
    s2 = t.rename_column("text", "body")
    assert t.logical_schema(s1)["text"] and t.logical_schema()["body"]
    s3 = t.rollback(s1)
    head = t.snapshot(s3)
    assert head["buckets"] == t.snapshot(s1)["buckets"]
    assert head["renames"] == {} and head["applied_epochs"] == [0]
    assert head["lineage"][0]["rolled_back_to"] == s1
    assert s2 == s1 + 1

    c = t.clone(str(tmp_path / "fork"))
    c0 = c.snapshot(0)
    assert c0["applied_epochs"] == [0] and c0["op"] == "clone"
    assert c0["buckets"]["1"]["files"] == [str(root / "data" / "x.parquet")]
    assert c0["props"]["clone_src_snapshot"] == s3
    fields = set(t.snapshot(s1))
    for snap in (t.snapshot(s2), head, c0):
        assert set(snap) == fields

    # a catalog in the older layout: version 0 without a nonce tag
    croot = tmp_path / "oldcat"
    croot.mkdir()
    (croot / "catalog-v0.json").write_text(json.dumps({
        "version": 0, "catalog_id": "abcd1234",
        "tables": {"t": {"root": str(root), "snapshot_id": 0}},
        "committed_at": "2026-01-01T00:00:00.000000Z",
    }))
    (croot / "_current").write_text("0")
    cat = Catalog.load(str(croot))
    assert cat.pins()["t"]["snapshot_id"] == 0
    assert cat.publish({"t": s3}) == 1
    assert cat.pins()["t"]["snapshot_id"] == s3
    assert cat.pins(version=0)["t"]["snapshot_id"] == 0


def _lake_trees():
    for fn in sorted(os.listdir(LAKE)):
        if fn.endswith(".py"):
            path = os.path.join(LAKE, fn)
            with open(path) as f:
                yield fn, ast.parse(f.read(), path)


def _enclosing_functions(tree):
    """node -> name of the outermost function (or method) containing it."""
    out = {}

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if fn is None
                and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            out[child] = name
            walk(child, name)

    walk(tree, None)
    return out


def _os_calls(tree, attr):
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "os"
    ]


def test_one_builder_and_one_log_guard():
    """Structural guard over ``lake/``: one function builds a snapshot
    manifest dict (the only ``"applied_epochs":`` literal), one ``os.link``
    (the exclusive create) and one fsync'd writer, and both the table and
    the catalog reach the head probe and hint advance through the shared
    functions."""
    builders, links, fsyncs = [], [], []
    callers: dict[str, set] = {"_log_head": set(), "_advance_hint": set()}
    for fn, tree in _lake_trees():
        where = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == "applied_epochs"
                for k in node.keys
            ):
                builders.append((fn, where[node]))
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in callers
            ):
                callers[node.func.id].add((fn, where[node]))
        links += [(fn, where[n]) for n in _os_calls(tree, "link")]
        fsyncs += [(fn, where[n]) for n in _os_calls(tree, "fsync")]
    assert builders == [("format.py", "_next_snapshot")]
    assert links == [("format.py", "_write_json")]
    assert fsyncs == [("format.py", "_write_json")]
    assert callers["_log_head"] == {
        ("format.py", "current_snapshot_id"),
        ("txn_catalog.py", "current_version"),
    }
    assert callers["_advance_hint"] == {
        ("format.py", "_swap_pointer"),
        ("txn_catalog.py", "_swap_pointer"),
    }
