"""Table SORT ORDER (the Iceberg sort-order analogue): a declared list of
columns the maintenance rewrites cluster each bucket's files by, instead of
the default key order. Point lookups keep their bloom-sidecar pruning; range
scans on the sort column gain tight parquet row-group stats. Logical state
is NEVER affected — sort order is a physical-layout property.

Reference analogue: none (the reference's Postgres tables have no declared
clustering; init-db/postgres.sql defines heap tables only)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow.parquet as pq
import pytest

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

KEY = ["conv_id", "turn_idx"]
CFG = EngineConfig(n_buckets=4, salt_factor=2, compact_threshold=None)
DAY0 = dt.datetime(2026, 3, 1)


def _epoch_rows(e: int, n: int = 160) -> pd.DataFrame:
    """Overlapping keys across epochs (real LWW folding at compaction) with
    ts values that INTERLEAVE across epochs inside each key's bucket, so a
    key-ordered layout leaves ts unclustered — the case sort_order fixes."""
    return pd.DataFrame(
        {
            "conv_id": [f"c{i % 23:04d}" for i in range(n)],
            "turn_idx": [i % 11 for i in range(n)],
            "role": ["user" if i % 2 else "assistant" for i in range(n)],
            "text": [f"msg-{e}-{i}" for i in range(n)],
            "tool": [None] * n,
            "ts": [
                DAY0 + dt.timedelta(seconds=(i * 131) % 7000 + e)
                for i in range(n)
            ],
            "op": ["I" if e == 0 else "U"] * n,
            "lsn": [e * 10_000 + i for i in range(n)],
        }
    )


def _ingest(spark, t, n_epochs=3):
    for e in range(n_epochs):
        apply_changes(
            spark, t, spark.createDataFrame(_epoch_rows(e)), epoch=e, cfg=CFG
        )


def _state(t, spark):
    return (
        t.read(spark)
        .orderBy(*KEY)
        .toPandas()
        .reset_index(drop=True)
    )


def _merged_files(t):
    import os

    snap = t.snapshot()
    out = []
    for _b, info in snap["buckets"].items():
        assert info.get("merged", True)
        for rel in info["files"]:
            out.append(os.path.join(t.root, rel))
    return out


def _assert_files_sorted_by(files, col):
    for fp in files:
        vals = pq.read_table(fp, columns=[col]).column(col).to_pylist()
        assert vals == sorted(vals), f"{fp} not clustered by {col}"


@pytest.mark.parametrize("kernel", ["map", "shuffle"])
def test_sort_order_clusters_files_state_unchanged(
    spark, tmp_table, kernel, monkeypatch
):
    if kernel == "shuffle":  # every bucket over the map kernel's byte cap
        monkeypatch.setattr(LakeTable, "MAP_REWRITE_MAX_BUCKET_BYTES", -1)
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets)
    _ingest(spark, t)
    golden = _state(t, spark)

    assert t.sort_order() is None  # default: key order
    t.set_sort_order(["ts"])
    assert t.sort_order() == ["ts"]

    t.compact(spark)
    assert _state(t, spark).equals(golden)
    _assert_files_sorted_by(_merged_files(t), "ts")

    # point lookups through the non-key-clustered layout stay exact
    some = golden.iloc[:5][KEY]
    got = (
        t.read_keys(spark, spark.createDataFrame(some))
        .orderBy(*KEY)
        .toPandas()
        .reset_index(drop=True)
    )
    exp = golden.merge(some, on=KEY).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sort_order_reset_restores_key_clustering(spark, tmp_table):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets)
    _ingest(spark, t, n_epochs=2)
    t.set_sort_order(["ts"])
    t.compact(spark)
    _assert_files_sorted_by(_merged_files(t), "ts")

    t.set_sort_order(None)
    assert t.sort_order() is None
    # force a rewrite of all buckets back to key clustering
    t.compact(spark, buckets=range(CFG.n_buckets))
    _assert_files_sorted_by(_merged_files(t), KEY[0])


def test_sort_order_survives_vacuum(spark, tmp_table):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets)
    _ingest(spark, t, n_epochs=2)
    # delete a few keys so vacuum has tombstones to drop
    dels = _epoch_rows(2, n=30).assign(op="D")
    apply_changes(spark, t, spark.createDataFrame(dels), epoch=2, cfg=CFG)
    golden = _state(t, spark)

    t.set_sort_order(["ts"])
    t.vacuum_tombstones(spark, lsn_horizon=1_000_000)
    assert _state(t, spark).equals(golden)
    _assert_files_sorted_by(_merged_files(t), "ts")


def test_sort_order_validation(spark, tmp_table):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets)
    with pytest.raises(ValueError, match="not in schema"):
        t.set_sort_order(["nope"])
    with pytest.raises(ValueError):
        t.set_sort_order([])
    with pytest.raises(ValueError):
        t.set_sort_order(["ts", "ts"])


def test_sort_order_rejects_unorderable_types(spark, tmp_path):
    """A map/array/struct sort column must be rejected at DECLARATION —
    accepted, it would commit fine and then wedge every later compact/
    vacuum at rewrite time (Spark cannot sort by MapType; zorder's object
    argsort on dicts raises TypeError) until the order is reset."""
    import pyspark.sql.types as T

    sch = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields)
        + [
            T.StructField(
                "meta", T.MapType(T.StringType(), T.StringType()), True
            ),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "t"), sch, KEY, CFG.n_buckets)
    with pytest.raises(ValueError, match="atomic"):
        t.set_sort_order(["meta"])
    with pytest.raises(ValueError, match="atomic"):
        t.set_sort_order(["ts", "tags"], kind="zorder")
    # atomic columns still accepted
    t.set_sort_order(["ts"])
    t.set_sort_order(["ts", "role"], kind="zorder")


def test_set_sort_order_commit_is_invisible_to_change_feed(
    spark, tmp_table
):
    t = LakeTable.create(tmp_table, TRANSCRIPT_SCHEMA, KEY, CFG.n_buckets)
    _ingest(spark, t, n_epochs=1)
    s0 = t.current_snapshot_id()
    t.set_sort_order(["ts"])
    apply_changes(
        spark, t, spark.createDataFrame(_epoch_rows(1)), epoch=1, cfg=CFG
    )
    s1 = t.current_snapshot_id()
    # the props-only commit sits inside the window; the feed must carry
    # exactly epoch 1's changes and nothing else
    feed = t.read_changes(spark, s0, s1)
    assert feed.count() == len(_epoch_rows(1))


def test_sort_order_applies_to_partial_engine_map_compaction(
    spark, tmp_table
):
    """The map rewrite sorts the PARTIAL fold's output by the declared
    sort order too — layout property and merge engine compose."""
    from cnpj_data_pipeline_spark.gen import epoch_batches, gen_partial_changes
    from cnpj_data_pipeline_spark.oracle import partial_final_state
    from cnpj_data_pipeline_spark.sources import change_stream as cs
    from cnpj_data_pipeline_spark import IngestJob

    ch = gen_partial_changes(spark, n_events=4_000, n_convs=120, n_epochs=2)
    golden = partial_final_state(ch.toPandas())
    import tempfile

    wal = tempfile.mkdtemp(prefix="so_partial_wal_")
    for e, b in epoch_batches(ch, 2):
        cs.write_epoch(b, wal, e)
    IngestJob(
        tmp_table,
        EngineConfig(
            n_buckets=4, merge_engine="partial", compact_threshold=None
        ),
    ).run_stream(spark, wal)
    t = LakeTable.load(tmp_table)
    t.set_sort_order(["ts"])
    t.compact(spark)
    got = t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)
    # physical clustering on the folded output: nulls-last arrow sort means
    # the non-null prefix must be ascending
    import os as _os

    import pyarrow.parquet as _pq

    for _b, info in t.snapshot()["buckets"].items():
        for rel in info["files"]:
            vals = _pq.read_table(
                _os.path.join(t.root, rel), columns=["ts"]
            ).column("ts").to_pylist()
            nn = [v for v in vals if v is not None]
            assert nn == sorted(nn)
