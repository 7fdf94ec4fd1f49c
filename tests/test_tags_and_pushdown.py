"""Snapshot tags (named pins protecting snapshots from expiration) and the
mget leading-key IN pushdown (read_keys' fourth pruning level: row-group
stats + dictionary pages inside kept files). Reference analogue: none —
Postgres keeps only current state; point reads ride the PK B-tree."""

from __future__ import annotations

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.lake.format import scoped_sql_conf
from cnpj_data_pipeline_spark.oracle import final_state
from cnpj_data_pipeline_spark.sources import change_stream as cs

KEY = ["conv_id", "turn_idx"]


def _ingest(spark, tmp_path, n_epochs=3, **cfg):
    ch = gen_changes(spark, n_events=6_000, n_convs=200, n_epochs=n_epochs)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, n_epochs):
        cs.write_epoch(b, wal, e)
    job = IngestJob(
        str(tmp_path / "lake"), EngineConfig(n_buckets=8, **cfg)
    )
    job.run_stream(spark, wal)
    return ch, LakeTable.load(str(tmp_path / "lake"))


def test_tag_pins_snapshot_through_expiry(spark, tmp_path):
    ch, t = _ingest(spark, tmp_path, compact_threshold=0)
    pdf = ch.toPandas()
    # tag the state after epoch 1 (what a training run would pin)
    sid1 = max(
        s["snapshot_id"] for s in t.snapshots() if s.get("epoch") == 1
    )
    assert t.create_tag("v1-train", sid1) == sid1
    # idempotent for the same target; immutable otherwise
    t.create_tag("v1-train", sid1)
    with pytest.raises(FileExistsError, match="immutable"):
        t.create_tag("v1-train", t.current_snapshot_id())
    assert t.tags() == {"v1-train": sid1}

    # compaction + expiry would normally delete epoch-1 state entirely
    t.compact(spark)
    t.expire_snapshots(keep_last=1)
    # the tag keeps it time-travelable — by name, exactly epochs <= 1
    got = (
        t.read(spark, snapshot_id="v1-train")
        .orderBy(*KEY)
        .toPandas()
        .reset_index(drop=True)
    )
    golden = final_state(pdf[pdf["epoch"] <= 1])
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)
    # head still reads the full fold
    got_head = t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got_head, final_state(pdf), check_dtype=False)

    # dropping the tag releases the pin: the next expiry removes it
    assert t.drop_tag("v1-train") and not t.drop_tag("v1-train")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(Exception):
        t.read(spark, snapshot_id=sid1).count()
    with pytest.raises(KeyError):
        t.resolve_tag("v1-train")


def test_tag_name_validation_and_missing_snapshot(spark, tmp_path):
    _, t = _ingest(spark, tmp_path)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.create_tag("../escape")
    with pytest.raises(FileNotFoundError):
        t.create_tag("ghost", snapshot_id=999)


def test_read_keys_pushes_leading_key_in_filter(spark, tmp_path):
    """The mget plan must carry the requested keys down to the Parquet scan
    (PushedFilters: In(conv_id, ...)), and results stay oracle-identical —
    both on uncompacted deltas (fold path) and compacted state."""
    ch, t = _ingest(spark, tmp_path, compact_threshold=100)
    pdf = ch.toPandas()
    golden = final_state(pdf)
    sample = (
        golden.drop_duplicates("conv_id").head(6)[KEY]
    )  # distinct convs → a genuine IN list, not a collapsed EqualTo
    kd = spark.createDataFrame(sample)

    import contextlib
    import io

    # the plan exists on the Spark regime only; this table is small enough
    # for the driver regime, so pin the Spark one for the plan check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf), scoped_sql_conf(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    ):
        t.read_keys(spark, kd).explain("formatted")
    plan = buf.getvalue().lower()
    assert "pushedfilters: [in(conv_id" in plan or (
        "pushedfilters: [isnotnull(conv_id), equalto(conv_id" in plan
    ), plan[:3000]

    got = t.read_keys(spark, kd).orderBy(*KEY).toPandas().reset_index(drop=True)
    want = golden.merge(sample, on=KEY).sort_values(KEY).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    t.compact(spark)
    got2 = t.read_keys(spark, kd).orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got2, want, check_dtype=False)

    # over the cap: no IN filter, same answer (the semi join is exactness)
    import os

    os.environ["SPARK_GRAFT_KEY_IN_MAX"] = "1"
    try:
        got3 = (
            t.read_keys(spark, kd).orderBy(*KEY).toPandas().reset_index(drop=True)
        )
    finally:
        del os.environ["SPARK_GRAFT_KEY_IN_MAX"]
    pd.testing.assert_frame_equal(got3, want, check_dtype=False)


def test_driver_lookup_pushes_leading_key_in_filter(spark, tmp_path, monkeypatch):
    """The driver regime pushes the same leading-key IN filter into its
    pyarrow reads: on compacted state they return fewer rows than the kept
    files hold, and the lookup stays oracle-identical."""
    import pyarrow.parquet as pq

    from cnpj_data_pipeline_spark.operators import copart

    ch, t = _ingest(spark, tmp_path, compact_threshold=100)
    t.compact(spark)
    golden = final_state(ch.toPandas())
    sample = golden.drop_duplicates("conv_id").head(6)[KEY]
    reads = []
    real = copart.read_fold_arrow

    def spy(files, target, *args, **kw):
        out = real(files, target, *args, **kw)
        reads.append((files, kw.get("key_in"), len(out)))
        return out

    monkeypatch.setattr(copart, "read_fold_arrow", spy)
    got = (
        t.read_keys(spark, spark.createDataFrame(sample))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    want = golden.merge(sample, on=KEY).sort_values(KEY).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    files = [f for fs, _, _ in reads for f in fs]
    assert files and all(key_in is not None for _, key_in, _ in reads)
    held = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert len(want) <= sum(n for _, _, n in reads) < held
