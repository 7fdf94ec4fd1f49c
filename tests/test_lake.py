"""Lake format: atomic commit, crash injection at every step boundary,
time travel, watermarks, vacuum (SURVEY §5.1, §7.5 hard part 3)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.lake.format import LakeTable as LT
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.oracle import final_state


def _mk(spark, tmp_table, n_events=2_000, n_epochs=2, **kw):
    cfg = EngineConfig(n_buckets=8)
    ch = gen_changes(spark, n_events=n_events, n_convs=80, n_epochs=n_epochs, **kw)
    return cfg, ch


def test_crash_after_manifest_link_is_committed_and_idempotent(
    spark, tmp_table, monkeypatch
):
    """OCC protocol: the exclusive manifest creation IS the commit point —
    a crash before the pointer-hint advance leaves a fully committed
    snapshot that readers find by probing forward, and a retry of the same
    epoch is an exactly-once no-op skip (never a double apply)."""
    cfg, ch = _mk(spark, tmp_table)
    job = IngestJob(tmp_table, cfg)
    batches = list(epoch_batches(ch, 2))
    job.run_batches(spark, batches[:1])
    table = LakeTable.load(tmp_table)
    sid0 = table.current_snapshot_id()

    # crash exactly between the manifest link and the pointer-hint advance
    real_swap = LT._swap_pointer

    def boom(self, sid):
        raise OSError("injected crash before pointer advance")

    monkeypatch.setattr(LT, "_swap_pointer", boom)
    with pytest.raises(OSError):
        apply_changes(spark, table, batches[1][1], epoch=1, cfg=cfg)
    monkeypatch.setattr(LT, "_swap_pointer", real_swap)

    # the commit is durable: probing past the stale pointer hint finds it
    with open(os.path.join(tmp_table, "meta", "_current")) as f:
        assert int(f.read().strip()) == sid0  # hint stale...
    assert table.current_snapshot_id() == sid0 + 1  # ...head probed
    assert 1 in table.applied_epochs()

    # a crashed writer's retry is an exactly-once skip, state == oracle
    m = apply_changes(spark, table, batches[1][1], epoch=1, cfg=cfg)
    assert m["skipped"]
    final = table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    golden = final_state(ch.toPandas())
    pd.testing.assert_frame_equal(final, golden, check_dtype=False)
    # the next commit heals the pointer hint
    job.run_batches(spark, [(7, batches[1][1])])
    with open(os.path.join(tmp_table, "meta", "_current")) as f:
        assert int(f.read().strip()) == table.current_snapshot_id()


def test_crash_before_snapshot_write_is_invisible(spark, tmp_table, monkeypatch):
    cfg, ch = _mk(spark, tmp_table)
    job = IngestJob(tmp_table, cfg)
    batches = list(epoch_batches(ch, 2))
    job.run_batches(spark, batches[:1])
    table = LakeTable.load(tmp_table)
    sid0 = table.current_snapshot_id()

    def boom(self, snap):
        raise OSError("injected crash before snapshot write")

    monkeypatch.setattr(LT, "_write_snapshot", boom)
    with pytest.raises(OSError):
        apply_changes(spark, table, batches[1][1], epoch=1, cfg=cfg)
    monkeypatch.undo()

    assert table.current_snapshot_id() == sid0
    # staged orphan data files may exist but are unreachable
    apply_changes(spark, table, batches[1][1], epoch=1, cfg=cfg)
    golden = final_state(ch.toPandas())
    final = table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(final, golden, check_dtype=False)


def test_time_travel_and_lineage(spark, tmp_table):
    cfg, ch = _mk(spark, tmp_table, n_events=3_000, n_epochs=3)
    job = IngestJob(tmp_table, cfg)
    job.run_batches(spark, epoch_batches(ch, 3))
    table = LakeTable.load(tmp_table)

    snaps = table.snapshots()
    assert snaps[0]["op"] == "create"
    assert all(s["op"] in ("merge", "append") for s in snaps[1:])
    assert [s["epoch"] for s in snaps] == [None, 0, 1, 2]

    # snapshot after epoch 0 equals oracle of epoch-0 events only
    pdf = ch.toPandas()
    golden0 = final_state(pdf[pdf["epoch"] == 0])
    got0 = (
        table.read(spark, snapshot_id=snaps[1]["snapshot_id"])
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got0, golden0, check_dtype=False)

    lin = table.lineage_df(spark).toPandas()
    assert set(lin["epoch"].dropna()) == {0, 1, 2}
    assert (lin["rows_applied"] >= 0).all()

    # per-bucket watermarks monotone across snapshots
    w1 = table.watermarks(snaps[1]["snapshot_id"])
    w3 = table.watermarks(snaps[3]["snapshot_id"])
    for b, lsn in w1.items():
        if lsn is not None and w3.get(b) is not None:
            assert w3[b] >= lsn


def test_vacuum_tombstones(spark, tmp_table):
    cfg = EngineConfig(n_buckets=4)
    ch = gen_changes(
        spark, n_events=1_500, n_convs=60, n_epochs=1, delete_ratio=0.3, update_ratio=0.2
    )
    job = IngestJob(tmp_table, cfg)
    job.run_batches(spark, epoch_batches(ch, 1))
    table = LakeTable.load(tmp_table)

    visible_before = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    with_tombs = table.read(spark, include_tombstones=True).count()
    assert with_tombs > len(visible_before)

    max_lsn = max(v for v in table.watermarks().values() if v is not None)
    table.vacuum_tombstones(spark, lsn_horizon=max_lsn + 1)

    after = table.read(spark, include_tombstones=True)
    assert after.count() == len(visible_before)  # all tombstones gone
    visible_after = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(visible_before, visible_after)
    # watermarks survive the vacuum (resume safety)
    assert max(v for v in table.watermarks().values() if v is not None) == max_lsn


def test_orphan_staging_invisible(spark, tmp_table):
    cfg, ch = _mk(spark, tmp_table, n_epochs=1)
    job = IngestJob(tmp_table, cfg)
    job.run_batches(spark, epoch_batches(ch, 1))
    table = LakeTable.load(tmp_table)
    n = table.read(spark).count()
    junk = os.path.join(tmp_table, "data", "snap-999", "__bucket=0")
    os.makedirs(junk)
    with open(os.path.join(junk, "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert LakeTable.load(tmp_table).read(spark).count() == n


def test_transient_metadata_io_retried(spark, tmp_table, monkeypatch):
    """Driver-side metadata retry (the reference's DB backoff wrapper,
    src/database/postgres.py:16-57, applied to pointer/manifest IO): a
    transient OSError during the pointer swap or snapshot read is retried
    and the commit succeeds."""
    import os as _os

    from cnpj_data_pipeline_spark.lake import format as fmt

    monkeypatch.setattr(fmt, "_RETRY_BASE_SLEEP", 0.001)
    cfg, ch = _mk(spark, tmp_table)
    job = IngestJob(tmp_table, cfg)
    batches = list(epoch_batches(ch, 2))
    job.run_batches(spark, batches[:1])
    table = LakeTable.load(tmp_table)

    fails = {"n": 2}
    real_replace = _os.replace

    def flaky_replace(src, dst):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise OSError("injected transient metadata IO failure")
        return real_replace(src, dst)

    monkeypatch.setattr(fmt.os, "replace", flaky_replace)
    job.run_batches(spark, batches[1:])  # commits despite 2 transient failures
    assert fails["n"] == 0
    assert table.applied_epochs() == {0, 1}

    # reads retry too
    fails2 = {"n": 2}
    real_open = open

    def flaky_open(path, *a, **kw):
        if str(path).endswith("_current") and fails2["n"] > 0:
            fails2["n"] -= 1
            raise OSError("injected transient pointer read failure")
        return real_open(path, *a, **kw)

    monkeypatch.setattr("builtins.open", flaky_open)
    assert table.current_snapshot_id() >= 2
    assert fails2["n"] == 0

    # a persistent failure still surfaces after bounded attempts
    monkeypatch.setattr(
        fmt, "_retry_io", lambda fn, *a, **kw: (_ for _ in ()).throw(OSError("down"))
    )
    with pytest.raises(OSError):
        table.current_snapshot_id()


def test_point_lookup_bucket_pruning(spark, tmp_table):
    """read_keys must return exactly the requested keys' final state while
    scanning only the buckets those keys hash into."""
    from pyspark.sql import functions as F

    from cnpj_data_pipeline_spark.lake.format import bucket_expr

    cfg, ch = _mk(spark, tmp_table, n_events=3_000)
    job = IngestJob(tmp_table, cfg)
    job.run_batches(spark, list(epoch_batches(ch, 2)))
    table = LakeTable.load(tmp_table)

    full = table.read(spark)
    keys = (
        full.select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .limit(3)
    )
    got = (
        table.read_keys(spark, keys)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = (
        full.join(keys, ["conv_id", "turn_idx"], "left_semi")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
    assert len(got) == 3

    # the scan is genuinely pruned: 3 keys hash into at most 3 of 8 buckets
    pruned = keys.select(bucket_expr(["conv_id", "turn_idx"], 8)).distinct().count()
    assert pruned <= 3 < 8


def test_expire_snapshots_gc(spark, tmp_table):
    """Snapshot expiration keeps the current state readable, removes
    superseded delta generations + crash debris, and truncates time travel
    to the kept horizon."""
    import glob as _glob

    cfg, ch = _mk(spark, tmp_table, n_events=2_000, n_epochs=2)
    cfg = EngineConfig(n_buckets=8, compact_threshold=2)
    job = IngestJob(tmp_table, cfg)
    job.run_batches(spark, list(epoch_batches(ch, 2)))
    table = LakeTable.load(tmp_table)
    before = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    old_sid = table.snapshots()[0]["snapshot_id"]

    # crash debris: a staged-but-never-committed file must be GC'd too
    debris_dir = os.path.join(tmp_table, "data", "snap-999", "__bucket=0")
    os.makedirs(debris_dir)
    debris = os.path.join(debris_dir, "part-junk.parquet")
    open(debris, "wb").write(b"not parquet")

    n_files_before = len(
        _glob.glob(os.path.join(tmp_table, "data", "**", "*.parquet"), recursive=True)
    )
    stats = table.expire_snapshots(
        keep_last=1, sweep_orphans=True, orphan_grace_sec=0
    )
    assert stats["files_removed"] >= 1
    assert not os.path.exists(debris)
    n_files_after = len(
        _glob.glob(os.path.join(tmp_table, "data", "**", "*.parquet"), recursive=True)
    )
    assert n_files_after < n_files_before

    # current state unchanged
    after = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(before, after)

    # time travel truncated: expired snapshot is gone, history walk stops
    with pytest.raises(FileNotFoundError):
        table.snapshot(old_sid)
    assert len(table.snapshots()) == 1

    # the table remains fully writable after expiration
    more = gen_changes(spark, n_events=500, n_convs=80, n_epochs=1, seed=7)
    job.run_batches(spark, [(7, more.drop("epoch"))])
    assert LakeTable.load(tmp_table).applied_epochs() == {0, 1, 7}


def test_file_level_key_range_pruning(spark, tmp_table):
    """Round-3 manifest stats: per-file leading-key min/max (free from
    Parquet footers at commit) lets a point lookup skip delta generations
    whose key range cannot contain the requested key — pruning WITHIN a
    bucket, one level below the bucket prune."""
    from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

    cfg = EngineConfig(n_buckets=1, compact_threshold=0)  # force one bucket
    table = LakeTable.create(
        tmp_table, TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"], n_buckets=1
    )

    from pyspark.sql import types as T

    batch_schema = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )

    def batch(prefix, epoch):
        rows = [
            (f"{prefix}{i:04d}", 0, "user", f"t{i}", None, None, "I",
             epoch * 1000 + i)
            for i in range(200)
        ]
        return spark.createDataFrame(rows, batch_schema)

    # two epochs over DISJOINT key ranges -> disjoint per-file kmin/kmax
    apply_changes(spark, table, batch("a", 0), epoch=0, cfg=cfg)
    apply_changes(spark, table, batch("z", 1), epoch=1, cfg=cfg)

    snap = table.snapshot()
    all_files = snap["buckets"]["0"]["files"]
    fstats = snap["buckets"]["0"]["fstats"]
    assert len(fstats) == len(all_files)
    assert all(fs is not None and fs[2] is not None for fs in fstats)

    kept = table.prune_key_files(snap, {0: ["a0005"]})[0]
    assert 0 < len(kept) < len(all_files)  # epoch-1 ("z...") files skipped
    assert all("a0005" >= "a" for _ in kept)

    keys = spark.createDataFrame([("a0005", 0)], ["conv_id", "turn_idx"])
    got = table.read_keys(spark, keys).collect()
    assert len(got) == 1 and got[0]["conv_id"] == "a0005"
    # a key in the pruned range still resolves correctly too
    keys_z = spark.createDataFrame([("z0101", 0)], ["conv_id", "turn_idx"])
    assert table.read_keys(spark, keys_z).collect()[0]["text"] == "t101"


def test_rebucket_map_split_is_shuffle_free_and_matches_shuffle(
    spark, tmp_path, monkeypatch
):
    """Linear-hash split: growing to an integer-multiple bucket count
    (8 -> 32) must (a) request NO redistribution anywhere — proven by
    making DataFrame.repartition explode for the duration — and run only
    single-stage jobs (a shuffle without AQE would need a 2-stage job),
    (b) produce bit-identical state to the salted shuffle rewrite a
    non-multiple growth (12 -> 32) takes, and (c) keep bucket-pruned point
    reads correct against the new layout."""
    from pyspark.sql import DataFrame as _DF

    ch = gen_changes(spark, n_events=4_000, n_convs=150, n_epochs=2)
    batches = list(epoch_batches(ch, 2))
    reads = {}
    for kernel, n_buckets in (("map", 8), ("shuffle", 12)):
        root = str(tmp_path / kernel)
        IngestJob(root, EngineConfig(n_buckets=n_buckets)).run_batches(
            spark, batches
        )
        table = LakeTable.load(root)
        if kernel == "map":
            real_repartition = _DF.repartition

            def boom(self, *a, **kw):
                raise AssertionError(
                    "map-only rebucket requested a repartition"
                )

            monkeypatch.setattr(_DF, "repartition", boom)
            sc = spark.sparkContext
            sc.setJobGroup("rebucket-map-split", "map rebucket", False)
            try:
                table.rebucket(spark, 32)
            finally:
                monkeypatch.setattr(_DF, "repartition", real_repartition)
                sc.setJobGroup("rebucket-map-split-done", "", False)
            tracker = sc.statusTracker()
            jids = tracker.getJobIdsForGroup("rebucket-map-split")
            assert jids, "rebucket ran no Spark jobs?"
            for jid in jids:
                info = tracker.getJobInfo(jid)
                assert info is not None and len(info.stageIds) == 1, (
                    f"job {jid} ran {len(info.stageIds)} stages — "
                    "map-only rebucket must never shuffle"
                )
        else:
            table.rebucket(spark, 32)
        snap = table.snapshot()
        assert snap["n_buckets"] == 32
        assert all(
            len(i["fstats"]) == len(i["files"])
            for i in snap["buckets"].values()
        )
        reads[kernel] = (
            table.read(spark, include_meta=True)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(reads["map"], reads["shuffle"])

    # bucket-pruned point reads resolve against the split layout
    table = LakeTable.load(str(tmp_path / "map"))
    some = reads["map"].iloc[:5][["conv_id", "turn_idx"]]
    keys = spark.createDataFrame(some)
    got = (
        table.read_keys(spark, keys)
        .orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx"]]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, some.reset_index(drop=True))


def test_rebucket_to_wide_layout_and_ingest_continues(spark, tmp_table, monkeypatch):
    """Growth path at scale: rebucket a live table to a much wider hash
    layout (hundreds of buckets -> hundreds of staged files, which drives
    collect_staged's EXECUTOR-SIDE footer harvest — cutover pinned below
    the test's file count so the distributed path is what runs), then keep
    ingesting — exactly-once lineage carries over and state still equals
    the oracle."""
    monkeypatch.setenv("SPARK_GRAFT_STATS_DISTRIBUTED_MIN", "64")
    cfg = EngineConfig(n_buckets=4)
    ch = gen_changes(spark, n_events=4_000, n_convs=150, n_epochs=3)
    job = IngestJob(tmp_table, cfg)
    batches = list(epoch_batches(ch, 3))
    job.run_batches(spark, batches[:2])
    table = LakeTable.load(tmp_table)

    table.rebucket(spark, 512)
    snap = table.snapshot()
    assert snap["n_buckets"] == 512
    n_staged = sum(len(i["files"]) for i in snap["buckets"].values())
    assert n_staged >= 64  # wide enough to exercise the distributed stats path
    # footer stats arrived for every staged file despite the fan-out
    assert all(
        len(i["fstats"]) == len(i["files"]) for i in snap["buckets"].values()
    )

    # ingest continues against the new layout, exactly-once
    job2 = IngestJob(tmp_table, EngineConfig(n_buckets=512))
    job2.run_batches(spark, batches[2:])
    assert LakeTable.load(tmp_table).applied_epochs() == {0, 1, 2}
    final = (
        LakeTable.load(tmp_table)
        .read(spark)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    golden = final_state(ch.toPandas())
    pd.testing.assert_frame_equal(final, golden, check_dtype=False)


def test_point_lookup_casts_caller_key_types(spark, tmp_table):
    """xxhash64 is type-sensitive (int64 7 != int32 7): lookup keys arriving
    with the CALLER's inferred types (plain Python ints -> LongType against
    an int32 turn_idx) must be cast to the table's physical types before
    bucket hashing, or the lookup silently prunes to the wrong buckets and
    returns nothing."""
    cfg, ch = _mk(spark, tmp_table, n_events=2_000)
    IngestJob(tmp_table, cfg).run_batches(spark, list(epoch_batches(ch, 2)))
    table = LakeTable.load(tmp_table)

    rows = (
        table.read(spark)
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .limit(4)
        .collect()
    )
    # re-enter the keys as vanilla Python values: LongType turn_idx
    caller_keys = spark.createDataFrame(
        [(r["conv_id"], int(r["turn_idx"])) for r in rows],
        "conv_id string, turn_idx long",
    )
    assert dict(caller_keys.dtypes)["turn_idx"] == "bigint"
    got = table.read_keys(spark, caller_keys)
    assert got.count() == 4
    # prefix lookup path casts too
    pre = spark.createDataFrame(
        [(r["conv_id"],) for r in rows], "conv_id string"
    )
    assert table.read_keys(spark, pre, on=["conv_id"]).count() >= 4


def test_expire_snapshots_older_than_wall_clock_retention(spark, tmp_table):
    """older_than keeps every snapshot committed at or after the horizon
    regardless of keep_last (the floor), so retention is 'N days of time
    travel', not 'N commits'."""
    cfg, ch = _mk(spark, tmp_table, n_epochs=3)
    job = IngestJob(tmp_table, cfg)
    job.run_batches(spark, list(epoch_batches(ch, 3)))
    t = LakeTable.load(tmp_table)
    chain = t.snapshots()
    assert len(chain) >= 4  # create + 3 applies
    horizon = chain[-2]["committed_at"]  # keep the last two commits

    stats = t.expire_snapshots(keep_last=1, older_than=horizon)
    kept = set(stats["kept_snapshot_ids"])
    assert chain[-1]["snapshot_id"] in kept
    assert chain[-2]["snapshot_id"] in kept
    assert chain[0]["snapshot_id"] not in kept
    # time travel to a kept snapshot works; an expired one fails loudly
    assert t.read(spark, snapshot_id=chain[-2]["snapshot_id"]).count() > 0
    with pytest.raises((FileNotFoundError, OSError, ValueError)):
        t.read(spark, snapshot_id=chain[0]["snapshot_id"]).count()


def test_snapshot_as_of_timestamp_time_travel(spark, tmp_table):
    """TIMESTAMP AS OF: the newest snapshot committed at or before the
    horizon; pre-history horizons fail loudly."""
    cfg, ch = _mk(spark, tmp_table, n_epochs=3)
    IngestJob(tmp_table, cfg).run_batches(spark, list(epoch_batches(ch, 3)))
    t = LakeTable.load(tmp_table)
    chain = t.snapshots()
    mid = chain[-2]
    assert t.snapshot_as_of(mid["committed_at"]) == mid["snapshot_id"]
    # a horizon after the head resolves to the head
    import datetime as dt

    assert (
        t.snapshot_as_of(dt.datetime(2100, 1, 1))
        == chain[-1]["snapshot_id"]
    )
    # read at that point-in-time equals the direct snapshot read
    a = t.read(spark, snapshot_id=t.snapshot_as_of(mid["committed_at"]))
    b = t.read(spark, snapshot_id=mid["snapshot_id"])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    with pytest.raises(ValueError, match="expired|before"):
        t.snapshot_as_of(dt.datetime(1999, 1, 1))


def test_horizon_parsing_accepts_whole_seconds_and_offsets(spark, tmp_table):
    """ISO horizons without fractional seconds (date -u +%FT%TZ) and with
    numeric offsets must parse; offsets convert instead of truncating."""
    import datetime as dt

    cfg, ch = _mk(spark, tmp_table, n_epochs=1)
    IngestJob(tmp_table, cfg).run_batches(spark, list(epoch_batches(ch, 1)))
    t = LakeTable.load(tmp_table)
    head = t.current_snapshot_id()
    assert t.snapshot_as_of("2100-01-01T00:00:00Z") == head
    # +02:00 at 01:00 local == 23:00 UTC the PREVIOUS day: before all
    # history -> must raise, proving the offset converted rather than
    # being truncated to a far-future naive timestamp
    with pytest.raises(ValueError):
        t.snapshot_as_of("1999-01-01T01:00:00+02:00")
    assert t.snapshot_as_of("2100-01-01T00:00:00.5+02:00") == head
    stats = t.expire_snapshots(keep_last=1, older_than="1999-01-01T00:00:00Z")
    assert stats["kept_snapshot_ids"]  # parsed, ran


def test_point_lookup_out_of_range_key_is_empty_not_wrapped(spark, tmp_table):
    """A lookup key past the table key type's range cannot exist: it must
    return the empty result — not throw under ANSI, not wrap to another
    key's rows under non-ANSI."""
    cfg, ch = _mk(spark, tmp_table, n_events=1_000)
    IngestJob(tmp_table, cfg).run_batches(spark, list(epoch_batches(ch, 1)))
    t = LakeTable.load(tmp_table)
    some = t.read(spark).select("conv_id").limit(1).collect()[0]["conv_id"]
    huge = spark.createDataFrame(
        [(some, 2**33 + 7)], "conv_id string, turn_idx long"
    )
    assert t.read_keys(spark, huge).count() == 0
