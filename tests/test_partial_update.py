"""Partial-update merge engine (operators/partial.py): newest value wins
PER COLUMN, associatively — correct for out-of-order arrival across
compactions, which Paimon's partial-update and Hudi's partial payload both
exclude by contract. Reference analogue: none (the reference's upsert
replaces whole rows, src/database/postgres.py:216-264)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_partial_changes
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.operators.partial import partial_winners_agg
from cnpj_data_pipeline_spark.oracle import partial_final_state
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from cnpj_data_pipeline_spark.sources import change_stream as cs

KEY = ["conv_id", "turn_idx"]


def _ev(conv, turn, lsn, op="U", role=None, text=None, tool=None, ts=None):
    return dict(
        conv_id=conv, turn_idx=turn, role=role, text=text, tool=tool,
        ts=ts, op=op, lsn=lsn, epoch=0,
    )


def _batch(spark, rows, epoch=0):
    import pyspark.sql.types as T

    sch = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields)
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
            T.StructField("epoch", T.IntegerType(), False),
        ]
    )
    rows = [{**r, "epoch": epoch} for r in rows]
    return spark.createDataFrame(pd.DataFrame(rows), sch)


def test_partial_fold_semantics_unit(spark):
    """Disjoint-column merge, delete horizon, all-null insert, and
    determinism across partitionings."""
    rows = [
        # k1: columns arrive in separate events, out of order
        _ev("c1", 0, 10, text="newest-text"),
        _ev("c1", 0, 2, tool="old-tool"),
        _ev("c1", 0, 7, role="assistant", tool="mid-tool"),
        # k2: delete at 5 kills the lsn-2 column, the lsn-9 one survives
        _ev("c2", 0, 2, tool="pre-delete"),
        _ev("c2", 0, 5, op="D"),
        _ev("c2", 0, 9, text="post-delete"),
        # k3: delete is newest -> dead
        _ev("c3", 0, 4, text="x"),
        _ev("c3", 0, 6, op="D"),
        # k4: all-null insert still creates the key
        _ev("c4", 0, 1, op="I"),
    ]
    df = _batch(spark, rows).drop("epoch")
    payload = ["role", "text", "tool", "ts"]

    def fold(parts):
        out = (
            partial_winners_agg(df.repartition(parts), KEY, payload)
            .orderBy(*KEY)
            .toPandas()
        )
        return out

    got = fold(1)
    by_key = {
        (r["conv_id"], r["turn_idx"]): r for r in got.to_dict("records")
    }
    k1 = by_key[("c1", 0)]
    assert (k1["text"], k1["tool"], k1["role"]) == (
        "newest-text", "mid-tool", "assistant",
    )
    assert k1["op"] == "U" and k1["lsn"] == 10
    assert k1["__col_lsns"] == {"text": 10, "tool": 7, "role": 7}
    k2 = by_key[("c2", 0)]
    assert k2["text"] == "post-delete" and k2["tool"] is None
    assert k2["__del_lsn"] == 5 and k2["op"] == "U"
    k3 = by_key[("c3", 0)]
    assert k3["op"] == "D" and k3["lsn"] == 6
    k4 = by_key[("c4", 0)]
    assert k4["op"] == "U" and all(
        k4[c] is None or k4[c] is pd.NaT for c in payload
    )
    # same result under any partitioning (hash-agg determinism)
    pd.testing.assert_frame_equal(got, fold(7), check_dtype=False)


def test_partial_fold_is_associative(spark):
    """fold(fold(A) ∪ B) == fold(A ∪ B) for a split that breaks naive
    row-stamped folds: A's fold mixes column origins 2 and 10; B carries a
    value at lsn 5 that must beat the origin-2 column and lose to the
    origin-10 one — and a late delete that must kill only origins < it."""
    a = [
        _ev("k", 0, 10, text="t@10"),
        _ev("k", 0, 2, tool="tool@2"),
        _ev("x", 0, 2, tool="xtool@2"),
        _ev("x", 0, 10, text="xt@10"),
    ]
    b = [
        _ev("k", 0, 5, tool="tool@5"),  # beats origin 2, loses to 10
        _ev("x", 0, 5, op="D"),         # kills origin 2, not origin 10
    ]
    payload = ["role", "text", "tool", "ts"]
    fa = partial_winners_agg(_batch(spark, a).drop("epoch"), KEY, payload)
    refold = partial_winners_agg(
        fa.unionByName(
            _batch(spark, b)
            .drop("epoch")
            .selectExpr(
                "*",
                "cast(null as map<string,bigint>) as __col_lsns",
                "cast(null as bigint) as __del_lsn",
            )
        ),
        KEY,
        payload,
    )
    direct = partial_winners_agg(
        _batch(spark, a + b).drop("epoch"), KEY, payload
    )
    got = refold.orderBy(*KEY).toPandas().reset_index(drop=True)
    want = direct.orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    r = {x["conv_id"]: x for x in got.to_dict("records")}
    assert r["k"]["text"] == "t@10" and r["k"]["tool"] == "tool@5"
    assert r["x"]["text"] == "xt@10" and r["x"]["tool"] is None
    assert r["x"]["__del_lsn"] == 5


def test_partial_replay_oracle_with_compaction(spark, tmp_path):
    """Full engine replay of a generated partial stream — shuffle ingest,
    mid-stream compaction, crash/resume — equals the pandas golden."""
    ch = gen_partial_changes(spark, n_events=9_000, n_convs=300, n_epochs=4)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 4):
        cs.write_epoch(b, wal, e)
    job = IngestJob(
        str(tmp_path / "lake"),
        EngineConfig(n_buckets=8, merge_engine="partial", compact_threshold=3),
    )
    with pytest.raises(RuntimeError):
        job.run_stream(spark, wal, fail_after=2)
    ms = job.run_stream(spark, wal)
    assert any(m.get("compacted") for m in ms)
    # third run: nothing pending
    assert all(m["skipped"] for m in job.run_stream(spark, wal))
    t = LakeTable.load(str(tmp_path / "lake"))
    got = (
        t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    golden = partial_final_state(ch.toPandas())
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)


def test_partial_late_data_across_compaction(spark, tmp_path):
    """THE associativity gate: a compacted bucket's folded row must not
    smuggle old column values forward under the row's max LSN. Late events
    land BETWEEN the folded row's per-column origins."""
    lake = str(tmp_path / "lake")
    t = LakeTable.create(
        lake, TRANSCRIPT_SCHEMA, key_cols=KEY, n_buckets=4,
        merge_engine="partial",
    )
    cfg = EngineConfig(n_buckets=4, merge_engine="partial", compact_threshold=0)
    e0 = [
        _ev("k", 0, 10, text="t@10"),
        _ev("k", 0, 2, tool="tool@2"),
        _ev("d", 0, 2, tool="dtool@2"),
        _ev("d", 0, 10, text="dt@10"),
    ]
    apply_changes(spark, t, _batch(spark, e0, 0), 0, cfg)
    t.compact(spark)
    assert all(info["merged"] for info in t.snapshot()["buckets"].values())
    # late arrivals, lsn BETWEEN the compacted row's column origins
    e1 = [
        _ev("k", 0, 5, tool="tool@5"),   # must beat origin 2
        _ev("k", 0, 4, text="t@4"),      # must lose to origin 10
        _ev("d", 0, 5, op="D"),          # must kill origin 2, not origin 10
    ]
    apply_changes(spark, t, _batch(spark, e1, 1), 1, cfg)
    got = {
        (r["conv_id"]): r.asDict()
        for r in t.read(spark).collect()
    }
    assert got["k"]["text"] == "t@10" and got["k"]["tool"] == "tool@5"
    assert got["d"]["text"] == "dt@10" and got["d"]["tool"] is None
    # and the state stays correct after ANOTHER compaction
    t.compact(spark)
    got2 = {(r["conv_id"]): r.asDict() for r in t.read(spark).collect()}
    assert got2 == got


def test_partial_copart_raw_append_and_point_lookup(spark, tmp_path):
    """The shuffle-free copart ingest appends RAW versions for partial
    tables (no batch fold — it would drop column patches); generations stay
    unmerged so reads fold, and read_keys prunes + folds correctly."""
    ch = gen_partial_changes(spark, n_events=6_000, n_convs=200, n_epochs=3)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 3):
        cs.write_epoch_bucketed(b, wal, e, KEY, 8)
    job = IngestJob(
        str(tmp_path / "lake"),
        EngineConfig(n_buckets=8, merge_engine="partial", compact_threshold=100),
    )
    ms = job.run_stream(spark, wal)
    assert all(m.get("copartitioned") for m in ms if not m["skipped"])
    t = LakeTable.load(str(tmp_path / "lake"))
    # raw generations must never be marked merged (first epoch included)
    pdf = ch.toPandas()
    golden = partial_final_state(pdf)
    got = t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)
    sample = golden.head(5)[KEY]
    kd = spark.createDataFrame(sample)
    got_k = (
        t.read_keys(spark, kd).orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    want_k = (
        golden.merge(sample, on=KEY).sort_values(KEY).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_k, want_k, check_dtype=False)


def test_partial_vacuum_and_guards(spark, tmp_path):
    """Vacuum drops partial tombstones below the horizon; CoW and the typed
    feed reject partial tables loudly; keyless partial rejected at create."""
    lake = str(tmp_path / "lake")
    t = LakeTable.create(
        lake, TRANSCRIPT_SCHEMA, key_cols=KEY, n_buckets=4,
        merge_engine="partial",
    )
    cfg = EngineConfig(n_buckets=4, merge_engine="partial", compact_threshold=0)
    apply_changes(
        spark, t,
        _batch(spark, [
            _ev("a", 0, 1, text="x"), _ev("a", 0, 3, op="D"),
            _ev("b", 0, 2, text="y"),
        ], 0),
        0, cfg,
    )
    t.vacuum_tombstones(spark, lsn_horizon=10)
    met = t.read(spark, include_meta=True, include_tombstones=True)
    assert met.filter(met["__op"] == "D").count() == 0
    got = {r["conv_id"]: r["text"] for r in t.read(spark).collect()}
    assert got == {"b": "y"}

    with pytest.raises(ValueError, match="merge-on-read"):
        apply_changes(
            spark, t, _batch(spark, [_ev("c", 0, 9, text="z")], 1), 1,
            EngineConfig(n_buckets=4, write_mode="cow"),
        )
    with pytest.raises(ValueError, match="typed change feed"):
        t.read_changes_typed(spark, 0)
    with pytest.raises(ValueError, match="keyless"):
        LakeTable.create(
            str(tmp_path / "lake2"), TRANSCRIPT_SCHEMA, key_cols=None,
            n_buckets=4, merge_engine="partial",
        )


# ---------------------------------------------------------------------------
# aggregate merge engine (merge_engine="aggregate"): per-column monoid fold
# ---------------------------------------------------------------------------

import pyspark.sql.types as T  # noqa: E402

COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("clicks", T.LongType(), True),
        T.StructField("max_latency", T.DoubleType(), True),
        T.StructField("last_page", T.StringType(), True),
    ]
)
AGG_SPEC = {"clicks": "sum", "max_latency": "max", "last_page": "last"}


def _counter_batch(spark, rows, epoch=0):
    sch = T.StructType(
        list(COUNTER_SCHEMA.fields)
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(
        [
            (r.get("user_id"), r.get("clicks"), r.get("max_latency"),
             r.get("last_page"), r.get("op", "U"), r["lsn"])
            for r in rows
        ],
        sch,
    )


def _mk_agg_table(tmp_path, name="alake"):
    return LakeTable.create(
        str(tmp_path / name), COUNTER_SCHEMA, key_cols=["user_id"],
        n_buckets=4, merge_engine="aggregate", agg_spec=AGG_SPEC,
    )


def test_aggregate_engine_replay_with_compaction(spark, tmp_path):
    """Delta stream -> running aggregates; compaction folds partials; a
    late low-LSN delta still sums in; 'last' column keeps LWW semantics."""
    t = _mk_agg_table(tmp_path)
    cfg = EngineConfig(
        n_buckets=4, merge_engine="aggregate", agg_spec=AGG_SPEC,
        key_cols=("user_id",), compact_threshold=0,
    )
    e0 = [
        dict(user_id="u1", clicks=3, max_latency=0.5, last_page="a", lsn=10),
        dict(user_id="u1", clicks=2, max_latency=1.5, last_page="b", lsn=11),
        dict(user_id="u2", clicks=7, max_latency=0.1, last_page="x", lsn=12),
    ]
    apply_changes(spark, t, _counter_batch(spark, e0), 0, cfg)
    t.compact(spark)
    # late delta BELOW the compacted rows' max lsn: sum/max must still fold
    # it in; last_page@5 must LOSE to the folded last_page@11
    e1 = [
        dict(user_id="u1", clicks=4, max_latency=9.9, last_page="old", lsn=5),
        dict(user_id="u2", clicks=-2, last_page="y", lsn=20),
    ]
    apply_changes(spark, t, _counter_batch(spark, e1), 1, cfg)
    got = {r["user_id"]: r.asDict() for r in t.read(spark).collect()}
    assert got["u1"]["clicks"] == 9 and got["u1"]["max_latency"] == 9.9
    assert got["u1"]["last_page"] == "b"
    assert got["u2"]["clicks"] == 5 and got["u2"]["last_page"] == "y"
    # refold (second compaction) is exact — monoid associativity
    t.compact(spark)
    got2 = {r["user_id"]: r.asDict() for r in t.read(spark).collect()}
    assert got2 == got


def test_aggregate_engine_rejects_tombstones(spark, tmp_path):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    t = _mk_agg_table(tmp_path)
    cfg = EngineConfig(
        n_buckets=4, merge_engine="aggregate", agg_spec=AGG_SPEC,
        key_cols=("user_id",),
    )
    bad = [dict(user_id="u1", clicks=1, lsn=1),
           dict(user_id="u1", op="D", lsn=2)]
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError, Exception),
        match="rejects tombstones",
    ):
        apply_changes(spark, t, _counter_batch(spark, bad), 0, cfg)
    # the failed batch committed nothing
    assert t.read(spark).count() == 0


def test_aggregate_create_validation(tmp_path):
    with pytest.raises(ValueError, match="invalid agg_spec"):
        LakeTable.create(
            str(tmp_path / "bad1"), COUNTER_SCHEMA, ["user_id"], 4,
            merge_engine="aggregate", agg_spec={"user_id": "sum"},
        )
    with pytest.raises(ValueError, match="invalid agg_spec"):
        LakeTable.create(
            str(tmp_path / "bad2"), COUNTER_SCHEMA, ["user_id"], 4,
            merge_engine="aggregate", agg_spec={"clicks": "median"},
        )
    with pytest.raises(ValueError, match="agg_spec is only valid"):
        LakeTable.create(
            str(tmp_path / "bad3"), COUNTER_SCHEMA, ["user_id"], 4,
            agg_spec={"clicks": "sum"},
        )


def test_partial_engine_schema_evolution_mid_stream(spark, tmp_path):
    """An additive column arriving mid-stream on a partial table: old
    generations pad NULL, the new column folds per-column like any other,
    and compaction carries it."""
    t = LakeTable.create(
        str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, key_cols=KEY,
        n_buckets=4, merge_engine="partial",
    )
    cfg = EngineConfig(n_buckets=4, merge_engine="partial", compact_threshold=0)
    apply_changes(
        spark, t,
        _batch(spark, [_ev("k", 0, 1, text="base"), _ev("j", 0, 2, tool="jt")], 0),
        0, cfg,
    )
    # epoch 1 carries a NEW column (tool_meta) — only as a patch on k
    import pyspark.sql.types as T

    sch = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields)
        + [
            T.StructField("tool_meta", T.StringType(), True),
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    b1 = spark.createDataFrame(
        [("k", 0, None, None, None, None, "meta@5", "U", 5)], sch
    )
    m = apply_changes(spark, t, b1, 1, cfg)
    assert m["schema_evolved"]
    t.compact(spark)
    got = {r["conv_id"]: r.asDict() for r in t.read(spark).collect()}
    assert got["k"]["text"] == "base" and got["k"]["tool_meta"] == "meta@5"
    assert got["j"]["tool"] == "jt" and got["j"]["tool_meta"] is None


def test_partial_fold_associativity_sweep(spark):
    """Seeded randomized sweep: for random partial streams and random
    split points, fold(fold(prefix) ∪ suffix) == fold(whole) == golden.
    The algebraic claim the engine's correctness-across-compaction rests
    on, checked beyond the hand-built cases."""
    import random

    payload = ["role", "text", "tool", "ts"]
    for seed in range(4):
        rng = random.Random(seed)
        rows = []
        for i in range(180):
            op = "D" if rng.random() < 0.08 else "U"
            rows.append(
                _ev(
                    f"c{rng.randrange(12)}", rng.randrange(3),
                    lsn=rng.randrange(1_000_000),  # arbitrary disorder
                    op=op,
                    role=None if op == "D" or rng.random() < 0.5
                    else f"r{rng.randrange(4)}",
                    text=None if op == "D" or rng.random() < 0.5
                    else f"t{rng.randrange(100)}",
                    tool=None if op == "D" or rng.random() < 0.5
                    else f"g{rng.randrange(10)}",
                )
            )
        # lsn collisions would need the value tie-break the pandas golden
        # doesn't model — dedup (key, lsn) pairs like a real WAL offset
        seen = set()
        uniq = []
        for r in rows:
            k = (r["conv_id"], r["turn_idx"], r["lsn"])
            if k not in seen:
                seen.add(k)
                uniq.append(r)
        cut = rng.randrange(1, len(uniq))
        prefix, suffix = uniq[:cut], uniq[cut:]
        fa = partial_winners_agg(
            _batch(spark, prefix).drop("epoch"), KEY, payload
        )
        suf = (
            _batch(spark, suffix)
            .drop("epoch")
            .selectExpr(
                "*",
                "cast(null as map<string,bigint>) as __col_lsns",
                "cast(null as bigint) as __del_lsn",
            )
        )
        refold = (
            partial_winners_agg(fa.unionByName(suf), KEY, payload)
            .orderBy(*KEY)
            .toPandas()
            .reset_index(drop=True)
        )
        direct = (
            partial_winners_agg(
                _batch(spark, uniq).drop("epoch"), KEY, payload
            )
            .orderBy(*KEY)
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(refold, direct, check_dtype=False)
        # live rows match the independent pandas golden
        import pandas as _pd

        golden = partial_final_state(
            _pd.DataFrame(uniq), payload_cols=["conv_id", "turn_idx"] + payload
        )
        live = (
            direct[direct["op"] != "D"][["conv_id", "turn_idx"] + payload]
            .sort_values(KEY, kind="mergesort")
            .reset_index(drop=True)
        )
        # the golden's all-None ts is object dtype (None) while Spark's
        # toPandas yields datetime64 (NaT); pandas>=2.2 warns on mixed
        # null-likes and will hard-fail a future upgrade — unify first
        for fr in (live, golden):
            fr["ts"] = _pd.to_datetime(fr["ts"])
        pd.testing.assert_frame_equal(
            live, golden, check_dtype=False
        )


def test_partial_table_rebucket_preserves_fold(spark, tmp_path):
    """Rebucket is a physical re-split (no fold): raw patch versions and
    their provenance meta must survive into the new layout, and the read
    fold must produce the same state at 4 -> 16 buckets (map split) and
    after a follow-up compaction."""
    ch = gen_partial_changes(spark, n_events=5_000, n_convs=150, n_epochs=2)
    wal = str(tmp_path / "wal")
    for e, b in epoch_batches(ch, 2):
        cs.write_epoch(b, wal, e)
    job = IngestJob(
        str(tmp_path / "lake"),
        EngineConfig(n_buckets=4, merge_engine="partial", compact_threshold=100),
    )
    job.run_stream(spark, wal)
    t = LakeTable.load(str(tmp_path / "lake"))
    golden = partial_final_state(ch.toPandas())
    t.rebucket(spark, 16)
    got = t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)
    t.compact(spark)
    got2 = t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got2, golden, check_dtype=False)


def test_partial_fold_arrow_parity_with_spark_kernel(spark):
    """The Arrow twin (partial_fold_arrow, the map-only compaction fold)
    must pick bit-identical winners to partial_winners_agg — including
    duplicate-LSN ties broken by native value order, folded+raw mixes
    (origin provenance), delete horizons, and all-null inserts."""
    import numpy as np
    import pyarrow as pa

    from cnpj_data_pipeline_spark.operators.partial import (
        partial_fold_arrow,
    )

    rng = np.random.default_rng(7)
    n = 4_000
    rows = []
    for i in range(n):
        k = int(rng.integers(0, 300))
        lsn = int(rng.integers(0, 500))  # heavy lsn collisions
        op = "D" if rng.random() < 0.08 else "U"
        rows.append(
            _ev(
                f"c{k:04d}", k % 7, lsn, op=op,
                role=None if rng.random() < 0.4 else f"r{rng.integers(0,4)}",
                text=None if rng.random() < 0.3 else f"t{rng.integers(0,10**6)}",
                tool=None if rng.random() < 0.6 else f"x{rng.integers(0,5)}",
                ts=None if rng.random() < 0.5 else dt.datetime(
                    2026, 3, 1, int(rng.integers(0, 24)),
                    int(rng.integers(0, 60)),
                ),
            )
        )
    df = _batch(spark, rows).drop("epoch")
    payload = ["role", "text", "tool", "ts"]

    # first fold (Spark) produces provenance-carrying rows; mix them with a
    # fresh raw suffix and fold again BOTH ways — the compaction shape
    first = partial_winners_agg(df.limit(2_500), KEY, payload)
    mixed = first.unionByName(
        partial_winners_agg(
            df.exceptAll(df.limit(2_500)), KEY, payload
        )
    )
    want = (
        partial_winners_agg(mixed, KEY, payload)
        .orderBy(*KEY)
        .toPandas()
        .reset_index(drop=True)
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    mpdf = mixed.toPandas()
    mpdf["__col_lsns"] = mpdf["__col_lsns"].map(
        lambda m: list(m.items()) if m is not None else None
    )
    arrow_tbl = pa.Table.from_pandas(
        mpdf, schema=to_arrow_schema(mixed.schema), preserve_index=False
    )
    got = (
        partial_fold_arrow(arrow_tbl, KEY, payload)
        .to_pandas()
        .sort_values(KEY, kind="mergesort")
        .reset_index(drop=True)
    )
    got = got[want.columns]
    # map column: compare as dicts (entry order is not semantic); ts: one
    # side is datetime64[us], the other [ns] — same instants
    for frame in (want, got):
        frame["__col_lsns"] = frame["__col_lsns"].map(
            lambda m: dict(m) if m is not None else None
        )
        ts = frame["ts"]
        if getattr(ts.dtype, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        frame["ts"] = ts.astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_partial_fold_nan_tiebreak_matches_spark(spark):
    """A duplicate-LSN tie between float NaN and a finite value must pick
    the SAME winner in both kernels: Spark's total order ranks NaN above
    every number, so the Arrow twin's value tie-break ranks NaN greatest
    too (ranks_of nan_greatest=True) — the last known cross-kernel parity
    edge, now closed."""
    import math

    import pyarrow as pa

    from cnpj_data_pipeline_spark.operators.partial import (
        partial_fold_arrow,
    )

    sch = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    rows = [
        ("a", float("nan"), "U", 5),
        ("a", 1.5, "U", 5),  # same lsn: value tie-break decides
        ("b", 2.5, "U", 7),
        ("b", float("nan"), "U", 7),
    ]
    df = spark.createDataFrame(rows, sch)
    want = {
        r["k"]: r["v"]
        for r in partial_winners_agg(df, ["k"], ["v"]).collect()
    }
    got_tbl = partial_fold_arrow(
        pa.table(
            {
                "k": [r[0] for r in rows],
                "v": pa.array([r[1] for r in rows], pa.float64()),
                "op": [r[2] for r in rows],
                "lsn": pa.array([r[3] for r in rows], pa.int64()),
            }
        ),
        ["k"],
        ["v"],
    )
    got = dict(
        zip(got_tbl.column("k").to_pylist(), got_tbl.column("v").to_pylist())
    )
    assert all(math.isnan(v) for v in want.values()), want
    assert all(math.isnan(got[k]) for k in want), got


def test_partial_compact_map_equals_shuffle_and_golden(
    spark, tmp_path, monkeypatch
):
    """End-to-end: a partial table compacted by the map-only kernel reads
    identically to the shuffle kernel's rewrite (forced by a byte cap every
    bucket exceeds) and the pandas golden — and the map pass leaves exactly
    one file per bucket."""
    ch = gen_partial_changes(spark, n_events=6_000, n_convs=180, n_epochs=3)
    golden = partial_final_state(ch.toPandas())

    states = {}
    for kernel in ("map", "shuffle"):
        wal = str(tmp_path / f"wal_{kernel}")
        for e, b in epoch_batches(ch, 3):
            cs.write_epoch(b, wal, e)
        lake = str(tmp_path / f"lake_{kernel}")
        IngestJob(
            lake,
            EngineConfig(
                n_buckets=4, merge_engine="partial", compact_threshold=None
            ),
        ).run_stream(spark, wal)
        t = LakeTable.load(lake)
        with monkeypatch.context() as mp:
            if kernel == "shuffle":
                mp.setattr(LakeTable, "MAP_REWRITE_MAX_BUCKET_BYTES", -1)
            t.compact(spark)
        snap = t.snapshot()
        assert all(i.get("merged", True) for i in snap["buckets"].values())
        if kernel == "map":
            assert all(
                len(i["files"]) <= 1 for i in snap["buckets"].values()
            )
        states[kernel] = (
            t.read(spark).orderBy(*KEY).toPandas().reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            states[kernel], golden, check_dtype=False
        )
    pd.testing.assert_frame_equal(states["map"], states["shuffle"])


def test_aggregate_map_compaction_matches_shuffle_and_routes_float_sums(
    spark, tmp_path, monkeypatch
):
    """Integer-sum aggregate tables refold exactly in the map kernel (int
    sums exact, min/max order-insensitive) — map vs forced-shuffle
    compaction must match bit-for-bit; a FLOAT-sum column takes the shuffle
    kernel even when every bucket is under the map kernel's byte cap."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        dict(
            user_id=f"u{int(rng.integers(0, 40)):03d}",
            clicks=int(rng.integers(-5, 50)),
            max_latency=float(np.round(rng.random() * 10, 3)),
            last_page=f"p{int(rng.integers(0, 9))}",
            lsn=i,
        )
        for i in range(2_000)
    ]
    cfg = EngineConfig(
        n_buckets=4, merge_engine="aggregate", agg_spec=AGG_SPEC,
        key_cols=("user_id",), compact_threshold=None,
    )
    states = {}
    for kernel in ("map", "shuffle"):
        t = _mk_agg_table(tmp_path, name=f"alake_{kernel}")
        for e in range(3):
            apply_changes(
                spark, t,
                _counter_batch(spark, rows[e * 600:(e + 1) * 600]),
                e, cfg,
            )
        with monkeypatch.context() as mp:
            if kernel == "shuffle":
                mp.setattr(LakeTable, "MAP_REWRITE_MAX_BUCKET_BYTES", -1)
            t.compact(spark)
        snap = t.snapshot()
        if kernel == "map":
            assert all(
                len(i["files"]) <= 1 for i in snap["buckets"].values()
            ), "map pass => one file per bucket"
        states[kernel] = (
            t.read(spark).orderBy("user_id").toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(states["map"], states["shuffle"])

    # float SUM column: the table routes through the shuffle kernel
    # (bit-parity for order-sensitive float addition is impossible)
    fs = LakeTable.create(
        str(tmp_path / "alake_floatsum"), COUNTER_SCHEMA,
        key_cols=["user_id"], n_buckets=4, merge_engine="aggregate",
        agg_spec={"max_latency": "sum"},
    )
    cfg2 = EngineConfig(
        n_buckets=4, merge_engine="aggregate",
        agg_spec={"max_latency": "sum"},
        key_cols=("user_id",), compact_threshold=None,
    )
    apply_changes(spark, fs, _counter_batch(spark, rows[:300]), 0, cfg2)
    apply_changes(spark, fs, _counter_batch(spark, rows[300:600]), 1, cfg2)
    before = (
        fs.read(spark).orderBy("user_id").toPandas().reset_index(drop=True)
    )
    fs.compact(spark)  # _map_refold_unsafe: the shuffle kernel
    snap = fs.snapshot()
    assert all(i.get("merged", True) for i in snap["buckets"].values())
    after = (
        fs.read(spark).orderBy("user_id").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(after, before)


def test_map_refold_routing_guards(spark, tmp_path):
    """Fold shapes the Arrow kernel cannot reproduce bit-identically route
    to the shuffle kernel: string/decimal monoids, float sums, non-atomic
    payload columns. And NaN min folds like Spark's (NaN is greatest)."""
    from cnpj_data_pipeline_spark.lake.format import _map_refold_unsafe

    def snap_for(schema, spec, engine="aggregate"):
        t = LakeTable.create(
            str(tmp_path / f"t{abs(hash(str(spec)))%10**6}"), schema,
            ["user_id"], 4, merge_engine=engine,
            agg_spec=spec if engine == "aggregate" else None,
        )
        return t.snapshot()

    base = [T.StructField("user_id", T.StringType(), False)]
    # string max: legal to declare, but map-unsafe -> shuffle route
    s = snap_for(
        T.StructType(base + [T.StructField("page", T.StringType(), True)]),
        {"page": "max"},
    )
    assert _map_refold_unsafe(s)
    # decimal sum: rejected at declaration? No — decimal is numeric for
    # Spark; it is map-unsafe (numpy would truncate)
    s = snap_for(
        T.StructType(
            base + [T.StructField("amt", T.DecimalType(10, 2), True)]
        ),
        {"amt": "sum"},
    )
    assert _map_refold_unsafe(s)
    # int sum + double max: map-safe
    s = snap_for(
        T.StructType(
            base
            + [
                T.StructField("clicks", T.LongType(), True),
                T.StructField("lat", T.DoubleType(), True),
            ]
        ),
        {"clicks": "sum", "lat": "max"},
    )
    assert not _map_refold_unsafe(s)
    # sum over an int narrower than long: map-unsafe — the map kernel's
    # int64-accumulate + Arrow downcast raises on overflow where the Spark
    # long-sum path has its own overflow behavior; one kernel = one behavior
    s = snap_for(
        T.StructType(
            base + [T.StructField("hits", T.IntegerType(), True)]
        ),
        {"hits": "sum"},
    )
    assert _map_refold_unsafe(s)
    # min over a narrow int stays map-safe (no accumulation, no overflow)
    s = snap_for(
        T.StructType(
            base + [T.StructField("rank", T.IntegerType(), True)]
        ),
        {"rank": "min"},
    )
    assert not _map_refold_unsafe(s)
    # non-atomic payload on a partial table: map-unsafe
    s = snap_for(
        T.StructType(
            base
            + [
                T.StructField(
                    "meta", T.MapType(T.StringType(), T.StringType()), True
                )
            ]
        ),
        None, engine="partial",
    )
    assert _map_refold_unsafe(s)
    # sum over a string column: rejected at declaration
    with pytest.raises(ValueError, match="unfoldable"):
        LakeTable.create(
            str(tmp_path / "bad"), 
            T.StructType(
                base + [T.StructField("page", T.StringType(), True)]
            ),
            ["user_id"], 4, merge_engine="aggregate",
            agg_spec={"page": "sum"},
        )


def test_float_min_nan_parity_across_kernels(spark, tmp_path):
    """Spark's min treats NaN as greatest (returns the real minimum unless
    every contribution is NaN); the map kernel must match — and compaction
    must not flip a pre-compaction read."""
    import math

    sch = T.StructType(
        [
            T.StructField("user_id", T.StringType(), False),
            T.StructField("lat", T.DoubleType(), True),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "lake"), sch, ["user_id"], 2,
        merge_engine="aggregate", agg_spec={"lat": "min"},
    )
    cfg = EngineConfig(
        n_buckets=2, merge_engine="aggregate", agg_spec={"lat": "min"},
        key_cols=("user_id",), compact_threshold=None,
    )
    bsch = T.StructType(
        list(sch.fields)
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    rows = [
        ("mixed", 3.0, "U", 1), ("mixed", float("nan"), "U", 2),
        ("allnan", float("nan"), "U", 3), ("allnan", float("nan"), "U", 4),
        ("plain", 7.5, "U", 5), ("plain", 2.5, "U", 6),
    ]
    apply_changes(spark, t, spark.createDataFrame(rows, bsch), 0, cfg)
    before = {r["user_id"]: r["lat"] for r in t.read(spark).collect()}
    assert before["mixed"] == 3.0 and before["plain"] == 2.5
    assert math.isnan(before["allnan"])
    t.compact(spark)  # map kernel (double min IS map-safe)
    after = {r["user_id"]: r["lat"] for r in t.read(spark).collect()}
    assert after["mixed"] == 3.0 and after["plain"] == 2.5
    assert math.isnan(after["allnan"])


def test_partial_map_payload_column_folds_via_json_tiebreak(spark, tmp_path):
    """A partial table with a MAP payload column must still ingest and read
    (tie-break on to_json), with compaction routed to the shuffle kernel."""
    sch = T.StructType(
        [
            T.StructField("user_id", T.StringType(), False),
            T.StructField(
                "meta", T.MapType(T.StringType(), T.StringType()), True
            ),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "lake"), sch, ["user_id"], 2, merge_engine="partial"
    )
    cfg = EngineConfig(
        n_buckets=2, merge_engine="partial", key_cols=("user_id",),
        compact_threshold=None,
    )
    bsch = T.StructType(
        list(sch.fields)
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    apply_changes(
        spark, t,
        spark.createDataFrame(
            [("u1", {"a": "1"}, "U", 1), ("u1", {"b": "2"}, "U", 2)], bsch
        ),
        0, cfg,
    )
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0]["meta"] == {"b": "2"}
    t.compact(spark)  # routes to shuffle (map-unsafe payload)
    got2 = t.read(spark).collect()
    assert len(got2) == 1 and got2[0]["meta"] == {"b": "2"}
