"""Driver-local point lookups: a ``read_keys`` mget whose pruned files fit
under ``spark.sql.autoBroadcastJoinThreshold`` is answered in Arrow on the
driver (read, merge-engine fold, semi join) and returned as a LocalRelation.

The differential tests pin the driver regime to the Spark regime, which a
scoped threshold of ``-1`` selects: the same rows and the same schema over
every merge engine, schema evolution, renames, time travel and the lookup
options. The job-count tests pin what the regime saves: no scan, fold or
join job.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import (
    epoch_batches,
    gen_changes,
    gen_partial_changes,
)
from cnpj_data_pipeline_spark.lake.format import local_frame, scoped_sql_conf
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.oracle import final_state
from cnpj_data_pipeline_spark.sources import change_stream as cs

from test_scan_planning import _jobs

pytestmark = pytest.mark.filterwarnings("error::FutureWarning")

KEY = ["conv_id", "turn_idx"]
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
KEY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)
# live, missing and NULL keys; the long turn index is outside int32, so its
# try_cast to the table's type is NULL and it can match nothing
LOOKUP = [
    ("c00000001", 0), ("c00000002", 1), ("c00000003", 2), ("c00000050", 3),
    ("c00000099", 1), ("c00000007", 4), ("c00000008", 99), ("c99999999", 0),
    (None, 1), ("c00000004", None), ("c00000005", 2**40),
]
COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("clicks", T.LongType(), True),
        T.StructField("max_latency", T.DoubleType(), True),
        T.StructField("last_page", T.StringType(), True),
    ]
)
AGG_SPEC = {"clicks": "sum", "max_latency": "max", "last_page": "last"}


def _ingest(spark, root, changes, n_epochs, cfg, drop_evolved_before=None):
    wal = f"{root}/wal"
    for e, b in epoch_batches(changes, n_epochs, drop_evolved_before):
        cs.write_epoch(b, wal, e)
    IngestJob(f"{root}/lake", cfg).run_stream(spark, wal)
    return LakeTable.load(f"{root}/lake")


def _mixed(spark, t):
    """Compact half the buckets: the lookup then unions merged buckets'
    rows with unmerged buckets' folded generations."""
    t.compact(spark, buckets=[0, 1])
    buckets = t.snapshot()["buckets"].values()
    assert {i.get("merged", True) for i in buckets} == {True, False}


def _lww_table(spark, root):
    """Schema evolved at epoch 2, bloom sidecars on every delta, one
    renamed payload column, mixed merged and unmerged buckets."""
    ch = gen_changes(
        spark, n_events=3_000, n_convs=100, n_epochs=4, evolve_at_epoch=2
    )
    cfg = EngineConfig(n_buckets=4, compact_threshold=100, key_blooms="force")
    t = _ingest(spark, root, ch, 4, cfg, drop_evolved_before=2)
    _mixed(spark, t)
    t.rename_column("text", "body")
    return t


def _partial_table(spark, root):
    ch = gen_partial_changes(spark, n_events=3_000, n_convs=100, n_epochs=3)
    cfg = EngineConfig(n_buckets=4, merge_engine="partial", compact_threshold=100)
    t = _ingest(spark, root, ch, 3, cfg)
    _mixed(spark, t)
    return t


def _aggregate_table(spark, root):
    t = LakeTable.create(
        f"{root}/lake", COUNTER_SCHEMA, key_cols=["user_id"], n_buckets=4,
        merge_engine="aggregate", agg_spec=AGG_SPEC,
    )
    cfg = EngineConfig(
        n_buckets=4, merge_engine="aggregate", agg_spec=AGG_SPEC,
        key_cols=("user_id",), compact_threshold=100,
    )
    batch_schema = T.StructType(
        list(COUNTER_SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    for e in range(3):
        rows = [
            (f"u{i:02d}", i + e, 0.5 * ((i * 7 + e) % 11), f"p{e}-{i}", "U",
             100 * e + i)
            for i in range(0, 40, e + 1)
        ]
        apply_changes(spark, t, spark.createDataFrame(rows, batch_schema), e, cfg)
    _mixed(spark, t)
    return t


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("point_lookup")
    return {
        "lww": _lww_table(spark, root / "lww"),
        "partial": _partial_table(spark, root / "partial"),
        "aggregate": _aggregate_table(spark, root / "aggregate"),
    }


def _keys(spark, engine):
    if engine == "aggregate":
        users = [("u01",), ("u02",), ("u09",), ("u38",), ("u77",), (None,)]
        schema = T.StructType([T.StructField("user_id", T.StringType())])
        return local_frame(spark, schema, users)
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.LongType()),
        ]
    )
    return local_frame(spark, schema, LOOKUP)


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _both(spark, t, keys, **kw):
    """(driver rows, driver schema, Spark rows, Spark schema); the driver
    regime must start no Spark job for keys held in a LocalRelation."""
    with _jobs(spark, "point-lookup-driver") as ids:
        d = t.read_keys(spark, keys, **kw)
        d_rows = _rows(d)
    assert ids == [], "the driver regime started a Spark job"
    with scoped_sql_conf(spark, {THRESHOLD: "-1"}):
        s = t.read_keys(spark, keys, **kw)
        s_rows = _rows(s)
    return d_rows, d.schema, s_rows, s.schema


CASES = {
    "default": {},
    "meta": {"include_meta": True},
    "meta_tombstones": {"include_meta": True, "include_tombstones": True},
    "physical": {"logical": False},
    "prefix": {"on": ["conv_id"]},
    "time_travel": {"snapshot_id": "first"},
}


@pytest.mark.parametrize(
    "engine,case",
    [
        (engine, case)
        for engine in ("lww", "partial", "aggregate")
        for case in CASES
        # a one-column key has no proper prefix
        if not (engine == "aggregate" and case == "prefix")
    ],
)
def test_driver_regime_matches_spark_regime(spark, tables, engine, case):
    t = tables[engine]
    kw = dict(CASES[case])
    keys = _keys(spark, engine)
    if case == "prefix":
        keys = keys.select("conv_id")
    if kw.get("snapshot_id") == "first":
        kw["snapshot_id"] = min(
            s["snapshot_id"] for s in t.snapshots() if s.get("epoch") == 1
        )
    d_rows, d_schema, s_rows, s_schema = _both(spark, t, keys, **kw)
    assert d_rows == s_rows
    assert d_schema == s_schema
    assert d_rows, "the lookup must return rows to compare"


def test_driver_regime_reads_evolved_and_renamed_columns(spark, tables):
    """The driver regime shows the evolved-in column and the renamed
    column under its logical name; time travel to before both shows the
    old shape."""
    t = tables["lww"]
    got = t.read_keys(spark, _keys(spark, "lww"))
    assert "body" in got.columns and "text" not in got.columns
    assert "tool_meta" in got.columns
    before = min(
        s["snapshot_id"] for s in t.snapshots() if s.get("epoch") == 1
    )
    old = t.read_keys(spark, _keys(spark, "lww"), snapshot_id=before)
    assert "tool_meta" not in old.columns and "text" in old.columns


def test_null_and_out_of_range_keys_match_nothing(spark, tmp_path):
    """A NULL in any key column, or a key outside the column's type, never
    matches; the real keys beside it still return their rows, on both
    regimes."""
    ch = gen_changes(spark, n_events=2_000, n_convs=80, n_epochs=2)
    t = _ingest(spark, str(tmp_path), ch, 2, EngineConfig(n_buckets=4))
    golden = final_state(ch.toPandas())
    live = [
        (str(r.conv_id), int(r.turn_idx)) for r in golden.head(3).itertuples()
    ]
    keys = spark.createDataFrame(
        live + [(None, 1), (live[0][0], None), (live[1][0], 2**40)],
        "conv_id string, turn_idx long",
    )
    want = golden.merge(pd.DataFrame(live, columns=KEY), on=KEY)
    for conf in ({}, {THRESHOLD: "-1"}):
        with scoped_sql_conf(spark, conf):
            got = t.read_keys(spark, keys).toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values(KEY).reset_index(drop=True),
            want.sort_values(KEY).reset_index(drop=True),
            check_dtype=False,
        )


def test_lookup_job_counts(spark, tables):
    """Keys in a LocalRelation: no Spark job at all. Parallelize-backed
    keys: one job, the key collect. Over the byte threshold the lookup
    takes the Spark regime and its scan runs a job, with the same rows."""
    t = tables["lww"]
    local = local_frame(spark, KEY_SCHEMA, LOOKUP[:6])
    with _jobs(spark, "point-lookup-local") as ids:
        want = _rows(t.read_keys(spark, local))
    assert ids == [] and want
    parallel = spark.createDataFrame(LOOKUP[:6], KEY_SCHEMA)
    with _jobs(spark, "point-lookup-parallel") as ids:
        assert _rows(t.read_keys(spark, parallel)) == want
    assert len(ids) == 1, ids
    with scoped_sql_conf(spark, {THRESHOLD: "1"}):
        with _jobs(spark, "point-lookup-over") as ids:
            assert _rows(t.read_keys(spark, local)) == want
    assert ids, "a lookup over the threshold must run on Spark"
