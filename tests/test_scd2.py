"""SCD Type 2 history (plans/scd2.py) — version-interval maintenance from the
typed change feed.

Reference re-derivation: the running-LWW-max candidate chain computed from
scratch in DuckDB (``queries/cdc.py:SCD2_CHAIN_SQL`` — the same SQL the
``q_scd2_history`` oracle uses, here applied to generated streams), so the
incremental job is checked against an independent engine on adversarial
streams (duplicate LSNs, late events, skew, deletes/re-inserts).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from cnpj_data_pipeline_spark import EngineConfig, IngestJob, LakeTable
from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
from cnpj_data_pipeline_spark.plans.scd2 import SCD2SyncJob
from cnpj_data_pipeline_spark.queries.cdc import SCD2_CHAIN_SQL

OUT_COLS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "valid_from", "valid_to",
]


def _reference_history(changes_pdf: pd.DataFrame) -> pd.DataFrame:
    """From-scratch SCD2 derivation of a change stream, via DuckDB."""
    con = duckdb.connect()
    con.register("changes", changes_pdf)
    out = con.sql(f"WITH {SCD2_CHAIN_SQL.strip()}").df()
    con.close()
    return _norm(out)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df[OUT_COLS].copy()
    out["valid_to"] = out["valid_to"].astype("float64")  # NULL-able compare
    for c in ("role", "text", "tool"):  # unify None/NaN (pandas FutureWarning)
        out[c] = out[c].astype(object).where(pd.notna(out[c]), None)
    return out.sort_values(["conv_id", "turn_idx", "valid_from"]).reset_index(
        drop=True
    )


def _ingest(spark, path: str, changes, n_epochs: int, cfg) -> LakeTable:
    job = IngestJob(path, cfg)
    job.run_batches(spark, epoch_batches(changes, n_epochs))
    return LakeTable.load(path)


def _hist_df(spark, job: SCD2SyncJob) -> pd.DataFrame:
    return _norm(job.read(spark).toPandas())


@pytest.mark.parametrize("dup,late,skew", [(0.0, 0.0, 0.0), (0.1, 0.1, 2.0)])
def test_scd2_matches_reference(spark, tmp_path, dup, late, skew):
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=6_000, n_convs=200, turns_per_conv=8, n_epochs=4,
        dup_ratio=dup, late_ratio=late, skew=skew,
    )
    pdf = changes.toPandas()
    base = _ingest(spark, str(tmp_path / "base"), changes, 4, cfg)
    job = SCD2SyncJob(base.root, str(tmp_path / "hist"), cfg=cfg)
    m = job.run_once(spark)
    assert m["epochs_behind"] == 0 and len(m["epochs_synced"]) == 4
    got = _hist_df(spark, job)
    want = _reference_history(pdf)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # the live slice equals the base table's state, with provenance
    live = _norm(job.read_current(spark).toPandas())
    state = (
        base.read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        live[["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
        state[["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
        check_dtype=False,
    )


def test_scd2_incremental_equals_oneshot_and_idempotent(spark, tmp_path):
    """Per-epoch syncs, a lagging one-shot sync, and a re-run all produce the
    identical history (version granularity is the apply commit, independent
    of consumer scheduling; the epoch ledger makes re-runs no-ops)."""
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=4_000, n_convs=120, turns_per_conv=8, n_epochs=4,
        dup_ratio=0.05, late_ratio=0.05,
    )
    # consumer A: syncs after every epoch
    job_inc = None
    ingest = IngestJob(str(tmp_path / "base"), cfg)
    for e, batch in epoch_batches(changes, 4):
        ingest.run_batches(spark, [(e, batch)])
        if job_inc is None:
            job_inc = SCD2SyncJob(
                str(tmp_path / "base"), str(tmp_path / "hist_inc"), cfg=cfg
            )
        job_inc.run_once(spark)
    # consumer B: one lagging catch-up sync at the end
    job_lag = SCD2SyncJob(
        str(tmp_path / "base"), str(tmp_path / "hist_lag"), cfg=cfg
    )
    job_lag.run_once(spark)
    a, b = _hist_df(spark, job_inc), _hist_df(spark, job_lag)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # idempotent: re-running either changes nothing
    m = job_lag.run_once(spark)
    assert m["epochs_synced"] == [] and m["rows_applied"] == 0
    pd.testing.assert_frame_equal(_hist_df(spark, job_lag), b, check_dtype=False)


def test_scd2_edge_cases(spark, tmp_path):
    """Hand-built stream pinning the corner semantics:

    * k1: insert → update (two versions, first closed at the second's LSN)
    * k2: insert → delete → re-insert (closed-at-tombstone, then a new open)
    * k3: duplicate-LSN in-place replacement (ONE version row survives)
    * k4: same-LSN delete (zero-width closed interval, never live as-of)
    * k5: late event losing LWW (no version, no interval change)
    """
    from datetime import datetime

    cfg = EngineConfig(n_buckets=4, salt_factor=1)
    ts = datetime(2026, 1, 1)
    t2 = datetime(2026, 1, 2)
    rows = [
        # conv, turn, role, text, tool, ts, op, lsn, epoch
        ("k1", 0, "user", "a", None, ts, "I", 10, 0),
        ("k1", 0, "user", "b", None, ts, "U", 20, 1),
        ("k2", 0, "user", "x", None, ts, "I", 11, 0),
        ("k2", 0, None, None, None, ts, "D", 21, 1),
        ("k2", 0, "user", "y", None, ts, "I", 31, 2),
        ("k3", 0, "user", "p", None, ts, "I", 12, 0),
        ("k3", 0, "user", "q", None, t2, "U", 12, 1),  # same LSN, later ts wins
        ("k4", 0, "user", "m", None, ts, "I", 13, 0),
        ("k4", 0, None, None, None, t2, "D", 13, 1),  # same-LSN tombstone wins
        ("k5", 0, "user", "new", None, ts, "I", 40, 0),
        ("k5", 0, "user", "old", None, ts, "U", 5, 1),  # late, loses
    ]
    changes = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, lsn long, epoch int",
    )
    base = _ingest(spark, str(tmp_path / "base"), changes, 3, cfg)
    job = SCD2SyncJob(base.root, str(tmp_path / "hist"), cfg=cfg)
    job.run_once(spark)
    got = _hist_df(spark, job)
    want = _norm(
        pd.DataFrame(
            [
                ("k1", 0, "user", "a", None, ts, 10, 20.0),
                ("k1", 0, "user", "b", None, ts, 20, None),
                ("k2", 0, "user", "x", None, ts, 11, 21.0),
                ("k2", 0, "user", "y", None, ts, 31, None),
                ("k3", 0, "user", "q", None, t2, 12, None),
                ("k4", 0, "user", "m", None, ts, 13, 13.0),
                ("k5", 0, "user", "new", None, ts, 40, None),
            ],
            columns=OUT_COLS,
        )
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # and the independent SQL derivation agrees on the same stream
    pd.testing.assert_frame_equal(
        got, _reference_history(changes.toPandas()), check_dtype=False
    )

    # point-in-time: each non-zero-width version is live at its valid_from;
    # k4's zero-width interval is never live; k2 is absent between delete
    # and re-insert
    as_of_12 = job.read_as_of_lsn(spark, 12).toPandas()
    as_of_12 = as_of_12.set_index("conv_id")
    assert as_of_12.loc["k1"]["text"] == "a"
    assert as_of_12.loc["k3"]["text"] == "q"
    assert "k4" not in as_of_12.index  # zero-width: retired at its own LSN
    as_of_25 = job.read_as_of_lsn(spark, 25).toPandas()
    assert "k2" not in set(as_of_25["conv_id"])  # deleted at 21, back at 31
    as_of_31 = job.read_as_of_lsn(spark, 31).toPandas().set_index("conv_id")
    assert as_of_31.loc["k2"]["text"] == "y"


def test_scd2_requires_keyed_lww_source(spark, tmp_path):
    from pyspark.sql import types as T

    keyless = LakeTable.create(
        str(tmp_path / "keyless"),
        T.StructType([T.StructField("v", T.StringType(), True)]),
        key_cols=None,
        n_buckets=4,
    )
    job = SCD2SyncJob(keyless.root, str(tmp_path / "hist"))
    with pytest.raises(ValueError, match="keyed"):
        job.run_once(spark)


def test_scd2_sql_surface(spark, tmp_path):
    """The SQL twin: CREATE HISTORY TABLE runs the initial sync, REFRESH
    catches up, SHOW CREATE round-trips through execute_ddl (IF NOT EXISTS
    re-registers against the sidecar), and SHOW CONSUMERS lists the
    history with its lag."""
    from cnpj_data_pipeline_spark.lake.ddl import execute_ddl

    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    changes = gen_changes(
        spark, n_events=3_000, n_convs=120, turns_per_conv=8, n_epochs=4,
        dup_ratio=0.05, late_ratio=0.05,
    )
    path = str(tmp_path / "base")
    ingest = IngestJob(path, cfg)
    batches = list(epoch_batches(changes, 4))
    ingest.run_batches(spark, batches[:2])
    tables = {"t": LakeTable.load(path)}
    loc = str(tmp_path / "hist")
    execute_ddl(
        spark, f"CREATE HISTORY TABLE h ON t LOCATION '{loc}'", tables
    )
    assert "h" in tables
    ingest.run_batches(spark, batches[2:])
    cons = execute_ddl(spark, "SHOW CONSUMERS", tables).collect()
    lag = {r["name"]: (r["kind"], r["epochs_behind"]) for r in cons}
    assert lag["h"] == ("SCD2", 2)
    m = execute_ddl(spark, "REFRESH HISTORY TABLE h", tables)
    assert m["epochs_synced"] == [2, 3]
    # full history equals a from-scratch job over the same base
    ref = SCD2SyncJob(path, str(tmp_path / "hist_ref"), cfg=cfg)
    ref.run_once(spark)
    got = _norm(LakeTable.load(loc).read(spark).toPandas())
    want = _hist_df(spark, ref)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # SHOW CREATE round-trips; IF NOT EXISTS re-registers a fresh dict
    stmt = execute_ddl(spark, "SHOW CREATE HISTORY TABLE h", tables)
    assert stmt == f"CREATE HISTORY TABLE h ON t LOCATION '{loc}'"
    fresh = {"t": LakeTable.load(path)}
    execute_ddl(
        spark,
        stmt.replace("CREATE HISTORY TABLE h",
                     "CREATE HISTORY TABLE IF NOT EXISTS h"),
        fresh,
    )
    assert "h" in fresh
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(spark, stmt, fresh)


def test_scd2_if_not_exists_rejects_other_source(spark, tmp_path):
    """CREATE HISTORY TABLE IF NOT EXISTS re-registers only against the
    source the sidecar records: naming another source (or the recorded
    name bound to another root) raises instead of silently binding the
    history to the old source."""
    from cnpj_data_pipeline_spark.lake.ddl import execute_ddl

    cfg = EngineConfig(n_buckets=4)
    changes = gen_changes(spark, n_events=600, n_convs=30, n_epochs=1)
    batches = list(epoch_batches(changes, 1))
    roots = {n: str(tmp_path / n) for n in ("a", "b")}
    for root in roots.values():
        IngestJob(root, cfg).run_batches(spark, batches)
    tables = {n: LakeTable.load(r) for n, r in roots.items()}
    loc = str(tmp_path / "hist")
    execute_ddl(spark, f"CREATE HISTORY TABLE h ON a LOCATION '{loc}'", tables)

    ine = f"CREATE HISTORY TABLE IF NOT EXISTS h ON {{}} LOCATION '{loc}'"
    with pytest.raises(ValueError, match="records source 'a'"):
        execute_ddl(spark, ine.format("b"), tables)
    with pytest.raises(ValueError, match="records source 'a'"):
        execute_ddl(spark, ine.format("a"), {"a": tables["b"]})
    with pytest.raises(ValueError, match="records source 'a'"):
        execute_ddl(spark, ine.format("c"), {})
    fresh = {"a": LakeTable.load(roots["a"])}
    execute_ddl(spark, ine.format("a"), fresh)
    assert fresh["h"] == loc
    execute_ddl(spark, ine.format("a"), {})  # unregistered: name matches


def test_scd2_failed_create_leaves_location_usable(spark, tmp_path):
    """A CREATE HISTORY TABLE whose initial sync fails (a keyless source)
    leaves no ``_history.json`` behind: a later CREATE at the same
    location succeeds instead of reporting "already exists"."""
    import os

    from pyspark.sql import types as T

    from cnpj_data_pipeline_spark.lake.ddl import execute_ddl

    keyless = LakeTable.create(
        str(tmp_path / "keyless"),
        T.StructType([T.StructField("v", T.StringType(), True)]),
        key_cols=None,
        n_buckets=4,
    )
    cfg = EngineConfig(n_buckets=4)
    changes = gen_changes(spark, n_events=600, n_convs=30, n_epochs=1)
    base = _ingest(spark, str(tmp_path / "base"), changes, 1, cfg)
    tables = {"k": keyless, "t": base}
    loc = str(tmp_path / "hist")
    with pytest.raises(ValueError, match="keyed"):
        execute_ddl(spark, f"CREATE HISTORY TABLE h ON k LOCATION '{loc}'", tables)
    assert not os.path.exists(os.path.join(loc, "_history.json"))
    assert "h" not in tables

    execute_ddl(spark, f"CREATE HISTORY TABLE h ON t LOCATION '{loc}'", tables)
    assert tables["h"] == loc
    live = LakeTable.load(loc).read(spark).where("valid_to IS NULL")
    assert live.count() == base.read(spark).count()
