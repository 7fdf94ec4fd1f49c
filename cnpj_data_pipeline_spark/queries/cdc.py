"""CDC queries over the driver's test tables, each paired with a DuckDB oracle.

The change stream is DERIVED deterministically from the shared ``events``
parquet table (no external data): every event becomes an I/U/D envelope over
the transcript key space, so the Spark pipeline and the SQL oracle see the
exact same input. The flagship ``q_cdc_replay`` runs the REAL engine (bucketed
lake table, salted applyInPandas merge, atomic snapshot commits) and must
reproduce the pure-SQL LWW fold bit-for-bit.
"""

from __future__ import annotations

import atexit
import glob as _glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import (
    LSN_META_COL,
    OP_META_COL,
    LakeTable,
)
from cnpj_data_pipeline_spark.operators.dedup import lww_dedup, lww_winners_agg
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

# ---------------------------------------------------------------------------
# scratch management: every replay variant needs a WAL + lake on scratch
# storage. The WAL for a given sf_dir is STAGED ONCE and shared by all four
# variants (round 1 staged it 4x = 4 extra full source scans per gate run),
# and every scratch dir is registered for atexit cleanup so repeated runs
# don't leak RAM-backed tmpfs (/dev/shm) across the life of the machine.
# ---------------------------------------------------------------------------

_TMP_DIRS: list[str] = []
_WAL_CACHE: dict[str, str] = {}  # sf_dir -> staged epoch-partitioned WAL
_FLAT_WAL_CACHE: dict[str, str] = {}  # sf_dir -> flat WAL copy (streaming)
_MAX_ID_CACHE: dict[str, int] = {}


def _cleanup_scratch() -> None:
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_scratch)


def _mk_scratch(prefix: str) -> str:
    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix=prefix, dir=tmp_root)
    _TMP_DIRS.append(root)
    return root


def _events_max_id(sf_dir: str) -> int:
    """max(event_id) from Parquet footer statistics only — replaces a full
    eager Spark scan of the events table that round 1 paid once per CDC query
    (11 queries = 11 extra scans). Falls back to a DuckDB column scan if a
    writer omitted stats."""
    cached = _MAX_ID_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    files = [path] if os.path.isfile(path) else sorted(
        _glob.glob(os.path.join(path, "*.parquet"))
    )
    hi = None
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == "event_id" and col.statistics is not None:
                    st = col.statistics
                    if st.has_min_max:
                        hi = st.max if hi is None else max(hi, st.max)
    if hi is None:  # stats absent: one cheap single-column scan, driver-side
        import duckdb

        src = path if os.path.isfile(path) else os.path.join(path, "*.parquet")
        hi = duckdb.sql(f"SELECT max(event_id) FROM read_parquet('{src}')").fetchone()[0]
    _MAX_ID_CACHE[sf_dir] = int(hi)
    return int(hi)


def _staged_wal(spark: SparkSession, sf_dir: str) -> str:
    """Stage the derived change stream as an epoch-partitioned parquet WAL
    once per sf_dir; all replay variants tail this one copy (the shape a real
    WAL tail has — and one source scan instead of four)."""
    wal = _WAL_CACHE.get(sf_dir)
    if wal and os.path.isdir(wal):
        return wal
    wal = os.path.join(_mk_scratch("cdc_wal_"), "wal")
    changes_from_events(spark, sf_dir).write.mode("overwrite").partitionBy(
        "epoch"
    ).parquet(wal)
    _WAL_CACHE[sf_dir] = wal
    return wal


def _staged_flat_wal(spark: SparkSession, sf_dir: str) -> str:
    """Flat (non-partitioned) WAL copy for the file-source streaming variant,
    derived from the staged WAL (cheap re-layout, not a source re-scan)."""
    flat = _FLAT_WAL_CACHE.get(sf_dir)
    if flat and os.path.isdir(flat):
        return flat
    from cnpj_data_pipeline_spark.schemas import CHANGE_SCHEMA

    flat = os.path.join(_mk_scratch("cdc_walflat_"), "wal")
    df = spark.read.parquet(_staged_wal(spark, sf_dir))
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name) for f in CHANGE_SCHEMA.fields
    ]
    df.select(*cols).repartition(8).write.mode("overwrite").parquet(flat)
    _FLAT_WAL_CACHE[sf_dir] = flat
    return flat


# ---------------------------------------------------------------------------
# the derived change envelope (SURVEY §1.3 CHANGE schema) — Spark and SQL twins
# ---------------------------------------------------------------------------

N_EPOCHS = 4  # fixed epoch count at any sf (integer arithmetic, oracle-exact)

# transcript schema + a numeric payload column for the widening replay
# (q_cdc_replay_widened): declared INT at create, widened to LONG mid-stream
import pyspark.sql.types as _T  # noqa: E402

T_SCHEMA_WITH_SCORE = _T.StructType(
    list(TRANSCRIPT_SCHEMA.fields)
    + [_T.StructField("score", _T.IntegerType(), True)]
)


def changes_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    max_id = _events_max_id(sf_dir)
    turn = (F.col("event_id") % 32).cast("int")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "purchase", "U")
        .otherwise("I")
    )
    return ev.select(
        F.concat(F.lit("c"), F.lpad((F.col("user_id") % 200).cast("string"), 8, "0")).alias("conv_id"),
        turn.alias("turn_idx"),
        F.when(turn % 4 == 0, "user")
        .when(turn % 4 == 1, "assistant")
        .when(turn % 4 == 2, "tool")
        .otherwise("system")
        .alias("role"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.concat(F.col("event_type"), F.lit(":"), F.coalesce(F.col("props"), F.lit(""))))
        .alias("text"),
        F.when(F.col("event_type") == "click", "browser")
        .when(F.col("event_type") == "view", "search")
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("ts"),
        op.alias("op"),
        F.col("event_id").cast("long").alias("lsn"),
        F.expr(f"CAST((event_id * {N_EPOCHS}) DIV {max_id + 1} AS INT)").alias("epoch"),
    )


CHANGES_CTE = f"""
changes AS (
  SELECT 'c' || lpad(CAST(user_id % 200 AS VARCHAR), 8, '0') AS conv_id,
         CAST(event_id % 32 AS INTEGER) AS turn_idx,
         CASE CAST(event_id % 32 AS INTEGER) % 4
              WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'tool' ELSE 'system' END AS role,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE event_type || ':' || coalesce(props, '') END AS text,
         CASE WHEN event_type = 'click' THEN 'browser'
              WHEN event_type = 'view' THEN 'search'
              ELSE NULL END AS tool,
         ts,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN event_type = 'purchase' THEN 'U'
              ELSE 'I' END AS op,
         CAST(event_id AS BIGINT) AS lsn,
         CAST((event_id * {N_EPOCHS}) // ((SELECT max(event_id) FROM events) + 1) AS INTEGER) AS epoch
  FROM events
)
"""

# winners under the engine-wide LWW total order (W1)
WINNERS_CTE = """
winners AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                 coalesce(tool, '') DESC, coalesce(role, '') DESC
    ) AS rn
    FROM changes
  ) WHERE rn = 1
)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_changes_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/P1/F-family: scan + projection into the typed change envelope."""
    return changes_from_events(spark, sf_dir)


def q_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: one winner per key under the deterministic total order."""
    return lww_dedup(changes_from_events(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn"
    )


def q_final_state_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replay result expressed declaratively (winners minus tombstones) —
    the Catalyst-native strategy of the merge."""
    return (
        lww_dedup(changes_from_events(spark, sf_dir))
        .filter(F.col("op") != "D")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def q_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: full engine replay — epoch-sliced ingest through the bucketed
    lake table (single-shuffle LWW merge, MoR delta appends, atomic snapshot
    commits, lineage), then read back. Must equal q_final_state_sql's
    pure-SQL fold.

    The derived WAL is staged to scratch storage ONCE per sf_dir (one scan of
    events, partitioned by epoch) and shared by every replay variant; each
    epoch is read back from its own directory — the shape a real WAL tail
    has."""
    return _replayed_table(spark, sf_dir).read(spark)


_REPLAY_LAKE_CACHE: dict[str, str] = {}  # sf_dir -> lake dir


def _replayed_table(spark: SparkSession, sf_dir: str) -> LakeTable:
    """The flagship replay's committed lake table, built once per sf_dir
    (read-only consumers like the point-lookup query reuse the commit)."""
    lake = _REPLAY_LAKE_CACHE.get(sf_dir)
    if lake and os.path.isdir(lake):
        return LakeTable.load(lake)
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    lake = os.path.join(_mk_scratch("cdc_replay_"), "lake")
    table = LakeTable.create(
        lake, TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    _REPLAY_LAKE_CACHE[sf_dir] = lake
    return table


LOOKUP_CONVS = ("c00000003", "c00000097", "c00000142")


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point lookup (mget) against the replayed lake table:
    the key set hashes to a subset of buckets, ONLY those buckets' files are
    scanned, and the result is the final state of exactly those keys — the
    read-side payoff of hash-bucketed clustering (at 2^14 buckets a point
    read touches 1/16384 of the table's files)."""
    table = _replayed_table(spark, sf_dir)
    keys = spark.createDataFrame(
        [(c, t) for c in LOOKUP_CONVS for t in range(32)],
        "conv_id string, turn_idx int",
    )
    return table.read_keys(spark, keys)


def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style CHANGE DATA FEED read: the net per-key change committed
    between two snapshots of the replayed lake table (here: the state after
    epoch 1 → the current head, i.e. epochs 2-3), scanning ONLY the delta
    files those commits appended — O(changed data) IO, never O(table).

    This is the lake-side half of CDC: the ingest tails an upstream WAL in;
    ``read_changes`` lets DOWNSTREAM consumers (derived tables, indexes,
    caches) tail this table out incrementally. The feed's union of per-epoch
    LWW winners is folded with the same LWW total order, which by
    associativity of the max equals the LWW fold over all raw window events
    — exactly what the SQL oracle computes from the source stream. Includes
    'D' tombstones: a downstream consumer must see deletes."""
    table = _replayed_table(spark, sf_dir)
    from_sid = max(
        s["snapshot_id"] for s in table.snapshots() if s.get("epoch") == 1
    )
    feed = table.read_changes(spark, from_sid)
    net = lww_winners_agg(
        feed, ["conv_id", "turn_idx"], lsn_col=LSN_META_COL, op_col=OP_META_COL
    )
    return net.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col(OP_META_COL).alias("op"), F.col(LSN_META_COL).alias("lsn"),
    )


def q_changes_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPED change feed with pre/post images (Delta readChangeFeed shape):
    insert / update_preimage / update_postimage / delete rows for the net
    window state-after-epoch-1 → head of the replayed lake table.

    The plain feed (q_table_changes) emits only new images — enough to
    replicate, not to RETRACT; the typed feed adds the old image of every
    updated/deleted key, read via a bucket-pruned TIME-TRAVEL lookup at the
    window-start snapshot (touched keys stay on the executors; only bucket
    ids reach the driver). Post = LWW(pre ∪ window winners): a late,
    lower-LSN replay that loses to pre-window state emits nothing. This is
    what makes every SUM/COUNT aggregate delta-maintainable downstream
    (q_ivm_agg)."""
    table = _replayed_table(spark, sf_dir)
    from_sid = max(
        s["snapshot_id"] for s in table.snapshots() if s.get("epoch") == 1
    )
    return table.read_changes_typed(spark, from_sid)


def q_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE: a materialized GROUP BY view
    (per-conversation turn count + total chars) over the replayed table,
    maintained purely from typed change windows — the base state is never
    re-scanned and the view is never rebuilt.

    Per epoch: typed window (O(changed data)) → insert/retract deltas per
    affected group (one hash agg) → bucket-pruned lookup of ONLY those
    groups' current values → O(affected groups) merge. Groups emptied by
    deletes are tombstoned out. The final view must equal the full GROUP BY
    recompute over the base's final state — the SQL oracle — while having
    cost O(Σ changed data), the property that makes a fleet of always-fresh
    aggregates affordable at 10^10 rows (the reference's consumers
    re-aggregate Postgres on every query)."""
    from cnpj_data_pipeline_spark.plans.ivm import AggSyncJob

    base = _replayed_table(spark, sf_dir)
    job = AggSyncJob(
        base.root,
        os.path.join(_mk_scratch("cdc_ivm_"), "view"),
        ["conv_id"],
        {"total_chars": "coalesce(length(text), 0)"},
        cfg=EngineConfig(n_buckets=16, salt_factor=2),
    )
    job.run_once(spark)
    return job.read(spark).select(
        "conv_id",
        F.col("n_rows").alias("n_turns"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


def q_rollup_timebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERTABLE ROLLUP (continuous aggregate): a time-bucketed materialized
    view — per (UTC day of ts, role) turn count and char mass — maintained
    incrementally from the typed change feed, never rebuilt (TimescaleDB's
    continuous aggregate / Druid's rollup, as an AggSyncJob with a DERIVED
    group column). The day bucket is computed by the same expression on pre-
    AND post-images, so an update that moves a turn across buckets retracts
    from the old day and adds to the new one, and deletes retract from the
    bucket the row actually occupied. Epoch-day arithmetic
    (floor(epoch-seconds / 86400)) is session-timezone-independent in both
    engines — no local-date conversion. Cost per epoch: O(changed data),
    like every consumer in plans/ivm.py; the oracle is the full GROUP BY
    recompute over the replayed final state."""
    from cnpj_data_pipeline_spark.plans.ivm import AggSyncJob

    base = _replayed_table(spark, sf_dir)
    job = AggSyncJob(
        base.root,
        os.path.join(_mk_scratch("cdc_rollup_"), "view"),
        ["day_bucket", "role"],
        {"total_chars": "coalesce(length(text), 0)"},
        cfg=EngineConfig(n_buckets=16, salt_factor=2),
        group_exprs={
            "day_bucket": "CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)"
        },
    )
    job.run_once(spark)
    return job.read(spark).select(
        "day_bucket",
        "role",
        F.col("n_rows").alias("n_turns"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


def q_mview_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED VIEW SQL surface: the same continuous-aggregate rollup
    as q_rollup_timebucket, declared and maintained purely via SQL text —
    CREATE MATERIALIZED VIEW (after the first epoch lands; the definition
    persists as a sidecar spec and the initial sync runs at CREATE), then
    the remaining epochs land and REFRESH MATERIALIZED VIEW catches up
    incrementally. The statement is a FRONT-END over plans/ivm.AggSyncJob
    (same ledger, same O(changed data) cost); read_mview maps the physical
    liveness counter back to the declared count(*) alias."""
    from cnpj_data_pipeline_spark.lake.ddl import execute_ddl, read_mview

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    root = _mk_scratch("cdc_mview_")
    lake = os.path.join(root, "lake")
    view = os.path.join(root, "view")
    table = LakeTable.create(
        lake, TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    batch0 = spark.read.parquet(os.path.join(wal, "epoch=0"))
    apply_changes(spark, table, batch0, epoch=0, cfg=cfg)
    tables: dict = {"transcripts": table}
    execute_ddl(
        spark,
        f"""
        CREATE MATERIALIZED VIEW daily_by_role LOCATION '{view}' AS
        SELECT CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)
                   AS day_bucket,
               role,
               count(*) AS n_turns,
               sum(coalesce(length(text), 0)) AS total_chars
        FROM transcripts GROUP BY day_bucket, role
        """,
        tables,
    )
    for e in range(1, N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    execute_ddl(spark, "REFRESH MATERIALIZED VIEW daily_by_role", tables)
    return read_mview(spark, view).withColumn(
        "total_chars", F.col("total_chars").cast("long")
    )


def q_derived_table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC CONSUMER: a derived lake table (per-turn text stats)
    maintained incrementally by tailing the base table's change feed —
    change-capture in, change-feed out, derived state exactly-once.

    For each apply snapshot of the replayed base table, ``read_changes``
    yields just that epoch's delta (O(changed data)); the rows are
    transformed (text → n_chars/n_tokens) and applied into a SECOND lake
    table through the same idempotent LWW merge, keyed like the base and
    carrying the base's op/lsn so deletes propagate and replays stay
    exactly-once. The final derived state must equal the transform of the
    base's final state: lsn is globally unique in this stream, so the LWW
    order is decided before any tie-break that the transform could perturb,
    and transform∘fold == fold∘transform.

    At 10^10 events this is the shape that matters: the derived table is
    never rebuilt — each sync reads one epoch's delta files and pays one
    O(batch) merge, the same cost profile as the ingest itself."""
    from cnpj_data_pipeline_spark.plans.sync import FeedSyncJob, text_stats_transform

    base = _replayed_table(spark, sf_dir)
    job = FeedSyncJob(
        base.root,
        os.path.join(_mk_scratch("cdc_derived_"), "lake"),
        transform=text_stats_transform,
        cfg=EngineConfig(n_buckets=16, salt_factor=2),
    )
    job.run_once(spark)
    return LakeTable.load(job.derived_root).read(spark)


def q_conv_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript EXPORT: assemble each conversation's live turns, in turn
    order, into one rendered training document ("role: text" lines) plus
    turn/char counts — the shape a training-data pipeline emits from the
    transcript lake.

    Scale shape: one hash aggregation keyed by conv_id; the per-group sort is
    `array_sort(collect_list(struct(turn_idx, ...)))` — task-local over one
    conversation's <=32 turns, never a global or per-partition data sort. A
    conversation is the natural export atom, so group size is bounded by
    protocol, not by corpus size."""
    live = _replayed_table(spark, sf_dir).read(spark)
    turns = F.array_sort(F.collect_list(F.struct("turn_idx", "role", "text")))
    return live.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.array_join(
            F.transform(turns, lambda x: F.concat_ws(": ", x.role, x.text)), "\n"
        ).alias("rendered"),
    )


def q_cdc_replay_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay + the maintenance ops: aggressive auto-compaction while
    ingesting (generation threshold 2), then a tombstone vacuum at the final
    watermark. Readers must see exactly the same state as q_cdc_replay /
    the SQL fold — compaction and vacuum are invisible to semantics."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2, compact_threshold=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_c_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    horizon = max(
        (v for v in table.watermarks().values() if v is not None), default=0
    )
    table.vacuum_tombstones(spark, lsn_horizon=horizon + 1)
    return table.read(spark)


def q_cdc_replay_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay + DECLARED SORT ORDER: after ingest the table declares
    ``sort_order=["ts"]`` (the Iceberg sortOrder analogue) and compacts via
    the map-only kernel, re-clustering every bucket by event time for
    range-scan row-group pruning. A physical-layout property only — the
    read must equal q_cdc_replay / the SQL fold exactly."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2, compact_threshold=None)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_s_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    table.set_sort_order(["ts"])
    table.compact(spark)
    return table.read(spark)


def q_cdc_replay_widened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay with a MID-STREAM TYPE WIDENING: the change stream carries a
    numeric ``score`` payload column that arrives as INT for epochs < 2 and
    as LONG with values past the int32 range from epoch 2 on (the upstream
    ALTER COLUMN case). The table's declared type must widen in place —
    never downcast-wrap the batch — and pre-widening generations must read
    back exactly. Key columns are unaffected (their types are frozen)."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2, compact_threshold=None)
    schema = T_SCHEMA_WITH_SCORE
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_w_"), "lake"),
        schema, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        score = (F.col("lsn") % 1000).cast("int")
        if e >= 2:
            # widened column: values the narrow type cannot hold
            score = (F.col("lsn") % 1000 + F.lit(5_000_000_000)).cast("long")
        batch = batch.withColumn(
            "score", F.when(F.col("op") != "D", score)
        )
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    table.compact(spark)  # mixed int32/int64 generations fold in Arrow
    return table.read(spark)


def q_cdc_replay_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay with a MID-STREAM DROP COLUMN: after epoch 1 the ``tool``
    column is dropped (upstream ALTER TABLE DROP); epochs 2-3 still carry
    it (the stale-producer case) and must apply with the column ignored.
    Final state equals the plain LWW fold minus the dropped column — row
    winners are unaffected, the column just stops existing."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2, compact_threshold=None)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_d_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        if e == 2:
            table.drop_column("tool")
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    table.compact(spark)  # folds with/without-column generations
    return table.read(spark)


def q_cdc_replay_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay driven PURELY through the SQL DML surface (lake/dml.py):
    each epoch batch is registered as a temp view and applied with one
    MERGE INTO statement (the CDC idiom — WHEN MATCHED AND s.op='D' THEN
    DELETE / UPDATE SET * / INSERT *), compiling to the same gated
    apply_changes as the Python API; then two DRIVER statements run over
    the replayed table — an ``UPDATE ... WHERE`` (ad-hoc repair) and a
    ``DELETE FROM ... WHERE`` (GDPR-style erasure), each an O(matched)
    delta epoch at one-past-high-water LSN, never a rewrite. Final state
    must equal the plain LWW fold with the same UPDATE/DELETE applied
    relationally — the reference's consumers write SQL, not Python
    (src/database/postgres.py:269-531 is text SQL)."""
    from cnpj_data_pipeline_spark.lake.dml import merge_into

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_q_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        spark.read.parquet(
            os.path.join(wal, f"epoch={e}")
        ).createOrReplaceTempView("__sql_epoch_batch")
        merge_into(
            spark,
            """
            MERGE INTO transcripts AS t
            USING __sql_epoch_batch AS s
            ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
            {"transcripts": table},
            epoch=e,
            cfg=cfg,
        )
    merge_into(
        spark,
        "UPDATE transcripts SET tool = 'sql-redacted' WHERE role = 'tool'",
        {"transcripts": table}, epoch=N_EPOCHS, cfg=cfg,
    )
    merge_into(
        spark,
        "DELETE FROM transcripts WHERE turn_idx % 7 = 3",
        {"transcripts": table}, epoch=N_EPOCHS + 1, cfg=cfg,
    )
    return table.read(spark)


def q_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-snapshot synchronization via MERGE's ``WHEN NOT MATCHED BY
    SOURCE THEN DELETE`` clause (lake/dml.py — Delta's full-sync idiom):
    replay the WAL, then hand the table one COMPLETE deterministic
    snapshot (the live winners with ``turn_idx % 3 = 0``, text prefixed,
    at a fresh LSN) — matched keys upsert, new keys insert, and every key
    the snapshot no longer carries is tombstoned, so the table's key set
    converges to the snapshot's. The one MERGE form that reads target
    state: a column-pruned KEY scan anti-joined against the source's key
    set, O(table keys) by the semantic itself. Final state must equal the
    snapshot's own fold; a re-run of the sync is a fixpoint."""
    from cnpj_data_pipeline_spark.lake.dml import merge_into

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("merge_sync_q_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    snap = (
        table.read(spark)
        .filter(F.col("turn_idx") % 3 == 0)
        .withColumn("text", F.concat(F.lit("sync:"), F.col("text")))
        .withColumn("lsn", F.lit(10 ** 12).cast("long"))
    )
    snap.createOrReplaceTempView("__sync_snapshot")
    merge_into(
        spark,
        """
        MERGE INTO transcripts AS t
        USING __sync_snapshot AS s
        ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """,
        {"transcripts": table}, epoch=N_EPOCHS, cfg=cfg,
    )
    return table.read(spark)


def q_cdc_replay_renamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay with a MID-STREAM RENAME COLUMN (upstream ALTER TABLE RENAME
    — the reference's schema system is rename-driven,
    src/processor.py:507-519): after epoch 1 ``tool`` is renamed to
    ``tool_name``; epoch 2's producer sends the NEW name, epoch 3's is a
    stale producer still sending the OLD name — both land in the same
    physical column via the name-mapping layer (metadata-only, no file
    rewrite). Pre-rename files read back under the new name, so the final
    state equals the plain LWW fold with the column aliased."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2, compact_threshold=None)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_r_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        if e == 2:
            table.rename_column("tool", "tool_name")
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        if e == 2:  # post-rename producer speaks the new logical name
            batch = batch.withColumnRenamed("tool", "tool_name")
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    table.compact(spark)  # folds pre- and post-rename generations
    return table.read(spark)


def q_cdc_replay_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay driven by a deployment speaking ONLY SQL, end to end
    (lake/ddl.py + lake/dml.py): the table is declared with a CREATE TABLE
    statement (PRIMARY KEY + CLUSTERED BY ... INTO n BUCKETS — the
    reference's schema system IS DDL text, init-db/postgres.sql), each
    epoch lands via MERGE INTO, a mid-stream ``ALTER TABLE RENAME COLUMN``
    retargets ``tool`` -> ``tool_name`` (epoch 2's producer speaks the new
    name, epoch 3's is a stale producer on the old one — both map), an
    ``ALTER TABLE WRITE ORDERED BY (ts)`` declares the sort order, and the
    closing upkeep runs through the maintenance STATEMENTS — ``OPTIMIZE``
    folds all generations under the declared order, ``CREATE TAG`` pins
    the result, ``VACUUM ... RETAIN 1 SNAPSHOTS`` expires the replay's
    history (the tagged head survives). Every statement compiles to the
    same metadata commit / gated apply / maintenance op the Python API
    issues, so the final state equals the plain LWW fold with the column
    aliased — layout, surface, and upkeep are invisible to semantics."""
    from cnpj_data_pipeline_spark.lake.ddl import execute_ddl
    from cnpj_data_pipeline_spark.lake.dml import merge_into

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2, compact_threshold=None)
    root = os.path.join(_mk_scratch("cdc_replay_ddl_"), "lake")
    tables: dict = {}
    execute_ddl(
        spark,
        f"""
        CREATE TABLE transcripts (
            conv_id STRING,
            turn_idx INT,
            role STRING,
            text STRING,
            tool STRING,
            ts TIMESTAMP,
            PRIMARY KEY (conv_id, turn_idx)
        )
        USING lake
        CLUSTERED BY (conv_id, turn_idx) INTO 16 BUCKETS
        LOCATION '{root}'
        """,
        tables,
    )
    for e in range(N_EPOCHS):
        if e == 2:
            execute_ddl(
                spark,
                "ALTER TABLE transcripts RENAME COLUMN tool TO tool_name",
                tables,
            )
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        if e == 2:  # post-rename producer speaks the new logical name
            batch = batch.withColumnRenamed("tool", "tool_name")
        batch.createOrReplaceTempView("__ddl_epoch_batch")
        merge_into(
            spark,
            """
            MERGE INTO transcripts AS t
            USING __ddl_epoch_batch AS s
            ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
            tables,
            epoch=e,
            cfg=cfg,
        )
    execute_ddl(
        spark, "ALTER TABLE transcripts WRITE ORDERED BY (ts)", tables
    )
    execute_ddl(spark, "OPTIMIZE transcripts", tables)
    execute_ddl(
        spark, "ALTER TABLE transcripts CREATE TAG 'replayed'", tables
    )
    execute_ddl(spark, "VACUUM transcripts RETAIN 1 SNAPSHOTS", tables)
    return tables["transcripts"].read(spark)


def q_turn_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSCRIPT STRUCTURE VALIDATION — the data-quality gate a training
    pipeline runs on conversation data before rendering: per conversation
    (over the replayed lake table's live state), count role-alternation
    violations (same role twice in a row by turn order), orphan tool turns
    (a 'tool' turn not directly preceded by an 'assistant' turn), and empty
    turns. Downstream filters drop or repair flagged conversations.

    Plan shape: the window partitions by conv_id (bounded — conversations
    are short by construction), so unlike a global window this parallelizes
    across all conversations; one shuffle on conv_id, no global sort."""
    live = _replayed_table(spark, sf_dir).read(spark)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev_role = F.lag("role").over(w)
    per_turn = live.select(
        "conv_id",
        "turn_idx",
        "role",
        prev_role.alias("prev_role"),
        (F.col("text").isNull() | (F.col("text") == "")).alias("is_empty"),
    )
    return (
        per_turn.groupBy("conv_id")
        .agg(
            F.count("*").cast("int").alias("n_turns"),
            F.sum(
                F.when(F.col("role") == F.col("prev_role"), 1).otherwise(0)
            ).cast("int").alias("role_repeats"),
            F.sum(
                F.when(
                    (F.col("role") == "tool")
                    & (
                        F.col("prev_role").isNull()
                        | (F.col("prev_role") != "assistant")
                    ),
                    1,
                ).otherwise(0)
            ).cast("int").alias("orphan_tool_turns"),
            F.sum(F.when(F.col("is_empty"), 1).otherwise(0)).cast("int").alias(
                "empty_turns"
            ),
        )
        .withColumn(
            "is_clean",
            (F.col("role_repeats") == 0)
            & (F.col("orphan_tool_turns") == 0)
            & (F.col("empty_turns") == 0),
        )
        .orderBy("conv_id")
    )


def q_cdc_replay_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay through the CO-PARTITIONED fast path (operators/copart.py):
    the WAL is re-laid out KEY-PARTITIONED (bucket-aligned with the table —
    the Kafka-keyed-topic deployment shape, produced via
    write_epoch_bucketed), and the ingest auto-detects the alignment and
    applies every epoch as a MAP-ONLY Arrow job: no exchange anywhere, one
    task per bucket reading/folding/writing its own delta file. The final
    state must equal the exact same SQL fold as every other replay variant —
    the shuffle is an implementation detail, never semantics."""
    from cnpj_data_pipeline_spark.plans.pipeline import IngestJob
    from cnpj_data_pipeline_spark.sources.change_stream import (
        write_epoch_bucketed,
    )

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    root = _mk_scratch("cdc_replay_cp_")
    bwal = os.path.join(root, "wal")
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        write_epoch_bucketed(
            batch.drop("epoch"), bwal, e, ["conv_id", "turn_idx"], cfg.n_buckets
        )
    job = IngestJob(os.path.join(root, "lake"), cfg)
    metrics = job.run_stream(spark, bwal)
    assert all(m.get("copartitioned") for m in metrics), metrics
    return LakeTable.load(os.path.join(root, "lake")).read(spark)


def q_cdc_replay_debezium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay from a DEBEZIUM-ENVELOPE JSON WAL (sources/debezium.py): the
    same derived change stream re-encoded as standard Debezium
    before/after/op/source.lsn envelopes (timestamps as MicroTimestamp epoch
    micros, deletes keyed from the pre-image), parsed back with an explicit
    nested schema and applied through the identical exactly-once merge. The
    wire format is an encoding detail — the final state must equal the same
    SQL fold as every other replay variant."""
    from cnpj_data_pipeline_spark.sources.debezium import (
        changes_to_debezium_json,
        read_debezium_epoch,
    )

    wal = _staged_wal(spark, sf_dir)
    root = _mk_scratch("cdc_replay_dbz_")
    jwal = os.path.join(root, "wal")
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(root, "lake"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], cfg.n_buckets,
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        changes_to_debezium_json(batch.drop("epoch")).coalesce(4).write.mode(
            "overwrite"
        ).text(os.path.join(jwal, f"epoch={e}"))
        dbz = read_debezium_epoch(spark, jwal, e, TRANSCRIPT_SCHEMA)
        apply_changes(spark, table, dbz, epoch=e, cfg=cfg)
    return table.read(spark)


def q_cdc_replay_outbound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTBOUND CDC roundtrip: replay the WAL into a source table, export
    its net change window as Debezium envelopes
    (sources/debezium.py:export_changes_debezium — updates carry both
    images, deletes the pre-image with the tombstone's LSN), land the
    export on a SECOND, independently-bucketed mirror table through the
    normal Debezium source path, and read the MIRROR. The lake acting as a
    CDC *producer* must hand a downstream consumer enough to reproduce its
    state exactly, so the mirror equals the same final-state SQL fold as
    the source. Export cost is O(changed keys) — typed-feed aggregate +
    one pivot aggregate + the tombstone-LSN join — never O(table)."""
    from cnpj_data_pipeline_spark.sources.debezium import (
        export_changes_debezium,
        read_debezium_epoch,
    )

    wal = _staged_wal(spark, sf_dir)
    root = _mk_scratch("cdc_replay_out_")
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    src = LakeTable.create(
        os.path.join(root, "src"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], cfg.n_buckets,
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, src, batch, epoch=e, cfg=cfg)
    feed = os.path.join(root, "feed")
    export_changes_debezium(spark, src, from_snapshot=0).coalesce(
        4
    ).write.mode("overwrite").text(os.path.join(feed, "epoch=0"))
    mirror = LakeTable.create(
        os.path.join(root, "mirror"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], 8,  # different layout on purpose
    )
    out_batch = read_debezium_epoch(spark, feed, 0, TRANSCRIPT_SCHEMA)
    apply_changes(
        spark, mirror, out_batch, epoch=0,
        cfg=EngineConfig(n_buckets=8, salt_factor=1),
    )
    return mirror.read(spark)


def q_cdc_replay_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay: the same derived WAL drained through
    readStream + foreachBatch (availableNow) into the same merge path.
    Micro-batch boundaries are whatever the file source picks — the LWW
    total order makes the final state batching-invariant, so the identical
    SQL fold is still the oracle."""
    from cnpj_data_pipeline_spark.schemas import CHANGE_SCHEMA
    from cnpj_data_pipeline_spark.streaming.stream_job import stream_ingest

    wal = _staged_flat_wal(spark, sf_dir)
    root = _mk_scratch("cdc_replay_s_")
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(root, "lake"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    q = stream_ingest(
        spark,
        wal,
        table,
        os.path.join(root, "ckpt"),
        schema=CHANGE_SCHEMA,
        cfg=cfg,
        max_files_per_trigger=3,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "streaming replay did not drain within 600s — refusing to return "
            "partial table state"
        )
    return table.read(spark)


def q_cdc_replay_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution under replay: epochs 0-1 arrive WITHOUT the
    ``tool_meta`` column, epochs 2-3 with it — the sink's schema genuinely
    grows mid-stream; winners from old epochs read back as NULL.

    The evolved column is derived per batch from the SHARED staged WAL
    (epochs >= 2 carry tool_meta = tool#lsn) — no separate WAL staging."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_e_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        if e >= 2:
            batch = batch.withColumn(
                "tool_meta",
                F.when(
                    F.col("tool").isNotNull(),
                    F.concat(F.col("tool"), F.lit("#"), F.col("lsn").cast("string")),
                ),
            )
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    return table.read(spark)


# the constrained replay's declarative ingest expectation: a 'tool' turn
# must name its tool — violating change events are filtered out (DLQ'd)
# BEFORE the merge, so the key's previous valid version stays live
CONSTRAINT_EXPR = "role <> 'tool' OR tool IS NOT NULL"


def q_constrained_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHECK constraints under replay (lake/constraints.py — the
    reference's Postgres column constraints, init-db/postgres.sql, as
    declarative ingest expectations): the table declares
    ``CHECK (role <> 'tool' OR tool IS NOT NULL) ON VIOLATION DLQ``, the
    full WAL replays through the engine, violating events land in
    ``_dlq/constraints`` with the constraint named, and the final state is
    the LWW fold of only the ADMITTED events — SQL CHECK semantics (NULL
    passes, deletes exempt), one map-only verdict pass per epoch."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_cons_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    table.add_constraint(
        spark, "tool_named", CONSTRAINT_EXPR, on_violation="dlq"
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    return table.read(spark)


def q_fk_enforced_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN KEY constraints under replay (add_fk_constraint — the
    reference's init-db/postgres.sql REFERENCES contract enforced per
    change batch): a conversations parent table registers every conv of
    the derived stream EXCEPT those whose number ends in 7 (a rule that
    bites at every sf), the transcript table declares ``FOREIGN KEY
    (conv_id) REFERENCES convs ON VIOLATION DROP``, and the full WAL
    replays — every event of an unregistered conversation is dropped
    pre-merge by the bucket-pruned O(batch) parent anti-join, so the
    final state is the LWW fold of only the referencing events."""
    from pyspark.sql import types as _T

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    scratch = _mk_scratch("cdc_fk_")
    psch = _T.StructType(
        [
            _T.StructField("conv_id", _T.StringType(), False),
            _T.StructField("title", _T.StringType(), True),
        ]
    )
    parent = LakeTable.create(
        os.path.join(scratch, "convs"), psch, ["conv_id"], 8
    )
    apply_changes(
        spark,
        parent,
        spark.createDataFrame(
            [
                (f"c{i:08d}", f"conv {i}", "I", i, 0)
                for i in range(200)
                if i % 10 != 7
            ],
            "conv_id string, title string, op string, lsn long, epoch int",
        ),
        epoch=0,
        cfg=EngineConfig(n_buckets=8),
    )
    table = LakeTable.create(
        os.path.join(scratch, "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    table.add_fk_constraint(
        spark, "fk_conv", ["conv_id"], parent, on_violation="drop",
        ref_name="convs",
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    return table.read(spark)


# the generated column the replay declares: the session-tz-independent
# day bucket (the same epoch-day arithmetic q_rollup_timebucket uses),
# derived ONCE at ingest instead of in every downstream consumer
GENERATED_DAY_EXPR = "CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)"


def q_cdc_replay_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED columns under replay (lake/generated.py — the Iceberg
    hidden-partitioning / Delta generated-column idea): the table declares
    ``day_bucket BIGINT GENERATED ALWAYS AS (<epoch-day of ts>)`` plus a
    sort order on it, the full WAL replays WITHOUT the column (each epoch
    computes it as one fused Catalyst projection — no extra pass), and the
    final state carries the derived value for every surviving version —
    the oracle recomputes it from the winners in SQL."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_gen_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets
    )
    table.add_generated_column(
        spark, "day_bucket", T.LongType(), GENERATED_DAY_EXPR
    )
    # the hidden-partitioning payoff: compaction clusters by the derived
    # bucket, so day-range scans prune row groups (physical-layout only)
    table.set_sort_order(["day_bucket"])
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    return table.read(spark)


def q_stateful_conv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-conversation counters/watermarks maintained in the streaming state
    store across micro-batches, drained availableNow. State is additive and
    batching-invariant, so the final emission per conversation must equal
    the batch aggregate over the whole WAL — the SQL oracle."""
    from cnpj_data_pipeline_spark.schemas import CHANGE_SCHEMA
    from cnpj_data_pipeline_spark.streaming.stateful import (
        final_conv_state,
        stream_conv_state,
    )

    wal = _staged_flat_wal(spark, sf_dir)
    root = _mk_scratch("cdc_state_")
    q = stream_conv_state(
        spark,
        wal,
        os.path.join(root, "out"),
        os.path.join(root, "ckpt"),
        CHANGE_SCHEMA,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("stateful stream did not drain within 600s")
    return final_conv_state(spark, os.path.join(root, "out"))


def q_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys whose final event is a delete — the retained-tombstone set."""
    return (
        lww_dedup(changes_from_events(spark, sf_dir))
        .filter(F.col("op") == "D")
        .select("conv_id", "turn_idx", "lsn")
    )


def q_epoch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4: per change-batch counters (the reference's progress stats,
    main.py:134-207, as one distributed agg)."""
    return (
        changes_from_events(spark, sf_dir)
        .groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("conv_id", "turn_idx").alias("n_keys"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
        )
    )


def q_partition_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition offset checkpoint shape (lsn watermark per partition) —
    the lineage row the engine commits with every snapshot."""
    ch = changes_from_events(spark, sf_dir)
    return (
        ch.withColumn("partition_id", (F.col("lsn") % 16).cast("int"))
        .groupBy("partition_id")
        .agg(F.max("lsn").alias("max_lsn"), F.count(F.lit(1)).alias("n_events"))
    )


def q_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: keys first appearing in the second half of the WAL (anti-join
    against the first half = ON CONFLICT DO NOTHING candidates)."""
    ch = changes_from_events(spark, sf_dir)
    # lsn == event_id, so the split point comes from the cached footer max —
    # no extra eager scan of the source (the round-1 scalar collect).
    half = _events_max_id(sf_dir) // 2
    early = ch.filter(F.col("lsn") < half).select("conv_id", "turn_idx").distinct()
    late = ch.filter(F.col("lsn") >= half).select("conv_id", "turn_idx").distinct()
    return late.join(early, ["conv_id", "turn_idx"], "left_anti")


WAP_BAD_EPOCH = 2


def q_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH replay: every epoch runs the full merge pipeline
    into an INVISIBLE staged commit, is audited (one aggregate job: row
    count, text null-rate, key null check), and only then published — a
    rebasing append commit. Epoch 2's batch is corrupted in flight (text
    NULLed, the classic upstream renamed-field extraction bug); the
    null-rate gate quarantines it before any reader could see it, so the
    final state is the SQL LWW fold WITHOUT epoch 2's events. The reference
    repairs bad batches after the fact; WAP prevents the bad publish."""
    from cnpj_data_pipeline_spark.plans.wap import (
        WapIngestJob,
        keys_not_null,
        max_null_rate,
        min_rows,
    )

    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    lake = os.path.join(_mk_scratch("cdc_wap_"), "lake")
    LakeTable.create(lake, TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets)
    job = WapIngestJob(
        lake,
        [
            min_rows(1),
            max_null_rate("text", 0.9),
            keys_not_null(["conv_id", "turn_idx"]),
        ],
        cfg=cfg,
    )
    for e in range(N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        if e == WAP_BAD_EPOCH:
            batch = batch.withColumn("text", F.lit(None).cast("string"))
        m = job.apply(spark, batch, epoch=e)
        assert m["published"] == (e != WAP_BAD_EPOCH), m
    return LakeTable.load(lake).read(spark)


def q_cdc_replay_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay across a LIVE bucket-layout evolution: epochs 0-1 ingest into
    an 8-bucket layout, the table is then grown 8->32, an integer multiple,
    which ``LakeTable.rebucket`` takes as the MAP-ONLY linear-hash split
    (because the bucket function is ``pmod(xxhash64(keys), n)``, a row in
    old bucket b can only land in the k child buckets {b, b+8, b+16, b+24},
    so the rewrite is a zero-exchange per-task split, never a table shuffle), and
    epochs 2-3 ingest into the widened layout. ``applied_epochs`` lineage
    carries over, so exactly-once holds across the layout change and the
    final state must equal the same SQL fold as every other replay variant
    — bucket count is physical layout, never semantics.

    At 100 TB this is THE growth path: a table sized for early traffic is
    re-laid-out to the mature bucket count at scan+write bandwidth (the
    map-only split) instead of paying the cluster's worst full-table
    shuffle, and ingest never stops."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=8, salt_factor=2)
    table = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_rb_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], 8,
    )
    for e in range(2):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    table.rebucket(spark, 32)
    assert table.snapshot()["n_buckets"] == 32
    for e in range(2, N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    return table.read(spark)


def q_cdc_replay_cloned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay across a ZERO-COPY TABLE FORK (``LakeTable.clone`` — Delta's
    shallow clone / an Iceberg snapshot-ref fork, a capability the
    reference's Postgres state table cannot express without dump/restore):
    epochs 0-1 ingest into a source table, the table is forked O(metadata)
    — the clone's first snapshot references the source's files as foreign
    absolute entries, zero bytes copied, applied-epoch ledger carried so
    exactly-once continues — then epoch 2 ingests into the CLONE (reads mix
    foreign + clone-local generations through the same LWW fold),
    ``localize()`` brings the foreign bytes home mid-stream (path-only
    rewrite: per-bucket merged/gens flags preserved verbatim, source pin
    released), and epoch 3 lands on the fully-owned fork. Final state must
    equal the same SQL fold as every replay variant — a fork is physical
    lineage, never semantics.

    At 100 TB this is the experiment/backfill-rehearsal path: forking the
    production table costs one manifest write, not a 100 TB copy."""
    wal = _staged_wal(spark, sf_dir)
    cfg = EngineConfig(n_buckets=16, salt_factor=2)
    src = LakeTable.create(
        os.path.join(_mk_scratch("cdc_replay_cl_src_"), "lake"),
        TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], cfg.n_buckets,
    )
    for e in range(2):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, src, batch, epoch=e, cfg=cfg)
    table = src.clone(os.path.join(_mk_scratch("cdc_replay_cl_"), "lake"))
    assert table.foreign_files()  # genuinely zero-copy at the fork point
    batch = spark.read.parquet(os.path.join(wal, "epoch=2"))
    apply_changes(spark, table, batch, epoch=2, cfg=cfg)
    table.localize()
    assert table.foreign_files() == []
    for e in range(3, N_EPOCHS):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_changes(spark, table, batch, epoch=e, cfg=cfg)
    return table.read(spark)


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT TIME TRAVEL: read the replayed lake table AS OF the commit
    that applied epoch 1 — the historical state mid-replay, long since
    superseded by epochs 2-3 (and by any auto-compaction since). Snapshot
    isolation makes this free: every manifest is immutable and names its
    exact file set, so the read plans against the old manifest and touches
    only files it references. The oracle is the LWW fold over ONLY epochs
    <= 1 of the same event stream — time travel must reproduce history
    exactly, not approximately."""
    table = _replayed_table(spark, sf_dir)
    sid = max(
        s["snapshot_id"] for s in table.snapshots() if s.get("epoch") == 1
    )
    return table.read(spark, snapshot_id=sid)


# partial-update masking: each payload column is kept on a disjoint digit of
# the LSN (integer arithmetic — bit-identical in Spark and DuckDB), so every
# event is a column PATCH and the final row is assembled from several events
_PARTIAL_MASK = (("role", 1), ("text", 10), ("tool", 100), ("ts", 1000))


def _partial_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = spark.read.parquet(_staged_wal(spark, sf_dir))
    for c, div in _PARTIAL_MASK:
        keep = F.expr(f"(lsn DIV {div}) % 10") < 6
        ch = ch.withColumn(
            c, F.when((F.col("op") != "D") & keep, F.col(c))
        )
    return ch


_PARTIAL_LAKE_CACHE: dict[str, str] = {}


def q_cdc_replay_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL-UPDATE merge engine replay (operators/partial.py — newest
    value wins PER COLUMN, associatively): the masked change stream patches
    each key's columns across many events; the engine ingests it epoch by
    epoch through a ``merge_engine="partial"`` lake table with the same
    single-shuffle MoR apply (the fold emits per-column origin LSNs, so
    within-batch folding stays correct for out-of-order streams), compacts
    mid-replay (the shuffle rewrite folds whole buckets), and reads back.
    Must equal the per-column ``arg_max``-above-delete-horizon SQL fold.

    Reference analogue: none — the reference's upsert replaces whole rows
    (src/database/postgres.py:216-264); partial-update is what its Postgres
    would express as per-column COALESCE in the conflict clause."""
    lake = _PARTIAL_LAKE_CACHE.get(sf_dir)
    if not (lake and os.path.isdir(lake)):
        ch = _partial_changes(spark, sf_dir)
        cfg = EngineConfig(
            n_buckets=16, salt_factor=2, merge_engine="partial"
        )
        lake = os.path.join(_mk_scratch("cdc_partial_"), "lake")
        table = LakeTable.create(
            lake, TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
            cfg.n_buckets, merge_engine="partial",
        )
        for e in range(N_EPOCHS):
            apply_changes(
                spark, table, ch.filter(F.col("epoch") == e), epoch=e,
                cfg=cfg,
            )
            if e == 1:  # mid-replay compaction: the partial shuffle fold
                table.compact(spark)
        _PARTIAL_LAKE_CACHE[sf_dir] = lake
    return LakeTable.load(lake).read(spark)


_AGG_LAKE_CACHE: dict[str, str] = {}


def q_agg_table_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATE merge engine (merge_engine="aggregate"): every event is a
    DELTA — +1 event, +len(text) chars, a candidate max turn, the latest
    role — and the table holds the running per-conversation aggregates.
    Replayed epoch-by-epoch through the engine with a mid-replay compaction
    (monoid folds re-fold exactly); must equal the plain GROUP BY over the
    whole stream. Paimon's aggregation merge engine, as a lake table
    property (operators/partial.py AGG_FNS)."""
    lake = _AGG_LAKE_CACHE.get(sf_dir)
    if not (lake and os.path.isdir(lake)):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("n_events", T.LongType(), True),
                T.StructField("chars", T.LongType(), True),
                T.StructField("max_turn", T.IntegerType(), True),
                T.StructField("last_role", T.StringType(), True),
            ]
        )
        spec = {
            "n_events": "sum", "chars": "sum", "max_turn": "max",
            "last_role": "last",
        }
        ch = spark.read.parquet(_staged_wal(spark, sf_dir)).select(
            F.col("conv_id"),
            F.lit(1).cast("long").alias("n_events"),
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("chars"),
            F.col("turn_idx").alias("max_turn"),
            F.col("role").alias("last_role"),
            F.lit("U").alias("op"),  # deltas, never tombstones
            F.col("lsn"),
            F.col("epoch"),
        )
        cfg = EngineConfig(
            n_buckets=16, salt_factor=2, merge_engine="aggregate",
            agg_spec=spec, key_cols=("conv_id",),
        )
        lake = os.path.join(_mk_scratch("cdc_agg_"), "lake")
        table = LakeTable.create(
            lake, schema, ["conv_id"], cfg.n_buckets,
            merge_engine="aggregate", agg_spec=spec,
        )
        for e in range(N_EPOCHS):
            apply_changes(
                spark, table, ch.filter(F.col("epoch") == e), epoch=e,
                cfg=cfg,
            )
            if e == 1:
                table.compact(spark)
        _AGG_LAKE_CACHE[sf_dir] = lake
    return LakeTable.load(lake).read(spark)


_AGG_COUNTERS_SQL = f"""
WITH {{changes}}
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS chars,
       max(turn_idx) AS max_turn,
       arg_max(role, lsn) FILTER (role IS NOT NULL) AS last_role
FROM changes GROUP BY conv_id
"""


_PARTIAL_FOLD_SQL = f"""
WITH {{changes}},
p AS (
  SELECT conv_id, turn_idx,
         CASE WHEN op <> 'D' AND (lsn // 1) % 10 < 6 THEN role END AS role,
         CASE WHEN op <> 'D' AND (lsn // 10) % 10 < 6 THEN text END AS text,
         CASE WHEN op <> 'D' AND (lsn // 100) % 10 < 6 THEN tool END AS tool,
         CASE WHEN op <> 'D' AND (lsn // 1000) % 10 < 6 THEN ts END AS ts,
         op, lsn
  FROM changes
),
dels AS (
  SELECT conv_id, turn_idx, max(lsn) AS dl FROM p WHERE op = 'D'
  GROUP BY conv_id, turn_idx
),
live AS (
  SELECT p.* FROM p LEFT JOIN dels d USING (conv_id, turn_idx)
  WHERE p.op <> 'D' AND p.lsn > coalesce(d.dl, -1)
)
SELECT conv_id, turn_idx,
       arg_max(role, lsn) FILTER (role IS NOT NULL) AS role,
       arg_max(text, lsn) FILTER (text IS NOT NULL) AS text,
       arg_max(tool, lsn) FILTER (tool IS NOT NULL) AS tool,
       arg_max(ts, lsn) FILTER (ts IS NOT NULL) AS ts
FROM live GROUP BY conv_id, turn_idx
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 history (plans/scd2.py): the flagship replay's table,
    versioned — every (key, apply-commit) transition the table went through
    becomes a [valid_from, valid_to) LSN interval row, maintained
    incrementally from the typed change feed with no read of the history
    table (pre-images carry both the open interval's valid_from and its
    payload). The oracle re-derives the version chain from scratch in SQL:
    per-epoch LWW winners, the running-LWW-max candidates (a candidate =
    the table state actually changing), duplicate-LSN candidates collapsed
    to the survivor the in-place upsert keeps, tombstone candidates closing
    but never emitting. The live slice (valid_to IS NULL) must equal the
    base table itself (asserted in tests/test_scd2.py)."""
    from cnpj_data_pipeline_spark.plans.scd2 import SCD2SyncJob

    base = _replayed_table(spark, sf_dir)
    job = SCD2SyncJob(
        base.root,
        os.path.join(_mk_scratch("cdc_scd2_"), "hist"),
        cfg=EngineConfig(n_buckets=16, salt_factor=2),
    )
    job.run_once(spark)
    return job.read(spark).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "valid_from", "valid_to",
    )


# the from-scratch SCD2 derivation: per-epoch winners -> running-LWW-max
# candidates (okey strictly above every earlier epoch's winner == the table
# state changed at that commit) -> same-LSN candidate groups collapse to the
# last non-tombstone (the engine's in-place upsert over the shared history
# key (key, valid_from)) -> valid_to = the next group's LSN, or the group's
# own LSN when its last candidate is a tombstone (a delete closes at the
# tombstone's LSN; a same-LSN delete leaves a zero-width interval)
# the chain over any `changes` relation (tests/test_scd2.py reuses it over
# generated streams); q_scd2_history's oracle prepends the derived-WAL CTE
SCD2_CHAIN_SQL = """
per_epoch AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx, epoch
        ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                 coalesce(tool, '') DESC, coalesce(role, '') DESC
    ) AS rn FROM changes
  ) WHERE rn = 1
),
keyed AS (
  SELECT *, row(lsn, ts, op, coalesce(text, ''), coalesce(tool, ''),
                coalesce(role, '')) AS okey
  FROM per_epoch
),
cand AS (
  SELECT * FROM (
    SELECT *, max(okey) OVER (
        PARTITION BY conv_id, turn_idx ORDER BY epoch
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM keyed
  ) WHERE prev_max IS NULL OR okey > prev_max
),
grp AS (
  SELECT conv_id, turn_idx, lsn,
         arg_max(op, epoch) AS last_op,
         max(epoch) FILTER (WHERE op <> 'D') AS live_epoch
  FROM cand GROUP BY 1, 2, 3
),
chain AS (
  SELECT *, lead(lsn) OVER (
      PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_lsn
  FROM grp
)
SELECT c.conv_id, c.turn_idx, k.role, k.text, k.tool, k.ts,
       CAST(c.lsn AS BIGINT) AS valid_from,
       CAST(CASE WHEN c.last_op = 'D' THEN c.lsn ELSE c.next_lsn END
            AS BIGINT) AS valid_to
FROM chain c
JOIN cand k ON k.conv_id = c.conv_id AND k.turn_idx = c.turn_idx
           AND k.lsn = c.lsn AND k.epoch = c.live_epoch
"""

_SCD2_SQL = f"WITH {CHANGES_CTE.strip()},\n{SCD2_CHAIN_SQL.strip()}"


QUERIES = {
    "q_changes_envelope": q_changes_envelope,
    "q_wap_audit": q_wap_audit,
    "q_lww_dedup": q_lww_dedup,
    "q_final_state_sql": q_final_state_sql,
    "q_cdc_replay": q_cdc_replay,
    "q_cdc_replay_compacted": q_cdc_replay_compacted,
    "q_cdc_replay_sorted": q_cdc_replay_sorted,
    "q_cdc_replay_widened": q_cdc_replay_widened,
    "q_cdc_replay_dropped": q_cdc_replay_dropped,
    "q_cdc_replay_renamed": q_cdc_replay_renamed,
    "q_cdc_replay_ddl": q_cdc_replay_ddl,
    "q_cdc_replay_sql": q_cdc_replay_sql,
    "q_merge_full_sync": q_merge_full_sync,
    "q_cdc_replay_copart": q_cdc_replay_copart,
    "q_cdc_replay_debezium": q_cdc_replay_debezium,
    "q_cdc_replay_outbound": q_cdc_replay_outbound,
    "q_turn_structure": q_turn_structure,
    "q_cdc_replay_streaming": q_cdc_replay_streaming,
    "q_cdc_replay_evolve": q_cdc_replay_evolve,
    "q_tombstones": q_tombstones,
    "q_epoch_stats": q_epoch_stats,
    "q_partition_watermarks": q_partition_watermarks,
    "q_insert_if_absent": q_insert_if_absent,
    "q_point_lookup": q_point_lookup,
    "q_stateful_conv_state": q_stateful_conv_state,
    "q_table_changes": q_table_changes,
    "q_changes_typed": q_changes_typed,
    "q_ivm_agg": q_ivm_agg,
    "q_rollup_timebucket": q_rollup_timebucket,
    "q_mview_rollup": q_mview_rollup,
    "q_derived_table_sync": q_derived_table_sync,
    "q_conv_render": q_conv_render,
    "q_cdc_replay_rebucket": q_cdc_replay_rebucket,
    "q_cdc_replay_cloned": q_cdc_replay_cloned,
    "q_time_travel": q_time_travel,
    "q_cdc_replay_partial": q_cdc_replay_partial,
    "q_agg_table_counters": q_agg_table_counters,
    "q_constrained_ingest": q_constrained_ingest,
    "q_cdc_replay_generated": q_cdc_replay_generated,
    "q_fk_enforced_ingest": q_fk_enforced_ingest,
    "q_scd2_history": q_scd2_history,
}

# pre/post winner state for the typed-feed oracle: pre = LWW fold of epochs
# <= 1 (the window-start snapshot), post = fold of all epochs; a change row
# exists only for keys touched by the window (epochs >= 2)
_TYPED_J_CTE = """
pre AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                 coalesce(tool, '') DESC, coalesce(role, '') DESC
    ) AS rn
    FROM changes WHERE epoch <= 1
  ) WHERE rn = 1
),
post AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                 coalesce(tool, '') DESC, coalesce(role, '') DESC
    ) AS rn
    FROM changes
  ) WHERE rn = 1
),
touched AS (SELECT DISTINCT conv_id, turn_idx FROM changes WHERE epoch >= 2),
j AS (
  SELECT t.conv_id, t.turn_idx,
         p.role AS p_role, p.text AS p_text, p.tool AS p_tool,
         p.ts AS p_ts, p.lsn AS p_lsn, p.op AS p_op,
         q.role AS q_role, q.text AS q_text, q.tool AS q_tool,
         q.ts AS q_ts, q.lsn AS q_lsn, q.op AS q_op,
         (p.lsn IS DISTINCT FROM q.lsn OR p.ts IS DISTINCT FROM q.ts
          OR p.op IS DISTINCT FROM q.op OR p.role IS DISTINCT FROM q.role
          OR p.text IS DISTINCT FROM q.text
          OR p.tool IS DISTINCT FROM q.tool) AS changed
  FROM touched t
  LEFT JOIN pre p USING (conv_id, turn_idx)
  JOIN post q USING (conv_id, turn_idx)
)
"""

_FINAL_STATE_SQL = f"""
WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
SELECT conv_id, turn_idx, role, text, tool, ts
FROM winners WHERE op <> 'D'
"""

# the constrained replay admits only events passing the CHECK (SQL
# semantics: NULL passes via coalesce; deletes exempt) — the LWW fold then
# runs over the admitted stream, so a rejected update leaves the previous
# valid version live
_CONSTRAINED_SQL = f"""
WITH {CHANGES_CTE.strip()},
admitted AS (
  SELECT * FROM changes
  WHERE op = 'D' OR coalesce(role <> 'tool' OR tool IS NOT NULL, TRUE)
),
{WINNERS_CTE.strip().replace("FROM changes", "FROM admitted")}
SELECT conv_id, turn_idx, role, text, tool, ts
FROM winners WHERE op <> 'D'
"""

_TURN_STRUCTURE_SQL = f"""
WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()},
live AS (
  SELECT conv_id, turn_idx, role, text FROM winners WHERE op <> 'D'
),
t AS (
  SELECT conv_id, role, text,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         (text IS NULL OR text = '') AS is_empty
  FROM live
)
SELECT conv_id,
       CAST(count(*) AS INTEGER) AS n_turns,
       CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS INTEGER)
         AS role_repeats,
       CAST(sum(CASE WHEN role = 'tool'
                      AND (prev_role IS NULL OR prev_role <> 'assistant')
                     THEN 1 ELSE 0 END) AS INTEGER) AS orphan_tool_turns,
       CAST(sum(CASE WHEN is_empty THEN 1 ELSE 0 END) AS INTEGER)
         AS empty_turns,
       (sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) = 0
        AND sum(CASE WHEN role = 'tool'
                      AND (prev_role IS NULL OR prev_role <> 'assistant')
                     THEN 1 ELSE 0 END) = 0
        AND sum(CASE WHEN is_empty THEN 1 ELSE 0 END) = 0) AS is_clean
FROM t GROUP BY conv_id ORDER BY conv_id
"""

# time travel to the state after epoch 1: the oracle folds ONLY epochs <= 1
_TIME_TRAVEL_SQL = f"""
WITH {CHANGES_CTE.strip()},
early AS (SELECT * FROM changes WHERE epoch <= 1),
{WINNERS_CTE.strip().replace("FROM changes", "FROM early")}
SELECT conv_id, turn_idx, role, text, tool, ts
FROM winners WHERE op <> 'D'
"""

# the WAP replay quarantines epoch 2, so the oracle folds only the published
# epochs' events — the winners window over `changes` minus the bad epoch
_WAP_SQL = f"""
WITH {CHANGES_CTE.strip()},
kept AS (SELECT * FROM changes WHERE epoch <> {WAP_BAD_EPOCH}),
{WINNERS_CTE.strip().replace("FROM changes", "FROM kept")}
SELECT conv_id, turn_idx, role, text, tool, ts
FROM winners WHERE op <> 'D'
"""

ORACLES = {
    "q_changes_envelope": f"WITH {CHANGES_CTE.strip()} SELECT * FROM changes",
    "q_wap_audit": _WAP_SQL,
    "q_lww_dedup": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role, text, tool, ts, op, lsn FROM winners
    """,
    "q_final_state_sql": _FINAL_STATE_SQL,
    "q_cdc_replay": _FINAL_STATE_SQL,
    "q_cdc_replay_compacted": _FINAL_STATE_SQL,
    "q_cdc_replay_sorted": _FINAL_STATE_SQL,
    "q_cdc_replay_cloned": _FINAL_STATE_SQL,
    "q_cdc_replay_dropped": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role, text, ts
        FROM winners WHERE op <> 'D'
    """,
    "q_cdc_replay_renamed": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role, text, tool AS tool_name, ts
        FROM winners WHERE op <> 'D'
    """,
    "q_cdc_replay_ddl": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role, text, tool AS tool_name, ts
        FROM winners WHERE op <> 'D'
    """,
    "q_cdc_replay_widened": f"""
        WITH {CHANGES_CTE.strip()},
        scored AS (
          SELECT *, CASE WHEN op = 'D' THEN NULL
                         WHEN epoch >= 2 THEN lsn % 1000 + 5000000000
                         ELSE lsn % 1000 END AS score
          FROM changes
        ),
        winners AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                         coalesce(tool, '') DESC, coalesce(role, '') DESC
            ) AS rn
            FROM scored
          ) WHERE rn = 1
        )
        SELECT conv_id, turn_idx, role, text, tool, ts,
               CAST(score AS BIGINT) AS score
        FROM winners WHERE op <> 'D'
    """,
    "q_cdc_replay_copart": _FINAL_STATE_SQL,
    # the MERGE replay's LWW fold, then the driver UPDATE/DELETE statements
    # applied relationally (UPDATE touches tool only; DELETE's predicate is
    # on a key column, so the two compose order-free)
    "q_cdc_replay_sql": f"""
WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
SELECT conv_id, turn_idx, role, text,
       CASE WHEN role = 'tool' THEN 'sql-redacted' ELSE tool END AS tool,
       ts
FROM winners
WHERE op <> 'D' AND NOT (turn_idx % 7 = 3)
""",
    "q_cdc_replay_debezium": _FINAL_STATE_SQL,
    "q_merge_full_sync": f"""
WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
SELECT conv_id, turn_idx, role, 'sync:' || text AS text, tool, ts
FROM winners
WHERE op <> 'D' AND turn_idx % 3 = 0
""",
    "q_cdc_replay_outbound": _FINAL_STATE_SQL,
    "q_cdc_replay_rebucket": _FINAL_STATE_SQL,
    "q_time_travel": _TIME_TRAVEL_SQL,
    "q_cdc_replay_partial": _PARTIAL_FOLD_SQL.format(
        changes=CHANGES_CTE.strip()
    ),
    "q_agg_table_counters": _AGG_COUNTERS_SQL.format(
        changes=CHANGES_CTE.strip()
    ),
    "q_turn_structure": _TURN_STRUCTURE_SQL,
    "q_cdc_replay_streaming": _FINAL_STATE_SQL,
    "q_cdc_replay_evolve": f"""
        WITH {CHANGES_CTE.strip()},
        evolved AS (
          SELECT *,
                 CASE WHEN epoch >= 2 AND tool IS NOT NULL
                      THEN tool || '#' || CAST(lsn AS VARCHAR) END AS tool_meta
          FROM changes
        ),
        winners AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                         coalesce(tool, '') DESC, coalesce(role, '') DESC
            ) AS rn
            FROM evolved
          ) WHERE rn = 1
        )
        SELECT conv_id, turn_idx, role, text, tool, ts, tool_meta
        FROM winners WHERE op <> 'D'
    """,
    "q_constrained_ingest": _CONSTRAINED_SQL,
    # FK drop-mode admits only registered conversations (every conv
    # number NOT ending in 7); deletes exempt
    "q_fk_enforced_ingest": f"""
        WITH {CHANGES_CTE.strip()},
        admitted AS (
          SELECT * FROM changes
          WHERE op = 'D' OR CAST(substr(conv_id, 2) AS INTEGER) % 10 <> 7
        ),
        {WINNERS_CTE.strip().replace("FROM changes", "FROM admitted")}
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM winners WHERE op <> 'D'
    """,
    # the generated column recomputed from the winners (DuckDB's
    # tz-independent epoch-day form of GENERATED_DAY_EXPR)
    "q_cdc_replay_generated": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role, text, tool, ts,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket
        FROM winners WHERE op <> 'D'
    """,
    "q_tombstones": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, lsn FROM winners WHERE op = 'D'
    """,
    "q_epoch_stats": f"""
        WITH {CHANGES_CTE.strip()}
        SELECT epoch,
               count(*) AS n_events,
               count(DISTINCT conv_id || '|' || CAST(turn_idx AS VARCHAR)) AS n_keys,
               min(lsn) AS min_lsn,
               max(lsn) AS max_lsn,
               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
        FROM changes GROUP BY epoch
    """,
    "q_partition_watermarks": f"""
        WITH {CHANGES_CTE.strip()}
        SELECT CAST(lsn % 16 AS INTEGER) AS partition_id,
               max(lsn) AS max_lsn,
               count(*) AS n_events
        FROM changes GROUP BY 1
    """,
    "q_stateful_conv_state": f"""
        WITH {CHANGES_CTE.strip()}
        SELECT conv_id, count(*) AS n_events, max(lsn) AS max_lsn,
               max(ts) AS last_ts
        FROM changes GROUP BY conv_id
    """,
    "q_point_lookup": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM winners
        WHERE op <> 'D' AND conv_id IN {LOOKUP_CONVS!r}
    """,
    "q_table_changes": f"""
        WITH {CHANGES_CTE.strip()},
        win AS (SELECT * FROM changes WHERE epoch >= 2),
        winners AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
                         coalesce(tool, '') DESC, coalesce(role, '') DESC
            ) AS rn
            FROM win
          ) WHERE rn = 1
        )
        SELECT conv_id, turn_idx, role, text, tool, ts, op, lsn FROM winners
    """,
    "q_conv_render": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()},
        live AS (SELECT * FROM winners WHERE op <> 'D')
        SELECT conv_id,
               count(*) AS n_turns,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS rendered
        FROM live GROUP BY conv_id
    """,
    "q_changes_typed": f"""
        WITH {CHANGES_CTE.strip()}, {_TYPED_J_CTE.strip()}
        SELECT conv_id, turn_idx, q_role AS role, q_text AS text,
               q_tool AS tool, q_ts AS ts, q_lsn AS lsn,
               'insert' AS change_type
        FROM j WHERE (p_op IS NULL OR p_op = 'D') AND q_op <> 'D'
        UNION ALL
        SELECT conv_id, turn_idx, p_role, p_text, p_tool, p_ts, p_lsn,
               'update_preimage'
        FROM j WHERE p_op IS NOT NULL AND p_op <> 'D' AND q_op <> 'D' AND changed
        UNION ALL
        SELECT conv_id, turn_idx, q_role, q_text, q_tool, q_ts, q_lsn,
               'update_postimage'
        FROM j WHERE p_op IS NOT NULL AND p_op <> 'D' AND q_op <> 'D' AND changed
        UNION ALL
        SELECT conv_id, turn_idx, p_role, p_text, p_tool, p_ts, p_lsn,
               'delete'
        FROM j WHERE p_op IS NOT NULL AND p_op <> 'D' AND q_op = 'D'
    """,
    "q_ivm_agg": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()},
        live AS (SELECT * FROM winners WHERE op <> 'D')
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars
        FROM live GROUP BY conv_id
    """,
    "q_rollup_timebucket": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()},
        live AS (SELECT * FROM winners WHERE op <> 'D')
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
               role,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars
        FROM live GROUP BY 1, 2
    """,
    "q_mview_rollup": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()},
        live AS (SELECT * FROM winners WHERE op <> 'D')
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
               role,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars
        FROM live GROUP BY 1, 2
    """,
    "q_derived_table_sync": f"""
        WITH {CHANGES_CTE.strip()}, {WINNERS_CTE.strip()}
        SELECT conv_id, turn_idx, role,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               ts
        FROM winners WHERE op <> 'D'
    """,
    "q_insert_if_absent": f"""
        WITH {CHANGES_CTE.strip()},
        half AS (SELECT CAST(floor(max(lsn) / 2) AS BIGINT) h FROM changes),
        early AS (SELECT DISTINCT conv_id, turn_idx FROM changes, half WHERE lsn < h),
        late AS (SELECT DISTINCT conv_id, turn_idx FROM changes, half WHERE lsn >= h)
        SELECT l.conv_id, l.turn_idx FROM late l
        LEFT JOIN early e USING (conv_id, turn_idx)
        WHERE e.conv_id IS NULL
    """,
    "q_scd2_history": _SCD2_SQL,
}
