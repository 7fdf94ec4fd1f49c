"""The MERGE/upsert engine — Spark-first re-expression of the reference's
``bulk_upsert`` family (SURVEY J1-J3).

Reference behavior being reproduced (semantics, not mechanics):

* ``INSERT ... ON CONFLICT (pk) DO UPDATE SET col = EXCLUDED.col`` — keyed
  last-writer-wins upsert (``src/database/postgres.py:269-307`` small path,
  ``:397-439`` staged path, ``:441-531`` batched path with ROW_NUMBER dedup).
* Within-batch dedup before merge (``DISTINCT ON`` / ``ROW_NUMBER ... rn = 1``).
* The three cardinality-based physical strategies collapse into one Spark plan:
  AQE handles size adaptivity; per-1M-row slice commits become one atomic
  snapshot commit per change batch (no row locks in a lake).

Physical shape (scale rationale):

1. Bucket every change row on ``xxhash64(conv_id, turn_idx) % n_buckets`` —
   the table's clustering. One shuffle.
2. LWW-dedup the batch per key (window; shuffles by full key — no hot-key
   concentration because turns of a conversation hash independently).
3. Read ONLY the touched buckets' state files (copy-on-write granularity;
   at 10^10 rows a change batch touches a bounded set of buckets and merge
   cost is independent of total table size).
4. Union state + changes and pick the per-key winner under the engine-wide
   total order. Two interchangeable kernels:
   - ``pandas``: ``groupBy(__bucket, __salt).applyInPandas`` — Arrow-vectorized
     pandas sort + drop_duplicates per group, no per-row Python (the shape
     mandated by BASELINE.json input_hint). ``__salt`` sub-splits a bucket by
     full-key hash so a hot bucket spreads over ``salt_factor`` tasks.
   - ``native``: the same LWW window entirely JVM-side (whole-stage codegen).
5. Write winners partitioned by bucket into the next snapshot's staging dir,
   collect footer stats, commit atomically.

Deletes are retained as tombstones (``__op='D'``) so a late event with a lower
LSN than an applied delete still loses deterministically (SURVEY §7.5 hard
part 2); ``LakeTable.vacuum_tombstones`` reclaims them behind an LSN horizon.
"""

from __future__ import annotations

import os
import time
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.config import (
    BUCKET_COL,
    SALT_COL,
    SALT_SEED,
    EngineConfig,
)
from cnpj_data_pipeline_spark.lake.format import (
    EpochAlreadyAppliedError,
    LakeTable,
    OP_META_COL,
    batch_to_physical,
    bucket_expr,
    owned_write_conf,
)
from cnpj_data_pipeline_spark.config import LSN_META_COL
from cnpj_data_pipeline_spark.operators.dedup import lww_winners_agg
from cnpj_data_pipeline_spark.schemas import union_schema

ENVELOPE_COLS = ("op", "lsn", "epoch")


def _payload_schema(changes: DataFrame) -> T.StructType:
    # BUCKET_COL can ride in as a partition column when a bucket-aligned WAL
    # epoch (sources.change_stream.write_epoch_bucketed) is read through the
    # general path — it is layout, not payload
    drop = set(ENVELOPE_COLS) | {BUCKET_COL}
    return T.StructType(
        [f for f in changes.schema.fields if f.name not in drop]
    )


def _align(df: DataFrame, schema: T.StructType, extra: Sequence[str]) -> DataFrame:
    """Project df onto schema's columns (missing → typed NULL), keeping extras."""
    cols = []
    have = set(df.columns)
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols += [F.col(c) for c in extra]
    return df.select(*cols)



def _merge_partitions(
    spark: SparkSession,
    n_buckets: int,
    salt_factor: int,
    override: int | None = None,
) -> int:
    """Partition count for the merge shuffle: enough tasks to keep every core
    busy (~2 waves), but never more than the number of (bucket, salt) groups —
    and not thousands of tiny tasks whose serial driver dispatch (~5 ms each)
    would dominate small batches. On a 1000-executor cluster defaultParallelism
    drives this up; n_buckets * salt_factor is the hard cap. An explicit
    ``override`` (cfg.merge_partitions) sizes by data volume instead — the
    scaling bench uses it so N and 4N cores run the identical physical job."""
    if override is not None:
        return max(1, min(n_buckets * salt_factor, override))
    return max(1, min(n_buckets * salt_factor, 2 * spark.sparkContext.defaultParallelism))

def _merge_kernel(key_cols: list[str]):
    """Arrow-vectorized per-group merge: sort by the engine total order
    (lsn, ts, op, then the string tie-breaks present — text, tool, role —
    NULL-coalesced to ''), keep the first row per key. Pure pandas column
    ops — no Python row loop. Must stay bit-identical to
    operators.dedup.lww_winners_agg / lww_order_cols."""
    from cnpj_data_pipeline_spark.operators.dedup import LWW_STRING_TIEBREAKS

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        sort_cols = [c for c in ("lsn", "ts", "op") if c in pdf.columns]
        fills = {}
        for c in LWW_STRING_TIEBREAKS:
            if c in pdf.columns:
                fills[f"__k_{c}"] = pdf[c].fillna("")
                sort_cols.append(f"__k_{c}")
        pdf = pdf.assign(**fills).sort_values(
            sort_cols, ascending=[False] * len(sort_cols), kind="mergesort"
        )
        out = pdf.drop_duplicates(subset=key_cols, keep="first")
        return out.drop(columns=list(fills))

    return kernel


class _PhaseClock:
    """Per-apply stopwatch: ``mark(name)`` records the seconds since the
    previous mark (or the start) under ``phases[name]``."""

    def __init__(self) -> None:
        self.t0 = self._last = time.monotonic()
        self.phases: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.monotonic()
        self.phases[name] = round(now - self._last, 3)
        self._last = now

    def seconds(self) -> float:
        return time.monotonic() - self.t0


def _epoch_set(epoch) -> set[int]:
    return (
        {epoch} if isinstance(epoch, int)
        else set() if epoch is None
        else set(epoch)
    )


def _epoch_label(epoch) -> str | int:
    """The DLQ/error label of a batch: the epoch, or ``lo-hi`` for a
    folded window."""
    if isinstance(epoch, int):
        return epoch
    epochs = _epoch_set(epoch)
    return f"{min(epochs)}-{max(epochs)}"


def _skipped(table: LakeTable, epoch, seconds: float, **why) -> dict:
    return {
        "epoch": epoch,
        "skipped": True,
        **why,
        "rows_applied": 0,
        "buckets_touched": 0,
        "seconds": seconds,
        "snapshot_id": table.current_snapshot_id(),
    }


def _ledger_skip(table: LakeTable, epoch) -> dict | None:
    """Idempotent replay guard — the reference's processed-files skip
    (main.py:100-131), at change-batch granularity: the skip result when
    every epoch of the batch is already applied, None when none is. A
    folded window that is only PARTLY applied cannot be replayed."""
    epoch_set = _epoch_set(epoch)
    already = epoch_set & table.applied_epochs()
    if epoch_set and already == epoch_set:
        return _skipped(table, epoch, 0.0)
    if already:
        raise ValueError(
            f"window epochs {sorted(already)} already applied but "
            f"{sorted(epoch_set - already)} are not — a folded batch cannot "
            "be partially replayed; re-plan the window over pending epochs"
        )
    return None


def _finish(
    spark: SparkSession,
    table: LakeTable,
    cfg: EngineConfig,
    clock: _PhaseClock,
    snap: dict | None,
    epoch,
    updates: dict[int, dict],
    new_schema: T.StructType | None,
    *,
    mode: str = "append",
    merged: bool = True,
    stage: str | None = None,
    stage_only: bool = False,
    props: dict | None = None,
    expected_props: dict | None = None,
    extra: dict | None = None,
) -> dict:
    """Commit (or, under ``stage_only``, stage) one applied batch and report
    it — the single commit point of every apply path.

    ``snap`` is the snapshot the batch was planned against: the CAS parent,
    and whose key columns decide inline compaction (keyed append-mode
    commits compact; keyless appends and CoW rewrites never do). ``None``
    commits against whatever head the commit finds. The op follows from the
    inputs: ``evolve`` with a ``new_schema``, else ``append`` in append mode
    and ``merge`` otherwise. ``extra`` is merged into the result.

    A concurrent writer that applied the epoch between the ledger guard
    and the CAS wins: exactly-once means our staged files stay orphaned
    (GC'd by clean_orphans) and the apply reports itself as skipped."""
    op = (
        "evolve" if new_schema is not None
        else "append" if mode == "append"
        else "merge"
    )
    rows = sum(u["rows"] for u in updates.values())
    out = {
        "epoch": epoch,
        "skipped": False,
        "rows_applied": rows,
        "buckets_touched": len(updates),
        "schema_evolved": new_schema is not None,
        "compacted": False,
        **(extra or {}),
    }
    if stage_only:
        # the WAP stage: persist the pending-commit descriptor instead
        token = table.stage_commit(
            op=op,
            epochs=sorted(_epoch_set(epoch)),
            bucket_updates=updates,
            new_schema=new_schema,
            stage_dir=stage,
            merged=merged,
        )
        out.update(
            staged=True,
            token=token,
            rows_staged=rows,
            rows_applied=0,
            snapshot_id=None,
            # highest LSN in the staged batch: a transaction uses it as the
            # floor for later driver statements' minted LSNs, so statement
            # order inside the block decides the fold even when an earlier
            # MERGE staged WAL offsets far above the published high-water
            # mark
            max_lsn=max(
                (
                    u["max_lsn"]
                    for u in updates.values()
                    if u.get("max_lsn") is not None
                ),
                default=None,
            ),
            seconds=round(clock.seconds(), 3),
            phases=clock.phases,
        )
        return out
    try:
        sid = table.commit(
            op=op,
            epoch=epoch,
            bucket_updates=updates,
            new_schema=new_schema,
            mode=mode,
            merged=merged,
            expected_parent=snap["snapshot_id"] if snap else None,
            props=props,
            expected_props=expected_props,
        )
    except EpochAlreadyAppliedError:
        return _skipped(
            table, epoch, round(clock.seconds(), 3),
            skipped_by="concurrent-writer",
        )
    clock.mark("commit")
    keyed = snap is not None and snap["key_cols"] is not None
    if mode == "append" and keyed and cfg.compact_threshold:
        # inline auto-compaction rides the GATED ingest path: under "auto"
        # it stays footer-only (blooms are built by explicit maintenance —
        # run_maintenance.py / table.compact — where Iceberg likewise spends
        # its stats budget); "force" pays the extra column-pruned read per
        # rewritten file here too
        compacted_sid = table.compact_if_needed(
            spark,
            cfg.compact_threshold,
            salt_factor=cfg.salt_factor,
            max_buckets=cfg.compact_max_buckets,
            blooms=cfg.key_blooms == "force",
        )
        if compacted_sid is not None:
            sid = compacted_sid
            out["compacted"] = True
            clock.mark("compact")
    out.update(snapshot_id=sid, seconds=clock.seconds(), phases=clock.phases)
    return out


def apply_changes(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    epoch: int | Sequence[int] | None,
    cfg: EngineConfig | None = None,
    batch_rows_hint: int | None = None,
    props: dict | None = None,
    expected_props: dict | None = None,
    stage_only: bool = False,
) -> dict:
    """Apply one change batch (epoch) to the lake table with exactly-once,
    LWW, schema-evolution and skew-safe semantics. Returns metrics.

    ``epoch`` may be a SEQUENCE of epochs when ``changes`` is the fold of a
    multi-epoch catch-up window (the consumer backlog path): the merge runs
    once over the whole window and the commit atomically marks every epoch
    in it applied — all-or-nothing, same exactly-once ledger.

    ``epoch=None`` opts OUT of the integer-epoch ledger; the caller must
    then supply ``props``/``expected_props`` as its exactly-once guard (the
    frontier-CAS path, e.g. a join view tracking one frontier per source —
    see ``LakeTable.commit``). A stale frontier surfaces as
    :class:`CommitConflictError` from the commit.

    ``stage_only=True`` is the WRITE-AUDIT-PUBLISH entry: the full merge
    pipeline runs (shuffle, LWW, staged parquet, footer stats) but instead
    of committing, a pending-commit descriptor is persisted and its token
    returned (``metrics["token"]``) — the batch stays invisible until
    ``LakeTable.publish_staged(token)`` or is dropped by
    ``abandon_staged``. Append-mode paths only (MoR / keyless): a staged
    CoW rewrite could not rebase over intervening commits at publish time."""
    cfg = cfg or EngineConfig()
    clock = _PhaseClock()
    if epoch is None and expected_props is None:
        raise ValueError(
            "epoch=None requires expected_props — some exactly-once guard "
            "must protect the apply"
        )
    if stage_only and (epoch is None or props or expected_props):
        raise ValueError(
            "stage_only requires an integer epoch ledger and no table "
            "properties — the publish is a plain append commit"
        )
    skip = _ledger_skip(table, epoch)
    if skip is not None:
        return skip

    snap = table.snapshot()
    # CHECK constraints (lake/constraints.py): fail / drop / dlq the
    # violating events BEFORE the merge, against LOGICAL names (the
    # language constraints are declared in). One map-only pass over the
    # batch; tables without constraints skip this entirely.
    extra: dict = {}
    if any(
        k.startswith("constraint.") and v is not None
        for k, v in (snap.get("props") or {}).items()
    ):
        from cnpj_data_pipeline_spark.lake.constraints import enforce_general

        changes, extra["constraint_violations"] = enforce_general(
            spark,
            snap,
            changes,
            _epoch_label(epoch),
            os.path.join(table.root, "_dlq", "constraints"),
            table.logical_schema(),
        )
        clock.mark("constraints")
    # GENERATED columns (lake/generated.py): compute absent declared
    # columns (one fused Catalyst projection), verify supplied ones (one
    # map-only pass). Tables without declarations skip this entirely.
    if any(
        k.startswith("generated.") and v is not None
        for k, v in (snap.get("props") or {}).items()
    ):
        from cnpj_data_pipeline_spark.lake.generated import enforce_generated

        changes = enforce_generated(
            spark,
            snap,
            changes,
            _epoch_label(epoch),
            table.logical_schema(),
        )
        clock.mark("generated")
    # renamed columns: producers speak logical names, files store physical
    # — map the batch at the boundary (identity when nothing was renamed)
    changes = batch_to_physical(changes, snap)
    key_cols = list(snap["key_cols"]) if snap["key_cols"] is not None else None
    bucket_cols = LakeTable._bucket_cols_of(snap)
    n_buckets = int(snap["n_buckets"])
    engine = snap.get("merge_engine", "lww")
    if engine != "lww" and cfg.write_mode != "mor":
        raise ValueError(
            f"merge_engine={engine!r} requires the merge-on-read write "
            "path — a copy-on-write apply materializes whole rows, which "
            "is the LWW semantics these engines exist to avoid"
        )
    if stage_only and key_cols is not None and cfg.write_mode != "mor":
        raise ValueError(
            "stage_only (write-audit-publish) requires the merge-on-read "
            "write path — a staged CoW rewrite cannot rebase at publish time"
        )

    # -- schema evolution (additive): table schema ∪ batch payload schema
    base_schema = table.schema()
    # key columns are FROZEN at the table's type: xxhash64 is
    # type-sensitive, so widening a key would hash the same logical key
    # into a different bucket than its existing versions — drifted key
    # batches cast down to the table type instead (pre-widening semantics)
    evolved = union_schema(
        base_schema, _payload_schema(changes), frozen=key_cols or (),
        dropped=snap.get("dropped_cols") or (),
    )
    # field-list comparison, not a length check: a WIDENING evolution
    # (int -> long) changes a type without adding a column
    new_schema = evolved if evolved.fields != base_schema.fields else None

    # -- normalize the batch: payload aligned to evolved schema + (op, lsn)
    ch = changes
    if "epoch" in ch.columns:
        ch = ch.drop("epoch")
    ch = _align(ch, evolved, extra=["op", "lsn"])
    ch = ch.withColumn(BUCKET_COL, bucket_expr(bucket_cols, n_buckets))

    # NOTE: no separate within-batch LWW pass here. The merge kernel below
    # applies the same total order across state ∪ changes, so batch-internal
    # duplicates resolve identically — pre-deduplicating would add a full
    # extra shuffle (window by key) for no semantic gain. The standalone
    # operator remains available as operators.dedup.lww_dedup (W1).

    clock.mark("plan")

    # copy-on-write rewrites the buckets the batch touches; the keyless and
    # merge-on-read paths append delta files to them
    cow = key_cols is not None and cfg.write_mode != "mor"
    touched: list[int] = []
    if key_cols is None:
        # KEYLESS APPEND-ONLY path (the reference's no-PK table family:
        # ``socios``/``dados_simples`` take pure executemany INSERT with no
        # conflict clause, src/database/postgres.py:213-214 +
        # init-db/postgres.sql:104-119). Every change row is an insert: no
        # LWW, no state read, no tombstones — just bucket, append delta
        # files, and commit atomically with lineage. Exactly-once comes from
        # the same applied_epochs guard as keyed tables. One shuffle
        # (repartition on bucket) bounds output files to one per bucket per
        # epoch regardless of source partitioning.
        parted = ch.repartition(
            _merge_partitions(spark, n_buckets, 1, cfg.merge_partitions),
            F.col(BUCKET_COL),
        )
        phys = parted.select(
            *[F.col(f.name) for f in evolved.fields],
            F.col("lsn").alias(LSN_META_COL),
            F.col("op").alias(OP_META_COL),
            F.col(BUCKET_COL),
        )
    elif cfg.write_mode == "mor":
        # MERGE-ON-READ fast path: no state read at all. LWW-dedup the batch
        # (batch losers can never be global winners — the total order is the
        # same one readers apply), append the winners as delta files to their
        # buckets, commit. Per-epoch cost is O(batch) regardless of table
        # size — the property that keeps ingest linear at 10^10 events where
        # every batch touches every bucket and CoW would be quadratic.
        # Single shuffle: repartition on (bucket, salt-of-full-key), then the
        # LWW hash aggregate grouped by (bucket, salt, key) reuses that
        # partitioning (HashPartitioning on a subset of the group keys
        # satisfies its ClusteredDistribution) — no second exchange, no sort;
        # each output task holds exactly one (bucket, salt) group → one file
        # per task.
        ch = ch.withColumn(
            SALT_COL,
            F.pmod(
                F.xxhash64(*[F.col(c) for c in key_cols], F.lit(SALT_SEED)),
                F.lit(cfg.salt_factor),
            ).cast("int"),
        )
        parted = ch.repartition(
            _merge_partitions(spark, n_buckets, cfg.salt_factor, cfg.merge_partitions),
            F.col(BUCKET_COL),
            F.col(SALT_COL),
        )
        # Non-LWW engines fold per column: within-batch folding stays
        # correct for out-of-order streams because the fold emits
        # per-column origin LSNs, and monoid (sum/min/max) columns are
        # associative by algebra — the batch's folded row is refoldable
        # against anything (operators/partial.py). Same exchange reuse as
        # the LWW agg. Aggregate tables reject tombstones HERE (a sum
        # cannot retract a contribution a compaction already folded); the
        # raise rides the fold's own scan via raise_error — zero cost on
        # the delete-free path, no extra batch pass.
        from cnpj_data_pipeline_spark.operators.partial import (
            COL_LSNS_META_COL,
            DEL_LSN_META_COL,
            winners_agg,
        )

        if engine == "aggregate":
            parted = parted.withColumn(
                "lsn",
                F.when(
                    F.col("op") == "D",
                    F.raise_error(
                        F.lit(
                            "merge_engine='aggregate' rejects "
                            "tombstones: a folded sum cannot retract a "
                            "contribution; model removals as explicit "
                            "negative deltas"
                        )
                    ).cast("long"),
                ).otherwise(F.col("lsn")),
            )
        winners = winners_agg(
            parted,
            [BUCKET_COL, SALT_COL, *key_cols],
            evolved.names,
            engine,
            agg_spec=snap.get("agg_spec"),
        ).drop(SALT_COL)
        extra_meta = (
            [] if engine == "lww"
            else [F.col(COL_LSNS_META_COL), F.col(DEL_LSN_META_COL)]
        )
        phys = winners.select(
            *[F.col(f.name) for f in evolved.fields],
            F.col("lsn").alias(LSN_META_COL),
            F.col("op").alias(OP_META_COL),
            *extra_meta,
            F.col(BUCKET_COL),
        )
    else:
        # -- touched buckets (bounded by n_buckets; tiny driver-side list).
        # When the batch is large relative to the bucket count (cheap
        # footer-level row-count hint from the WAL source), every bucket is
        # touched with overwhelming probability ((1-1/B)^n), so skip the
        # distinct scan — treating an actually-empty bucket as touched is
        # correct (its state is read and rewritten unchanged), it only
        # costs a little write amplification.
        if batch_rows_hint is not None and batch_rows_hint >= 16 * n_buckets:
            touched = list(range(n_buckets))
        else:
            touched = sorted(
                r[0] for r in ch.select(BUCKET_COL).distinct().collect()
            )
        clock.mark("touched_scan")
        if not touched:
            # an empty batch marks its epochs applied and changes nothing
            # else: no schema evolution, no CAS parent (it touches no bucket)
            return _finish(
                spark, table, cfg, clock, None, epoch, {}, None,
                mode="replace", props=props, expected_props=expected_props,
            )

        # -- current state of touched buckets, padded to the evolved schema,
        #    re-enveloped with its ORIGINAL (lsn, op) so the combined LWW
        #    total order is exactly the oracle's (no state-vs-change special
        #    cases).
        state = table.read_state_for_merge(spark, touched, evolved)
        state_env = state.select(
            *[F.col(f.name) for f in evolved.fields],
            F.col(OP_META_COL).alias("op"),
            F.col(LSN_META_COL).alias("lsn"),
            F.col(BUCKET_COL),
        )

        combined = state_env.unionByName(ch).withColumn(
            SALT_COL,
            F.pmod(
                F.xxhash64(*[F.col(c) for c in key_cols], F.lit(SALT_SEED)),
                F.lit(cfg.salt_factor),
            ).cast("int"),
        )

        # -- per-key winner
        if cfg.merge_strategy == "native":
            # SINGLE-SHUFFLE merge: repartition once on (bucket,
            # salt-of-full-key), then run the LWW window partitioned by
            # (bucket, salt, key...). Because (bucket, salt) is a subset of
            # the window's partition keys, the HashPartitioning from the
            # explicit repartition already satisfies the window's
            # ClusteredDistribution — EnsureRequirements inserts only a local
            # sort, no second exchange. The explicit numPartitions also keeps
            # AQE from coalescing the write stage below the core count, and
            # each output task holds exactly one (bucket, salt) group, so
            # partitionBy emits exactly one file per task (bounded file
            # counts at scale).
            n_parts = min(
                _merge_partitions(
                    spark, n_buckets, cfg.salt_factor, cfg.merge_partitions
                ),
                max(len(touched) * cfg.salt_factor, 1),
            )
            parted = combined.repartition(
                n_parts, F.col(BUCKET_COL), F.col(SALT_COL)
            )
            merged = lww_winners_agg(
                parted, [BUCKET_COL, SALT_COL, *key_cols]
            ).drop(SALT_COL)
        else:
            # salted grouped-map merge: group key is (bucket,
            # salt-of-full-key) so a hot bucket splits across salt_factor
            # Arrow tasks while each (conv_id, turn_idx) stays within
            # exactly one group.
            out_schema = T.StructType(
                list(evolved.fields)
                + [
                    T.StructField("op", T.StringType(), False),
                    T.StructField("lsn", T.LongType(), False),
                    T.StructField(BUCKET_COL, T.IntegerType(), False),
                    T.StructField(SALT_COL, T.IntegerType(), False),
                ]
            )
            merged = (
                combined.groupBy(BUCKET_COL, SALT_COL)
                .applyInPandas(_merge_kernel(key_cols), schema=out_schema)
                .drop(SALT_COL)
            )

        # -- physical rows: payload + __lsn/__op (tombstones kept)
        phys = merged.select(
            *[F.col(f.name) for f in evolved.fields],
            F.col("lsn").alias(LSN_META_COL),
            F.col("op").alias(OP_META_COL),
            F.col(BUCKET_COL),
        )

    if cfg.write_audit_col:
        phys = phys.withColumn(cfg.audit_col, F.current_timestamp())

    stage = table.new_staging_dir()
    clock.mark("build_plan")
    with owned_write_conf(spark):
        phys.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(stage)
    clock.mark("append_write" if key_cols is None else "merge_write")

    updates = table.collect_staged(stage, spark, blooms=cfg.key_blooms)
    clock.mark("collect_staged")
    # a touched bucket can stage zero files only if all its rows vanished —
    # impossible under tombstone retention, but keep the manifest consistent:
    for b in touched:
        updates.setdefault(b, {"files": [], "rows": 0, "max_lsn": None})

    return _finish(
        spark, table, cfg, clock, snap, epoch, updates, new_schema,
        mode="replace" if cow else "append", stage=stage,
        stage_only=stage_only, props=props, expected_props=expected_props,
        extra=extra,
    )
