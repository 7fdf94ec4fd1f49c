"""Last-writer-wins dedup — the core window operator of the engine (SURVEY W1).

Reference analogue: within-batch dedup before merge,
``ROW_NUMBER() OVER (PARTITION BY pk ORDER BY batch_row_num DESC) rn ... WHERE
rn = 1`` (``src/database/postgres.py:478-501``) and ``DISTINCT ON (pk)``
(``src/database/postgres.py:421-436``). We standardize on the deterministic
ROW_NUMBER form with a total order so results are identical across partitionings,
parallelism levels, and reruns.

The engine-wide total order is ``lsn DESC, ts DESC, op DESC, text DESC,
tool DESC, role DESC`` (string keys NULL-coalesced to ''): LSN is authoritative
(WAL position); the remaining columns close the order over the ENTIRE payload,
so two rows colliding on every earlier key but differing anywhere still pick
the same winner on every partitioning, parallelism level, and engine (Spark
window, Spark hash-agg, pandas kernel, DuckDB oracle). Tie-break columns that
a table's schema doesn't have are simply skipped — the order stays total per
distinct payload for any schema (a keyed table with columns (k, v, lsn) orders
by (lsn, v-ish present cols) only).

Scale notes: ``Window.partitionBy(key)`` shuffles by the FULL key
(conv_id, turn_idx) — a hot conversation does not concentrate on one task because
each of its turns hashes independently. No additional salting is needed for this
operator; skew handling matters at the merge, where grouping is by bucket.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LWW_ROW_NUMBER_COL = "__rn"

# payload tie-break columns, in priority order after (lsn, ts, op); strings
# coalesced to '' so NULL loses deterministically in every engine
LWW_STRING_TIEBREAKS = ("text", "tool", "role")


def lww_order_cols(
    present: Sequence[str] | None = None,
    lsn_col: str = "lsn",
    op_col: str = "op",
):
    """Engine-wide deterministic total order as Window ``orderBy`` expressions.

    ``present``: the DataFrame's columns — tie-break columns not present are
    skipped (schema-agnostic; a non-transcript table still gets a valid
    order). ``None`` means all are assumed present."""
    has = (lambda c: True) if present is None else (lambda c: c in set(present))
    out = [F.col(lsn_col).desc()]
    if has("ts"):
        out.append(F.col("ts").desc())
    if has(op_col):
        out.append(F.col(op_col).desc())
    for c in LWW_STRING_TIEBREAKS:
        if has(c):
            out.append(F.coalesce(F.col(c), F.lit("")).desc())
    return out


def lww_dedup(
    changes: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    lsn_col: str = "lsn",
) -> DataFrame:
    """Keep exactly one event per key: the last writer under the total order."""
    w = Window.partitionBy(*key_cols).orderBy(
        *lww_order_cols(changes.columns, lsn_col)
    )
    return (
        changes.withColumn(LWW_ROW_NUMBER_COL, F.row_number().over(w))
        .filter(F.col(LWW_ROW_NUMBER_COL) == 1)
        .drop(LWW_ROW_NUMBER_COL)
    )


def lww_winners_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """The same LWW winner per group, as a hash aggregate instead of a sorted
    window: ``max_by(struct(all columns), struct(order key))``. Lexicographic
    struct max == the all-DESC row_number()==1 row (NULL order keys lose in
    both forms). Measured ~2x faster than the window at merge scale — no
    post-shuffle sort, and map-side partial aggregation collapses duplicate
    keys before they ever shuffle (the map-side-combine the reference gets
    from Postgres's DISTINCT ON, done at the right layer). When the input is
    already hash-partitioned on a subset of ``group_cols`` (the merge's
    explicit (bucket, salt) repartition), no extra exchange is inserted and
    the output keeps that clustering for the partitioned write.

    The order key includes every tie-break column PRESENT in ``df`` (ts, op,
    text, tool, role for transcripts) so the order is total per distinct
    payload; schemas lacking some of them still get a valid (shorter) order —
    the read path stays schema-agnostic."""
    present = set(df.columns)
    keys = [F.col(lsn_col)]
    if "ts" in present:
        keys.append(F.col("ts"))
    if op_col in present:
        keys.append(F.col(op_col))
    for c in LWW_STRING_TIEBREAKS:
        if c in present:
            keys.append(F.coalesce(F.col(c), F.lit("")))
    order_key = F.struct(*keys)
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(F.max_by(payload, order_key).alias("__w"))
        .select("__w.*")
    )


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Deterministic per-group top-K that survives a hot group at 100 TB.

    A bare ``Window.partitionBy(group)`` funnels a hot group's ENTIRE row set
    through one task. Two phases instead: phase 1 ranks within
    (group, input-partition) — the hot group stays spread across every scan
    partition — and keeps each local top-K, so at most K x partitions rows
    per group survive; phase 2 ranks the survivors globally per group. The
    phase-1 prune keeps a superset of the true per-group top-K whatever the
    row placement, so the output is exact and partitioning-independent
    PROVIDED ``order_cols`` is a total order (include a unique column last).

    ``order_cols`` accepts column names or Column sort expressions (e.g.
    ``F.col("score").desc()``).
    """
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    pid = "__tk_pid"
    lrn = "__tk_lrn"
    wl = Window.partitionBy(*group_cols, pid).orderBy(*order)
    pruned = (
        df.withColumn(pid, F.spark_partition_id())
        .withColumn(lrn, F.row_number().over(wl))
        .filter(F.col(lrn) <= k)
        .drop(pid, lrn)
    )
    wg = Window.partitionBy(*group_cols).orderBy(*order)
    return pruned.withColumn(rank_col, F.row_number().over(wg)).filter(
        F.col(rank_col) <= k
    )
