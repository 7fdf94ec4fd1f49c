"""AggSyncJob — incremental VIEW MAINTENANCE for grouped aggregates, fed by
the typed change feed.

A materialized ``GROUP BY`` view (``SELECT group_cols, count(*), sum(expr)...``)
over a lake table, kept fresh WITHOUT recomputation: each base epoch's
``read_changes_typed`` window carries pre- AND post-images, so every
SUM/COUNT-style aggregate is delta-maintainable —

    Δ(group) = Σ expr(post-images ∪ inserts) − Σ expr(pre-images ∪ deletes)

and the new group value is ``old + Δ``. Groups whose row count reaches zero
are tombstoned out of the view (a ``GROUP BY`` emits no row for an empty
group). This is the classical incremental-view-maintenance algebra
(insert/retract multiset deltas) expressed purely as DataFrame ops.

Cost per sync epoch, at any table size:

1. typed window read — O(changed data) (delta files + a bucket-pruned
   pre-image lookup);
2. one hash aggregate over the typed rows → Δ per affected group;
3. a bucket-pruned read of ONLY the affected groups' current values (the
   view is a lake table keyed by the group columns — the lookup prunes to
   the touched buckets, keys never leave the executors);
4. one O(affected groups) MERGE into the view.

The view is never rebuilt and the base is never re-scanned — the property
that makes a fleet of always-fresh aggregate views affordable at 10^10 rows
(the reference's consumers re-aggregate Postgres on every query).

Maintainable measures: anything of the form ``SUM(<row expr>)`` — including
``COUNT(*)`` (expr ``1``) and ``COUNT(col)`` (``CASE WHEN col IS NOT NULL
THEN 1 END``). A NULL expr value contributes nothing in either direction
(matching SQL SUM), so NULL-producing expressions stay consistent between
insert and retract. MIN/MAX are NOT delta-maintainable under deletes
(retracting the current extremum needs the runner-up); maintain those with a
group-refresh consumer instead (``GroupRefreshSyncJob``: re-aggregation of
the affected groups).

Both jobs run on the ``plans/sync.py`` consumer chassis (catch-up windows,
the view's own epoch ledger, lag, poll loop). The typed feed is computed
over the NET window, so folding K epochs costs ONE pre-image lookup and one
merge instead of K; windows never span an already-applied epoch, whose
deltas would double-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import CHANGE_TYPE_COL, LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.plans.sync import Consumer, FeedWindow

N_ROWS_COL = "n_rows"  # implicit COUNT(*) measure: the view's liveness signal


class _GroupViewJob(Consumer):
    """What both GROUP BY view jobs share: the definition, the view table
    (created from the first window's output, or eagerly by
    ``ensure_view``), and its read."""

    def __init__(
        self,
        source_root: str,
        view_root: str,
        group_cols: list[str],
        measures: dict[str, str],
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
        group_exprs: dict[str, str] | None = None,
    ):
        bad = [m for m in measures if m in set(group_cols)]
        if bad:
            raise ValueError(f"measure names collide with group columns: {bad}")
        stray = [g for g in (group_exprs or {}) if g not in set(group_cols)]
        if stray:
            raise ValueError(
                f"group_exprs names not listed in group_cols: {stray}"
            )
        self.source_root = source_root
        self.view_root = view_root
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.cfg = cfg or EngineConfig()
        self.n_buckets = n_buckets
        self.group_exprs = dict(group_exprs or {})

    def _project(self, df: DataFrame) -> DataFrame:
        for name, e in self.group_exprs.items():
            df = df.withColumn(name, F.expr(e))
        return df

    def _target(self, spark: SparkSession, src: LakeTable) -> LakeTable | None:
        if LakeTable.exists(self.view_root):
            return LakeTable.load(self.view_root)
        return None

    def _create_view(self, rows: DataFrame, src: LakeTable) -> LakeTable:
        if LakeTable.exists(self.view_root):
            return LakeTable.load(self.view_root)
        return LakeTable.create(
            self.view_root,
            rows.schema,  # group cols + measure cols, types from the algebra
            self.group_cols,
            self.n_buckets or src.n_buckets(),
        )

    def ensure_view(self, spark: SparkSession) -> LakeTable:
        """Create the (empty) view table eagerly — the MATERIALIZED VIEW DDL
        surface needs the table to exist at CREATE time even when the source
        has no applied epochs yet. The schema comes from running the view's
        algebra over a zero-row slice of the source (types exactly as the
        first real sync would derive them)."""
        if LakeTable.exists(self.view_root):
            return LakeTable.load(self.view_root)
        src = LakeTable.load(self.source_root)
        return self._create_view(
            self._view_rows(src.read(spark).limit(0)), src
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained view's current state (live groups only)."""
        return LakeTable.load(self.view_root).read(spark)


class AggSyncJob(_GroupViewJob):
    def __init__(
        self,
        source_root: str,
        view_root: str,
        group_cols: list[str],
        measures: dict[str, str],
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
        group_exprs: dict[str, str] | None = None,
    ):
        """``measures``: name -> per-row SQL expression; the view maintains
        ``SUM(expr)`` per group under insert/retract deltas. ``n_rows``
        (COUNT(*)) is always maintained — it decides group liveness.

        ``group_exprs``: DERIVED grouping columns (name -> deterministic
        per-row SQL expression over the typed feed), projected before the
        delta groupBy; each name must also appear in ``group_cols``. This is
        the continuous-aggregate / hypertable-rollup form: grouping by a
        time bucket of a payload timestamp (e.g. ``floor(unix_timestamp(ts)
        / 86400)``) stays delta-maintainable because the typed feed's
        pre-images evaluate the same expression over the OLD row — an update
        that moves a row between buckets retracts from the old bucket and
        adds to the new one. The expression must be deterministic per row
        (insert and retract must land in the same group)."""
        if N_ROWS_COL in measures:
            raise ValueError(f"measure name {N_ROWS_COL!r} is reserved (COUNT(*))")
        super().__init__(
            source_root, view_root, group_cols, measures, cfg, n_buckets,
            group_exprs,
        )

    def _deltas(self, typed: DataFrame) -> DataFrame:
        """Δ per affected group from one typed window: post-images and
        inserts contribute +expr, pre-images and deletes retract −expr."""
        typed = self._project(typed)
        sign = F.when(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        aggs = [
            F.sum(sign * F.expr(e)).alias(name)
            for name, e in self.measures.items()
        ]
        aggs.append(F.sum(sign).cast("long").alias(N_ROWS_COL))
        return typed.groupBy(*self.group_cols).agg(*aggs)

    def _view_rows(self, rows: DataFrame) -> DataFrame:
        return self._deltas(rows.withColumn(CHANGE_TYPE_COL, F.lit("insert")))

    def _apply_window(
        self, spark: SparkSession, src: LakeTable, view: LakeTable | None,
        w: FeedWindow,
    ) -> tuple[LakeTable, dict]:
        deltas = self._deltas(
            src.read_changes_typed(spark, w.prev_sid, w.end_sid)
        )
        view = view or self._create_view(deltas, src)
        mcols = list(self.measures) + [N_ROWS_COL]
        deltas = deltas.persist()
        try:
            cur = view.read_keys(
                spark,
                deltas.select(*self.group_cols),
                broadcast_keys=False,  # affected-group set is O(batch): keys
                # stay distributed, only bucket ids reach the driver
            )
            d, c = deltas.alias("d"), cur.alias("c")
            joined = d.join(c, self.group_cols, "left_outer")
            existed = F.col(f"c.{N_ROWS_COL}").isNotNull()
            new_vals = [
                (
                    F.coalesce(F.col(f"c.{m}"), F.lit(0))
                    + F.coalesce(F.col(f"d.{m}"), F.lit(0))
                ).alias(m)
                for m in mcols
            ]
            env = joined.select(
                *[F.col(f"d.{g}").alias(g) for g in self.group_cols],
                *new_vals,
                existed.alias("__existed"),
            )
            env = env.filter(
                F.col("__existed") | (F.col(N_ROWS_COL) > 0)
            ).select(
                *self.group_cols,
                *mcols,
                F.when(F.col(N_ROWS_COL) <= 0, "D").otherwise("U").alias("op"),
                # max epoch of the window: later windows always outrank
                # earlier ones in the view's LWW order
                F.lit(max(w.epochs)).cast("long").alias("lsn"),
            )
            return view, apply_changes(
                spark, view, env, epoch=w.epochs, cfg=self.cfg
            )
        finally:
            deltas.unpersist()


class GroupRefreshSyncJob(_GroupViewJob):
    """Incrementally-maintained GROUP BY view for aggregates that are NOT
    delta-maintainable — MIN/MAX (retracting the current extremum needs the
    runner-up), exact COUNT(DISTINCT), medians. The standard IVM fallback:
    per sync window, RE-AGGREGATE only the AFFECTED GROUPS from the base
    table, never the whole table.

    Per window: the affected-group set comes from the change feed — the
    PLAIN feed when the grouping is a key subset (key values are immutable,
    so new images carry every affected group; a late-losing replay only
    triggers a value-identical refresh, never a wrong value — the recompute
    reads base STATE, not the event), but the TYPED feed
    (``read_changes_typed``, pre- AND post-images) when grouping OFF-key:
    an update that moves a row between groups must refresh the OLD group
    too, and only the pre-image carries its value (likewise a delete's
    group, which the plain feed's tombstone may carry as NULL). The base
    rows of those groups are read back — bucket-PRUNED via
    ``read_keys(on=group_cols)`` when the grouping is a key subset (the
    ``bucket_cols`` FK layout makes the common conv-level grouping prune to
    the touched buckets), else one scan + semi join (loud in the docstring,
    the honest cost of grouping off-key) — re-aggregated with the declared
    SQL aggregate expressions, and merged O(affected groups). Groups with no
    surviving rows are tombstoned.

    Cost per window is O(rows of affected groups), vs ``AggSyncJob``'s
    O(changed rows): the price of non-invertible aggregates.

    ``measures``: name -> full SQL AGGREGATE expression over the group's
    base rows (e.g. ``{"max_chars": "max(length(text))", "n_roles":
    "count(distinct role)"}``). ``group_exprs``: derived grouping columns
    exactly as in :class:`AggSyncJob` — projected onto both the change feed
    (affected-group discovery; derived groups are off-key, so the typed
    feed's pre-images surface the OLD bucket of a moved row) and the base
    rows before re-aggregation. The MIN/MAX time-bucket rollup form."""

    def _recompute(self, rows: DataFrame) -> DataFrame:
        aggs = [F.expr(e).alias(name) for name, e in self.measures.items()]
        return rows.groupBy(*self.group_cols).agg(*aggs)

    def _view_rows(self, rows: DataFrame) -> DataFrame:
        return self._recompute(self._project(rows))

    def _apply_window(
        self, spark: SparkSession, src: LakeTable, view: LakeTable | None,
        w: FeedWindow,
    ) -> tuple[LakeTable, dict]:
        on_key = not self.group_exprs and (
            set(self.group_cols) <= set(src.key_cols() or [])
        )
        if on_key:
            # key values are immutable: new images cover every
            # affected group, the cheap feed suffices
            feed = src.read_changes(spark, w.prev_sid, w.end_sid)
        else:
            # off-key grouping (incl. any derived group): an update can
            # MOVE a row between groups and a delete's tombstone may
            # carry NULL payload — only the typed feed's pre-images
            # surface the old group, without which it would stay stale
            # forever
            feed = src.read_changes_typed(spark, w.prev_sid, w.end_sid)
        groups = (
            self._project(feed).select(*self.group_cols).distinct().persist()
        )
        try:
            if on_key:
                rows = src.read_keys(
                    spark, groups, on=self.group_cols, broadcast_keys=False
                )
            else:
                # grouping off the key: no layout pruning possible — one
                # full scan + semi join per window (documented cost;
                # co-bucket the table on the group columns to avoid it)
                rows = self._project(src.read(spark)).join(
                    groups, on=self.group_cols, how="left_semi"
                )
            fresh = self._recompute(rows)
            view = view or self._create_view(fresh, src)
            # groups in the affected set with no surviving base rows
            # get tombstoned (anti join: affected minus recomputed)
            gone = groups.join(
                fresh.select(*self.group_cols),
                on=self.group_cols,
                how="left_anti",
            )
            mcols = list(self.measures)
            env = fresh.select(
                *self.group_cols, *mcols,
                F.lit("U").alias("op"),
            ).unionByName(
                gone.select(
                    *self.group_cols,
                    *[F.lit(None).alias(m) for m in mcols],
                    F.lit("D").alias("op"),
                ),
                allowMissingColumns=False,
            ).withColumn("lsn", F.lit(max(w.epochs)).cast("long"))
            return view, apply_changes(
                spark, view, env, epoch=w.epochs, cfg=self.cfg
            )
        finally:
            groups.unpersist()
