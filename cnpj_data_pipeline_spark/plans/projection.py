"""ProjectionSyncJob — a secondary index: the source table re-KEYED by other
columns, maintained from the TYPED change feed.

The net change feed (``read_changes``) delivers only NEW images, so a
consumer whose derived table is keyed by something the update CHANGED cannot
retract the stale row — it would have to read the old value first (the
read-before-write every secondary-index design fights; see
plans/neardup.py's module doc for where this bites: the band index is keyed
``(doc_id, band)`` precisely because a hash-keyed layout could not be
retracted from the net feed). The TYPED feed (``read_changes_typed``)
removes the constraint: it delivers ``update_preimage``/``delete`` rows —
the OLD image — so the consumer retracts by projection of the pre-image and
asserts by projection of the post-image, never reading the source.

Ordering inside the derived table does not reuse the source lsns (a
retraction would tie with the row it retracts); instead every window writes
with ``lsn = window-end snapshot id`` — constant within a window, strictly
increasing across windows — and retractions are ANTI-JOINED against the
window's own assertions first (an update whose projected key did not change
nets to just the re-assertion). One key therefore never carries two ops at
one lsn, and windows fold associatively like every other consumer.

Exactly-once bookkeeping is the ``plans/sync.py`` consumer chassis (the
projection table's own epoch ledger); per-epoch cost is O(changed rows).

Chained off the near-dup band index this is the "second hash-keyed
projection" its module doc defers: base docs -> band index (keyed
(doc_id, band)) -> THIS job (keyed (band, h1, h2, doc_id)) — two CDC hops,
exactly-once at each, giving point-lookup candidate retrieval whose join is
co-located with the projection's bucket layout while the correctness-
critical band index stays single-writer-simple. (DynamoDB GSIs and
Materialize arrangements are maintained the same way: from the base's
retractable change stream.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import CHANGE_TYPE_COL, LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.plans.sync import Consumer, FeedWindow


class ProjectionSyncJob(Consumer):
    def __init__(
        self,
        source_root: str,
        proj_root: str,
        key_cols: tuple[str, ...],
        payload_cols: tuple[str, ...] = (),
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
    ):
        """``key_cols``: the projection's primary key — source columns (the
        re-keying). Include enough of the source key to keep it unique per
        source row (e.g. ``(band, h1, h2, doc_id)``). ``payload_cols``:
        source columns carried as non-key payload."""
        self.source_root = source_root
        self.proj_root = proj_root
        self.key_cols = tuple(key_cols)
        self.payload_cols = tuple(payload_cols)
        self.cfg = cfg or EngineConfig()
        self.n_buckets = n_buckets

    def _target(self, spark: SparkSession, src: LakeTable) -> LakeTable:
        if LakeTable.exists(self.proj_root):
            return LakeTable.load(self.proj_root)
        cols = [*self.key_cols, *self.payload_cols]
        src_schema = src.logical_schema()
        import pyspark.sql.types as T

        schema = T.StructType([src_schema[c] for c in cols])
        return LakeTable.create(
            self.proj_root,
            schema,
            list(self.key_cols),
            self.n_buckets or src.n_buckets(),
        )

    def _envelope(self, typed: DataFrame, lsn: int) -> DataFrame:
        cols = [*self.key_cols, *self.payload_cols]
        ct = F.col(CHANGE_TYPE_COL)
        ups = typed.filter(
            ct.isin("insert", "update_postimage")
        ).select(*cols)
        downs = (
            typed.filter(ct.isin("delete", "update_preimage"))
            .select(*self.key_cols)
            # an update whose projected key did not change nets to the
            # re-assertion alone; with the source key inside key_cols the
            # anti-join can only ever drop the same source row's retraction
            .join(ups.select(*self.key_cols), list(self.key_cols), "left_anti")
        )
        for c in self.payload_cols:
            downs = downs.withColumn(
                c, F.lit(None).cast(typed.schema[c].dataType)
            )
        return ups.withColumn("op", F.lit("U")).unionByName(
            downs.withColumn("op", F.lit("D"))
        ).withColumn("lsn", F.lit(lsn).cast("long"))

    def _apply_window(
        self, spark: SparkSession, src: LakeTable, proj: LakeTable,
        w: FeedWindow,
    ) -> tuple[LakeTable, dict]:
        typed = src.read_changes_typed(spark, w.prev_sid, w.end_sid)
        env = self._envelope(typed, lsn=w.end_sid)
        return proj, apply_changes(
            spark, proj, env, epoch=w.epochs, cfg=self.cfg
        )

    def proj_table(self) -> LakeTable:
        return LakeTable.load(self.proj_root)

    def read(self, spark: SparkSession) -> DataFrame:
        return self.proj_table().read(spark).select(
            *self.key_cols, *self.payload_cols
        )
