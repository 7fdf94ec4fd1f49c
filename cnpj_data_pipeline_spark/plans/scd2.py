"""SCD2SyncJob — a Slowly-Changing-Dimension Type 2 history table maintained
incrementally from the typed change feed.

The reference keeps only CURRENT state (its Postgres upsert overwrites rows in
place, ``src/database/postgres.py``); every downstream question of the form
"what did this row look like when …" is unanswerable there. This job is the
lake-side answer — the Databricks DLT ``APPLY CHANGES … STORED AS SCD TYPE 2``
/ Snowflake streams-into-history pattern, rebuilt on this engine's own typed
feed: each source key's life is materialized as closed-open version intervals

    (key…, payload…, valid_from, valid_to)

where ``valid_from`` is the LSN that made the version live, ``valid_to`` the
LSN that retired it (NULL = the currently-live version). A point-in-time read
is then ``valid_from <= L AND (valid_to IS NULL OR valid_to > L)``, and the
live slice (``valid_to IS NULL``) equals the base table bit-for-bit —
asserted in ``tests/test_scd2.py``.

Version granularity is the APPLY COMMIT: the history records one version per
(key, commit) transition the base table actually went through — intra-epoch
churn is already LWW-collapsed by the base's merge, exactly as the base table
itself never held those intermediate rows. The job therefore caps every
catch-up window at one commit (``window_cap = 1`` on the ``plans/sync.py``
consumer chassis, whatever the caller passes): a lagging or crash-restarted
consumer reconstructs the SAME history it would have seen live, instead of
the coarsened net-window history a catch-up fold would give. That
determinism is what makes the job idempotent (its own ``applied_epochs``
ledger is the checkpoint) and oracle-checkable (``q_scd2_history`` replays
the whole stream and must equal a from-scratch SQL derivation of the
running-LWW-max version chain).

The no-read-before-write property (the same constraint that shaped
``plans/projection.py``): closing a version needs its ``valid_from`` and its
payload — both are exactly the typed feed's ``update_preimage``/``delete``
row (the pre-image IS the open version, and its ``lsn`` IS that version's
``valid_from``), so the history table is never read during maintenance.
Per-window work, all O(changed keys):

* ``insert`` / ``update_postimage``  → assert the new OPEN version
  ``(key, valid_from=lsn, valid_to=NULL)``.
* ``update_preimage``  → rewrite the closed version
  ``(key, valid_from=pre.lsn, valid_to=post.lsn, payload=pre)`` — a plain
  upsert over the previously-open row.
* ``delete``  → rewrite ``(key, valid_from=pre.lsn, valid_to=tombstone lsn)``.
  The typed delete row carries the PRE-image's lsn, so the tombstone's own
  LSN is joined from the raw window feed's per-key winner (the same join the
  outbound Debezium export uses, ``sources/debezium.py``).

Duplicate-LSN replacement (a same-LSN event beating the incumbent on the
tie-break — the base's LWW total order allows it) would make the close row
and the open row collide on the history key ``(key…, valid_from)``; the close
rows are anti-joined against the window's own assertions first (the
``plans/projection.py`` trick), so an in-place replacement nets to just the
re-assertion and each history key carries exactly one op per window. Window
writes use ``lsn = window-end snapshot id`` — constant within a window,
strictly increasing across windows — so cross-window rewrites (open → closed)
fold associatively under the engine's own LWW.

Scale: per-commit cost is O(changed keys) — one typed-feed read (itself
O(changed data)), one small self-join, one O(batch) merge into a table
bucketed by the SOURCE key columns (``bucket_cols=key``), so "history of
conversation X" is a bucket-pruned point read and a hot conversation's
versions spread across turns exactly like the base table. The history table
grows with total change volume, the honest floor for full version retention;
``expire_snapshots``/``vacuum`` apply to it like any other lake table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import (
    CHANGE_TYPE_COL,
    LSN_META_COL,
    OP_META_COL,
    LakeTable,
)
from cnpj_data_pipeline_spark.operators.dedup import lww_winners_agg
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.plans.sync import Consumer, FeedWindow

VALID_FROM_COL = "valid_from"
VALID_TO_COL = "valid_to"


class SCD2SyncJob(Consumer):
    window_cap = 1  # version granularity is the apply commit (module doc)

    def __init__(
        self,
        source_root: str,
        hist_root: str,
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
    ):
        self.source_root = source_root
        self.hist_root = hist_root
        self.cfg = cfg or EngineConfig()
        self.n_buckets = n_buckets

    def _target(self, spark: SparkSession, src: LakeTable) -> LakeTable:
        if LakeTable.exists(self.hist_root):
            return LakeTable.load(self.hist_root)
        src_keys = src.key_cols()
        if src_keys is None:
            raise ValueError(
                "SCD2 history requires a keyed source table (versions are "
                "key semantics; a keyless append-only table has no updates "
                "to version)"
            )
        src_schema = src.logical_schema()
        for reserved in (VALID_FROM_COL, VALID_TO_COL):
            if reserved in [f.name for f in src_schema.fields]:
                raise ValueError(
                    f"source column {reserved!r} collides with the history "
                    "table's interval column"
                )
        fields = [src_schema[c] for c in src_keys]
        fields.append(T.StructField(VALID_FROM_COL, T.LongType(), False))
        fields += [
            f for f in src_schema.fields if f.name not in set(src_keys)
        ]
        fields.append(T.StructField(VALID_TO_COL, T.LongType(), True))
        return LakeTable.create(
            self.hist_root,
            T.StructType(fields),
            [*src_keys, VALID_FROM_COL],
            self.n_buckets or src.n_buckets(),
            # bucket by the SOURCE key: "history of key K" is bucket-pruned
            bucket_cols=list(src_keys),
        )

    def _envelope(
        self,
        src: LakeTable,
        typed: DataFrame,
        raw: DataFrame,
        lsn: int,
    ) -> DataFrame:
        keys = list(src.key_cols())
        pay = [
            c for c in typed.columns if c not in ("lsn", CHANGE_TYPE_COL)
        ]
        ct = F.col(CHANGE_TYPE_COL)
        vf = F.col("lsn").cast("long").alias(VALID_FROM_COL)

        opens = (
            typed.filter(ct.isin("insert", "update_postimage"))
            .select(*pay, vf)
            .withColumn(VALID_TO_COL, F.lit(None).cast("long"))
        )
        # updates: the close's valid_to is the post-image's lsn
        post_lsn = typed.filter(ct == F.lit("update_postimage")).select(
            *keys, F.col("lsn").cast("long").alias("__to")
        )
        closes_upd = (
            typed.filter(ct == F.lit("update_preimage"))
            .select(*pay, vf)
            .join(post_lsn, keys)
        )
        # deletes: the typed row carries the PRE-image's lsn; the retiring
        # LSN is the tombstone's, joined from the raw window winners
        del_lsn = (
            lww_winners_agg(
                raw, keys, lsn_col=LSN_META_COL, op_col=OP_META_COL
            )
            .filter(F.col(OP_META_COL) == F.lit("D"))
            .select(*keys, F.col(LSN_META_COL).cast("long").alias("__to"))
        )
        closes_del = (
            typed.filter(ct == F.lit("delete"))
            .select(*pay, vf)
            .join(del_lsn, keys)
        )
        closes = (
            closes_upd.unionByName(closes_del)
            .withColumn(VALID_TO_COL, F.col("__to"))
            .drop("__to")
            # duplicate-LSN in-place replacement: the close would collide
            # with this window's own assertion of the same history key —
            # the replacement nets to just the re-assertion
            .join(
                opens.select(*keys, VALID_FROM_COL),
                [*keys, VALID_FROM_COL],
                "left_anti",
            )
        )
        return (
            opens.unionByName(closes)
            .withColumn("op", F.lit("U"))
            .withColumn("lsn", F.lit(lsn).cast("long"))
        )

    def _apply_window(
        self, spark: SparkSession, src: LakeTable, hist: LakeTable,
        w: FeedWindow,
    ) -> tuple[LakeTable, dict]:
        typed = src.read_changes_typed(spark, w.prev_sid, w.end_sid)
        raw = src.read_changes(spark, w.prev_sid, w.end_sid)
        env = self._envelope(src, typed, raw, lsn=w.end_sid)
        return hist, apply_changes(
            spark, hist, env, epoch=w.epochs, cfg=self.cfg
        )

    def hist_table(self) -> LakeTable:
        return LakeTable.load(self.hist_root)

    def read(self, spark: SparkSession) -> DataFrame:
        """The full version history (closed and open intervals)."""
        return self.hist_table().read(spark)

    def read_current(self, spark: SparkSession) -> DataFrame:
        """The live slice (open intervals) — equals the base table's state,
        re-expressed with its ``valid_from`` provenance."""
        return self.read(spark).filter(F.col(VALID_TO_COL).isNull())

    def read_as_of_lsn(self, spark: SparkSession, lsn: int) -> DataFrame:
        """Point-in-time read at WAL position ``lsn``: the versions live
        just after ``lsn`` applied. Zero-width intervals
        (``valid_from == valid_to``, a version retired by a same-LSN
        tombstone) are never live."""
        return self.read(spark).filter(
            (F.col(VALID_FROM_COL) <= F.lit(lsn))
            & (
                F.col(VALID_TO_COL).isNull()
                | (F.col(VALID_TO_COL) > F.lit(lsn))
            )
        )
