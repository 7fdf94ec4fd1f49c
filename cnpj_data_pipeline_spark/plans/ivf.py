"""IVFIndexJob — incremental IVF (inverted-file) ANN index over the change feed.

The vector twin of the incremental text consumers (plans/neardup.py,
plans/decontam.py): a web-scale embedding corpus is never re-indexed from
scratch — vectors arrive, are re-embedded, and are retracted continuously
through the CDC path. This job keeps a derived lake table of coarse-quantizer
assignments — key ``vec_id``, payload ``(cell, emb)`` — exactly-once in sync
with the base embeddings table by tailing its change feed (FeedSyncJob
underneath):

* upserted/re-embedded vector -> re-assigned to its nearest centroid (one
  broadcast-K join, no shuffle of the corpus side) and LWW-overwritten in
  place;
* deleted vector -> a tombstone (no read of the old embedding);
* per-epoch cost is O(changed vectors x K) — the corpus is never re-scanned,
  the posting lists are never rebuilt.

The codebook is FROZEN at job construction (a trained quantizer is a
versioned artifact, like the eval set in plans/decontam.py): retraining
centroids is a NEW index root built by replaying the feed from scratch, not
a mutation — exactly Faiss/Milvus operational practice, because moving a
centroid silently invalidates every posting list.

The index table declares ``sort_order = (cell,)`` so compaction clusters
postings by cell and the manifest min/max stats let a probe read skip every
file outside its probed cells — the on-disk analogue of an inverted list.

Assignment math mirrors queries/vector.py (`_assign_to`): affinity =
round(dot(emb, cent), 6), ties broken by lowest cell id — the rounding makes
the assignment bit-stable across engines and partitionings, so the
incremental index is oracle-checkable against a from-scratch SQL recompute
(extras-gated ``q_ivf_index``).

No reference counterpart (nxoti/cnpj-data-pipeline has no vector surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.plans.sync import FeedSyncJob


def _dot(a, b):
    # parity-critical: identical expression to queries/vector.py::_dot so
    # the index assignment matches the batch IVF queries bit-for-bit
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def ivf_assign_transform(
    centroids: DataFrame, id_col: str = "vec_id", emb_col: str = "emb"
):
    """Change envelope (id, emb, op, lsn) -> assignment envelope
    ((id) key, (cell, emb) payload, op/lsn carried).

    Upserts broadcast-join the K centroids and keep the max-affinity cell;
    the window keys on (id, lsn) because a multi-epoch catch-up window
    delivers one version per key PER EPOCH — each version is assigned
    independently and the downstream LWW fold keeps the newest. Deletes
    pass through as tombstones."""

    def _t(ch: DataFrame) -> DataFrame:
        ups = ch.filter(F.col("op") != "D").select(
            id_col, emb_col, "op", "lsn"
        )
        scored = ups.join(F.broadcast(centroids)).select(
            id_col,
            emb_col,
            "op",
            "lsn",
            "cell",
            F.round(_dot(F.col(emb_col), F.col("cent")), 6).alias("aff"),
        )
        w = Window.partitionBy(id_col, "lsn").orderBy(
            F.col("aff").desc(), F.col("cell").asc()
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "cell", emb_col, "op", "lsn")
        )
        dels = ch.filter(F.col("op") == "D").select(
            id_col,
            F.lit(None).cast("int").alias("cell"),
            F.lit(None).cast("array<double>").alias(emb_col),
            "op",
            "lsn",
        )
        return assigned.unionByName(dels)

    return _t


class IVFIndexJob(FeedSyncJob):
    def __init__(
        self,
        source_root: str,
        index_root: str,
        centroids: DataFrame,
        id_col: str = "vec_id",
        emb_col: str = "emb",
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
    ):
        """``centroids``: the frozen codebook, a small (cell int, cent
        array<double>) frame — seed slice or Lloyd-trained (see
        queries/vector.py ``_trained_cents``)."""
        super().__init__(
            source_root,
            index_root,
            transform=ivf_assign_transform(centroids, id_col, emb_col),
            cfg=cfg,
            n_buckets=n_buckets,
        )
        self.id_col = id_col
        self.emb_col = emb_col
        self.centroids = centroids
        self.index_root = index_root

    def run_once(
        self, spark: SparkSession, max_window_epochs: int | None = None
    ) -> dict:
        """The chassis sync, then make sure the posting-list layout is
        declared: sort_order = (cell,), so every later compaction clusters
        postings and probe reads skip files by manifest stats."""
        m = super().run_once(spark, max_window_epochs)
        t = self.index_table()
        if not (t.snapshot().get("props") or {}).get("sort_order"):
            t.set_sort_order(["cell"])
        return m

    def index_table(self) -> LakeTable:
        return LakeTable.load(self.index_root)

    def assignments(self, spark: SparkSession) -> DataFrame:
        """Current live assignment: (id, cell)."""
        return self.index_table().read(spark).select(self.id_col, "cell")

    def topk(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 2,
    ) -> DataFrame:
        """IVF-probed ANN against the MAINTAINED index: ``queries`` is
        (query_id, qe array<double>); each query probes its ``n_probe``
        nearest cells' posting lists, exact cosine within. The probed cell
        set (<= |queries| x n_probe ints, driver-side metadata) is pushed
        into the index read as a ``cell IN (...)`` filter, so the declared
        sort order turns it into file skipping — the read touches only the
        probed posting lists, never the corpus."""
        cents = self.centroids
        qa = queries.join(F.broadcast(cents)).select(
            "query_id",
            "qe",
            "cell",
            F.round(_dot(F.col("qe"), F.col("cent")), 6).alias("aff"),
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.col("aff").desc(), F.col("cell").asc()
        )
        probes = (
            qa.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= n_probe)
            .select("query_id", "qe", "cell")
        )
        cells = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        idx = (
            self.index_table()
            .read(spark)
            .filter(F.col("cell").isin(cells))
            .select(self.id_col, "cell", self.emb_col)
        )
        cand = (
            F.broadcast(probes)
            .join(idx, "cell")
            .filter(F.col("query_id") != F.col(self.id_col))
            .select(
                "query_id",
                F.col(self.id_col).alias("cand_id"),
                F.round(
                    _dot(F.col("qe"), F.col(self.emb_col))
                    / (_norm(F.col("qe")) * _norm(F.col(self.emb_col))),
                    6,
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("cand_id").asc()
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank")
        )
