"""NearDupIndexJob — incremental near-duplicate index over the change feed.

A web-scale corpus is never deduped from scratch: documents arrive (and are
edited, and retracted) continuously through the CDC path, and the question is
"which EXISTING docs does this new batch collide with?". This job keeps a
derived lake table of MinHash band hashes — key ``(doc_id, band)``, payload
``(h1, h2)`` — exactly-once in sync with the base documents table by tailing
its change feed (FeedSyncJob underneath):

* upserted/edited doc → its N_BANDS band rows are re-emitted and LWW
  overwrites the old hashes in place;
* deleted doc → tombstones for all of its band keys (the band ids are the
  fixed 0..N_BANDS-1, so deletion needs no read of the old text);
* per-epoch cost is O(changed docs × N_BANDS) — the base table is never
  re-scanned, the index is never rebuilt.

Keying by ``(doc_id, band)`` (not by the band hash) is what makes updates and
deletes one-shot LWW writes: a hash-keyed layout would need the OLD hash to
retract a row (read-before-write). The price is that candidate lookup joins
on ``(band, h1, h2)`` — a narrow-column shuffle of the index projection
(``candidates_for``). At 10^10 docs, hang a second hash-keyed projection off
this index's own change feed if lookup must be bucket-pruned too; the
correctness-critical state (this table) stays single-writer-simple.

No reference counterpart (its dedup is ON CONFLICT upserts,
src/database/postgres.py:225); this composes the engine's change feed with
the training-data MinHash ops (functions/minhash.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.functions.minhash import (
    N_BANDS,
    band_rows,
    minhash_signatures,
)
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.plans.sync import FeedSyncJob


def band_index_transform(
    id_col: str = "doc_id", text_col: str = "text"
):
    """Change envelope (id, text, op, lsn) -> band-index envelope
    ((id, band) key rows, h1/h2 payload, op/lsn carried).

    Upserts fan out to one row per band; deletes fan out to tombstones for
    every band id (no text needed). The feed window delivers at most one
    winner per key per epoch, so op/lsn are constant per id and ride through
    the signature aggregation as group keys."""

    def _t(ch: DataFrame) -> DataFrame:
        ups = ch.filter(F.col("op") != "D").select(id_col, text_col, "op", "lsn")
        sig = minhash_signatures(ups, id_col, text_col, carry=["op", "lsn"])
        up_bands = band_rows(sig, id_col, carry=["op", "lsn"])
        dels = (
            ch.filter(F.col("op") == "D")
            .select(id_col, "op", "lsn")
            .withColumn(
                "band",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("int"), F.lit(N_BANDS - 1).cast("int")
                    )
                ),
            )
            .withColumn("h1", F.lit(None).cast("long"))
            .withColumn("h2", F.lit(None).cast("long"))
        )
        cols = [id_col, "band", "h1", "h2", "op", "lsn"]
        return up_bands.select(*cols).unionByName(dels.select(*cols))

    return _t


class NearDupIndexJob(FeedSyncJob):
    def __init__(
        self,
        source_root: str,
        index_root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
    ):
        super().__init__(
            source_root,
            index_root,
            transform=band_index_transform(id_col, text_col),
            cfg=cfg,
            n_buckets=n_buckets,
            key_cols=(id_col, "band"),
        )
        self.id_col = id_col
        self.index_root = index_root

    def index_table(self) -> LakeTable:
        return LakeTable.load(self.index_root)

    def candidates_for(self, spark: SparkSession, docs: DataFrame) -> DataFrame:
        """Near-dup CANDIDATE pairs between ``docs`` (id, text) and the
        indexed corpus: band the probe docs and bucket-join on
        (band, h1, h2). Returns (probe_id, index_id) distinct pairs,
        self-matches excluded — feed them to a Jaccard/signature verify
        stage. The index side is a 4-column projection of the index state;
        the probe side is O(|docs| × N_BANDS)."""
        probe = band_rows(
            minhash_signatures(docs, self.id_col, "text"), self.id_col
        ).withColumnRenamed(self.id_col, "probe_id")
        idx = (
            self.index_table()
            .read(spark)
            .select(F.col(self.id_col).alias("index_id"), "band", "h1", "h2")
        )
        return (
            probe.join(idx, ["band", "h1", "h2"])
            .filter(F.col("probe_id") != F.col("index_id"))
            .select("probe_id", "index_id")
            .distinct()
        )
