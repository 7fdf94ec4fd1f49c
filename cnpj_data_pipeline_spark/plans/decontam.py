"""DecontamIndexJob — incremental test-set decontamination over the change feed.

Decontamination is a CONTINUOUS obligation, not a one-shot scan: documents
arrive (and are edited, and retracted) through the CDC path, and each change
must be re-checked against the held-out benchmark gram set before the doc is
eligible for training. This job keeps a derived lake table of contaminated
docs — key ``doc_id``, payload ``n_eval_grams_hit`` — exactly-once in sync
with the base documents table by tailing its change feed (FeedSyncJob
underneath):

* upserted/edited doc sharing >= 1 eval k-gram -> one LWW row with its hit
  count (an edit re-scores the doc in place);
* upserted/edited doc with ZERO hits -> a tombstone for its key, so a doc
  edited CLEAN leaves the contamination list — the subtle case an
  insert-only design gets wrong (it would train-exclude the doc forever);
* deleted doc -> a tombstone;
* per-epoch cost is O(changed docs x their grams): the eval gram set is tiny
  by construction (eval suites are thousands of docs, the corpus billions)
  and broadcasts into the join, the corpus is never re-scanned, the list is
  never rebuilt.

The eval set is FROZEN at job construction — benchmarks are versioned
artifacts, so the gram set is computed once (``eval_gram_set``) and reused
every epoch; a new benchmark version is a new index root, not a mutation.

No reference counterpart (nxoti/cnpj-data-pipeline has no notion of held-out
data); this composes the engine's change feed (lake/format.py read_changes)
with the corpus decontamination op (queries/text.py q_decontaminate), the
same pairing NearDupIndexJob (plans/neardup.py) makes for MinHash dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.functions.minhash import shingles
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.plans.sync import FeedSyncJob

DECON_GRAM_K = 4  # word-4-grams; see queries/text.py DECON_K for the why


def eval_gram_set(
    eval_docs: DataFrame, text_col: str = "text", k: int = DECON_GRAM_K
) -> DataFrame:
    """Distinct word-k-grams of the held-out benchmark docs — the one-column
    (``gram``) frame the transform broadcasts each epoch."""
    return (
        eval_docs.select(F.explode(shingles(text_col, k)).alias("gram"))
        .distinct()
    )


def decontam_transform(
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DECON_GRAM_K,
):
    """Change envelope (id, text, op, lsn) -> contamination envelope
    ((id) key, n_eval_grams_hit payload, op/lsn carried).

    Upserts explode their k-grams and broadcast-join the eval set; a doc
    with zero hits becomes a TOMBSTONE (op 'D'), so the derived table holds
    exactly the currently-contaminated docs. Deletes pass straight through
    as tombstones (no text needed). A multi-epoch catch-up window delivers
    one winner per key PER EPOCH — several versions of the same doc — so
    the hit aggregation keys on (id, lsn), each version is scored
    independently, and the downstream LWW fold picks the newest verdict
    (scoring per version then folding == folding then scoring, because the
    score is a pure function of one version's text)."""

    def _t(ch: DataFrame) -> DataFrame:
        ups = ch.filter(F.col("op") != "D").select(
            id_col, text_col, "op", "lsn"
        )
        hits = (
            ups.select(
                id_col, "lsn", F.explode(shingles(text_col, k)).alias("gram")
            )
            .join(F.broadcast(eval_grams), "gram")
            .groupBy(id_col, "lsn")
            .agg(
                F.countDistinct("gram").cast("int").alias("n_eval_grams_hit")
            )
        )
        scored = (
            ups.drop(text_col)
            .join(hits, [id_col, "lsn"], "left")
            .select(
                id_col,
                "n_eval_grams_hit",
                F.when(F.col("n_eval_grams_hit").isNull(), F.lit("D"))
                .otherwise(F.col("op"))
                .alias("op"),
                "lsn",
            )
        )
        dels = ch.filter(F.col("op") == "D").select(
            id_col,
            F.lit(None).cast("int").alias("n_eval_grams_hit"),
            "op",
            "lsn",
        )
        return scored.unionByName(dels)

    return _t


class DecontamIndexJob(FeedSyncJob):
    """Consecutive pending epochs fold into one window: every delivered
    version is scored independently (keyed by lsn) and the LWW merge picks
    the newest verdict, so the window fold needs no cross-version state."""

    def __init__(
        self,
        source_root: str,
        index_root: str,
        eval_grams: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = DECON_GRAM_K,
        cfg: EngineConfig | None = None,
        n_buckets: int | None = None,
    ):
        super().__init__(
            source_root,
            index_root,
            transform=decontam_transform(eval_grams, id_col, text_col, k),
            cfg=cfg,
            n_buckets=n_buckets,
        )
        self.id_col = id_col
        self.index_root = index_root

    def index_table(self) -> LakeTable:
        return LakeTable.load(self.index_root)

    def contaminated(self, spark: SparkSession) -> DataFrame:
        """Current contamination list: (id, n_eval_grams_hit), live rows
        only — edited-clean and deleted docs have already tombstoned out."""
        return self.index_table().read(spark).select(
            self.id_col, "n_eval_grams_hit"
        )
