"""spark-submit entrypoint for the CDC *consumer*: tail a lake table's
change feed into a replica or derived lake table.

Cluster usage::

    spark-submit --py-files engine.zip tools/run_sync.py \\
        --source s3://bucket/lake/transcripts \\
        --derived s3://bucket/lake/transcripts_replica \\
        --transform mirror                # or: text-stats
        --follow --poll-seconds 30        # long-running consumer (else one pass)

``mirror`` is incremental lake->lake replication (schema evolution flows
through); ``text-stats`` maintains the per-turn text-statistics derived
table. The incremental corpus indexes ride the same loop:
``neardup-index`` maintains the MinHash band index (plans/neardup.py);
``decontam`` maintains the contaminated-docs table (plans/decontam.py,
pass ``--eval-docs <parquet>`` — the frozen benchmark, columns
(doc_id, text)); ``ivf`` maintains the IVF assignment index
(plans/ivf.py, pass ``--centroids <parquet>`` — the frozen codebook,
columns (cell INT, cent ARRAY<DOUBLE>)); ``projection`` maintains a
re-keyed secondary index from the TYPED feed (plans/projection.py, pass
``--key-cols band,h1,h2,doc_id``); ``scd2`` maintains an SCD Type 2
version-history table from the TYPED feed (plans/scd2.py — every
(key, apply-commit) transition becomes a [valid_from, valid_to) LSN
interval row). Every ``--transform`` runs on the same consumer chassis
(``plans/sync.py``), so ``--follow`` polls any of them. Progress
checkpointing is the derived table's own applied-epochs set — no external
offset store; re-running after a crash skips synced epochs at metadata
cost. Prints one JSON line of consumer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="lake change-feed -> derived table sync")
    ap.add_argument("--source", required=True, help="base lake table root")
    ap.add_argument("--derived", required=True, help="derived/replica table root")
    ap.add_argument(
        "--transform",
        choices=[
            "mirror",
            "text-stats",
            "neardup-index",
            "decontam",
            "ivf",
            "projection",
            "scd2",
        ],
        default="mirror",
    )
    ap.add_argument("--master", default=None, help="only for local runs; omit under spark-submit")
    ap.add_argument("--n-buckets", type=int, default=None,
                    help="derived table bucket count (default: same as source)")
    ap.add_argument("--salt-factor", type=int, default=4)
    ap.add_argument("--merge-partitions", type=int, default=None)
    ap.add_argument("--id-col", default=None,
                    help="id column for the index transforms (default doc_id/vec_id)")
    ap.add_argument("--text-col", default="text",
                    help="text column (neardup-index / decontam)")
    ap.add_argument("--emb-col", default="emb", help="embedding column (ivf)")
    ap.add_argument("--eval-docs", default=None,
                    help="decontam: parquet of the frozen benchmark docs (id, text)")
    ap.add_argument("--centroids", default=None,
                    help="ivf: parquet of the frozen codebook (cell INT, cent ARRAY<DOUBLE>)")
    ap.add_argument("--key-cols", default=None,
                    help="projection: comma-separated re-keying columns "
                         "(include enough of the source key to stay unique)")
    ap.add_argument("--payload-cols", default=None,
                    help="projection: comma-separated carried payload columns")
    ap.add_argument("--follow", action="store_true", help="poll forever")
    ap.add_argument("--poll-seconds", type=float, default=5.0)
    ap.add_argument("--max-polls", type=int, default=None)
    args = ap.parse_args()

    from cnpj_data_pipeline_spark import EngineConfig, FeedSyncJob, text_stats_transform
    from cnpj_data_pipeline_spark.session import get_spark

    cfg = EngineConfig(
        salt_factor=args.salt_factor,
        merge_partitions=args.merge_partitions,
    )
    spark = get_spark(master=args.master) if args.master else get_spark()
    if args.transform == "neardup-index":
        from cnpj_data_pipeline_spark.plans.neardup import NearDupIndexJob

        job = NearDupIndexJob(
            args.source,
            args.derived,
            id_col=args.id_col or "doc_id",
            text_col=args.text_col,
            cfg=cfg,
            n_buckets=args.n_buckets,
        )
    elif args.transform == "decontam":
        if not args.eval_docs:
            ap.error("--transform decontam requires --eval-docs")
        from cnpj_data_pipeline_spark.plans.decontam import (
            DecontamIndexJob,
            eval_gram_set,
        )

        job = DecontamIndexJob(
            args.source,
            args.derived,
            eval_gram_set(
                spark.read.parquet(args.eval_docs), text_col=args.text_col
            ),
            id_col=args.id_col or "doc_id",
            text_col=args.text_col,
            cfg=cfg,
            n_buckets=args.n_buckets,
        )
    elif args.transform == "ivf":
        if not args.centroids:
            ap.error("--transform ivf requires --centroids")
        from cnpj_data_pipeline_spark.plans.ivf import IVFIndexJob

        job = IVFIndexJob(
            args.source,
            args.derived,
            spark.read.parquet(args.centroids).select("cell", "cent"),
            id_col=args.id_col or "vec_id",
            emb_col=args.emb_col,
            cfg=cfg,
            n_buckets=args.n_buckets,
        )
    elif args.transform == "scd2":
        from cnpj_data_pipeline_spark.plans.scd2 import SCD2SyncJob

        job = SCD2SyncJob(
            args.source, args.derived, cfg=cfg, n_buckets=args.n_buckets
        )
    elif args.transform == "projection":
        if not args.key_cols:
            ap.error("--transform projection requires --key-cols")
        from cnpj_data_pipeline_spark.plans.projection import ProjectionSyncJob

        job = ProjectionSyncJob(
            args.source,
            args.derived,
            key_cols=tuple(c.strip() for c in args.key_cols.split(",")),
            payload_cols=tuple(
                c.strip() for c in args.payload_cols.split(",")
            )
            if args.payload_cols
            else (),
            cfg=cfg,
            n_buckets=args.n_buckets,
        )
    else:
        job = FeedSyncJob(
            args.source,
            args.derived,
            transform=text_stats_transform
            if args.transform == "text-stats"
            else None,
            cfg=cfg,
            n_buckets=args.n_buckets,
        )
    if args.follow:
        m = job.run_follow(spark, args.poll_seconds, max_polls=args.max_polls)
    else:
        m = job.run_once(spark)
    print(json.dumps(m))


if __name__ == "__main__":
    main()
