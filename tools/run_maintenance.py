"""spark-submit entrypoint for lake-table maintenance.

Cluster usage::

    spark-submit --py-files engine.zip tools/run_maintenance.py \\
        --table s3://bucket/lake/transcripts compact --max-buckets 64
    ... vacuum --lsn-horizon 123456789
    ... expire --keep-last 10
    ... rebucket --n-buckets 16384

Each op runs as its own job against the table root and commits under the
optimistic-concurrency protocol: racing a concurrent ingest writer is safe —
a stale rewrite aborts with CommitConflictError instead of losing either
commit (re-run the op), and a crash leaves the previous snapshot intact.
Prints one JSON line of op metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="lake table maintenance ops")
    ap.add_argument("--table", required=True, help="lake table root")
    ap.add_argument("--master", default=None, help="only for local runs; omit under spark-submit")
    sub = ap.add_subparsers(dest="op", required=True)

    p = sub.add_parser("compact", help="rewrite multi-generation buckets to single winners")
    p.add_argument("--max-buckets", type=int, default=None,
                   help="rate limit: at most this many buckets per pass")
    p.add_argument("--threshold", type=int, default=2,
                   help="compact buckets holding >= this many generations")
    p.add_argument("--salt-factor", type=int, default=4)

    p = sub.add_parser("vacuum", help="drop tombstones below an LSN horizon")
    p.add_argument("--lsn-horizon", type=int, required=True,
                   help="delete 'D' winners with lsn < horizon (late-event safety bound)")
    p.add_argument("--salt-factor", type=int, default=4)

    p = sub.add_parser("expire", help="GC old snapshots + orphan files")
    p.add_argument("--keep-last", type=int, default=10)
    p.add_argument("--older-than", default=None,
                   help="ISO UTC timestamp: snapshots committed at or after "
                        "it are kept regardless of count (wall-clock "
                        "time-travel retention; --keep-last stays the floor)")

    p = sub.add_parser("rebucket", help="rewrite the table into a new bucket count")
    p.add_argument("--n-buckets", type=int, required=True)
    p.add_argument("--salt-factor", type=int, default=4)

    p = sub.add_parser("rollback", help="revert live state to a historical snapshot")
    p.add_argument("--to-snapshot", type=int, required=True,
                   help="snapshot id to restore (bad-batch recovery; "
                        "rolled-back epochs become re-ingestable)")

    sub.add_parser("stats", help="metadata-only table summary (no Spark job)")

    sub.add_parser("list-staged", help="pending write-audit-publish batches")

    p = sub.add_parser("abandon-staged",
                       help="quarantine a staged WAP batch (delete its "
                            "invisible files; published data never touched)")
    p.add_argument("--token", required=True)

    p = sub.add_parser("publish-staged",
                       help="publish a staged WAP batch (e.g. after a manual "
                            "audit, or re-driving a crashed audit job)")
    p.add_argument("--token", required=True)

    p = sub.add_parser("tag", help="pin a snapshot under a name (protected "
                                   "from expire until dropped)")
    p.add_argument("--name", required=True)
    p.add_argument("--snapshot", type=int, default=None,
                   help="snapshot id (default: current head)")

    p = sub.add_parser("untag", help="drop a snapshot tag")
    p.add_argument("--name", required=True)

    sub.add_parser("tags", help="list snapshot tags (metadata-only)")

    p = sub.add_parser("set-sort-order",
                       help="declare the compaction sort order (Iceberg "
                            "sortOrder analogue); takes effect at the next "
                            "rewrite pass")
    p.add_argument("--columns", required=True,
                   help="comma-separated column list, or 'none' to reset "
                        "to key clustering")
    p.add_argument("--kind", choices=["lexical", "zorder"], default="lexical",
                   help="lexical: cluster on the column list in order; "
                        "zorder: interleave 2-4 columns' rank bits so range "
                        "predicates on ANY of them prune row groups")

    p = sub.add_parser("drop-column",
                       help="DROP COLUMN evolution: metadata-only removal "
                            "from the declared schema (old files keep the "
                            "bytes; reads project them out; the name is "
                            "tombstoned and can never re-enter)")
    p.add_argument("--name", required=True)

    p = sub.add_parser("rename-column",
                       help="RENAME COLUMN evolution: metadata-only "
                            "physical->logical name mapping (files keep "
                            "the physical name; pre-rename files read "
                            "back under the new name; time travel shows "
                            "the old names)")
    p.add_argument("--from", dest="old", required=True,
                   help="current (logical) column name")
    p.add_argument("--to", dest="new", required=True,
                   help="new logical name")

    p = sub.add_parser("add-constraint",
                       help="declare a row-level CHECK constraint enforced "
                            "against every future change batch (runs a "
                            "Spark analysis + existing-data validation "
                            "unless --no-validate)")
    p.add_argument("--name", required=True)
    p.add_argument("--check", required=True,
                   help="deterministic boolean SQL predicate over the "
                        "table's logical columns")
    p.add_argument("--on-violation", default="fail",
                   choices=["fail", "drop", "dlq"])
    p.add_argument("--no-validate", action="store_true",
                   help="skip the existing-data scan (forward-only "
                        "enforcement)")

    p = sub.add_parser("add-fk-constraint",
                       help="declare a FOREIGN KEY constraint: batch FK "
                            "keys must reference live rows of the parent "
                            "table (bucket-pruned O(batch) check)")
    p.add_argument("--name", required=True)
    p.add_argument("--columns", required=True,
                   help="comma-separated local FK columns")
    p.add_argument("--references", required=True, dest="ref",
                   help="parent lake table root path")
    p.add_argument("--ref-columns", default=None,
                   help="comma-separated parent columns (default: the "
                        "parent's key)")
    p.add_argument("--on-violation", default="fail",
                   choices=["fail", "drop", "dlq"])
    p.add_argument("--no-validate", action="store_true")

    p = sub.add_parser("drop-constraint",
                       help="remove a declared CHECK or FOREIGN KEY "
                            "constraint (metadata-only; releases its "
                            "column guards)")
    p.add_argument("--name", required=True)

    p = sub.add_parser("add-generated-column",
                       help="declare a derived column computed at ingest "
                            "(GENERATED ALWAYS verifies supplied values; "
                            "--default keeps writer values verbatim)")
    p.add_argument("--name", required=True)
    p.add_argument("--type", required=True, dest="coltype",
                   help="Spark SQL type, e.g. BIGINT / DATE / STRING")
    p.add_argument("--as", required=True, dest="expr",
                   help="deterministic SQL expression over logical columns")
    p.add_argument("--default", action="store_true",
                   help="DEFAULT semantics: compute only when the batch "
                        "doesn't carry the column")

    p = sub.add_parser("drop-generated-expression",
                       help="retire a column's GENERATED/DEFAULT "
                            "declaration, keeping the column and its data")
    p.add_argument("--name", required=True)

    p = sub.add_parser("clone", help="zero-copy shallow clone: fork the "
                                     "table at a snapshot in O(metadata); "
                                     "the source snapshot is auto-tag-"
                                     "pinned until the fork localizes")
    p.add_argument("--dest", required=True, help="new table root")
    p.add_argument("--snapshot", default=None,
                   help="snapshot id or tag name (default: current head)")
    p.add_argument("--at", default=None,
                   help="TIMESTAMP AS OF (ISO UTC) instead of --snapshot")

    sub.add_parser("localize", help="copy a clone's foreign (source-owned) "
                                    "files into its own storage and release "
                                    "the source pins")

    p = sub.add_parser("analyze", help="compute per-column NDV (HLL sketch) "
                                       "+ null-count statistics")
    p.add_argument("--columns", default=None,
                   help="comma-separated logical columns (default: all "
                        "sketchable)")
    p.add_argument("--incremental", action="store_true",
                   help="union the stored sketches with the change window "
                        "since the last analyze (O(changed data); NDV "
                        "becomes an upper bound under updates/deletes)")
    p.add_argument("--lg-k", type=int, default=None,
                   help="HLL precision (default 14 ~ 0.8%% rel. error)")

    p = sub.add_parser("check", help="CHECK TABLE: verify physical files "
                                     "against the manifest")
    p.add_argument("--placement", action="store_true",
                   help="also re-hash every row against its bucket "
                        "directory (one map-only scan)")
    p.add_argument("--no-footers", action="store_true",
                   help="skip per-file footer row-count verification")

    args = ap.parse_args()

    from cnpj_data_pipeline_spark import LakeTable
    from cnpj_data_pipeline_spark.session import get_spark

    table = LakeTable.load(args.table)
    # metadata-only ops never spin up a Spark session
    if args.op == "stats":
        print(json.dumps(table.describe()))
        return
    if args.op == "analyze":
        from cnpj_data_pipeline_spark.lake.stats import (
            analyze_table,
            refresh_stats,
        )

        spark = get_spark(master=args.master) if args.master else get_spark()
        if args.incremental:
            rec = refresh_stats(spark, table)
        else:
            kw = {} if args.lg_k is None else {"lg_k": args.lg_k}
            cols = (
                [c.strip() for c in args.columns.split(",")]
                if args.columns
                else None
            )
            rec = analyze_table(spark, table, columns=cols, **kw)
        print(json.dumps({"op": "analyze", **rec}))
        return
    if args.op == "list-staged":
        print(json.dumps({"op": "list-staged", "staged": table.list_staged()}))
        return
    if args.op == "abandon-staged":
        print(json.dumps({"op": "abandon-staged",
                          **table.abandon_staged(args.token)}))
        return
    if args.op == "publish-staged":
        sid = table.publish_staged(args.token)
        print(json.dumps({"op": "publish-staged", "snapshot_id": sid,
                          "token": args.token}))
        return
    if args.op == "rollback":
        sid = table.rollback(args.to_snapshot)
        print(json.dumps({"op": "rollback", "snapshot_id": sid,
                          "restored_snapshot": args.to_snapshot}))
        return
    if args.op == "tag":
        sid = table.create_tag(args.name, args.snapshot)
        print(json.dumps({"op": "tag", "name": args.name, "snapshot_id": sid}))
        return
    if args.op == "untag":
        existed = table.drop_tag(args.name)
        print(json.dumps({"op": "untag", "name": args.name, "existed": existed}))
        return
    if args.op == "tags":
        print(json.dumps({"op": "tags", "tags": table.tags()}))
        return
    if args.op == "drop-column":
        sid = table.drop_column(args.name)
        print(json.dumps({"op": "drop-column", "snapshot_id": sid,
                          "column": args.name}))
        return
    if args.op == "rename-column":
        sid = table.rename_column(args.old, args.new)
        print(json.dumps({"op": "rename-column", "snapshot_id": sid,
                          "from": args.old, "to": args.new,
                          "renames": table.renames()}))
        return
    if args.op == "clone":
        snap = args.snapshot
        if snap is not None and snap.isdigit():
            snap = int(snap)
        c = table.clone(args.dest, snapshot_id=snap, at=args.at)
        print(json.dumps({
            "op": "clone", "dest": args.dest,
            "source_snapshot": c.props()["clone_src_snapshot"],
            "foreign_files": len(c.foreign_files()),
            "pins": c.props()["clone_pins"],
        }))
        return
    if args.op == "localize":
        stats = table.localize()
        print(json.dumps({"op": "localize", **stats,
                          "foreign_left": len(table.foreign_files())}))
        return
    if args.op == "set-sort-order":
        cols = (
            None
            if args.columns.strip().lower() == "none"
            else [c.strip() for c in args.columns.split(",") if c.strip()]
        )
        sid = table.set_sort_order(cols, kind=args.kind)
        print(json.dumps({"op": "set-sort-order", "snapshot_id": sid,
                          "sort_order": cols, "kind": args.kind}))
        return
    if args.op == "drop-constraint":
        sid = table.drop_constraint(args.name)
        print(json.dumps({"op": "drop-constraint", "snapshot_id": sid,
                          "name": args.name,
                          "constraints": sorted(table.constraints())}))
        return
    if args.op == "drop-generated-expression":
        sid = table.drop_generated_expression(args.name)
        print(json.dumps({"op": "drop-generated-expression",
                          "snapshot_id": sid, "name": args.name,
                          "generated": sorted(table.generated_columns())}))
        return
    spark = get_spark(master=args.master) if args.master else get_spark()
    if args.op == "add-fk-constraint":
        sid = table.add_fk_constraint(
            spark, args.name,
            [c.strip() for c in args.columns.split(",")],
            args.ref,
            [c.strip() for c in args.ref_columns.split(",")]
            if args.ref_columns else None,
            on_violation=args.on_violation,
            validate=not args.no_validate,
        )
        print(json.dumps({"op": "add-fk-constraint", "snapshot_id": sid,
                          "name": args.name,
                          "constraint": table.constraints()[args.name]}))
        return
    if args.op == "add-generated-column":
        from pyspark.sql import types as T

        dtype = T.StructType.fromDDL(f"__c {args.coltype}").fields[0].dataType
        sid = table.add_generated_column(
            spark, args.name, dtype, args.expr,
            mode="default" if args.default else "always",
        )
        print(json.dumps({"op": "add-generated-column", "snapshot_id": sid,
                          "name": args.name,
                          "generated": table.generated_columns()[args.name]}))
        return
    if args.op == "add-constraint":
        sid = table.add_constraint(
            spark, args.name, args.check,
            on_violation=args.on_violation,
            validate=not args.no_validate,
        )
        print(json.dumps({"op": "add-constraint", "snapshot_id": sid,
                          "name": args.name,
                          "constraint": table.constraints()[args.name]}))
        return
    before = table.current_snapshot_id()
    if args.op == "compact":
        sid = table.compact_if_needed(
            spark, args.threshold,
            salt_factor=args.salt_factor, max_buckets=args.max_buckets,
        )
        out = {"op": "compact", "snapshot_id": sid, "noop": sid is None}
    elif args.op == "vacuum":
        sid = table.vacuum_tombstones(
            spark, lsn_horizon=args.lsn_horizon, salt_factor=args.salt_factor,
        )
        out = {"op": "vacuum", "snapshot_id": sid}
    elif args.op == "expire":
        out = {"op": "expire", **table.expire_snapshots(
            keep_last=args.keep_last, older_than=args.older_than)}
    elif args.op == "check":
        out = {
            "op": "check",
            **table.check_table(
                spark, footers=not args.no_footers, placement=args.placement
            ),
        }
    else:
        sid = table.rebucket(spark, args.n_buckets,
                             salt_factor=args.salt_factor)
        out = {"op": "rebucket", "snapshot_id": sid,
               "n_buckets": table.n_buckets(), "noop": sid == before}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
