"""SQL surface over lake tables: ``spark.sql`` on ingested state.

The reference's downstream consumers query the sink with plain SQL — its
docs ship multi-table join examples users run against Postgres after every
ingest (``docs/data-schema/relationships.md:36-60,96-118``). The lake-engine
equivalent: register a table's resolved state (LWW winners, tombstones
dropped, meta columns hidden) as a Spark temp view, then query it — joins,
aggregates, window functions — through Catalyst with the same pruned,
bucket-aware scan plan ``LakeTable.read`` builds.

Semantics: a view is pinned to the snapshot that was current at registration
(snapshot isolation — concurrent commits never shift results mid-query;
re-register to see a newer snapshot). ``snapshot_id`` pins time travel
explicitly. Companion views expose the commit history (``<name>$history``,
the lineage the reference keeps in ``processed_files``) and bounded change
windows (``<name>$changes``, the CDF as a queryable relation).

At scale this costs nothing beyond the read plan itself: views are lazy
logical plans, the snapshot manifest is the only driver-side read, and every
query against the view inherits file pruning + merged-bucket fast paths.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from cnpj_data_pipeline_spark.lake.format import LakeTable, as_table


def register_view(
    spark: SparkSession,
    table: LakeTable | str,
    name: str,
    snapshot_id: int | None = None,
    include_meta: bool = False,
) -> None:
    """Register ``name`` as a temp view of the table's resolved state,
    pinned to ``snapshot_id`` (default: the current head at call time)."""
    t = as_table(table)
    sid = t.current_snapshot_id() if snapshot_id is None else snapshot_id
    t.read(spark, snapshot_id=sid, include_meta=include_meta).createOrReplaceTempView(
        name
    )


def register_history_view(
    spark: SparkSession, table: LakeTable | str, name: str
) -> None:
    """Commit history (one row per snapshot: operation, epoch, counts) as a
    queryable relation — the lineage surface of the reference's
    ``processed_files`` checkpoint table (``src/database/postgres.py:122-196``)."""
    as_table(table).lineage_df(spark).createOrReplaceTempView(name)


def register_meta_views(
    spark: SparkSession, table: LakeTable | str, prefix: str
) -> list[str]:
    """Iceberg-style metadata tables as temp views: ``<prefix>_files`` (one
    row per live data file with pruning stats), ``<prefix>_snapshots``
    (commit chain + tags), ``<prefix>_lineage`` (per-bucket apply history).
    Layout/ops questions become SQL: compaction debt is
    ``SELECT bucket, count(*) FROM t_files WHERE NOT merged GROUP BY 1``."""
    t = as_table(table)
    t.files_df(spark).createOrReplaceTempView(f"{prefix}_files")
    t.snapshots_df(spark).createOrReplaceTempView(f"{prefix}_snapshots")
    t.lineage_df(spark).createOrReplaceTempView(f"{prefix}_lineage")
    return [f"{prefix}_files", f"{prefix}_snapshots", f"{prefix}_lineage"]


def register_changes_view(
    spark: SparkSession,
    table: LakeTable | str,
    name: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> None:
    """The change feed of snapshot window ``(from_snapshot, to_snapshot]``
    (default: current head) as a temp view — per-epoch LWW winner rows with
    ``__op``/``__lsn`` meta columns, same semantics as
    :meth:`LakeTable.read_changes`."""
    t = as_table(table)
    t.read_changes(spark, from_snapshot, to_snapshot).createOrReplaceTempView(name)


def consistent_frontier(
    tables: dict[str, LakeTable | str],
) -> tuple[int, dict[str, int]]:
    """Cross-table consistent read point for a multi-table ingest.

    ``MultiTableIngestJob`` commits per table in FK order, so between a
    parent's commit of epoch *e* and its children's, a reader joining the
    tables at their heads sees TORN state: the parent's epoch-*e* rows
    against children still at *e-1* (the reference's consumers have the
    same window against Postgres mid-run — its per-file commits are not one
    cross-table transaction, ``main.py:162-189``). The consistent frontier
    is the snapshot-isolation answer built from lineage alone:

    * frontier epoch ``E* = min over tables of max(applied epochs)`` — the
      slowest table's high-water mark (conservative: a table that skipped
      an epoch because it had no changes pins the frontier one epoch back
      rather than risking a torn join);
    * each table pins to its last snapshot that contains no apply-commit
      with ``epoch > E*`` (maintenance commits after that point are also
      excluded — they carry the newer state).

    Returns ``(E*, {name: snapshot_id})``. Cost: metadata only (each
    table's manifest chain), no data IO. Assumes the tables share one epoch
    sequence (the multi-table WAL layout).
    """
    loaded = {n: as_table(t) for n, t in tables.items()}
    maxes = []
    for t in loaded.values():
        applied = t.applied_epochs()
        maxes.append(max(applied) if applied else -1)
    frontier = min(maxes) if maxes else -1
    pins: dict[str, int] = {}
    for name, t in loaded.items():
        pin = 0
        for s in t.snapshots():  # ascending snapshot id
            ep = s.get("epoch")
            if ep is not None and ep > frontier:
                break
            pin = s["snapshot_id"]
        pins[name] = pin
    return frontier, pins


def register_catalog(
    spark: SparkSession,
    tables: dict[str, LakeTable | str],
    history: bool = False,
    consistent: bool = False,
) -> dict[str, int]:
    """Register a set of lake tables under their SQL names in one call
    (optionally with ``<name>_history`` companions), so a multi-table
    ingest's output is immediately joinable in ``spark.sql``.

    ``consistent=True`` pins every view to the :func:`consistent_frontier`
    instead of each table's own head — joins across the views then observe
    one cross-table epoch boundary, never a torn parent/child state.
    Returns the snapshot id each view was pinned at."""
    pins: dict[str, int]
    if consistent:
        _, pins = consistent_frontier(tables)
    else:
        pins = {n: as_table(t).current_snapshot_id() for n, t in tables.items()}
    for name, table in tables.items():
        register_view(spark, table, name, snapshot_id=pins[name])
        if history:
            register_history_view(spark, table, f"{name}_history")
    return pins
