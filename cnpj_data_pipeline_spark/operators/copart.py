"""Co-partitioned (bucket-aligned) WAL ingest — the shuffle-free fast path.

The general merge (``operators.merge.apply_changes``) must shuffle every
batch once onto (bucket, salt) because the WAL's partitioning is arbitrary.
But in the deployment shape this engine targets, the upstream change stream
is usually ALREADY partitioned by key: a Kafka topic is keyed (same-key
events land in one partition), Debezium emits per-key ordered streams, and
Iceberg/Hudi writers routinely request a bucket write distribution from the
producer. When the WAL lands bucket-aligned with the table's own layout —
same bucket function, same bucket count — the ingest's exchange is pure
waste: every row is already exactly where it must end up.

This module exploits that: ``apply_changes_copart`` runs the whole MoR
apply as a MAP-ONLY job. One Arrow task per bucket (chunked if hot) reads
that bucket's WAL files, folds within-batch LWW in Arrow C++
(``_lww_fold_arrow`` — tested bit-identical to the grouped merge's pandas
kernel and the native total order), writes the bucket's delta file
directly into the staging dir, harvests its footer stats in place, and
returns one tiny stats row. No exchange, no second stats pass, no driver
file loop — the commit goes through the same ``operators.merge._finish``
as every other write path, so crash/resume, exactly-once and
concurrent-writer semantics are unchanged.

Why this matters at 100 TB: an all-to-all exchange is the one ingest phase
whose cost scales with CLUSTER size (network bisection), not data size per
core; a map-only apply scales with executors essentially linearly (each
task touches one bucket's files and writes one file). It is also the only
phase that competes for shuffle disk/memory with every concurrent query.
Hudi's bucket index upsert and Iceberg's bucket-transform write
distribution are the same design.

Layout contract (producer side, ``sources.change_stream.write_epoch_bucketed``)::

    <wal>/epoch=<k>/_bucketing.json          {"n_buckets": N, "bucket_cols": [...]}
    <wal>/epoch=<k>/__bucket=<b>/*.parquet   rows whose bucket_expr(...) == b

The ``_bucketing.json`` descriptor makes the layout self-describing — the
ingest validates it against the table's snapshot (bucket function inputs
AND count must match exactly) and silently falls back to the general
shuffling path on any mismatch, so a mis-partitioned WAL can never corrupt
bucket locality.

The engine's own bucket directories are the second producer of this
contract: a lake table's committed delta files sit in
``<table>/data/.../__bucket=<b>/`` and its manifest records which bucket
lists each file. A mirror with the source's keys and bucket layout
(``plans.sync.FeedSyncJob``) applies a change-feed window through the same
kernel, reading each bucket's window files as the manifest lists them. The
manifest is trusted like the descriptor, and ``copart_verify_placement`` is
not applied to these files: the engine placed every row itself.

Skew: one hot bucket would otherwise serialize into one task, so a bucket's
file list is split into chunks of ``cfg.copart_max_task_bytes``. Chunks of
the same bucket are folded independently — cross-chunk duplicates may both
reach the delta files, which MoR semantics already tolerate (readers and
compaction apply the same LWW total order over all generations; batch-side
dedup is an optimization, not a correctness requirement).

Reference analogue: the reference has no notion of co-partitioned input —
every batch is one psycopg2 COPY into a heap table (src/database/
postgres.py:216-264). This operator exists for the scale the reference
never reaches.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.config import BUCKET_COL, EngineConfig
from cnpj_data_pipeline_spark.lake.format import (
    LakeTable,
    LSN_META_COL,
    OP_META_COL,
    PHYSICAL_META_FIELDS,
    fold_file_stats,
)
from cnpj_data_pipeline_spark.operators.merge import (
    ENVELOPE_COLS,
    _epoch_label,
    _finish,
    _ledger_skip,
    _PhaseClock,
)
from cnpj_data_pipeline_spark.schemas import union_schema

_RESULT_SCHEMA = "bucket int, relpath string, stats string"


def _payload_schema_of_files(
    files: Sequence[str], inv_renames: dict[str, str] | None = None
) -> T.StructType:
    """Spark payload schema from Parquet footers (driver-side, no data scan).

    One footer is read PER EPOCH DIRECTORY, then unioned: files within one
    epoch share a schema by the producer contract, but a folded catch-up
    window (``run_pending(fold_window=K)``) spans epochs that may differ by
    an additive evolution — inferring from a single file would silently drop
    the evolved-in column for every row in the window.

    ``inv_renames`` (logical -> physical, from the table's rename map) maps
    producer column names to the physical names files store, so a
    post-rename WAL epoch unions against the table schema instead of
    evolving in a duplicate column."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    inv = inv_renames or {}
    reps: dict[str, str] = {}
    for fp in files:
        epoch_parts = [
            p for p in fp.split(os.sep) if p.startswith("epoch=")
        ]
        key = epoch_parts[-1] if epoch_parts else os.path.dirname(fp)
        reps.setdefault(key, fp)
    drop = set(ENVELOPE_COLS) | {BUCKET_COL}
    out: T.StructType | None = None
    for fp in reps.values():
        sch = from_arrow_schema(pq.ParquetFile(fp).schema_arrow)
        mapped = [inv.get(f.name, f.name) for f in sch.fields]
        if len(set(mapped)) != len(mapped):
            raise ValueError(
                f"WAL file {fp} carries both the physical and the logical "
                "name of a renamed column: ambiguous — fix the producer"
            )
        payload = T.StructType(
            [
                T.StructField(inv.get(f.name, f.name), f.dataType, f.nullable)
                for f in sch.fields
                if inv.get(f.name, f.name) not in drop
            ]
        )
        out = payload if out is None else union_schema(out, payload)
    return out


def _normalize_to(tbl, target, inv_renames=None):
    """Pad + project + cast ONE file's Arrow table to ``target`` (pa.Schema).
    ``inv_renames`` (logical -> physical) first maps renamed columns a
    post-rename producer wrote under their logical names back to the
    physical names the table stores; a file carrying BOTH names for one
    column is ambiguous and refused.

    This must run PER FILE, before any ``pa.concat_tables``: a bucket's
    generations can come from different producer sessions — the engine's own
    session writes parquet timestamps as ``timestamp[us, tz=UTC]``, while a
    vanilla SparkSession (default ``outputTimestampType=INT96``) yields
    tz-naive ``timestamp[ns]`` on Arrow read — and Arrow refuses to merge
    tz-aware with tz-naive columns. Both encodings store the same UTC
    instants, so the per-field cast is value-preserving; missing columns
    (pre-evolution generations) are padded with typed NULLs and extras
    (layout columns such as ``epoch``/``__bucket``) are dropped by the
    projection."""
    import pyarrow as pa

    if inv_renames:
        mapped = [inv_renames.get(c, c) for c in tbl.column_names]
        if len(set(mapped)) != len(mapped):
            raise ValueError(
                "file carries both the physical and the logical name of a "
                "renamed column: ambiguous — fix the producer"
            )
        tbl = tbl.rename_columns(mapped)
    have = set(tbl.column_names)
    for f in target:
        if f.name not in have:
            tbl = tbl.append_column(f.name, pa.nulls(len(tbl), f.type))
    return tbl.select(target.names).cast(target)


def verify_bucket_placement(
    spark: SparkSession,
    table: LakeTable,
    bucket_files: dict[int, list[str]],
) -> None:
    """Optional placement proof for untrusted producers
    (``cfg.copart_verify_placement``): re-hash every WAL row with the
    table's own bucket function SPARK-SIDE and compare against the
    ``__bucket=`` directory the producer placed it in. Map-only (scan +
    partial count, no exchange of data rows); raises on the first epoch
    with misplaced rows. The layout descriptor
    (``sources.change_stream.bucketed_layout``) validates declared intent
    only — a buggy writer with a correct descriptor passes it."""
    from pyspark.sql import functions as F

    from cnpj_data_pipeline_spark.lake.format import bucket_expr, scan_files

    all_files = [fp for fps in bucket_files.values() for fp in fps]
    if not all_files:
        return
    snap = table.snapshot()
    bcols = LakeTable._bucket_cols_of(snap)
    expected = F.regexp_extract(
        F.input_file_name(), f"{BUCKET_COL}=(\\d+)", 1
    ).cast("int")
    df = scan_files(spark, all_files)
    bad = (
        df.where(bucket_expr(bcols, int(snap["n_buckets"])) != expected)
        .count()
    )
    if bad:
        raise ValueError(
            f"copart placement verification failed: {bad} WAL row(s) are in "
            f"a {BUCKET_COL}= directory their key does not hash to — the "
            "producer's layout descriptor is right but its placement is "
            "wrong; ingest this stream through the general shuffling path"
        )


def _chunk_by_bytes(
    files: Sequence[str], max_bytes: int
) -> Iterator[list[str]]:
    chunk: list[str] = []
    acc = 0
    for fp in files:
        sz = os.path.getsize(fp)
        if chunk and acc + sz > max_bytes:
            yield chunk
            chunk, acc = [], 0
        chunk.append(fp)
        acc += sz
    if chunk:
        yield chunk


def _lww_fold_arrow(
    tbl,
    key_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
):
    """First row per key under the engine total order — all Arrow C++
    (stable desc sort + group-by min(row index)), bit-identical to
    operators.merge._merge_kernel / operators.dedup.lww_winners_agg
    (asserted by tests against the grouped path and the SQL oracle).
    Executor-side helper: importable on workers, no Spark objects.

    ``lsn_col``/``op_col`` name the envelope columns — raw ("lsn", "op")
    for WAL batches, physical meta names for committed table files (the
    compaction path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from cnpj_data_pipeline_spark.operators.dedup import LWW_STRING_TIEBREAKS

    names = set(tbl.column_names)
    sort_keys = []
    work = tbl
    for c in (lsn_col, "ts", op_col):
        if c in names:
            sort_keys.append((c, "descending"))
    for c in LWW_STRING_TIEBREAKS:
        if c in names:
            work = work.append_column(
                f"__k_{c}", pc.fill_null(tbl.column(c), "")
            )
            sort_keys.append((f"__k_{c}", "descending"))
    idx = pc.sort_indices(
        work, sort_keys=sort_keys, null_placement="at_end"
    )  # stable — full ties keep input order (== kind=mergesort)
    srt = tbl.take(idx)
    pos = pa.array(range(len(srt)), pa.int64())
    keyed = srt.select(key_cols).append_column("__pos", pos)
    firsts = (
        pa.TableGroupBy(keyed, key_cols)
        .aggregate([("__pos", "min")])
        .column("__pos_min")
    )
    return srt.take(firsts)


def _make_task(
    stage: str,
    root: str,
    key_cols: list[str] | None,
    evolved_json: str,
    audit_col: str | None,
    blooms: bool = False,
    fold: bool = True,
    forbid_deletes: bool = False,
    inv_renames: dict[str, str] | None = None,
    envelope: tuple[str, str] = ("lsn", "op"),
    file_cols: Sequence[str] | None = None,
):
    """Build the Arrow task body. Everything it closes over is tiny and
    picklable; the evolved schema travels as JSON and is rebuilt per task
    (a pa.Schema closure would pin pyarrow pickling across versions).

    ``envelope`` names the input files' (lsn, op) columns: the raw WAL
    envelope, or the physical meta columns of a lake table's committed
    delta files (a change-feed window). ``file_cols`` limits what is read
    from each file: a lake file can still hold a column its table has
    since dropped, which must read back as NULL, not as its old values."""
    lsn_col, op_col = envelope

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from cnpj_data_pipeline_spark.lake.format import _file_stats
        from cnpj_data_pipeline_spark.operators.copart import _lww_fold_arrow
        from cnpj_data_pipeline_spark.schemas import schema_from_json

        from cnpj_data_pipeline_spark.operators.copart import _normalize_to

        evolved = schema_from_json(evolved_json)
        phys_fields = list(evolved.fields) + list(PHYSICAL_META_FIELDS)
        if audit_col:
            phys_fields.append(T.StructField(audit_col, T.TimestampType()))
        target = to_arrow_schema(T.StructType(phys_fields))
        # pre-rename input shape: evolved payload + (lsn, op) envelope.
        # Every file is normalized to THIS schema individually before concat
        # (mixed-producer encodings, additive evolution inside a fold window)
        wal_target = to_arrow_schema(
            T.StructType(
                list(evolved.fields)
                + [
                    T.StructField(lsn_col, T.LongType()),
                    T.StructField(op_col, T.StringType()),
                ]
            )
        )

        def read(fp: str) -> pa.Table:
            if file_cols is None:
                return pq.read_table(fp)
            pf = pq.ParquetFile(fp)
            keep = set(file_cols)
            return pf.read(
                columns=[c for c in pf.schema_arrow.names if c in keep]
            )

        for driving in batches:
            for _, row in driving.iterrows():  # rows are (bucket, files)
                b = int(row["bucket"])
                files = list(row["files"])
                tbl = pa.concat_tables(
                    [
                        _normalize_to(read(f), wal_target, inv_renames)
                        for f in files
                    ]
                )
                if forbid_deletes and len(tbl):
                    import pyarrow.compute as pc

                    if pc.any(
                        pc.equal(tbl.column(op_col), "D")
                    ).as_py():
                        raise ValueError(
                            "merge_engine='aggregate' rejects tombstones: "
                            "a folded sum cannot retract a contribution; "
                            "model removals as explicit negative deltas"
                        )
                if key_cols and fold and len(tbl):
                    tbl = _lww_fold_arrow(tbl, key_cols, lsn_col, op_col)
                tbl = tbl.rename_columns(
                    [
                        {lsn_col: LSN_META_COL, op_col: OP_META_COL}.get(c, c)
                        for c in tbl.column_names
                    ]
                )
                if audit_col:
                    now = pd.Timestamp.utcnow().tz_localize(None)
                    tbl = tbl.append_column(
                        audit_col,
                        pa.array([now] * len(tbl), pa.timestamp("us")),
                    )
                have = set(tbl.column_names)
                for f in target:
                    if f.name not in have:
                        tbl = tbl.append_column(
                            f.name, pa.nulls(len(tbl), f.type)
                        )
                out = tbl.select([f.name for f in target]).cast(target)
                bdir = os.path.join(stage, f"{BUCKET_COL}={b}")
                os.makedirs(bdir, exist_ok=True)
                path = os.path.join(bdir, f"part-{uuid.uuid4().hex}.parquet")
                pq.write_table(out, path, compression="zstd")
                if blooms and key_cols:
                    # the key column is already in memory — the sidecar is
                    # a vectorized hash pass, no extra read anywhere
                    from cnpj_data_pipeline_spark.lake.bloom import (
                        write_sidecar,
                    )

                    write_sidecar(path, out.column(key_cols[0]))
                st = _file_stats(
                    path, LSN_META_COL, key_cols[0] if key_cols else None
                )
                yield pd.DataFrame(
                    {
                        "bucket": [b],
                        "relpath": [os.path.relpath(path, root)],
                        "stats": [json.dumps(st)],
                    }
                )

    return task


def apply_changes_copart(
    spark: SparkSession,
    table: LakeTable,
    bucket_files: dict[int, list[str]],
    epoch: int | Sequence[int],
    cfg: EngineConfig | None = None,
    stage_only: bool = False,
    feed_schema: T.StructType | None = None,
) -> dict:
    """Apply one bucket-aligned change batch with NO shuffle: one Arrow task
    per (bucket, chunk) reads, LWW-folds, writes and stats its own delta
    file; the driver only assembles the manifest and runs the same CAS
    commit as every other path. MoR and keyless-append tables only (CoW
    needs a state read and goes through the general path).

    ``bucket_files`` is the validated layout from
    ``sources.change_stream.bucketed_layout`` — bucket id -> absolute WAL
    file paths. ``epoch`` may be a sequence for catch-up folds (the chunks
    then span epochs and the kernel folds across them).

    ``feed_schema`` marks ``bucket_files`` as a change-feed window of
    another lake table with this table's keys and bucket layout
    (``LakeTable.change_window_files(..., by_bucket=True)``): committed
    delta files with the physical ``__lsn``/``__op`` envelope, whose
    payload schema is ``feed_schema``, the window-end schema the manifest
    records. Footers are not consulted — a bucket directory holds files
    from both sides of an ``evolve`` — and the placement check is not run:
    the engine placed those rows itself. Tables with CHECK constraints or
    generated columns are refused; their batches need the general path.

    ``stage_only=True`` is the WRITE-AUDIT-PUBLISH entry, exactly as in the
    general path: the full map-only apply runs but a pending-commit
    descriptor is persisted instead of committing (``metrics["token"]``) —
    the audit gate composes with the shuffle-free path."""
    cfg = cfg or EngineConfig()
    clock = _PhaseClock()
    skip = _ledger_skip(table, epoch)
    if skip is not None:
        return skip

    snap = table.snapshot()
    key_cols = list(snap["key_cols"]) if snap["key_cols"] is not None else None
    engine = snap.get("merge_engine", "lww")
    if key_cols is not None and cfg.write_mode != "mor":
        raise ValueError(
            "copartitioned apply requires the merge-on-read write path for "
            "keyed tables — CoW reads state and must use apply_changes"
        )

    props = snap.get("props") or {}
    if feed_schema is not None and any(
        k.startswith(("constraint.", "generated.")) and v is not None
        for k, v in props.items()
    ):
        raise ValueError(
            "a change-feed window is not checked against CHECK constraints "
            "or generated columns — apply it through apply_changes"
        )
    if cfg.copart_verify_placement and feed_schema is None:
        verify_bucket_placement(spark, table, bucket_files)
    all_files = [fp for fps in bucket_files.values() for fp in fps]
    # CHECK constraints: fail-mode only on this path — one column-pruned,
    # map-only scan of the epoch's WAL files; a clean batch proceeds with
    # the zero-shuffle apply untouched. Row-dropping modes (drop/dlq) need
    # a batch rewrite and are routed to the general path by the pipeline
    # (check_fail_only raises if they reach here).
    extra: dict = {"copartitioned": True}
    if all_files and any(
        k.startswith("constraint.") and v is not None
        for k, v in props.items()
    ):
        from cnpj_data_pipeline_spark.lake.constraints import check_fail_only

        extra["constraint_violations"] = check_fail_only(
            spark,
            snap,
            all_files,
            _epoch_label(epoch),
            table.logical_schema(),
        )
        clock.mark("constraints")
    # GENERATED columns: this path never rewrites the batch, so producers
    # must supply them (pre-computed like bucket placement); verified in
    # one column-pruned map-only scan, missing columns fail loud.
    if all_files and any(
        k.startswith("generated.") and v is not None
        for k, v in props.items()
    ):
        from cnpj_data_pipeline_spark.lake.generated import (
            check_generated_copart,
        )

        check_generated_copart(
            spark,
            snap,
            all_files,
            _epoch_label(epoch),
            table.logical_schema(),
        )
        clock.mark("generated")
    base_schema = table.schema()
    # renamed columns: producers write logical names, files store physical
    # — the inverse map rides into the footer union and every per-file
    # normalize (identity when nothing was renamed). RETIRED intermediate
    # names (renamed more than once; stale producer on an old name) map to
    # the same physical column, mirroring batch_to_physical on the shuffle
    # path.
    inv_renames = {l: p for p, l in (snap.get("renames") or {}).items()}
    inv_renames.update(snap.get("retired_names") or {})
    payload = feed_schema
    if payload is None and all_files:
        payload = _payload_schema_of_files(all_files, inv_renames or None)
    if payload is not None:
        # frozen keys: a WAL epoch with drifted key types cannot reach this
        # path (bucketed_layout rejects type-misaligned layouts), but the
        # payload may legitimately widen — never the bucket-hash inputs
        evolved = union_schema(
            base_schema,
            payload,
            frozen=snap["key_cols"] or (),
            dropped=snap.get("dropped_cols") or (),
        )
    else:
        evolved = base_schema
    # field-list comparison, not a length check: a WIDENING evolution
    # (int -> long) changes a type without adding a column
    new_schema = evolved if evolved.fields != base_schema.fields else None

    chunks = [
        (b, chunk)
        for b in sorted(bucket_files)
        for chunk in _chunk_by_bytes(
            sorted(bucket_files[b]), cfg.copart_max_task_bytes
        )
    ]
    # The commit's "merged" voucher: a generation holds one folded row per
    # key only if the kernel folded (LWW engine) AND no bucket was split
    # into chunks (cross-chunk duplicates both reach the delta files). A
    # raw generation stays "unmerged" so the read path resolves it.
    n_chunked_buckets = len({b for b, _ in chunks})
    folded_gen = engine == "lww" and len(chunks) == n_chunked_buckets
    clock.mark("plan")

    updates: dict[int, dict] = {}
    stage = table.new_staging_dir()
    if chunks:
        os.makedirs(stage, exist_ok=True)
        envelope = (
            ("lsn", "op") if feed_schema is None
            else (LSN_META_COL, OP_META_COL)
        )
        task = _make_task(
            stage,
            table.root,
            key_cols,
            evolved.json(),
            cfg.audit_col if cfg.write_audit_col else None,
            blooms=cfg.key_blooms == "force",
            inv_renames=inv_renames or None,
            # non-LWW engines: append ALL raw versions — the Arrow kernel's
            # LWW fold would drop batch "losers" whose columns/deltas the
            # winner lacks; raw rows carry their origin LSN implicitly, so
            # the read/compaction fold stays associative (operators/partial.py)
            fold=engine == "lww",
            forbid_deletes=engine == "aggregate",
            envelope=envelope,
            file_cols=(
                None if feed_schema is None
                else feed_schema.names + list(envelope)
            ),
        )
        updates = _map_buckets(spark, chunks, cfg.merge_partitions, task)
        clock.mark("merge_write")
    return _finish(
        spark, table, cfg, clock, snap, epoch, updates, new_schema,
        merged=folded_gen, stage=stage, stage_only=stage_only, extra=extra,
    )


def _map_buckets(
    spark: SparkSession,
    work: list[tuple[int, list[str]]],
    merge_partitions: int | None,
    task,
) -> dict[int, dict]:
    """Run ``task`` over ``(bucket, files)`` rows with no shuffle and fold
    the stats rows it returns into commit-ready ``bucket_updates``."""
    n_parts = min(
        len(work),
        merge_partitions or 2 * spark.sparkContext.defaultParallelism,
    )

    # The driving frame is a JVM range of n_parts one-row partitions; task
    # i takes its round-robin slice of `work` from the closure (PySpark
    # broadcasts a closure over 1 MB). A Python-fed frame
    # (createDataFrame over sc.parallelize) would start a SECOND Python
    # worker in every task, and each worker pays ~130-180 ms of start-up
    # before user code (pyspark's setup_spark_files re-scans every zip
    # importer on the worker path) — more than a bucket's Arrow fold; a
    # repartition() would add a shuffle stage instead.
    def run(ids: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in ids:
            for i in pdf["id"]:
                mine = work[int(i)::n_parts]
                yield from task(
                    iter([pd.DataFrame(mine, columns=["bucket", "files"])])
                )

    rows = (
        spark.range(0, n_parts, 1, n_parts)
        .mapInPandas(run, _RESULT_SCHEMA)
        .collect()
    )
    return fold_file_stats(
        (r["bucket"], r["relpath"], json.loads(r["stats"])) for r in rows
    )


def rewrite_buckets_map(
    spark: SparkSession,
    table: LakeTable,
    victims: list[int],
    stage: str,
    lsn_horizon: int | None = None,
    merge_partitions: int | None = None,
    blooms: bool = True,
) -> dict[int, dict]:
    """MAP-ONLY bucket rewrite — the compaction/vacuum kernel without the
    shuffle. A committed bucket's generations already live together on disk
    (the bucket IS the partition), so re-exchanging them on (bucket, salt)
    just to group what is already grouped is pure waste: one Arrow task per
    victim bucket reads its generations, LWW-folds in Arrow C++ (same total
    order as the shuffling kernel — tested bit-identical), optionally drops
    tombstone winners below ``lsn_horizon`` (the vacuum path), sorts by the
    table's declared ``sort_order`` property or by key (the Iceberg
    sort-order analogue: tight parquet row-group ranges for range or point
    reads respectively), writes EXACTLY ONE file, and returns its footer
    stats inline — so the rewritten bucket is single-file, key-clustered,
    and fully stat-ed with zero exchange and no separate stats pass. The
    salted shuffle rewrite left ``salt_factor`` files per bucket.

    Unlike the WAL apply there is no chunk split: a fold must see its whole
    bucket. The memory contract is the table-design one (EngineConfig:
    n_buckets is sized so one bucket's state fits an executor) — the
    shuffling `_rewrite_buckets` path remains for tables that violate it.

    Returns the commit-ready ``bucket_updates`` fragment for the victims
    (caller owns the commit and the watermark-keep/empty-bucket fixups)."""
    snap = table.snapshot()
    engine = snap.get("merge_engine", "lww")
    agg_spec = snap.get("agg_spec") or None
    if engine != "lww":
        from cnpj_data_pipeline_spark.lake.format import _map_refold_unsafe

        if _map_refold_unsafe(snap):
            raise ValueError(
                "the map-only rewrite kernel cannot refold this table "
                "bit-identically (float sum, non-numeric monoid, or "
                "non-atomic payload column); it compacts via the shuffle "
                "kernel (_rewrite_buckets routes it automatically)"
            )
    key_cols = list(snap["key_cols"])
    # declared sort_order property (key-tiebroken) or key clustering;
    # "zorder" interleaves the declared columns' rank bits instead of
    # sorting lexicographically (operators/zorder.py)
    sort_cols = table._sort_cols_of(snap)
    sort_kind = table._sort_kind_of(snap)
    declared_cols = list(
        (snap.get("props") or {}).get("sort_order") or key_cols
    )
    # row-group byte target threaded through the closure (env is captured
    # DRIVER-side: executor python workers inherit the JVM's launch env,
    # not later mutations)
    row_group_bytes = int(
        os.environ.get("SPARK_GRAFT_REWRITE_ROWGROUP_BYTES", 32 << 20)
    )
    schema_json = table.schema().json()
    bucket_files = {
        b: [
            os.path.join(table.root, rel)
            for rel in snap["buckets"][str(b)]["files"]
        ]
        for b in victims
        if str(b) in snap["buckets"]
    }
    work = [(b, files) for b, files in bucket_files.items() if files]
    if not work:
        return {}
    root = table.root

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from cnpj_data_pipeline_spark.lake.format import (
            PARTIAL_META_FIELDS,
            _file_stats,
        )
        from cnpj_data_pipeline_spark.operators.copart import (
            _lww_fold_arrow,
            _normalize_to,
        )
        from cnpj_data_pipeline_spark.schemas import schema_from_json

        payload_fields = list(schema_from_json(schema_json).fields)
        phys_fields = payload_fields + list(PHYSICAL_META_FIELDS)
        if engine != "lww":
            phys_fields = phys_fields + list(PARTIAL_META_FIELDS)
        target = to_arrow_schema(T.StructType(phys_fields))
        payload_cols = [
            f.name for f in payload_fields if f.name not in set(key_cols)
        ]

        for driving in batches:
            for _, row in driving.iterrows():
                b = int(row["bucket"])
                files = list(row["files"])
                # per-file pad/project/cast BEFORE concat: generations of one
                # bucket may be written by different sessions (engine µs-UTC
                # vs vanilla-session INT96→ns-naive) and by pre-evolution
                # schemas — _normalize_to makes them concat-compatible
                tbl = pa.concat_tables(
                    [_normalize_to(pq.read_table(f), target) for f in files]
                )
                if engine != "lww":
                    from cnpj_data_pipeline_spark.operators.partial import (
                        partial_fold_arrow,
                    )

                    folded = _normalize_to(
                        partial_fold_arrow(
                            tbl, key_cols, payload_cols,
                            lsn_col=LSN_META_COL, op_col=OP_META_COL,
                            agg_spec=agg_spec,
                        ),
                        target,
                    )
                else:
                    folded = _lww_fold_arrow(
                        tbl, key_cols,
                        lsn_col=LSN_META_COL, op_col=OP_META_COL,
                    )
                if lsn_horizon is not None:
                    keep = pc.invert(
                        pc.and_kleene(
                            pc.equal(folded.column(OP_META_COL), "D"),
                            pc.less(folded.column(LSN_META_COL), lsn_horizon),
                        )
                    )
                    folded = folded.filter(pc.fill_null(keep, True))
                if sort_kind == "zorder":
                    from cnpj_data_pipeline_spark.operators.zorder import (
                        sort_indices_zorder,
                    )

                    folded = folded.take(
                        sort_indices_zorder(folded, declared_cols, key_cols)
                    )
                else:
                    folded = folded.take(
                        pc.sort_indices(
                            folded,
                            sort_keys=[(c, "ascending") for c in sort_cols],
                        )
                    )
                bdir = os.path.join(stage, f"{BUCKET_COL}={b}")
                os.makedirs(bdir, exist_ok=True)
                path = os.path.join(bdir, f"part-{uuid.uuid4().hex}.parquet")
                # byte-targeted row groups (~32 MiB decoded), not pyarrow's
                # 1Mi-row default: row-group min/max stats are the unit of
                # scan pruning, and a big bucket written as one giant group
                # gives sorted layouts (sort_order) nothing to skip
                rows_per_group = max(
                    1024,
                    int(
                        len(folded)
                        * row_group_bytes
                        / max(folded.nbytes, 1)
                    ),
                ) if len(folded) else None
                pq.write_table(
                    folded, path, compression="zstd",
                    row_group_size=rows_per_group,
                )
                if blooms:
                    from cnpj_data_pipeline_spark.lake.bloom import (
                        write_sidecar,
                    )

                    write_sidecar(path, folded.column(key_cols[0]))
                st = _file_stats(path, LSN_META_COL, key_cols[0])
                import json as _json

                yield pd.DataFrame(
                    {
                        "bucket": [b],
                        "relpath": [os.path.relpath(path, root)],
                        "stats": [_json.dumps(st)],
                    }
                )

    return _map_buckets(spark, work, merge_partitions, task)
