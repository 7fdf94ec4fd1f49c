"""Multi-table ingest: a catalog of dependent tables applied in FK order.

Reference analogue: the unit of work is a DAG of tables, not one table —
reference tables first, then ``empresas``, then ``estabelecimentos``, then
``socios``/``dados_simples`` (download order hardcoded by dependency,
``src/downloader.py:85-160``; the FKs that force it,
``init-db/postgres.sql:54,73,86,99,118,133``). The engine form:

* :class:`TableSpec` — name, schema, ``key_cols`` (``None`` = keyless
  append-only, the ``socios`` path), and ``depends_on`` (FK parents).
* :class:`TableCatalog` — validated spec set + deterministic topological
  order (Kahn's algorithm, name-sorted tie-break so every run applies tables
  in the same order).
* :class:`MultiTableIngestJob` — tails a WAL root laid out as
  ``<stream_root>/<table>/epoch=<k>/``: epochs ascending, and within an
  epoch every table in topological order, so a child row never commits
  before the parent state it references. Resume is per (table, epoch) via
  each table's own ``applied_epochs`` lineage: a crash between a parent's
  commit and a child's commit resumes by skipping the parent (already
  applied) and applying the child — referential order is preserved without
  any cross-table transaction, exactly the property the reference loses in
  its mark-after-partial-failure window (``main.py:180-189``).

Scale: tables are independent lake tables (their own buckets/snapshots), so
at 1000 executors the per-epoch apply of each table is a full-cluster job;
the topological barrier is per TABLE per epoch — the granularity the FKs
actually require — not a global serialization of all work.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes
from cnpj_data_pipeline_spark.plans.pipeline import copart_eligible
from cnpj_data_pipeline_spark.sources.change_stream import (
    epoch_row_count,
    list_epochs,
    read_epoch,
)

import os


@dataclass(frozen=True)
class TableSpec:
    """One table in the ingest catalog.

    ``key_cols=None`` declares a keyless append-only table (no LWW, no
    tombstones — every change row is an insert)."""

    name: str
    schema: T.StructType
    key_cols: tuple[str, ...] | None
    depends_on: tuple[str, ...] = ()
    n_buckets: int | None = None  # override the job default per table
    bucket_cols: tuple[str, ...] | None = None  # layout prefix (FK locality)


class TableCatalog:
    def __init__(self, specs: Sequence[TableSpec]):
        self.specs = {s.name: s for s in specs}
        if len(self.specs) != len(specs):
            raise ValueError("duplicate table names in catalog")
        for s in specs:
            for dep in s.depends_on:
                if dep not in self.specs:
                    raise ValueError(f"{s.name} depends on unknown table {dep!r}")
        self._order = self._topo_order()

    def _topo_order(self) -> list[str]:
        """Kahn's algorithm with a name-sorted frontier: deterministic apply
        order for any DAG; raises on cycles."""
        indeg = {n: len(s.depends_on) for n, s in self.specs.items()}
        children: dict[str, list[str]] = {n: [] for n in self.specs}
        for n, s in self.specs.items():
            for dep in s.depends_on:
                children[dep].append(n)
        frontier = sorted(n for n, d in indeg.items() if d == 0)
        out: list[str] = []
        while frontier:
            n = frontier.pop(0)
            out.append(n)
            for c in sorted(children[n]):
                indeg[c] -= 1
                if indeg[c] == 0:
                    # insert keeping the frontier sorted (small: len <= tables)
                    frontier.append(c)
                    frontier.sort()
        if len(out) != len(self.specs):
            cyc = sorted(n for n, d in indeg.items() if d > 0)
            raise ValueError(f"dependency cycle among tables: {cyc}")
        return out

    def topo_order(self) -> list[TableSpec]:
        return [self.specs[n] for n in self._order]


@dataclass
class MultiTableIngestJob:
    """Epoch loop over a catalog of dependent tables (the reference ``main()``
    loop generalized from one hardcoded table list to a declared DAG)."""

    root: str
    catalog: TableCatalog
    cfg: EngineConfig = field(default_factory=EngineConfig)
    # a transactional-catalog root (lake/txn_catalog.py) upgrades the FK
    # barrier to ATOMIC per-epoch visibility: every table's batch stages
    # (full merge pipeline, nothing visible) and the epoch lands in one
    # catalog CAS — a reader resolving tables through the catalog can never
    # see table k+1's epoch-e rows next to table k's epoch-(e-1) state, the
    # torn window the plain per-table ledger leaves between commits (and
    # the reference lives with, main.py:180-189). Requires write_mode="mor"
    # for keyed tables (staging is append-only). Created on first run;
    # prepared transactions from a crashed run recover before new work.
    txn_catalog: str | None = None

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _txn_cat(self, tables: dict[str, LakeTable]):
        from cnpj_data_pipeline_spark.lake.txn_catalog import Catalog

        if Catalog.exists(self.txn_catalog):
            cat = Catalog.load(self.txn_catalog)
            for name in sorted(set(tables) - set(cat.pins())):
                cat.register(name, tables[name])
        else:
            cat = Catalog.create(self.txn_catalog, tables)
        cat.recover()  # complete anything a crashed run prepared
        return cat

    def ensure_tables(self) -> dict[str, LakeTable]:
        out = {}
        for spec in self.catalog.topo_order():
            path = self.table_path(spec.name)
            if LakeTable.exists(path):
                out[spec.name] = LakeTable.load(path)
            else:
                out[spec.name] = LakeTable.create(
                    path,
                    spec.schema,
                    key_cols=list(spec.key_cols) if spec.key_cols else spec.key_cols,
                    n_buckets=spec.n_buckets or self.cfg.n_buckets,
                    bucket_cols=(
                        list(spec.bucket_cols) if spec.bucket_cols else None
                    ),
                )
        return out

    def run_stream(
        self,
        spark: SparkSession,
        stream_root: str,
        fail_after: int | None = None,
        max_epochs: int | None = None,
    ) -> list[dict]:
        """Tail ``<stream_root>/<table>/epoch=<k>`` WALs: epochs ascending,
        tables in topological order within each epoch, each (table, epoch)
        skipped if that table's lineage already records it (resume).

        ``max_epochs`` bounds one run's admission (whole epochs — never a
        partial epoch, so the FK barrier is preserved); a backlog drains in
        bounded runs with exactly-once resume between them.

        ``fail_after``: test hook — raise after N successful (table, epoch)
        applies to simulate a crash between a parent's commit and a child's
        (in transactional mode: between stagings — the epoch's never-
        prepared transaction is ABORTED on the way out, releasing its own
        staged batches; nothing of it ever becomes visible. Only a hard
        process kill leaves staged debris, which stays protected until the
        explicit abandon-staged maintenance).
        """
        tables = self.ensure_tables()
        cat = self._txn_cat(tables) if self.txn_catalog is not None else None
        # one directory listing per table for the whole run (each listing is
        # a remote LIST on an object store; the per-(epoch, table) loop below
        # tests membership against these cached sets)
        table_epochs: dict[str, set[int]] = {
            spec.name: set(list_epochs(os.path.join(stream_root, spec.name)))
            for spec in self.catalog.topo_order()
        }
        epochs: set[int] = set().union(*table_epochs.values()) if table_epochs else set()
        metrics: list[dict] = []
        done = 0
        epochs_run = 0
        for epoch in sorted(epochs):
            if max_epochs is not None and epochs_run >= max_epochs:
                break
            txn = cat.begin(cfg=self.cfg) if cat is not None else None
            try:
                metrics_added, done, epoch_did_work = self._run_epoch(
                    spark, stream_root, epoch, tables, table_epochs,
                    txn, fail_after, done,
                )
            except BaseException:
                # a failure before the epoch's transaction is prepared must
                # release its staged batches: the staged descriptors would
                # otherwise shield the files from clean_orphans forever, and
                # the retry re-stages the same epoch under fresh tokens —
                # every crash stranding another epoch of parquet. (A crash
                # that skips even this abort leaves a pending descriptor the
                # explicit abandon-staged maintenance reclaims.)
                if txn is not None:
                    txn.abort()
                raise
            metrics.extend(metrics_added)
            if txn is not None and txn._staged:
                v = txn.commit()
                metrics.append(
                    {
                        "table": "__catalog__",
                        "epoch": epoch,
                        "skipped": not epoch_did_work,
                        "catalog_version": v,
                    }
                )
            if epoch_did_work:
                epochs_run += 1
        return metrics

    def _run_epoch(
        self,
        spark: SparkSession,
        stream_root: str,
        epoch: int,
        tables: dict[str, LakeTable],
        table_epochs: dict[str, set[int]],
        txn,
        fail_after: int | None,
        done: int,
    ) -> tuple[list[dict], int, bool]:
        """One epoch over the topo-ordered tables: apply (or stage, in
        transactional mode) each table's batch. Returns (metrics, done
        counter, whether any table did work)."""
        metrics: list[dict] = []
        epoch_did_work = False
        for spec in self.catalog.topo_order():
            wal = os.path.join(stream_root, spec.name)
            if epoch not in table_epochs[spec.name]:
                continue
            # bucket-aligned epochs take the shuffle-free map-only
            # apply, exactly like the single-table loop — per (table,
            # epoch) detection, same ledger, silent fallback
            layout = None
            if copart_eligible(tables[spec.name], self.cfg):
                from cnpj_data_pipeline_spark.sources.change_stream import (
                    bucketed_layout,
                )

                layout = bucketed_layout(wal, epoch, tables[spec.name])
            if layout is not None:
                from cnpj_data_pipeline_spark.operators.copart import (
                    apply_changes_copart,
                )

                m = apply_changes_copart(
                    spark, tables[spec.name], layout, epoch, self.cfg,
                    stage_only=txn is not None,
                )
            else:
                m = apply_changes(
                    spark,
                    tables[spec.name],
                    read_epoch(spark, wal, epoch),
                    epoch=epoch,
                    cfg=self.cfg,
                    batch_rows_hint=epoch_row_count(wal, epoch),
                    stage_only=txn is not None,
                )
            if txn is not None:
                txn.record_staged(spec.name, tables[spec.name], m, epoch)
            m["table"] = spec.name
            metrics.append(m)
            if not m["skipped"]:
                done += 1
                epoch_did_work = True
                if fail_after is not None and done >= fail_after:
                    raise RuntimeError(
                        f"injected failure after {done} table-epoch applies"
                    )
        return metrics, done, epoch_did_work

    def read(self, spark: SparkSession, name: str):
        """Read a member table — through the transactional catalog's pins
        when one is configured (atomic-visibility read point), else at the
        table head."""
        if self.txn_catalog is not None:
            from cnpj_data_pipeline_spark.lake.txn_catalog import Catalog

            return Catalog.load(self.txn_catalog).read(spark, name)
        return LakeTable.load(self.table_path(name)).read(spark)
