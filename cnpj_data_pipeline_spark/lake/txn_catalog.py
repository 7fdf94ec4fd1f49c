"""Transactional multi-table catalog: atomic cross-table visibility.

The engine's per-table commits are atomic, but a change stream that spans
TABLES (a Debezium transaction touching parent and child, the reference's
per-run multi-file load over its FK DAG, ``main.py:162-189``) lands as N
independent table commits — a reader joining the heads mid-publish sees
torn state. ``lake/sql.py:consistent_frontier`` solves this read-side by
epoch alignment; this module solves it WRITE-side, the way an Iceberg REST
catalog runs multi-table transactions: the catalog is one tiny versioned
JSON file mapping table names to pinned snapshot ids, and advancing it is
a single exclusive-create CAS — the table format's own version log
(``lake/format.py``: ``_write_json`` exclusive create, forward-only
``_advance_hint``, probe-forward ``_log_head``; maps to a conditional PUT on
an object store), so a catalog version publishes exactly like a snapshot.
Readers that resolve tables THROUGH the catalog observe every transaction
all-or-nothing, regardless of how many tables it touched.

The transaction itself is two-phase over the existing write-audit-publish
machinery, so no new data path exists:

* **prepare** — each table's batch runs the FULL merge pipeline with
  ``apply_changes(stage_only=True)``: shuffled/folded/staged parquet +
  footer stats, invisible behind a pending-commit descriptor. When every
  table is staged, a prepared-transaction descriptor lands in the catalog
  dir (the format's fsync'd ``os.replace`` writer) — the 2PC commit record.
* **commit** — each staged batch is published (table-level commits, each
  idempotent under the exactly-once epoch ledger), then ONE catalog CAS
  makes the new pin vector visible. A crash anywhere in between leaves
  catalog readers on the old consistent vector; :meth:`Catalog.recover`
  replays the prepared record to completion (publishes are idempotent,
  the catalog publish merges monotonically), exactly-once throughout.

Retention interplay: every catalog version TAGS its pinned snapshots on
the member tables (``cat-<cid>-v<N>-<nonce>``; the nonce makes each
publish attempt's tags self-owned, so a lost CAS can never roll back a
concurrent winner's pins), so a table's own
``expire_snapshots`` can never strand a catalog version that readers may
still resolve; :meth:`Catalog.expire_versions` drops old versions and
exactly their tags. That also makes the catalog a cross-table time-travel
index: ``pins(version=k)`` reproduces the whole database as of version k.

Scale note: the catalog file is O(tables), not O(data) — one small JSON
per version. At 10^10 rows the CAS cost is identical to a single-table
commit; transaction cost is the N staged merges it would have paid anyway.

Reference analogue: none — Postgres gives the reference single-database
transactions for free but cannot fork, pin, or time-travel them; its
loader actually commits per file WITHOUT a spanning transaction
(``src/database/postgres.py:183-196``), so the torn-read window this
module closes exists in the reference deployment itself.
"""

from __future__ import annotations

import glob
import json
import os
import uuid as _uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from cnpj_data_pipeline_spark.lake.format import (
    CommitConflictError,
    EpochAlreadyAppliedError,
    LakeTable,
    _advance_hint,
    _log_head,
    _read_json,
    _utcnow_iso,
    _write_json,
    as_table,
)


class Catalog:
    """A versioned name -> (root, snapshot id) map with CAS publication.

    Layout under ``root``::

        catalog-v<N>.json   one immutable version manifest per publish
        _current            roll-forward pointer hint (probe past it)
        txn-<token>.json    prepared-transaction records (2PC commit log)
    """

    def __init__(self, root: str):
        self.root = root

    # ---------------- construction ----------------

    @classmethod
    def create(
        cls, root: str, tables: dict[str, "LakeTable | str"] | None = None
    ) -> "Catalog":
        cat = cls(root)
        if os.path.exists(cat._pointer_path()):
            raise FileExistsError(f"catalog already exists at {root}")
        os.makedirs(root, exist_ok=True)
        pins = {}
        for name, t in (tables or {}).items():
            lt = as_table(t)
            pins[name] = {
                "root": os.path.abspath(lt.root),
                "snapshot_id": lt.current_snapshot_id(),
            }
        cid = _uuid.uuid4().hex[:8]
        ver = {
            "version": 0,
            "catalog_id": cid,
            "tables": pins,
            "committed_at": _utcnow_iso(),
            "tag": f"cat-{cid}-v0-{_uuid.uuid4().hex[:8]}",
        }
        cat._tag_pins(ver)
        cat._publish(ver)
        return cat

    @classmethod
    def load(cls, root: str) -> "Catalog":
        cat = cls(root)
        if not os.path.exists(cat._pointer_path()):
            raise FileNotFoundError(f"no catalog at {root}")
        return cat

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(cls(root)._pointer_path())

    # ---------------- metadata primitives ----------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_current")

    def _version_path(self, n: int) -> str:
        return os.path.join(self.root, f"catalog-v{n}.json")

    def _txn_path(self, token: str) -> str:
        return os.path.join(self.root, f"txn-{token}.json")

    def current_version(self) -> int:
        return _log_head(self._pointer_path(), self._version_path)

    def version(self, n: int | None = None) -> dict:
        if n is None:
            n = self.current_version()
        return _read_json(self._version_path(n))

    def _publish(self, ver: dict) -> int:
        """The catalog's commit: exclusive creation of the version manifest
        (the CAS — ``FileExistsError`` on a lost race), then the pointer
        hint; the same log primitives as a table's snapshot manifests."""
        _write_json(self._version_path(ver["version"]), ver, exclusive=True)
        self._swap_pointer(ver["version"])
        return ver["version"]

    def _swap_pointer(self, n: int) -> None:
        _advance_hint(self._pointer_path(), n)

    # ---------------- reads ----------------

    def pins(self, version: int | None = None) -> dict[str, dict]:
        """name -> {root, snapshot_id} at a catalog version (default
        head) — the cross-table time-travel read point."""
        return dict(self.version(version)["tables"])

    def table(self, name: str) -> LakeTable:
        pins = self.pins()
        if name not in pins:
            raise KeyError(f"no table {name!r} in catalog (have {sorted(pins)})")
        return LakeTable.load(pins[name]["root"])

    def read(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        """Read a member table AT ITS CATALOG PIN — the atomic-visibility
        read path (a direct ``LakeTable.read`` sees the table head, which
        may be mid-transaction)."""
        pin = self.pins(version)[name]
        return LakeTable.load(pin["root"]).read(
            spark, snapshot_id=pin["snapshot_id"]
        )

    def register_views(
        self, spark: SparkSession, version: int | None = None
    ) -> dict[str, int]:
        """Register every member table as a SQL view pinned at the catalog
        version — all-or-nothing visibility for ``spark.sql`` consumers."""
        from cnpj_data_pipeline_spark.lake.sql import register_view

        pins = self.pins(version)
        out = {}
        for name, pin in pins.items():
            register_view(
                spark,
                LakeTable.load(pin["root"]),
                name,
                snapshot_id=pin["snapshot_id"],
            )
            out[name] = pin["snapshot_id"]
        return out

    # ---------------- writes ----------------

    def _tag_name(self, ver: dict) -> str:
        # Each publish ATTEMPT owns a nonce-unique tag name, recorded in the
        # version manifest. Without the nonce, two publishers racing for the
        # same version number would share one tag name: the CAS loser's
        # rollback (_drop_version_tags) would then delete the WINNER's
        # committed pins, and a pin mismatch would escape _tag_pins as a raw
        # FileExistsError instead of the documented rebase. The fallback
        # covers version manifests written before the nonce existed.
        return ver.get("tag") or f"cat-{ver['catalog_id']}-v{ver['version']}"

    def _tag_pins(self, ver: dict) -> None:
        """Pin every member snapshot BEFORE the version becomes visible —
        a catalog version must never reference expirable state."""
        tag = self._tag_name(ver)
        done: list[tuple[str, str]] = []
        try:
            for pin in ver["tables"].values():
                LakeTable.load(pin["root"]).create_tag(
                    tag, pin["snapshot_id"]
                )
                done.append((pin["root"], tag))
        except BaseException:
            for root, t in done:
                try:
                    LakeTable.load(root).drop_tag(t)
                except OSError:
                    pass
            raise

    def _drop_version_tags(self, ver: dict) -> None:
        tag = self._tag_name(ver)
        for pin in ver["tables"].values():
            try:
                LakeTable.load(pin["root"]).drop_tag(tag)
            except OSError:
                pass

    def register(self, name: str, table: "LakeTable | str") -> int:
        lt = as_table(table)
        return self.publish(
            {name: lt.current_snapshot_id()},
            _new_roots={name: os.path.abspath(lt.root)},
        )

    def publish(
        self,
        updates: dict[str, int],
        expected_version: int | None = None,
        max_retries: int = 10,
        _new_roots: dict[str, str] | None = None,
    ) -> int:
        """Advance pins for ``updates`` (name -> snapshot id) in ONE atomic
        version bump. Losing the CAS to a concurrent publisher rebases:
        pins are re-merged onto the new head (per-table ``max`` — both sids
        are commits in that table's linear history, the later one contains
        the earlier) and the next version id is attempted.
        ``expected_version`` turns rebase off — the publish aborts with
        :class:`CommitConflictError` if the head moved (the CAS-guard form,
        for callers whose updates were computed FROM a specific version)."""
        new_roots = _new_roots or {}
        unknown = set(updates) - set(self.pins()) - set(new_roots)
        if unknown:
            raise KeyError(
                f"cannot publish unregistered table(s) {sorted(unknown)}"
            )
        for attempt in range(max_retries):
            head_n = self.current_version()
            if expected_version is not None and head_n != expected_version:
                raise CommitConflictError(
                    f"catalog moved {expected_version} -> {head_n} "
                    "underneath this publish; re-plan from the head"
                )
            head = self.version(head_n)
            tables = {k: dict(v) for k, v in head["tables"].items()}
            for name, sid in updates.items():
                if name in tables:
                    tables[name]["snapshot_id"] = max(
                        int(sid), tables[name]["snapshot_id"]
                    )
                else:
                    tables[name] = {
                        "root": new_roots[name],
                        "snapshot_id": int(sid),
                    }
            if tables == head["tables"]:
                # no-op publish: every pin is already at (or past) the
                # requested sid — e.g. an idempotently re-run transaction
                # whose statements all skipped under the epoch ledger. The
                # consistent vector is unchanged; don't burn a version.
                return head_n
            ver = {
                "version": head_n + 1,
                "catalog_id": head["catalog_id"],
                "tables": tables,
                "committed_at": _utcnow_iso(),
                "tag": (
                    f"cat-{head['catalog_id']}-v{head_n + 1}"
                    f"-{_uuid.uuid4().hex[:8]}"
                ),
            }
            self._tag_pins(ver)
            try:
                return self._publish(ver)
            except FileExistsError:
                self._drop_version_tags(ver)
                if expected_version is not None:
                    raise CommitConflictError(
                        f"lost the catalog CAS at version {ver['version']}"
                    )
        raise CommitConflictError(
            f"lost the catalog publish race {max_retries} times; giving up"
        )

    # ---------------- transactions ----------------

    def begin(self, cfg=None) -> "MultiTableTransaction":
        return MultiTableTransaction(self, cfg=cfg)

    def pending_transactions(self) -> list[dict]:
        out = []
        for p in glob.glob(os.path.join(self.root, "txn-*.json")):
            try:
                with open(p) as f:
                    out.append(json.load(f))
            except (OSError, ValueError):
                pass
        return sorted(out, key=lambda d: d.get("created_at", ""))

    def recover(self) -> list[int]:
        """Complete every prepared transaction that crashed mid-commit.
        Idempotent: table publishes re-attach or skip under the epoch
        ledger, the catalog publish merges monotonically. Returns the
        catalog versions produced."""
        versions = []
        for txn in self.pending_transactions():
            versions.append(self._complete(txn))
        return versions

    def _complete(self, txn: dict) -> int:
        pins = self.pins()
        sids: dict[str, int] = {}
        new_roots: dict[str, str] = {}
        for entry in txn["updates"]:
            if entry["name"] in pins:
                table = LakeTable.load(pins[entry["name"]]["root"])
            else:
                # a table created OUTSIDE the catalog joins it atomically
                # with this transaction's commit (table + first data in one
                # visibility event)
                table = LakeTable.load(entry["root"])
                new_roots[entry["name"]] = entry["root"]
            staged = {d["token"] for d in table.list_staged()}
            if entry["token"] is not None and entry["token"] in staged:
                try:
                    sids[entry["name"]] = table.publish_staged(entry["token"])
                    continue
                except EpochAlreadyAppliedError:
                    # a concurrent writer landed the same epoch(s): content
                    # is identical under the shared WAL, the staged copy was
                    # abandoned by publish_staged — pin at the head that
                    # contains them
                    pass
            sids[entry["name"]] = table.current_snapshot_id()
        n = self.publish(sids, _new_roots=new_roots)
        try:
            os.remove(self._txn_path(txn["token"]))
        except OSError:
            pass
        return n

    # ---------------- retention ----------------

    def expire_versions(self, keep_last: int = 10) -> dict:
        """Drop catalog versions beyond the newest ``keep_last`` and exactly
        their snapshot tags — after which the member tables' own
        ``expire_snapshots`` may reclaim the underlying state."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        head = self.current_version()
        self._swap_pointer(head)
        removed = 0
        for p in glob.glob(os.path.join(self.root, "catalog-v*.json")):
            try:
                n = int(os.path.basename(p)[len("catalog-v"):-len(".json")])
            except ValueError:
                continue
            if n > head - keep_last:
                continue
            try:
                with open(p) as f:
                    self._drop_version_tags(json.load(f))
            except (OSError, ValueError):
                pass
            try:
                os.remove(p)
                removed += 1
            except OSError:
                pass
        return {"versions_removed": removed, "head": head}


class MultiTableTransaction:
    """One atomic unit of work across catalog tables (2PC over WAP).

    Usage::

        txn = catalog.begin()
        txn.apply(spark, "convs", conv_batch, epoch=e)
        txn.apply(spark, "turns", turn_batch, epoch=e)
        version = txn.commit()        # or txn.abort()

    ``apply`` runs the full merge pipeline and STAGES the result (nothing
    visible); ``commit`` writes the prepared record, publishes each table,
    and advances the catalog in one CAS. Catalog readers never observe a
    subset of the transaction's tables."""

    def __init__(self, catalog: Catalog, cfg=None):
        self.catalog = catalog
        self.cfg = cfg
        self.token = _uuid.uuid4().hex[:16]
        self._staged: list[dict] = []
        # per-table highest LSN staged so far in THIS transaction: driver
        # statements (UPDATE/DELETE) mint above it, so a later statement
        # beats an earlier MERGE's WAL offsets in the fold regardless of
        # how far those sit above the published high-water mark
        self._lsn_floor: dict[str, int] = {}
        self._done = False

    def apply(
        self,
        spark: SparkSession,
        name: str,
        changes: DataFrame,
        epoch: "int | Iterable[int]",
        cfg=None,
    ) -> dict:
        if self._done:
            raise RuntimeError("transaction already finished")
        from cnpj_data_pipeline_spark.operators.merge import apply_changes

        table = self._resolve(name)
        m = apply_changes(
            spark, table, changes, epoch=epoch, cfg=cfg or self.cfg,
            stage_only=True,
        )
        if m.get("max_lsn") is not None:
            self._lsn_floor[name] = max(
                self._lsn_floor.get(name, 0), int(m["max_lsn"])
            )
        self._record(name, table, m, epoch)
        return m

    def sql(
        self,
        spark: SparkSession,
        statement: str,
        epoch: "int | Iterable[int]",
        tables: "dict[str, LakeTable | str] | None" = None,
        cfg=None,
    ) -> dict:
        """Run one DML statement (``lake/dml.py`` grammar) INSIDE the
        transaction: the statement compiles to the same gated apply but
        STAGES instead of committing — nothing is visible until
        :meth:`commit`'s catalog CAS. The target resolves through the
        catalog's current pins first, then through ``tables`` (a table
        created outside the catalog joins it atomically at commit).

        Isolation is snapshot-level: statements read the PRE-transaction
        state — a later statement does not see an earlier statement's
        staged rows (read-your-writes would require reading staged files;
        the MoR engine deliberately never does on ingest). ORDERING is
        still statement order: driver statements (UPDATE/DELETE) mint
        their LSNs above both the published high-water mark and the
        highest LSN any earlier statement in this block staged for the
        table (the per-table floor), shifted by a per-table statement
        counter — so a later driver statement beats an earlier MERGE's WAL
        offsets in the fold, and driver statements beat each other in
        block order. (Their row CONTENT still derives from the pre-block
        snapshot — no read-your-writes.)"""
        if self._done:
            raise RuntimeError("transaction already finished")
        from cnpj_data_pipeline_spark.lake.dml import (
            merge_into,
            statement_target,
        )

        name = statement_target(statement)
        table = self._resolve(name, tables)
        offset = sum(1 for e in self._staged if e["name"] == name)
        m = merge_into(
            spark, statement, {name: table}, epoch=epoch,
            cfg=cfg or self.cfg, stage_only=True, lsn_offset=offset,
            lsn_floor=self._lsn_floor.get(name, 0),
        )
        if m.get("max_lsn") is not None:
            self._lsn_floor[name] = max(
                self._lsn_floor.get(name, 0), int(m["max_lsn"])
            )
        self._record(name, table, m, epoch)
        return m

    def _resolve(
        self, name: str, tables: "dict[str, LakeTable | str] | None" = None
    ) -> LakeTable:
        pins = self.catalog.pins()
        if name in pins:
            return LakeTable.load(pins[name]["root"])
        if tables and name in tables:
            return as_table(tables[name])
        raise KeyError(
            f"no table {name!r} in catalog (have {sorted(pins)}) or in the "
            "supplied registry"
        )

    def record_staged(
        self, name: str, table: LakeTable, m: dict, epoch
    ) -> None:
        """Adopt a batch the CALLER staged itself — e.g. through the
        co-partitioned map-only kernel (``apply_changes_copart(...,
        stage_only=True)``), which :meth:`apply` cannot reach — into this
        transaction. ``m`` is that apply's metrics dict (staged or
        ledger-skipped)."""
        if self._done:
            raise RuntimeError("transaction already finished")
        if not (m.get("staged") or m.get("skipped")):
            raise ValueError(
                "record_staged expects stage_only metrics (staged or "
                "skipped) — a committed apply cannot join a transaction"
            )
        if m.get("max_lsn") is not None:
            self._lsn_floor[name] = max(
                self._lsn_floor.get(name, 0), int(m["max_lsn"])
            )
        self._record(name, table, m, epoch)

    def _record(self, name: str, table: LakeTable, m: dict, epoch) -> None:
        """Remember the staged token (or the ledger skip: ``token=None``
        pins that table at its head on commit — the idempotent-replay
        no-op)."""
        self._staged.append(
            {
                "name": name,
                "token": m.get("token") if not m.get("skipped") else None,
                "epochs": [epoch] if isinstance(epoch, int) else sorted(epoch),
                "root": os.path.abspath(table.root),
            }
        )

    def prepare(self) -> dict:
        """Phase-one finish for an EXTERNAL coordinator: make the prepared
        record durable (the 2PC commit point) without publishing anything.
        From here the transaction WILL complete exactly-once — immediately
        via :meth:`commit`, or after any crash via :meth:`Catalog.recover`
        (the path a restarted driver takes). Returns the prepared record."""
        if self._done:
            raise RuntimeError("transaction already finished")
        if not self._staged:
            raise ValueError("empty transaction")
        self._done = True
        txn = {
            "token": self.token,
            "updates": self._staged,
            "created_at": _utcnow_iso(),
        }
        # the 2PC commit point: prepared record durable
        _write_json(self.catalog._txn_path(self.token), txn)
        return txn

    def commit(self) -> int:
        if not self._staged:
            # ``BEGIN; COMMIT;`` with no writes (or a read-only block) is
            # legal SQL — a no-op that publishes nothing and bumps nothing.
            # prepare() stays strict: an external 2PC coordinator preparing
            # an EMPTY transaction is a coordination bug worth surfacing.
            self._done = True
            return self.catalog.current_version()
        return self.catalog._complete(self.prepare())

    def abort(self) -> None:
        """Release every staged batch (files become orphan debris behind
        their dropped descriptors, GC'd by clean_orphans)."""
        if self._done:
            return
        self._done = True
        for entry in self._staged:
            if entry["token"] is None:
                continue
            try:
                LakeTable.load(entry["root"]).abandon_staged(entry["token"])
            except (OSError, FileNotFoundError, KeyError):
                pass
