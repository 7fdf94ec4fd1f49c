"""Lakehouse-lite: a from-scratch Iceberg-semantics table format on Parquet.

Why from scratch: this sandbox has no network and no iceberg/delta runtime jars
(verified), and the north rule demands a from-scratch engine, not a port. The
format reproduces the Iceberg properties the engine needs:

* **Snapshot isolation + atomic commit** — data files are written under a
  staging path that no reader can discover; visibility flips only when the
  JSON snapshot manifest is EXCLUSIVELY created (the optimistic-concurrency
  CAS; ``_current`` is a roll-forward hint readers probe past). A crash at
  any earlier step leaves the table unchanged (orphan files are GC-able).
  This fixes the reference's mark-after-partial-failure window
  (``main.py:180-189`` marks every file processed even when some failed) by
  making the manifest the only commit point.
* **Exactly-once lineage** — each snapshot embeds the epoch it applied plus
  per-bucket ``(rows, max_lsn)`` watermarks; the cumulative ``applied_epochs``
  set is the replacement for the reference's ``processed_files`` checkpoint
  table (``src/database/postgres.py:122-196``).
* **Additive schema evolution** — the snapshot carries the table schema; old
  data files are read with the evolved schema (missing columns → NULL), the
  `mergeSchema` semantics done explicitly.
* **File-level stats (manifest-style)** — per data file we record row count and
  min/max LSN straight from Parquet footers (no data scan), Iceberg-manifest
  style, enabling watermark queries and future pruning without touching data.
* **Time travel** — any historical snapshot can be read by id.

Physical layout::

    <root>/data/stage-<writer-unique>/__bucket=<b>/part-*.parquet
    <root>/meta/snapshot-<N>.json  # exclusive create = the commit point
    <root>/meta/_current           # pointer HINT: probe forward from here

Rows are clustered into ``n_buckets`` hash buckets on
``xxhash64(conv_id, turn_idx)``. Two write paths (Iceberg CoW-vs-MoR trade):

* **merge-on-read (default)** — each epoch appends its LWW winners as delta
  files to the touched buckets (cost O(batch), independent of table size —
  the property that keeps ingest viable at 10^10 rows where every batch
  touches every bucket). A per-bucket ``merged`` flag records whether the
  bucket holds exactly one winner per key; readers run the LWW window only
  over unmerged buckets. ``compact()`` rewrites multi-generation buckets back
  to one winner per key, bounding read cost.
* **copy-on-write** — a merge rewrites touched buckets to final state
  (cheap reads, O(table) writes when batches touch all buckets).

Tombstones (``__op = 'D'``) are retained so late events with lower LSN
than an applied delete lose deterministically; ``vacuum()`` drops tombstones
below a caller-supplied LSN horizon.

Meta columns stored per row: ``__lsn`` (the LSN that produced the row) and
``__op`` (its original op) — keeping the original op means re-merging state
rows against late/duplicate events reproduces exactly the same total order the
oracle uses, no special state-vs-change tie rules.

Multi-writer protocol (optimistic concurrency, round 3): the commit point is
the EXCLUSIVE creation of ``snapshot-<N>.json`` (``os.link`` of a fully
written+fsynced temp file — fails atomically if another writer took id N).
The ``_current`` pointer is a roll-forward HINT, not the commit: readers
resolve the true head by probing forward from the pointer for the next
manifest id (Iceberg's HadoopTableOperations version-hint scheme). A writer
that loses the CAS race re-reads the new head, REBASES its prepared commit
(append commits rebase trivially — their staged delta files just attach to
the new parent; replace commits validate that no intervening commit touched
their victim buckets and abort with :class:`CommitConflictError` otherwise),
and retries with the next id. Exactly-once survives racing ingest writers:
an epoch already present in the new head's ``applied_epochs`` raises
:class:`EpochAlreadyAppliedError` instead of double-applying. Data files are
staged under a per-attempt unique ``data/stage-*`` directory that no reader
can discover, so concurrent writers never collide on staging paths; a crash
at any point before the manifest link leaves the table unchanged (orphan
files are GC-able). Readers never lock.

One builder, one log: :func:`_next_snapshot` is the only code that builds a
snapshot manifest — create, every commit attempt, rollback, clone, and the
write-audit preview (so the preview IS what the publish commits). The log
primitives — :func:`_write_json` (fsync'd temp file, then ``os.link``
exclusive create or ``os.replace``), :func:`_advance_hint` (forward-only
pointer) and :func:`_log_head` (probe forward) — serve table manifests,
snapshot tags and the multi-table catalog (``lake/txn_catalog.py``) alike.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os
import re
import threading
import time as _time
import uuid as _uuid
from contextlib import contextmanager
from typing import Callable, Iterable, Sequence

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.config import (
    BUCKET_COL,
    LSN_META_COL,
)
from cnpj_data_pipeline_spark.schemas import schema_from_json, union_schema

OP_META_COL = "__op"


@contextmanager
def scoped_sql_conf(spark: SparkSession, settings: dict):
    """Pin SQL confs around one job, restoring the caller's values after.
    SQL confs are read lazily at physical planning, so pinning just before
    the action covers a DataFrame built earlier."""
    prev: dict = {}
    for k, v in settings.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


@contextmanager
def owned_write_conf(spark: SparkSession):
    """Pin the physical parquet encoding the TABLE FORMAT owns around a
    Spark write job, whatever the caller session's confs say.

    The reference's Postgres server made column physical types authoritative
    regardless of client settings (init-db/postgres.sql:72-95); a lake format
    must do the same or its files' encodings follow whoever wrote them. A
    vanilla SparkSession writes parquet timestamps as INT96 (read back by
    Arrow as tz-naive ``timestamp[ns]``) while the engine session writes
    ``TIMESTAMP_MICROS`` (``timestamp[us, tz=UTC]``) — mixed-generation
    buckets then hold two encodings. The Arrow kernels normalize per file
    anyway (``operators.copart._normalize_to``), but uniform table files keep
    every other reader (DuckDB, plain pyarrow, external tools) simple.

    ``spark.sql.parquet.outputTimestampType`` is a session-scoped SQL conf
    (there is no per-write DataFrameWriter option for it), so pin + restore.
    Concurrent engine writers in one session race benignly: both pin the
    same value."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def local_frame(
    spark: SparkSession, schema: T.StructType, rows: Sequence = ()
) -> DataFrame:
    """A ``schema``-typed frame over driver-side ``rows`` (tuples or Rows
    in field order, as ``collect`` returns them), planned as a JVM
    LocalRelation built from Arrow: evaluating it starts no Python worker.
    ``createDataFrame(list)`` is a parallelize-backed scan that starts one
    Python task per default partition on EVERY evaluation, an empty frame
    included. Values pass through each
    type's ``toInternal``, so collected values — naive local timestamps
    included — round-trip exactly."""
    return spark.createDataFrame(_arrow_rows(schema, rows), schema)


def _arrow_rows(schema: T.StructType, rows: Sequence = ()):
    """Driver-side ``rows`` (in field order) as a ``schema``-typed Arrow
    table, each value through its type's ``toInternal``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = [
        pa.array([f.dataType.toInternal(r[i]) for r in rows], arrow.field(i).type)
        for i, f in enumerate(schema.fields)
    ]
    return pa.Table.from_arrays(cols, schema=arrow)


_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_scan_conf_lock = threading.Lock()


def scan_files(
    spark: SparkSession, files: Sequence[str], schema: T.StructType | None = None
) -> DataFrame:
    """A parquet scan over an explicit file list — a snapshot manifest's or
    a WAL epoch's — with ``schema`` pinned (``None`` infers it from the
    footers). No files and a schema give an empty ``local_frame``.

    Past ``parallelPartitionDiscovery.threshold`` paths (default 32), Spark
    stats them with a distributed job of one task per file. The manifest
    already names every file and the format's ``os.link`` CAS needs a
    POSIX filesystem the driver mounts, so the threshold is pinned to at
    least ``len(files)`` while ``load`` lists them, eagerly, on the driver.
    A missing file still fails at load. The lock keeps concurrent scans in
    one process from restoring each other's pinned value."""
    if not files and schema is not None:
        return local_frame(spark, schema)
    reader = spark.read if schema is None else spark.read.schema(schema)
    with _scan_conf_lock:
        pin = max(int(spark.conf.get(_DISCOVERY_THRESHOLD)), len(files))
        with scoped_sql_conf(spark, {_DISCOVERY_THRESHOLD: str(pin)}):
            return reader.parquet(*files)


CHANGE_TYPE_COL = "change_type"  # typed change feed (read_changes_typed)


class CommitConflictError(RuntimeError):
    """A concurrent commit invalidated this one and it cannot be rebased
    (a replace-mode commit whose victim buckets were touched, or a layout
    change underneath staged files). The caller re-runs the whole operation
    against fresh state — Iceberg's ValidationException analogue."""


class EpochAlreadyAppliedError(CommitConflictError):
    """A concurrent writer applied the same epoch first; this commit must
    not apply it again (exactly-once). Callers treat it as a skip."""


class FrontierConflictError(CommitConflictError):
    """The ``expected_props`` CAS guard failed: a racing consumer instance
    advanced the frontier property first. The epoch-ledger analogue of
    :class:`EpochAlreadyAppliedError` — callers treat it as a benign
    exactly-once skip, DISTINCT from other commit conflicts (rebase losses,
    layout changes) which signal real contention and must not be masked as
    a skip."""


PHYSICAL_META_FIELDS = [
    T.StructField(LSN_META_COL, T.LongType(), False),
    T.StructField(OP_META_COL, T.StringType(), False),
]

# Extra physical meta carried by PARTIAL-update tables (merge_engine=
# "partial"): per-column origin LSNs and the folded delete horizon — the
# provenance that keeps the per-column fold associative across compactions
# and out-of-order arrival (operators/partial.py module doc). Raw WAL rows
# lack them (schema-padded to NULL on read: origin defaults to the row LSN).
PARTIAL_META_FIELDS = [
    T.StructField(
        "__col_lsns", T.MapType(T.StringType(), T.LongType()), True
    ),
    T.StructField("__del_lsn", T.LongType(), True),
]


def _phys_meta_fields(snap: dict) -> list:
    """The physical meta columns a snapshot's files carry (engine-aware)."""
    if snap.get("merge_engine", "lww") != "lww":
        return PHYSICAL_META_FIELDS + PARTIAL_META_FIELDS
    return PHYSICAL_META_FIELDS


def _parse_utc_horizon(ts: "_dt.datetime | str") -> "_dt.datetime":
    """A wall-clock horizon as a NAIVE UTC datetime. Accepts datetimes
    (tz-aware converted, naive trusted as UTC) and ISO-8601 strings with or
    without fractional seconds, with 'Z' or a numeric offset — offsets are
    CONVERTED, never truncated (a +02:00 horizon silently read as UTC would
    shift retention/time travel by two hours)."""
    if isinstance(ts, str):
        s = ts.strip()
        if s.endswith(("Z", "z")):
            s = s[:-1] + "+00:00"
        ts = _dt.datetime.fromisoformat(s)
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts


def _map_refold_unsafe(snap: dict) -> bool:
    """True when a partial/aggregate table's fold cannot be re-run in the
    Arrow map kernel bit-identically to the Spark kernel, forcing the
    shuffle kernel for compaction/vacuum:

    * a FLOATING column folded by "sum" — float addition is
      order-sensitive, a numpy refold could differ in final bits;
    * a monoid fn over a type the numpy fold does not model exactly —
      "sum" on anything but LONG (decimals would truncate; narrower ints
      diverge on overflow: the map kernel's int64 accumulate + Arrow cast
      raises ArrowInvalid where the Spark long-sum path surfaces its own
      overflow behavior — routing to one kernel keeps the behavior
      single), or "min"/"max" outside integral/fractional/timestamp
      (strings, dates, decimals: the ufunc path would crash or corrupt);
    * any non-atomic payload column (map/array/struct) — the Spark fold
      tie-breaks those on to_json, which the Arrow twin does not replicate.
    """
    if snap.get("merge_engine", "lww") == "lww":
        return False
    sch = schema_from_json(snap["schema"])
    key_set = set(snap["key_cols"] or ())
    for f in sch.fields:
        if f.name not in key_set and isinstance(
            f.dataType, (T.MapType, T.ArrayType, T.StructType)
        ):
            return True
    spec = snap.get("agg_spec") or {}
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    fractional = (T.FloatType, T.DoubleType)
    orderable = integral + fractional + (T.TimestampType, T.TimestampNTZType)
    for c, fn in spec.items():
        dt = sch[c].dataType
        if fn == "sum" and not isinstance(dt, T.LongType):
            return True
        if fn in ("min", "max") and not isinstance(dt, orderable):
            return True
    return False


def batch_to_physical(df: DataFrame, snap: dict) -> DataFrame:
    """Map an incoming change batch's column names LOGICAL -> PHYSICAL at
    the apply boundary (identity when the snapshot has no renames). A
    post-rename producer sends the new logical name; a stale producer may
    still send the physical (old) name — or any RETIRED intermediate
    logical name (tool -> tool_name -> tool_label: a producer still on
    ``tool_name``) — all land in the same physical column, never a
    silently-evolved new one. A batch carrying MORE THAN ONE name for the
    same column is ambiguous and refused. Columns matching no historical
    name (genuinely new columns) pass through and take their own name as
    physical via schema-evolution union."""
    ren = snap.get("renames") or {}
    retired = snap.get("retired_names") or {}
    if not ren and not retired:
        return df
    inv = {l: p for p, l in ren.items()}
    inv.update(retired)
    cols = df.columns
    names_for: dict[str, list[str]] = {}
    for c in cols:
        names_for.setdefault(inv.get(c, c), []).append(c)
    dupes = {p: ns for p, ns in names_for.items() if len(ns) > 1}
    if dupes:
        raise ValueError(
            f"batch carries multiple historical names for the same "
            f"column(s) {dupes}: ambiguous — fix the producer"
        )
    if not any(c in inv for c in cols):
        return df
    return df.select(*[F.col(c).alias(inv.get(c, c)) for c in cols])


def bucket_expr(key_cols: Sequence[str] | None, n_buckets: int, lsn_col: str = "lsn"):
    """Stable bucket assignment on the FULL key. Hashing (conv_id, turn_idx)
    rather than conv_id alone spreads a hot conversation's turns over many
    buckets — the skew mitigation the north rule asks for, applied at the
    storage layout level.

    Keyless (append-only) tables bucket on the LSN instead — any even spread
    works because no per-key locality is required (there are no keys)."""
    if key_cols:
        cols = [F.col(c) for c in key_cols]
    else:
        cols = [F.col(lsn_col)]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def _utcnow_iso() -> str:
    return _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


# Driver-side metadata IO retry: the TableFormat claims object-store
# readiness, and object stores throw transient errors where a local FS never
# does. Mirrors the reference's DB-op backoff wrapper semantics
# (src/database/postgres.py:16-57: bounded attempts, exponential sleep) for
# the pointer/manifest reads and writes — the executors' data IO already has
# Spark task retries; this covers the driver's commit path.
_RETRY_ATTEMPTS = 5
_RETRY_BASE_SLEEP = 0.05


def _retry_conflicts(fn: Callable, attempts: int = 3):
    """Re-run a whole maintenance op when its replace-mode commit lost to a
    concurrent writer (the rewrite was stale): each retry recomputes from
    fresh state, so the conflicting delta is simply included this time.
    Exactly-once conflicts (EpochAlreadyApplied) are never retried — they
    are a success condition for the OTHER writer."""
    for i in range(attempts):
        try:
            return fn()
        except EpochAlreadyAppliedError:
            raise
        except CommitConflictError:
            if i == attempts - 1:
                raise


def _retry_io(fn: Callable, *args, **kwargs):
    last: Exception | None = None
    for attempt in range(_RETRY_ATTEMPTS):
        try:
            return fn(*args, **kwargs)
        except FileNotFoundError:
            # not transient: a missing manifest means the snapshot was
            # expired (or the table never existed) — surface immediately
            raise
        except FileExistsError:
            # not transient: an exclusive create losing the CAS race would
            # lose it again on every retry — surface to the commit loop
            raise
        except OSError as e:
            last = e
            if attempt < _RETRY_ATTEMPTS - 1:
                _time.sleep(_RETRY_BASE_SLEEP * (2**attempt))
    raise last


# ---------------- the version log: one CAS log for tables and catalogs ----
#
# A table's snapshot manifests and a multi-table catalog's versions (and a
# snapshot tag) are the same structure: immutable numbered JSON entries
# whose EXCLUSIVE creation is the commit point, plus a ``_current`` pointer
# HINT that readers probe forward from. These functions are that log; the
# owners only bind its paths.


def _read_json(path: str):
    def _read():
        with open(path) as f:
            return json.load(f)

    return _retry_io(_read)


def _write_json(path: str, obj, exclusive: bool = False) -> None:
    """The one durable JSON write of the metadata layer: dump + fsync a
    writer-unique temp file, then publish it under ``path`` in one atomic
    step. ``exclusive=True`` publishes with ``os.link`` — create-if-absent,
    the CAS that arbitrates writers racing for one name (``FileExistsError``
    when another writer holds it); otherwise ``os.replace`` overwrites. A
    crash before the publish leaves only an invisible temp file."""
    tmp = f"{path}.{os.getpid()}.{_uuid.uuid4().hex[:8]}.tmp"

    def _write() -> None:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        if exclusive:
            os.link(tmp, path)
        else:
            os.replace(tmp, path)

    try:
        _retry_io(_write)
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass


def _log_head(hint_path: str, entry_path: Callable[[int], str]) -> int:
    """True head of a version log: probe forward from the pointer hint for
    the next committed entry (the entry's exclusive creation is the commit
    point; the hint may lag a crashed or racing writer by a step). O(lag)
    existence probes — normally zero."""
    n = int(_read_json(hint_path))
    while os.path.exists(entry_path(n + 1)):
        n += 1
    return n


def _advance_hint(hint_path: str, n: int) -> None:
    """Advance a version log's pointer HINT (never the commit itself).
    Forward-only: a slower writer finishing an older entry must not move the
    hint backwards. The read-check/replace is not atomic, but a lost or
    stale hint only costs readers extra forward probes — it can never hide
    a committed entry."""
    try:
        if int(_read_json(hint_path)) >= n:
            return
    except (FileNotFoundError, ValueError):
        pass
    _write_json(hint_path, n)


def _json_stat(v):
    """Parquet footer stat value → JSON-storable (bytes → utf-8 str)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None  # dates/decimals etc.: skip rather than mis-serialize


def _stat_key(v):
    """Normalize a value (Parquet footer stat OR a caller's range-predicate
    bound) into the one JSON-storable, consistently-comparable domain the
    manifest column stats live in: bytes → utf-8 str, timestamps → epoch
    microseconds (naive treated as UTC), dates → ISO string, scalars as-is.
    Both sides of every pruning comparison pass through here, so the
    comparison is self-consistent whatever Parquet hands back."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None


def fold_file_stats(
    entries: Iterable[tuple[int, str, dict]],
) -> dict[int, dict]:
    """Fold per-file ``(bucket, relpath, _file_stats(...))`` entries into
    commit-ready ``bucket_updates``: bucket -> {files, rows, max_lsn,
    fstats}, where ``fstats`` is per-file ``[rows, max_lsn, kmin, kmax,
    cstats]``."""
    out: dict[int, dict] = {}
    for b, relpath, st in entries:
        info = out.setdefault(
            b, {"files": [], "rows": 0, "max_lsn": None, "fstats": []}
        )
        info["files"].append(relpath)
        info["rows"] += st["rows"]
        if st["max_lsn"] is not None:
            info["max_lsn"] = (
                st["max_lsn"]
                if info["max_lsn"] is None
                else max(info["max_lsn"], st["max_lsn"])
            )
        info["fstats"].append(
            [st["rows"], st["max_lsn"], st.get("kmin"), st.get("kmax"),
             st.get("cstats") or None]
        )
    return out


def _file_stats(
    path: str,
    lsn_col: str = LSN_META_COL,
    key_col: str | None = None,
    bloom: bool = False,
) -> dict:
    """Row count + min/max LSN + per-column min/max (``cstats``) from the
    Parquet footer only (no data read) — the Iceberg-manifest trick that
    makes watermark/pruning metadata free. The footer is parsed once; while
    we're there, every top-level column with JSON-able stats is harvested
    (the key column rides separately as kmin/kmax for read_keys), enabling
    file skipping on ANY scalar predicate column (read_range) at zero extra
    IO.

    ``bloom=True`` additionally reads the KEY COLUMN (the one deliberate
    data read — column-pruned, compressed) and writes the file's key bloom
    sidecar (``lake/bloom.py``). Callers that already hold the data in
    memory (the Arrow kernels) build sidecars themselves instead."""
    if bloom and key_col is not None:
        from cnpj_data_pipeline_spark.lake.bloom import write_sidecar

        try:
            col = _pq.ParquetFile(path).read(columns=[key_col])
            write_sidecar(path, col.column(key_col).to_pylist())
        except (OSError, KeyError):
            pass  # sidecars are caches; the file simply stays unpruned
    md = _pq.ParquetFile(path).metadata
    rows = md.num_rows
    lo = hi = klo = khi = None
    cstats: dict[str, list] = {}
    covered: dict[str, int] = {}  # rgs with valid stats, per column
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            if col.statistics is None or not col.statistics.has_min_max:
                continue
            st = col.statistics
            name = col.path_in_schema
            if name == lsn_col:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            elif key_col is not None and name == key_col:
                kmin, kmax = _json_stat(st.min), _json_stat(st.max)
                if kmin is not None and kmax is not None:
                    klo = kmin if klo is None else min(klo, kmin)
                    khi = kmax if khi is None else max(khi, kmax)
            if "." in name or name == OP_META_COL:
                continue  # nested leaves / op flag: not pruning targets
            cmin, cmax = _stat_key(st.min), _stat_key(st.max)
            if cmin is None or cmax is None:
                continue
            covered[name] = covered.get(name, 0) + 1
            if name not in cstats:
                cstats[name] = [cmin, cmax]
            else:
                cur = cstats[name]
                cur[0] = min(cur[0], cmin)
                cur[1] = max(cur[1], cmax)
    out = {
        "rows": rows,
        "min_lsn": lo,
        "max_lsn": hi,
        # only columns every row group has valid stats for: a partially
        # covered range understates the file's true span, and pruning on an
        # understated range would wrongly skip matching rows
        "cstats": {
            k: v
            for k, v in cstats.items()
            if covered.get(k, 0) == md.num_row_groups
        },
    }
    if key_col is not None:
        out["kmin"], out["kmax"] = klo, khi
    return out


def _pad_fstats(fs, n: int) -> list:
    fs = list(fs) if fs else []
    return fs + [None] * (n - len(fs))


def _next_snapshot(
    parent: dict | None,
    *,
    op: str,
    epochs: Sequence[int] = (),
    bucket_updates: dict | None = None,
    mode: str = "replace",
    merged: bool = True,
    new_schema: T.StructType | None = None,
    props: dict | None = None,
    drop_column: str | None = None,
    rename: tuple[str, str] | None = None,
    new_n_buckets: int | None = None,
    state: dict | None = None,
    origin: dict | None = None,
) -> dict:
    """The one builder of a snapshot manifest: the complete snapshot that
    follows ``parent`` (None: a table's first snapshot, id 0) after one
    commit's changes. Pure — no IO and no validation; callers check what
    must hold at the head (:meth:`LakeTable._build_and_cas`) first.

    Table state (schema, layout, engine, name maps, props, buckets,
    applied-epoch ledger) carries over from ``state`` when given — create's
    declaration, rollback's target snapshot, clone's source snapshot — else
    from ``parent``. ``origin`` replaces the per-bucket lineage with one
    marker row saying where that state came from.

    ``bucket_updates`` (keys: bucket ids, int or str) append to the carried
    buckets (``mode="append"``) or replace them; see :meth:`LakeTable.commit`
    for ``merged``, ``props``, ``drop_column``, ``rename``, ``new_schema``."""
    base = parent if state is None else state
    keyless = base["key_cols"] is None
    # scalar label for lineage/back-compat readers; the full window set
    # rides in "epochs" and the cumulative ledger in "applied_epochs"
    epoch = max(epochs) if epochs else None
    # a bucket-count change invalidates every old bucket assignment, so
    # the update set must be the COMPLETE new layout (rebucket rewrite)
    buckets = {} if new_n_buckets is not None else dict(base.get("buckets") or {})
    lineage = []
    for b, info in sorted(
        (bucket_updates or {}).items(), key=lambda kv: int(kv[0])
    ):
        prev = buckets.get(
            str(b), {"max_lsn": None, "files": [], "rows": 0, "merged": True}
        )
        max_lsn = info.get("max_lsn")
        if mode == "append":
            files = list(prev.get("files", [])) + list(info["files"])
            rows = prev.get("rows", 0) + info["rows"]
            fstats = _pad_fstats(
                prev.get("fstats"), len(prev.get("files", []))
            ) + _pad_fstats(info.get("fstats"), len(info["files"]))
            pmax = prev.get("max_lsn")
            if max_lsn is None or (pmax is not None and pmax > max_lsn):
                max_lsn = pmax
            gens = prev.get("gens", 1 if prev.get("files") else 0) + (
                1 if info["files"] else 0
            )
            # keyless tables have no per-key versions to resolve: every
            # generation is final state, so the bucket is always "merged".
            # For keyed tables a first generation is merged only if the
            # WRITER vouches it folded the batch (``merged``): a raw
            # (unfolded) generation — the partial engine's copart append,
            # or a chunk-split hot bucket — can hold several versions of
            # one key, and the fold-free merged fast path would surface
            # them all.
            is_merged = True if keyless else (gens <= 1 and merged)
        else:
            files = info["files"]
            rows = info["rows"]
            fstats = _pad_fstats(info.get("fstats"), len(files))
            if max_lsn is None:
                max_lsn = prev.get("max_lsn")
            # a path-only rewrite (localize: same bytes, new location)
            # carries the bucket's flags through verbatim; data rewrites
            # (compact/vacuum/CoW) omit them and take the defaults
            gens = info.get("gens", 1 if files else 0)
            is_merged = info.get("merged", merged)
        buckets[str(b)] = {
            "files": files,
            "rows": rows,
            "max_lsn": max_lsn,
            "merged": bool(is_merged),
            "gens": gens,
            "fstats": fstats,
        }
        lineage.append(
            {
                "partition_id": int(b),
                "epoch": epoch,
                "max_lsn": max_lsn,
                "rows_applied": info["rows"],
            }
        )
    if origin is not None:
        lineage = [
            {"partition_id": -1, "epoch": None, "max_lsn": None,
             "rows_applied": 0, **origin}
        ]
    applied = list(base.get("applied_epochs") or [])
    applied.extend(e for e in epochs if e not in applied)
    dropped_cols = list(base.get("dropped_cols") or [])
    renames = dict(base.get("renames") or {})
    retired = dict(base.get("retired_names") or {})
    schema_json = base["schema"]
    if rename is not None:
        phys, new_logical = rename
        # the name being renamed AWAY stays resolvable: record it in the
        # retired map (name -> physical) so a stale producer still sending
        # an INTERMEDIATE logical name (tool -> tool_name -> tool_label;
        # producer still says tool_name) maps into the right physical
        # column instead of silently evolving a brand new one. The
        # physical name itself needs no entry (it always maps), and the
        # new current name leaves the retired set.
        prev_logical = renames.get(phys, phys)
        if prev_logical not in (phys, new_logical):
            retired[prev_logical] = phys
        retired.pop(new_logical, None)
        if new_logical == phys:
            renames.pop(phys, None)
        else:
            renames[phys] = new_logical
    if drop_column is not None:
        # schema REPLACEMENT, not union (a union would keep the column);
        # recomputed from the parent so a concurrent evolve's new columns
        # survive and a concurrent identical drop is a no-op
        schema_json = T.StructType(
            [
                f for f in schema_from_json(schema_json).fields
                if f.name != drop_column
            ]
        ).json()
        if drop_column not in dropped_cols:
            dropped_cols.append(drop_column)
        # a dropped RENAMED column's logical name joins the retired map: a
        # stale producer still sending it must map to the tombstoned
        # physical name (and be ignored like any stale physical-name
        # producer), not evolve a brand-new column
        prev_logical = renames.pop(drop_column, None)
        if prev_logical:
            retired[prev_logical] = drop_column
    elif new_schema is not None:
        # union with the PARENT's schema (not the writer's baseline): a
        # concurrent evolve commit that won the race keeps its columns;
        # tombstoned names stay out
        schema_json = union_schema(
            schema_from_json(schema_json), new_schema, dropped=dropped_cols
        ).json()
    return {
        "snapshot_id": 0 if parent is None else parent["snapshot_id"] + 1,
        "parent_id": None if parent is None else parent["snapshot_id"],
        "epoch": epoch,
        "epochs": list(epochs),
        "op": op,
        "schema": schema_json,
        "key_cols": base["key_cols"],
        "bucket_cols": base.get("bucket_cols"),
        "merge_engine": base.get("merge_engine", "lww"),
        "agg_spec": base.get("agg_spec"),
        "dropped_cols": dropped_cols,
        "renames": renames,
        "retired_names": retired,
        "props": {**(base.get("props") or {}), **(props or {})},
        "n_buckets": (
            int(new_n_buckets) if new_n_buckets is not None else base["n_buckets"]
        ),
        "buckets": buckets,
        "applied_epochs": applied,
        "lineage": lineage,
        "rows_total": sum(i["rows"] for i in buckets.values()),
        "committed_at": _utcnow_iso(),
    }


def _check_at_head(
    cur: dict,
    new_schema: T.StructType | None = None,
    props: dict | None = None,
    drop_column: str | None = None,
    rename: tuple[str, str] | None = None,
) -> None:
    """Validate a commit's schema-changing arguments AT THE HEAD it is about
    to build on, not just at the snapshot its caller read: a concurrent
    drop/evolve/sort-order commit may have landed in between. Raises
    :class:`CommitConflictError`."""
    head_fields = {f.name for f in schema_from_json(cur["schema"]).fields}
    dropped = set(cur.get("dropped_cols") or ())
    renames = cur.get("renames") or {}
    retired = cur.get("retired_names") or {}
    if rename is not None:
        phys, new_logical = rename
        if phys not in head_fields:
            raise CommitConflictError(
                f"cannot rename {phys!r}: dropped by a concurrent commit"
            )
        logical_others = {
            renames.get(n, n) for n in head_fields if n != phys
        }
        if (
            new_logical in logical_others
            or (new_logical in head_fields and new_logical != phys)
            or new_logical in dropped
            or retired.get(new_logical, phys) != phys
        ):
            raise CommitConflictError(
                f"rename target {new_logical!r} collides with a "
                "column, tombstone or retired name at the commit head "
                "(concurrent evolve/drop); re-plan against fresh state"
            )
    # a drop racing a set_sort_order (either order) could otherwise leave
    # the head's sort_order naming a column the schema no longer has —
    # breaking every later compaction
    if drop_column is not None:
        head_so = (cur.get("props") or {}).get("sort_order") or ()
        if drop_column in head_so:
            raise CommitConflictError(
                f"cannot drop column {drop_column!r}: a concurrent "
                f"commit declared sort_order {list(head_so)} naming it; "
                "reset the sort order and retry"
            )
    if props and props.get("sort_order"):
        missing = [c for c in props["sort_order"] if c not in head_fields]
        if missing:
            raise CommitConflictError(
                f"sort_order names column(s) {missing} that no longer "
                "exist at the commit head (concurrent drop/evolve); "
                "re-declare against fresh state"
            )
    if drop_column is None and new_schema is not None:
        # a NEW physical column must not shadow a live logical name — two
        # user-visible columns would share one name (the racing twin of
        # rename_column's own collision check)
        added = {
            f.name for f in new_schema.fields
            if not isinstance(f.dataType, T.NullType)  # not added yet
        } - head_fields - dropped
        shadow = added & (set(renames.values()) | set(retired))
        if shadow:
            raise CommitConflictError(
                f"schema evolution adds column(s) {sorted(shadow)} "
                "that collide with a renamed column's current or "
                "retired logical name at the commit head; rename the "
                "incoming column upstream"
            )


class LakeTable:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.meta_dir = os.path.join(self.root, "meta")
        self.data_dir = os.path.join(self.root, "data")

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_cols: Sequence[str] | None,
        n_buckets: int,
        bucket_cols: Sequence[str] | None = None,
        merge_engine: str = "lww",
        agg_spec: dict | None = None,
    ) -> "LakeTable":
        """``key_cols=None`` declares a KEYLESS append-only table (the
        reference's no-PK ``socios`` path, src/database/postgres.py:213-214,
        init-db/postgres.sql:104-119): every change row is a pure insert with
        lineage/exactly-once, no LWW resolution, no tombstones.

        ``bucket_cols`` (default: the full key) clusters the layout on a
        SUBSET of the key — e.g. a (conv_id, turn_idx)-keyed table bucketed
        on conv_id alone keeps every turn of a conversation in one bucket,
        so conversation-level lookups and FK fan-outs (a parent row's change
        touching all its children) prune to one bucket instead of scanning
        the table (``read_keys(on=bucket_cols)``), and tables sharing the
        bucket spec are storage-co-partitioned for bucket-wise joins. The
        trade: a single hot conversation concentrates in one bucket — the
        merge's (bucket, salt-of-full-key) shuffle still spreads its WORK,
        only the file layout concentrates. Must be a subset of ``key_cols``
        (a key's versions must never span buckets).

        ``merge_engine``: how a key's versions resolve. "lww" (default) —
        newest ROW wins under the engine total order. "partial" — newest
        value wins PER COLUMN (Paimon's partial-update merge engine, done
        associatively — see ``operators/partial.py``). "aggregate" — each
        column folds by its ``agg_spec`` fn ("sum"/"min"/"max"/"last",
        default "last"): the stream ships deltas, the table holds running
        aggregates (Paimon's aggregation engine); tombstones are REJECTED
        at ingest (a sum cannot retract a folded contribution). Both
        non-default engines require key columns and merge-on-read."""
        if merge_engine not in ("lww", "partial", "aggregate"):
            raise ValueError(f"unknown merge_engine {merge_engine!r}")
        if merge_engine != "lww" and key_cols is None:
            raise ValueError(
                f"merge_engine={merge_engine!r} folds versions per key — a "
                "keyless append-only table has no versions to fold"
            )
        if agg_spec is not None and merge_engine != "aggregate":
            raise ValueError("agg_spec is only valid with merge_engine='aggregate'")
        if merge_engine == "aggregate":
            from cnpj_data_pipeline_spark.operators.partial import AGG_FNS

            agg_spec = dict(agg_spec or {})
            field_names = {f.name for f in schema.fields}
            bad = {
                c: f
                for c, f in agg_spec.items()
                if f not in AGG_FNS
                or c not in field_names
                or c in set(key_cols or ())
            }
            if bad:
                raise ValueError(
                    f"invalid agg_spec entries {bad}: fns must be one of "
                    f"{AGG_FNS} over non-key payload columns"
                )
            # type validation: a monoid fn over a type it cannot fold is a
            # latent corruption, not a preference — reject at declaration
            by_name = {f.name: f.dataType for f in schema.fields}
            numeric = (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType,
            )
            orderable = numeric + (
                T.TimestampType, T.TimestampNTZType, T.DateType,
                T.StringType, T.BooleanType,
            )
            bad_types = {
                c: (f, by_name[c].simpleString())
                for c, f in agg_spec.items()
                if (f == "sum" and not isinstance(by_name[c], numeric))
                or (
                    f in ("min", "max")
                    and not isinstance(by_name[c], orderable)
                )
            }
            if bad_types:
                raise ValueError(
                    f"agg_spec fns over unfoldable column types: "
                    f"{bad_types} (sum needs a numeric column; min/max an "
                    "orderable atomic one)"
                )
        if bucket_cols is not None:
            if key_cols is None:
                raise ValueError("bucket_cols requires a keyed table")
            if not bucket_cols or not set(bucket_cols) <= set(key_cols):
                raise ValueError(
                    f"bucket_cols {list(bucket_cols)} must be a non-empty "
                    f"subset of key_cols {list(key_cols)}"
                )
        t = cls(root)
        if os.path.exists(t._pointer_path()):
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        t._publish(
            _next_snapshot(
                None,
                op="create",
                state={
                    "schema": schema.json(),
                    "key_cols": list(key_cols) if key_cols is not None else None,
                    "bucket_cols": (
                        list(bucket_cols) if bucket_cols is not None else None
                    ),
                    "merge_engine": merge_engine,
                    "agg_spec": agg_spec if merge_engine == "aggregate" else None,
                    "n_buckets": int(n_buckets),
                },
            )
        )
        return t

    @classmethod
    def load(cls, root: str) -> "LakeTable":
        t = cls(root)
        if not os.path.exists(t._pointer_path()):
            raise FileNotFoundError(f"no lake table at {root}")
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(cls(root)._pointer_path())

    # ---------------- metadata ----------------

    def _pointer_path(self) -> str:
        return os.path.join(self.meta_dir, "_current")

    def _snapshot_path(self, sid: int) -> str:
        return os.path.join(self.meta_dir, f"snapshot-{sid}.json")

    def current_snapshot_id(self) -> int:
        """True head: the pointer hint probed forward (:func:`_log_head`)."""
        return _log_head(self._pointer_path(), self._snapshot_path)

    def snapshot(self, sid: int | str | None = None) -> dict:
        if sid is None:
            sid = self.current_snapshot_id()
        elif isinstance(sid, str):
            sid = self.resolve_tag(sid)
        return _read_json(self._snapshot_path(sid))

    def snapshot_as_of(self, ts: "_dt.datetime | str") -> int:
        """TIMESTAMP AS OF time travel (Iceberg's ``snapshot_at``): the id of
        the newest reachable snapshot committed at or before ``ts`` (UTC
        datetime or ISO string). Raises if the horizon predates all retained
        history — expired snapshots cannot be resurrected."""
        horizon = _parse_utc_horizon(ts)
        best = None
        for s in self.snapshots():
            at = _dt.datetime.strptime(
                s["committed_at"], "%Y-%m-%dT%H:%M:%S.%fZ"
            )
            if at <= horizon:
                best = s["snapshot_id"]
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts} — history "
                "before that point has been expired"
            )
        return best

    def snapshots(self) -> list[dict]:
        """All committed snapshots reachable from the current pointer (lineage
        chain, oldest first) — the time-travel index. The walk stops at the
        expiration horizon: ``expire_snapshots`` deletes old manifests, so a
        missing parent manifest marks truncated history, not corruption."""
        chain = []
        sid: int | None = self.current_snapshot_id()
        while sid is not None:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                break
            chain.append(s)
            sid = s["parent_id"]
        return list(reversed(chain))

    def schema(self, sid: int | None = None) -> T.StructType:
        return schema_from_json(self.snapshot(sid)["schema"])

    def physical_schema(self, sid: int | None = None) -> T.StructType:
        snap = self.snapshot(sid)
        return T.StructType(
            list(schema_from_json(snap["schema"]).fields)
            + _phys_meta_fields(snap)
        )

    # ---------------- column rename (name-mapping) evolution ----------

    def renames(self, sid: int | None = None) -> dict[str, str]:
        """PHYSICAL -> LOGICAL column-name map at a snapshot (empty when no
        column was ever renamed). The engine's lightweight form of Iceberg
        field-id indirection / Delta ``columnMapping.mode=name``: data
        files ALWAYS store a column under its physical name (the name it
        first entered the schema with, stable forever), and a rename only
        changes the logical name readers and writers speak — metadata-only,
        no data rewrite, and pre-rename files read back under the new name
        because their physical column still matches. Snapshot-versioned:
        time travel to a pre-rename snapshot reads the old names."""
        return dict(self.snapshot(sid).get("renames") or {})

    def logical_schema(self, sid: int | None = None) -> T.StructType:
        """The user-facing schema: the stored (physical) schema with the
        snapshot's renames applied. Equal to ``schema()`` when no column
        was ever renamed."""
        snap = self.snapshot(sid)
        ren = snap.get("renames") or {}
        return T.StructType(
            [
                T.StructField(ren.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema_from_json(snap["schema"]).fields
            ]
        )

    @staticmethod
    def _resolve_column(name: str, snap: dict) -> str:
        """A LOGICAL (or already-physical) column name -> PHYSICAL name.
        Rename validation guarantees a logical name never collides with
        another column's physical name, so the lookup is unambiguous."""
        for p, l in (snap.get("renames") or {}).items():
            if l == name:
                return p
        return name

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN evolution (the upstream ``ALTER TABLE RENAME`` a
        real CDC stream carries — the reference's entire schema system is
        rename-driven, src/processor.py:507-519 positional->name mapping).
        Metadata-only: updates the physical->logical name map (see
        :meth:`renames`); no file is rewritten, and every read path aliases
        the physical column to its current logical name at the API
        boundary. ``old`` may be the current logical name or the physical
        name. Renaming back to the physical name clears the map entry.

        Refused for key/bucket columns — not because the rename would be
        unsound (bucket hashes are over values), but because the key names
        are the cross-cutting contract of WAL layout descriptors, lookup
        APIs and downstream consumers; versioning THOSE is out of scope.
        ``new`` must not collide with any current logical OR physical name
        (physical too, so the batch-entry and per-file inverse mapping is
        always unambiguous) nor with a dropped-column tombstone."""
        snap = self.snapshot()
        phys = self._resolve_column(old, snap)
        schema = schema_from_json(snap["schema"])
        names = {f.name for f in schema.fields}
        ren = snap.get("renames") or {}
        if phys not in names:
            raise ValueError(
                f"column {old!r} not in schema (have "
                f"{sorted(ren.get(n, n) for n in names)})"
            )
        if phys in set(snap["key_cols"] or ()) or phys in set(
            self._bucket_cols_of(snap) or ()
        ):
            raise ValueError(
                f"cannot rename key/bucket column {old!r}: key names are "
                "the layout/lookup contract shared with WAL producers and "
                "consumers"
            )
        if new == ren.get(phys, phys):
            raise ValueError(f"column is already named {new!r}")
        logical_others = {ren.get(n, n) for n in names if n != phys}
        if new in logical_others:
            raise ValueError(f"column name {new!r} already in use")
        if new in names and new != phys:
            raise ValueError(
                f"{new!r} is the physical name of another column (its "
                "data files store it); pick a different name"
            )
        if new in set(snap.get("dropped_cols") or ()):
            raise ValueError(
                f"{new!r} is a dropped-column tombstone; old files still "
                "carry its pre-drop values under that name"
            )
        retired = snap.get("retired_names") or {}
        if retired.get(new, phys) != phys:
            raise ValueError(
                f"{new!r} is a RETIRED name of column "
                f"{retired[new]!r} (renamed away); stale producers may "
                "still send it — reusing it for a different column would "
                "misroute their data. Pick a different name"
            )
        self._constraint_refs_guard(snap, ren.get(phys, phys), "rename")
        from cnpj_data_pipeline_spark.lake.generated import (
            GENERATED_PREFIX,
            generated_of,
        )

        gens = generated_of(snap)
        old_logical = ren.get(phys, phys)
        props = (
            # a renamed generated column keeps its declaration — the
            # expression references OTHER columns (self-reference is
            # refused at declaration), so only the prop key moves
            {
                GENERATED_PREFIX + old_logical: None,
                GENERATED_PREFIX + new: json.dumps(gens[old_logical]),
            }
            if old_logical in gens
            else None
        )
        return self.commit(
            op="evolve",
            epoch=None,
            bucket_updates={},
            rename=(phys, new),
            props=props,
            expected_parent=snap["snapshot_id"],
        )

    @staticmethod
    def _logical_alias(df: DataFrame, snap: dict) -> DataFrame:
        """Alias a physical-named DataFrame's payload columns to their
        logical names (identity when the snapshot has no renames). Meta
        columns (``__lsn``/``__op``/...) are never renamed and pass
        through."""
        ren = snap.get("renames") or {}
        if not ren:
            return df
        return df.select(
            *[F.col(c).alias(ren.get(c, c)) for c in df.columns]
        )

    # ---------------- snapshot tags ----------------
    #
    # Iceberg-style NAMED snapshot references: a tag pins a snapshot id
    # under a stable name ("v1-train", "2026-08-audit") and — the part that
    # matters at 10^10 rows — PROTECTS it from expire_snapshots, so the
    # exact table state a model was trained on stays time-travelable long
    # after the retention horizon rolls past it. Metadata-only: one tiny
    # file per tag (meta/tags/<name>.json) whose EXCLUSIVE creation is the
    # concurrency control (same os.link CAS as the commit manifest — two
    # racers creating one name: exactly one wins, no read-modify-write
    # window). Reference analogue: none (Postgres keeps only current state;
    # the reference cannot reproduce last month's load at all).

    _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, "tags", f"{name}.json")

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin ``snapshot_id`` (default: current head) under ``name``.
        Idempotent for the same target; raises if the name already pins a
        DIFFERENT snapshot (drop it first — tags are immutable refs)."""
        if not self._TAG_NAME_RE.match(name):
            raise ValueError(f"invalid tag name {name!r}")
        sid = (
            self.current_snapshot_id() if snapshot_id is None else int(snapshot_id)
        )
        if not os.path.exists(self._snapshot_path(sid)):
            raise FileNotFoundError(f"no snapshot {sid} to tag")
        path = self._tag_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            _write_json(  # exclusive create — the tag CAS
                path,
                {"snapshot_id": sid, "created_at": _utcnow_iso()},
                exclusive=True,
            )
        except FileExistsError:
            existing = self.resolve_tag(name)
            if existing != sid:
                raise FileExistsError(
                    f"tag {name!r} already pins snapshot {existing} "
                    f"(wanted {sid}); tags are immutable — drop first"
                ) from None
        return sid

    def drop_tag(self, name: str) -> bool:
        """Remove a tag (the pinned snapshot becomes expirable again).
        Returns False if it didn't exist."""
        try:
            os.remove(self._tag_path(name))
            return True
        except OSError:
            return False

    def tags(self) -> dict[str, int]:
        """name -> pinned snapshot id (torn/foreign files ignored)."""
        out: dict[str, int] = {}
        tdir = os.path.join(self.meta_dir, "tags")
        try:
            names = os.listdir(tdir)
        except OSError:
            return out
        for fn in names:
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(tdir, fn)) as f:
                    out[fn[: -len(".json")]] = int(json.load(f)["snapshot_id"])
            except (OSError, ValueError, KeyError, TypeError):
                pass
        return out

    def resolve_tag(self, name: str) -> int:
        sids = self.tags()
        if name not in sids:
            raise KeyError(f"no tag {name!r} (have {sorted(sids)})")
        return sids[name]

    def key_cols(self) -> list[str] | None:
        kc = self.snapshot()["key_cols"]
        return list(kc) if kc is not None else None

    @staticmethod
    def _bucket_cols_of(snap: dict) -> list[str] | None:
        """The columns the layout hashes on: ``bucket_cols`` if declared,
        else the full key (pre-bucket_cols snapshots lack the field)."""
        bc = snap.get("bucket_cols") or snap["key_cols"]
        return list(bc) if bc is not None else None

    def bucket_cols(self) -> list[str] | None:
        return self._bucket_cols_of(self.snapshot())

    def props(self) -> dict:
        """Table properties (merged across commits) — the consumer-offset /
        frontier store (see ``commit(props=...)``)."""
        return dict(self.snapshot().get("props") or {})

    def sort_order(self) -> list[str] | None:
        """The declared maintenance sort order, or None = key order."""
        so = (self.snapshot().get("props") or {}).get("sort_order")
        return list(so) if so else None

    @staticmethod
    def _sort_cols_of(snap: dict) -> list[str]:
        """Columns the rewrite kernels cluster each bucket by: the declared
        ``sort_order`` property with the key appended as tiebreaker (a
        deterministic total order per bucket), else the key itself."""
        key_cols = list(snap["key_cols"] or ())
        so = (snap.get("props") or {}).get("sort_order")
        if not so:
            return key_cols
        return list(so) + [c for c in key_cols if c not in so]

    @staticmethod
    def _sort_kind_of(snap: dict) -> str:
        """"lexical" (default) or "zorder" — how the declared sort_order
        columns cluster a rewritten bucket."""
        if not (snap.get("props") or {}).get("sort_order"):
            return "lexical"
        return (snap.get("props") or {}).get("sort_order_kind") or "lexical"

    def drop_column(self, name: str) -> int:
        """DROP COLUMN evolution (the upstream ALTER TABLE DROP a real CDC
        stream carries): remove ``name`` from the declared schema,
        metadata-only — no data rewrite. Old files keep the column
        physically; every read path projects to the declared schema, so it
        simply stops being read (Spark's explicit-schema scan and the Arrow
        kernels' per-file normalization both ignore extra file columns).
        The name is TOMBSTONED (``dropped_cols``): a stale producer still
        sending it is silently ignored, and the name can never re-enter the
        schema — old files still carry pre-drop values, so a re-add would
        silently resurface them; a new column must take a new name (the
        engine has no Iceberg-style field-id indirection to make re-use
        safe).

        Refused for key/bucket columns (the layout contract), columns named
        by the declared ``sort_order`` (reset it first), and columns with an
        ``agg_spec`` entry (the fold references them)."""
        snap = self.snapshot()
        schema = schema_from_json(snap["schema"])
        names = {f.name for f in schema.fields}
        name = self._resolve_column(name, snap)  # accept the logical name
        if name not in names:
            raise ValueError(
                f"column {name!r} not in schema (have {sorted(names)})"
            )
        if name in set(snap["key_cols"] or ()) or name in set(
            self._bucket_cols_of(snap) or ()
        ):
            raise ValueError(
                f"cannot drop key/bucket column {name!r}: the layout and "
                "every stored row's identity hash on it"
            )
        so = (snap.get("props") or {}).get("sort_order") or ()
        if name in so:
            raise ValueError(
                f"column {name!r} is in the declared sort_order "
                f"{list(so)}; reset the sort order first"
            )
        if name in (snap.get("agg_spec") or {}):
            raise ValueError(
                f"column {name!r} has an agg_spec fold; dropping it would "
                "orphan the aggregate definition"
            )
        ren = snap.get("renames") or {}
        logical = ren.get(name, name)
        self._constraint_refs_guard(snap, logical, "drop")
        from cnpj_data_pipeline_spark.lake.generated import (
            GENERATED_PREFIX,
            generated_of,
        )

        props = (
            # dropping a generated column retires its declaration with it
            {GENERATED_PREFIX + logical: None}
            if logical in generated_of(snap)
            else None
        )
        return self.commit(
            op="evolve",
            epoch=None,
            bucket_updates={},
            drop_column=name,
            props=props,
            expected_parent=snap["snapshot_id"],
        )

    def add_column(self, name: str, dtype: T.DataType) -> int:
        """ADD COLUMN evolution, declared EXPLICITLY (the ``ALTER TABLE
        ADD COLUMN`` a DDL-driven deployment issues before the first batch
        carrying the column arrives — the reference's schema is declared
        up-front in ``init-db/postgres.sql``, not discovered from data).
        Metadata-only: appends a nullable field to the declared schema via
        the same evolve commit the ingest path's implicit union evolution
        uses; existing files simply read back NULL for it. Implicit
        evolution (a batch showing up with a new column) keeps working —
        this is the same commit, issued ahead of data.

        The name must be genuinely NEW: not a current physical or logical
        name, and not a dropped-column tombstone (old files still carry a
        tombstoned name's pre-drop values — re-adding it would silently
        resurface them)."""
        if isinstance(dtype, T.NullType):
            raise ValueError(
                "ADD COLUMN requires a concrete type (NullType carries no "
                "type evidence)"
            )
        snap = self.snapshot()
        self._check_new_column_name(name, snap)
        return self.commit(
            op="evolve",
            epoch=None,
            bucket_updates={},
            new_schema=T.StructType([T.StructField(name, dtype, True)]),
            expected_parent=snap["snapshot_id"],
        )

    @staticmethod
    def _check_new_column_name(name: str, snap: dict) -> None:
        """A column being ADDED must take a genuinely new name: not a
        current physical or logical name, not a dropped-column tombstone
        (old files still carry its pre-drop values), not a retired name
        (stale producers may still send it, and the apply boundary maps it
        to the renamed column)."""
        phys_names = {f.name for f in schema_from_json(snap["schema"]).fields}
        ren = snap.get("renames") or {}
        if name in phys_names or name in {ren.get(n, n) for n in phys_names}:
            raise ValueError(f"column {name!r} already exists")
        if name in set(snap.get("dropped_cols") or ()):
            raise ValueError(
                f"{name!r} is a dropped-column tombstone; old files still "
                "carry its pre-drop values under that name — a new column "
                "must take a new name"
            )
        if name in (snap.get("retired_names") or {}):
            raise ValueError(
                f"{name!r} is a RETIRED name of column "
                f"{snap['retired_names'][name]!r} (renamed away); stale "
                "producers may still send it and the apply boundary maps "
                "it there — a new column must take a new name"
            )

    def widen_column(self, name: str, dtype: T.DataType) -> int:
        """ALTER COLUMN TYPE evolution, declared EXPLICITLY: widen a
        numeric column within its family (int->long, float->double) ahead
        of the data that needs the range — the same in-place widening the
        ingest path applies implicitly when a wider batch arrives
        (``schemas.union_schema``). Metadata-only: parquet state files
        written under the old narrow type stay valid (Spark's parquet
        reader upcasts natively; the Arrow kernels normalize per file).

        Refused for key/bucket columns — their type is part of the
        bucket-hash contract (xxhash64 is type-sensitive), exactly the
        ``frozen`` set the ingest path passes to ``union_schema``. Refused
        for non-widening changes (downcasts silently wrap; cross-family
        changes are a different column)."""
        snap = self.snapshot()
        schema = schema_from_json(snap["schema"])
        phys = self._resolve_column(name, snap)
        by_name = {f.name: f for f in schema.fields}
        if phys not in by_name:
            raise ValueError(
                f"column {name!r} not in schema "
                f"(have {sorted(by_name)})"
            )
        if phys in set(snap["key_cols"] or ()) or phys in set(
            self._bucket_cols_of(snap) or ()
        ):
            raise ValueError(
                f"cannot widen key/bucket column {name!r}: its type is "
                "part of the bucket-hash contract shared with WAL "
                "producers (xxhash64 is type-sensitive)"
            )
        cur = by_name[phys].dataType
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        fractional = (T.FloatType, T.DoubleType)
        family = None
        if isinstance(cur, integral) and isinstance(dtype, integral):
            family = integral
        elif isinstance(cur, fractional) and isinstance(dtype, fractional):
            family = fractional
        if family is None:
            raise ValueError(
                f"ALTER COLUMN TYPE supports only in-family numeric "
                f"widening; {cur.simpleString()} -> "
                f"{dtype.simpleString()} is not"
            )
        rank = {t: i for i, t in enumerate(family)}
        if rank[type(dtype)] <= rank[type(cur)]:
            raise ValueError(
                f"{cur.simpleString()} -> {dtype.simpleString()} is not a "
                "widening (downcasts silently wrap values past the narrow "
                "range)"
            )
        return self.commit(
            op="evolve",
            epoch=None,
            bucket_updates={},
            new_schema=T.StructType([T.StructField(phys, dtype, True)]),
            expected_parent=snap["snapshot_id"],
        )

    def set_props(self, props: dict) -> int:
        """Set TABLE PROPERTIES (the ``ALTER TABLE SET TBLPROPERTIES``
        surface): a props-only commit (op='set-props') merging ``props``
        key-wise into the persistent property map — atomic, CAS-raced like
        any commit, invisible to the change feed. Engine-reserved keys
        (``sort_order*`` — typed/validated via :meth:`set_sort_order`) are
        refused here."""
        reserved = {k for k in props if str(k).startswith("sort_order")}
        if reserved:
            raise ValueError(
                f"propert{'y' if len(reserved) == 1 else 'ies'} "
                f"{sorted(reserved)} are engine-managed — use "
                "set_sort_order()"
            )
        cons = {k for k in props if str(k).startswith("constraint.")}
        if cons:
            raise ValueError(
                f"propert{'y' if len(cons) == 1 else 'ies'} {sorted(cons)} "
                "are engine-managed — use add_constraint()/drop_constraint() "
                "(constraints are validated at declaration)"
            )
        gen = {k for k in props if str(k).startswith("generated.")}
        if gen:
            raise ValueError(
                f"propert{'y' if len(gen) == 1 else 'ies'} {sorted(gen)} "
                "are engine-managed — use add_generated_column()/"
                "drop_generated_expression() (expressions are validated "
                "at declaration)"
            )
        if not props:
            raise ValueError("set_props requires at least one property")
        return self.commit(
            op="set-props", epoch=None, bucket_updates={}, props=dict(props)
        )

    def set_sort_order(
        self, cols: Sequence[str] | None, kind: str = "lexical"
    ) -> int:
        """Declare the table's SORT ORDER (Iceberg's sortOrder analogue): the
        columns compaction/vacuum cluster each rewritten bucket's file by,
        replacing the default key clustering. A physical-layout property
        only — logical state and merge semantics are untouched.

        ``kind="lexical"`` clusters perfectly on the FIRST column (range
        scans on it skip row groups); ``kind="zorder"`` interleaves 2-4
        columns' rank bits into a Morton code (``operators/zorder.py``) so
        range predicates on ANY declared column prune — the Delta OPTIMIZE
        ZORDER analogue. Z-ordering runs in the map-only rewrite kernel;
        the salted-shuffle kernel (forced strategy, or a bucket over the
        per-bucket size fallback) degrades that rewrite to LEXICAL
        clustering on the same columns — physical layout only, correctness
        is never affected.

        The trade: range scans on the sort column get tight parquet
        row-group min/max (Spark's pushdown skips row groups inside a
        bucket's single compacted file), while point lookups lose row-group
        key locality — the bloom sidecars and bucket pruning still do the
        file-level work, so mget stays O(buckets touched).

        ``cols=None`` resets to key clustering (takes effect at the next
        rewrite — already-written files keep their layout until then).
        Props-only commit (op='set-props'): atomic, CAS-raced like any
        commit, invisible to the change feed."""
        if kind not in ("lexical", "zorder"):
            raise ValueError(f"unknown sort_order kind {kind!r}")
        if cols is not None:
            # stored under PHYSICAL names (the rewrite kernels read files);
            # callers may pass current logical names
            snap_now = self.snapshot()
            cols = [self._resolve_column(str(c), snap_now) for c in cols]
            if not cols:
                raise ValueError("sort_order must be a non-empty list or None")
            if len(set(cols)) != len(cols):
                raise ValueError(f"sort_order has duplicate columns: {cols}")
            fields = {f.name: f.dataType for f in self.schema().fields}
            missing = [c for c in cols if c not in fields]
            if missing:
                raise ValueError(
                    f"sort_order columns not in schema: {missing} "
                    f"(have {sorted(fields)})"
                )
            # orderability must be checked HERE: a map/array/struct column
            # would commit fine and then wedge every later compact/vacuum
            # at rewrite time (Spark cannot sort by MapType; zorder's
            # object argsort on dicts raises TypeError) until the order is
            # reset — mirror the agg_spec type validation in create()
            unsortable = [
                c
                for c in cols
                if isinstance(
                    fields[c], (T.MapType, T.ArrayType, T.StructType)
                )
            ]
            if unsortable:
                raise ValueError(
                    f"sort_order columns must be atomic (orderable) types; "
                    f"got {[(c, fields[c].simpleString()) for c in unsortable]}"
                )
            if kind == "zorder" and not 2 <= len(cols) <= 4:
                raise ValueError(
                    "zorder interleaves 2-4 columns (one column is just a "
                    f"lexical sort), got {len(cols)}"
                )
        return self.commit(
            op="set-props",
            epoch=None,
            bucket_updates={},
            props={
                "sort_order": cols,
                "sort_order_kind": kind if cols is not None else None,
            },
        )

    # ---------------- CHECK constraints (lake/constraints.py) ----------

    def constraints(self) -> dict[str, dict]:
        """Active CHECK constraints: name -> {"expr", "on_violation",
        "refs"} (see :mod:`cnpj_data_pipeline_spark.lake.constraints`)."""
        from cnpj_data_pipeline_spark.lake.constraints import constraints_of

        return constraints_of(self.snapshot())

    def add_constraint(
        self,
        spark: SparkSession,
        name: str,
        expr: str,
        on_violation: str = "fail",
        validate: bool = True,
    ) -> int:
        """Declare a named row-level CHECK constraint enforced against every
        future change batch (the ``ALTER TABLE ADD CONSTRAINT`` surface —
        the reference's Postgres column constraints, init-db/postgres.sql,
        re-expressed as declarative ingest expectations).

        ``expr`` is a deterministic boolean Spark-SQL predicate over the
        table's LOGICAL columns (SQL CHECK semantics: NULL passes; DELETE
        events are exempt). ``on_violation``: ``fail`` aborts the epoch,
        ``drop`` filters violating events out, ``dlq`` additionally
        persists them under ``<table>/_dlq/constraints`` — see the module
        doc of :mod:`..lake.constraints` for the exact contract.

        Fail-closed at declaration: the expression must analyze against the
        current logical schema to a BOOLEAN (envelope columns op/lsn/epoch
        are out of scope), non-deterministic functions are refused, and the
        referenced columns are recorded so RENAME/DROP COLUMN on them is
        refused while the constraint lives. ``validate=True`` (default)
        additionally scans the CURRENT table state and refuses to declare a
        constraint existing live rows already violate (Delta's ADD
        CONSTRAINT contract) — ``validate=False`` skips that scan for
        forward-only enforcement on very large tables.

        LWW and keyless tables only: partial/aggregate merge engines carry
        null-means-unchanged patch envelopes, on which a row predicate is
        not evaluable event-by-event."""
        from cnpj_data_pipeline_spark.lake.constraints import (
            CONSTRAINT_MODES,
            CONSTRAINT_PREFIX,
            analyze_constraint,
        )

        if on_violation not in CONSTRAINT_MODES:
            raise ValueError(
                f"unknown on_violation {on_violation!r} "
                f"(choose from {CONSTRAINT_MODES})"
            )
        snap = self.snapshot()
        if snap.get("merge_engine", "lww") != "lww":
            raise ValueError(
                "CHECK constraints require the lww merge engine — "
                "partial/aggregate patch envelopes use NULL for "
                "'unchanged', so a row predicate cannot be evaluated "
                "event-by-event"
            )
        if name in self.constraints():
            raise ValueError(
                f"constraint {name!r} already declared; drop it first"
            )
        logical = self.logical_schema()
        # refs are validated against the LOGICAL schema inside — envelope
        # columns (op/lsn/epoch) resolve only if the table itself declares
        # such a column, otherwise they are refused as unknown
        refs = analyze_constraint(spark, logical, name, expr)
        if validate and (snap.get("buckets") or {}):
            bad = (
                self.read(spark)
                .filter(F.expr(expr).eqNullSafe(F.lit(False)))
                .count()
            )
            if bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: {bad} existing live "
                    "row(s) violate it (fix the data or declare with "
                    "validate=False for forward-only enforcement)"
                )
        return self.commit(
            op="set-props",
            epoch=None,
            bucket_updates={},
            props={
                CONSTRAINT_PREFIX + name: json.dumps(
                    {
                        "expr": expr,
                        "on_violation": on_violation,
                        "refs": refs,
                    }
                )
            },
            expected_parent=snap["snapshot_id"],
        )

    def add_fk_constraint(
        self,
        spark: SparkSession,
        name: str,
        cols: Sequence[str],
        ref_table: "LakeTable | str",
        ref_cols: Sequence[str] | None = None,
        on_violation: str = "fail",
        validate: bool = True,
        ref_name: str | None = None,
    ) -> int:
        """Declare a FOREIGN KEY constraint: every non-delete change event
        whose ``cols`` are all non-NULL must reference a LIVE row of
        ``ref_table`` on ``ref_cols`` (SQL MATCH SIMPLE: a NULL in any FK
        column passes). The reference's schema is FK-driven end to end
        (init-db/postgres.sql REFERENCES clauses; its loader orders tables
        by FK dependency) — this is that contract enforced per change
        batch, with the same fail / drop / dlq policies as CHECK
        constraints.

        Enforcement cost is O(batch) at any parent size: the batch's
        distinct FK keys anti-join the parent via the bucket-pruned batch
        lookup (``read_keys(on=ref_cols, broadcast_keys=False)`` — only
        the buckets the keys hash to are scanned, keys never leave the
        executors). To keep that pruning guaranteed, ``ref_cols`` must be
        exactly the parent's key columns or exactly its bucket columns
        (the prefix-bucketed form). Parent key/bucket columns are never
        renameable (engine rule), so the stored reference can't drift.

        Same-epoch parents: apply the parent's batch FIRST (the FK
        dependency order ``plans/catalog.py`` already runs multi-table
        ingest in) — the check reads the parent's CURRENT committed state.
        Parent-side deletes are not checked (no ON DELETE action): CDC
        upstreams emit child deletes before parent deletes; a later
        backfill can re-check with ``validate``."""
        from cnpj_data_pipeline_spark.lake.constraints import (
            CONSTRAINT_MODES,
            CONSTRAINT_PREFIX,
            _NAME_RE,
        )

        if on_violation not in CONSTRAINT_MODES:
            raise ValueError(
                f"unknown on_violation {on_violation!r} "
                f"(choose from {CONSTRAINT_MODES})"
            )
        if not _NAME_RE.match(name or ""):
            raise ValueError(f"invalid constraint name {name!r}")
        snap = self.snapshot()
        if snap.get("merge_engine", "lww") != "lww":
            raise ValueError(
                "FOREIGN KEY constraints require the lww merge engine"
            )
        if name in self.constraints():
            raise ValueError(
                f"constraint {name!r} already declared; drop it first"
            )
        parent = as_table(ref_table)
        cols = list(cols)
        local = {f.name: f.dataType for f in self.logical_schema().fields}
        missing = [c for c in cols if c not in local]
        if missing:
            raise ValueError(
                f"FK constraint {name!r}: unknown column(s) {missing} "
                f"(table has {sorted(local)})"
            )
        pkey = list(parent.key_cols() or ())
        if not pkey:
            raise ValueError(
                f"FK constraint {name!r}: the referenced table is keyless "
                "— a FOREIGN KEY must reference a keyed table's identity"
            )
        ref_cols = list(ref_cols) if ref_cols is not None else pkey
        pbucket = list(parent.bucket_cols() or pkey)
        if ref_cols != pkey and ref_cols != pbucket:
            raise ValueError(
                f"FK constraint {name!r}: ref_cols {ref_cols} must be "
                f"exactly the parent's key columns {pkey} or its bucket "
                f"columns {pbucket} — anything else loses bucket pruning "
                "and the check would scan the whole parent per epoch"
            )
        if len(cols) != len(ref_cols):
            raise ValueError(
                f"FK constraint {name!r}: {len(cols)} local column(s) vs "
                f"{len(ref_cols)} referenced column(s)"
            )
        ptypes = {f.name: f.dataType for f in parent.logical_schema().fields}
        for c, rc in zip(cols, ref_cols):
            if local[c] != ptypes[rc]:
                raise ValueError(
                    f"FK constraint {name!r}: type mismatch {c} "
                    f"{local[c].simpleString()} vs {rc} "
                    f"{ptypes[rc].simpleString()} — the bucket hash is "
                    "type-sensitive, so FK columns must match exactly"
                )
        spec = {
            "fk": {
                "cols": cols,
                "ref_cols": ref_cols,
                "ref_root": parent.root,
                "ref_name": ref_name,
            },
            "on_violation": on_violation,
            "refs": sorted(set(cols)),
        }
        if validate and (snap.get("buckets") or {}):
            from cnpj_data_pipeline_spark.lake.constraints import (
                _fk_missing,
            )

            state = self.read(spark)
            miss = _fk_missing(spark, spec, state)
            bad = (
                state.join(miss, cols, "left_semi").count()
                if miss is not None
                else 0
            )
            if bad:
                raise ValueError(
                    f"cannot add FK constraint {name!r}: {bad} existing "
                    "live row(s) reference no parent row (fix the data or "
                    "declare with validate=False)"
                )
        return self.commit(
            op="set-props",
            epoch=None,
            bucket_updates={},
            props={CONSTRAINT_PREFIX + name: json.dumps(spec)},
            expected_parent=snap["snapshot_id"],
        )

    def drop_constraint(self, name: str) -> int:
        """Remove a declared CHECK constraint (props-only commit; the
        column-evolution guards it held are released)."""
        from cnpj_data_pipeline_spark.lake.constraints import (
            CONSTRAINT_PREFIX,
        )

        if name not in self.constraints():
            raise ValueError(
                f"no constraint named {name!r} "
                f"(have {sorted(self.constraints())})"
            )
        return self.commit(
            op="set-props",
            epoch=None,
            bucket_updates={},
            props={CONSTRAINT_PREFIX + name: None},
        )

    def _constraint_refs_guard(self, snap: dict, logical_name: str, verb: str):
        """Refuse column evolution on a column referenced by a CHECK
        constraint or a GENERATED column expression."""
        from cnpj_data_pipeline_spark.lake.constraints import constraints_of
        from cnpj_data_pipeline_spark.lake.generated import generated_of

        holders = [
            n
            for n, spec in constraints_of(snap).items()
            if logical_name in (spec.get("refs") or ())
        ]
        if holders:
            raise ValueError(
                f"cannot {verb} column {logical_name!r}: referenced by "
                f"CHECK constraint(s) {holders} — drop them first (their "
                "expressions name this column)"
            )
        gen_holders = [
            n
            for n, spec in generated_of(snap).items()
            if logical_name in (spec.get("refs") or ())
        ]
        if gen_holders:
            raise ValueError(
                f"cannot {verb} column {logical_name!r}: referenced by "
                f"GENERATED column(s) {gen_holders} — drop them first "
                "(their expressions name this column)"
            )

    # ---------------- GENERATED columns (lake/generated.py) ------------

    def generated_columns(self) -> dict[str, dict]:
        """Active GENERATED column declarations: logical name ->
        {"expr", "refs"} (see :mod:`cnpj_data_pipeline_spark.lake.generated`)."""
        from cnpj_data_pipeline_spark.lake.generated import generated_of

        return generated_of(self.snapshot())

    def add_generated_column(
        self,
        spark: SparkSession,
        name: str,
        dtype: T.DataType,
        expr: str,
        mode: str = "always",
    ) -> int:
        """ADD COLUMN ... GENERATED ALWAYS AS (expr): declare a physical
        column whose value is always ``CAST(expr AS dtype)`` over the row's
        other columns, computed at ingest when a batch doesn't carry it and
        VERIFIED when it does (see :mod:`..lake.generated` for the full
        contract, including the co-partitioned-path producer requirement).

        One atomic commit: the schema union (same evolve op as
        :meth:`add_column`) plus the expression declaration. Metadata-only:
        rows written BEFORE the declaration read back NULL for the column
        (no rewrite; backfill explicitly with an ``UPDATE`` statement if
        history needs the value). Referenced columns gain the same
        rename/drop guard CHECK constraints hold. LWW and keyless tables
        only — partial/aggregate patch envelopes use NULL for 'unchanged',
        so a row expression cannot be evaluated event-by-event.

        ``mode="always"`` (GENERATED ALWAYS) verifies supplied values;
        ``mode="default"`` (the ``DEFAULT (expr)`` DDL form) computes only
        when a batch doesn't carry the column and keeps writer-supplied
        values verbatim — SQL DEFAULT semantics for absent columns."""
        from cnpj_data_pipeline_spark.lake.generated import (
            GENERATED_PREFIX,
            analyze_generated,
        )

        if mode not in ("always", "default"):
            raise ValueError(
                f"unknown generated-column mode {mode!r} "
                "(choose 'always' or 'default')"
            )
        snap = self.snapshot()
        if snap.get("merge_engine", "lww") != "lww":
            raise ValueError(
                "GENERATED columns require the lww merge engine — "
                "partial/aggregate patch envelopes use NULL for "
                "'unchanged', so a row expression cannot be evaluated "
                "event-by-event"
            )
        if isinstance(dtype, T.NullType):
            raise ValueError(
                "GENERATED column requires a concrete type (NullType "
                "carries no type evidence)"
            )
        # analyze against the PRE-declaration schema (self-reference is
        # separately refused inside analyze_generated)
        refs = analyze_generated(
            spark, self.logical_schema(), name, expr, dtype
        )
        self._check_new_column_name(name, snap)
        return self.commit(
            op="evolve",
            epoch=None,
            bucket_updates={},
            new_schema=T.StructType([T.StructField(name, dtype, True)]),
            props={
                GENERATED_PREFIX + name: json.dumps(
                    {"expr": expr, "refs": refs, "mode": mode}
                )
            },
            expected_parent=snap["snapshot_id"],
        )

    def drop_generated_expression(self, name: str) -> int:
        """Clear a column's GENERATED declaration, keeping the column and
        its data — it becomes an ordinary nullable payload column (the
        release valve for retiring a derivation without a drop)."""
        from cnpj_data_pipeline_spark.lake.generated import GENERATED_PREFIX

        if name not in self.generated_columns():
            raise ValueError(
                f"no GENERATED declaration on {name!r} "
                f"(have {sorted(self.generated_columns())})"
            )
        return self.commit(
            op="set-props",
            epoch=None,
            bucket_updates={},
            props={GENERATED_PREFIX + name: None},
        )

    def n_buckets(self) -> int:
        return int(self.snapshot()["n_buckets"])

    def applied_epochs(self) -> set[int]:
        return set(self.snapshot()["applied_epochs"])

    @staticmethod
    def applies_of(chain: list[dict]) -> list[dict]:
        """The apply commits of a snapshot chain: the data commits that
        carry an epoch. Maintenance (compact, rebucket, vacuum) and
        metadata-only commits (rename, widen, drop) change no values, so a
        change-feed consumer neither reads nor counts them."""
        return [
            s for s in chain
            if s["op"] in ("append", "evolve") and s.get("epoch") is not None
        ]

    def epochs_behind(self, consumer: "LakeTable | None") -> int:
        """A consumer's lag behind this source table: the source's apply
        commits its own epoch ledger has not recorded (a consumer that
        does not exist yet has recorded none)."""
        done = consumer.applied_epochs() if consumer is not None else ()
        return max(len(self.applies_of(self.snapshots())) - len(done), 0)

    def watermarks(self, sid: int | None = None) -> dict[int, int | None]:
        """bucket -> max applied LSN (per-partition offset checkpoint)."""
        s = self.snapshot(sid)
        return {int(b): info.get("max_lsn") for b, info in s["buckets"].items()}

    # ---------------- read ----------------

    def _bucket_files(self, snap: dict, buckets: Iterable[int] | None = None) -> list[str]:
        sel = None if buckets is None else {int(b) for b in buckets}
        out: list[str] = []
        for b, info in snap["buckets"].items():
            if sel is None or int(b) in sel:
                out.extend(os.path.join(self.root, p) for p in info["files"])
        return out

    def _live_files(
        self,
        snap: dict,
        buckets: Iterable[int] | None = None,
        file_index: dict[int, list[str]] | None = None,
    ) -> tuple[list[str], list[str]]:
        """The selected buckets' files as absolute paths, split into
        (merged, unmerged): a merged bucket holds one final row per key, an
        unmerged one holds delta generations a read must fold. Keys never
        span buckets, so the two sides fold independently. ``file_index``
        (bucket -> kept paths, ``read_keys``' manifest prune) replaces a
        bucket's manifest list."""
        keyless = snap["key_cols"] is None
        sel = None if buckets is None else {int(b) for b in buckets}
        merged: list[str] = []
        unmerged: list[str] = []
        for b, info in snap["buckets"].items():
            if sel is not None and int(b) not in sel:
                continue
            if file_index is not None:
                files = file_index.get(int(b), [])
            else:
                files = [os.path.join(self.root, p) for p in info["files"]]
            side = merged if keyless or info.get("merged", True) else unmerged
            side.extend(files)
        return merged, unmerged

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        include_meta: bool = False,
        include_tombstones: bool = False,
        buckets: Iterable[int] | None = None,
        file_index: dict[int, list[str]] | None = None,
        snapshot_override: dict | None = None,
        scan_filter=None,
        logical: bool = True,
    ) -> DataFrame:
        """Read the table at a snapshot. Old files written before a schema
        evolution are read with the evolved schema (missing columns → NULL).
        Renamed columns come back under their LOGICAL names (the name map,
        see :meth:`rename_column`); ``logical=False`` keeps the physical
        (file) names — internal fold/merge consumers only.

        ``scan_filter`` (a Column) is applied to the RAW scans, BEFORE the
        merge-on-read fold — so it reaches the Parquet reader as a pushed
        filter (row-group/dictionary pruning on key-sorted compacted files).
        Caller contract: the predicate must keep or drop WHOLE KEYS (e.g. a
        leading-key membership test) — a predicate that removes only some of
        a key's versions would change its fold result.

        ``snapshot_override`` reads a SYNTHETIC snapshot dict instead of a
        committed one — the write-audit-publish path uses it to preview the
        table state a staged batch WOULD produce, without committing.

        Merge-on-read: buckets whose ``merged`` flag is false hold multiple
        versions per key (delta generations); the LWW window resolves the
        winner at read time, but ONLY over those buckets — compacted/merged
        buckets take the window-free fast path and the two sides are unioned.
        Keys never span buckets, so the split is safe.

        Keyless (append-only) tables are a plain scan: every appended row is
        visible, no LWW, and no tombstone filtering (delete semantics need a
        key)."""
        snap = (
            snapshot_override
            if snapshot_override is not None
            else self.snapshot(snapshot_id)
        )
        keyless = snap["key_cols"] is None
        engine = snap.get("merge_engine", "lww")
        payload_fields = schema_from_json(snap["schema"]).fields
        # every column nullable, as Spark reports any file scan: a side
        # with no file to scan must not change the read's schema
        phys = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in list(payload_fields) + _phys_meta_fields(snap)
            ]
        )
        merged, unmerged = self._live_files(snap, buckets, file_index)

        def _scan(files: list[str]) -> DataFrame:
            out = scan_files(spark, files, phys)
            if scan_filter is not None:
                out = out.filter(scan_filter)
            return out

        df = _scan(merged)
        if unmerged:
            # hash-aggregate fold: map-side partials collapse the delta
            # generations before the shuffle — the MoR read tax shrinks with
            # combine, instead of shuffling every version to a sort. The
            # fold is the table's merge engine: LWW (newest row), partial
            # (newest value per column), or aggregate (per-column monoid
            # fold per agg_spec) — operators/partial.py.
            from cnpj_data_pipeline_spark.operators.partial import winners_agg

            winners = winners_agg(
                _scan(unmerged),
                snap["key_cols"],
                [f.name for f in payload_fields],
                engine,
                lsn_col=LSN_META_COL,
                op_col=OP_META_COL,
                agg_spec=snap.get("agg_spec"),
            )
            df = df.unionByName(winners)
        if not include_tombstones and not keyless:
            df = df.filter(F.col(OP_META_COL) != "D")
        if not include_meta:
            df = df.drop(LSN_META_COL, OP_META_COL)
            if engine != "lww":
                df = df.drop(*[f.name for f in PARTIAL_META_FIELDS])
        return self._logical_alias(df, snap) if logical else df

    def read_keys(
        self,
        spark: SparkSession,
        keys: DataFrame,
        include_meta: bool = False,
        include_tombstones: bool = False,
        snapshot_id: int | None = None,
        broadcast_keys: bool = True,
        on: Sequence[str] | None = None,
        logical: bool = True,
    ) -> DataFrame:
        """Point / multi-get lookup with BUCKET PRUNING: the requested keys
        are hashed to their buckets and only those buckets' files are
        scanned — O(|keys|/n_buckets · table) IO instead of a full scan,
        the read-side payoff of hash-bucketed clustering (at 2^14 buckets a
        point lookup touches 1/16384 of the data files). The surviving rows
        are left-semi-joined against the broadcast key set. A key with a
        NULL in any ``on`` column never matches.

        Two regimes, chosen by ``broadcast_keys``:

        * ``True`` (mget): the key/bucket pairs are collected driver-side
          (bounded by min(|keys|, n_buckets)), enabling the SECOND pruning
          level — manifest per-file key min/max skips generation files —
          and the semi join broadcasts. ``keys`` must be driver-small, the
          normal point-lookup contract. When the kept files total at most
          ``spark.sql.autoBroadcastJoinThreshold`` bytes (``-1``: never),
          the driver answers on its own: it reads them with pyarrow,
          keeps the rows the leading-key IN list names, folds the unmerged
          buckets with the table's merge engine
          (``operators.copart.read_fold_arrow``, the compaction kernel's
          fold) and returns a LocalRelation — no scan, fold or join job.
          The schema equals the Spark path's; a
          partial/aggregate table the Arrow fold cannot refold
          bit-identically (``_map_refold_unsafe``) always takes Spark.
        * ``False`` (batch lookup, e.g. a change window's touched keys or an
          IVM job's affected groups): only DISTINCT BUCKET IDS are collected
          (bounded by n_buckets — metadata-scale regardless of |keys|); the
          keys themselves never leave the executors and the semi join is a
          shuffle join. File-level pruning is skipped — bucket-level pruning
          is the one that scales with |keys|.

        ``snapshot_id`` reads the keys' state AT that snapshot (time-travel
        mget — the pre-image read of the typed change feed).

        ``on`` selects the match columns (default: the full key). Passing a
        KEY PREFIX — most usefully ``on=bucket_cols`` on a prefix-bucketed
        table, e.g. all turns of a set of conversations — returns every row
        whose prefix matches. Bucket pruning applies whenever ``on`` covers
        the table's bucket columns (the bucket hash is computable from the
        lookup keys); otherwise the lookup degrades to a full-bucket scan +
        semi join, loudly assumed by the caller. As with any USING join,
        the ``on`` columns come first in the result."""
        snap = self.snapshot(snapshot_id)
        key_cols = snap["key_cols"]
        if key_cols is None:
            raise ValueError("point lookup requires key columns (keyless table)")
        on = list(on) if on is not None else list(key_cols)
        if not set(on) <= set(key_cols):
            raise ValueError(
                f"lookup columns {on} must be a subset of key_cols {key_cols}"
            )
        bcols = self._bucket_cols_of(snap)
        prunable = set(bcols) <= set(on)
        # cast lookup keys to the TABLE's column types before anything else:
        # Spark's xxhash64 is type-sensitive (int32 7 and int64 7 hash
        # differently), so a caller passing e.g. plain Python ints (inferred
        # LongType) against an int32 key would hash to the wrong buckets and
        # get silently EMPTY results — the physical types are the table's
        # contract, not the caller's. try_cast, not cast: a key OUTSIDE the
        # narrow type's range cannot exist in the table, so it must yield
        # the empty result (null key never joins) — a plain cast would
        # throw under ANSI mode or silently WRAP to another key's value
        # under non-ANSI and return that key's rows
        types = {f.name: f.dataType for f in schema_from_json(snap["schema"]).fields}
        kd = keys.select(*[F.col(c).try_cast(types[c]).alias(c) for c in on])
        file_index = None
        lead_in = None
        if broadcast_keys:
            # evaluate the caller's plan ONCE: one single-stage job collects
            # the (bucket, *on) rows, deduplicated here rather than by a
            # shuffle; keys with a NULL column (never a match) are dropped.
            # Neither the semi join's build side nor a re-collect of the
            # returned frame re-runs `keys`
            bcol = (
                [bucket_expr(bcols, snap["n_buckets"]).alias("__b")]
                if prunable
                else []
            )
            key_rows = [
                r
                for r in dict.fromkeys(kd.select(*bcol, *on).collect())
                if all(r[c] is not None for c in on)
            ]
            key_schema = T.StructType([T.StructField(c, types[c]) for c in on])
            key_vals = [tuple(r[c] for c in on) for r in key_rows]
        else:
            kd = kd.distinct()
        if not prunable:
            buckets = None  # cannot compute bucket ids from these columns
        elif broadcast_keys:
            lead: dict[int, set] = {}
            for r in key_rows:
                lead.setdefault(int(r["__b"]), set()).add(r[on[0]])
            keys_by_bucket = {b: list(ks) for b, ks in lead.items()}
            buckets = sorted(keys_by_bucket)
            if on[0] == key_cols[0]:
                # file-level kmin/kmax stats are on the leading key column
                file_index = self.prune_key_files(snap, keys_by_bucket)
            # FOURTH pruning level, inside the files that survive: push the
            # requested leading-key set into the Parquet scan as an IN
            # filter — row-group stats + dictionary pages prune WITHIN each
            # kept file (compaction key-sorts buckets, so a point read then
            # touches one row group instead of the whole file). Safe before
            # the MoR fold: membership keeps or drops whole keys, never a
            # subset of a key's versions. Bounded by the mget contract; the
            # env cap guards against degenerate huge IN lists.
            in_cap = int(os.environ.get("SPARK_GRAFT_KEY_IN_MAX", "8192"))
            vals = sorted({r[on[0]] for r in key_rows})
            if vals and len(vals) <= in_cap:
                lead_in = vals
        else:
            buckets = sorted(
                int(r["__b"])
                for r in kd.select(
                    bucket_expr(bcols, snap["n_buckets"]).alias("__b")
                )
                .distinct()
                .collect()
            )
        if broadcast_keys:
            merged, unmerged = self._live_files(snap, buckets, file_index)
            nbytes = sum(os.path.getsize(f) for f in merged + unmerged)
            conf = spark._jsparkSession.sessionState().conf()
            if (
                nbytes <= conf.autoBroadcastJoinThreshold()
                and not _map_refold_unsafe(snap)
            ):
                return self._read_keys_local(
                    spark, snap, merged, unmerged,
                    _arrow_rows(key_schema, key_vals), lead_in is not None,
                    include_meta, include_tombstones, logical,
                )
            # the semi join's build side: a LocalRelation over the rows
            kd = local_frame(spark, key_schema, key_vals)
        df = self.read(
            spark,
            snapshot_id=snapshot_id,
            include_meta=include_meta,
            include_tombstones=include_tombstones,
            buckets=buckets,
            file_index=file_index,
            scan_filter=None if lead_in is None else F.col(on[0]).isin(lead_in),
            logical=logical,
        )
        join_keys = F.broadcast(kd) if broadcast_keys else kd
        return df.join(join_keys, on=on, how="left_semi")

    def _read_keys_local(
        self,
        spark: SparkSession,
        snap: dict,
        merged: list[str],
        unmerged: list[str],
        keys,
        push_lead: bool,
        include_meta: bool,
        include_tombstones: bool,
        logical: bool,
    ) -> DataFrame:
        """The driver regime of :meth:`read_keys`: the same answer from
        Arrow on the driver. ``keys`` is the deduplicated, NULL-free key set
        as an Arrow table of the ``on`` columns; ``push_lead`` filters each
        file read by its first column. Row groups are not skipped: under the
        default 10 MB bound a kept file is smaller than one compaction row
        group (``SPARK_GRAFT_REWRITE_ROWGROUP_BYTES``, 32 MiB)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        from cnpj_data_pipeline_spark.operators.copart import read_fold_arrow

        on = keys.column_names
        phys = T.StructType(
            list(schema_from_json(snap["schema"]).fields) + _phys_meta_fields(snap)
        )
        target = to_arrow_schema(phys)
        key_in = (on[0], pc.unique(keys.column(on[0]))) if push_lead else None
        tbl = pa.concat_tables(
            [
                read_fold_arrow(merged, target, key_in=key_in, workers=8),
                read_fold_arrow(
                    unmerged, target, snap["key_cols"],
                    snap.get("merge_engine", "lww"), snap.get("agg_spec"),
                    key_in=key_in, workers=8,
                ),
            ]
        )
        if not include_tombstones:
            tbl = tbl.filter(pc.not_equal(tbl.column(OP_META_COL), "D"))
        # the semi join: keys hold no NULL, and a NULL never equals a key
        probe = tbl.select(on).append_column(
            "__pos", pa.array(range(len(tbl)), pa.int64())
        )
        hit = probe.join(keys, keys=on, join_type="left semi")
        tbl = tbl.take(hit.column("__pos"))
        drop = set() if include_meta else {
            f.name for f in _phys_meta_fields(snap)
        }
        cols = on + [f.name for f in phys.fields if f.name not in drop | set(on)]
        ren = (snap.get("renames") or {}) if logical else {}
        # every column nullable, as a Spark file scan reports it
        schema = T.StructType(
            [T.StructField(ren.get(c, c), phys[c].dataType, True) for c in cols]
        )
        return spark.createDataFrame(
            tbl.select(cols).rename_columns(schema.names), schema
        )

    def prune_key_files(
        self, snap: dict, keys_by_bucket: dict[int, list]
    ) -> dict[int, list[str]]:
        """Second pruning level under the bucket prune: manifest per-file
        leading-key min/max (harvested free from Parquet footers at commit,
        selective after compaction's key-clustered rewrite) skip generation
        files that cannot contain any requested key. Skipping a file never
        changes a requested key's LWW winner — every file that can hold a
        version of that key is kept. Files without stats (legacy manifests,
        non-JSON-able key types) are always scanned.

        THIRD level: files that survive the range check are tested against
        their key BLOOM sidecar when one exists (``lake/bloom.py``). Range
        stats are near-useless on uncompacted MoR deltas (each generation
        holds arbitrary keys spanning the bucket), so between compactions
        the bloom is what makes mget cost track the generations that
        actually CONTAIN the key. Sidecar loads are driver-side but bounded
        by the mget contract: touched buckets × generations, each a few
        KiB. False positives scan needlessly; false negatives cannot occur
        (sentinel-validated hashing, see the bloom module)."""
        from cnpj_data_pipeline_spark.lake.bloom import (
            load_sidecar,
            may_contain_any,
        )

        out: dict[int, list[str]] = {}
        for b, ks in keys_by_bucket.items():
            info = snap["buckets"].get(str(b))
            if info is None:
                out[b] = []
                continue
            files = info["files"]
            fstats = list(info.get("fstats") or [])
            fstats += [None] * (len(files) - len(fstats))
            kept = []
            for f, fs in zip(files, fstats):
                if fs is None or fs[2] is None or fs[3] is None:
                    hit = True  # no stats: must scan
                else:
                    try:
                        hit = any(fs[2] <= k <= fs[3] for k in ks)
                    except TypeError:
                        hit = True  # stat/key type mismatch: must scan
                if hit:
                    fp = os.path.join(self.root, f)
                    bl = load_sidecar(fp)
                    if bl is not None and not may_contain_any(bl, ks):
                        continue  # definitely none of the keys: skip file
                    kept.append(fp)
            out[b] = kept
        return out

    def prune_files_by_range(
        self, snap: dict, col: str, lo=None, hi=None
    ) -> tuple[dict[int, list[str]], dict]:
        """File-skipping index for a range predicate on ANY scalar column,
        from the manifest's per-file column stats (``fstats[4]``). Returns
        ``(file_index, report)`` where the index maps bucket → kept absolute
        file paths and the report counts total/kept files.

        Soundness with merge-on-read: an UNMERGED bucket's LWW winner for a
        key may live in any generation file, so dropping one could surface a
        stale in-range loser — unmerged buckets are never pruned (all files
        kept; the exact filter still applies after the LWW resolve). Merged
        buckets and keyless tables hold only final rows, so any file whose
        stats range misses the predicate can be skipped outright. Files
        without stats for ``col`` (legacy manifests, evolved-in columns,
        stats-less writers) are always kept — pruning is an optimization,
        never a filter."""
        keyless = snap["key_cols"] is None
        lo_k, hi_k = _stat_key(lo), _stat_key(hi)
        idx: dict[int, list[str]] = {}
        total = kept_n = 0
        for b, info in snap["buckets"].items():
            files = info["files"]
            total += len(files)
            if not (keyless or info.get("merged", True)):
                idx[int(b)] = [os.path.join(self.root, f) for f in files]
                kept_n += len(files)
                continue
            fstats = list(info.get("fstats") or [])
            fstats += [None] * (len(files) - len(fstats))
            kept = []
            for f, fs in zip(files, fstats):
                rng = None
                if (
                    isinstance(fs, (list, tuple))
                    and len(fs) > 4
                    and isinstance(fs[4], dict)
                ):
                    rng = fs[4].get(col)
                keep = True
                if rng is not None and rng[0] is not None and rng[1] is not None:
                    try:
                        if hi_k is not None and rng[0] > hi_k:
                            keep = False
                        if keep and lo_k is not None and rng[1] < lo_k:
                            keep = False
                    except TypeError:
                        keep = True  # stat/bound type mismatch: must scan
                if keep:
                    kept.append(os.path.join(self.root, f))
            idx[int(b)] = kept
            kept_n += len(kept)
        return idx, {"files_total": total, "files_kept": kept_n}

    def read_range(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        include_meta: bool = False,
        include_tombstones: bool = False,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Range scan with MANIFEST-LEVEL file skipping: ``lo <= col <= hi``
        (either bound may be None for a half-open range). Two pruning
        levels stack under the exact predicate: files whose footer-harvested
        min/max for ``col`` miss the range are never opened (metadata-only,
        before Spark plans the scan), and Spark's own Parquet pushdown then
        skips row groups inside the kept files. The classic use is a
        time-window read of an append-only event log, where arrival order
        makes per-file ``ts`` ranges nearly disjoint — IO becomes
        O(window), not O(table)."""
        snap = self.snapshot(snapshot_id)
        # footer stats are keyed by PHYSICAL name; the final exact filter
        # runs on the logical-aliased read, so resolve both directions
        phys_col = self._resolve_column(col, snap)
        col = (snap.get("renames") or {}).get(phys_col, phys_col)
        idx, _report = self.prune_files_by_range(snap, phys_col, lo, hi)
        df = self.read(
            spark,
            snapshot_id=snapshot_id,
            include_meta=include_meta,
            include_tombstones=include_tombstones,
            buckets=sorted(idx),
            file_index=idx,
        )
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    # maintenance ops rewrite files without logical changes — the change
    # feed skips them. ONE list shared by the batch reader and the streaming
    # source (round-2 advice: two drifting copies of the walk is how a new
    # maintenance op silently leaks state files into the stream).
    CDF_SKIP_OPS = ("create", "compact", "vacuum", "rebucket", "set-props")

    def change_window_files(
        self, from_snapshot: int, to_snapshot: int, by_bucket: bool = False
    ) -> tuple[list[str] | dict[int, list[str]], str]:
        """The manifest walk behind the change feed, shared by batch
        ``read_changes``, the ``lake_cdf`` streaming source and the mirror
        catch-up: absolute paths of the delta files added by apply commits
        in ``(from_snapshot, to_snapshot]``, plus the window-end schema
        JSON. ``by_bucket=True`` groups the paths by the manifest bucket
        that lists them (bucket id -> paths). Validates the window (expired
        parents fail loudly; a copy-on-write commit inside it raises — its
        file diff would be table state, not changes)."""
        chain = self.snapshots()
        by_id = {s["snapshot_id"]: s for s in chain}
        if from_snapshot != 0 and from_snapshot not in by_id:
            raise ValueError(
                f"from_snapshot {from_snapshot} not in reachable history "
                "(expired or never committed)"
            )
        if to_snapshot not in by_id:
            raise ValueError(f"to_snapshot {to_snapshot} not in reachable history")
        new_files: dict[int, list[str]] = {}
        for s in chain:
            sid = s["snapshot_id"]
            if not (from_snapshot < sid <= to_snapshot):
                continue
            if s["op"] in self.CDF_SKIP_OPS:
                continue  # no logical change
            parent = by_id.get(s["parent_id"])
            if parent is None:
                raise ValueError(
                    f"snapshot {sid}'s parent is expired — change feed "
                    f"window ({from_snapshot}, {to_snapshot}] is no longer "
                    "readable"
                )
            pfiles = {
                f for info in parent["buckets"].values() for f in info["files"]
            }
            for b, info in s["buckets"].items():
                cur_files = set(info["files"])
                prev_info = parent["buckets"].get(b)
                if prev_info is not None and any(
                    f not in cur_files for f in prev_info["files"]
                ):
                    if s["op"] == "rollback":
                        raise ValueError(
                            f"snapshot {sid} rolled the table back inside "
                            f"change-feed window ({from_snapshot}, "
                            f"{to_snapshot}] — the feed cannot represent "
                            "un-happened changes; restart the consumer from "
                            "a post-rollback snapshot (fromSnapshot)"
                        )
                    raise ValueError(
                        f"snapshot {sid} (op={s['op']}) replaced files in "
                        f"bucket {b}: copy-on-write commits don't retain a "
                        "change feed — use merge-on-read (cfg.write_mode="
                        "'mor') for CDF windows"
                    )
                new_files.setdefault(int(b), []).extend(
                    os.path.join(self.root, f)
                    for f in info["files"]
                    if f not in pfiles
                )
        end_schema = by_id[to_snapshot]["schema"]
        if by_bucket:
            return new_files, end_schema
        return [f for fs in new_files.values() for f in fs], end_schema

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
        include_meta: bool = True,
    ) -> DataFrame:
        """Iceberg-style incremental change feed (CDF): the change rows
        committed by apply snapshots in ``(from_snapshot, to_snapshot]``,
        read by scanning ONLY the delta files those commits appended —
        O(changed data) IO, never O(table). This is how a downstream
        incremental consumer (a derived table, an index builder, a cache
        invalidator) tails the lake table without re-reading state, the
        lake-side analogue of the WAL tail the ingest side consumes
        (reference keeps no equivalent: its consumers re-SELECT Postgres).

        Semantics: each merge-on-read apply commit appends its batch's
        per-key LWW winners — including ``__op='D'`` tombstones — as
        bucket-delta files. The union of those files over the window IS the
        change feed (one row per key PER EPOCH that touched it). Folding the
        feed with the engine's LWW total order yields the NET per-key change
        of the window: LWW is an associative max, so per-epoch-winner then
        max-over-epochs equals max over all window events.

        Maintenance commits (``compact``/``vacuum``) rewrite files without
        logical changes and are skipped; their rewrites do not delete the
        delta files older snapshots reference (only ``expire_snapshots``'s
        GC does), so the feed stays readable until the window's snapshots
        are expired — a missing file fails loudly at scan time, never
        silently drops changes. A copy-on-write apply commit REPLACES bucket
        contents (its file diff would be table state, not changes), so one
        inside the window raises.
        """
        to_sid = self.current_snapshot_id() if to_snapshot is None else to_snapshot
        new_files, end_schema_json = self.change_window_files(from_snapshot, to_sid)
        phys = T.StructType(
            list(schema_from_json(end_schema_json).fields)
            + _phys_meta_fields(self.snapshot(to_sid))
        )
        df = scan_files(spark, new_files, phys)
        if not include_meta:
            df = df.drop(LSN_META_COL, OP_META_COL)
        # renamed columns surface under the WINDOW-END logical names, like
        # the schema itself (additive evolution uses the end schema too)
        return self._logical_alias(df, self.snapshot(to_sid))

    def read_changes_typed(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """TYPED change feed with pre/post images — the Delta-Lake
        ``readChangeFeed`` row shape (``_change_type`` in ``insert`` /
        ``update_preimage`` / ``update_postimage`` / ``delete``), computed
        for the NET window ``(from_snapshot, to_snapshot]``:

        * ``insert`` — key absent (or tombstoned) at window start, live at
          window end: one row, the post-image.
        * ``update_preimage`` + ``update_postimage`` — key live at both ends
          and the winning row changed: two rows, old and new image.
        * ``delete`` — key live at window start, tombstoned at window end:
          one row, the pre-image.

        A key whose window events all LOSE the LWW order to its pre-window
        state (a late, lower-LSN replay) emits NOTHING — the table did not
        change. This is the feed shape incremental aggregate maintenance
        needs: plain ``read_changes`` emits only new images, so a consumer
        cannot retract a group's old contribution; with pre-images every
        SUM/COUNT-style aggregate becomes delta-maintainable
        (``plans/ivm.AggSyncJob``).

        Execution shape, all O(changed data), never O(table):

        1. the window's delta files → net per-key window winner (one
           hash-aggregate, map-side combined);
        2. pre-images: time-travel ``read_keys`` at ``from_snapshot`` over
           the touched keys, ``broadcast_keys=False`` — only bucket ids are
           collected (≤ n_buckets); the touched keys themselves stay on the
           executors and semi-join against the touched buckets' scan;
        3. post = LWW(pre ∪ window winner) — the same total order the table
           itself resolves reads with; a change row is emitted only where
           post ≠ pre.

        The two bounded intermediates — the window's net winners and the
        touched keys' pre-images, both O(changed keys) — are PERSISTED
        (memory-and-disk): each appears 2-3 times in the final plan (union,
        join probe, semi-join build) and Spark does not reuse non-identical
        subtrees across those branches; without the cache the window scan +
        aggregate would run ~3×. The cache is released by Spark's context
        cleaner once the consumer drops the returned DataFrame.

        Requires a keyed table (pre/post images are key semantics)."""
        key_cols = self.key_cols()
        if key_cols is None:
            raise ValueError("typed change feed requires key columns (keyless table)")
        if self.snapshot().get("merge_engine", "lww") != "lww":
            raise ValueError(
                "typed change feed is defined over the LWW engine (pre/post "
                "images are whole-row states); partial/aggregate tables "
                "expose the raw feed (read_changes) — each row is a column "
                "patch/delta with __col_lsns provenance"
            )
        to_sid = self.current_snapshot_id() if to_snapshot is None else to_snapshot
        feed = self.read_changes(spark, from_snapshot, to_sid)
        from cnpj_data_pipeline_spark.operators.dedup import lww_winners_agg

        from pyspark import StorageLevel

        win = lww_winners_agg(
            feed, key_cols, lsn_col=LSN_META_COL, op_col=OP_META_COL
        ).persist(StorageLevel.MEMORY_AND_DISK)
        touched = win.select(*key_cols)

        # LOGICAL names throughout: the feed (read_changes) and the
        # pre-image lookup (read_keys) both alias at their boundary, so the
        # typed rows compose under the window-end logical schema
        end_schema = self.logical_schema(to_sid)
        payload_cols = [f.name for f in end_schema.fields]
        phys_cols = payload_cols + [LSN_META_COL, OP_META_COL]

        if from_snapshot == 0:
            pre = local_frame(
                spark,
                T.StructType(list(end_schema.fields) + PHYSICAL_META_FIELDS),
            )
        else:
            # read pre-images under PHYSICAL names, then alias them with the
            # window-END rename map: a rename inside the window would
            # otherwise leave the pre-image under its old logical name, get
            # padded to NULL under the new one, and silently corrupt every
            # update_preimage/delete row (and the changed-detection) for
            # that column. Physical names are stable across renames, and
            # key columns (the lookup join) can never be renamed.
            pre = self.read_keys(
                spark,
                touched,
                include_meta=True,
                include_tombstones=True,
                snapshot_id=from_snapshot,
                broadcast_keys=False,
                logical=False,
            )
            pre = self._logical_alias(pre, self.snapshot(to_sid))
        # pad pre to the window-end schema (additive evolution inside the
        # window: pre-images gain NULL columns, like the batch reader)
        for f in end_schema.fields:
            if f.name not in pre.columns:
                pre = pre.withColumn(f.name, F.lit(None).cast(f.dataType))
        pre = pre.select(*phys_cols).persist(StorageLevel.MEMORY_AND_DISK)

        post = lww_winners_agg(
            pre.unionByName(win.select(*phys_cols)),
            key_cols,
            lsn_col=LSN_META_COL,
            op_col=OP_META_COL,
        )

        def _img(df: DataFrame, name: str) -> DataFrame:
            return df.select(
                *key_cols,
                F.struct(*[F.col(c) for c in phys_cols]).alias(name),
            )

        j = _img(post, "__new").join(_img(pre, "__old"), key_cols, "left_outer")
        new_s, old_s = F.col("__new"), F.col("__old")
        pre_live = old_s.isNotNull() & (old_s[OP_META_COL] != "D")
        post_live = new_s[OP_META_COL] != "D"
        changed = ~new_s.eqNullSafe(old_s)

        def _row(src, ctype: str):
            return F.struct(
                *[src[c].alias(c) for c in payload_cols],
                src[LSN_META_COL].alias("lsn"),
                F.lit(ctype).alias(CHANGE_TYPE_COL),
            )

        rows = (
            F.when(~pre_live & post_live, F.array(_row(new_s, "insert")))
            .when(
                pre_live & post_live & changed,
                F.array(
                    _row(old_s, "update_preimage"),
                    _row(new_s, "update_postimage"),
                ),
            )
            .when(pre_live & ~post_live, F.array(_row(old_s, "delete")))
        )
        return j.select(F.explode(rows).alias("__c")).select("__c.*")

    def read_state_for_merge(
        self, spark: SparkSession, buckets: Iterable[int], evolved_schema: T.StructType
    ) -> DataFrame:
        """Physical rows (incl. tombstones + meta) of the touched buckets, padded
        to the evolved schema, with the bucket column re-derived."""
        snap = self.snapshot()
        phys = T.StructType(
            list(evolved_schema.fields) + _phys_meta_fields(snap)
        )
        df = scan_files(spark, self._bucket_files(snap, buckets), phys)
        return df.withColumn(
            BUCKET_COL, bucket_expr(self._bucket_cols_of(snap), snap["n_buckets"])
        )

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """FIXTURES.md F4 lineage table, materialized from snapshot manifests."""
        rows = []
        for s in self.snapshots():
            at = _dt.datetime.strptime(s["committed_at"], "%Y-%m-%dT%H:%M:%S.%fZ")
            for e in s["lineage"]:
                rows.append(
                    (
                        s["snapshot_id"],
                        s["parent_id"],
                        e.get("epoch"),
                        e["partition_id"],
                        e.get("max_lsn"),
                        s["op"],
                        e["rows_applied"],
                        at,
                    )
                )
        from cnpj_data_pipeline_spark.schemas import LINEAGE_SCHEMA

        return spark.createDataFrame(rows, LINEAGE_SCHEMA)

    def files_df(
        self, spark: SparkSession, snapshot_id: int | str | None = None
    ) -> DataFrame:
        """Iceberg-style ``files`` metadata table: one row per LIVE data
        file of the snapshot, straight from the manifest (driver-side,
        metadata-scale — no filesystem walk, no footer reads). Surfaces the
        stats the pruning levels run on (rows, LSN watermark, leading-key
        range, bloom presence), so layout questions — generation counts,
        skew, compaction debt — are one SQL query away."""
        from cnpj_data_pipeline_spark.lake.bloom import sidecar_path

        snap = self.snapshot(snapshot_id)
        rows = []
        for b, info in sorted(snap["buckets"].items(), key=lambda kv: int(kv[0])):
            fstats = info.get("fstats") or []
            fstats = list(fstats) + [None] * (len(info["files"]) - len(fstats))
            for rel, st in zip(info["files"], fstats):
                fp = os.path.join(self.root, rel)
                try:
                    size = os.path.getsize(fp)
                except OSError:
                    size = None
                st = st or [None] * 5
                rows.append(
                    (
                        int(b), rel, size,
                        st[0], st[1],
                        None if st[2] is None else str(st[2]),
                        None if st[3] is None else str(st[3]),
                        os.path.exists(sidecar_path(fp)),
                        bool(info.get("merged", True)),
                    )
                )
        return spark.createDataFrame(
            rows,
            "bucket int, path string, bytes long, rows long, max_lsn long, "
            "kmin string, kmax string, has_bloom boolean, merged boolean",
        )

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg-style ``snapshots`` metadata table: one row per commit on
        the current chain, tags joined in."""
        tag_by_sid: dict[int, list[str]] = {}
        for name, sid in self.tags().items():
            tag_by_sid.setdefault(sid, []).append(name)
        rows = []
        for s in self.snapshots():
            rows.append(
                (
                    s["snapshot_id"], s.get("parent_id"), s["op"],
                    s.get("epoch"),
                    s.get("merge_engine", "lww"),
                    int(s["n_buckets"]),
                    sum(len(i["files"]) for i in s["buckets"].values()),
                    s.get("rows_total"),
                    sorted(tag_by_sid.get(s["snapshot_id"], [])),
                    s["committed_at"],
                )
            )
        return spark.createDataFrame(
            rows,
            "snapshot_id int, parent_id int, op string, epoch int, "
            "merge_engine string, n_buckets int, n_files long, "
            "rows_total long, tags array<string>, committed_at string",
        )

    def check_table(
        self,
        spark: SparkSession | None = None,
        footers: bool = True,
        placement: bool = False,
    ) -> dict:
        """Integrity audit (the ``CHECK TABLE`` maintenance op): verify the
        current snapshot's physical state against its manifest. Always:
        every referenced file exists. ``footers=True``: each file's Parquet
        footer row count equals the manifest's per-file stat (distributed
        over ``spark`` when given and the table is large, else serial
        driver-side). ``placement=True`` (requires ``spark``): re-hash every
        physical row with the table's bucket function and compare against
        the bucket directory it lives in — the deep proof that bucket
        pruning can never miss a key (one map-only scan, no exchange).

        Returns ``{"ok": bool, "files_checked": n, "issues": [str, ...]}``
        — empty issues means the manifest, the bytes, and the layout agree.
        Reference analogue: none; Postgres trusts its own heap."""
        snap = self.snapshot()
        issues: list[str] = []
        pairs: list[tuple[str, int | None]] = []
        for b, info in snap["buckets"].items():
            fstats = info.get("fstats") or []
            fstats = list(fstats) + [None] * (len(info["files"]) - len(fstats))
            for rel, st in zip(info["files"], fstats):
                fp = os.path.join(self.root, rel)
                if not os.path.exists(fp):
                    issues.append(f"missing data file: {rel}")
                    continue
                pairs.append((fp, None if st is None else st[0]))
        if footers and pairs:

            def _probe(pair):
                fp, want = pair
                try:
                    got = _pq.ParquetFile(fp).metadata.num_rows
                except Exception as e:  # torn/corrupt file
                    return f"unreadable footer: {fp}: {e}"
                if want is not None and got != want:
                    return (
                        f"row-count drift: {fp}: footer {got} != "
                        f"manifest {want}"
                    )
                return None

            if spark is not None and len(pairs) >= 256:
                sc = spark.sparkContext
                found = (
                    sc.parallelize(pairs, min(len(pairs), 4 * sc.defaultParallelism))
                    .map(_probe)
                    .filter(lambda x: x is not None)
                    .collect()
                )
                issues.extend(found)
            else:
                issues.extend(p for p in map(_probe, pairs) if p)
        if placement:
            if spark is None:
                raise ValueError("placement check needs a SparkSession")
            files = [fp for fp, _ in pairs]
            if files:
                expected = F.regexp_extract(
                    F.input_file_name(), f"{BUCKET_COL}=(\\d+)", 1
                ).cast("int")
                bad = (
                    scan_files(spark, files, self.physical_schema())
                    .where(
                        bucket_expr(
                            self._bucket_cols_of(snap), int(snap["n_buckets"]),
                            lsn_col=LSN_META_COL,
                        )
                        != expected
                    )
                    .count()
                )
                if bad:
                    issues.append(
                        f"{bad} row(s) live in a bucket directory their key "
                        "does not hash to"
                    )
        return {
            "ok": not issues,
            "files_checked": len(pairs),
            "issues": issues,
        }

    # ---------------- write / commit ----------------

    def new_staging_dir(self) -> str:
        """Per-attempt unique staging path: no reader can discover it (only
        manifests grant visibility) and no concurrent writer can collide with
        it — committed files simply stay where they were staged. The unique
        name (not ``snap-<id>``) is what lets a commit REBASE onto a new
        parent after losing the CAS race without re-staging any data."""
        return os.path.join(
            self.data_dir, f"stage-{os.getpid()}-{_uuid.uuid4().hex[:10]}"
        )

    def collect_staged(
        self,
        stage: str,
        spark: SparkSession | None = None,
        blooms: str = "off",
    ) -> dict[int, dict]:
        """Inventory freshly staged files: bucket -> {files, rows, max_lsn,
        fstats}, stats from Parquet footers only. ``fstats`` is per-file
        ``[rows, max_lsn, kmin, kmax, cstats]``: leading-key min/max (the
        data is key-clustered within each compacted file, so these ranges
        drive ``read_keys``'s file-level pruning) plus per-column min/max
        for every scalar column (``read_range``'s predicate file skipping),
        Iceberg-manifest style.

        When ``spark`` is given and the staged file count is large enough
        that a distributed pass beats its own fixed job overhead, the footer
        reads fan out over the executors (one tiny stats row per file comes
        back); the driver never opens thousands of data files one-by-one —
        this keeps the commit phase flat from 64 buckets to 2^14 (the
        round-2 verdict's one remaining O(n_buckets) driver loop). Below the
        cutover the driver reads the footers itself: at ~0.3 ms/footer a
        64-file epoch costs ~20 ms serially, while a parallelize+collect
        job costs a fixed ~0.3-0.5 s — paying that PER EPOCH is pure Amdahl
        tax on the fast-config side of the scaling gate (measured: 8-core
        ingest wall regressed 25.6 -> 28.5 s when the cutover sat at 64).
        ``SPARK_GRAFT_STATS_DISTRIBUTED_MIN`` overrides the break-even
        point (default 1024 files ~= 0.3 s serial ~= one job's overhead).

        ``blooms``: write per-file key bloom sidecars (``lake/bloom.py``,
        read_keys' third pruning level) alongside the harvest. "force"
        always builds them (one extra column-pruned read per file — the
        lookup-optimized ingest mode, and the maintenance rewrites, where
        the read-optimization budget lives); "auto"/"off" skip — the
        ingest hot path must stay footer-only (EngineConfig.key_blooms)."""
        key_cols = self.key_cols()
        key_col = key_cols[0] if key_cols else None
        pairs: list[tuple[int, str]] = []
        for bdir in sorted(glob.glob(os.path.join(stage, f"{BUCKET_COL}=*"))):
            b = int(os.path.basename(bdir).split("=", 1)[1])
            for fp in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
                pairs.append((b, fp))

        dist_min = int(
            os.environ.get("SPARK_GRAFT_STATS_DISTRIBUTED_MIN", "1024")
        )
        distributed = spark is not None and len(pairs) >= dist_min
        with_blooms = key_col is not None and blooms == "force"
        if distributed:
            lsn_col = LSN_META_COL
            kc = key_col
            wb = with_blooms
            paths = [fp for _, fp in pairs]
            sc = spark.sparkContext
            slices = min(len(paths), 4 * sc.defaultParallelism)
            stats_by_path = dict(
                sc.parallelize(paths, slices)
                .map(lambda p: (p, _file_stats(p, lsn_col, kc, bloom=wb)))
                .collect()
            )
        else:
            stats_by_path = {
                fp: _file_stats(
                    fp, LSN_META_COL, key_col, bloom=with_blooms
                )
                for _, fp in pairs
            }

        return fold_file_stats(
            (b, os.path.relpath(fp, self.root), stats_by_path[fp])
            for b, fp in pairs
        )

    def commit(
        self,
        *,
        op: str,
        epoch: int | Iterable[int] | None,
        bucket_updates: dict[int, dict],
        new_schema: T.StructType | None = None,
        mode: str = "replace",
        merged: bool = True,
        new_n_buckets: int | None = None,
        expected_parent: int | None = None,
        max_retries: int = 10,
        props: dict | None = None,
        expected_props: dict | None = None,
        drop_column: str | None = None,
        rename: tuple[str, str] | None = None,
    ) -> int:
        """Atomically publish a new snapshot under OPTIMISTIC CONCURRENCY:
        build the snapshot against the current head, then attempt the
        exclusive creation of its manifest (the CAS — commit point). Losing
        the race to a concurrent writer re-reads the new head, validates the
        commit still applies, REBASES it (the snapshot is rebuilt against the
        new parent; staged data files are untouched — their paths don't
        encode the snapshot id), and retries with the next id.

        Validation on rebase (Iceberg's ValidationException analogue):

        * ``epoch`` already applied by the winner → :class:`EpochAlreadyAppliedError`
          (exactly-once across racing ingest writers — callers treat as skip).
        * bucket count changed under staged files (a concurrent ``rebucket``)
          → :class:`CommitConflictError` (files were bucketed for the old layout).
        * ``mode="replace"`` (compact/vacuum/CoW merge/rebucket) and an
          intervening commit touched a victim bucket → :class:`CommitConflictError`
          (the rewrite was computed from stale state; callers re-run the op).
        * append-mode commits always rebase cleanly: their delta files attach
          to whatever the new parent's buckets hold, and a concurrently
          evolved schema unions with this commit's. In append mode ``merged``
          is the writer's voucher that the generation holds one folded row
          per key — pass ``merged=False`` when appending RAW versions (an
          unfolded copart chunk, a partial-engine append) so a first
          generation still resolves through the merge-on-read fold.

        ``expected_parent`` is the snapshot id the caller planned/read its
        input state at (defaults to the head seen on the first attempt).
        ``merged``: whether the updated buckets hold exactly one winner row
        per key afterwards; appending to a non-empty bucket always clears it.

        ``epoch`` may be an ITERABLE of epochs: one atomic commit marks the
        whole set applied (the catch-up-window path — a consumer folding K
        pending epochs into one merge). All-or-nothing: if ANY of them was
        applied concurrently the commit raises, because the staged data is
        the fold of the full window and cannot subtract the overlap.

        ``props`` are TABLE PROPERTIES: a small JSON dict merged (key-wise)
        into the table's persistent property map, atomically with the data —
        the consumer-offset/frontier store for jobs whose progress is not an
        integer epoch (e.g. a join view tracking a frontier per source).
        ``expected_props`` is the CAS guard: the commit aborts with
        :class:`CommitConflictError` unless the CURRENT head still holds
        exactly these values (a racing consumer instance advanced the
        frontier first — the exactly-once skip, like EpochAlreadyApplied)."""
        if epoch is None:
            epochs: list[int] = []
        elif isinstance(epoch, int):
            epochs = [epoch]
        else:
            epochs = sorted({int(e) for e in epoch})
        baseline_sid = expected_parent
        attempts = 0
        while True:
            cur = self.snapshot()
            if baseline_sid is None:
                baseline_sid = cur["snapshot_id"]
            overlap = set(epochs) & set(cur["applied_epochs"])
            if overlap:
                raise EpochAlreadyAppliedError(
                    f"epoch(s) {sorted(overlap)} were applied by a concurrent "
                    f"commit (head={cur['snapshot_id']}); refusing to "
                    "double-apply"
                )
            if expected_props:
                cur_props = cur.get("props") or {}
                stale = {
                    k: cur_props.get(k)
                    for k, v in expected_props.items()
                    if cur_props.get(k) != v
                }
                if stale:
                    raise FrontierConflictError(
                        f"table properties moved underneath this commit "
                        f"(expected {expected_props}, head has {stale}): a "
                        "concurrent consumer instance advanced the frontier "
                        "— re-plan from the current head"
                    )
            if cur["snapshot_id"] != baseline_sid:
                self._validate_rebase(
                    cur, baseline_sid, bucket_updates, mode, new_n_buckets
                )
            sid = self._build_and_cas(
                cur, op, epochs, bucket_updates, new_schema, mode, merged,
                new_n_buckets, props, drop_column=drop_column, rename=rename,
            )
            if sid is not None:
                return sid
            attempts += 1
            if attempts >= max_retries:
                raise CommitConflictError(
                    f"lost the commit race {attempts} times (op={op}); giving up"
                )

    def _validate_rebase(
        self,
        cur: dict,
        baseline_sid: int,
        bucket_updates: dict[int, dict],
        mode: str,
        new_n_buckets: int | None,
    ) -> None:
        try:
            base = self.snapshot(baseline_sid)
        except FileNotFoundError:
            raise CommitConflictError(
                f"baseline snapshot {baseline_sid} expired during commit"
            )
        if cur["n_buckets"] != base["n_buckets"]:
            raise CommitConflictError(
                "bucket layout changed underneath staged files "
                f"({base['n_buckets']} -> {cur['n_buckets']}): re-run the op"
            )
        if mode == "replace":
            if new_n_buckets is not None:
                raise CommitConflictError(
                    "a commit landed during rebucket — the whole-table "
                    "rewrite is stale; re-run rebucket"
                )
            for b in bucket_updates:
                cur_files = cur["buckets"].get(str(b), {}).get("files", [])
                base_files = base["buckets"].get(str(b), {}).get("files", [])
                if cur_files != base_files:
                    raise CommitConflictError(
                        f"bucket {b} was modified by a concurrent commit "
                        f"(snapshots {baseline_sid}..{cur['snapshot_id']}); "
                        "this replace-mode rewrite is stale — re-run it"
                    )

    def _build_and_cas(
        self,
        cur: dict,
        op: str,
        epochs: list[int],
        bucket_updates: dict[int, dict],
        new_schema: T.StructType | None,
        mode: str,
        merged: bool,
        new_n_buckets: int | None,
        props: dict | None = None,
        drop_column: str | None = None,
        rename: tuple[str, str] | None = None,
    ) -> int | None:
        """One commit attempt against ``cur``: validate at the head, build
        the snapshot, try the exclusive manifest create. Returns the new id,
        or None on CAS loss."""
        _check_at_head(cur, new_schema, props, drop_column, rename)
        snap = _next_snapshot(
            cur, op=op, epochs=epochs, bucket_updates=bucket_updates,
            mode=mode, merged=merged, new_schema=new_schema, props=props,
            drop_column=drop_column, rename=rename,
            new_n_buckets=new_n_buckets,
        )
        try:
            return self._publish(snap)
        except FileExistsError:
            return None  # CAS lost: another writer committed this id first

    def _publish(self, snap: dict) -> int:
        """Publish a built snapshot: the exclusive manifest create (raises
        ``FileExistsError`` when another writer holds the id), then the
        pointer hint."""
        self._write_snapshot(snap)
        self._swap_pointer(snap["snapshot_id"])
        return snap["snapshot_id"]

    def _write_snapshot(self, snap: dict) -> None:
        """The commit point: exclusive creation of the manifest. A crash
        before it leaves only an invisible temp file; after it, the commit
        is durable whether or not the pointer hint ever advances
        (``current_snapshot_id`` probes forward)."""
        _write_json(
            self._snapshot_path(snap["snapshot_id"]), snap, exclusive=True
        )

    def _swap_pointer(self, sid: int) -> None:
        _advance_hint(self._pointer_path(), sid)

    # ------------- write-audit-publish (staged commits) -------------
    #
    # Iceberg's WAP pattern re-expressed on this format: a writer stages a
    # fully merged batch (data files written, footer stats harvested) but
    # records it as a DESCRIPTOR under meta/ instead of committing. No
    # reader can see it (visibility is only via committed manifests); an
    # auditor previews the WOULD-BE table state through a synthetic
    # snapshot; publish turns the descriptor into a normal optimistic
    # commit (append-mode, so it REBASES cleanly over anything that landed
    # since staging); abandon quarantines the batch without it ever having
    # been visible. The reference has no analogue — bad batches reach the
    # database and are repaired after the fact; here rollback() remains for
    # that, but WAP prevents the bad publish entirely.

    def _staged_desc_path(self, token: str) -> str:
        return os.path.join(self.meta_dir, f"staged-{token}.json")

    def stage_commit(
        self,
        *,
        op: str,
        epochs: list[int],
        bucket_updates: dict[int, dict],
        new_schema: T.StructType | None,
        stage_dir: str,
        merged: bool = True,
    ) -> str:
        """Persist a pending (staged, unpublished) commit descriptor and
        return its token. The staged data files stay invisible; the
        descriptor is what protects them from orphan GC until the batch is
        published or abandoned. ``merged``: the writer's voucher that each
        staged generation holds one folded row per key (see ``commit``)."""
        snap = self.snapshot()
        token = _uuid.uuid4().hex[:16]
        desc = {
            "token": token,
            "op": op,
            "epochs": sorted(int(e) for e in epochs),
            "mode": "append",
            "merged": bool(merged),
            "n_buckets": snap["n_buckets"],
            "bucket_cols": self._bucket_cols_of(snap),
            "bucket_updates": {str(b): u for b, u in bucket_updates.items()},
            "new_schema": new_schema.json() if new_schema is not None else None,
            "baseline_sid": snap["snapshot_id"],
            "stage_dir": os.path.relpath(stage_dir, self.root),
            "created_at": _utcnow_iso(),
        }
        _write_json(self._staged_desc_path(token), desc)
        return token

    def load_staged(self, token: str) -> dict:
        return _read_json(self._staged_desc_path(token))

    def list_staged(self) -> list[dict]:
        """All pending staged batches, oldest first — the maintenance view
        (an audit job that died between stage and publish/abandon leaves a
        descriptor behind; this is how it's found)."""
        out = []
        for p in glob.glob(os.path.join(self.meta_dir, "staged-*.json")):
            try:
                with open(p) as f:
                    out.append(json.load(f))
            except (OSError, ValueError):
                pass
        return sorted(out, key=lambda d: d.get("created_at", ""))

    def staged_snapshot(self, token: str) -> dict:
        """The snapshot the staged batch would commit if published right
        now: the descriptor applied to the current head by the same builder
        and head checks as :meth:`publish_staged`'s commit. Raises
        :class:`CommitConflictError` if the layout changed underneath the
        staged files, :class:`EpochAlreadyAppliedError` if a concurrent
        writer already applied the batch's epochs (the preview would double
        count)."""
        desc = self.load_staged(token)
        cur = self.snapshot()
        self._check_staged_layout(desc, cur)
        overlap = set(desc["epochs"]) & set(cur["applied_epochs"])
        if overlap:
            raise EpochAlreadyAppliedError(
                f"staged epoch(s) {sorted(overlap)} were applied by a "
                "concurrent writer; the staged batch is obsolete"
            )
        new_schema = (
            schema_from_json(desc["new_schema"])
            if desc.get("new_schema") else None
        )
        _check_at_head(cur, new_schema)
        return _next_snapshot(
            cur, op=desc["op"], epochs=desc["epochs"],
            bucket_updates=desc["bucket_updates"], mode="append",
            merged=desc.get("merged", True), new_schema=new_schema,
        )

    def _check_staged_layout(self, desc: dict, head: dict) -> None:
        """A rebucket between stage and publish would append files under
        STALE bucket ids — rows landing in buckets their keys no longer hash
        to, silently invisible to read_keys/bucket pruning and split across
        per-bucket LWW folds."""
        if head["n_buckets"] != desc["n_buckets"] or (
            desc.get("bucket_cols") is not None
            and self._bucket_cols_of(head) != desc["bucket_cols"]
        ):
            raise CommitConflictError(
                "bucket layout changed underneath the staged batch "
                f"(n_buckets {desc['n_buckets']} -> {head['n_buckets']}, "
                f"bucket_cols {desc.get('bucket_cols')} -> "
                f"{self._bucket_cols_of(head)}); abandon and re-stage"
            )

    def read_staged(
        self,
        spark: SparkSession,
        token: str,
        include_meta: bool = False,
        include_tombstones: bool = False,
        only_delta: bool = False,
    ) -> DataFrame:
        """Audit read of a staged batch. ``only_delta=True`` returns just the
        staged rows themselves (with ``__lsn``/``__op`` meta — the batch an
        upstream bug would have corrupted); ``False`` returns the full table
        state the publish WOULD produce (current head ∪ staged deltas, LWW
        resolved at read time). Either way nothing is committed and no other
        reader can observe the staged data."""
        if only_delta:
            desc = self.load_staged(token)
            if desc.get("new_schema"):
                schema = union_schema(
                    self.schema(), schema_from_json(desc["new_schema"]),
                    dropped=self.snapshot().get("dropped_cols") or (),
                )
            else:
                schema = self.schema()
            phys = T.StructType(
                list(schema.fields) + _phys_meta_fields(self.snapshot())
            )
            files = [
                os.path.join(self.root, f)
                for info in desc["bucket_updates"].values()
                for f in info["files"]
            ]
            return self._logical_alias(
                scan_files(spark, files, phys), self.snapshot()
            )
        return self.read(
            spark,
            include_meta=include_meta,
            include_tombstones=include_tombstones,
            snapshot_override=self.staged_snapshot(token),
        )

    def publish_staged(self, token: str, max_retries: int = 10) -> int:
        """Turn the staged batch into a committed snapshot (the WAP
        publish). Append-mode, so it rebases over anything committed since
        staging, under the same optimistic-concurrency CAS as a direct
        apply. Idempotent across a crash between commit and descriptor
        removal: if the epochs are already applied AND the head references
        this descriptor's files, the earlier publish won — the descriptor is
        dropped and the head returned. If a DIFFERENT writer applied the
        epochs, the staged files are abandoned and
        :class:`EpochAlreadyAppliedError` propagates (exactly-once).

        The descriptor's bucket layout is validated against the current
        head before committing (:meth:`_check_staged_layout`, shared with
        :meth:`staged_snapshot`)."""
        desc = self.load_staged(token)
        head = self.snapshot()
        self._check_staged_layout(desc, head)
        updates = {int(b): u for b, u in desc["bucket_updates"].items()}
        new_schema = (
            schema_from_json(desc["new_schema"]) if desc.get("new_schema") else None
        )
        try:
            # expected_parent = the head we just validated: if a layout
            # change lands between this check and the CAS, _validate_rebase
            # (n_buckets guard) aborts instead of committing stale bucket ids
            sid = self.commit(
                op=desc["op"],
                epoch=desc["epochs"] or None,
                bucket_updates=updates,
                new_schema=new_schema,
                mode="append",
                merged=desc.get("merged", True),
                expected_parent=head["snapshot_id"],
                max_retries=max_retries,
            )
        except EpochAlreadyAppliedError:
            head = self.snapshot()
            referenced = {
                f for info in head["buckets"].values() for f in info["files"]
            }
            ours = {
                f for info in desc["bucket_updates"].values()
                for f in info["files"]
            }
            if ours and ours <= referenced:
                # our own earlier publish committed, then crashed before
                # removing the descriptor — finish the cleanup, don't GC
                # committed data
                try:
                    os.remove(self._staged_desc_path(token))
                except OSError:
                    pass
                return head["snapshot_id"]
            self.abandon_staged(token)
            raise
        try:
            os.remove(self._staged_desc_path(token))
        except OSError:
            pass
        return sid

    def abandon_staged(self, token: str) -> dict:
        """Quarantine a staged batch: delete its data files and descriptor.
        Files the current head references are NEVER deleted (the batch was
        actually published — a crashed publish's descriptor); in that case
        only the descriptor is dropped and ``already_published`` is true."""
        desc = self.load_staged(token)
        head = self.snapshot()
        referenced = {
            f for info in head["buckets"].values() for f in info["files"]
        }
        ours = [
            f for info in desc["bucket_updates"].values() for f in info["files"]
        ]
        published = bool(ours) and set(ours) <= referenced
        files_removed = 0
        bytes_removed = 0
        if not published:
            from cnpj_data_pipeline_spark.lake.bloom import remove_sidecar

            for rel in ours:
                fp = os.path.join(self.root, rel)
                try:
                    bytes_removed += os.path.getsize(fp)
                    os.remove(fp)
                    files_removed += 1
                except OSError:
                    pass
                remove_sidecar(fp)
            stage_abs = os.path.join(self.root, desc.get("stage_dir", ""))
            if desc.get("stage_dir") and os.path.isdir(stage_abs):
                for dirpath, _dn, _fn in os.walk(stage_abs, topdown=False):
                    self._rmdir_with_artifacts(dirpath)
        try:
            os.remove(self._staged_desc_path(token))
        except OSError:
            pass
        return {
            "token": token,
            "files_removed": files_removed,
            "bytes_removed": bytes_removed,
            "already_published": published,
        }

    def _staged_referenced_files(self) -> set[str]:
        """Files pending under staged-commit descriptors — protected from
        orphan GC until their batch is published or abandoned."""
        out: set[str] = set()
        for d in self.list_staged():
            for info in d.get("bucket_updates", {}).values():
                out.update(info.get("files", []))
        return out

    # ---------------- maintenance ----------------

    def _shuffle_rewrite_updates(
        self,
        spark: SparkSession,
        snap: dict,
        victims: list[int],
        salt_factor: int,
        lsn_horizon: int | None,
        blooms: bool = True,
    ) -> dict[int, dict]:
        """The salted-repartition rewrite kernel: read the victims' state,
        resolve the per-key fold across (bucket, salt) tasks (the table's
        merge engine: LWW winner row, or partial per-column fold — the salt
        is a full-key hash, so a key's versions never split across groups),
        write key-clustered files, harvest stats. Returns the commit-ready
        ``bucket_updates`` fragment (caller owns the commit)."""
        from cnpj_data_pipeline_spark.config import SALT_COL

        key_cols = snap["key_cols"]
        df = self.read_state_for_merge(spark, victims, self.schema())
        df = df.withColumn(
            SALT_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(salt_factor)).cast(
                "int"
            ),
        )
        n_parts = max(
            1,
            min(
                len(victims) * salt_factor,
                2 * spark.sparkContext.defaultParallelism,
            ),
        )
        parted = df.repartition(n_parts, F.col(BUCKET_COL), F.col(SALT_COL))
        from cnpj_data_pipeline_spark.operators.partial import winners_agg

        winners = winners_agg(
            parted,
            [BUCKET_COL, SALT_COL, *key_cols],
            self.schema().names,
            snap.get("merge_engine", "lww"),
            lsn_col=LSN_META_COL,
            op_col=OP_META_COL,
            agg_spec=snap.get("agg_spec"),
        ).drop(SALT_COL)
        if lsn_horizon is not None:
            winners = winners.filter(
                ~(
                    (F.col(OP_META_COL) == "D")
                    & (F.col(LSN_META_COL) < lsn_horizon)
                )
            )
        stage = self.new_staging_dir()
        # cluster each rewritten bucket (task-local sort, no extra exchange):
        # compaction is the read-optimization pass, so pay the in-task sort
        # once to make parquet row-group min/max stats selective — by the
        # declared sort_order property if set (range-scan clustering), else
        # by key (point-read clustering); the Iceberg sort-order analogue
        sort_cols = self._sort_cols_of(snap)
        with owned_write_conf(spark):
            winners.sortWithinPartitions(BUCKET_COL, *sort_cols).write.mode(
                "overwrite"
            ).partitionBy(BUCKET_COL).parquet(stage)
        # maintenance pass: build blooms by default (the map-only rewrite —
        # the default compaction path — builds them inline for the same
        # reason); key_blooms="off" threads blooms=False down to here
        return self.collect_staged(
            stage, spark, blooms="force" if blooms else "off"
        )

    def _bucket_bytes(self, snap: dict, bucket: int) -> int:
        """Total on-disk bytes of one bucket's live generations (driver-side
        stat of the victim's files only — never a tree walk)."""
        total = 0
        for rel in snap["buckets"].get(str(bucket), {}).get("files", ()):
            try:
                total += os.path.getsize(os.path.join(self.root, rel))
            except OSError:
                pass
        return total

    # Per-bucket routing threshold for the map-only rewrite: a bucket whose
    # live generations exceed this many PARQUET bytes is folded by the salted
    # shuffle kernel instead of a single Arrow task (decoded Arrow state runs
    # ~3-5x the zstd parquet size, so 1 GiB on disk is a few GiB of task
    # memory — the edge of one executor-thread's comfortable share). A
    # well-sized layout (EngineConfig.n_buckets) never trips this; it exists
    # so ONE skewed bucket degrades to a shuffle instead of an OOM.
    MAP_REWRITE_MAX_BUCKET_BYTES = 1 << 30

    def _rewrite_buckets(
        self,
        spark: SparkSession,
        victims: list[int],
        op: str,
        salt_factor: int = 4,
        lsn_horizon: int | None = None,
        strategy: str = "map",
        map_max_bucket_bytes: int | None = None,
        blooms: bool = True,
    ) -> int:
        """Shared kernel for compact/vacuum: resolve the victims' per-key
        LWW winner, optionally drop tombstone winners below the LSN horizon,
        rewrite the buckets as single-generation key-clustered state, commit.

        ``strategy="map"`` (default): NO exchange — a committed bucket's
        generations already live together on disk, so one Arrow task per
        bucket folds/sorts/writes/stats its own state
        (``operators.copart.rewrite_buckets_map``); the rewritten bucket is
        exactly ONE key-sorted file. Buckets whose on-disk bytes exceed
        ``map_max_bucket_bytes`` (default
        :data:`MAP_REWRITE_MAX_BUCKET_BYTES`) are AUTOMATICALLY routed
        through the salted shuffle kernel instead — per bucket, not as a
        global mode choice — so one skewed bucket cannot OOM a task while
        the rest of the pass stays map-only. ``strategy="shuffle"`` forces
        the salted repartition kernel for every victim. Either way the pass
        is ONE atomic commit."""
        snap = self.snapshot()
        key_cols = snap["key_cols"]
        if key_cols is None:
            raise ValueError(
                "keyless append-only tables have no LWW merge maintenance"
            )
        map_victims: list[int] = []
        shuffle_victims: list[int] = []
        if _map_refold_unsafe(snap):
            # LWW, partial, and integer-sum aggregate tables take the
            # map-only Arrow kernel (folds proven result-identical to the
            # shuffling path: int sums are exact, min/max order-insensitive);
            # float sums, non-numeric monoids, and non-atomic payload
            # columns force the shuffle kernel (_map_refold_unsafe)
            strategy = "shuffle"
        if strategy == "map":
            limit = (
                map_max_bucket_bytes
                if map_max_bucket_bytes is not None
                else self.MAP_REWRITE_MAX_BUCKET_BYTES
            )
            for b in victims:
                if self._bucket_bytes(snap, b) <= limit:
                    map_victims.append(b)
                else:
                    shuffle_victims.append(b)
        else:
            shuffle_victims = list(victims)

        updates: dict[int, dict] = {}
        if map_victims:
            from cnpj_data_pipeline_spark.operators.copart import (
                rewrite_buckets_map,
            )

            stage = self.new_staging_dir()
            updates.update(
                rewrite_buckets_map(
                    spark, self, map_victims, stage,
                    lsn_horizon=lsn_horizon, blooms=blooms,
                )
            )
        if shuffle_victims:
            updates.update(
                self._shuffle_rewrite_updates(
                    spark, snap, sorted(shuffle_victims), salt_factor,
                    lsn_horizon, blooms=blooms,
                )
            )
        for b in victims:
            updates.setdefault(b, {"files": [], "rows": 0, "max_lsn": None})
            # keep the watermark even if the bucket emptied (resume safety)
            if updates[b].get("max_lsn") is None:
                updates[b]["max_lsn"] = snap["buckets"][str(b)]["max_lsn"]
        # expected_parent: the rewrite read its input at `snap` — an
        # intervening commit touching a victim bucket must abort the commit
        return self.commit(
            op=op,
            epoch=None,
            bucket_updates=updates,
            mode="replace",
            merged=True,
            expected_parent=snap["snapshot_id"],
        )

    def compact(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        salt_factor: int = 4,
        strategy: str = "map",
        blooms: bool = True,
    ) -> int:
        """Rewrite multi-generation (unmerged) buckets back to one winner row
        per key — the MoR maintenance op that bounds read amplification.
        Tombstones survive compaction (vacuum owns their removal).
        ``strategy``: see ``_rewrite_buckets`` — "map" (default, no
        exchange) or "shuffle" (for layouts whose single bucket outgrows an
        executor)."""
        def _once() -> int:
            snap = self.snapshot()
            if buckets is None:
                victims = [
                    int(b)
                    for b, info in snap["buckets"].items()
                    if not info.get("merged", True)
                ]
            else:
                victims = [int(b) for b in buckets]
            chosen = sorted(set(victims))
            if not chosen:
                return self.current_snapshot_id()
            return self._rewrite_buckets(
                spark, chosen, op="compact", salt_factor=salt_factor,
                strategy=strategy, blooms=blooms,
            )

        return _retry_conflicts(_once)

    def compact_if_needed(
        self,
        spark: SparkSession,
        max_gens_per_bucket: int,
        salt_factor: int = 4,
        max_buckets: int | None = None,
        strategy: str = "map",
        blooms: bool = True,
    ) -> int | None:
        """Compact only the buckets whose delta-generation count crossed the
        threshold; returns the new snapshot id or None if nothing to do.

        ``max_buckets`` rate-limits one maintenance pass (most-generational
        buckets first), LSM-style: when a uniform workload pushes every
        bucket over the threshold in the same epoch, an unbounded pass would
        rewrite the whole table in one stall (measured 49 s against a 47M-row
        table vs ~5 s epochs); spreading it keeps ingest latency bounded
        while amortized cost stays the same."""
        def _once() -> int | None:
            snap = self.snapshot()
            victims = [
                (info.get("gens", len(info["files"])), int(b))
                for b, info in snap["buckets"].items()
                if not info.get("merged", True)
                and info.get("gens", len(info["files"])) >= max_gens_per_bucket
            ]
            if not victims:
                return None
            victims.sort(reverse=True)
            chosen = [b for _, b in victims]
            if max_buckets is not None:
                chosen = chosen[:max_buckets]
            return self._rewrite_buckets(
                spark, sorted(chosen), op="compact", salt_factor=salt_factor,
                strategy=strategy, blooms=blooms,
            )

        return _retry_conflicts(_once)

    def _rebucket_scan(self, spark: SparkSession, snap: dict, new_n: int):
        """The rebucket's shared scan: every physical row of ``snap`` with
        the bucket column recomputed for the ``new_n`` layout. A narrow
        (exchange-free) plan — strategy-specific distribution is layered on
        top by :meth:`rebucket`."""
        phys = T.StructType(
            list(schema_from_json(snap["schema"]).fields)
            + _phys_meta_fields(snap)
        )
        df = scan_files(spark, self._bucket_files(snap), phys)
        return df.withColumn(
            BUCKET_COL, bucket_expr(self._bucket_cols_of(snap), new_n)
        )

    def rebucket(
        self,
        spark: SparkSession,
        new_n_buckets: int,
        salt_factor: int = 4,
        strategy: str = "auto",
        blooms: bool = True,
    ) -> int:
        """Bucket-count EVOLUTION: rewrite the whole table into a new
        hash-bucket layout — the growth path from a small table to the
        2^14-bucket layout a 10^10-row deployment wants, without creating a
        new table (reference analogue: none — its Postgres tables cannot
        re-shard; ALTER-free growth is a lake-format capability).

        One-off O(table) maintenance: every physical row (all versions AND
        tombstones — LWW/vacuum semantics are preserved verbatim, so the op
        is logically invisible and the change feed skips it) is re-assigned
        by the same key-hash into ``new_n_buckets`` and committed atomically
        — readers see the old layout until the pointer swap, and
        ``applied_epochs`` carries over so ingest resumes exactly-once
        against the new layout. Buckets land unmerged (conservative); a
        follow-up ``compact()`` restores single-winner files where wanted.

        ``strategy``:

        * ``"map"`` — the LINEAR-HASH SPLIT (Kafka-partition-expansion /
          linear-hashing shape): valid when ``new_n_buckets`` is an integer
          multiple k of the current count. Because the bucket function is
          ``pmod(xxhash64(keys), n)``, a row in old bucket b can only land
          in the k child buckets ``{b, b+n, ..., b+(k-1)n}`` — so
          recomputing the bucket column and writing ``partitionBy(bucket)``
          splits every input task locally into at most k files with ZERO
          exchange: the table is never shuffled, only streamed through a
          per-task sort. At 100 TB this is the difference between a
          full-table shuffle (the cluster's worst job) and a map-only
          rewrite bounded by scan+write bandwidth.
        * ``"shuffle"`` — arbitrary resize (including shrink or non-multiple
          growth): distribute over (bucket, salt) tasks like the merge.
        * ``"auto"`` (default) — ``"map"`` when the multiple-growth
          precondition holds, else ``"shuffle"``.
        """
        snap = self.snapshot()
        old_n = int(snap["n_buckets"])
        new_n = int(new_n_buckets)
        if new_n == old_n:
            return self.current_snapshot_id()
        if strategy not in ("auto", "map", "shuffle"):
            raise ValueError(f"unknown rebucket strategy {strategy!r}")
        splittable = new_n > old_n and new_n % old_n == 0
        if strategy == "map" and not splittable:
            raise ValueError(
                "map-only rebucket requires new_n_buckets to be an integer "
                f"multiple of the current count (got {old_n} -> {new_n}); "
                "use strategy='shuffle' for arbitrary resizes"
            )
        use_map = splittable if strategy == "auto" else (strategy == "map")
        key_cols = snap["key_cols"]
        df = self._rebucket_scan(spark, snap, new_n)
        split_conf: dict = {}
        if use_map:
            parted = df
            # The map path's parallelism IS the scan's split count — there
            # is no exchange to rebalance it. Size input splits to ~4 tasks
            # per core so a small table (few, large files) doesn't quantize
            # into under-occupied task waves; at real scale the clamp leaves
            # the 128 MiB default untouched.
            total_bytes = sum(
                self._bucket_bytes(snap, int(b)) for b in snap["buckets"]
            )
            par = max(1, spark.sparkContext.defaultParallelism)
            split = max(16 << 20, min(128 << 20, total_bytes // (4 * par)))
            split_conf["spark.sql.files.maxPartitionBytes"] = str(split)
        else:
            from cnpj_data_pipeline_spark.config import SALT_COL

            salt_src = (
                [F.col(c) for c in key_cols]
                if key_cols
                else [F.col(LSN_META_COL)]
            )
            df = df.withColumn(
                SALT_COL,
                F.pmod(F.xxhash64(*salt_src), F.lit(salt_factor)).cast("int"),
            )
            n_parts = max(
                1,
                min(
                    new_n * salt_factor,
                    2 * spark.sparkContext.defaultParallelism,
                ),
            )
            parted = df.repartition(
                n_parts, F.col(BUCKET_COL), F.col(SALT_COL)
            ).drop(SALT_COL)
        stage = self.new_staging_dir()
        sort_cols = list(key_cols) if key_cols else [LSN_META_COL]
        with owned_write_conf(spark), scoped_sql_conf(spark, split_conf):
            parted.sortWithinPartitions(BUCKET_COL, *sort_cols).write.mode(
                "overwrite"
            ).partitionBy(BUCKET_COL).parquet(stage)
        updates = self.collect_staged(
            stage, spark, blooms="force" if blooms else "off"
        )
        return self.commit(
            op="rebucket",
            epoch=None,
            bucket_updates=updates,
            mode="replace",
            merged=False,
            new_n_buckets=int(new_n_buckets),
            expected_parent=snap["snapshot_id"],
        )

    def expire_snapshots(
        self,
        keep_last: int = 1,
        sweep_orphans: bool = False,
        orphan_grace_sec: float = 600.0,
        older_than: "_dt.datetime | str | None" = None,
    ) -> dict:
        """Iceberg-style snapshot expiration, METADATA-DRIVEN: keep the newest
        ``keep_last`` snapshots, and derive the deletion set from the expired
        manifests themselves — each file referenced by an expired manifest but
        by no kept one is removed, then the manifests are. Cost is
        O(expired metadata), never a walk of the data directory (the round-2
        scale fix: at 2^14 buckets a full-tree glob per expire is the GC
        bottleneck). Time travel remains for kept snapshots only.

        Crash debris — files that were staged but never referenced by ANY
        manifest — is invisible to manifests by definition; pass
        ``sweep_orphans=True`` (or call :meth:`clean_orphans`) to add the
        deep filesystem sweep. ``orphan_grace_sec`` protects a concurrent
        writer's in-flight staging (its files are unreferenced until its
        commit lands): younger files are never swept.

        At 10^10 rows this is what bounds storage: each MoR epoch adds delta
        files and each compaction supersedes whole generations — without
        expiration the table keeps every byte ever written.

        ``older_than`` (Iceberg's expire_snapshots retention analogue): a
        UTC datetime or ISO string — snapshots committed AT OR AFTER it are
        kept regardless of count, so the retention policy is wall-clock
        ("keep 7 days of time travel") with ``keep_last`` as the floor.

        Safe by construction: the pointer is rolled to the head first (probing
        starts there, so it must always name a kept manifest), visibility is
        only via committed manifests, and kept snapshots reference only kept
        files. Returns removal stats."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        self._swap_pointer(self.current_snapshot_id())
        chain = self.snapshots()
        kept = chain[-keep_last:]
        kept_ids = {s["snapshot_id"] for s in kept}
        if older_than is not None:
            horizon = _parse_utc_horizon(older_than)
            for s in chain:
                if s["snapshot_id"] in kept_ids:
                    continue
                at = _dt.datetime.strptime(
                    s["committed_at"], "%Y-%m-%dT%H:%M:%S.%fZ"
                )
                if at >= horizon:
                    kept.append(s)
                    kept_ids.add(s["snapshot_id"])
        # TAGGED snapshots are pinned: a tag is the operator's promise that
        # this exact state stays reproducible (training-run provenance), so
        # expiration keeps the manifest and everything it references
        for tag_sid in set(self.tags().values()) - kept_ids:
            try:
                kept.append(self.snapshot(tag_sid))
                kept_ids.add(tag_sid)
            except (OSError, FileNotFoundError):
                pass  # tag to an already-gone snapshot: nothing to protect
        referenced: set[str] = set()
        for s in kept:
            for info in s["buckets"].values():
                referenced.update(info["files"])

        # deletion candidates from EXPIRED manifests only (the chain beyond
        # the keep horizon, plus any stray unreachable manifest in meta/)
        candidates: set[str] = set()
        expired_paths: list[str] = []
        for mp in glob.glob(os.path.join(self.meta_dir, "snapshot-*.json")):
            sid = int(os.path.basename(mp).split("-")[1].split(".")[0])
            if sid in kept_ids:
                continue
            expired_paths.append(mp)
            try:
                with open(mp) as f:
                    s = json.load(f)
                for info in s.get("buckets", {}).values():
                    candidates.update(info["files"])
            except (OSError, ValueError):
                pass  # unreadable manifest: still removed below

        from cnpj_data_pipeline_spark.lake.bloom import remove_sidecar

        files_removed = 0
        bytes_removed = 0
        touched_dirs: set[str] = set()
        for rel in candidates - referenced:
            if os.path.isabs(rel):
                # FOREIGN file (absolute entry written by clone()): owned by
                # the SOURCE table's GC, never this one's. A clone deletes
                # only what lives under its own root (relative entries) —
                # expiring clone history must not eat source bytes out from
                # under the source table or its other clones.
                continue
            fp = os.path.join(self.root, rel)
            try:
                bytes_removed += os.path.getsize(fp)
                os.remove(fp)
                files_removed += 1
                touched_dirs.add(os.path.dirname(fp))
            except OSError:
                pass  # already gone / concurrent GC — harmless
            remove_sidecar(fp)  # sidecars share their data file's lifecycle
        # drop now-emptied dirs (committer artifacts like _SUCCESS keep a dir
        # "non-empty" — sweep them when every data file is gone)
        for d in sorted(touched_dirs, key=len, reverse=True):
            self._rmdir_with_artifacts(d)

        snaps_removed = 0
        for mp in expired_paths:
            try:
                os.remove(mp)
                snaps_removed += 1
            except OSError:
                pass
        stats = {
            "snapshots_removed": snaps_removed,
            "files_removed": files_removed,
            "bytes_removed": bytes_removed,
            "kept_snapshot_ids": sorted(kept_ids),
        }
        if sweep_orphans:
            o = self.clean_orphans(grace_sec=orphan_grace_sec)
            stats["files_removed"] += o["files_removed"]
            stats["bytes_removed"] += o["bytes_removed"]
            stats["orphans_removed"] = o["files_removed"]
        return stats

    def _rmdir_with_artifacts(self, d: str) -> None:
        """Remove a directory that holds no data files — deleting writer
        artifacts (_SUCCESS, .crc, hidden temp files) that would otherwise
        keep 'empty' dirs alive forever — then rmdir up to data/."""
        try:
            entries = os.listdir(d)
        except OSError:
            return
        if any(
            not (e.startswith(".") or e.startswith("_")) for e in entries
        ):
            return  # still holds real files
        for e in entries:
            try:
                os.remove(os.path.join(d, e))
            except OSError:
                return
        while d != self.data_dir:
            try:
                os.rmdir(d)
            except OSError:
                return
            d = os.path.dirname(d)

    def clean_orphans(self, grace_sec: float = 600.0) -> dict:
        """Deep sweep for files no existing manifest references — crash
        debris from writers that died before their commit landed. O(data
        files): run occasionally, not per-epoch (the per-epoch path is the
        metadata-driven :meth:`expire_snapshots`). Files younger than
        ``grace_sec`` are kept: they may be a LIVE writer's staging, which is
        unreferenced right up until its manifest links (the round-2 advice
        fix — GC without a grace window could eat a concurrent commit's
        data). Files pending under a staged-commit (write-audit-publish)
        descriptor are protected REGARDLESS of age — a batch can sit in
        audit far longer than any grace window; only publish or
        abandon_staged releases them."""
        referenced: set[str] = self._staged_referenced_files()
        for mp in glob.glob(os.path.join(self.meta_dir, "snapshot-*.json")):
            try:
                with open(mp) as f:
                    s = json.load(f)
                for info in s.get("buckets", {}).values():
                    referenced.update(info["files"])
            except (OSError, ValueError):
                pass
        from cnpj_data_pipeline_spark.lake.bloom import (
            data_file_of_sidecar,
            is_sidecar,
        )

        now = _time.time()
        files_removed = 0
        bytes_removed = 0
        for dirpath, _dirnames, filenames in os.walk(self.data_dir, topdown=False):
            for fn in filenames:
                fp = os.path.join(dirpath, fn)
                if is_sidecar(fn):
                    # a sidecar is live iff its data file is — manifests
                    # never reference sidecars directly
                    fp = data_file_of_sidecar(fp)
                    if os.path.relpath(fp, self.root) in referenced:
                        continue
                    fp = os.path.join(dirpath, fn)
                if os.path.relpath(fp, self.root) in referenced:
                    continue
                try:
                    if now - os.path.getmtime(fp) < grace_sec:
                        continue
                    bytes_removed += os.path.getsize(fp)
                    os.remove(fp)
                    files_removed += 1
                except OSError:
                    pass
            if dirpath != self.data_dir:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass  # not empty (live files or graced debris)
        return {"files_removed": files_removed, "bytes_removed": bytes_removed}

    def describe(self, snapshot_id: int | None = None) -> dict:
        """Operator-facing table summary from metadata alone (no data IO):
        layout, physical rows (across MoR generations — equals live rows
        once every bucket is compacted/merged), file/generation counts,
        read-amplification profile, checkpoint state. The DESCRIBE/inspect
        surface the reference exposes only as hand-run SQL against Postgres
        catalogs."""
        from cnpj_data_pipeline_spark.lake.constraints import constraints_of
        from cnpj_data_pipeline_spark.lake.generated import generated_of

        snap = self.snapshot(snapshot_id)
        buckets = snap["buckets"].values()
        n_files = sum(len(i["files"]) for i in buckets)
        gens = [i.get("gens", 1 if i["files"] else 0) for i in buckets]
        unmerged = sum(
            1 for i in buckets if i["files"] and not i.get("merged", True)
        )
        applied = sorted(snap["applied_epochs"])
        lsns = [i["max_lsn"] for i in buckets if i.get("max_lsn") is not None]
        return {
            "snapshot_id": snap["snapshot_id"],
            "op": snap["op"],
            "committed_at": snap["committed_at"],
            "key_cols": snap["key_cols"],
            "n_buckets": snap["n_buckets"],
            "rows_physical": snap["rows_total"],
            "data_files": n_files,
            "nonempty_buckets": sum(1 for i in buckets if i["files"]),
            "unmerged_buckets": unmerged,
            "max_generations": max(gens, default=0),
            "epochs_applied": len(applied),
            "last_epoch": applied[-1] if applied else None,
            "max_lsn": max(lsns, default=None),
            "snapshots_retained": len(self.snapshots()),
            "schema_fields": [f.name for f in self.schema(snapshot_id).fields],
            "merge_engine": snap.get("merge_engine", "lww"),
            "sort_order": (snap.get("props") or {}).get("sort_order"),
            "sort_order_kind": self._sort_kind_of(snap),
            "constraints": {
                n: {"check": s["expr"], "on_violation": s["on_violation"]}
                for n, s in constraints_of(snap).items()
            },
            "generated_columns": {
                n: s["expr"] for n, s in generated_of(snap).items()
            },
        }

    def rollback(self, to_snapshot_id: int) -> int:
        """Revert the table's LIVE state to a historical snapshot by
        committing a NEW snapshot that carries the target's schema, bucket
        map and applied-epoch set (Iceberg's ``rollback_to_snapshot``).
        History is preserved — the bad commits stay readable via time travel
        until ``expire_snapshots`` drops them — and the rolled-back epochs
        leave ``applied_epochs``, so re-running ingest over a corrected WAL
        re-applies them exactly-once. This is the bad-batch recovery story
        the reference lacks entirely: its only recourse after loading a
        corrupt file is manual SQL surgery (``processed_files`` rows must be
        deleted by hand to re-trigger a load, ``src/database/postgres.py:
        183-196``).

        Metadata-only (no data IO). Concurrency: rollback refuses to jump
        over a commit it hasn't seen — if the head moves between reading it
        and the CAS, :class:`CommitConflictError` is raised so the operator
        re-decides against fresh state rather than silently discarding a
        concurrent writer's epoch. Change-feed windows that span a rollback
        are rejected loudly by the CoW-replacement check (state was
        replaced, not appended), batch and streaming alike."""
        cur = self.snapshot()
        if to_snapshot_id > cur["snapshot_id"]:
            raise ValueError(
                f"cannot roll forward: target {to_snapshot_id} is newer "
                f"than head {cur['snapshot_id']}"
            )
        target = self.snapshot(to_snapshot_id)  # raises if expired/unknown
        # the WHOLE table state reverts with the data — engine, name maps
        # and tombstones (a partial table must not silently become LWW, a
        # dropped name must not become re-addable), and props, like
        # applied_epochs (a consumer frontier stored on this table rewinds
        # so the consumer re-applies the rolled-back windows)
        try:
            return self._publish(
                _next_snapshot(
                    cur, op="rollback", state=target,
                    origin={"rolled_back_to": to_snapshot_id},
                )
            )
        except FileExistsError:
            raise CommitConflictError(
                "a concurrent commit landed while rolling back; re-examine "
                "the head and retry the rollback deliberately"
            )

    # ---------------- zero-copy clone (table fork) ----------------
    #
    # Delta Lake's SHALLOW CLONE / an Iceberg snapshot-ref fork: a new,
    # independently-committable table whose first snapshot REFERENCES the
    # source's data files instead of copying them — O(metadata) regardless
    # of table size, the only sane way to fork a 100 TB table for an
    # experiment, a backfill rehearsal, or a training-data freeze. The fork
    # is expressed purely in the manifest: file entries are stored ABSOLUTE
    # (every read site resolves entries via os.path.join(root, entry),
    # which passes absolute paths through untouched), while files the clone
    # writes itself stay relative — so ownership is syntactic: relative =
    # mine, absolute = foreign. GC honors exactly that rule
    # (expire_snapshots skips absolute entries; clean_orphans only ever
    # walks its own data dir), which makes the fork safe under maintenance
    # on BOTH sides. The remaining hazard — the source expiring the
    # snapshot the clone still reads from — is closed with the existing tag
    # machinery: clone() pins the source snapshot under an auto tag
    # (``clone-<id>``), exactly how Iceberg branches protect their base,
    # and localize() releases it once the clone owns its bytes.
    # Reference analogue: none (a Postgres state table cannot be forked
    # without a full dump/restore).

    def clone(
        self,
        dest_root: str,
        snapshot_id: int | str | None = None,
        at: "_dt.datetime | str | None" = None,
    ) -> "LakeTable":
        """Fork this table at a snapshot (default: current head; or a tag
        name, or ``at`` = TIMESTAMP AS OF) into a new table at
        ``dest_root`` without copying any data bytes.

        The clone starts at snapshot 0 with the source state's schema,
        engine, renames, tombstones, props, watermarks and applied-epoch
        ledger — so exactly-once ingest CONTINUES correctly on the fork
        (an epoch applied before the fork point stays applied), and a
        consumer frontier stored in props resumes from the fork point.
        Writes to either side never touch the other: new files always land
        under the writer's own root, and replace-mode rewrites (compact /
        vacuum / rebucket) naturally migrate the clone's buckets onto its
        own storage bucket-by-bucket.

        Cross-table protection: the source snapshot is pinned under an auto
        tag so the source's ``expire_snapshots`` keeps every byte the clone
        references; pins inherited from an ancestor chain (clone-of-clone)
        are re-pinned for this clone, so releasing the parent's pin never
        strands the child. Call :meth:`localize` to copy the foreign bytes
        in and release all pins."""
        if at is not None and snapshot_id is not None:
            raise ValueError("pass snapshot_id OR at, not both")
        if at is not None:
            sid = self.snapshot_as_of(at)
        elif isinstance(snapshot_id, str):
            sid = self.resolve_tag(snapshot_id)
        elif snapshot_id is None:
            sid = self.current_snapshot_id()
        else:
            sid = int(snapshot_id)
        snap = self.snapshot(sid)
        dest = LakeTable(dest_root)
        if os.path.exists(dest._pointer_path()):
            raise FileExistsError(f"table already exists at {dest_root}")
        src_root = os.path.abspath(self.root)

        # pin BEFORE the clone becomes visible: the fork must never exist
        # unprotected. One ref name across every pinned ancestor.
        ref = f"clone-{_uuid.uuid4().hex[:8]}"
        pins: list[dict] = []
        try:
            self.create_tag(ref, sid)
            pins.append({"root": src_root, "snapshot": sid, "ref": ref})
            for p in (snap.get("props") or {}).get("clone_pins") or []:
                LakeTable.load(p["root"]).create_tag(ref, p["snapshot"])
                pins.append(
                    {"root": p["root"], "snapshot": p["snapshot"], "ref": ref}
                )
        except BaseException:
            for p in pins:
                try:
                    LakeTable.load(p["root"]).drop_tag(p["ref"])
                except OSError:
                    pass
            raise

        buckets = {
            b: {
                **info,
                "files": [
                    f if os.path.isabs(f) else os.path.join(src_root, f)
                    for f in info["files"]
                ],
            }
            for b, info in snap["buckets"].items()
        }
        os.makedirs(dest.meta_dir, exist_ok=True)
        os.makedirs(dest.data_dir, exist_ok=True)
        dest._publish(
            _next_snapshot(
                None,
                op="clone",
                state={**snap, "buckets": buckets},
                props={
                    "clone_src": src_root,
                    "clone_src_snapshot": sid,
                    "clone_pins": pins,
                },
                origin={"cloned_from": {"root": src_root, "snapshot_id": sid}},
            )
        )
        return dest

    def foreign_files(self) -> list[str]:
        """Absolute (source-owned) file entries the current snapshot still
        references — empty once the clone is fully localized (or was never
        a clone)."""
        out: list[str] = []
        for info in self.snapshot()["buckets"].values():
            out.extend(f for f in info["files"] if os.path.isabs(f))
        return out

    def localize(self) -> dict:
        """Materialize a shallow clone: byte-copy every foreign (absolute)
        file entry into this table's own data dir, commit the path-only
        rewrite (same bytes, same stats, per-bucket ``merged``/``gens``
        flags carried through verbatim — the merge-on-read state of a
        multi-generation bucket is preserved exactly), then release the
        clone pins so the source's retention can move on. Idempotent: a
        repeat call finds no foreign entries and only re-attempts pin
        release. Crash-safe: a copy that never commits is orphan debris
        under this root (clean_orphans' grace window applies); the pins
        outlive any crash because they are dropped only AFTER the commit.

        Driver-side byte copy — O(foreign bytes) sequential. At cluster
        scale prefer per-bucket ``compact(buckets=...)`` to migrate hot
        buckets through executors first, then localize the remainder."""
        import shutil

        from cnpj_data_pipeline_spark.lake.bloom import sidecar_path

        def _once() -> dict:
            snap = self.snapshot()
            updates: dict[int, dict] = {}
            files_copied = 0
            bytes_copied = 0
            for b, info in snap["buckets"].items():
                if not any(os.path.isabs(f) for f in info["files"]):
                    continue
                bdir = os.path.join(self.data_dir, f"{BUCKET_COL}={b}")
                os.makedirs(bdir, exist_ok=True)
                new_files = []
                for f in info["files"]:
                    if not os.path.isabs(f):
                        new_files.append(f)
                        continue
                    dst = os.path.join(
                        bdir,
                        f"loc-{_uuid.uuid4().hex[:8]}-{os.path.basename(f)}",
                    )
                    shutil.copy2(f, dst)
                    sc_src = sidecar_path(f)
                    if os.path.exists(sc_src):
                        shutil.copy2(sc_src, sidecar_path(dst))
                    files_copied += 1
                    bytes_copied += os.path.getsize(dst)
                    new_files.append(os.path.relpath(dst, self.root))
                ni = dict(info)
                ni["files"] = new_files
                updates[int(b)] = ni
            if updates:
                self.commit(
                    op="localize",
                    epoch=None,
                    bucket_updates=updates,
                    mode="replace",
                    expected_parent=snap["snapshot_id"],
                )
            return {
                "files_copied": files_copied,
                "bytes_copied": bytes_copied,
            }

        stats = _retry_conflicts(_once)
        released = 0
        had_pins = bool(self.props().get("clone_pins"))
        for p in self.props().get("clone_pins") or []:
            try:
                if LakeTable.load(p["root"]).drop_tag(p["ref"]):
                    released += 1
            except (OSError, FileNotFoundError):
                pass  # source root gone/unreachable: nothing left to unpin
        if had_pins:
            # clear the pin record once released: this table now owns every
            # byte, so a later clone() of it must not re-pin ancestor
            # snapshots — the source is free to expire them, and re-pinning
            # would either fail (snapshot gone) or block source retention
            # forever. clone_src stays as provenance; only the live-pin
            # list is cleared.
            self.set_props({"clone_pins": []})
        stats["pins_released"] = released
        return stats

    def vacuum_tombstones(
        self,
        spark: SparkSession,
        lsn_horizon: int,
        salt_factor: int = 4,
        strategy: str = "map",
        blooms: bool = True,
    ) -> int:
        """Physically drop tombstones whose LSN is below the horizon (no late
        event with a lower LSN can still arrive). Implemented as a compaction
        with a horizon filter so multi-generation buckets stay correct (a bare
        tombstone filter would resurrect the older versions underneath)."""
        def _once() -> int:
            snap = self.snapshot()
            if snap["key_cols"] is None:
                return self.current_snapshot_id()  # keyless: no tombstones
            victims = sorted(
                int(b) for b, info in snap["buckets"].items() if info["files"]
            )
            if not victims:
                return self.current_snapshot_id()
            return self._rewrite_buckets(
                spark,
                victims,
                op="vacuum",
                salt_factor=salt_factor,
                lsn_horizon=lsn_horizon,
                strategy=strategy,
                blooms=blooms,
            )

        return _retry_conflicts(_once)


def as_table(table: "LakeTable | str") -> LakeTable:
    """A table registry entry — a :class:`LakeTable` or its root path — as
    a loaded :class:`LakeTable`."""
    return table if isinstance(table, LakeTable) else LakeTable.load(table)
