"""Table-level column statistics: NDV sketches + null counts (ANALYZE).

Iceberg publishes per-column NDV as DataSketches blobs in Puffin files and
engines (Trino, Spark CBO) read them for join sizing/reordering; Delta's
ANALYZE fills the same role. The reference has no analogue (Postgres ANALYZE
is implicit). This module is that feature for this table format, Spark-first:

* ``analyze_table`` — ONE map-combined aggregate pass over the table at a
  snapshot computes, per column, a DataSketches HLL sketch
  (``F.hll_sketch_agg``, JVM-side, order/partitioning-independent: register
  state is a per-slot max) plus the exact null count, and the exact row
  count. Cost is one column-pruned scan — O(table), the honest floor for
  exact-state NDV, same as Iceberg/Trino ANALYZE.
* ``refresh_stats`` — INCREMENTAL: unions the stored sketches with sketches
  of the change window since the last analyze (``read_changes`` — O(changed
  data), never O(table)). HLL can union but not subtract, so the refreshed
  figure counts distinct values EVER LIVE since the last full analyze: an
  UPPER BOUND on current NDV under updates/deletes and exact for insert-only
  columns (keys in an append-heavy stream — exactly the columns join
  planning cares about). The stats record carries ``mode:
  "incremental-upper-bound"`` and drops the row count and per-column null
  counts (deletes make them unmaintainable without a re-scan); a full
  ``analyze_table`` resets to exact. This is the standard lake-format trade
  (Iceberg's incremental stats proposals make the same one).

Storage: ``<root>/meta/colstats-<snapshot_id>.json`` written atomically
(tmp + rename, the bloom-sidecar pattern — advisory metadata, no snapshot
commit, so ANALYZE never contends with writers; readers take the
highest-snapshot sidecar and DESCRIBE EXTENDED reports how many commits it
lags). Column keys are PHYSICAL names — stable across RENAME COLUMN, like
the sort order — and surface under logical names at read.

Sketchable types: ``hll_sketch_agg`` accepts INT/BIGINT/STRING/BINARY, so
other types enter through a deterministic injective-on-distinct-values cast
(recorded per column): integrals/booleans → long, timestamps → epoch
micros, dates → epoch days, float/double/decimal → canonical string,
array/map/struct → JSON. Default ``lg_k=14`` ≈ 0.8 % relative standard
error at any cardinality, ~16 KiB per dense sketch.
"""

from __future__ import annotations

import base64
import glob
import json
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_LG_K = 14

_STATS_RE = re.compile(r"colstats-(\d+)\.json$")


def _stats_path(root: str, sid: int) -> str:
    return os.path.join(root, "meta", f"colstats-{sid}.json")


def _sketch_expr(field: T.StructField):
    """(Column acceptable to hll_sketch_agg, cast label) or (None, reason).
    The cast must map distinct values to distinct sketch inputs (injective),
    so the estimate is of the COLUMN's cardinality, not the encoding's."""
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType)):
        return c.cast("long"), "long"
    if isinstance(dt, T.StringType):
        return c, "string"
    if isinstance(dt, T.BinaryType):
        return c, "binary"
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c), "unix_micros"
    if isinstance(dt, T.TimestampNTZType):
        return c.cast("string"), "string"
    if isinstance(dt, T.DateType):
        return F.unix_date(c), "unix_date"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return c.cast("string"), "string"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c), "json"
    return None, f"unsupported type {dt.simpleString()}"


def _sketch_pass(
    df: DataFrame,
    fields: list[T.StructField],
    lg_k: int,
    with_nulls: bool,
) -> tuple[dict, dict, int]:
    """One aggregate over ``df``: per-column HLL sketch (+ null count when
    asked) and the row count. Returns ({col: sketch bytes}, {col: nulls},
    rows)."""
    aggs, sketched = [], []
    for f in fields:
        expr, cast = _sketch_expr(f)
        if expr is None:
            continue
        sketched.append(f.name)
        aggs.append(F.hll_sketch_agg(expr, lg_k).alias(f"__sk_{f.name}"))
        if with_nulls:
            aggs.append(
                F.sum(F.col(f.name).isNull().cast("long")).alias(
                    f"__nn_{f.name}"
                )
            )
    aggs.append(F.count(F.lit(1)).alias("__rows"))
    row = df.agg(*aggs).first()
    # an empty frame yields NULL sketches — report those columns as absent
    sketches = {
        c: row[f"__sk_{c}"]
        for c in sketched
        if row[f"__sk_{c}"] is not None
    }
    nulls = (
        {c: int(row[f"__nn_{c}"] or 0) for c in sketched}
        if with_nulls
        else {}
    )
    return sketches, nulls, int(row["__rows"])


def _estimates(spark: SparkSession, sketches: dict) -> dict[str, int]:
    """Sketch binaries -> NDV estimates, one tiny JVM job (no Python loop
    over estimates; DataSketches runs JVM-side either way)."""
    if not sketches:
        return {}
    rows = [(c, bytes(b)) for c, b in sorted(sketches.items())]
    df = spark.createDataFrame(rows, "col string, sk binary")
    out = df.select(
        "col", F.hll_sketch_estimate("sk").alias("ndv")
    ).collect()
    return {r["col"]: int(r["ndv"]) for r in out}


def _write_record(root: str, rec: dict) -> str:
    path = _stats_path(root, rec["snapshot_id"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix=".colstats-tmp-"
    )
    with os.fdopen(fd, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, path)
    return path


def _present(table, rec: dict) -> dict:
    """A stats record as readers see it: column keys mapped to CURRENT
    logical names (since-dropped columns leave), a ``commits_behind``
    staleness figure, no sketch binaries."""
    ren = table.renames()  # physical -> current logical
    snap = table.snapshot()
    live = {f.name for f in table.logical_schema().fields}
    cols = {}
    for phys, st in rec["columns"].items():
        logical = ren.get(phys, phys)
        if logical in live:
            cols[logical] = st
    # staleness counts DATA commits only (the apply commits a change-feed
    # consumer counts); metadata-only evolutions (rename, widen, drop) do
    # not change values
    applies = [
        s for s in table.applies_of(table.snapshots())
        if s["snapshot_id"] > rec["snapshot_id"]
    ]
    out = dict(rec)
    out["columns"] = cols
    out["commits_behind"] = len(applies)
    out["current_snapshot_id"] = snap["snapshot_id"]
    del out["sketches"]  # binaries stay on disk for refresh, not for readers
    return out


def _latest_record(table) -> dict | None:
    """The stored record with the highest analyzed snapshot id."""
    cands = []
    for p in glob.glob(os.path.join(table.root, "meta", "colstats-*.json")):
        m = _STATS_RE.search(os.path.basename(p))
        if m:
            cands.append((int(m.group(1)), p))
    if not cands:
        return None
    with open(max(cands)[1]) as fh:
        return json.load(fh)


def load_stats(table) -> dict | None:
    """The most recent stats record (by analyzed snapshot id), with column
    keys mapped to CURRENT logical names and a ``commits_behind`` staleness
    figure. Returns None when the table was never analyzed."""
    rec = _latest_record(table)
    return None if rec is None else _present(table, rec)


def analyze_table(
    spark: SparkSession,
    table,
    columns: list[str] | None = None,
    lg_k: int = DEFAULT_LG_K,
    snapshot_id: int | None = None,
) -> dict:
    """Full ANALYZE at a snapshot (default: current): exact row/null counts,
    HLL NDV per column, one scan. ``columns`` selects a subset by LOGICAL
    name (default: every sketchable column). Persists the sidecar and
    returns that record in :func:`load_stats`'s shape — also when it
    analyzed an older snapshot than a sidecar already on disk."""
    snap = table.snapshot(snapshot_id)
    sid = snap["snapshot_id"]
    ren = table.renames(sid)
    logical = table.logical_schema(sid)
    if columns is not None:
        unknown = sorted(
            set(columns) - {f.name for f in logical.fields}
        )
        if unknown:
            raise ValueError(
                f"ANALYZE: unknown column(s) {unknown} "
                f"(table has {[f.name for f in logical.fields]})"
            )
    inv = {l: p for p, l in ren.items()}
    # physical-name frame: stats keys survive later renames
    df = table.read(spark, snapshot_id=sid, logical=False)
    phys_schema = {f.name: f for f in df.schema.fields}
    wanted = []
    skipped = {}
    for f in logical.fields:
        if columns is not None and f.name not in columns:
            continue
        phys = inv.get(f.name, f.name)
        expr, cast = _sketch_expr(phys_schema[phys])
        if expr is None:
            skipped[f.name] = cast
            continue
        wanted.append(phys_schema[phys])
    sketches, nulls, rows = _sketch_pass(
        df.select(*[f.name for f in wanted]), wanted, lg_k, with_nulls=True
    )
    ndv = _estimates(spark, sketches)
    rec = {
        "snapshot_id": sid,
        "mode": "exact-state",
        "lg_k": lg_k,
        "rows": rows,
        "skipped": skipped,
        "columns": {
            c: {
                "ndv": ndv[c],
                "nulls": nulls[c],
                "cast": _sketch_expr(phys_schema[c])[1],
            }
            for c in sketches
        },
        "sketches": {
            c: base64.b64encode(bytes(b)).decode() for c, b in sketches.items()
        },
    }
    _write_record(table.root, rec)
    return _present(table, rec)


def refresh_stats(
    spark: SparkSession, table, snapshot_id: int | None = None
) -> dict:
    """Incremental refresh: union the last record's sketches with sketches
    of the change window since it — O(changed data). The result counts
    distinct values EVER LIVE since the last full analyze (an upper bound
    under updates/deletes; exact for insert-only columns). Falls back to a
    full :func:`analyze_table` when the table was never analyzed. Columns
    added inside the window are sketched from the window alone (they were
    all-NULL before); dropped columns leave the record.

    The refreshed record stores ``rows`` and every column's ``nulls`` as
    None: the change window gives neither the live row count nor the null
    counts without a re-scan (deletes and updates retract rows the sketch
    union cannot take back)."""
    prev = _latest_record(table)
    if prev is None:
        return analyze_table(spark, table, snapshot_id=snapshot_id)
    from_sid = prev["snapshot_id"]
    to_sid = (
        table.current_snapshot_id() if snapshot_id is None else snapshot_id
    )
    if to_sid <= from_sid:
        return _present(table, prev)
    lg_k = prev["lg_k"]
    ren = table.renames(to_sid)
    logical = table.logical_schema(to_sid)
    inv = {l: p for p, l in ren.items()}
    try:
        feed = table.read_changes(
            spark, from_sid, to_sid, include_meta=False
        )
    except ValueError:
        # a copy-on-write apply inside the window replaces bucket contents,
        # so the window has no readable change feed — the honest refresh is
        # a full re-analyze (same O(table) cost ANALYZE always has)
        return analyze_table(
            spark, table, lg_k=prev["lg_k"], snapshot_id=to_sid
        )
    fields, phys_of = [], {}
    for f in logical.fields:
        phys = inv.get(f.name, f.name)
        expr, cast = _sketch_expr(T.StructField(f.name, f.dataType))
        if expr is None:
            continue
        fields.append(T.StructField(f.name, f.dataType))
        phys_of[f.name] = phys
    new_sketches, _, _ = _sketch_pass(
        feed.select(*[f.name for f in fields]), fields, lg_k,
        with_nulls=False,
    )
    prev_sk = {
        c: base64.b64decode(b) for c, b in prev["sketches"].items()
    }
    merged: dict[str, bytes] = {}
    pairs = []
    for lname, sk in new_sketches.items():
        phys = phys_of[lname]
        if phys in prev_sk and sk is not None:
            pairs.append((phys, prev_sk[phys], bytes(sk)))
        elif sk is not None:
            merged[phys] = bytes(sk)
        elif phys in prev_sk:  # empty window for this column
            merged[phys] = prev_sk[phys]
    for phys, sk in prev_sk.items():
        if phys not in merged and not any(p == phys for p, _, _ in pairs):
            merged[phys] = sk  # column untouched by the window
    if pairs:
        df = spark.createDataFrame(pairs, "col string, a binary, b binary")
        for r in df.select(
            "col", F.hll_union("a", "b").alias("u")
        ).collect():
            merged[r["col"]] = bytes(r["u"])
    ndv = _estimates(spark, merged)
    rec = {
        "snapshot_id": to_sid,
        "mode": "incremental-upper-bound",
        "base_snapshot_id": prev.get("base_snapshot_id", from_sid),
        "lg_k": lg_k,
        "rows": None,
        "skipped": prev.get("skipped", {}),
        "columns": {
            c: {"ndv": ndv[c], "nulls": None, "cast": None} for c in merged
        },
        "sketches": {
            c: base64.b64encode(b).decode() for c, b in merged.items()
        },
    }
    _write_record(table.root, rec)
    return _present(table, rec)


def drop_stats(table) -> int:
    """Remove every stats sidecar (e.g. after a correctness-affecting
    manual intervention). Returns the number removed."""
    n = 0
    for p in glob.glob(os.path.join(table.root, "meta", "colstats-*.json")):
        try:
            os.remove(p)
            n += 1
        except OSError:
            pass
    return n
