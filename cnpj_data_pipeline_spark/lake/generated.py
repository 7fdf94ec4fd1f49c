"""GENERATED columns — ingest-time derived columns, declared once.

``ALTER TABLE t ADD COLUMN day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))``
declares a PHYSICAL column whose value is always ``CAST(<expr> AS <type>)``
over the row's other columns — the Iceberg hidden-partitioning / Delta
generated-column idea re-expressed for this engine: derive the coarse
time-bucket (or shard key, or provenance tag) ONCE at ingest, then point
the declared ``sort_order`` or a materialized-view GROUP BY at it, instead
of re-deriving it in every consumer. The reference derives such columns
in its transform dictionary at load time (``src/processor.py`` transforms);
here the derivation is a table-level declaration the engine owns.

Contract (mirrors ``lake/constraints.py``, which shares the fail-closed
declaration analysis):

* The expression is a deterministic Spark-SQL expression over the table's
  LOGICAL columns (non-deterministic functions refused — a replayed epoch
  must produce identical bytes; envelope columns op/lsn/epoch are out of
  scope). Referenced columns are recorded; RENAME/DROP COLUMN on them is
  refused while the declaration lives.
* On the general apply path, a batch that DOESN'T carry the column gets it
  computed (``CAST(expr AS type)``, NULL on delete events — they carry no
  payload); a batch that DOES carry it is VERIFIED with one map-only
  aggregate — any row where the supplied value differs from the computed
  one aborts the epoch with :class:`GeneratedColumnMismatchError`
  (GENERATED ALWAYS semantics: a writer may pre-compute, never override).
* ``DEFAULT (expr)`` is the writable sibling (``mode="default"``): the
  expression fills the column only when a batch doesn't carry it at all;
  a batch that does keeps the writer's values verbatim (including NULLs —
  SQL DEFAULT applies to ABSENT columns, not null ones). Same declaration
  analysis, same ref guards, no verification pass.
* The zero-shuffle co-partitioned path cannot rewrite the batch, so it
  requires producers to SUPPLY the column (the same pre-computation they
  already do for bucket placement) and verifies it with one column-pruned
  map-only scan; a WAL epoch missing the column fails loud with the
  route-to-general message rather than silently landing NULLs.
* Reads need nothing special — the column is physical, so sort orders,
  bloom sidecars, manifest-stat pruning and the change feed all see it.

Scale: the computed column is one Catalyst projection fused into the
existing single-shuffle merge (no extra pass); verification is one
map-only partial-aggregating count over the batch, O(batch) never O(table).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.lake.constraints import _NAME_RE, _parse_refs

GENERATED_PREFIX = "generated."


class GeneratedColumnMismatchError(RuntimeError):
    """A producer-supplied GENERATED column value disagrees with its
    declared expression (GENERATED ALWAYS: pre-compute, never override)."""

    def __init__(self, epoch, counts: dict):
        self.epoch = epoch
        self.counts = dict(counts)
        super().__init__(
            f"epoch {epoch}: batch carries GENERATED column value(s) that "
            f"disagree with their declared expressions {self.counts} — "
            "epoch stays pending; fix the producer (or drop the generated "
            "declaration) and replay"
        )


def generated_of(snap: dict) -> dict[str, dict]:
    """Active generated columns from a snapshot's property map:
    logical name -> {"expr", "refs", "mode"} (cleared declarations hold
    None). ``mode``: "always" (GENERATED ALWAYS — supplied values are
    verified against the expression) or "default" (DEFAULT — computed
    only when the batch doesn't carry the column; supplied values,
    including NULLs, are the writer's to keep)."""
    out = {}
    for k, v in (snap.get("props") or {}).items():
        if k.startswith(GENERATED_PREFIX) and v is not None:
            spec = json.loads(v)
            spec.setdefault("mode", "always")
            out[k[len(GENERATED_PREFIX):]] = spec
    return dict(sorted(out.items()))


def analyze_generated(
    spark: SparkSession,
    logical_schema: T.StructType,
    name: str,
    expr: str,
    dtype: T.DataType,
) -> list[str]:
    """Fail-closed declaration analysis for a generated column: shared
    parse/determinism/reference checks, the expression must not reference
    the column itself, and ``CAST(expr AS dtype)`` must analyze. Returns
    the referenced LOGICAL names."""
    if not _NAME_RE.match(name or ""):
        raise ValueError(f"invalid generated column name {name!r}")
    refs = _parse_refs(
        spark, logical_schema, f"generated column {name!r}", expr
    )
    if name in refs:
        raise ValueError(
            f"generated column {name!r} cannot reference itself"
        )
    probe = spark.createDataFrame([], logical_schema)
    try:
        probe.select(F.expr(expr).cast(dtype).alias("__g"))
    except Exception as e:
        raise ValueError(
            f"generated column {name!r}: CAST(({expr}) AS "
            f"{dtype.simpleString()}) does not analyze: {e}"
        ) from None
    return refs


def _computed(spec: dict, dtype: T.DataType, has_op: bool):
    """The CAST(expr AS type) column, NULL on delete events."""
    val = F.expr(spec["expr"]).cast(dtype)
    if has_op:
        return F.when(F.col("op") != F.lit("D"), val)
    return val


def enforce_generated(
    spark: SparkSession,
    snap: dict,
    changes: DataFrame,
    epoch_label,
    logical_schema: T.StructType,
) -> DataFrame:
    """The general-path gate (``operators.merge.apply_changes``): compute
    absent generated columns, verify supplied ones (one map-only pass for
    ALL supplied columns together). Returns the completed batch."""
    gens = generated_of(snap)
    if not gens:
        return changes
    types = {f.name: f.dataType for f in logical_schema.fields}
    has_op = "op" in changes.columns
    not_delete = (
        (F.col("op") != F.lit("D")) if has_op else F.lit(True)
    )
    # typed-null placeholders for referenced columns the batch doesn't
    # carry (absent == NULL, same convention as the constraint gate)
    probe = changes
    have = set(changes.columns)
    for spec in gens.values():
        for c in spec.get("refs") or ():
            if c not in have and c in types:
                probe = probe.withColumn(c, F.lit(None).cast(types[c]))
                have.add(c)
    supplied = [
        n
        for n in gens
        if n in changes.columns and gens[n].get("mode", "always") == "always"
    ]
    if supplied:
        row = probe.agg(
            *[
                F.sum(
                    (
                        not_delete
                        & ~F.col(n).eqNullSafe(
                            F.expr(gens[n]["expr"]).cast(types[n])
                        )
                    ).cast("long")
                ).alias(n)
                for n in supplied
            ]
        ).first()
        bad = {n: int(row[n] or 0) for n in supplied if row[n]}
        if bad:
            raise GeneratedColumnMismatchError(epoch_label, bad)
    out = probe
    for n in gens:
        if n not in changes.columns:
            out = out.withColumn(n, _computed(gens[n], types[n], has_op))
    keep = list(changes.columns) + [
        n for n in gens if n not in changes.columns
    ]
    return out.select(*keep)


def check_generated_copart(
    spark: SparkSession,
    snap: dict,
    wal_files: list[str],
    epoch_label,
    logical_schema: T.StructType,
) -> None:
    """The co-partitioned-path gate: every generated column must be
    PRESENT in the WAL epoch (this path cannot rewrite the batch) and is
    verified against its expression in one column-pruned map-only scan."""
    gens = generated_of(snap)
    if not gens:
        return
    from cnpj_data_pipeline_spark.lake.format import scan_files

    df = scan_files(spark, wal_files)
    inv = {
        **{l: p for p, l in (snap.get("renames") or {}).items()},
        **(snap.get("retired_names") or {}),
    }
    ren = snap.get("renames") or {}
    for c in list(df.columns):
        phys = inv.get(c, c)
        cur = ren.get(phys, phys)
        if cur != c:
            df = df.withColumnRenamed(c, cur)
    missing = sorted(n for n in gens if n not in df.columns)
    if missing:
        raise ValueError(
            f"epoch {epoch_label}: bucket-aligned WAL does not carry "
            f"GENERATED column(s) {missing} — the co-partitioned apply "
            "cannot compute them (it never rewrites the batch); have the "
            "producer pre-compute them (it already pre-computes bucket "
            "placement), or route this table through the general apply "
            "path (cfg.copart='off')"
        )
    types = {f.name: f.dataType for f in logical_schema.fields}
    need = sorted(
        set(gens)
        | {c for s in gens.values() for c in s.get("refs") or ()}
        | ({"op"} if "op" in df.columns else set())
    )
    probe = df.select(*[c for c in df.columns if c in set(need)])
    for s in gens.values():
        for c in s.get("refs") or ():
            if c not in probe.columns and c in types:
                probe = probe.withColumn(c, F.lit(None).cast(types[c]))
    not_delete = (
        (F.col("op") != F.lit("D"))
        if "op" in probe.columns
        else F.lit(True)
    )
    verified = [
        n for n in gens if gens[n].get("mode", "always") == "always"
    ]
    if not verified:
        return
    row = probe.agg(
        *[
            F.sum(
                (
                    not_delete
                    & ~F.col(n).eqNullSafe(
                        F.expr(gens[n]["expr"]).cast(types[n])
                    )
                ).cast("long")
            ).alias(n)
            for n in verified
        ]
    ).first()
    bad = {n: int(row[n] or 0) for n in verified if row[n]}
    if bad:
        raise GeneratedColumnMismatchError(epoch_label, bad)
