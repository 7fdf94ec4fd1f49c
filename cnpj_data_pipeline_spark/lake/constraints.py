"""Row-level CHECK constraints — declarative ingest expectations.

The reference enforces row quality with Postgres column constraints declared
in ``init-db/postgres.sql`` (NOT NULL / type constraints the loader trusts,
``src/database/postgres.py:269-531``); its loader has no per-row gate of its
own — a bad row aborts the whole COPY. This module is the lake-side analogue
done right for a CDC stream: named boolean predicates declared on the table
(``LakeTable.add_constraint``) and enforced against every change batch at
apply time, with a per-constraint violation policy:

* ``fail``  — any violating event aborts the epoch with
  :class:`ConstraintViolationError` (per-constraint counts attached); the
  epoch stays PENDING, so a fixed upstream re-extraction replays it
  exactly-once. The check is ONE map-only aggregate over the batch (never
  the table), so the shuffle-free co-partitioned apply keeps its
  zero-exchange plan: a clean batch pays one column-pruned scan of the
  epoch's WAL files and proceeds untouched.
* ``drop``  — violating events are filtered out of the batch before the
  merge; the surviving events apply normally. A dropped UPDATE means the
  key's previous (valid) version stays live — the filter runs over the
  CHANGE STREAM, not the table.
* ``dlq``   — like ``drop``, but the violating events are persisted under
  ``<table>/_dlq/constraints/epoch=<E>/`` with a ``violated`` array naming
  the failed constraint(s) — the row-level twin of the Debezium source's
  parse DLQ (``sources/debezium.py``). The write is a deterministic
  per-epoch overwrite, so a crash-replayed epoch rewrites the same DLQ
  files (idempotent, like every other artifact of an epoch).

Semantics follow SQL CHECK: a row violates only when the predicate is
FALSE — NULL passes (declare ``x IS NOT NULL`` explicitly to reject nulls).
DELETE events are exempt: they carry a key and no payload.

FOREIGN KEY constraints (``LakeTable.add_fk_constraint``) share the same
policy machinery with a referential predicate instead of a row expression:
a non-delete event whose FK columns are all non-NULL must reference a live
parent row. The check anti-joins the batch's DISTINCT keys against the
parent via the bucket-pruned batch lookup (``read_keys(on=ref_cols,
broadcast_keys=False)``), so its cost is O(batch) regardless of parent
size; a NULL in any FK column passes (SQL MATCH SIMPLE). Apply parents
before children within an epoch — the FK dependency order
``plans/catalog.py`` already runs multi-table ingest in. Constraint
expressions are analyzed at DECLARATION time against the table's LOGICAL
schema (fail-closed: unknown columns, non-boolean results, envelope columns
and non-deterministic functions are refused), and the referenced columns are
recorded so later ``RENAME``/``DROP COLUMN`` evolution on them is refused
until the constraint is dropped — the same fail-closed posture as
``set_sort_order``'s type validation.

Scale: enforcement is O(batch), never O(table) — one Catalyst-only
projection + partial-aggregating count per epoch (``dlq`` adds one write of
the violating rows). At 10^10 events/day and per-mille violation rates the
DLQ stays a rounding error next to the delta files themselves.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CONSTRAINT_PREFIX = "constraint."
CONSTRAINT_MODES = ("fail", "drop", "dlq")

# envelope columns a batch carries beyond the table schema — constraints are
# declared over the TABLE's logical columns only, so these names are refused
# at declaration (a predicate over op/lsn would be an ingest-routing rule,
# not a row-quality rule, and would be unenforceable on table reads)
ENVELOPE_COLS = ("op", "lsn", "epoch")

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
# best-effort determinism guard: a constraint must give the same verdict on
# replay (exactly-once depends on a re-run epoch producing the same bytes)
_NONDET_RE = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id|"
    r"spark_partition_id|input_file_name|current_timestamp|current_date|"
    r"current_timezone|now|localtimestamp|unix_timestamp\s*\(\s*\))\b",
    re.IGNORECASE,
)


class ConstraintViolationError(RuntimeError):
    """A ``fail``-mode CHECK constraint rejected a change batch."""

    def __init__(self, epoch, counts: dict):
        self.epoch = epoch
        self.counts = dict(counts)
        super().__init__(
            f"epoch {epoch}: change batch violates CHECK constraint(s) "
            f"{self.counts} — epoch stays pending; fix upstream and replay, "
            "or redeclare the constraint with on_violation='drop'/'dlq'"
        )


def constraints_of(snap: dict) -> dict[str, dict]:
    """Active constraints from a snapshot's property map:
    name -> {"expr", "on_violation", "refs"} (dropped ones hold None)."""
    out = {}
    for k, v in (snap.get("props") or {}).items():
        if k.startswith(CONSTRAINT_PREFIX) and v is not None:
            out[k[len(CONSTRAINT_PREFIX):]] = json.loads(v)
    return dict(sorted(out.items()))


def row_dropping(cons: dict[str, dict]) -> bool:
    """True when any active constraint removes rows from the batch (drop /
    dlq) — those modes rewrite the batch and need the general apply path."""
    return any(c["on_violation"] in ("drop", "dlq") for c in cons.values())


def _parse_refs(
    spark: SparkSession,
    logical_schema: T.StructType,
    label: str,
    expr: str,
) -> list[str]:
    """Shared fail-closed declaration-time analysis for row expressions
    (CHECK constraints and GENERATED columns): parse, determinism guard,
    and reference extraction. Returns the canonical LOGICAL column names
    the expression references (recorded so rename/drop evolution on them
    is refused while the declaration lives)."""
    if not expr or not str(expr).strip():
        raise ValueError(f"{label}: expression must be non-empty")
    m = _NONDET_RE.search(expr)
    if m:
        raise ValueError(
            f"{label} uses non-deterministic/time-dependent function "
            f"{m.group(0)!r}: a replayed epoch must produce the same "
            "result (exactly-once), so row expressions must be "
            "deterministic"
        )
    # referenced columns straight off the UNRESOLVED Catalyst expression
    # tree (sqlParser().parseExpression(...).references()) — no failing
    # trial analyses, so a bad declaration never spams JVM ERROR logs
    try:
        parsed = spark._jsparkSession.sessionState().sqlParser()
        jrefs = parsed.parseExpression(expr).references().iterator()
    except Exception as e:
        raise ValueError(
            f"{label} does not parse as a SQL expression: {e}"
        ) from None
    raw_refs = []
    while jrefs.hasNext():
        raw_refs.append(jrefs.next().name())
    canon = {f.name.lower(): f.name for f in logical_schema.fields}
    unknown = sorted({r for r in raw_refs if r.lower() not in canon})
    if unknown:
        raise ValueError(
            f"{label} references unknown column(s) {unknown} "
            f"(table has {[f.name for f in logical_schema.fields]}; "
            "envelope columns op/lsn/epoch are out of scope)"
        )
    return sorted({canon[r.lower()] for r in raw_refs})


def analyze_constraint(
    spark: SparkSession, logical_schema: T.StructType, name: str, expr: str
) -> list[str]:
    """Fail-closed CHECK declaration analysis: :func:`_parse_refs` plus
    the BOOLEAN-type requirement. Returns the referenced LOGICAL names."""
    if not _NAME_RE.match(name or ""):
        raise ValueError(f"invalid constraint name {name!r}")
    refs = _parse_refs(
        spark, logical_schema, f"constraint {name!r}", expr
    )
    probe = spark.createDataFrame([], logical_schema)
    try:
        col = probe.select(F.expr(expr).alias("__c"))
    except Exception as e:  # type mismatch inside the expression
        raise ValueError(
            f"constraint {name!r} does not analyze against the table "
            f"schema ({[f.name for f in logical_schema.fields]}): {e}"
        ) from None
    dtype = col.schema["__c"].dataType
    if not isinstance(dtype, T.BooleanType):
        raise ValueError(
            f"constraint {name!r} must be a BOOLEAN predicate, got "
            f"{dtype.simpleString()}"
        )
    return refs


def _fk_missing(spark: SparkSession, spec: dict, changes: DataFrame):
    """Distinct FK key tuples of the batch ABSENT from the parent's live
    state, or None when the batch doesn't carry every FK column (absent ==
    NULL == passes, like a NULL value — SQL MATCH SIMPLE). The parent read
    is the bucket-pruned batch-lookup regime (``read_keys(on=ref_cols,
    broadcast_keys=False)``): only the buckets the batch's keys hash to are
    scanned, the keys never leave the executors — O(batch) work against a
    table of any size."""
    from cnpj_data_pipeline_spark.lake.format import LakeTable

    fk = spec["fk"]
    cols, ref_cols = list(fk["cols"]), list(fk["ref_cols"])
    if any(c not in changes.columns for c in cols):
        return None
    src = changes
    if "op" in src.columns:
        src = src.filter(F.col("op") != F.lit("D"))
    keys = src.select(*cols).na.drop("any").distinct()
    lk = keys.toDF(*ref_cols)
    parent = LakeTable.load(fk["ref_root"])
    present = (
        parent.read_keys(spark, lk, on=ref_cols, broadcast_keys=False)
        .select(*ref_cols)
        .distinct()
    )
    return lk.join(present, ref_cols, "left_anti").toDF(*cols)


def _flags(
    changes: DataFrame,
    cons: dict[str, dict],
    logical_schema: T.StructType,
    spark: SparkSession | None = None,
):
    """(probe_df, {name: violation Column}) — the probe adds typed-null
    placeholders for referenced columns the batch doesn't carry (an old
    producer predating an additive evolution: absent == NULL == passes),
    and for FOREIGN KEY specs a left-join marker against the batch's
    missing-in-parent key set (``spark`` required when any FK is
    declared)."""
    types = {f.name: f.dataType for f in logical_schema.fields}
    probe = changes
    have = set(changes.columns)
    for spec in cons.values():
        if "fk" in spec:
            continue
        for c in spec.get("refs") or ():
            if c not in have and c in types:
                probe = probe.withColumn(c, F.lit(None).cast(types[c]))
                have.add(c)
    not_delete = (
        F.col("op") != F.lit("D")
        if "op" in changes.columns
        else F.lit(True)
    )
    flags = {}
    for n, spec in cons.items():
        if "fk" not in spec:
            flags[n] = not_delete & F.expr(spec["expr"]).eqNullSafe(
                F.lit(False)
            )
            continue
        if spark is None:
            raise ValueError(
                "FOREIGN KEY constraint evaluation needs an active "
                "SparkSession (internal misuse)"
            )
        missing = _fk_missing(spark, spec, changes)
        if missing is None:
            flags[n] = F.lit(False)
            continue
        marker = f"__fkv_{n}"
        probe = probe.join(
            missing.withColumn(marker, F.lit(True)),
            list(spec["fk"]["cols"]),
            "left",
        )
        # a NULL in any FK column never joins -> coalesce(False) -> passes
        flags[n] = not_delete & F.coalesce(F.col(marker), F.lit(False))
    return probe, flags


def violation_counts(probe: DataFrame, flags: dict) -> dict[str, int]:
    """Per-constraint violating-event counts over one batch's
    :func:`_flags` probe: one partial-aggregating pass (map-only for CHECK
    specs; FK specs add their bucket-pruned parent anti-join, still
    O(batch))."""
    row = probe.agg(
        *[
            F.sum(flag.cast("long")).alias(n)
            for n, flag in flags.items()
        ]
    ).first()
    return {n: int(row[n] or 0) for n in flags}


def enforce_general(
    spark: SparkSession,
    snap: dict,
    changes: DataFrame,
    epoch_label,
    dlq_root: str | None,
    logical_schema: T.StructType,
) -> tuple[DataFrame, dict[str, int]]:
    """The general-path gate (``operators.merge.apply_changes``): verdict
    counts, then fail / filter / filter+DLQ per the declared policies.
    Returns (possibly filtered batch, per-constraint violation counts)."""
    cons = constraints_of(snap)
    if not cons:
        return changes, {}
    # one probe for both the verdict and the filter: an FK spec's probe
    # reads the parent's keys, which must happen once per batch
    probe, flags = _flags(changes, cons, logical_schema, spark)
    counts = violation_counts(probe, flags)
    bad = {n: c for n, c in counts.items() if c}
    fail_bad = {
        n: c for n, c in bad.items()
        if cons[n]["on_violation"] == "fail"
    }
    if fail_bad:
        raise ConstraintViolationError(epoch_label, fail_bad)
    if not bad:
        return changes, counts
    drop_flags = [
        flags[n] for n in cons
        if cons[n]["on_violation"] in ("drop", "dlq")
    ]
    any_drop = drop_flags[0]
    for fl in drop_flags[1:]:
        any_drop = any_drop | fl
    dlq_names = [n for n in cons if cons[n]["on_violation"] == "dlq"]
    if dlq_names and dlq_root and any(bad.get(n) for n in dlq_names):
        violated = F.array_compact(
            F.array(
                *[
                    F.when(flags[n], F.lit(n))
                    for n in sorted(cons)
                    if cons[n]["on_violation"] in ("drop", "dlq")
                ]
            )
        ).alias("violated")
        out = probe.filter(any_drop).select(*changes.columns, violated)
        # deterministic per-epoch path + overwrite: a crash-replayed epoch
        # rewrites the same DLQ, exactly like its delta files
        out.coalesce(1).write.mode("overwrite").parquet(
            f"{dlq_root}/epoch={epoch_label}"
        )
    return probe.filter(~any_drop).select(*changes.columns), counts


def check_fail_only(
    spark: SparkSession,
    snap: dict,
    wal_files: list[str],
    epoch_label,
    logical_schema: T.StructType,
) -> dict[str, int]:
    """The co-partitioned-path gate (``operators.copart``): fail-mode
    constraints only (row-dropping modes are routed to the general path by
    the caller). One column-pruned, map-only scan of the epoch's WAL files;
    a clean batch leaves the zero-shuffle apply untouched."""
    cons = constraints_of(snap)
    if not cons:
        return {}
    if row_dropping(cons):
        raise ValueError(
            "co-partitioned apply cannot enforce drop/dlq constraints "
            "(the batch would need a rewrite) — route this table through "
            "the general apply path (cfg.copart='off' or the pipeline's "
            "automatic routing)"
        )
    need = sorted(
        {c for spec in cons.values() for c in spec.get("refs") or ()}
        | {
            c
            for spec in cons.values()
            if "fk" in spec
            for c in spec["fk"]["cols"]
        }
    )
    from cnpj_data_pipeline_spark.lake.format import scan_files

    df = scan_files(spark, wal_files)
    # WAL files may carry retired logical names (a producer behind on a
    # rename) — normalize to CURRENT logical names before evaluating
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
    keep = [c for c in df.columns if c in set(need) | {"op"}]
    counts = violation_counts(
        *_flags(df.select(*keep), cons, logical_schema, spark)
    )
    bad = {n: c for n, c in counts.items() if c}
    if bad:
        raise ConstraintViolationError(epoch_label, bad)
    return counts
