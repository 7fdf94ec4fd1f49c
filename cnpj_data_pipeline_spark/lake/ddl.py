"""SQL DDL surface over lake tables: ``CREATE TABLE`` / ``ALTER TABLE``
statements compiled to the engine's table-format operations.

The reference is DDL-driven end to end — its entire schema system is the
``CREATE TABLE`` text in ``init-db/postgres.sql`` (tables, PRIMARY KEYs,
types), declared BEFORE any data arrives, and its loader trusts that
declaration (``src/database/postgres.py:269-531`` writes against it).
``lake/sql.py`` covers reads and ``lake/dml.py`` covers writes; this module
closes the last asymmetry with the "Postgres is both API and state" model:
a deployment can now declare and evolve its tables in SQL text too. Every
statement is a FRONT-END over an existing engine operation — the compiled
action is one metadata-only snapshot commit (CAS-raced, atomic), never a
data rewrite.

Supported grammar (case-insensitive keywords; one statement per call):

    CREATE TABLE <name> (
        <col> <spark-sql-type>
              [GENERATED ALWAYS AS (<expr>) | DEFAULT (<expr>)] [, ...]
        [, PRIMARY KEY (<k1> [, <k2> ...])]
        [, CONSTRAINT <cn> CHECK (<expr>) [ON VIOLATION FAIL|DROP|DLQ]]
        [, CONSTRAINT <cn> FOREIGN KEY (<cols>) REFERENCES
             <table-or-'root'> (<ref-cols>) [ON VIOLATION ...]]
    )
    [USING lake]
    [CLUSTERED BY (<c1> [, ...]) INTO <n> BUCKETS]
    [LOCATION '<path>']
    [TBLPROPERTIES ('<k>'='<v>' [, ...])]
    [WRITE ORDERED BY [ZORDER] (<c1> [, ...])]

    CREATE TABLE <name> [SHALLOW] CLONE <src>
        [VERSION AS OF <n> | TIMESTAMP AS OF '<ts>' | TAG '<tag>']
        LOCATION '<path>'

    ALTER TABLE <name> RENAME COLUMN <old> TO <new>
    ALTER TABLE <name> DROP COLUMN <c>
    ALTER TABLE <name> ADD COLUMN <c> <type>
    ALTER TABLE <name> ADD COLUMNS [IF NOT EXISTS] (<c> <type> [, ...])
    ALTER TABLE <name> ALTER COLUMN <c> TYPE <type>
    ALTER TABLE <name> SET TBLPROPERTIES ('<k>'='<v>' [, ...])
    ALTER TABLE <name> WRITE ORDERED BY [ZORDER] (<c1> [, ...])
    ALTER TABLE <name> WRITE UNORDERED
    ALTER TABLE <name> CREATE TAG '<tag>' [AS OF VERSION <n>]
    ALTER TABLE <name> DROP TAG [IF EXISTS] '<tag>'
    ALTER TABLE <name> ADD CONSTRAINT <cn> CHECK (<expr>)
                       [ON VIOLATION FAIL|DROP|DLQ]
    ALTER TABLE <name> ADD CONSTRAINT <cn> FOREIGN KEY (<cols>)
                       REFERENCES <table-or-'root'> (<ref-cols>)
                       [ON VIOLATION FAIL|DROP|DLQ]
    ALTER TABLE <name> DROP CONSTRAINT [IF EXISTS] <cn>
    ALTER TABLE <name> ADD COLUMN <c> <type>
                       GENERATED ALWAYS AS (<expr>) | DEFAULT (<expr>)

    OPTIMIZE <name>                   -> compact multi-generation buckets
                                         (map-only rewrite, no exchange)
    VACUUM <name> [RETAIN <n> SNAPSHOTS] [OLDER THAN '<ts>']
                                      -> expire snapshots + sweep orphans
    VACUUM <name> TOMBSTONES BELOW LSN <n>
                                      -> physically drop settled deletes
    RESTORE TABLE <name> TO VERSION AS OF <n>
                       | TO TIMESTAMP AS OF '<ts>' | TO TAG '<tag>'
                                      -> rollback (history preserved)
    CREATE MATERIALIZED VIEW <name> [IF NOT EXISTS] LOCATION '<path>' AS
        SELECT <group items...>, count(*) AS <n>, sum(<expr>) AS <m> ...
        FROM <table> GROUP BY <group names>
                                      -> an INCREMENTALLY-MAINTAINED
                                         aggregate view (plans/ivm.py
                                         AggSyncJob): the definition
                                         persists as a sidecar spec under
                                         the view root, grouping items may
                                         be derived expressions (time
                                         buckets — the continuous-aggregate
                                         form), and the initial sync runs
                                         at CREATE
    REFRESH MATERIALIZED VIEW <name>  -> maintain through every pending
                                         source epoch, O(changed data),
                                         idempotent (the view's own ledger)
    CREATE INDEX <name> [IF NOT EXISTS] ON <table>
        USING NEARDUP (<id>, <text>) LOCATION '<path>'
      | USING DECONTAM (<id>, <text>) LOCATION '<path>' EVAL '<parquet>'
      | USING IVF (<id>, <emb>) LOCATION '<path>' CENTROIDS '<parquet>'
                                      -> one of the engine's INCREMENTAL
                                         change-feed indexes (near-dup
                                         band index, contamination index,
                                         IVF assignment index) as a
                                         declared object: the definition
                                         persists as _index.json under
                                         the index root, the side input
                                         (eval docs are grammed first;
                                         the codebook is copied) is
                                         FROZEN under <root>/_side, and
                                         the initial sync runs at CREATE
    REFRESH INDEX <name>              -> index every pending source epoch,
                                         O(changed data), idempotent
    SHOW CREATE INDEX <name>          -> the CREATE statement (side clause
                                         points at the frozen copy)
    CREATE HISTORY TABLE <name> [IF NOT EXISTS] ON <table>
        LOCATION '<path>'             -> SCD Type 2 version history
                                         (plans/scd2.py) as a declared
                                         object: _history.json sidecar,
                                         initial sync at CREATE; the table
                                         registers under <name> for
                                         DESCRIBE/SELECT/point-in-time
    REFRESH HISTORY TABLE <name>      -> version every pending apply
                                         commit, idempotent
    SHOW CREATE HISTORY TABLE <name>  -> the CREATE statement
    SHOW CONSUMERS                    -> DataFrame: every registered
                                         declared consumer (index / mview /
                                         SCD2 history) with its
                                         epochs_behind lag — metadata-only
    SHOW CREATE TABLE <name>          -> the CREATE statement (round-trips)
    SHOW SNAPSHOTS <name>             -> DataFrame: commit history + tags
    SHOW TAGS <name>                  -> DataFrame: tag -> snapshot id
    DESCRIBE [EXTENDED] <name>        -> DataFrame of columns + metadata
    SELECT / WITH ... (script runner) -> DataFrame over the registered
                                         tables' state views (inside a
                                         BEGIN block: the catalog's pins)

For a KEYLESS table the bucket count alone is declared with
``CLUSTERED INTO <n> BUCKETS`` (no BY — there is no key to cluster by;
the layout hashes the whole row).

Semantics, each inherited from the operation the statement compiles to:

* ``PRIMARY KEY`` declares the merge identity (``key_cols``); omitting it
  declares a KEYLESS append-only table (the reference's no-PK ``socios``
  path). ``CLUSTERED BY ... INTO n BUCKETS`` is the physical layout
  (``bucket_cols`` must be a key subset; default: the full key, 32
  buckets). ``LOCATION`` is required — the lake is path-addressed; there
  is no warehouse catalog to allocate paths from.
* ``TBLPROPERTIES`` at CREATE: ``'merge_engine'`` picks lww / partial /
  aggregate; ``'agg.<col>'`` entries build the aggregate ``agg_spec``
  ("sum"/"min"/"max"/"last"). Everything else lands in the persistent
  property map via a follow-up props commit.
* ``ADD COLUMN`` / ``ALTER COLUMN TYPE`` are the EXPLICIT forms of the
  evolution the ingest path also applies implicitly (additive union /
  in-family numeric widening) — declared ahead of data, exactly how a
  DDL-driven upstream announces a migration before the CDC stream carries
  it. Key/bucket columns never widen (bucket-hash contract); tombstoned
  names never re-enter.
* ``WRITE ORDERED BY`` is Iceberg's declared-sort-order DDL analogue,
  compiling to ``set_sort_order`` (ZORDER interleaves 2-4 columns).
* ``GENERATED ALWAYS AS (expr)`` declares an ingest-time derived column
  (``lake/generated.py`` — the Iceberg hidden-partitioning / Delta
  generated-column idea): the engine computes ``CAST(expr AS type)`` for
  batches that don't carry the column and VERIFIES batches that do; the
  declared sort order or a materialized view can then target it. The
  co-partitioned WAL path requires producers to supply it (verified,
  never recomputed). ``DEFAULT (expr)`` is the writable sibling: computed
  only when the column is absent from a batch, writer-supplied values
  (including NULLs) kept verbatim.
* ``CONSTRAINT ... CHECK`` declares a row-level ingest expectation
  (``lake/constraints.py`` — the reference's Postgres column constraints,
  init-db/postgres.sql, as declarative quality gates): a deterministic
  boolean predicate over the table's logical columns, enforced against
  every change batch with the declared violation policy (FAIL aborts the
  epoch, DROP filters the events out, DLQ additionally persists them
  under ``<table>/_dlq/constraints``). SQL CHECK semantics: NULL passes;
  DELETE events are exempt. Compiled to ``add_constraint`` — same
  fail-closed declaration-time analysis as the Python API.
  ``FOREIGN KEY ... REFERENCES`` is the referential form (the reference's
  init-db/postgres.sql REFERENCES contract enforced per change batch):
  the batch's distinct FK keys anti-join the parent's live state via the
  bucket-pruned batch lookup — O(batch) at any parent size; ``ref_cols``
  must be exactly the parent's key or bucket columns so pruning is
  guaranteed. NULL FK values pass (MATCH SIMPLE); apply parents before
  children (the FK dependency order multi-table ingest already runs in).
* The maintenance statements are front-ends over the operator CLI's ops
  (``tools/run_maintenance.py``), so a pure-SQL deployment can run its
  own upkeep: ``OPTIMIZE`` -> ``compact`` (bounds MoR read
  amplification), ``VACUUM`` -> ``expire_snapshots(sweep_orphans=True)``
  (bounds storage; tagged snapshots are protected) or, in the
  ``TOMBSTONES BELOW LSN`` form, -> ``vacuum_tombstones`` (drops settled
  deletes once no lower-LSN late event can arrive), ``RESTORE TABLE`` ->
  ``rollback`` (bad-batch recovery: a NEW snapshot carrying the target
  state — time travel to the bad commits survives until expiry),
  ``CREATE/DROP TAG`` -> immutable named snapshot refs. OPTIMIZE and the
  tombstone VACUUM run Spark jobs (bucket rewrites); everything else is
  metadata-only. All are refused inside BEGIN blocks (they commit their
  own CAS and cannot stage); the SHOW forms are allowed anywhere.
* There is deliberately no ``DROP TABLE``: destroying state is an
  operator action (retention/expiry are the governed paths), not a
  statement a streaming consumer should ever hold.

``CREATE TABLE`` registers the new table into the caller's ``tables``
mapping under its statement name, so a script of CREATE-then-MERGE
statements (see ``lake/dml.py``) runs against one shared dict — the
closest thing to a session catalog this path-addressed engine needs.

At 100 TB this surface costs nothing: parsing is driver-side string work
and every compiled action is a metadata-only commit of O(schema) bytes.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from cnpj_data_pipeline_spark.lake.format import LakeTable

_CREATE_HEAD = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>[\w.-]+)\s*\(",
    re.IGNORECASE,
)
_CLONE_HEAD = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>[\w.-]+)\s+(?:SHALLOW\s+)?CLONE\s+(?P<src>[\w.-]+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
    r"|\s+TAG\s+'(?P<tag>[^']+)')?"
    r"\s+LOCATION\s+'(?P<loc>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_HEAD = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.-]+)\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_PK_RE = re.compile(
    r"^\s*PRIMARY\s+KEY\s*\((?P<cols>[^)]+)\)\s*$", re.IGNORECASE
)
_MVIEW_HEAD = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>[\w.-]+)\s+LOCATION\s+'(?P<loc>[^']+)'\s+AS\s+"
    r"(?P<query>SELECT\s.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_HEAD = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>[\w.-]+)\s*;?\s*$",
    re.IGNORECASE,
)
_MVIEW_SPEC_FILE = "_mview.json"


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses, angle brackets and single
    quotes, so ``decimal(10,2)``, ``array<struct<a:int,b:int>>`` and
    ``'x,y'`` survive intact. Angle brackets count only at paren depth 0:
    generics appear in TYPE positions, never inside parens, while a CHECK
    constraint's parenthesized expression may contain bare ``<``/``>``/
    ``>=`` comparisons that must not skew the depth."""
    parts, paren, angle, quote, start = [], 0, 0, False, 0
    for i, ch in enumerate(s):
        if quote:
            quote = ch != "'"
        elif ch == "'":
            quote = True
        elif ch == "(":
            paren += 1
        elif ch == ")":
            paren -= 1
        elif ch == "<" and paren == 0:
            angle += 1
        elif ch == ">" and paren == 0 and angle > 0:
            angle -= 1
        elif ch == sep and paren == 0 and angle == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p for p in (x.strip() for x in parts) if p]


def _scan_balanced(s: str) -> tuple[str, str]:
    """Consume a balanced ``(...)`` group from the head of ``s`` (opening
    paren already positioned at s[0]); returns (inner, remainder)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[1:i], s[i + 1:]
    raise ValueError("DDL: unbalanced parentheses")


def _parse_type(spark: SparkSession, typ: str) -> T.DataType:
    """One Spark-SQL type string -> DataType, via the engine Spark already
    ships (StructType.fromDDL), so every type CREATE accepts, ALTER
    accepts too."""
    try:
        return T.StructType.fromDDL(f"__c {typ}").fields[0].dataType
    except Exception as exc:  # noqa: BLE001 — surface the SQL position
        raise ValueError(f"DDL: cannot parse type {typ!r}: {exc}") from exc


def _parse_props(text: str) -> dict[str, str]:
    """``'k'='v' [, ...]`` -> dict (keys/values are single-quoted SQL
    string literals)."""
    props: dict[str, str] = {}
    for item in _split_top_level(text):
        m = re.match(r"^\s*'([^']+)'\s*=\s*'([^']*)'\s*$", item)
        if not m:
            raise ValueError(
                f"TBLPROPERTIES entries must be '<k>'='<v>', got {item!r}"
            )
        props[m.group(1)] = m.group(2)
    return props


def _create_stmt(
    spark: SparkSession, stmt: str, tables: dict
) -> LakeTable:
    mh = _CREATE_HEAD.match(stmt)
    name = mh.group("name")
    if_not_exists = mh.group("ine") is not None
    if name in tables:
        if if_not_exists:
            t = tables[name]
            return t if isinstance(t, LakeTable) else LakeTable.load(t)
        raise ValueError(f"table {name!r} is already registered")
    cols_txt, rest = _scan_balanced(stmt[mh.end() - 1:])

    key_cols: list[str] | None = None
    col_defs: list[str] = []
    cons_defs: list[tuple[str, str, str]] = []  # (name, expr, mode)
    gen_defs: list[tuple[str, str, str]] = []  # (name, type, expr)
    fk_defs: list[re.Match] = []
    for item in _split_top_level(cols_txt):
        pk = _PK_RE.match(item)
        if pk:
            if key_cols is not None:
                raise ValueError("CREATE TABLE: duplicate PRIMARY KEY")
            key_cols = [c.strip() for c in pk.group("cols").split(",")]
            continue
        cm = re.match(
            r"^CONSTRAINT\s+(?P<cn>\w+)\s+CHECK\s*\(", item, re.IGNORECASE
        )
        if cm:
            expr, tail = _scan_balanced(item[cm.end() - 1:])
            mode, tail = "fail", tail.strip()
            if tail:
                vm = re.match(
                    r"^ON\s+VIOLATION\s+(?P<mode>FAIL|DROP|DLQ)$",
                    tail,
                    re.IGNORECASE,
                )
                if not vm:
                    raise ValueError(
                        f"CONSTRAINT: unsupported trailing text "
                        f"{tail[:60]!r} (expected ON VIOLATION "
                        "FAIL|DROP|DLQ)"
                    )
                mode = vm.group("mode").lower()
            cons_defs.append((cm.group("cn"), expr.strip(), mode))
            continue
        fkm = re.match(
            r"^CONSTRAINT\s+(?P<cn>\w+)\s+FOREIGN\s+KEY\s*"
            r"\((?P<cols>[^)]+)\)\s+REFERENCES\s+"
            r"(?:'(?P<refpath>[^']+)'|(?P<refname>[\w.-]+))\s*"
            r"\((?P<rcols>[^)]+)\)"
            r"(?:\s+ON\s+VIOLATION\s+(?P<mode>FAIL|DROP|DLQ))?$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if fkm:
            fk_defs.append(fkm)
            continue
        gm = re.match(
            r"^(?P<col>\w+)\s+(?P<typ>.+?)\s+"
            r"(?:(?P<gen>GENERATED\s+ALWAYS\s+AS)|(?P<dft>DEFAULT))\s*\(",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if gm:
            expr, tail = _scan_balanced(item[gm.end() - 1:])
            if tail.strip():
                raise ValueError(
                    f"GENERATED/DEFAULT column: unsupported trailing text "
                    f"{tail[:60]!r}"
                )
            gen_defs.append(
                (
                    gm.group("col"),
                    gm.group("typ").strip(),
                    expr.strip(),
                    "always" if gm.group("gen") else "default",
                )
            )
            continue
        col_defs.append(item)
    if not col_defs:
        raise ValueError("CREATE TABLE requires at least one column")
    try:
        schema = T.StructType.fromDDL(", ".join(col_defs))
    except Exception as exc:  # noqa: BLE001
        raise ValueError(
            f"CREATE TABLE: cannot parse column list: {exc}"
        ) from exc
    names = [f.name for f in schema.fields]
    for k in key_cols or ():
        if k not in names:
            raise ValueError(
                f"PRIMARY KEY column {k!r} is not a declared column"
            )

    rest = rest.strip().rstrip(";").strip()
    m = re.match(r"^USING\s+lake\b", rest, re.IGNORECASE)
    if m:
        rest = rest[m.end():].strip()

    bucket_cols: list[str] | None = None
    n_buckets = 32
    m = re.match(
        r"^CLUSTERED\s+BY\s*\((?P<cols>[^)]+)\)\s+INTO\s+(?P<n>\d+)\s+"
        r"BUCKETS\b",
        rest,
        re.IGNORECASE,
    )
    if m:
        bucket_cols = [c.strip() for c in m.group("cols").split(",")]
        n_buckets = int(m.group("n"))
        rest = rest[m.end():].strip()
    else:
        m = re.match(
            r"^CLUSTERED\s+INTO\s+(?P<n>\d+)\s+BUCKETS\b",
            rest,
            re.IGNORECASE,
        )
        if m:  # keyless form: bucket count only, no BY
            n_buckets = int(m.group("n"))
            rest = rest[m.end():].strip()

    location: str | None = None
    m = re.match(r"^LOCATION\s+'(?P<loc>[^']+)'", rest, re.IGNORECASE)
    if m:
        location = m.group("loc")
        rest = rest[m.end():].strip()

    props: dict[str, str] = {}
    m = re.match(r"^TBLPROPERTIES\s*\(", rest, re.IGNORECASE)
    if m:
        inner, rest = _scan_balanced(rest[m.end() - 1:])
        props = _parse_props(inner)
        rest = rest.strip()

    sort_cols: list[str] | None = None
    sort_kind = "lexical"
    m = re.match(
        r"^WRITE\s+ORDERED\s+BY\s+(?P<z>ZORDER\s+)?\((?P<cols>[^)]+)\)",
        rest,
        re.IGNORECASE,
    )
    if m:  # declare the sort order with the table, ahead of any data
        sort_cols = [c.strip() for c in m.group("cols").split(",")]
        sort_kind = "zorder" if m.group("z") else "lexical"
        rest = rest[m.end():].strip()
    if rest:
        raise ValueError(f"CREATE TABLE: unsupported trailing DDL: {rest[:60]!r}")
    if location is None:
        raise ValueError(
            "CREATE TABLE requires LOCATION '<path>' — the lake is "
            "path-addressed (no warehouse catalog allocates paths)"
        )

    if if_not_exists and LakeTable.exists(location):
        # the idempotent bootstrap form: the table is already on disk —
        # register and return it, never re-create (its declared schema is
        # authoritative; a drifted statement is NOT reconciled here)
        table = LakeTable.load(location)
        tables[name] = table
        return table

    merge_engine = props.pop("merge_engine", "lww")
    agg_spec = {
        k[len("agg."):]: props.pop(k)
        for k in [p for p in props if p.startswith("agg.")]
    } or None
    # bucket_cols defaulting + subset validation live in LakeTable.create
    table = LakeTable.create(
        location,
        schema,
        key_cols,
        n_buckets,
        bucket_cols=bucket_cols,
        merge_engine=merge_engine,
        agg_spec=agg_spec,
    )
    if props:
        table.set_props(props)
    if sort_cols is not None:
        table.set_sort_order(sort_cols, kind=sort_kind)
    for gc, typ, expr, gmode in gen_defs:
        # in declaration order, so a later generated column may derive
        # from an earlier one
        table.add_generated_column(
            spark, gc, _parse_type(spark, typ), expr, mode=gmode
        )
    for cn, expr, mode in cons_defs:
        # declared ahead of any data: validation is analysis-only here
        # (after generated columns, so a CHECK may reference them)
        table.add_constraint(spark, cn, expr, on_violation=mode)
    for fkm in fk_defs:
        ref, rname = _resolve_fk_match(fkm, tables)
        table.add_fk_constraint(
            spark,
            fkm.group("cn"),
            [c.strip() for c in fkm.group("cols").split(",")],
            ref,
            [c.strip() for c in fkm.group("rcols").split(",")],
            on_violation=(fkm.group("mode") or "fail").lower(),
            ref_name=fkm.group("refname"),
        )
    tables[name] = table
    return table


def _clone_stmt(m: re.Match, tables: dict) -> LakeTable:
    """``CREATE TABLE t [SHALLOW] CLONE s [VERSION AS OF n | TIMESTAMP AS
    OF 'ts' | TAG 'name'] LOCATION 'path'`` — Delta's shallow-clone DDL,
    compiling to :meth:`LakeTable.clone` (O(metadata) zero-copy fork; the
    source snapshot is auto-tag-pinned until the clone localizes)."""
    name = m.group("name")
    if name in tables:
        if m.group("ine") is not None:
            t = tables[name]
            return t if isinstance(t, LakeTable) else LakeTable.load(t)
        raise ValueError(f"table {name!r} is already registered")
    src_name = m.group("src")
    if src_name not in tables:
        raise ValueError(
            f"CLONE source {src_name!r} is not registered "
            f"(registered: {sorted(tables)})"
        )
    s = tables[src_name]
    src = s if isinstance(s, LakeTable) else LakeTable.load(s)
    if m.group("ine") is not None and LakeTable.exists(m.group("loc")):
        # resumable bootstrap: the fork already landed on a prior run
        t = LakeTable.load(m.group("loc"))
        tables[name] = t
        return t
    sid: int | str | None = None
    if m.group("ver") is not None:
        sid = int(m.group("ver"))
    elif m.group("tag") is not None:
        sid = m.group("tag")
    clone = src.clone(m.group("loc"), snapshot_id=sid, at=m.group("ts"))
    tables[name] = clone
    return clone


_FK_CLAUSE = re.compile(
    r"^ADD\s+CONSTRAINT\s+(?P<cn>\w+)\s+FOREIGN\s+KEY\s*"
    r"\((?P<cols>[^)]+)\)\s+REFERENCES\s+"
    r"(?:'(?P<refpath>[^']+)'|(?P<refname>[\w.-]+))\s*"
    r"\((?P<rcols>[^)]+)\)"
    r"(?:\s+ON\s+VIOLATION\s+(?P<mode>FAIL|DROP|DLQ))?$",
    re.IGNORECASE,
)


def _resolve_fk_match(m: re.Match, tables: dict):
    """REFERENCES target -> (LakeTable-or-root, recorded SQL name): a bare
    name resolves through the registry; a quoted path loads directly."""
    if m.group("refpath"):
        return m.group("refpath"), None
    name = m.group("refname")
    if name not in tables:
        raise ValueError(
            f"FOREIGN KEY references unknown table {name!r} "
            f"(registered: {sorted(tables)}; or quote a lake root path)"
        )
    t = tables[name]
    return (t if isinstance(t, LakeTable) else t), name


def _alter_stmt(spark: SparkSession, m: re.Match, tables: dict) -> int:
    name, rest = m.group("name"), m.group("rest").strip().rstrip(";")
    if name not in tables:
        raise ValueError(
            f"unknown DDL target {name!r} (registered: {sorted(tables)})"
        )
    t = tables[name]
    table = t if isinstance(t, LakeTable) else LakeTable.load(t)

    rm = re.match(
        r"^RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$", rest, re.IGNORECASE
    )
    if rm:
        return table.rename_column(rm.group(1), rm.group(2))

    dm = re.match(
        r"^DROP\s+COLUMN\s+(?:(?P<ife>IF\s+EXISTS)\s+)?(?P<col>\w+)$",
        rest,
        re.IGNORECASE,
    )
    if dm:
        if dm.group("ife"):
            snap = table.snapshot()
            phys = table._resolve_column(dm.group("col"), snap)
            names = {f.name for f in table.schema().fields}
            if phys not in names:  # idempotent re-run: already dropped
                return table.current_snapshot_id()
        return table.drop_column(dm.group("col"))

    agm = re.match(
        r"^ADD\s+COLUMN\s+(?P<col>\w+)\s+(?P<typ>.+?)\s+"
        r"(?:(?P<gen>GENERATED\s+ALWAYS\s+AS)|(?P<dft>DEFAULT))\s*\(",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if agm:
        expr, tail = _scan_balanced(rest[agm.end() - 1:])
        if tail.strip():
            raise ValueError(
                f"ADD COLUMN GENERATED/DEFAULT: unsupported trailing DDL "
                f"{tail[:60]!r}"
            )
        return table.add_generated_column(
            spark,
            agm.group("col"),
            _parse_type(spark, agm.group("typ").strip()),
            expr.strip(),
            mode="always" if agm.group("gen") else "default",
        )

    am = re.match(
        r"^ADD\s+COLUMN\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
        r"(?P<col>\w+)\s+(?P<typ>.+)$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if am:
        if am.group("ine"):
            snap = table.snapshot()
            ren = snap.get("renames") or {}
            names = {f.name for f in table.schema().fields}
            logical = {ren.get(n, n) for n in names}
            if am.group("col") in names | logical:
                # idempotent re-run: present under either name space; the
                # existing declared type is authoritative (not reconciled)
                return table.current_snapshot_id()
        return table.add_column(
            am.group("col"), _parse_type(spark, am.group("typ").strip())
        )

    asm = re.match(
        r"^ADD\s+COLUMNS\s*(?:(?P<ine>IF\s+NOT\s+EXISTS)\s*)?\(",
        rest,
        re.IGNORECASE,
    )
    if asm:
        inner, tail = _scan_balanced(rest[asm.end() - 1:])
        if tail.strip():
            raise ValueError(
                f"ADD COLUMNS: unsupported trailing DDL: {tail[:60]!r}"
            )
        sid = table.current_snapshot_id()
        for item in _split_top_level(inner):
            cm = re.match(r"^(\w+)\s+(.+)$", item, re.DOTALL)
            if not cm:
                raise ValueError(
                    f"ADD COLUMNS: cannot parse column def {item!r}"
                )
            if asm.group("ine"):
                # idempotent form, PER COLUMN: the list compiles to one
                # commit per column, so a crash mid-list must re-run —
                # columns already landed (under either name space) skip,
                # the rest still apply
                snap = table.snapshot()
                ren = snap.get("renames") or {}
                names = {f.name for f in table.schema().fields}
                logical = {ren.get(n, n) for n in names}
                if cm.group(1) in names | logical:
                    continue
            sid = table.add_column(
                cm.group(1), _parse_type(spark, cm.group(2).strip())
            )
        return sid

    tm = re.match(
        r"^ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(.+)$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if tm:
        return table.widen_column(
            tm.group(1), _parse_type(spark, tm.group(2).strip())
        )

    pm = re.match(r"^SET\s+TBLPROPERTIES\s*\(", rest, re.IGNORECASE)
    if pm:
        inner, tail = _scan_balanced(rest[pm.end() - 1:])
        if tail.strip():
            raise ValueError(
                f"SET TBLPROPERTIES: unsupported trailing DDL: "
                f"{tail[:60]!r}"
            )
        return table.set_props(_parse_props(inner))

    wm = re.match(
        r"^WRITE\s+ORDERED\s+BY\s+(?P<z>ZORDER\s+)?\((?P<cols>[^)]+)\)$",
        rest,
        re.IGNORECASE,
    )
    if wm:
        cols = [c.strip() for c in wm.group("cols").split(",")]
        kind = "zorder" if wm.group("z") else "lexical"
        return table.set_sort_order(cols, kind=kind)

    if re.match(r"^WRITE\s+UNORDERED$", rest, re.IGNORECASE):
        return table.set_sort_order(None)

    ctm = re.match(
        r"^CREATE\s+TAG\s+'(?P<tag>[^']+)'"
        r"(?:\s+AS\s+OF\s+VERSION\s+(?P<ver>\d+))?$",
        rest,
        re.IGNORECASE,
    )
    if ctm:
        ver = ctm.group("ver")
        return table.create_tag(
            ctm.group("tag"), None if ver is None else int(ver)
        )

    dtm = re.match(
        r"^DROP\s+TAG\s+(?:(?P<ife>IF\s+EXISTS)\s+)?'(?P<tag>[^']+)'$",
        rest,
        re.IGNORECASE,
    )
    if dtm:
        existed = table.drop_tag(dtm.group("tag"))
        if not existed and not dtm.group("ife"):
            raise ValueError(
                f"DROP TAG: no tag {dtm.group('tag')!r} on {name!r} "
                "(add IF EXISTS for the idempotent form)"
            )
        return table.current_snapshot_id()

    acm = re.match(
        r"^ADD\s+CONSTRAINT\s+(?P<cn>\w+)\s+CHECK\s*\(",
        rest,
        re.IGNORECASE,
    )
    if acm:
        expr, tail = _scan_balanced(rest[acm.end() - 1:])
        mode = "fail"
        tail = tail.strip()
        if tail:
            vm = re.match(
                r"^ON\s+VIOLATION\s+(?P<mode>FAIL|DROP|DLQ)$",
                tail,
                re.IGNORECASE,
            )
            if not vm:
                raise ValueError(
                    f"ADD CONSTRAINT: unsupported trailing DDL "
                    f"{tail[:60]!r} (expected ON VIOLATION FAIL|DROP|DLQ)"
                )
            mode = vm.group("mode").lower()
        return table.add_constraint(
            spark, acm.group("cn"), expr.strip(), on_violation=mode
        )

    afk = _FK_CLAUSE.match(rest)
    if afk:
        ref, rname = _resolve_fk_match(afk, tables)
        mode = (afk.group("mode") or "fail").lower()
        return table.add_fk_constraint(
            spark,
            afk.group("cn"),
            [c.strip() for c in afk.group("cols").split(",")],
            ref,
            [c.strip() for c in afk.group("rcols").split(",")],
            on_violation=mode,
            ref_name=rname,
        )

    dcm = re.match(
        r"^DROP\s+CONSTRAINT\s+(?:(?P<ife>IF\s+EXISTS)\s+)?(?P<cn>\w+)$",
        rest,
        re.IGNORECASE,
    )
    if dcm:
        if dcm.group("ife") and dcm.group("cn") not in table.constraints():
            return table.current_snapshot_id()
        return table.drop_constraint(dcm.group("cn"))

    raise ValueError(
        f"ALTER TABLE: unsupported clause {rest[:80]!r} "
        "(module doc lists the accepted forms)"
    )


def _split_statements(script: str) -> list[str]:
    """A SQL script -> its statements: ``--`` comments stripped (outside
    string literals), then split on top-level ``;`` (outside literals and
    parentheses), empties dropped."""
    out, depth, quote, start = [], 0, False, 0
    cleaned_chars: list[str] = []
    i, n = 0, len(script)
    while i < n:  # strip -- comments first, quote-aware
        ch = script[i]
        if quote:
            cleaned_chars.append(ch)
            quote = ch != "'"
            i += 1
        elif ch == "'":
            cleaned_chars.append(ch)
            quote = True
            i += 1
        elif ch == "-" and script[i:i + 2] == "--":
            while i < n and script[i] != "\n":
                i += 1
        else:
            cleaned_chars.append(ch)
            i += 1
    cleaned = "".join(cleaned_chars)
    quote = False
    for i, ch in enumerate(cleaned):
        if quote:
            quote = ch != "'"
        elif ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ";" and depth == 0:
            out.append(cleaned[start:i])
            start = i + 1
    out.append(cleaned[start:])
    return [s.strip() for s in out if s.strip()]


_DML_HEAD = re.compile(
    r"^\s*(MERGE|INSERT|DELETE|UPDATE)\b", re.IGNORECASE
)
_BEGIN_HEAD = re.compile(
    r"^\s*BEGIN(\s+TRANSACTION)?\s*$", re.IGNORECASE
)
_COMMIT_HEAD = re.compile(r"^\s*COMMIT(\s+TRANSACTION)?\s*$", re.IGNORECASE)
_ROLLBACK_HEAD = re.compile(
    r"^\s*ROLLBACK(\s+TRANSACTION)?\s*$", re.IGNORECASE
)
_TXN_READ_DDL = re.compile(r"^\s*(SHOW|DESCRIBE)\b", re.IGNORECASE)
_SELECT_HEAD = re.compile(r"^\s*(SELECT|WITH)\b", re.IGNORECASE)


def run_sql_script(
    spark: SparkSession,
    script: str,
    tables: dict[str, "LakeTable | str"] | None = None,
    epoch_base: int = 0,
    cfg=None,
    catalog=None,
) -> list[dict]:
    """Run a multi-statement SQL script — mixed DDL and DML, ``;``
    separated, ``--`` comments allowed — against one shared ``tables``
    registry: the engine's analogue of the reference's whole bootstrap
    being one SQL file (``init-db/postgres.sql``).

    RESUMABLE by construction: the k-th DML statement in the script
    carries ledger epoch ``epoch_base + k``, so re-running the same script
    skips already-applied writes exactly-once (``skipped: True`` in that
    statement's metrics); write the DDL in its standard idempotent forms
    (``CREATE TABLE IF NOT EXISTS`` — re-registers from disk, never
    re-creates; ``ADD COLUMN IF NOT EXISTS`` / ``DROP COLUMN IF EXISTS``)
    and the whole script is safely re-runnable after a crash at any
    statement. Non-idempotent DDL errors propagate — drift is surfaced,
    never reconciled silently.

    TRANSACTIONS (requires ``catalog``, a :class:`Catalog`): DML between
    ``BEGIN [TRANSACTION];`` and ``COMMIT;`` stages through ONE
    :class:`MultiTableTransaction` and lands in a single catalog CAS —
    readers resolving the tables through the catalog see the whole block
    or none of it, however many tables it touched. ``ROLLBACK;`` discards
    the staged block. A DML target inside a block resolves through the
    catalog's pins first, then ``tables`` — a table the script just
    CREATEd joins the catalog atomically at the block's commit. DDL inside
    a block is refused (table-format DDL commits its own metadata CAS and
    cannot stage) except the read-only SHOW/DESCRIBE forms. Pending
    prepared transactions from a crashed earlier run are completed before
    the first statement (2PC recovery), so the script's idempotent re-run
    contract extends across transaction blocks: a re-run block stages
    nothing (ledger skips), commits as a catalog no-op, and the version
    vector is untouched.

    Returns one dict per statement: ``{"statement": <head>, "kind":
    "ddl"|"dml"|"txn"|"query", "result": ...}`` where DML results are the apply
    metrics, DDL results are the snapshot id / table / text / DataFrame
    the statement produces, and COMMIT's result is the catalog version."""
    from cnpj_data_pipeline_spark.lake.dml import merge_into

    tables = {} if tables is None else tables
    if catalog is not None:
        catalog.recover()
    results: list[dict] = []
    dml_idx = 0
    txn = None
    try:
        for stmt in _split_statements(script):
            head = " ".join(stmt.split())[:60]
            if _BEGIN_HEAD.match(stmt):
                if catalog is None:
                    raise ValueError(
                        "BEGIN TRANSACTION requires a catalog — atomic "
                        "multi-statement visibility is a catalog CAS "
                        "(pass catalog=Catalog.load(...))"
                    )
                if txn is not None:
                    raise ValueError("nested BEGIN: transaction already open")
                txn = catalog.begin(cfg=cfg)
                results.append(
                    {"statement": head, "kind": "txn", "result": txn.token}
                )
            elif _COMMIT_HEAD.match(stmt):
                if txn is None:
                    raise ValueError("COMMIT without an open transaction")
                version = txn.commit()
                txn = None
                results.append(
                    {"statement": head, "kind": "txn", "result": version}
                )
            elif _ROLLBACK_HEAD.match(stmt):
                if txn is None:
                    raise ValueError("ROLLBACK without an open transaction")
                txn.abort()
                txn = None
                results.append(
                    {"statement": head, "kind": "txn", "result": None}
                )
            elif _SELECT_HEAD.match(stmt):
                # a read: every registered table resolves as a temp view of
                # its CURRENT state — inside a transaction, through the
                # catalog's pins (snapshot isolation: the block's own staged
                # writes are invisible, like every other statement's reads).
                # OUTSIDE a block the pins must NOT apply even when a
                # catalog is supplied: autocommit DML (merge_into) never
                # advances the catalog, so a pinned read would silently
                # miss the statement the script just ran
                from cnpj_data_pipeline_spark.lake.sql import register_view

                pinned = set()
                if txn is not None:
                    pins = catalog.pins()
                    for vname, pin in pins.items():
                        register_view(
                            spark, pin["root"], vname,
                            snapshot_id=pin["snapshot_id"],
                        )
                        pinned.add(vname)
                for vname, t in tables.items():
                    if vname not in pinned:
                        register_view(spark, t, vname)
                results.append(
                    {
                        "statement": head,
                        "kind": "query",
                        "result": spark.sql(stmt),
                    }
                )
            elif _DML_HEAD.match(stmt):
                if txn is not None:
                    r = txn.sql(
                        spark, stmt, epoch=epoch_base + dml_idx,
                        tables=tables, cfg=cfg,
                    )
                else:
                    r = merge_into(
                        spark, stmt, tables, epoch=epoch_base + dml_idx,
                        cfg=cfg,
                    )
                dml_idx += 1
                results.append(
                    {"statement": head, "kind": "dml", "result": r}
                )
            else:
                if txn is not None and not _TXN_READ_DDL.match(stmt):
                    raise ValueError(
                        f"DDL inside a transaction: {head!r} — table-format "
                        "DDL commits its own metadata CAS and cannot stage; "
                        "run it before BEGIN"
                    )
                r = execute_ddl(spark, stmt, tables)
                results.append(
                    {"statement": head, "kind": "ddl", "result": r}
                )
        if txn is not None:
            raise ValueError(
                "script ended with an open transaction — add COMMIT or "
                "ROLLBACK (the staged block has been discarded)"
            )
    except BaseException:
        if txn is not None:
            txn.abort()
        raise
    return results


def _constraint_body(spec: dict) -> str:
    """The declaration body of one constraint spec: ``CHECK (expr)`` or
    ``FOREIGN KEY (cols) REFERENCES <name-or-'root'> (ref_cols)`` — the
    FK target renders as its declaration-time SQL name when recorded,
    else the quoted parent root (which CREATE also accepts)."""
    if "fk" not in spec:
        return f"CHECK ({spec['expr']})"
    fk = spec["fk"]
    ref = fk.get("ref_name") or f"'{fk['ref_root']}'"
    return (
        f"FOREIGN KEY ({', '.join(fk['cols'])}) "
        f"REFERENCES {ref} ({', '.join(fk['ref_cols'])})"
    )


def show_create_table(table: LakeTable, name: str = "t") -> str:
    """The CREATE TABLE statement (module-doc grammar) that declares an
    equivalent table — the replication twin of the outbound change feed
    (``plans/export.py``): SHOW CREATE on the source + the Debezium epoch
    stream is everything a downstream deployment needs to stand up a live
    replica. Round-trip property: ``execute_ddl(show_create_table(t))``
    creates a table with the same logical schema, key, layout, engine,
    agg spec, and user properties (gated in ``tests/test_ddl.py``).

    Emits LOGICAL column names (a fresh replica has no rename history to
    carry) and the declared sort order (``WRITE ORDERED BY``, logical
    names); omits what a new table cannot or should not inherit:
    dropped-name tombstones and snapshot history. The LOCATION placeholder
    must be filled by the caller."""
    snap = table.snapshot()
    schema = table.logical_schema()
    gens = table.generated_columns()

    def _gen_clause(col):
        if col not in gens:
            return ""
        if gens[col].get("mode", "always") == "default":
            return f" DEFAULT ({gens[col]['expr']})"
        return f" GENERATED ALWAYS AS ({gens[col]['expr']})"

    lines = [
        f"    {f.name} {f.dataType.simpleString().upper()}"
        + _gen_clause(f.name)
        for f in schema.fields
    ]
    key_cols = table.key_cols()
    if key_cols is not None:
        lines.append(f"    PRIMARY KEY ({', '.join(key_cols)})")
    for cn, spec in table.constraints().items():
        lines.append(
            f"    CONSTRAINT {cn} {_constraint_body(spec)} "
            f"ON VIOLATION {spec['on_violation'].upper()}"
        )
    stmt = f"CREATE TABLE {name} (\n" + ",\n".join(lines) + "\n)\nUSING lake"
    if key_cols is not None:
        bcols = table.bucket_cols() or key_cols
        stmt += (
            f"\nCLUSTERED BY ({', '.join(bcols)}) "
            f"INTO {table.n_buckets()} BUCKETS"
        )
    else:
        stmt += f"\nCLUSTERED INTO {table.n_buckets()} BUCKETS"
    stmt += "\nLOCATION '<path>'"
    props = {
        k: v
        for k, v in (table.props() or {}).items()
        if not str(k).startswith(("sort_order", "constraint.", "generated."))
        and isinstance(v, str)
    }
    engine = snap.get("merge_engine", "lww")
    tbl_props = {}
    if engine != "lww":
        tbl_props["merge_engine"] = engine
    for c, fn in (snap.get("agg_spec") or {}).items():
        tbl_props[f"agg.{c}"] = fn
    tbl_props.update(props)
    if tbl_props:
        inner = ", ".join(f"'{k}'='{v}'" for k, v in sorted(tbl_props.items()))
        stmt += f"\nTBLPROPERTIES ({inner})"
    sort = table.sort_order() or []
    if sort:
        ren = table.renames()
        zkw = (
            "ZORDER "
            if (table.props() or {}).get("sort_order_kind") == "zorder"
            else ""
        )
        stmt += (
            f"\nWRITE ORDERED BY {zkw}"
            f"({', '.join(ren.get(c, c) for c in sort)})"
        )
    return stmt


def _describe(spark: SparkSession, table: LakeTable, extended: bool):
    """DESCRIBE [EXTENDED]: one row per column (logical name, type,
    membership in the key/bucket/sort contracts), then — extended — the
    table-level metadata rows Spark's own DESCRIBE EXTENDED appends."""
    snap = table.snapshot()
    key = set(table.key_cols() or ())
    bcols = set(table.bucket_cols() or table.key_cols() or ())
    # sort_order() stores PHYSICAL names; surface them under the logical
    # names the rest of the description speaks (key/bucket columns are
    # never renameable, so only the sort list needs mapping)
    ren = table.renames()
    sort = [ren.get(c, c) for c in (table.sort_order() or [])]
    gens = table.generated_columns()
    rows = [
        (
            f.name,
            f.dataType.simpleString(),
            ", ".join(
                x
                for x in (
                    "key" if f.name in key else "",
                    "bucket" if f.name in bcols else "",
                    f"sort#{sort.index(f.name)}" if f.name in sort else "",
                    (
                        (
                            "default: "
                            if gens[f.name].get("mode") == "default"
                            else "generated: "
                        )
                        + gens[f.name]["expr"]
                        if f.name in gens
                        else ""
                    ),
                )
                if x
            ),
        )
        for f in table.logical_schema().fields
    ]
    from cnpj_data_pipeline_spark.lake.stats import load_stats

    stats = load_stats(table) if extended else None
    if stats:
        rows = [
            (
                n,
                t,
                ", ".join(
                    x
                    for x in (
                        notes,
                        f"ndv≈{stats['columns'][n]['ndv']}"
                        if n in stats["columns"]
                        else "",
                    )
                    if x
                ),
            )
            for n, t, notes in rows
        ]
    if extended:
        rows += [
            ("", "", ""),
            ("# Detailed Table Information", "", ""),
            ("Location", table.root, ""),
            ("Merge Engine", snap.get("merge_engine", "lww"), ""),
            ("Num Buckets", str(table.n_buckets()), ""),
            ("Snapshot Id", str(snap["snapshot_id"]), ""),
            ("Rows", str(snap.get("rows_total", "")), ""),
            (
                "Sort Order",
                ", ".join(sort) if sort else "(key clustering)",
                snap.get("props", {}).get("sort_order_kind") or "",
            ),
            (
                "Dropped Columns",
                ", ".join(snap.get("dropped_cols") or []) or "(none)",
                "",
            ),
            (
                "Retired Names",
                ", ".join(
                    f"{n} -> {p}"
                    for n, p in sorted(
                        (snap.get("retired_names") or {}).items()
                    )
                )
                or "(none)",
                "",
            ),
            (
                "Check Constraints",
                "; ".join(
                    f"{n}: {_constraint_body(s)} ON VIOLATION "
                    f"{s['on_violation'].upper()}"
                    for n, s in table.constraints().items()
                )
                or "(none)",
                "",
            ),
            ("Properties", json.dumps(table.props() or {}), ""),
            (
                "Column Stats",
                (
                    f"{stats['mode']} @ snapshot {stats['snapshot_id']} "
                    f"({stats['commits_behind']} commit(s) behind)"
                    if stats
                    else "(never analyzed)"
                ),
                "",
            ),
        ]
    return spark.createDataFrame(
        rows, "col_name string, data_type string, info string"
    )


_MV_DELTA_AGGS = ("count_star", "sum", "count", "avg")
_MV_REFRESH_ONLY = ("min", "max")


def _parse_mview_query(query: str) -> dict:
    """Parse the MV defining query into a sync-job spec.

    Grammar: ``SELECT <item> [, ...] FROM <table> GROUP BY <names>`` where
    each item is an aggregate ``count(*) | count(<e>) | sum(<e>) | avg(<e>)
    | min(<e>) | max(<e>) AS <name>`` or a non-aggregate ``<col>`` /
    ``<expr> AS <name>`` grouping item; GROUP BY lists the grouping items
    by their output names.

    The aggregate set picks the maintenance strategy (``kind`` in the
    spec): with only the delta-maintainable forms (count/sum/avg — avg as
    a hidden exact-decimal sum/count pair divided at read) the view is an
    :class:`AggSyncJob` (cost O(changed rows)/epoch; count(*) required —
    liveness). Any MIN/MAX switches the WHOLE view to a
    :class:`GroupRefreshSyncJob` — retracting the current extremum needs
    the runner-up, so affected groups are re-aggregated from base rows
    (cost O(rows of affected groups)/epoch; every aggregate runs verbatim,
    count(*) optional)."""
    qm = re.match(
        r"^SELECT\s+(?P<sel>.+)\s+FROM\s+(?P<src>[\w.-]+)\s+"
        r"GROUP\s+BY\s+(?P<grp>.+)$",
        " ".join(query.split()),
        re.IGNORECASE,
    )
    if not qm:
        raise ValueError(
            "materialized view query must be "
            "'SELECT ... FROM <table> GROUP BY ...', got: "
            f"{query[:80]!r}"
        )

    # pass 1: classify items
    items: list[tuple[str, str, str]] = []  # (kind, alias, expr-or-text)
    group_cols: list[str] = []
    group_exprs: dict[str, str] = {}
    select_names: list[str] = []
    for item in _split_top_level(qm.group("sel")):
        item = item.strip()
        am = re.match(
            r"^(?P<fn>count|sum|avg|min|max)\s*\((?P<e>.+)\)\s+AS\s+"
            r"(?P<a>\w+)$",
            item,
            re.IGNORECASE,
        )
        if am:
            fn, e, a = am.group("fn").lower(), am.group("e").strip(), am.group("a")
            kind = "count_star" if fn == "count" and e == "*" else fn
            items.append((kind, a, e))
            select_names.append(a)
            continue
        if re.match(
            r"^(approx_count_distinct|count_if|stddev(_samp|_pop)?|"
            r"var(iance|_samp|_pop)|collect_list|collect_set|first|last|"
            r"median|percentile(_approx)?|mode|corr|covar_(pop|samp)|"
            r"any_value|bool_and|bool_or|max_by|min_by)\s*\(",
            item,
            re.IGNORECASE,
        ):
            raise ValueError(
                f"unsupported aggregate in materialized view: {item!r} — "
                "count(*/expr), sum, avg, min and max (each AS <name>) are "
                "supported"
            )
        gm = re.match(r"^(?P<e>.+)\s+AS\s+(?P<a>\w+)$", item, re.IGNORECASE)
        if gm:
            group_cols.append(gm.group("a"))
            group_exprs[gm.group("a")] = gm.group("e").strip()
            select_names.append(gm.group("a"))
        elif re.match(r"^[\w.]+$", item):
            group_cols.append(item)
            select_names.append(item)
        else:
            raise ValueError(
                f"grouping expression needs an alias: {item!r}"
            )

    grp = [g.strip() for g in _split_top_level(qm.group("grp"))]
    if sorted(grp) != sorted(group_cols):
        raise ValueError(
            f"GROUP BY {grp} must list the non-aggregate select items "
            f"by name: {group_cols}"
        )
    star = [a for k, a, _ in items if k == "count_star"]
    if len(star) > 1:
        raise ValueError("more than one count(*) item")

    # pass 2: compile measures for the chosen strategy
    refresh = any(k in _MV_REFRESH_ONLY for k, _, _ in items)
    measures: dict[str, str] = {}
    avgs: list[str] = []
    count_alias: str | None = None
    if refresh:
        for kind, a, e in items:
            fn = "count" if kind == "count_star" else kind
            measures[a] = f"{fn}({e})"
    else:
        if not star:
            raise ValueError(
                "materialized view must select count(*) AS <name> — the "
                "row count decides group liveness"
            )
        count_alias = star[0]
        for kind, a, e in items:
            if kind == "count_star":
                continue
            if kind == "sum":
                measures[a] = e
            elif kind == "count":
                measures[a] = f"CASE WHEN ({e}) IS NOT NULL THEN 1 END"
            else:  # avg
                # decimal accumulation: exact and associative, so an
                # update's retract cancels its earlier insert bit-for-bit
                # (a DOUBLE sum would drift under insert/retract churn).
                # Scale 6 is Spark's minimum preserved scale, so the
                # folded type is a FIXED (38,6) through sum and merge
                # addition alike — any other scale drifts under the
                # decimal-precision rules and trips the view's
                # schema-evolution guard
                measures[f"{a}__sum"] = f"CAST(({e}) AS DECIMAL(18,6))"
                measures[f"{a}__cnt"] = (
                    f"CASE WHEN ({e}) IS NOT NULL THEN 1 END"
                )
                avgs.append(a)

    names = (
        select_names
        + [f"{a}__sum" for a in avgs]
        + [f"{a}__cnt" for a in avgs]
    )
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        raise ValueError(
            f"duplicate output names (avg aliases reserve <name>__sum / "
            f"<name>__cnt): {sorted(dup)}"
        )
    return {
        "source": qm.group("src"),
        "kind": "refresh" if refresh else "delta",
        "group_cols": group_cols,
        "group_exprs": group_exprs,
        "measures": measures,
        "avgs": avgs,
        "count_alias": count_alias,
        "select_names": select_names,
    }


def _mview_job(spec: dict):
    from cnpj_data_pipeline_spark.plans.ivm import (
        AggSyncJob,
        GroupRefreshSyncJob,
    )

    cls = (
        GroupRefreshSyncJob
        if spec.get("kind") == "refresh"
        else AggSyncJob
    )
    return cls(
        spec["source_root"],
        spec["view_root"],
        spec["group_cols"],
        spec["measures"],
        group_exprs=spec["group_exprs"],
    )


def _mview_spec_path(view_root: str) -> str:
    import os

    return os.path.join(view_root, _MVIEW_SPEC_FILE)


def load_mview_spec(view_root: str) -> dict:
    with open(_mview_spec_path(view_root), encoding="utf-8") as f:
        return json.load(f)


def read_mview(spark: SparkSession, view_root: str):
    """The materialized view's current state under its DECLARED output
    names: the physical view table stores the liveness counter as
    ``n_rows`` (mapped back to the count(*) alias), avg aliases as hidden
    ``<name>__sum``/``<name>__cnt`` pairs (divided here — NULL when the
    group has no non-null values, matching SQL AVG), and the SELECT's
    column order is restored."""
    from pyspark.sql import functions as F

    spec = load_mview_spec(view_root)
    df = LakeTable.load(view_root).read(spark)
    if spec.get("kind") == "refresh":
        # every aggregate ran verbatim and landed under its own alias
        return df.select(*spec["select_names"])
    avgs = set(spec.get("avgs") or ())

    def _out(n):
        if n == spec["count_alias"]:
            return F.col("n_rows").alias(n)
        if n in avgs:
            # sum-then-divide, division in DOUBLE (the exact decimal sum
            # cast first): matches SQL AVG instead of decimal division's
            # scale-truncated quotient
            cnt = F.col(f"{n}__cnt")
            return F.when(
                cnt > 0, F.col(f"{n}__sum").cast("double") / cnt
            ).alias(n)
        return F.col(n)

    return df.select(*[_out(n) for n in spec["select_names"]])


def _mview_stmt(spark: SparkSession, m: re.Match, tables: dict):
    """CREATE MATERIALIZED VIEW: persist the definition as a sidecar spec
    under the view root (durable before the view table's first commit —
    the catalog entry a warehouse would hold), create the empty view table
    eagerly, run the initial sync, register the view into ``tables``."""
    import os

    name, loc, ine = m.group("name"), m.group("loc"), m.group("ine")
    spec_path = _mview_spec_path(loc)
    if os.path.exists(spec_path):
        if not ine:
            raise ValueError(
                f"materialized view already exists at {loc!r} "
                "(use CREATE MATERIALIZED VIEW IF NOT EXISTS to re-register)"
            )
        tables[name] = loc
        return LakeTable.load(loc)
    spec = _parse_mview_query(m.group("query"))
    spec["query"] = " ".join(m.group("query").split()).rstrip(";").strip()
    src = spec.pop("source")
    if src not in tables:
        raise ValueError(
            f"unknown source table {src!r} (registered: {sorted(tables)})"
        )
    t = tables[src]
    spec["source_root"] = t.root if isinstance(t, LakeTable) else t
    spec["view_root"] = loc
    job = _mview_job(spec)
    view = job.ensure_view(spark)
    os.makedirs(loc, exist_ok=True)
    tmp = spec_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(spec, f, indent=1)
    os.replace(tmp, spec_path)
    job.run_once(spark)
    tables[name] = loc
    return view


def show_create_mview(view_root: str, name: str = "v") -> str:
    """The CREATE MATERIALIZED VIEW statement, reconstructed from the
    persisted definition — round-trips through :func:`execute_ddl` (fill a
    new LOCATION to re-point it)."""
    spec = load_mview_spec(view_root)
    return (
        f"CREATE MATERIALIZED VIEW {name} LOCATION '{view_root}' AS "
        f"{spec['query']}"
    )


def _mview_refresh(spark: SparkSession, m: re.Match, tables: dict) -> dict:
    """REFRESH MATERIALIZED VIEW: reconstruct the sync job from the
    persisted spec and maintain through every pending source epoch —
    O(changed data), idempotent (the view's own epoch ledger)."""
    name = m.group("name")
    if name not in tables:
        raise ValueError(
            f"unknown materialized view {name!r} (registered: "
            f"{sorted(tables)})"
        )
    t = tables[name]
    root = t.root if isinstance(t, LakeTable) else t
    spec = load_mview_spec(root)
    return _mview_job(spec).run_once(spark)


# ---------------- secondary INDEX statements ----------------

_INDEX_SPEC_FILE = "_index.json"
_INDEX_KINDS = ("NEARDUP", "DECONTAM", "IVF")
_INDEX_HEAD = re.compile(
    r"^\s*CREATE\s+INDEX\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>[\w.-]+)\s+ON\s+(?P<src>[\w.-]+)\s+USING\s+"
    r"(?P<kind>\w+)\s*\((?P<cols>[^)]+)\)\s+LOCATION\s+'(?P<loc>[^']+)'"
    r"(?:\s+(?P<skw>EVAL|CENTROIDS)\s+'(?P<side>[^']+)')?\s*;?\s*$",
    re.IGNORECASE,
)
_INDEX_REFRESH_HEAD = re.compile(
    r"^\s*REFRESH\s+INDEX\s+(?P<name>[\w.-]+)\s*;?\s*$", re.IGNORECASE
)


def _index_spec_path(index_root: str) -> str:
    import os

    return os.path.join(index_root, _INDEX_SPEC_FILE)


def load_index_spec(index_root: str) -> dict:
    with open(_index_spec_path(index_root), encoding="utf-8") as f:
        return json.load(f)


def _index_job(spark: SparkSession, spec: dict):
    """Reconstruct the incremental index job from a persisted spec. The
    side input (eval grams / centroids) was FROZEN under the index root at
    CREATE, so a refresh never re-reads the original side location."""
    kind = spec["kind"]
    if kind == "NEARDUP":
        from cnpj_data_pipeline_spark.plans.neardup import NearDupIndexJob

        return NearDupIndexJob(
            spec["source_root"],
            spec["index_root"],
            id_col=spec["id_col"],
            text_col=spec["val_col"],
        )
    if kind == "DECONTAM":
        from cnpj_data_pipeline_spark.plans.decontam import DecontamIndexJob

        grams = spark.read.parquet(spec["side_frozen"])
        return DecontamIndexJob(
            spec["source_root"],
            spec["index_root"],
            grams,
            id_col=spec["id_col"],
            text_col=spec["val_col"],
        )
    if kind == "IVF":
        from cnpj_data_pipeline_spark.plans.ivf import IVFIndexJob

        cents = spark.read.parquet(spec["side_frozen"])
        return IVFIndexJob(
            spec["source_root"],
            spec["index_root"],
            cents,
            id_col=spec["id_col"],
            emb_col=spec["val_col"],
        )
    raise ValueError(f"unknown index kind {kind!r}")


def _index_stmt(spark: SparkSession, m: re.Match, tables: dict):
    """CREATE INDEX: declare one of the engine's INCREMENTAL change-feed
    indexes (plans/neardup.py band index, plans/decontam.py contamination
    index, plans/ivf.py assignment index) in SQL. The definition persists
    as a sidecar ``_index.json`` under the index root (the mview pattern),
    the side input is FROZEN by copying it under ``<root>/_side/`` (a
    refresh never depends on the original side path still existing or
    being unchanged — the frozen-codebook contract made physical), and the
    initial sync runs at CREATE. ``REFRESH INDEX`` catches up O(changed
    data), idempotent under the index table's own epoch ledger."""
    import os

    name, loc, ine = m.group("name"), m.group("loc"), m.group("ine")
    kind = m.group("kind").upper()
    if kind not in _INDEX_KINDS:
        raise ValueError(
            f"unknown index kind {kind!r} (choose from {_INDEX_KINDS})"
        )
    spec_path = _index_spec_path(loc)
    if os.path.exists(spec_path):
        if not ine:
            raise ValueError(
                f"index already exists at {loc!r} "
                "(use CREATE INDEX IF NOT EXISTS to re-register)"
            )
        tables[name] = loc
        return LakeTable.load(loc)
    cols = [c.strip() for c in m.group("cols").split(",")]
    if len(cols) != 2:
        raise ValueError(
            f"CREATE INDEX USING {kind} takes exactly (id_col, "
            f"{'emb_col' if kind == 'IVF' else 'text_col'}), got {cols}"
        )
    src = m.group("src")
    if src not in tables:
        raise ValueError(
            f"unknown source table {src!r} (registered: {sorted(tables)})"
        )
    t = tables[src]
    source_root = t.root if isinstance(t, LakeTable) else t
    skw = (m.group("skw") or "").upper()
    side = m.group("side")
    need = {"NEARDUP": None, "DECONTAM": "EVAL", "IVF": "CENTROIDS"}[kind]
    if need is None and skw:
        raise ValueError(f"USING NEARDUP takes no {skw} side input")
    if need is not None and skw != need:
        raise ValueError(
            f"USING {kind} requires {need} '<parquet-path>' "
            f"(got {skw or 'nothing'})"
        )
    spec = {
        "kind": kind,
        "source": src,
        "source_root": source_root,
        "index_root": loc,
        "id_col": cols[0],
        "val_col": cols[1],
    }
    os.makedirs(loc, exist_ok=True)
    if need is not None:
        frozen = os.path.join(loc, "_side", need.lower())
        if kind == "DECONTAM":
            from cnpj_data_pipeline_spark.plans.decontam import eval_gram_set

            # freeze the GRAMS, not the docs: the spec's side input is
            # exactly what the transform broadcasts each epoch. EVAL
            # accepts raw eval docs OR an already-grammed one-column
            # (gram) frame — the latter is what SHOW CREATE INDEX emits,
            # so the statement round-trips
            ev = spark.read.parquet(side)
            if ev.columns == ["gram"]:
                ev.write.mode("overwrite").parquet(frozen)
            else:
                eval_gram_set(ev, text_col=cols[1]).write.mode(
                    "overwrite"
                ).parquet(frozen)
        else:
            spark.read.parquet(side).write.mode("overwrite").parquet(frozen)
        spec["side_frozen"] = frozen
        spec["side_origin"] = side
    tmp = spec_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(spec, f, indent=1)
    os.replace(tmp, spec_path)
    job = _index_job(spark, spec)
    job.run_once(spark)
    tables[name] = loc
    return LakeTable.load(loc)


def show_create_index(index_root: str, name: str = "i") -> str:
    """The CREATE INDEX statement, reconstructed from the persisted
    definition (the side clause points at the FROZEN copy — the original
    side path may be long gone)."""
    spec = load_index_spec(index_root)
    side = ""
    if spec.get("side_frozen"):
        kw = "EVAL" if spec["kind"] == "DECONTAM" else "CENTROIDS"
        side = f" {kw} '{spec['side_frozen']}'"
    return (
        f"CREATE INDEX {name} ON {spec['source']} USING {spec['kind']} "
        f"({spec['id_col']}, {spec['val_col']}) "
        f"LOCATION '{index_root}'{side}"
    )


def _index_refresh(spark: SparkSession, m: re.Match, tables: dict) -> dict:
    name = m.group("name")
    if name not in tables:
        raise ValueError(
            f"unknown index {name!r} (registered: {sorted(tables)})"
        )
    t = tables[name]
    root = t.root if isinstance(t, LakeTable) else t
    return _index_job(spark, load_index_spec(root)).run_once(spark)


_HISTORY_SPEC_FILE = "_history.json"
_HISTORY_HEAD = re.compile(
    r"^\s*CREATE\s+HISTORY\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>[\w.-]+)\s+ON\s+(?P<src>[\w.-]+)\s+LOCATION\s+"
    r"'(?P<loc>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_HISTORY_REFRESH_HEAD = re.compile(
    r"^\s*REFRESH\s+HISTORY\s+TABLE\s+(?P<name>[\w.-]+)\s*;?\s*$",
    re.IGNORECASE,
)


def _history_stmt(spark: SparkSession, m: re.Match, tables: dict):
    """CREATE HISTORY TABLE: declare an SCD Type 2 version-history consumer
    (``plans/scd2.py``) in SQL — the DLT ``APPLY CHANGES ... STORED AS SCD
    TYPE 2`` declaration for this engine. The definition persists as a
    sidecar ``_history.json`` under the history root (the mview/index
    pattern) and the initial sync runs at CREATE; ``REFRESH HISTORY TABLE``
    catches up one apply-commit window at a time (version granularity is
    the commit — see the job's module doc), idempotent under the history
    table's own epoch ledger. The created table registers under its SQL
    name, so DESCRIBE / SELECT / point-in-time filters work on it like any
    other table."""
    import os

    name, loc, ine = m.group("name"), m.group("loc"), m.group("ine")
    src = m.group("src")
    spec_path = os.path.join(loc, _HISTORY_SPEC_FILE)
    if os.path.exists(spec_path):
        if not ine:
            raise ValueError(
                f"history table already exists at {loc!r} "
                "(use CREATE HISTORY TABLE IF NOT EXISTS to re-register)"
            )
        with open(spec_path, encoding="utf-8") as f:
            spec = json.load(f)
        # re-registering must not silently bind ON <src> to another source:
        # a registered source must be the recorded root, an unregistered
        # one the recorded name
        t = tables.get(src)
        src_root = t.root if isinstance(t, LakeTable) else t
        if (
            os.path.abspath(src_root) != os.path.abspath(spec["source_root"])
            if src_root is not None
            else src != spec["source"]
        ):
            raise ValueError(
                f"history table at {loc!r} records source "
                f"{spec['source']!r} at {spec['source_root']!r}; the "
                f"statement names {src!r}"
                + (f" at {src_root!r}" if src_root is not None else "")
            )
        tables[name] = loc
        return LakeTable.load(loc)
    if src not in tables:
        raise ValueError(
            f"unknown source table {src!r} (registered: {sorted(tables)})"
        )
    t = tables[src]
    source_root = t.root if isinstance(t, LakeTable) else t
    spec = {
        "kind": "SCD2",
        "source": src,
        "source_root": source_root,
        "index_root": loc,  # consumer-listing key (SHOW CONSUMERS)
    }
    from cnpj_data_pipeline_spark.plans.scd2 import SCD2SyncJob

    # sync BEFORE the sidecar lands: a failing sync (a keyless source, say)
    # leaves no spec behind to make a retried CREATE say "already exists";
    # a sync that fails midway resumes under the history table's own ledger
    SCD2SyncJob(source_root, loc).run_once(spark)
    tmp = spec_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(spec, f, indent=1)
    os.replace(tmp, spec_path)
    tables[name] = loc
    return LakeTable.load(loc)


def show_create_history(hist_root: str, name: str = "h") -> str:
    import os

    with open(
        os.path.join(hist_root, _HISTORY_SPEC_FILE), encoding="utf-8"
    ) as f:
        spec = json.load(f)
    return (
        f"CREATE HISTORY TABLE {name} ON {spec['source']} "
        f"LOCATION '{hist_root}'"
    )


def _history_refresh(spark: SparkSession, m: re.Match, tables: dict) -> dict:
    import os

    name = m.group("name")
    if name not in tables:
        raise ValueError(
            f"unknown history table {name!r} (registered: {sorted(tables)})"
        )
    t = tables[name]
    root = t.root if isinstance(t, LakeTable) else t
    with open(
        os.path.join(root, _HISTORY_SPEC_FILE), encoding="utf-8"
    ) as f:
        spec = json.load(f)
    from cnpj_data_pipeline_spark.plans.scd2 import SCD2SyncJob

    return SCD2SyncJob(spec["source_root"], root).run_once(spark)


def _show_consumers(spark: SparkSession, tables: dict):
    """SHOW CONSUMERS: one row per registered DECLARED consumer (index or
    materialized view) with its lag — ``epochs_behind`` is
    ``LakeTable.epochs_behind``, the same figure every consumer's
    ``run_once`` reports. Metadata-only: snapshot reads, no Spark job over
    data."""
    import os

    rows = []
    for name, t in sorted(tables.items()):
        root = t.root if isinstance(t, LakeTable) else t
        for spec_file, default_kind in (
            (_INDEX_SPEC_FILE, None),
            (_MVIEW_SPEC_FILE, "MVIEW"),
            (_HISTORY_SPEC_FILE, "SCD2"),
        ):
            p = os.path.join(root, spec_file)
            if not os.path.exists(p):
                continue
            with open(p, encoding="utf-8") as f:
                spec = json.load(f)
            src_root = spec["source_root"]
            behind = None
            if LakeTable.exists(src_root) and LakeTable.exists(root):
                behind = LakeTable.load(src_root).epochs_behind(
                    LakeTable.load(root)
                )
            rows.append(
                (
                    name,
                    spec.get("kind") or default_kind,
                    spec.get("source") or src_root,
                    root,
                    behind,
                )
            )
    return spark.createDataFrame(
        rows,
        "name string, kind string, source string, location string, "
        "epochs_behind int",
    )


def execute_ddl(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "LakeTable | str"],
) -> "LakeTable | int | str":
    """Execute one DDL statement (module-doc grammar) against ``tables``
    (SQL name -> LakeTable or root path). ``CREATE TABLE`` returns the new
    :class:`LakeTable` (and registers it into ``tables``); every ``ALTER``
    returns the committed snapshot id — the same metadata-only commit the
    Python API issues; ``SHOW CREATE TABLE`` returns the statement text;
    ``DESCRIBE`` returns a DataFrame."""
    stmt = statement.strip()
    mm = _MVIEW_HEAD.match(stmt)
    if mm:
        return _mview_stmt(spark, mm, tables)
    rfm = _REFRESH_HEAD.match(stmt)
    if rfm:
        return _mview_refresh(spark, rfm, tables)
    scm = re.match(
        r"^SHOW\s+CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>[\w.-]+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if scm:
        n = scm.group("name")
        if n not in tables:
            raise ValueError(
                f"unknown materialized view {n!r} (registered: "
                f"{sorted(tables)})"
            )
        t = tables[n]
        return show_create_mview(
            t.root if isinstance(t, LakeTable) else t, n
        )
    im = _INDEX_HEAD.match(stmt)
    if im:
        return _index_stmt(spark, im, tables)
    irm = _INDEX_REFRESH_HEAD.match(stmt)
    if irm:
        return _index_refresh(spark, irm, tables)
    hm = _HISTORY_HEAD.match(stmt)
    if hm:
        return _history_stmt(spark, hm, tables)
    hrm = _HISTORY_REFRESH_HEAD.match(stmt)
    if hrm:
        return _history_refresh(spark, hrm, tables)
    shm = re.match(
        r"^SHOW\s+CREATE\s+HISTORY\s+TABLE\s+(?P<name>[\w.-]+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if shm:
        n = shm.group("name")
        if n not in tables:
            raise ValueError(
                f"unknown history table {n!r} (registered: {sorted(tables)})"
            )
        t = tables[n]
        return show_create_history(
            t.root if isinstance(t, LakeTable) else t, n
        )
    sim = re.match(
        r"^SHOW\s+CREATE\s+INDEX\s+(?P<name>[\w.-]+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if sim:
        n = sim.group("name")
        if n not in tables:
            raise ValueError(
                f"unknown index {n!r} (registered: {sorted(tables)})"
            )
        t = tables[n]
        return show_create_index(
            t.root if isinstance(t, LakeTable) else t, n
        )
    if re.match(r"^SHOW\s+CONSUMERS\s*;?\s*$", stmt, re.IGNORECASE):
        return _show_consumers(spark, tables)
    cm = _CLONE_HEAD.match(stmt)
    if cm:
        return _clone_stmt(cm, tables)
    if _CREATE_HEAD.match(stmt):
        return _create_stmt(spark, stmt, tables)
    am = _ALTER_HEAD.match(stmt.rstrip().rstrip(";"))
    if am:
        return _alter_stmt(spark, am, tables)

    def _lookup(name: str) -> LakeTable:
        if name not in tables:
            raise ValueError(
                f"unknown DDL target {name!r} (registered: {sorted(tables)})"
            )
        t = tables[name]
        return t if isinstance(t, LakeTable) else LakeTable.load(t)

    sm = re.match(
        r"^SHOW\s+CREATE\s+TABLE\s+(?P<name>[\w.-]+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if sm:
        return show_create_table(_lookup(sm.group("name")), sm.group("name"))
    dm = re.match(
        r"^DESCRIBE\s+(?:(?P<ext>EXTENDED)\s+)?(?:TABLE\s+)?"
        r"(?P<name>[\w.-]+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if dm:
        return _describe(
            spark, _lookup(dm.group("name")), dm.group("ext") is not None
        )
    om = re.match(
        r"^OPTIMIZE\s+(?P<name>[\w.-]+)\s*;?\s*$", stmt, re.IGNORECASE
    )
    if om:
        return _lookup(om.group("name")).compact(spark)
    vtm = re.match(
        r"^VACUUM\s+(?P<name>[\w.-]+)\s+TOMBSTONES\s+BELOW\s+LSN\s+"
        r"(?P<lsn>\d+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if vtm:
        return _lookup(vtm.group("name")).vacuum_tombstones(
            spark, lsn_horizon=int(vtm.group("lsn"))
        )
    vm = re.match(
        r"^VACUUM\s+(?P<name>[\w.-]+)"
        r"(?:\s+RETAIN\s+(?P<keep>\d+)\s+SNAPSHOTS)?"
        r"(?:\s+OLDER\s+THAN\s+'(?P<ts>[^']+)')?\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if vm:
        keep = vm.group("keep")
        return _lookup(vm.group("name")).expire_snapshots(
            keep_last=10 if keep is None else int(keep),
            older_than=vm.group("ts"),
            sweep_orphans=True,
        )
    rm = re.match(
        r"^RESTORE\s+TABLE\s+(?P<name>[\w.-]+)\s+TO\s+"
        r"(?:VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
        r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
        r"|TAG\s+'(?P<tag>[^']+)')\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if rm:
        table = _lookup(rm.group("name"))
        if rm.group("ver") is not None:
            sid = int(rm.group("ver"))
        elif rm.group("ts") is not None:
            sid = table.snapshot_as_of(rm.group("ts"))
        else:
            sid = table.resolve_tag(rm.group("tag"))
        return table.rollback(sid)
    am = re.match(
        r"^ANALYZE\s+TABLE\s+(?P<name>[\w.-]+)\s+COMPUTE\s+STATISTICS"
        r"(?:\s+FOR\s+COLUMNS\s+(?P<cols>[\w\s,.-]+?)|\s+FOR\s+ALL\s+COLUMNS)?"
        r"(?:\s+(?P<inc>INCREMENTAL))?\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if am:
        from cnpj_data_pipeline_spark.lake.stats import (
            analyze_table,
            refresh_stats,
        )

        table = _lookup(am.group("name"))
        if am.group("inc"):
            if am.group("cols"):
                raise ValueError(
                    "ANALYZE ... INCREMENTAL refreshes every previously "
                    "analyzed column (the stored sketches); FOR COLUMNS "
                    "only applies to a full analyze"
                )
            rec = refresh_stats(spark, table)
        else:
            cols = (
                [c.strip() for c in am.group("cols").split(",")]
                if am.group("cols")
                else None
            )
            rec = analyze_table(spark, table, columns=cols)
        rows = [
            (
                c,
                st["ndv"],
                st["nulls"],
                rec["mode"],
                rec["snapshot_id"],
            )
            for c, st in sorted(rec["columns"].items())
        ]
        return spark.createDataFrame(
            rows,
            "col string, ndv long, nulls long, mode string, snapshot_id long",
        )
    ssm = re.match(
        r"^SHOW\s+SNAPSHOTS\s+(?P<name>[\w.-]+)\s*;?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if ssm:
        return _lookup(ssm.group("name")).snapshots_df(spark)
    stm = re.match(
        r"^SHOW\s+TAGS\s+(?P<name>[\w.-]+)\s*;?\s*$", stmt, re.IGNORECASE
    )
    if stm:
        tags = _lookup(stm.group("name")).tags()
        return spark.createDataFrame(
            sorted(tags.items()), "tag string, snapshot_id int"
        )
    raise ValueError(
        "expected 'CREATE TABLE <t> (...)', 'ALTER TABLE <t> ...', "
        "'CREATE MATERIALIZED VIEW <v> LOCATION ... AS SELECT ...', "
        "'REFRESH MATERIALIZED VIEW <v>', "
        "'SHOW CREATE TABLE <t>', 'SHOW SNAPSHOTS <t>', 'SHOW TAGS <t>', "
        "'DESCRIBE [EXTENDED] <t>', 'OPTIMIZE <t>', 'VACUUM <t> ...', "
        "'ANALYZE TABLE <t> COMPUTE STATISTICS [FOR COLUMNS ...] "
        "[INCREMENTAL]' or 'RESTORE TABLE <t> TO ...', got: "
        f"{stmt[:80]!r}"
    )
