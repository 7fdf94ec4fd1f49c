"""SQL DML surface over lake tables: ``MERGE INTO`` / ``INSERT INTO``
statements compiled to the engine's ``apply_changes``.

The reference's consumers speak SQL in BOTH directions — Postgres is the
API as well as the state (``docs/data-schema/relationships.md:36-60``;
``init-db/postgres.sql``); its ingest is literally
``INSERT ... ON CONFLICT DO UPDATE`` text SQL
(``src/database/postgres.py:269-531``). ``lake/sql.py`` covers the read
side (state / history / change-window views); this module closes the write
side: a consumer hands the engine one MERGE statement and the engine runs
its normal gated apply — same salted shuffle or copart fold, same
exactly-once epoch ledger, same atomic CAS commit. The statement is a
FRONT-END, not a second write path.

Supported grammar (case-insensitive keywords; one statement per call):

    MERGE INTO <table-name> [AS <t>]
    USING <view-name | (subquery)> [AS] <s>
    ON <t>.<k1> = <s>.<k1> [AND <t>.<k2> = <s>.<k2> ...]
    [WHEN MATCHED AND <condition-over-s> THEN DELETE]
    WHEN MATCHED THEN UPDATE SET * | SET <c> = <s>.<c> [, ...]
    [WHEN NOT MATCHED THEN INSERT *]
    [WHEN NOT MATCHED BY SOURCE THEN DELETE]

    INSERT INTO <table-name> <select-statement>

    DELETE FROM <table-name> [AS <t>] WHERE <predicate>

    UPDATE <table-name> [AS <t>]
    SET <c> = <spark-sql-expr> [, ...] WHERE <predicate>

MERGE/INSERT are the STREAM statements: the source carries its own WAL
``lsn`` and the batch flows through ingest untouched. DELETE/UPDATE are
the DRIVER statements (ad-hoc repair, GDPR erasure, backfill): they read
the current state under the predicate — key-column predicates push
through the merge-on-read fold to the scan; column pruning keeps a
DELETE's read to key + predicate columns — and emit tombstones/updated
rows at one-past-the-high-water-mark LSN, applied as a normal O(matched)
delta epoch, never a table rewrite. They are read-committed with respect
to concurrent writers; serialize via the epoch ledger / ``expected_props``
where that matters. ``UPDATE SET`` accepts full Spark SQL expressions
(``SET n = n + 1``); on a partial-update table it compiles to a column
patch so untouched columns keep their own origin LSNs.

Deliberate constraints, each from the engine's semantics rather than
parser laziness:

* The ON condition must equate EXACTLY the table's key columns — the
  engine's merge identity is the key; arbitrary join predicates would be a
  different operator (and Iceberg/Delta reject non-key merges into
  bucket-managed layouts for the same reason).
* The source must carry a monotone ``lsn`` column (the WAL offset): MERGE
  resolves concurrent versions by LSN, exactly like every other ingest
  path — SQL writers don't get weaker ordering guarantees.
* ``UPDATE SET *`` + ``INSERT *`` is the LWW whole-row upsert. A COLUMN
  SUBSET ``SET c = s.c, ...`` is only accepted on a partial-update merge
  engine table (it compiles to a column patch); on an LWW table a partial
  row would win the fold and null the untouched columns — refused loudly.
* WHEN-MATCHED-DELETE's condition is evaluated over the SOURCE row (the
  CDC idiom ``WHEN MATCHED AND s.op = 'D' THEN DELETE``); conditions
  referencing the target would require a state read the MoR engine
  deliberately never does on ingest.
* ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` is the full-snapshot-sync
  idiom (the source is a COMPLETE current snapshot; keys it no longer
  carries are tombstoned). It is the one MERGE form that reads target
  state — a column-pruned key scan anti-joined against the source's key
  set, O(table keys) by the semantic itself, same as Delta's clause. The
  tombstones land past both the table's high-water mark and the batch's
  own max LSN, so the sync wins the fold without colliding with it.
* Exactly-once: the statement itself is pure text, so the epoch ledger
  rides on the call (``epoch=``), same contract as ``apply_changes``.

At 100 TB this surface costs nothing: parsing is driver-side string work;
the compiled plan IS the engine's existing apply plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.config import EngineConfig
from cnpj_data_pipeline_spark.lake.ddl import resolve_name
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes

_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[\w./-]+)"
    r"(?:\s+(?:AS\s+)?(?!USING\b)(?P<talias>\w+))?\s+USING\s+",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_HEAD = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<target>[\w./-]+)\s+(?P<select>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_HEAD = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>[\w./-]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b)(?P<talias>\w+))?"
    r"\s+WHERE\s+(?P<where>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_HEAD = re.compile(
    r"^\s*UPDATE\s+(?P<target>[\w./-]+)"
    r"(?:\s+(?:AS\s+)?(?!SET\b)(?P<talias>\w+))?"
    r"\s+SET\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _split_on_where(rest: str) -> tuple[str, str]:
    """Split ``<set exprs> WHERE <pred>`` at the first TOP-LEVEL ``WHERE``
    — outside single-quoted literals and parentheses, so
    ``SET note = 'fix WHERE clause' WHERE ...`` keeps its string literal
    intact (a bare regex split would cut inside it)."""
    depth, quote = 0, False
    n = len(rest)
    for i, ch in enumerate(rest):
        if quote:
            quote = ch != "'"
        elif ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and ch in "wW"
            and rest[i:i + 5].upper() == "WHERE"
            and i > 0
            and rest[i - 1].isspace()
            and (i + 5 == n or rest[i + 5].isspace())
        ):
            return rest[:i], rest[i + 5:]
    raise ValueError("UPDATE requires a WHERE clause")


def _scan_source(rest: str) -> tuple[str, bool, str]:
    """Consume the USING source: a balanced ``(subquery)`` or a bare view
    name. Returns (source_text, is_subquery, remainder). Parens inside
    single-quoted string literals don't count toward the balance."""
    rest = rest.lstrip()
    if rest.startswith("("):
        depth, quote = 0, False
        for i, ch in enumerate(rest):
            if quote:
                quote = ch != "'"
            elif ch == "'":
                quote = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    return rest[1:i], True, rest[i + 1:]
        raise ValueError("MERGE: unbalanced parentheses in USING subquery")
    m = re.match(r"([\w./-]+)", rest)
    if not m:
        raise ValueError(f"MERGE: cannot parse USING source at: {rest[:60]!r}")
    return m.group(1), False, rest[m.end():]


_SQL_STRING = re.compile(r"'(?:[^']|'')*'")


def _strip_alias(cond: str, *aliases: str | None) -> str:
    """Drop ``alias.`` qualifiers so the condition evaluates over the bare
    source DataFrame. Single-quoted SQL string literals are never
    rewritten (``WHERE text = 'u.s.a.'`` with alias ``s`` must keep the
    literal intact)."""
    pats = [
        re.compile(rf"\b{re.escape(a)}\s*\.\s*") for a in aliases if a
    ]
    if not pats:
        return cond

    def _strip(seg: str) -> str:
        for p in pats:
            seg = p.sub("", seg)
        return seg

    out, pos = [], 0
    for m in _SQL_STRING.finditer(cond):
        out.append(_strip(cond[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(_strip(cond[pos:]))
    return "".join(out)


def _find_qualifier(cond: str, quals: tuple[str, ...]) -> str | None:
    """First ``<qual>.`` qualifier from ``quals`` appearing in ``cond``
    outside single-quoted string literals, or None."""
    if not quals:
        return None
    pats = [
        (q, re.compile(rf"\b{re.escape(q)}\s*\.\s*", re.IGNORECASE))
        for q in quals
    ]
    pos = 0
    segments = []
    for m in _SQL_STRING.finditer(cond):
        segments.append(cond[pos:m.start()])
        pos = m.end()
    segments.append(cond[pos:])
    for seg in segments:
        for q, p in pats:
            if p.search(seg):
                return q
    return None


def _implicit_aliases(*names: str | None) -> tuple[str, ...]:
    """Explicit aliases plus bare-word relation names: standard SQL lets a
    predicate qualify columns by the TABLE/VIEW name when no alias is
    declared (``MERGE INTO t USING s ON t.k = s.k``), so those names join
    the recognized-qualifier set. Path-ish registry names (dots/slashes)
    can't appear as qualifiers and are skipped."""
    return tuple(n for n in names if n and re.fullmatch(r"\w+", n))


def _parse_on(on: str, aliases: tuple[str, ...]) -> list[str]:
    """The ON conjunction -> list of equated column names. Only
    ``t.k = s.k`` conjuncts are accepted (see module doc)."""
    cols = []
    for conj in re.split(r"\s+AND\s+", on.strip(), flags=re.IGNORECASE):
        m = re.match(
            r"^\s*(?:(\w+)\s*\.\s*)?(\w+)\s*=\s*(?:(\w+)\s*\.\s*)?(\w+)\s*$",
            conj,
        )
        if not m:
            raise ValueError(
                f"MERGE ON supports only key-equality conjuncts, got: {conj!r}"
            )
        a1, c1, a2, c2 = m.groups()
        if c1 != c2:
            raise ValueError(
                f"MERGE ON must equate the SAME key column on both sides "
                f"(the merge identity), got {conj!r}"
            )
        for al in (a1, a2):
            if al is not None and al not in aliases:
                raise ValueError(f"MERGE ON references unknown alias {al!r}")
        cols.append(c1)
    return cols


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on ``sep`` outside parentheses and single-quoted strings, so
    SET expressions like ``concat(a, b)`` or ``'x,y'`` survive intact."""
    parts, depth, quote, start = [], 0, False, 0
    for i, ch in enumerate(s):
        if quote:
            quote = ch != "'"
        elif ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _next_lsn(table: LakeTable) -> int:
    """Driver-issued statements (UPDATE/DELETE have no WAL offset) get an
    LSN one past the table's high-water mark, so they win the LWW fold
    against everything already applied. Metadata-only read."""
    return max(
        (v for v in table.watermarks().values() if v is not None), default=0
    ) + 1


def statement_target(statement: str) -> str:
    """The table name a DML statement writes to — driver-side string work
    only, used by the transaction surface to resolve the target through
    the catalog before compiling the statement."""
    stmt = statement.strip().rstrip(";")
    for head in (_DELETE_HEAD, _UPDATE_HEAD, _MERGE_HEAD, _INSERT_HEAD):
        m = head.match(stmt)
        if m:
            return m.group("target")
    raise ValueError(f"not a DML statement: {stmt[:80]!r}")


def _delete_stmt(
    spark: SparkSession, m: re.Match, tables: dict,
    epoch, cfg, props, expected_props,
    stage_only: bool = False, lsn_offset: int = 0,
    lsn_floor: int = 0,
) -> dict:
    """``DELETE FROM t WHERE pred``: read the CURRENT state filtered by the
    predicate (key-column predicates push through the MoR fold to the scan;
    only key + predicate columns are read thanks to column pruning), emit
    op=D tombstones for the matched keys at a fresh LSN, and run the normal
    gated apply — O(matched) delta write, never a table rewrite. The
    statement is read-committed: it tombstones the keys matched at its read
    snapshot (serialize against concurrent writers with the epoch ledger /
    ``expected_props``, as on every other write path)."""
    target = resolve_name(tables, m.group("target"), "DML target")
    key_cols = target.key_cols()
    if key_cols is None:
        raise ValueError(
            "DELETE FROM a keyless (append-only) table is undefined — "
            "append-only logs have no row identity to tombstone"
        )
    pred = _strip_alias(
        m.group("where"),
        *_implicit_aliases(m.group("talias"), m.group("target")),
    )
    matched = target.read(spark).filter(F.expr(pred)).select(*key_cols)
    batch = (
        matched.withColumn("op", F.lit("D"))
        .withColumn(
            "lsn",
            F.lit(
                max(_next_lsn(target), lsn_floor + 1) + lsn_offset
            ).cast("long"),
        )
    )
    return apply_changes(
        spark, target, batch, epoch=epoch, cfg=cfg,
        props=props, expected_props=expected_props, stage_only=stage_only,
    )


def _update_stmt(
    spark: SparkSession, m: re.Match, tables: dict,
    epoch, cfg, props, expected_props,
    stage_only: bool = False, lsn_offset: int = 0,
    lsn_floor: int = 0,
) -> dict:
    """``UPDATE t SET c = <expr> [, ...] WHERE pred``: read the CURRENT
    state filtered by the predicate, evaluate the SET expressions over the
    matched rows (full Spark SQL expressions — ``SET n = n + 1`` works),
    and apply at a fresh LSN. On an LWW table the matched row is already
    whole, so the batch is the full updated row; on a partial-update table
    the batch is a column PATCH (keys + assigned columns), which the
    partial engine folds per-column. Same read-committed caveat as
    DELETE."""
    target = resolve_name(tables, m.group("target"), "DML target")
    key_cols = target.key_cols()
    if key_cols is None:
        raise ValueError(
            "UPDATE of a keyless (append-only) table is undefined — "
            "use INSERT INTO"
        )
    talias = m.group("talias")
    aliases = _implicit_aliases(talias, m.group("target"))
    set_txt, where_txt = _split_on_where(m.group("rest"))
    # validate against the LOGICAL schema: every other surface (read, the
    # matched rows below, MERGE, DDL) speaks logical names, so a renamed
    # column must be assignable under its current name
    schema_names = [f.name for f in target.logical_schema().fields]
    assigns: list[tuple[str, str]] = []
    for a in _split_top_level(set_txt, ","):
        am = re.match(
            r"^\s*(?:(\w+)\s*\.\s*)?(\w+)\s*=\s*(?P<rhs>.+?)\s*$",
            a, re.DOTALL,
        )
        if not am:
            raise ValueError(f"UPDATE SET: cannot parse assignment {a!r}")
        al, col, rhs = am.group(1), am.group(2), am.group("rhs")
        if al is not None and al not in aliases:
            raise ValueError(f"UPDATE SET references unknown alias {al!r}")
        if col in key_cols:
            raise ValueError(
                f"UPDATE SET may not assign key column {col!r} — changing "
                "the merge identity is a DELETE + INSERT, not an UPDATE"
            )
        if col not in schema_names:
            raise ValueError(f"UPDATE SET: unknown column {col!r}")
        assigns.append((col, _strip_alias(rhs, *aliases)))
    if not assigns:
        raise ValueError("UPDATE requires at least one SET assignment")
    pred = _strip_alias(where_txt, *aliases)
    matched = target.read(spark).filter(F.expr(pred))
    updated = matched
    for col, rhs in assigns:
        updated = updated.withColumn(
            col, F.expr(rhs).cast(matched.schema[col].dataType)
        )
    if target.snapshot().get("merge_engine", "lww") == "partial":
        # column patch: untouched columns stay at their own origin LSNs
        updated = updated.select(
            *key_cols, *[c for c, _ in assigns if c not in key_cols]
        )
    batch = (
        updated.withColumn("op", F.lit("U"))
        .withColumn(
            "lsn",
            F.lit(
                max(_next_lsn(target), lsn_floor + 1) + lsn_offset
            ).cast("long"),
        )
    )
    return apply_changes(
        spark, target, batch, epoch=epoch, cfg=cfg,
        props=props, expected_props=expected_props, stage_only=stage_only,
    )


def merge_into(
    spark: SparkSession,
    statement: str,
    tables: dict[str, LakeTable | str],
    epoch: int | None = None,
    cfg: EngineConfig | None = None,
    props: dict | None = None,
    expected_props: dict | None = None,
    stage_only: bool = False,
    lsn_offset: int = 0,
    lsn_floor: int = 0,
) -> dict:
    """Execute one DML statement — MERGE INTO / INSERT INTO / DELETE FROM /
    UPDATE (module-doc grammar) — against ``tables`` (SQL name -> LakeTable
    or root path), compiling to :func:`apply_changes`. Returns the apply's
    metrics dict (exactly-once ledger, snapshot id, phase timings —
    identical to the Python API).

    ``stage_only=True`` is the transaction entry (write-audit-publish): the
    compiled apply stages instead of committing, exactly as in
    ``apply_changes``. ``lsn_offset`` shifts the fresh LSN the DRIVER
    statements (UPDATE/DELETE) mint — a multi-statement transaction issues
    its k-th statement against the same table with ``lsn_offset=k`` so its
    statements stay LWW-ordered even though none has published yet."""
    stmt = statement.strip().rstrip(";")
    md = _DELETE_HEAD.match(stmt)
    if md:
        return _delete_stmt(
            spark, md, tables, epoch, cfg, props, expected_props,
            stage_only, lsn_offset, lsn_floor,
        )
    mu = _UPDATE_HEAD.match(stmt)
    if mu:
        return _update_stmt(
            spark, mu, tables, epoch, cfg, props, expected_props,
            stage_only, lsn_offset, lsn_floor,
        )
    mi = _INSERT_HEAD.match(stmt)
    if mi:
        target = resolve_name(tables, mi.group("target"), "DML target")
        src = spark.sql(mi.group("select"))
        batch = src.withColumn("op", F.lit("I"))
        return apply_changes(
            spark, target, batch, epoch=epoch, cfg=cfg,
            props=props, expected_props=expected_props,
            stage_only=stage_only,
        )

    mh = _MERGE_HEAD.match(stmt)
    if not mh:
        raise ValueError(
            "expected 'MERGE INTO <t> USING ...', 'INSERT INTO <t> "
            "<select>', 'DELETE FROM <t> WHERE ...' or 'UPDATE <t> SET ... "
            f"WHERE ...', got: {stmt[:80]!r}"
        )
    target = resolve_name(tables, mh.group("target"), "DML target")
    talias = mh.group("talias")
    source_txt, is_subquery, rest = _scan_source(stmt[mh.end():])
    am = re.match(r"\s*(?:AS\s+)?(\w+)\s+(?=ON\b)", rest, re.IGNORECASE)
    salias = None
    if am and am.group(1).upper() != "ON":
        salias = am.group(1)
        rest = rest[am.end():]
    om = re.match(
        r"\s*ON\s+(?P<on>.+?)\s*(?=\bWHEN\b)", rest,
        re.IGNORECASE | re.DOTALL,
    )
    if not om:
        raise ValueError("MERGE: missing ON ... WHEN ...")
    aliases = _implicit_aliases(
        talias,
        mh.group("target"),
        salias,
        None if is_subquery else source_txt,
    )
    on_cols = _parse_on(om.group("on"), aliases)
    clauses = rest[om.end():]

    key_cols = target.key_cols()
    if key_cols is None:
        raise ValueError(
            "MERGE INTO a keyless (append-only) table is undefined — use "
            "INSERT INTO"
        )
    if set(on_cols) != set(key_cols):
        raise ValueError(
            f"MERGE ON must equate exactly the table key {key_cols}, "
            f"got {on_cols}"
        )

    del_m = re.search(
        r"WHEN\s+MATCHED\s+AND\s+(?P<cond>.+?)\s+THEN\s+DELETE",
        clauses, re.IGNORECASE | re.DOTALL,
    )
    upd_m = re.search(
        r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+"
        r"(?P<set>\*|.+?)(?=\s+WHEN\b|\s*$)",
        clauses, re.IGNORECASE | re.DOTALL,
    )
    ins_m = re.search(
        r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*",
        clauses, re.IGNORECASE,
    )
    bys_m = re.search(
        r"WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+THEN\s+DELETE",
        clauses, re.IGNORECASE,
    )
    leftover = clauses
    for m in (del_m, upd_m, ins_m, bys_m):
        if m:
            leftover = leftover.replace(m.group(0), "", 1)
    if re.search(r"\bWHEN\b", leftover, re.IGNORECASE):
        raise ValueError(
            f"MERGE: unsupported WHEN clause(s): {leftover.strip()[:80]!r} "
            "(module doc lists the accepted forms)"
        )
    if not upd_m:
        raise ValueError(
            "MERGE requires WHEN MATCHED THEN UPDATE SET ... (the LWW/"
            "partial upsert); insert-if-absent is the anti-join operator "
            "(operators.antijoin), not a MERGE"
        )

    if is_subquery:
        src = spark.sql(f"SELECT * FROM ({source_txt}) AS __merge_src")
    else:
        src = spark.table(source_txt)
    if "lsn" not in src.columns:
        raise ValueError(
            "MERGE source must carry a monotone 'lsn' column (the WAL "
            "offset) — the engine resolves versions by LSN on every path"
        )
    missing = [k for k in key_cols if k not in src.columns]
    if missing:
        raise ValueError(f"MERGE source lacks key column(s) {missing}")

    set_txt = upd_m.group("set").strip()
    if set_txt != "*":
        if target.snapshot().get("merge_engine", "lww") != "partial":
            raise ValueError(
                "UPDATE SET <column subset> compiles to a column PATCH, "
                "which only the partial-update merge engine folds "
                "correctly; this table is LWW — use UPDATE SET * or create "
                "the table with merge_engine='partial'"
            )
        cols = []
        for assign in set_txt.split(","):
            m = re.match(
                r"^\s*(?:(\w+)\s*\.\s*)?(\w+)\s*=\s*(?:(\w+)\s*\.\s*)?(\w+)\s*$",
                assign,
            )
            if not m or m.group(2) != m.group(4):
                raise ValueError(
                    f"UPDATE SET supports only '<c> = {salias or 's'}.<c>' "
                    f"assignments, got {assign.strip()!r}"
                )
            cols.append(m.group(2))
        keep = list(dict.fromkeys([*key_cols, *cols, "lsn"]))
        extra = [c for c in ("op",) if c in src.columns]
        src = src.select(*keep, *extra)

    if del_m:
        # the condition evaluates over the SOURCE row (the change batch is
        # the relation being applied). A target-qualified reference would
        # silently remap to the source's same-named column — wrong rows
        # deleted with no error — so it is refused, not stripped
        tgt_quals = _implicit_aliases(talias, mh.group("target"))
        src_quals = tuple(a for a in aliases if a not in tgt_quals)
        bad = _find_qualifier(del_m.group("cond"), tgt_quals)
        if bad:
            raise ValueError(
                f"WHEN MATCHED AND <cond> THEN DELETE may reference only "
                f"SOURCE columns; {bad!r} qualifies the TARGET (the engine "
                "never reads target state to evaluate a delete condition — "
                "put the op marker in the change batch)"
            )
        cond = _strip_alias(del_m.group("cond"), *src_quals)
        op = F.when(F.expr(cond), F.lit("D")).otherwise(F.lit("U"))
    else:
        op = F.lit("U")
    batch = src.withColumn("__dml_op", op).drop("op").withColumnRenamed(
        "__dml_op", "op"
    )
    if bys_m:
        # full-sync clause: tombstone every live target key the source no
        # longer carries. Target read is a column-pruned KEY scan (the one
        # state read any MERGE form performs — inherent to the semantic);
        # the anti-join compares it against the source's full key set,
        # BEFORE any matched-only restriction below. Tombstones land one
        # past both the high-water mark and the batch's own max LSN: they
        # beat current state, and their key set is disjoint from the
        # batch's, so no fold tie is possible.
        gone = (
            target.read(spark)
            .select(*key_cols)
            .join(src.select(*key_cols), on=key_cols, how="left_anti")
        )
        max_src = batch.agg(F.max("lsn").alias("m")).collect()[0]["m"]
        del_lsn = max(
            int(max_src or 0) + 1,
            max(_next_lsn(target), lsn_floor + 1) + lsn_offset,
        )
        batch = batch.unionByName(
            gone.withColumn("op", F.lit("D")).withColumn(
                "lsn", F.lit(del_lsn).cast("long")
            ),
            allowMissingColumns=True,
        )
    if not ins_m:
        # matched-only merge: restrict to keys already present. The key
        # set read is bucket-pruned (read_keys), and the semi join keeps
        # the batch O(batch) — still no full state read.
        existing = target.read_keys(
            spark, batch.select(*key_cols), broadcast_keys=False
        ).select(*key_cols)
        batch = batch.join(existing, on=key_cols, how="left_semi")
    return apply_changes(
        spark, target, batch, epoch=epoch, cfg=cfg,
        props=props, expected_props=expected_props, stage_only=stage_only,
    )
