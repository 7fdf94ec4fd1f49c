"""The declared change-feed consumers of ``lake/ddl.py``: MATERIALIZED VIEW,
INDEX and HISTORY TABLE share one CREATE, re-register, sidecar, REFRESH,
SHOW CREATE and SHOW CONSUMERS path.

Behaviour pinned for every kind: a CREATE whose initial sync fails leaves
nothing at the location it made, so the location stays usable; ``IF NOT
EXISTS`` re-registers only against the recorded source; SHOW CONSUMERS
lists each kind under its source's SQL name; and sidecars in the format
written before views recorded their source's name keep refreshing and
rendering. A structural guard keeps the path single."""

from __future__ import annotations

import ast
import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark import EngineConfig, LakeTable
from cnpj_data_pipeline_spark.lake.ddl import execute_ddl, read_mview
from cnpj_data_pipeline_spark.operators.merge import apply_changes

pytestmark = pytest.mark.filterwarnings("error::FutureWarning")

LAKE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cnpj_data_pipeline_spark",
    "lake",
)
CFG = EngineConfig(n_buckets=4)
SRC_SCHEMA = "doc_id long, grp string, text string"
CH_SCHEMA = f"{SRC_SCHEMA}, op string, lsn long"
EPOCHS = [
    [
        (1, "x", "the quick brown fox jumps over the lazy dog", "I", 1),
        (2, "y", "a stitch in time saves nine they say", "I", 2),
        (3, "x", "all that glitters is not gold in the end", "I", 3),
    ],
    [
        (1, "y", "the quick brown fox naps under the old oak", "U", 4),
        (4, "y", "fortune favours the bold and the brave", "I", 5),
    ],
]

# per kind: the CREATE statement ({ine} is "" or "IF NOT EXISTS "), the
# statement noun, the sidecar file, and the sidecar fields every release
# has written (a change may add fields, never drop one)
CREATE = {
    "mview": "CREATE MATERIALIZED VIEW {ine}{name} LOCATION '{loc}' AS "
    "SELECT grp, count(*) AS n FROM {src} GROUP BY grp",
    "index": "CREATE INDEX {ine}{name} ON {src} USING NEARDUP "
    "(doc_id, text) LOCATION '{loc}'",
    "history": "CREATE HISTORY TABLE {ine}{name} ON {src} LOCATION '{loc}'",
}
NOUN = {"mview": "MATERIALIZED VIEW", "index": "INDEX",
        "history": "HISTORY TABLE"}
SIDECAR = {"mview": "_mview.json", "index": "_index.json",
           "history": "_history.json"}
OLD_FIELDS = {
    "mview": {
        "kind", "group_cols", "group_exprs", "measures", "avgs",
        "count_alias", "select_names", "query", "source_root", "view_root",
    },
    "index": {
        "kind", "source", "source_root", "index_root", "id_col", "val_col",
    },
    "history": {"kind", "source", "source_root", "index_root"},
}
LISTED = {"mview": "MVIEW", "index": "NEARDUP", "history": "SCD2"}


def _create(kind, src, loc, ine=False, name="v"):
    return CREATE[kind].format(
        ine="IF NOT EXISTS " if ine else "", name=name, src=src, loc=loc
    )


def _apply(spark, base, epoch):
    apply_changes(
        spark, base, spark.createDataFrame(EPOCHS[epoch], CH_SCHEMA),
        epoch=epoch, cfg=CFG,
    )


def _source(spark, root) -> LakeTable:
    base = LakeTable.create(
        root, spark.createDataFrame([], SRC_SCHEMA).schema, ["doc_id"], 4
    )
    _apply(spark, base, 0)
    return base


def _consumers(spark, tables):
    return {
        r["name"]: (r["kind"], r["source"], r["epochs_behind"])
        for r in execute_ddl(spark, "SHOW CONSUMERS", tables).collect()
    }


@pytest.mark.parametrize("kind", sorted(CREATE))
def test_if_not_exists_rejects_other_source(spark, tmp_path, kind):
    """IF NOT EXISTS re-registers only against the source the sidecar
    records: a registered source must be the recorded root, an unregistered
    one the recorded name (INDEX accepts any unregistered name)."""
    roots = {n: str(tmp_path / n) for n in ("a", "b")}
    tables = {n: _source(spark, r) for n, r in roots.items()}
    loc = str(tmp_path / "v")
    execute_ddl(spark, _create(kind, "a", loc), tables)

    with pytest.raises(ValueError, match="records source 'a'"):
        execute_ddl(spark, _create(kind, "b", loc, ine=True), tables)
    with pytest.raises(ValueError, match="records source 'a'"):
        execute_ddl(
            spark, _create(kind, "a", loc, ine=True), {"a": tables["b"]}
        )
    with pytest.raises(ValueError, match="records source 'a'"):
        execute_ddl(spark, _create(kind, "c", loc, ine=True), {})
    fresh = {"a": roots["a"]}
    execute_ddl(spark, _create(kind, "a", loc, ine=True), fresh)
    assert fresh["v"] == loc
    execute_ddl(spark, _create(kind, "a", loc, ine=True), {})


def test_index_failed_create_leaves_location_usable(spark, tmp_path):
    """A CREATE INDEX whose initial sync fails (an unknown id column)
    leaves no ``_index.json`` (nor anything else) behind: the corrected
    statement then creates the index at the same location, and REFRESH
    maintains it."""
    base = _source(spark, str(tmp_path / "a"))
    tables = {"a": base}
    loc = str(tmp_path / "i")
    bad = f"CREATE INDEX i ON a USING NEARDUP (nope, text) LOCATION '{loc}'"
    with pytest.raises(AnalysisException):
        execute_ddl(spark, bad, tables)
    assert not os.path.exists(loc)
    assert "i" not in tables

    execute_ddl(spark, bad.replace("(nope, text)", "(doc_id, text)"), tables)
    assert tables["i"] == loc
    assert LakeTable.load(loc).applied_epochs() == {0}
    _apply(spark, base, 1)
    m = execute_ddl(spark, "REFRESH INDEX i", tables)
    assert m["epochs_synced"] == [1]


def test_mview_failed_sync_leaves_location_usable(spark, tmp_path):
    """A view whose schema analyses but whose first sync fails at run time
    (an ANSI cast error) leaves nothing at the location it made: a CREATE
    of a view with other output columns then succeeds there and equals the
    recompute."""
    base = _source(spark, str(tmp_path / "a"))
    tables = {"a": base}
    loc = str(tmp_path / "v")
    bad = (
        f"CREATE MATERIALIZED VIEW v LOCATION '{loc}' AS SELECT grp, "
        "count(*) AS n, sum(CAST(text AS INT)) AS s FROM a GROUP BY grp"
    )
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        execute_ddl(spark, bad, tables)
    assert not os.path.exists(loc)
    assert "v" not in tables

    execute_ddl(
        spark,
        bad.replace("sum(CAST(text AS INT)) AS s", "sum(doc_id) AS total"),
        tables,
    )
    got = {tuple(r) for r in read_mview(spark, loc).collect()}
    want = {
        tuple(r)
        for r in base.read(spark)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("doc_id").alias("total"))
        .collect()
    }
    assert got == want


def test_show_consumers_lists_every_kind_by_source_name(spark, tmp_path):
    """A count(*) view and a max() view list kind MVIEW and the source's
    SQL name, like the index and history rows."""
    tables = {"a": _source(spark, str(tmp_path / "a"))}
    for name, agg in (("cnt", "count(*) AS n"), ("top", "max(doc_id) AS m")):
        execute_ddl(
            spark,
            f"CREATE MATERIALIZED VIEW {name} LOCATION "
            f"'{tmp_path / name}' AS SELECT grp, {agg} FROM a GROUP BY grp",
            tables,
        )
    for kind in ("index", "history"):
        execute_ddl(
            spark, _create(kind, "a", tmp_path / kind, name=kind), tables
        )
    assert _consumers(spark, tables) == {
        "cnt": ("MVIEW", "a", 0),
        "top": ("MVIEW", "a", 0),
        "index": ("NEARDUP", "a", 0),
        "history": ("SCD2", "a", 0),
    }


@pytest.mark.parametrize("kind", sorted(CREATE))
def test_old_format_sidecars_keep_working(spark, tmp_path, kind):
    """A sidecar holding only the fields older releases wrote (views did
    not record their source's name) still refreshes, renders the same
    SHOW CREATE, lists in SHOW CONSUMERS (a view under its source root)
    and re-registers against its recorded root."""
    root_a = str(tmp_path / "a")
    base = _source(spark, root_a)
    loc = str(tmp_path / "v")
    tables = {"a": base}
    execute_ddl(spark, _create(kind, "a", loc), tables)
    path = os.path.join(loc, SIDECAR[kind])
    with open(path) as f:
        spec = json.load(f)
    assert OLD_FIELDS[kind] <= set(spec)
    with open(path, "w") as f:
        json.dump({k: spec[k] for k in OLD_FIELDS[kind]}, f)

    _apply(spark, base, 1)
    assert _consumers(spark, tables)["v"] == (
        LISTED[kind], root_a if kind == "mview" else "a", 1
    )
    m = execute_ddl(spark, f"REFRESH {NOUN[kind]} v", tables)
    assert m["epochs_synced"] == [1]
    shown = execute_ddl(spark, f"SHOW CREATE {NOUN[kind]} v", tables)
    assert shown == _create(kind, "a", loc)
    fresh = {"a": root_a}
    execute_ddl(spark, _create(kind, "a", loc, ine=True), fresh)
    assert fresh["v"] == loc
    with pytest.raises(ValueError, match="records source"):
        execute_ddl(
            spark, _create(kind, "a", loc, ine=True),
            {"a": str(tmp_path / "elsewhere")},
        )


def _ddl_tree():
    with open(os.path.join(LAKE, "ddl.py")) as f:
        return ast.parse(f.read())


def _calls(tree, owner, attr):
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
        and (owner is None or getattr(n.func.value, "id", None) == owner)
    ]


def test_one_declared_consumer_path():
    """One sidecar write and one sidecar read, one REFRESH and one SHOW
    CREATE statement pattern for every consumer kind, the initial sync and
    the refresh as the only ``run_once`` calls, and no registry coercion
    outside the shared resolver."""
    tree = _ddl_tree()
    # the one sidecar write goes through the format's fsync'd JSON writer
    assert not _calls(tree, "os", "replace")
    assert len([
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", None) == "_write_json"
    ]) == 1
    assert len(_calls(tree, "json", "load")) == 1
    assert len(_calls(tree, None, "run_once")) == 2
    regexes = [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "\\s" in n.value
    ]
    assert len([r for r in regexes if "REFRESH" in r]) == 1
    show_create = [r for r in regexes if "SHOW\\s+CREATE" in r]
    assert len(show_create) == 2, show_create  # TABLE, and the consumers
    coercing = []
    for rel in ("ddl.py", "dml.py"):
        with open(os.path.join(LAKE, rel)) as f:
            mod = ast.parse(f.read())
        for fn in ast.walk(mod):
            if not isinstance(fn, ast.FunctionDef) or fn.name == "resolve_name":
                continue
            for n in ast.walk(fn):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Name)
                    and n.func.id == "isinstance"
                    and isinstance(n.args[1], ast.Name)
                    and n.args[1].id == "LakeTable"
                ):
                    coercing.append(f"{rel}:{fn.name}")
    assert coercing == [], coercing
