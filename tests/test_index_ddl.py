"""CREATE/REFRESH/SHOW CREATE INDEX (lake/ddl.py): the incremental
change-feed indexes (near-dup bands, decontamination, IVF assignment) as
declared SQL objects — sidecar spec persisted, side inputs frozen under
the index root, refresh idempotent, statements equal to the Python jobs."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.lake.ddl import (
    execute_ddl,
    load_index_spec,
    run_sql_script,
)
from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.operators.merge import apply_changes

SF_DIR = "/root/testdata/sf0.001"

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _docs(spark, n=100):
    return (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select(F.col("doc_id").cast("long"), "text")
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )


def _doc_base(spark, root, rows, epoch=1, lsn0=0):
    if LakeTable.exists(root):
        base = LakeTable.load(root)
    else:
        base = LakeTable.create(root, DOC_SCHEMA, ["doc_id"], 8)
    ch = spark.createDataFrame(
        [(r["doc_id"], r["text"], "U", lsn0 + i) for i, r in enumerate(rows)],
        "doc_id long, text string, op string, lsn long",
    )
    apply_changes(spark, base, ch, epoch=epoch)
    return base


def test_neardup_index_ddl(spark, tmp_path):
    from cnpj_data_pipeline_spark.plans.neardup import NearDupIndexJob

    docs = _docs(spark)
    base = _doc_base(spark, str(tmp_path / "docs"), docs[:60])
    tables = {"docs": base}
    idx = execute_ddl(
        spark,
        f"CREATE INDEX bands ON docs USING NEARDUP (doc_id, text) "
        f"LOCATION '{tmp_path / 'bands'}'",
        tables,
    )
    spec = load_index_spec(str(tmp_path / "bands"))
    assert spec["kind"] == "NEARDUP" and spec["source"] == "docs"
    # equals the Python job run against the same source
    twin = NearDupIndexJob(base.root, str(tmp_path / "bands_twin"))
    twin.run_once(spark)
    a = {tuple(r) for r in idx.read(spark).collect()}
    b = {
        tuple(r)
        for r in LakeTable.load(str(tmp_path / "bands_twin"))
        .read(spark)
        .collect()
    }
    assert a == b and a
    # refresh is O(changed data) and idempotent
    _doc_base(spark, base.root, docs[60:], epoch=2, lsn0=1000)
    m = execute_ddl(spark, "REFRESH INDEX bands", tables)
    assert m["epochs_synced"] == [2]
    m2 = execute_ddl(spark, "REFRESH INDEX bands", tables)
    assert m2["epochs_synced"] == []
    # IF NOT EXISTS re-registers from the sidecar in a fresh session dict
    fresh: dict = {}
    execute_ddl(
        spark,
        f"CREATE INDEX IF NOT EXISTS bands ON docs USING NEARDUP "
        f"(doc_id, text) LOCATION '{tmp_path / 'bands'}'",
        fresh,
    )
    assert fresh["bands"] == str(tmp_path / "bands")
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(
            spark,
            f"CREATE INDEX bands ON docs USING NEARDUP (doc_id, text) "
            f"LOCATION '{tmp_path / 'bands'}'",
            tables,
        )


def test_decontam_index_ddl_freezes_side(spark, tmp_path):
    from cnpj_data_pipeline_spark.functions.minhash import shingles
    from cnpj_data_pipeline_spark.plans.decontam import eval_gram_set

    docs = _docs(spark)
    ev_rows = [r for r in docs if r["doc_id"] % 10 == 0]
    train = [r for r in docs if r["doc_id"] % 10 != 0]
    base = _doc_base(spark, str(tmp_path / "docs"), train[:50])
    eval_path = str(tmp_path / "eval_docs")
    spark.createDataFrame(ev_rows, DOC_SCHEMA).write.parquet(eval_path)

    tables = {"docs": base}
    idx = execute_ddl(
        spark,
        f"CREATE INDEX decon ON docs USING DECONTAM (doc_id, text) "
        f"LOCATION '{tmp_path / 'decon'}' EVAL '{eval_path}'",
        tables,
    )
    spec = load_index_spec(str(tmp_path / "decon"))
    assert spec["side_frozen"].startswith(str(tmp_path / "decon"))

    def expected():
        ev = eval_gram_set(spark.createDataFrame(ev_rows, DOC_SCHEMA))
        return {
            (r["doc_id"], r["n_eval_grams_hit"])
            for r in base.read(spark)
            .select("doc_id", F.explode(shingles("text", 4)).alias("gram"))
            .join(ev, "gram")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("gram").cast("int").alias("n_eval_grams_hit")
            )
            .collect()
        }

    got = {
        (r["doc_id"], r["n_eval_grams_hit"]) for r in idx.read(spark).collect()
    }
    exp = expected()
    assert got == exp and exp, "fixture must contaminate at least one doc"

    # the side input is FROZEN: deleting the original path must not break
    # a later refresh
    shutil.rmtree(eval_path)
    _doc_base(spark, base.root, train[50:], epoch=2, lsn0=1000)
    m = execute_ddl(spark, "REFRESH INDEX decon", tables)
    assert m["epochs_synced"] == [2]
    got2 = {
        (r["doc_id"], r["n_eval_grams_hit"]) for r in idx.read(spark).collect()
    }
    assert got2 == expected()
    # SHOW CREATE round-trips against the frozen copy
    stmt = execute_ddl(spark, "SHOW CREATE INDEX decon", tables)
    assert "USING DECONTAM" in stmt and "_side/eval" in stmt
    stmt2 = stmt.replace(
        f"'{tmp_path / 'decon'}'", f"'{tmp_path / 'decon2'}'"
    )
    idx2 = execute_ddl(spark, stmt2.replace("INDEX decon", "INDEX d2"), tables)
    got3 = {
        (r["doc_id"], r["n_eval_grams_hit"])
        for r in idx2.read(spark).collect()
    }
    assert got3 == expected()


def test_ivf_index_ddl(spark, tmp_path):
    embs = (
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        .select(F.col("vec_id").cast("long"), F.col("embedding").alias("emb"))
        .orderBy("vec_id")
        .limit(80)
        .collect()
    )
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    root = str(tmp_path / "embs")
    base = LakeTable.create(root, emb_schema, ["vec_id"], 8)
    ch = spark.createDataFrame(
        [
            (r["vec_id"], [float(x) for x in r["emb"]], "U", i)
            for i, r in enumerate(embs)
        ],
        T.StructType(
            emb_schema.fields
            + [
                T.StructField("op", T.StringType()),
                T.StructField("lsn", T.LongType()),
            ]
        ),
    )
    apply_changes(spark, base, ch, epoch=1)
    cents_path = str(tmp_path / "cents")
    spark.createDataFrame(
        [
            (c, [float(x) for x in embs[c]["emb"]])
            for c in range(4)
        ],
        "cell int, cent array<double>",
    ).write.parquet(cents_path)
    tables = {"embs": base}
    # via the script runner, proving scripts can declare indexes too
    res = run_sql_script(
        spark,
        f"CREATE INDEX ivf ON embs USING IVF (vec_id, emb) "
        f"LOCATION '{tmp_path / 'ivf'}' CENTROIDS '{cents_path}';",
        tables,
    )
    idx = LakeTable.load(str(tmp_path / "ivf"))
    assigned = idx.read(spark)
    assert assigned.count() == len(embs)
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(4)) and len(cells) > 1
    # wrong side keyword fails closed
    with pytest.raises(ValueError, match="requires CENTROIDS"):
        execute_ddl(
            spark,
            f"CREATE INDEX x ON embs USING IVF (vec_id, emb) "
            f"LOCATION '{tmp_path / 'x'}' EVAL '{cents_path}'",
            tables,
        )
    with pytest.raises(ValueError, match="unknown index kind"):
        execute_ddl(
            spark,
            f"CREATE INDEX x ON embs USING BTREE (vec_id, emb) "
            f"LOCATION '{tmp_path / 'x'}'",
            tables,
        )


def test_show_consumers(spark, tmp_path):
    docs = _docs(spark, 40)
    base = _doc_base(spark, str(tmp_path / "docs"), docs[:25])
    tables = {"docs": base}
    execute_ddl(
        spark,
        f"CREATE INDEX bands ON docs USING NEARDUP (doc_id, text) "
        f"LOCATION '{tmp_path / 'bands'}'",
        tables,
    )
    rows = {
        r["name"]: r.asDict()
        for r in execute_ddl(spark, "SHOW CONSUMERS", tables).collect()
    }
    assert rows["bands"]["kind"] == "NEARDUP"
    assert rows["bands"]["source"] == "docs"
    assert rows["bands"]["epochs_behind"] == 0
    # a new base epoch shows up as lag until REFRESH consumes it
    _doc_base(spark, base.root, docs[25:], epoch=2, lsn0=500)
    rows = {
        r["name"]: r["epochs_behind"]
        for r in execute_ddl(spark, "SHOW CONSUMERS", tables).collect()
    }
    assert rows["bands"] == 1
    execute_ddl(spark, "REFRESH INDEX bands", tables)
    rows = {
        r["name"]: r["epochs_behind"]
        for r in execute_ddl(spark, "SHOW CONSUMERS", tables).collect()
    }
    assert rows["bands"] == 0
