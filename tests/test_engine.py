"""Engine facade: SQL passthrough, UDF registration surface (§2B-12),
pillar accessors."""

from __future__ import annotations

import pandas as pd
import pytest

from gcpde_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    spark.sql("DROP DATABASE IF EXISTS eng CASCADE")
    return Engine(spark, warehouse_dir=str(tmp_path / "wh"))


def test_sql_roundtrip_records(engine):
    assert engine.sql("SELECT 1 AS a, 'x' AS b") == [{"a": 1, "b": "x"}]
    assert engine.select("SELECT 2 AS n") == [{"n": 2}]


def test_sql_df_stays_lazy(engine):
    df = engine.sql_df("SELECT id FROM range(5)")
    assert df.count() == 5


def test_register_udf_usable_from_sql(engine):
    """SURVEY §2B-12: row-at-a-time Python UDF through the facade."""
    engine.register_udf("triple_it", lambda x: x * 3, "bigint")
    assert engine.sql("SELECT triple_it(id) AS t FROM range(3) ORDER BY t") == [
        {"t": 0},
        {"t": 3},
        {"t": 6},
    ]


def test_register_pandas_udf_usable_from_sql(engine):
    """Arrow-vectorized pandas UDF through the facade."""

    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    engine.register_pandas_udf("plus_one_vec", plus_one, "bigint")
    got = engine.sql("SELECT plus_one_vec(id) AS v FROM range(4) ORDER BY v")
    assert [r["v"] for r in got] == [1, 2, 3, 4]


def test_sheets_facade_returns_working_store(engine):
    """Round-1 regression: Engine.sheets() crashed with
    ModuleNotFoundError; it must return a functioning store."""
    sheets = engine.sheets()
    sheets.replace_or_create_from_records("doc", "s", [{"a": 1}], ["a"])
    assert sheets.read_sheet("doc", "s") == [{"a": "1"}]


def test_datasets_facade_caches_by_base_path(engine, tmp_path):
    d1 = engine.datasets(str(tmp_path / "x"))
    d2 = engine.datasets(str(tmp_path / "x"))
    d3 = engine.datasets(str(tmp_path / "y"))
    assert d1 is d2 and d1 is not d3


def test_paginated_facade(engine):
    records, token = engine.query_paginated("SELECT id FROM range(5) ORDER BY id", 2)
    assert [r["id"] for r in records] == [0, 1] and token is not None


def test_timeout_watchdog_restores_the_callers_job_group(engine, spark):
    """The watchdog's own job group must not outlive the call: a group
    the caller set is back afterwards, and an unset group stays unset."""
    sc = spark.sparkContext
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    sc.setJobGroup("caller-group", "caller work", interruptOnCancel=True)
    try:
        assert engine.select("SELECT 2 AS n") == [{"n": 2}]
        records, token = engine.select_paginated(
            "SELECT id FROM range(5) ORDER BY id", 2
        )
        assert [r["id"] for r in records] == [0, 1]
        engine.select_paginated("SELECT id FROM range(5) ORDER BY id", 2, token)
        assert [sc.getLocalProperty(p) for p in props] == [
            "caller-group",
            "caller work",
            "true",
        ]
    finally:
        for p in props:
            sc.setLocalProperty(p, None)
    engine.select("SELECT 3 AS n")
    assert [sc.getLocalProperty(p) for p in props] == [None, None, None]


def test_engine_txn_facade(spark, tmp_path):
    """engine.txn / engine.use_txn_backend: the transactional layer
    through the facade — upserts route to file-pruned MERGE and the
    opened TxnTable sees the same commits."""
    from pyspark.sql import functions as F

    from gcpde_spark.engine import Engine

    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"))
    backend = eng.use_txn_backend(str(tmp_path / "lake"))
    assert eng.tables.merge_backend is backend
    try:
        df = spark.range(50).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("v")
        )
        eng.tables.upsert_table_df("eds", "t", df, "id")
        eng.tables.upsert_table_df(
            "eds",
            "t",
            spark.createDataFrame([(7, "UPD")], "id long, v string"),
            "id",
        )
        t = eng.txn(str(tmp_path / "lake" / "eds" / "t"))
        assert [h["op"] for h in t.history()] == ["merge", "create"]
        got = {r["id"]: r["v"] for r in eng.sql("SELECT * FROM eds.t")}
        assert got[7] == "UPD" and len(got) == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS eds.t")
        spark.sql("DROP DATABASE IF EXISTS eds")
