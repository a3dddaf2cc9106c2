"""Table lifecycle / DML / pagination — ports the reference's behavioral
assertions (tests/unit/test_bq.py) to a real local SparkSession, no mocks."""

from __future__ import annotations

import time

import pytest

from gcpde_spark.errors import (
    EngineException,
    SchemaMismatchException,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from gcpde_spark.tables import QueryTimeout, TableStore, merge_dataframes


@pytest.fixture()
def store(spark, tmp_path):
    # The SparkSession (and its catalog) is session-scoped; each test gets
    # a fresh warehouse, so stale database entries pointing at a previous
    # test's tmp_path must go.
    for db in ("ds", "qx"):
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    s = TableStore(spark, warehouse_dir=str(tmp_path / "wh"))
    s._retry_sleep = lambda _s: None  # don't wait out the Conflict backoff
    return s


RECORDS = [
    {"id": 1, "name": "a", "score": 1.5},
    {"id": 2, "name": "b", "score": 2.5},
]


# -- B1-B4: lifecycle ---------------------------------------------------------


def test_create_check_delete_roundtrip(store):
    assert not store.check_table("ds", "t")
    store.create_table("ds", "t", schema_from_records=RECORDS)
    assert store.check_table("ds", "t")
    schema = store.get_table_schema("ds", "t")
    assert [f.name for f in schema.fields] == ["id", "name", "score"]
    store.delete_table("ds", "t")
    assert not store.check_table("ds", "t")
    store.delete_table("ds", "t")  # module semantics: no-op when absent


def test_create_requires_exactly_one_schema_source(store):
    with pytest.raises(ValueError):
        store.create_table("ds", "t")


def test_create_existing_raises(store):
    """≙ google Conflict on create (gcpde/bq.py:321-329)."""
    store.create_table("ds", "t", schema_from_records=RECORDS)
    with pytest.raises(TableAlreadyExistsError):
        store.create_table("ds", "t", schema_from_records=RECORDS)


def test_create_conflict_retried_three_times(store):
    """≙ the reference's tenacity envelope — retry=Conflict,
    stop_after_attempt(3), wait_exponential(min=1) (gcpde/bq.py:319-327).
    A persistent Conflict is attempted exactly 3× with 2 backoff sleeps,
    then propagates."""
    store.create_table("ds", "t", schema_from_records=RECORDS)
    checks, sleeps = [], []
    real_check = store.check_table
    store.check_table = lambda d, t: checks.append(1) or real_check(d, t)
    store._retry_sleep = lambda s: sleeps.append(s)
    with pytest.raises(TableAlreadyExistsError):
        store.create_table("ds", "t", schema_from_records=RECORDS)
    assert len(checks) == 3
    assert sleeps == [1.0, 2.0]


def test_create_transient_conflict_recovers(store):
    """A Conflict that clears (concurrent replace finishing its swap)
    succeeds on a later attempt inside the budget."""
    calls = {"n": 0}
    real_check = store.check_table

    def flaky_check(d, t):
        calls["n"] += 1
        if calls["n"] == 1:
            return True  # stale catalog entry on the first attempt
        return real_check(d, t)

    store.check_table = flaky_check
    store.create_table("ds", "t2", schema_from_records=RECORDS)
    store.check_table = real_check
    assert store.check_table("ds", "t2")
    assert calls["n"] == 2


def test_get_schema_missing_table_raises(store):
    with pytest.raises(TableNotFoundError):
        store.get_table_schema("ds", "missing")


# -- B5/B6: strict insert -----------------------------------------------------


def test_insert_strict_unknown_field_raises(store):
    """≙ ignore_unknown_values=False (gcpde/bq.py:139-144,
    tests/unit/test_bq.py:367-394): a record with an extra key raises and
    nothing is written."""
    store.create_table("ds", "t", schema_from_records=RECORDS)
    with pytest.raises(ValueError, match="unknown fields"):
        store.insert("ds", "t", [{"id": 3, "name": "c", "score": 0.0, "extra": 1}])
    assert store.query("SELECT COUNT(*) AS n FROM ds.t") == [{"n": 0}]


def test_insert_appends(store):
    store.create_table("ds", "t", schema_from_records=RECORDS)
    store.insert("ds", "t", RECORDS)
    store.insert("ds", "t", [{"id": 3, "name": "c", "score": 3.5}])
    assert store.query("SELECT COUNT(*) AS n FROM ds.t") == [{"n": 3}]


# -- B11/B12: create-from-records / replace ----------------------------------


def test_create_table_from_records_empty_guard(store):
    """≙ warn-and-return on empty records (gcpde/bq.py:619-621)."""
    store.create_table_from_records("ds", "t", [])
    assert not store.check_table("ds", "t")


def test_create_table_from_records_and_overwrite(store):
    store.create_table_from_records("ds", "t", RECORDS)
    with pytest.raises(TableAlreadyExistsError):
        store.create_table_from_records("ds", "t", RECORDS)
    store.create_table_from_records(
        "ds", "t", [{"id": 9, "name": "z", "score": 0.0}], overwrite=True
    )
    assert store.query("SELECT id FROM ds.t") == [{"id": 9}]


def test_replace_table_swaps_content(store):
    store.create_table_from_records("ds", "t", RECORDS)
    store.replace_table("ds", "t", [{"id": 7, "name": "n", "score": 9.9}])
    assert store.query("SELECT id FROM ds.t ORDER BY id") == [{"id": 7}]


def test_swap_failure_keeps_target_and_staged_data(store):
    """Crash-injection for the rename-aside choreography: a failing swap
    must leave the target intact (round-1 _swap could destroy both
    copies)."""
    store.create_table_from_records("ds", "t", RECORDS)
    with pytest.raises(RuntimeError, match="target restored"):
        store._swap("ds", "missing_tmp", "t")  # tmp doesn't exist → rename fails
    # target survived the failed swap with its original content
    assert store.query("SELECT COUNT(*) AS n FROM ds.t") == [{"n": 2}]


# -- B9/B10: CTAS ------------------------------------------------------------


def test_ctas_and_create_or_replace(store):
    store.create_table_from_records("ds", "src", RECORDS)
    store.create_table_from_query("SELECT id, score FROM ds.src WHERE id = 1", "ds", "out")
    assert store.query("SELECT id FROM ds.out") == [{"id": 1}]
    # CREATE OR REPLACE over an existing table
    store.create_or_replace_table_as("ds", "out", "src")
    assert store.query("SELECT COUNT(*) AS n FROM ds.out") == [{"n": 2}]


# -- B13: upsert / MERGE ------------------------------------------------------


def test_upsert_missing_target_creates(store):
    """≙ NotFound → plain create (gcpde/bq.py:492-504)."""
    store.upsert_table_from_records("ds", "t", RECORDS, key_field="id")
    assert store.query("SELECT COUNT(*) AS n FROM ds.t") == [{"n": 2}]


def test_upsert_updates_and_inserts(store):
    """≙ MERGE golden semantics (tests/unit/test_bq.py:447-456): matched
    keys update all columns, new keys insert."""
    store.create_table_from_records("ds", "t", RECORDS)
    store.upsert_table_from_records(
        "ds",
        "t",
        [{"id": 2, "name": "B!", "score": 0.0}, {"id": 3, "name": "c", "score": 3.0}],
        key_field="id",
    )
    got = store.query("SELECT id, name FROM ds.t ORDER BY id")
    assert got == [
        {"id": 1, "name": "a"},
        {"id": 2, "name": "B!"},
        {"id": 3, "name": "c"},
    ]


def test_upsert_empty_records_noop(store):
    """≙ empty guard (gcpde/bq.py:488-490)."""
    store.upsert_table_from_records("ds", "t", [], key_field="id")
    assert not store.check_table("ds", "t")


def test_upsert_schema_gate_raises_with_both_schemas(store):
    """≙ structural schema-equality gate (gcpde/bq.py:523-531) — the
    exception carries source and target schemas (gcpde/bq.py:241-260)."""
    store.create_table_from_records("ds", "t", RECORDS)
    bad = [{"id": 1, "other_field": "x"}]
    with pytest.raises(SchemaMismatchException) as ei:
        store.upsert_table_from_records(
            "ds", "t", bad, key_field="id", use_target_schema=False
        )
    assert ei.value.source_schema is not None
    assert ei.value.target_schema == store.get_table_schema("ds", "t")


def test_merge_duplicate_source_keys_raise(spark):
    """≙ BigQuery MERGE errors when a target row matches multiple source
    rows; on_duplicate_keys='keep' opts out."""
    target = spark.createDataFrame([(1, "a")], "id int, v string")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id int, v string")
    with pytest.raises(Exception, match="duplicate keys"):
        merge_dataframes(target, dup, ["id"]).collect()
    kept = merge_dataframes(target, dup, ["id"], on_duplicate_keys="keep").collect()
    assert len(kept) == 2


# -- Q1-Q3/Q5: query execution -------------------------------------------------


def test_query_returns_records_and_run_command(store):
    store.run_command("CREATE DATABASE IF NOT EXISTS qx")
    store.create_table_from_records("ds", "t", RECORDS)
    got = store.query("SELECT id, name FROM ds.t ORDER BY id")
    assert got == [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]


# sha2 per row defeats whole-stage-codegen shortcuts — reliably slower
# than the 2 s timeout, and promptly killed by cancelJobGroup.
SLOW_QUERY = """
  SELECT COUNT(*) AS n FROM (
    SELECT sha2(CAST(id AS STRING), 256) AS h FROM range(500000000)
  ) WHERE h IS NOT NULL
"""


def test_query_timeout_cancels(store):
    """The cancelJobGroup watchdog fires (≙ job timeout, gcpde/bq.py:162)."""
    t0 = time.monotonic()
    with pytest.raises(QueryTimeout):
        store.query(SLOW_QUERY, timeout=2)
    assert time.monotonic() - t0 < 60


def test_query_to_df_timeout_enforced(store):
    """query_to_df goes through the same watchdog (round-1 gap)."""
    with pytest.raises(QueryTimeout):
        store.query_to_df(SLOW_QUERY, timeout=2)


def test_query_to_df_returns_pandas(store):
    store.create_table_from_records("ds", "t", RECORDS)
    pdf = store.query_to_df("SELECT id FROM ds.t ORDER BY id")
    assert list(pdf["id"]) == [1, 2]


# -- Q4: pagination ------------------------------------------------------------


def test_query_paginated_walk(store):
    """Full pagination walk ≙ tests/unit/test_bq.py:66-167: fixed-size
    pages, stable order, next=None at the end."""
    store.create_table_from_records(
        "ds", "t", [{"id": i, "v": f"v{i}"} for i in range(10)]
    )
    q = "SELECT id, v FROM ds.t ORDER BY id"
    seen, token, pages = [], None, 0
    while True:
        records, token = store.query_paginated(q, page_size=3, page_token=token)
        seen.extend(records)
        pages += 1
        if token is None:
            break
    assert pages == 4  # 3+3+3+1
    assert [r["id"] for r in seen] == list(range(10))


def test_query_paginated_exact_multiple_ends_cleanly(store):
    store.create_table_from_records("ds", "t", [{"id": i} for i in range(4)])
    records, token = store.query_paginated("SELECT id FROM ds.t ORDER BY id", 2)
    assert [r["id"] for r in records] == [0, 1] and token is not None
    records, token = store.query_paginated("ignored", 2, page_token=token)
    assert [r["id"] for r in records] == [2, 3] and token is None


def test_page_token_survives_new_store_instance(store, spark):
    """Tokens are stateless — the materialized result lives in storage, so
    a fresh 'session' (new store over the same warehouse) can continue
    (≙ destination-table semantics, gcpde/bq.py:193-200)."""
    store.create_table_from_records("ds", "t", [{"id": i} for i in range(5)])
    _, token = store.query_paginated("SELECT id FROM ds.t ORDER BY id", 2)
    other = TableStore(spark, warehouse_dir=store.warehouse_dir)
    records, token2 = other.query_paginated("ignored", 2, page_token=token)
    assert [r["id"] for r in records] == [2, 3]
    records, token3 = other.query_paginated("ignored", 2, page_token=token2)
    assert [r["id"] for r in records] == [4] and token3 is None


def test_invalid_page_token_raises(store):
    with pytest.raises(EngineException, match="invalid page token"):
        store.query_paginated("SELECT 1", 10, page_token="not-a-token")


def test_empty_result_pagination(store):
    store.create_table_from_records("ds", "t", [{"id": 1}])
    records, token = store.query_paginated("SELECT id FROM ds.t WHERE id > 99", 10)
    assert records == [] and token is None


# -- B13 scale path: partition-scoped upsert ----------------------------------


def test_partition_scoped_upsert_rewrites_only_touched_partitions(store, spark):
    """A delta touching one partition must leave the other partition's
    files untouched on disk (VERDICT r1: upsert must not rewrite the
    whole table)."""
    import glob
    import os

    store._ensure_database("ds")
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")],
        "id long, v string, day string",
    )
    df.write.partitionBy("day").format("parquet").saveAsTable("ds.pt")
    d2_glob = f"{store.warehouse_dir}/ds.db/pt/day=d2/*.parquet"
    before = {f: os.path.getmtime(f) for f in glob.glob(d2_glob)}
    assert before

    delta = spark.createDataFrame(
        [(1, "A", "d1"), (4, "d", "d1")], "id long, v string, day string"
    )
    time.sleep(1.1)  # make any rewrite visible in mtimes
    store.upsert_table_df_partitioned("ds", "pt", delta, "id")

    got = {(r.id, r.v, r.day) for r in spark.table("ds.pt").collect()}
    assert got == {(1, "A", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d1")}
    after = {f: os.path.getmtime(f) for f in glob.glob(d2_glob)}
    assert after == before  # untouched partition: same files, same mtimes


def test_partition_scoped_upsert_unpartitioned_falls_back(store, spark):
    store.create_table_from_records("ds", "t", [{"id": 1, "v": "a"}])
    delta = spark.createDataFrame([(1, "A"), (2, "b")], "id long, v string")
    store.upsert_table_df_partitioned("ds", "t", delta, "id")
    got = {(r.id, r.v) for r in spark.table("ds.t").collect()}
    assert got == {(1, "A"), (2, "b")}


def test_partition_columns_come_from_describe_without_jobs(store, spark):
    """Partition columns in partition order (not schema order), read
    from DESCRIBE TABLE: no Spark job, unlike catalog.listColumns."""
    from tests.test_txn import _job_ids

    store._ensure_database("ds")
    spark.createDataFrame(
        [(1, "a", "d1", 3)], "id long, v string, day string, h int"
    ).write.partitionBy("h", "day").format("parquet").saveAsTable("ds.pc")
    store.create_table_from_records("ds", "u", [{"id": 1, "v": "a"}])
    cols, jobs = _job_ids(spark, lambda: store._partition_columns("ds", "pc"))
    assert cols == ["h", "day"] and jobs == []
    assert store._partition_columns("ds", "u") == []


def test_merge_guard_survives_column_projection(spark):
    """The duplicate-key guard is a filter, so projecting away any column
    cannot let Catalyst prune it (round-3 ADVICE: the round-2 guard rode
    on the first output column and vanished under column pruning)."""
    target = spark.createDataFrame([(1, "a")], "id int, v string")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id int, v string")
    merged = merge_dataframes(target, dup, ["id"])
    with pytest.raises(Exception, match="duplicate keys"):
        merged.select("v").collect()  # project away id: guard must still fire


def test_pagination_row_index_is_jvm_side_and_contiguous(store, spark):
    """VERDICT r2 #3: the paged materialization must not round-trip rows
    through Python. The indexed plan may contain no Python-RDD scan, and
    _rn must be 0..n-1 in the DataFrame's row order."""
    df = spark.range(0, 1000, 1, 7).selectExpr("id", "id * 2 AS v")
    indexed, persisted = store._with_row_index(df)
    try:
        plan = indexed._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "MapPartitionsRDD" not in plan
        rows = indexed.orderBy("_rn").collect()
        assert [r._rn for r in rows] == list(range(1000))
        assert [r.id for r in rows] == list(range(1000))
    finally:
        persisted.unpersist()


def test_default_upsert_routes_to_partition_scoped(store, spark):
    """VERDICT r2 #4: the DEFAULT upsert API must rewrite only the touched
    partition of a partitioned table."""
    import glob
    import os

    store._ensure_database("ds")
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")],
        "id long, v string, day string",
    )
    df.write.partitionBy("day").format("parquet").saveAsTable("ds.pt2")
    d2_glob = f"{store.warehouse_dir}/ds.db/pt2/day=d2/*.parquet"
    before = {f: os.path.getmtime(f) for f in glob.glob(d2_glob)}
    assert before

    delta = spark.createDataFrame([(1, "A", "d1")], "id long, v string, day string")
    time.sleep(1.1)
    store.upsert_table_df("ds", "pt2", delta, "id")  # default API

    got = {(r.id, r.v, r.day) for r in spark.table("ds.pt2").collect()}
    assert got == {(1, "A", "d1"), (2, "b", "d1"), (3, "c", "d2")}
    after = {f: os.path.getmtime(f) for f in glob.glob(d2_glob)}
    assert after == before


def test_merge_backend_seam_takes_precedence(store, spark):
    """VERDICT r4 item 8: with a transactional MERGE backend attached,
    upsert_table_df delegates the WHOLE merge to it (no parquet
    rewrite), passing the schema-gated source and key list — the
    contract a Delta/Iceberg plugin implements."""
    from gcpde_spark.tables import MergeIntoBackend

    calls = []

    class Recorder(MergeIntoBackend):
        def merge_into(self, sp, dataset, table, source, key_fields):
            calls.append((dataset, table, source.columns, key_fields))

    store.create_table_from_records("ds", "seam", [{"id": 1, "v": "a"}])
    files_before = sorted(
        str(p) for p in __import__("pathlib").Path(
            f"{store.warehouse_dir}/ds.db/seam"
        ).rglob("*.parquet")
    )
    store.merge_backend = Recorder()
    try:
        store.upsert_table_from_records(
            "ds", "seam", [{"id": 1, "v": "B"}, {"id": 2, "v": "c"}], "id"
        )
    finally:
        store.merge_backend = None
    assert calls == [("ds", "seam", ["id", "v"], ["id"])]
    files_after = sorted(
        str(p) for p in __import__("pathlib").Path(
            f"{store.warehouse_dir}/ds.db/seam"
        ).rglob("*.parquet")
    )
    assert files_after == files_before  # engine wrote nothing itself


def test_paged_scratch_removed_after_last_page(store):
    """Round-3 ADVICE: scratch results must not accumulate — the dir is
    deleted when the final page is served and expired cursors are swept
    on the next first-page call."""
    import os

    store.create_table_from_records("ds", "t", [{"id": i} for i in range(4)])
    _, token = store.query_paginated("SELECT id FROM ds.t ORDER BY id", 2)
    scratch = f"{store.warehouse_dir}/_paged"
    assert len(os.listdir(scratch)) == 1
    _, token = store.query_paginated("ignored", 2, page_token=token)
    assert token is None
    assert os.listdir(scratch) == []  # final page served -> scratch gone


def test_paged_scratch_ttl_sweep(store, monkeypatch):
    import os

    store.create_table_from_records("ds", "t", [{"id": i} for i in range(4)])
    _, _abandoned = store.query_paginated("SELECT id FROM ds.t ORDER BY id", 2)
    scratch = f"{store.warehouse_dir}/_paged"
    assert len(os.listdir(scratch)) == 1
    monkeypatch.setenv("GCPDE_SPARK_PAGED_TTL_S", "0")
    _, _ = store.query_paginated("SELECT id FROM ds.t ORDER BY id", 10)
    # the abandoned cursor (TTL 0 -> expired) was swept; the new one's
    # scratch was deleted on its own final page
    assert os.listdir(scratch) == []


def test_replace_table_df_cluster_by_gives_disjoint_file_ranges(spark, store):
    """cluster_by range-partitions + sorts the write so each parquet
    file's min/max for the cluster column covers a narrow slice of the
    domain — the data-skipping property a filtered scan relies on."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    # un-clustered writes interleave k across files; clustered must not
    store.replace_table_df(
        "clus_ds", "t", df.repartition(8), cluster_by=["k"], cluster_files=4
    )
    loc = next(
        r.data_type
        for r in spark.sql("DESCRIBE FORMATTED `clus_ds`.`t`").collect()
        if r.col_name == "Location"
    ).replace("file:", "")
    files = sorted(glob.glob(f"{loc}/part-*.parquet"))
    assert len(files) >= 2
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        ci = [md.row_group(i).column(0) for i in range(md.num_row_groups)]
        assert all(c.path_in_schema == "k" for c in ci)
        lo = min(c.statistics.min for c in ci)
        hi = max(c.statistics.max for c in ci)
        spans.append((lo, hi))
    spans.sort()
    # each file covers a narrow, essentially disjoint slice of [0, 100k)
    assert max(hi - lo for lo, hi in spans) < 100_000 / max(2, len(spans) - 1)
    for (_, prev_hi), (nxt_lo, _) in zip(spans, spans[1:]):
        assert nxt_lo >= prev_hi  # range partitioning: no interleaving


def test_get_table_returns_catalog_metadata(store):
    from gcpde_spark.errors import TableNotFoundError
    from gcpde_spark.tables import TableInfo

    store.create_table_from_records(
        "meta_ds", "t1", [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    )
    info = store.get_table("meta_ds", "t1")
    assert isinstance(info, TableInfo)
    assert (info.dataset, info.table, info.num_rows) == ("meta_ds", "t1", 2)
    assert sorted(f.name for f in info.schema.fields) == ["a", "b"]
    assert "meta_ds.db" in info.location
    import pytest as _pt

    with _pt.raises(TableNotFoundError):
        store.get_table("meta_ds", "nope")


def test_replace_table_df_zorder_localizes_both_dimensions(spark, store):
    """Z-order clustering: with two independent uniform columns, every
    output file's min/max span must be materially narrower than the
    full domain on BOTH columns — the multi-dimensional locality a
    single-column range sort cannot give (its trailing column spans
    the whole domain in every file)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    n = 100_000
    df = spark.range(0, n).select(
        F.col("id").alias("x"),
        # decorrelated second dimension, uniform over [0, n)
        F.pmod(F.xxhash64("id"), F.lit(n)).alias("y"),
    )

    def file_spans(ds, t):
        loc = next(
            r.data_type
            for r in spark.sql(f"DESCRIBE FORMATTED `{ds}`.`{t}`").collect()
            if r.col_name == "Location"
        ).replace("file:", "")
        spans = {"x": [], "y": []}
        for f in sorted(glob.glob(f"{loc}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            for col in range(2):  # x, y
                name = md.row_group(0).column(col).path_in_schema
                lo = min(
                    md.row_group(i).column(col).statistics.min
                    for i in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(i).column(col).statistics.max
                    for i in range(md.num_row_groups)
                )
                spans[name].append(hi - lo)
        return spans

    store.replace_table_df(
        "z_ds", "zt", df.repartition(8),
        cluster_by=["x", "y"], cluster_files=16, cluster_method="zorder",
    )
    z = file_spans("z_ds", "zt")
    assert len(z["x"]) >= 8
    # Z-order: BOTH dimensions localized — average file span well under
    # the full domain (16 files over a 256x256 grid → ~1/4 per dim)
    assert sum(z["x"]) / len(z["x"]) < 0.45 * n
    assert sum(z["y"]) / len(z["y"]) < 0.45 * n

    # control: range sort on x localizes x but leaves y full-span
    store.replace_table_df(
        "z_ds", "rt", df.repartition(8),
        cluster_by=["x", "y"], cluster_files=16, cluster_method="range",
    )
    r = file_spans("z_ds", "rt")
    assert sum(r["x"]) / len(r["x"]) < 0.1 * n        # x: near-perfect
    assert sum(r["y"]) / len(r["y"]) > 0.9 * n        # y: no locality
    # and z-order's x locality is (deliberately) coarser than pure range
    assert sum(z["x"]) / len(z["x"]) > sum(r["x"]) / len(r["x"])


def test_replace_table_df_zorder_handles_nulls_and_constants(spark, store):
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("x"),
        F.lit(7).alias("const"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("with_nulls"),
    )
    store.replace_table_df(
        "z_ds", "edge", df,
        cluster_by=["x", "const", "with_nulls"], cluster_method="zorder",
    )
    assert store.query("SELECT COUNT(*) AS n FROM z_ds.edge")[0]["n"] == 1000


def test_zorder_rejects_key_wider_than_bigint(spark, store):
    """ADVICE r4: 8 bits x 8+ columns exceeds the 63 usable bits of the
    signed BIGINT sort key — the old code silently wrapped the high bits
    and corrupted the layout; it must raise instead."""
    import pytest
    from pyspark.sql import functions as F

    df = spark.range(0, 10).select(
        *[(F.col("id") * (i + 1)).alias(f"c{i}") for i in range(8)]
    )
    with pytest.raises(ValueError, match="63"):
        store.replace_table_df(
            "z_ds", "wide", df,
            cluster_by=[f"c{i}" for i in range(8)], cluster_method="zorder",
        )
