"""The records → DataFrame kernel (gcpde_spark/records.py): the Arrow
route gives the rows and errors of ``spark.createDataFrame(records,
schema)``, plans as a LocalRelation, and keeps the records verbs' job
counts pinned."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcpde_spark.records import records_to_dataframe
from gcpde_spark.schema import infer_schema, schema_from_bq_json
from gcpde_spark.tables import TableStore
from tests.test_txn import _job_ids

_UTC = dt.timezone.utc
_IST = dt.timezone(dt.timedelta(hours=5, minutes=30))

# every type schema_from_bq_json produces, with REPEATED, RECORD and
# REQUIRED modes
_BQ_SCHEMA = schema_from_bq_json(
    [
        {"name": "s", "type": "STRING"},
        {"name": "b", "type": "BYTES"},
        {"name": "i", "type": "INTEGER", "mode": "REQUIRED"},
        {"name": "f", "type": "FLOAT"},
        {"name": "ok", "type": "BOOLEAN"},
        {"name": "ts", "type": "TIMESTAMP"},
        {"name": "d", "type": "DATE"},
        {"name": "n", "type": "NUMERIC"},
        {"name": "bn", "type": "BIGNUMERIC"},
        {"name": "j", "type": "JSON"},
        {"name": "tags", "type": "STRING", "mode": "REPEATED"},
        {"name": "amounts", "type": "NUMERIC", "mode": "REPEATED"},
        {
            "name": "rec",
            "type": "RECORD",
            "fields": [
                {"name": "x", "type": "INTEGER", "mode": "REQUIRED"},
                {"name": "at", "type": "TIMESTAMP"},
                {
                    "name": "inner",
                    "type": "RECORD",
                    "fields": [{"name": "p", "type": "NUMERIC"}],
                },
            ],
        },
        {
            "name": "items",
            "type": "RECORD",
            "mode": "REPEATED",
            "fields": [
                {"name": "sku", "type": "STRING"},
                {"name": "on", "type": "DATE"},
                {"name": "qty", "type": "INTEGER", "mode": "REPEATED"},
            ],
        },
    ]
)

_BQ_RECORDS = [
    {
        "s": "a",
        "b": b"\x00\xff",
        "i": 1,
        "f": 1.5,
        "ok": True,
        "ts": dt.datetime(2024, 3, 10, 2, 30, 0, 123456),  # naive
        "d": dt.date(2024, 2, 29),
        # more digits than the scale: rounded half-up, like the JVM does
        "n": Decimal("12345678901234567890123456789.0000000005"),
        "bn": Decimal("-0.0000000000000000025"),
        "j": '{"k": [1, 2]}',
        "tags": ["x", None, "z"],
        "amounts": [Decimal("1.5"), None, Decimal("-2.0000000005")],
        "rec": {
            "x": 7,
            "at": dt.datetime(2024, 1, 1, 12, tzinfo=_IST),
            "inner": {"p": Decimal("3")},
        },
        "items": [
            {"sku": "k1", "on": dt.date(1969, 12, 31), "qty": [1, None]},
            None,
            {"sku": None, "on": None, "qty": []},
        ],
    },
    {
        "s": None,
        "b": bytearray(b"ab"),
        "i": -(2**63),
        "f": float("-inf"),
        "ok": None,
        "ts": dt.datetime(1900, 1, 1, tzinfo=_UTC),
        "d": dt.date(1, 1, 1),
        "n": None,
        "bn": Decimal("99999999999999999999.999999999999999999"),
        "j": None,
        "tags": [],
        "amounts": None,
        "rec": None,
        "items": [],
    },
    # every optional key missing
    {"i": 2**63 - 1},
]


def _same_as_list_route(spark, records, schema):
    got = records_to_dataframe(spark, records, schema)
    want = spark.createDataFrame(records, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


def test_bq_json_types_match_list_route(spark):
    _same_as_list_route(spark, _BQ_RECORDS, _BQ_SCHEMA)


def test_inferred_types_match_list_route(spark):
    records = [
        {
            "flag": True,
            "n": 1,
            "x": 2.0,
            "name": "a",
            "at": dt.datetime(2024, 6, 1, 8, 0, 0, 1),
            "at_tz": dt.datetime(2024, 6, 1, 8, tzinfo=_IST),
            "day": dt.date(2024, 6, 1),
            "nums": [1, None, 3],
            "empty": [],
            "addr": {"city": "x", "geo": {"lat": 1.5}},
            "events": [{"kind": "a", "at": dt.datetime(2024, 1, 1, tzinfo=_UTC)}],
        },
        {"x": 2.5, "always_null": None, "addr": {"zip": "9"}, "events": [None]},
        {},
    ]
    schema = infer_schema(records)
    _same_as_list_route(spark, records, schema)
    # schema=None infers the same way
    assert records_to_dataframe(spark, records).collect() == (
        spark.createDataFrame(records, schema).collect()
    )


def test_timestamp_ntz_and_maps_match_list_route(spark):
    schema = T.StructType(
        [
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("ntz_list", T.ArrayType(T.TimestampNTZType())),
            T.StructField("m", T.MapType(T.StringType(), T.DecimalType(10, 2))),
        ]
    )
    records = [
        {
            "ntz": dt.datetime(2024, 3, 31, 1, 30),
            "ntz_list": [dt.datetime(1970, 1, 1)],
            "m": {"a": Decimal("1.005")},
        },
        {"ntz": None, "ntz_list": [None], "m": {}},
        {"ntz": dt.datetime(1999, 12, 31, 23, 59, 59, 999999), "m": None},
    ]
    _same_as_list_route(spark, records, schema)


def test_rows_and_tuples_match_list_route(spark):
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
    records = [(1, "a"), T.Row(k=2, v=None)]
    _same_as_list_route(spark, records, schema)


def test_zero_records(spark):
    df = _same_as_list_route(spark, [], _BQ_SCHEMA)
    assert df.count() == 0
    empty = records_to_dataframe(spark, [])
    assert empty.schema == T.StructType([]) and empty.collect() == []
    # records with no fields are still rows
    assert _same_as_list_route(spark, [{}, {}], T.StructType([])).count() == 2


@pytest.mark.parametrize(
    "record",
    [
        {"i": "1"},  # string into bigint
        {"i": None},  # NULL into a REQUIRED field
        {"i": 1, "f": 1},  # int into double
        {"i": 1, "n": 1.5},  # float into decimal
        {"i": 2**63},  # out of bigint range
        {"i": 1, "tags": "abc"},  # scalar into an array
        {"i": 1, "rec": {"x": None}},  # NULL into a nested REQUIRED field
        {"i": 1, "items": [{"qty": ["1"]}]},  # deep element type
    ],
)
def test_wrong_typed_value_raises_list_route_error(spark, record):
    with pytest.raises(Exception) as want:
        spark.createDataFrame([record], _BQ_SCHEMA)
    with pytest.raises(Exception) as got:
        records_to_dataframe(spark, [record], _BQ_SCHEMA)
    assert type(got.value) is type(want.value)
    assert str(got.value) == str(want.value)


def _plan_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_records_frame_is_a_local_relation(spark):
    records = [{"k": i, "v": str(i)} for i in range(25_000)]  # several Arrow batches
    assert _plan_root(records_to_dataframe(spark, records)) == "LocalRelation"
    assert _plan_root(records_to_dataframe(spark, [], infer_schema(records[:1]))) == "LocalRelation"
    assert records_to_dataframe(spark, records).count() == 25_000


# upsert_table_from_records into an unpartitioned 15k-row table. With a
# list-built delta and catalog.listColumns it ran 8 job ids (3 of them
# listColumns' own, the rest reading the delta through Python workers).
_RECORDS_UPSERT_JOBS = 4


def test_records_upsert_job_count_is_pinned(spark, tmp_path):
    """The etl_upsert shape: a 500-record delta (400 updated keys spread
    over the key range, 100 new) upserted into a 15k-row managed table."""
    spark.sql("DROP DATABASE IF EXISTS `rj` CASCADE")
    store = TableStore(spark, warehouse_dir=str(tmp_path / "wh"))
    orders = spark.range(15_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 1500).alias("o_custkey"),
        (F.col("id") * 1.25).alias("o_totalprice"),
    )
    store.replace_table_df("rj", "orders", orders)
    keys = list(range(0, 15_000, 37))[:400] + list(range(15_000, 15_100))
    delta = [
        {"o_orderkey": k, "o_custkey": k % 1500, "o_totalprice": 1_000_000.0 + i}
        for i, k in enumerate(keys)
    ]
    _, jobs = _job_ids(
        spark, lambda: store.upsert_table_from_records("rj", "orders", delta, "o_orderkey")
    )
    assert len(jobs) <= _RECORDS_UPSERT_JOBS, jobs
    got = store.table_df("rj", "orders")
    assert got.count() == 15_100
    assert got.where("o_totalprice >= 1000000").count() == 500
