"""Streaming layer (§2B-15): batch ≡ stream equality over the dataset
layout, windowed aggregations, watermark dedup, exactly-once file sink."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gcpde_spark.catalog import load_table
from gcpde_spark.datasets import DatasetStore
from gcpde_spark.streaming import (
    dedup_within_watermark,
    read_dataset_stream,
    run_stream_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
    write_dataset_stream,
)
from tests.conftest import SF_SMALL

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


@pytest.fixture()
def event_dataset(spark, tmp_path):
    """A dataset in the S2 layout holding a slice of the events table."""
    store = DatasetStore(spark, str(tmp_path))
    # second-truncated ts: the JSONL layout serializes millisecond
    # precision, so sub-ms micros would differ between the batch source
    # and the stream read back from JSON
    events = (
        load_table(spark, SF_SMALL, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_trunc("second", F.col("ts").cast("timestamp")).alias("ts"),
        )
        .limit(2000)
    )
    store.add_dataframe_to_dataset(events, "ev", ts_column="ts")
    return str(tmp_path), events


def _drain(spark, df, name, mode="complete"):
    q = run_stream_to_memory(df, name, output_mode=mode)
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_tumbling_equals_batch(spark, event_dataset):
    """The c32 shape: hourly windowed counts computed by the streaming
    engine over the dataset layout must equal the batch aggregation of
    the same rows — the batch≡stream property (SURVEY §2B-15)."""
    base, events = event_dataset
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    agg = tumbling_counts(stream, "ts", "1 hour", group_cols=["event_type"])
    got = _drain(spark, agg, "t_tumbling")
    expected = tumbling_counts(events, "ts", "1 hour", watermark=None,
                               group_cols=["event_type"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_stream_sliding_equals_batch(spark, event_dataset):
    base, events = event_dataset
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    agg = sliding_counts(stream, "ts", "2 hours", "1 hour")
    got = _drain(spark, agg, "t_sliding")
    expected = sliding_counts(events, "ts", "2 hours", "1 hour", watermark=None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_stream_session_window_equals_batch(spark, event_dataset):
    base, events = event_dataset
    per_user = ["user_id"]
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    agg = session_counts(stream, "ts", gap="30 minutes", group_cols=per_user)
    got = _drain(spark, agg, "t_session")
    expected = session_counts(events, "ts", gap="30 minutes", watermark=None,
                              group_cols=per_user)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))
    # sessions are genuinely merged: fewer sessions than events
    assert got.count() < events.count()


def test_dedup_within_watermark_drops_duplicates(spark, event_dataset):
    base, events = event_dataset
    # duplicate every event by writing the same rows to a second dataset dir
    store = DatasetStore(spark, base)
    store.add_dataframe_to_dataset(events, "ev2", ts_column="ts")
    store.add_dataframe_to_dataset(events, "ev2", ts_column="ts")
    stream = read_dataset_stream(spark, base, "ev2", EVENT_SCHEMA)
    deduped = dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
    got = _drain(spark, deduped.groupBy().count(), "t_dedup")
    assert got.collect()[0][0] == events.count()


def test_streaming_file_sink_writes_dataset_layout(spark, event_dataset, tmp_path_factory):
    """write_dataset_stream lands hive-partitioned JSON the batch dataset
    reader consumes — the streaming S2 sink, round-tripped."""
    base, events = event_dataset
    out_dir = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    q = write_dataset_stream(stream, out_dir, "ev_out", ckpt, "ts", available_now=True)
    q.awaitTermination(120)
    store = DatasetStore(spark, out_dir)
    out_df = store.get_dataset_df("ev_out")
    assert out_df.count() == events.count()
    # partition dirs follow the unpadded directory contract (ignore the
    # sink's _spark_metadata commit log)
    dirs = {
        f.rsplit("/", 1)[0]
        for f in store.list_files("ev_out", recursive=True)
        if f.endswith(".json") and "_spark_metadata" not in f
    }
    assert dirs and all("/year=" in d and "/month=" in d for d in dirs)


def test_stateful_running_counts(spark, event_dataset):
    """applyInPandasWithState: per-user running totals over the whole
    (finite) stream must equal the batch group-by counts."""
    from gcpde_spark.streaming import stateful_running_counts

    base, events = event_dataset
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    counts = stateful_running_counts(stream, "user_id", "ts")
    q = (
        counts.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # the processing-time timeout makes Spark follow every batch with a
    # no-data batch (to fire timeouts), so this availableNow query never
    # terminates by itself: the first no-data batch means the input is
    # consumed, and the query is stopped so it does not outlive the test
    deadline = time.monotonic() + 120
    try:
        while not any(p["numInputRows"] == 0 for p in q.recentProgress):
            assert time.monotonic() < deadline, "stream never drained its input"
            time.sleep(0.5)
    finally:
        q.stop()
    # "update" mode may emit a row per micro-batch per key; the LAST
    # emission per key carries the final running total
    got = {
        r.key: r.n
        for r in spark.table("t_stateful").groupBy("key").agg(F.max("n").alias("n")).collect()
    }
    expected = {
        r.user_id: r.n
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_restarted_sink_is_exactly_once(spark, event_dataset, tmp_path_factory):
    """Restarting the sink with the same checkpoint must not duplicate
    rows (file-sink commit log)."""
    base, events = event_dataset
    out_dir = str(tmp_path_factory.mktemp("stream_out2"))
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    for _ in range(2):  # second run: nothing new to process
        q = write_dataset_stream(
            read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
            out_dir, "ev_out", ckpt, "ts", available_now=True,
        )
        q.awaitTermination(120)
    out_df = DatasetStore(spark, out_dir).get_dataset_df("ev_out")
    assert out_df.count() == events.count()


def test_stream_interval_join_matches_batch(spark, event_dataset):
    """Stream-stream event-time range join ≡ the batch interval join on
    the same data (clicks within 30 min before each error, per user)."""
    from gcpde_spark.operators import interval_join
    from gcpde_spark.streaming import stream_interval_join

    base, events = event_dataset
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    errors_s = stream.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    clicks_s = stream.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    joined = stream_interval_join(
        errors_s, clicks_s, by="user_id", lower_s=-1800, upper_s=0
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.event_id_r)
        for r in spark.table("t_ssjoin").collect()
    }

    errors_b = events.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    clicks_b = events.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    expected = {
        (r.event_id, r.event_id_r)
        for r in interval_join(
            errors_b, clicks_b, by=["user_id"], lower_s=-1800, upper_s=0
        ).collect()
    }
    assert got == expected


def test_stream_static_enrichment_join(spark, event_dataset):
    """Stream ⋈ static dimension: each micro-batch joins against the
    (broadcastable) static side — the standard enrichment shape; results
    equal the batch join."""
    base, events = event_dataset
    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("error", "ops")],
        "event_type string, category string",
    )
    q = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.category: r.n for r in spark.table("t_enrich").collect()}
    expected = {
        r.category: r.n
        for r in events.join(dim, "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_upsert_stream_to_table_converges_last_write_wins(
    spark, event_dataset, tmp_path_factory
):
    """CDC composition: a keyed stream foreachBatch-upserts into a managed
    table; the table converges to one row per key with the latest-ts
    values, and a second wave updates in place instead of appending."""
    from gcpde_spark.streaming import read_dataset_stream, upsert_stream_to_table
    from gcpde_spark.tables import TableStore

    base, events = event_dataset
    ckpt = str(tmp_path_factory.mktemp("upsert_ckpt"))
    store = TableStore(spark)
    store.delete_table("stream_ds", "user_latest")

    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    q = upsert_stream_to_table(
        stream, "stream_ds", "user_latest", "user_id", ckpt, available_now=True
    )
    q.awaitTermination(120)

    got = store.table_df("stream_ds", "user_latest").collect()
    # one row per key...
    assert len(got) == len({r.user_id for r in got})
    # ...holding that key's latest-ts event
    expected_ts = {
        r.user_id: r.mx
        for r in events.groupBy("user_id").agg(F.max("ts").alias("mx")).collect()
    }
    for r in got:
        assert r.ts == expected_ts[r.user_id]

    # second wave: bump one user's latest event forward in time
    target_user = got[0].user_id
    new_ts = max(r.ts for r in got) + dt.timedelta(days=1)
    ds = DatasetStore(spark, base)
    wave2 = spark.createDataFrame(
        [(10_000_000, target_user, "late_update", new_ts)], EVENT_SCHEMA
    )
    ds.add_dataframe_to_dataset(wave2, "ev", ts_column="ts")
    q2 = upsert_stream_to_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        "stream_ds",
        "user_latest",
        "user_id",
        ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)
    after = {r.user_id: r for r in store.table_df("stream_ds", "user_latest").collect()}
    assert len(after) == len(got)  # update-in-place, no appended duplicate
    assert after[target_user].event_id == 10_000_000
    assert after[target_user].ts == new_ts


def test_upsert_stream_to_txn_table_exactly_once(
    spark, event_dataset, tmp_path_factory
):
    """Transactional CDC: micro-batch merges commit atomically WITH
    their batch id; a re-delivered batch (fresh checkpoint, same data —
    the replay Spark performs after a crash between sink write and
    checkpoint commit) is skipped by id, leaving the table version
    UNCHANGED — exactly-once, not merely idempotent convergence."""
    from gcpde_spark.streaming import read_dataset_stream, upsert_stream_to_txn_table
    from gcpde_spark.txn import TxnTable

    base, events = event_dataset
    tpath = str(tmp_path_factory.mktemp("txn_cdc") / "user_latest")
    ckpt1 = str(tmp_path_factory.mktemp("txn_ckpt1"))

    stream = read_dataset_stream(spark, base, "ev", EVENT_SCHEMA)
    q = upsert_stream_to_txn_table(
        stream, tpath, "user_id", ckpt1, available_now=True
    )
    q.awaitTermination(120)

    t = TxnTable(spark, tpath)
    v1 = t.version()
    got = t.read().collect()
    assert len(got) == len({r.user_id for r in got})  # one row per key
    expected_ts = {
        r.user_id: r.mx
        for r in events.groupBy("user_id").agg(F.max("ts").alias("mx")).collect()
    }
    for r in got:
        assert r.ts == expected_ts[r.user_id]

    # re-delivery: fresh checkpoint replays the same batches with the
    # same ids — the batch-id gate must skip them all, no new version
    q2 = upsert_stream_to_txn_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        tpath, "user_id",
        str(tmp_path_factory.mktemp("txn_ckpt2")), available_now=True,
    )
    q2.awaitTermination(120)
    assert t.version() == v1  # nothing re-applied
    assert t.last_meta_value("stream_batch_id") == 0

    # genuinely new data under the ORIGINAL checkpoint gets the next
    # batch id and merges normally
    target_user = got[0].user_id
    new_ts = max(r.ts for r in got) + dt.timedelta(days=1)
    DatasetStore(spark, base).add_dataframe_to_dataset(
        spark.createDataFrame(
            [(10_000_000, target_user, "late_update", new_ts)], EVENT_SCHEMA
        ),
        "ev", ts_column="ts",
    )
    q3 = upsert_stream_to_txn_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        tpath, "user_id", ckpt1, available_now=True,
    )
    q3.awaitTermination(120)
    assert t.version() == v1 + 1
    assert t.last_meta_value("stream_batch_id") == 1
    after = {r.user_id: r for r in t.read().collect()}
    assert len(after) == len(got)  # update-in-place
    assert after[target_user].event_id == 10_000_000
    assert after[target_user].ts == new_ts


def test_curate_document_stream_equals_batch(spark, tmp_path):
    """Streaming curation (strip -> gate -> watermark dedup) over the
    dataset layout keeps exactly the batch-curated distinct set: two
    captures of the same page (different markup, same content) collapse
    to one; short docs are gated out."""
    from gcpde_spark.llm.text import normalize_text, strip_html
    from gcpde_spark.streaming import curate_document_stream

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .limit(200)
        .select(
            "doc_id",
            F.concat(F.lit("<p>"), "text", F.lit("</p>")).alias("text"),
            F.to_timestamp(
                F.lit("2026-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("doc_id"))
            ).alias("ts"),
        )
    )
    # second capture of every page: same content, different markup
    recrawl = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", "<p>", '<div class="x">').alias("text"),
        (F.col("ts") + F.make_interval(secs=F.lit(30))).alias("ts"),
    )
    feed = docs.unionByName(recrawl)

    store = DatasetStore(spark, str(tmp_path))
    store.add_dataframe_to_dataset(feed, "crawl", ts_column="ts")
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("ts", TimestampType(), True),
        ]
    )
    stream = read_dataset_stream(spark, str(tmp_path), "crawl", schema)
    curated = curate_document_stream(stream, min_tokens=5, watermark="1 hour")
    q = run_stream_to_memory(curated, "t_curate", output_mode="append")
    q.awaitTermination(120)
    got = spark.table("t_curate")

    batch_clean = feed.withColumn(
        "clean_text", normalize_text(strip_html(F.col("text")))
    ).where(F.size(F.split("clean_text", " ")) >= 5)
    expected_fps = {
        r.f for r in batch_clean.select(F.md5("clean_text").alias("f")).collect()
    }
    got_fps = [r.f for r in got.select(F.md5("clean_text").alias("f")).collect()]
    # one survivor per distinct content, nothing else
    assert len(got_fps) == len(set(got_fps)) == len(expected_fps)
    assert set(got_fps) == expected_fps
    # markup is gone from survivors
    assert got.where(F.col("clean_text").contains("<p>")).count() == 0


def test_running_corpus_totals_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (the Spark-4 arbitrary-state API):
    per-source running doc/token totals must survive across micro-
    batches. The engine path needs google.protobuf (the worker
    protocol), absent in this container — skipped here; the processor
    contract is unit-tested below either way."""
    pytest.importorskip("google.protobuf.descriptor")
    from gcpde_spark.streaming import running_corpus_totals

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("n_tokens")
    )
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    docs.coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    totals = running_corpus_totals(stream, "source", "n_tokens")
    q = (
        totals.writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.key: (r.n_docs, r.n_tokens)
        for r in spark.table("t_tws").collect()
    }
    expected = {
        r.source: (r.n, r.t)
        for r in docs.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t"))
        .collect()
    }
    assert got == expected


def test_corpus_totals_processor_accumulates_across_batches():
    """The CorpusTotalsProcessor contract, driven directly with a stub
    state handle: totals accumulate across handleInputRows calls (state
    survives between micro-batches) and each call emits the updated
    running total."""
    import pandas as pd

    from gcpde_spark.streaming import CorpusTotalsProcessor

    class _StubState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def clear(self):
            self._v = None

    class _StubHandle:
        def __init__(self):
            self.state = _StubState()
            self.ttl = "unset"

        def getValueState(self, name, schema, ttlDurationMs=None):
            self.ttl = ttlDurationMs
            return self.state

    proc = CorpusTotalsProcessor("n_tokens", state_ttl_ms=60000)
    handle = _StubHandle()
    proc.init(handle)
    assert handle.ttl == 60000

    b1 = pd.DataFrame({"n_tokens": [10, 20, None]})
    out1 = list(proc.handleInputRows(("web",), iter([b1]), None))[0]
    assert (out1.n_docs[0], out1.n_tokens[0]) == (3, 30)

    b2 = pd.DataFrame({"n_tokens": [5]})
    out2 = list(proc.handleInputRows(("web",), iter([b2]), None))[0]
    assert (out2.n_docs[0], out2.n_tokens[0]) == (4, 35)


def test_streaming_cdc_base_feeds_incremental_view(
    spark, event_dataset, tmp_path_factory
):
    """End-to-end composition of the transactional layer: events stream
    exactly-once into a TxnTable (upsert CDC), and a materialized
    aggregate view refreshes from that table's precise change feed —
    stream -> table -> view, each hop O(changes), and the view equals
    the batch aggregate of the table at every step."""
    from gcpde_spark.streaming import read_dataset_stream, upsert_stream_to_txn_table
    from gcpde_spark.txn import TxnTable
    from gcpde_spark.views import MaterializedAggView

    base, events = event_dataset
    tpath = str(tmp_path_factory.mktemp("view_cdc") / "user_latest")
    ckpt = str(tmp_path_factory.mktemp("view_ckpt"))

    q = upsert_stream_to_txn_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        tpath, "user_id", ckpt, available_now=True,
    )
    q.awaitTermination(120)
    t = TxnTable(spark, tpath)
    aggs = {"n_users": "count(1)", "last_ts": "max(ts)"}
    view = MaterializedAggView.create(
        spark, t, str(tmp_path_factory.mktemp("view")) + "/v", ["event_type"], aggs
    )

    def batch_agg():
        return {
            (r.event_type, r.n_users, r.last_ts)
            for r in t.read()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users"), F.max("ts").alias("last_ts"))
            .collect()
        }

    assert {tuple(r) for r in view.read().collect()} == batch_agg()

    # late micro-batch: a user flips to a brand-new event type
    target = t.read().limit(1).collect()[0]
    new_ts = target.ts + dt.timedelta(days=2)
    DatasetStore(spark, base).add_dataframe_to_dataset(
        spark.createDataFrame(
            [(20_000_000, target.user_id, "view_probe", new_ts)], EVENT_SCHEMA
        ),
        "ev", ts_column="ts",
    )
    q2 = upsert_stream_to_txn_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        tpath, "user_id", ckpt, available_now=True,
    )
    q2.awaitTermination(120)
    rec = view.refresh()
    assert rec["mode"] == "incremental"
    # the refresh touched the group the user LEFT and the one it joined
    assert rec["groups_refreshed"] == 2
    assert {tuple(r) for r in view.read().collect()} == batch_agg()


def test_upsert_stream_to_txn_table_mor_strategy(
    spark, event_dataset, tmp_path_factory
):
    """merge_strategy='mor' makes each micro-batch commit merge-on-read:
    after the seed commit, an incremental batch supersedes rows via
    deletion vectors and rewrites ZERO data files, with identical
    results to the copy-on-write sink."""
    from gcpde_spark.streaming import (
        read_dataset_stream,
        upsert_stream_to_txn_table,
    )
    from gcpde_spark.txn import TxnTable

    base, events = event_dataset
    tpath = str(tmp_path_factory.mktemp("txn_mor") / "user_latest")
    ckpt = str(tmp_path_factory.mktemp("txn_mor_ckpt"))
    q = upsert_stream_to_txn_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        tpath, "user_id", ckpt, available_now=True, merge_strategy="mor",
    )
    q.awaitTermination(120)
    t = TxnTable(spark, tpath)
    before = {f["path"] for f in t._manifest()["files"]}
    got = {r.user_id: r.ts for r in t.read().collect()}
    # a late update for an existing user: the mor batch must supersede
    # that one row without copying any file
    target = next(iter(got))
    new_ts = max(got.values()) + dt.timedelta(days=1)
    DatasetStore(spark, base).add_dataframe_to_dataset(
        spark.createDataFrame(
            [(20_000_000, target, "late", new_ts)], EVENT_SCHEMA
        ),
        "ev", ts_column="ts",
    )
    q2 = upsert_stream_to_txn_table(
        read_dataset_stream(spark, base, "ev", EVENT_SCHEMA),
        tpath, "user_id", ckpt, available_now=True, merge_strategy="mor",
    )
    q2.awaitTermination(120)
    after = t._manifest()["files"]
    assert before <= {f["path"] for f in after}  # no file replaced
    assert sum(1 for f in after if f.get("dv")) == 1
    rows = {r.user_id: r for r in t.read().collect()}
    assert len(rows) == len(got)
    assert rows[target].ts == new_ts and rows[target].event_id == 20_000_000
