"""The three closed-loop workloads: one client, one op at a time.

Each workload builds its inputs from the run's seed, seeds its fixtures
in :meth:`Workload.setup`, and hands the harness one round of ops at a
time. An op is a timed ``run`` plus an untimed ``check`` that returns
``(correct, user_records)``; a wrong result counts as a failed op. Every
call into ``gcpde_spark`` is wrapped in a tracer span named after the
module it enters, so a traced run attributes op time to layers.

- ``sql_analytics`` — read path and SQL passthrough (``queries``,
  ``tables`` paging). One round is a seeded shuffle of :data:`SQL_QUERIES`
  plus one ``Engine.select_paginated`` walk.
- ``etl_upsert`` — write path (``datasets``, ``records``, ``tables``,
  ``txn``). One op is one micro-batch cycle.
- ``llm_curate`` — compute path (``llm``). One op is one curation pass.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import datagen
from oracle import canon, frame_hash, oracle_hashes, oracle_results
from spans import NullTracer

# The read-only relational corpus entries a sql_analytics round runs: one
# per operator family (aggregation with HAVING, distinct counts, semi,
# as-of and interval joins, correlated subquery, window ranking, grouping
# sets, date functions, pivot, sessionization, rolling time window), all
# oracle-backed. They are the entries whose warm cost falls in one band
# (0.27-0.43 s at sf0.01 on 4 cores), so the latency percentiles land
# inside that band instead of jumping between query types from run to
# run. The full 55-entry relational set takes about 35 s cold and 17 s
# warm per pass, more than a run can spend inside the benchmark's time
# budget (every workload runs 22 times per check).
SQL_QUERIES = (
    "c03_agg_group_having",
    "c04_count_distinct",
    "c08_semi_join",
    "c13_correlated_subquery",
    "c15_window_rank",
    "c18_rollup_cube_gsets",
    "c24_date_functions",
    "c39_asof_join",
    "c40_interval_join",
    "c43_pivot_unpivot",
    "c45_sessionize",
    "c58_rolling_time_window",
)


@dataclass
class Context:
    spark: SparkSession
    run_dir: Path
    seed: int
    rng: np.random.Generator
    smoke: bool
    tracer: NullTracer

    @property
    def data_dir(self) -> Path:
        return self.run_dir / "data"


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], tuple[bool, int]]


def _tree_files(root: Path) -> dict[str, int]:
    """``{path: bytes}`` of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(size for path, size in after.items() if path not in before)


class Workload:
    name = ""
    # data scale of the generated tables
    sf = 0.01
    # timed rounds per 10 s of --seconds: a fixed amount of work per run,
    # sized so the ops' wall time on a 4-core box is about --seconds
    rounds = 1
    # ops between two no-op job probes
    probe_every = 1
    # rounds a smoke run makes
    smoke_rounds = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx

    @property
    def scale(self) -> float:
        """``sf``, or sf0.001 in a smoke run."""
        return 0.001 if self.ctx.smoke else self.sf

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> list[Op]:
        raise NotImplementedError

    def finish(self) -> bool:
        """End-of-run consistency checks (untimed)."""
        return True

    def layer_metrics(self, tracer) -> dict[str, float]:
        """Per-layer metrics of a traced run."""
        return {}


class SqlAnalytics(Workload):
    name = "sql_analytics"
    sf = 0.01
    rounds = 2
    probe_every = 6
    page_size = 100

    def setup(self) -> None:
        from gcpde_spark.catalog import register_views
        from gcpde_spark.engine import Engine
        from gcpde_spark.queries import CORPUS

        c = self.ctx
        datagen.write_tables(c.data_dir, c.seed, self.scale)
        register_views(c.spark, str(c.data_dir))
        self.corpus = CORPUS
        self.engine = Engine(c.spark, warehouse_dir=str(c.run_dir / "warehouse"))
        self.names = list(SQL_QUERIES[:4] if c.smoke else SQL_QUERIES)
        self.expected = oracle_hashes(
            c.data_dir, datagen.TABLES, {n: CORPUS[n].oracle for n in self.names}
        )
        m = int(c.rng.integers(3, 8))
        self.page_sql = (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_custkey % {m} = {int(c.rng.integers(0, m))} ORDER BY o_orderkey"
        )
        _, rows = oracle_results(c.data_dir, ["orders"], {"page": self.page_sql})["page"]
        self.page_expected = [
            [tuple(canon(v) for v in r) for r in rows[i * self.page_size : (i + 1) * self.page_size]]
            for i in range(2)
        ]

    def round(self) -> list[Op]:
        order = self.names + [None]
        return [
            self._page_op() if order[i] is None else self._query_op(order[i])
            for i in self.ctx.rng.permutation(len(order))
        ]

    def _query_op(self, name: str) -> Op:
        c, spec = self.ctx, self.corpus[name]

        def run():
            with c.tracer.span("queries", "build"):
                df = spec.build(c.spark, str(c.data_dir))
            with c.tracer.span("queries", "collect"):
                return df.toPandas()

        def check(pdf) -> tuple[bool, int]:
            c.tracer.count("queries.rows_out", len(pdf))
            return (len(pdf), frame_hash(pdf)) == self.expected[name], len(pdf)

        return Op(name, run, check)

    def _page_op(self) -> Op:
        c = self.ctx

        def run():
            with c.tracer.span("tables", "page_first"):
                first, token = self.engine.select_paginated(self.page_sql, self.page_size)
            with c.tracer.span("tables", "page_next"):
                nxt, _ = self.engine.select_paginated(self.page_sql, self.page_size, token)
            return first, nxt

        def check(pages) -> tuple[bool, int]:
            got = [[tuple(canon(v) for v in rec.values()) for rec in p] for p in pages]
            return got == self.page_expected, sum(len(p) for p in pages)

        return Op("select_paginated", run, check)

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {
            "queries.build_s": tracer.median_s("queries.build"),
            "queries.collect_s": tracer.median_s("queries.collect"),
            "queries.rows_out": tracer.mean("queries.rows_out"),
            "tables.page_first_s": tracer.median_s("tables.page_first"),
            "tables.page_next_s": tracer.median_s("tables.page_next"),
        }


class EtlUpsert(Workload):
    name = "etl_upsert"
    sf = 0.01
    rounds = 3
    smoke_rounds = 2
    batch = 2000
    delta = 500
    new_share = 0.2
    txn_files = 16

    def setup(self) -> None:
        from gcpde_spark.engine import Engine
        from gcpde_spark.txn import TxnTable

        c = self.ctx
        self.n_orders = len(datagen.write_tables(c.data_dir, c.seed, self.scale, ("orders",))["orders"])
        orders = c.spark.read.parquet(str(c.data_dir / "orders.parquet"))
        self.engine = Engine(c.spark, warehouse_dir=str(c.run_dir / "warehouse"))
        self.engine.tables.replace_table_df("bench", "orders", orders)
        self.table_dir = c.run_dir / "warehouse" / "bench.db" / "orders"
        self.txn_dir = c.run_dir / "lake" / "orders_txn"
        self.txn = TxnTable.create(
            c.spark, str(self.txn_dir), orders, key_field="o_orderkey", n_files=self.txn_files
        )
        self.ds_dir = c.run_dir / "lake" / "datasets"
        self.ds = self.engine.datasets(str(self.ds_dir))
        self.schema = self.engine.tables.get_table_schema("bench", "orders")
        self.next_key = self.n_orders
        self.hour = 0

    def round(self) -> list[Op]:
        return [self._op()]

    def _inputs(self) -> tuple[list[str], list[dict]]:
        rng, hour = self.ctx.rng, self.hour
        base = dt.datetime(2024, 1, 1) + dt.timedelta(hours=hour)
        events = [
            json.dumps(
                {
                    "event_id": hour * self.batch + i,
                    "ts": (base + dt.timedelta(seconds=int(s))).isoformat(),
                    "user_id": int(u),
                    "event_type": datagen.EVENT_TYPES[int(e)],
                    "value": int(v) / 100.0,
                }
            )
            for i, (s, u, e, v) in enumerate(
                zip(
                    rng.integers(0, 3600, self.batch),
                    rng.integers(0, 1500, self.batch),
                    rng.integers(0, 5, self.batch),
                    rng.integers(0, 50_000, self.batch),
                )
            )
        ]
        n_new = int(self.delta * self.new_share)
        keys = np.concatenate(
            [
                rng.choice(self.next_key, self.delta - n_new, replace=False),
                np.arange(self.next_key, self.next_key + n_new),
            ]
        )
        self.next_key += n_new
        day0 = dt.datetime(1995, 1, 1)
        delta = [
            {
                "o_orderkey": int(k),
                "o_custkey": int(rng.integers(0, 15_000)),
                "o_orderstatus": "FOP"[int(rng.integers(0, 3))],
                # unique per (op, record): the lookups can tell it apart
                "o_totalprice": float(1_000_000 + hour * self.delta + j),
                "o_orderdate": day0 + dt.timedelta(days=int(rng.integers(0, 2405))),
                "o_orderpriority": datagen.PRIORITIES[int(rng.integers(0, 5))],
            }
            for j, k in enumerate(keys)
        ]
        return events, delta

    def _op(self) -> Op:
        from gcpde_spark.datasets import DateTimePartitions
        from gcpde_spark.records import records_to_dataframe

        c, tr = self.ctx, self.ctx.tracer
        events, delta = self._inputs()
        hour = self.hour
        self.hour += 1
        part = DateTimePartitions(2024, 1, 1 + hour // 24, hour % 24)
        # the latest partition is the day: it holds this hour and the earlier ones
        expect_rows = self.batch * (hour % 24 + 1)
        probe = delta[int(c.rng.integers(0, len(delta)))]
        key, price = probe["o_orderkey"], probe["o_totalprice"]
        delta_bytes = len(json.dumps(delta, default=str).encode())

        def run():
            with tr.span("datasets", "add_records"):
                self.ds.add_records_to_dataset(events, "events", datetime_partition=part)
            with tr.span("datasets", "read_df"):
                n = self.ds.get_dataset_df("events", latest_partition_only=True).count()
            before = _tree_files(self.table_dir) if tr.enabled else {}
            with tr.span("tables", "upsert"):
                self.engine.tables.upsert_table_from_records("bench", "orders", delta, "o_orderkey")
            if tr.enabled:
                written = _new_bytes(before, _tree_files(self.table_dir))
                tr.count("tables.bytes_written", written)
                tr.count("tables.write_amp", written / delta_bytes)
            with tr.span("records", "to_dataframe"):
                ddf = records_to_dataframe(c.spark, delta, self.schema)
            before = _tree_files(self.txn_dir) if tr.enabled else {}
            with tr.span("txn", "merge"):
                receipt = self.txn.merge(ddf)
            if tr.enabled:
                tr.count("txn.bytes_written", _new_bytes(before, _tree_files(self.txn_dir)))
            with tr.span("tables", "select"):
                sel = self.engine.select(
                    f"SELECT o_totalprice FROM bench.orders WHERE o_orderkey = {key}"
                )
            with tr.span("txn", "read"):
                got = self.txn.read(key_range=(key, key)).select("o_totalprice").collect()
            return n, receipt, sel, got

        def check(res) -> tuple[bool, int]:
            n, receipt, sel, got = res
            tr.count("datasets.rows_read", n)
            tr.count("datasets.bytes_written", len("\n".join(events).encode()))
            tr.count("txn.files_rewritten", receipt["rewritten"])
            tr.count("txn.files_kept", receipt["kept"])
            tr.count(
                "txn.rewrite_ratio",
                receipt["rewritten"] / max(1, receipt["rewritten"] + receipt["kept"]),
            )
            ok = (
                n == expect_rows
                and sel == [{"o_totalprice": price}]
                and [r[0] for r in got] == [price]
            )
            return ok, len(events) + len(delta)

        return Op("micro_batch", run, check)

    def finish(self) -> bool:
        """The managed table and the transactional table hold the same
        rows: equal counts and equal order-independent row hashes."""
        managed = self.engine.tables.table_df("bench", "orders")
        return _digest(managed) == _digest(self.txn.read())

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {
            "datasets.add_records_s": tracer.median_s("datasets.add_records"),
            "datasets.bytes_written": tracer.mean("datasets.bytes_written"),
            "datasets.read_df_s": tracer.median_s("datasets.read_df"),
            "datasets.rows_read": tracer.mean("datasets.rows_read"),
            "datasets.files_total": float(len(_tree_files(self.ds_dir))),
            "records.to_dataframe_s": tracer.median_s("records.to_dataframe"),
            "tables.upsert_s": tracer.median_s("tables.upsert"),
            "tables.bytes_written": tracer.mean("tables.bytes_written"),
            "tables.write_amp": tracer.mean("tables.write_amp"),
            "tables.select_s": tracer.median_s("tables.select"),
            "txn.merge_s": tracer.median_s("txn.merge"),
            "txn.files_rewritten": tracer.mean("txn.files_rewritten"),
            "txn.files_kept": tracer.mean("txn.files_kept"),
            "txn.rewrite_ratio": tracer.mean("txn.rewrite_ratio"),
            "txn.bytes_written": tracer.mean("txn.bytes_written"),
            "txn.read_s": tracer.median_s("txn.read"),
        }


def _digest(df: DataFrame) -> tuple:
    cols = sorted(df.columns)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


class LlmCurate(Workload):
    name = "llm_curate"
    # 500 documents and 500 embeddings: the op's time is mostly per-job
    # cost (about 40 Spark jobs per pass), and a smaller corpus keeps the
    # cold warm-up pass inside the run's time budget
    sf = 0.01
    rounds = 2
    n_queries = 100
    k = 10

    def setup(self) -> None:
        c = self.ctx
        tables = datagen.write_tables(c.data_dir, c.seed, self.scale, ("documents", "embeddings"))
        self.n_docs = len(tables["documents"])
        self.docs = c.spark.read.parquet(str(c.data_dir / "documents.parquet"))
        self.emb = c.spark.read.parquet(str(c.data_dir / "embeddings.parquet"))
        vecs, _ = datagen.embeddings(c.rng, self.n_queries)
        self.queries = c.spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)], "qid long, qvec array<float>"
        )
        # survivor counts of the first (warm-up) pass; every later pass must match
        self.expected: tuple | None = None

    def round(self) -> list[Op]:
        from gcpde_spark.llm.dedup import dedup_clusters
        from gcpde_spark.llm.pipeline import curate_documents
        from gcpde_spark.llm.similarity import brute_force_topk

        tr = self.ctx.tracer

        def run():
            with tr.span("llm", "curate"):
                cur = curate_documents(self.docs, clean_markup=True).toPandas()
            with tr.span("llm", "dedup"):
                dd = dedup_clusters(self.docs, "doc_id").toPandas()
            with tr.span("llm", "topk"):
                tk = brute_force_topk(self.emb, self.queries, k=self.k).toPandas()
            return cur, dd, tk

        def check(res) -> tuple[bool, int]:
            cur, dd, tk = res
            tr.count("llm.docs_kept_ratio", len(cur) / self.n_docs)
            counts = (len(cur), int(dd["keep"].sum()), int(dd["component"].nunique()))
            if self.expected is None:
                self.expected = counts
            ok = (
                counts == self.expected
                and len(dd) == self.n_docs
                and len(tk) == self.k * self.n_queries
            )
            return ok, self.n_docs

        return [Op("curation_pass", run, check)]

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {
            "llm.curate_s": tracer.median_s("llm.curate"),
            "llm.dedup_s": tracer.median_s("llm.dedup"),
            "llm.topk_s": tracer.median_s("llm.topk"),
            "llm.docs_kept_ratio": tracer.mean("llm.docs_kept_ratio"),
        }


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (SqlAnalytics, EtlUpsert, LlmCurate)
}
