"""Table lifecycle, DML, and query execution — reference gcpde/bq.py, Spark-native.

Operator parity map (SURVEY.md §2A):

- B1  check_table            ≙ gcpde/bq.py:50-65
- B2  get_table_schema       ≙ gcpde/bq.py:67-75
- B3  create_table           ≙ gcpde/bq.py:77-103,330-364
- B4  delete_table           ≙ gcpde/bq.py:105-117,276-299
- B5/B6 insert               ≙ gcpde/bq.py:119-147,386-417
- B9  create_or_replace_table_as ≙ gcpde/bq.py:420-447
- B10 create_table_from_query    ≙ gcpde/bq.py:651-675
- B11 replace_table          ≙ gcpde/bq.py:557-591
- B12 create_table_from_records  ≙ gcpde/bq.py:594-648
- B13 upsert_table_from_records  ≙ gcpde/bq.py:450-554
- Q1/Q2 query/select         ≙ gcpde/bq.py:149-163,678-700
- Q3  run_command            ≙ gcpde/bq.py:219-234
- Q4  query_paginated/select_paginated ≙ gcpde/bq.py:165-217,703-733
- Q5  query_to_df            ≙ gcpde/bq.py:736-753

Design notes (Spark-first, not a transliteration):

- The reference's *chunked streaming insert* (1000 rows/request,
  gcpde/bq.py:403,415) exists because of an HTTP payload limit; a Spark
  write batches natively, so ``chunk_size`` is accepted for API parity but
  a single atomic append job is issued.
- The reference's *no-downtime replace* choreography (tmp table + CTAS
  swap, gcpde/bq.py:557-591) is preserved at the API level, realized as
  stage-then-rename on the catalog — on a Delta/Iceberg catalog the same
  call maps to one atomic ``overwrite`` (jars not in this image; the swap
  path is the portable fallback).
- MERGE (B13) is a DataFrame rewrite: ``target ANTI-JOIN source ON keys
  UNION ALL source`` — semantically identical to the reference's generated
  ``MERGE … WHEN MATCHED UPDATE all-cols WHEN NOT MATCHED INSERT all-cols``
  (gcpde/bq.py:538-547). At scale the anti-join shuffles both sides by the
  key once (or broadcasts a small source under AQE), which is the same
  cost profile a native MERGE pays.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gcpde_spark.errors import (
    EngineException,
    SchemaMismatchException,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from gcpde_spark.records import records_to_dataframe, rows_to_records
from gcpde_spark.retry import CREATE_BUDGET, with_retries
from gcpde_spark.schema import infer_schema

FIVE_MINUTES = 300  # default query timeout, ≙ gcpde/bq.py:21
DEFAULT_WAREHOUSE = os.environ.get(
    "GCPDE_SPARK_WAREHOUSE", "/tmp/gcpde_spark_warehouse"
)


@dataclass(frozen=True)
class TableInfo:
    """Catalog metadata for one managed table — the Spark analog of the
    ``bigquery.Table`` the reference's get_table returns (gcpde/bq.py:67)."""

    dataset: str
    table: str
    schema: StructType
    num_rows: int
    location: str


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    on_duplicate_keys: str = "error",
) -> DataFrame:
    """MERGE semantics as a pure DataFrame transform.

    Equivalent to the reference's generated statement (gcpde/bq.py:538-547):
    every target row whose key appears in ``source`` is replaced by the
    source row (UPDATE all columns); source rows with new keys are appended
    (INSERT all columns). Columns are matched by name.

    ``on_duplicate_keys="error"`` mirrors BigQuery MERGE, which fails when
    one target row matches multiple source rows: a per-key count is planned
    over the source and ``raise_error`` fires at execution time if any key
    repeats — distributed, no extra driver-side job. Pass ``"keep"`` to
    skip the guard (both duplicate source rows survive).

    The guard is a *filter* (always-true unless it raises), not an
    expression grafted onto an output column: a column-borne guard is
    pruned by Catalyst the moment a consumer projects that column away,
    which would let duplicate keys merge silently. Filters always
    execute regardless of downstream projection.

    Scale: one shuffle of each side on ``keys`` (AQE turns it into a
    broadcast anti-join when ``source`` is small); the guard adds one
    window over the already-shuffled source partitioning.
    """
    from pyspark.sql import Window

    source = source.select(*[c for c in target.columns])
    if on_duplicate_keys == "error":
        cnt = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        source = (
            source.withColumn("_gcpde_dup_cnt", cnt)
            .where(
                F.when(
                    F.col("_gcpde_dup_cnt") > 1,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "merge source has duplicate keys on ("
                                + ", ".join(keys)
                                + "): "
                            ),
                            *[F.col(k).cast("string") for k in keys],
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
            .drop("_gcpde_dup_cnt")
        )
    elif on_duplicate_keys != "keep":
        raise ValueError("on_duplicate_keys must be 'error' or 'keep'")
    return target.join(source, on=keys, how="left_anti").unionByName(source)


class QueryTimeout(Exception):
    """Query exceeded its timeout and was cancelled (≙ job timeout at gcpde/bq.py:162)."""


class MergeIntoBackend:
    """The transactional-``MERGE INTO`` seam (SURVEY.md §7 design note:
    "take Delta and get MERGE free" — the sandbox ships no Delta/Iceberg
    runtime, so the engine defines the interface that backend plugs
    into rather than simulating one).

    A backend implements ONE method and is attached via
    ``TableStore.merge_backend``; :meth:`TableStore.upsert_table_df`
    then delegates every upsert to it instead of the parquet rewrite
    paths. The Delta implementation is the standard five-liner::

        class DeltaMerge(MergeIntoBackend):
            def merge_into(self, spark, dataset, table, source, key_fields):
                from delta.tables import DeltaTable
                cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_fields)
                (DeltaTable.forName(spark, f"{dataset}.{table}").alias("t")
                 .merge(source.alias("s"), cond)
                 .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())

    Contract (what ``upsert_table_df`` guarantees to the backend and
    expects from it): ``source`` has the target's exact schema (the
    schema-equality gate ran already, ≙ gcpde/bq.py:523-531); keys in
    both → update all columns; keys only in source → insert (the MERGE
    at gcpde/bq.py:538-547); the commit must be atomic — readers see
    the old or the new snapshot, never a partial rewrite. Cost is the
    backend's: O(delta + rewritten data files) for Delta/Iceberg,
    versus O(touched partitions) / O(table) for the built-in parquet
    routes (see :meth:`TableStore.upsert_table_df`).

    For path-based (non-catalog) tables this repo ships a from-scratch
    realization of the same three mechanisms — manifest snapshots,
    atomic conflict-detecting commits, key-range file-pruned MERGE —
    as :class:`gcpde_spark.txn.TxnTable`.
    """

    def merge_into(
        self,
        spark: SparkSession,
        dataset: str,
        table: str,
        source: DataFrame,
        key_fields: list[str],
    ) -> None:
        raise NotImplementedError


class TableStore:
    """Catalog-backed table operations on a SparkSession.

    ``(dataset, table)`` addressing maps to Spark databases/tables; managed
    data lives under ``warehouse_dir`` as Parquet.
    """

    def __init__(self, spark: SparkSession, warehouse_dir: str | None = None):
        self.spark = spark
        self.warehouse_dir = warehouse_dir or DEFAULT_WAREHOUSE
        # injectable so fault-injection tests count attempts without waiting
        self._retry_sleep: Callable[[float], None] = time.sleep
        # transactional MERGE seam — see MergeIntoBackend; None = built-in
        # parquet routes (partition-scoped or full-swap)
        self.merge_backend: MergeIntoBackend | None = None

    # -- helpers -----------------------------------------------------------

    def _qualify(self, dataset: str, table: str) -> str:
        self._ensure_database(dataset)
        return f"`{dataset}`.`{table}`"

    def _ensure_database(self, dataset: str) -> None:
        # Explicit LOCATION keeps managed data out of the (possibly
        # read-only) default warehouse of a caller-provided session.
        self.spark.sql(
            f"CREATE DATABASE IF NOT EXISTS `{dataset}` "
            f"LOCATION '{self.warehouse_dir}/{dataset}.db'"
        )

    # -- B1/B2: existence & metadata ---------------------------------------

    def check_table(self, dataset: str, table: str) -> bool:
        """True iff the table exists (≙ gcpde/bq.py:50-65)."""
        return self.spark.catalog.tableExists(f"`{dataset}`.`{table}`")

    def get_table_schema(self, dataset: str, table: str) -> StructType:
        """Schema of an existing table (≙ get_table, gcpde/bq.py:67-75)."""
        if not self.check_table(dataset, table):
            raise TableNotFoundError(f"{dataset}.{table} not found")
        return self.spark.table(f"`{dataset}`.`{table}`").schema

    def get_table(self, dataset: str, table: str) -> "TableInfo":
        """Table metadata object (≙ get_table, gcpde/bq.py:67-75 — the
        reference returns a ``bigquery.Table``; the Spark analog carries
        the catalog facts a caller actually reads off it: name, schema,
        row count, storage location). Raises ``TableNotFoundError`` for
        a missing table, mirroring the reference's NotFound."""
        if not self.check_table(dataset, table):
            raise TableNotFoundError(f"{dataset}.{table} not found")
        qualified = f"`{dataset}`.`{table}`"
        detail = {
            r["info_name"]: r["info_value"]
            for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {qualified}")
            .withColumnRenamed("col_name", "info_name")
            .withColumnRenamed("data_type", "info_value")
            .collect()
        }
        return TableInfo(
            dataset=dataset,
            table=table,
            schema=self.spark.table(qualified).schema,
            num_rows=self.spark.table(qualified).count(),
            location=detail.get("Location", ""),
        )

    # -- B3/B4: create / delete --------------------------------------------

    def create_table(
        self,
        dataset: str,
        table: str,
        schema: StructType | None = None,
        schema_from_records: list[dict[str, Any]] | None = None,
    ) -> None:
        """Create an empty managed Parquet table (≙ gcpde/bq.py:77-103,330-364).

        Exactly one of ``schema`` / ``schema_from_records`` must be given —
        same contract as the reference module fn (gcpde/bq.py:330-349).
        """
        if (schema is None) == (schema_from_records is None):
            raise ValueError("provide exactly one of schema / schema_from_records")
        if schema is None:
            schema = infer_schema(schema_from_records or [])

        def _attempt() -> None:
            # Conflict is retried ×3 with exponential backoff, matching the
            # reference's tenacity envelope (gcpde/bq.py:319-327): a stale
            # catalog entry from a concurrent replace/swap clears on retry;
            # a table that genuinely exists keeps raising and the error
            # propagates after the budget is spent.
            if self.check_table(dataset, table):
                raise TableAlreadyExistsError(f"{dataset}.{table} already exists")
            name = self._qualify(dataset, table)
            self.spark.sql(f"CREATE TABLE {name} ({_ddl(schema)}) USING parquet")

        attempts, min_sleep, max_sleep = CREATE_BUDGET
        with_retries(
            _attempt,
            attempts,
            min_sleep,
            max_sleep,
            retry_on=(TableAlreadyExistsError,),
            sleep=self._retry_sleep,
        )

    def delete_table(self, dataset: str, table: str) -> None:
        """DROP TABLE IF EXISTS — module semantics no-op when absent
        (≙ gcpde/bq.py:276-299)."""
        self.spark.sql(f"DROP TABLE IF EXISTS `{dataset}`.`{table}`")

    # -- B5/B6: insert -------------------------------------------------------

    def insert(
        self,
        dataset: str,
        table: str,
        records: list[dict[str, Any]],
        chunk_size: int = 1000,
    ) -> None:
        """Strict append of records (≙ gcpde/bq.py:119-147,386-417).

        Rows must conform to the table schema — extra keys raise, like the
        reference's ``ignore_unknown_values=False`` (gcpde/bq.py:139-144).
        ``chunk_size`` is kept for API parity; Spark batches the write
        itself, in one atomic job rather than N retried HTTP calls.
        """
        del chunk_size
        schema = self.get_table_schema(dataset, table)
        known = {f.name for f in schema.fields}
        for i, rec in enumerate(records):
            unknown = set(rec) - known
            if unknown:
                raise ValueError(f"record {i} has unknown fields {sorted(unknown)}")
        df = records_to_dataframe(self.spark, records, schema)
        df.write.mode("append").insertInto(f"`{dataset}`.`{table}`")

    def insert_df(self, dataset: str, table: str, df: DataFrame) -> None:
        """Scale variant of insert: append a DataFrame by name."""
        target = self.get_table_schema(dataset, table)
        df.select(*[f.name for f in target.fields]).write.mode("append").insertInto(
            f"`{dataset}`.`{table}`"
        )

    # -- B9/B10: CTAS ---------------------------------------------------------

    def create_or_replace_table_as(
        self, dataset: str, output_table: str, source_table: str
    ) -> None:
        """CREATE OR REPLACE ds.out AS SELECT * FROM ds.src (≙ gcpde/bq.py:420-447)."""
        self.create_table_from_query(
            f"SELECT * FROM `{dataset}`.`{source_table}`", dataset, output_table
        )

    def create_table_from_query(self, query: str, dataset: str, table: str) -> None:
        """CTAS from an arbitrary SELECT (≙ gcpde/bq.py:651-675).

        The v1 Parquet catalog has no atomic CREATE OR REPLACE; when a
        target exists this stages the result into a temp table then swaps
        by rename — the same choreography the reference itself performs
        (gcpde/bq.py:674 after a tmp-table dance). When no target exists
        there is nothing to protect, so the table is created directly
        (the swap's extra stage + two renames + drop cost ~2× on the
        create-fresh path, BENCH_r01 vs r02 c28). On Delta this is a
        single atomic statement either way.
        """
        self._ensure_database(dataset)
        if not self.check_table(dataset, table):
            self._remove_orphan_location(dataset, table)
            self.spark.sql(
                f"CREATE TABLE `{dataset}`.`{table}` USING parquet AS {query}"
            )
            return
        tmp = f"{table}__ctas_{uuid.uuid4().hex[:8]}"
        self.spark.sql(f"CREATE TABLE `{dataset}`.`{tmp}` USING parquet AS {query}")
        self._swap(dataset, tmp, table)

    # -- B11/B12: replace / create-from-records ------------------------------

    def replace_table(
        self,
        dataset: str,
        table: str,
        records: list[dict[str, Any]],
        schema: StructType | None = None,
    ) -> None:
        """No-downtime replace (≙ gcpde/bq.py:557-591): stage records, swap."""
        df = records_to_dataframe(self.spark, records, schema)
        self.replace_table_df(dataset, table, df)

    def replace_table_df(
        self,
        dataset: str,
        table: str,
        df: DataFrame,
        cluster_by: list[str] | None = None,
        cluster_files: int | None = None,
        cluster_method: str = "range",
    ) -> None:
        if cluster_by:
            if cluster_method == "zorder":
                df = self._zordered(df, cluster_by, cluster_files)
            elif cluster_method == "range":
                df = self._clustered(df, cluster_by, cluster_files)
            else:
                raise ValueError(
                    f"cluster_method must be 'range' or 'zorder', got {cluster_method!r}"
                )
        self._ensure_database(dataset)
        if not self.check_table(dataset, table):
            # Nothing to protect — skip the stage-and-swap choreography.
            self._remove_orphan_location(dataset, table)
            df.write.format("parquet").saveAsTable(f"`{dataset}`.`{table}`")
            return
        tmp = f"{table}__tmp_{uuid.uuid4().hex[:8]}"
        df.write.format("parquet").saveAsTable(f"`{dataset}`.`{tmp}`")
        self._swap(dataset, tmp, table)

    @staticmethod
    def _clustered(
        df: DataFrame, cols: list[str], n_files: int | None = None
    ) -> DataFrame:
        """Range-partition + sort the data by ``cols`` before writing, so
        parquet row-group min/max statistics become narrow, disjoint
        ranges and a filtered scan SKIPS the row groups (and whole files)
        whose range excludes the predicate — the poor man's clustered
        index, and the main read-amplification lever a non-transactional
        parquet layout has. At 100 TB, a point/range query on the cluster
        column touches O(matching row groups), not the table.

        ``repartitionByRange`` samples the column to build balanced
        ranges (one extra pass at write time); ``sortWithinPartitions``
        orders rows inside each output file so min/max are tight at the
        row-group grain too. ``n_files`` pins the output file count —
        an EXPLICIT partition count, which AQE respects (without it, AQE
        coalesces a small write to one file, which is right for size but
        forfeits the file-level pruning this exists for; size the count
        to ~target data / 128 MB).
        """
        parted = (
            df.repartitionByRange(n_files, *cols)
            if n_files
            else df.repartitionByRange(*cols)
        )
        return parted.sortWithinPartitions(*cols)

    @staticmethod
    def _zordered(
        df: DataFrame, cols: list[str], n_files: int | None = None, bits: int = 8
    ) -> DataFrame:
        """Multi-dimensional clustering: sort by a Z-order (Morton) key —
        per-column ``width_bucket`` into ``2^bits`` cells over the
        observed min/max, bit-interleaved into one BIGINT — so row-group
        min/max stats are narrow on EVERY cluster column at once. A
        plain range sort (:meth:`_clustered`) gives perfect pruning on
        its leading column and none on the others; Z-order trades a
        little of each for locality on all of them — the right layout
        when queries filter on different columns at different times
        (Delta/Iceberg OPTIMIZE ZORDER is this same construction).

        The min/max pass is one cheap scalar aggregate; equal-width
        cells are used rather than quantiles, so heavily-skewed columns
        should be pre-transformed (e.g. log) — noted instead of hidden.
        All-NULL or constant columns get cell 0 (no contribution).
        """
        if len(cols) * bits > 63:
            # the interleaved key packs bit b of column i at position
            # b*n_cols+i of ONE signed BIGINT; beyond bit 62 the high
            # bits silently wrap/flip sign and corrupt the sort order
            raise ValueError(
                f"z-order key needs {len(cols) * bits} bits "
                f"({len(cols)} cols x {bits}); a signed BIGINT holds 63 — "
                "reduce bits per column (locality degrades gracefully) "
                "or cluster on fewer columns"
            )
        proxies = [_zorder_proxy(df.schema[c]) for c in cols]
        stats = df.agg(
            *[F.min(p).alias(f"_mn_{i}") for i, p in enumerate(proxies)],
            *[F.max(p).alias(f"_mx_{i}") for i, p in enumerate(proxies)],
        ).collect()[0]
        cells = 1 << bits
        parts = []
        for i, p in enumerate(proxies):
            mn, mx = stats[f"_mn_{i}"], stats[f"_mx_{i}"]
            if mn is None or mx is None or mx <= mn:
                parts.append(F.lit(0))
                continue
            cell = F.least(
                F.lit(cells - 1),
                F.floor(
                    (p - F.lit(mn)) / F.lit(mx - mn) * F.lit(cells)
                ).cast("bigint"),
            )
            cell = F.coalesce(cell, F.lit(0))
            parts.append(cell)
        n = len(parts)
        zkey = F.lit(0).cast("bigint")
        for b in range(bits):
            for i, cell in enumerate(parts):
                bit = F.shiftright(cell.cast("bigint"), b).bitwiseAND(F.lit(1))
                zkey = zkey + F.shiftleft(bit.cast("bigint"), b * n + i)
        tagged = df.withColumn("_zkey", zkey)
        parted = (
            tagged.repartitionByRange(n_files, "_zkey")
            if n_files
            else tagged.repartitionByRange("_zkey")
        )
        return parted.sortWithinPartitions("_zkey").drop("_zkey")

    def _swap(self, dataset: str, tmp: str, table: str) -> None:
        """Swap a staged table into place (the reference's tmp-table
        choreography, gcpde/bq.py:585-591) — rename-aside, so the target's
        data is never destroyed before its replacement is committed:

        1. rename target → aside (target data intact under a new name)
        2. rename tmp → target (the commit point)
        3. drop aside

        If step 2 fails the aside table is renamed back and the staged tmp
        is LEFT IN PLACE (named in the raised error) — at no point is the
        only surviving copy of either dataset dropped, unlike a
        drop-then-rename swap which has a data-loss window between the drop
        and the rename.
        """
        aside = f"{table}__aside_{uuid.uuid4().hex[:8]}"
        had_target = self.check_table(dataset, table)
        if had_target:
            self.spark.sql(
                f"ALTER TABLE `{dataset}`.`{table}` RENAME TO `{dataset}`.`{aside}`"
            )
        else:
            # No live target — clear any stale directory from a previous
            # session so the managed rename's destination is free.
            self._remove_orphan_location(dataset, table)
        try:
            self.spark.sql(
                f"ALTER TABLE `{dataset}`.`{tmp}` RENAME TO `{dataset}`.`{table}`"
            )
        except Exception as exc:
            if had_target:
                self.spark.sql(
                    f"ALTER TABLE `{dataset}`.`{aside}` RENAME TO `{dataset}`.`{table}`"
                )
            raise RuntimeError(
                f"swap of {dataset}.{table} failed; target restored, staged data "
                f"kept in {dataset}.{tmp}"
            ) from exc
        if had_target:
            self.spark.sql(f"DROP TABLE IF EXISTS `{dataset}`.`{aside}`")

    def _remove_orphan_location(self, dataset: str, table: str) -> None:
        """Delete a leftover managed-table directory the (in-memory) catalog
        no longer knows about — e.g. from a previous session. Uses the
        Hadoop FS API so it works for any scheme (file://, hdfs://, gs://)."""
        self._delete_path(f"{self.warehouse_dir}/{dataset}.db/{table}")

    def _delete_path(self, path_str: str) -> None:
        """Recursively delete ``path_str`` via the Hadoop FS API (any scheme)."""
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)

    def _sweep_paged_scratch(self) -> None:
        """Remove ``_paged/`` scratch results older than the TTL.

        The reference's paged queries land in BigQuery destination tables
        that auto-expire (~24 h); scratch parquet has no such janitor, so
        each first-page call sweeps expired cursors — O(#live cursors)
        driver-side metadata calls, no data read.
        """
        import time as _time

        ttl_s = float(os.environ.get("GCPDE_SPARK_PAGED_TTL_S", str(24 * 3600)))
        jvm = self.spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(f"{self.warehouse_dir}/_paged")
        fs = root.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return
        cutoff_ms = (_time.time() - ttl_s) * 1000
        for status in fs.listStatus(root):
            if status.getModificationTime() < cutoff_ms:
                fs.delete(status.getPath(), True)

    def create_table_from_records(
        self,
        dataset: str,
        table: str,
        records: list[dict[str, Any]],
        overwrite: bool = False,
        schema: StructType | None = None,
    ) -> None:
        """≙ gcpde/bq.py:594-648 incl. the empty-records guard (:619-621)."""
        if not records:
            return  # warn-and-return parity with gcpde/bq.py:619-621
        if overwrite:
            self.replace_table(dataset, table, records, schema)
            return
        if self.check_table(dataset, table):
            raise TableAlreadyExistsError(f"{dataset}.{table} already exists")
        df = records_to_dataframe(self.spark, records, schema)
        self._ensure_database(dataset)
        df.write.format("parquet").saveAsTable(f"`{dataset}`.`{table}`")

    # -- B13: upsert -----------------------------------------------------------

    def upsert_table_from_records(
        self,
        dataset: str,
        table: str,
        records: list[dict[str, Any]],
        key_field: str,
        use_target_schema: bool = True,
    ) -> None:
        """MERGE-based upsert (≙ gcpde/bq.py:450-554).

        Missing target → plain create (gcpde/bq.py:492-504). Otherwise the
        source is built with the target schema (or inferred when
        ``use_target_schema=False``), gated on *structural* schema equality
        (gcpde/bq.py:523-531), merged, and swapped in.
        """
        if not records:
            return  # ≙ empty guard gcpde/bq.py:488-490
        if not self.check_table(dataset, table):
            self.create_table_from_records(dataset, table, records)
            return
        target_schema = self.get_table_schema(dataset, table)
        source_schema = target_schema if use_target_schema else infer_schema(records)
        if source_schema != target_schema:
            raise SchemaMismatchException(
                f"schema mismatch upserting into {dataset}.{table}",
                source_schema,
                target_schema,
            )
        source = records_to_dataframe(self.spark, records, source_schema)
        self.upsert_table_df(dataset, table, source, key_field)

    def upsert_table_df(
        self, dataset: str, table: str, source: DataFrame, key_field: str
    ) -> None:
        """Scale variant: merge a DataFrame into a managed table.

        Routing and the cost model a 100 TB adopter must know:

        1. ``merge_backend`` set → the transactional ``MERGE INTO``
           (:class:`MergeIntoBackend` seam): cost O(delta + rewritten
           files), atomic snapshot commit. This is the production path
           when a Delta/Iceberg runtime is present.
        2. **Partitioned** target → partition-scoped rewrite
           (:meth:`upsert_table_df_partitioned`): cost O(touched
           partitions) — a 1-row delta into a date-partitioned table
           rewrites one day, not the table. Requires the partition key
           to be immutable per merge key (contract documented there).
        3. **Unpartitioned** parquet target → full merge + swap
           (:meth:`_upsert_table_df_full`): cost **O(table) read AND
           write per upsert**, regardless of delta size. Correct for
           any layout, but at 100 TB this is a table-sized write —
           partition the table or plug a transactional backend before
           relying on frequent upserts.

        Round 2 defaulted everyone to the full rewrite; the default API
        now does what a user at scale means.
        """
        if self.merge_backend is not None:
            self.merge_backend.merge_into(
                self.spark, dataset, table, source, [key_field]
            )
            return
        if self._partition_columns(dataset, table):
            self.upsert_table_df_partitioned(dataset, table, source, key_field)
        else:
            self._upsert_table_df_full(dataset, table, source, key_field)

    def _upsert_table_df_full(
        self, dataset: str, table: str, source: DataFrame, key_field: str
    ) -> None:
        """Full-table merge + swap — O(table size) regardless of delta."""
        target = self.spark.table(f"`{dataset}`.`{table}`")
        merged = merge_dataframes(target, source, [key_field])
        self.replace_table_df(dataset, table, merged)

    def _partition_columns(self, dataset: str, table: str) -> list[str]:
        return [
            c.name
            for c in self.spark.catalog.listColumns(f"{dataset}.{table}")
            if c.isPartition
        ]

    def upsert_table_df_partitioned(
        self, dataset: str, table: str, source: DataFrame, key_field: str
    ) -> None:
        """Partition-scoped upsert: MERGE the delta into only the
        partitions it touches, rewriting those partitions in place via
        dynamic partition overwrite — a 1-row delta into a date-partitioned
        100 TB table rewrites one day's files, not the table. Falls back to
        the full-table path for unpartitioned tables.

        The touched-partition list is collected to the driver (bounded by
        the delta's distinct partition values, not table size) and becomes
        a static IN-filter, so the target scan partition-prunes to exactly
        the touched partitions.

        Contract: a key's partition value must be immutable (true for the
        usual event-date layouts). A delta that moves a key across
        partitions would strand the old row in an untouched partition —
        that workload needs :meth:`upsert_table_df` or a transactional
        format's MERGE (Delta/Iceberg), where this method becomes a single
        ``MERGE INTO`` with file-level rewrite.
        """
        name = f"`{dataset}`.`{table}`"
        part_cols = self._partition_columns(dataset, table)
        if not part_cols:
            self._upsert_table_df_full(dataset, table, source, key_field)
            return
        target = self.spark.table(name)
        touched = [tuple(r) for r in source.select(*part_cols).distinct().collect()]
        if not touched:
            return
        cond = None
        for vals in touched:
            eq = None
            for c, v in zip(part_cols, vals):
                term = F.col(c) == F.lit(v)
                eq = term if eq is None else (eq & term)
            cond = eq if cond is None else (cond | eq)
        merged = merge_dataframes(target.where(cond), source, [key_field])
        prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.select(*target.columns).write.mode("overwrite").insertInto(
                f"`{dataset}`.`{table}`"
            )
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # -- Q1/Q2/Q3/Q5: query execution ------------------------------------------

    def query(self, query: str, timeout: float = FIVE_MINUTES) -> list[dict[str, Any]]:
        """Run SQL, materialize as records (≙ gcpde/bq.py:149-163)."""
        df = self._run(query, timeout)
        return rows_to_records(self._collect_with_timeout(df, timeout))

    def select(self, query: str, timeout: float = 10) -> list[dict[str, Any]]:
        """Interactive select — 10 s default timeout (≙ gcpde/bq.py:678-700)."""
        return self.query(query, timeout=timeout)

    def run_command(self, command: str, timeout: float = FIVE_MINUTES) -> None:
        """Execute DDL/DML producing no rows (≙ gcpde/bq.py:219-234)."""
        self._run(command, timeout)

    def query_df(self, query: str) -> DataFrame:
        """The scale-path variant: plan only, no collect."""
        return self.spark.sql(query)

    def query_to_df(self, query: str, timeout: float = FIVE_MINUTES):
        """SQL → pandas DataFrame via Arrow (≙ gcpde/bq.py:736-753).

        Enforces ``timeout`` through the same cancelJobGroup watchdog as
        query/select (the reference applies its job timeout on this path
        too, gcpde/bq.py:736-753)."""
        df = self._run(query, timeout)
        return self._action_with_timeout(lambda: df.toPandas(), timeout)

    def table_df(self, dataset: str, table: str) -> DataFrame:
        name = f"`{dataset}`.`{table}`"
        # The swap-based mutation paths (replace/upsert) atomically replace
        # the files under the table location; any session that resolved the
        # relation earlier — including a foreachBatch-CLONED session inside
        # a streaming upsert — still holds a cached file listing pointing
        # at the deleted files and fails with FILE_NOT_EXIST. Relation
        # caches are per-session, so the mutator can't invalidate readers;
        # refresh here (metadata-only, data is not re-read) so a read
        # always sees the post-swap state.
        self.spark.catalog.refreshTable(name)
        return self.spark.table(name)

    # -- Q4: pagination ----------------------------------------------------------

    def query_paginated(
        self,
        query: str,
        page_size: int,
        page_token: str | None = None,
        timeout: float = FIVE_MINUTES,
    ) -> tuple[list[dict[str, Any]], str | None]:
        """Paged query execution (≙ gcpde/bq.py:165-217).

        First call (``page_token=None``) runs the query and materializes the
        result ONCE to a scratch parquet directory — the Spark analog of
        BigQuery's implicit destination table (gcpde/bq.py:193-195) — with a
        stable ``_rn`` row index assigned JVM-side (two distributed passes,
        no single-reducer shuffle; see :meth:`_with_row_index`). Subsequent
        calls read only the requested slice; the parquet ``_rn`` min/max
        stats prune non-matching files, so a page costs IO proportional to
        the page, not the result.

        The continuation token is base64 JSON ``{result_path, offset,
        total}`` (≙ ``{destination, token}``, gcpde/bq.py:198-200,211-215),
        stateless and valid across sessions/processes because the
        materialized result lives in storage, not in memory. Returns
        ``(records, next_token)`` with ``next_token=None`` at the end.

        Scratch lifecycle (≙ BigQuery destination tables' ~24 h
        auto-expiry): the directory is deleted when the final page is
        served, and every first call sweeps ``_paged/`` entries older than
        ``GCPDE_SPARK_PAGED_TTL_S`` (default 24 h) so abandoned cursors
        cannot accumulate in a long-lived service.
        """
        import base64
        import json as _json

        if page_token is None:
            self._sweep_paged_scratch()
            df = self._run(query, timeout)
            path = f"{self.warehouse_dir}/_paged/{uuid.uuid4().hex}"
            indexed, persisted = self._with_row_index(df)
            try:
                self._action_with_timeout(
                    lambda: indexed.write.mode("errorifexists").parquet(path), timeout
                )
            finally:
                persisted.unpersist()
            total = self.spark.read.parquet(path).count()
            offset = 0
        else:
            try:
                state = _json.loads(base64.b64decode(page_token).decode("utf-8"))
                path, offset, total = state["result_path"], state["offset"], state["total"]
            except Exception as exc:
                raise EngineException(f"invalid page token: {page_token!r}") from exc

        page_df = (
            self.spark.read.parquet(path)
            .where((F.col("_rn") >= offset) & (F.col("_rn") < offset + page_size))
            .orderBy("_rn")
            .drop("_rn")
        )
        records = rows_to_records(self._collect_with_timeout(page_df, timeout))
        next_offset = offset + page_size
        if next_offset >= total:
            self._delete_path(path)
            return records, None
        token = base64.b64encode(
            _json.dumps(
                {"result_path": path, "offset": next_offset, "total": total}
            ).encode("utf-8")
        ).decode("ascii")
        return records, token

    def select_paginated(
        self, query: str, page_size: int, page_token: str | None = None,
        timeout: float = 10,
    ) -> tuple[list[dict[str, Any]], str | None]:
        """Interactive paged select (≙ gcpde/bq.py:703-733, 10 s default)."""
        return self.query_paginated(query, page_size, page_token, timeout=timeout)

    def _with_row_index(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Append a contiguous ``_rn`` preserving the DataFrame's row order.
        Returns ``(indexed, persisted)`` — the caller unpersists the second
        after materializing the first.

        Entirely JVM-side (round-2's ``rdd.zipWithIndex`` pickled every
        row JVM→Python and back — a driver/Python throughput bottleneck on
        exactly the big-result path pagination exists for):

        1. tag rows with ``spark_partition_id`` and
           ``monotonically_increasing_id`` (pid in the upper bits, a
           contiguous per-partition counter in the lower 33 — so
           ``mid & (2^33 - 1)`` is the row's offset within its partition);
        2. one tiny aggregate (rows = #partitions) computes per-partition
           counts, a window over that scalar-sized frame turns them into
           cumulative start offsets;
        3. broadcast-join the offsets back and add — whole-stage codegen,
           no Python boundary, no single-reducer pass over the data.

        The tagged input is persisted (two passes must see identical
        partition contents). The same two-pass contract as
        ``zipWithIndex``, minus the serialization.
        """
        from pyspark.sql import Window

        tagged = df.select(
            "*",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        ).persist()
        counts = tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
        w = (
            Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "_pid", F.coalesce(F.sum("_cnt").over(w), F.lit(0)).alias("_off")
        )
        local_idx = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
        indexed = (
            tagged.join(F.broadcast(offsets), "_pid")
            .withColumn("_rn", F.col("_off") + local_idx)
            .drop("_pid", "_mid", "_off")
        )
        return indexed, tagged

    # -- internals ---------------------------------------------------------------

    def _run(self, query: str, timeout: float) -> DataFrame:
        return self.spark.sql(query)

    def _collect_with_timeout(self, df: DataFrame, timeout: float):
        """collect() guarded by a cancelJobGroup watchdog (SURVEY.md §3.1)."""
        return self._action_with_timeout(df.collect, timeout)

    def _action_with_timeout(self, action, timeout: float):
        """Run any job-launching action under a cancelJobGroup watchdog.

        The watchdog needs its own job group; the caller's group,
        description and interrupt flag are restored afterwards."""
        sc = self.spark.sparkContext
        group = f"gcpde-q-{uuid.uuid4().hex[:8]}"
        saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        timed_out = threading.Event()

        def _cancel() -> None:
            timed_out.set()
            sc.cancelJobGroup(group)

        sc.setJobGroup(group, "gcpde_spark query", interruptOnCancel=True)
        timer = threading.Timer(timeout, _cancel)
        timer.start()
        try:
            return action()
        except Exception:
            if timed_out.is_set():
                raise QueryTimeout(f"query exceeded {timeout}s and was cancelled")
            raise
        finally:
            timer.cancel()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)


# the local properties ``SparkContext.setJobGroup`` sets
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _zorder_proxy(field) -> F.Column:
    """A double-valued, order-preserving projection of a cluster
    column, so Z-order bucketing works on every orderable type — the
    naive ``cast("double")`` throws on TIMESTAMP and yields NULL for
    every string (silently clustering on nothing). Strings map through
    their first 6 UTF-8 bytes as a big-endian integer (48 bits, exact
    in a double): lexicographic on the prefix, which is what gives
    per-file min/max stats their narrowness."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    dt, col = field.dataType, F.col(field.name)
    if isinstance(dt, NumericType):
        return col.cast("double")
    if isinstance(dt, BooleanType):
        return col.cast("int").cast("double")
    if isinstance(dt, DateType):
        return F.unix_date(col).cast("double")
    if isinstance(dt, TimestampType):
        return F.unix_micros(col).cast("double")
    if isinstance(dt, TimestampNTZType):
        return F.unix_micros(col.cast("timestamp")).cast("double")
    if isinstance(dt, StringType):
        # RIGHT-pad the hex to 12 nibbles: a shorter string must not
        # collapse to a numerically smaller integer ('z' has to sort
        # above 'amazon', and a strict prefix pads with 0x00, the
        # lowest byte — exactly lexicographic)
        return F.conv(
            F.rpad(F.hex(F.substring(col.cast("binary"), 1, 6)), 12, "0"),
            16,
            10,
        ).cast("double")
    raise ValueError(
        f"cannot Z-order on {dt.simpleString()} column {field.name}: no "
        "order-preserving numeric projection (cluster on an orderable "
        "column instead)"
    )


def _ddl(schema: StructType) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )
