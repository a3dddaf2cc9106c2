"""Incrementally-maintained materialized aggregate views over
:class:`gcpde_spark.txn.TxnTable` — the standard pattern for keeping a
100 TB fact table's rollups fresh without re-aggregating the table on
every commit (cf. the classic incremental-view-maintenance literature
and Delta/materialized-view products; pattern only, from-scratch here).

No reference counterpart (the reference delegates all query execution);
this extends the repo's transactional layer the way ``sync_table``
extends it for replication.

Maintenance strategy: **group-scoped recompute**, not delta folding.
Folding +x/−x into running aggregates only works for self-maintainable
aggregates (SUM/COUNT) and breaks on MIN/MAX/COUNT(DISTINCT) under
deletes. Recomputing exactly the AFFECTED groups supports *any* Spark
aggregate expression and costs O(changed groups' data), because:

1. the affected group set comes from the base table's precise change
   feed (``read_changes(precise=True, preimages=True)``) — the touched
   region only, never a table scan; preimages matter because an update
   that moves a row between groups must refresh the group it LEFT;
2. the base re-read is manifest-pruned by the affected groups'
   per-column [min, max] (``TxnTable.read(ranges=...)`` data skipping —
   sharp when the base is clustered by the group columns), then scoped
   exactly with a semi-join on the surrogate group key (broadcast while
   the key set is small, shuffle beyond that);
3. the view itself is a TxnTable keyed by ``_gkey``, a hidden
   never-NULL surrogate (sha256 of the JSON-encoded group tuple) —
   NULL is a legitimate GROUP BY value but can never match itself
   under SQL MERGE key equality, so keying the storage by the raw
   group columns would leave stale rows behind whenever a NULL group
   refreshes. The refresh lands as ONE atomic ``apply_changes`` commit
   (recomputed groups upsert, vanished groups delete) carrying the
   base version in its metadata — exactly-once by the same batch-id
   construction as :func:`gcpde_spark.txn.sync_table`, and the view
   gets time travel, concurrency arbitration, and a change feed of its
   own for free.

A refresh touching more than ``max_incremental_groups`` falls back to
one full re-aggregation + ``overwrite`` (same cost as the initial
build — one shuffle over the base), the honest route when most of the
table changed and "incremental" would just be the slow spelling of a
rebuild.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gcpde_spark.records import records_to_dataframe
from gcpde_spark.txn import (
    ConcurrentCommitError,
    NonAdditiveBoundaryError,
    TxnTable,
    TxnTableNotFound,
)

_SPEC_KEY = "view_spec"
_BASE_VERSION_KEY = "view_base_version"


class MaterializedAggView:
    """An aggregate of a :class:`TxnTable`, materialized as its own
    TxnTable and refreshed incrementally from the base's change feed.

    The aggregate spec is ``{output_column: sql_aggregate_expr}`` —
    arbitrary Spark SQL aggregate expressions over the base columns
    (``"sum(x)"``, ``"min(x)"``, ``"count(distinct x)"``, ...). The
    spec and group columns persist in the view table's commit metadata,
    so reopening needs only ``MaterializedAggView(spark, base, path)``.
    """

    def __init__(self, spark: SparkSession, base: TxnTable, path: "str | Path"):
        self.spark = spark
        self.base = base
        self.path = str(path)
        self.table = TxnTable(spark, self.path)
        spec = self.table.last_meta_value(_SPEC_KEY)
        if spec is None:
            raise ValueError(
                f"no materialized view at {self.path} — create one with "
                "MaterializedAggView.create()"
            )
        if isinstance(spec, str):  # tolerate a stringified spec
            spec = json.loads(spec)
        self.group_by: list[str] = list(spec["group_by"])
        self.aggs: dict[str, str] = dict(spec["aggs"])

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        base: TxnTable,
        path: "str | Path",
        group_by: Sequence[str],
        aggs: Mapping[str, str],
        n_files: int | None = None,
    ) -> "MaterializedAggView":
        """Full build at the base's current version. For refreshes
        that prune the base instead of scanning it, give the BASE a
        group-leading layout: best is a composite merge key
        ``(group_col, unique_id)`` (narrow file ranges on the group
        column AND the full key, so base merges stay file-pruned too);
        ``compact(cluster_by=group_by)`` also works but scatters the
        base's own merge key, trading merge pruning for refresh
        pruning."""
        group_by = list(group_by)
        if not group_by or not aggs:
            raise ValueError("group_by and aggs must both be non-empty")
        clash = set(group_by) & set(aggs)
        if clash:
            raise ValueError(f"agg names collide with group columns: {clash}")
        reserved = {"_gkey", "_change_type", "_commit_version"} & (
            set(group_by) | set(aggs)
        )
        if reserved:
            raise ValueError(
                f"column names {sorted(reserved)} are reserved by the view "
                "machinery (surrogate key / change-feed tags)"
            )
        v = base.version()
        out = _with_gkey(
            base.read(version=v).groupBy(*group_by).agg(*_agg_exprs(aggs)),
            group_by,
        )
        TxnTable.create(
            spark,
            str(path),
            out,
            key_field="_gkey",
            n_files=n_files,
            meta={
                _SPEC_KEY: {"group_by": group_by, "aggs": dict(aggs)},
                _BASE_VERSION_KEY: v,
            },
        )
        return cls(spark, base, path)

    def read(self, version: int | None = None) -> DataFrame:
        return self.table.read(version=version).drop("_gkey")

    def staleness(self) -> tuple[int, int]:
        """(last base version reflected, base's current version)."""
        return int(self.table.last_meta_value(_BASE_VERSION_KEY)), self.base.version()

    # -- refresh -----------------------------------------------------------

    def refresh(self, max_incremental_groups: int = 1_000_000) -> dict:
        """Bring the view up to the base's current version in one
        atomic commit. Returns a receipt: ``mode`` (noop | incremental
        | full), ``base_version``, ``groups_refreshed``, and for the
        incremental route the base data-skipping evidence
        (``base_files_scanned`` / ``base_files_total``). Idempotent —
        re-running at the same base version is a no-op, and a crashed
        refresh leaves no partial state (the commit is the last step).
        Concurrent refreshers resolve via the table's commit
        arbitration: the loser checks whether the winner's commit
        already covers its target base version and returns a
        ``lost_race`` receipt instead of raising (both computed the
        same recompute, so dropping the loser's is exactly-once, not
        lost work); a rival commit that does NOT cover it (a concurrent
        restore/maintenance) re-raises for the caller to retry.
        """
        last, end = self.staleness()
        if end <= last:
            return {
                "mode": "noop",
                "base_version": last,
                "groups_refreshed": 0,
            }
        try:
            changes = self.base.read_changes(
                last, end, precise=True, preimages=True
            )
        except TxnTableNotFound:
            # base vacuumed past our last refresh (retention shorter
            # than refresh lag): the feed is unreadable — fall back to
            # one full rebuild, loud in the receipt, never silent
            # (sync_table's contract, mirrored)
            return self._full_rebuild(end, mode="full_vacuumed")
        except NonAdditiveBoundaryError:
            # the base renamed/dropped a column since the last refresh —
            # a non-additive boundary the change feed refuses to cross.
            # Recomputing from the CURRENT snapshot is exactly right: if
            # the view's group/agg columns survive under their old names
            # the rebuild succeeds, and if one was renamed away the
            # rebuild fails with the missing column spelled out (the
            # spec must be updated) — never a silently stale view.
            return self._full_rebuild(end, mode="full_schema_change")
        affected = _with_gkey(
            changes.select(*self.group_by).distinct(), self.group_by
        )
        affected.persist()
        try:
            stats = affected.agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    a
                    for c in self.group_by
                    for a in (
                        F.min(F.col(c)).alias(f"_lo_{c}"),
                        F.max(F.col(c)).alias(f"_hi_{c}"),
                        F.sum(F.col(c).isNull().cast("int")).alias(f"_nulls_{c}"),
                    )
                ],
            ).collect()[0]
            n_groups = int(stats["_n"])
            if n_groups == 0:
                # nothing changed in any group-relevant way (e.g. only
                # compact commits) — record the base version so the
                # next refresh starts past these commits
                empty = self._empty_feed()
                try:
                    self.table.apply_changes(empty, meta=self._meta(end))
                except ConcurrentCommitError:
                    return self._lost_race(end)
                return {
                    "mode": "noop",
                    "base_version": end,
                    "groups_refreshed": 0,
                }
            if n_groups > max_incremental_groups:
                return self._full_rebuild(end, groups=n_groups)
            # a column may bound the scan ONLY if no affected group is
            # NULL in it: min/max ignore NULLs, and the range re-applies
            # as a row filter in read(), which NULL rows always fail —
            # pruning on such a column would silently drop the NULL
            # group's recompute
            ranges = {
                c: (stats[f"_lo_{c}"], stats[f"_hi_{c}"])
                for c in self.group_by
                if stats[f"_lo_{c}"] is not None and not stats[f"_nulls_{c}"]
            }
            base_scan, n_scanned, n_total = self.base.read_with_receipt(
                version=end, ranges=ranges or None
            )
            # the surrogate key makes group matching a plain (and
            # never-NULL) equi-join: scope the pruned scan with a
            # semi-join, re-aggregate just those groups. Broadcast is
            # hinted only while the key set is genuinely small — 1M
            # sha256 keys is >100 MB shipped to every executor, where a
            # shuffle semi-join is the right plan; AQE decides there.
            keyset = affected.select("_gkey")
            if n_groups <= 100_000:
                keyset = F.broadcast(keyset)
            scan = _with_gkey(base_scan, self.group_by)
            recomputed = _with_gkey(
                scan.join(keyset, "_gkey", "leftsemi")
                .groupBy(*self.group_by)
                .agg(*_agg_exprs(self.aggs)),
                self.group_by,
            )
            vschema: StructType = self.table.read(version=None).schema
            agg_fields = [
                f
                for f in vschema.fields
                if f.name not in self.group_by and f.name != "_gkey"
            ]
            ups = recomputed.select(
                *[F.col(f.name) for f in vschema.fields],
                F.lit("update_postimage").alias("_change_type"),
            )
            gone = (
                affected.join(
                    recomputed.select("_gkey"), "_gkey", "left_anti"
                ).select(
                    F.col("_gkey"),
                    *[F.col(c) for c in self.group_by],
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in agg_fields
                    ],
                    F.lit("delete").alias("_change_type"),
                )
            )
            feed = ups.unionByName(gone).withColumn(
                "_commit_version", F.lit(end).cast("int")
            )
            try:
                self.table.apply_changes(feed, meta=self._meta(end))
            except ConcurrentCommitError:
                return self._lost_race(end)
            return {
                "mode": "incremental",
                "base_version": end,
                "groups_refreshed": n_groups,
                "base_files_scanned": n_scanned,
                "base_files_total": n_total,
            }
        finally:
            affected.unpersist()

    # -- internals ---------------------------------------------------------

    def _full_rebuild(
        self, end: int, mode: str = "full", groups: int = 0
    ) -> dict:
        out = _with_gkey(
            self.base.read(version=end)
            .groupBy(*self.group_by)
            .agg(*_agg_exprs(self.aggs)),
            self.group_by,
        )
        try:
            self.table.overwrite(out, meta=self._meta(end))
        except ConcurrentCommitError:
            return self._lost_race(end)
        return {
            "mode": mode,
            "base_version": end,
            "groups_refreshed": groups,
        }

    def _lost_race(self, end: int) -> dict:
        """A rival committed our target version first. If its commit
        (meta rolls forward, so the newest manifest tells) already
        reflects base version ``end``, the refresh work is done —
        by a twin refresher that computed the identical recompute."""
        recorded = int(self.table.last_meta_value(_BASE_VERSION_KEY))
        if recorded >= end:
            return {
                "mode": "lost_race",
                "base_version": recorded,
                "groups_refreshed": 0,
            }
        raise ConcurrentCommitError(
            f"view refresh to base version {end} lost the commit race to "
            f"a rival that only covers base version {recorded} — re-run "
            "refresh()"
        )

    def _meta(self, base_version: int) -> dict:
        return {
            _BASE_VERSION_KEY: base_version,
            _SPEC_KEY: {"group_by": self.group_by, "aggs": self.aggs},
        }

    def _empty_feed(self) -> DataFrame:
        vschema = self.table.read(version=None).schema
        return (
            records_to_dataframe(self.spark, [], vschema)
            .withColumn("_change_type", F.lit("update_postimage"))
            .withColumn("_commit_version", F.lit(0).cast("int"))
            .limit(0)
        )


def refresh_view_stream(
    view: MaterializedAggView,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Continuous view maintenance: follow the base table's change feed
    (the ``txn-cdf`` streaming source) and run one :meth:`refresh` per
    micro-batch of new commits. The feed's rows are only the TRIGGER —
    the refresh itself reads versions from the base's manifests under
    the view's own exactly-once base-version tracking, so a replayed
    micro-batch (at-least-once ``foreachBatch``) lands as a no-op and a
    batch spanning several commits refreshes them in one commit.
    Returns the :class:`~pyspark.sql.streaming.StreamingQuery`.

    The feed runs in ``mode=commits`` (one marker row per commit, any
    op, no data files read), so base deletes/overwrites — which an
    upsert feed must refuse — trigger refreshes instead of failing the
    stream, and it starts at the view's recorded base version so
    commits landed between view creation and stream start are not
    skipped."""
    from gcpde_spark.cdf_source import register_cdf_source

    register_cdf_source(view.spark)
    feed = (
        view.spark.readStream.format("txn-cdf")
        .option("path", str(view.base.path))
        .option("mode", "commits")
        .option("startingVersion", view.staleness()[0] + 1)
        .load()
    )

    def _refresh(batch: DataFrame, batch_id: int) -> None:
        view.refresh()

    writer = (
        feed.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _agg_exprs(aggs: Mapping[str, str]) -> list:
    return [F.expr(sql).alias(name) for name, sql in aggs.items()]


def _with_gkey(df: DataFrame, group_by: Sequence[str]) -> DataFrame:
    """Append the surrogate group key: sha256 of the JSON-encoded group
    tuple. Deterministic, never NULL, and injective on the tuple —
    ``to_json`` OMITS null fields, so a NULL group value encodes as
    field absence, distinct from every present value (incl. ``""``)."""
    return df.withColumn(
        "_gkey",
        F.sha2(F.to_json(F.struct(*[F.col(c) for c in group_by])), 256),
    )
