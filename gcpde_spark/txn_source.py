"""Batch DataSource for :class:`gcpde_spark.txn.TxnTable` — reach the
transactional format from plain ``spark.read`` / SQL, no Python facade::

    register_txn_source(spark)
    df = (spark.read.format("gcpde_txn")
          .option("path", table_dir)
          .option("asOf", 3)            # optional time travel (version)
          .load()
          .where("k between 100 and 200 and v = 'x'"))

Built on Spark 4's Python DataSource batch API (the streaming half
lives in :mod:`gcpde_spark.cdf_source`), so the relation is
first-class: one input partition per LIVE data file (reads parallelize
across executors and scale with the snapshot's file count), each
executor reads its parquet file directly with pyarrow, deletion
vectors are applied per file, and column mapping resolves physical
birth names to the manifest's logical schema — the same snapshot
semantics as ``TxnTable.read()``.

Predicate pushdown (``pushFilters``, Spark 4.1): comparison and
equality filters on stats-carrying columns prune at the MANIFEST level
through the exact same :func:`gcpde_spark.txn._pruned_entries` core as
``TxnTable.read(ranges=/eq=)`` — files whose per-column [min, max]
cannot intersect (or whose Bloom index rejects an equality probe) are
never scheduled at all. Every filter is also RETURNED to Spark for
post-scan evaluation (file ranges overlap a predicate without every
row matching), so results stay exact; pushdown only removes I/O.

No reference counterpart (≙ the Delta/Iceberg DSv2 relation,
re-expressed over this repo's manifest format).
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any, Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from gcpde_spark.cdf_source import _file_columns, _FilePartition
from gcpde_spark.errors import SchemaMismatchException
from gcpde_spark.txn import (
    _constraints_of,
    _keys,
    _list_versions,
    _load_manifest,
    _mapping_of,
    _new_manifest,
    _norm_bound,
    _phys,
    _pruned_entries,
    _publish,
    _rolled_meta,
    _stat_entries,
    ConcurrentCommitError,
)


def register_txn_source(spark, enable_filter_pushdown: bool = True) -> None:
    """Register the ``gcpde_txn`` batch format on this session.

    **Session-wide side effect, read this**: by default this also flips
    ``spark.sql.python.filterPushdown.enabled`` to ``true`` for the
    WHOLE session — Spark 4.1 ships it off, and a reader implementing
    ``pushFilters`` refuses to plan without it (runtime-settable, same
    pattern as the nanos conf in :func:`gcpde_spark.catalog.load_table`).
    Every other Python data source in the session plans under the flag
    too. Pass ``enable_filter_pushdown=False`` to leave the conf alone
    (``gcpde_txn`` reads then fail to plan until you set it yourself)."""
    if enable_filter_pushdown:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxnTableDataSource)


class TxnTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gcpde_txn"

    def _root(self) -> Path:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "gcpde_txn requires .option('path', <table dir>)"
            )
        return Path(path)

    def _version(self) -> int:
        # pinned on first resolution: Spark calls schema() and reader()
        # as separate planning steps, and a commit landing between them
        # must not make the reader scan snapshot N+1 under snapshot N's
        # schema (a concurrent rename would silently read as all-NULL)
        pinned = getattr(self, "_pinned_version", None)
        if pinned is not None:
            return pinned
        as_of = self.options.get("asOf")
        if as_of is None:
            v = max(_list_versions(self._root()))
        else:
            v = int(as_of)
            if v < 0:
                raise ValueError(f"asOf must be a version >= 0, got {v}")
        self._pinned_version = v
        return v

    def schema(self) -> StructType:
        m = _load_manifest(self._root(), self._version())
        return StructType.fromJson(json.loads(m["schema"]))

    def reader(self, schema: StructType) -> "TxnTableReader":
        return TxnTableReader(self._root(), self._version(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> "TxnTableWriter":
        return TxnTableWriter(
            self._root(),
            schema,
            overwrite,
            backend_factory=self.options.get("commitBackend"),
        )


class TxnTableReader(DataSourceReader):
    """One snapshot, one manifest: ``partitions()`` prunes the file
    list with whatever filters ``pushFilters`` accepted, ``read()``
    materializes one file (DV-filtered, mapping-resolved)."""

    def __init__(self, root: Path, version: int, schema: StructType):
        self.root = root
        self.version = version
        self.schema = schema
        # intersected per-column bounds accumulated by pushFilters, in
        # TxnTable.read(ranges=)'s shape: {col: (lo, hi)}, None = open
        self.ranges: "dict[str, tuple[Any, Any]]" = {}
        # point probes eligible for Bloom pruning: {col: value}
        self.eq: "dict[str, Any]" = {}
        # pruning receipt, recorded at planning time (repr'd into the
        # Spark plan is not possible for a Python source, so tests and
        # audits read it off the reader object)
        self.files_scanned: "int | None" = None
        self.files_total: "int | None" = None

    # -- pushdown ------------------------------------------------------

    def pushFilters(self, filters: "List[Filter]") -> "Sequence[Filter]":
        """Record the bounds the manifest pruner can use. EVERY filter
        — accepted or not — is returned for Spark-side post-scan
        evaluation: file-level [min, max] pruning admits supersets, so
        the source never claims exact filtering, only fewer files.
        Strict bounds (``<``/``>``) prune with their inclusive
        relaxation, which is sound (a file disjoint from ``>= v`` is
        disjoint from ``> v``)."""
        top = {f.name for f in self.schema.fields}
        for f in filters:
            col = (
                f.attribute[0]
                if len(getattr(f, "attribute", ())) == 1
                else None
            )
            if col is None or col not in top:
                continue
            if isinstance(f, EqualTo) and f.value is not None:
                self.eq[col] = f.value
                self._tighten(col, (f.value, f.value))
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._tighten(col, (f.value, None))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._tighten(col, (None, f.value))
        return filters

    def _tighten(self, col: str, rng: "tuple[Any, Any]") -> None:
        # keep the NARROWER bound per side, compared through
        # _norm_bound like TxnTable.read does — keeping the first bound
        # would prune with the LOOSEST of conjunctive filters on one
        # column (correct results either way, since every filter
        # re-runs Spark-side, but strictly less I/O elimination)
        if col not in self.ranges:
            self.ranges[col] = rng
            return
        dtype = next(
            (f.dataType for f in self.schema.fields if f.name == col), None
        )

        def norm(x: Any) -> Any:
            return x if dtype is None else _norm_bound(x, dtype)

        (lo, hi), (blo, bhi) = self.ranges[col], rng
        if lo is None:
            nlo = blo
        elif blo is None:
            nlo = lo
        else:
            nlo = lo if norm(lo) >= norm(blo) else blo
        if hi is None:
            nhi = bhi
        elif bhi is None:
            nhi = hi
        else:
            nhi = hi if norm(hi) <= norm(bhi) else bhi
        self.ranges[col] = (nlo, nhi)

    # -- scan ----------------------------------------------------------

    def partitions(self) -> "Sequence[InputPartition]":
        m = _load_manifest(self.root, self.version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        entries, _ = _pruned_entries(
            m,
            schema,
            ranges=self.ranges or None,
            eq=self.eq or None,
        )
        self.files_scanned = len(entries)
        self.files_total = len(m["files"])
        mp = _mapping_of(m)
        names = [f.name for f in self.schema.fields]
        phys_names = [_phys(mp, n) for n in names]
        out: "list[InputPartition]" = []
        for e in entries:
            dv = e.get("dv") or {}
            out.append(
                _FilePartition(
                    str(self.root / e["path"]),
                    self.version,
                    names,
                    dv_paths=[str(self.root / p) for p in dv.get("paths", [])],
                    rel_path=e["path"],
                    phys_names=phys_names,
                )
            )
        if not out:
            # Spark requires >= 1 partition; an empty one keeps the
            # fully-pruned (or empty-table) scan a valid relation
            out.append(
                _FilePartition("", self.version, names, phys_names=phys_names)
            )
        return out

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if not partition.file_path:
            return iter(())
        cols, _ = _file_columns(partition)
        return iter(zip(*cols))


class _TxnWriteMessage(WriterCommitMessage):
    def __init__(self, rel_path: "str | None", rows: int):
        self.rel_path = rel_path
        self.rows = rows


class TxnTableWriter(DataSourceArrowWriter):
    """Transactional batch write for an EXISTING TxnTable:
    ``df.write.format("gcpde_txn").mode("append"|"overwrite")
    .option("path", t).save()``.

    Each task streams its Arrow batches into ONE fresh parquet file
    under ``data/`` (``pq.ParquetWriter`` opened on the first batch,
    batch-by-batch writes — task memory stays bounded by one Arrow
    batch, never the whole partition; physical column names under an
    active mapping, immutable thereafter); the driver's ``commit``
    turns the collected file list into a single atomic
    ``append``/``overwrite`` manifest — per-file stats from footers,
    rolled meta, Bloom backfill at the `_publish` choke point —
    arbitrated through a CommitBackend with a bounded optimistic retry
    on lost races (appends commute; overwrite is last-writer-wins by
    definition).

    **Backend selection**: the planning/commit steps run in Spark's
    Python-datasource workers, SEPARATE processes from the user's
    driver — a driver-side ``set_commit_backend(...)`` never reaches
    them, and the module default (POSIX link) is what arbitrates
    unless told otherwise. For tables arbitrated by a non-default
    backend (e.g. object-store conditional PUT), pass
    ``.option("commitBackend", "pkg.module:factory")`` — a zero-arg
    callable resolved BY NAME inside the commit worker and invoked
    there to build the backend (clients like a GCS/S3 session are
    process-local, so constructing in the committing process is the
    only sound place). Mixing arbitration primitives on one table is
    a race; the option makes the SQL path match the Python path.
    Retrying against a rival's EVOLVED schema is sound by the format's
    own invariants: physical names are immutable birth names, so a
    column this job wrote can never be confused with one a rival
    dropped-and-re-added (fresh uuid physical), rival-added columns
    NULL-fill over our files like any pre-evolution file, and rival
    renames re-label the same physical bytes.
    A failed job's files are removed by ``abort`` (and are invisible
    anyway: liveness is manifest reference).

    Declared boundaries, loud not silent: the table must already exist
    (creation needs a merge key and layout choices — ``TxnTable.create``
    is the API for that), the DataFrame schema must match the table's
    logical (name, type) schema exactly (no writer-side evolution), and
    tables carrying CHECK constraints refuse (this path cannot inject
    the in-plan row guard that ``TxnTable.append`` installs; use the
    Python API for constrained tables).
    """

    def __init__(
        self,
        root: Path,
        schema: StructType,
        overwrite: bool,
        backend_factory: "str | None" = None,
    ):
        import uuid

        self.root = root
        self.overwrite = overwrite
        self.backend_factory = backend_factory
        base = max(_list_versions(root))  # raises TxnTableNotFound
        m = _load_manifest(root, base)
        table_schema = StructType.fromJson(json.loads(m["schema"]))
        if [(f.name, f.dataType) for f in schema.fields] != [
            (f.name, f.dataType) for f in table_schema.fields
        ]:
            raise SchemaMismatchException(
                f"write schema != table schema at {root}",
                schema,
                table_schema,
            )
        if _constraints_of(m):
            raise ValueError(
                f"table at {root} carries CHECK constraints — the SQL "
                "writer cannot install the in-plan row guard; append "
                "through TxnTable (gcpde_spark.txn) instead"
            )
        mp = _mapping_of(m)
        self.phys_by_name = {
            f.name: _phys(mp, f.name) for f in table_schema.fields
        }
        # one fresh commit subdirectory shared by every task of this job
        self.sub = f"data/{uuid.uuid4().hex[:12]}"

    def write(self, iterator) -> _TxnWriteMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        writer: "pq.ParquetWriter | None" = None
        rel = out = None
        rows = 0
        try:
            for batch in iterator:
                if not batch.num_rows:
                    continue
                renamed = pa.RecordBatch.from_arrays(
                    batch.columns,
                    names=[
                        self.phys_by_name.get(n, n) for n in batch.schema.names
                    ],
                )
                if writer is None:
                    rel = f"{self.sub}/part-{uuid.uuid4().hex}.parquet"
                    out = self.root / rel
                    out.parent.mkdir(parents=True, exist_ok=True)
                    writer = pq.ParquetWriter(out, renamed.schema)
                writer.write_batch(renamed)
                rows += renamed.num_rows
        except BaseException:
            if writer is not None:
                writer.close()
                out.unlink(missing_ok=True)  # half-written file: invisible
            raise
        if writer is None:
            return _TxnWriteMessage(None, 0)
        writer.close()
        return _TxnWriteMessage(rel, rows)

    def _backend(self):
        """Resolve the commit backend INSIDE the committing process
        (see class docstring): ``commitBackend`` option > module
        default. Factory string is ``pkg.module:name``."""
        if not self.backend_factory:
            return None  # _publish falls through to the module default
        import importlib

        mod_name, _, attr = self.backend_factory.partition(":")
        if not attr:
            raise ValueError(
                "commitBackend must be 'pkg.module:factory', got "
                f"{self.backend_factory!r}"
            )
        factory = getattr(importlib.import_module(mod_name), attr)
        return factory()

    def commit(self, messages) -> None:
        rels = [m.rel_path for m in messages if m is not None and m.rel_path]
        if not rels and not self.overwrite:
            return  # empty append: nothing to commit
        backend = self._backend()
        last: "Exception | None" = None
        for _ in range(5):  # optimistic loop, like merge_with_retry
            base = max(_list_versions(self.root))
            m = _load_manifest(self.root, base)
            if _constraints_of(m):
                # same refusal as __init__, re-run per attempt: a rival
                # add_constraint landing mid-job must not let this
                # commit roll the constraint forward over rows it never
                # validated (TxnTable verbs re-enforce per attempt
                # before every write; this loop is the SQL path's
                # equivalent)
                self.abort(messages)
                raise ValueError(
                    f"table at {self.root} gained CHECK constraints "
                    "mid-job — the SQL writer cannot validate staged "
                    "rows against them; append through TxnTable "
                    "(gcpde_spark.txn) instead"
                )
            mp = _mapping_of(m)
            entries = _stat_entries(self.root, rels, _keys(m)[0], mp)
            manifest = _new_manifest(
                base + 1,
                "overwrite" if self.overwrite else "append",
                _keys(m),
                m["schema"],
                entries if self.overwrite else list(m["files"]) + entries,
                mp,
                _rolled_meta(m, None),
            )
            try:
                _publish(self.root, base + 1, manifest, backend=backend)
                return
            except ConcurrentCommitError as exc:
                last = exc  # rival landed base+1: recompute and retry
        raise ConcurrentCommitError(
            f"write to {self.root} kept losing the commit race"
        ) from last

    def abort(self, messages) -> None:
        for msg in messages:
            if msg is not None and msg.rel_path:
                (self.root / msg.rel_path).unlink(missing_ok=True)
