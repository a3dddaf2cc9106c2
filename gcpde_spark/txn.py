r"""Minimal copy-on-write transactional table format — the backend the
:class:`gcpde_spark.tables.MergeIntoBackend` seam anticipates, realized
in pure Spark + stdlib (SURVEY.md §7 "take Delta and get MERGE free";
the sandbox ships no Delta/Iceberg runtime, so this implements the same
three mechanisms from scratch at their minimal useful size):

1. **Manifest-based snapshots** — a table is a directory of immutable
   parquet data files plus a ``_txn_log/`` of numbered JSON manifests;
   the highest manifest IS the table state. Readers resolve one
   manifest and only ever see that snapshot's file list, so a
   concurrent writer can never show them a half-rewritten table.
2. **Atomic, conflict-detecting commits** — publishing a manifest is
   ONE pluggable primitive (:mod:`gcpde_spark.commit_backend`):
   exclusive creation of the version's manifest object. The default
   :class:`PosixLinkBackend` stages to a temp name and ``os.link``\ s
   it (hard-link create fails with EEXIST if the version exists —
   atomic on any POSIX filesystem); for object stores,
   :class:`ConditionalPutBackend` issues an if-none-match conditional
   PUT and resolves ambiguous (applied-then-timed-out) outcomes by
   reading back the manifest's ``commit_id``. Either way two writers
   racing to version N+1 get exactly one winner and one
   :class:`ConcurrentCommitError`.
3. **File-pruned MERGE (the scale point)** — each manifest entry
   carries the data file's merge-key [min, max] from its parquet
   footer. ``merge`` rewrites ONLY the files whose key range overlaps
   the incoming delta's range and re-links every other file unchanged:
   a 1-row delta into a key-sorted 100 TB table rewrites one file, not
   the table — O(delta + touched files), the cost model the
   ``upsert_table_df`` docstring promises from a transactional
   backend. (A file whose range does not overlap the delta's can not
   contain any delta key, so skipping it is sound, not approximate.)

Beyond MERGE the same three mechanisms carry the rest of the
transactional verb set: predicate ``delete``/``update`` (one
pushed-down scan finds the files containing matches; only those
rewrite — and sparse deletes skip even that via **deletion vectors**,
Delta's row-level-delete design: matched ``(file, row position)``
pairs in a parquet sidecar that every read anti-joins out through the
``_read_entries`` choke point, O(matched rows) instead of O(touched
files), with ``compact``/``maybe_compact`` materializing the vectors
away), additive schema evolution (``merge_schema=True``), Z-order
``compact``, manifest-pruned ``read(key_range=...)``, a per-commit
change feed (``read_changes`` — precise mode diffs only the touched
region, O(changes) not O(table)), and :class:`TxnMergeBackend`, which
plugs the whole thing into ``TableStore.upsert_table_df`` via the
:class:`gcpde_spark.tables.MergeIntoBackend` seam.

Out of scope, stated honestly: multi-table transactions, a bundled
cloud client (``ConditionalPutBackend`` takes any two-verb
put_if_absent/get adapter — the sandbox ships no GCS/S3 SDK, so the
shipped store is the fault-injecting local simulator; ``clone``'s
zero-copy hard links and catalog snapshot links also remain
POSIX-only conveniences — on an object store they become server-side
copies), and column-level stats beyond the merge key.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time
import uuid
from pathlib import Path
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gcpde_spark.commit_backend import CommitBackend, PosixLinkBackend
from gcpde_spark.errors import ConcurrentCommitError as _ConcurrentCommitError
from gcpde_spark.errors import SchemaMismatchException
from gcpde_spark.records import records_to_dataframe
from gcpde_spark.tables import MergeIntoBackend, merge_dataframes

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"
# process-wide default commit arbitration; override per table via
# TxnTable(..., commit_backend=...) / create(..., commit_backend=...)
# or globally via set_commit_backend (e.g. route every table at a
# gs://-style mount through ConditionalPutBackend)
_COMMIT_BACKEND: CommitBackend = PosixLinkBackend()


def set_commit_backend(backend: CommitBackend) -> CommitBackend:
    """Swap the process-wide default :class:`CommitBackend`; returns
    the previous one (so tests/context managers can restore it)."""
    global _COMMIT_BACKEND
    prev = _COMMIT_BACKEND
    _COMMIT_BACKEND = backend
    return prev
_CONSTRAINTS_KEY = "table_constraints"
# On-disk format version (docs/txn_format.md). Readers refuse manifests
# from a NEWER format (they may encode invariants — e.g. a new
# row-invalidity mechanism — that reading blindly would violate); older
# manifests are always readable (fields only ever gain meaning).
# v1: base format. v2: column mapping (logical->physical names) — a v1
# reader handed a mapped manifest would read.schema(logical) over
# physical files and silently surface NULL columns, hence the gate.
_FORMAT_VERSION = 2
_BLOOM_KEY = "table_bloom"
# per-file-per-column bitmap cap: 128 KiB ≈ 1 Mbit holds ~150k distinct
# values at 1% FPR; above that the filter degrades (never unsound)
_BLOOM_MAX_BYTES = 128 << 10

# deletion-vector sidecar schema: table-relative data-file path + the
# 0-based parquet row position (stable: data files are immutable)
_DV_SCHEMA = StructType(
    [
        StructField("_file", StringType(), False),
        StructField("_pos", LongType(), False),
    ]
)


# the routing rule's one knob: a change takes the deletion-vector path
# when the rows it supersedes are at most this share of the touched
# files' live rows, and rewrites them otherwise
_DV_ROW_FRACTION = 0.2


def _dv_of(f: dict) -> dict:
    return f.get("dv") or {}


def _logical_rows(f: dict) -> int:
    """A manifest entry's visible row count: physical parquet rows
    minus its deletion-vector positions."""
    return f["rows"] - _dv_of(f).get("rows", 0)


def _entry_id(f: dict) -> tuple:
    """Content identity of a manifest entry: the data file path PLUS
    its deletion-vector reference — a DV delete changes an entry's
    visible rows without changing its path, and the precise change
    feed diffs entries, not paths."""
    d = _dv_of(f)
    return (f["path"], tuple(d.get("paths", ())), d.get("rows", 0))


def _use_vectors(mode: str, n_rows: int, touched: "list[dict]") -> bool:
    """THE routing rule between deletion vectors and a rewrite, shared
    by every verb that offers both: ``dv``/``mor`` always take vectors,
    ``rewrite``/``cow`` never do, and ``auto`` takes them when
    ``n_rows`` — the rows the change supersedes, or a free upper bound
    on them — are at most ``_DV_ROW_FRACTION`` of the touched files'
    live rows (the change-few case vectors exist for; past it a rewrite
    is cheaper than carrying big vectors)."""
    if mode == "auto":
        return n_rows <= _DV_ROW_FRACTION * sum(_logical_rows(f) for f in touched)
    return mode in ("dv", "mor")


def _attach_dv(
    files: "list[dict]", counts: "dict[str, int]", dv_files: "list[str]"
) -> list[dict]:
    """Manifest entries with the new consolidated vector reference
    attached to every entry that gained positions."""
    out = []
    for f in files:
        if f["path"] in counts:
            e = dict(f)
            e["dv"] = {
                "paths": dv_files,
                "rows": _dv_of(f).get("rows", 0) + counts[f["path"]],
            }
            out.append(e)
        else:
            out.append(f)
    return out


_RESERVED_COLS = ("_dv_file", "_dv_pos")


def _check_reserved(names: "Sequence[str]", path: "Path | str") -> None:
    """The lineage columns :meth:`TxnTable._read_entries` injects must
    never collide with user columns — a table carrying them would make
    every DV read and every auto/dv delete fail with an
    ambiguous-reference error, long after create succeeded."""
    bad = [n for n in names if n in _RESERVED_COLS]
    if bad:
        raise ValueError(
            f"column name(s) {bad} are reserved for deletion-vector "
            f"lineage in transactional tables ({path})"
        )


def _constraints_of(m: dict) -> "dict[str, str]":
    return (m.get("meta") or {}).get(_CONSTRAINTS_KEY) or {}


def _check_constraints(df: DataFrame, constraints: "dict[str, str]") -> None:
    """Enforce CHECK constraints on a write's rows in ONE aggregation
    pass — delegated to :func:`gcpde_spark.checks.run_checks` (one
    scan, all conditional counts in a shared hash-agg buffer) rather
    than re-implementing the same plan shape. SQL CHECK semantics: a
    row violates only when the expression is FALSE; NULL passes. Cost
    is one extra job over the rows being written — the touched region,
    never the table (the price Delta's invariants pay too)."""
    if not constraints:
        return
    from gcpde_spark.checks import run_checks

    preds = [
        (name, F.coalesce(F.expr(constraints[name]), F.lit(True)) == F.lit(False))
        for name in sorted(constraints)
    ]
    bad = {
        r["check"]: int(r["n_violations"])
        for r in run_checks(df, preds).collect()
        if r["n_violations"]
    }
    if bad:
        raise ConstraintViolation(bad, constraints)


class ConstraintViolation(Exception):
    """A write's rows violate the table's CHECK constraints. Carries
    ``violations``: {constraint name: violating-row count}."""

    def __init__(self, violations: "dict[str, int]", sqls: "dict[str, str]"):
        self.violations = violations
        detail = ", ".join(
            f"{name} ({n} rows: CHECK {sqls[name]!r})"
            for name, n in sorted(violations.items())
        )
        super().__init__(f"CHECK constraint(s) violated: {detail}")


# Commit arbitration is pluggable (gcpde_spark/commit_backend.py):
# POSIX link(2) by default, conditional-PUT for object stores. The
# error type moved to errors.py so backends can raise it without a
# circular import; re-bound here for every existing caller.
ConcurrentCommitError = _ConcurrentCommitError


class NonAdditiveBoundaryError(ValueError):
    """A change feed was asked to span a column rename/drop commit —
    commits before it emit the old names, commits after the new, and a
    union would be a frankenschema whose NULLs masquerade as changes.
    Read the segments separately or re-seed the consumer."""


class TxnTableNotFound(Exception):
    pass


_STATS_MAX_COLS = 32
_STATS_TYPES = (int, float, str, bool, datetime.date, datetime.datetime)


def _stat_repr(v: Any) -> Any:
    """Canonical JSON-safe STORAGE form of a parquet-footer stat.
    Timestamps and dates become ISO-8601 strings — lexicographic order
    on them equals chronological order (fixed-width date, '.' < any
    digit, so varying fractional precision still compares correctly),
    which is what lets string comparison prune soundly. Aware
    timestamps (instant columns: parquet isAdjustedToUTC) normalize to
    UTC-naive; naive ones (TIMESTAMP_NTZ: wall-clock semantics) store
    their wall value as-is. Everything else passes through."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _norm_bound(v: Any, dtype: Any) -> Any:
    """Normalize ONE query/delta bound into the same representation
    :func:`_stat_repr` stored for its column — type-aware, because the
    sound interpretation of a naive datetime depends on the column:

    - instant (TIMESTAMP) column: stats are true UTC. A naive bound is
      interpreted in the DRIVER-LOCAL zone — that is what PySpark
      itself does with naive datetimes (``collect()`` returns
      driver-local naive; ``TimestampType.toInternal`` reads naive as
      local), so merge-path bounds collected from Spark and user
      literals both land on the instant Spark's own row filter uses.
    - TIMESTAMP_NTZ column: wall-clock on both sides; pass through.
    - DATE column: a datetime bound floors to its date — widening-only
      on both ends (a lo of midnight must NOT out-sort a stats max of
      the same day, the classic off-by-equality; any sharper time part
      only over-keeps, and the residual row filter is exact anyway).
    """
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    if v is None:
        return None
    if isinstance(dtype, DateType):
        if isinstance(v, datetime.datetime):
            v = v.date()
        return v.isoformat() if isinstance(v, datetime.date) else v
    if isinstance(dtype, TimestampType) and isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.astimezone()  # driver-local, per PySpark semantics
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None).isoformat()
    if isinstance(dtype, TimestampNTZType) and isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return _stat_repr(v)


def _bloom_of(m: dict) -> dict:
    return (m.get("meta") or {}).get(_BLOOM_KEY) or {}


# ---------------------------------------------------------------------------
# column mapping (metadata-only rename/drop — format_version 2)
# ---------------------------------------------------------------------------


def _mapping_of(m: dict) -> "dict[str, str]":
    """logical column name -> PHYSICAL parquet column name. Empty =
    identity (every pre-mapping table). Becomes explicit (every column
    listed) the first time rename/drop/add-under-mapping runs, and from
    then on physical names are immutable birth names — rename changes
    only the logical key, and a column added after mapping activates
    gets a fresh uuid-suffixed physical name so it can NEVER collide
    with a dropped column's bytes still sitting in old files
    (resurrection is the failure mode; Delta's column-id construction
    solves the same thing)."""
    return m.get("column_mapping") or {}


def _phys(mapping: "dict[str, str]", name: str) -> str:
    return mapping.get(name, name)


def _physical_schema(schema: StructType, mapping: "dict[str, str]") -> StructType:
    if not mapping:
        return schema
    return StructType(
        [
            StructField(_phys(mapping, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _to_physical(df: DataFrame, mapping: "dict[str, str]") -> DataFrame:
    """Rename mapped logical columns to their physical names; columns
    outside the mapping (lineage/tag helpers) pass through."""
    if not mapping:
        return df
    return df.select(
        *[
            F.col(c).alias(mapping[c]) if c in mapping else F.col(c)
            for c in df.columns
        ]
    )


def _extended_mapping(
    mapping: "dict[str, str]", schema: StructType, added: "list[str]"
) -> "dict[str, str]":
    """Mapping after additive evolution. Inactive mapping stays
    inactive (physical == logical, nothing stored). Active mapping
    becomes explicit for every schema column, and each ADDED column
    gets a fresh physical birth name."""
    if not mapping:
        return mapping
    out = {f.name: _phys(mapping, f.name) for f in schema.fields if f.name not in added}
    for name in added:
        out[name] = f"{name}-{uuid.uuid4().hex[:8]}"
    return out


def _bloom_canon(v: Any, tag: str) -> bytes:
    """Type-tagged canonical bytes of a bloom-indexed value. The tag is
    derived from the DECLARED column type on both sides (write: arrow
    schema; read: table schema), so `5` in a BIGINT column hashes the
    same whether the caller passes int or the footer yields int64 —
    python-object identity never decides membership."""
    if tag == "i":
        s = f"i:{int(v)}"
    elif tag == "s":
        s = f"s:{v}"
    elif tag == "b":
        s = f"b:{bool(v)}"
    else:  # "t": dates/timestamps, already ISO via _stat_repr/_norm_bound
        s = f"t:{v}"
    return s.encode("utf-8")


def _bloom_hashes(data: bytes, m_bits: int, k: int) -> "list[int]":
    """k bit positions via double hashing over one blake2b digest."""
    import hashlib

    d = hashlib.blake2b(data, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + j * h2) % m_bits for j in range(k)]


def _bloom_tag(dtype: Any) -> "str | None":
    """Canonicalization tag for a Spark type, or None if the type is
    refused for bloom indexing (floats: equality is a smell and repr
    drift would be unsound; binary/nested/decimal: no stable canon)."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return "i"
    if isinstance(dtype, StringType):
        return "s"
    if isinstance(dtype, BooleanType):
        return "b"
    if isinstance(dtype, (DateType, TimestampType, TimestampNTZType)):
        return "t"
    return None


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m_bits, k) for n distinct values at the target false-
    positive rate, capped at `_BLOOM_MAX_BYTES` (degrades FPR, never
    soundness)."""
    import math

    n = max(n, 1)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = min(max(m, 64), _BLOOM_MAX_BYTES * 8)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_build(path: str, cols: "list[str]", fpp: float) -> dict:
    """Per-column bloom filters over a data file's DISTINCT non-null
    values, from one arrow read of just those columns. Returns
    {col: {"m": bits, "k": hashes, "b64": bitmap}} — sized per file
    (files differ in cardinality), stored in the manifest entry.
    Columns absent from the file (pre-evolution files) or of refused
    types are skipped: a file without a bloom is always kept."""
    import base64

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    present = [c for c in cols if c in pf.schema_arrow.names]
    # absent columns (pre-evolution files) record an explicit None —
    # "no filter, keep the file" to readers, and "already decided, don't
    # re-read this file on every later commit" to the backfill
    out: dict = {c: None for c in cols if c not in present}
    if not present:
        return out
    import pyarrow.compute as pc

    table = pq.read_table(path, columns=present)
    for c in present:
        import pyarrow as pa

        field = table.schema.field(c)
        t = field.type
        if pa.types.is_integer(t):
            tag = "i"
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            tag = "s"
        elif pa.types.is_boolean(t):
            tag = "b"
        elif pa.types.is_temporal(t):
            tag = "t"
        else:
            out[c] = None
            continue
        uniq = [v for v in pc.unique(table.column(c)).to_pylist() if v is not None]
        m_bits, k = _bloom_params(len(uniq), fpp)
        bits = bytearray(m_bits // 8 + (1 if m_bits % 8 else 0))
        for v in uniq:
            if tag == "t":
                v = _stat_repr(v)
            for pos in _bloom_hashes(_bloom_canon(v, tag), m_bits, k):
                bits[pos >> 3] |= 1 << (pos & 7)
        out[c] = {
            "m": m_bits,
            "k": k,
            "b64": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return out


def _bloom_maybe_contains(bloom: dict, canon: bytes) -> bool:
    import base64

    bits = base64.b64decode(bloom["b64"])
    for pos in _bloom_hashes(canon, bloom["m"], bloom["k"]):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _prune_by_bloom(
    entries: "list[dict]",
    eq: "dict[str, Any]",
    schema: StructType,
    mapping: "dict[str, str] | None" = None,
) -> "list[dict]":
    """Point-lookup data skipping: drop entries whose bloom filter for
    an equality column PROVES the value absent. Entries without a bloom
    for the column are kept (conservative); NULL equality never reaches
    here (read() refuses it — SQL `=` never matches NULL)."""
    fields = {f.name: f.dataType for f in schema.fields}
    canons: "dict[str, bytes]" = {}
    for col, v in eq.items():
        dtype = fields.get(col)
        tag = _bloom_tag(dtype) if dtype is not None else None
        if tag is None:
            continue
        canons[_phys(mapping or {}, col)] = _bloom_canon(
            _norm_bound(v, dtype), tag
        )
    if not canons:
        return entries
    out = []
    for f in entries:
        keep = True
        for col, canon in canons.items():
            bloom = (f.get("bloom") or {}).get(col)
            if bloom is not None and not _bloom_maybe_contains(bloom, canon):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _file_stats(path: str) -> tuple[dict[str, list], int]:
    """Per-column [min, max] for every top-level primitive column (up
    to ``_STATS_MAX_COLS``, JSON-representable types only) plus the row
    count, from the parquet FOOTER — metadata only, no data read. A
    column missing min/max in ANY row group carries no stats at all
    (partial stats would make pruning unsound). Driver-side per file;
    at very large file counts collect stats distributedly at write
    time instead (noted, not hidden)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    agg: dict[str, list] = {}
    bad: set[str] = set()
    order: list[str] = []
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:  # nested leaves don't prune
                continue
            st = col.statistics
            if (
                st is None
                or not st.has_min_max
                or not isinstance(st.min, _STATS_TYPES)
                or not isinstance(st.max, _STATS_TYPES)
            ):
                bad.add(name)
                agg.pop(name, None)
                continue
            mn, mx = _stat_repr(st.min), _stat_repr(st.max)
            if name in agg:
                agg[name] = [min(agg[name][0], mn), max(agg[name][1], mx)]
            else:
                agg[name] = [mn, mx]
                order.append(name)
    kept = [n for n in order if n in agg][:_STATS_MAX_COLS]
    return {n: agg[n] for n in kept}, md.num_rows


class TxnTable:
    """A transactional parquet table at ``path`` with snapshot reads,
    atomic commits, time travel, and file-pruned MERGE / DELETE /
    UPDATE.

    Every verb that replaces rows (``merge``, ``delete``, ``update``,
    ``apply_changes``, ``purge_vectors``) is a thin caller of ONE
    row-change kernel, :meth:`_change_rows`: the touched files are
    either rewritten (copy-on-write) or keep their bytes while the
    superseded rows become deletion-vector positions, picked by one
    routing rule (:func:`_use_vectors`). Every commit's manifest comes
    from one builder (:func:`_new_manifest`) through one publish point
    (:meth:`_commit`).

    ::

        t = TxnTable.create(spark, "/lake/users", df, key_field="id")
        t.merge(delta_df)              # rewrites only overlapping files
        t.read()                       # latest snapshot
        t.read(version=1)              # time travel
        t.history()                    # commit log
        t.vacuum()                     # drop unreferenced data files
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        commit_backend: "CommitBackend | None" = None,
    ):
        self.spark = spark
        self.path = Path(path)
        # commit arbitration for THIS table (None → the process-wide
        # default, POSIX link(2)); pass a ConditionalPutBackend for
        # tables living on an object store
        self.commit_backend = commit_backend
        log = self.path / _LOG_DIR
        # an empty log dir is NOT a table: it is the residue of a
        # create() that crashed before publishing version 0 — treating
        # it as found would wedge every later reader/writer
        if not log.is_dir() or not any(
            p.stem.isdigit() for p in log.glob("*.json")
        ):
            raise TxnTableNotFound(f"no transactional table at {path}")

    def _commit(
        self,
        base: dict,
        op: str,
        files: "list[dict]",
        schema: "str | None" = None,
        mapping: "dict[str, str] | None" = None,
        keys: "list[str] | None" = None,
        meta: "dict | None" = None,
        **extra: Any,
    ) -> int:
        """Publish ``op`` as the version after manifest ``base`` through
        this table's commit arbitration — the single choke point every
        verb's commit goes through. Keys, schema (JSON) and column
        mapping default to ``base``'s, ``base``'s meta rolls forward
        under ``meta``, and the manifest comes from
        :func:`_new_manifest`. Returns the published version."""
        version = base["version"] + 1
        _publish(
            self.path,
            version,
            _new_manifest(
                version,
                op,
                keys or _keys(base),
                base["schema"] if schema is None else schema,
                files,
                _mapping_of(base) if mapping is None else mapping,
                _rolled_meta(base, meta),
                **extra,
            ),
            backend=self.commit_backend,
        )
        return version

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_field: str | Sequence[str],
        sort_by_key: bool = True,
        n_files: int | None = None,
        meta: dict | None = None,
        constraints: "dict[str, str] | None" = None,
        bloom_cols: "Sequence[str] | None" = None,
        bloom_fpp: float = 0.01,
        commit_backend: "CommitBackend | None" = None,
    ) -> "TxnTable":
        """Initialize a table from ``df``. ``sort_by_key`` range-sorts
        the initial files by the merge key, which is what makes future
        merges prune well (narrow non-overlapping per-file key ranges);
        unsorted data still merges correctly, just rewrites more.
        ``n_files`` pins the file count (size so each file is
        ~128 MB-1 GB at scale); without it AQE may coalesce small
        tables to one file, which defeats pruning.

        ``key_field`` may be a list for composite merge keys; file
        pruning intersects EVERY key dimension's [min, max] (sound: a
        key tuple matches only if all dimensions match, so a file
        disjoint on any one dimension cannot contain it — with a
        low-cardinality leading key the later dimensions do the real
        pruning)."""
        keys = [key_field] if isinstance(key_field, str) else list(key_field)
        p = Path(path)
        log = p / _LOG_DIR
        # exist_ok: a crashed create leaves an empty log dir behind and
        # a retry must succeed; a PUBLISHED table still refuses. Two
        # racing creators both reach _publish(0) and link(2) picks one
        # winner (the loser gets ConcurrentCommitError — open the table
        # and merge instead, as TxnMergeBackend does).
        _check_reserved(df.columns, path)
        log.mkdir(parents=True, exist_ok=True)
        if any(q.stem.isdigit() for q in log.glob("*.json")):
            raise ValueError(f"transactional table already exists at {path}")
        if constraints:
            _check_constraints(df, constraints)
            meta = {**(meta or {}), _CONSTRAINTS_KEY: dict(constraints)}
        if bloom_cols:
            fields = {f.name: f.dataType for f in df.schema.fields}
            for c in bloom_cols:
                if c not in fields or _bloom_tag(fields[c]) is None:
                    raise ValueError(
                        f"bloom column {c!r} missing or of unsupported type"
                    )
            meta = {
                **(meta or {}),
                _BLOOM_KEY: {"cols": list(bloom_cols), "fpp": float(bloom_fpp)},
            }
        out = _range_sorted(df, keys, n_files) if sort_by_key else df
        files = _write_data_files(spark, p, out, constraints)
        _publish(
            p,
            0,
            _new_manifest(
                0,
                "create",
                keys,
                df.schema.json(),
                _stat_entries(p, files, keys[0]),
                meta=meta,
            ),
            backend=commit_backend,
        )
        return cls(spark, path, commit_backend=commit_backend)

    # -- snapshot reads ----------------------------------------------------

    def read(
        self,
        version: int | None = None,
        key_range: tuple[Any, Any] | None = None,
        ranges: "dict[str, tuple[Any, Any]] | None" = None,
        eq: "dict[str, Any] | None" = None,
    ) -> DataFrame:
        """Snapshot read with data skipping. ``key_range=(lo, hi)``
        (inclusive) bounds the merge key; ``ranges={col: (lo, hi)}``
        bounds ANY stats-carrying column (``None`` = open end) — both
        prune at the MANIFEST level: files whose per-column [min, max]
        cannot intersect a requested range are never handed to the scan
        at all, so at 100 TB / millions of files the listing and footer
        reads that row-group pruning alone still pays are skipped too.
        Non-key ranges are what :meth:`compact` with ``cluster_by``
        exists to sharpen (Z-order keeps every clustered column's
        per-file range narrow). The same bounds are re-applied as row
        filters — file ranges overlap a request without every row
        matching — so results are exact, and a column without stats
        simply doesn't prune (conservative, never lossy).

        ``eq={col: value}`` is the POINT-lookup form: it prunes by
        [min, max] like a ``(v, v)`` range AND by the per-file Bloom
        filters when the table indexes the column
        (:meth:`set_bloom_cols` / ``create(bloom_cols=...)``) — a
        needle-in-100 TB id probe touches only files whose filter
        admits the value, which range stats alone can't deliver on a
        high-cardinality column whose per-file ranges all overlap.
        NULL is refused (SQL ``=`` never matches NULL; use a range
        read + ``isNull`` filter for that)."""
        return self.read_with_receipt(version, key_range, ranges, eq)[0]

    def read_with_receipt(
        self,
        version: int | None = None,
        key_range: tuple[Any, Any] | None = None,
        ranges: "dict[str, tuple[Any, Any]] | None" = None,
        eq: "dict[str, Any] | None" = None,
    ) -> "tuple[DataFrame, int, int]":
        """:meth:`read` plus the data-skipping evidence:
        ``(df, files_scanned, files_total)`` — for callers (refresh
        receipts, audits) that would otherwise re-run the manifest
        prune just to count it."""
        m = self._manifest(version)
        schema = _schema_of(m)
        entries, all_ranges = _pruned_entries(m, schema, key_range, ranges, eq)
        mp = _mapping_of(m)
        df = self._read_entries(schema, entries, mapping=mp)
        for col, (lo, hi) in all_ranges.items():
            if lo is not None and hi is not None:
                df = df.where(F.col(col).between(lo, hi))
            elif lo is not None:
                df = df.where(F.col(col) >= lo)
            elif hi is not None:
                df = df.where(F.col(col) <= hi)
        return df, len(entries), len(m["files"])

    def _read_entries(
        self,
        schema: StructType,
        entries: "list[dict]",
        with_lineage: bool = False,
        mapping: "dict[str, str] | None" = None,
    ) -> DataFrame:
        """THE read choke point: every consumer of manifest entries —
        snapshot reads, merge/update/apply_changes' touched region,
        precise change-feed diffs, restore validation, compaction —
        reads through here, so deletion vectors apply everywhere at
        once. Entries carrying a ``dv`` reference anti-join their
        deleted ``(file, row position)`` pairs out, using the parquet
        source's ``_metadata.row_index`` lineage (positions are stable
        because data files are immutable after their write; the file
        key is TABLE-RELATIVE so vectors stay valid across clone's
        hard-linked roots). ``with_lineage=True`` keeps the
        ``_dv_file``/``_dv_pos`` columns for callers that write
        deletion vectors themselves."""
        files = [str(self.path / f["path"]) for f in entries]
        dv_paths: set[str] = set()
        dv_rows = 0
        for f in entries:
            d = _dv_of(f)
            if d:
                dv_paths.update(d["paths"])
                dv_rows += d.get("rows", 0)
        if not files:
            out_schema = StructType(
                list(schema.fields)
                + (
                    [
                        StructField("_dv_file", StringType(), True),
                        StructField("_dv_pos", LongType(), True),
                    ]
                    if with_lineage
                    else []
                )
            )
            return records_to_dataframe(self.spark, [], out_schema)
        # files store immutable PHYSICAL birth names; read by those and
        # surface the manifest's logical names at the END — the whole
        # of metadata-only rename is one projection, applied after the
        # deletion-vector machinery (which touches only the _metadata
        # pseudo-column and the _dv_* lineage names, and would lose
        # _metadata access under an interposed projection)
        df = self.spark.read.schema(
            _physical_schema(schema, mapping or {})
        ).parquet(*files)

        def _logical(d: DataFrame) -> DataFrame:
            if not mapping:
                return d
            keep = [c for c in d.columns if c in ("_dv_file", "_dv_pos")]
            return d.select(
                *[
                    F.col(_phys(mapping, f.name)).alias(f.name)
                    for f in schema.fields
                ],
                *keep,
            )

        if not dv_paths and not with_lineage:
            return _logical(df)
        # table-relative lineage from the path SUFFIX we control:
        # _metadata.file_path is a URI (percent-encoded, symlinks NOT
        # resolved), so stripping a resolved-root prefix silently
        # breaks on table paths with encodable characters or symlinked
        # components. The last two components — data/<uuid12>/<part> —
        # are written by _write_data_files from a URI-safe charset
        # (hex + Spark part names), so the suffix needs no decoding,
        # is independent of the root, and keeps vectors valid across
        # clone's hard-linked roots and table moves
        rel = F.concat(
            F.lit(_DATA_DIR + "/"),
            F.regexp_extract(
                F.col("_metadata.file_path"), "([^/]+/[^/]+)$", 1
            ),
        )
        df = df.select(
            "*",
            rel.alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
        )
        if dv_paths:
            dv = (
                self.spark.read.schema(_DV_SCHEMA)
                .parquet(*sorted(str(self.path / p) for p in dv_paths))
                .select(
                    F.col("_file").alias("_dv_file"),
                    F.col("_pos").alias("_dv_pos"),
                )
            )
            # deleted-position sets are deltas, not tables: broadcast
            # the anti-join while small (~1M positions ≈ tens of MB of
            # path+long rows — safe under default driver memory),
            # shuffle past that (at which point compaction is overdue;
            # dv_rows undercounts superseded generations still present
            # in shared sidecars, so the cutoff is deliberately low)
            if dv_rows <= 1_000_000:
                dv = F.broadcast(dv)
            df = df.join(dv, ["_dv_file", "_dv_pos"], "left_anti")
        df = _logical(df)
        return df if with_lineage else df.drop("_dv_file", "_dv_pos")

    def history(self) -> list[dict]:
        """Commit log, newest first (version, op, file/row counts)."""
        out = []
        for v in sorted(self._versions(), reverse=True):
            m = self._manifest(v)
            out.append(
                {
                    "version": v,
                    "op": m["op"],
                    "ts": m.get("ts"),
                    "n_files": len(m["files"]),
                    "n_rows": sum(_logical_rows(f) for f in m["files"]),
                }
            )
        return out

    def constraints(self) -> "dict[str, str]":
        """The table's CHECK constraints ({name: sql}), enforced on the
        rows of every write verb. Live in rolled commit metadata, so
        compact/vacuum/maintenance can never silently drop them."""
        return dict(self.last_meta_value(_CONSTRAINTS_KEY) or {})

    def bloom_cols(self) -> "list[str]":
        """Columns currently bloom-indexed (empty when disabled)."""
        return list(_bloom_of(self._manifest()).get("cols") or [])

    def set_bloom_cols(self, cols: "Sequence[str]", fpp: float = 0.01) -> dict:
        """Enable (or with ``cols=()`` disable) per-file Bloom indexing
        for point lookups — the Delta/Iceberg bloom-index analog.

        The config rides the rolled commit meta, so EVERY later write
        verb builds filters for its new files without knowing the
        feature exists (``_publish`` choke point). The enable commit
        itself backfills CURRENT files (one indexed-column read per
        file — data files are immutable, so unlike Delta no rewrite is
        needed); any entry that still lacks a filter (e.g. a column
        absent from pre-evolution files) is simply never pruned
        (conservative). Allowed types:
        integer, string, boolean, date, timestamp; floats are refused
        (repr drift would make equality pruning unsound), as are
        nested/binary/decimal columns.

        Cost model: ~1.2 bytes per distinct value per file at the
        default 1% FPR, capped at 128 KiB per (file, column) — manifest
        growth is linear in file count, same order as the min/max
        stats already stored."""
        if not 0 < fpp < 0.5:
            raise ValueError(f"fpp must be in (0, 0.5), got {fpp}")
        m = self._manifest()
        fields = {f.name: f.dataType for f in _schema_of(m).fields}
        for c in cols:
            if c not in fields:
                raise ValueError(f"bloom column {c!r} not in table schema")
            if _bloom_tag(fields[c]) is None:
                raise ValueError(
                    f"bloom column {c!r} has unsupported type "
                    f"{fields[c].simpleString()} (equality canon unstable)"
                )
        cfg = {"cols": list(cols), "fpp": float(fpp)} if cols else None
        version = self._commit(m, "bloom", m["files"], meta={_BLOOM_KEY: cfg})
        return {"version": version, "bloom_cols": list(cols)}

    def _schema_change_guards(self, m: dict, name: str) -> None:
        """Shared rename/drop refusals: constraints are SQL text over
        logical names — silently keeping a constraint that references a
        vanished name would wedge every later write, so the reference
        must be dropped (or rewritten) FIRST, explicitly."""
        import re as _re

        for cname, sql in _constraints_of(m).items():
            if _re.search(rf"\b{_re.escape(name)}\b", sql):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r} ({sql!r}) — drop_constraint first"
                )

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only column rename (the Delta column-mapping
        construction, format_version 2): data files keep their
        immutable PHYSICAL names and the manifest's logical→physical
        mapping re-labels them at read time — zero bytes rewritten at
        any table size. Key columns may be renamed (``key_fields``
        follows); constraints referencing the column must be dropped
        first; bloom-index configs follow the rename. Readers older
        than format v2 refuse the table afterwards (they would surface
        NULL for every mapped column)."""
        m = self._manifest()
        schema = _schema_of(m)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"column {old!r} not in table schema")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        _check_reserved([new], self.path)
        self._schema_change_guards(m, old)
        mp = _mapping_of(m)
        # activate: the mapping becomes explicit for EVERY column, so
        # physical names are pinned from here on
        full = {f.name: _phys(mp, f.name) for f in schema.fields}
        full[new] = full.pop(old)
        new_schema = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        keys = [new if k == old else k for k in _keys(m)]
        meta_delta: dict = {}
        cfg = _bloom_of(m)
        if cfg and old in (cfg.get("cols") or []):
            meta_delta[_BLOOM_KEY] = {
                **cfg,
                "cols": [new if c == old else c for c in cfg["cols"]],
            }
        version = self._commit(
            m,
            "rename_column",
            m["files"],
            schema=new_schema.json(),
            mapping=full,
            keys=keys,
            meta=meta_delta,
        )
        return {"version": version, "renamed": {old: new}}

    def drop_column(self, name: str) -> dict:
        """Metadata-only column drop (format_version 2): the column
        leaves the logical schema and the mapping; its bytes stay in
        existing files (dead until :meth:`compact` rewrites them) and
        are never read again. Re-adding the same logical name later is
        safe: columns added under an active mapping get fresh physical
        birth names, so the old bytes can never resurrect. Key columns
        cannot be dropped; constraints referencing the column must go
        first; a bloom config on it is removed."""
        m = self._manifest()
        schema = _schema_of(m)
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"column {name!r} not in table schema")
        if name in _keys(m):
            raise ValueError(f"column {name!r} is a merge key — not droppable")
        self._schema_change_guards(m, name)
        mp = _mapping_of(m)
        full = {
            f.name: _phys(mp, f.name)
            for f in schema.fields
            if f.name != name
        }
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        )
        meta_delta: dict = {}
        cfg = _bloom_of(m)
        if cfg and name in (cfg.get("cols") or []):
            cols = [c for c in cfg["cols"] if c != name]
            meta_delta[_BLOOM_KEY] = {**cfg, "cols": cols} if cols else None
        version = self._commit(
            m,
            "drop_column",
            m["files"],
            schema=new_schema.json(),
            mapping=full,
            meta=meta_delta,
        )
        return {"version": version, "dropped": name}

    def add_constraint(self, name: str, sql: str) -> dict:
        """Add a CHECK constraint. Validates EXISTING rows first (one
        full scan — the price of the guarantee, as Delta pays) and then
        publishes a metadata-only ``constraints`` commit; all
        subsequent writes enforce it on their touched region only.
        Optimistic concurrency like every other verb: the base version
        is captured BEFORE the validation scan, so a rival commit in
        between (whose rows this scan never saw, or whose own
        constraint change this one would erase) collides at publish
        with :class:`ConcurrentCommitError` instead of being silently
        absorbed."""
        m = self._manifest()
        current = _constraints_of(m)
        if name in current:
            raise ValueError(f"constraint {name!r} already exists")
        _check_constraints(self.read(version=m["version"]), {name: sql})
        return self._constraints_commit(m, {**current, name: sql})

    def drop_constraint(self, name: str) -> dict:
        m = self._manifest()
        if name not in _constraints_of(m):
            raise ValueError(f"no constraint named {name!r}")
        return self._constraints_commit(
            m, {k: v for k, v in _constraints_of(m).items() if k != name}
        )

    def _constraints_commit(self, m: dict, new_map: "dict[str, str]") -> dict:
        version = self._commit(
            m, "constraints", m["files"], meta={_CONSTRAINTS_KEY: new_map}
        )
        return {"version": version, "constraints": new_map}

    def version_at(self, when: "float | datetime.datetime") -> int:
        """Timestamp time travel: the newest version committed at or
        before ``when`` (epoch seconds, or a datetime — naive is
        driver-local, PySpark's own convention). Pre-timestamp legacy
        manifests fall back to their file mtime. Raises if every
        retained commit is later than ``when`` (history before the
        oldest retained version is gone — vacuum)."""
        if isinstance(when, datetime.datetime):
            when = when.timestamp()
        best = None
        for v in sorted(self._versions()):
            m = self._manifest(v)
            ts = m.get("ts")
            if ts is None:
                ts = (self.path / _LOG_DIR / _mname(v)).stat().st_mtime
            if ts <= when:
                best = v
        if best is None:
            raise TxnTableNotFound(
                f"no commit at or before {when} is retained at {self.path}"
            )
        return best

    def version(self) -> int:
        return max(self._versions())

    # -- MERGE (the reason this class exists) ------------------------------

    def last_meta_value(self, key: str) -> Any:
        """Newest committed value of an application-metadata key (e.g.
        a streaming batch id), or None. Meta rolls forward through
        every commit (see ``_rolled_meta``), so the latest manifest
        alone carries the full map and vacuum/compact can never erase
        exactly-once tracking; the backward search below only serves
        legacy pre-roll manifests."""
        for v in sorted(self._versions(), reverse=True):
            meta = self._manifest(v).get("meta") or {}
            if key in meta:
                return meta[key]
        return None

    def merge(
        self,
        source: DataFrame,
        on_duplicate_keys: str = "error",
        meta: dict | None = None,
        merge_schema: bool = False,
        strategy: str = "cow",
    ) -> dict:
        """MERGE: keys in both → source row wins; keys only in source
        → inserted. Raises :class:`ConcurrentCommitError` if another
        writer commits first (re-read and re-merge to retry). Only the
        files whose merge-key [min, max] overlaps the delta's range are
        touched; the row-change kernel (:meth:`_change_rows`) replaces
        their superseded rows by the path ``strategy`` picks:

        - ``strategy="cow"`` (default, copy-on-write): the touched files
          are rewritten with the source merged in; every other file
          carries into the new snapshot untouched. Returns
          ``{"version", "rewritten", "kept"}`` so callers can see the
          write amplification.
        - ``strategy="mor"`` (merge-on-read, the Delta DV-merge
          construction): the superseded rows become deletion-vector
          positions and only the source rows write — the right trade
          for sparse CDC deltas into wide files. The receipt adds
          ``matched_rows`` and ``dv_files``.
        - ``strategy="auto"``: the shared routing rule
          (:func:`_use_vectors`), with the delta's row count as the free
          upper bound on matches.

        ``merge_schema=True`` allows ADDITIVE evolution: the source may
        carry new columns (appended to the table schema as nullable;
        rows in untouched files read as NULL there — parquet resolves
        columns by name, so old files need no rewrite). It must still
        carry every existing column at its existing type; dropping or
        retyping columns stays a hard error.
        """
        if strategy not in ("cow", "mor", "auto"):
            raise ValueError(
                f"merge strategy must be cow|mor|auto, not {strategy!r}"
            )
        m = self._manifest()
        keys = _keys(m)
        schema, mp = self._write_schema(m, source, merge_schema)
        n, touched = _touched_by_keys(source, m["files"], keys, schema, mp)
        if n == 0:  # empty delta → nothing to do, no new version
            return {"version": m["version"], "rewritten": 0, "kept": len(m["files"])}
        src = source.select(*[f.name for f in schema.fields])
        out = self._change_rows(
            m,
            "merge",
            touched,
            bool(touched) and _use_vectors(strategy, n, touched),
            rewrite=lambda old: merge_dataframes(
                old, src, keys, on_duplicate_keys=on_duplicate_keys
            ),
            # only positions are needed from the superseded rows
            match=lambda live: live.join(
                src.select(*keys).distinct(), on=keys, how="left_semi"
            ).select("_dv_file", "_dv_pos"),
            rows=src,
            # the source written alone (the vector path, or a delta no
            # file's key range overlaps) gets the SAME duplicate-key guard
            # merge_dataframes installs on a rewrite (merging into an
            # empty target), so no path drifts on MERGE's error semantics
            guard=lambda r: merge_dataframes(
                records_to_dataframe(self.spark, [], schema),
                r,
                keys,
                on_duplicate_keys=on_duplicate_keys,
            ),
            count_key="matched_rows",
            schema=schema,
            mapping=mp,
            meta=meta,
        )
        if strategy == "mor":
            # an explicit-mor pure-insert delta (no range-overlapping
            # files) lands on the plain write: keep the mor receipt shape
            # so callers can rely on the keys regardless of distribution
            out.setdefault("matched_rows", 0)
            out.setdefault("dv_files", 0)
        return out

    def merge_with_retry(
        self,
        source: DataFrame,
        attempts: int = 3,
        on_duplicate_keys: str = "error",
        meta: dict | None = None,
        merge_schema: bool = False,
        strategy: str = "cow",
    ) -> dict:
        """Optimistic-concurrency loop around :meth:`merge`: on
        :class:`ConcurrentCommitError` the merge re-reads the NEW
        snapshot and re-applies the delta (sound because MERGE is
        defined against whatever the current table state is — the
        loser's delta still wins per key over both the old rows and
        the rival's). Raises after ``attempts`` losses."""
        last: ConcurrentCommitError | None = None
        for _ in range(attempts):
            try:
                return self.merge(
                    source,
                    on_duplicate_keys=on_duplicate_keys,
                    meta=meta,
                    merge_schema=merge_schema,
                    strategy=strategy,
                )
            except ConcurrentCommitError as exc:
                last = exc
        raise last  # type: ignore[misc]

    def append(self, df: DataFrame, merge_schema: bool = False) -> dict:
        """Append-only commit: new files, no rewrite, no key check —
        the bulk-ingest fast path (dedup against existing keys is the
        caller's job or :meth:`merge`'s). O(delta) always.
        ``merge_schema`` as in :meth:`merge` (additive only)."""
        m = self._manifest()
        schema, mp = self._write_schema(m, df, merge_schema)
        new_files = self._write_checked(
            df.select(*[f.name for f in schema.fields]), m, mp
        )
        version = self._commit(
            m,
            "append",
            m["files"] + _stat_entries(self.path, new_files, _keys(m)[0], mp),
            schema=schema.json(),
            mapping=mp,
        )
        return {"version": version, "added": len(new_files)}

    def overwrite(
        self,
        df: DataFrame,
        meta: dict | None = None,
        n_files: int | None = None,
        merge_schema: bool = False,
        sort_by_key: bool = True,
    ) -> dict:
        """``INSERT OVERWRITE`` analog: atomically replace the whole
        snapshot with ``df`` (previous versions stay readable until
        :meth:`vacuum`). O(new data) write — the full-refresh escape
        hatch (backfills, :func:`sync_table`'s resync fallback), not
        the incremental path."""
        m = self._manifest()
        keys = _keys(m)
        schema, mp = self._write_schema(m, df, merge_schema)
        out = df.select(*[f.name for f in schema.fields])
        new_files = self._write_checked(
            _range_sorted(out, keys, n_files) if sort_by_key else out,
            m,
            mp,
            new=out,
        )
        version = self._commit(
            m,
            "overwrite",
            _stat_entries(self.path, new_files, keys[0], mp),
            schema=schema.json(),
            mapping=mp,
            meta=meta,
        )
        return {"version": version, "added": len(new_files)}

    # -- DELETE / UPDATE (scan-targeted row changes) -----------------------

    def delete(
        self,
        predicate: "Column | str",
        meta: dict | None = None,
        mode: str = "auto",
    ) -> dict:
        """``DELETE WHERE predicate`` with file-level targeting, the
        Delta/Iceberg construction: one pushed-down scan counts the
        matches per file (:meth:`_matches`), only files with a
        match are touched, and the row-change kernel
        (:meth:`_change_rows`) removes the matches by the path ``mode``
        picks:

        - ``mode="rewrite"``: the touched files rewrite without their
          matching rows; every other file carries over untouched.
          O(scan + rewritten files).
        - ``mode="dv"`` (deletion vectors, Delta's row-level-delete
          design): no data file rewrites — deleting 100 rows from a
          100 TB table writes ~100 positions. The read-side debt is one
          broadcast anti-join; :meth:`compact` (or
          :meth:`maybe_compact`, which watches ``dv_fraction``)
          materializes vectors away.
        - ``mode="auto"`` (default): the shared routing rule
          (:func:`_use_vectors`) on the measured match count.

        SQL ternary semantics: rows where the predicate is NULL are
        KEPT, exactly as ``DELETE FROM t WHERE p`` keeps them."""
        if mode not in ("auto", "rewrite", "dv"):
            raise ValueError(f"delete mode must be auto|rewrite|dv, not {mode!r}")
        m = self._manifest()
        cond = _match_cond(predicate)
        counts, touched = self._matches(m, cond)
        if not touched:
            return {"version": m["version"], "rewritten": 0, "deleted_rows": 0}
        return self._change_rows(
            m,
            "delete",
            touched,
            _use_vectors(mode, sum(counts.values()), touched),
            rewrite=lambda old: old.where(~cond),
            match=lambda live: live.where(cond),
            counts=counts,
            count_key="deleted_rows",
            meta=meta,
        )

    def update(
        self,
        assignments: "dict[str, Column | str]",
        where: "Column | str",
        meta: dict | None = None,
        mode: str = "auto",
    ) -> dict:
        """``UPDATE SET col = expr, ... WHERE predicate`` with the same
        targeting scan and the same ``mode`` paths as :meth:`delete`:
        ``rewrite`` copies every touched file with the new values,
        ``dv`` turns the matched ORIGINAL rows into deletion-vector
        positions and writes only their post-assignment rows, ``auto``
        routes by the measured match count. Assignment expressions are
        cast to the column's existing type (the table schema never
        drifts through an update). Merge-key columns can not be updated
        — a key change moves a row between files, which is MERGE's job
        (delete + merge expresses it exactly)."""
        if mode not in ("auto", "rewrite", "dv"):
            raise ValueError(f"update mode must be auto|rewrite|dv, not {mode!r}")
        m = self._manifest()
        keys = _keys(m)
        schema = _schema_of(m)
        types = {f.name: f.dataType for f in schema.fields}
        for c in assignments:
            if c in keys:
                raise ValueError(
                    f"cannot update merge-key column {c!r}: a key change "
                    "moves the row between files — delete the old key and "
                    "merge the new row instead"
                )
            if c not in types:
                raise ValueError(f"unknown column {c!r} in UPDATE SET")
        values = {
            c: (F.expr(e) if isinstance(e, str) else e).cast(types[c])
            for c, e in assignments.items()
        }

        def assigned(d: DataFrame, flag: "Column | None" = None) -> DataFrame:
            # SQL UPDATE semantics: the WHERE predicate and EVERY
            # assignment see the ORIGINAL row (SET a=b, b=a swaps). One
            # select gives exactly that — chained withColumn would let
            # later expressions (and a re-used predicate) observe earlier
            # assignments' new values. ``flag`` marks the matched rows
            # when ``d`` also holds unmatched ones; the rewrite path
            # pre-evaluates it as a column, so even a non-deterministic
            # predicate is evaluated once per row
            return d.select(
                *[
                    (
                        values[f.name]
                        if flag is None
                        else F.when(flag, values[f.name]).otherwise(F.col(f.name))
                    ).alias(f.name)
                    if f.name in values
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )

        cond = _match_cond(where)
        counts, touched = self._matches(m, cond)
        if not touched:
            return {"version": m["version"], "rewritten": 0, "updated_rows": 0}
        return self._change_rows(
            m,
            "update",
            touched,
            _use_vectors(mode, sum(counts.values()), touched),
            rewrite=lambda old: assigned(
                old.withColumn("_upd_match", cond), F.col("_upd_match")
            ),
            match=lambda live: live.where(cond),
            rows=assigned,
            counts=counts,
            count_key="updated_rows",
            meta=meta,
        )

    # -- the row-change kernel ---------------------------------------------

    def _matches(
        self, m: dict, cond: Column
    ) -> "tuple[dict[str, int], list[dict]]":
        """``(counts, touched)``: the per-file count of the live rows
        where ``cond`` holds, and the entries of the files it names —
        the one targeting scan of delete and update in every mode. A
        single pushed-down lineage scan; only ``(file, count)`` pairs
        cross to the driver (bounded by file count). The total feeds the
        routing rule."""
        live = self._read_entries(
            _schema_of(m), m["files"], with_lineage=True, mapping=_mapping_of(m)
        )
        counts = {
            r["_dv_file"]: r["n"]
            for r in live.where(cond)
            .groupBy("_dv_file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return counts, [f for f in m["files"] if f["path"] in counts]

    def _change_rows(
        self,
        m: dict,
        op: str,
        touched: "list[dict]",
        vectors: bool,
        rewrite: "Callable[[DataFrame], DataFrame]",
        match: "Callable[[DataFrame], DataFrame] | None" = None,
        rows: "DataFrame | Callable[[DataFrame], DataFrame] | None" = None,
        guard: "Callable[[DataFrame], DataFrame] | None" = None,
        counts: "dict[str, int] | None" = None,
        count_key: "str | None" = None,
        schema: "StructType | None" = None,
        mapping: "dict[str, str] | None" = None,
        meta: "dict | None" = None,
    ) -> dict:
        """THE row-change kernel: merge, delete, update, apply_changes
        and purge_vectors are thin callers of this one body, so the two
        physical paths, constraint enforcement, the manifest and the
        receipt cannot drift between verbs. A change supersedes the rows
        of ``touched`` that ``match`` selects and adds ``rows``; the
        path decides how the superseded rows leave the snapshot:

        - ``vectors=False`` (copy-on-write): the touched files rewrite
          as ``rewrite(old)`` — the verb's one-pass plan for "old rows
          minus superseded plus added" — and their entries are replaced;
          every other entry carries over verbatim. With nothing touched
          the write is ``rows`` alone, through ``guard``.
        - ``vectors=True`` (deletion vectors): the touched files stay
          byte-identical. The superseded rows' ``(file, row position)``
          pairs go to one sidecar that every read anti-joins out
          (:meth:`_read_entries`), and only ``rows`` write as data,
          through ``guard``. O(matched rows) instead of O(touched files).

        ``guard`` holds the in-plan assertions a verb's rewrite plan
        carries itself (MERGE's duplicate-key check); every write of
        ``rows`` alone goes through it, so no path skips them.

        ``rows`` (a frame, or a function of the superseded rows —
        UPDATE's SET) are validated against the CHECK constraints in
        one pass before the write, and the write carries the in-plan
        guard; a change that adds no rows (delete, purge) does neither.
        The data write runs before any sidecar work, so the common
        failures (duplicate merge keys, violations) fire first.
        ``counts`` are per-file match counts the caller already has;
        without them, or when ``rows`` derive from the superseded set,
        that set is persisted and counted once, so the sidecar, the new
        rows and the manifest's ``dv.rows`` all come from ONE
        evaluation (a non-deterministic predicate re-evaluated between
        jobs would otherwise drop or duplicate rows). ``schema`` and
        ``mapping`` override the base manifest's (additive evolution).
        The receipt is ``{"version", "rewritten", "kept"}``, plus the
        superseded-row count under ``count_key`` when counts are known
        and ``dv_files`` on the vector path."""
        schema_json = m["schema"] if schema is None else schema.json()
        schema = _schema_of(m) if schema is None else schema
        mp = _mapping_of(m) if mapping is None else mapping
        dv_files: list[str] = []
        if not vectors:
            touched_paths = {f["path"] for f in touched}
            kept = [f for f in m["files"] if f["path"] not in touched_paths]
            written = rows
            if touched:
                old = self._read_entries(schema, touched, mapping=mp)
                written = rewrite(old)
                if callable(rows):
                    rows = rows(match(old))
            elif guard is not None and rows is not None:
                written = guard(rows)
            if rows is None:
                new_files = _write_data_files(
                    self.spark, self.path, written, mapping=mp
                )
            else:
                new_files = self._write_checked(written, m, mp, new=rows)
            files = kept
        else:
            kept = m["files"]
            matched = match(
                self._read_entries(schema, touched, with_lineage=True, mapping=mp)
            )
            own = counts is None or callable(rows)
            if own:
                matched = matched.persist()
            try:
                if callable(rows):
                    rows = rows(matched)
                new_files = (
                    []
                    if rows is None
                    else self._write_checked(
                        rows if guard is None else guard(rows), m, mp, new=rows
                    )
                )
                positions = matched.select(
                    F.col("_dv_file").alias("_file"),
                    F.col("_dv_pos").alias("_pos"),
                )
                if own:
                    counts = {
                        r["_file"]: r["n"]
                        for r in positions.groupBy("_file")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    }
                if counts:
                    # each entry references exactly ONE consolidated
                    # vector set (readers never chain sidecars): union in
                    # the PRIOR vectors of the entries gaining positions
                    dvd = [f for f in touched if f["path"] in counts]
                    prior = sorted({p for f in dvd for p in _dv_of(f).get("paths", [])})
                    if prior:
                        positions = positions.unionByName(
                            self.spark.read.schema(_DV_SCHEMA)
                            .parquet(*[str(self.path / p) for p in prior])
                            .where(F.col("_file").isin([f["path"] for f in dvd]))
                        )
                    # one sidecar file per commit: positions are tiny next
                    # to data, and every read opens the anti-join side —
                    # inheriting the scan's partitioning would fragment it
                    dv_files = _write_data_files(
                        self.spark, self.path, positions.coalesce(1)
                    )
            finally:
                if own:
                    matched.unpersist()
            files = _attach_dv(m["files"], counts or {}, dv_files)
        version = self._commit(
            m,
            op,
            files + _stat_entries(self.path, new_files, _keys(m)[0], mp),
            schema=schema_json,
            mapping=mp,
            meta=meta,
        )
        out = {
            "version": version,
            "rewritten": 0 if vectors else len(touched),
            "kept": len(kept),
        }
        if count_key and counts is not None:
            out[count_key] = sum(counts.values())
        if vectors:
            out["dv_files"] = len(dv_files)
        return out

    def _write_schema(
        self, m: dict, df: DataFrame, merge_schema: bool, check: bool = True
    ) -> "tuple[StructType, dict[str, str]]":
        """THE schema gate of the writing verbs: the table schema and
        column mapping a write of ``df`` lands under. ``merge_schema``
        allows ADDITIVE evolution — columns only in ``df`` append as
        nullable, each with a fresh physical name under an active
        mapping; otherwise ``df`` must match the table's (name, type)
        list exactly (``check=False`` skips that for a caller that
        projects the table's columns itself)."""
        schema, mp = _schema_of(m), _mapping_of(m)
        if merge_schema:
            before = {f.name for f in schema.fields}
            schema = _evolved_schema(df, schema, self.path)
            mp = _extended_mapping(
                mp, schema, [f.name for f in schema.fields if f.name not in before]
            )
        elif check:
            _check_schema(df, schema, self.path)
        return schema, mp

    def _write_checked(
        self,
        df: DataFrame,
        m: dict,
        mp: "dict[str, str]",
        new: "DataFrame | None" = None,
    ) -> list[str]:
        """Write rows a change adds: validated against the table's CHECK
        constraints in one aggregation pass first (over ``new`` when the
        written frame also carries other rows or is re-partitioned), then
        written under the in-plan guard of :func:`_write_data_files`."""
        constraints = _constraints_of(m)
        _check_constraints(df if new is None else new, constraints)
        return _write_data_files(
            self.spark, self.path, df, constraints, mapping=mp
        )

    def layout_stats(self) -> dict:
        """Manifest-only layout health (no data or footer reads): file
        count, rows, and how many files OVERLAP another on the leading
        merge key — the number that decides whether MERGE pruning still
        works. Merges and appends accumulate small files with
        overlapping ranges; once many files cover the same key region,
        every delta touches them all. Files without key stats count as
        overlapping (they can never be pruned). Composite keys are
        measured on the leading dimension only — conservative: later
        dimensions can only prune MORE than this signal suggests."""
        m = self._manifest()
        entries = m["files"]
        spans, missing = [], 0
        for f in entries:
            lo, hi = f.get("key_min"), f.get("key_max")
            if lo is None or hi is None:
                st = (f.get("stats") or {}).get(_keys(m)[0])
                lo, hi = (st if st else (None, None))
            if lo is None or hi is None:
                missing += 1
            else:
                spans.append((lo, hi))
        spans.sort()
        overlapping = 0
        prev_hi = None
        run = False  # whether the previous file is already counted
        for lo, hi in spans:
            if prev_hi is not None and lo <= prev_hi:
                overlapping += 1 if run else 2
                run = True
            else:
                run = False
            prev_hi = hi if prev_hi is None else max(prev_hi, hi)
        overlapping += missing
        n = len(entries)
        n_phys = sum(f.get("rows", 0) for f in entries)
        n_dv = sum(_dv_of(f).get("rows", 0) for f in entries)
        return {
            "version": m["version"],
            "n_files": n,
            "n_rows": n_phys - n_dv,
            "n_dv_rows": n_dv,
            # fraction of PHYSICAL rows hidden behind deletion vectors:
            # the read-side anti-join debt compact() pays off
            "dv_fraction": (n_dv / n_phys) if n_phys else 0.0,
            "n_overlapping": overlapping,
            "overlap_fraction": (overlapping / n) if n else 0.0,
            "n_stats_missing": missing,
        }

    def maybe_compact(
        self,
        target_files: int | None = None,
        overlap_threshold: float = 0.3,
        file_factor: float = 2.0,
        dv_threshold: float = 0.2,
        cluster_by: "Sequence[str] | None" = None,
        bits: int = 8,
    ) -> "dict | None":
        """The OPTIMIZE scheduling policy: compact ONLY when the layout
        has degraded enough to pay for a full rewrite — more than
        ``overlap_threshold`` of files overlap on the merge key (MERGE
        pruning eroding), the file count exceeds ``file_factor`` ×
        ``target_files`` (small-file accumulation), or more than
        ``dv_threshold`` of physical rows hide behind deletion vectors
        (every read pays their anti-join; compaction materializes them
        away). Returns the compact receipt, or None when the layout is
        healthy — call it after every K commits (or from the commit-log
        stream) and it self-regulates; the decision reads only the
        manifest. When ONLY the vector debt tripped (layout otherwise
        healthy), the cheaper :meth:`purge_vectors` runs instead of a
        full rewrite — O(vector-carrying files), not O(table)."""
        st = self.layout_stats()
        layout_degraded = st["overlap_fraction"] > overlap_threshold or (
            target_files is not None
            and st["n_files"] > file_factor * target_files
        )
        if not layout_degraded:
            if st["dv_fraction"] > dv_threshold:
                return self.purge_vectors()
            return None
        return self.compact(
            n_files=target_files, cluster_by=cluster_by, bits=bits
        )

    def purge_vectors(self) -> "dict | None":
        """Targeted vector materialization (the ``REORG TABLE … APPLY
        (PURGE)`` analog): rewrite ONLY the deletion-vector-carrying
        files without their deleted rows and carry every clean file
        into the new snapshot untouched — O(vector-carrying files),
        where :meth:`compact` is O(table). Published as a ``compact``
        commit (the row set is unchanged, so change feeds and the cdf
        stream rightly skip it). Returns None when no entry carries a
        vector."""
        m = self._manifest()
        dvd = [f for f in m["files"] if _dv_of(f)]
        if not dvd:
            return None
        out = self._change_rows(m, "compact", dvd, False, rewrite=lambda old: old)
        return {
            "version": out["version"],
            "purged_files": out["rewritten"],
            "kept": out["kept"],
        }

    def compact(
        self,
        n_files: int | None = None,
        cluster_by: Sequence[str] | None = None,
        bits: int = 8,
    ) -> dict:
        """Rewrite the whole snapshot as ``n_files`` key-range-sorted
        files (the OPTIMIZE analog): merges and appends accumulate
        small files with overlapping key ranges, which erodes MERGE
        pruning; compaction restores narrow disjoint per-file ranges.
        Old files stay until :meth:`vacuum` (snapshot isolation).

        ``cluster_by`` switches to Z-order layout (OPTIMIZE ZORDER —
        the same Morton-key construction as
        ``TableStore._zordered``): row-group stats narrow on every
        listed column at once, at the cost of wider per-file MERGE-key
        ranges; the right trade when reads filter on non-key columns
        more often than merges land."""
        m = self._manifest()
        keys = _keys(m)
        df = self.read(m["version"])
        if cluster_by:
            from gcpde_spark.tables import TableStore

            out = TableStore._zordered(df, list(cluster_by), n_files, bits)
        else:
            out = _range_sorted(df, keys, n_files)
        mp = _mapping_of(m)
        new_files = _write_data_files(self.spark, self.path, out, mapping=mp)
        version = self._commit(
            m,
            "compact",
            _stat_entries(self.path, new_files, keys[0], mp),
            **({"clustered_by": list(cluster_by)} if cluster_by else {}),
        )
        return {
            "version": version,
            "before": len(m["files"]),
            "after": len(new_files),
        }

    # -- change feed -------------------------------------------------------

    def read_changes(
        self,
        since_version: int,
        end_version: int | None = None,
        precise: bool = False,
        preimages: bool = False,
    ) -> DataFrame:
        """Change feed over commits ``(since_version, end_version]`` —
        the incremental-consumption primitive (downstream refresh,
        CDC fan-out, streaming-source backfill) that reads only each
        commit's NEW files, never the whole table.

        Default mode is an **at-least-once upsert feed**: rows from
        files added by create/append/merge/update commits, tagged
        ``_change_type='upsert'`` and ``_commit_version``. A merge or
        update commit's rewritten files also contain untouched
        neighbor rows, so consumers must apply the feed as keyed
        upserts (idempotent — replays converge). Commits that can
        remove rows (``delete``/``overwrite``/``apply_changes``) cannot
        be expressed as upserts and raise here; ``compact`` commits are
        logical no-ops and are skipped in both modes.

        ``precise=True`` computes the exact row-level diff per commit —
        ``insert`` / ``update_postimage`` / ``delete`` — by keyed
        comparison of each commit's ADDED files against its REMOVED
        files. Both sides are the touched region only, so the cost is
        O(changed region per commit), not O(table): this is what makes
        a change feed viable on a 100 TB table where snapshot diffing
        (l38) would scan everything. ``preimages=True`` (precise mode
        only) additionally emits ``update_preimage`` rows carrying each
        updated key's OLD values — required by consumers partitioned on
        a mutable non-key column (incremental view maintenance must
        also touch the group a row left); :meth:`apply_changes` ignores
        them, so a preimage-carrying feed stays directly applicable."""
        if preimages and not precise:
            raise ValueError("preimages=True requires precise=True")
        end = self.version() if end_version is None else end_version
        if since_version > end:
            raise ValueError(f"since_version {since_version} > end {end}")
        parts: list[DataFrame] = []
        for v in range(since_version + 1, end + 1):
            m = self._manifest(v)
            op = m["op"]
            if op in ("compact", "constraints", "bloom"):
                continue  # logical no-ops: the row set is unchanged
            if op in ("rename_column", "drop_column"):
                # rows unchanged, NAMES changed: commits before this one
                # emit the old names, commits after the new — one feed
                # spanning both would union into a frankenschema whose
                # NULLs are indistinguishable from real changes (Delta's
                # CDF refuses non-additive boundaries the same way).
                raise NonAdditiveBoundaryError(
                    f"version {v} is a {op.upper()} commit — a change "
                    "feed cannot span a column rename/drop; read the "
                    f"segments separately (…, {v - 1}] and [{v}, …) or "
                    "re-seed the consumer from a snapshot"
                )
            # version 0 diffs against an empty snapshot of itself
            prev_m = self._manifest(v - 1) if v > 0 else {**m, "files": []}
            # entry identity includes the deletion-vector reference: a
            # DV delete changes a file's VISIBLE rows without changing
            # its path, so (path, dv) is what "same content" means here
            prev_ids = {_entry_id(f) for f in prev_m["files"]}
            added = [f for f in m["files"] if _entry_id(f) not in prev_ids]
            new = self._read_entries(_schema_of(m), added, mapping=_mapping_of(m))
            if not precise:
                if op in ("delete", "overwrite", "apply_changes", "restore"):
                    raise ValueError(
                        f"version {v} is a {op.upper()} commit, which can "
                        "remove rows — an upsert feed cannot express it; "
                        "use precise=True"
                    )
                parts.append(
                    new.select(
                        "*",
                        F.lit("upsert").alias("_change_type"),
                        F.lit(v).cast("int").alias("_commit_version"),
                    )
                )
                continue
            cur_ids = {_entry_id(f) for f in m["files"]}
            removed = [f for f in prev_m["files"] if _entry_id(f) not in cur_ids]
            old = self._read_entries(
                _schema_of(prev_m), removed, mapping=_mapping_of(prev_m)
            )
            parts.append(_keyed_diff(new, old, _keys(m), v, preimages))
        if not parts:
            m = self._manifest(end)
            schema = _schema_of(m)
            empty = records_to_dataframe(self.spark, [], schema)
            return empty.select(
                "*",
                F.lit("upsert").alias("_change_type"),
                F.lit(0).cast("int").alias("_commit_version"),
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def apply_changes(
        self,
        changes: DataFrame,
        meta: dict | None = None,
        merge_schema: bool = False,
    ) -> dict:
        """Apply a PRECISE change feed (the :meth:`read_changes`
        ``precise=True`` schema: table columns + ``_change_type`` +
        ``_commit_version``) in ONE atomic commit: per key the
        highest-version change wins (a feed spanning many commits may
        update then delete the same key — order matters), winners of
        type insert/update_postimage merge in, winners of type delete
        anti-join out. File targeting is the same every-key-dimension
        range prune as :meth:`merge`, so cost is O(changes + touched
        files).
        This is the write half of the CDC relay — :func:`sync_table`
        pairs it with :meth:`read_changes` for exactly-once
        incremental replication. ``merge_schema`` allows the feed to
        carry additively-evolved columns (as in :meth:`merge`).
        ``update_preimage`` rows (a ``preimages=True`` feed) are
        dropped up front: the preimage shares its key AND commit
        version with the postimage, so letting it into the
        latest-per-key window would make the winner arbitrary."""
        changes = changes.where(F.col("_change_type") != "update_preimage")
        m = self._manifest()
        keys = _keys(m)
        schema, mp = self._write_schema(
            m,
            changes.drop("_change_type", "_commit_version"),
            merge_schema,
            check=False,
        )
        w = Window.partitionBy(*keys).orderBy(F.desc("_commit_version"))
        latest = (
            changes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        latest.persist()
        try:
            n, touched = _touched_by_keys(latest, m["files"], keys, schema, mp)
            if n == 0:
                version = m["version"]
                if meta is not None:
                    # empty feed but metadata to record (sync
                    # bookkeeping): a data-free commit of the same files
                    version = self._commit(
                        m,
                        "apply_changes",
                        m["files"],
                        schema=schema.json(),
                        mapping=mp,
                        meta=meta,
                    )
                return {"version": version, "rewritten": 0, "kept": len(m["files"])}
            ups = latest.where(F.col("_change_type") != "delete").select(
                *[f.name for f in schema.fields]
            )
            dels = latest.where(F.col("_change_type") == "delete").select(*keys)
            return self._change_rows(
                m,
                "apply_changes",
                touched,
                False,
                rewrite=lambda old: merge_dataframes(
                    old.join(dels, on=keys, how="left_anti"), ups, keys
                ),
                rows=ups,
                schema=schema,
                mapping=mp,
                meta=meta,
            )
        finally:
            latest.unpersist()

    def restore(self, version: int, meta: dict | None = None) -> dict:
        """``RESTORE TABLE ... TO VERSION`` analog: publish a NEW
        commit whose file list is snapshot ``version``'s — metadata
        only, no data moves (the old files never left; manifests are
        the table). History stays intact: the bad commits remain
        readable via time travel until :meth:`vacuum`, and the restore
        itself is one more auditable commit. Raises
        :class:`TxnTableNotFound` if ``version`` was vacuumed. The
        restored SNAPSHOT is validated against the surviving CHECK
        constraints (they roll from the current base and stay active;
        reinstating pre-constraint rows unvalidated would put the table
        in silent violation of its own contract) — one scan of the
        restored files, and a violation refuses the restore."""
        cur = self._manifest()
        m = self._manifest(version)
        constraints = _constraints_of(cur)
        if constraints:
            _check_constraints(
                self._read_entries(
                    _schema_of(m), m["files"], mapping=_mapping_of(m)
                ),
                constraints,
            )
        # the version and meta roll from the CURRENT base, not the
        # restored snapshot: a restore rewinds data, never exactly-once
        # batch tracking (or a replayed stream batch would re-apply after
        # a rollback); the mapping travels WITH the schema it names
        # (restoring a pre-rename snapshot restores its logical names too)
        new = self._commit(
            cur,
            "restore",
            m["files"],
            schema=m["schema"],
            mapping=_mapping_of(m),
            keys=_keys(m),
            meta=meta,
            restored_from=version,
        )
        return {"version": new, "restored_from": version}

    # -- maintenance -------------------------------------------------------

    def clone(self, dest: str, version: int | None = None) -> "TxnTable":
        """Zero-copy branch (shallow CLONE): hard-link the snapshot's
        data files into a NEW independent table whose history starts at
        version 0. No data is read or copied — O(file count) metadata,
        the same ``link(2)`` mechanism as catalog publication. Safe
        because the format is copy-on-write: neither table ever
        modifies a shared file in place, they diverge by writing new
        files, and a ``vacuum`` on either side only unlinks its own
        NAME — the shared inode survives for the other. The clone's
        create commit records its lineage in ``meta`` (and drops any
        exactly-once stream/sync tracking inherited from the source,
        which would otherwise suppress re-delivery into the branch)."""
        m = self._manifest(version)
        dp = Path(dest)
        log = dp / _LOG_DIR
        log.mkdir(parents=True, exist_ok=True)
        if any(q.stem.isdigit() for q in log.glob("*.json")):
            raise ValueError(f"transactional table already exists at {dest}")
        for f in m["files"]:
            for rel in [f["path"], *_dv_of(f).get("paths", [])]:
                target = dp / rel
                target.parent.mkdir(parents=True, exist_ok=True)
                if not target.exists():
                    os.link(self.path / rel, target)
        meta = {
            "cloned_from": str(self.path),
            "cloned_version": m["version"],
            # constraints are TABLE semantics and follow the branch;
            # stream/sync batch tracking does not (see docstring)
            **(
                {_CONSTRAINTS_KEY: (m.get("meta") or {})[_CONSTRAINTS_KEY]}
                if _CONSTRAINTS_KEY in (m.get("meta") or {})
                else {}
            ),
        }
        _publish(
            dp,
            0,
            _new_manifest(
                0, "create", _keys(m), m["schema"], m["files"], _mapping_of(m), meta
            ),
            backend=self.commit_backend,
        )
        return TxnTable(self.spark, dest, commit_backend=self.commit_backend)

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Delete data files referenced by NO retained manifest and
        prune the manifest log to the newest ``keep_last`` versions.
        Returns the deleted file paths. Readers of vacuumed snapshots
        fail — retention is the snapshot-isolation window, exactly as
        in Delta/Iceberg."""
        versions = sorted(self._versions())
        keep = set(versions[-keep_last:])
        live: set[str] = set()
        for v in keep:
            for f in self._manifest(v)["files"]:
                live.add(f["path"])
                live.update(_dv_of(f).get("paths", []))
        deleted = []
        data_root = self.path / _DATA_DIR
        for f in sorted(data_root.rglob("*.parquet")):
            rel = str(f.relative_to(self.path))
            if rel not in live:
                f.unlink()
                deleted.append(rel)
        for v in versions:
            if v not in keep:
                (self.path / _LOG_DIR / _mname(v)).unlink()
        return deleted

    # -- internals ---------------------------------------------------------

    def _versions(self) -> list[int]:
        return _list_versions(self.path)

    def _manifest(self, version: int | None = None) -> dict:
        """The manifest at ``version`` (default: the latest). Its
        ``version`` field is the log position it was loaded from — the
        number every commit built on it must follow."""
        v = self.version() if version is None else version
        return {**_load_manifest(self.path, v), "version": v}


def sync_table(
    spark: SparkSession,
    src: TxnTable,
    dst_path: str,
    meta_key: str = "cdc_src_version",
    attempts: int = 3,
) -> dict:
    """EXACTLY-once incremental replication: bring the table at
    ``dst_path`` up to ``src``'s current snapshot by applying only the
    PRECISE change feed since the last synced source version (recorded
    in the destination's commit metadata — the same transactional
    batch-id tracking as the streaming CDC sink). Each call is one
    atomic destination commit; replays and concurrent syncs are
    detected by the recorded version and skipped. Cost per call is
    O(changes since last sync + touched destination files) — the
    incremental-materialized-view primitive: a 100 TB mirror follows a
    busy source for the price of its deltas, never a table rewrite.

    First call (no destination yet) seeds a full copy. If the source
    was vacuumed past the last synced version (retention shorter than
    sync lag), the feed is unreadable and the sync falls back to one
    full :meth:`TxnTable.overwrite` resync — loud in the returned
    ``mode``, never silent. Additive source schema evolution flows
    through incrementally; non-additive drift raises."""
    cur = src.version()
    try:
        dst = TxnTable(spark, dst_path)
    except TxnTableNotFound:
        m = src._manifest(cur)
        TxnTable.create(
            spark,
            dst_path,
            src.read(cur),
            key_field=_keys(m),
            meta={meta_key: cur},
        )
        return {"mode": "full", "synced_to": cur}
    last_err: ConcurrentCommitError | None = None
    for _ in range(attempts):
        last = dst.last_meta_value(meta_key)
        if last is None:
            raise ValueError(
                f"{dst_path} carries no {meta_key!r} commit metadata — "
                "it was not created by sync_table for this source"
            )
        if last >= cur:
            return {"mode": "noop", "synced_to": last}
        try:
            changes = src.read_changes(last, end_version=cur, precise=True)
        except TxnTableNotFound:
            try:
                dst.overwrite(
                    src.read(cur), meta={meta_key: cur}, merge_schema=True
                )
                return {"mode": "full", "synced_to": cur}
            except ConcurrentCommitError as exc:
                last_err = exc
                continue
        try:
            res = dst.apply_changes(
                changes, meta={meta_key: cur}, merge_schema=True
            )
            return {"mode": "incremental", "synced_to": cur, **res}
        except ConcurrentCommitError as exc:
            last_err = exc
            continue
    raise last_err  # type: ignore[misc]


class TxnMergeBackend(MergeIntoBackend):
    """The :class:`gcpde_spark.tables.MergeIntoBackend` seam REALIZED
    with :class:`TxnTable` — attach it and ``TableStore.
    upsert_table_df`` gets O(delta + rewritten files) transactional
    MERGE instead of the parquet full-swap::

        store.merge_backend = TxnMergeBackend("/lake/txn")
        store.upsert_table_df("ds", "t", delta, "id")   # file-pruned
        store.query("SELECT * FROM ds.t")               # sees the commit

    Catalog publication: after each commit the backend builds a
    hardlink snapshot directory (one ``link(2)`` per live data file —
    metadata-only, O(file count), no data copied) and points the
    catalog's external parquet table at it. Readers of the PREVIOUS
    snapshot directory keep working while it exists
    (``keep_snapshots`` retention); hardlinks keep inodes alive even
    after :meth:`TxnTable.vacuum` unlinks the data path. On object
    stores this directory becomes a manifest/symlink listing (the
    Delta "symlink format manifest" trick for external readers) —
    same shape, same cost.
    """

    def __init__(
        self,
        root: str,
        attempts: int = 3,
        keep_snapshots: int = 2,
        vacuum_keep: int | None = None,
    ):
        """``vacuum_keep`` (versions to retain) enables auto-vacuum
        after each publish — the retention policy a steady-state
        ingest needs so storage tracks the live table, not its
        history. Catalog readers stay safe regardless: the published
        hardlink snapshots keep their inodes alive after the data
        paths are unlinked."""
        self.root = Path(root)
        self.attempts = attempts
        self.keep_snapshots = max(1, keep_snapshots)
        self.vacuum_keep = vacuum_keep

    def merge_into(
        self,
        spark: SparkSession,
        dataset: str,
        table: str,
        source: DataFrame,
        key_fields: list[str],
    ) -> None:
        path = self.root / dataset / table
        try:
            t = TxnTable(spark, str(path))
        except TxnTableNotFound:
            try:
                t = TxnTable.create(
                    spark, str(path), source, key_field=list(key_fields)
                )
            except ConcurrentCommitError:
                # a racing creator published version 0 first — the
                # table now exists, so this delta merges instead
                t = TxnTable(spark, str(path))
                t.merge_with_retry(source, attempts=self.attempts)
        else:
            t.merge_with_retry(source, attempts=self.attempts)
        self._publish_catalog(spark, t, dataset, table)
        if self.vacuum_keep is not None:
            t.vacuum(keep_last=self.vacuum_keep)

    def table(self, spark: SparkSession, dataset: str, table: str) -> TxnTable:
        """The underlying TxnTable (history, time travel, vacuum)."""
        return TxnTable(spark, str(self.root / dataset / table))

    def _publish_catalog(
        self, spark: SparkSession, t: TxnTable, dataset: str, table: str
    ) -> None:
        v = t.version()
        m = t._manifest(v)
        snap = t.path / f"_snapshot-v{v:020d}"
        if not snap.exists():
            tmp = t.path / f".snap-tmp-{uuid.uuid4().hex}"
            tmp.mkdir()
            mp = _mapping_of(m)
            # an external-table reader resolves columns by the file's
            # own names and cannot anti-join sidecars: under an active
            # column mapping EVERY file materializes through the logical
            # rename (zero-copy publication is an identity-mapping
            # perk), and vector-carrying files always materialize
            dvd = (
                list(m["files"])
                if mp
                else [f for f in m["files"] if _dv_of(f)]
            )
            if not mp:
                for i, f in enumerate(m["files"]):
                    if not _dv_of(f):
                        os.link(
                            t.path / f["path"], tmp / f"part-{i:05d}.parquet"
                        )
            if dvd:
                # Spark's part names never collide with the 5-digit
                # links above
                schema = _schema_of(m)
                t._read_entries(schema, dvd, mapping=mp).write.mode(
                    "append"
                ).parquet(str(tmp))
            try:
                os.rename(tmp, snap)
            except OSError:
                shutil.rmtree(tmp)  # a racing publisher built the same
                # snapshot of the same immutable manifest — reuse it
        qual = f"`{dataset}`.`{table}`"
        name = f"{dataset}.{table}"
        loc = snap.resolve().as_uri()
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{dataset}`")
        schema = _schema_of(m)
        same_schema = spark.catalog.tableExists(name) and [
            (f.name, f.dataType) for f in spark.table(qual).schema.fields
        ] == [(f.name, f.dataType) for f in schema.fields]
        if same_schema:
            spark.sql(f"ALTER TABLE {qual} SET LOCATION '{loc}'")
            spark.catalog.refreshTable(name)
        else:
            # first publish, or the schema evolved: recreate the
            # EXTERNAL table (metadata only; no data touched)
            spark.sql(f"DROP TABLE IF EXISTS {qual}")
            spark.sql(f"CREATE TABLE {qual} USING PARQUET LOCATION '{loc}'")
        for d in sorted(t.path.glob("_snapshot-v*"))[: -self.keep_snapshots]:
            shutil.rmtree(d)


def _touched_by_keys(
    df: DataFrame,
    files: list[dict],
    keys: list[str],
    schema: StructType,
    mapping: "dict[str, str]",
) -> "tuple[int, list[dict]]":
    """``(rows, touched)``: ``df``'s row count and the files that could
    hold one of its key tuples, from ONE aggregation of its per-key
    [min, max] — the free targeting of merge and apply_changes. A tuple
    matches only if EVERY dimension matches, so a file disjoint from the
    delta's range on ANY key dimension is safely skipped — at two+ key
    columns this prunes strictly better than the leading key alone (a
    low-cardinality leading key leaves the later dimensions to do the
    real pruning). The disjointness test itself is
    :func:`_prune_by_ranges` — ONE authoritative predicate shared with
    ``read(ranges=)``, conservative on missing stats and legacy
    manifests. When every row's LEADING key is NULL nothing is touched:
    NULL never equals a stored key, so all rows insert (the same outcome
    a null-key row gets when a non-null sibling key forces the rewrite
    path; consistent, no silent drop)."""
    bounds = df.agg(
        *[F.min(k).alias(f"lo{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"hi{i}") for i, k in enumerate(keys)],
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if bounds["n"] == 0 or bounds["lo0"] is None:
        return bounds["n"], []
    ranges = {
        k: (bounds[f"lo{i}"], bounds[f"hi{i}"])
        for i, k in enumerate(keys)
        if bounds[f"lo{i}"] is not None
    }
    return bounds["n"], _prune_by_ranges(files, ranges, keys[0], schema, mapping)


def _rolled_meta(base_manifest: dict, meta: "dict | None") -> "dict | None":
    """Application metadata is TABLE state, not commit trivia: every
    commit carries the previous manifest's meta forward, overlaid with
    its own. This is what makes ``last_meta_value`` vacuum-safe — the
    newest manifest alone holds the full map, so pruning history (or a
    meta-less compact/maintenance commit in between) can never erase
    exactly-once batch-id tracking (the Delta txn-appId construction).
    """
    rolled = dict(base_manifest.get("meta") or {})
    if meta:
        rolled.update(meta)
    return rolled or None


def _new_manifest(
    version: int,
    op: str,
    keys: "list[str]",
    schema: str,
    files: "list[dict]",
    mapping: "dict[str, str] | None" = None,
    meta: "dict | None" = None,
    **extra: Any,
) -> dict:
    """THE manifest builder every commit goes through (the TxnTable
    verbs, ``create``/``clone``, the ``gcpde_txn`` SQL writer): the
    fields every snapshot carries, the column mapping only while one is
    active (unmapped tables stay readable by format-v1 readers),
    ``meta`` only when non-empty, plus op-specific ``extra`` fields
    (``restored_from``, ``clustered_by``). :func:`_publish` stamps
    ``ts``, ``format_version``, ``commit_id`` and bloom filters."""
    manifest = {
        "version": version,
        "op": op,
        "key_field": keys[0],
        "key_fields": keys,
        "schema": schema,
        "files": files,
        **({"column_mapping": mapping} if mapping else {}),
        **extra,
    }
    if meta:
        manifest["meta"] = meta
    return manifest


def _schema_of(m: dict) -> StructType:
    return StructType.fromJson(json.loads(m["schema"]))


def _range_sorted(df: DataFrame, keys: "list[str]", n_files: "int | None") -> DataFrame:
    """``df`` range-partitioned on the merge key (``n_files`` pins the
    partition count): narrow, disjoint per-file key ranges are what
    MERGE's file pruning feeds on."""
    if n_files:
        return df.repartitionByRange(n_files, *keys)
    return df.repartitionByRange(*keys)


def _match_cond(predicate: "Column | str") -> Column:
    """A DELETE/UPDATE predicate under SQL ternary semantics: NULL
    never matches."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    return F.coalesce(pred, F.lit(False))


def _keys(m: dict) -> list[str]:
    """Merge-key list from a manifest (legacy manifests carry only the
    single ``key_field``)."""
    return m.get("key_fields") or [m["key_field"]]


def _evolved_schema(
    df: DataFrame, schema: StructType, path: Path
) -> StructType:
    """Additive-evolution gate: every existing column must be present
    at its existing type; columns only in ``df`` append as nullable."""
    tnames = {f.name: f for f in schema.fields}
    snames = {f.name: f for f in df.schema.fields}
    missing = [n for n in tnames if n not in snames]
    retyped = [
        n
        for n, f in tnames.items()
        if n in snames and snames[n].dataType != f.dataType
    ]
    if missing or retyped:
        raise SchemaMismatchException(
            f"additive schema evolution at {path} requires every existing "
            f"column at its existing type (missing: {missing}, "
            f"retyped: {retyped})",
            df.schema,
            schema,
        )
    new = [
        StructField(f.name, f.dataType, True)
        for f in df.schema.fields
        if f.name not in tnames
    ]
    _check_reserved([f.name for f in new], path)
    return StructType(list(schema.fields) + new)


def _keyed_diff(
    new: DataFrame,
    old: DataFrame,
    keys: list[str],
    version: int,
    preimages: bool = False,
) -> DataFrame:
    """Exact change rows between one commit's added files (``new``) and
    its removed files (``old``): full outer join on the merge key over
    the touched region only. Rows present on both sides with identical
    content are rewritten-but-unchanged neighbors and are dropped.
    ``preimages`` additionally emits an ``update_preimage`` row (the
    OLD values) for every ``update_postimage`` — what a consumer needs
    when a changed non-key column drives its own partitioning (e.g.
    incremental view maintenance must touch the group a row LEFT, not
    just the one it entered). Columns the old schema lacks (or that
    only the old schema had, after a restore) surface as NULL: the feed
    schema is always the commit's NEW schema."""
    non_keys_old = [c for c in old.columns if c not in keys]
    o = old.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_old_{c}") for c in non_keys_old],
        F.lit(1).alias("_in_old"),
    )
    n = new.select("*", F.lit(1).alias("_in_new"))
    j = n.join(o, on=keys, how="full")
    shared = [c for c in non_keys_old if c in new.columns]
    same = F.lit(True)
    for c in shared:
        same = same & F.col(c).eqNullSafe(F.col(f"_old_{c}"))
    for c in new.columns:
        if c not in keys and f"_old_{c}" not in o.columns:
            # column added by schema evolution: the old side is
            # implicitly NULL, so a non-null new value IS a change even
            # when every shared column matched
            same = same & F.col(c).isNull()
    for c in non_keys_old:
        if c not in new.columns:
            # column present only on the old side (a restore to a
            # pre-evolution schema): losing a non-null value is a change
            same = same & F.col(f"_old_{c}").isNull()
    j = j.withColumn(
        "_change_type",
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(~same, F.lit("update_postimage")),
    ).where(F.col("_change_type").isNotNull())
    out_cols = []
    for c in new.columns:
        if c not in keys and f"_old_{c}" in j.columns:
            # deletes carry the old row's values (new side is all-null)
            out_cols.append(
                F.when(
                    F.col("_change_type") == "delete", F.col(f"_old_{c}")
                )
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out_cols.append(F.col(c).alias(c))
    out = j.select(
        *out_cols,
        "_change_type",
        F.lit(version).cast("int").alias("_commit_version"),
    )
    if not preimages:
        return out
    pre_cols = []
    for f in new.schema.fields:
        if f.name in keys:
            pre_cols.append(F.col(f.name).alias(f.name))
        elif f"_old_{f.name}" in j.columns:
            pre_cols.append(F.col(f"_old_{f.name}").alias(f.name))
        else:  # column added by evolution: no old value existed
            pre_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    pre = j.where(F.col("_change_type") == "update_postimage").select(
        *pre_cols,
        F.lit("update_preimage").alias("_change_type"),
        F.lit(version).cast("int").alias("_commit_version"),
    )
    return out.unionByName(pre)


def _mname(version: int) -> str:
    return f"{version:020d}.json"


def _list_versions(root: Path) -> list[int]:
    """Manifest versions present at ``root`` (vacuum may have pruned a
    prefix). Raises :class:`TxnTableNotFound` on an empty log — the one
    error type every consumer (batch reads, sync, the streaming
    source) keys its fallback behavior on."""
    vs = [
        int(p.stem)
        for p in (root / _LOG_DIR).glob("*.json")
        if p.stem.isdigit()
    ]
    if not vs:
        raise TxnTableNotFound(f"empty commit log at {root}")
    return vs


def _load_manifest(root: Path, version: int) -> dict:
    p = root / _LOG_DIR / _mname(version)
    if not p.exists():
        raise TxnTableNotFound(f"version {version} not found at {root}")
    m = json.loads(p.read_text())
    fv = m.get("format_version", 1)
    if fv > _FORMAT_VERSION:
        # a future writer may record invariants this reader cannot see
        # (e.g. a new row-invalidity mechanism like deletion vectors) —
        # reading anyway could silently return wrong rows. Delta calls
        # this the protocol version gate; refuse loudly instead.
        raise ValueError(
            f"manifest {p} has format_version {fv}, newer than this "
            f"reader's {_FORMAT_VERSION} — upgrade the library; "
            "docs/txn_format.md documents the format evolution contract"
        )
    return m


def _check_schema(df: DataFrame, schema: StructType, path: Path) -> None:
    """Structural (name, type) equality gate, nullability-insensitive —
    the same pre-MERGE contract as gcpde/bq.py:523-531."""
    if [(f.name, f.dataType) for f in df.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        raise SchemaMismatchException(
            f"source schema != table schema at {path}", df.schema, schema
        )


def _write_data_files(
    spark: SparkSession,
    root: Path,
    df: DataFrame,
    constraints: "dict[str, str] | None" = None,
    mapping: "dict[str, str] | None" = None,
) -> list[str]:
    """Write ``df`` as immutable parquet files under a fresh commit
    subdirectory; returns table-relative paths. Files are never moved
    or modified after this — manifests only reference them. Timestamps
    are forced to TIMESTAMP_MICROS: Spark's default INT96 encoding
    carries NO usable footer min/max (the stats are deprecated in the
    format), which would silently exclude timestamp columns — the most
    common range predicate — from manifest pruning.

    ``constraints`` installs an IN-PLAN assert on every written row
    (Delta's invariant construction): the pre-write validation agg runs
    as a SEPARATE job, so a source whose re-computation differs between
    jobs (non-deterministic UDF, concurrently-growing input dir) could
    pass validation yet materialize violating rows — this guard throws
    INSIDE the write job instead, before any commit publishes. Zero
    extra jobs; the write fails loudly and the orphaned files fall to
    vacuum."""
    if constraints:
        ok = F.lit(True)
        for sql in constraints.values():
            ok = ok & F.coalesce(F.expr(sql), F.lit(True))
        msg = (
            "CHECK constraint violated at write time (source re-computed "
            "differently than at validation): "
            + ", ".join(sorted(constraints))
        )
        df = df.where(F.coalesce(F.assert_true(ok, F.lit(msg)), F.lit(True)))
    if mapping:
        # constraints above reference LOGICAL names; the physical
        # rename is the last thing before bytes hit disk
        df = _to_physical(df, mapping)
    sub = f"{_DATA_DIR}/{uuid.uuid4().hex[:12]}"
    out = root / sub
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        df.write.parquet(str(out))
    finally:
        # restore races among concurrent writers are benign: the value
        # only affects whether footers carry stats, and missing stats
        # degrade to conservative (no-prune), never unsound
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return [
        f"{sub}/{p.name}"
        for p in sorted(out.glob("*.parquet"))
    ]


def _stat_entries(
    root: Path,
    rel_files: list[str],
    key_field: str,
    mapping: "dict[str, str] | None" = None,
) -> list[dict]:
    """Entries' ``stats`` are keyed by the footer's PHYSICAL names —
    stable forever because files are immutable — and readers translate
    through the manifest's current mapping at prune time."""
    entries = []
    for rel in rel_files:
        stats, rows = _file_stats(str(root / rel))
        key = stats.get(_phys(mapping or {}, key_field))
        entries.append(
            {
                "path": rel,
                "rows": rows,
                "key_min": key[0] if key else None,
                "key_max": key[1] if key else None,
                "stats": stats,
            }
        )
    return entries


def _prune_by_ranges(
    entries: list[dict],
    ranges: "dict[str, tuple[Any, Any]]",
    key_field: str | None = None,
    schema: StructType | None = None,
    mapping: "dict[str, str] | None" = None,
) -> list[dict]:
    """Data skipping: drop manifest entries whose per-column [min, max]
    cannot intersect every requested range (``None`` bound = open).
    A file without stats for a column is always KEPT — pruning is
    conservative, never lossy. ``key_field`` names the column whose
    bounds also live in the legacy ``key_min``/``key_max`` fields
    (pre-stats manifests). ``schema`` enables the type-aware bound
    normalization of :func:`_norm_bound` (date/timestamp soundness);
    bounds are normalized ONCE here, not per file."""
    fields = {f.name: f.dataType for f in schema.fields} if schema else {}
    norm: dict[str, tuple[Any, Any]] = {}
    for col, (lo, hi) in ranges.items():
        dtype = fields.get(col)
        if dtype is not None:
            norm[col] = (_norm_bound(lo, dtype), _norm_bound(hi, dtype))
        else:
            norm[col] = (_stat_repr(lo), _stat_repr(hi))
    out = []
    for f in entries:
        keep = True
        for col, (lo, hi) in norm.items():
            st = (f.get("stats") or {}).get(_phys(mapping or {}, col))
            if st is None and col == key_field:
                st = [f.get("key_min"), f.get("key_max")]
            if st is None or st[0] is None or st[1] is None:
                continue
            mn, mx = st
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                keep = False
                break
        if keep:
            out.append(f)
    return out




def _pruned_entries(
    m: dict,
    schema: StructType,
    key_range: "tuple[Any, Any] | None" = None,
    ranges: "dict[str, tuple[Any, Any]] | None" = None,
    eq: "dict[str, Any] | None" = None,
) -> "tuple[list[dict], dict[str, tuple[Any, Any]]]":
    """The manifest-level data-skipping core shared by
    :meth:`TxnTable.read_with_receipt` and the ``gcpde_txn`` batch
    DataSource (gcpde_spark/txn_source.py): intersect every bound
    naming one column, prune file entries by per-column [min, max]
    stats and (for ``eq``) Bloom indexes. Returns the surviving
    entries plus the intersected ranges for the caller's residual row
    filter — pruning alone is a superset, never the exact answer."""
    field_types = {f.name: f.dataType for f in schema.fields}

    def _tighten(acc: dict, col: str, rng: "tuple[Any, Any]") -> None:
        # a column named by more than one of ranges/eq/key_range
        # gets the INTERSECTION — silently replacing one request
        # with another returned rows satisfying neither (prune used
        # eq while the row filter used the range). Bounds are
        # compared through _norm_bound so mixed representations of
        # the same column (naive vs tz-aware datetime on TIMESTAMP,
        # date vs datetime on DATE) intersect on the SAME semantics
        # the pruner applies, instead of raising TypeError or
        # picking the wall-clock-wrong endpoint; the RAW winning
        # value is kept, because the caller's residual row filter
        # hands it to Spark as a typed literal.
        if col not in acc:
            acc[col] = rng
            return
        dtype = field_types.get(col)

        def norm(x: Any) -> Any:
            return x if dtype is None else _norm_bound(x, dtype)

        (alo, ahi), (blo, bhi) = acc[col], rng
        if alo is None:
            lo = blo
        elif blo is None:
            lo = alo
        else:
            lo = alo if norm(alo) >= norm(blo) else blo
        if ahi is None:
            hi = bhi
        elif bhi is None:
            hi = ahi
        else:
            hi = ahi if norm(ahi) <= norm(bhi) else bhi
        acc[col] = (lo, hi)

    all_ranges: "dict[str, tuple[Any, Any]]" = {}
    for col, rng in (ranges or {}).items():
        _tighten(all_ranges, col, rng)
    for col, v in (eq or {}).items():
        if v is None:
            raise ValueError(
                f"eq[{col!r}] is NULL — SQL equality never matches NULL"
            )
        _tighten(all_ranges, col, (v, v))
    if key_range is not None:
        _tighten(all_ranges, _keys(m)[0], key_range)
    entries = m["files"]
    mp = _mapping_of(m)
    if all_ranges:
        entries = _prune_by_ranges(
            entries, all_ranges, _keys(m)[0], schema, mp
        )
    if eq:
        entries = _prune_by_bloom(entries, eq, schema, mp)
    return entries, all_ranges


def _publish(
    root: Path,
    version: int,
    manifest: dict,
    backend: "CommitBackend | None" = None,
) -> None:
    """Atomically publish a manifest through the commit arbitration
    ``backend`` (default: the process-wide one — POSIX ``link(2)``):
    exactly one of N racing writers creates the version's manifest
    object; the rest raise :class:`ConcurrentCommitError`. The manifest
    is stamped with a ``commit_id`` UUID so object-store backends can
    resolve ambiguous (applied-then-timed-out) outcomes by read-back —
    see :mod:`gcpde_spark.commit_backend`. Either way the manifest is
    fully visible or absent, never partial."""
    log = root / _LOG_DIR
    # commit wall-clock at the single publish choke point — what
    # timestamp time travel (version_at) resolves against
    manifest.setdefault("ts", time.time())
    # publish the LOWEST format version the manifest actually needs, so
    # unmapped tables stay readable by v1 readers forever
    manifest.setdefault(
        "format_version", 2 if manifest.get("column_mapping") else 1
    )
    # bloom indexing at the same choke point: cfg rides the rolled
    # commit meta, so every verb inherits it without knowing it exists;
    # only entries MISSING a bloom compute one (carried-over COW entries
    # keep theirs — immutable files, immutable filters). Driver-side per
    # new file, same note as _file_stats: distribute at huge file counts.
    cfg = _bloom_of(manifest)
    if cfg and cfg.get("cols"):
        mp = _mapping_of(manifest)
        phys_cols = [_phys(mp, c) for c in cfg["cols"]]
        for e in manifest.get("files") or []:
            # per-COLUMN backfill: re-enabling with different columns
            # (or enabling after files already carry filters for the
            # old set) must index the new ones too; columns already
            # decided — a filter OR an explicit None marker — are never
            # re-read
            have = e.get("bloom") or {}
            needed = [c for c in phys_cols if c not in have]
            if needed:
                e["bloom"] = {
                    **have,
                    **_bloom_build(
                        str(root / e["path"]), needed, float(cfg["fpp"])
                    ),
                }
    manifest.setdefault("commit_id", uuid.uuid4().hex)
    (backend or _COMMIT_BACKEND).publish(
        log / _mname(version),
        json.dumps(manifest).encode("utf-8"),
        manifest["commit_id"],
    )
