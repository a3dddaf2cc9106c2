"""Transactional copy-on-write tables (gcpde_spark/txn.py): snapshot
isolation, atomic conflict-detecting commits, file-pruned MERGE cost,
time travel, vacuum."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from gcpde_spark.errors import SchemaMismatchException
from gcpde_spark.txn import (
    ConcurrentCommitError,
    TxnTable,
    TxnTableNotFound,
    _mname,
)


def _mk(spark, path, n=1000):
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("v")
    )
    return TxnTable.create(spark, str(path), df, key_field="id")


def test_create_read_roundtrip_and_history(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=100)
    got = {(r.id, r.v) for r in t.read().collect()}
    assert got == {(i, str(i % 7)) for i in range(100)}
    h = t.history()
    assert h[0]["version"] == 0 and h[0]["op"] == "create"
    assert h[0]["n_rows"] == 100
    with pytest.raises(TxnTableNotFound):
        TxnTable(spark, str(tmp_path / "missing"))


def test_merge_updates_inserts_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    delta = spark.createDataFrame(
        [(3, "UPDATED"), (99, "NEW")], "id long, v string"
    )
    res = t.merge(delta)
    assert res["version"] == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert got[3] == "UPDATED" and got[99] == "NEW" and len(got) == 11
    assert got[4] == "4"  # untouched row intact
    # time travel: version 0 still shows the pre-merge snapshot
    old = {r.id: r.v for r in t.read(version=0).collect()}
    assert old[3] == "3" and 99 not in old and len(old) == 10


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_guards_duplicate_keys_outside_every_file_range(
    spark, tmp_path, strategy
):
    """A delta no file's key range overlaps is a pure insert; MERGE's
    duplicate-key guard applies to it as to any other delta."""
    t = _mk(spark, tmp_path / "t", n=10)
    dup = spark.createDataFrame([(100, "a"), (100, "b")], "id long, v string")
    with pytest.raises(Exception, match="merge source has duplicate keys"):
        t.merge(dup, strategy=strategy)
    assert t.version() == 0
    t.merge(dup, strategy=strategy, on_duplicate_keys="keep")
    got = sorted((r.id, r.v) for r in t.read().where("id = 100").collect())
    assert got == [(100, "a"), (100, "b")]
    assert t.read().count() == 12


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_null_keys_are_never_duplicates(spark, tmp_path, strategy):
    """NULL keys match no stored row, so NULL-keyed source rows insert
    on every path, also when a non-null sibling touches a file."""
    t = _mk(spark, tmp_path / "t", n=10)
    delta = spark.createDataFrame(
        [(None, "n1"), (None, "n2"), (3, "UPD")], "id long, v string"
    )
    t.merge(delta, strategy=strategy)
    rows = t.read().collect()
    assert sorted(r.v for r in rows if r.id is None) == ["n1", "n2"]
    assert {r.v for r in rows if r.id == 3} == {"UPD"} and len(rows) == 12


def test_merge_rewrites_only_overlapping_files(spark, tmp_path):
    """The scale contract: a 1-key delta into a key-sorted table must
    rewrite only the file(s) whose key range covers it — every other
    data file carries into the new snapshot byte-identical (same path,
    same mtime: copy-on-write, not copy-everything)."""
    df = spark.range(10_000).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field="id", n_files=8
    )
    m0 = t._manifest(0)
    assert len(m0["files"]) >= 4  # pruning needs multiple ranged files
    before = {
        f["path"]: os.path.getmtime(tmp_path / "t" / f["path"])
        for f in m0["files"]
    }
    res = t.merge(
        spark.createDataFrame([(5, "X")], "id long, v string")
    )
    assert res["rewritten"] == 1
    assert res["kept"] == len(m0["files"]) - 1
    m1 = t._manifest(1)
    carried = [f["path"] for f in m1["files"] if f["path"] in before]
    assert len(carried) == len(m0["files"]) - 1
    for p in carried:  # carried files untouched on disk
        assert os.path.getmtime(tmp_path / "t" / p) == before[p]
    got = {r.id: r.v for r in t.read().collect()}
    assert got[5] == "X" and got[6] == "6" and len(got) == 10_000


def test_concurrent_commit_single_winner(spark, tmp_path, monkeypatch):
    """Two writers racing to the same version: the os.link publish gives
    exactly one winner; the loser gets ConcurrentCommitError and can
    re-read + re-merge."""
    import gcpde_spark.txn as txn

    t = _mk(spark, tmp_path / "t", n=10)
    # interleave: just before OUR publish of version 1, the rival
    # publishes it first (patch the version resolver to return the
    # stale base the loser actually read)
    real_publish = txn._publish
    log = tmp_path / "t" / "_txn_log"

    def rival_wins_first(root, version, manifest, backend=None):
        if version == 1 and not (log / _mname(1)).exists():
            (log / _mname(1)).write_text((log / _mname(0)).read_text())
        real_publish(root, version, manifest, backend=backend)

    monkeypatch.setattr(txn, "_publish", rival_wins_first)
    with pytest.raises(ConcurrentCommitError):
        t.merge(spark.createDataFrame([(2, "B")], "id long, v string"))
    # the rival's commit is intact and the loser can retry cleanly
    monkeypatch.setattr(txn, "_publish", real_publish)
    res = t.merge(spark.createDataFrame([(2, "B")], "id long, v string"))
    assert res["version"] == 2
    assert {r.v for r in t.read().collect() if r.id == 2} == {"B"}


def test_merge_with_retry_recovers_from_a_lost_race(spark, tmp_path, monkeypatch):
    """The optimistic loop: lose the commit race once, re-read the
    rival's snapshot, re-apply, win — final table contains BOTH
    writers' deltas with the retrier's rows winning on its keys."""
    import gcpde_spark.txn as txn

    t = _mk(spark, tmp_path / "t", n=10)
    log = tmp_path / "t" / "_txn_log"
    real_publish = txn._publish
    raced = {"done": False}

    def rival_once(root, version, manifest, backend=None):
        if not raced["done"] and not (log / _mname(version)).exists():
            raced["done"] = True
            # rival commits id=5 -> "RIVAL" at this version first
            rival = TxnTable(spark, str(tmp_path / "t"))
            real_publish_backup = txn._publish
            txn._publish = real_publish
            try:
                rival.merge(
                    spark.createDataFrame([(5, "RIVAL")], "id long, v string")
                )
            finally:
                txn._publish = real_publish_backup
        real_publish(root, version, manifest, backend=backend)

    monkeypatch.setattr(txn, "_publish", rival_once)
    res = t.merge_with_retry(
        spark.createDataFrame([(1, "MINE"), (5, "MINE-5")], "id long, v string")
    )
    monkeypatch.setattr(txn, "_publish", real_publish)
    assert res["version"] == 2  # rival took 1, retry landed on 2
    got = {r.id: r.v for r in t.read().collect()}
    assert got[1] == "MINE" and got[5] == "MINE-5"  # retrier wins its keys
    assert len(got) == 10


def test_merge_schema_gate_and_empty_delta(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    bad = spark.createDataFrame([(1, 2)], "id long, other long")
    with pytest.raises(SchemaMismatchException):
        t.merge(bad)
    empty = spark.createDataFrame([], "id long, v string")
    res = t.merge(empty)
    assert res == {"version": 0, "rewritten": 0, "kept": res["kept"]}
    assert t.version() == 0  # no new version for a no-op


def test_append_is_rewrite_free_and_compact_restores_pruning(spark, tmp_path):
    """append adds files without touching existing ones (O(delta)
    always); after appends erode the key-range layout, compact rewrites
    one range-sorted snapshot so point-delta merges prune again."""
    df = spark.range(1000).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field="id", n_files=4
    )
    before = {f["path"] for f in t._manifest(0)["files"]}
    res = t.append(
        spark.createDataFrame([(2000, "x"), (1, "dup-key-ok")], "id long, v string")
    )
    assert res["version"] == 1 and res["added"] >= 1
    m1 = t._manifest(1)
    assert before <= {f["path"] for f in m1["files"]}  # old files carried
    assert t.read().count() == 1002  # append does NOT dedup (documented)
    # appended file spans the key space -> a point merge now touches it
    # AND the covering created file; compact restores disjoint ranges
    t.compact(n_files=4)
    res2 = t.merge(spark.createDataFrame([(500, "Y")], "id long, v string"))
    assert res2["rewritten"] == 1 and res2["kept"] == 3
    # schema gate applies to append too
    with pytest.raises(SchemaMismatchException):
        t.append(spark.createDataFrame([(1, 1)], "id long, v long"))


def test_vacuum_drops_unreferenced_files_keeps_current(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=1000)
    t.merge(spark.createDataFrame([(1, "A")], "id long, v string"))
    live = {f["path"] for f in t._manifest(1)["files"]}
    deleted = t.vacuum(keep_last=1)
    assert deleted  # the rewritten v0 file is gone
    assert set(deleted).isdisjoint(live)
    # current snapshot still reads fine; the vacuumed one does not
    assert t.read().count() == 1000
    with pytest.raises(Exception):
        t.read(version=0).count()


# -- round-5 verb set: DELETE / UPDATE / evolution / CDF / backend ---------


def _mk_wide(spark, path, n=10_000, files=8):
    """Key-sorted multi-file table (narrow disjoint per-file ranges)."""
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("v")
    )
    return TxnTable.create(
        spark, str(path), df, key_field="id", n_files=files
    )


def test_delete_rewrites_only_files_containing_matches(spark, tmp_path):
    t = _mk_wide(spark, tmp_path / "t")
    before = {f["path"] for f in t._manifest()["files"]}
    res = t.delete(F.col("id").between(100, 120), mode="rewrite")
    assert res["deleted_rows"] == 21
    assert res["rewritten"] == 1  # one key-sorted file covers [100,120]
    after = t._manifest()["files"]
    # every untouched file carried over by identity (copy-on-write)
    assert sum(1 for f in after if f["path"] in before) == res["kept"]
    got = {r.id for r in t.read().collect()}
    assert got == set(range(10_000)) - set(range(100, 121))
    # time travel still shows the pre-delete snapshot
    assert t.read(version=0).count() == 10_000


def test_delete_null_predicate_keeps_rows_and_noop_returns_same_version(
    spark, tmp_path
):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, v string"
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    # SQL ternary: v != 'a' is NULL for row 2 -> row 2 is KEPT
    t.delete(F.col("v") != "a")
    assert {r.id for r in t.read().collect()} == {1, 2}
    v = t.version()
    res = t.delete(F.col("v") == "zzz")  # matches nothing
    assert res == {"version": v, "rewritten": 0, "deleted_rows": 0}
    assert t.version() == v


def test_update_targets_files_and_guards_key_columns(spark, tmp_path):
    t = _mk_wide(spark, tmp_path / "t")
    res = t.update(
        {"v": F.concat(F.lit("X"), F.col("v"))},
        F.col("id").between(5, 9),
        mode="rewrite",
    )
    assert res["updated_rows"] == 5 and res["rewritten"] == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert got[5] == "X5" and got[9] == "X2" and got[10] == "3"
    assert len(got) == 10_000
    with pytest.raises(ValueError, match="merge-key"):
        t.update({"id": F.lit(0)}, F.col("id") == 1)
    with pytest.raises(ValueError, match="unknown column"):
        t.update({"nope": F.lit(0)}, F.col("id") == 1)
    # SQL-string forms work too
    t.update({"v": "upper(v)"}, "id = 5")
    assert t.read().where("id = 5").collect()[0].v == "X5"


def test_additive_schema_evolution_on_merge_and_append(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    delta = spark.createDataFrame(
        [(3, "UPD", 0.5), (99, "NEW", 0.9)], "id long, v string, score double"
    )
    with pytest.raises(SchemaMismatchException):
        t.merge(delta)  # strict mode still rejects extra columns
    t.merge(delta, merge_schema=True)
    got = {r.id: (r.v, r.score) for r in t.read().collect()}
    assert got[99] == ("NEW", 0.9) and got[3] == ("UPD", 0.5)
    assert got[4] == ("4", None)  # untouched old file: NULL via name resolution
    # append with a further new column; must still carry all existing
    t.append(
        spark.createDataFrame(
            [(200, "A", 0.1, "en")],
            "id long, v string, score double, lang string",
        ),
        merge_schema=True,
    )
    row = {r.id: r for r in t.read().collect()}
    assert row[200].lang == "en" and row[99].lang is None
    # dropping an existing column is still a hard error
    with pytest.raises(SchemaMismatchException, match="missing"):
        t.append(
            spark.createDataFrame([(1, 0.2)], "id long, score double"),
            merge_schema=True,
        )
    # time travel: version 0 predates evolution and has the old schema
    assert t.read(version=0).columns == ["id", "v"]


def test_composite_merge_key(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "k1 long, k2 long, v string"
    )
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field=["k1", "k2"]
    )
    t.merge(
        spark.createDataFrame(
            [(1, 2, "B"), (3, 3, "d")], "k1 long, k2 long, v string"
        )
    )
    got = {(r.k1, r.k2): r.v for r in t.read().collect()}
    assert got == {(1, 1): "a", (1, 2): "B", (2, 1): "c", (3, 3): "d"}


def test_read_key_range_prunes_at_the_manifest(spark, tmp_path):
    t = _mk_wide(spark, tmp_path / "t", n=10_000, files=10)
    full = t.read()
    pruned = t.read(key_range=(2_500, 2_599))
    # manifest pruning hands the scan a strict subset of the files
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    assert {r.id for r in pruned.collect()} == set(range(2_500, 2_600))


def test_compact_zorder_clusters_both_columns(spark, tmp_path):
    df = spark.range(4_096).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("bigint").alias("b"),
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    t.append(df.withColumn("id", F.col("id") + 4_096))
    res = t.compact(n_files=8, cluster_by=["a", "b"])
    assert res["version"] == 2
    m = t._manifest()
    assert m["op"] == "compact" and m["clustered_by"] == ["a", "b"]
    got = {(r.id, r.a, r.b) for r in t.read().collect()}
    assert len(got) == 8_192  # lossless rewrite


def test_read_changes_upsert_feed_and_precise_diff(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)  # v0: ids 0..9
    t.append(
        spark.createDataFrame([(100, "app")], "id long, v string")
    )  # v1
    t.merge(
        spark.createDataFrame(
            [(3, "UPD"), (200, "NEW")], "id long, v string"
        )
    )  # v2
    t.compact(n_files=2)  # v3: logical no-op, must not appear
    t.delete("id = 5")  # v4
    # at-least-once mode over append+merge only
    feed = t.read_changes(0, end_version=3)
    rows = feed.collect()
    assert all(r._change_type == "upsert" for r in rows)
    by_v = {}
    for r in rows:
        by_v.setdefault(r._commit_version, set()).add(r.id)
    assert by_v[1] == {100}
    assert 3 in by_v[2] and 200 in by_v[2]  # merge file may carry neighbors
    # delete commits refuse the upsert feed
    with pytest.raises(ValueError, match="precise=True"):
        t.read_changes(3)
    # precise mode: exact row-level changes, neighbors dropped
    changes = {
        (r._commit_version, r._change_type, r.id, r.v)
        for r in t.read_changes(0, precise=True).collect()
    }
    assert changes == {
        (1, "insert", 100, "app"),
        (2, "update_postimage", 3, "UPD"),
        (2, "insert", 200, "NEW"),
        (4, "delete", 5, "5"),
    }


def test_txn_merge_backend_end_to_end(spark, tmp_path):
    """The MergeIntoBackend seam realized: upsert_table_df routes to
    TxnTable's file-pruned MERGE and catalog reads see each committed
    snapshot atomically."""
    from gcpde_spark.tables import TableStore
    from gcpde_spark.txn import TxnMergeBackend

    store = TableStore(spark, warehouse_dir=str(tmp_path / "wh"))
    store.merge_backend = TxnMergeBackend(str(tmp_path / "lake"))
    try:
        df = spark.range(1_000).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("v")
        )
        store.upsert_table_df("txnds", "users", df, "id")
        assert spark.table("txnds.users").count() == 1_000
        delta = spark.createDataFrame(
            [(5, "UPD"), (5_000, "NEW")], "id long, v string"
        )
        store.upsert_table_df("txnds", "users", delta, "id")
        got = {r.id: r.v for r in spark.table("txnds.users").collect()}
        assert got[5] == "UPD" and got[5_000] == "NEW" and len(got) == 1_001
        # the underlying table is transactional: history + time travel
        t = store.merge_backend.table(spark, "txnds", "users")
        assert [h["op"] for h in t.history()] == ["merge", "create"]
        assert t.read(version=0).count() == 1_000
        # store.query sees the committed snapshot too
        n = store.query("SELECT count(*) AS n FROM txnds.users")[0]["n"]
        assert n == 1_001
    finally:
        spark.sql("DROP TABLE IF EXISTS txnds.users")
        spark.sql("DROP DATABASE IF EXISTS txnds")


def test_random_op_sequences_match_dict_model_and_cdf_replay(spark, tmp_path):
    """Model-based property: an arbitrary interleaving of merge /
    append / delete / update / compact over a TxnTable equals the same
    sequence applied to a plain dict, AND replaying the precise change
    feed from version 0 onto the initial state reproduces the final
    table — the two invariants (snapshot correctness, CDF losslessness)
    that make the format trustworthy as a sink."""
    from hypothesis import given, settings, strategies as st

    val = st.text(alphabet="abcxyz", min_size=1, max_size=3)
    op = st.one_of(
        st.tuples(
            st.just("merge"),
            st.dictionaries(st.integers(0, 30), val, min_size=1, max_size=4),
        ),
        st.tuples(
            st.just("append"),
            st.dictionaries(st.integers(0, 30), val, min_size=1, max_size=3),
        ),
        st.tuples(
            st.just("delete"), st.integers(0, 30), st.integers(0, 10)
        ),
        st.tuples(
            st.just("update"), st.integers(0, 30), st.integers(0, 10), val
        ),
        st.tuples(st.just("compact"), st.integers(1, 3)),
    )

    counter = {"n": 0}

    @settings(max_examples=8, deadline=None)
    @given(ops=st.lists(op, min_size=1, max_size=5))
    def check(ops):
        counter["n"] += 1
        root = tmp_path / f"model-{counter['n']}"
        init = {i: str(i % 5) for i in range(12)}
        model = dict(init)
        t = TxnTable.create(
            spark,
            str(root),
            spark.createDataFrame(
                sorted(init.items()), "id long, v string"
            ),
            key_field="id",
            n_files=3,
            bloom_cols=("v",),  # bloom point reads checked at the end
        )
        for o in ops:
            if o[0] == "merge":
                delta = o[1]
                t.merge(
                    spark.createDataFrame(
                        sorted(delta.items()), "id long, v string"
                    ),
                    strategy=("cow", "mor", "auto")[len(delta) % 3],
                )
                model.update(delta)
            elif o[0] == "append":
                fresh = {k: v for k, v in o[1].items() if k not in model}
                if not fresh:
                    continue
                t.append(
                    spark.createDataFrame(
                        sorted(fresh.items()), "id long, v string"
                    )
                )
                model.update(fresh)
            elif o[0] == "delete":
                lo, width = o[1], o[2]
                # alternate strategies so the fuzz exercises deletion
                # vectors, classic rewrites, AND the auto router
                dmode = ("auto", "dv", "rewrite")[width % 3]
                t.delete(F.col("id").between(lo, lo + width), mode=dmode)
                model = {
                    k: v for k, v in model.items() if not lo <= k <= lo + width
                }
            elif o[0] == "update":
                lo, width, suffix = o[1], o[2], o[3]
                t.update(
                    {"v": F.concat(F.col("v"), F.lit(suffix))},
                    F.col("id").between(lo, lo + width),
                    mode=("auto", "dv", "rewrite")[width % 3],
                )
                model = {
                    k: (v + suffix if lo <= k <= lo + width else v)
                    for k, v in model.items()
                }
            else:
                t.compact(n_files=o[1])
        assert {r.id: r.v for r in t.read().collect()} == model
        # bloom point reads agree with the model through every verb mix
        # (filters built by whatever verbs ran: cow/mor merges, dv and
        # rewrite deletes/updates, compact) — and an absent value is
        # pruned to zero rows without a wrong answer
        if model:
            probe = sorted(model.values())[0]
            got_eq = {r.id for r in t.read(eq={"v": probe}).collect()}
            assert got_eq == {k for k, v in model.items() if v == probe}
        assert t.read(eq={"v": "zz-absent"}).count() == 0
        # CDF replay: initial state + precise changes == final state
        replay = dict(init)
        changes = sorted(
            t.read_changes(0, precise=True).collect(),
            key=lambda r: r._commit_version,
        )
        for r in changes:
            if r._change_type == "delete":
                replay.pop(r.id, None)
            else:
                replay[r.id] = r.v
        assert replay == model

    check()


def test_future_format_version_refused(spark, tmp_path):
    """The protocol gate: a manifest written by a NEWER format may
    encode invariants this reader cannot see (the deletion-vector
    lesson — a v0-era reader handed a dv-carrying manifest would
    resurrect deleted rows); reading must refuse loudly, not guess."""
    import json as j

    t = _mk(spark, tmp_path / "t", n=10)
    log = tmp_path / "t" / "_txn_log"
    m = j.loads((log / _mname(0)).read_text())
    (log / _mname(1)).write_text(
        j.dumps({**m, "version": 1, "format_version": 99})
    )
    with pytest.raises(ValueError, match="format_version 99"):
        t.read()
    # the retained old version still reads fine via time travel
    assert t.read(version=0).count() == 10


def test_data_skipping_on_non_key_columns_after_zorder(spark, tmp_path):
    """Per-file stats cover every primitive column, so read(ranges=)
    skips files on NON-key predicates — and Z-order compaction is what
    makes those ranges narrow enough to prune on both columns at once."""
    df = spark.range(8_192).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("bigint").alias("b"),
        F.concat(F.lit("u"), F.format_string("%05d", (F.col("id") % 100))).alias(
            "tag"
        ),
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    t.compact(n_files=16, cluster_by=["a", "b"])
    full = t.read()
    got = t.read(ranges={"a": (0, 7), "b": (0, 15)})
    assert 0 < len(got.inputFiles()) < len(full.inputFiles())
    expected = {
        (r.id, r.a, r.b)
        for r in full.where("a between 0 and 7 and b between 0 and 15").collect()
    }
    assert {(r.id, r.a, r.b) for r in got.collect()} == expected
    # open-ended range + string-column stats
    hi = t.read(ranges={"tag": ("u00098", None)})
    assert {r.tag for r in hi.collect()} == {"u00098", "u00099"}
    # a column without stats (absent name) must not prune or fail
    assert t.read(ranges={"id": (1, 2)}).count() == 2


def test_zorder_clusters_timestamp_and_string_columns(spark, tmp_path):
    """Z-order must work on every orderable type, not just numerics:
    timestamps (the single most common clustering key) used to throw on
    the double cast, and strings silently bucketed to nothing. Both now
    go through order-preserving numeric proxies — receipts are narrowed
    per-file ranges that actually prune."""
    df = spark.range(8_192).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 60).alias("ts"),
        F.concat(
            F.lit("d"), F.format_string("%05d", (F.col("id") / 82).cast("int"))
        ).alias("domain"),
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    t.compact(n_files=16, cluster_by=["ts", "domain"])
    full = t.read()
    lo_ts = full.agg(F.min("ts")).collect()[0][0]
    hi_ts = lo_ts + dt.timedelta(minutes=1_000)
    got = t.read(ranges={"ts": (lo_ts, hi_ts)})
    assert 0 < len(got.inputFiles()) < len(full.inputFiles())
    assert got.count() == full.where(F.col("ts") <= F.lit(hi_ts)).count()
    by_dom = t.read(ranges={"domain": ("d00000", "d00009")})
    assert 0 < len(by_dom.inputFiles()) < len(full.inputFiles())
    assert (
        by_dom.count()
        == full.where(F.col("domain") <= "d00009").count()
    )
    # unorderable types refuse loudly instead of clustering on nothing
    df2 = df.withColumn("m", F.create_map(F.lit("k"), F.col("id")))
    t2 = TxnTable.create(spark, str(tmp_path / "t2"), df2, key_field="id")
    with pytest.raises(ValueError, match="Z-order"):
        t2.compact(n_files=4, cluster_by=["m"])


def test_norm_bound_is_type_aware_and_tz_sound():
    """Pure-function contracts behind timestamp/date pruning soundness:
    naive instant bounds are driver-local (PySpark's own literal and
    collect() semantics), NTZ stays wall-clock, and datetime bounds on
    a DATE column floor to the date so midnight equality never prunes a
    file whose max is that same day."""
    import time as _time

    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    from gcpde_spark.txn import _norm_bound, _prune_by_ranges

    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        naive = dt.datetime(2023, 6, 30, 16, 0)  # EDT = UTC-4
        assert _norm_bound(naive, TimestampType()) == "2023-06-30T20:00:00"
        assert _norm_bound(naive, TimestampNTZType()) == "2023-06-30T16:00:00"
        aware = naive.replace(tzinfo=dt.timezone(dt.timedelta(hours=2)))
        assert _norm_bound(aware, TimestampType()) == "2023-06-30T14:00:00"
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    # DATE column: datetime bounds floor (widening-only on both ends)
    assert _norm_bound(dt.datetime(2023, 6, 30, 0, 0), DateType()) == "2023-06-30"
    assert _norm_bound(dt.datetime(2023, 6, 30, 23, 59), DateType()) == "2023-06-30"
    assert _norm_bound(None, DateType()) is None
    # the off-by-equality this exists for: a file whose date max IS the
    # midnight lo bound must be KEPT
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("d", DateType(), True)])
    entry = {"path": "f", "stats": {"d": ["2023-06-01", "2023-06-30"]}}
    kept = _prune_by_ranges(
        [entry], {"d": (dt.datetime(2023, 6, 30, 0, 0), None)}, None, schema
    )
    assert kept == [entry]


def test_zorder_string_proxy_is_order_preserving_for_mixed_lengths(spark):
    """The 6-byte string proxy must right-pad: without it every short
    string collapses below every long one ('z.io' under 'amazon') and
    the per-file string ranges never prune."""
    from gcpde_spark.tables import _zorder_proxy

    vals = ["z.io", "amazon", "ab", "abc", "abd", "", "zz", "a"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", _zorder_proxy(df.schema["s"]).alias("p")).collect()
    by_proxy = [r.s for r in sorted(rows, key=lambda r: (r.p is None, r.p))]
    assert by_proxy == sorted(vals)


def test_stats_survive_delete_update_and_legacy_manifests(spark, tmp_path):
    t = _mk_wide(spark, tmp_path / "t", n=1_000, files=4)
    t.update({"v": F.lit("zz")}, F.col("id") < 5)
    t.delete(F.col("id").between(10, 20))
    m = t._manifest()
    assert all("stats" in f and "id" in f["stats"] for f in m["files"])
    # legacy manifest (no per-file stats): key_range still prunes via
    # the key_min/key_max fields, other ranges keep everything
    import json as _json

    for f in m["files"]:
        f.pop("stats")
    legacy = tmp_path / "t" / "_txn_log" / _mname(t.version() + 1)
    m["version"] = t.version() + 1
    legacy.write_text(_json.dumps(m))
    pruned = t.read(key_range=(0, 100))
    assert len(pruned.inputFiles()) < 4
    assert t.read(ranges={"v": ("zz", "zz")}).count() == 5


def test_apply_changes_latest_per_key_wins_in_one_commit(spark, tmp_path):
    """A feed spanning commits may update then delete the same key —
    the highest _commit_version wins per key, applied atomically."""
    t = _mk(spark, tmp_path / "t", n=10)
    feed = spark.createDataFrame(
        [
            (3, "V2", "update_postimage", 2),
            (3, "3", "delete", 4),         # later delete wins over update
            (99, "NEW", "insert", 2),
            (99, "NEWER", "update_postimage", 3),
            (5, "5", "delete", 2),
        ],
        "id long, v string, _change_type string, _commit_version int",
    )
    res = t.apply_changes(feed)
    assert res["version"] == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert 3 not in got and 5 not in got
    assert got[99] == "NEWER" and len(got) == 9
    # empty feed without meta: no new version; with meta: bookkeeping commit
    assert t.apply_changes(feed.limit(0))["version"] == 1
    assert t.apply_changes(feed.limit(0), meta={"mark": 7})["version"] == 2
    assert t.last_meta_value("mark") == 7


def test_overwrite_replaces_snapshot_atomically(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    res = t.overwrite(
        spark.createDataFrame([(1, "only")], "id long, v string")
    )
    assert res["version"] == 1
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "only")}
    assert t.read(version=0).count() == 10  # time travel intact
    with pytest.raises(ValueError, match="OVERWRITE"):
        t.read_changes(0)  # upsert feed cannot express an overwrite
    # precise mode can: 9 deletes + 1 update (0..9 -> just id 1)
    ch = t.read_changes(0, precise=True).collect()
    assert sum(r._change_type == "delete" for r in ch) == 9
    assert {r.id for r in ch if r._change_type == "update_postimage"} == {1}


def test_sync_table_exactly_once_incremental_mirror(spark, tmp_path):
    from gcpde_spark.txn import sync_table

    src = _mk_wide(spark, tmp_path / "src", n=1_000, files=4)
    dst_path = str(tmp_path / "dst")
    # 1. seed
    assert sync_table(spark, src, dst_path)["mode"] == "full"
    dst = TxnTable(spark, dst_path)
    assert dst.read().count() == 1_000
    # 2. incremental after a mixed mutation batch
    src.merge(spark.createDataFrame([(5, "U"), (2_000, "N")], "id long, v string"))
    src.update({"v": F.lit("upd")}, F.col("id").between(10, 12))
    src.delete("id = 20")
    res = sync_table(spark, src, dst_path)
    assert res["mode"] == "incremental"
    assert {r.id: r.v for r in dst.read().collect()} == {
        r.id: r.v for r in src.read().collect()
    }
    # destination moved by single atomic commits, not re-creation
    assert [h["op"] for h in dst.history()][0] == "apply_changes"
    # 3. replay is a noop (exactly-once bookkeeping)
    assert sync_table(spark, src, dst_path)["mode"] == "noop"
    # 4. additive source evolution flows through incrementally
    src.merge(
        spark.createDataFrame(
            [(7, "S", 0.9)], "id long, v string, score double"
        ),
        merge_schema=True,
    )
    res = sync_table(spark, src, dst_path)
    assert res["mode"] == "incremental"
    got = {r.id: (r.v, r.score) for r in dst.read().collect()}
    assert got[7] == ("S", 0.9) and got[0][1] is None
    # 5. source vacuumed past the sync point -> loud full resync
    src.merge(
        spark.createDataFrame([(8, "Z", 0.1)], "id long, v string, score double")
    )
    src.vacuum(keep_last=1)
    res = sync_table(spark, src, dst_path)
    assert res["mode"] == "full"
    assert {r.id: r.v for r in dst.read().collect()} == {
        r.id: r.v for r in src.read().collect()
    }


def test_precise_cdf_catches_new_column_only_changes(spark, tmp_path):
    """Regression: after additive evolution, a row whose ONLY change is
    a value in the newly-added column (all shared columns identical)
    must still appear in the precise feed — the old side is implicitly
    NULL for evolved columns."""
    from gcpde_spark.txn import sync_table

    t = _mk(spark, tmp_path / "t", n=10)
    dst_path = str(tmp_path / "mirror")
    sync_table(spark, t, dst_path)
    # id=7 keeps v="0" (7 % 7) — ONLY the new score column changes
    t.merge(
        spark.createDataFrame([(7, "0", 0.9)], "id long, v string, score double"),
        merge_schema=True,
    )
    ch = {
        (r.id, r._change_type, r.score)
        for r in t.read_changes(0, precise=True).collect()
    }
    assert (7, "update_postimage", 0.9) in ch
    sync_table(spark, t, dst_path)
    got = {r.id: r.score for r in TxnTable(spark, dst_path).read().collect()}
    assert got[7] == 0.9


def test_restore_rolls_back_as_a_new_commit(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    t.merge(
        spark.createDataFrame(
            [(3, "BAD", 1.0)], "id long, v string, score double"
        ),
        merge_schema=True,
    )  # v1: bad write + schema evolution
    t.delete("id = 4")  # v2: bad delete
    res = t.restore(0)
    assert res == {"version": 3, "restored_from": 0}
    # table content and SCHEMA are back to v0; history fully intact
    assert t.read().columns == ["id", "v"]
    assert {r.id: r.v for r in t.read().collect()} == {
        i: str(i % 7) for i in range(10)
    }
    assert t.read(version=2).count() == 9  # bad states still visible
    # precise CDF across the restore: id=3 reverts (losing its score
    # counts as a change even though v reverts too), id=4 reappears
    ch = {
        (r._change_type, r.id)
        for r in t.read_changes(2, precise=True).collect()
    }
    assert ("insert", 4) in ch
    assert ("update_postimage", 3) in ch
    with pytest.raises(ValueError, match="RESTORE"):
        t.read_changes(2)  # upsert feed cannot express a rollback


def test_backend_auto_vacuum_keeps_storage_bounded(spark, tmp_path):
    from gcpde_spark.tables import TableStore
    from gcpde_spark.txn import TxnMergeBackend

    store = TableStore(spark, warehouse_dir=str(tmp_path / "wh"))
    store.merge_backend = TxnMergeBackend(
        str(tmp_path / "lake"), vacuum_keep=1
    )
    try:
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("v")
        )
        store.upsert_table_df("vds", "t", df, "id")
        for i in range(3):
            store.upsert_table_df(
                "vds",
                "t",
                spark.createDataFrame([(i, "X")], "id long, v string"),
                "id",
            )
        t = store.merge_backend.table(spark, "vds", "t")
        assert len(t._versions()) == 1  # history vacuumed to the live version
        # catalog readers still see the latest snapshot (hardlinked)
        got = {r.id: r.v for r in spark.table("vds.t").collect()}
        assert got[0] == got[1] == got[2] == "X" and len(got) == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS vds.t")
        spark.sql("DROP DATABASE IF EXISTS vds")


def test_concurrent_writers_under_real_thread_contention(spark, tmp_path):
    """9 merges from 3 driver threads racing on the same table: the
    optimistic loop must land every delta exactly once (no lost
    updates, no duplicate versions) with only link(2) arbitration."""
    import threading

    t = _mk(spark, tmp_path / "t", n=10)
    errs: list = []

    def writer(base):
        try:
            w = TxnTable(spark, str(tmp_path / "t"))
            for j in range(3):
                k = 1_000 + base * 10 + j
                w.merge_with_retry(
                    spark.createDataFrame(
                        [(k, f"w{base}-{j}")], "id long, v string"
                    ),
                    attempts=20,
                )
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 19  # 10 original + 9 distinct merged keys
    for base in range(3):
        for j in range(3):
            assert got[1_000 + base * 10 + j] == f"w{base}-{j}"
    assert t.version() == 9  # exactly one commit per successful merge


def test_meta_rolls_forward_through_maintenance_and_vacuum(spark, tmp_path):
    """Exactly-once batch tracking must survive compact + vacuum: meta
    is table state carried by every commit, so the newest manifest
    alone holds it (the review finding: a meta-less compact followed by
    vacuum(keep_last=1) used to erase stream_batch_id and let a
    replayed batch re-apply)."""
    t = _mk(spark, tmp_path / "t", n=20)
    t.merge(
        spark.createDataFrame([(3, "B")], "id long, v string"),
        meta={"stream_batch_id": 7},
    )
    t.compact(n_files=2)
    t.append(spark.createDataFrame([(100, "x")], "id long, v string"))
    t.vacuum(keep_last=1)
    assert t.last_meta_value("stream_batch_id") == 7
    # restore rewinds DATA but not tracking (a rollback must not make
    # old stream batches look unapplied)
    t2 = _mk(spark, tmp_path / "t2", n=5)
    t2.merge(
        spark.createDataFrame([(1, "B")], "id long, v string"),
        meta={"stream_batch_id": 9},
    )
    t2.restore(0)
    assert t2.last_meta_value("stream_batch_id") == 9


def test_create_recovers_from_crash_residue_and_refuses_live_tables(
    spark, tmp_path
):
    """An empty _txn_log (create crashed before publishing v0) is NOT a
    table: the constructor raises TxnTableNotFound and a retried
    create() succeeds over the residue; a PUBLISHED table still refuses
    re-creation."""
    residue = tmp_path / "t" / "_txn_log"
    residue.mkdir(parents=True)
    with pytest.raises(TxnTableNotFound):
        TxnTable(spark, str(tmp_path / "t"))
    t = _mk(spark, tmp_path / "t", n=5)  # create over the residue
    assert t.read().count() == 5
    with pytest.raises(ValueError, match="already exists"):
        _mk(spark, tmp_path / "t", n=5)


def test_merge_with_all_null_keys_inserts_consistently(spark, tmp_path):
    """NULL merge keys never match stored keys, so null-key delta rows
    INSERT — identically whether or not a non-null sibling key forces
    the rewrite path (the review finding: the all-null case used to be
    silently dropped as an empty delta)."""
    t = _mk(spark, tmp_path / "t", n=5)
    all_null = spark.createDataFrame(
        [(None, "n1"), (None, "n2")], "id long, v string"
    )
    res = t.merge(all_null)
    assert res["version"] == 1 and res["rewritten"] == 0
    assert t.read().count() == 7
    mixed = spark.createDataFrame(
        [(2, "UPD"), (None, "n3")], "id long, v string"
    )
    t.merge(mixed)
    rows = t.read().collect()
    assert sum(1 for r in rows if r.id is None) == 3
    assert {r.v for r in rows if r.id == 2} == {"UPD"}


def test_composite_key_pruning_uses_every_dimension(spark, tmp_path):
    """With a 2-value leading key, leading-dimension pruning alone
    keeps half the files; the second dimension's stats must narrow a
    point delta to exactly one file."""
    df = spark.range(8_000).select(
        (F.col("id") % 2).alias("k1"),
        F.col("id").alias("k2"),
        (F.col("id") % 7).cast("string").alias("v"),
    )
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field=["k1", "k2"], n_files=8
    )
    delta = spark.createDataFrame(
        [(0, 2, "UPD")], "k1 long, k2 long, v string"
    )
    # leading-dimension-only pruning would rewrite every file whose k1
    # range covers 0 (~half the table, plus the k1-boundary straddler)
    leading_only = sum(
        1
        for f in t._manifest()["files"]
        if f["key_min"] <= 0 <= f["key_max"]
    )
    res = t.merge(delta)
    assert res["rewritten"] < leading_only, (res, leading_only)
    assert res["rewritten"] <= 2  # target file + at most the straddler
    got = {(r.k1, r.k2): r.v for r in t.read().collect()}
    assert got[(0, 2)] == "UPD" and len(got) == 8_000


def test_read_ranges_skip_equals_filter_on_temporal_and_string_columns(
    spark, tmp_path
):
    """The same skip≡filter property over the types whose pruning goes
    through ISO normalization (date/timestamp) and the padded string
    prefix — including datetime bounds on the DATE column (the midnight
    off-by-equality class) and string bounds of mixed lengths."""
    from hypothesis import given, settings, strategies as st

    df = spark.range(3_000).select(
        F.col("id"),
        F.date_add(F.lit("2023-01-01").cast("date"), (F.col("id") % 365).cast("int")).alias("d"),
        F.timestamp_seconds(F.lit(1_672_531_200) + F.col("id") * 977).alias("ts"),
        F.concat(F.lit("do"), F.format_string("%03d", (F.col("id") % 70))).alias("s"),
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    t.compact(n_files=8, cluster_by=["d", "ts", "s"])
    full = t.read()
    d0 = dt.date(2023, 1, 1)
    ts0 = dt.datetime(2023, 1, 1, 0, 0)

    date_bound = st.one_of(
        st.none(),
        st.integers(-5, 370).map(lambda n: d0 + dt.timedelta(days=n)),
        # datetime bounds against a DATE column, incl. exact midnight
        st.tuples(st.integers(-5, 370), st.sampled_from([0, 1, 86_399])).map(
            lambda p: ts0 + dt.timedelta(days=p[0], seconds=p[1])
        ),
    )
    ts_bound = st.one_of(
        st.none(),
        st.integers(-1000, 3_000 * 977 + 1000).map(
            lambda n: ts0 + dt.timedelta(seconds=n)
        ),
    )
    s_bound = st.one_of(
        st.none(), st.text(alphabet="do0123456789z", max_size=7)
    )

    @settings(max_examples=12, deadline=None)
    @given(dlo=date_bound, dhi=date_bound, tlo=ts_bound, thi=ts_bound,
           slo=s_bound, shi=s_bound)
    def check(dlo, dhi, tlo, thi, slo, shi):
        ranges = {}
        if dlo is not None or dhi is not None:
            ranges["d"] = (dlo, dhi)
        if tlo is not None or thi is not None:
            ranges["ts"] = (tlo, thi)
        if slo is not None or shi is not None:
            ranges["s"] = (slo, shi)
        if not ranges:
            ranges = {"d": (d0, None)}
        got = t.read(ranges=ranges)
        expect = full
        for c, (lo, hi) in ranges.items():
            if lo is not None and hi is not None:
                expect = expect.where(F.col(c).between(lo, hi))
            elif lo is not None:
                expect = expect.where(F.col(c) >= lo)
            else:
                expect = expect.where(F.col(c) <= hi)
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in expect.collect()
        }

    check()


def test_read_intersects_mixed_representation_bounds(spark, tmp_path):
    """A column named by BOTH ranges and eq with mixed bound
    representations (naive vs tz-aware datetime on TIMESTAMP, datetime
    vs date on DATE) must intersect through _norm_bound semantics —
    the raw-Python max/min it used to do either raises TypeError
    (naive vs aware) or compares wall clocks the pruner would not."""
    df = spark.range(200).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_672_531_200) + F.col("id") * 3600).alias("ts"),
        F.date_add(F.lit("2023-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    # the instant of id=100 (2023-01-01T00 UTC + 100 h), expressed both ways
    aware = dt.datetime(
        2023, 1, 5, 4, 0, tzinfo=dt.timezone.utc
    )  # = ts of id 100
    naive_local = aware.astimezone().replace(tzinfo=None)
    got = t.read(
        ranges={"ts": (naive_local, None)}, eq={"ts": aware}
    ).collect()
    assert {r.id for r in got} == {100}
    # DATE column: datetime range bound vs date eq bound on one column
    got2 = t.read(
        ranges={"d": (dt.datetime(2023, 1, 10, 5, 30), None)},
        eq={"d": dt.date(2023, 1, 11)},
    ).collect()
    assert {r.id for r in got2} == {10}
    # disjoint mixed bounds intersect to empty, not to a TypeError
    assert (
        t.read(
            ranges={"ts": (None, naive_local - dt.timedelta(hours=2))},
            eq={"ts": aware},
        ).count()
        == 0
    )


def test_read_ranges_equals_full_filter_on_random_ranges(spark, tmp_path):
    """Property: manifest data skipping is invisible to results — for
    arbitrary (possibly open-ended, possibly empty) ranges over any
    column combination, read(ranges=) returns exactly what a full scan
    plus the same filters returns."""
    from hypothesis import given, settings, strategies as st

    df = spark.range(4_000).select(
        F.col("id"),
        (F.col("id") % 97).alias("a"),
        (F.col("id") / 40).cast("bigint").alias("b"),
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    t.compact(n_files=8, cluster_by=["a", "b"])
    full = t.read()

    bound = st.one_of(st.none(), st.integers(-10, 4_100))

    @settings(max_examples=15, deadline=None)
    @given(
        cols=st.sets(st.sampled_from(["id", "a", "b"]), min_size=1, max_size=3),
        los=st.lists(bound, min_size=3, max_size=3),
        his=st.lists(bound, min_size=3, max_size=3),
    )
    def check(cols, los, his):
        ranges = {}
        for i, c in enumerate(sorted(cols)):
            lo, hi = los[i], his[i]
            if lo is None and hi is None:
                lo = 0
            ranges[c] = (lo, hi)
        got = t.read(ranges=ranges)
        expect = full
        for c, (lo, hi) in ranges.items():
            if lo is not None and hi is not None:
                expect = expect.where(F.col(c).between(lo, hi))
            elif lo is not None:
                expect = expect.where(F.col(c) >= lo)
            else:
                expect = expect.where(F.col(c) <= hi)
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in expect.collect()
        }

    check()


def test_maybe_compact_policy_self_regulates(spark, tmp_path):
    """The OPTIMIZE scheduler: healthy layout -> None (no rewrite);
    merges that erode pruning push overlap_fraction up until
    maybe_compact rewrites once and the layout is healthy again -- all
    decisions from the manifest alone."""
    df = spark.range(4_000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("v")
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id", n_files=8)
    st0 = t.layout_stats()
    assert st0["n_files"] == 8 and st0["n_overlapping"] == 0
    assert t.maybe_compact(target_files=8, overlap_threshold=0.1) is None
    assert t.version() == 0  # healthy: no commit happened

    # wide deltas force multi-file rewrites whose outputs overlap
    for i in range(5):
        t.merge(
            spark.createDataFrame(
                [(10 + i, "W"), (3_900 - i, "W")], "id long, v string"
            )
        )
    st1 = t.layout_stats()
    assert st1["overlap_fraction"] > 0.1
    rec = t.maybe_compact(target_files=8, overlap_threshold=0.1)
    assert rec is not None
    st2 = t.layout_stats()
    assert st2["n_files"] == 8 and st2["n_overlapping"] == 0
    assert t.maybe_compact(target_files=8, overlap_threshold=0.1) is None
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 4_000 and got[10] == "W" and got[3_899] == "W"
    # file-count trigger fires independently of overlap
    assert t.maybe_compact(target_files=2, overlap_threshold=0.99) is not None
    assert t.layout_stats()["n_files"] == 2


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    """Shallow CLONE: hard-linked snapshot, no data copied (same
    inodes), fully independent histories afterwards, and a source-side
    vacuum cannot pull files out from under the branch (unlink drops a
    NAME, the shared inode survives)."""
    df = spark.range(1_000).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id", n_files=4)
    t.merge(spark.createDataFrame([(5, "X")], "id long, v string"))
    c = t.clone(str(tmp_path / "branch"))
    # zero-copy receipts: identical inodes, identical content
    for f in c._manifest()["files"]:
        assert (
            os.stat(tmp_path / "branch" / f["path"]).st_ino
            == os.stat(tmp_path / "t" / f["path"]).st_ino
        )
    assert {(r.id, r.v) for r in c.read().collect()} == {
        (r.id, r.v) for r in t.read().collect()
    }
    assert c.version() == 0 and c.last_meta_value("cloned_from") == str(t.path)
    assert c.last_meta_value("cloned_version") == 1
    # divergence is independent in both directions
    c.merge(spark.createDataFrame([(5, "BRANCH")], "id long, v string"))
    t.delete(F.col("id") == 7)
    assert {r.v for r in t.read().collect() if r.id == 5} == {"X"}
    assert {r.v for r in c.read().collect() if r.id == 5} == {"BRANCH"}
    assert c.read().where("id = 7").count() == 1  # source delete invisible
    # source compact+vacuum unlinks its old names; the branch survives
    t.compact(n_files=4)
    t.vacuum(keep_last=1)
    assert c.read().count() == 1_000
    # a second clone at an old version refuses to overwrite a live table
    with pytest.raises(ValueError, match="already exists"):
        t.clone(str(tmp_path / "branch"))


def test_version_at_timestamp_time_travel(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path / "t", n=10)
    ts0 = t._manifest(0)["ts"]
    _time.sleep(0.05)
    t.merge(spark.createDataFrame([(99, "NEW")], "id long, v string"))
    ts1 = t._manifest(1)["ts"]
    assert ts1 > ts0
    assert t.version_at(ts0) == 0
    assert t.version_at((ts0 + ts1) / 2) == 0
    assert t.version_at(ts1) == 1
    assert t.version_at(_time.time() + 60) == 1
    # naive datetime = driver-local wall clock (+1ms: fromtimestamp
    # truncates to micros, which can land a hair BEFORE the float ts)
    assert t.version_at(dt.datetime.fromtimestamp(ts1 + 0.001)) == 1
    with pytest.raises(TxnTableNotFound):
        t.version_at(ts0 - 100)
    assert t.history()[0]["ts"] == ts1  # newest first, surfaced in history
    # the canonical use: read the snapshot as of a wall-clock instant
    assert t.read(version=t.version_at(ts0)).count() == 10


def test_check_constraints_enforced_on_every_write_verb(spark, tmp_path):
    """Delta-invariant parity: CHECK constraints live in rolled commit
    metadata and every write verb validates ITS rows (touched region,
    one extra agg) before anything lands — a violating write raises and
    leaves no new version. NULL passes (SQL CHECK semantics)."""
    from gcpde_spark.txn import ConstraintViolation

    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 9 + 1).alias("qty")
    )
    with pytest.raises(ConstraintViolation, match="qty_pos"):
        TxnTable.create(
            spark, str(tmp_path / "bad"), df.withColumn("qty", F.lit(-1)),
            key_field="id", constraints={"qty_pos": "qty > 0"},
        )
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field="id",
        constraints={"qty_pos": "qty > 0"},
    )
    assert t.constraints() == {"qty_pos": "qty > 0"}
    v = t.version()
    for bad_write in (
        lambda: t.merge(spark.createDataFrame([(5, -3)], "id long, qty long")),
        lambda: t.append(spark.createDataFrame([(99, 0)], "id long, qty long")),
        lambda: t.overwrite(spark.createDataFrame([(1, -1)], "id long, qty long")),
        lambda: t.update({"qty": F.lit(-7)}, F.col("id") == 2),
    ):
        with pytest.raises(ConstraintViolation, match="qty_pos"):
            bad_write()
        assert t.version() == v  # nothing committed
    # the exception carries the counts
    with pytest.raises(ConstraintViolation) as exc_info:
        t.merge(spark.createDataFrame([(5, -3), (6, -4)], "id long, qty long"))
    assert exc_info.value.violations == {"qty_pos": 2}
    t.merge(spark.createDataFrame([(5, 100)], "id long, qty long"))  # valid
    # NULL passes per SQL CHECK semantics
    t.merge(spark.createDataFrame([(7, None)], "id long, qty long"))
    assert t.version() == v + 2
    # constraints survive compaction and follow a clone
    t.compact(n_files=2)
    assert t.constraints() == {"qty_pos": "qty > 0"}
    branch = t.clone(str(tmp_path / "branch"))
    with pytest.raises(ConstraintViolation):
        branch.merge(spark.createDataFrame([(5, -1)], "id long, qty long"))


def test_add_drop_constraint_lifecycle_and_feed_classification(spark, tmp_path):
    from gcpde_spark.txn import ConstraintViolation

    t = _mk(spark, tmp_path / "t", n=10)
    # adding a constraint the existing data violates refuses up front
    with pytest.raises(ConstraintViolation, match="v_short"):
        t.add_constraint("v_short", "length(v) > 5")
    rec = t.add_constraint("qty_like", "id < 1000")
    assert rec["constraints"] == {"qty_like": "id < 1000"}
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("qty_like", "id < 2000")
    with pytest.raises(ConstraintViolation):
        t.merge(spark.createDataFrame([(5000, "x")], "id long, v string"))
    # the metadata-only commit is a logical no-op to every feed
    assert t.read_changes(rec["version"] - 1, precise=True).count() == 0
    assert t.read_changes(rec["version"] - 1).count() == 0
    t.drop_constraint("qty_like")
    t.merge(spark.createDataFrame([(5000, "x")], "id long, v string"))
    assert t.read().where("id = 5000").count() == 1
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("ghost")


def test_update_where_on_assigned_column_still_enforced_and_simultaneous(
    spark, tmp_path
):
    """Two subtleties of UPDATE semantics: (1) the WHERE predicate and
    constraint enforcement bind to the ORIGINAL rows even when SET
    rewrites the very column the WHERE references; (2) assignments are
    simultaneous (SET a=b, b=a swaps), not sequential."""
    from gcpde_spark.txn import ConstraintViolation

    df = spark.range(10).select(F.col("id"), (F.col("id") + 1).alias("qty"))
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field="id",
        constraints={"qty_pos": "qty > 0"},
    )
    # WHERE references qty, SET rewrites qty to a violating value: the
    # enforcement must see the post-assignment rows of the ORIGINALLY
    # matched set, not re-match on the new values (which would be empty)
    with pytest.raises(ConstraintViolation, match="qty_pos"):
        t.update({"qty": F.lit(-7)}, F.col("qty") == 2)
    assert {r.qty for r in t.read().collect() if r.id == 1} == {2}
    # simultaneous assignment: swap two columns via each other
    df2 = spark.range(4).select(
        F.col("id"), (F.col("id") * 10).alias("a"), (F.col("id") * 100).alias("b")
    )
    t2 = TxnTable.create(spark, str(tmp_path / "t2"), df2, key_field="id")
    t2.update({"a": F.col("b"), "b": F.col("a")}, F.col("id") == 2)
    r = t2.read().where("id = 2").collect()[0]
    assert (r.a, r.b) == (200, 20)  # swapped, not b=a-after-a=b


def test_restore_refuses_snapshots_violating_active_constraints(
    spark, tmp_path
):
    from gcpde_spark.txn import ConstraintViolation

    df = spark.createDataFrame(
        [(0, -5), (1, 3), (2, 7)], "id long, qty long"
    )
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key_field="id")
    t.delete(F.col("qty") < 0)  # v1: now clean
    t.add_constraint("qty_pos", "qty > 0")  # v2: validates v1's rows
    with pytest.raises(ConstraintViolation, match="qty_pos"):
        t.restore(0)  # v0 holds qty=-5 under the active constraint
    assert t.version() == 2  # refusal committed nothing
    t.drop_constraint("qty_pos")
    assert t.restore(0)["restored_from"] == 0  # without it, restore works


def test_add_constraint_loses_commit_race_loudly(spark, tmp_path, monkeypatch):
    """Optimistic concurrency for metadata commits: a rival landing
    between add_constraint's validation scan and its publish collides
    via link(2) — never silently absorbed (which could erase the
    rival's constraint or activate ours over unvalidated rows)."""
    import gcpde_spark.txn as txn

    t = _mk(spark, tmp_path / "t", n=10)
    log = tmp_path / "t" / "_txn_log"
    real_publish = txn._publish

    def rival_wins_first(root, version, manifest, backend=None):
        if not (log / _mname(version)).exists():
            m = __import__("json").loads((log / _mname(version - 1)).read_text())
            m["version"] = version
            real_publish(root, version, m)
        real_publish(root, version, manifest, backend=backend)

    monkeypatch.setattr(txn, "_publish", rival_wins_first)
    with pytest.raises(ConcurrentCommitError):
        t.add_constraint("id_small", "id < 1000")
    monkeypatch.setattr(txn, "_publish", real_publish)
    assert t.add_constraint("id_small", "id < 1000")["version"] == 2


def test_in_plan_guard_catches_rows_that_slipped_past_validation(
    spark, tmp_path, monkeypatch
):
    """Defense in depth: the pre-write validation is a separate job, so
    a source that re-computes differently could pass it yet write
    violating rows — the in-plan assert throws INSIDE the write job and
    no commit publishes. Simulated by disabling the validation pass."""
    import gcpde_spark.txn as txn

    df = spark.range(10).select(F.col("id"), (F.col("id") + 1).alias("qty"))
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field="id",
        constraints={"qty_pos": "qty > 0"},
    )
    monkeypatch.setattr(txn, "_check_constraints", lambda df, cs: None)
    with pytest.raises(Exception, match="at write time"):
        t.merge(spark.createDataFrame([(5, -3)], "id long, qty long"))
    assert t.version() == 0  # the failed write published nothing


# -- deletion vectors ---------------------------------------------------------


def test_dv_delete_writes_no_data_files_and_reads_exclude_rows(spark, tmp_path):
    """A sparse DELETE via deletion vectors rewrites ZERO data files:
    the matched positions land in a parquet sidecar, every read
    anti-joins them out, and time travel still sees the old rows."""
    t = _mk_wide(spark, tmp_path / "t")
    before = {f["path"] for f in t._manifest()["files"]}
    res = t.delete(F.col("id").between(100, 120), mode="dv")
    assert res["rewritten"] == 0 and res["dv_files"] == 1  # coalesced sidecar
    assert res["deleted_rows"] == 21
    # data files are byte-identical — only the manifest gained dv refs
    after = t._manifest()["files"]
    assert {f["path"] for f in after} == before
    dvd = [f for f in after if f.get("dv")]
    assert len(dvd) == 1 and dvd[0]["dv"]["rows"] == 21
    assert t.read().where("id between 100 and 120").count() == 0
    assert t.read().count() == 10_000 - 21
    assert t.read(version=0).count() == 10_000  # snapshot isolation
    assert t.history()[0]["n_rows"] == 10_000 - 21  # logical, not physical
    # a second DV delete on the same file CONSOLIDATES: one vector set
    # per entry, both generations of deletes applied
    res2 = t.delete(F.col("id").between(121, 130), mode="dv")
    assert res2["rewritten"] == 0
    e = [f for f in t._manifest()["files"] if f.get("dv")][0]
    assert e["dv"]["rows"] == 31
    assert t.read().where("id between 100 and 130").count() == 0
    assert t.read().count() == 10_000 - 31
    # deleting already-deleted rows again matches nothing
    res3 = t.delete(F.col("id") == 105, mode="dv")
    assert res3 == {"version": t.version(), "rewritten": 0, "deleted_rows": 0}


def test_delete_auto_routes_sparse_to_dv_and_wide_to_rewrite(spark, tmp_path):
    t = _mk_wide(spark, tmp_path / "t")
    sparse = t.delete(F.col("id") == 5)  # default mode="auto"
    assert sparse["rewritten"] == 0 and sparse.get("dv_files")
    wide = t.delete(F.col("id") < 9000)  # 90% of rows: rewrite wins
    assert wide["rewritten"] > 0 and "dv_files" not in wide
    assert t.read().count() == 10_000 - 1 - 8999
    # the wide rewrite materialized the sparse delete's vector away
    assert not any(f.get("dv") for f in t._manifest()["files"])


def test_dv_interplay_with_merge_update_and_compact(spark, tmp_path):
    """Rewriting verbs read THROUGH vectors and drop them for rewritten
    files; compact clears every vector and maybe_compact watches
    dv_fraction."""
    t = _mk_wide(spark, tmp_path / "t", n=1000, files=4)
    t.delete(F.col("id").between(0, 9), mode="dv")
    # merge touching the dv'd file: deleted keys must NOT resurrect
    # from the rewritten file, and the new entry carries no dv
    t.merge(spark.createDataFrame([(5, "x"), (1500, "y")], "id long, v string"))
    got = {r.id: r.v for r in t.read().where("id <= 10 or id = 1500").collect()}
    assert got == {5: "x", 10: "3", 1500: "y"}  # 0-4,6-9 stay deleted
    assert not any(f.get("dv") for f in t._manifest()["files"])
    # update WHERE over a dv'd region only sees live rows; pinned to
    # the rewrite strategy, which clears the touched file's vector
    t.delete(F.col("id").between(20, 29), mode="dv")
    res = t.update({"v": F.lit("u")}, F.col("id").between(20, 40), mode="rewrite")
    assert res["updated_rows"] == 11  # 30..40 only
    assert t.read().where("id between 20 and 29").count() == 0
    st = t.layout_stats()
    assert st["n_dv_rows"] == 0  # update rewrote the dv'd file
    t.delete(F.col("id").between(50, 300), mode="dv")
    st = t.layout_stats()
    assert st["n_dv_rows"] == 251 and st["dv_fraction"] > 0.2
    rec = t.maybe_compact(target_files=4)
    assert rec is not None  # dv_fraction tripped the policy
    st = t.layout_stats()
    assert st["n_dv_rows"] == 0 and st["dv_fraction"] == 0.0
    assert t.read().where("id between 50 and 300").count() == 0


def test_dv_precise_change_feed_and_mirror(spark, tmp_path):
    """A DV delete changes no file paths, so the precise feed diffs
    entry IDENTITY (path + dv ref) — the deleted keys come out as
    exact delete rows and flow through sync_table to a mirror."""
    from gcpde_spark.txn import sync_table

    src = _mk(spark, tmp_path / "src", n=100)
    sync_table(spark, src, str(tmp_path / "dst"))
    src.delete(F.col("id").between(10, 14), mode="dv")
    ch = src.read_changes(0, precise=True)
    dels = {r.id for r in ch.where("_change_type = 'delete'").collect()}
    assert dels == {10, 11, 12, 13, 14}
    # the untouched-row portion of the dv'd file re-emits as upserts of
    # identical values — harmless for keyed apply; deletes are exact
    res = sync_table(spark, src, str(tmp_path / "dst"))
    assert res["mode"] == "incremental"
    dst = TxnTable(spark, str(tmp_path / "dst"))
    assert {r.id for r in dst.read().collect()} == set(range(100)) - dels


def test_dv_clone_vacuum_restore_constraints(spark, tmp_path):
    """Vectors survive clone (sidecars hard-link with the data),
    vacuum keeps sidecars of retained versions, restore re-validates
    constraints through vectors."""
    t = _mk(spark, tmp_path / "t", n=100)
    t.delete(F.col("id") >= 90, mode="dv")
    c = t.clone(str(tmp_path / "branch"))
    assert c.read().count() == 90
    # diverge: the branch deletes more; source unaffected
    c.delete(F.col("id") >= 80, mode="dv")
    assert c.read().count() == 80 and t.read().count() == 90
    # vacuum to the dv'd snapshot: its sidecar must survive
    t.vacuum(keep_last=1)
    assert t.read().count() == 90
    # compact away the vectors, vacuum again: sidecars now dead
    t.compact(n_files=2)
    t.vacuum(keep_last=1)
    assert t.read().count() == 90
    assert not any(f.get("dv") for f in t._manifest()["files"])
    # constraints: restore to a version whose VISIBLE rows (through the
    # vector) satisfy the constraint must succeed — the dv'd rows are
    # deleted, so they cannot violate
    t2 = _mk(spark, tmp_path / "t2", n=50)
    t2.append(spark.createDataFrame([(1000, None)], "id long, v string"))
    t2.delete(F.col("v").isNull() & (F.col("id") >= 1000), mode="dv")  # v2
    t2.add_constraint("v_set", "v is not null")  # validates THROUGH the dv
    assert t2.version() == 3


def test_dv_survives_encodable_table_paths(spark, tmp_path):
    """The lineage key is a path SUFFIX (data/<uuid>/<part>), so DV
    deletes work on table roots containing URI-encodable characters —
    the failure mode of stripping a resolved-root prefix from Spark's
    percent-encoded _metadata.file_path."""
    t = _mk(spark, tmp_path / "dv table %20 dir" / "t", n=100)
    res = t.delete(F.col("id") < 10, mode="dv")
    assert res["deleted_rows"] == 10 and res["rewritten"] == 0
    assert t.read().count() == 90
    res = t.update({"v": F.lit("u")}, F.col("id") == 50)
    assert res["updated_rows"] == 1


def test_reserved_lineage_columns_refused(spark, tmp_path):
    """_dv_file/_dv_pos would collide with the injected lineage columns
    and wedge every later delete — refused at create AND at additive
    evolution, not discovered mid-delete."""
    bad = spark.range(5).select(F.col("id"), F.lit("x").alias("_dv_file"))
    with pytest.raises(ValueError, match="reserved"):
        TxnTable.create(spark, str(tmp_path / "t"), bad, key_field="id")
    t = _mk(spark, tmp_path / "t2", n=10)
    evo = spark.range(3).select(
        F.col("id"), F.lit("a").alias("v"), F.lit(7).alias("_dv_pos")
    )
    with pytest.raises(ValueError, match="reserved"):
        t.merge(evo, merge_schema=True)


def test_dv_rows_never_resurrect_in_catalog_snapshots(spark, tmp_path):
    """TxnMergeBackend's catalog publication hard-links raw files —
    vector-carrying files must MATERIALIZE instead, or the external
    table would show DV-deleted rows."""
    from gcpde_spark.tables import TableStore
    from gcpde_spark.txn import TxnMergeBackend

    store = TableStore(spark, warehouse_dir=str(tmp_path / "wh"))
    store.merge_backend = TxnMergeBackend(str(tmp_path / "lake"))
    try:
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("v")
        )
        store.upsert_table_df("dvds", "users", df, "id")
        t = store.merge_backend.table(spark, "dvds", "users")
        res = t.delete(F.col("id") < 10, mode="dv")
        assert res["rewritten"] == 0
        # republish (what the next merge_into does) and read the catalog
        store.merge_backend._publish_catalog(spark, t, "dvds", "users")
        got = {r.id for r in spark.table("dvds.users").collect()}
        assert got == set(range(10, 100))
    finally:
        spark.sql("DROP TABLE IF EXISTS dvds.users")
        spark.sql("DROP DATABASE IF EXISTS dvds")


def test_dv_update_writes_only_updated_rows(spark, tmp_path):
    """Merge-on-read UPDATE: matched originals become vector positions,
    only the post-assignment rows write — zero touched-file copies."""
    t = _mk_wide(spark, tmp_path / "t")
    before = {f["path"] for f in t._manifest()["files"]}
    res = t.update({"v": F.lit("UPD")}, F.col("id").between(100, 110), mode="dv")
    assert res["rewritten"] == 0 and res["updated_rows"] == 11
    assert res["dv_files"] == 1
    after = t._manifest()["files"]
    # all original files still present (byte-identical), one new file
    assert before <= {f["path"] for f in after}
    new = [f for f in after if f["path"] not in before]
    assert len(new) >= 1 and sum(f["rows"] for f in new) == 11
    got = {r.id: r.v for r in t.read().where("id between 98 and 112").collect()}
    assert all(v == "UPD" for k, v in got.items() if 100 <= k <= 110)
    assert got[98] == str(98 % 7) and got[112] == str(112 % 7)
    assert t.read().count() == 10_000  # no net row change
    assert t.read(version=0).where("id = 105").collect()[0].v == str(105 % 7)
    # simultaneous assignment semantics hold on the DV route too
    t2 = TxnTable.create(
        spark,
        str(tmp_path / "t2"),
        spark.range(4).select(
            F.col("id"), (F.col("id") * 10).alias("a"), (F.col("id") * 100).alias("b")
        ),
        key_field="id",
    )
    t2.update({"a": F.col("b"), "b": F.col("a")}, F.col("id") == 2, mode="dv")
    r = t2.read().where("id = 2").collect()[0]
    assert (r.a, r.b) == (200, 20)


def test_dv_update_enforces_constraints_and_routes_wide_to_rewrite(
    spark, tmp_path
):
    from gcpde_spark.txn import ConstraintViolation

    df = spark.range(100).select(F.col("id"), (F.col("id") + 1).alias("qty"))
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, key_field="id",
        constraints={"qty_pos": "qty > 0"},
    )
    with pytest.raises(ConstraintViolation, match="qty_pos"):
        t.update({"qty": F.lit(-1)}, F.col("id") == 5, mode="dv")
    assert t.version() == 0  # refusal committed nothing (incl. no dv)
    assert not any(f.get("dv") for f in t._manifest()["files"])
    # wide predicate on auto routes to rewrite (no vectors left behind)
    res = t.update({"qty": F.col("qty") + 1000}, F.col("id") >= 10)
    assert res["rewritten"] > 0 and "dv_files" not in res
    assert not any(f.get("dv") for f in t._manifest()["files"])


def test_dv_update_precise_feed_emits_postimages(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=50)
    t.update({"v": F.lit("X")}, F.col("id").isin(3, 17), mode="dv")
    ch = t.read_changes(0, precise=True).collect()
    post = {r.id: r.v for r in ch if r._change_type == "update_postimage"}
    assert post == {3: "X", 17: "X"}
    assert not any(r._change_type == "delete" for r in ch)


def test_mor_merge_supersedes_without_rewriting_any_file(spark, tmp_path):
    """Merge-on-read: superseded old rows become vector positions, the
    delta writes as new files, and only files with ACTUAL key matches
    gain a vector (range-overlap false positives stay untouched)."""
    t = _mk_wide(spark, tmp_path / "t")
    before = {f["path"] for f in t._manifest()["files"]}
    delta = spark.createDataFrame(
        [(5, "UPD"), (20_000, "NEW")], "id long, v string"
    )
    res = t.merge(delta, strategy="mor")
    assert res["rewritten"] == 0 and res["matched_rows"] == 1
    after = t._manifest()["files"]
    assert before <= {f["path"] for f in after}
    # the delta's [5, 20000] range overlaps EVERY key-sorted file, but
    # only the file actually containing key 5 carries a vector
    assert sum(1 for f in after if f.get("dv")) == 1
    got = {r.id: r.v for r in t.read().where("id in (5, 6, 20000)").collect()}
    assert got == {5: "UPD", 6: "6", 20_000: "NEW"}
    assert t.read().count() == 10_001
    # duplicate-key guard: the SAME merge_dataframes plan guards mor
    v = t.version()
    dup = spark.createDataFrame([(7, "a"), (7, "b")], "id long, v string")
    with pytest.raises(Exception, match="duplicate|MERGE"):
        t.merge(dup, strategy="mor")
    assert t.version() == v  # nothing committed


def test_merge_auto_strategy_routes_by_delta_fraction(spark, tmp_path):
    t = _mk_wide(spark, tmp_path / "t", n=1000, files=4)
    sparse = spark.createDataFrame([(5, "X")], "id long, v string")
    res = t.merge(sparse, strategy="auto")
    assert res["rewritten"] == 0 and res["matched_rows"] == 1
    wide = spark.range(500).select(
        F.col("id"), F.lit("W").alias("v")
    )
    res = t.merge(wide, strategy="auto")
    assert res["rewritten"] > 0  # 500 rows vs ~500 touched: cow wins
    assert {r.v for r in t.read().where("id < 500").collect()} == {"W"}
    assert t.read().count() == 1000


def test_mor_merge_precise_feed_and_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=50)
    t.merge(
        spark.createDataFrame([(7, "UPD"), (99, "NEW")], "id long, v string"),
        strategy="mor",
    )
    ch = t.read_changes(0, precise=True).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, set()).add(r.id)
    assert 7 in by_type["update_postimage"] and 99 in by_type["insert"]
    assert "delete" not in by_type
    # additive evolution flows through the mor route
    evo = spark.createDataFrame(
        [(7, "UPD2", 1.5)], "id long, v string, score double"
    )
    t.merge(evo, merge_schema=True, strategy="mor")
    rows = {r.id: (r.v, r.score) for r in t.read().where("id in (7, 8)").collect()}
    assert rows[7] == ("UPD2", 1.5) and rows[8] == ("1", None)


def test_purge_vectors_rewrites_only_vector_carrying_files(spark, tmp_path):
    """The REORG-PURGE analog: only dv-carrying files rewrite; clean
    files carry untouched; the commit is a logical no-op to feeds."""
    t = _mk_wide(spark, tmp_path / "t", n=1000, files=8)
    assert t.purge_vectors() is None  # nothing to purge
    t.delete(F.col("id").between(0, 9), mode="dv")
    clean_before = {
        f["path"] for f in t._manifest()["files"] if not f.get("dv")
    }
    rec = t.purge_vectors()
    assert rec["purged_files"] == 1 and rec["kept"] == 7
    after = t._manifest()["files"]
    assert not any(f.get("dv") for f in after)
    assert clean_before <= {f["path"] for f in after}
    assert t.read().count() == 990
    # published as compact: the upsert feed must skip it
    assert (
        t.read_changes(rec["version"] - 1, end_version=rec["version"]).count()
        == 0
    )
    # policy: dv debt with healthy layout routes to purge, not compact
    t2 = _mk_wide(spark, tmp_path / "t2", n=1000, files=4)
    t2.delete(F.col("id") < 300, mode="dv")
    rec2 = t2.maybe_compact(target_files=4)
    assert rec2 is not None and "purged_files" in rec2



# Spark job ids per verb call on the etl_upsert-shaped table of
# _orders_16 (16 files, 15k rows), measured on a 4-core VM under this
# suite's session (8 shuffle partitions). AQE splits each shuffling
# action into one job per stage, so these count job ids, not actions.
# A default (copy-on-write) merge: the delta-bounds aggregation and the
# merge write — the same 7 before and after the row-change kernel, which
# must not add a persist, a count or a routing scan to this path.
_COW_MERGE_JOBS = 7
# update(mode="rewrite"): the per-file match-count scan and the write.
# Before the kernel it also ran a separate count() of the matched rows,
# 5 job ids in all.
_REWRITE_UPDATE_JOBS = 3


def _job_ids(spark, fn):
    """(result, job ids) of ``fn()`` run under a fresh job group; the
    caller's group and description are restored afterwards."""
    import uuid

    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")
    saved = [sc.getLocalProperty(p) for p in props]
    gid = f"txn-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job count probe")
    try:
        out = fn()
    finally:
        for p, v in zip(props, saved):
            sc.setLocalProperty(p, v)
    return out, sc.statusTracker().getJobIdsForGroup(gid)


def _orders_16(spark, path):
    orders = spark.range(15_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 1500).alias("o_custkey"),
        (F.col("id") * 1.25).alias("o_totalprice"),
    )
    return TxnTable.create(
        spark, str(path), orders, key_field="o_orderkey", n_files=16
    )


def test_default_merge_job_count_is_pinned(spark, tmp_path):
    """A 500-row delta (400 updated keys spread over the key range, 100
    new) merged into a 16-file table, as one etl_upsert op does: the
    default merge touches every file and runs a fixed number of jobs."""
    t = _orders_16(spark, tmp_path / "t")
    keys = list(range(0, 15_000, 37))[:400] + list(range(15_000, 15_100))
    delta = spark.createDataFrame(
        [(k, k % 1500, 1_000_000.0 + i) for i, k in enumerate(keys)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    receipt, jobs = _job_ids(spark, lambda: t.merge(delta))
    assert receipt == {"version": 1, "rewritten": 16, "kept": 0}
    assert len(jobs) <= _COW_MERGE_JOBS, jobs
    assert t.read().count() == 15_100


def test_rewrite_update_job_count_is_pinned(spark, tmp_path):
    """update(mode="rewrite") takes its matched-row count from the
    targeting scan: no second count job over the touched files."""
    t = _orders_16(spark, tmp_path / "t")
    receipt, jobs = _job_ids(
        spark,
        lambda: t.update(
            {"o_totalprice": "o_totalprice + 1"},
            "o_orderkey between 1000 and 2999",
            mode="rewrite",
        ),
    )
    assert receipt["updated_rows"] == 2000 and receipt["kept"] == 13
    assert len(jobs) <= _REWRITE_UPDATE_JOBS, jobs
