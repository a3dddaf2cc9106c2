"""asof_join semantics: backward/forward, inclusivity, tolerance,
unmatched-null — checked on a hand-computable fixture. The at-scale
equivalence with DuckDB's native ASOF JOIN is corpus entry c39."""

from __future__ import annotations

import datetime

from gcpde_spark.operators import asof_join

T = lambda m: datetime.datetime(2022, 1, 1, 10, m)  # noqa: E731


def _fixture(spark):
    left = spark.createDataFrame(
        [(1, T(10), "l1"), (1, T(30), "l2"), (2, T(5), "l3")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, T(0), "r1"), (1, T(10), "r2"), (1, T(40), "r3"), (3, T(0), "rX")],
        "k long, ts timestamp, rv string",
    )
    return left, right


def test_asof_backward_inclusive_and_unmatched_null(spark):
    left, right = _fixture(spark)
    got = {
        r.lv: (r.rv, r.ts_r)
        for r in asof_join(left, right, "ts", ["k"]).collect()
    }
    assert got["l1"] == ("r2", T(10))  # equal ts matches (inclusive)
    assert got["l2"] == ("r2", T(10))  # latest at-or-before, not r3
    assert got["l3"] == (None, None)  # key 2 has no right rows


def test_asof_forward(spark):
    left, right = _fixture(spark)
    got = {
        r.lv: r.rv
        for r in asof_join(left, right, "ts", ["k"], direction="forward").collect()
    }
    assert got["l1"] == "r2"  # equal ts still matches
    assert got["l2"] == "r3"  # earliest at-or-after
    assert got["l3"] is None


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _fixture(spark)
    got = {
        r.lv: r.rv
        for r in asof_join(
            left, right, "ts", ["k"], tolerance="5 minutes"
        ).collect()
    }
    assert got["l1"] == "r2"  # 0 min away
    assert got["l2"] is None  # r2 is 20 min stale


def test_interval_join_pairs_and_bounds(spark):
    left = spark.createDataFrame(
        [(1, T(30), "e1"), (2, T(30), "e2")], "k long, ts timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(1, T(0), "c0"), (1, T(25), "c1"), (1, T(30), "c2"), (1, T(31), "c3")],
        "k long, ts timestamp, rv string",
    )
    from gcpde_spark.operators import interval_join

    got = {
        (r.lv, r.rv)
        for r in interval_join(
            left, right, by=["k"], lower_s=-600, upper_s=0
        ).collect()
    }
    # inclusive bounds: c1 (5 min before) and c2 (equal) match; c0 is too
    # old, c3 is after, e2's key has no right rows
    assert got == {("e1", "c1"), ("e1", "c2")}


def test_interval_join_rejects_empty_interval(spark):
    import pytest
    from gcpde_spark.operators import interval_join

    df = spark.createDataFrame([(1, T(0))], "k long, ts timestamp")
    with pytest.raises(ValueError):
        interval_join(df, df, by=["k"], lower_s=0, upper_s=0)


def test_asof_join_matches_naive_reference_on_random_inputs(spark):
    """Property: asof_join(backward) equals the quadratic per-row argmax
    on arbitrary key/timestamp shapes (duplicate left rows, ties, keys
    on one side only). Right rows are unique per (k, ts) by construction
    — the operator's documented precondition."""
    from hypothesis import given, settings, strategies as st

    pair = st.tuples(st.integers(0, 2), st.integers(0, 30))

    @settings(max_examples=12, deadline=None)
    @given(
        lefts=st.lists(pair, min_size=1, max_size=8),
        rights=st.sets(pair, max_size=8),
    )
    def check(lefts, rights):
        left = spark.createDataFrame(
            [(k, T(m), i) for i, (k, m) in enumerate(lefts)],
            "k long, ts timestamp, lid long",
        )
        rights = sorted(rights)
        if rights:
            right = spark.createDataFrame(
                [(k, T(m), i) for i, (k, m) in enumerate(rights)],
                "k long, ts timestamp, rid long",
            )
        else:
            right = spark.createDataFrame([], "k long, ts timestamp, rid long")
        got = {
            r.lid: r.rid for r in asof_join(left, right, "ts", ["k"]).collect()
        }
        for i, (k, m) in enumerate(lefts):
            candidates = [
                (rm, j) for j, (rk, rm) in enumerate(rights) if rk == k and rm <= m
            ]
            expected = max(candidates)[1] if candidates else None
            assert got[i] == expected, (lefts, rights, i)

    check()


def test_salted_join_matches_plain_join(spark):
    """Salting must not change the result set — a skewed left (90% one
    key) joined to a keyed right equals the unsalted join."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import salted_join

    left = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
    )
    got = sorted(
        map(tuple, salted_join(left, right, ["k"], salt=8).collect())
    )
    expected = sorted(map(tuple, left.join(right, ["k"]).collect()))
    assert got == expected


def test_salted_join_splits_hot_key_across_partitions(spark):
    """The hot key's rows must land in more than one shuffle partition
    after salting (the whole point)."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import salted_join

    left = spark.range(2000).select(F.lit(7).alias("k"), F.col("id").alias("lv"))
    right = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("rv"))
    joined = salted_join(left, right, ["k"], salt=8)
    n_parts = (
        joined.withColumn("_pid", F.spark_partition_id())
        .select("_pid")
        .distinct()
        .count()
    )
    assert n_parts > 1


def test_sessionize_splits_on_gap(spark):
    from gcpde_spark.operators import sessionize

    rows = [
        (1, T(0)), (1, T(10)), (1, T(50)),  # gap 40 min -> new session
        (2, T(0)),
        # 1800.5 s exceeds a 1800 s gap: whole-second gaps would merge them
        (3, T(0)), (3, T(30) + datetime.timedelta(milliseconds=500)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.user_id, r.ts.minute): r.session_id
        for r in sessionize(df, gap_s=1800).collect()
    }
    assert got == {
        (1, 0): 1, (1, 10): 1, (1, 50): 2, (2, 0): 1, (3, 0): 1, (3, 30): 2,
    }


def test_interval_join_matches_naive_reference_on_random_inputs(spark):
    """Property: the banded interval join equals the quadratic filter on
    arbitrary shapes (bucket-boundary timestamps included)."""
    from hypothesis import given, settings, strategies as st

    from gcpde_spark.operators import interval_join

    pair = st.tuples(st.integers(0, 2), st.integers(0, 59))

    @settings(max_examples=10, deadline=None)
    @given(
        lefts=st.lists(pair, min_size=1, max_size=6),
        rights=st.lists(pair, min_size=0, max_size=6),
    )
    def check(lefts, rights):
        left = spark.createDataFrame(
            [(k, T(m), i) for i, (k, m) in enumerate(lefts)],
            "k long, ts timestamp, lid long",
        )
        right = spark.createDataFrame(
            [(k, T(m), i) for i, (k, m) in enumerate(rights)],
            "k long, ts timestamp, rid long",
        ) if rights else spark.createDataFrame([], "k long, ts timestamp, rid long")
        got = {
            (r.lid, r.rid)
            for r in interval_join(
                left, right, by=["k"], lower_s=-600, upper_s=300
            ).collect()
        }
        expected = {
            (i, j)
            for i, (lk, lm) in enumerate(lefts)
            for j, (rk, rm) in enumerate(rights)
            if lk == rk and (lm - 10) * 60 <= rm * 60 <= lm * 60 + 300
        }
        assert got == expected, (lefts, rights)

    check()


def test_funnel_counts_order_and_window_semantics(spark):
    """Step i counts only when strictly AFTER step i-1 and inside the
    conversion window; out-of-order or too-late events don't convert."""
    from datetime import datetime as dt

    from gcpde_spark.operators import funnel_counts

    rows = [
        # user 1: full ordered funnel inside windows
        (1, "view", dt(2024, 1, 1)), (1, "click", dt(2024, 1, 2)),
        (1, "purchase", dt(2024, 1, 3)),
        # user 2: click BEFORE view → stops after view
        (2, "click", dt(2024, 1, 1)), (2, "view", dt(2024, 1, 2)),
        # user 3: click too late (> 7 days after view)
        (3, "view", dt(2024, 1, 1)), (3, "click", dt(2024, 1, 10)),
        # user 4: never viewed → not even stage 0
        (4, "purchase", dt(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r.step_name: r.n_users
        for r in funnel_counts(
            df, ["view", "click", "purchase"], within="7 days"
        ).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_counts_is_one_lazy_job(spark):
    """Round-4 verdict finding #3: the old funnel ran one eager count()
    per step (3 sequential jobs + a driver createDataFrame). The
    rewrite must be fully lazy — constructing the DataFrame launches
    ZERO Spark jobs — and execute as one job over one scan."""
    from datetime import datetime as dt

    from gcpde_spark.operators import funnel_counts

    rows = [(u, t, dt(2024, 1, 1 + d)) for u in range(20)
            for d, t in enumerate(["view", "click", "purchase"])]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = funnel_counts(df, ["view", "click", "purchase"], within="7 days")
    assert tracker.getJobIdsForGroup(None) == before, "construction ran a job"
    # single scan: the plan reads the event source once
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1
    assert {(r.step, r.n_users) for r in out.collect()} == {(0, 20), (1, 20), (2, 20)}


def test_funnel_counts_step_names_are_data_not_sql(spark):
    """A step name containing a quote must survive the unpivot verbatim
    (the checks.py injection class, closed for funnel_counts too)."""
    from datetime import datetime as dt

    from gcpde_spark.operators import funnel_counts

    df = spark.createDataFrame(
        [(1, "view", dt(2024, 1, 1)), (1, "clicked 'buy'", dt(2024, 1, 2))],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        r.step_name: r.n_users
        for r in funnel_counts(df, ["view", "clicked 'buy'"]).collect()
    }
    assert got == {"view": 1, "clicked 'buy'": 1}


def test_cohort_retention_offsets(spark):
    from datetime import datetime as dt

    from gcpde_spark.operators import cohort_retention
    from pyspark.sql import functions as F

    rows = [
        # user 1 signs up Mon 2024-01-01 week; active weeks 0 and 2
        (1, "signup", dt(2024, 1, 2)), (1, "click", dt(2024, 1, 16)),
        # user 2 same cohort, active week 0 only
        (2, "signup", dt(2024, 1, 3)),
        # user 3 never signs up → no cohort
        (3, "click", dt(2024, 1, 4)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        (str(r.cohort_week), r.week_offset): r.n_active
        for r in cohort_retention(
            df, anchor=F.col("event_type") == "signup"
        ).collect()
    }
    assert got == {("2024-01-01", 0): 2, ("2024-01-01", 2): 1}


def test_with_ordered_index_matches_row_number_without_a_window(spark):
    """Global numbering parity with row_number() OVER (ORDER BY ...) —
    but the plan must contain NO Window node at all (the scale-safe
    construction c65's docstring points to)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcpde_spark.operators import with_ordered_index
    from gcpde_spark.plans import audit

    df = spark.range(10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("payload")
    )
    out = with_ordered_index(df, ["k"], out_col="rn", n_partitions=8)
    expected = {
        (r.k, r.rn)
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k")).cast("bigint")
        ).collect()
    }
    got = {(r.k, r.rn) for r in out.collect()}
    assert got == expected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert audit(out).global_windows == 0
    # deterministic across materializations (persisted tag pass)
    assert {(r.k, r.rn) for r in out.collect()} == expected
    spark.catalog.clearCache()


def _naive_expand(edges_rows, roots_rows, max_depth=None):
    """Reference fixpoint: the ANSI recursive CTE's UNION ALL semantics,
    one output row per (root, path)."""
    children = {}
    for k, p in edges_rows:
        children.setdefault(p, []).append(k)
    out = []
    frontier = list(roots_rows)
    while frontier:
        out.extend(frontier)
        nxt = []
        for k, d in frontier:
            if max_depth is not None and d + 1 > max_depth:
                continue
            for c in children.get(k, ()):
                nxt.append((c, d + 1))
        frontier = nxt
    if max_depth is not None:
        out = [(k, d) for k, d in out if d <= max_depth]
    return sorted(out)


def test_recursive_expand_matches_naive_fixpoint_all_strides(spark):
    """Property (VERDICT r7 #3): the strided operator computes exactly the
    naive depth-at-a-time recursion's multiset, for every stride, on a
    forest whose depth is NOT a multiple of the stride (exercises the
    last-round overshoot)."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import recursive_expand

    # binary tree over 1..100 (depth 6, not divisible by 4), parent
    # pointers like the c57 corpus entry's supplier hierarchy
    edges = spark.range(1, 101).select(
        F.col("id").alias("k"),
        F.floor((F.col("id") - 1) / 2).cast("bigint").alias("p"),
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    expected = _naive_expand(
        [(r.k, r.p) for r in edges.collect()], [(0, 0)]
    )
    for stride in (1, 2, 4, 8):
        got = sorted(
            (r.k, r.depth)
            for r in recursive_expand(edges, roots, stride=stride).collect()
        )
        assert got == expected, f"stride={stride}"
    spark.catalog.clearCache()


def test_recursive_expand_union_all_multiplicity_and_max_depth(spark):
    """A DAG node with two parents yields one row PER PATH (UNION ALL
    fixpoint, not reachability dedup), and max_depth bounds prologue and
    recursion output alike."""
    from gcpde_spark.operators import recursive_expand

    #      0
    #     / \
    #    1   2
    #     \ / \
    #      3   4    (3 has two parents -> two paths at depth 2)
    #      |
    #      5
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (3, 2), (4, 2), (5, 3)], "k long, p long"
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    expected = _naive_expand(
        [(1, 0), (2, 0), (3, 1), (3, 2), (4, 2), (5, 3)], [(0, 0)]
    )
    got = sorted(
        (r.k, r.depth)
        for r in recursive_expand(edges, roots, stride=2).collect()
    )
    assert got == expected
    assert got.count((3, 2)) == 2  # one row per path
    assert got.count((5, 3)) == 2  # both paths propagate below
    bounded = sorted(
        (r.k, r.depth)
        for r in recursive_expand(
            edges, roots, stride=4, max_depth=1
        ).collect()
    )
    assert bounded == [(0, 0), (1, 1), (2, 1)]
    spark.catalog.clearCache()


def test_recursive_expand_latch_derives_from_edge_count(spark):
    """The latched plan's exchanges are sized from the measured edge
    count, and the session's own shuffle-partition conf is untouched."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import recursive_expand

    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.range(1, 200).select(
        F.col("id").alias("k"),
        F.floor((F.col("id") - 1) / 2).cast("bigint").alias("p"),
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    out = recursive_expand(edges, roots, stride=4, rows_per_partition=64)
    # ceil(199/64) = 4, clamped below the session's 8
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert out.count() == 199 + 1
    # the memoized plan was built under the derived count: any shuffle
    # exchange in it advertises 4 partitions, not the session's 8
    import re

    parts = {int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
    assert parts <= {4}, plan[:2000]
    spark.catalog.clearCache()


def test_recursive_expand_rejects_bad_stride(spark):
    import pytest as _pytest

    from gcpde_spark.operators import recursive_expand

    edges = spark.createDataFrame([(1, 0)], "k long, p long")
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    for bad in (0, 3, 6, -4):
        with _pytest.raises(ValueError):
            recursive_expand(edges, roots, stride=bad)
    # ints are NOT accepted for broadcast even though bool == int in
    # Python: 0/1 passing a membership check would silently demote a
    # forced route to "auto" (round-9 review finding)
    for bad_bc in (0, 1, "yes", None):
        with _pytest.raises(ValueError):
            recursive_expand(edges, roots, broadcast=bad_bc)


def test_latch_plan_restores_unset_conf(spark):
    """latch_plan must not pin an explicit value for a key that was never
    explicitly set (ADVICE r7 sentinel-restore semantics); with the suite
    session the key IS set, so this exercises the set-path restore."""
    from gcpde_spark.operators import latch_plan

    import re

    from pyspark.sql import functions as F

    before = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    latch_plan(df, 2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    plan = df._jdf.queryExecution().executedPlan().toString()
    parts = {int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
    assert parts == {2}


def test_recursive_expand_random_forests_match_naive(spark):
    """Hypothesis differential: on random parent-pointer forests (some
    multi-root, some with orphaned subtrees never reached), every stride
    computes exactly the naive fixpoint from a random root set."""
    from hypothesis import given, settings, strategies as st

    from gcpde_spark.operators import recursive_expand

    @settings(max_examples=10, deadline=None)
    @given(
        n=st.integers(5, 60),
        seed=st.integers(0, 2**31 - 1),
        stride=st.sampled_from([1, 2, 4]),
        n_roots=st.integers(1, 3),
    )
    def run(n, seed, stride, n_roots):
        import random

        rng = random.Random(seed)
        # node i's parent is a random earlier node (forest, acyclic);
        # roots 0..n_roots-1 are the query frontier — parents pointing
        # at non-root ancestors exercise unreached subtrees
        edge_rows = [(i, rng.randrange(0, i)) for i in range(1, n)]
        root_rows = [(r, 0) for r in range(n_roots)]
        edges = spark.createDataFrame(edge_rows, "k long, p long")
        roots = spark.createDataFrame(root_rows, "k long, depth long")
        got = sorted(
            (r.k, r.depth)
            for r in recursive_expand(edges, roots, stride=stride).collect()
        )
        assert got == _naive_expand(edge_rows, root_rows), (
            n, seed, stride, n_roots,
        )

    run()
    spark.catalog.clearCache()


def test_recursive_expand_leaves_no_temp_views(spark):
    """The operator's internal temp views are dropped before return
    (spark.sql analyzes eagerly, so the plan no longer needs them) and
    the returned DataFrame still executes."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import recursive_expand

    edges = spark.range(1, 40).select(
        F.col("id").alias("k"),
        F.floor((F.col("id") - 1) / 2).cast("bigint").alias("p"),
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    out = recursive_expand(edges, roots, stride=4, latch=False)
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("_rexp")
    ]
    assert leftover == [], leftover
    assert out.count() == 40
    spark.catalog.clearCache()


def test_recursive_expand_broadcast_routes_parity_and_plan(spark):
    """VERDICT r8 #3: the frontier-broadcast hint is measured routing,
    not a constant. Forced routes and both auto routes return the same
    multiset; the optimized plan carries the broadcast strategy hint on
    the recursion join exactly when the route says so."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import recursive_expand

    edges = spark.range(1, 120).select(
        F.col("id").alias("k"),
        F.floor((F.col("id") - 1) / 2).cast("bigint").alias("p"),
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    results, plans = {}, {}
    cases = {
        "forced_on": dict(broadcast=True),
        "forced_off": dict(broadcast=False),
        "auto_below_bound": dict(broadcast="auto"),  # 119 edges << 4M default
        "auto_above_bound": dict(broadcast="auto", broadcast_row_bound=10),
    }
    for name, kw in cases.items():
        out = recursive_expand(edges, roots, stride=2, latch=False, **kw)
        results[name] = sorted((r.k, r.depth) for r in out.collect())
        plans[name] = out._jdf.queryExecution().optimizedPlan().toString()
        spark.catalog.clearCache()
    first = results["forced_on"]
    assert all(r == first for r in results.values()), {
        k: len(v) for k, v in results.items()
    }
    assert "strategy=broadcast" in plans["forced_on"]
    assert "strategy=broadcast" in plans["auto_below_bound"]
    assert "strategy=broadcast" not in plans["forced_off"]
    assert "strategy=broadcast" not in plans["auto_above_bound"]


def test_recursive_expand_auto_refuses_broadcast_on_multi_parent_dag(spark):
    """ADVICE r9: broadcast='auto' measures max in-degree alongside the
    edge count; a key with >1 parents (path-multiplying DAG, where the
    UNION ALL frontier can exceed the edge count) disables the frontier
    broadcast even far below broadcast_row_bound, while broadcast=True
    still forces it — and both routes agree with the naive fixpoint."""
    from gcpde_spark.operators import recursive_expand

    dag = [(1, 0), (2, 0), (3, 1), (3, 2), (4, 3)]  # 3 has two parents
    edges = spark.createDataFrame(dag, "k long, p long")
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    expected = _naive_expand(dag, [(0, 0)])

    auto = recursive_expand(edges, roots, stride=2, latch=False)
    forced = recursive_expand(edges, roots, stride=2, latch=False, broadcast=True)
    auto_rows = sorted((r.k, r.depth) for r in auto.collect())
    forced_rows = sorted((r.k, r.depth) for r in forced.collect())
    assert auto_rows == expected == forced_rows
    assert "strategy=broadcast" not in auto._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in forced._jdf.queryExecution().optimizedPlan().toString()
    spark.catalog.clearCache()


def test_recursive_expand_unpersist_after_releases_internal_caches(spark):
    """VERDICT r8 #2: the power-of-two compositions are internal frames
    the caller never holds; unpersist_after=True materializes the result,
    releases EVERY internal persist, and leaves exactly one new cached
    plan — the returned frame, which the caller unpersists."""
    from pyspark.sql import functions as F

    from gcpde_spark.operators import recursive_expand

    edges = spark.range(1, 200).select(
        F.col("id").alias("k"),
        F.floor((F.col("id") - 1) / 2).cast("bigint").alias("p"),
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")
    # lazy-contract default first (stride 4 => e2 and e4 compositions
    # existed and were released on the eager path below)
    expected = sorted(
        (r.k, r.depth) for r in recursive_expand(edges, roots, stride=4).collect()
    )
    spark.catalog.clearCache()
    base_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = recursive_expand(
        edges, roots, stride=4, rows_per_partition=64, unpersist_after=True
    )
    lvl = out.storageLevel
    assert lvl.useMemory or lvl.useDisk, "result should stay cached"
    n_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached - base_cached == 1, (n_cached, base_cached)
    assert sorted((r.k, r.depth) for r in out.collect()) == expected
    out.unpersist(blocking=True)


def test_recursive_expand_releases_persists_on_error(spark):
    """ADVICE r8: a failure after e.persist() (here: a raising finish
    callback) must release the edge persist and every composed-power
    persist before the error propagates."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from gcpde_spark.operators import recursive_expand

    spark.catalog.clearCache()
    base_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    edges = spark.range(1, 50).select(
        F.col("id").alias("k"),
        F.floor((F.col("id") - 1) / 2).cast("bigint").alias("p"),
    )
    roots = spark.createDataFrame([(0, 0)], "k long, depth long")

    def boom(df):
        raise RuntimeError("finish failed")

    with _pytest.raises(RuntimeError, match="finish failed"):
        recursive_expand(edges, roots, stride=4, finish=boom)
    n_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached == base_cached, (n_cached, base_cached)


def test_latch_lock_serializes_pin_window(spark):
    """VERDICT r8 #4: the pin-materialize-restore window is atomic under
    a module lock — while one thread's latch is blocked on the lock, an
    unrelated plan materialized in this thread keeps session sizing, and
    the latched plan still gets its pinned count once the lock frees."""
    import re
    import threading
    import time

    from pyspark.sql import functions as F

    from gcpde_spark import operators

    df_latched = spark.range(1000).groupBy((F.col("id") % 11).alias("k")).count()
    df_other = spark.range(1000).groupBy((F.col("id") % 13).alias("k")).count()
    done = threading.Event()

    operators._LATCH_LOCK.acquire()
    try:
        t = threading.Thread(
            target=lambda: (operators.latch_plan(df_latched, 2), done.set())
        )
        t.start()
        time.sleep(0.3)
        assert not done.is_set(), "latch should be blocked on the lock"
        # the pin cannot be active while the lock is held here, so an
        # unrelated plan materializes under the session conf
        plan_other = df_other._jdf.queryExecution().executedPlan().toString()
        parts_other = {
            int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan_other)
        }
        assert parts_other == {8}, parts_other
    finally:
        operators._LATCH_LOCK.release()
    assert done.wait(timeout=60), "latch never completed after lock release"
    t.join()
    plan_latched = df_latched._jdf.queryExecution().executedPlan().toString()
    parts_latched = {
        int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan_latched)
    }
    assert parts_latched == {2}, parts_latched
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_recursive_expand_broadcast_routes_agree_on_random_dags(spark):
    """Hypothesis differential for the round-9 broadcast routing: on
    random DAGs (multi-parent nodes, path multiplicity) the broadcast
    and shuffle-join routes compute the identical UNION ALL multiset."""
    from hypothesis import given, settings, strategies as st

    from gcpde_spark.operators import recursive_expand

    @settings(max_examples=6, deadline=None)
    @given(n=st.integers(6, 40), seed=st.integers(0, 2**31 - 1))
    def run(n, seed):
        import random

        rng = random.Random(seed)
        # each node gets 1-2 random earlier parents -> a DAG where some
        # nodes are reached by multiple paths (UNION ALL multiplicity)
        edge_rows = []
        for i in range(1, n):
            for p in rng.sample(range(i), k=min(i, rng.randint(1, 2))):
                edge_rows.append((i, p))
        edges = spark.createDataFrame(edge_rows, "k long, p long")
        roots = spark.createDataFrame([(0, 0)], "k long, depth long")
        got = {}
        for bc in (True, False):
            got[bc] = sorted(
                (r.k, r.depth)
                for r in recursive_expand(
                    edges, roots, stride=2, latch=False, broadcast=bc,
                    max_depth=n,  # path blowup bound on dense DAGs
                ).collect()
            )
            spark.catalog.clearCache()
        assert got[True] == got[False], (n, seed, len(got[True]), len(got[False]))

    run()


def test_latch_lock_concurrent_latchers_each_get_their_count(spark):
    """N threads latching different plans under different counts: the
    lock serializes the pin windows, so every plan memoizes under ITS
    OWN count and the session conf ends exactly where it started."""
    import re
    import threading

    from pyspark.sql import functions as F

    from gcpde_spark.operators import latch_plan

    before = spark.conf.get("spark.sql.shuffle.partitions")
    frames = {
        n: spark.range(500 + n).groupBy((F.col("id") % (3 + n)).alias("k")).count()
        for n in (2, 3, 5, 6)
    }
    errs = []

    def work(n, df):
        try:
            latch_plan(df, n)
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append((n, e))

    threads = [threading.Thread(target=work, args=(n, df)) for n, df in frames.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errs, errs
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    for n, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        parts = {
            int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)
        }
        assert parts == {n}, (n, parts)
