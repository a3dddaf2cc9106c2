"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard
(SURVEY.md §2B-16; no reference counterpart — 100 TB extension layer).

Scale design, common to every operator here:

- **Never all-pairs.** Candidate generation is banded/bucketed: documents
  are exploded to skinny ``(id, band_idx, band_hash)`` rows and candidate
  pairs come from an equi-join on the band key — the only shuffle is on
  band hashes, and the join input is a few dozen bytes per row.
- **Signatures stay in whole-stage codegen**: shingles/tokens explode to
  skinny ``(id, hash)`` rows and the signature is a batch of codegen'd
  min/sum aggregates with map-side partial aggregation — one linear
  shuffle of token hashes. (A higher-order-function formulation looks
  cheaper — no shuffle — but HOF lambdas run interpreted and Catalyst
  re-inlines the shingle array into every lambda element: 480 s vs ~2 s
  on 5 k docs.)
- **Verification re-joins by id** to fetch shingle sets only for the
  (rare) candidate pairs, instead of carrying arrays through the LSH
  join — at 1000-executor scale the band join stays skinny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcpde_spark.llm.text import (
    _with_text_cols,
    normalize_text,
    spread,
    tokens,
)

# Universal-hash family (a*x + b) mod P with P = 2^31 - 1 (Mersenne
# prime) over inputs folded into [0, P). Two constraints pin this choice:
# (1) a, b, x < 2^31 keeps the product under 2^62 — no long overflow,
#     which Spark's default ANSI mode raises on instead of wrapping;
# (2) P must be SMALLER than the typical product so the mod wraps many
#     times — with a larger modulus (e.g. 2^61-1) the map is piecewise
#     monotonic in x, min-wise independence collapses, and measured
#     signature agreement lands far below true Jaccard.
_P = (1 << 31) - 1


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep one row (smallest ``id_col``) per distinct normalized text.

    hash-groupBy dedup: md5 of the normalized text is the grouping key, a
    window ``row_number`` keeps the survivor. One shuffle on the 128-bit
    hash — uniformly distributed, so no skew regardless of document skew.

    NULL-text rows are not duplicates of each other: each gets a private
    group key derived from its id (the ``n:`` prefix cannot collide with
    md5 hex), so all of them survive — and a NULL-heavy corpus cannot
    funnel into one skewed window partition.
    """
    fp = F.md5(normalize_text(text_col))
    key = F.coalesce(fp, F.concat(F.lit("n:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("_fp").orderBy(id_col)
    return (
        df.withColumn("_fp", key)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exact_dedup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Dedup *accounting*: one row per distinct normalized text with the
    surviving id and the copy count — the audit view of :func:`exact_dedup`.
    """
    return (
        df.groupBy(F.md5(normalize_text(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
    distinct: bool = True,
) -> DataFrame:
    """Add the word-``n``-gram set of the normalized text.

    Documents shorter than ``n`` tokens contribute their whole token
    sequence as a single shingle so they still participate.
    ``distinct=False`` skips the O(len²) interpreted ``array_distinct``
    — correct wherever downstream is duplicate-invariant (MinHash mins,
    explode→distinct pipelines).
    """
    toks = tokens(text_col)
    ngrams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return df.withColumn(out_col, F.array_distinct(ngrams) if distinct else ngrams)


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, fanout: bool = True
) -> DataFrame:
    """``(_vid, _s)`` word-``n``-gram rows via posexplode + lead window.

    This is the scale path for shingling: the array-building
    ``transform`` lambda is interpreted AND re-evaluates its inlined
    token-split per element (interpreted HOFs have no common-subexpr
    elimination), making it O(text_len²) per document. Here tokens are
    exploded once (the Generate's child projection evaluates the split
    exactly once per row) and shingles assemble from ``lead`` over
    ``(doc, position)`` — one window shuffle, linear work, codegen'd.
    Documents shorter than ``n`` tokens contribute one whole-text
    shingle, matching :func:`with_shingles`.
    """
    toks = tokens(text_col)
    # fanout=False skips the spread() partition probe — right for inputs
    # that are already join/filter plans (probing .rdd on an unexecuted
    # AQE join plan forces eager stage materialization) or known-small.
    base = (spread(df) if fanout else df).select(
        F.col(id_col).alias("_vid"), F.posexplode(toks).alias("_pos", "_tok")
    )
    if n == 1:
        return base.selectExpr("_vid", "_tok AS _s")
    # expression strings, here and in the other plan builders of this
    # module: one parse per projection instead of ~10 py4j calls per
    # Column object, for the same plan
    w = "OVER (PARTITION BY _vid ORDER BY _pos)"
    leads = ", ".join(f"lead(_tok, {k}) {w}" for k in range(1, n))
    full = base.selectExpr(
        "_vid",
        f"concat_ws(' ', _tok, {leads}) AS _s",
        f"lead(_tok, {n - 1}) {w} AS _last",
    ).where("_last IS NOT NULL").select("_vid", "_s")
    short = (
        df.select(F.col(id_col).alias("_vid"), toks.alias("_t"))
        .where(f"size(_t) < {n}")
        .selectExpr("_vid", "concat_ws(' ', _t) AS _s")
    )
    return full.unionByName(short)


def _bucket_pairs(
    skinny: DataFrame,
    key_cols: list[str],
    payload: str = "_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs from hash buckets, computing the
    bucketed input ONCE.

    A self-join on the bucket key would consume the (expensive) signature
    subplan twice — Catalyst does not reuse the exchange across join
    sides. Instead: groupBy bucket → collect the member list → expand
    ``a < b`` pairs inside the array. Bucket member lists are tiny by
    construction (E[size] = N / #buckets; LSH banding is designed so
    buckets fit in memory), so the in-array O(size²) expansion is
    trivial, while the signature stage runs exactly once.

    ``max_bucket_size`` is the degenerate-bucket guard: a bucket with m
    members emits m(m-1)/2 pairs, so one boilerplate band value shared by
    100k docs would emit 5e9 pairs — quadratic under ANY pairing shape.
    When set, buckets larger than the cap are dropped whole (the standard
    LSH practice: such buckets are near-degenerate signatures — empty
    strings, templates — whose members almost all collide in OTHER bands
    too, so recall loss is confined to the degenerate cohort and the
    explicit parameter makes the trade visible instead of an OOM).

    ``payload`` may be a struct column carrying per-id extras (e.g. the
    simhash value) — pairs then expose ``id_a``/``id_b`` structs.

    MEMORY SHAPE (round 10): the pair expansion is TWO chained explodes
    — members positionally first, then each member's sorted suffix —
    never a single flatten(transform(...)) building the full m(m-1)/2
    pair ARRAY as one in-row value. The one-expression form allocates
    O(m²) in a single UnsafeArrayData: a 100k-member bucket is a 5e9
    struct allocation in ONE row, which is exactly how the first sf10
    full-corpus run died (GC overhead limit in x04's 16-bit chunks —
    the 100×-replica bench data makes every chunk bucket ≥100 deep).
    The chained form streams through two Generate operators at O(m)
    peak per row; the same 27M+ output pairs still come out, they just
    never coexist in one allocation. Quadratic OUTPUT is inherent to
    pair enumeration — ``max_bucket_size`` remains the lever when the
    output itself (not the allocation) is the problem.
    """
    grouped = (
        skinny.groupBy(*key_cols)
        .agg(F.expr(f"array_sort(collect_list({payload})) AS _ids"))
        .where("size(_ids) >= 2")
    )
    if max_bucket_size is not None:
        grouped = grouped.where(f"size(_ids) <= {max_bucket_size}")
    # ids are strictly ordered (unique id in every payload shape), so
    # "all b > a" ≡ "the sorted suffix past a's position": explode with
    # position, slice the suffix, explode the slice.
    pairs = grouped.selectExpr(
        "_ids", "posexplode(_ids) AS (_i, id_a)"
    ).selectExpr(
        "id_a",
        # slice() is 1-based; + 2 skips self
        "explode(slice(_ids, _i + 2, size(_ids) - _i - 1)) AS id_b",
    )
    return pairs.distinct()


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation hash family."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _P) | 1, rng.randrange(0, _P))
        for _ in range(num_hashes)
    ]


def _minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_size: int,
    seed: int,
) -> DataFrame:
    """``(id, minhash)`` signatures via explode → codegen'd min-agg.

    Why explode instead of higher-order functions: HOF lambdas are
    interpreted (outside whole-stage codegen) and Catalyst inlines the
    shingle-array expression into every outer-lambda element, so a
    nested-``transform`` formulation recomputes the O(tokens²)
    ``array_distinct`` + hashing ``num_hashes`` times per row —
    measured 480 s on 5 k docs at sf0.1. This shape is one generator
    (map-side), ``num_hashes`` codegen'd min-aggregates with map-side
    partial aggregation, and one shuffle of (id, shingle-hash) pairs —
    seconds on the same input, and the shuffle volume is
    O(total shingles), linear at any scale.
    """
    params = _minhash_params(num_hashes, seed)
    # no distinct: min() is duplicate-invariant
    exploded = _exploded_shingles(df, id_col, text_col, shingle_size)
    hashed = exploded.selectExpr("_vid", f"pmod(xxhash64(_s), {_P}) AS _hb")
    # ONE parsed expression for all num_hashes min-aggregates: building
    # them as individual Column objects cost ~8 py4j round-trips each
    # (~2 s of driver-side latency for 128 hashes — the dominant COLD
    # cost of every minhash query, measured round 4); a single expr
    # string is one parse and yields the identical Aggregate plan.
    # a*_hb + b stays < 2^62 (a, b, _hb all < 2^31), no overflow.
    arr = ",".join(f"min(pmod({a}L * _hb + {b}L, {_P}L))" for a, b in params)
    agg = hashed.groupBy("_vid").agg(F.expr(f"array({arr})").alias("minhash"))
    return agg.selectExpr("_vid AS _mh_id", "minhash")


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = None,
    num_hashes: int = 128,
    shingle_size: int = 3,
    seed: int = 42,
    out_col: str = "minhash",
) -> DataFrame:
    """Add a ``num_hashes``-long MinHash signature of each row's shingle
    set (classic permutation family ``min((a*x + b) mod P)``), joined
    back by ``id_col`` (a synthetic id is derived when omitted —
    requires ``text_col`` rows to be distinct per id).

    Left join: a NULL/empty-text row explodes to zero shingles and gets
    no signature row — it keeps its place in the output with a NULL
    signature instead of silently disappearing from an API that
    otherwise just adds a column."""
    if id_col is None:
        df = df.withColumn("_auto_id", F.monotonically_increasing_id())
        id_col = "_auto_id"
    sigs = _minhash_signatures(df, id_col, text_col, num_hashes, shingle_size, seed)
    out = df.join(
        sigs.withColumnRenamed("minhash", out_col),
        df[id_col] == sigs["_mh_id"],
        "left",
    ).drop("_mh_id")
    return out.drop("_auto_id") if id_col == "_auto_id" else out


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by banded MinHash-LSH, verified exactly.

    1. signature (map-side) → ``bands`` band keys per doc (rows/band =
       num_hashes/bands; with the 128/16 default the LSH S-curve crosses
       ~50% capture at Jaccard ≈ (1/16)^(1/8) ≈ 0.71).
    2. skinny self-join on ``(band_idx, band_hash)`` → candidate id pairs
       (``id_a < id_b``, distinct). NEVER all-pairs.
    3. re-join shingle sets by id and keep pairs with exact Jaccard ≥
       ``threshold`` — no false positives survive; recall is the LSH
       capture probability (property-tested in tests/test_llm.py).

    Returns ``(id_a, id_b, jaccard)``.

    Every row pays the shingle, signature and verification work, and
    exact-duplicate texts pair with each other (Jaccard 1.0): an
    ``m``-replica text yields ``m(m-1)/2`` candidate and verified pairs.
    """
    rows_per_band = num_hashes // bands
    sig = _minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_size, seed
    ).withColumnRenamed("_mh_id", "_id")
    # one parsed expression for all band keys, as for the min-hash
    # aggregates: 16 Column trees cost ~530 py4j calls to build, the
    # string ~30, for the identical plan
    band_keys = ",".join(
        f"hash(slice(minhash, {b * rows_per_band + 1}, {rows_per_band}))"
        for b in range(bands)
    )
    skinny = sig.selectExpr(
        "_id", f"posexplode(array({band_keys})) AS (band_idx, band_hash)"
    )
    candidates = _bucket_pairs(
        skinny, ["band_idx", "band_hash"], max_bucket_size=max_bucket_size
    )
    return _verify_jaccard(
        df, candidates, id_col, text_col, shingle_size, threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word-``n``-gram Jaccard for given candidate ``(id_a, id_b)``
    pairs — the verification primitive, also usable standalone when the
    candidate set comes from elsewhere (same source, same URL, …)."""
    return _verify_jaccard(df, pairs, id_col, text_col, n, threshold=None)


def _verify_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float | None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via explode + count joins.

    |A∩B| is a join-count on (pair, shingle) and |A∪B| = |A|+|B|-|A∩B| —
    all codegen'd hash joins/aggregates on skinny rows. (The
    array_intersect/array_union formulation is O(|A|·|B|) interpreted
    per pair — ~3× slower on the sf0.1 corpus and worse at scale.)

    Both multi-consumer inputs are persisted — Catalyst recomputes a
    subplan per consumer, and both recomputes are the expensive stages:

    - ``pairs`` feeds the a-side join and the zero-intersection
      resurrection; from the LSH pipeline each recompute re-runs the
      whole signature stage. Tiny by construction — caching is bytes.
    - ``ex`` (the distinct skinny shingle set) feeds both per-side joins
      and the size aggregate; persisting turns 3 shingle explosions into
      1 (measured: l07 3.9 s → 2.3 s, l05 2.4 s → 1.3 s at sf0.1).
      Skinny rows spill safely at any scale.

    Neither cache is released when the call returns: both stay in the
    session's block store until LRU eviction or ``unpersist``, and a
    later call over the same input reuses them. On the 500-document
    ``llm_curate`` input the first ``dedup_clusters`` call runs 27 Spark
    job ids and each later call 13; releasing the caches would put every
    call on the 27-id path.
    """
    pairs = pairs.persist()
    # The shingle set scales WITH THE CORPUS — it is never broadcast-
    # small by construction. The static planner (AQE off) has no size
    # estimate for this derived subplan and guesses broadcastable; at
    # sf1 that is a 2.6M-row / >100 MB broadcast build that OOMs a
    # default-memory driver and at cluster scale is impossible. The
    # merge hint declares the scale fact. Note the hint binds AQE too
    # (user hints take precedence over runtime re-planning): on a tiny
    # corpus this trades a minor SMJ-vs-broadcast penalty (measured
    # ~0.3 s at sf0.1) for guaranteed OOM-safety at every scale.
    ex = _exploded_shingles(df, id_col, text_col, n).distinct().persist()
    sizes = ex.groupBy("_vid").agg(F.expr("count(1) AS _n"))

    # hints at the join sites: a hint on the persisted frame itself also
    # reaches its aggregate consumer, where it warns and does nothing
    pa = pairs.join(
        ex.selectExpr("_vid AS _ida", "_s").hint("merge"),
        F.expr("id_a = _ida"),
    ).select("id_a", "id_b", "_s")
    inter = (
        pa.join(
            ex.selectExpr("_vid AS _idb", "_s AS _sb").hint("merge"),
            F.expr("id_b = _idb AND _s = _sb"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.expr("count(1) AS _inter"))
    )
    # jaccard: round4's cross-engine rounding, as an expression string
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .selectExpr("id_a", "id_b", "coalesce(_inter, 0) AS _inter")
        .join(sizes.selectExpr("_vid AS id_a", "_n AS _na"), "id_a")
        .join(sizes.selectExpr("_vid AS id_b", "_n AS _nb"), "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "round(CAST(_inter AS DOUBLE) / (_na + _nb - _inter) * 10000)"
            " / 10000 AS jaccard",
        )
    )
    if threshold is not None:
        out = out.where(F.col("jaccard") >= threshold)
    return out


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over near-duplicate ``(id_a, id_b)`` edges:
    returns ``(id, component)`` with ``component`` = the smallest id
    reachable from ``id`` — the canonical representative of each
    duplicate cluster. Ids keep their type from ``pairs``; an edge with
    a NULL end is ignored; no edges give an empty frame.

    One Spark action: the edges are collected once as Arrow and labelled
    on the driver by a vectorised union-find (:func:`_min_root_labels`),
    exact for any graph diameter — long chains included. Bound: the
    verified edge list must fit in driver memory — about 16 bytes per
    edge for ``bigint`` ids as collected, a few times that while the
    labelling runs. Near-dup edge lists are small next to the corpus
    (verified pairs, not candidates), which is what makes one collect
    cheaper than a Spark job per propagation round.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    typ = pairs.schema["id_a"].dataType
    schema = StructType(
        [StructField("id", typ), StructField("component", typ)]
    )
    tbl = pairs.select("id_a", "id_b").toArrow().drop_null()
    ends = pa.concat_arrays(
        [tbl.column("id_a").combine_chunks(), tbl.column("id_b").combine_chunks()]
    )
    # sorted distinct ids: a vertex index orders like its id, so the
    # smallest index in a component is the smallest id
    ids = pc.unique(ends)
    ids = ids.take(pc.sort_indices(ids))
    ends_idx = pc.index_in(ends, value_set=ids).to_numpy()
    m = tbl.num_rows
    root = _min_root_labels(len(ids), ends_idx[:m], ends_idx[m:])
    out = pa.table({"id": ids, "component": ids.take(root)})
    return pairs.sparkSession.createDataFrame(out, schema)


def _min_root_labels(n: int, u, v):
    """Union-find over ``n`` vertices and edges ``u[i] — v[i]`` (numpy
    index arrays): returns each vertex's component root, the smallest
    vertex index of its component.

    Vectorised hook-and-compress: every round hooks each edge's larger
    root under the smaller one (``parent[x] <= x`` always holds, so no
    cycle can form), then pointer-jumps until every vertex points at a
    root. A round hooks at least one root of every unfinished component,
    so the loop ends; on a chain the root count at least halves per
    round. Each round is O(edges) in numpy.
    """
    import numpy as np

    parent = np.arange(n)
    while True:
        pu, pv = parent[u], parent[v]
        lo, hi = np.minimum(pu, pv), np.maximum(pu, pv)
        if (lo == hi).all():
            return parent
        np.minimum.at(parent, hi, lo)
        while True:
            jumped = parent[parent]
            if (jumped == parent).all():
                break
            parent = jumped


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    pairs: DataFrame | None = None,
    keep: str = "min_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Full near-dup clustering: MinHash-LSH pairs → connected
    components → one row per document with its cluster representative.
    Documents with no near-duplicate keep themselves. This is the
    operator a curation job actually applies:
    ``df.join(dedup_clusters(...), id).where("keep")``.

    ``pairs`` (``(id_a, id_b, ...)``) skips the MinHash stage entirely —
    pass it when the candidate pairs already exist (shared with another
    dedup operator over the same corpus, or produced by a different
    generator such as SimHash or embedding LSH); the signature and
    verification work is the dominant cost, so a job that needs both the
    pair list and the clustering should compute the pairs once.

    ``keep`` picks each cluster's survivor, mirroring
    :func:`~gcpde_spark.llm.curation.exact_dedup_keep`:

    - ``"min_id"``      — smallest id (the component label itself; free)
    - ``"longest"``     — longest raw text wins, ties → smallest id
    - ``"max_quality"`` — highest ``quality_col`` wins, ties → smallest id

    The non-default policies add one window over the (tiny) clustered
    subset — singleton documents never enter the window.

    Components come from :func:`connected_components`, so the verified
    edge list must fit in driver memory, about 16 bytes per edge for
    ``bigint`` ids. Every same-text pair is one of those edges: an
    ``m``-replica text sends its whole ``m(m-1)/2``-edge clique to the
    driver, so the bound is set by the largest exact-duplicate groups,
    not by the number of distinct texts.
    """
    if pairs is None:
        pairs = minhash_near_dup_pairs(
            df, id_col, text_col, num_hashes, bands, shingle_size, threshold, seed
        )
    comp = connected_components(pairs.select("id_a", "id_b"))
    all_ids = df.selectExpr(f"{id_col} AS id").distinct()
    labeled = all_ids.join(comp, "id", "left").selectExpr(
        f"id AS {id_col}", "coalesce(component, id) AS component"
    )
    if keep == "min_id":
        return labeled.selectExpr(
            id_col, "component", f"component = {id_col} AS keep"
        )
    order = {
        "longest": [F.length(F.col(text_col)).desc(), F.col(id_col).asc()],
        "max_quality": [
            F.col(quality_col or "quality_score").desc(),
            F.col(id_col).asc(),
        ],
    }
    if keep not in order:
        raise ValueError(
            f"keep must be one of ['longest', 'max_quality', 'min_id'], got {keep!r}"
        )
    enriched = labeled.join(
        df.select(
            F.col(id_col).alias("_jid"),
            *( [F.col(text_col)] if keep == "longest"
               else [F.col(quality_col or "quality_score")] ),
        ),
        labeled[id_col] == F.col("_jid"),
    ).drop("_jid")
    w = Window.partitionBy("component").orderBy(*order[keep])
    return (
        enriched.withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "component", "keep")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, simhash)`` via explode → 64 codegen'd vote-sums → OR-fold.

    Classic Charikar construction: each token votes ±1 on every bit of
    its xxhash64; bit *b* of the result is 1 iff the vote sum is ≥ 0.
    Shaped as explode + aggregate (not a nested higher-order function)
    for the same reason as :func:`_minhash_signatures` — HOF lambdas are
    interpreted and the token array would be recomputed per bit. The 64
    vote-sums are map-side partial aggregates; bits reassemble with
    bitwise OR of shifted flags (no addition — the bit-63 term is the
    sign bit and ANSI mode raises on signed-add overflow).
    """
    toks = tokens(text_col)
    exploded = spread(df).select(
        F.col(id_col).alias("_sh_id"), F.explode(toks).alias("_t")
    )
    hashed = exploded.select("_sh_id", F.xxhash64("_t").alias("_h"))
    # vote sum ≥ 0 ⇔ 2·(count of 1-bits) ≥ n: summing the raw bit and
    # comparing against the token count drops the per-token CASE branch —
    # same result, ~10% faster warm and ~7× cheaper to JIT-compile (the
    # 64 `when` trees dominated first-run codegen time). The 64 vote-sum
    # aggregates and the 64-term OR-fold are each ONE parsed expr string:
    # per-Column construction cost ~500 py4j round-trips (~2 s driver
    # latency, the dominant COLD cost of x04 — measured round 4); the
    # parsed plan is identical.
    votes = ",".join(f"sum(shiftright(_h, {b}) & 1)" for b in range(64))
    agg = hashed.groupBy("_sh_id").agg(
        F.expr(f"array({votes})").alias("_bs"), F.count(F.lit(1)).alias("_n")
    )
    fold = "|".join(
        f"(case when element_at(_bs, {b + 1}) * 2 >= _n "
        f"then shiftleft(1L, {b}) else 0L end)"
        for b in range(64)
    )
    return agg.select("_sh_id", F.expr(fold).alias("simhash"))


def with_simhash(
    df: DataFrame, text_col: str = "text", id_col: str | None = None,
    out_col: str = "simhash",
) -> DataFrame:
    """Add a 64-bit SimHash of each row's token multiset (see
    :func:`_simhashes`); joined back by ``id_col`` (synthetic when
    omitted). Left join: NULL/empty-text rows keep a NULL simhash
    instead of being dropped (see :func:`with_minhash_signature`)."""
    if id_col is None:
        df = df.withColumn("_auto_id", F.monotonically_increasing_id())
        id_col = "_auto_id"
    sims = _simhashes(df, id_col, text_col)
    out = df.join(
        sims.withColumnRenamed("simhash", out_col),
        df[id_col] == sims["_sh_id"],
        "left",
    ).drop("_sh_id")
    return out.drop("_auto_id") if id_col == "_auto_id" else out


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: the 64-bit hash is split into
    ``max_hamming + 1`` disjoint chunks, so any pair within the Hamming
    bound must agree on at least one chunk (pigeonhole) — candidates
    share a chunk value, then verify with
    ``bit_count(a XOR b) ≤ max_hamming``. Returns (id_a, id_b, hamming).

    Deriving the chunk count from the bound (instead of the previous
    fixed 4×16-bit split) keeps recall exact for any ``max_hamming``:
    a fixed split silently lost pairs beyond distance 3. Cost scales
    with the bound — ``max_hamming + 1`` bucket rows per doc, and
    narrower chunks collide more often (more candidates to verify).
    Exact-duplicate texts share every chunk, so an ``m``-replica text
    yields ``m(m-1)/2`` pairs at Hamming distance 0.
    """
    if not 0 <= max_hamming <= 31:
        # > 31 → chunks of ≤1 bit: every doc collides with half the
        # corpus and the candidate join degenerates toward all-pairs.
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    n_chunks = max_hamming + 1
    width, extra = divmod(64, n_chunks)
    sim = _simhashes(df, id_col, text_col).withColumnRenamed("_sh_id", "_id")
    chunk_cols, shift = [], 0
    for c in range(n_chunks):
        w = width + (1 if c < extra else 0)
        col = F.shiftrightunsigned(F.col("simhash"), shift)
        if w < 64:  # the 64-bit mask literal would overflow a long
            col = col.bitwiseAND(F.lit((1 << w) - 1))
        chunk_cols.append(col)
        shift += w
    chunks = F.array(*chunk_cols)
    # carry the simhash through the bucket expansion (struct payload) so
    # verification needs no re-join against the signature table
    skinny = sim.select(
        F.struct(F.col("_id"), F.col("simhash")).alias("_m"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )
    pairs = _bucket_pairs(
        skinny, ["chunk_idx", "chunk"], payload="_m", max_bucket_size=max_bucket_size
    )
    return (
        pairs.select(
            F.col("id_a._id").alias("id_a"),
            F.col("id_b._id").alias("id_b"),
            F.bit_count(
                F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    scope: str = "global",
) -> DataFrame:
    """Paragraph-granular exact dedup: each paragraph (``sep``-delimited
    block) is kept only at its first occurrence — GLOBAL across the
    corpus (``scope="global"``, ordered by ``(doc id, position)``) or
    WITHIN each document (``scope="document"``, the Gopher-style
    intra-doc repetition scrub: a paragraph repeated inside one page is
    removed there without touching other docs' copies). Later copies
    are removed and the surviving
    paragraphs reassemble in original order — the standard sub-document
    dedup pass for crawled corpora, where boilerplate paragraphs repeat
    across pages that are not document-level duplicates.

    Returns ``(id_col, text_deduped, n_paras_kept, n_paras_total)``;
    docs whose every paragraph is a repeat get an empty string.

    Scale: posexplode → one first-occurrence window on the paragraph
    md5 → one reassembly aggregation keyed by doc id. Both shuffles key
    on uniform values (128-bit hash, then doc id) — skew-free; nothing
    is quadratic and no driver-side state. The window's per-hash group
    is the number of copies of one paragraph — a pathological
    all-identical corpus degrades to one fat sort group, the same bound
    l01 carries.
    """
    paras = (
        spread(df)
        .select(
            F.col(id_col).alias("_vid"),
            F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias(
                "_pos", "_para"
            ),
        )
        .where(F.length(F.trim(F.col("_para"))) > 0)
    )
    if scope not in ("global", "document"):
        raise ValueError(f"scope must be 'global' or 'document', got {scope!r}")
    para_hash = F.md5(normalize_text(F.col("_para")))
    keys = [para_hash] if scope == "global" else [F.col("_vid"), para_hash]
    first = Window.partitionBy(*keys).orderBy("_vid", "_pos")
    kept = paras.withColumn("_rn", F.row_number().over(first))
    stats = (
        kept.groupBy("_vid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paras_total"),
            F.sum((F.col("_rn") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_paras_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(F.col("_pos"), F.col("_para")),
                            )
                        )
                    ),
                    lambda s: s.getField("_para"),
                ),
                sep,
            ).alias("text_deduped"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(stats, df[id_col] == stats["_vid"], "left")
        .select(
            id_col,
            F.coalesce(F.col("text_deduped"), F.lit("")).alias("text_deduped"),
            F.coalesce(F.col("n_paras_kept"), F.lit(0).cast("bigint")).alias(
                "n_paras_kept"
            ),
            F.coalesce(F.col("n_paras_total"), F.lit(0).cast("bigint")).alias(
                "n_paras_total"
            ),
        )
    )


def _bloom_sizing(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: bits ``m = -n ln p / (ln 2)^2``, hashes
    ``k = (m/n) ln 2`` (both at least 1; m rounded up to a word)."""
    import math

    if not 0 < fpp < 1:
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    n = max(1, expected_items)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)) + 1)
    k = max(1, round(m / n * math.log(2)))
    return (m + 63) // 64 * 64, k


def bloom_filter_table(
    df: DataFrame,
    key: str | Column,
    m_bits: int,
    n_hashes: int,
) -> DataFrame:
    """A Bloom filter as a DataFrame: ``(word: long, bits: long)`` — the
    set-bit words of an ``m_bits``-wide bitmap over ``n_hashes``
    independent probes (``xxhash64(key, i)``) per input row.

    Spark keeps ``bloom_filter_agg`` JVM-internal (not SQL-registered)
    and classic PySpark has no ``df.stat.bloomFilter``, so this builds
    the same structure relationally: explode the k probe positions,
    ``groupBy(pos >> 6)`` + ``bit_or(1 << (pos & 63))``. The result is
    at most ``m_bits/64`` rows — MBs for billions of keys — so the probe
    join broadcasts; and unlike a driver-side sketch it never
    materializes on one machine: build is one shuffle on uniform word
    ids, probe is an equi-join.
    """
    c = F.col(key) if isinstance(key, str) else key
    probes = F.array(
        *[F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits)) for i in range(n_hashes)]
    )
    return (
        df.select(F.explode(probes).alias("_pos"))
        .select(
            F.shiftright("_pos", 6).alias("word"),
            # F.shiftleft only takes a literal shift; the SQL form shifts
            # by a column
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("_bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("_bit").alias("bits"))
    )


def bloom_dedup_new(
    new: DataFrame,
    old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    expected_items: int | None = None,
    fpp: float = 0.01,
    exact: bool = False,
) -> DataFrame:
    """Incremental dedup of a ``new`` batch against an ``old`` corpus
    WITHOUT joining new×old: a Bloom filter over the old fingerprints
    (built once, ~10 bits/key at fpp=1%) prefilters the new side.

    - ``exact=False`` (default): drop every new doc whose fingerprint
      the filter might contain. No false negatives (true duplicates
      always drop); novel docs are lost at ≈ ``fpp`` — the standard
      trade for crawl-ingest dedup, where the old side is 100 TB and
      a full anti-join per batch is the cost ceiling.
    - ``exact=True``: docs flagged by the filter are re-checked with an
      anti-join against ``old`` — output is exactly the anti-join
      result, but the join's left side shrinks to (true dups + fpp·novel)
      instead of the whole batch, and with predicate pushdown of the
      candidate fingerprints the old-side scan prunes too.

    ``expected_items``: old-corpus cardinality for sizing; defaults to
    ``old.count()`` (one extra cheap metadata-friendly pass).

    Every row of both sides pays the normalize regex that feeds its
    fingerprint, replicas of one text included.
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    n = expected_items if expected_items is not None else old.count()
    m_bits, k = _bloom_sizing(n, fpp)
    bloom = bloom_filter_table(old.select(fp.alias("_fp")), "_fp", m_bits, k)

    probes = F.array(
        *[
            F.pmod(F.xxhash64(F.col("_fp"), F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ]
    )
    new_fp = _with_text_cols(
        new, text_col, {"_nfp": fp}, fanout=False
    ).withColumnRenamed("_nfp", "_fp")
    hits = (
        new_fp.select(F.col(id_col).alias("_pid"), F.explode(probes).alias("_pos"))
        .join(
            F.broadcast(bloom),
            F.shiftright("_pos", 6) == F.col("word"),
            "left",
        )
        .where(
            F.coalesce(
                F.col("bits").bitwiseAND(
                    F.expr("shiftleft(1L, cast(_pos % 64 as int))")
                ),
                F.lit(0),
            )
            != 0
        )
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_nset"))
        .where(F.col("_nset") == k)
        .select(F.col("_pid"))
    )
    maybe_dup = new_fp.join(
        hits, new_fp[id_col] == hits["_pid"], "left_semi"
    )
    novel = new_fp.join(hits, new_fp[id_col] == hits["_pid"], "left_anti")
    if not exact:
        return novel.drop("_fp")
    old_fps = old.select(fp.alias("_ofp")).distinct()
    rescued = maybe_dup.join(
        old_fps, maybe_dup["_fp"] == old_fps["_ofp"], "left_anti"
    )
    return novel.unionByName(rescued).drop("_fp")
