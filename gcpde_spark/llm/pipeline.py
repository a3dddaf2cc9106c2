"""The composed corpus-curation pipeline: what a training-data job
actually runs — dedup, quality gate, language gate, token accounting —
as ONE declarative DataFrame so Catalyst fuses the projections and the
whole thing costs a single shuffle (the dedup window).

No reference counterpart (SURVEY.md §2B-16); this is the integration of
the individual operators in :mod:`gcpde_spark.llm`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcpde_spark.llm.text import (
    BPE_SPLIT_PATTERN,
    STOPWORDS,
    _stats_exprs,
    normalize_text,
    stopword_hits,
)


def curate_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_quality: float = 0.5,
    keep_langs: tuple[str, ...] = ("en",),
    clean_markup: bool = False,
    min_mean_logprob: float | None = None,
    quality_top_fraction: float | None = None,
    quality_strata: tuple[str, ...] = (),
    classifier_weights: DataFrame | None = None,
    classifier_min_score: float = 0.5,
    classifier_n_buckets: int | None = None,
) -> DataFrame:
    """Standard curation: exact-dedup (keep smallest id per normalized
    text), drop short/low-quality docs, keep target languages; output
    carries the quality/token accounting columns downstream jobs need.

    Optional gates (both default-off so the certified l14 plan is
    byte-identical when unused):

    - ``clean_markup``: HTML/boilerplate-strip the text before
      normalization (crawled input) — one extra chained projection
      below the dedup window, no new shuffle.
    - ``min_mean_logprob``: drop docs whose unigram-LM mean token
      log-probability (self-scored on the post-dedup corpus) falls
      below the floor — the perplexity-style garble gate. Adds the
      LM subplan (one extra explode + term window + doc agg + join).
    - ``quality_top_fraction``: RELATIVE quality gate — keep only the
      top fraction by ``quality_score`` within each stratum of
      ``quality_strata`` columns from the input (empty = one global
      stratum). The select_top_fraction composition (llm/curation.py);
      unlike the absolute ``min_quality`` floor it adapts to the
      corpus's own quality distribution per source/language. Adds one
      rank-window exchange on the strata key.
    - ``classifier_weights``: MODEL-based quality gate — score the
      post-dedup text with the hashed-n-gram linear classifier
      (llm/classify.py, the fastText-style filter) and keep docs with
      ``score >= classifier_min_score``. The weight table broadcasts;
      adds the classifier subplan (one explode + doc-keyed agg + join).
      Output schema is unchanged (the score is gate-internal).

    Single-shuffle plan: the dedup window is the only exchange the
    pipeline itself requires — the stats, language-ID and token-count
    projections are all map-side and Catalyst collapses them into the
    surrounding stages (verified: at sf0.01 the executed plan shows one
    hash exchange for the window, plus only the small-input fanout
    repartition from ``spread`` — a no-op at scale). Filters run BEFORE
    the heavy language projection (cheap gates first), and everything is
    expressed on columns so predicate pushdown applies when ``df`` is a
    raw scan.
    """
    # normalize and tokenize ONCE, BELOW the dedup window: the window is
    # an optimizer barrier, so everything above it references `_norm` /
    # `_toks` as plain columns. Without the barrier, CollapseProject +
    # filter pushdown re-inline the normalization regex and the split at
    # every use site — the optimized plan held 31 copies of `split` and
    # 46 of `regexp_replace`, and per-build codegen took ~6 s at sf0.1
    # (execution of the compiled plan was 0.08 s). Materializing the two
    # shared columns under the window cut the tree to one copy of each.
    norm_col, toks_col = "_norm_text", "_toks"
    if clean_markup:
        from gcpde_spark.llm.text import strip_boilerplate, strip_html

        text_expr = strip_boilerplate(strip_html(F.col(text_col)))
    else:
        text_expr = F.col(text_col)
    base = df.select(
        id_col,
        normalize_text(text_expr).alias(norm_col),
        F.split(normalize_text(text_expr), " ").alias(toks_col),
    )
    w = Window.partitionBy(F.md5(F.col(norm_col))).orderBy(id_col)
    deduped = (
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    norm, toks = F.col(norm_col), F.col(toks_col)
    stats = _stats_exprs(norm, toks)
    # One post-window projection computes the stats AND the per-language
    # hit counts; the two gates below then reference only materialized
    # columns, so predicate pushdown substitution duplicates a handful
    # of comparisons instead of the regex passes themselves.
    scored = deduped.select(
        id_col,
        norm.alias(norm_col),
        stats["n_tokens"].alias("n_tokens"),
        stats["avg_token_len"].alias("avg_token_len"),
        stats["punct_ratio"].alias("punct_ratio"),
        stats["stopword_ratio"].alias("stopword_ratio"),
        stats["quality_score"].alias("quality_score"),
        *[
            stopword_hits(norm, STOPWORDS[lg]).alias(f"_h_{lg}")
            for lg in sorted(STOPWORDS)
        ],
    )
    gated = scored.where(
        (F.col("n_tokens") >= min_tokens) & (F.col("quality_score") >= min_quality)
    )
    # argmax via array_max over (hits, lang) structs on the materialized
    # hit columns — same tie-break contract as lang_pred_expr (max hits,
    # last lang code in sorted order wins ties).
    best = F.array_max(
        F.array(
            *[
                F.struct(F.col(f"_h_{lg}").alias("hits"), F.lit(lg).alias("lang"))
                for lg in sorted(STOPWORDS)
            ]
        )
    )
    pred = F.when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
    lang = gated.withColumn("lang_pred", pred).where(
        F.col("lang_pred").isin(list(keep_langs))
    )
    out = lang.select(
        id_col,
        "lang_pred",
        "n_tokens",
        F.regexp_count(norm, F.lit(BPE_SPLIT_PATTERN))
        .cast("bigint")
        .alias("n_tokens_bpe"),
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )
    if min_mean_logprob is not None:
        from gcpde_spark.llm.text import unigram_logprob

        scores = unigram_logprob(
            deduped.select(id_col, F.col(norm_col).alias("_lm_text")),
            id_col=id_col,
            text_col="_lm_text",
        ).select(id_col, "mean_logprob")
        out = (
            out.join(scores, id_col)
            .where(F.col("mean_logprob") >= min_mean_logprob)
            .drop("mean_logprob")
        )
    if classifier_weights is not None:
        from gcpde_spark.llm.classify import DEFAULT_BUCKETS, hashed_classifier_score

        # score ONLY the survivors of the cheap gates: the classifier's
        # explode + lead window + per-doc agg is the expensive part of
        # this plan, and running it over rows the token/quality/language
        # gates already rejected (often most of a multilingual crawl)
        # would be pure waste at corpus scale
        survivors = deduped.join(
            out.select(id_col), id_col, "left_semi"
        ).select(id_col, F.col(norm_col).alias("_clf_text"))
        cl = hashed_classifier_score(
            survivors,
            classifier_weights,
            n_buckets=classifier_n_buckets or DEFAULT_BUCKETS,
            id_col=id_col,
            text_col="_clf_text",
            out_col="_clf_score",
        ).select(id_col, "_clf_score")
        out = (
            out.join(cl, id_col)
            .where(F.col("_clf_score") >= classifier_min_score)
            .drop("_clf_score")
        )
    if quality_top_fraction is not None:
        from gcpde_spark.llm.curation import select_top_fraction

        strata = list(quality_strata)
        if strata:
            # join the strata under reserved aliases: the output schema
            # must not change when strata are set, and a stratum named
            # like an output column (e.g. n_tokens) must not collide
            aliased = [f"_stratum_{i}" for i in range(len(strata))]
            out = out.join(
                df.select(
                    id_col,
                    *[F.col(s).alias(a) for s, a in zip(strata, aliased)],
                ),
                id_col,
            )
            strata = aliased
        else:
            out = out.withColumn("_stratum", F.lit("all"))
            strata = ["_stratum"]
        out = select_top_fraction(
            out,
            score_col="quality_score",
            frac=quality_top_fraction,
            strata_cols=strata,
            id_col=id_col,
        )
        out = out.drop(*strata)
    return out
