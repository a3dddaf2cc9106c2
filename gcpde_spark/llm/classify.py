"""Hashed-n-gram linear classifier inference — the quality-filter stage
of a modern pretraining pipeline (a fastText-style model scored over
every document; DCLM/FineWeb-class pipelines gate on exactly this), as
pure relational dataflow (100 TB extension layer — no reference
counterpart).

The model is logistic regression over the hashing trick: every unigram/
bigram hashes to one of ``n_buckets`` feature buckets, the model is a
``(bucket, weight)`` table, and a document's logit is the (optionally
length-normalized) sum of its terms' bucket weights plus a bias.
Training happens offline wherever the user likes; THIS layer is the
part that must scale — scoring 100 TB.

Scale design:

- ONE corpus scan: tokens posexplode once and every n-gram size
  assembles from ``lead`` over (doc, position) — the same linear
  codegen shingle path as ``llm/dedup.py`` (the interpreted-HOF trap
  documented there applies to document-sized arrays, so it is avoided
  the same way here).
- The weight table broadcasts (a 2^20-bucket float table is ~16 MB —
  executor-resident at any corpus size); the per-term weight lookup is
  a map-side broadcast LEFT join, so the ONLY data-sized shuffles are
  the lead window and the per-doc sum, both keyed by doc id.
- Weights are micro-unit BIGINTs end-to-end: the per-doc sum is an
  exact integer (order- and partitioning-independent), and doubles
  appear only in the final per-row sigmoid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from gcpde_spark.llm.text import round4, spread, tokens
from gcpde_spark.records import records_to_dataframe

DEFAULT_BUCKETS = 1 << 20


def _bucket(term: Column, n_buckets: int) -> Column:
    """Feature bucket of a term: xxhash64 folded to [0, n_buckets)."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("bigint")


def classifier_weights(
    spark: SparkSession,
    term_weights: dict[str, float],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Build the broadcastable ``(bucket, weight_micro)`` model table
    from per-term weights, hashing each term exactly as scoring does.
    Colliding terms' weights sum — the standard hashing-trick
    semantics (collisions are part of the model, not an error)."""
    if not term_weights:
        raise ValueError("term_weights must be non-empty")
    raw = records_to_dataframe(
        spark,
        [{"term": t, "weight": float(w)} for t, w in term_weights.items()],
        StructType([StructField("term", StringType()), StructField("weight", DoubleType())]),
    )
    return (
        raw.select(
            _bucket(F.col("term"), n_buckets).alias("bucket"),
            F.round(F.col("weight") * 1e6).cast("bigint").alias("weight_micro"),
        )
        .groupBy("bucket")
        .agg(F.sum("weight_micro").alias("weight_micro"))
    )


def _doc_terms(
    df: DataFrame, id_col: str, text_col: str, ngram_sizes: tuple[int, ...]
) -> DataFrame:
    """``(_cid, _term)`` rows for every n-gram of every requested size,
    from ONE posexplode + one (doc, position) lead window. Documents
    shorter than ``n`` tokens contribute no ``n``-gram (classifier
    semantics: no feature fires — unlike shingle dedup's whole-text
    fallback, a partial window is not the same feature)."""
    base = (
        spread(df)
        .select(
            F.col(id_col).alias("_cid"),
            F.posexplode(tokens(text_col)).alias("_pos", "_tok"),
        )
        # empty text normalizes to "" and split("", " ") is [""] — not a
        # token; a phantom "" feature would fire on every empty document
        .where(F.col("_tok") != "")
    )
    w = Window.partitionBy("_cid").orderBy("_pos")
    # window expressions can't live inside a generator — materialize the
    # lead columns in their own projection, then assemble+explode
    lead_cols = [F.col("_tok").alias("_w0")] + [
        F.lead("_tok", k).over(w).alias(f"_w{k}")
        for k in range(1, max(ngram_sizes))
    ]
    with_leads = base.select("_cid", *lead_cols)
    per_size = []
    for n in ngram_sizes:
        gram = F.concat_ws(" ", *[F.col(f"_w{k}") for k in range(n)])
        # lead(n-1) NULL ⇒ the window ran off the document end
        per_size.append(F.when(F.col(f"_w{n - 1}").isNotNull(), gram))
    return (
        with_leads.select("_cid", F.explode(F.array(*per_size)).alias("_term"))
        .where(F.col("_term").isNotNull())
    )


def hashed_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    *,
    bias: float = 0.0,
    n_buckets: int = DEFAULT_BUCKETS,
    ngram_sizes: tuple[int, ...] = (1, 2),
    normalize: str = "mean",
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clf_score",
) -> DataFrame:
    """Score every document with the hashed linear model: ``out_col`` =
    sigmoid(bias + Σ weight(bucket(term))), with ``normalize="mean"``
    dividing the sum by the document's total term count (fastText's
    length normalization — a 10× longer document shouldn't get a 10×
    logit) or ``"none"`` for the raw count-weighted sum.

    ``weights`` is the :func:`classifier_weights` table (or any
    ``(bucket, weight_micro)`` DataFrame with the SAME ``n_buckets``).
    All input columns are preserved; documents with no terms score
    ``sigmoid(bias)``.
    """
    if normalize not in ("mean", "none"):
        raise ValueError(f"normalize must be 'mean' or 'none', got {normalize!r}")
    if not ngram_sizes or min(ngram_sizes) < 1:
        raise ValueError(f"ngram_sizes must be positive, got {ngram_sizes!r}")
    terms = _doc_terms(df, id_col, text_col, tuple(sorted(set(ngram_sizes))))
    per_doc = (
        terms.withColumn("_b", _bucket(F.col("_term"), n_buckets))
        .join(F.broadcast(weights), F.col("_b") == F.col("bucket"), "left")
        .groupBy("_cid")
        .agg(
            F.sum(F.coalesce(F.col("weight_micro"), F.lit(0)))
            .cast("bigint")
            .alias("_sw_micro"),
            F.count(F.lit(1)).cast("bigint").alias("_nt"),
        )
    )
    logit = F.lit(float(bias)) + F.when(
        F.col("_nt").isNull() | (F.col("_nt") == 0), F.lit(0.0)
    ).otherwise(
        F.col("_sw_micro").cast("double")
        / 1e6
        / (F.col("_nt").cast("double") if normalize == "mean" else F.lit(1.0))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return (
        df.join(per_doc, df[id_col] == per_doc["_cid"], "left")
        .withColumn(out_col, round4(score))
        .drop("_cid", "_sw_micro", "_nt")
    )
