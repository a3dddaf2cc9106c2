"""Text analysis over document tables: normalization, stats, quality,
language ID, fingerprinting (SURVEY.md §2B-16; no reference counterpart).

Everything here is a narrow projection of built-in column expressions —
whole-stage-codegen'd, zero shuffles, zero Python — so cost is one pass
over the text column regardless of table size. Oracle-checkable: each
expression has a DuckDB-equivalent form (see queries/llm_corpus.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small function-word list per language. Deliberately tiny and fixed:
# the language-ID operator is an n-gram/stopword HEURISTIC (cheap, single
# pass), not a trained model — swap in fastText/CLD3 via the multimodal
# pandas-UDF pattern when a real model is available.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "zu", "ein", "eine", "mit", "von", "ist"],
    "fr": ["le", "la", "de", "et", "que", "un", "une", "pour", "dans", "est"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}


def spread(df: DataFrame) -> DataFrame:
    """Fan a low-parallelism input out to every core before CPU-bound
    per-row work (interpreted HOF lambdas, exploded-token aggregation).

    A small parquet file scans as 1–2 partitions, which would pin the
    expensive LLM projections to 1–2 cores; at 100 TB the scan already
    has thousands of splits and this is a no-op (the guard keeps the
    full-table round-robin shuffle from ever running at scale — it only
    triggers when the input has FEWER partitions than cores, i.e. when
    the data is small enough that the shuffle is trivially cheap).
    """
    # Probe ONLY bare scans: on a shuffle-derived plan (window, join,
    # aggregate) the `.rdd` partition probe forces AQE to materialize the
    # upstream stages EAGERLY at plan-build time — measured ~2 s per
    # build on the curation pipeline — and those plans already have their
    # parallelism set by the shuffle anyway. Detection walks the analyzed
    # plan's node CLASS NAMES (Window/Join/Aggregate/Repartition…), not
    # the plan's string form — a column literally named "Join_date" must
    # not disable the fan-out, and node names are stable across Spark
    # versions where toString formatting is not.
    if _has_shuffle_node(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


_SHUFFLE_NODES = {
    "Window",
    "Join",
    "Aggregate",
    "Repartition",
    "RepartitionByExpression",
    "Deduplicate",
    "Sort",
}


def _has_shuffle_node(df: DataFrame) -> bool:
    """True if the analyzed logical plan contains a node whose class name
    marks a shuffle-deriving operator. Traverses TreeNode.children() via
    the JVM gateway; if the gateway shape ever changes (e.g. Spark
    Connect, where no ``_jdf`` exists), conservatively answer True so
    ``spread`` becomes a no-op rather than an eager-materialization
    hazard."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() in _SHUFFLE_NODES:
                return True
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        return False
    except Exception:
        return True


def _with_text_cols(
    df: DataFrame,
    text_col: str,
    cols: "dict[str, Column]",
    fanout: bool = True,
) -> DataFrame:
    """Attach columns that are PURE PER-ROW FUNCTIONS of ``text_col``:
    one codegen projection (``spread`` fans small scans out first), zero
    shuffles. Every row pays the expressions, replicas of one text
    included."""
    if fanout:
        df = spread(df)
    return df.select("*", *[c.alias(n) for n, c in cols.items()])


def round4(c: Column) -> Column:
    """Cross-engine-stable 4-decimal rounding for DOUBLE ratios.

    ``ROUND(x, 4)`` itself diverges between engines on representation
    ties: Spark rounds the SHORTEST DECIMAL REPR of the double
    (BigDecimal.valueOf), DuckDB rounds the binary value — e.g. the
    double nearest 0.73935 rounds to 0.7394 on Spark and 0.7393 on
    DuckDB. ``round(x * 10000) / 10000`` performs the same IEEE multiply
    on both engines first, so both round the same binary value and agree
    on every input (ties at .5 round away from zero on both).
    """
    return F.round(c * 10000) / 10000


def normalize_text(col: str | Column) -> Column:
    """Canonical text form for hashing/dedup: lowercase, whitespace
    collapsed to single spaces, trimmed. Keep this in sync with the
    DuckDB oracle's normalization (queries/llm_corpus.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def stopword_hits(norm: Column, words: list[str]) -> Column:
    """Count of tokens of ``norm`` (a NORMALIZED text column) that equal
    one of ``words`` — repeats counted, like the reference semantics of
    ``size(filter(tokens, t -> t IN words))``.

    Implemented as one ``regexp_count`` over the normalized string
    instead of a higher-order ``filter`` lambda: normalized text is
    single-space-delimited, so a match anchored on both sides by
    space-or-edge lookarounds is exactly a token equal to a list word
    (interior positions can't start a match — the lookbehind sees a
    non-space). ``regexp_count`` stays inside whole-stage codegen and
    its expression tree is one node, where the lambda variant is an
    interpreted per-element loop whose tree Catalyst re-inlines at
    every use site (measured: the curation pipeline's generated code
    shrank ~6x and per-build compile time halved).
    """
    import re as _re

    alt = "|".join(_re.escape(w) for w in words)
    return F.regexp_count(norm, F.lit(f"(^|(?<= ))({alt})(?=( |$))"))


def _stats_exprs(norm: Column, toks: Column) -> dict[str, Column]:
    """The text-stats columns as expressions over pre-built ``norm`` /
    ``toks`` columns — shared by :func:`with_text_stats` (inline) and
    the curation pipeline (materialized inputs, so Catalyst references
    plain columns instead of re-inlining the normalization per use)."""
    n_tokens = F.size(toks).cast("bigint")
    no_space = F.replace(norm, F.lit(" "), F.lit(""))
    punct = F.length(norm) - F.length(F.regexp_replace(norm, r"[^a-z0-9\s]", ""))
    stopword_ratio = round4(
        stopword_hits(norm, STOPWORDS["en"]).cast("double") / n_tokens
    )
    avg_token_len = round4(F.length(no_space).cast("double") / n_tokens)
    punct_ratio = round4(punct.cast("double") / F.length(norm))
    # Composite score in [0,1]: long-enough docs with low punctuation and
    # a natural function-word density score high. Computed from the
    # already-rounded ratios in plain double arithmetic (identical IEEE
    # ops cross-engine), then round4'd.
    quality = round4(
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.3
        + F.least(stopword_ratio * 5.0, F.lit(1.0)) * 0.3
    )
    return {
        "n_chars_norm": F.length(norm).cast("bigint"),
        "n_tokens": n_tokens,
        "avg_token_len": avg_token_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stopword_ratio,
        "quality_score": quality,
    }


def lang_pred_expr(norm: Column) -> Column:
    """``lang_pred`` as an expression over a NORMALIZED text column: the
    language whose function-word list hits the most tokens (ties broken
    by the LAST language code in sorted order — struct max), or ``und``
    when nothing hits."""
    hit_cols = [
        F.struct(
            stopword_hits(norm, STOPWORDS[lang]).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(STOPWORDS)
    ]
    # argmax via array_max over (hits, lang) structs — struct comparison
    # is lexicographic, so max hits wins and the last lang code breaks
    # ties; sort order of codes is made explicit by building the array
    # sorted.
    best = F.array_max(F.array(*hit_cols))
    return F.when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add token/character statistics and a composite quality score.

    Columns added: ``n_chars_norm``, ``n_tokens``, ``avg_token_len``,
    ``punct_ratio``, ``stopword_ratio``, ``quality_score`` — the standard
    cheap quality signals (length, punctuation density, function-word
    density) used to filter web-scale corpora before training.
    """
    norm = normalize_text(text_col)
    toks = tokens(text_col)
    return _with_text_cols(df, text_col, _stats_exprs(norm, toks))


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``lang_pred``: the language whose function-word list hits the
    most tokens (ties broken by language code order), or ``und`` when
    nothing hits. Single projection — no shuffle, no UDF."""
    return _with_text_cols(
        df, text_col, {"lang_pred": lang_pred_expr(normalize_text(text_col))}
    )


# GPT-2-style pre-tokenization pattern, ASCII-simplified so Java regex
# (Spark) and RE2 (DuckDB) agree on every input: a leading optional space
# glued to a letter-run or digit-run, a punctuation run, or whitespace.
# This is the BPE *pre-split*; real BPE merges happen inside each piece,
# so this count upper-bounds and tightly tracks true BPE token counts.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_tokens_ws`` (whitespace tokens) and ``n_tokens_bpe``
    (BPE-ish regex pre-tokenizer pieces) — the two standard cheap token
    counters for corpus sizing / cost estimation. One codegen'd
    projection, no shuffle."""
    norm = normalize_text(text_col)
    # regexp_count, not size(regexp_extract_all(...)): counting avoids
    # materializing every matched substring (~2000 string allocations per
    # document) — same value, ~5× cheaper
    return _with_text_cols(
        df,
        text_col,
        {
            "n_tokens_ws": F.size(tokens(text_col)).cast("bigint"),
            "n_tokens_bpe": F.regexp_count(
                norm, F.lit(BPE_SPLIT_PATTERN)
            ).cast("bigint"),
        },
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: ``tf = term_count /
    doc_tokens``, ``idf = n_docs / doc_freq`` (the linear inverse
    document frequency — unlike ``log`` idf, every factor is a ratio of
    integers, so the doubles are bit-identical cross-engine and the
    operator is oracle-checkable; see queries/llm_corpus.py l15).

    Plan: explode tokens → one hash-agg per (doc, term) → term
    document-frequency agg joined back on term → per-doc top-k window.
    Two aggregation shuffles plus the term join, all linear in token
    count; the doc-count scalar joins as a broadcast literal.
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    exploded = spread(df).select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("term")
    )
    tf = exploded.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("_cnt"))
    # doclen and docfreq both derive from tf — one explode + one
    # (doc, term) shuffle feeds all three aggregates instead of three
    # independent explode passes over the full token stream. They attach
    # as WINDOW aggregates rather than groupBy+self-join branches: the
    # term window is one shuffle of tf by term (the join route shuffles
    # the same rows for the join AND an agg branch on top), and the _len
    # window shares its exchange with the rank window below (consecutive
    # windows partitioned by _id reuse one sort+exchange) — 3 shuffles
    # total, no joins, same linear volume at any scale.
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    with_df = tf.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    with_len = with_df.withColumn(
        "_len", F.sum("_cnt").over(Window.partitionBy("_id"))
    )
    scored = with_len.crossJoin(F.broadcast(n_docs)).select(
        F.col("_id").alias(id_col),
        "term",
        round4(
            (F.col("_cnt").cast("double") / F.col("_len"))
            * (F.col("_n").cast("double") / F.col("_df"))
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.,
    the MOSS algorithm): hash every ``k``-token gram, slide a window of
    ``w`` gram hashes, keep each window's minimum — a position-robust
    fingerprint set whose density is guaranteed ≥ 1 fingerprint per
    ``w + k - 1`` tokens, the standard local substring-matching
    fingerprint between exact hashing and MinHash.

    Returns distinct ``(id, fingerprint)`` rows; documents with fewer
    than ``k + w - 1`` tokens produce none (no full window exists).

    Shape: one posexplode + two stacked window functions over the SAME
    ``(doc, position)`` partitioning — Catalyst plans a single sort, so
    the whole operator is one shuffle of token rows, linear at any
    scale. The "hash" is the md5 hex string and the window minimum is
    lexicographic — both cross-engine-stable, so the operator is
    oracle-checkable (queries/llm_corpus.py l13).
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    base = spread(df).select(
        F.col(id_col).alias("_vid"), F.posexplode(toks).alias("_pos", "_tok")
    )
    w_lead = Window.partitionBy("_vid").orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", i).over(w_lead) for i in range(1, k)]
    grams = (
        base.select(
            "_vid",
            "_pos",
            F.md5(F.concat_ws(" ", *parts)).alias("_h"),
            F.lead("_tok", k - 1).over(w_lead).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .drop("_last")
    )
    w_min = Window.partitionBy("_vid").orderBy("_pos").rowsBetween(0, w - 1)
    w_cnt = Window.partitionBy("_vid")
    w_rn = Window.partitionBy("_vid").orderBy("_pos")
    sel = (
        grams.withColumn("_fp", F.min("_h").over(w_min))
        .withColumn("_rn", F.row_number().over(w_rn))
        .withColumn("_m", F.count(F.lit(1)).over(w_cnt))
        .where(F.col("_rn") <= F.col("_m") - w + 1)  # full windows only
    )
    return sel.select(
        F.col("_vid").alias(id_col), F.col("_fp").alias("fingerprint")
    ).distinct()


# PII patterns for corpus scrubbing — deliberately high-recall shapes
# (an email-LIKE string is worth redacting even when it fails RFC 5322).
# Order matters: URLs first so an address inside a URL redacts as URL.
PII_PATTERNS: list[tuple[str, str]] = [
    ("URL", r"(?i)\bhttps?://[^\s]+"),
    ("EMAIL", r"(?i)\b[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}\b"),
    ("IP", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    # 7+ digit runs with optional +country and -/./space/() separators
    ("PHONE", r"(?<![\w.])\+?\d[\d()\-. ]{5,}\d(?![\w.])"),
]


def with_redacted_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    kinds: tuple[str, ...] = ("URL", "EMAIL", "IP", "PHONE"),
) -> DataFrame:
    """Replace PII-shaped spans with typed placeholders (``<EMAIL>``,
    ``<URL>``, ``<IP>``, ``<PHONE>``) — the standard scrub step before
    training-corpus release. One chained ``regexp_replace`` projection:
    codegen'd, no shuffle, no UDF, linear in text size at any scale.

    Deliberately pattern-based (not a trained NER model): high recall on
    the machine-recognizable classes, zero dependencies; plug an NER
    model via the multimodal ``mapInPandas`` pattern for entity classes
    regexes can't express. ``out_col=None`` redacts in place.
    """
    wanted = {k: p for k, p in PII_PATTERNS if k in kinds}
    missing = set(kinds) - set(wanted)
    if missing:
        raise ValueError(f"unknown PII kinds: {sorted(missing)}")
    col = F.col(text_col)
    for kind, pattern in PII_PATTERNS:  # keep declaration order (URL first)
        if kind in wanted:
            col = F.regexp_replace(col, pattern, f"<{kind}>")
    return df.withColumn(out_col or text_col, col)


# HTML-stripping stages, applied in order. Patterns are valid in BOTH
# Java regex (Spark codegen) and RE2 (DuckDB) — no backreferences, no
# lookarounds, inline (?is) flags + lazy quantifiers only — so an oracle
# CAN mirror them, though the corpus entry certifies against an
# analytically-derived expected value instead (stronger: the oracle does
# not share the implementation).
_HTML_STRIP_STAGES: list[tuple[str, str]] = [
    # script/style payloads are code, not content; comments aren't
    # either. One alternation pass — each regexp_replace stage rescans
    # the whole string, so fusing three passes into one is a straight
    # 3x on this stage (measured on the l21 corpus entry).
    (r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->", " "),
    # block-level separators become newlines so line structure survives
    # for the boilerplate pass; all remaining tags are inline spaces
    (
        r"(?i)<(?:br|hr)\s*/?>"
        r"|</(?:p|div|li|tr|h[1-6]|ul|ol|table|blockquote|section|article)\s*>",
        "\n",
    ),
    # quote-aware tag match: attribute values may contain '>'
    (r"<(?:[^<>\"']|\"[^\"]*\"|'[^']*')+>", " "),
]

# Literal entity decodes, applied AFTER tag stripping (entity-encoded
# markup is content, not markup) with &amp; last so "&amp;lt;" decodes
# to the literal "&lt;" and not to "<".
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]

# Line-level boilerplate markers: a line containing any of these is
# dropped wholesale by strip_boilerplate (the cheap single-pass subset
# of jusText/trafilatura-style block classification).
BOILERPLATE_PATTERNS: tuple[str, ...] = (
    "copyright",
    "all rights reserved",
    "cookie",
    "privacy policy",
    "terms of service",
    "subscribe",
    "newsletter",
    "click here",
    "javascript",
    "skip to (?:main )?content",
)


def strip_html(col: str | Column) -> Column:
    """Markup-to-text: drop script/style/comment payloads, convert
    block-level tags to newlines and inline tags to spaces, decode the
    common entities, collapse horizontal whitespace and blank lines.

    One chained ``regexp_replace`` projection — codegen'd, no shuffle,
    no UDF, linear in text size — the scale path for cleaning a crawled
    corpus (a DOM parser needs a Python UDF and ~100× the cost; plug one
    in via ``mapInPandas`` only for pages where regex fidelity fails).
    Numeric entities other than ``&#39;`` are left as-is (documented
    limitation: decoding arbitrary ``&#NNN;`` needs per-char codegen
    Spark lacks).
    """
    c = F.col(col) if isinstance(col, str) else col
    for pattern, repl in _HTML_STRIP_STAGES:
        c = F.regexp_replace(c, pattern, repl)
    for entity, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(entity), F.lit(ch))
    c = F.regexp_replace(c, r"[ \t\x0B\f\r]+", " ")  # horizontal ws
    c = F.regexp_replace(c, r"(?m)^ | $", "")  # line-edge trim
    c = F.regexp_replace(c, r"\n{2,}", "\n")  # blank lines
    # F.trim strips only spaces; edge newlines need the regex form
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def strip_boilerplate(
    col: str | Column, patterns: tuple[str, ...] = BOILERPLATE_PATTERNS
) -> Column:
    """Drop every LINE containing a boilerplate marker (case-insensitive
    regex alternation) — run after :func:`strip_html`, which preserves
    line structure, and before :func:`normalize_text`, which collapses
    it. Single multiline ``regexp_replace``: codegen'd, linear."""
    alternation = "|".join(patterns)
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, rf"(?im)^[^\n]*(?:{alternation})[^\n]*(?:\n|$)", ""),
        r"^\s+|\s+$",
        "",
    )


def with_clean_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    boilerplate: bool = True,
) -> DataFrame:
    """HTML-strip + (optionally) boilerplate-drop + normalize, as one
    projection — the standard first pass over a crawled training corpus."""
    c = strip_html(text_col)
    if boilerplate:
        c = strip_boilerplate(c)
    return df.withColumn(out_col, normalize_text(c))


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    reference: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean token log-probability under a corpus unigram
    LM — the cheap perplexity-style quality signal (low score = tokens
    rare in the reference corpus = likely noise/garble; perplexity is
    ``exp(-mean_logprob)``).

    ``reference`` trains the LM (term frequencies); default is ``df``
    itself (self-scoring). Out-of-vocabulary tokens when scoring against
    a separate reference get the floor probability ``1/(total+1)``.

    Returns ``(id_col, n_tokens, mean_logprob)``.

    Numerics: per-term ``ln P(t)`` is quantized to integer micro-nats
    (``ROUND(ln*1e6) AS BIGINT``) before any aggregation, so the per-doc
    sum is exact BIGINT arithmetic — order-independent, bit-identical
    across engines and partitionings (the money ``cents()`` trick; a
    double sum's value depends on partition merge order). The 1e-6-nat
    quantization error is ~1e-6 of a nat per token — far below the
    signal. Scale: one explode feeds both the LM counts and the per-doc
    term counts; the vocab join is an equi-join on term (vocab ≪ corpus,
    AQE broadcasts it); no UDFs, no driver-side state.
    """
    from pyspark.sql import Window

    lnp = lambda cnt, total: (  # noqa: E731 — ln P in integer micro-nats
        F.round(F.log(cnt / total) * 1e6).cast("bigint")
    )
    tf = (
        spread(df)
        .select(F.col(id_col).alias("_vid"), F.explode(tokens(text_col)).alias("_term"))
        .groupBy("_vid", "_term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    if reference is None:
        # self-scoring: the LM's term counts are the SAME (doc, term)
        # aggregation re-keyed by term — one explode feeds both (a
        # second explode pass doubled the shuffle count and the text
        # scan; same structure l15's tf-idf uses). The corpus total is
        # a scalar agg off tf, broadcast back.
        totals = tf.agg(F.sum("_tf").alias("_total"))
        enriched = (
            tf.withColumn(
                "_cnt", F.sum("_tf").over(Window.partitionBy("_term"))
            )
            .crossJoin(F.broadcast(totals))
            .withColumn("_lnp_micro", lnp(F.col("_cnt"), F.col("_total")))
        )
    else:
        ref_terms = reference.select(F.explode(tokens(text_col)).alias("_term"))
        vocab = ref_terms.groupBy("_term").agg(F.count(F.lit(1)).alias("_cnt"))
        totals = vocab.agg(F.sum("_cnt").alias("_total"))
        vocab = vocab.crossJoin(F.broadcast(totals)).select(
            "_term", lnp(F.col("_cnt"), F.col("_total")).alias("_lnp_micro")
        )
        floor = totals.select(
            F.round(F.log(1.0 / (F.col("_total") + 1)) * 1e6)
            .cast("bigint")
            .alias("_floor_micro")
        )
        enriched = (
            tf.join(vocab, "_term", "left")
            .crossJoin(F.broadcast(floor))
            .withColumn(
                "_lnp_micro",
                F.coalesce(F.col("_lnp_micro"), F.col("_floor_micro")),
            )
        )
    scored = (
        enriched.groupBy("_vid")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_tf") * F.col("_lnp_micro")).alias("_sum_micro"),
        )
        .select(
            F.col("_vid").alias(id_col),
            "n_tokens",
            round4(
                F.col("_sum_micro").cast("double") / 1e6 / F.col("n_tokens")
            ).alias("mean_logprob"),
        )
    )
    return df.select(F.col(id_col)).join(scored, id_col, "left")


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add two deterministic document fingerprints:

    - ``fp_exact``: md5 of the normalized text — exact-dup key.
    - ``fp_bow``: md5 of the sorted distinct token set ("bag-of-words"
      fingerprint) — invariant to word order and repetition, a cheap
      near-dup pre-key between exact hashing and MinHash.
    """
    norm = normalize_text(text_col)
    bow = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col))))
    return _with_text_cols(
        df, text_col, {"fp_exact": F.md5(norm), "fp_bow": F.md5(bow)},
        fanout=False,
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
) -> DataFrame:
    """Add the Gopher-style repetition quality signals used to drop
    template/spam documents from training corpora:

    - ``dup_word_fraction``: 1 − distinct words / total words — computed
      per row with ``array_distinct`` (codegen, no shuffle).
    - ``top_ngram_fraction``: occurrences of the single most frequent
      word ``ngram``-gram over all ``ngram``-gram occurrences.
    - ``dup_ngram_fraction``: fraction of ``ngram``-gram occurrences
      whose gram occurs more than once in the document.

    Scale: the n-gram counts are one explode → two keyed aggregations on
    ``(id, gram)`` then ``id`` — both shuffle on well-distributed keys,
    map-side partial aggregation applies, and nothing is quadratic in
    document length (no per-row pairwise HOFs). Docs shorter than
    ``ngram`` words get 0.0 fractions via the left join + coalesce.
    """
    df = spread(df)
    toks = tokens(text_col)
    n_words = F.size(toks)
    dup_word = F.when(
        n_words > 0,
        1.0 - F.size(F.array_distinct(toks)) / n_words.cast("double"),
    ).otherwise(0.0)

    # n-gram array per doc: slice the token array at each start offset
    # (guard: sequence(0, -1) would count DOWN, so short docs need an
    # explicit empty array, not a degenerate sequence)
    grams = F.when(
        n_words >= ngram,
        F.transform(
            F.sequence(F.lit(0), n_words - ngram),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, ngram)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        df.select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("_total_grams"),
        F.max("cnt").alias("_top_gram"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("_dup_gram"),
    )
    out = (
        df.withColumn("dup_word_fraction", dup_word)
        .join(per_doc, id_col, "left")
        .withColumn(
            "top_ngram_fraction",
            F.coalesce(F.col("_top_gram") / F.col("_total_grams"), F.lit(0.0)),
        )
        .withColumn(
            "dup_ngram_fraction",
            F.coalesce(F.col("_dup_gram") / F.col("_total_grams"), F.lit(0.0)),
        )
    )
    return out.drop("_total_grams", "_top_gram", "_dup_gram")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the training-sequence prep step (512/64 ≈ a context-window shard
    with continuity across boundaries).

    Returns ``(id_col, chunk_id, chunk_text, n_chunk_tokens)``; chunk
    ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; the last chunk may be shorter.

    Scale: the token array is materialized ONCE per document in the
    projection feeding the Generate (explode of the chunk-index range),
    so each chunk row slices the parent's array without re-tokenizing —
    O(total tokens · fanout) work, one narrow explode, no shuffle, no
    UDF (a transform-lambda formulation would re-evaluate the split per
    chunk; see _exploded_shingles for the same trap).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    base = (
        spread(df)
        .withColumn("_toks", tokens(text_col))
        .withColumn("_n", F.size("_toks"))
        .withColumn(
            "_n_chunks",
            F.when(F.col("_n") <= chunk_tokens, F.lit(1).cast("bigint")).otherwise(
                F.ceil((F.col("_n") - chunk_tokens) / F.lit(float(stride))) + 1
            ),
        )
    )
    return base.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("_n_chunks") - 1)).alias(
            "chunk_id"
        ),
        "_toks",
        "_n",
    ).select(
        id_col,
        "chunk_id",
        F.array_join(
            F.slice("_toks", (F.col("chunk_id") * stride + 1).cast("int"), chunk_tokens),
            " ",
        ).alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("chunk_id") * stride)
        .cast("bigint")
        .alias("n_chunk_tokens"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide most-frequent word ``n``-grams with document reach —
    the standard LM-data frequency analysis (boilerplate discovery,
    stopword induction, contamination screening).

    Returns ``(ngram, n_occurrences, n_docs, rank)`` for the top ``k``
    by occurrence count (ties broken lexicographically).

    Scale: the linear explode+lead shingle path (no O(len²) HOF), one
    count aggregation keyed by the n-gram, then a global top-k via
    ``orderBy(...).limit(k)`` — Spark plans that as
    TakeOrderedAndProject (map-side partial top-k per partition, then
    a k-row merge), so the distinct-n-gram table (billions of rows at
    corpus scale) is never globally sorted or moved to one partition.
    Ranks come from sorting the k surviving rows inside ONE array
    (``collect_list`` → ``array_sort`` → ``posexplode``) — a k-row
    aggregate, not a WindowExec, so no single-partition window exists
    anywhere in the plan (``plans.audit`` flags that class now).
    Skew-safe: the aggregation key is the n-gram itself and partial
    aggregation collapses repeats map-side before the shuffle.
    """
    from gcpde_spark.llm.dedup import _exploded_shingles

    sh = _exploded_shingles(df, id_col, text_col, n)
    counts = sh.groupBy("_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("_vid").cast("bigint").alias("n_docs"),
    )
    topk = counts.orderBy(F.col("n_occurrences").desc(), F.col("_s").asc()).limit(k)
    # rank = position in the (count DESC, ngram ASC) order; struct sort is
    # ascending on the leading field, so sort on the negated count
    packed = topk.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_occurrences")).alias("_neg"),
                    F.col("_s").alias("ngram"),
                    F.col("n_occurrences").alias("n_occurrences"),
                    F.col("n_docs").alias("n_docs"),
                )
            )
        ).alias("_a")
    )
    return packed.select(
        F.posexplode("_a").alias("_pos", "_e")
    ).select(
        F.col("_e.ngram").alias("ngram"),
        F.col("_e.n_occurrences").alias("n_occurrences"),
        F.col("_e.n_docs").alias("n_docs"),
        (F.col("_pos") + 1).cast("bigint").alias("rank"),
    )


# bm25_topk switches off its wide conditional-aggregation form above
# this many query terms: each term adds one aggregate column + one
# literal struct to single projections, and past a few hundred the
# generated Java exceeds whole-stage-codegen / constant-pool limits
_BM25_WIDE_TERM_LIMIT = 64


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_k`` documents for a bag-of-words query under BM25 —
    the classical sparse-retrieval scorer (the lexical half of a RAG /
    hybrid-search stack).

    Returns ``(id_col, bm25)`` ordered best-first.

    Numerics (cross-engine determinism): per-term ``idf`` is quantized
    to integer micro-nats immediately after the ``ln`` (libm output is
    the only platform-dependent input — same discipline as
    :func:`unigram_logprob`), the tf-saturation fraction is one fixed
    double expression over exact integers (tf, dl, N, total), and the
    per-(doc, term) score is re-quantized to BIGINT micro-units before
    the per-doc SUM — so ranking compares exact integers and the
    result is identical across engines and partitionings.

    Scale: ONE explode of the corpus feeds ONE id-keyed aggregation
    that computes doc length AND every query term's tf together
    (conditional aggregation — |query| extra integer columns, not extra
    passes); the (term, tf) rows are then unpivoted from those columns
    with an all-literal struct explode, carrying ``_dl`` along so no
    second corpus-sized join exists anywhere. ``dfreq``/``idf`` are
    |query|-row tables and the corpus-wide (N, total-token) pair is a
    2-column scalar — all broadcast; the only big shuffle is the single
    id-keyed aggregation. Top-k is a TakeOrdered on the exact integer
    score, not a global sort. (Round 5: the previous form evaluated the
    tokenize+explode in three plan branches — dl, tf, and the final
    join — this one evaluates it once.) Above
    ``_BM25_WIDE_TERM_LIMIT`` query terms the per-term-column form
    would blow codegen/constant-pool limits, so the plan switches to a
    collect-matched-occurrences route: still one corpus-sized shuffle,
    plus one aggregation sized by matched occurrences — same rows,
    same quantization, any |query|.
    """
    terms = list(dict.fromkeys(query_terms))  # dedupe, keep order
    if not terms:
        return df.select(
            F.col(id_col), F.lit(0.0).alias("bm25")
        ).limit(0)
    ex = spread(df).select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(text_col)).alias("_term"),
    )
    if len(terms) <= _BM25_WIDE_TERM_LIMIT:
        # small queries: |terms| conditional-sum columns in ONE id-keyed
        # aggregation, then an all-literal struct unpivot — dl and every
        # tf from a single corpus pass with zero extra shuffles
        dltf = ex.groupBy("_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("_dl"),
            *[
                F.sum(F.when(F.col("_term") == t, 1).otherwise(0))
                .cast("bigint")
                .alias(f"_tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        stats = dltf.agg(
            F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
            F.sum("_dl").alias("_total"),
        )
        tf = (
            dltf.select(
                "_id",
                "_dl",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("_term"),
                                F.col(f"_tf_{i}").alias("_tf"),
                            )
                            for i, t in enumerate(terms)
                        ]
                    )
                ).alias("_e"),
            )
            .select("_id", "_dl", F.col("_e._term").alias("_term"), F.col("_e._tf").alias("_tf"))
            .where(F.col("_tf") > 0)
        )
    else:
        # large queries: the wide form would put |terms| aggregate
        # columns + |terms| literal structs into single projections,
        # which past a few hundred terms exceeds whole-stage-codegen /
        # constant-pool limits (silent interpreted fallback, or JVM
        # method-too-large failure). Keep the ONE corpus-sized shuffle
        # but collect matched query-term occurrences as a per-doc list
        # (isin compiles to an InSet hash probe, size-independent) and
        # count them in a SECOND, matched-occurrences-sized aggregation
        # — narrow plans at any |terms|. Same (_id, _dl, _term, _tf)
        # rows, so everything downstream (and the quantized scoring) is
        # route-independent.
        agg = ex.groupBy("_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("_dl"),
            F.collect_list(
                F.when(F.col("_term").isin(terms), F.col("_term"))
            ).alias("_qhits"),
        )
        stats = agg.agg(
            F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
            F.sum("_dl").alias("_total"),
        )
        tf = (
            agg.select("_id", "_dl", F.explode("_qhits").alias("_term"))
            .groupBy("_id", "_dl", "_term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_tf"))
        )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "_term",
            F.expr(
                "CAST(ROUND(ln((CAST(_n_docs - _df AS DOUBLE) + 0.5)"
                " / (CAST(_df AS DOUBLE) + 0.5) + 1.0) * 1000000) AS BIGINT)"
            ).alias("_idf_micro"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "_term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s_micro",
            F.expr(
                f"CAST(ROUND(_idf_micro * (CAST(_tf AS DOUBLE) * {k1 + 1.0}"
                f" / (CAST(_tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
                " * CAST(_dl AS DOUBLE)"
                " / (CAST(_total AS DOUBLE) / _n_docs))))) AS BIGINT)"
            ),
        )
        .groupBy("_id")
        .agg(F.sum("_s_micro").alias("_sum_micro"))
    )
    return (
        scored.orderBy(F.col("_sum_micro").desc(), "_id")
        .limit(top_k)
        .select(
            F.col("_id").alias(id_col),
            round4(F.col("_sum_micro").cast("double") / 1e6).alias("bm25"),
        )
    )
