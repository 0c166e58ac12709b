"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All pure Spark SQL expressions (JVM-side, codegen'd, oracle-reproducible).
Reference analogues: language detection by extension/content
(parsing-processor.ts:592-609, language-config.ts:335-361), minified/noise
content heuristics (parsing-processor.ts:559-590), rolling content hash
(parsing-processor.ts:806-814).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import gram_stream, split_words

# tiny per-language stopword packs (rule packs = data, like the
# tree-sitter query packs). Deliberately small + frozen: they are part of
# the deterministic contract.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}
LANG_PRIORITY = ["en", "de", "es", "fr"]  # deterministic tie-break order


def _words(text_col: str) -> str:
    return split_words(f"lower({text_col})")


def with_token_count(df: DataFrame, text_col: str = "text",
                     out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count. A BPE-ish subword estimate is ~chars/4 —
    provided as token_estimate."""
    w = _words(text_col)
    return df.withColumn(
        out_col, F.expr(f"if(trim({text_col}) = '', 0, size({w}))")
    ).withColumn(
        "token_estimate",
        F.expr(f"cast(ceil(length({text_col}) / 4.0) as bigint)"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text",
                 out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: CJK char share first, else argmax stopword
    hit-count with fixed priority tie-break; 'und' when nothing hits."""
    w = _words(text_col)
    hits = {
        lang: f"size(array_intersect({w}, array({', '.join(repr(s) for s in sws)})))"
        for lang, sws in STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hits[lg] for lg in LANG_PRIORITY) + ")"
    pick = "case "
    for lg in LANG_PRIORITY:  # first max in priority order wins
        pick += f"when {hits[lg]} = {best} then '{lg}' "
    pick += "end"
    expr = (
        f"case when length(regexp_replace({text_col}, '[^\\\\x{{4e00}}-\\\\x{{9fff}}]', '')) * 4 "
        f"> length({text_col}) then 'zh' "
        f"when {best} = 0 then 'und' "
        f"else {pick} end"
    )
    return df.withColumn(out_col, F.expr(expr))


def with_quality_score(df: DataFrame, text_col: str = "text",
                       out_col: str = "quality") -> DataFrame:
    """Blended quality score in [0,1] — the web analogue of the
    minified/boilerplate detector (parsing-processor.ts:559-590) and the
    reference's blended similarity weights (semantic-similarity.ts:150):
      0.4 * length_score  (saturating at 200 words)
      0.3 * stopword_ratio_score (any-language stopword share, capped)
      0.3 * word_length_score (mean word length in [3..8] ideal)
    Also emits is_boilerplate: first line > 500 chars (minified analogue).
    """
    w = _words(text_col)
    all_stops = sorted({s for v in STOPWORDS.values() for s in v})
    stops_arr = "array(" + ", ".join(repr(s) for s in all_stops) + ")"
    n_words = f"size({w})"
    length_score = f"least(cast({n_words} as double) / 200.0, 1.0)"
    stop_ratio = (
        f"cast(size(filter({w}, x -> array_contains({stops_arr}, x))) as double) "
        f"/ greatest({n_words}, 1)"
    )
    stop_score = f"least(({stop_ratio}) * 4.0, 1.0)"
    mean_wlen = (
        f"cast(aggregate({w}, 0, (acc, x) -> acc + length(x)) as double) "
        f"/ greatest({n_words}, 1)"
    )
    wlen_score = f"greatest(1.0 - abs(({mean_wlen}) - 5.5) / 5.5, cast(0 as double))"
    return df.withColumn(
        out_col,
        F.round(F.expr(f"0.4 * ({length_score}) + 0.3 * ({stop_score}) + 0.3 * ({wlen_score})"), 6),
    ).withColumn(
        "is_boilerplate",
        F.expr(f"length(split({text_col}, '\\n')[0]) > 500").cast("int"),
    )


def _stop_dim(spark, langs: list[str]):
    """Broadcastable stopword dimension: (_tok, _is_stop, _in_<lang>...)."""
    all_stops = sorted({s for v in STOPWORDS.values() for s in v})
    rows = [
        tuple([w, 1] + [1 if w in STOPWORDS[lg] else 0 for lg in langs])
        for w in all_stops
    ]
    return spark.createDataFrame(
        rows, ["_tok", "_is_stop"] + [f"_in_{lg}" for lg in langs])


_QUALITY_EXPR = (
    "0.4 * (least(cast(_n_words as double) / 200.0, 1.0)) "
    "+ 0.3 * (least((cast(_n_stop as double) / greatest(_n_words, 1)) * 4.0, 1.0)) "
    "+ 0.3 * (greatest(1.0 - abs((cast(_sum_len as double) / greatest(_n_words, 1)) - 5.5) / 5.5, "
    "cast(0 as double)))"
)


def quality_agg(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, quality) — same values as ``with_quality_score`` (same
    arithmetic, same rounding), via the codegen token stream + one
    partial-aggregated groupBy instead of the per-token interpreted
    filter/array_contains lambda. Used by corpus_prep; the row-preserving
    with_quality_score stays for callers without an id key."""
    from ..plans.hints import spread_small_input

    spark = df.sparkSession
    words = _words(text_col)
    toks = spread_small_input(df.select(id_col, text_col)) \
        .select(id_col, F.explode_outer(F.expr(words)).alias("_tok"))
    dim = _stop_dim(spark, []).select("_tok", "_is_stop")
    agg = (toks.join(F.broadcast(dim), "_tok", "left")
           .groupBy(id_col).agg(
               F.count("*").alias("_n_words"),
               F.sum(F.length("_tok")).alias("_sum_len"),
               F.sum(F.coalesce("_is_stop", F.lit(0))).alias("_n_stop")))
    return agg.select(id_col, F.round(F.expr(_QUALITY_EXPR), 6).alias("quality"))


def text_stats_agg(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, n_tokens, token_estimate, lang_pred, quality) — the fused
    codegen form of with_token_count + with_lang_id + with_quality_score
    for id-keyed corpora (bit-identical values; see tests).

    The per-row form pays interpreted higher-order lambdas per token
    (filter + array_contains over the stopword array) plus four
    array_intersect passes per doc. This form explodes the token stream
    once, joins it against a broadcast stopword dimension (hash probe per
    token), and reduces with two partial-aggregated groupBys:
    (id, token) -> distinct-token lang hits, then (id) -> counts. The
    scan-local scalars (token_estimate, CJK share, empty-text flag) ride
    on the doc side and join back on id.

    Same arithmetic, same literals, same rounding as the with_* forms:
    - n_tokens       = if(trim(text)='', 0, size(tokens))
    - lang hits      = DISTINCT doc tokens per language pack
      (array_intersect dedups; the (id, token) pre-aggregation preserves
      that)
    - stopword count = token OCCURRENCES in the union pack (filter does
      not dedup; cnt-weighted sum preserves that)
    """
    from ..plans.hints import spread_small_input

    spark = df.sparkSession
    langs = LANG_PRIORITY
    dim = _stop_dim(spark, langs)

    words = _words(text_col)
    doc_side = df.select(
        id_col,
        F.expr(f"cast(ceil(length({text_col}) / 4.0) as bigint)")
        .alias("token_estimate"),
        F.expr(f"trim({text_col}) = ''").alias("_empty"),
        F.expr(
            f"length(regexp_replace({text_col}, "
            f"'[^\\\\x{{4e00}}-\\\\x{{9fff}}]', '')) * 4 "
            f"> length({text_col})"
        ).alias("_zh"),
    )
    toks = spread_small_input(df.select(id_col, text_col)) \
        .select(id_col, F.explode_outer(F.expr(words)).alias("_tok"))
    per_tok = toks.groupBy(id_col, "_tok").agg(F.count("*").alias("_cnt"))
    per_tok = per_tok.join(F.broadcast(dim), "_tok", "left")
    agg = per_tok.groupBy(id_col).agg(
        F.sum("_cnt").alias("_n_words"),
        F.sum(F.col("_cnt") * F.length("_tok")).alias("_sum_len"),
        F.sum(F.col("_cnt") * F.coalesce("_is_stop", F.lit(0)))
        .alias("_n_stop"),
        *[F.sum(F.coalesce(f"_in_{lg}", F.lit(0))).alias(f"_hits_{lg}")
          for lg in langs],
    )
    d = doc_side.join(agg, id_col)

    best = "greatest(" + ", ".join(f"_hits_{lg}" for lg in langs) + ")"
    pick = "case "
    for lg in langs:
        pick += f"when _hits_{lg} = {best} then '{lg}' "
    pick += "end"
    return d.select(
        id_col,
        # cast to INT: the with_* form's size() is int-typed, and the
        # declared schema must not drift under the driver's gate
        F.expr("if(_empty, 0, cast(_n_words as int))").alias("n_tokens"),
        "token_estimate",
        F.expr(f"case when _zh then 'zh' when {best} = 0 then 'und' "
               f"else {pick} end").alias("lang_pred"),
        F.round(F.expr(_QUALITY_EXPR), 6).alias("quality"),
    )


def fingerprint_agg(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8,
                    shingle_n: int = 3,
                    out_col: str = "fingerprint") -> DataFrame:
    """(id, fingerprint): bottom-k sketch of each document, the ``k``
    smallest md5 digests of its distinct word ``shingle_n``-grams, sorted
    ascending. Two fingerprints' overlap estimates the documents' Jaccard
    (winnowing-style; ref rolling hash parsing-processor.ts:806-814).

    Built on the codegen gram stream plus one partial-aggregated groupBy;
    positional duplicates collapse in the collect_set."""
    g = gram_stream(df.select(id_col, text_col), [id_col], text_col,
                    shingle_n)
    return (g.groupBy(id_col)
            .agg(F.expr(f"slice(array_sort(collect_set(md5(gram))), 1, {k})")
                 .alias(out_col)))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", gram_n: int = 2) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    - ``dup_line_frac``: 1 - distinct/total over non-empty trimmed lines
      (template/boilerplate pages repeat nav lines). Scan-local — pure
      array expressions, no shuffle.
    - ``top_gram_frac``: share of the document's word ``gram_n``-grams
      taken by its single most frequent gram (auto-generated / spammy
      pages loop one phrase). Computed distributed: explode ->
      partial-agg'd groupBy(id, gram) -> per-doc max — linear in corpus
      size, never O(words^2) per doc, so a 100 MB pathological page
      cannot stall an executor the way a per-doc nested-loop mode
      computation would.

    Output: (id_col, n_words, dup_line_frac, top_gram_frac), one row per
    input doc. Filter high values of either to drop repetitive docs
    (Gopher Rule-of-thumb thresholds: dup_line_frac > 0.30,
    top_2gram_frac > 0.20).
    """
    from ..plans.hints import spread_small_input

    words = _words(text_col)
    lines = (
        f"filter(transform(split({text_col}, '\\n'), x -> trim(x)), "
        f"x -> x != '')"
    )
    dup_line = (
        f"round(1.0 - cast(size(array_distinct({lines})) as double) "
        f"/ greatest(size({lines}), 1), 6)"
    )
    base = spread_small_input(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.expr(f"size({words})").alias("n_words"),
        F.expr(dup_line).alias("dup_line_frac"),
        F.expr(words).alias("_w"),
    )
    # codegen gram construction (explode a position sequence + slice)
    # instead of the interpreted transform the optimizer re-evaluates in
    # the inferred size()>0 filter — same grams, duplicates retained as
    # before (the gram census counts occurrences)
    grams = base.select(
        id_col, "_w",
        F.explode_outer(F.expr(
            f"sequence(1, greatest(size(_w) - {gram_n - 1}, 1))"
        )).alias("_gi"),
    ).select(
        id_col,
        F.expr(f"concat_ws(' ', slice(_w, _gi, {gram_n}))").alias("gram"),
    )
    per_doc = (
        grams.groupBy(id_col, "gram").count()
        .groupBy(id_col)
        .agg(F.max("count").alias("_top"), F.sum("count").alias("_tot"))
        .select(
            id_col,
            F.round(F.col("_top").cast("double") / F.col("_tot"), 6)
            .alias("top_gram_frac"),
        )
    )
    return (
        base.drop("_w")
        .join(per_doc, id_col, "left")
        .select(id_col, "n_words", "dup_line_frac",
                F.coalesce("top_gram_frac", F.lit(0.0)).alias("top_gram_frac"))
    )
