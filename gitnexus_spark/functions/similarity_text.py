"""Blended text similarity — the reference's semantic-similarity blend.

Reference: src/lib/semantic-similarity.ts — Jaccard (word sets, :23-33),
TF-IDF cosine (:35-49), Levenshtein (:51-59 normalized), blended
`0.3*jaccard + 0.4*cosine + 0.3*levenshtein` (:150). Used there for
query-cache reuse; here it is a general distributed pairwise-similarity
operator (e.g. near-dup scoring, candidate ranking).

All built-in expressions: `levenshtein()` is a Spark builtin; Jaccard and
TF-style cosine run on word arrays. The cosine uses raw term-frequency
vectors over the pair's union vocabulary (reference computes TF-IDF over
just the two documents, where IDF is constant for shared terms — we mirror
the same two-document semantics, so the result is reproducible in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import _words

W_JACCARD, W_COSINE, W_LEVENSHTEIN = 0.3, 0.4, 0.3  # semantic-similarity.ts:150


def blended_similarity(pairs: DataFrame, a_col: str = "text_a",
                       b_col: str = "text_b",
                       out_col: str = "similarity") -> DataFrame:
    """pairs(text_a, text_b, ...) -> + jaccard, cosine, lev_sim, similarity.

    Row-wise; no shuffle. Word-level Jaccard on distinct sets; cosine on
    term-frequency vectors over the union vocabulary; Levenshtein
    normalized by the longer string.
    """
    wa, wb = _words(a_col), _words(b_col)
    # sorted distinct sets: fold order is then identical across engines,
    # making the floating-point sums bit-reproducible in the SQL oracle
    sa, sb = f"array_sort(array_distinct({wa}))", f"array_sort(array_distinct({wb}))"
    jacc = (
        f"case when size({sa}) = 0 and size({sb}) = 0 then 1.0d else "
        f"cast(size(array_intersect({sa}, {sb})) as double) / "
        f"greatest(size(array_union({sa}, {sb})), 1) end"
    )
    # tf vectors over union vocab: dot = sum over shared terms tf_a*tf_b
    tf = (
        "aggregate(array_sort(array_intersect({sa}, {sb})), cast(0 as double), (acc, t) -> acc + "
        "cast(size(filter({wa}, x -> x = t)) as double) * "
        "cast(size(filter({wb}, x -> x = t)) as double))"
    ).format(sa=sa, sb=sb, wa=wa, wb=wb)
    norm = ("sqrt(aggregate({s}, cast(0 as double), (acc, t) -> acc + "
            "pow(cast(size(filter({w}, x -> x = t)) as double), 2)))")
    cos = (
        f"case when size({sa}) = 0 or size({sb}) = 0 then 0.0d else "
        f"({tf}) / greatest({norm.format(s=sa, w=wa)} * {norm.format(s=sb, w=wb)}, 1e-12) end"
    )
    lev = (
        f"case when greatest(length({a_col}), length({b_col})) = 0 then 1.0d else "
        f"1.0d - cast(levenshtein({a_col}, {b_col}) as double) / "
        f"greatest(length({a_col}), length({b_col})) end"
    )
    return (
        pairs.withColumn("jaccard", F.round(F.expr(jacc), 6))
        .withColumn("cosine", F.round(F.expr(cos), 6))
        .withColumn("lev_sim", F.round(F.expr(lev), 6))
        .withColumn(out_col, F.round(
            F.col("jaccard") * W_JACCARD + F.col("cosine") * W_COSINE
            + F.col("lev_sim") * W_LEVENSHTEIN, 6))
    )
