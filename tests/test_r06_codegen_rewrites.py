"""Round-6 optimization equivalence gates.

Every rewrite of this round replaced an interpreted higher-order-function
plan with a codegen explode/aggregate plan (or clique pairs with
connectivity-equivalent star edges). These tests pin the contract the
oracle can only spot-check at scale: on adversarial inputs (empty text,
repeated tokens, CJK, stopword-only, single-word, whitespace runs) the
codegen form must be BIT-IDENTICAL to an independent reference — the
DuckDB oracle SQL for the word-gram kernel (SimHash, MinHash, distinct
grams, decontamination, fingerprint, n-gram Jaccard), and the
row-preserving original where one is still a public API (text stats,
quality) or a clique-pair rebuild (near-dup clusters).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


ADVERSARIAL = [
    (0, "", "src0"),
    (1, "   ", "src0"),
    (2, "the the the the the", "src0"),
    (3, "one", "src1"),
    (4, "der die das und ist von zu mit den nicht", "src1"),
    (5, "el la de que y en los del las por", "src1"),
    (6, "一二三四五六七八", "src2"),
    (7, "mixed  whitespace\t and\nnewlines   here", "src2"),
    (8, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "src2"),
    (9, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "src3"),
    (10, "a b c d e f g h i j k l m n o p q r s t u v w x y z", "src3"),
    (11, "the and of to in is that for with on le la de et les", "src3"),
    (12, "Entity_1 founded Entity_2 and Entity_3", "src0"),
]


@pytest.fixture(scope="module")
def adv_docs(spark):
    return spark.createDataFrame(ADVERSARIAL, ["doc_id", "text", "source"])


def _rows(rows):
    """Sorted row tuples (array values as tuples) of a DataFrame or of
    fetched DuckDB rows, so both engines compare by value."""
    if hasattr(rows, "collect"):
        rows = rows.collect()
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                  for r in rows)


def _oracle(sql):
    """Rows of DuckDB ``sql`` with ADVERSARIAL registered as
    ``documents``, the table the driver's oracle SQL reads."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(
            ADVERSARIAL, columns=["doc_id", "text", "source"]))
        return _rows(con.execute(sql).fetchall())
    finally:
        con.close()


def test_simhash_agg_matches_hof(adv_docs):
    """Reference: the ``dedup_simhash`` oracle SQL (32-bit strings)."""
    from __spark_entry__ import SQL_DEDUP_SIMHASH
    from gitnexus_spark.operators.dedup import simhash_agg

    new = simhash_agg(adv_docs).select(
        "doc_id", F.expr("concat_ws('', simhash)").alias("h"))
    assert _oracle(SQL_DEDUP_SIMHASH) == _rows(new)


def test_minhash_signature_agg_matches_hof(adv_docs):
    """Reference: the oracle's shingle, base-hash and signature
    fragments (full 16-long signatures, not their md5)."""
    from gitnexus_spark.operators.dedup import (minhash_bases_sql,
                                                minhash_sig_sql,
                                                minhash_signature_agg,
                                                shingles_sql)

    old = _oracle(f"""WITH sh AS (
  SELECT doc_id, {shingles_sql()} AS shingles FROM documents),
bases AS (SELECT doc_id, {minhash_bases_sql()} AS b FROM sh)
SELECT doc_id, {minhash_sig_sql('b', 16)} AS sig FROM bases""")
    new = minhash_signature_agg(adv_docs)
    assert old == _rows(new)


def _oracle_grams(n, where="true"):
    """(doc_id, gram) rows of the oracle's distinct shingle set."""
    from gitnexus_spark.operators.dedup import shingles_sql

    return (f"SELECT DISTINCT doc_id, unnest({shingles_sql(n=n)}) AS gram "
            f"FROM documents WHERE {where}")


def test_gram_stream_distinct_matches_shingles(adv_docs):
    from gitnexus_spark.operators.dedup import gram_stream

    for n in (2, 4):
        old = _oracle(_oracle_grams(n))
        new = gram_stream(adv_docs.select("doc_id", "text"), ["doc_id"],
                          n=n).distinct()
        assert old == _rows(new), f"n={n}"


def test_decontaminate_count_distinct_matches_prededup(adv_docs):
    """The stream form retains positional duplicates and restores
    distinctness via count_distinct; must equal the oracle's
    list_distinct shingle-set join."""
    from gitnexus_spark.operators.dedup import decontaminate

    train = adv_docs.filter(F.col("doc_id") % 3 != 0)
    ev = adv_docs.filter(F.col("doc_id") % 3 == 0)
    old = _oracle(f"""WITH ev AS (
  SELECT DISTINCT gram FROM ({_oracle_grams(2, "doc_id % 3 = 0")})),
tr AS ({_oracle_grams(2, "doc_id % 3 <> 0")}),
hits AS (SELECT doc_id, count(*) AS eval_hits FROM tr JOIN ev USING (gram)
         GROUP BY doc_id)
SELECT d.doc_id, COALESCE(h.eval_hits, 0) AS eval_hits,
       CASE WHEN COALESCE(h.eval_hits, 0) >= 1 THEN 1 ELSE 0 END AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) d
LEFT JOIN hits h USING (doc_id)""")
    new = decontaminate(train, ev, shingle_n=2, min_hits=1)
    assert old == _rows(new)


def test_text_stats_agg_matches_with_chain(adv_docs):
    from gitnexus_spark.functions.text import (text_stats_agg, with_lang_id,
                                               with_quality_score,
                                               with_token_count)

    cols = ["doc_id", "n_tokens", "token_estimate", "lang_pred", "quality"]
    old = with_quality_score(with_lang_id(with_token_count(adv_docs))) \
        .select(*cols)
    new = text_stats_agg(adv_docs).select(*cols)
    assert old.schema == new.schema
    assert _rows(old) == _rows(new)


def test_quality_agg_matches_with_quality_score(adv_docs):
    from gitnexus_spark.functions.text import quality_agg, with_quality_score

    old = with_quality_score(adv_docs).select("doc_id", "quality")
    new = quality_agg(adv_docs)
    assert _rows(old) == _rows(new)


def test_fingerprint_agg_matches_with_fingerprint(adv_docs):
    """Reference: the ``fingerprint`` oracle SQL (md5 of the bottom-8)."""
    from __spark_entry__ import SQL_FINGERPRINT
    from gitnexus_spark.functions.text import fingerprint_agg

    new = fingerprint_agg(adv_docs).select(
        "doc_id", F.md5(F.concat_ws(",", "fingerprint")).alias("fp_hash"))
    assert _oracle(SQL_FINGERPRINT) == _rows(new)


def test_ngram_jaccard_pairs_matches_oracle(adv_docs):
    """The driver's ``dedup_jaccard_pairs`` call against its oracle SQL."""
    from __spark_entry__ import SQL_DEDUP_JACCARD
    from gitnexus_spark.operators.dedup import ngram_jaccard_pairs

    new = ngram_jaccard_pairs(adv_docs, threshold=0.03, shingle_n=2)
    got = _rows(new)
    assert got, "fixture must yield pairs (identical and empty texts)"
    assert _oracle(SQL_DEDUP_JACCARD) == got


def test_near_dup_star_edges_match_clique_pairs(spark):
    """Star edges per LSH band group must produce the same components as
    the full C(k,2) clique pairs (same transitive closure)."""
    from gitnexus_spark.operators.components import connected_components
    from gitnexus_spark.operators.dedup import (minhash_lsh_pairs,
                                                near_dup_clusters)

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, base if i < 6 else f"{base} extra_{i % 3}") for i in range(12)]
        + [(i, f"unique text number {i} with tail_{i}") for i in range(12, 18)],
        ["doc_id", "text"])
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    pad = 20
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("id_b").cast("string"), pad, "0").alias("dst"))
    comp = connected_components(edges).select(
        F.col("vertex").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"))
    out = (docs.select("doc_id").join(comp, "doc_id", "left")
           .withColumn("cluster_id",
                       F.coalesce("cluster_id", F.col("doc_id"))))
    sizes = out.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    old = out.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).cast("int")
        .alias("is_keeper"))
    new = near_dup_clusters(docs, num_hashes=16, bands=8)
    assert _rows(old) == _rows(new)
