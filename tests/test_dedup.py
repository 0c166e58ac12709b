"""Dedup family: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
        (4, "completely different text about spark and data"),
        (5, "another unrelated document mentioning query engines"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    from gitnexus_spark.operators.dedup import exact_dedup

    got = {r["doc_id"]: (r["keeper_id"], r["is_dup"]) for r in exact_dedup(docs).collect()}
    assert got[1] == (1, 0)
    assert got[2] == (1, 1)   # dup points at min id
    assert got[3] == (3, 0)


def test_minhash_lsh_finds_near_dup(docs):
    from gitnexus_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, num_hashes=16, bands=8).collect()}
    assert (1, 2) in pairs          # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # 1-word-off near dup
    assert (4, 5) not in pairs


def test_minhash_deterministic(docs):
    from gitnexus_spark.operators.dedup import minhash_signature_agg

    a = minhash_signature_agg(docs, num_hashes=8).select("doc_id", "sig").collect()
    b = minhash_signature_agg(docs, num_hashes=8).select("doc_id", "sig").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_jaccard_exact_value(docs, spark):
    from gitnexus_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(1, 2)] == 1.0
    # verify (1,3) against a jaccard over pure-Python word 3-gram sets
    def shingles(text, n=3):
        w = text.split()
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}

    sh = {r["doc_id"]: shingles(r["text"]) for r in docs.collect()}
    expected = len(sh[1] & sh[3]) / len(sh[1] | sh[3])
    assert abs(pairs[(1, 3)] - expected) < 1e-6


def test_simhash_identical_and_near(docs):
    from gitnexus_spark.operators.dedup import simhash_hex, simhash_pairs

    hx = {r["doc_id"]: r["simhash_hex"]
          for r in simhash_hex(docs, id_col="doc_id").collect()}
    assert hx[1] == hx[2]
    assert len(hx[1]) == 32
    # true hamming(1,3) from the fingerprints themselves
    h13 = sum(a != b for a, b in zip(hx[1], hx[3]))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=max(h13, 1)).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] == h13


def test_simhash_band_pigeonhole(docs):
    """max_hamming < bands guarantees no false negatives vs brute force."""
    from gitnexus_spark.operators.dedup import simhash_agg, simhash_pairs

    d = {r["doc_id"]: r["sh"] for r in
         simhash_agg(docs, out_col="sh").select("doc_id", F.col("sh")).collect()}
    brute = set()
    ids = sorted(d)
    for i in ids:
        for j in ids:
            if i < j:
                h = sum(abs(x - y) for x, y in zip(d[i], d[j]))
                if h <= 3:
                    brute.add((i, j, h))
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in simhash_pairs(docs, max_hamming=3, bands=4).collect()}
    assert got == brute


def test_near_dup_clusters(spark):
    from gitnexus_spark.operators.dedup import near_dup_clusters

    # ids 99/100 share a cluster: the keeper must be the NUMERIC min (99),
    # which catches any string-min leak from the components operator
    # ("100" < "99" lexicographically).
    rows = [
        (99, "the quick brown fox jumps over the lazy dog"),
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "the quick brown fox jumps over the lazy cat"),
        (7, "completely different text about spark and data"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           near_dup_clusters(docs, num_hashes=16, bands=8).collect()}
    assert set(got) == {7, 99, 100, 101}           # every doc covered
    assert got[99]["cluster_id"] == 99 and got[99]["is_keeper"] == 1
    assert got[100]["cluster_id"] == 99 and got[100]["is_keeper"] == 0
    assert got[100]["cluster_size"] == got[99]["cluster_size"]
    assert got[7]["cluster_id"] == 7 and got[7]["cluster_size"] == 1
    # exactly one keeper per cluster
    keepers = [r for r in got.values() if r["is_keeper"] == 1]
    assert len(keepers) == len({r["cluster_id"] for r in got.values()})


def test_decontaminate(spark):
    from gitnexus_spark.operators.dedup import decontaminate

    eval_rows = [(1000, "alpha beta gamma delta epsilon")]
    train_rows = [
        # contains the eval 4-gram "alpha beta gamma delta" -> contaminated
        (1, "prefix alpha beta gamma delta suffix words here"),
        # shares words but no 4-gram run -> clean
        (2, "alpha beta x gamma delta epsilon y"),
        # disjoint vocabulary -> clean, eval_hits 0
        (3, "totally unrelated text about spark jobs"),
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    ev = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           decontaminate(train, ev, shingle_n=4).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["contaminated"] == 1 and got[1]["eval_hits"] >= 1
    assert got[2]["contaminated"] == 0 and got[2]["eval_hits"] == 0
    assert got[3]["contaminated"] == 0 and got[3]["eval_hits"] == 0
    # shuffle-join fallback produces the identical result
    got2 = {r["doc_id"]: r["contaminated"] for r in
            decontaminate(train, ev, shingle_n=4,
                          broadcast_eval=False).collect()}
    assert got2 == {k: v["contaminated"] for k, v in got.items()}
    # plan shapes: default broadcasts the eval gram set; the fallback
    # must not force a broadcast of a too-large eval side
    import contextlib
    import io

    def _plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assert "BroadcastHashJoin" in _plan(decontaminate(train, ev, shingle_n=4))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fb = _plan(decontaminate(train, ev, shingle_n=4,
                                 broadcast_eval=False))
        assert "BroadcastHashJoin" not in fb, fb
        # the bloom prefilter sits scan-side of the gram shuffle
        assert "ArrowEvalPython" in fb, fb
        nb = _plan(decontaminate(train, ev, shingle_n=4,
                                 broadcast_eval=False,
                                 bloom_prefilter=False))
        assert "ArrowEvalPython" not in nb, nb
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # bloom-less fallback matches too
    got3 = {r["doc_id"]: r["contaminated"] for r in
            decontaminate(train, ev, shingle_n=4, broadcast_eval=False,
                          bloom_prefilter=False).collect()}
    assert got3 == {k: v["contaminated"] for k, v in got.items()}


def test_cache_handles_returned_and_releasable(docs, spark):
    """The persisted internals are handed back for the caller to release
    (long-lived drivers would otherwise pin executor storage for the
    session); results are unaffected by the release."""
    from gitnexus_spark.operators.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs,
                                                simhash_pairs)

    for fn in (minhash_lsh_pairs, simhash_pairs, ngram_jaccard_pairs):
        handles = []
        out = fn(docs, cache_handles=handles)
        n = out.count()
        assert len(handles) == 1 and handles[0].is_cached
        for h in handles:
            h.unpersist()
        assert not handles[0].is_cached
        assert out.count() == n  # plan still valid after release
