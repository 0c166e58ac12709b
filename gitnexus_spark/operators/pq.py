"""Product quantization: the memory path of the similarity family.

At 10^9+ vectors a float32 embedding column is tens of TB and cannot be
scanned per query; production ANN systems (FAISS IVF-PQ lineage) store
m-byte PQ codes instead — each vector is split into m subspaces and
each subvector replaced by the id of its nearest codebook centroid
(k<=256 -> one byte per subspace, a 4*d/m-fold compression). Queries
score against codes via per-subspace lookup tables (ADC: asymmetric
distance computation), never touching the original floats.

Spark shape (everything distributed, nothing driver-bound):
- codebook TRAINING is Lloyd iterations over all m subspaces at once:
  one scan-local Arrow assignment pass (the m x k x d/m codebook rides
  the task closure — k*d doubles, kilobytes), then ONE shuffle keyed
  (subspace, cell, dim) for partial-aggregated centroid means;
- ENCODING is one scan-local Arrow pass emitting the m-byte code array;
- SEARCH runs the similarity top-k kernel (similarity._topk): the
  per-query ADC lookup tables ride the task closure and ONE Arrow pass
  over the codes scores, rounds and keeps <= queries x k rows per
  partition, so the only exchange carries <= partitions x queries x k
  rows; the exact re-rank runs the same kernel over the shortlist rows.

Codebooks are deterministic: seeded from the md5-fold sample (the
dedup/IVF family fold), refined by means — reproducible across runs up
to float-sum ordering, which the recall gates (not hashes) absorb.
No DuckDB oracle: centroids are trained floats, not SQL-replayable
arithmetic; correctness is recall- and distortion-gated in pytest
(the driver records the rows-only check).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gitnexus_spark.operators.sampling import fold_expr
from gitnexus_spark.operators.similarity import (_fold_cosine_matrix,
                                                 _rows_matrix, _topk)


def _subspace_slices(d: int, m: int) -> list:
    """m contiguous dim ranges covering [0, d); d need not divide m
    evenly — trailing subspaces are one shorter (FAISS convention)."""
    base, extra = divmod(d, m)
    out, lo = [], 0
    for i in range(m):
        hi = lo + base + (1 if i < extra else 0)
        out.append((lo, hi))
        lo = hi
    return out


def train_pq_codebooks(corpus: DataFrame, m: int = 8, k: int = 256,
                       iters: int = 2,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       sample_rows: int = 100_000) -> list:
    """[(sub_id, [centroid, ...k]), ...m] — Lloyd-trained per-subspace
    codebooks.

    Training runs on a deterministic fold-sample of <= sample_rows
    vectors (training a quantizer on a uniform sample is standard; the
    fold makes the sample identical across runs/retries). Seeds are the
    k lowest-fold sampled vectors' subvectors. All m subspaces train in
    the same passes — the per-iteration cost is one corpus-sample scan
    plus one (subspace, cell, dim)-keyed shuffle whose map-side combine
    reduces to m*k*d/m rows before the exchange.
    """
    n = corpus.count()
    if n == 0:
        raise ValueError("train_pq_codebooks: corpus is empty")
    df = corpus.select(id_col, vec_col)
    if n > sample_rows:
        bound = int((1 << 60) * (float(sample_rows) / n))
        df = df.filter(fold_expr(id_col) < bound)
    df = df.withColumn("_fold", fold_expr(id_col))
    seed_rows = df.orderBy("_fold", id_col).limit(k).collect()
    if not seed_rows:  # sample filter left nothing (tiny sample_rows)
        df = corpus.select(id_col, vec_col).withColumn(
            "_fold", fold_expr(id_col))
        seed_rows = df.orderBy("_fold", id_col).limit(k).collect()
    seed_vecs = _rows_matrix([r[vec_col] for r in seed_rows])
    slices = _subspace_slices(seed_vecs.shape[1], m)
    books = []
    for lo, hi in slices:
        seeds = seed_vecs[:, lo:hi]
        if len(seeds) < k:  # tiny corpora: pad by cycling the seeds
            reps = -(-k // len(seeds))
            seeds = np.tile(seeds, (reps, 1))[:k]
        books.append(seeds)

    for _ in range(iters):
        assigned = _assign_codes(df, books, slices, id_col, vec_col,
                                 explode=True)
        means = (
            assigned
            .select("sub_id", "code",
                    F.posexplode(F.col("subvec")).alias("pos", "x"))
            .groupBy("sub_id", "code", "pos").agg(F.avg("x").alias("mval"))
            .groupBy("sub_id", "code")
            .agg(F.expr("transform(array_sort(collect_list(struct(pos, mval)"
                        ")), s -> s.mval)").alias("centroid"))
        ).collect()
        for r in means:
            books[r["sub_id"]][r["code"]] = np.asarray(r["centroid"])
    return [(i, [list(map(float, c)) for c in b])
            for i, b in enumerate(books)]


def _assign_codes(df: DataFrame, books: list, slices: list,
                  id_col: str, vec_col: str, explode: bool) -> DataFrame:
    """Scan-local nearest-centroid assignment for every subspace.
    explode=True -> one row per (vector, subspace) carrying the subvector
    (training); explode=False -> one row per vector with the full m-code
    array (encoding)."""
    import pandas as pd

    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)

    B = [np.asarray(b, dtype=np.float64) for b in books]
    src = df.select(id_col, vec_col)
    id_field = src.schema[id_col]
    if explode:
        schema = StructType([id_field,
                             StructField("sub_id", IntegerType()),
                             StructField("code", IntegerType()),
                             StructField("subvec", ArrayType(DoubleType()))])
    else:
        schema = StructType([id_field,
                             StructField("codes", ArrayType(IntegerType()))])

    def run(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = _rows_matrix(pdf[vec_col])
            codes = np.empty((len(V), len(slices)), dtype=np.int32)
            for s, (lo, hi) in enumerate(slices):
                sub = V[:, lo:hi]
                # argmin squared L2: |x|^2 - 2 x.c + |c|^2 (|x|^2 drops)
                d2 = -2.0 * (sub @ B[s].T) + (B[s] * B[s]).sum(axis=1)[None, :]
                codes[:, s] = np.argmin(d2, axis=1)
            if explode:
                frames = []
                for s, (lo, hi) in enumerate(slices):
                    f = pd.DataFrame({
                        id_col: pdf[id_col].values,
                        "sub_id": np.int32(s),
                        "code": codes[:, s],
                        "subvec": list(V[:, lo:hi]),
                    })
                    frames.append(f)
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame({id_col: pdf[id_col].values,
                                    "codes": list(codes)})
    return src.mapInPandas(run, schema=schema)


def encode_pq(corpus: DataFrame, codebooks: list,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes) — the m-byte representation, one scan-local pass.
    This is the table that gets written at rest instead of the floats:
    m ints (cast to BYTE/SHORT by the writer for k<=256) vs 4*d bytes."""
    books = [np.asarray(b, dtype=np.float64) for _, b in codebooks]
    d = sum(len(b[0]) for _, b in codebooks)
    slices = _subspace_slices(d, len(books))
    return _assign_codes(corpus, books, slices, id_col, vec_col,
                         explode=False)


def pq_topk(codes: DataFrame, queries: DataFrame, codebooks: list,
            k: int = 10,
            id_col: str = "vec_id",
            q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """ADC top-k over PQ codes: (q_id, vec_id, score, rank).

    Per query, a m x k_codes lookup table of subspace dot contributions
    (query_subvec . centroid) is built once on the driver; the tables of
    ALL queries ride the task closure (#queries x m x k_codes doubles —
    queries are small by contract). A row's approximate dot product is m
    gathers + a sum, computed inside the top-k kernel's one pass over the
    codes — no float vector touched, and the rows x queries product never
    leaves Python. Every pair is eligible. Scores are approximate dot
    products rounded to 6 dp (normalize embeddings upstream for cosine
    semantics); ties break on vec_id ASC like the exact path."""
    books = [np.asarray(b, dtype=np.float64) for _, b in codebooks]
    slices = _subspace_slices(sum(b.shape[1] for b in books), len(books))
    sub = np.arange(len(books))

    def plan(q_ids, Q):
        lut = np.array([[b @ q[lo:hi] for b, (lo, hi) in zip(books, slices)]
                        for q in Q])  # (n_q, m, k_codes)

        def batch(pdf):
            C = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            return np.column_stack([t[sub, C].sum(axis=1) for t in lut]), None
        return codes.select(id_col, "codes"), batch

    return _topk(queries, k, id_col, q_id_col, q_vec_col, plan)


def pq_topk_rerank(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                   codebooks: list, k: int = 10, shortlist: int = 100,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = "q_id",
                   q_vec_col: str = "q_vec") -> DataFrame:
    """Two-stage retrieval, the production PQ pattern: ADC over codes
    builds a per-query shortlist (cheap, code-only scan), then ONLY the
    shortlist rows are re-scored with exact cosine against the float
    vectors. The float table is touched for #queries x shortlist rows —
    corpus ⋈ broadcast(shortlist) on id, each row eligible only for its
    own q_id, scored in the top-k kernel with the same bit-exact fold
    and rounding as brute_force_topk. End-to-end recall equals shortlist
    recall, which m/k knobs tune independently of the final k."""
    short = pq_topk(codes, queries, codebooks, k=shortlist,
                    id_col=id_col, q_id_col=q_id_col, q_vec_col=q_vec_col)

    def plan(q_ids, Q):
        cand = corpus.select(id_col, vec_col).join(
            F.broadcast(short.select(q_id_col, id_col)), id_col)
        own = np.asarray(q_ids)
        return cand, lambda pdf: (
            _fold_cosine_matrix(_rows_matrix(pdf[vec_col]), Q),
            pdf[q_id_col].to_numpy()[:, None] == own[None, :])

    return _topk(queries, k, id_col, q_id_col, q_vec_col, plan)
