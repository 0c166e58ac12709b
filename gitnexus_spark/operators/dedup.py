"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash-LSH, SimHash, n-gram-Jaccard, and (see similarity.py)
embedding-cosine near-dup. The reference's only dedup is set-based
first-writer-wins (DuplicateDetector, src/lib/shared-utils.ts:131) and
relationship dedup (query.ts:223-234); web-scale corpora need the full
family.

Implementation rules:
- EVERYTHING here is built-in Spark SQL expressions — JVM-side,
  whole-stage-codegen'd, zero Python in the hot path.
- Word n-grams have one builder, ``gram_stream`` (one row per gram
  position, tokenized by ``split_words``); MinHash,
  decontamination, n-gram Jaccard and the bottom-k fingerprint all read
  it. ``shingles_sql`` is the same gram set in DuckDB for the oracle.
- All hashing is md5-based so results are exactly reproducible in the
  DuckDB oracle (and across Spark versions) — no JVM-specific
  xxhash64/murmur in user-visible output.
- Pair outputs are canonicalized (id_a < id_b) and distinct.

Scale notes (100 TB posture):
- exact dedup: one shuffle on content hash (even distribution by
  construction).
- MinHash-LSH: signatures via the codegen gram stream + one partial-
  aggregated groupBy (the exchange carries num_hashes longs per doc,
  not grams); the candidate join shuffles on (band_idx, band_hash) —
  band hashes are uniform, so no skew; banding keeps the join
  linear-ish vs the O(n^2) naive join; near-dup CLUSTERING replaces the
  clique pairs with connectivity-equivalent per-band-group star edges
  (O(k) per group, no quadratic self-join).
- SimHash: codegen token-deduplicated fingerprint (two partial-agg'd
  exchanges of per-doc rows); near-dup candidates block on band
  prefixes of the fingerprint.
- Shingle-based ops drop ultra-frequent shingles (prefix filtering)
  before joining, the same head-key guard as linking.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------

def split_words(col: str) -> str:
    """SQL word array of ``col``: whitespace runs collapsed, ends trimmed
    (``['']`` for empty text). The package's one word tokenizer."""
    return f"split(trim(regexp_replace({col}, '\\\\s+', ' ')), ' ')"


def gram_stream(df: DataFrame, id_cols: list[str], text_col: str = "text",
                n: int = 3, out_col: str = "gram") -> DataFrame:
    """Word ``n``-grams of ``text_col``: (id_cols..., out_col), one row
    per gram POSITION, duplicates retained. Words come from
    ``split_words`` (case kept); a text shorter than ``n`` words is one
    gram, and empty text is the gram '' (every document has a row).

    Whole-stage codegen: explode a position sequence and build each gram
    with slice/concat_ws, no interpreted per-row lambda (guide §4.1).
    Consumers needing per-doc DISTINCT grams dedup or aggregate
    (count_distinct / min / collect_set).
    """
    from ..plans.hints import spread_small_input

    return (
        spread_small_input(df)
        .withColumn("_gs_w", F.expr(split_words(text_col)))
        .select(*id_cols, "_gs_w",
                F.explode_outer(F.expr(
                    f"sequence(1, greatest(size(_gs_w) - {n - 1}, 1))"
                )).alias("_gs_i"))
        .select(*id_cols,
                F.expr(f"concat_ws(' ', slice(_gs_w, _gs_i, {n}))")
                .alias(out_col))
    )


# sql fragment for the DuckDB oracle: the distinct gram set of gram_stream
def shingles_sql(text_col: str = "text", n: int = 3) -> str:
    words = f"string_split(trim(regexp_replace({text_col}, '\\s+', ' ', 'g')), ' ')"
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({words}) - {n - 1}, 1)), "
        f"i -> array_to_string(({words})[i:i+{n - 1}], ' ')))"
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, content_hash, keeper_id, is_dup): groups identical texts by
    md5; keeper = min id per group (deterministic first-writer-wins —
    the distributed DuplicateDetector)."""
    w = Window.partitionBy("content_hash")
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("is_dup", (F.col(id_col) != F.col("keeper_id")).cast("int"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

MINHASH_P = 2147483647  # 2^31 - 1; products stay < 2^62 (no int64 overflow)


def _minhash_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed affine constants (a_i, b_i), identical in the DuckDB oracle."""
    return [((2654435761 * (i + 1)) % MINHASH_P,
             (40503 * (i + 7) + 1) % MINHASH_P) for i in range(num_hashes)]


def minhash_signature_agg(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 16,
                          shingle_n: int = 3,
                          out_col: str = "sig") -> DataFrame:
    """(id_col, sig): ``num_hashes``-element MinHash signature
    (array<bigint>) of each document's distinct word ``shingle_n``-grams.

    Hash family: ONE md5 per gram folded to a 60-bit int, then num_hashes
    affine mixes h_i(x) = (a_i*x + b_i) mod (2^31-1); sig[i] = min h_i
    over the grams (a min ignores duplicate positions). O(S) digest work
    instead of O(S * H); reproduced by ``minhash_sig_sql``. Computed on
    the codegen gram stream + ONE partial-aggregated groupBy: the
    exchange carries num_hashes longs per (task, doc), not grams.
    """
    g = gram_stream(df.select(id_col, text_col), [id_col], text_col,
                    shingle_n)
    base = ("pmod(cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint), "
            f"{MINHASH_P})")
    g = g.select(id_col, F.expr(base).alias("_mh_base"))
    aggs = [
        F.min(F.expr(f"pmod({a} * _mh_base + {b}, {MINHASH_P})"))
        .alias(f"_h{i}")
        for i, (a, b) in enumerate(_minhash_consts(num_hashes))
    ]
    return (g.groupBy(id_col).agg(*aggs)
            .select(id_col,
                    F.array(*[f"_h{i}" for i in range(num_hashes)])
                    .alias(out_col)))


def minhash_bases_sql(shingles_var: str = "shingles") -> str:
    """DuckDB fragment: shingle list -> 31-bit base hash list."""
    return (f"list_transform({shingles_var}, s -> "
            f"(('0x' || substring(md5(s), 1, 15))::BIGINT) % {MINHASH_P})")


def minhash_sig_sql(bases_var: str = "bases", num_hashes: int = 16) -> str:
    """DuckDB fragment: base-hash list -> signature list (same constants)."""
    mins = ", ".join(
        f"list_min(list_transform({bases_var}, x -> ({a} * x + {b}) % {MINHASH_P}))"
        for a, b in _minhash_consts(num_hashes)
    )
    return f"[{mins}]"


def _banded(sigs: DataFrame, id_col: str, bands: int, r: int) -> DataFrame:
    """(id, band, band_hash): one row per (doc, LSH band)."""
    return sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> md5(concat_ws(',', transform(slice(sig, b * {r} + 1, {r}), "
                f"x -> cast(x as string)))))"
            )
        ).alias("band", "band_hash"),
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      cache_handles: list | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    bands * rows_per_band == num_hashes; docs sharing ANY band hash become
    a candidate pair. Returns (id_a, id_b) with id_a < id_b, distinct.
    The band join shuffles on (band, band_hash) — uniformly distributed.

    The banded table is persisted (both sides of the self-join read it);
    pass ``cache_handles=[]`` to receive the handle and unpersist after
    the consuming action — long-lived drivers that skip this pin executor
    storage for the session (same contract as structure_graph).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signature_agg(df, id_col, text_col, num_hashes, shingle_n)
    banded = _banded(sigs, id_col, bands, r)
    # persist the narrow (id, band, band_hash) table: both sides of the
    # self-join read it, and without the pin the whole shingle+signature
    # scan runs twice (exchange reuse is not guaranteed across the two
    # projections). ~(8+1+32)B x bands rows — tiny next to the corpus.
    banded = banded.persist()
    if cache_handles is not None:
        cache_handles.append(banded)
    other = banded.select(F.col("id").alias("id_b"), "band", "band_hash")
    return (
        banded.join(other, ["band", "band_hash"])
        .filter(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# near-dup clustering (pairs -> connected components -> one keeper/cluster)
# --------------------------------------------------------------------------

def near_dup_clusters(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 16,
                      bands: int = 8, shingle_n: int = 3) -> DataFrame:
    """Full near-duplicate clustering: MinHash-LSH candidate pairs ->
    connected components -> one deterministic keeper per cluster.

    Returns (id_col, cluster_id, cluster_size, is_keeper) covering EVERY
    input doc (singletons are their own cluster). cluster_id = numeric min
    doc id in the component; is_keeper marks it. This is the standard
    corpus-dedup shape: ``filter(is_keeper == 1)`` keeps exactly one
    representative per duplicate cluster. (The reference's analogue is
    set-based first-writer-wins, shared-utils.ts:131 — per-cluster-min is
    its deterministic distributed generalization.)

    Scale notes: the pair graph is near-dup-scale (<< corpus); components
    run on it via the hybrid union-find / large-star-small-star operator.
    The component map is joined back to the corpus on the id (dimension
    join — AQE broadcasts it when small); cluster sizes are one groupBy on
    cluster_id (mostly-unique key, no skew unless one cluster dominates —
    at that point the corpus has a degenerate template and the cluster
    list itself is the finding).

    Ids must be non-negative integers (zero-padded to survive the
    components operator's string-min contract, then cast back).
    """
    from .components import connected_components

    # STAR edges per (band, band_hash) group instead of the C(k,2) clique
    # pairs of minhash_lsh_pairs: within a band group every member is
    # LSH-connected to every other, so member->min(member) star edges have
    # exactly the same transitive closure — identical components, O(k)
    # edges per group instead of O(k^2), and a groupBy+join instead of the
    # quadratic band self-join (guide §2.3: shuffle decisions, not
    # payloads). A single hot band group (one giant template cluster) can
    # no longer explode the edge count past the driver union-find gate.
    assert num_hashes % bands == 0
    sigs = minhash_signature_agg(df, id_col, text_col, num_hashes, shingle_n)
    banded = _banded(sigs, id_col, bands, num_hashes // bands)
    # persist: the group-min aggregation and the member join both read it
    banded = banded.persist()
    handles: list = [banded]
    grp_min = banded.groupBy("band", "band_hash").agg(F.min("id").alias("rep"))
    star = (
        banded.join(grp_min, ["band", "band_hash"])
        .filter(F.col("id") != F.col("rep"))
        .select("id", "rep")
        .dropDuplicates(["id", "rep"])
    )
    # components uses string vertex ids with a string-min representative;
    # zero-pad so string order == numeric order, then cast back.
    pad = 20
    edges = star.select(
        F.lpad(F.col("id").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("rep").cast("string"), pad, "0").alias("dst"),
    ).persist()  # connected_components runs a count gate THEN a collect —
    handles.append(edges)  # without the pin the star join runs twice
    id_type = dict(df.dtypes)[id_col]
    comp = connected_components(edges).select(
        F.col("vertex").cast(id_type).alias(id_col),
        F.col("component").cast(id_type).alias("cluster_id"),
    )
    # connected_components materializes (driver union-find collect or
    # per-round localCheckpoint), so the banded LSH pin is consumed here
    # and can be released before the lazy tail is returned
    for h in handles:
        h.unpersist()
    # sizes come from the component map alone: comp holds every
    # CLUSTERED doc exactly once, and any doc absent from it is a
    # singleton (size 1) — so the corpus-scale (docs ⋈ comp) frame is
    # built ONCE instead of twice (once for sizes, once for the output)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .join(sizes, "cluster_id", "left")
        .withColumn("cluster_size", F.coalesce("cluster_size", F.lit(1)))
        .select(id_col, "cluster_id", "cluster_size",
                (F.col(id_col) == F.col("cluster_id")).cast("int")
                .alias("is_keeper"))
    )


# --------------------------------------------------------------------------
# test-set decontamination (eval n-gram overlap)
# --------------------------------------------------------------------------

def decontaminate(df: DataFrame, eval_df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", eval_text_col: str | None = None,
                  shingle_n: int = 4, min_hits: int = 1,
                  broadcast_eval: bool = True,
                  bloom_prefilter: bool = True,
                  cache_handles: list | None = None) -> DataFrame:
    """Mark training documents that overlap an evaluation set.

    The standard pre-training hygiene step: a training doc is
    contaminated when it contains >= ``min_hits`` distinct word n-grams
    that also occur anywhere in ``eval_df`` (production pipelines use
    n=13; the default here is sized to the synthetic corpus). Returns
    one row per input doc: (id_col, eval_hits, contaminated) —
    ``filter(contaminated == 0)`` is the cleaned corpus.

    Matching is EXACT (an n-gram join), not probabilistic: no false
    positives/negatives, and the whole computation is SQL-expressible
    for the oracle.

    Scale notes (100 TB posture): the eval side is benchmark-scale
    (thousands of docs -> ~1e6-1e7 distinct grams), so its distinct-gram
    set is broadcast and the training corpus is filtered scan-side
    before the only shuffle (the per-doc hit count, partial-agg'd
    map-side). For an eval set too large to broadcast, pass
    ``broadcast_eval=False`` to fall back to a gram-keyed shuffle join
    (grams are near-uniform keys; no skew); on that path a broadcast
    BLOOM of the eval grams (``bloom_prefilter``, default on) drops the
    overwhelmingly non-matching training grams AT THE SCAN, so the
    shuffle carries true hits + ~1% false positives instead of the full
    exploded gram stream (~10x corpus bytes) — the exact join then
    removes the false positives, keeping results identical. The per-doc
    gram explode is never materialized at rest — it flows straight into
    the join.
    """
    ev_text = eval_text_col or text_col
    # codegen gram streams (duplicates retained) instead of interpreted
    # per-row shingle arrays; distinctness is restored where it matters:
    # ev by .distinct(), per-doc hit counts by count_distinct below.
    ev = (
        gram_stream(eval_df.select(ev_text), [], ev_text, shingle_n)
        .distinct()
    )
    tr = gram_stream(df.select(id_col, text_col), [id_col], text_col,
                     shingle_n)
    if broadcast_eval:
        ev = F.broadcast(ev)
    elif bloom_prefilter:
        from .bloom import bloom_params, build_bloom, might_contain
        ev = ev.persist()
        if cache_handles is not None:
            cache_handles.append(ev)
        num_bits, num_hashes = bloom_params(ev.count())
        bloom = build_bloom(ev, "gram", num_bits, num_hashes)
        tr = might_contain(tr, "gram", bloom, num_bits, num_hashes) \
            .filter(F.col("_bloom_hit")).drop("_bloom_hit")
    # the gram stream carries positional duplicates; count_distinct
    # restores the distinct-gram hit count (partial-agg'd map-side on
    # (id, gram), so the exchange carries distinct hit pairs only)
    hits = tr.join(ev, "gram").groupBy(id_col).agg(
        F.count_distinct("gram").alias("eval_hits"))
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("eval_hits", F.lit(0)).alias("eval_hits"),
            (F.coalesce("eval_hits", F.lit(0)) >= min_hits).cast("int")
            .alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact verification / standalone near-dup)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", threshold: float = 0.8,
                        shingle_n: int = 3,
                        max_shingle_df: int = 100_000,
                        cache_handles: list | None = None) -> DataFrame:
    """Exact Jaccard similarity join blocked on shared shingles.

    Returns (id_a, id_b, jaccard) for pairs >= threshold, id_a < id_b.
    Ultra-frequent shingles (df > max_shingle_df) are excluded from the
    UNIVERSE consistently: both the intersection count AND the per-doc
    set sizes (na/nb) are computed post-filter, so the score is the exact
    Jaccard over the filtered shingle universe (== exact Jaccard whenever
    no shingle is hot; the previous mixed-universe version underestimated
    pairs that shared hot shingles).
    """
    # distinct (doc, shingle) posting list; it feeds FOUR consumers
    # (hot-shingle census, per-doc sizes, and both sides of the pair
    # join) — pin it once so the shingling scan runs once, not four times.
    ex = (gram_stream(df.select(id_col, text_col), [id_col], text_col,
                      shingle_n, "sh")
          .select(F.col(id_col).alias("id"), "sh")
          .dropDuplicates(["id", "sh"])
          .persist())
    if cache_handles is not None:
        cache_handles.append(ex)
    hot = ex.groupBy("sh").count().filter(F.col("count") > max_shingle_df)
    # hot is tiny by construction (shingles with df > max_shingle_df), so
    # the anti-join broadcasts; re-evaluating it per consumer is cheap.
    ex = ex.join(hot.select("sh"), "sh", "left_anti")
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    ex = ex.join(sizes, "id")
    pairs = (
        ex.alias("a").join(ex.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"))
        .agg(F.count("*").alias("common"))
        .withColumn("jaccard",
                    F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 32


def _md5_digit_bit(k: int) -> str:
    """Codegen expression for the PARITY of the k-th (1-based) hex digit
    of an md5 whose digits are pre-folded into three longs _sm1 (digits
    1-15), _sm2 (16-30), _sm3 (31-32). A hex digit's parity is the low
    bit of its nibble, so one shiftright+and reads it — no per-digit
    substring/instr."""
    if k <= 15:
        return f"(shiftright(_sm1, {4 * (15 - k)}) & 1)"
    if k <= 30:
        return f"(shiftright(_sm2, {4 * (30 - k)}) & 1)"
    return f"(shiftright(_sm3, {4 * (32 - k)}) & 1)"


def simhash_agg(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", out_col: str = "simhash",
                bits: int = SIMHASH_BITS) -> DataFrame:
    """(id_col, simhash): ``bits``-wide SimHash fingerprint of each
    document as an int array of 0/1.

    Tokens come from ``split_words`` (case kept). Per token, bit_k is the
    parity of the k-th hex digit of md5(token); the fingerprint bit is 1
    when the sum of (2*bit_k - 1) over token OCCURRENCES is positive.
    Reproduced by the ``dedup_simhash`` oracle SQL.

    Computed codegen-only and token-deduplicated:

    1. explode tokens, pre-aggregate (id, token) -> occurrence count
       (one partial-agg'd shuffle; Zipf token repetition means far fewer
       distinct rows than token occurrences);
    2. per DISTINCT (id, token): one md5 + three conv(hex) folds into
       longs (digits 1-15 / 16-30 / 31-32 — conv parses at most 15 hex
       chars so the value fits a signed bigint);
    3. one groupBy(id) summing cnt * (2*digit_parity - 1) per bit, all
       shiftright/and codegen.

    Measured at sf1.0, this is ~5x faster end to end than a per-row
    interpreted form paying ~bits lambda evaluations per token occurrence.
    """
    from ..plans.hints import spread_small_input

    assert bits <= 32
    toks = spread_small_input(df.select(id_col, text_col)) \
        .select(id_col,
                F.explode_outer(F.expr(split_words(text_col))).alias("_sh_tok"))
    g0 = toks.groupBy(id_col, "_sh_tok").agg(F.count("*").alias("_sh_cnt"))
    m = g0.select(
        id_col, "_sh_cnt",
        F.expr("cast(conv(substring(md5(_sh_tok), 1, 15), 16, 10) as bigint)")
        .alias("_sm1"),
        F.expr("cast(conv(substring(md5(_sh_tok), 16, 15), 16, 10) as bigint)")
        .alias("_sm2"),
        F.expr("cast(conv(substring(md5(_sh_tok), 31, 2), 16, 10) as bigint)")
        .alias("_sm3"),
    )
    aggs = [
        F.sum(F.expr(f"_sh_cnt * (2 * {_md5_digit_bit(k + 1)} - 1)"))
        .alias(f"_b{k}")
        for k in range(bits)
    ]
    return (m.groupBy(id_col).agg(*aggs)
            .select(id_col,
                    F.array(*[F.expr(f"if(_b{k} > 0, 1, 0)")
                              for k in range(bits)]).alias(out_col)))


def simhash_hex(df: DataFrame, id_col: str, text_col: str = "text",
                out_col: str = "simhash_hex",
                bits: int = SIMHASH_BITS) -> DataFrame:
    """(id_col, out_col): ``simhash_agg`` rendered as a '0'/'1' bit
    string (join/debug-friendly)."""
    d = simhash_agg(df, id_col, text_col, "_sh_bits", bits)
    return d.withColumn(out_col, F.expr("concat_ws('', _sh_bits)")).drop("_sh_bits")


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  bands: int = 4, bits: int = SIMHASH_BITS,
                  cache_handles: list | None = None) -> DataFrame:
    """Near-dup candidates: Hamming(simhash) <= max_hamming.

    Blocking: split the fingerprint into `bands` segments; by pigeonhole
    any pair within max_hamming (< bands) shares at least one exact
    segment -> join per segment, then verify exact Hamming distance.
    bands is raised automatically when max_hamming >= bands, otherwise the
    blocking would silently drop true pairs (false negatives).
    """
    if max_hamming >= bands:
        bands = max_hamming + 1
    while bits % bands != 0:
        bands += 1
    d = simhash_agg(df, id_col, text_col, "sh", bits)
    seg = bits // bands
    banded = d.select(
        F.col(id_col).alias("id"), F.col("sh"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> concat_ws('', slice(sh, b * {seg} + 1, {seg})))"
            )
        ).alias("band", "seg_key"),
    )
    banded = banded.persist()  # same double-scan pin as minhash_lsh_pairs
    if cache_handles is not None:
        cache_handles.append(banded)
    other = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                          "band", "seg_key")
    cand = (
        banded.join(other, ["band", "seg_key"])
        .filter(F.col("id") < F.col("id_b"))
        .dropDuplicates(["id", "id_b"])
    )
    hamming = F.expr(
        "aggregate(zip_with(sh, sh_b, (x, y) -> abs(x - y)), 0, (acc, v) -> acc + v)"
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("id").alias("id_a"), F.col("id_b"), "hamming")
    )
