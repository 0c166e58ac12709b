"""Connected components for coreferent-entity canonicalization.

Not present in the reference (its call resolution links each call to one
definition); required by the north star to merge coreferent entity surface
forms ("Entity_5" / "E5" / "Entity-5") into one canonical node.

Distributed algorithm: alternating large-star / small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014; see also
BTS, ICDE 2024 in PAPERS.md) — O(log n) rounds on ANY graph shape,
including adversarial long chains where plain min-label propagation needs
O(diameter) rounds. Each round is two grouped aggregations + joins keyed
on vertex id.

Scale notes: ``localCheckpoint`` cuts lineage so plans stay flat;
convergence is an exceptAll emptiness probe (no collect of vertex data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import hints


DRIVER_CC_MAX_EDGES = 500_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = DRIVER_CC_MAX_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) -> (vertex, component) with component = min vertex id
    (string min) reachable in the undirected graph. Isolated vertices absent
    from `edges` are absent from the output (join back if needed).

    Hybrid execution: the coreference graph lives on the ENTITY DIMENSION
    (vocabulary-scale, not corpus-scale), so when it has fewer than
    ``driver_threshold`` edges a single-pass driver union-find is far
    cheaper than iterated shuffles (each distributed round costs several
    small jobs regardless of data size). Above the threshold the
    distributed large-star/small-star loop takes over — identical
    results, O(log n) rounds.

    ``stats`` (optional dict) receives ``vertices`` on the driver path
    (the output's row count, known without a job) and ``rounds`` /
    ``converged`` on the distributed one.
    """
    # The count gate and the follow-up action (collect / first star
    # round) would each execute the edge plan; pin it across the two
    # unless the caller already did (dedup.py pins). A limit(T+1) probe
    # was measured WORSE here: CollectLimit's incremental escalation ran
    # 8 partial jobs over the multi-stage banding plan (guide §1.2 —
    # per-job latency is the cost term on this chain).
    e = edges.select(src, dst)
    caller_pinned = edges.storageLevel.useMemory or edges.storageLevel.useDisk
    if not caller_pinned:
        e = e.persist()
    try:
        n_edges = e.count()
        if n_edges <= driver_threshold:
            return _union_find_rows(edges.sparkSession,
                                    e.collect() if n_edges else [], stats)
        # _large_small_star eagerly checkpoints its input on entry, so
        # the pin is releasable as soon as it returns
        return _large_small_star(e, src, dst, max_iter, stats)
    finally:
        if not caller_pinned:
            e.unpersist()


def _union_find_rows(spark, rows, stats: dict | None = None) -> DataFrame:
    """Classic path-compressed union-find on collected (src, dst) rows;
    component = min member (same contract as the distributed path)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    # the caller hands the (bounded) collected edge list — NOT
    # toLocalIterator, which executes one sequential job per partition
    # and anti-scales with the session's parallelism
    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the representative
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    out = [(v, find(v)) for v in parent]
    if stats is not None:
        stats["vertices"] = len(out)
    return spark.createDataFrame(out, "vertex string, component string")


def _large_small_star(
    edges: DataFrame, src: str, dst: str, max_iter: int,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al., SoCC'14).

    large-star: every vertex attaches its STRICTLY-LARGER neighbors to
    min(Γ(u) ∪ {u}); small-star: orient edges large->small, attach all
    smaller neighbors (and itself) to the min. The edge set converges to
    one star per component whose center is the component minimum —
    O(log n) rounds regardless of diameter.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint()
    )
    prev = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # ---- large star ----
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
               .dropDuplicates(["u", "v"])
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")) \
                  .select("u", F.least("u", "mn").alias("m"))
        lg = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )
        # ---- small star ----
        o = lg.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")) \
              .filter(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])
        mins2 = o.groupBy("u").agg(F.min("v").alias("mn"))
        sm = (
            o.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("mn").alias("b"))
            .unionByName(mins2.select(F.col("u").alias("a"), F.col("mn").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .localCheckpoint()
        )
        if prev is not None:
            changed = not sm.exceptAll(prev).unionByName(prev.exceptAll(sm)).isEmpty()
            if not changed:
                converged = True
                break
        prev = e = sm
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    out = (
        e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("vertex"), F.col("v").alias("component")))
        .dropDuplicates(["vertex", "component"])
    )
    if not converged:
        # max_iter exhausted before the star graph stabilized: the edge set
        # may not be a star yet, i.e. a vertex can carry several labels and
        # components stay under-merged. Collapse to one deterministic label
        # per vertex (min) so the output CONTRACT (one row per vertex)
        # holds, and record the condition instead of failing silently
        # (ADVICE r03). At O(log n) rounds, max_iter=50 covers any real
        # graph — hitting this means the caller set max_iter far too low.
        out = out.groupBy("vertex").agg(F.min("component").alias("component"))
    return out


_NORM_KEY_SQL = "regexp_replace(lower(name), '[^a-z0-9]', '')"


def coreference_edges(
    registry: DataFrame,
    linked: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
) -> DataFrame:
    """Build the coreference graph over the ENTITY DIMENSION (small —
    vocabulary-scale, never the 10^12-row fact table).

    Three deterministic signal sources:
    1. alias dictionary (alias -> canonical), the ImportMap analogue;
    2. normalized-surface-form blocking: names identical after
       lower + strip non-alphanumerics ("Entity_63" ~ "Entity-63") —
       a deterministic blocking key, the exact-clustering complement of
       MinHash-LSH (which operators/dedup.py provides for the scale path);
    3. fuzzy matches from stage-3 linking (n-gram Jaccard top-1).
    """
    from pyspark.sql import Window

    names = registry.select("name")
    if linked is not None:
        names = names.unionByName(linked.select("name"))
    names = names.dropDuplicates(["name"])

    # star edges within each normalized-key block: name -> min(name)
    normed = names.withColumn("nkey", F.expr(_NORM_KEY_SQL))
    w = Window.partitionBy("nkey")
    norm_edges = (
        normed.withColumn("rep", F.min("name").over(w))
        .filter(F.col("name") != F.col("rep"))
        .select(F.col("name").alias("src"), F.col("rep").alias("dst"))
    )

    parts = [norm_edges]
    if alias_dict is not None:
        parts.append(alias_dict.select(F.col("alias").alias("src"),
                                       F.col("canonical_name").alias("dst")))
    if linked is not None:
        parts.append(
            linked.filter(F.col("stage") == "fuzzy")
            .select(F.col("name").alias("src"), F.col("canonical_name").alias("dst"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def canonical_entities(
    registry: DataFrame,
    linked: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
    broadcast_max_bytes: int = hints.BROADCAST_MAX_BYTES,
) -> DataFrame:
    """(name, canonical) for every known surface form; canonical = min name
    of the coreference component (deterministic total-order representative,
    replacing the reference's array-order pick, call-processor.ts:228,259).

    The driver path's component map is a driver-built frame with no
    statistics, so Catalyst would sort-merge-join it and shuffle both
    sides; it is broadcast instead when the vertex count the driver
    holds fits ``broadcast_max_bytes`` (plans.hints). The distributed
    path's map stays unhinted.
    """
    edges = coreference_edges(registry, linked, alias_dict)
    stats: dict = {}
    comp = connected_components(edges, stats=stats)
    comp = hints.broadcast_if_small(
        comp, stats.get("vertices", -1) * hints.EST_ROW_BYTES,
        broadcast_max_bytes)
    all_names = registry.select("name")
    if linked is not None:
        all_names = all_names.unionByName(linked.select("name"))
    all_names = all_names.dropDuplicates(["name"])
    return (
        all_names.join(comp.withColumnRenamed("vertex", "name"), "name", "left")
        .select("name", F.coalesce("component", "name").alias("canonical"))
    )
