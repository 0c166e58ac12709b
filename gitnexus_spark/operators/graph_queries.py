"""Graph read path: the query surface of the reference re-expressed as
DataFrame ops over the two-table graph model (nodes, edges).

Reference: GraphQueryEngine regex-Cypher (src/ai/query-engine.ts:46-132,
152-402) and adjacency-indexed traversal (src/core/graph/query.ts:30-197).
The regex parser + per-class executors collapse into Spark SQL over two
temp views; the only constructs needing explicit iteration are k-hop /
variable-length paths (Catalyst has no recursion) — one bounded driver
loop over joins (``_levels``, also behind the Cypher front-end), caps
carried over from query-optimization.ts:412-422.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

MAX_VARLEN_HOPS = 5      # ref query-optimization.ts:412-422 rewrites *1..N>5 -> 5
DEFAULT_NODE_CAP = 500   # ref query.ts:102 BFS node cap


def register_views(nodes: DataFrame, edges: DataFrame) -> None:
    """Expose the graph to Spark SQL — the replacement for the reference's
    whole Cypher layer (entry point C, SURVEY §3.3)."""
    nodes.createOrReplaceTempView("nodes")
    edges.createOrReplaceTempView("edges")


def lookup_edges(spark, out_dir: str, src: str | None = None,
                 dst: str | None = None) -> DataFrame:
    """Endpoint edge lookup over a pipeline warehouse, on the current
    snapshot. Reads the z-ordered layout (``edges_zorder``, written by
    KGPipeline(optimize_layout=True) and rewritten by every refresh)
    when present — its files hold Morton rectangles of (src, dst), so a
    filter on EITHER endpoint (or both) prunes by native parquet string
    min/max stats; else the type-partitioned ``edges`` table, where an
    endpoint filter touches every file."""
    import os

    from ..sources.snapshots import SnapshotWriter
    w = SnapshotWriter(spark)
    zp = os.path.join(out_dir, "edges_zorder")
    df = w.read(zp if w.exists(zp) else os.path.join(out_dir, "edges"))
    if src is not None:
        df = df.filter(F.col("src") == src)
    if dst is not None:
        df = df.filter(F.col("dst") == dst)
    return df


AUTO_LIMIT = 1000
_LIMIT_RE = re.compile(r"\blimit\s+\d+", re.IGNORECASE)


def guarded_sql(spark, sql: str, auto_limit: int = AUTO_LIMIT) -> DataFrame:
    """O5 auto-LIMIT guardrail (reference query-optimization.ts:412-422
    appends LIMIT to unbounded queries): statements with no LIMIT anywhere
    get `LIMIT auto_limit` appended, bounding accidental full-result
    materialization at the SQL entry point. Conservative: any LIMIT in
    the text (even in a subquery) disables the rewrite."""
    s = sql.strip().rstrip(";")
    if not _LIMIT_RE.search(s):
        s = f"{s} LIMIT {auto_limit}"
    return spark.sql(s)


def write_adjacency_bucketed(edges: DataFrame, table: str,
                             buckets: int = 64, key: str = "src") -> None:
    """Q3 adjacency indexing at rest: persist the edge table bucketed AND
    sorted by the traversal key (plus type partitioning upstream).
    Frontier joins and degree scans against a bucketed table co-locate on
    bucket id — Catalyst elides the exchange on the bucketed side; at
    10^12 edges that is the difference between one scan and a full
    shuffle. The reference keeps TWO in-memory adjacency maps (out and
    in, query.ts:30-60); the at-rest analogue is two bucketed tables,
    key='src' for outbound and key='dst' for inbound traversal."""
    if key not in ("src", "dst"):
        raise ValueError(f"bucket key must be src or dst, got {key!r}")
    spark = edges.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a managed-table DIRECTORY can outlive its metastore entry (fresh
    # session, same warehouse dir) — saveAsTable would then fail with
    # LOCATION_ALREADY_EXISTS, so clear the stale location first
    import os
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    loc = os.path.join(wh, table.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc, ignore_errors=True)
    edges.write.bucketBy(buckets, key).sortBy(key) \
        .mode("overwrite").format("parquet").saveAsTable(table)


def _adjacency(edges: DataFrame, rel_types: list[str] | None = None,
               direction: str = "out", *keep: str) -> DataFrame:
    """Edges oriented for traversal: (_from, _to, *keep), filtered to
    rel_types. direction 'out' follows src->dst, 'in' dst->src, 'both'
    either way. Multiplicity is kept (a Cypher single hop returns one row
    per relationship); the traversal kernel dedups what it walks."""
    e = edges.filter(F.col("type").isin(rel_types)) if rel_types else edges
    fwd = e.select(F.col("src").alias("_from"), F.col("dst").alias("_to"), *keep)
    back = e.select(F.col("dst").alias("_from"), F.col("src").alias("_to"), *keep)
    return {"out": fwd, "in": back, "both": fwd.unionByName(back)}[direction]


def _union(frames: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def _levels(adj: DataFrame, seeds: DataFrame, max_hops: int, *,
            paths: bool = False, end: DataFrame | None = None,
            node_cap: int | None = None) -> list[DataFrame]:
    """The traversal kernel: bounded level-synchronous BFS (Catalyst has
    no recursion), one frontier join per level over ``adj`` (an
    ``_adjacency`` frame, deduplicated here).

    seeds: (_from, _to) — the source a row is expanded for, and its start
    node. Returns ``max_hops + 1`` frames, hop h at index h, each with
    (_from, _to, _hops) where _to is the node reached:

    - distance mode (default): one row per (source, node) at its minimum
      hop count, deduped against every earlier level, so a level holds at
      most |sources|·|V| rows. ``node_cap`` keeps the first node_cap rows
      of each level by (_from, _to) — deterministic, unlike a bare limit.
    - path mode (``paths=True``): one row per node-distinct path, carried
      as ``_path``; a path never re-enters a node it holds.
      ``end`` (column ``id``) marks rows reaching it with ``_hit`` and
      stops at the first level that has one.

    Each level is localCheckpoint'ed (cuts the lineage) and its row count
    observed on that same job, so no level costs a separate emptiness
    probe; an empty level stops the loop, and the levels past it are
    empty frames of the level schema. Path-mode level 0 with no ``end``
    (read by level 1 only) stays lazy. The last level is materialized
    too: left lazy, its join made Catalyst inject runtime bloom-filter
    subqueries into the caller's joins, which cost more jobs than one
    checkpoint."""
    step = adj.select(F.col("_from").alias("_head"),
                      F.col("_to").alias("_next")).dropDuplicates().persist()
    lvl = seeds.dropDuplicates().withColumn("_hops", F.lit(0))
    if paths:
        lvl = lvl.withColumn("_path", F.array("_to"))
    if end is not None:
        marks = F.broadcast(end.select(F.col("id").alias("_to"),
                                       F.lit(True).alias("_hit"))
                            .dropDuplicates(["_to"]))
    levels: list[DataFrame] = []
    try:
        for hop in range(max_hops + 1):
            if hop:
                nxt = lvl.join(step, lvl["_to"] == step["_head"])
                if paths:
                    lvl = nxt.filter(~F.array_contains("_path", F.col("_next"))) \
                        .select("_from", F.col("_next").alias("_to"),
                                F.lit(hop).alias("_hops"),
                                F.concat("_path", F.array("_next")).alias("_path"))
                else:
                    seen = _union([v.select("_from", "_to") for v in levels])
                    lvl = nxt.select("_from", F.col("_next").alias("_to")) \
                        .dropDuplicates().join(seen, ["_from", "_to"], "left_anti")
                    if node_cap is not None:
                        lvl = lvl.orderBy("_from", "_to").limit(node_cap)
                    lvl = lvl.withColumn("_hops", F.lit(hop))
            if end is not None:
                lvl = lvl.join(marks, "_to", "left")
            # level 0 in path mode with no end set is read only by level 1
            if hop == 0 and paths and end is None:
                levels.append(lvl)
                continue
            obs = Observation()
            metrics = [F.count(F.lit(1)).alias("rows")]
            if end is not None:
                metrics.append(F.count("_hit").alias("hits"))
            lvl = lvl.observe(obs, *metrics).localCheckpoint()
            levels.append(lvl)
            if obs.get["rows"] == 0 or obs.get.get("hits"):
                break
    finally:
        step.unpersist()
    empty = levels[-1].filter(F.lit(False))
    return levels + [empty] * (max_hops + 1 - len(levels))


def k_hop(edges: DataFrame, start_ids: DataFrame, k: int,
          direction: str = "out", rel_types: list[str] | None = None,
          node_cap: int = DEFAULT_NODE_CAP) -> DataFrame:
    """k-hop neighborhood (Q4, query.ts:97-152): iterative frontier joins.

    start_ids: DataFrame with column `id`. Returns (id, hop) with the
    minimum hop distance (<= k). Each hop is one join; AQE handles the
    shrinking frontier. node_cap mirrors the reference's traversal cap.
    """
    return _k_hop(_adjacency(edges, rel_types, direction), start_ids, k,
                  node_cap)


def k_hop_bucketed(spark, table: str, start_ids: DataFrame, k: int,
                   direction: str = "out",
                   rel_types: list[str] | None = None,
                   node_cap: int = DEFAULT_NODE_CAP) -> DataFrame:
    """Q4 over the AT-REST adjacency index (write_adjacency_bucketed):
    the edge table arrives pre-partitioned (bucketed+sorted) by the
    traversal key, so every frontier join exchanges ONLY the tiny
    frontier side — Catalyst reads the bucketed side's output
    partitioning and elides its shuffle (asserted by
    tests/test_graph_queries.py::test_bucketed_k_hop_plan). At 10^12
    edges this is the difference between shuffling the edge set once per
    hop and never.

    direction='out' expects a table bucketed by src, direction='in' one
    bucketed by dst (the reference keeps two adjacency maps,
    query.ts:30-60; at rest that is two bucketed tables). A mismatched
    pairing is still CORRECT — the bucketed side merely regains an
    exchange."""
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be out or in, got {direction!r}")
    return _k_hop(_adjacency(spark.table(table), rel_types, direction),
                  start_ids, k, node_cap)


def _k_hop(adj: DataFrame, start_ids: DataFrame, k: int,
           node_cap: int) -> DataFrame:
    # one shared source: a node's hop is its distance from ANY start
    seeds = start_ids.select(F.lit(0).alias("_from"), F.col("id").alias("_to"))
    return _union(_levels(adj, seeds, k, node_cap=node_cap)) \
        .select(F.col("_to").alias("id"), F.col("_hops").alias("hop"))


def paths_between(edges: DataFrame, start_ids: DataFrame, end_ids: DataFrame,
                  max_depth: int = 6, max_paths: int = 3,
                  rel_types: list[str] | None = None) -> DataFrame:
    """Paths between two node sets (Q5, reference query.ts:154-197
    ``pathsBetween``, maxDepth 6 / maxPaths 3).

    The reference runs sequential BFS with a GLOBAL visited set, so which
    path it returns depends on adjacency-array insertion order —
    nondeterministic under its own parallelism. The Spark contract is the
    deterministic closure of that: ALL cycle-free shortest paths from
    start to end (hops == minimum), ordered by path, capped at max_paths.

    Path-mode traversal that stops at the first level reaching an end
    node (never enumerates deeper); the end-set probe is a broadcast join
    observed on the level's own checkpoint job.
    Scale note: the enumerated paths are every node-distinct path up to
    the hit level, so the reference's max_depth=6 bounds a product that
    grows as degree^hops on a hub graph; distance mode (k_hop, Cypher
    shortestPath) is the form whose frontier stays bounded by |V|.

    Returns (path: array<id>, hops).
    """
    seeds = start_ids.select(F.col("id").alias("_from"), F.col("id").alias("_to"))
    levels = _levels(_adjacency(edges, rel_types), seeds, max_depth,
                     paths=True, end=end_ids)
    return (
        _union(levels).filter(F.col("_hit"))
        .orderBy(F.col("_path").cast("string"))
        .limit(max_paths)
        .select(F.col("_path").alias("path"), F.col("_hops").alias("hops"))
    )


def var_length_paths(edges: DataFrame, start_ids: DataFrame, rel_type: str,
                     min_hops: int = 1, max_hops: int = 3,
                     max_paths: int = 10) -> DataFrame:
    """Variable-length paths (Q6, query-engine.ts:254-323): node-distinct
    paths of min_hops..max_hops edges accumulated as an id array; capped
    like the reference (<= max_paths per start node). A hop range past
    MAX_VARLEN_HOPS raises, as the Cypher front-end does."""
    if not 1 <= min_hops <= max_hops <= MAX_VARLEN_HOPS:
        raise ValueError(
            f"hop range {min_hops}..{max_hops} outside "
            f"1..MAX_VARLEN_HOPS={MAX_VARLEN_HOPS}")
    seeds = start_ids.select(F.col("id").alias("_from"), F.col("id").alias("_to"))
    levels = _levels(_adjacency(edges, [rel_type]), seeds, max_hops,
                     paths=True)
    # cap paths per start node deterministically (path array as tiebreak)
    w = Window.partitionBy("_from").orderBy("_hops", F.col("_path").cast("string"))
    return (
        _union(levels[min_hops:]).withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_paths)
        .select(F.col("_from").alias("start_id"), F.col("_path").alias("path"),
                F.col("_hops").alias("hops"))
    )


def search_nodes(nodes: DataFrame, needle: str) -> DataFrame:
    """Full-text node search (Q9, query-engine.ts:448-463)."""
    hay = F.lower(F.concat_ws(" ", F.coalesce("name", F.lit("")),
                              F.coalesce("url", F.lit(""))))
    return nodes.filter(hay.contains(needle.lower()))


def node_degree(edges: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree) — adjacency stats (Q10/A1 family)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))
    return out_d.join(in_d, "id", "full").select(
        "id",
        F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
    )


def top_entities_by_mentions(nodes: DataFrame, edges: DataFrame, k: int = 10) -> DataFrame:
    """Benchmark-query analogue: group-count + ORDER BY DESC LIMIT k
    (kuzu-performance-benchmark.ts:62-63)."""
    men = edges.filter(F.col("type") == "MENTIONS")
    ent = nodes.filter(F.col("label") == "Entity") \
        .select(F.col("id").alias("dst"), "name")
    return (
        men.join(ent, "dst")
        .groupBy("dst", "name").agg(F.count("*").alias("n_mentions"))
        .orderBy(F.desc("n_mentions"), F.asc("name"))
        .limit(k)
    )


def count_triangles(edges: DataFrame,
                    rel_types: list[str] | None = None) -> DataFrame:
    """Global triangle count over the undirected simple graph induced by
    the edge table — 1-row DataFrame (n_triangles).

    Graph-structure analytics over the same two-table model as
    node_degree / pagerank (the reference's degree surface,
    query-engine.ts:448-478, iterated one step further).

    Scale shape — compact-forward with DEGREE ORIENTATION: every
    undirected edge is oriented from the endpoint with the smaller
    (degree, id) key to the larger, so each triangle is counted exactly
    once from its lowest-degree apex and per-vertex out-degree is
    O(sqrt(m)) on any graph. The wedge join (the quadratic step) then
    generates sum(outdeg^2) ~ m^1.5 candidates worst-case instead of
    sum(deg^2), which on a power-law web graph is the difference between
    a feasible shuffle and a hub explosion. Three shuffles total: degree
    agg, wedge self-join, closing-edge semi-join.
    """
    e = edges
    if rel_types:
        e = e.filter(F.col("type").isin(rel_types))
    und = (
        e.select(F.least("src", "dst").alias("u"),
                 F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    # orientation key: (deg, id) — total order, ties broken by id
    du = deg.select(F.col("id").alias("u"),
                    F.struct(F.col("deg"), F.col("id")).alias("ku"))
    dv = deg.select(F.col("id").alias("v"),
                    F.struct(F.col("deg"), F.col("id")).alias("kv"))
    keyed = und.join(du, "u").join(dv, "v")
    oriented = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("khi"),
    ).persist()
    a = oriented.select(F.col("lo"), F.col("hi").alias("x"), F.col("khi").alias("kx"))
    b = oriented.select(F.col("lo"), F.col("hi").alias("y"), F.col("khi").alias("ky"))
    wedges = a.join(b, "lo").filter(F.col("kx") < F.col("ky")) \
        .select(F.col("x").alias("lo"), F.col("y").alias("hi"))
    closed = wedges.join(oriented.select("lo", "hi"), ["lo", "hi"], "inner")
    out = closed.agg(F.count("*").alias("n_triangles"))
    n = out.collect()[0][0]
    oriented.unpersist()
    spark = edges.sparkSession
    return spark.createDataFrame([(n,)], "n_triangles bigint")


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 3,
             damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over the (nodes, edges) two-table graph.

    Centrality analytics on the constructed KG / page-link graph — the
    natural extension of the reference's degree surface (node_degree /
    top-entities, query-engine.ts:448-478): same graph model, iterated.
    Dangling mass (nodes with no out-edges) is redistributed uniformly,
    so total rank mass stays 1 at every iteration.

    Scale shape: each iteration is ONE edge-scale shuffle — edges join
    the node-scale rank table on src (both hash-partitioned on the join
    key), then a partial-aggregated groupBy(dst).  The node count and
    the dangling mass enter the plan as broadcast 1-row aggregates.
    `iters` is a fixed small constant (rank deltas decay geometrically
    by `damping`), so the driver loop is bounded plan construction.
    Each iteration's rank table is persisted and materialized by one
    node-scale count action, which lets the PREVIOUS iteration's cache
    blocks be released immediately — without eager materialization the
    3-fold per-iteration fan-in (withdeg/dangling/contribs) recomputes
    exponentially, and without the release repeated calls pin executor
    storage for the session lifetime. The returned frame stays
    persisted; the caller may unpersist it when done.

    nodes: DataFrame with column `id` (must cover all edge endpoints;
    isolated nodes get the (1-d)/n floor plus dangling share).
    edges:  DataFrame with columns `src`, `dst`; parallel edges count
    double, matching the contribution semantics of a multigraph.
    Returns (id, rank) with SUM(rank) == 1.
    """
    ids = nodes.select("id")
    e = edges.select("src", "dst")
    nf = ids.agg(F.count("*").alias("n"))
    outdeg = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg"))
    deg = ids.join(outdeg, "id", "left").select(
        "id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
    deg = deg.persist()
    ranks = ids.crossJoin(F.broadcast(nf)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("rank"))
    base = F.lit(1.0 - damping)
    prev = None
    for _ in range(iters):
        withdeg = ranks.join(deg, "id")
        dang = withdeg.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        contribs = (
            e.join(
                withdeg.filter(F.col("out_deg") > 0).select(
                    F.col("id").alias("src"),
                    (F.col("rank") / F.col("out_deg")).alias("w")),
                "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("contrib"))
        )
        ranks = (
            ids.join(contribs, "id", "left")
            .crossJoin(F.broadcast(nf))
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (base / F.col("n")
                 + F.lit(damping) * (F.coalesce("contrib", F.lit(0.0))
                                     + F.col("dangling") / F.col("n"))
                 ).alias("rank"))
            .persist()
        )
        ranks.count()          # materialize, then free the previous round
        if prev is not None:
            prev.unpersist()
        prev = ranks
    deg.unpersist()
    return ranks
