"""Strongly connected components of a directed graph (node values must
be orderable — urls, ids): (v, scc_id) with scc_id = the MINIMUM member
of v's SCC, so ids are deterministic and engine-independent.

Hybrid, mirroring operators/components.py (driver union-find under
500k edges / distributed large-small-star above):

1. Bounded degree-peeling disposes of the acyclic fringe (a node with
   no remaining in- or out-edges is its own singleton SCC) with cheap
   distributed degree aggregations.
2. If the surviving cyclic core fits the driver gate
   (DRIVER_SCC_MAX_EDGES), one collect + iterative Tarjan finishes in
   O(V+E) — on real graphs the cyclic core after trimming is orders of
   magnitude smaller than the input (the web's SCC structure is one
   giant core plus tiny cycles), and a 500k-edge collect is megabytes.
3. Otherwise: FW-BW min-label coloring. Each outer round computes

       fwd(v) = min node value over {v} + all nodes that can REACH v
       bwd(v) = min node value over {v} + all nodes v can reach

   A node with fwd(v) == bwd(v) == p has p as both ancestor and
   descendant, i.e. p = min(SCC(v)) — the equality test assigns
   COMPLETE SCCs, never fragments. Assigned nodes and their edges drop
   out and the round repeats; the global-min node's SCC always passes,
   so every round makes progress.

The distributed propagation is PLAIN edge relaxation: one edge join +
partial-agg min + localCheckpoint per iteration — flat per-iteration
cost, O(reach-diameter) iterations, max_iters a hard error (never a
silent wrong answer). An earlier revision added a pointer-jumping term
(lbl(v) <- lbl(lbl(v)), a label self-join) to collapse long cycles to
O(log) rounds; measured on Spark 4.1 it triggers a DRIVER-side
geometric stall (~2.7x wall per iteration from ~iter 19, independent
of checkpoint flavor — local/reliable/lazy/eager — AQE on/off, and
unpersist discipline, with the per-iteration jobs themselves staying
at 1-2 tasks; the JVM stops answering jstack attach during the stall).
Plain relaxation shows flat walls over the same input. High-diameter
giants past the driver gate are therefore diameter-bound here; the
remedy at that scale is recursive FW-BW partitioning, not the jump.

100 TB posture: peel + relaxation work is O(|E|) per iteration with a
single shuffle; frontier state is two columns per node; the driver
gate bounds collect() by construction. Reference analogue: none
(GitNexus has no SCC); this extends the traversal family of
operators/components.py.
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: cyclic-core size under which one driver Tarjan pass replaces the
#: iterative coloring (same discipline as components.DRIVER_CC_MAX_EDGES)
DRIVER_SCC_MAX_EDGES = 500_000


def _min_reach(init: DataFrame, edges: DataFrame,
               max_iters: int) -> DataFrame:
    """Fixpoint of lbl(v) = min({v} + labels of in-neighbors).
    init: (v, lbl); edges: (s, t). Plain relaxation — see module
    docstring for why there is deliberately no pointer-jumping term."""
    lbl = init.localCheckpoint()
    for _ in range(max_iters):
        edge_min = (edges.join(
            lbl.select(F.col("v").alias("s"), F.col("lbl").alias("_l")), "s")
            .groupBy(F.col("t").alias("v"))
            .agg(F.min("_l").alias("_edge_min")))
        cur = (lbl.join(edge_min, "v", "left")
               .select("v", "lbl",
                       F.least("lbl", "_edge_min").alias("_new")))
        # lazy checkpoint + count in ONE job: the convergence count is
        # the action that materializes the checkpoint — per-job driver
        # latency IS the wall time of this loop
        cur = cur.localCheckpoint(eager=False)
        changed = cur.filter(F.col("_new") != F.col("lbl")).count()
        lbl = cur.select("v", F.col("_new").alias("lbl"))
        if changed == 0:
            return lbl
    raise RuntimeError(
        f"min-label propagation did not converge in {max_iters} iterations")


def _driver_tarjan(e: DataFrame, remaining: DataFrame) -> DataFrame:
    """Iterative Tarjan over the collected cyclic core -> (v, scc_id).
    Bounded: callers gate on the edge count before collecting. Node
    values are compared with Python ordering, which matches Spark's
    binary string ordering for the ASCII ids/urls this engine emits."""
    edges_local = [(r[0], r[1]) for r in e.collect()]
    nodes_local = [r[0] for r in remaining.collect()]
    adj: dict = {v: [] for v in nodes_local}
    for s, t in edges_local:
        if s in adj:
            adj[s].append(t)

    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp_of: dict = {}
    counter = 0
    for root in nodes_local:
        if root in index:
            continue
        # explicit work stack: (node, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            advanced = False
            succs = adj.get(v, ())
            while pi < len(succs):
                w = succs[pi]
                pi += 1
                if w not in adj:
                    continue        # endpoint outside the core
                if w not in index:
                    work[-1] = (v, pi)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                cid = min(comp)
                for w in comp:
                    comp_of[w] = cid
            if work:
                pv, _ = work[-1]
                low[pv] = min(low[pv], low[v])

    spark = remaining.sparkSession
    out_schema = remaining.schema.add("scc_id", remaining.schema[0].dataType)
    return spark.createDataFrame(
        [(v, comp_of[v]) for v in nodes_local], out_schema)


def strongly_connected_components(edges: DataFrame, src: str = "src",
                                  dst: str = "dst",
                                  nodes: DataFrame | None = None,
                                  max_outer: int = 20,
                                  max_iters: int = 256,
                                  driver_threshold: int =
                                  DRIVER_SCC_MAX_EDGES) -> DataFrame:
    """-> (v, scc_id). ``nodes`` (single column, any name) optionally
    widens the universe beyond edge endpoints — isolated nodes become
    their own singleton SCCs. ``driver_threshold`` gates the collected
    Tarjan pass on the trimmed cyclic core; pass 0 to force the
    distributed coloring path (tests)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")) \
        .where(F.col("s") != F.col("t")).distinct() \
        .localCheckpoint(eager=False)  # first action materializes
    universe = e.select(F.col("s").alias("v")) \
        .union(e.select(F.col("t").alias("v")))
    if nodes is not None:
        universe = universe.union(
            nodes.select(F.col(nodes.columns[0]).alias("v")))
    remaining = universe.distinct().localCheckpoint(eager=False)
    result: DataFrame | None = None
    for _ in range(max_outer):
        if remaining.isEmpty():
            break
        # driver gate FIRST: when the (remaining) graph already fits the
        # collected-Tarjan budget, peeling is pure driver-latency waste —
        # each peel pass costs ~6 small jobs and Tarjan handles the
        # acyclic fringe in the same O(V+E) pass anyway. Peeling only
        # earns its keep ABOVE the gate, where it shrinks the cyclic
        # core the distributed coloring must process.
        if e.count() <= driver_threshold:
            assigned = _driver_tarjan(e, remaining).localCheckpoint()
            result = assigned if result is None \
                else result.unionByName(assigned)
            # Tarjan assigns EVERY remaining vertex, so the remainder is
            # empty by construction — no anti-join/count jobs needed
            remaining = remaining.sparkSession.createDataFrame(
                [], remaining.schema)
            break
        # trim: a node with no remaining in-edges or no remaining
        # out-edges cannot be on a cycle — it is its own SCC. A few
        # bounded peel passes per round dispose of the acyclic fringe
        # with degree aggs instead of coloring rounds (bounded, not to
        # fixpoint: peeling a long chain to fixpoint would itself be
        # O(n) driver rounds — max_outer stays the global bound).
        for _peel in range(3):
            has_out = e.select(F.col("s").alias("v")).distinct()
            has_in = e.select(F.col("t").alias("v")).distinct()
            cyclic = has_out.join(has_in, "v", "left_semi")
            # lazy checkpoint: the emptiness count doubles as the
            # materializing action (one job, not checkpoint + isEmpty)
            trimmed = remaining.join(cyclic, "v", "left_anti") \
                .withColumn("scc_id", F.col("v")) \
                .localCheckpoint(eager=False)
            if trimmed.count() == 0:
                break
            result = trimmed if result is None \
                else result.unionByName(trimmed)
            remaining = remaining.join(trimmed, "v", "left_anti") \
                .localCheckpoint(eager=False)
            e = (e.join(trimmed.select(F.col("v").alias("s")), "s",
                        "left_anti")
                 .join(trimmed.select(F.col("v").alias("t")), "t",
                       "left_anti").localCheckpoint(eager=False))
        if remaining.isEmpty():
            break
        if e.count() <= driver_threshold:
            assigned = _driver_tarjan(e, remaining).localCheckpoint()
            result = assigned if result is None \
                else result.unionByName(assigned)
            remaining = remaining.join(assigned, "v", "left_anti") \
                .localCheckpoint(eager=False)
            remaining.count()
            break
        init = remaining.withColumn("lbl", F.col("v"))
        # fwd and bwd colorings are independent — run them from two
        # driver threads so their per-iteration jobs interleave (the
        # iterative loop is driver-latency-bound, not core-bound; the
        # same reason the pipeline overlaps its pass-3/4 commits)
        # (each thread keeps the caller's job group and local properties:
        # inheritable_thread_target, one copy per submit)
        from concurrent.futures import ThreadPoolExecutor

        def reach(edges: DataFrame):
            return pool.submit(
                inheritable_thread_target(init.sparkSession)(_min_reach),
                init, edges, max_iters)
        with ThreadPoolExecutor(2) as pool:
            f_fwd = reach(e)
            f_bwd = reach(e.select(F.col("t").alias("s"),
                                   F.col("s").alias("t")))
            fwd, bwd = f_fwd.result(), f_bwd.result()
        assigned = (fwd.join(bwd.withColumnRenamed("lbl", "_b"), "v")
                    .filter(F.col("lbl") == F.col("_b"))
                    .select("v", F.col("lbl").alias("scc_id"))
                    .localCheckpoint())
        result = assigned if result is None \
            else result.unionByName(assigned)
        remaining = remaining.join(assigned, "v", "left_anti") \
            .localCheckpoint()
        e = (e.join(assigned.select(F.col("v").alias("s")), "s", "left_anti")
             .join(assigned.select(F.col("v").alias("t")), "t", "left_anti")
             .localCheckpoint())
    if not remaining.isEmpty():
        raise RuntimeError(
            f"SCC coloring did not converge in {max_outer} outer rounds")
    if result is None:
        return remaining.withColumn("scc_id", F.col("v"))
    return result
