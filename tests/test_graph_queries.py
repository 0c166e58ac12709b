"""Graph read path: pattern join, k-hop, var-length paths, search, top-k."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [("n1", "Page", "p1", "u1"), ("n2", "Page", "p2", "u2"),
         ("n3", "Entity", "Acme", None), ("n4", "Entity", "Zorg", None),
         ("n5", "Page", "p5", "u5")],
        "id string, label string, name string, url string")
    edges = spark.createDataFrame(
        [("e1", "LINKS_TO", "n1", "n2"), ("e2", "LINKS_TO", "n2", "n5"),
         ("e3", "MENTIONS", "n1", "n3"), ("e4", "MENTIONS", "n2", "n3"),
         ("e5", "MENTIONS", "n5", "n4")],
        "id string, type string, src string, dst string")
    return nodes, edges


def test_match_pattern(graph):
    from gitnexus_spark.cypher import cypher_query

    nodes, edges = graph
    got = cypher_query(nodes, edges,
                       "MATCH (a:Page)-[:MENTIONS]->(b:Entity) "
                       "RETURN a.name AS src_name, b.name AS dst_name",
                       auto_limit=None).collect()
    assert {(r["src_name"], r["dst_name"]) for r in got} == \
        {("p1", "Acme"), ("p2", "Acme"), ("p5", "Zorg")}


def test_k_hop_out(spark, graph):
    from gitnexus_spark.operators.graph_queries import k_hop

    _, edges = graph
    start = spark.createDataFrame([("n1",)], ["id"])
    got = {r["id"]: r["hop"] for r in
           k_hop(edges, start, 2, rel_types=["LINKS_TO"]).collect()}
    assert got == {"n1": 0, "n2": 1, "n5": 2}


def test_k_hop_both_directions(spark, graph):
    from gitnexus_spark.operators.graph_queries import k_hop

    _, edges = graph
    start = spark.createDataFrame([("n3",)], ["id"])
    got = {r["id"]: r["hop"] for r in
           k_hop(edges, start, 1, direction="both").collect()}
    assert got == {"n3": 0, "n1": 1, "n2": 1}


def test_var_length_paths(spark, graph):
    from gitnexus_spark.operators.graph_queries import var_length_paths

    _, edges = graph
    start = spark.createDataFrame([("n1",)], ["id"])
    got = var_length_paths(edges, start, "LINKS_TO", 1, 3).collect()
    paths = {tuple(r["path"]) for r in got}
    assert paths == {("n1", "n2"), ("n1", "n2", "n5")}


def test_var_length_paths_rejects_hops_over_clamp(spark, graph):
    """One clamp, one policy: a hop range past MAX_VARLEN_HOPS raises, as
    the Cypher front-end does, instead of silently dropping paths."""
    from gitnexus_spark.operators.graph_queries import var_length_paths

    _, edges = graph
    start = spark.createDataFrame([("n1",)], ["id"])
    with pytest.raises(ValueError):
        var_length_paths(edges, start, "LINKS_TO", 1, 6)


def test_k_hop_honours_k(spark):
    """k bounds the hop count, with no hidden clamp below it."""
    from gitnexus_spark.operators.graph_queries import k_hop

    edges = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(12)], "src string, dst string")
    start = spark.createDataFrame([("c0",)], ["id"])
    got = {r["id"]: r["hop"] for r in k_hop(edges, start, 12).collect()}
    assert got == {f"c{i}": i for i in range(13)}


def _py_adj(edges):
    adj = {}
    for s, d in set(edges):
        adj.setdefault(s, set()).add(d)
    return adj


def _py_dist(adj, s):
    dist, frontier, hop = {s: 0}, {s}, 0
    while frontier:
        hop += 1
        frontier = {v for u in frontier for v in adj.get(u, ())} - set(dist)
        dist.update(dict.fromkeys(frontier, hop))
    return dist


def _py_paths(adj, s, max_len):
    out, stack = [], [(s,)]
    while stack:
        p = stack.pop()
        if len(p) > 1:
            out.append(p)
        if len(p) <= max_len:
            stack.extend(p + (v,) for v in adj.get(p[-1], ()) if v not in p)
    return out


def test_traversal_modes_agree(spark):
    """Distance mode (Cypher shortestPath, k_hop) and path mode (Cypher
    *m..n, var_length_paths, paths_between) against pure-Python BFS/DFS
    on a graph with a cycle, a self-loop, parallel edges and a diamond."""
    from collections import Counter

    from gitnexus_spark.cypher import cypher_query
    from gitnexus_spark.operators.graph_queries import (
        k_hop, paths_between, var_length_paths)

    links = [("a", "b"), ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
             ("d", "a"), ("d", "e"), ("e", "e"), ("e", "f"), ("f", "d")]
    ids = sorted({n for e in links for n in e})
    nodes = spark.createDataFrame([(n, "Page", n, None) for n in ids],
                                  "id string, label string, name string, url string")
    edges = spark.createDataFrame(
        [(s, d, "LINKS_TO") for s, d in links] + [("a", "f", "MENTIONS")],
        "src string, dst string, type string")
    adj = _py_adj(links)
    dist = {s: _py_dist(adj, s) for s in ids}

    def q(text):
        return cypher_query(nodes, edges, text, auto_limit=None).collect()

    short = sorted(tuple(r) for r in q(
        "MATCH p = shortestPath((x:Page)-[:LINKS_TO*1..5]->(y:Page)) "
        "RETURN x.id AS s, y.id AS t, length(p) AS hops"))
    assert short == sorted((s, t, h) for s in ids for t, h in dist[s].items()
                           if t != s)
    for s in ids:
        start = spark.createDataFrame([(s,)], ["id"])
        hops = sorted(tuple(r) for r in
                      k_hop(edges, start, 5, rel_types=["LINKS_TO"]).collect())
        assert hops == sorted(dist[s].items())

    want = Counter((p[0], p[-1]) for s in ids for p in _py_paths(adj, s, 3))
    varlen = {(r["s"], r["t"]): r["n"] for r in q(
        "MATCH (x:Page)-[:LINKS_TO*1..3]->(y:Page) "
        "RETURN x.id AS s, y.id AS t, COUNT(*) AS n")}
    assert varlen == want
    starts = spark.createDataFrame([(s,) for s in ids], ["id"])
    vl = var_length_paths(edges, starts, "LINKS_TO", 1, 3, max_paths=1000)
    assert Counter((r["start_id"], r["path"][-1]) for r in vl.collect()) == want

    for s in ids:
        t = max(sorted(dist[s]), key=dist[s].get)   # farthest from s
        start = spark.createDataFrame([(s,)], ["id"])
        end = spark.createDataFrame([(t,)], ["id"])
        got = [(tuple(r["path"]), r["hops"]) for r in paths_between(
            edges, start, end, max_paths=1000, rel_types=["LINKS_TO"]).collect()]
        assert got == sorted((p, dist[s][t]) for p in _py_paths(adj, s, dist[s][t])
                             if p[-1] == t and len(p) == dist[s][t] + 1)


def test_search_nodes(graph):
    from gitnexus_spark.operators.graph_queries import search_nodes

    nodes, _ = graph
    assert {r["id"] for r in search_nodes(nodes, "acme").collect()} == {"n3"}


def test_node_degree(graph):
    from gitnexus_spark.operators.graph_queries import node_degree

    _, edges = graph
    got = {r["id"]: (r["out_degree"], r["in_degree"])
           for r in node_degree(edges).collect()}
    assert got["n1"] == (2, 0)
    assert got["n2"] == (2, 1)
    assert got["n3"] == (0, 2)


def test_top_entities_by_mentions(graph):
    from gitnexus_spark.operators.graph_queries import top_entities_by_mentions

    nodes, edges = graph
    got = top_entities_by_mentions(nodes, edges, k=1).collect()
    assert got[0]["name"] == "Acme" and got[0]["n_mentions"] == 2


def test_bucketed_k_hop_plan(spark, graph):
    """Q3 consumed by Q4: the frontier join against the at-rest bucketed
    adjacency table must NOT shuffle the (large) edge side — only the tiny
    frontier side gets an Exchange. Also: same answer as the in-memory path."""
    import contextlib
    import io
    import shutil

    from gitnexus_spark.operators.graph_queries import (
        k_hop, k_hop_bucketed, write_adjacency_bucketed)

    _, edges = graph
    spark.sql("DROP TABLE IF EXISTS adj_khop")
    shutil.rmtree("spark-warehouse/adj_khop", ignore_errors=True)
    write_adjacency_bucketed(edges, "adj_khop", buckets=4)
    try:
        start = spark.createDataFrame([("n1",)], ["id"])
        got = {r["id"]: r["hop"] for r in
               k_hop_bucketed(spark, "adj_khop", start, 2,
                              rel_types=["LINKS_TO"]).collect()}
        want = {r["id"]: r["hop"] for r in
                k_hop(edges, start, 2, rel_types=["LINKS_TO"]).collect()}
        assert got == want == {"n1": 0, "n2": 1, "n5": 2}

        # Plan shape: force a sort-merge join (no broadcast, no AQE noise)
        # and assert the bucketed side reads in place (Bucketed: true) with
        # exactly ONE Exchange in the whole join — the frontier side's.
        old = {k: spark.conf.get(k) for k in
               ("spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled")}
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            adj = spark.table("adj_khop").select(
                F.col("src").alias("from_id"), F.col("dst").alias("to_id"))
            plan_df = start.join(adj, start.id == adj.from_id)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                plan_df.explain("formatted")
            plan = buf.getvalue()
            assert "Bucketed: true" in plan, plan
            # formatted explain prints each node twice (tree + detail
            # section) — count the numbered detail headings instead
            import re
            n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
            assert n_exchanges == 1, plan
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS adj_khop")
        shutil.rmtree("spark-warehouse/adj_khop", ignore_errors=True)


def test_bucketed_k_hop_inbound(spark, graph):
    """Reverse traversal over the dst-bucketed twin table (the at-rest
    analogue of the reference's second adjacency map)."""
    import shutil

    from gitnexus_spark.operators.graph_queries import (
        k_hop, k_hop_bucketed, write_adjacency_bucketed)

    _, edges = graph
    spark.sql("DROP TABLE IF EXISTS adj_khop_in")
    shutil.rmtree("spark-warehouse/adj_khop_in", ignore_errors=True)
    write_adjacency_bucketed(edges, "adj_khop_in", buckets=4, key="dst")
    try:
        start = spark.createDataFrame([("n5",)], ["id"])
        got = {r["id"]: r["hop"] for r in
               k_hop_bucketed(spark, "adj_khop_in", start, 2,
                              direction="in",
                              rel_types=["LINKS_TO"]).collect()}
        want = {r["id"]: r["hop"] for r in
                k_hop(edges, start, 2, direction="in",
                      rel_types=["LINKS_TO"]).collect()}
        assert got == want == {"n5": 0, "n2": 1, "n1": 2}
    finally:
        spark.sql("DROP TABLE IF EXISTS adj_khop_in")
        shutil.rmtree("spark-warehouse/adj_khop_in", ignore_errors=True)


def test_sql_views(spark, graph):
    from gitnexus_spark.operators.graph_queries import register_views

    nodes, edges = graph
    register_views(nodes, edges)
    got = spark.sql("""
        SELECT n.name, COUNT(*) AS c FROM edges e
        JOIN nodes n ON e.dst = n.id WHERE e.type = 'MENTIONS'
        GROUP BY n.name ORDER BY c DESC, n.name LIMIT 1""").collect()
    assert got[0]["name"] == "Acme"


class TestPagerank:
    """Fixed-iteration PageRank vs an independent numpy power iteration."""

    @staticmethod
    def _numpy_pagerank(n, edge_list, iters, d=0.85):
        import numpy as np

        out_deg = np.zeros(n)
        for s, _ in edge_list:
            out_deg[s] += 1
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            nxt = np.full(n, (1.0 - d) / n)
            dangling = r[out_deg == 0].sum()
            nxt += d * dangling / n
            for s, t in edge_list:
                nxt[t] += d * r[s] / out_deg[s]
            r = nxt
        return r

    def _run(self, spark, n, edge_list, iters=3):
        from gitnexus_spark.operators.graph_queries import pagerank

        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["id"]: r["rank"]
               for r in pagerank(nodes, edges, iters=iters).collect()}
        exp = self._numpy_pagerank(n, edge_list, iters)
        assert set(got) == set(range(n))
        for i in range(n):
            assert abs(got[i] - exp[i]) < 1e-12, (i, got[i], exp[i])
        assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
        return got

    def test_star_with_dangling(self, spark):
        # hub 0 -> {1,2,3}; 4 isolated (dangling); 1..3 -> 0
        edges = [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 0)]
        got = self._run(spark, 5, edges)
        # the hub receives three full contributions: strictly top-ranked
        assert got[0] > got[1] > got[4]
        assert got[1] == got[2] == got[3]

    def test_all_dangling(self, spark):
        # no edges at all: every node is dangling -> uniform at every step
        from gitnexus_spark.operators.graph_queries import pagerank

        nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
        edges = spark.createDataFrame([], "src long, dst long")
        got = {r["id"]: r["rank"]
               for r in pagerank(nodes, edges, iters=2).collect()}
        for v in got.values():
            assert abs(v - 0.25) < 1e-15

    def test_parallel_edges_count_double(self, spark):
        # 0 -> 1 twice, 0 -> 2 once: rank(1) > rank(2)
        edges = [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)]
        got = self._run(spark, 3, edges)
        assert got[1] > got[2]


def test_query_cli_over_warehouse(spark, tmp_path):
    """jobs/query.py: SQL over a written warehouse, guardrail applied,
    TSV and JSON outputs (the reference's query-box surface as a
    submitted job)."""
    import json
    import os
    import subprocess
    import sys

    from gitnexus_spark.sources.snapshots import SnapshotWriter

    nodes = spark.createDataFrame(
        [("n1", "Page", "p1"), ("n2", "Entity", "Acme"),
         ("n3", "Entity", "Zorg")], "id string, label string, name string")
    edges = spark.createDataFrame(
        [("e1", "MENTIONS", "n1", "n2"), ("e2", "MENTIONS", "n1", "n3")],
        "id string, type string, src string, dst string")
    wh = str(tmp_path / "wh")
    w = SnapshotWriter(spark)
    # two snapshots of nodes: the queries must read the current one
    w.write(nodes.limit(1), os.path.join(wh, "nodes"))
    w.write(nodes, os.path.join(wh, "nodes"))
    w.write(edges, os.path.join(wh, "edges"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo}

    r = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "query.py"),
         "--warehouse", wh, "--json", "--master", "local[2]",
         "--sql", "SELECT label, COUNT(*) AS n FROM nodes GROUP BY label"],
        capture_output=True, text=True, env=env, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [json.loads(line) for line in r.stdout.splitlines()
            if line.startswith("{")]
    assert {(x["label"], x["n"]) for x in rows} == {("Page", 1), ("Entity", 2)}

    r2 = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "query.py"),
         "--warehouse", wh, "--master", "local[2]", "--auto-limit", "1",
         "--sql", "SELECT id FROM nodes ORDER BY id"],
        capture_output=True, text=True, env=env, timeout=300)
    assert r2.returncode == 0, r2.stderr[-2000:]
    data_lines = [ln for ln in r2.stdout.splitlines() if ln.startswith("n")]
    assert data_lines == ["n1"]  # guardrail LIMIT 1 applied


def test_count_triangles_known_graph(spark):
    from gitnexus_spark.operators.graph_queries import count_triangles

    # K4 on {a,b,c,d} = 4 triangles; pendant edge and a duplicate /
    # reversed / self-loop edge must not change the count
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("c", "b"), ("d", "d"), ("d", "e")],
        "src string, dst string").withColumn("type", F.lit("LINKS_TO"))
    assert count_triangles(e).collect()[0][0] == 4


def test_count_triangles_matches_bruteforce(spark):
    from itertools import combinations
    import random

    from gitnexus_spark.operators.graph_queries import count_triangles

    rnd = random.Random(7)
    edges = {(min(a, b), max(a, b))
             for a, b in (sorted(rnd.sample(range(30), 2)) for _ in range(120))}
    df = spark.createDataFrame([(f"n{a}", f"n{b}") for a, b in edges],
                               "src string, dst string")
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = sum(1 for x, y, z in combinations(sorted(adj), 3)
                   if y in adj[x] and z in adj[x] and z in adj[y])
    assert count_triangles(df).collect()[0][0] == expected
