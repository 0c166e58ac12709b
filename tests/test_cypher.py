"""Cypher front-end: parser unit tests + compiler equivalence against
hand-built DataFrame plans on a fixed graph.

The query shapes mirror the reference's own Cypher catalogue
(src/ai/cypher-generator.ts:36-104) retargeted to the web-KG schema.
"""

import pytest
from pyspark.sql import functions as F

from gitnexus_spark.cypher import cypher_query, parse
from gitnexus_spark.cypher.ast import Pattern, Prop, RelPat
from gitnexus_spark.cypher.compiler import CypherCompileError
from gitnexus_spark.cypher.parser import CypherSyntaxError


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [("n1", "Page", "home", "http://a/"),
         ("n2", "Page", "about", "http://a/about"),
         ("n3", "Page", "blog", "http://a/blog"),
         ("n4", "Page", "orphan", "http://a/orphan"),
         ("e1", "Entity", "E1", None),
         ("e2", "Entity", "E13", None),
         ("e3", "Entity", "E2", None),
         ("s1", "Section", "sec-a", None)],
        "id string, label string, name string, url string")
    edges = spark.createDataFrame(
        [("n1", "n2", "LINKS_TO"), ("n2", "n3", "LINKS_TO"),
         ("n1", "n3", "LINKS_TO"), ("n3", "n1", "LINKS_TO"),
         ("n1", "e1", "MENTIONS"), ("n2", "e1", "MENTIONS"),
         ("n2", "e2", "MENTIONS"), ("n3", "e3", "MENTIONS"),
         ("s1", "n1", "CONTAINS"), ("s1", "n2", "CONTAINS"),
         ("e1", "e2", "ACQUIRED")],
        "src string, dst string, type string")
    return nodes, edges


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def run(graph, q, **kw):
    nodes, edges = graph
    kw.setdefault("auto_limit", None)
    return cypher_query(nodes, edges, q, **kw)


# --- parser ---------------------------------------------------------------

def test_parse_shapes():
    q = parse("MATCH (a:Page {name: 'x'})-[:LINKS_TO*2..4]->(b) "
              "WHERE b.name CONTAINS 'y' RETURN a.name, COUNT(b) AS n "
              "ORDER BY n DESC SKIP 1 LIMIT 3")
    pat = q.clauses[0].patterns[0]
    assert isinstance(pat, Pattern) and len(pat.elements) == 3
    rel = pat.elements[1]
    assert isinstance(rel, RelPat)
    assert (rel.rtype, rel.min_hops, rel.max_hops) == ("LINKS_TO", 2, 4)
    assert pat.elements[0].props == {"name": "x"}
    assert q.items[1].agg == "count" and q.items[1].alias == "n"
    assert q.skip == 1 and q.limit == 3
    assert not q.order_by[0].asc


def test_parse_keyword_reltype():
    q = parse("MATCH (s:Section)-[:CONTAINS]->(p:Page) RETURN p.name")
    assert q.clauses[0].patterns[0].elements[1].rtype == "CONTAINS"


@pytest.mark.parametrize("bad", [
    "RETURN 1",
    "MATCH (a)-[:T*3..1]->(b) RETURN a",
    "MATCH (a RETURN a",
    "MATCH (a) RETURN SUM(*)",
    "MATCH (a)-[:T {w: 1}]->(b) RETURN a",
    "MATCH (a) RETURN a.name trailing",
])
def test_parse_errors(bad):
    with pytest.raises(CypherSyntaxError):
        parse(bad)


# --- compiler -------------------------------------------------------------

def test_pattern_join_with_aggregate(graph):
    got = run(graph, "MATCH (p:Page)-[:MENTIONS]->(e:Entity) "
                     "RETURN e.name AS name, COUNT(p) AS n")
    assert rows(got) == [("E1", 2), ("E13", 1), ("E2", 1)]


def test_property_map_and_direction(graph):
    got = run(graph, "MATCH (b:Page)<-[:LINKS_TO]-(a:Page {name: 'home'}) "
                     "RETURN b.name AS b")
    assert rows(got) == [("about",), ("blog",)]


def test_varlen_path_multiplicity(graph):
    # home -> {about, blog} at length 1; length 2: home->about->blog and
    # home->blog->home is cycle-pruned, about->blog ... => blog has 2 paths
    got = run(graph, "MATCH (a:Page {name: 'home'})-[:LINKS_TO*1..2]->(b:Page) "
                     "RETURN b.name AS name, COUNT(*) AS n_paths")
    assert rows(got) == [("about", 1), ("blog", 2)]


def test_varlen_exact_length(graph):
    got = run(graph, "MATCH (a:Page {name: 'home'})-[:LINKS_TO*2..2]->(b:Page) "
                     "RETURN b.name AS name")
    assert rows(got) == [("blog",)]


def test_where_boolean_mix(graph):
    got = run(graph, "MATCH (p:Page) WHERE p.url STARTS WITH 'http://a/b' "
                     "OR p.name = 'about' RETURN DISTINCT p.name AS n")
    assert rows(got) == [("about",), ("blog",)]


def test_where_contains_ends_null(graph):
    got = run(graph, "MATCH (e:Entity) WHERE e.url IS NULL AND "
                     "e.name ENDS WITH '3' RETURN e.name AS n")
    assert rows(got) == [("E13",)]


def test_exists_semi_join(graph):
    got = run(graph, "MATCH (p:Page) WHERE EXISTS((p)<-[:CONTAINS]-(:Section)) "
                     "RETURN p.name AS n")
    assert rows(got) == [("about",), ("home",)]


def test_not_exists_anti_join(graph):
    got = run(graph, "MATCH (p:Page) WHERE NOT EXISTS((p)-[:LINKS_TO]->(:Page)) "
                     "RETURN p.name AS n")
    assert rows(got) == [("orphan",)]


def test_multi_pattern_shared_var(graph):
    got = run(graph, "MATCH (s:Section)-[:CONTAINS]->(p:Page), "
                     "(p)-[:MENTIONS]->(e:Entity) "
                     "RETURN s.name AS sec, COUNT(DISTINCT e) AS ne")
    assert rows(got) == [("sec-a", 2)]


def test_cycle_pattern_repeated_var(graph):
    got = run(graph, "MATCH (a:Page)-[:LINKS_TO]->(b:Page)-[:LINKS_TO]->(a) "
                     "RETURN a.name AS a, b.name AS b")
    assert rows(got) == [("blog", "home"), ("home", "blog")]


def test_bare_var_expansion(graph):
    got = run(graph, "MATCH (x:Page {name: 'home'}) RETURN x")
    assert got.columns == ["x_id", "x_label", "x_name", "x_url"]
    assert rows(got) == [("n1", "Page", "home", "http://a/")]


def test_collect_sorted(graph):
    got = run(graph, "MATCH (p:Page)-[:MENTIONS]->(e:Entity {name: 'E1'}) "
                     "RETURN COLLECT(p.name) AS names")
    assert got.collect()[0][0] == ["about", "home"]


def test_order_skip_limit(graph):
    got = run(graph, "MATCH (p:Page) RETURN p.name AS n "
                     "ORDER BY n ASC SKIP 1 LIMIT 2")
    assert [r[0] for r in got.collect()] == ["blog", "home"]


def test_rel_var_type(graph):
    got = run(graph, "MATCH (p:Page)-[r:MENTIONS]->(e:Entity) "
                     "RETURN r.type AS t, COUNT(*) AS n")
    assert rows(got) == [("MENTIONS", 4)]


def test_count_star_no_keys(graph):
    got = run(graph, "MATCH (p:Page) RETURN COUNT(*) AS n")
    assert got.collect()[0][0] == 4


def test_auto_limit_applied(graph):
    nodes, edges = graph
    got = cypher_query(nodes, edges, "MATCH (p:Page) RETURN p.name AS n",
                       auto_limit=2)
    assert got.count() == 2


def test_equivalence_with_match_pattern_operator(graph):
    """Compiled (a)-[:T]->(b) == the fixture's LINKS_TO pairs."""
    via_cypher = run(graph, "MATCH (a:Page)-[:LINKS_TO]->(b:Page) "
                            "RETURN a.id AS src_id, b.id AS dst_id")
    assert rows(via_cypher) == [("n1", "n2"), ("n1", "n3"), ("n2", "n3"),
                                ("n3", "n1")]


def test_compile_errors(graph):
    with pytest.raises(CypherCompileError):
        run(graph, "MATCH (p:Page) WHERE q.name = 'x' RETURN p.name")
    with pytest.raises(CypherCompileError):
        run(graph, "MATCH (p:Page {bogus: 1}) RETURN p.name")
    with pytest.raises(CypherCompileError):
        # EXISTS under OR is rejected, not silently mis-planned
        run(graph, "MATCH (p:Page) WHERE p.name = 'x' OR "
                   "EXISTS((p)-[:LINKS_TO]->(:Page)) RETURN p.name")
    with pytest.raises(CypherCompileError):
        # hop range above the traversal clamp errors instead of
        # silently returning empty (*6..8) or truncated (*2..10) results
        run(graph, "MATCH (a:Page)-[:LINKS_TO*6..8]->(b:Page) "
                   "RETURN a.name, b.name")
    with pytest.raises(CypherCompileError):
        run(graph, "MATCH (a:Page)-[:LINKS_TO*2..10]->(b:Page) "
                   "RETURN a.name, b.name")


def test_unanchored_exists_rejected(graph):
    with pytest.raises(CypherCompileError):
        run(graph, "MATCH (p:Page) WHERE EXISTS((q)-[:LINKS_TO]->(:Page)) "
                   "RETURN p.name")


# --- OPTIONAL MATCH / WITH ------------------------------------------------

def test_optional_match_counts_zero(graph):
    out = run(graph,
              "MATCH (p:Page) OPTIONAL MATCH (p)-[:LINKS_TO]->(q:Page) "
              "RETURN p.name AS name, COUNT(q) AS n ORDER BY name")
    assert rows(out) == [("about", 1), ("blog", 1), ("home", 2), ("orphan", 0)]


def test_optional_match_null_row(graph):
    out = run(graph,
              "MATCH (p:Page {name: 'orphan'}) "
              "OPTIONAL MATCH (p)-[:LINKS_TO]->(q) "
              "RETURN p.name AS name, q.name AS target")
    assert rows(out) == [("orphan", None)]


def test_optional_match_where_scoped_to_pattern(graph):
    """WHERE after OPTIONAL MATCH restricts the optional side only:
    pages whose links don't hit 'blog' still appear, with NULL."""
    out = run(graph,
              "MATCH (p:Page) OPTIONAL MATCH (p)-[:LINKS_TO]->(q:Page) "
              "WHERE q.name = 'blog' "
              "RETURN p.name AS name, q.name AS target ORDER BY name")
    assert rows(out) == [("about", "blog"), ("blog", None),
                         ("home", "blog"), ("orphan", None)]


def test_with_aggregate_having(graph):
    out = run(graph,
              "MATCH (p:Page)-[:MENTIONS]->(e:Entity) "
              "WITH e, COUNT(*) AS c WHERE c >= 2 "
              "RETURN e.name AS name, c")
    assert rows(out) == [("E1", 2)]


def test_with_passthrough_then_match(graph):
    out = run(graph,
              "MATCH (s:Section)-[:CONTAINS]->(p:Page) WITH p "
              "MATCH (p)-[:LINKS_TO]->(q:Page) RETURN COUNT(*) AS n")
    assert rows(out) == [(3,)]


def test_with_scalar_alias_filter(graph):
    out = run(graph,
              "MATCH (p:Page) WITH p.name AS nm "
              "WHERE nm STARTS WITH 'b' RETURN nm ORDER BY nm")
    assert rows(out) == [("blog",)]


def test_with_distinct_var(graph):
    out = run(graph,
              "MATCH (p:Page)-[:MENTIONS]->(e:Entity) WITH DISTINCT p "
              "RETURN COUNT(*) AS n")
    assert rows(out) == [(3,)]


@pytest.mark.parametrize("bad", [
    "OPTIONAL MATCH (p:Page) RETURN p.name",
    "MATCH (p:Page) WITH COUNT(*) RETURN 1",
    "MATCH (p:Page) OPTIONAL MATCH (x:Entity)-[:ACQUIRED]->(y) RETURN p.name",
    "WITH 1 AS x RETURN x",
])
def test_optional_with_compile_errors(graph, bad):
    with pytest.raises((CypherCompileError, CypherSyntaxError)):
        run(graph, bad)


# --- shortestPath ---------------------------------------------------------

def test_shortest_path_lengths(graph):
    """Graph: n1->n2, n2->n3, n1->n3, n3->n1. From n1: n2 and n3 at 1.
    From n2: n3 at 1, n1 at 2 (via n3). One row per pair, min length."""
    out = run(graph,
              "MATCH p = shortestPath((a:Page)-[:LINKS_TO*1..4]->(b:Page)) "
              "WHERE a.name = 'about' "
              "RETURN b.name AS name, length(p) AS hops ORDER BY name")
    assert rows(out) == [("blog", 1), ("home", 2)]


def test_shortest_path_one_row_per_pair(graph):
    # n1->n3 direct AND via n2: still a single row at length 1
    out = run(graph,
              "MATCH p = shortestPath((a:Page {name: 'home'})"
              "-[:LINKS_TO*1..4]->(b:Page {name: 'blog'})) "
              "RETURN length(p) AS hops")
    assert rows(out) == [(1,)]


def test_shortest_path_excludes_self(graph):
    # cycles can't return to the start (node-distinct) -> no (x, x) row
    out = run(graph,
              "MATCH p = shortestPath((a:Page {name: 'home'})"
              "-[:LINKS_TO*1..4]->(b:Page {name: 'home'})) "
              "RETURN length(p) AS hops")
    assert rows(out) == []


def test_shortest_path_hub_graph_frontier_bounded(spark, monkeypatch):
    """On a complete digraph every shortest path has length 1; the
    traversal kernel's distance mode keeps every level frame within
    |seeds|·|V| rows instead of enumerating all 5-hop paths."""
    from gitnexus_spark.operators import graph_queries as gq

    n = 20
    nodes = spark.createDataFrame(
        [(f"p{i}", "Page", f"p{i}", None) for i in range(n)],
        "id string, label string, name string, url string")
    edges = spark.createDataFrame(
        [(f"p{i}", f"p{j}", "LINKS_TO") for i in range(n) for j in range(n)
         if i != j], "src string, dst string, type string")
    levels = []
    kernel = gq._levels
    monkeypatch.setattr(gq, "_levels", lambda *a, **kw: (
        levels.append(kernel(*a, **kw)) or levels[-1]))
    got = cypher_query(
        nodes, edges,
        "MATCH p = shortestPath((a:Page)-[:LINKS_TO*1..5]->(b:Page)) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops",
        auto_limit=None).collect()
    assert len(got) == n * (n - 1)
    assert {r["hops"] for r in got} == {1}
    assert len(levels) == 1
    assert max(lv.count() for lv in levels[0]) <= n * n


def test_anchored_varlen_lookup_job_count(spark, tmp_path):
    """The anchored *1..2 page-reach lookup (kgbench's page_reach shape,
    over graph tables at rest partitioned like the pipeline's) runs fewer
    Spark jobs than the 12 it ran when every level was also probed with
    isEmpty (same fixture, local[4])."""
    n = 300
    links = [(i, (3 * i + 1) % n) for i in range(n)] + \
        [(i, (11 * i + 7) % n) for i in range(n)]
    spark.createDataFrame(
        [(f"p{i}", "Page", f"page{i}", None) for i in range(n)]
        + [(f"e{i}", "Entity", f"Org_{i}", None) for i in range(n)],
        "id string, label string, name string, url string") \
        .write.partitionBy("label").parquet(str(tmp_path / "nodes"))
    spark.createDataFrame(
        [(f"p{s}", f"p{d}", "LINKS_TO") for s, d in links]
        + [(f"p{i}", f"e{(7 * i) % n}", "MENTIONS") for i in range(n)],
        "src string, dst string, type string") \
        .write.partitionBy("type").parquet(str(tmp_path / "edges"))
    nodes = spark.read.parquet(str(tmp_path / "nodes"))
    edges = spark.read.parquet(str(tmp_path / "edges"))

    def lookup(i):
        return {r["name"] for r in cypher_query(
            nodes, edges,
            f"MATCH (a:Page {{name: 'page{i}'}})-[:LINKS_TO*1..2]->(b:Page) "
            "RETURN DISTINCT b.name AS name").collect()}

    lookup(4)  # warm-up: the first query over new files pays setup jobs
    sc = spark.sparkContext
    sc.setJobGroup("varlen-lookup", "anchored *1..2 lookup")
    try:
        got = lookup(5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    one = {d for s, d in links if s == 5}
    two = {d for s, d in links if s in one}
    assert got == {f"page{d}" for d in (one | two) - {5}}   # no self-loops
    assert len(sc.statusTracker().getJobIdsForGroup("varlen-lookup")) < 12


@pytest.mark.parametrize("bad", [
    "MATCH p = (a)-[:T]->(b) RETURN a.name",           # path var w/o shortestPath
    "MATCH p = shortestPath((a)-[:T]->(b)) RETURN 1",  # not variable-length
    "MATCH (a:Page) RETURN length(a)",                 # not a path var
])
def test_shortest_path_errors(graph, bad):
    with pytest.raises((CypherCompileError, CypherSyntaxError)):
        run(graph, bad)


# --- IN lists / UNWIND ----------------------------------------------------

def test_in_list_predicate(graph):
    out = run(graph,
              "MATCH (p:Page) WHERE p.name IN ['home', 'blog', 'nope'] "
              "RETURN p.name AS name ORDER BY name")
    assert rows(out) == [("blog",), ("home",)]
    out2 = run(graph,
               "MATCH (p:Page) WHERE p.name NOT IN ['home', 'blog'] "
               "RETURN p.name AS name ORDER BY name")
    assert rows(out2) == [("about",), ("orphan",)]


def test_unwind_correlated_match(graph):
    out = run(graph,
              "UNWIND ['home', 'orphan', 'ghost'] AS nm "
              "MATCH (p:Page) WHERE p.name = nm "
              "RETURN p.name AS name ORDER BY name")
    assert rows(out) == [("home",), ("orphan",)]


def test_unwind_standalone_and_agg(graph):
    out = run(graph,
              "UNWIND [3, 1, 2, 3] AS x RETURN COUNT(x) AS n, "
              "COLLECT(DISTINCT x) AS xs")
    assert rows(out) == [(4, [1, 2, 3])]
