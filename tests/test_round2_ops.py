"""Round-2 operators: paths_between (Q5), ignore pack (F3/F9), tightest
span (W3), relative-URL normalization (P7), URL-distance fuzzy locality.

Golden fixtures are hand-enumerable, mirroring the reference's test style
(kuzu-integration.test.ts:36-41).
"""

import pytest
from pyspark.sql import functions as F


# --- Q5 paths_between (reference query.ts:154-197) --------------------------

@pytest.fixture(scope="module")
def diamond_edges(spark):
    # a -> b -> d, a -> c -> d (two shortest), plus a longer a->e->f->d
    rows = [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"),
            ("a", "e"), ("e", "f"), ("f", "d")]
    return spark.createDataFrame(rows, ["src", "dst"])


def _paths(spark, edges, s, t, **kw):
    from gitnexus_spark.operators.graph_queries import paths_between

    start = spark.createDataFrame([(s,)], ["id"])
    end = spark.createDataFrame([(t,)], ["id"])
    return [(list(r["path"]), r["hops"])
            for r in paths_between(edges, start, end, **kw).collect()]


def test_paths_between_all_shortest_sorted(spark, diamond_edges):
    got = _paths(spark, diamond_edges, "a", "d")
    # both 2-hop paths, path-string order; the 3-hop path is NOT returned
    assert got == [(["a", "b", "d"], 2), (["a", "c", "d"], 2)]


def test_paths_between_max_paths_cap(spark, diamond_edges):
    got = _paths(spark, diamond_edges, "a", "d", max_paths=1)
    assert got == [(["a", "b", "d"], 2)]


def test_paths_between_depth_bound(spark, diamond_edges):
    assert _paths(spark, diamond_edges, "a", "d", max_depth=1) == []


def test_paths_between_start_is_end(spark, diamond_edges):
    assert _paths(spark, diamond_edges, "a", "a") == [(["a"], 0)]


def test_paths_between_unreachable(spark, diamond_edges):
    assert _paths(spark, diamond_edges, "d", "a") == []


def test_paths_between_cycle_pruned(spark):
    rows = [("a", "b"), ("b", "a"), ("b", "c")]
    e = spark.createDataFrame(rows, ["src", "dst"])
    assert _paths(spark, e, "a", "c") == [(["a", "b", "c"], 2)]


# --- F3/F9 ignore pack -------------------------------------------------------

def test_ignore_filter_drops_and_audits(spark):
    from gitnexus_spark.operators.filters import ignore_filter

    urls = [
        "https://tracker.example.org/x.html",        # tracker_host
        "https://a.org/ads/banner.html",             # ad_path
        "https://a.org/.git/config",                 # hidden_path
        "https://a.org/assets/site.css",             # asset_ext
        "https://a.org/cal/2024/01/index.html",      # calendar_trap
        "https://a.org/good/page.html",              # survives
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    kept = {r["url"] for r in ignore_filter(df).collect()}
    assert kept == {"https://a.org/good/page.html"}
    audit = {r["url"]: r["matched_rule"]
             for r in ignore_filter(df, keep_matches=True).collect()}
    assert audit["https://tracker.example.org/x.html"] == "tracker_host"
    assert audit["https://a.org/ads/banner.html"] == "ad_path"
    assert audit["https://a.org/.git/config"] == "hidden_path"


# --- W3 tightest containing span ---------------------------------------------

def test_tightest_span_nested_and_tiebreak(spark):
    from gitnexus_spark.operators.spans import tightest_containing_span

    items = spark.createDataFrame(
        [("d1", "m1", 10, 12), ("d1", "m2", 50, 55), ("d2", "m3", 0, 2)],
        ["url", "name", "start", "end"])
    spans = spark.createDataFrame(
        [("d1", 0, 100), ("d1", 5, 20),      # nested: [5,20) is tighter for m1
         ("d1", 40, 60), ("d1", 45, 65),     # same length 20: start ASC wins for m2
         ("d2", 5, 9)],                      # does not contain m3
        ["url", "t_start", "t_end"])
    got = {r["name"]: (r["t_start"], r["t_end"])
           for r in tightest_containing_span(items, spans).collect()}
    assert got == {"m1": (5, 20), "m2": (40, 60)}  # m3 unattributable -> dropped


def test_extract_corpus_malformed_html(spark):
    """Malformed markup must not fail tasks: the extractor falls back to
    deterministic tag-stripping, and extraction still runs on the result."""
    from gitnexus_spark.operators.extract import extract_corpus

    rows = [
        ("u1", b"<p>Acme founded Zorg.</p>"),                  # well-formed
        ("u2", b"<p>Beta <b>visited</i> Acme."),               # mismatched tags
        ("u3", b"\xff\xfe<p>Gamma owns Delta.</p>"),           # invalid utf-8 prefix
        ("u4", b""),                                           # empty
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    corpus = extract_corpus(df)
    pages = {r["url"]: r["text"] for r in corpus.filter("item = 'page'").collect()}
    assert len(pages) == 4 and pages["u4"] == ""
    triples = {(r["name"], r["pred"], r["obj"])
               for r in corpus.filter("item = 'triple'").collect()}
    assert ("Acme", "founded", "Zorg") in triples
    assert ("Gamma", "owns", "Delta") in triples


def test_salted_agg_spreads_identical_rows(spark):
    """With a unique id_col, byte-identical payload rows of one hub key
    land on multiple salts; without one the salt is a row-content hash —
    deterministic under task retry (ADVICE r03: monotonically_increasing_id
    salts are indeterminate on recomputation), duplicates collapsing onto
    one reducer is the documented trade-off."""
    from gitnexus_spark.operators.skew import salted_agg, with_salt

    hub = spark.createDataFrame([("k", 1.0, i) for i in range(1000)],
                                ["key", "v", "rid"]).repartition(8)
    n_salts = with_salt(hub, "key", 16, id_col="rid") \
        .select("_salt").distinct().count()
    assert n_salts > 4
    got = salted_agg(hub, ["key"], {"v": "sum"}, salts=16, id_col="rid").collect()
    assert got[0]["sum_v"] == 1000.0
    # no id_col: content-hash salt is identical across recomputations
    dup = spark.createDataFrame([("k", 1.0)] * 10, ["key", "v"])
    a = sorted(r["_salt"] for r in with_salt(dup, "key", 16).collect())
    b = sorted(r["_salt"] for r in with_salt(dup.repartition(5), "key", 16).collect())
    assert a == b


def test_is_config_page(spark):
    from gitnexus_spark.operators.filters import is_config_page

    rows = [("https://a.org/robots.txt", True),
            ("https://a.org/sitemap_index.xml", True),
            ("https://a.org/.well-known/security.txt", True),
            ("https://a.org/feed.rss", True),
            ("https://a.org/page.html", False),
            ("https://a.org/robots.txt.html", False)]
    df = spark.createDataFrame([(u,) for u, _ in rows], ["url"])
    got = [r["c"] for r in df.select(is_config_page().alias("c")).collect()]
    assert got == [want for _, want in rows]


# --- large-star/small-star CC (distributed path) ------------------------------

def test_large_small_star_chain_olog_rounds(spark):
    """A 1000-chain has diameter 1000: min-label propagation needs ~1000
    rounds; large-star/small-star must converge in O(log n) with results
    identical to union-find."""
    from gitnexus_spark.operators.components import (_union_find_rows,
                                                     connected_components)

    n = 1000
    rows = [(f"c{i:04d}", f"c{i+1:04d}") for i in range(n - 1)] + [("x1", "x2")]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    stats = {}
    comp = connected_components(edges, driver_threshold=0, stats=stats)
    got = {r["vertex"]: r["component"] for r in comp.collect()}
    assert stats["rounds"] <= 16  # ~log2(1000) + slack, NOT O(diameter)
    assert all(got[f"c{i:04d}"] == "c0000" for i in range(n))
    assert got["x1"] == got["x2"] == "x1"
    uf = {r["vertex"]: r["component"]
          for r in _union_find_rows(spark, edges.collect()).collect()}
    assert got == uf


# --- P7 relative-URL normalization -------------------------------------------

def test_normalize_link_targets(spark):
    from gitnexus_spark.operators.structure import normalize_link_targets

    base = "https://h.org/en/s1/p5.html"
    cases = [
        ("https://x.org/a.html", "https://x.org/a.html"),        # absolute
        ("//cdn.org/a.html", "https://cdn.org/a.html"),          # scheme-rel
        ("/top.html", "https://h.org/top.html"),                 # root-rel
        ("./p6.html", "https://h.org/en/s1/p6.html"),            # same dir
        ("../s2/p7.html", "https://h.org/en/s2/p7.html"),        # parent
        ("../../de/s0/p1.html#frag", "https://h.org/de/s0/p1.html"),
        ("p8.html", "https://h.org/en/s1/p8.html"),              # bare rel
        ("../../../../up.html", "https://h.org/up.html"),        # over-pop -> root
        ("mailto:x@y.z", None),                                  # dropped
        ("javascript:void(0)", None),                            # dropped
    ]
    df = spark.createDataFrame([(base, href) for href, _ in cases],
                               ["url", "target_url"])
    got = {r["target_url"] for r in normalize_link_targets(df).collect()}
    expected = {want for _, want in cases if want is not None}
    assert got == expected


def test_normalize_link_targets_vs_urljoin(spark):
    """Cross-check against the stdlib resolver (urllib.parse.urljoin) over
    a generated grid of path-form hrefs. Scope: http(s), non-empty,
    no query-only hrefs, no intentionally-preserved empty segments (we
    collapse '//' in paths; RFC leaves them — a documented normalization)."""
    import itertools
    from urllib.parse import urljoin

    from gitnexus_spark.operators.structure import normalize_link_targets

    bases = ["https://h.org/a/b/c.html", "https://h.org/a/", "https://h.org/x.html"]
    seg = ["p", "q2", "..", "."]
    hrefs = set()
    for parts in itertools.chain(itertools.product(seg, repeat=1),
                                 itertools.product(seg, repeat=2),
                                 itertools.product(seg, repeat=3)):
        s = "/".join(parts)
        hrefs.update({s, "./" + s, "/" + s, s + "/", s + "#frag"})
    cases = [(b, h) for b in bases for h in sorted(hrefs)]
    df = spark.createDataFrame(cases, ["url", "target_url"])
    got = {(r["url"], r["_raw"]): r["target_url"]
           for r in normalize_link_targets(
               df.withColumn("_raw", F.col("target_url"))).collect()}
    bad = []
    for b, h in cases:
        want = urljoin(b, h.split("#")[0])
        if got.get((b, h)) != want:
            bad.append((b, h, got.get((b, h)), want))
    assert not bad, f"{len(bad)} divergences, first 5: {bad[:5]}"


# --- URL-distance locality in fuzzy linking ----------------------------------

def test_url_distance_expr(spark):
    from gitnexus_spark.functions.urls import url_distance_expr

    rows = [
        ("https://h.org/a/p1.html", "https://h.org/a/p1.html", 0),
        ("https://h.org/a/p1.html", "https://h.org/a/p2.html", 1),
        ("https://h.org/a/p1.html", "https://h.org/b/p2.html", 2),
        ("https://h.org/a/p1.html", "https://x.org/a/p1.html", 3),
        ("https://h.org/a/p1.html", None, 3),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], ["a", "b"])
    got = [r["d"] for r in
           df.select(url_distance_expr(F.col("a"), F.col("b")).alias("d")).collect()]
    assert got == [want for *_, want in rows]


def test_fuzzy_winner_flips_on_locality(spark):
    """Two candidates with IDENTICAL Jaccard: the one whose first_doc is
    closer to the probing page wins (reference import-distance bonuses,
    trie.ts:182-208) — and flips when the probe moves."""
    from gitnexus_spark.operators.linking import (entity_registry,
                                                  fuzzy_candidates, fuzzy_top1,
                                                  site_fuzzy_map)

    m = spark.createDataFrame(
        [("https://h.org/a/p1.html", "Acme Corp A", 0, 1),
         ("https://h.org/b/p9.html", "Acme Corp B", 0, 1)],
        ["url", "name", "start", "end"])
    reg = entity_registry(m)

    def winner(probe_doc):
        probes = spark.createDataFrame([("Acme Corp X", probe_doc)],
                                       ["name", "doc_url"])
        cands = fuzzy_candidates(probes, reg)
        return site_fuzzy_map(probes, cands).collect()[0]["c_fuzzy"]

    # probe in /a -> candidate defined in /a wins; probe in /b -> /b wins
    assert winner("https://h.org/a/p2.html") == "Acme Corp A"
    assert winner("https://h.org/b/p7.html") == "Acme Corp B"
    # without locality, lexicographic min (A) wins regardless
    probes = spark.createDataFrame([("Acme Corp X",)], ["name"])
    got = fuzzy_top1(fuzzy_candidates(probes, reg)).collect()[0]["c_fuzzy"]
    assert got == "Acme Corp A"
