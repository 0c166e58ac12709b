"""Pass-3: three-stage linking, connected components, canonicalization.

Engineered so every resolution stage fires at least once, with golden
(name, resolved, stage) — FIXTURES.md T4/T5; mirrors the reference's
resolution matrix (call-processor.ts:146-300).
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def registry(spark):
    from gitnexus_spark.operators.linking import entity_registry

    m = spark.createDataFrame(
        [("d1", "Acme Corp", 0, 9), ("d2", "Acme Corp", 0, 9),
         ("d1", "Foo Inc", 12, 19), ("d3", "Bar Ltd", 0, 7),
         ("d3", "Zorg", 10, 14)],
        ["url", "name", "start", "end"],
    )
    return entity_registry(m)


@pytest.fixture(scope="module")
def alias_dict(spark):
    return spark.createDataFrame(
        [("AC", "Acme Corp"), ("TheFoo", "Foo Inc")], ["alias", "canonical_name"]
    )


def link(spark, registry, alias_dict, names):
    from gitnexus_spark.operators.linking import link_mentions

    un = spark.createDataFrame([("d", n, "any") for n in names],
                               ["doc_url", "name", "role"])
    out = link_mentions(un, registry, alias_dict)
    return {r["name"]: (r["canonical_name"], r["stage"]) for r in out.collect()}


def test_stage1_alias_exact(spark, registry, alias_dict):
    got = link(spark, registry, alias_dict, ["AC"])
    assert got["AC"] == ("Acme Corp", "alias_exact")


def test_stage2_name_exact(spark, registry, alias_dict):
    got = link(spark, registry, alias_dict, ["Bar Ltd"])
    assert got["Bar Ltd"] == ("Bar Ltd", "name_exact")


def test_stage3_fuzzy(spark, registry, alias_dict):
    # typo variant: 3-gram Jaccard against "Acme Corp" clears 0.5
    got = link(spark, registry, alias_dict, ["Acme Corpp"])
    assert got["Acme Corpp"] == ("Acme Corp", "fuzzy")


def test_failed(spark, registry, alias_dict):
    got = link(spark, registry, alias_dict, ["Qxv"])
    assert got["Qxv"] == (None, "failed")


def test_exactly_one_row_per_input(spark, registry, alias_dict):
    from gitnexus_spark.operators.linking import link_mentions

    un = spark.createDataFrame(
        [("d", n, "any") for n in ["AC", "Bar Ltd", "Acme Corpp", "Qxv", "Zorg"]],
        ["doc_url", "name", "role"],
    )
    assert link_mentions(un, registry, alias_dict).count() == 5


def test_fuzzy_tiebreak_deterministic(spark):
    """Two candidates with identical Jaccard -> lexicographic min wins
    (the reference picks candidates[0] = array order; we impose a total
    order, SURVEY §7.4)."""
    from gitnexus_spark.operators.linking import entity_registry, link_mentions

    m = spark.createDataFrame(
        [("d1", "Acme Corp A", 0, 1), ("d2", "Acme Corp B", 0, 1)],
        ["url", "name", "start", "end"],
    )
    reg = entity_registry(m)
    un = spark.createDataFrame([("d", "Acme Corp X", "any")],
                               ["doc_url", "name", "role"])
    for _ in range(3):
        got = link_mentions(un, reg, None).collect()[0]
        assert got["canonical_name"] == "Acme Corp A"
        assert got["stage"] == "fuzzy"


# --- connected components (T5 fixture) -------------------------------------

def test_connected_components_shapes(spark):
    from gitnexus_spark.operators.components import connected_components

    pair = [("a", "b")]
    chain = [(f"c{i}", f"c{i+1}") for i in range(4)]
    hub = [("h0", f"h{i}") for i in range(1, 40)]
    edges = spark.createDataFrame(pair + chain + hub, ["src", "dst"])
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == "a"
    assert all(comp[f"c{i}"] == "c0" for i in range(5))
    assert all(comp[f"h{i}"] == "h0" for i in range(40))
    # disjoint components stay disjoint
    assert len({comp["a"], comp["c0"], comp["h0"]}) == 3


def test_canonical_entities_norm_and_alias_merge(spark):
    from gitnexus_spark.operators.components import canonical_entities
    from gitnexus_spark.operators.linking import entity_registry

    m = spark.createDataFrame(
        [("d1", "Entity_5", 0, 1), ("d2", "Entity-5", 0, 1), ("d3", "Solo", 0, 1)],
        ["url", "name", "start", "end"],
    )
    reg = entity_registry(m)
    ad = spark.createDataFrame([("E5", "Entity_5")], ["alias", "canonical_name"])
    canon = {r["name"]: r["canonical"]
             for r in canonical_entities(reg, None, ad).collect()}
    # norm-key merges Entity_5/Entity-5; alias dict pulls in E5; min name = E5
    assert canon["Entity_5"] == "E5"
    assert canon["Entity-5"] == "E5"
    assert canon["Solo"] == "Solo"


def test_site_fuzzy_locality_flips_winner(spark):
    """VERDICT r02 #2 'done' criterion: with two equal-Jaccard candidates,
    the per-site winner flips on URL distance; disabling the tiebreak
    (the name-level fuzzy_top1 of the same candidate list) picks the
    other candidate for /s3/ sites."""
    from pyspark.sql import functions as F

    from gitnexus_spark.operators.linking import (fuzzy_candidates,
                                                  fuzzy_top1,
                                                  site_fuzzy_map)

    probes = spark.createDataFrame(
        [("https://w.example.org/s3/p3.html", "Zq05-Brand"),
         ("https://w.example.org/s7/p7.html", "Zq05-Brand"),
         ("https://w.example.org/s1/p1.html", "Zq05-Brand")],
        ["doc_url", "name"])
    registry = spark.createDataFrame(
        [("Zq05_Brand", "https://w.example.org/s3/a.html", 1),
         ("Zq05.Brand", "https://w.example.org/s7/a.html", 1)],
        ["name", "first_doc", "n_docs"])

    cands = fuzzy_candidates(probes, registry, fuzzy_threshold=0.4)
    rows = {r["cand"]: r["jaccard"] for r in cands.collect()}
    assert set(rows) == {"Zq05_Brand", "Zq05.Brand"}
    assert len(set(rows.values())) == 1  # exact Jaccard tie (5/11)

    got = {r["doc_url"]: r["c_fuzzy"]
           for r in site_fuzzy_map(probes, cands).collect()}
    assert got["https://w.example.org/s3/p3.html"] == "Zq05_Brand"
    assert got["https://w.example.org/s7/p7.html"] == "Zq05.Brand"
    assert got["https://w.example.org/s1/p1.html"] == "Zq05.Brand"  # cand ASC

    # tiebreak OFF (name-level): deterministic cand ASC everywhere,
    # i.e. the /s3/ answer flips
    off = fuzzy_top1(cands)
    assert off.collect()[0]["c_fuzzy"] == "Zq05.Brand"


def test_pipeline_uses_site_fuzzy(spark, tmp_path):
    """The PRODUCTION path resolves fuzzy per call site: the same ambiguous
    surface form resolves to different canonicals on different pages.

    Every capitalized endpoint is also a mention of its own page (exact
    stage), so production fuzzy fires exactly for mention-FILTERED
    endpoints — here the stop entity 'More'. Its two candidates MoreX /
    MoreZ tie on Jaccard (2/3 each on grams {mor, ore}) and are homed in
    different directories, so the winner is pure URL locality."""
    from pyspark.sql import functions as F

    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.synthetic import render_html

    docs = [
        # home pages put each candidate in the registry with first_doc
        # in its own directory
        ("https://w.example.org/a/h1.html", "MoreX founded Entity_1."),
        ("https://w.example.org/b/h2.html", "MoreZ founded Entity_1."),
        # ambiguous probe sites: stop-entity object, different directories
        ("https://w.example.org/a/p1.html", "Entity_1 endorsed More."),
        ("https://w.example.org/b/p2.html", "Entity_1 endorsed More."),
    ]
    rows = [(u, render_html(i, u, t, []), t, "en") for i, (u, t) in enumerate(docs)]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    # every job of the run — pool-thread commits included — must carry
    # the caller's job group
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("site-fuzzy-run", "KGPipeline.run under one job group")
    try:
        out = KGPipeline(spark, str(tmp_path / "kg")).run(pages)
        stray = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert tracker.getJobIdsForGroup("site-fuzzy-run")
    assert not stray, f"jobs outside the caller's job group: {sorted(stray)}"

    probes = {r["doc_url"]: (r["obj"], r["obj_stage"]) for r in
              out["triples_resolved"].filter("pred = 'endorsed'").collect()}
    # /a/ site picks MoreX (url_dist 1 vs 2); its CC component is
    # {More, MoreX} via the name-level fuzzy edge, min = 'More'
    assert probes["https://w.example.org/a/p1.html"] == ("More", "fuzzy")
    # /b/ site picks MoreZ — a DIFFERENT canonical: the locality flip
    assert probes["https://w.example.org/b/p2.html"] == ("MoreZ", "fuzzy")
    from gitnexus_spark.plans.pipeline import integrity_checks
    checks = integrity_checks(out["nodes"], out["edges"])
    assert checks == {k: 0 for k in checks}

    # the driver/standalone composition (name_resolution_map) answers
    # exactly what the pipeline committed as name_links
    from gitnexus_spark.operators.linking import name_resolution_map
    tri = out["triples_raw"]
    names = tri.select(F.col("subj").alias("name")).unionByName(
        tri.select(F.col("obj").alias("name")))
    cols = ["name", "c_alias", "c_exact", "c_fuzzy"]

    def rows(df):
        return sorted((tuple(r) for r in df.select(*cols).collect()),
                      key=lambda r: r[0])
    committed = rows(out["name_map"])
    assert ("More", None, None, "MoreX") in committed
    assert rows(name_resolution_map(names, out["entities"])) == committed
