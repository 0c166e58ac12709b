"""Incremental re-ingest through passes 3/4 (VERDICT r03 missing #2,
reference trie.ts:228-254): a re-crawled url that renames an entity must
flip the MENTIONS edge and the Entity node, and the refreshed graph must
equal a from-scratch rebuild on the updated corpus — on the synthetic
fixture and on both kgbench generators, over chained batches."""

import importlib.util
import os
import random
import sys

import pytest
from pyspark.sql import functions as F

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string,"
             " lang string")


def _pipeline_tables(spark, out, pages, writer=None):
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.synthetic import alias_dictionary

    return KGPipeline(spark, out, alias_dict=alias_dictionary(spark),
                      writer=writer).run(pages)


def _node_set(df):
    return {(r["id"], r["label"], r["name"], r["url"])
            for r in df.collect()}


def _edge_set(df):
    return {(r["id"], r["type"], r["src"], r["dst"]) for r in df.collect()}


def _resolved_set(df):
    return {(r["doc_url"], r["pred"], r["subj"], r["obj"],
             r["subj_stage"], r["obj_stage"]) for r in df.collect()}


@pytest.fixture(scope="module")
def base(spark, sf_dir, tmp_path_factory):
    """A 40-page KG built with the snapshot writer + the page picked for
    re-crawl (doc 1: canonical subject 'Entity_1')."""
    from gitnexus_spark.sources.snapshots import SnapshotWriter
    from gitnexus_spark.synthetic import synth_pages

    out = str(tmp_path_factory.mktemp("kg") / "t")
    # deterministic subset (limit() picks arbitrary rows): docs 0..39
    pages = synth_pages(spark, sf_dir).filter(
        F.regexp_extract("url", r"p(\d+)\.html$", 1).cast("int") < 40
    ).localCheckpoint()
    w = SnapshotWriter(spark)
    _pipeline_tables(spark, out, pages, writer=w)
    target = pages.filter(F.col("url").endswith("/p1.html")).collect()[0]
    return {"out": out, "pages": pages, "w": w, "row": target}


def _recrawl_row(spark, row, new_text):
    import datetime as dt

    from gitnexus_spark.synthetic import render_html

    html = render_html(1, row["url"], new_text, [])
    return spark.createDataFrame(
        [(row["url"], row["warc_ts"] + dt.timedelta(days=1), html,
          new_text, row["lang"])],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string")


def test_rename_flips_edge_and_node_and_matches_full_rebuild(
        spark, base, tmp_path):
    from gitnexus_spark.functions.ids import node_id
    from gitnexus_spark.plans.pipeline import integrity_checks
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary

    import shutil

    out = str(tmp_path / "kg")      # work on a copy: base stays pristine
    shutil.copytree(base["out"], out)
    w, row = base["w"], base["row"]
    new_text = "Entity_Zz9 founded Entity_20."
    batch = _recrawl_row(spark, row, new_text)

    stats = refresh_from_batch(spark, out, batch,
                               alias_dict=alias_dictionary(spark))
    assert stats["docs"] == 1

    nodes = w.read(os.path.join(out, "nodes"))
    edges = w.read(os.path.join(out, "edges"))

    # the renamed entity exists as a node, and THIS page mentions it
    new_id = spark.range(1).select(
        node_id("Entity", F.lit("Entity_Zz9"))).collect()[0][0]
    page_id = spark.range(1).select(
        node_id("Page", F.lit(row["url"]))).collect()[0][0]
    assert nodes.filter(F.col("id") == new_id).count() == 1
    assert edges.filter((F.col("type") == "MENTIONS")
                        & (F.col("src") == page_id)
                        & (F.col("dst") == new_id)).count() == 1

    # graph integrity still holds after the keyed surgery
    ic = integrity_checks(nodes, edges)
    assert all(v == 0 for v in ic.values()), ic

    # ground truth: a full rebuild over the updated corpus produces the
    # SAME nodes / edges / resolved triples (confidence excluded: the
    # batch dedup keeps an arbitrary supporting row's confidence)
    updated = (base["pages"].filter(F.col("url") != row["url"])
               .unionByName(batch))
    full = _pipeline_tables(spark, str(tmp_path / "rebuild"), updated)
    assert _node_set(nodes) == _node_set(full["nodes"])
    assert _edge_set(edges) == _edge_set(full["edges"])
    assert _resolved_set(w.read(os.path.join(out, "triples_resolved"))) \
        == _resolved_set(full["triples_resolved"])

    # every derived table advanced as snapshots (time travel to the
    # pre-refresh graph still works)
    hist = w.history(os.path.join(out, "edges"))
    assert len(hist) == 2
    pre = w.read(os.path.join(out, "edges"), snapshot_id=1)
    assert pre.filter((F.col("src") == page_id)
                      & (F.col("dst") == new_id)).count() == 0


def test_new_url_appends_through_all_passes(spark, base, tmp_path):
    """A url first seen in the refresh batch lands as a Page node with
    structure, mentions, and predicate edges — equal to a full rebuild
    (test_inbound_links_to_new_url_are_back_filled covers a new url that
    unchanged pages already link to)."""
    import datetime as dt

    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary, render_html

    import shutil

    out = str(tmp_path / "kg")
    shutil.copytree(base["out"], out)
    w, row = base["w"], base["row"]
    url = row["url"].replace("/p1.html", "/p90001.html")
    text = "Entity_3 endorsed Entity_20."
    batch = spark.createDataFrame(
        [(url, row["warc_ts"] + dt.timedelta(days=2),
          render_html(90001, url, text, []), text, row["lang"])],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string")
    refresh_from_batch(spark, out, batch,
                       alias_dict=alias_dictionary(spark))

    nodes = w.read(os.path.join(out, "nodes"))
    assert nodes.filter((F.col("label") == "Page")
                        & (F.col("url") == url)).count() == 1

    updated = base["pages"].unionByName(batch)
    full = _pipeline_tables(spark, str(tmp_path / "rebuild2"), updated)
    assert _node_set(nodes) == _node_set(full["nodes"])
    assert _edge_set(w.read(os.path.join(out, "edges"))) \
        == _edge_set(full["edges"])


def test_inbound_links_to_new_url_are_back_filled(spark, sf_dir, base,
                                                  tmp_path):
    """An unchanged page already links to a url outside the corpus; when
    that url arrives in a batch, the LINKS_TO edge from the unchanged
    page appears, and the graph equals a rebuild."""
    import shutil

    from gitnexus_spark.operators import extract as ex
    from gitnexus_spark.operators.structure import normalize_link_targets
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary, synth_pages

    out = str(tmp_path / "kg")
    shutil.copytree(base["out"], out)
    w = base["w"]
    links = normalize_link_targets(ex.links(w.read(os.path.join(
        out, "extracted"))))
    # the smallest dangling target that is a page of the full fixture
    dangling = (links.join(base["pages"].select(
        F.col("url").alias("target_url")), "target_url", "left_anti"))
    batch = (synth_pages(spark, sf_dir)
             .join(dangling.select(F.col("target_url").alias("url")),
                   "url", "left_semi")
             .orderBy("url").limit(1).localCheckpoint())
    new_url = batch.collect()[0]["url"]
    linkers = {r["url"] for r in
               dangling.filter(F.col("target_url") == new_url).collect()}
    assert linkers, "fixture has no unchanged page linking to new_url"

    refresh_from_batch(spark, out, batch,
                       alias_dict=alias_dictionary(spark))

    edges = w.read(os.path.join(out, "edges"))
    got = {r["src"] for r in edges.filter(
        (F.col("type") == "LINKS_TO")
        & (F.col("dst") == _ids(spark, "Page", [new_url])[0])).collect()}
    assert got == set(_ids(spark, "Page", sorted(linkers)))

    full = _pipeline_tables(spark, str(tmp_path / "rebuild"),
                            base["pages"].unionByName(batch))
    assert _edge_set(edges) == _edge_set(full["edges"])
    assert _node_set(w.read(os.path.join(out, "nodes"))) \
        == _node_set(full["nodes"])


def test_refresh_of_a_default_build(spark, base, tmp_path):
    """A warehouse built by the default ``KGPipeline(spark, out)`` (no
    writer passed) takes a refresh."""
    from gitnexus_spark.plans.pipeline import integrity_checks
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary

    out = str(tmp_path / "kg")
    _pipeline_tables(spark, out, base["pages"])
    batch = _recrawl_row(spark, base["row"], "Entity_Zz9 founded Entity_20.")
    refresh_from_batch(spark, out, batch, alias_dict=alias_dictionary(spark))

    w = base["w"]
    nodes, edges = (w.read(f"{out}/{t}") for t in ("nodes", "edges"))
    assert nodes.filter(F.col("name") == "Entity_Zz9").count() == 1
    ic = integrity_checks(nodes, edges)
    assert ic == {k: 0 for k in ic}
    assert len(w.history(f"{out}/edges")) == 2


def test_refresh_into_an_empty_dir_builds_the_kg(spark, base, tmp_path):
    """A batch refreshed into an empty out_dir is the whole corpus: the
    graph equals ``KGPipeline.run`` over the same pages."""
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary

    batch = base["pages"].filter(
        F.regexp_extract("url", r"p(\d+)\.html$", 1).cast("int") < 8
    ).localCheckpoint()
    out, w = str(tmp_path / "kg"), base["w"]
    stats = refresh_from_batch(spark, out, batch,
                               alias_dict=alias_dictionary(spark))
    assert stats["docs"] == 8

    full = _pipeline_tables(spark, str(tmp_path / "rebuild"), batch)
    for t, rows in (("nodes", _node_set), ("edges", _edge_set),
                    ("triples_resolved", _resolved_set)):
        assert rows(w.read(f"{out}/{t}")) == rows(full[t]), t
    # extracted keeps the pipeline's item partitioning
    assert w.history(f"{out}/extracted")[-1]["partition_by"] == ["item"]


def _ids(spark, label, values):
    from gitnexus_spark.functions.ids import node_id

    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(node_id(label, F.col("v"))).collect()]


@pytest.mark.parametrize("zorder", [False, True])
def test_lookup_edges_reads_the_refreshed_snapshot(spark, base, tmp_path,
                                                   zorder):
    """After a rename refresh the edges table has two snapshots;
    lookup_edges returns exactly the current snapshot's edges of the
    page, its new MENTIONS edge among them — also when the warehouse has
    an edges_zorder layout, which the refresh rewrites."""
    import shutil

    from gitnexus_spark.operators.graph_queries import lookup_edges
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary

    out = str(tmp_path / "kg")
    shutil.copytree(base["out"], out)
    w, row = base["w"], base["row"]
    if zorder:   # resume: every pass is kept, the layout is added
        KGPipeline(spark, out, alias_dict=alias_dictionary(spark), writer=w,
                   optimize_layout=True).run(base["pages"])
    batch = _recrawl_row(spark, row, "Entity_Zz9 founded Entity_20.")
    refresh_from_batch(spark, out, batch, alias_dict=alias_dictionary(spark))

    page_id, new_id = (_ids(spark, "Page", [row["url"]])[0],
                       _ids(spark, "Entity", ["Entity_Zz9"])[0])
    got = _edge_set(lookup_edges(spark, out, src=page_id))
    assert ("MENTIONS", new_id) in {(t, d) for _, t, _, d in got}
    assert got == _edge_set(w.read(os.path.join(out, "edges"))
                            .filter(F.col("src") == page_id))
    assert os.path.exists(os.path.join(out, "edges_zorder")) == zorder


def _kgbench_gen():
    """kgbench's page generators, imported from the benchmark itself."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "kgbench", "gen.py")
    spec = importlib.util.spec_from_file_location("kgbench_gen", path)
    mod = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)   # dataclasses look their module up
    return mod


def _gen_frame(spark, corpus, urls=None):
    return spark.createDataFrame(corpus.rows(urls), PAGES_DDL)


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("workload", ["web", "longtail"])
def test_refresh_equals_rebuild_on_generators(spark, tmp_path, workload,
                                              seed):
    """Two chained re-crawl batches (unchanged re-fetches, rewritten
    pages, new urls) over a kgbench corpus: the integrity counters stay
    zero after each batch, and the refreshed graph equals a rebuild of
    the mutated corpus."""
    from gitnexus_spark.plans.pipeline import KGPipeline, integrity_checks
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.sources.snapshots import SnapshotWriter
    from gitnexus_spark.synthetic import alias_dictionary

    gen = _kgbench_gen()
    n_pages = 150
    if workload == "web":
        corpus = gen.web_corpus(seed, n_pages)
        alias = alias_dictionary(spark)
    else:
        corpus = gen.longtail_corpus(seed, n_pages, 6 * n_pages, 8)
        alias = None
    out = str(tmp_path / "kg")
    w = SnapshotWriter(spark)
    KGPipeline(spark, out, alias_dict=alias, writer=w).run(
        _gen_frame(spark, corpus))

    rng = random.Random(f"batch:{seed}")
    for step in range(2):
        urls = gen.recrawl_batch(corpus, rng, 6, step)
        refresh_from_batch(spark, out, _gen_frame(spark, corpus, urls),
                           alias_dict=alias)
        ic = integrity_checks(w.read(os.path.join(out, "nodes")),
                              w.read(os.path.join(out, "edges")))
        assert ic == {k: 0 for k in ic}, (step, ic)

    full = KGPipeline(spark, str(tmp_path / "rebuild"),
                      alias_dict=alias).run(_gen_frame(spark, corpus))

    def cur(t):
        return w.read(os.path.join(out, t))

    assert _node_set(cur("nodes")) == _node_set(full["nodes"])
    assert _edge_set(cur("edges")) == _edge_set(full["edges"])
    assert _resolved_set(cur("triples_resolved")) \
        == _resolved_set(full["triples_resolved"])
    assert {tuple(r) for r in cur("canonical_map").collect()} \
        == {tuple(r) for r in full["canonical_map"].collect()}


def _pages(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [(u, dt.datetime(2024, 1, day), f"<p>{t}</p>".encode(), t, "en")
         for u, day, t in rows], PAGES_DDL)


def test_refresh_statistics_pinned(spark, tmp_path):
    """Every refresh statistic on a hand-checked fixture. The batch
    re-crawls u1 and brings a new url u4 twice (the older fetch loses).
    ``affected_names``: the new rows' names {Acme, Omega, Sigma, Delta}
    plus old u1's {Acme, Zorg, This} ('This' is a stop entity, so it is
    no mention, but it is a triple subject) = 6. ``docs_reresolved``:
    the documents of the re-derived triples_resolved = u1-u4 (u5 states
    no triple) = 4."""
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.plans.refresh import refresh_from_batch

    out = str(tmp_path / "kg")
    KGPipeline(spark, out).run(_pages(spark, [
        ("u1", 1, "Acme founded Zorg. This visited Acme."),
        ("u2", 1, "Beta acquired Gamma."),
        ("u3", 1, "Delta endorsed Beta."),
        ("u5", 1, "Nothing happened."),
    ]))
    stats = refresh_from_batch(spark, out, _pages(spark, [
        ("u1", 2, "Acme acquired Omega."),
        ("u4", 3, "Sigma joined Delta."),
        ("u4", 2, "Kappa left Delta."),
    ]))
    assert stats == {"docs": 2, "affected_names": 6, "docs_reresolved": 4}


def test_second_refresh_reuses_compiled_code(spark, base, tmp_path):
    """Two consecutive refreshes on one session: the second compiles
    (Janino, read from CodegenMetrics) only a small fraction of what the
    first did, because the codegen cache holds a refresh's working set
    (about 270 classes; Spark's default cache holds 100)."""
    import shutil

    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import alias_dictionary

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    out = str(tmp_path / "kg")
    shutil.copytree(base["out"], out)
    counts = []
    for text in ("Entity_Zz9 founded Entity_20.",
                 "Entity_Zz8 acquired Entity_21."):
        before = compiles()
        refresh_from_batch(spark, out, _recrawl_row(spark, base["row"], text),
                           alias_dict=alias_dictionary(spark))
        counts.append(compiles() - before)
    assert counts[1] <= 40, counts
