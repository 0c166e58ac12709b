"""Incremental re-ingest through ALL four passes (VERDICT r03 missing
#2; reference src/core/graph/trie.ts:228-254 — re-adding a file removes
its previous definitions from every index and keeps the registry
consistent).

``refresh_from_batch`` applies a batch of re-crawled (or new) pages to
an existing KG built with ``KGPipeline(..., writer=SnapshotWriter)``:
every derived table — extracted, entities, name_links,
fuzzy_site_links, canonical_map, triples_resolved, nodes, edges — is
updated by keyed replacement, never a full rebuild. Each table advances
exactly one snapshot, so the whole refresh is time-travelable and
idempotent per batch.

Scale shape (the point of doing this on Spark):
- work is proportional to the BATCH plus the affected dimension slices,
  never the corpus: the fact-table scans below are all either
  partition-pruned (item=...) or broadcast-semi-joined against
  batch-scale key sets;
- the vocabulary tables (registry, name_links, canonical_map) are
  dimension-scale by construction — scanning them during a refresh is
  the same cost class as the pipeline's own linking pass;
- canonicalization is patched with a LOCAL connected-components run
  over the affected names plus (a) all members of every previously
  committed component they touch (anchored through the existing
  canonical_map rows, so prior merges are preserved) and (b) their
  normalized-key blocking partners — the standard incremental-CC
  closure. A union that newly bridges two untouched components through
  an untouched name is outside this closure (bounded staleness,
  reconciled by the next full run — the reference's in-memory re-ingest
  has the same local character).

Known staleness (documented, not silent): links FROM unchanged pages TO
a url first seen in this batch are not back-filled (the unchanged docs
are not rescanned); a full pipeline run reconciles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ids import edge_id, node_id
from ..operators import extract as ex
from ..operators.components import NORM_KEY_SQL, canonical_entities
from ..operators.linking import (entity_registry, exact_missed,
                                 exact_resolution_map, fuzzy_candidates,
                                 fuzzy_links, with_fuzzy_top1)
from ..operators.structure import normalize_link_targets, structure_graph
from ..sources.snapshots import SnapshotWriter
from .pipeline import build_fuzzy_site, resolve_triples


def _b(df: DataFrame) -> DataFrame:
    """Batch-scale key sets: always broadcast (bounded by batch size)."""
    return F.broadcast(df)


def _bg(df: DataFrame) -> DataFrame:
    """Closure-scale key sets (component members, candidate re-probe
    universes, flipped-name doc sets): bounded by the delta's BLAST
    RADIUS, not the batch — one hub component or hub candidate can make
    them vocabulary- or corpus-scale (the r03 forced-broadcast hazard,
    hints.py). These frames are localCheckpointed by construction, so
    the gating count is a cached-partition sweep, not a recompute; over
    the 64 MiB estimate the join goes unhinted (keyed shuffle, AQE may
    still upgrade at runtime)."""
    from .hints import EST_ROW_BYTES, broadcast_if_small

    return broadcast_if_small(df, df.count() * EST_ROW_BYTES)


def _latest_per_url(pages: DataFrame) -> DataFrame:
    """Within-batch dedup: two fetches of one url in a batch collapse to
    the latest warc_ts (same rule as the streaming re-ingest sink)."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), "html")
    return (pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _endpoint_names(corpus_rows: DataFrame) -> DataFrame:
    t = ex.triples(corpus_rows)
    return (t.select(F.col("subj").alias("name"))
            .unionByName(t.select(F.col("obj").alias("name")))
            .dropDuplicates(["name"]))


def _names_of(corpus_rows: DataFrame) -> DataFrame:
    return (ex.mentions(corpus_rows).select("name")
            .unionByName(_endpoint_names(corpus_rows))
            .dropDuplicates(["name"]))


def refresh_from_batch(spark: SparkSession, out_dir: str,
                       pages_batch: DataFrame,
                       alias_dict: DataFrame | None = None) -> dict:
    """Apply a re-crawl batch incrementally through passes 1-4.

    Tables under ``out_dir`` must have been written by
    ``KGPipeline(..., writer=SnapshotWriter(spark))``. Returns refresh
    statistics (docs, affected names, docs re-resolved).
    """
    w = SnapshotWriter(spark)

    def T(name: str) -> str:
        return os.path.join(out_dir, name)

    # ---- pass 1+2: extract the batch, replace by url -----------------------
    latest = _latest_per_url(pages_batch)
    changed_urls = latest.select("url").dropDuplicates(["url"]) \
        .localCheckpoint()
    old_rows = (w.read(T("extracted"))
                .join(_b(changed_urls), "url", "left_semi").localCheckpoint())
    new_rows = ex.extract_corpus(
        latest.select("url", "warc_ts", "html", "lang"),
        carry_cols=["warc_ts", "lang"]).localCheckpoint()
    w.replace_into(T("extracted"), new_rows, ["url"])
    ext = w.read(T("extracted"))

    # ---- affected-name universe (batch-scale) ------------------------------
    affected = (_names_of(old_rows).unionByName(_names_of(new_rows))
                .dropDuplicates(["name"]).localCheckpoint())

    # ---- pass 3 (registry): recompute rows for affected names only ---------
    # one item=mention partition-pruned scan, semi-joined to the batch's
    # name set; names nobody mentions anymore are retired via delete_keys
    men_aff = ex.mentions(ext).join(_b(affected), "name", "left_semi")
    w.replace_into(T("entities"), entity_registry(men_aff), ["name"],
                   delete_keys=affected)
    registry = w.read(T("entities"))

    # ---- pass 3 (name map + fuzzy candidates): delta maintenance -----------
    # The committed fuzzy_candidates table makes registry changes
    # tractable: instead of re-blocking the whole vocabulary, re-probe
    # exactly the names whose candidate lists can have changed —
    # (a) names holding a candidate from the affected registry slice
    #     (that row changed or vanished),
    # (b) names GAINING a candidate: one gram join of the global
    #     unresolved set against only the affected registry rows (build
    #     side is batch-scale; over-selection is harmless, the re-probe
    #     against the full registry is exact),
    # (c) endpoints of the batch itself.
    nl_old = w.read(T("name_links"))
    cand_old = w.read(T("fuzzy_candidates"))
    ep_batch = (_endpoint_names(old_rows)
                .unionByName(_endpoint_names(new_rows))
                .dropDuplicates(["name"]))
    ep_elsewhere = nl_old.select("name").join(_b(affected), "name",
                                              "left_semi")
    ep_all = ep_batch.unionByName(ep_elsewhere).dropDuplicates(["name"]) \
        .localCheckpoint()
    m_ep = exact_resolution_map(ep_all, registry, alias_dict)

    # endpoints that left the corpus entirely (item=triple pruned check)
    cand_gone = ep_batch.join(_endpoint_names(new_rows), "name", "left_anti")
    t_all = ex.triples(ext)
    still_used = (t_all.select(F.col("subj").alias("name"))
                  .unionByName(t_all.select(F.col("obj").alias("name")))
                  .join(_b(cand_gone), "name", "left_semi")
                  .dropDuplicates(["name"]))
    gone_ep = cand_gone.join(still_used, "name", "left_anti") \
        .localCheckpoint()

    unres_ep = m_ep.filter(exact_missed()).select("name")
    resolved_now = m_ep.filter(~exact_missed()).select("name")
    unresolved_global = (
        nl_old.filter(exact_missed()).select("name")
        .join(_b(ep_all), "name", "left_anti")
        .unionByName(unres_ep)
        .join(_b(gone_ep), "name", "left_anti")
        .dropDuplicates(["name"]))
    stale = (cand_old
             .join(_b(affected.withColumnRenamed("name", "cand")), "cand",
                   "left_semi").select("name"))
    reg_slice = registry.join(_b(affected), "name", "left_semi")
    gainers = fuzzy_candidates(unresolved_global, reg_slice).select("name")
    re_probe = (stale.unionByName(gainers).unionByName(unres_ep)
                .dropDuplicates(["name"])
                .join(unresolved_global, "name", "left_semi")
                .localCheckpoint())
    cand_new = fuzzy_candidates(re_probe, registry).localCheckpoint()

    # candidate-LIST delta: a changed list can flip a per-site winner
    # even when the global top-1 stands — those docs must re-resolve
    def cand_sig(df: DataFrame) -> DataFrame:
        return df.groupBy("name").agg(
            F.sort_array(F.collect_list(F.struct(
                "cand", "cand_doc", F.round("jaccard", 9).alias("j")))
            ).alias("sig"))

    cand_changed = (
        cand_sig(cand_new).withColumnRenamed("sig", "_sn")
        .join(cand_sig(cand_old.join(_bg(re_probe), "name", "left_semi"))
              .withColumnRenamed("sig", "_so"), "name", "full_outer")
        .filter(~F.col("_sn").eqNullSafe(F.col("_so")))
        .select("name").localCheckpoint())
    w.replace_into(
        T("fuzzy_candidates"), cand_new, ["name"],
        delete_keys=re_probe.unionByName(resolved_now)
        .unionByName(gone_ep).dropDuplicates(["name"]))
    cands = w.read(T("fuzzy_candidates"))

    # name_links upsert: batch endpoints get fresh exact+fuzzy rows;
    # other re-probed names keep their exact columns, new fuzzy winner
    rows_other = (nl_old.join(_bg(re_probe), "name", "left_semi")
                  .join(_b(ep_all), "name", "left_anti")
                  .select("name", "c_alias", "c_exact"))
    nmap_keep = (with_fuzzy_top1(m_ep.unionByName(rows_other), cand_new)
                 .join(_b(gone_ep), "name", "left_anti").localCheckpoint())
    # resolution delta BEFORE committing (old rows still at hand)
    nl_delta = (
        nmap_keep.alias("n")
        .join(nl_old.alias("o"), "name", "left")
        .filter(~(F.col("n.c_alias").eqNullSafe(F.col("o.c_alias"))
                  & F.col("n.c_exact").eqNullSafe(F.col("o.c_exact"))
                  & F.col("n.c_fuzzy").eqNullSafe(F.col("o.c_fuzzy"))))
        .select("name").unionByName(gone_ep).dropDuplicates(["name"])
        .localCheckpoint())
    w.replace_into(T("name_links"), nmap_keep, ["name"],
                   delete_keys=gone_ep)
    name_map = w.read(T("name_links"))

    # ---- pass 3 (canonical map): local CC patch ----------------------------
    cm_old = w.read(T("canonical_map"))
    # closure: affected names + all members of the components they touch
    # + normalized-key blocking partners (vocabulary-scale lookups)
    touched = cm_old.join(_b(affected), "name", "left_semi")
    comp_ids = touched.select(F.col("canonical").alias("_c")) \
        .dropDuplicates(["_c"])
    members = cm_old.join(_b(comp_ids),
                          cm_old.canonical == F.col("_c"), "left_semi")
    aff_nkey = affected.select(F.expr(NORM_KEY_SQL).alias("nkey")) \
        .dropDuplicates(["nkey"])
    partners = (cm_old.withColumn("nkey", F.expr(NORM_KEY_SQL))
                .join(_b(aff_nkey), "nkey", "left_semi").drop("nkey"))
    local = (affected
             .unionByName(members.select("name"))
             .unionByName(partners.select("name"))
             .dropDuplicates(["name"]).localCheckpoint())
    # anchors: prior merges survive as name~canonical equivalences
    anchors = (cm_old.join(_bg(local), "name", "left_semi")
               .filter(F.col("name") != F.col("canonical"))
               .select("name", F.col("canonical").alias("canonical_name"),
                       F.lit("fuzzy").alias("stage")))
    fuzzy_linked = fuzzy_links(name_map.join(_bg(local), "name",
                                             "left_semi"))
    # membership rows for EVERY local name (canonical_entities derives its
    # name universe from registry ∪ linked; dupes collapse there)
    plain = local.select(
        "name", F.lit(None).cast("string").alias("canonical_name"),
        F.lit("endpoint").alias("stage"))
    alias_local = None
    if alias_dict is not None:
        alias_local = alias_dict.join(
            _bg(local.withColumnRenamed("name", "_ln")),
            F.col("alias") == F.col("_ln"), "left_semi")
    reg_local = registry.join(_bg(local), "name", "left_semi")
    cm_new_local = canonical_entities(
        reg_local, anchors.unionByName(fuzzy_linked).unionByName(plain),
        alias_local)
    # names that left the universe entirely get no row at all
    still_known = (registry.select("name")
                   .unionByName(name_map.select("name"))
                   .unionByName(name_map.filter(F.col("c_alias").isNotNull())
                                .select(F.col("c_alias").alias("name")))
                   .dropDuplicates(["name"]))
    vanished = local.join(still_known, "name", "left_anti").localCheckpoint()
    cm_new_local = cm_new_local.join(_bg(vanished), "name", "left_anti") \
        .localCheckpoint()
    # canonical delta on EFFECTIVE canonicals (a missing row means the
    # name canonicalizes to itself — node ids use coalesce(canonical,
    # name), so the delta must too)
    cm_delta = (
        cm_new_local.select("name",
                            F.col("canonical").alias("_new")).alias("n")
        .join(cm_old.join(_bg(local), "name", "left_semi")
              .select("name", F.col("canonical").alias("_old")).alias("o"),
              "name", "full_outer")
        .select("name",
                F.coalesce("_old", "name").alias("old_canonical"),
                F.coalesce("_new", "name").alias("new_canonical"))
        .filter(F.col("old_canonical") != F.col("new_canonical"))
        .localCheckpoint())
    w.replace_into(T("canonical_map"), cm_new_local, ["name"],
                   delete_keys=vanished)
    canon = w.read(T("canonical_map"))

    # ---- pass 3 (resolved triples): re-resolve every doc whose endpoints
    # changed resolution, not just the batch (registry consistency —
    # trie.ts:228-254) --------------------------------------------------------
    flip_names = (nl_delta
                  .unionByName(cm_delta.select("name"))
                  .unionByName(cand_changed)
                  .dropDuplicates(["name"]).localCheckpoint())
    docs_flip = (t_all
                 .select("doc_url", F.col("subj").alias("name"))
                 .unionByName(t_all.select("doc_url",
                                           F.col("obj").alias("name")))
                 .join(_bg(flip_names), "name", "left_semi")
                 .select("doc_url").dropDuplicates(["doc_url"]))
    redocs = (changed_urls.select(F.col("url").alias("doc_url"))
              .unionByName(docs_flip).dropDuplicates(["doc_url"])
              .localCheckpoint())
    raw_redocs = t_all.join(_bg(redocs), t_all.doc_url == redocs.doc_url,
                            "left_semi")
    fuzzy_site_rows = build_fuzzy_site(
        spark, raw_redocs, name_map, cands).localCheckpoint()
    w.replace_into(T("fuzzy_site_links"), fuzzy_site_rows, ["doc_url"],
                   delete_keys=redocs)
    res_old = (w.read(T("triples_resolved"))
               .join(_bg(redocs), "doc_url", "left_semi").localCheckpoint())
    res_new = resolve_triples(raw_redocs, name_map, canon,
                              w.read(T("fuzzy_site_links"))
                              .join(_bg(redocs), "doc_url", "left_semi")) \
        .localCheckpoint()
    w.replace_into(T("triples_resolved"), res_new, ["doc_url"],
                   delete_keys=redocs)
    resolved = w.read(T("triples_resolved"))

    # ---- pass 4: keyed edge/node replacement -------------------------------
    edges_t, nodes_t = T("edges"), T("nodes")
    E_old = w.read(edges_t)

    def ok(df: DataFrame) -> DataFrame:
        return df.filter(F.col("subj_stage") != "failed") \
                 .filter(F.col("obj_stage") != "failed")

    # (a) page-scoped edges of changed urls: MENTIONS + outgoing LINKS_TO
    page_ids = changed_urls.select(
        "url", node_id("Page", F.col("url")).alias("page_id")) \
        .localCheckpoint()
    old_page_edges = (E_old.filter(F.col("type").isin("MENTIONS", "LINKS_TO"))
                      .join(_b(page_ids.select(
                          F.col("page_id").alias("src"))), "src", "left_semi")
                      .select("id").localCheckpoint())
    men_new = (ex.mentions(new_rows).join(canon, "name", "left")
               .join(_b(page_ids), "url")
               .select(F.lit("MENTIONS").alias("type"),
                       F.col("page_id").alias("src"),
                       node_id("Entity",
                               F.coalesce("canonical", "name")).alias("dst"),
                       F.lit(1.0).alias("confidence")))
    # outgoing links: keep only targets that exist as pages (pruned check)
    lt_raw = normalize_link_targets(ex.links(new_rows))
    tgt = lt_raw.select(F.col("target_url").alias("url")) \
        .dropDuplicates(["url"])
    tgt_exists = (ext.filter(F.col("item") == "page").select("url")
                  .join(_b(tgt), "url", "left_semi"))
    lt_new = (lt_raw.join(_b(page_ids), "url")
              .join(_b(tgt_exists.select(F.col("url").alias("target_url"))),
                    "target_url", "left_semi")
              .select(F.lit("LINKS_TO").alias("type"),
                      F.col("page_id").alias("src"),
                      node_id("Page", F.col("target_url")).alias("dst"),
                      F.lit(1.0).alias("confidence")))

    # (b) predicate edges: candidate keys = old ∪ new resolved ok rows of
    # the re-resolved docs; keep exactly the keys that still have support
    def pe_keys(df: DataFrame) -> DataFrame:
        o = ok(df)
        return o.select(F.upper("pred").alias("type"),
                        node_id("Entity", F.col("subj")).alias("src"),
                        node_id("Entity", F.col("obj")).alias("dst")) \
            .dropDuplicates(["type", "src", "dst"])

    cand_keys = pe_keys(res_old).unionByName(pe_keys(res_new)) \
        .dropDuplicates(["type", "src", "dst"]).localCheckpoint()
    supported = (ok(resolved)
                 .select(F.upper("pred").alias("type"),
                         node_id("Entity", F.col("subj")).alias("src"),
                         node_id("Entity", F.col("obj")).alias("dst"),
                         "confidence")
                 .join(_b(cand_keys), ["type", "src", "dst"], "left_semi")
                 .groupBy("type", "src", "dst")
                 .agg(F.max("confidence").alias("confidence")))
    cand_ids = cand_keys.select(
        edge_id(F.col("type"), F.col("src"), F.col("dst")).alias("id"))

    # (c) canonical renames: re-point every edge touching a renamed
    # entity node (one pruned scan of edges against the tiny id map)
    id_map = cm_delta.select(
        node_id("Entity", F.col("old_canonical")).alias("old_id"),
        node_id("Entity", F.col("new_canonical")).alias("new_id")) \
        .dropDuplicates(["old_id"]).localCheckpoint()
    renamed = (E_old
               .join(_b(id_map.select(F.col("old_id").alias("src"))), "src",
                     "left_semi")
               .unionByName(
                   E_old.join(_b(id_map.select(F.col("old_id").alias("dst"))),
                              "dst", "left_semi"))
               .dropDuplicates(["id"])
               # edges being RECOMPUTED (predicate candidates, changed
               # pages) must not ride the rename path too — a stale
               # re-point could resurrect an edge the fresh resolution
               # dropped; re-pointing is only for edges whose source rows
               # are untouched (mentions/links of unchanged pages)
               .join(cand_ids.unionByName(old_page_edges)
                     .dropDuplicates(["id"]), "id", "left_anti")
               .localCheckpoint())
    rename_new = (renamed
                  .join(_b(id_map.withColumnRenamed("old_id", "src")
                           .withColumnRenamed("new_id", "src_new")),
                        "src", "left")
                  .join(_b(id_map.withColumnRenamed("old_id", "dst")
                           .withColumnRenamed("new_id", "dst_new")),
                        "dst", "left")
                  .select("type",
                          F.coalesce("src_new", "src").alias("src"),
                          F.coalesce("dst_new", "dst").alias("dst"),
                          "confidence")
                  .groupBy("type", "src", "dst")
                  .agg(F.max("confidence").alias("confidence")))

    # (d) struct nodes/edges for urls new to the corpus (idempotent by id)
    s_nodes, s_edges = structure_graph(changed_urls.select("url"))
    s_edge_rows = s_edges.select("type", "src", "dst",
                                 F.lit(1.0).alias("confidence"))

    ins_edges = (men_new.unionByName(lt_new).unionByName(supported)
                 .unionByName(rename_new).unionByName(s_edge_rows)
                 .dropDuplicates(["type", "src", "dst"])
                 .select(edge_id(F.col("type"), F.col("src"),
                                 F.col("dst")).alias("id"),
                         "type", "src", "dst", "confidence")
                 .localCheckpoint())
    del_edge_ids = (old_page_edges
                    .unionByName(cand_ids)
                    .unionByName(renamed.select("id"))
                    .dropDuplicates(["id"]))
    w.replace_into(edges_t, ins_edges, ["id"], delete_keys=del_edge_ids)
    E = w.read(edges_t)

    # ---- nodes: insert referenced entity/struct nodes, retire orphans ------
    ent_new = (ins_edges.filter(F.col("type") != "CONTAINS")
               .select(F.col("dst").alias("id"))
               .unionByName(ins_edges.filter(
                   ~F.col("type").isin("MENTIONS", "LINKS_TO", "CONTAINS"))
                   .select(F.col("src").alias("id")))
               .dropDuplicates(["id"]))
    # entity node payload needs the canonical NAME: derive from canon +
    # resolved endpoints (vocabulary-scale)
    ent_names = (canon.select(F.col("canonical").alias("name"))
                 .unionByName(ok(res_new).select(F.col("subj").alias("name")))
                 .unionByName(ok(res_new).select(F.col("obj").alias("name")))
                 .dropDuplicates(["name"])
                 .select(node_id("Entity", F.col("name")).alias("id"),
                         F.lit("Entity").alias("label"),
                         F.col("name"),
                         F.lit(None).cast("string").alias("url")))
    ins_nodes = (s_nodes
                 .unionByName(ent_names.join(_b(ent_new), "id", "left_semi"))
                 .dropDuplicates(["id"]))
    w.merge_into(nodes_t, ins_nodes, ["id"])

    # orphan retirement: old canonicals that nothing references anymore
    cand_node_ids = (
        id_map.select(F.col("old_id").alias("id"))
        .unionByName(res_old.select(
            node_id("Entity", F.col("subj")).alias("id")))
        .unionByName(res_old.select(
            node_id("Entity", F.col("obj")).alias("id")))
        .unionByName(ex.mentions(old_rows).join(cm_old, "name", "left")
                     .select(node_id(
                         "Entity",
                         F.coalesce("canonical", "name")).alias("id")))
        .dropDuplicates(["id"]).localCheckpoint())
    referenced = (E.join(_b(cand_node_ids.withColumnRenamed("id", "dst")),
                         "dst", "left_semi")
                  .select(F.col("dst").alias("id"))
                  .unionByName(
                      E.join(_b(cand_node_ids.withColumnRenamed("id", "src")),
                             "src", "left_semi")
                      .select(F.col("src").alias("id")))
                  .dropDuplicates(["id"]))
    orphan_ids = cand_node_ids.join(referenced, "id", "left_anti")
    empty_nodes = spark.createDataFrame(
        [], "id string, label string, name string, url string")
    w.replace_into(nodes_t, empty_nodes, ["id"], delete_keys=orphan_ids)

    return {
        "docs": changed_urls.count(),
        "affected_names": affected.count(),
        "docs_reresolved": redocs.count(),
    }
