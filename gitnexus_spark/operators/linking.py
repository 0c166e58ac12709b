"""Pass 3 — four-stage entity linking.

Web retarget of GitNexus's staged call resolution
(reference src/core/ingestion/call-processor.ts:146-300):

  stage 1  exact alias-dictionary match  (ImportMap lookup,
           call-processor.ts:167-217)        -> broadcast hash join
  stage 2  same-document definition match   (file-index lookup,
           call-processor.ts:222-235, trie.ts:119-123) -> the samedoc flag
           is computed SCAN-LOCAL during extraction (the doc's definition
           set is in hand there), so this stage costs zero joins
  stage 2b global exact-name match          (trie name index, trie.ts:89-92)
  stage 3  fuzzy candidate blocking + scoring
           (findEndingWith + import-distance scoring,
           call-processor.ts:240-323, trie.ts:182-208)
           -> ONE character-3-gram blocking join + Jaccard scoring per
              distinct name both exact stages missed, capped at the
              TOP_PER_NAME best candidates (``fuzzy_candidates``). Two
              winners derive from that list without re-blocking: the
              global top-1 per name (``fuzzy_top1``, the name_links
              column and the coreference input) and the per-call-site
              top-1 re-ranked by URL locality (``site_fuzzy_map``:
              host/path prefix distance — the web analogue of
              calculateImportDistance's same-file and sibling-directory
              bonuses).

Determinism: the reference picks ``candidates[0]`` (array order —
nondeterministic under parallelism); we impose a total order
(score DESC, [url-distance ASC,] canonical name ASC) in every top-k
window.

One linking path: KGPipeline, the driver's light pipeline and
``link_mentions`` all compose the same pieces —
``exact_resolution_map`` -> ``missed_candidates`` -> ``with_fuzzy_top1``
(``name_resolution_map`` is that composition) and ``stage_columns`` for
precedence; they differ only in what they persist. Whether fuzzy has any
work is observed, not probed: the exact map's checkpoint job counts the
names both exact stages missed, and no gram join is planned when that
count is zero.

Scale shape: everything name-keyed (alias, global exact, fuzzy) runs on
the DISTINCT-NAME dimension (vocabulary-scale) and joins back onto the
fact table — broadcast when the MEASURED vocabulary size fits the gate
(plans.hints, VERDICT r03 #1), name-keyed shuffle join when it doesn't;
the only doc-granular signal (same-doc match) rides on the rows
themselves as a boolean set during extraction. In the broadcast regime
there is no fact-table shuffle anywhere in linking.

Skew: head entities make both the gram-blocking join and the exact-name
join skewed. Mitigations: (a) grams with document frequency above
``MAX_GRAM_DF`` are dropped from blocking (prefix-filter standard
practice), (b) AQE skew-join is on session-wide, (c) the registry side is
deduped to one row per name before joining.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.ids import node_id
from ..functions.urls import url_distance_expr
from ..plans import hints

CONF_EXACT_ALIAS = 1.0     # ref call-processor.ts stage-1 "exact"
CONF_SAME_DOC = 0.95       # ref stageSameFileMatch, call-processor.ts:222
CONF_GLOBAL_EXACT = 0.9
CONF_FUZZY = 0.6

NGRAM = 3                  # character gram length of the blocking key
MAX_GRAM_DF = 10_000       # grams in more registry names are not keys
TOP_PER_NAME = 8           # candidate-list cap per unresolved name

CANDS_DDL = "name string, cand string, cand_doc string, jaccard double"


def entity_registry(mentions_df: DataFrame) -> DataFrame:
    """Distinct mention surface forms -> entity dimension.

    (entity_id, name, n_docs, first_doc) — the FunctionRegistryTrie
    analogue (reference src/core/graph/trie.ts:17-33). first_doc uses a
    deterministic min, never "first seen" (which is partition-order
    dependent).

    Skew note: head entities put most mention rows on a handful of names,
    so a direct groupBy(name).countDistinct(url) funnels them into a few
    reducers. Decomposed instead as dropDuplicates(name, url) — partial
    (map-side) dedup on well-distributed composite keys — followed by a
    plain count per name. Same result, no hot reducer.
    """
    pairs = mentions_df.select("name", "url").dropDuplicates(["name", "url"])
    return (
        pairs.groupBy("name")
        .agg(F.count("url").alias("n_docs"), F.min("url").alias("first_doc"))
        .select(node_id("Entity", F.col("name")).alias("entity_id"),
                "name", "n_docs", "first_doc")
    )


def exact_missed() -> Column:
    """Fuzzy eligibility over a name map: both exact stages (alias,
    global exact) missed — the reference's stage ordering."""
    return F.col("c_alias").isNull() & F.col("c_exact").isNull()


def _top(df: DataFrame, n: int, keys: list[str], *order: Column) -> DataFrame:
    """The first ``n`` rows per ``keys`` under the total ``order``."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n).drop("rn"))


def _grams(df: DataFrame, key: str, *carry: str) -> DataFrame:
    """(key, *carry, n_grams, gram): the distinct lower-cased character
    NGRAM-grams of ``key``, one row each (a shorter name is one gram)."""
    g = df.select(key, *carry, F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({key}) - {NGRAM - 1}, 1)),"
        f" i -> substring(lower({key}), i, {NGRAM})))").alias("grams"))
    return g.select(key, *carry, F.size("grams").alias("n_grams"),
                    F.explode("grams").alias("gram"))


def fuzzy_candidates(
    probe_names: DataFrame,
    registry: DataFrame,
    fuzzy_threshold: float = 0.5,
) -> DataFrame:
    """Stage-3 blocking: every registry name within ``fuzzy_threshold``
    gram-Jaccard of a probe name, capped at TOP_PER_NAME per name by
    (jaccard DESC, cand ASC). Returns (name, cand, cand_doc, jaccard).

    The expensive gram-blocking join runs ONCE per distinct probe name
    (reference scores candidates per call with import distance,
    call-processor.ts:240-323); the small capped table then feeds
    ``fuzzy_top1`` (global winner) and ``site_fuzzy_map`` (per-site
    winner), so the site dimension never touches the blocking join.
    """
    probe = _grams(probe_names.select("name").dropDuplicates(["name"]),
                   "name")
    build = _grams(registry.select(F.col("name").alias("cand"),
                                   F.col("first_doc").alias("cand_doc")),
                   "cand", "cand_doc").withColumnRenamed("n_grams",
                                                         "cand_grams")
    # prefix-filter: drop ultra-common grams (head-entity skew guard)
    gram_df = build.groupBy("gram").count() \
                   .filter(F.col("count") <= MAX_GRAM_DF)
    build = build.join(gram_df.select("gram"), "gram")

    overlaps = (
        probe.join(build, "gram")
        .groupBy("name", "cand", "cand_doc", "n_grams", "cand_grams")
        .agg(F.count("*").alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_grams") + F.col("cand_grams") - F.col("common")),
        )
        .filter(F.col("jaccard") >= fuzzy_threshold)
        .filter(F.col("name") != F.col("cand"))
    )
    return _top(overlaps, TOP_PER_NAME, ["name"],
                F.desc("jaccard"), F.asc("cand")) \
        .select("name", "cand", "cand_doc", "jaccard")


def fuzzy_top1(candidates: DataFrame) -> DataFrame:
    """Global (locality-free) fuzzy winner per name from a candidate
    table: (name, c_fuzzy, fuzzy_score). Order matches
    fuzzy_candidates' cap (jaccard DESC, cand ASC), so top-1 of the
    capped list IS the global top-1."""
    return _top(candidates, 1, ["name"], F.desc("jaccard"), F.asc("cand")) \
        .select("name", F.col("cand").alias("c_fuzzy"),
                F.col("jaccard").alias("fuzzy_score"))


def site_fuzzy_map(pairs: DataFrame, candidates: DataFrame) -> DataFrame:
    """Per-call-site fuzzy winner: re-rank a name's candidates with the
    site's URL locality (reference scores every candidate per call site,
    call-processor.ts:305-323 / trie.ts:182-208).

    pairs: (doc_url, name) distinct call sites of unresolved names;
    candidates: fuzzy_candidates() output (vocabulary-scale). The
    join is deliberately UNHINTED here: the size-aware caller decides —
    KGPipeline wraps candidates in a gated broadcast when the observed
    vocabulary fits (plans.hints), and AQE picks for everyone else; a
    forced hint at 1e8+ unresolved names would be an OOM (VERDICT r03
    #1). Ranking: jaccard DESC, url_distance(doc_url, cand_doc) ASC,
    cand ASC. Returns (doc_url, name, c_fuzzy, fuzzy_score) — one row
    per input pair that has at least one candidate. The top-1 window
    partitions on (doc_url, name), the pair key itself — evenly
    distributed, no hot reducer.
    """
    p = pairs.select("doc_url", "name").dropDuplicates(["doc_url", "name"])
    j = p.join(candidates, "name").withColumn(
        "url_dist", url_distance_expr(F.col("doc_url"), F.col("cand_doc")))
    return _top(j, 1, ["doc_url", "name"], F.desc("jaccard"),
                F.asc("url_dist"), F.asc("cand")) \
        .select("doc_url", "name", F.col("cand").alias("c_fuzzy"),
                F.col("jaccard").alias("fuzzy_score"))


def exact_resolution_map(
    names: DataFrame,
    registry: DataFrame,
    alias_dict: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Stages 1+2b only: (name, c_alias, c_exact), checkpointed (it
    anchors both the fuzzy probe set and the final map), and the number
    of its names both stages missed — observed on the checkpoint job
    itself, so knowing whether fuzzy has work costs no job."""
    n = names.select("name").dropDuplicates(["name"])
    if alias_dict is not None:
        ad = alias_dict.select(F.col("alias").alias("_alias"),
                               F.col("canonical_name").alias("c_alias"))
        m = n.join(F.broadcast(ad), n.name == F.col("_alias"), "left") \
             .select("name", "c_alias")
    else:
        m = n.select("name", F.lit(None).cast("string").alias("c_alias"))

    reg_names = registry.select(F.col("name").alias("c_exact")) \
                        .dropDuplicates(["c_exact"])
    obs = Observation()
    m = m.join(reg_names, m.name == F.col("c_exact"), "left") \
         .select("name", "c_alias", "c_exact") \
         .observe(obs, F.count_if(exact_missed()).alias("missed")) \
         .localCheckpoint()
    return m, obs.get["missed"]


def missed_candidates(exact_map: DataFrame, n_missed: int,
                      registry: DataFrame) -> DataFrame:
    """The capped fuzzy candidates of the ``n_missed`` names an exact map
    left unresolved — an empty table, with no gram join planned, when it
    left none (an empty fuzzy plan still costs several fixed shuffle
    rounds). KGPipeline commits this as its ``fuzzy_candidates`` table."""
    if n_missed == 0:
        return exact_map.sparkSession.createDataFrame([], CANDS_DDL)
    return fuzzy_candidates(exact_map.filter(exact_missed()), registry)


def with_fuzzy_top1(exact_map: DataFrame, candidates: DataFrame) -> DataFrame:
    """An exact map plus each name's global fuzzy winner: the name_links
    row (name, c_alias, c_exact, c_fuzzy)."""
    return exact_map.join(fuzzy_top1(candidates).select("name", "c_fuzzy"),
                          "name", "left")


def name_resolution_map(
    names: DataFrame,
    registry: DataFrame,
    alias_dict: DataFrame | None = None,
) -> DataFrame:
    """The name-keyed half of linking: (name, c_alias, c_exact, c_fuzzy).

    All three columns are candidate canonical names (NULL = that stage
    found nothing). Vocabulary-scale — computed once, broadcast back onto
    any fact table. The same exact map -> candidates -> top-1
    composition KGPipeline commits as name_links (it additionally keeps
    the candidate table for the per-site re-rank).
    """
    m, n_missed = exact_resolution_map(names, registry, alias_dict)
    return with_fuzzy_top1(m, missed_candidates(m, n_missed, registry))


def fuzzy_links(name_map: DataFrame) -> DataFrame:
    """Name-level fuzzy links of a name map as coreference (CC) input:
    (name, canonical_name, stage='fuzzy')."""
    return (name_map.filter(exact_missed() & F.col("c_fuzzy").isNotNull())
            .select("name", F.col("c_fuzzy").alias("canonical_name"),
                    F.lit("fuzzy").alias("stage")))


def stage_columns(c_alias: Column, samedoc: Column, c_exact: Column,
                  c_fuzzy: Column, name: Column) -> tuple[Column, Column, Column]:
    """Stage precedence, encoded once -> (canonical_name, stage,
    confidence). Mirrors the reference: alias/import map, then
    same-document definition, then global exact, then fuzzy, else
    'failed' (NULL canonical and confidence)."""
    rungs = [(c_alias.isNotNull(), "alias_exact", c_alias, CONF_EXACT_ALIAS),
             (samedoc, "same_doc", name, CONF_SAME_DOC),
             (c_exact.isNotNull(), "name_exact", c_exact, CONF_GLOBAL_EXACT),
             (c_fuzzy.isNotNull(), "fuzzy", c_fuzzy, CONF_FUZZY)]
    canonical = stage = confidence = F   # F.when starts each chain
    for hit, s, canon, conf in rungs:
        canonical = canonical.when(hit, canon)
        stage = stage.when(hit, F.lit(s))
        confidence = confidence.when(hit, F.lit(conf))
    return (canonical, stage.otherwise(F.lit("failed")),
            confidence.otherwise(F.lit(None).cast("double")))


def link_mentions(
    unresolved: DataFrame,
    registry: DataFrame,
    alias_dict: DataFrame | None = None,
) -> DataFrame:
    """Resolve raw surface forms to canonical entities through the
    name-keyed stages (alias, global exact, fuzzy). The same-document
    stage needs the definition flags only extraction has in hand; the
    pipeline's resolve_triples reads them off the triple rows.

    unresolved: (doc_url, name, role) — endpoints to resolve.
    registry:   entity_registry() output (the canonical side).
    alias_dict: (alias, canonical_name), small, broadcast (stage 1).

    Returns (doc_url, name, role, canonical_name, entity_id, stage,
    confidence) with exactly one row per input row (unresolved rows keep
    canonical_name = NULL, stage = 'failed' — the reference's failure
    categorization, call-processor.ts:857-870).
    """
    nmap = name_resolution_map(unresolved.select("name"), registry,
                               alias_dict)
    # Size-gate the map join (VERDICT r03 #1): materialize the
    # vocabulary-scale map once (it feeds the fact join anyway — the
    # checkpoint trades one small write for not recomputing the fuzzy
    # chain), then broadcast ONLY if the measured count fits; an
    # oversized vocabulary joins co-keyed on name instead of OOMing the
    # executors with a forced build side.
    nmap = nmap.localCheckpoint()
    nmap = hints.broadcast_if_small(nmap, nmap.count() * hints.EST_ROW_BYTES,
                                    hints.BROADCAST_MAX_BYTES)
    canonical, stage, confidence = stage_columns(
        F.col("c_alias"), F.lit(False), F.col("c_exact"),
        F.col("c_fuzzy"), F.col("name"))
    return (
        unresolved.join(nmap, "name", "left")
        .select(
            "doc_url", "name", "role",
            canonical.alias("canonical_name"),
            F.when(canonical.isNotNull(),
                   node_id("Entity", canonical)).alias("entity_id"),
            stage.alias("stage"),
            confidence.alias("confidence"),
        )
    )
