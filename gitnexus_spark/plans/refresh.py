"""Incremental re-ingest: a re-crawl batch replaces its urls' extracted
rows, then the pipeline re-derives passes 3-4 (reference
src/core/graph/trie.ts:228-254 — re-adding a file drops its previous
definitions and adds it again, so the registry stays consistent).

``refresh_from_batch`` applies a batch of re-crawled (or new) pages to
a warehouse built by ``KGPipeline`` (or an empty ``out_dir``: the batch
then starts the corpus) in two steps:

- passes 1-2, batch only: the batch is extracted once (the latest fetch
  per url wins) and replaces those urls' rows of ``extracted``.
  Extraction is the costly Python stage, and it stays batch-sized;
- passes 3-4, the pipeline's own builders: ``KGPipeline`` rewrites
  registry -> candidates -> name_links -> fuzzy_site ∥ canonical_map ->
  triples_resolved -> struct/nodes/edges over the committed
  ``extracted`` table, plus any layout artifact (``edges_zorder``,
  ``search_index``) the warehouse already has.

Every table advances one snapshot, so the refresh is time-travelable,
and the refreshed graph equals a rebuild by construction: links from
unchanged pages to a new url, renames that move a canonical
representative and names that leave the corpus all come out as a
rebuild has them.

Cost shape (the trade-off): passes 3-4 cost O(corpus) per batch, not
O(batch). Canonicalization is a global connected-components problem; a
local patch of it pins representatives the current members would not
choose. And ``SnapshotWriter.replace_into`` rewrites every table in
full on each commit, so a batch-sized join plan never made a batch's
writes batch-sized. Batch-proportional maintenance can return with
Iceberg-v2 delete files, once passes 3-4 outgrow extraction.

Fixed cost per batch, kept small:

- the batch is read once: the extraction checkpoint also observes the
  batch's doc count and supplies the url keys of the pre-batch rows, so
  an empty batch returns before committing anything;
- the re-derive runs at the broadcast gate the build recorded
  (``KGPipeline``'s ``_pipeline.json``), so refreshed and rebuilt plans
  agree;
- generated code is reused: the session's codegen cache
  (``session.CODEGEN_CACHE_ENTRIES``) holds a refresh's ~270 classes,
  where Spark's default 100 recompiled all of them every batch;
- the statistics are one query after the commits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import extract as ex
from ..sources.snapshots import SnapshotWriter
from .pipeline import EXTRACTED_PARTITION_BY, KGPipeline


def _latest_per_url(pages: DataFrame) -> DataFrame:
    """Within-batch dedup: two fetches of one url in a batch collapse to
    the latest warc_ts."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), "html")
    return (pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _names_of(rows: DataFrame) -> DataFrame:
    """Mention names and triple endpoints of extracted rows."""
    t = ex.triples(rows)
    return (ex.mentions(rows).select("name")
            .unionByName(t.select(F.col("subj").alias("name")))
            .unionByName(t.select(F.col("obj").alias("name"))))


def refresh_from_batch(spark: SparkSession, out_dir: str,
                       pages_batch: DataFrame,
                       alias_dict: DataFrame | None = None) -> dict:
    """Apply a re-crawl batch: replace its urls in ``extracted``, then
    re-derive passes 3-4 at the broadcast gate the warehouse recorded.

    ``out_dir`` is a ``KGPipeline`` warehouse, or empty (the batch is
    then the whole corpus and the refresh builds the KG). An empty batch
    commits nothing. Returns ``docs`` (distinct urls in the batch),
    ``affected_names`` (names the batch's old or new rows mention or
    state) and ``docs_reresolved`` (every document of the re-derived
    ``triples_resolved``: passes 3-4 re-resolve the whole corpus).
    """
    w = SnapshotWriter(spark)
    path = os.path.join(out_dir, "extracted")
    # pinned: replace_into plans its source twice (key set + new rows),
    # and extraction is the one stage that must read the batch, once.
    # The checkpoint job also counts the batch's docs: one page row per
    # url after _latest_per_url
    obs = Observation()
    new_rows = ex.extract_corpus(
        _latest_per_url(pages_batch).select("url", "warc_ts", "html", "lang"),
        carry_cols=["warc_ts", "lang"],
    ).observe(obs, F.count_if(F.col("item") == "page").alias("docs")) \
        .localCheckpoint()
    docs = obs.get["docs"]
    if docs == 0:
        return {"docs": 0, "affected_names": 0, "docs_reresolved": 0}
    affected = _names_of(new_rows)
    if w.exists(path):
        urls = new_rows.filter(F.col("item") == "page").select("url")
        old_rows = w.read(path).join(urls, "url", "left_semi")  # pre-batch
        affected = affected.unionByName(_names_of(old_rows))
        w.replace_into(path, new_rows, ["url"])
    else:  # an empty warehouse: the batch starts the corpus
        w.write(new_rows, path, EXTRACTED_PARTITION_BY, op="replace")
    out = KGPipeline(spark, out_dir, alias_dict=alias_dict,
                     writer=w)._rederive_from(w.read(path))

    # both counts in one query (distinct rows: a NULL counts once)
    def n_distinct(df: DataFrame, name: str) -> DataFrame:
        return df.distinct().agg(F.count(F.lit(1)).alias(name))

    stats = n_distinct(affected, "affected_names").crossJoin(n_distinct(
        out["triples_resolved"].select("doc_url"), "docs_reresolved"))
    return {"docs": docs, **stats.first().asDict()}
