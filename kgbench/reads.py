"""The read-path requests of a run and their expected answers.

Lookups are the interactive class: Cypher point and 1-hop lookups on a
seeded head/tail mix of entities, a ``*1..2`` reach from a page,
``lookup_edges`` by endpoint, and ``search_with_index``. Analytic
requests scan the graph: a Cypher top-mentions aggregate, SCC over
``LINKS_TO``, ``pagerank``, ``near_dup_clusters`` over page text and
``ivf_topk`` over seeded embeddings. Every answer is compared with the
one computed from the generator's truth.
"""

from __future__ import annotations

import os
import random
import time

import check
import gen

AUTO_LIMIT = 1000
TOPK = 10
#: recall@k an IVF answer must reach against exact search
MIN_IVF_RECALL = 0.8
#: one power iteration: the operator's whole plan at a third of the
#: default three iterations' cost
PAGERANK_ITERS = 1


class Reads:
    ANALYTIC = ["top_mentions", "links_scc", "pagerank", "near_dup",
                "ivf_topk"]

    def __init__(self, spark, wh: str, writer, corpus, pages_text,
                 inputs: dict, rng: random.Random) -> None:
        """Reads of the latest snapshot of warehouse ``wh``, whose graph
        must equal the one a correct build of ``corpus`` produces."""
        from pyspark.sql import functions as F

        c0 = corpus
        self.spark, self.wh, self.rng = spark, wh, rng
        self.nodes = writer.read(os.path.join(wh, "nodes"))
        self.edges = edges = writer.read(os.path.join(wh, "edges"))
        self.corpus = c0
        self.canon = check.canonical_names(c0)
        self.mentions = check.mention_counts(c0)
        self.head = [k for k, _ in self.mentions.most_common()]
        self.objects: dict[int, dict[str, set[int]]] = {}
        for p in c0.pages.values():
            for pred, s, o in p.triples:
                self.objects.setdefault(gen.entity_of(s), {}).setdefault(
                    pred, set()).add(gen.entity_of(o))
        self.graph = gen.link_graph(c0)
        self.urls = sorted(c0.pages)
        self.links = edges.filter(F.col("type") == "LINKS_TO")
        if pages_text is not None:
            self.text = pages_text.select(
                F.regexp_extract("url", r"p(\d+)\.html$", 1).cast("long")
                .alias("doc_id"), "text")
        self.emb_v, self.emb_q = inputs["emb"], inputs["queries"]
        self.emb = spark.read.parquet(os.path.join(os.path.dirname(wh),
                                                   "input", "emb"))
        self.emb_queries = spark.createDataFrame(
            [(i, [float(x) for x in q]) for i, q in enumerate(self.emb_q)],
            "q_id long, q_vec array<float>")
        self.expected_scc = check.scc_count(self.graph)
        self.ms = {"parse_ms": [], "compile_ms": [], "exec_ms": []}

    # -- request parameters -----------------------------------------------------
    def _entity(self) -> int:
        """Half head (Zipf over the most-mentioned), half tail (uniform)."""
        if self.rng.random() < 0.5:
            return self.head[gen.zipf_index(self.rng, len(self.head))]
        return self.rng.choice(self.head)

    # -- helpers ----------------------------------------------------------------
    def _cypher(self, text: str) -> list:
        from gitnexus_spark.cypher import compile_query, parse

        t0 = time.perf_counter()
        q = parse(text)
        if q.limit is None:
            q.limit = AUTO_LIMIT
        t1 = time.perf_counter()
        df = compile_query(q, self.nodes, self.edges)
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        self.ms["parse_ms"].append((t1 - t0) * 1e3)
        self.ms["compile_ms"].append((t2 - t1) * 1e3)
        self.ms["exec_ms"].append((t3 - t2) * 1e3)
        return rows

    def _collect(self, df) -> list:
        t0 = time.perf_counter()
        rows = df.collect()
        self.ms["exec_ms"].append((time.perf_counter() - t0) * 1e3)
        return rows

    @staticmethod
    def _verdict(got, want, what: str) -> tuple[bool, str]:
        return got == want, f"{what}: got {got!r}, want {want!r}"

    # -- lookups ------------------------------------------------------------------
    def entity_point(self):
        name = self.canon[self._entity()]
        rows = self._cypher(
            f"MATCH (e:Entity {{name: '{name}'}}) RETURN e.name AS name")
        return self._verdict([r["name"] for r in rows], [name], name)

    def entity_mentions(self):
        k = self._entity()
        rows = self._cypher(
            f"MATCH (p:Page)-[:MENTIONS]->(e:Entity {{name: '{self.canon[k]}'}}) "
            "RETURN COUNT(*) AS n")
        return self._verdict(rows[0]["n"], self.mentions[k], self.canon[k])

    def entity_objects(self):
        k = self._entity()
        while k not in self.objects:
            k = self._entity()
        pred = self.rng.choice(sorted(self.objects[k]))
        rows = self._cypher(
            f"MATCH (a:Entity {{name: '{self.canon[k]}'}})-[:{pred.upper()}]->"
            "(b:Entity) RETURN b.name AS name")
        want = sorted(self.canon[o] for o in self.objects[k][pred])
        return self._verdict(sorted(r["name"] for r in rows), want,
                             f"{self.canon[k]} {pred}")

    def page_reach(self):
        url = self.rng.choice(self.urls)
        name = url.rsplit("/", 1)[1]
        rows = self._cypher(
            f"MATCH (a:Page {{name: '{name}'}})-[:LINKS_TO*1..2]->(b:Page) "
            "RETURN DISTINCT b.name AS name")
        want = sorted(u.rsplit("/", 1)[1]
                      for u in check.reach_1_2(self.graph, url))
        return self._verdict(sorted(r["name"] for r in rows), want, name)

    def page_edges(self):
        from gitnexus_spark.operators.graph_queries import lookup_edges

        url = self.rng.choice(self.urls)
        rows = self._collect(lookup_edges(self.spark, self.wh,
                                          src=check.page_id(url)))
        p = self.corpus.pages[url]
        want = len(self.graph[url]) + len({gen.entity_of(m) for m in p.mentions})
        return self._verdict(len(rows), want, url)

    def page_search(self):
        from gitnexus_spark.operators.search_index import search_with_index

        url = self.rng.choice(self.urls)
        needle = "/" + url.rsplit("/", 1)[1]
        rows = self._collect(search_with_index(
            self.spark, self.nodes, os.path.join(self.wh, "search_index"),
            needle))
        return self._verdict([r["id"] for r in rows], [check.page_id(url)],
                             needle)

    # -- analytic -----------------------------------------------------------------
    def top_mentions(self):
        rows = self._cypher(
            "MATCH (p:Page)-[:MENTIONS]->(e:Entity) RETURN e.name AS name, "
            "COUNT(*) AS n ORDER BY n DESC LIMIT 5")
        want = sorted(self.mentions.values(), reverse=True)[:5]
        return self._verdict([r["n"] for r in rows], want, "top mentions")

    def links_scc(self):
        from gitnexus_spark.operators.scc import strongly_connected_components

        n = strongly_connected_components(self.links) \
            .select("scc_id").distinct().count()
        return self._verdict(n, self.expected_scc, "scc count")

    def pagerank(self):
        from gitnexus_spark.operators.graph_queries import pagerank
        from pyspark.sql import functions as F

        ranks = pagerank(self.nodes.filter(F.col("label") == "Page"),
                         self.links, iters=PAGERANK_ITERS)
        r = ranks.agg(F.count("*").alias("n"), F.sum("rank").alias("s")) \
            .collect()[0]
        ranks.unpersist()
        ok = r["n"] == len(self.urls) and abs(r["s"] - 1.0) < 1e-6
        return ok, f"pagerank n={r['n']} sum={r['s']}"

    def near_dup(self):
        from gitnexus_spark.operators.dedup import near_dup_clusters
        from pyspark.sql import functions as F

        r = near_dup_clusters(self.text).agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("docs"),
            F.sum("is_keeper").alias("keepers"),
            F.countDistinct("cluster_id").alias("clusters")).collect()[0]
        ok = (r["n"] == r["docs"] == len(self.urls)
              and r["keepers"] == r["clusters"])
        return ok, f"near_dup {r.asDict()}"

    def ivf_topk(self):
        import numpy as np
        from gitnexus_spark.operators.similarity import ivf_topk

        rows = ivf_topk(self.emb, self.emb_queries, k=TOPK).collect()
        exact = self.emb_q @ self.emb_v.T
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["q_id"], []).append((r["vec_id"], r["score"]))
        recalls, worst = [], 0.0
        for q in range(len(self.emb_q)):
            top = set(np.argsort(-exact[q])[:TOPK].tolist())
            ids = [v for v, _ in got.get(q, [])]
            recalls.append(len(top & set(ids)) / TOPK)
            for v, s in got.get(q, []):
                worst = max(worst, abs(s - float(exact[q, v])))
        ok = min(recalls) >= MIN_IVF_RECALL and worst < 1e-4
        return ok, f"ivf recall {min(recalls)} score err {worst}"
