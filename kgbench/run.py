"""KG benchmark: build a knowledge graph from generated web pages, then
serve the workload's requests against it.

Run from the repository root:

    python3 kgbench/run.py --workload web --seed 1 --seconds 5 --trace 0

One run is one process with one Spark session at local[$(nproc)]:

1. set-up (``setup_s``): start the session; generate the pages and
   embeddings from ``--seed`` and write them as parquet input tables;
2. build: one ``KGPipeline.run`` (snapshot writer) into a fresh
   warehouse, then the correctness gate;
3. after the build, one client in a closed loop, repeated until
   ``--seconds`` have passed (always at least once):

   - ``web``, the write path: a re-crawl batch of 1% of the pages goes
     through ``refresh_from_batch``, then Cypher reads check the
     refreshed graph (read-your-writes); the gate runs again at the end;
   - ``longtail``, the read path: seven lookups and every analytic
     request once, over a search index built first.

Every answer and both graphs are checked against the generator's truth
(check.py, reads.py) outside the timed regions; a failed check marks its
operation failed. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns the Spark event log on and
reports the per-layer metrics (eventlog.py). Each run also writes its
record (spans, request walls, failures, metrics) to ``.kgbench_out/``.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import copy
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

#: inputs per workload (pages, long-tail vocabulary)
WORKLOADS = {
    "web": {"pages": 1000},
    "longtail": {"pages": 1000, "entities": 6000, "sentences": 8},
}
#: re-crawl batch as a share of the corpus
BATCH_FRAC = 0.01
#: Scale model of the size-gated broadcasts. The pipeline's gate is
#: 64 MiB (524,288 name rows) against web vocabularies of 1e8+ names;
#: these corpora are ~1e4x smaller, so the session's broadcast threshold
#: and the pipeline's gate are both 256 KiB (2,048 rows). The web
#: vocabulary (~270 names) stays far under it, the long-tail one
#: (~10,600 names) far over it, as at full size.
BROADCAST_GATE = 256 << 10
#: long-tail read list, in this order: seven lookups (entity lookups
#: outnumber page lookups) with every analytic request once between them;
#: the seed picks the entities and pages
READ_LIST = ["top_mentions", "entity_point", "entity_objects", "links_scc",
             "page_edges", "entity_mentions", "pagerank", "entity_objects",
             "page_search", "near_dup", "page_reach", "ivf_topk"]
#: web reads the refreshed graph back (read-your-writes)
WEB_READS = ["entity_point", "entity_objects", "entity_mentions",
             "entity_objects", "top_mentions"]
EMB_ROWS, EMB_DIM, EMB_QUERIES = 4000, 32, 8
#: local[$(nproc)]
CPUS = len(os.sched_getaffinity(0))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def high_percentile(xs) -> float:
    """p90 (nearest rank) of xs."""
    s = sorted(xs)
    return s[min(len(s) - 1, int(0.9 * len(s)))] if s else float("nan")


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.failures: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, tuple[float, str]] = {}
        self.read_ms: dict[str, list[float]] = collections.defaultdict(list)
        self.batch_html_bytes = 0
        self.n_reads = 0

    # -- session ------------------------------------------------------------
    def start_session(self):
        from gitnexus_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.autoBroadcastJoinThreshold": str(BROADCAST_GATE),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": os.path.join(self.work, "eventlog")})
        return get_spark(app_name=f"kgbench-{self.args.workload}",
                         master=f"local[{CPUS}]", extra_conf=conf)

    # -- inputs -------------------------------------------------------------
    def make_inputs(self) -> dict:
        """Generate the corpus and embeddings from the seed and write the
        program's input tables (parquet, like a crawl table)."""
        import gen

        seed, cfg = self.args.seed, self.cfg
        if self.args.workload == "web":
            corpus = gen.web_corpus(seed, cfg["pages"])
        else:
            corpus = gen.longtail_corpus(seed, cfg["pages"], cfg["entities"],
                                         cfg["sentences"])
        inp = os.path.join(self.work, "input")
        _write_pages(corpus.rows(), os.path.join(inp, "pages"), 8)
        emb, queries = _embeddings(seed)
        _write_embeddings(emb, os.path.join(inp, "emb"))
        return {"corpus": corpus, "emb": emb, "queries": queries}

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        from spans import RssSampler, Spans

        t0 = time.perf_counter()
        spark = self.start_session()
        jvm_s = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        self.spans = Spans(sc)
        t1 = time.perf_counter()
        spark.range(1).count()
        first_job_s = time.perf_counter() - t1
        session_s = time.perf_counter() - t0
        # input generation is repeated: its median steadies setup_s
        gen_walls = []
        for _ in range(3):
            t = time.perf_counter()
            self.inputs = self.make_inputs()
            gen_walls.append(time.perf_counter() - t)
        setup_s = session_s + median(gen_walls)
        self.layer.update({"session.jvm_start_s": (jvm_s, "s"),
                           "session.first_job_s": (first_job_s, "s")})
        # the memory sampler reads /proc/<pid>/smaps_rollup of the JVM,
        # which takes its mmap lock: traced runs only
        rss = RssSampler(os.getpid()) if self.args.trace else None
        try:
            with rss or contextlib.nullcontext():
                e2e = self.measure(spark)
        finally:
            t = time.perf_counter()
            stop_session(spark)
            self.teardown_s = time.perf_counter() - t
        e2e["setup_s"] = (setup_s, "s")
        if rss:
            self.layer["memory.peak_pss_mb"] = (rss.peak_kb / 1024.0, "MB")
        return e2e

    def measure(self, spark) -> dict:
        from gitnexus_spark.operators.components import DRIVER_CC_MAX_EDGES
        from gitnexus_spark.plans.pipeline import KGPipeline
        from gitnexus_spark.sources.snapshots import SnapshotWriter
        from gitnexus_spark.synthetic import alias_dictionary

        self.wh = os.path.join(self.work, "kg")
        self.w = SnapshotWriter(spark)
        self.alias = (alias_dictionary(spark)
                      if self.args.workload == "web" else None)
        pages = spark.read.parquet(os.path.join(self.work, "input", "pages"))
        corpus = self.inputs["corpus"]
        n_pages = len(corpus.pages)

        # ---- build ----------------------------------------------------------
        self.attempted += 1
        pipe = KGPipeline(spark, self.wh, alias_dict=self.alias,
                          writer=self.w, broadcast_max_bytes=BROADCAST_GATE)
        try:
            with self.spans.span("build", "build") as sp:
                res = pipe.run(pages)
        except Exception:
            self.fail("build", traceback.format_exc())
            raise
        build_s = sp["wall_s"]
        # on web the refreshed graph's gate runs the integrity counters
        gates = [self.gate("build", corpus,
                           integrity=self.args.workload != "web")]
        if self.args.trace:
            lineage = {r["pass"]: r["rows"] for r in pipe.lineage().collect()}
            merged = res["canonical_map"].filter("name != canonical").count()
            self.layer.update({
                "extract.rows_out": (lineage["extracted"], "count"),
                "linking.fuzzy_candidate_rows":
                    (lineage["fuzzy_candidates"], "count"),
                "components.coref_edges": (merged, "count"),
                "components.driver_path":
                    (int(merged <= DRIVER_CC_MAX_EDGES), "count"),
            })
        self.layer.update({"refresh.affected_names": (0, "count"),
                           "refresh.docs_reresolved": (0, "count")})

        # ---- after the build ------------------------------------------------
        passes = []
        if self.args.workload == "web":
            # the batches mutate a copy of the corpus: the truth of the
            # refreshed graph
            self.state = copy.deepcopy(corpus)
            rng = random.Random(f"batch:{self.args.seed}")
            deadline = time.perf_counter() + self.args.seconds
            while not passes or time.perf_counter() < deadline:
                passes.append(self.refresh_and_read(spark, rng, len(passes)))
            gates.append(self.gate("refresh", self.state, integrity=True))
        else:
            self.search_index()
            reads = self._reads(spark, corpus, res["pages_text"])
            deadline = time.perf_counter() + self.args.seconds
            while not passes or time.perf_counter() < deadline:
                passes.append(self.read_list(reads))

        lookups = self.read_ms["lookup"]
        self.layer["query.read_p50_ms"] = (median(lookups), "ms")
        self.layer["query.read_p90_ms"] = (high_percentile(lookups), "ms")
        for k, name in (("parse_ms", "cypher.parse_ms"),
                        ("compile_ms", "cypher.compile_ms"),
                        ("exec_ms", "query.exec_ms")):
            self.layer[name] = (median(self.read_ms[k]), "ms")
        return {
            "build_s": (build_s, "s"),
            "docs_per_s": (n_pages / build_s, "docs/s"),
            "triples_per_s": (gates[0]["n_resolved"] / build_s, "triples/s"),
            "after_build_s": (median(passes), "s"),
            "triple_precision": (min(g["precision"] for g in gates), "ratio"),
            "triple_recall": (min(g["recall"] for g in gates), "ratio"),
        }

    # -- correctness gate ---------------------------------------------------
    def gate(self, op: str, corpus, integrity: bool) -> dict:
        """Check the committed graph against the generator's truth: edge
        counts per type, triple precision/recall and, with ``integrity``,
        the five integrity counters. Runs outside every timed region; a
        failed check marks ``op`` failed."""
        import check
        import gen
        from gitnexus_spark.plans.pipeline import integrity_checks

        nodes, edges, resolved = (
            self.w.read(os.path.join(self.wh, t))
            for t in ("nodes", "edges", "triples_resolved"))
        got = {r["type"]: r["count"]
               for r in edges.groupBy("type").count().collect()}
        rows = resolved.select("doc_url", "pred", "subj", "obj",
                               "subj_stage", "obj_stage").collect()
        precision, recall = check.score_triples(
            [r[:4] for r in rows if "failed" not in (r[4], r[5])], corpus)
        out = {"precision": precision, "recall": recall,
               "n_resolved": len(rows)}
        problems = []
        bad = check.count_mismatches(got, gen.expected_edge_counts(corpus))
        if bad:
            problems.append(f"edge counts (got, want): {bad}")
        if not got.get("LINKS_TO"):
            problems.append("no LINKS_TO edges")
        if min(precision, recall) < check.MIN_PR:
            problems.append(f"triple P/R {precision:.4f}/{recall:.4f}")
        if integrity:
            counters = integrity_checks(nodes, edges)
            self.layer["gate.integrity_violations"] = (
                sum(counters.values()), "count")
            if any(counters.values()):
                problems.append(f"integrity counters {counters}")
        if problems:
            self.fail(op, "; ".join(problems))
        return out

    def fail(self, op: str, error: str) -> None:
        self.failed += 1
        self.failures.append({"op": op, "error": error})
        print(f"kgbench: {op} failed: {error}", file=sys.stderr)

    # -- web: write path ----------------------------------------------------
    def refresh_and_read(self, spark, rng, step: int) -> float:
        """Draw the next re-crawl batch (untimed), apply it, then read the
        refreshed graph back; return the wall of refresh + reads."""
        import gen
        from gitnexus_spark.plans.refresh import refresh_from_batch

        size = max(3, int(self.cfg["pages"] * BATCH_FRAC))
        urls = gen.recrawl_batch(self.state, rng, size, step)
        rows = self.state.rows(urls)
        self.batch_html_bytes += sum(len(r[2]) for r in rows)
        path = os.path.join(self.work, "input", f"batch-{step}")
        _write_pages(rows, path, 1)
        batch = spark.read.parquet(path)
        self.attempted += 1
        with self.spans.span("after", "after") as sp:
            try:
                with self.spans.span("refresh", "refresh"):
                    stats = refresh_from_batch(spark, self.wh, batch,
                                               alias_dict=self.alias)
            except Exception:
                self.fail("refresh", traceback.format_exc())
                raise
            reads = self._reads(spark, self.state, None)
            for kind in WEB_READS:
                self.request(reads, kind)
        for k in ("affected_names", "docs_reresolved"):
            key = f"refresh.{k}"
            self.layer[key] = (self.layer[key][0] + stats[k], "count")
        return sp["wall_s"]

    # -- long tail: read path -------------------------------------------------
    def search_index(self) -> None:
        """The serving layout the lookups need (the trigram index
        ``KGPipeline(optimize_layout=True)`` would also write)."""
        from gitnexus_spark.operators.search_index import build_search_index

        nodes = self.w.read(os.path.join(self.wh, "nodes"))
        with self.spans.span("search_index", "index"):
            build_search_index(nodes, os.path.join(self.wh, "search_index"))

    def read_list(self, reads) -> float:
        """READ_LIST, each request issued when the previous one has
        returned and its answer has been checked; returns its wall."""
        with self.spans.span("after", "after") as sp:
            for kind in READ_LIST:
                self.request(reads, kind)
        return sp["wall_s"]

    def _reads(self, spark, corpus, pages_text):
        from reads import Reads

        self.n_reads += 1
        return Reads(spark, self.wh, self.w, corpus, pages_text, self.inputs,
                     random.Random(f"reads:{self.args.seed}:{self.n_reads}"))

    def request(self, reads, kind: str) -> None:
        self.attempted += 1
        cls = "analytic" if kind in reads.ANALYTIC else "lookup"
        try:
            with self.spans.span(f"q:{kind}", cls) as sp:
                ok, detail = getattr(reads, kind)()
        except Exception:
            self.fail(f"q:{kind}", traceback.format_exc())
            return
        if not ok:
            self.fail(f"q:{kind}", detail)
        self.read_ms[cls].append(sp["wall_s"] * 1e3)
        self.read_ms[f"q:{kind}"].append(sp["wall_s"] * 1e3)
        for k, v in reads.ms.items():
            self.read_ms[k] += v
        reads.ms = {k: [] for k in reads.ms}


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the session launched (and with it the
    Python workers it forked), and wait until every child has exited."""
    from pyspark import SparkContext

    from spans import child_pids

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while child_pids(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _write_pages(rows, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    cols = list(zip(*rows))
    import datetime as dt
    ts = [t.replace(tzinfo=dt.timezone.utc) for t in cols[1]]
    tbl = pa.Table.from_arrays(
        [pa.array(cols[0]), pa.array(ts, pa.timestamp("us", tz="UTC")),
         pa.array(cols[2], pa.binary()), pa.array(cols[3]),
         pa.array(cols[4])], schema=schema)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _embeddings(seed: int):
    """Clustered unit-norm vectors plus queries drawn near the clusters."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(16, EMB_DIM))
    lab = rng.integers(0, len(centers), EMB_ROWS)
    v = centers[lab] + 0.35 * rng.normal(size=(EMB_ROWS, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    q = centers[rng.integers(0, len(centers), EMB_QUERIES)] \
        + 0.35 * rng.normal(size=(EMB_QUERIES, EMB_DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return v.astype("float32"), q.astype("float32")


def _write_embeddings(v, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tbl = pa.table({"vec_id": pa.array(range(len(v)), pa.int64()),
                    "embedding": pa.array(list(v), pa.list_(pa.float32()))})
    pq.write_table(tbl, os.path.join(path, "part-000.parquet"))


def traced_metrics(bench: Bench, e2e: dict, log_dir: str) -> dict:
    """Per-layer metrics of a traced run, plus this run's own end-to-end
    values under ``trace.``: their gap to an untraced run's is the
    tracing overhead."""
    import eventlog

    t0 = time.perf_counter()
    paths = eventlog.find_log(log_dir)
    log = eventlog.EventLog(paths)
    out = eventlog.layer_metrics(log, bench.spans.spans,
                                 bench.batch_html_bytes / 1e6)
    out.update(bench.layer)
    out["trace.eventlog_mb"] = (sum(map(os.path.getsize, paths)) / 1e6, "MB")
    out["trace.parse_s"] = (time.perf_counter() - t0, "s")
    for k in ("setup_s", "build_s", "after_build_s"):
        out[f"trace.{k}"] = e2e[k]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gitnexus_spark", "__init__.py")):
        print("kgbench: run from the repository root: gitnexus_spark/ is "
              "missing", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    work = os.path.join(root, ".kgbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile
    tempfile.tempdir = None
    bench = Bench(args, work)
    try:
        e2e = bench.run()
        metrics = e2e
        if args.trace:
            metrics = traced_metrics(bench, e2e, os.path.join(work, "eventlog"))
        record = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "failures": bench.failures, "spans": bench.spans.spans,
                  "metrics": metrics, "read_ms": bench.read_ms,
                  "teardown_s": bench.teardown_s}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(root, ".kgbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
