"""spark-submit entry point for the graph READ path: SQL over a built
knowledge-graph warehouse.

The reference exposes its graph through a query box (regex-Cypher /
Kuzu Cypher, query-engine.ts:46-132); here the equivalent surface is
ANSI SQL over the `nodes` / `edges` views of a pipeline output
directory — or the Cypher subset via --cypher (gitnexus_spark.cypher) —
with the same auto-LIMIT guardrail the reference applies to unbounded
statements (query-optimization.ts:412-422).

    spark-submit --py-files gitnexus_spark.zip jobs/query.py \
        --warehouse /path/to/kg_out \
        --sql "SELECT label, COUNT(*) n FROM nodes GROUP BY label"

    python jobs/query.py --warehouse /tmp/kg_job --cypher \
        "MATCH (p:Page)-[:MENTIONS]->(e:Entity) RETURN e.name, COUNT(p) AS n"

Local smoke:

    python jobs/query.py --warehouse /tmp/kg_job \
        --sql "SELECT type, COUNT(*) n FROM edges GROUP BY type" --json

Prints query results (tab-separated, or one JSON object per row with
--json) to stdout; row output is capped by the guardrail unless the
statement carries its own LIMIT.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True,
                    help="pipeline --output dir (contains nodes/, edges/)")
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--sql", help="ANSI SQL over nodes/edges")
    g.add_argument("--cypher", help="Cypher-subset query over the graph")
    ap.add_argument("--auto-limit", type=int, default=1000,
                    help="LIMIT appended to statements that have none")
    ap.add_argument("--json", action="store_true",
                    help="one JSON object per row instead of TSV")
    ap.add_argument("--cache-dir", default=None,
                    help="query-result cache dir: a repeated or "
                         "paraphrased --question re-reads the committed "
                         "rows instead of re-running (plans/query_cache)")
    ap.add_argument("--question", default=None,
                    help="natural-language question the statement answers "
                         "(cache match key; defaults to the statement)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from gitnexus_spark.operators.graph_queries import (guarded_sql,
                                                        register_views)
    from gitnexus_spark.session import get_spark
    from gitnexus_spark.sources.snapshots import SnapshotWriter

    spark = get_spark(app_name="gitnexus-query", master=args.master)
    w = SnapshotWriter(spark)   # current snapshot of each table
    nodes = w.read(os.path.join(args.warehouse, "nodes"))
    edges = w.read(os.path.join(args.warehouse, "edges"))
    register_views(nodes, edges)
    def build():
        if args.cypher:
            from gitnexus_spark.cypher import cypher_query

            return cypher_query(nodes, edges, args.cypher,
                                auto_limit=args.auto_limit)
        return guarded_sql(spark, args.sql, auto_limit=args.auto_limit)

    stmt = args.cypher or args.sql
    if args.cache_dir:
        # reference behavior: the chat layer answers a repeated/paraphrased
        # question from its query cache (query-cache.ts getBestQuery)
        # instead of re-executing; here the cached artifact is the
        # materialized result table itself.
        from gitnexus_spark.plans.query_cache import QueryCache

        qc = QueryCache(spark, args.cache_dir)
        df, was_hit = qc.get_or_run(args.question or stmt, stmt, build)
        print(f"cache: {'hit' if was_hit else 'miss'}", file=sys.stderr)
    else:
        df = build()
    cols = df.columns
    if args.json:
        for row in df.toLocalIterator():
            print(json.dumps(dict(zip(cols, [row[c] for c in cols])),
                             default=str))
    else:
        print("\t".join(cols))
        for row in df.toLocalIterator():
            print("\t".join("" if row[c] is None else str(row[c])
                            for c in cols))
    spark.stop()


if __name__ == "__main__":
    main()
