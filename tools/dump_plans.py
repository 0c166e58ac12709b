"""Dump .explain("formatted") for declared queries to plans/r07/.

Usage: python tools/dump_plans.py <before|after> [query ...]
Defaults to the bench heads. Explain only — nothing is executed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_HEADS = [
    "agg_pricing_summary", "top_customers", "window_top_orders",
    "interval_join", "events_sessionize", "dedup_exact",
    "dedup_minhash_pairs", "dedup_clusters", "decontaminate",
    "dedup_simhash", "text_stats",
    "similarity_topk", "similarity_ann_ivf",
    "stratified_sample", "pack_sequences",
    "bloom_decontaminate", "sketch_distinct_rollup",
    "asof_join_events", "asof_join_bucketed",
    # extra non-bench heads worth plan-auditing
    "dedup_jaccard_pairs", "fingerprint", "repetition_stats",
    "heavy_hitter_words", "corpus_prep",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or BENCH_HEADS
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)

    from gitnexus_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="dump-plans")
    qs = entrymod.queries()
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            try:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            except Exception:  # fall back to capturing explain() stdout
                import contextlib
                import io
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - record the failure in the file
            plan = f"EXPLAIN FAILED: {e}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
