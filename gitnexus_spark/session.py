"""SparkSession factory tuned for the KG-construction workload.

Scale posture: these configs are chosen for a multi-executor cluster
reading ~100 TB of WARC-derived pages; local[N] is only the test harness.

- AQE on (runtime coalesce + skew-join split) — head entities
  (Wikipedia-scale hubs) produce skewed join keys; the reference has no
  skew handling at all (candidate lists simply grow,
  call-processor.ts:242-258), we handle it with AQE + explicit salting
  (operators/skew.py).
- Arrow enabled with a bounded batch size so the pandas-UDF extraction
  stages (pass 1/2) keep a flat memory profile per task.
- shuffle.partitions kept moderate locally; on a real cluster this is
  set ~2-3x total cores and AQE coalesces down.
- The codegen class cache holds ``CODEGEN_CACHE_ENTRIES`` compiled
  classes, not Spark's default 100. Generated code is keyed by its
  source text, so a re-run of the same plans hits the cache, but only
  while the working set fits. Measured on kgbench ``web`` (1,000 pages,
  4-core host, Janino compile count from ``CodegenMetrics``): a build
  compiles about 200-215 distinct classes and one refresh batch
  (passes 3-4 re-derived) 265-276. At 100 entries nothing a batch
  compiled survives to the next one, so every refresh recompiled all
  of them; at 1000, four chained refresh batches compiled 66, 0, 0 and
  4 classes. The working set is a property of the plans, not of the
  core count, so the value is a constant. It is a static conf: it must
  be set before the session's first query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Compiled-class cache size: several refresh batches' worth (see above)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "gitnexus-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
