"""S7: Iceberg-style table semantics over plain parquet — snapshots,
tags, time travel, MERGE-INTO re-ingest — with no Iceberg runtime jar.

The reference re-ingests updated repos into its trie in place
(src/core/graph/trie.ts:228-254: re-adding a node replaces the prior
version and keeps the registry consistent); the production analogue for
this pipeline is an Iceberg catalog (snapshot per pass, tags, MERGE INTO
for incremental crawls). That jar needs a network fetch this sandbox
doesn't have, so this module implements the SEMANTICS at rest with
Spark-native primitives:

- every write is a NEW immutable snapshot directory (`snap-<n>/`) —
  readers of older snapshots are never disturbed (Iceberg's core
  guarantee);
- a tiny JSON manifest (`_snapshots.json`) is the commit log: committed
  atomically via write-temp + os.replace, one entry per snapshot with
  timestamp / operation / parent / row count (rows via Observation — no
  extra count job) / read schema (so a read infers nothing: no footer
  job);
- time travel = resolving the manifest by snapshot id, tag, or
  as-of-timestamp, then reading that directory;
- MERGE INTO = a declarative full-outer upsert plan (`merge_frames`)
  whose result is committed as the next snapshot.

The manifest is driver-side METADATA (a few bytes per snapshot), never
data — at 10^12 rows the data path is still pure executor-parallel
parquet IO; only the commit record goes through the driver, exactly as
an Iceberg catalog commit does.

This is the one table format of the KG pipeline: every table
`plans.pipeline.KGPipeline` commits is a snapshot table, so every pass
checkpoint has history, its resume gate reads the manifest, and a
refresh advances it by one snapshot.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_snapshots.json"


def _load_manifest(path: str) -> list[dict]:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


@contextmanager
def _manifest_lock(path: str):
    """Per-table commit mutex (Iceberg's catalog CAS, locally).

    Data files are written OUTSIDE this lock (to a uniquely-named temp
    dir); only the allocate-id / rename / manifest-append critical
    section holds it, so concurrent committers to one table serialize
    for milliseconds, both snapshots land, and history stays linear —
    no lost commit. flock serializes across processes AND across
    threads (each holder opens its own file description).
    """
    os.makedirs(path, exist_ok=True)
    fd = os.open(os.path.join(path, MANIFEST + ".lock"),
                 os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _commit(path: str, entries: list[dict]) -> None:
    """Atomic manifest replace: a torn write can never half-commit."""
    tmp = os.path.join(path, MANIFEST + f".tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(entries, f, indent=1)
    os.replace(tmp, os.path.join(path, MANIFEST))


def _read_schema(schema: StructType,
                 partition_by: list[str] | None) -> StructType:
    """The schema a partitioned parquet read yields: the data columns,
    then the partition columns (the directory encoding moves them to
    the tail)."""
    pby = set(partition_by or [])
    return StructType([f for f in schema.fields if f.name not in pby]
                      + [f for f in schema.fields if f.name in pby])


def merge_frames(target: DataFrame, source: DataFrame,
                 key_cols: list[str]) -> DataFrame:
    """MERGE INTO semantics as a declarative plan (no writes):

    WHEN MATCHED THEN UPDATE (source row wins, column-wise)
    WHEN NOT MATCHED THEN INSERT (source-only rows appended)
    target-only rows are kept unchanged.

    One full-outer shuffle join on the merge key — the same physical
    shape Iceberg's copy-on-write MERGE plans; a small source side
    broadcast-joins automatically under AQE.
    """
    data_cols = [c for c in target.columns if c not in key_cols]
    t = target.alias("t")
    # Presence marker, not a nullable key: the join condition is
    # null-safe, so a NULL merge key is a legitimate match — inferring
    # "matched" from key IS NOT NULL would silently keep stale target
    # data for it. The lit(True) marker survives the full-outer join
    # exactly when a source row is present.
    s = (source.select(*target.columns)
         .withColumn("_s_present", F.lit(True)).alias("s"))
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols]
    joined = t.join(s, cond, "full_outer")
    picked = [F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
              for k in key_cols]
    matched = F.col("s._s_present").isNotNull()
    picked += [F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
               .alias(c) for c in data_cols]
    return joined.select(*picked)


class SnapshotWriter:
    """Snapshot-at-rest table writer: write/read/exists plus history."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    # -- commit path --------------------------------------------------------
    def write(self, df: DataFrame, path: str,
              partition_by: list[str] | None = None,
              op: str = "overwrite", tag: str | None = None) -> int:
        # Data lands in a uniquely-named staging dir with NO lock held —
        # the expensive executor-parallel parquet write never serializes
        # committers. Only the id-allocate / rename / manifest-append
        # runs under the per-table lock (Iceberg's optimistic catalog
        # commit, minus the retry: the lock makes conflict impossible
        # instead of detected-and-retried).
        stage = os.path.join(path, f".snap-stage-{uuid.uuid4().hex[:12]}")
        obs = Observation(os.path.basename(stage))
        w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write \
            .mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        try:
            w.parquet(stage)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)  # no partial leak
            raise
        with _manifest_lock(path):
            manifest = _load_manifest(path)
            next_id = (manifest[-1]["snapshot_id"] + 1) if manifest else 1
            # Crash safety: a kill between a previous writer's rename and
            # its manifest append leaves an orphan snap-N dir with no
            # manifest row. Never re-target an existing dir (os.replace
            # onto a non-empty dir raises, wedging the table) — skip
            # forward past any on-disk snap-* ids instead; the orphan is
            # simply dead data, reclaimable by expiry tooling.
            on_disk = [int(m.group(1)) for d in os.listdir(path)
                       if (m := re.match(r"snap-(\d+)$", d))]
            snap_id = max([next_id - 1] + on_disk) + 1
            os.replace(stage, os.path.join(path, f"snap-{snap_id}"))
            manifest.append({
                "snapshot_id": snap_id,
                "parent_id": (manifest[-1]["snapshot_id"]
                              if manifest else None),
                "ts": round(time.time(), 3),
                "op": op,
                "rows": obs.get["rows"],
                "dir": f"snap-{snap_id}",
                "tags": [tag] if tag else [],
                "partition_by": partition_by or [],
                "schema": _read_schema(df.schema, partition_by).jsonValue(),
            })
            _commit(path, manifest)
        return snap_id

    def merge_into(self, path: str, source: DataFrame,
                   key_cols: list[str], tag: str | None = None) -> int:
        """Incremental re-ingest (the trie.ts:228-254 analogue): upsert
        `source` into the table's current snapshot, commit as a new one.
        Copy-on-write: readers of the previous snapshot are unaffected.

        Concurrency: commits never get lost (per-table commit lock),
        but read-compute-commit is read-committed, not serializable —
        two simultaneous merges each base on the snapshot current at
        their read. Serializable upserts should be routed through one
        committer per table (the streaming re-ingest sink already is).
        """
        merged = merge_frames(self.read(path), source, key_cols)
        part = _load_manifest(path)[-1].get("partition_by") or None
        return self.write(merged, path, partition_by=part, op="merge",
                          tag=tag)

    def replace_into(self, path: str, source: DataFrame,
                     match_cols: list[str], tag: str | None = None) -> int:
        """Iceberg dynamic-overwrite (`overwritePartitions`) analogue:
        every target row whose match_cols tuple occurs in `source` is
        replaced by the source rows for that tuple (delete + insert),
        all other rows are untouched. This is the correct merge for
        one-to-many DERIVED tables keyed by a parent — e.g. a re-crawled
        url replaces the page's whole extracted row set, however many
        rows it previously produced (row-level merge_into can't shrink a
        group). One anti-join on the key set; AQE broadcasts it when the
        batch is small."""
        if not self.exists(path):
            return self.write(source, path, op="replace", tag=tag)
        keys = source.select(*match_cols).dropDuplicates(match_cols)
        kept = self.read(path).join(keys, match_cols, "left_anti")
        part = _load_manifest(path)[-1].get("partition_by") or None
        return self.write(kept.unionByName(source), path,
                          partition_by=part, op="replace", tag=tag)

    def tag(self, path: str, snapshot_id: int, name: str) -> None:
        with _manifest_lock(path):
            manifest = _load_manifest(path)
            for e in manifest:
                if e["snapshot_id"] == snapshot_id:
                    if name not in e["tags"]:
                        e["tags"].append(name)
                    _commit(path, manifest)
                    return
        raise KeyError(f"no snapshot {snapshot_id} in {path}")

    def expire_snapshots(self, path: str, keep_last: int = 2) -> list[int]:
        """Drop data dirs of old untagged snapshots (manifest keeps the
        history record). Tagged snapshots are pinned, like Iceberg refs."""
        import shutil

        with _manifest_lock(path):
            manifest = _load_manifest(path)
            expired = []
            for e in manifest[:-keep_last] if keep_last else manifest:
                if e["tags"] or e.get("expired"):
                    continue
                shutil.rmtree(os.path.join(path, e["dir"]),
                              ignore_errors=True)
                e["expired"] = True
                expired.append(e["snapshot_id"])
            _commit(path, manifest)
        return expired

    # -- maintenance --------------------------------------------------------
    def file_stats(self, path: str, snapshot_id: int | None = None) -> dict:
        """(n_files, bytes) of a snapshot's data — the compaction
        trigger metric. Driver-side metadata walk, like reading an
        Iceberg manifest list; never touches row data."""
        e = self._resolve(path, snapshot_id)
        n = b = 0
        for root, _dirs, files in os.walk(os.path.join(path, e["dir"])):
            for fn in files:
                if fn.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, fn))
        return {"n_files": n, "bytes": b, "snapshot_id": e["snapshot_id"]}

    def compact(self, path: str, target_file_bytes: int = 128 * 1024 * 1024,
                tag: str | None = None) -> int:
        """Bin-pack the current snapshot into right-sized files and
        commit the rewrite as a new snapshot (Iceberg's
        rewrite_data_files). Streaming re-ingest commits a snapshot per
        micro-batch, each a sliver of parquet — at 10^12 rows that's
        scan-killing file-count metadata pressure; periodic compaction
        is what keeps the read path one healthy scan.

        The rewrite is a repartition to ceil(bytes/target) tasks —
        for a partitioned table, hash-distributed on the partition
        columns so every partition directory collapses to as few files
        as its share of tasks (one file minimum; a single giant
        partition therefore compacts to ONE file — split such tables by
        a finer partition spec first). Data content is unchanged;
        readers of prior snapshots are unaffected (copy-on-write)."""
        cur = self._resolve(path)
        stats = self.file_stats(path, cur["snapshot_id"])
        n_out = max(1, -(-stats["bytes"] // target_file_bytes))
        df = self.read(path, cur["snapshot_id"])
        part = cur.get("partition_by") or None
        if part:
            df = df.repartition(n_out, *part)
        else:
            df = df.repartition(n_out)
        return self.write(df, path, partition_by=part, op="compact", tag=tag)

    def diff(self, path: str, from_id: int, to_id: int,
             key_cols: list[str]) -> DataFrame:
        """Key-level change feed between two snapshots: one row per key
        whose row-set changed, with _change in (inserted, deleted,
        updated). The Iceberg incremental-read analogue for derived
        consumers (refresh jobs, downstream caches).

        One full-outer shuffle join on the key; row-set equality per key
        is order-insensitive (sorted hash aggregate over the full row),
        so it is correct for one-to-many tables too."""
        old = self.read(path, from_id)
        new = self.read(path, to_id)
        data_cols = [c for c in old.columns if c not in key_cols]

        def digest(df: DataFrame, name: str) -> DataFrame:
            h = F.md5(F.concat_ws("\x1f", *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in data_cols])) if data_cols else F.lit("")
            return (df.withColumn("_h", h)
                    .groupBy(*key_cols)
                    .agg(F.md5(F.concat_ws(",", F.sort_array(
                        F.collect_list("_h")))).alias(name)))

        o = digest(old, "_old")
        n = digest(new, "_new")
        j = o.join(n, key_cols, "full_outer")
        return (j.withColumn("_change", F.when(F.col("_old").isNull(), "inserted")
                             .when(F.col("_new").isNull(), "deleted")
                             .when(F.col("_old") != F.col("_new"), "updated"))
                .filter(F.col("_change").isNotNull())
                .select(*key_cols, "_change"))

    # -- read path ----------------------------------------------------------
    def _resolve(self, path: str, snapshot_id: int | None = None,
                 tag: str | None = None,
                 as_of_ts: float | None = None) -> dict:
        manifest = _load_manifest(path)
        if not manifest:
            raise FileNotFoundError(f"no snapshots at {path}")
        live = [e for e in manifest if not e.get("expired")]
        if snapshot_id is not None:
            cands = [e for e in live if e["snapshot_id"] == snapshot_id]
        elif tag is not None:
            cands = [e for e in live if tag in e["tags"]]
        elif as_of_ts is not None:
            cands = [e for e in live if e["ts"] <= as_of_ts]
        else:
            cands = live
        if not cands:
            raise KeyError(
                f"no snapshot for id={snapshot_id} tag={tag} "
                f"as_of={as_of_ts} at {path}")
        return cands[-1]

    def read(self, path: str, snapshot_id: int | None = None,
             tag: str | None = None,
             as_of_ts: float | None = None) -> DataFrame:
        """The snapshot's rows under the schema its commit recorded, so
        no footer-inference job runs; a snapshot committed before the
        manifest carried a schema is read by inference."""
        e = self._resolve(path, snapshot_id, tag, as_of_ts)
        r = self.spark.read
        if "schema" in e:
            r = r.schema(StructType.fromJson(e["schema"]))
        return r.parquet(os.path.join(path, e["dir"]))

    def rows(self, path: str, snapshot_id: int | None = None) -> int:
        """Row count observed on the write that committed the snapshot
        (the current one by default) — manifest metadata, no job."""
        return self._resolve(path, snapshot_id)["rows"]

    def exists(self, path: str) -> bool:
        try:
            self._resolve(path)
            return True
        except (FileNotFoundError, KeyError):
            return False

    def history(self, path: str) -> list[dict]:
        return _load_manifest(path)
