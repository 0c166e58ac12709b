"""S7 snapshot semantics at rest: history, time travel, tags, MERGE
INTO, expiry — and the writer as a drop-in KGPipeline checkpoint seam."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def writer(spark):
    from gitnexus_spark.sources.snapshots import SnapshotWriter

    return SnapshotWriter(spark)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, n long")


def test_snapshot_history_and_time_travel(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = writer.write(_df(spark, [(1, "en", 10), (2, "de", 20)]), t)
    s2 = writer.write(_df(spark, [(1, "en", 11)]), t, tag="v2")
    assert (s1, s2) == (1, 2)

    hist = writer.history(t)
    assert [e["snapshot_id"] for e in hist] == [1, 2]
    assert hist[0]["rows"] == 2 and hist[1]["rows"] == 1
    assert hist[1]["parent_id"] == 1

    # latest, by id, by tag, by timestamp
    assert writer.read(t).count() == 1
    assert writer.read(t, snapshot_id=1).count() == 2
    assert writer.read(t, tag="v2").count() == 1
    assert writer.read(t, as_of_ts=hist[0]["ts"]).count() == 2
    with pytest.raises(KeyError):
        writer.read(t, tag="nope")
    assert writer.exists(t)
    assert not writer.exists(str(tmp_path / "missing"))


def test_merge_into_upsert(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(1, "en", 10), (2, "de", 20), (3, "fr", 30)]), t)
    # update doc 2, insert doc 9, leave 1 and 3 untouched
    writer.merge_into(t, _df(spark, [(2, "de", 99), (9, "it", 90)]),
                      key_cols=["doc_id"])
    got = {r["doc_id"]: (r["lang"], r["n"]) for r in writer.read(t).collect()}
    assert got == {1: ("en", 10), 2: ("de", 99), 3: ("fr", 30),
                   9: ("it", 90)}
    # copy-on-write: the pre-merge snapshot still reads the old values
    old = {r["doc_id"]: r["n"]
           for r in writer.read(t, snapshot_id=1).collect()}
    assert old == {1: 10, 2: 20, 3: 30}
    assert writer.history(t)[-1]["op"] == "merge"


def test_merge_preserves_partitioning(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(1, "en", 10), (2, "de", 20)]), t,
                 partition_by=["lang"])
    writer.merge_into(t, _df(spark, [(3, "en", 30)]), key_cols=["doc_id"])
    last = writer.history(t)[-1]
    assert last["partition_by"] == ["lang"]
    assert os.path.isdir(os.path.join(t, last["dir"], "lang=en"))


def test_expire_keeps_tags_and_latest(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(1, "en", 1)]), t)
    writer.write(_df(spark, [(2, "en", 2)]), t, tag="pin")
    writer.write(_df(spark, [(3, "en", 3)]), t)
    writer.write(_df(spark, [(4, "en", 4)]), t)
    expired = writer.expire_snapshots(t, keep_last=1)
    assert expired == [1, 3]                       # tagged 2 pinned, 4 kept
    assert writer.read(t, tag="pin").count() == 1  # pinned still readable
    assert writer.read(t).first()["doc_id"] == 4
    with pytest.raises(KeyError):
        writer.read(t, snapshot_id=1)              # expired id unreadable


def test_merge_null_key_row_updates_and_inserts(spark, writer, tmp_path):
    """NULL merge keys are real matches under eqNullSafe: a NULL-key
    source row must UPDATE the NULL-key target row (not silently keep
    stale target data), and a fresh NULL-key insert must carry its data
    columns."""
    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(None, "en", 10), (2, "de", 20)]), t)
    writer.merge_into(t, _df(spark, [(None, "fr", 99)]),
                      key_cols=["doc_id"])
    got = {r["doc_id"]: (r["lang"], r["n"]) for r in writer.read(t).collect()}
    assert got == {None: ("fr", 99), 2: ("de", 20)}

    # and a NULL-key insert into a table with no NULL-key row yet
    t2 = str(tmp_path / "tbl2")
    writer.write(_df(spark, [(1, "en", 1)]), t2)
    writer.merge_into(t2, _df(spark, [(None, "it", 7)]),
                      key_cols=["doc_id"])
    got2 = {r["doc_id"]: (r["lang"], r["n"])
            for r in writer.read(t2).collect()}
    assert got2 == {1: ("en", 1), None: ("it", 7)}


def test_concurrent_commits_no_lost_snapshot(spark, writer, tmp_path):
    """Two writers committing to the SAME table concurrently: both
    snapshots land, ids are unique, parent chain is linear — the
    read-modify-write commit can no longer silently drop one."""
    import threading

    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(0, "en", 0)]), t)

    errs = []

    def commit(k):
        try:
            writer.write(_df(spark, [(k, "en", k)]), t, op=f"w{k}")
        except Exception as e:                         # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(k,))
               for k in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    hist = writer.history(t)
    ids = [e["snapshot_id"] for e in hist]
    assert ids == [1, 2, 3, 4, 5]                      # nothing lost
    assert [e["parent_id"] for e in hist] == [None, 1, 2, 3, 4]
    ops = {e["op"] for e in hist}
    assert {"w1", "w2", "w3", "w4"} <= ops
    # every committed dir is readable and no staging dirs leak
    for e in hist:
        assert writer.read(t, snapshot_id=e["snapshot_id"]).count() == 1
    assert not [d for d in os.listdir(t) if d.startswith(".snap-stage-")]


def test_pipeline_with_snapshot_writer(spark, sf_dir, tmp_path):
    """Every pass checkpoint becomes snapshot history; a re-run resumes
    from the committed snapshots and adds none."""
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.sources.snapshots import SnapshotWriter
    from gitnexus_spark.synthetic import alias_dictionary, synth_pages

    out = str(tmp_path / "kg")
    pages = synth_pages(spark, sf_dir).limit(60)
    w = SnapshotWriter(spark)
    res = KGPipeline(spark, out, alias_dict=alias_dictionary(spark),
                     writer=w).run(pages)
    n_nodes = res["nodes"].count()
    assert n_nodes > 0
    assert w.history(os.path.join(out, "nodes"))[-1]["rows"] == n_nodes

    # resume: second run reads committed snapshots, adds none
    before = {p: len(w.history(os.path.join(out, p)))
              for p in ("extracted", "nodes", "edges")}
    KGPipeline(spark, out, alias_dict=alias_dictionary(spark),
               writer=w).run(pages)
    after = {p: len(w.history(os.path.join(out, p))) for p in before}
    assert after == before


def test_orphan_snapshot_dir_is_skipped(spark, writer, tmp_path):
    """Crash recovery: a snap-N directory left by a writer killed between
    rename and manifest append (orphan — on disk, not in the manifest)
    must never wedge the table. The next commit skips past it and the
    history stays linear."""
    import os

    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(0, "en", 0)]), t)          # snap-1
    os.makedirs(os.path.join(t, "snap-2"))               # orphan
    with open(os.path.join(t, "snap-2", "part-x.parquet"), "wb") as f:
        f.write(b"dead")
    sid = writer.write(_df(spark, [(1, "en", 1)]), t)    # must not raise
    assert sid == 3                                      # skipped the orphan
    hist = writer.history(t)
    assert [e["snapshot_id"] for e in hist] == [1, 3]
    assert [e["parent_id"] for e in hist] == [None, 1]
    got = {r["doc_id"] for r in writer.read(t).collect()}
    assert got == {1}                                    # orphan never read


def test_compact_reduces_files_preserves_data(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (F.col("id") * 7).alias("n"))
    writer.write(df.repartition(32), t)
    before = writer.file_stats(t)
    assert before["n_files"] == 32

    s = writer.compact(t, target_file_bytes=1 << 30)
    after = writer.file_stats(t)
    assert after["n_files"] == 1 and after["snapshot_id"] == s
    assert writer.history(t)[-1]["op"] == "compact"
    # content identical, prior snapshot untouched (copy-on-write)
    assert writer.read(t).exceptAll(writer.read(t, snapshot_id=1)).count() == 0
    assert writer.read(t, snapshot_id=1).count() == 2000
    assert writer.file_stats(t, snapshot_id=1)["n_files"] == 32


def test_compact_partitioned_collapses_per_partition(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.col("id").alias("n"))
    writer.write(df.repartition(8), t, partition_by=["lang"])
    assert writer.file_stats(t)["n_files"] > 2
    writer.compact(t, target_file_bytes=1 << 30)
    # one file per partition value; partition layout preserved
    assert writer.file_stats(t)["n_files"] == 2
    assert writer.history(t)[-1]["partition_by"] == ["lang"]
    got = {str(k): v for k, v in
           writer.read(t).groupBy("lang").count().collect()}
    assert got == {"0": 150, "1": 150}  # partition col type re-inferred on read


def test_snapshot_diff_change_feed(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(1, "en", 10), (2, "de", 20), (3, "fr", 30)]), t)
    writer.write(_df(spark, [(1, "en", 10), (2, "de", 99), (4, "it", 40)]), t)
    got = {(r["doc_id"], r["_change"])
           for r in writer.diff(t, 1, 2, ["doc_id"]).collect()}
    assert got == {(2, "updated"), (3, "deleted"), (4, "inserted")}


def test_snapshot_diff_one_to_many_order_insensitive(spark, writer, tmp_path):
    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(1, "en", 10), (1, "de", 20), (2, "en", 1)]), t)
    # same row-set for key 1 in a different order; key 2 shrinks
    writer.write(_df(spark, [(1, "de", 20), (1, "en", 10)]), t)
    got = {(r["doc_id"], r["_change"])
           for r in writer.diff(t, 1, 2, ["doc_id"]).collect()}
    assert got == {(2, "deleted")}


def test_read_uses_recorded_schema_without_a_job(spark, writer, tmp_path):
    """The manifest records each snapshot's read schema (data columns,
    then partition columns), so read() of a partitioned table submits no
    Spark job; a manifest entry without the field still reads."""
    import json

    t = str(tmp_path / "tbl")
    writer.write(_df(spark, [(1, "en", 10), (2, "de", 20)]), t,
                 partition_by=["lang"])
    want = [("doc_id", "bigint"), ("n", "bigint"), ("lang", "string")]

    sc = spark.sparkContext
    sc.setJobGroup("snapshot-read", "read only")
    try:
        df = writer.read(t)
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup("snapshot-read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert got == want
    assert sorted(map(tuple, df.collect())) == [(1, 10, "en"), (2, 20, "de")]

    manifest = os.path.join(t, "_snapshots.json")
    with open(manifest) as f:
        entries = json.load(f)
    del entries[-1]["schema"]
    with open(manifest, "w") as f:
        json.dump(entries, f)
    assert [f.name for f in writer.read(t).schema.fields] == \
        ["doc_id", "n", "lang"]
    assert writer.read(t).count() == 2
