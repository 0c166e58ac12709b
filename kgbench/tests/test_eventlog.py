"""The event-log parser on a small recorded log.

The log (data/eventlog_small.jsonl, trimmed to the fields the parser
reads) comes from a local[2] session that ran, inside a "build" span:
a mapInPandas count labelled kg:extracted, a broadcast join labelled
kg:name_links, a sort-merge join labelled kg:triples_resolved, and a
kg:struct_nodes aggregate submitted from a plain thread (so it carries
no span tag); then one lookup inside an "after" span.
"""

import json
import os

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _load():
    log = eventlog.EventLog([os.path.join(DATA, "eventlog_small.jsonl")])
    with open(os.path.join(DATA, "spans_small.json")) as f:
        spans = json.load(f)
    return log, spans


def test_jobs_grouped_by_commit_label():
    log, _ = _load()
    labels = [j["label"] for _, j in sorted(log.jobs.items())]
    assert labels.count("kg:extracted") == 2
    assert labels.count("kg:name_links") == 3
    assert labels.count("kg:triples_resolved") == 4
    assert labels.count("kg:struct_nodes") == 2
    assert all(j["ok"] for j in log.jobs.values())
    assert log.tasks_failed == 0


def test_untagged_pool_jobs_fall_in_the_enclosing_span():
    log, spans = _load()
    eventlog.attribute(log, spans)
    pool = [j for j in log.jobs.values() if j["label"] == "kg:struct_nodes"]
    assert pool and all(j["span"] is None and j["kind"] == "build"
                        for j in pool)
    # the lookup is tagged with its own span, inside the "after" span
    (lk,) = [j for j in log.jobs.values() if j["span"] == "q:entity_point"]
    assert lk["kind"] == "lookup"


def test_stage_metrics_sum_per_job():
    log, _ = _load()
    ext = log.jobs[0]["m"]
    assert ext["py_run_ms"] == 3752 and ext["py_start_ms"] == 2242
    assert ext["py_sent"] == 2096 and ext["py_recv"] == 2048
    assert sum(j["m"]["run_ms"] for j in log.jobs.values()) == 5960


def test_join_strategies_from_the_final_plans():
    log, _ = _load()
    by_label = lambda lb: [j for j in log.jobs.values() if j["label"] == lb]
    assert log.joins(by_label("kg:name_links")) == (1, 0)
    assert log.joins(by_label("kg:triples_resolved")) == (0, 1)
    assert log.joins(by_label("kg:struct_nodes")) == (0, 0)


def test_layer_metrics_of_the_recorded_run():
    log, spans = _load()
    m = {k: v for k, (v, _unit) in eventlog.layer_metrics(log, spans).items()}
    assert m["pipeline.jobs"] == 11
    assert m["pipeline.unlabeled_jobs"] == 0
    assert m["linking.jobs"] == 3
    assert (m["linking.broadcast_joins"], m["linking.shuffle_joins"]) == (1, 0)
    assert m["linking.gated_shuffle_joins"] == 1
    assert m["extract.py_udf_s"] == 3.752
    assert m["after.jobs"] == 1 and m["query.jobs_per_lookup"] == 1
    assert 0 < m["pipeline.in_job_s"] <= m["pipeline.in_job_s"] + m["pipeline.driver_gap_s"]
    assert m["spark.jobs_failed"] == 0


def test_find_log_reads_a_rolling_log_directory():
    # data/rolling holds the file layout of a v2 (rolling) event log
    got = eventlog.find_log(os.path.join(DATA, "rolling"))
    assert [os.path.basename(p) for p in got] == ["events_1_app", "events_2_app"]
    one = os.path.join(DATA, "eventlog_small.jsonl")
    assert eventlog.find_log(one) == [one]
