"""Per-layer attribution from a Spark event log and the benchmark's spans.

Every job is attributed two ways:

- by its ``spark.job.description``: ``kg:<table>`` for the jobs of one
  pipeline commit (the pipeline sets these labels itself);
- by benchmark span: the ``kgbench.span`` local property the submitting
  thread carried (spans.py), or, for jobs the program submits from its
  own pool threads, the innermost span open at submission time.

Stage metrics (executor run time, shuffle write, spill, input/output
bytes, Python worker time and bytes) are summed per job; join operators
are counted in the final (adaptive) physical plan of each SQL execution.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: pipeline commits (kg:<table> labels) per layer
LAYERS = {
    "extract": ["extracted"],
    "structure": ["struct_nodes", "struct_edges"],
    "linking": ["entities", "fuzzy_candidates", "name_links",
                "fuzzy_site_links"],
    "components": ["canonical_map"],
    "resolve": ["triples_resolved"],
    "materialize": ["nodes", "edges"],
}
#: commits whose name-map joins go through the pipeline's size gate
#: (KGPipeline._dim_hint): broadcast under it, shuffle join over it
GATED = ["fuzzy_site_links", "triples_resolved", "nodes", "edges"]
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "input",
    "internal.metrics.output.bytesWritten": "output",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
}
BROADCAST_JOINS = {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}
SHUFFLE_JOINS = {"SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"}
ANALYTIC = ["top_mentions", "links_scc", "pagerank", "near_dup", "ivf_topk"]
MB = 1e6


def find_log(path: str) -> list[str]:
    """The event files of one application: ``path`` itself, or the
    ``events_<n>_*`` parts of a rolling (v2) log directory under it."""
    if os.path.isfile(path):
        return [path]
    for root, _dirs, files in os.walk(path):
        parts = [f for f in files if f.startswith("events_")]
        if parts:
            parts.sort(key=lambda f: int(f.split("_")[1]))
            return [os.path.join(root, f) for f in parts]
        plain = [f for f in files if not f.startswith(".")
                 and not f.startswith("appstatus")]
        if plain:
            return [os.path.join(root, plain[0])]
    raise FileNotFoundError(f"no event log under {path}")


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


class EventLog:
    """Jobs, their stage metrics and the final plan of each SQL execution."""

    def __init__(self, paths: list[str]) -> None:
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.plans: dict[int, dict] = {}
        files_acc: set[int] = set()
        files_read: dict[int, float] = defaultdict(float)
        self.tasks_failed = 0
        for p in paths:
            with open(p) as f:
                for line in f:
                    e = json.loads(line)
                    ev = e["Event"].rsplit(".", 1)[-1]
                    if ev == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        ex = props.get("spark.sql.execution.id")
                        self.jobs[e["Job ID"]] = {
                            "label": props.get("spark.job.description") or "",
                            "span": props.get("kgbench.span"),
                            "exec": int(ex) if ex is not None else None,
                            "submit": e["Submission Time"],
                            "end": e["Submission Time"], "ok": True,
                            "m": defaultdict(float)}
                        for s in e.get("Stage IDs", []):
                            stage_job.setdefault(s, e["Job ID"])
                    elif ev == "SparkListenerJobEnd":
                        j = self.jobs.get(e["Job ID"])
                        if j is not None:
                            j["end"] = e["Completion Time"]
                            j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
                    elif ev == "SparkListenerStageCompleted":
                        info = e["Stage Info"]
                        j = self.jobs.get(stage_job.get(info["Stage ID"]))
                        if j is None:
                            continue
                        for a in info.get("Accumulables", []):
                            key = STAGE_METRICS.get(a["Name"])
                            if key:
                                j["m"][key] += float(a["Value"])
                    elif ev == "SparkListenerTaskEnd":
                        if e["Task End Reason"]["Reason"] != "Success":
                            self.tasks_failed += 1
                    elif ev in ("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate"):
                        plan = e["sparkPlanInfo"]
                        self.plans[e["executionId"]] = plan
                        for node in _walk(plan):
                            for m in node.get("metrics", []):
                                if m["name"] == "number of files read":
                                    files_acc.add(m["accumulatorId"])
                    elif ev == "SparkListenerDriverAccumUpdates":
                        for acc, v in e["accumUpdates"]:
                            if acc in files_acc:
                                files_read[e["executionId"]] += v
        self.files_read = dict(files_read)

    def joins(self, jobs: list[dict]) -> tuple[int, int]:
        """(broadcast, shuffle) join operators in the final plans of the
        SQL executions these jobs ran under."""
        b = s = 0
        for ex in {j["exec"] for j in jobs if j["exec"] is not None}:
            for node in _walk(self.plans.get(ex, {})):
                name = node.get("nodeName")
                b += name in BROADCAST_JOINS
                s += name in SHUFFLE_JOINS
        return b, s


def attribute(log: EventLog, spans: list[dict]) -> None:
    """Set each job's ``kind`` (span kind) from its span tag, else from
    the innermost span open when it was submitted."""
    for j in log.jobs.values():
        open_ = [s for s in spans
                 if s["start_ms"] <= j["submit"] <= s["end_ms"]]
        tagged = [s for s in open_ if s["name"] == j["span"]]
        pick = tagged or open_
        j["kind"] = max(pick, key=lambda s: s["start_ms"])["kind"] if pick else None


def _sum(jobs, key: str) -> float:
    return sum(j["m"][key] for j in jobs)


def _wall_s(jobs) -> float:
    return (max(j["end"] for j in jobs) - min(j["submit"] for j in jobs)) / 1e3 \
        if jobs else 0.0


def _busy_s(jobs) -> float:
    """Time at least one of ``jobs`` was running (union of intervals)."""
    total, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["submit"]):
        if cur_e is None or j["submit"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j["submit"], j["end"]
        else:
            cur_e = max(cur_e, j["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def layer_metrics(log: EventLog, spans: list[dict],
                  batch_html_mb: float = 0.0) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of one traced run, as (value, unit)."""
    attribute(log, spans)
    jobs = list(log.jobs.values())
    build = [j for j in jobs if j["kind"] == "build"]

    def commit(*tables):
        want = {f"kg:{t}" for t in tables}
        return [j for j in build if j["label"] in want]

    out: dict[str, tuple[float, str]] = {}
    g = {name: commit(*tables) for name, tables in LAYERS.items()}
    ext = g["extract"]
    out.update({
        "extract.wall_s": (_wall_s(ext), "s"),
        "extract.exec_run_s": (_sum(ext, "run_ms") / 1e3, "s"),
        "extract.py_udf_s": (_sum(ext, "py_run_ms") / 1e3, "s"),
        "extract.py_start_s": (_sum(ext, "py_start_ms") / 1e3, "s"),
        "extract.py_bytes_sent_mb": (_sum(ext, "py_sent") / MB, "MB"),
        "extract.py_bytes_recv_mb": (_sum(ext, "py_recv") / MB, "MB"),
        "structure.wall_s": (_wall_s(g["structure"]), "s"),
        "structure.exec_run_s": (_sum(g["structure"], "run_ms") / 1e3, "s"),
        "structure.shuffle_write_mb":
            (_sum(g["structure"], "shuffle_write") / MB, "MB"),
    })
    lk = g["linking"]
    b, s = log.joins(lk)
    out.update({
        "linking.wall_s": (_wall_s(lk), "s"),
        "linking.jobs": (len(lk), "count"),
        "linking.exec_run_s": (_sum(lk, "run_ms") / 1e3, "s"),
        "linking.shuffle_write_mb": (_sum(lk, "shuffle_write") / MB, "MB"),
        "linking.spill_mb": (_sum(lk, "spill") / MB, "MB"),
        "linking.broadcast_joins": (b, "count"),
        "linking.shuffle_joins": (s, "count"),
    })
    b, s = log.joins(commit(*GATED))
    out.update({
        "linking.gated_broadcast_joins": (b, "count"),
        "linking.gated_shuffle_joins": (s, "count"),
        "components.wall_s": (_wall_s(g["components"]), "s"),
        "components.jobs": (len(g["components"]), "count"),
    })
    b, s = log.joins(build)
    build_wall = sum(sp["wall_s"] for sp in spans if sp["kind"] == "build")
    in_job = _busy_s(build)
    out.update({
        "pipeline.resolve_wall_s": (_wall_s(g["resolve"]), "s"),
        "pipeline.materialize_wall_s": (_wall_s(g["materialize"]), "s"),
        "pipeline.jobs": (len(build), "count"),
        "pipeline.in_job_s": (in_job, "s"),
        "pipeline.driver_gap_s": (build_wall - in_job, "s"),
        "pipeline.shuffle_write_mb": (_sum(build, "shuffle_write") / MB, "MB"),
        "pipeline.spill_mb": (_sum(build, "spill") / MB, "MB"),
        "pipeline.unlabeled_jobs":
            (sum(not j["label"].startswith("kg:") for j in build), "count"),
        "pipeline.broadcast_joins": (b, "count"),
        "pipeline.shuffle_joins": (s, "count"),
    })

    # after the build: every request span, whatever the workload
    after_kinds = {"after", "refresh", "lookup", "analytic", "index"}
    after = [j for j in jobs if j["kind"] in after_kinds]
    out.update({
        "after.jobs": (len(after), "count"),
        "after.in_job_s": (_busy_s(after), "s"),
        "after.exec_run_s": (_sum(after, "run_ms") / 1e3, "s"),
        "after.shuffle_write_mb": (_sum(after, "shuffle_write") / MB, "MB"),
        "after.bytes_written_mb": (_sum(after, "output") / MB, "MB"),
    })
    ref = [j for j in jobs if j["kind"] == "refresh"]
    n_ref = sum(sp["kind"] == "refresh" for sp in spans)
    written = _sum(ref, "output") / MB
    out.update({
        "refresh.jobs_per_batch": (len(ref) / n_ref if n_ref else 0.0, "count"),
        "snapshots.bytes_written_mb": (written, "MB"),
        "snapshots.write_amp":
            (written / batch_html_mb if batch_html_mb else 0.0, "ratio"),
    })
    lookups = [j for j in jobs if j["kind"] == "lookup"]
    n_lk = sum(sp["kind"] == "lookup" for sp in spans) or 1
    lk_execs = {j["exec"] for j in lookups}
    out.update({
        "query.jobs_per_lookup": (len(lookups) / n_lk, "count"),
        "query.files_read_per_lookup":
            (sum(log.files_read.get(x, 0) for x in lk_execs) / n_lk, "count"),
        "query.bytes_read_mb_per_lookup":
            (_sum(lookups, "input") / MB / n_lk, "MB"),
    })
    an = [j for j in jobs if j["kind"] == "analytic"]
    n_an = sum(sp["kind"] == "analytic" for sp in spans) or 1
    walls: dict[str, float] = defaultdict(float)
    for sp in spans:
        if sp["kind"] == "analytic":
            walls[sp["name"][2:]] += sp["wall_s"]
    total = sum(walls.values())
    out.update({
        "analytic.wall_s": (total, "s"),
        "analytic.jobs": (len(an) / n_an, "count"),
        "analytic.shuffle_write_mb": (_sum(an, "shuffle_write") / MB / n_an, "MB"),
    })
    for k in ANALYTIC:
        out[f"analytic.{k}_share"] = (walls[k] / total if total else 0.0, "ratio")
    out.update({
        "spark.tasks_failed": (log.tasks_failed, "count"),
        "spark.jobs_failed": (sum(not j["ok"] for j in jobs), "count"),
    })
    return out

