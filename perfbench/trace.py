"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every job carries the job group of the innermost span open when it
started (``runner.Tracer``).  A stage is attributed to the group in its
submission properties, and a task to its stage.  A span's metrics are
inclusive: they cover every group whose path contains the span's name.
"""

from __future__ import annotations

import json
from collections import defaultdict

SPANS = (
    "session.get_spark",
    "sources.diag.cluster_name",
    "conformed.load_model",
    "conformed.materialize",
    "sinks.report.write_workbook",
    "queries.build",
    "sinks.xlsx.save",
    "sinks.report.write_summary_json",
    "sinks.export.export_curated_corpus",
    "sinks.export.export_training_shards",
    "sinks.export.export_webdataset",
    "sinks.index_store.write_index_store",
    "sinks.index_store.index_store_health",
)
FIELDS = (("s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
          ("executor_cpu_s", "s"), ("gc_s", "s"), ("input_mb", "MB"),
          ("shuffle_write_mb", "MB"))
RATIOS = (("exec.empty_task_share", "ratio"), ("sources.read_amplification", "ratio"),
          ("cache.storage_mb", "MB"), ("trace.overhead", "ratio"))


def metric_units() -> dict[str, str]:
    units = {f"{s}.{f}": u for s in SPANS for f, u in FIELDS}
    units.update(RATIOS)
    return units


class TraceError(RuntimeError):
    """The event log and the status tracker disagree about a span's jobs."""


def _read_events(path: str):
    with open(path) as fh:
        for line in fh:
            yield json.loads(line)


def _scan_size_ids(plan: dict, out: set[int]) -> None:
    if plan["nodeName"].startswith("Scan"):
        out.update(m["accumulatorId"] for m in plan["metrics"]
                   if m["name"] == "size of files read")
    for child in plan["children"]:
        _scan_size_ids(child, out)


def analyze(event_log: str, status: dict, input_bytes: int) -> dict[str, float]:
    """Every per-layer metric but ``trace.overhead``, which needs the
    untraced runs."""
    group_jobs: dict[str, set[int]] = defaultdict(set)
    stage_group: dict[int, str | None] = {}
    stages_run: dict[str | None, int] = defaultdict(int)
    per_group: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    scan_ids: set[int] = set()
    accum: dict[int, int] = defaultdict(int)
    n_tasks = n_empty = 0
    for ev in _read_events(event_log):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            group_jobs[group].add(ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[ev["Stage Info"]["Stage ID"]] = group
            stages_run[group] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = per_group[stage_group.get(ev["Stage ID"])]
            g["tasks"] += 1
            g["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            g["gc_s"] += m["JVM GC Time"] / 1e3
            g["input_mb"] += m["Input Metrics"]["Bytes Read"] / 1e6
            g["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
            n_tasks += 1
            if (m["Input Metrics"]["Records Read"] == 0
                    and m["Shuffle Read Metrics"]["Total Records Read"] == 0):
                n_empty += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _scan_size_ids(ev["sparkPlanInfo"], scan_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev["accumUpdates"]:
                accum[acc_id] += value

    for group, ids in status["tracker_job_ids"].items():
        if set(ids) != group_jobs.get(group, set()):
            raise TraceError(
                f"span group {group!r}: status tracker jobs {sorted(ids)} != "
                f"event log jobs {sorted(group_jobs.get(group, ()))}")

    out: dict[str, float] = {}
    for name in SPANS:
        calls = [s for s in status["spans"] if s["name"] == name]
        groups = {s["group"] for s in calls if s["group"]}
        inner = {g for g in group_jobs if g and name in g.split(">")}
        groups |= inner
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in calls)
        out[f"{name}.jobs"] = sum(len(group_jobs[g]) for g in groups)
        out[f"{name}.stages"] = sum(stages_run[g] for g in groups)
        for field in ("tasks", "executor_cpu_s", "gc_s", "input_mb", "shuffle_write_mb"):
            out[f"{name}.{field}"] = sum(per_group[g][field] for g in groups)
    out["exec.empty_task_share"] = n_empty / n_tasks if n_tasks else 0.0
    out["sources.read_amplification"] = sum(accum[i] for i in scan_ids) / input_bytes
    out["cache.storage_mb"] = status["cache_storage_mb"]
    return out
