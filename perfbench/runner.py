"""One cold CLI run, in its own process: ``python3 runner.py CONFIG.json``.

Starts the Spark session the way the CLI does, notes when ``get_spark``
returned, then calls the CLI's ``main(argv)``; ``getOrCreate`` hands it
the same session.  With ``"argv": null`` it stops after ``get_spark``
(a set-up-only run).  With ``"trace": true`` it also wraps the package's
layer functions in spans (see ``Tracer``) and calls the report's load and
conform steps itself, so their jobs are attributed to their own spans.

Writes the config's ``status`` file: the monotonic time ``get_spark``
returned and, after a CLI run, its exit code and the Spark JVM's pid and
peak RSS, and in a traced run the spans and cached-block memory.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

APP_NAME = {"report_diag": "run-report", "training_export": "make-training-data"}
TOOL = {"report_diag": "run_report", "training_export": "make_training_data"}


def load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` (kernel-tracked VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Spans around calls into the package, each under its own job group.

    A span's job group is its path of nested span names joined by ``>``
    (e.g. ``sinks.report.write_workbook>queries.build``), so the event
    log can attribute every job to the innermost span and each span's
    inclusive counts are the groups whose path contains its name.
    Re-entering a span already open (a query calling another) is timed
    once, by the outer call."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []
        self.spans: list[dict] = []

    def run(self, name: str, fn, *args, **kwargs):
        if name in self.stack:
            return fn(*args, **kwargs)
        self.stack.append(name)
        group = ">".join(self.stack)
        self.sc.setJobGroup(group, name)
        t0 = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.monotonic()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(">".join(self.stack), self.stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "group": group,
                               "start": t0, "end": t1})

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.run(name, fn, *args, **kwargs)
        return traced

    def patch(self, name: str, *owners) -> None:
        """Replace ``owner.<fn>`` by its traced form on every owner
        module/class that binds it (a package may re-export it)."""
        attr = name.rsplit(".", 1)[1]
        for owner in owners:
            setattr(owner, attr, self.wrap(name, getattr(owner, attr)))

    def job_ids(self) -> dict[str, list[int]]:
        tracker = self.sc.statusTracker()
        groups = {s["group"] for s in self.spans if s["group"]}
        return {g: sorted(tracker.getJobIdsForGroup(g)) for g in groups}


def _trace_report(tracer: Tracer, spark, argv: list[str]) -> list[str]:
    """Run the report's ingest and conform steps as their own spans, then
    wrap the sinks the CLI calls.  Returns the CLI argv, now naming the
    cluster so the CLI does not look it up a second time."""
    from astra_perseverance_spark import queries
    from astra_perseverance_spark.conformed import model
    from astra_perseverance_spark.sinks import report, xlsx
    from astra_perseverance_spark.sources import diag

    root = argv[argv.index("-p") + 1]
    name = tracer.run("sources.diag.cluster_name", diag.cluster_name, spark, root)
    m = tracer.run("conformed.load_model", model.load_model, spark, root)

    def materialize():
        for df in (m.node_info, m.keyspace_rf, m.schema_object, m.schema_column,
                   m.cfstats_metric, m.gc_event, m.tombstone_event, m.proxyhistogram):
            df.write.format("noop").mode("overwrite").save()

    tracer.run("conformed.materialize", materialize)
    tracer.patch("sinks.report.write_workbook", report)
    tracer.patch("sinks.report.write_summary_json", report)
    tracer.patch("sinks.xlsx.save", xlsx.Workbook)
    reg = queries.QUERY_REGISTRY
    for qname, fn in list(reg.items()):
        reg[qname] = tracer.wrap("queries.build", fn)
    return argv + ["--name", name]


def _trace_training(tracer: Tracer) -> None:
    from astra_perseverance_spark import sinks
    from astra_perseverance_spark.sinks import export, index_store

    tracer.patch("sinks.export.export_curated_corpus", export, sinks)
    tracer.patch("sinks.export.export_training_shards", export, sinks)
    tracer.patch("sinks.export.export_webdataset", export)
    tracer.patch("sinks.index_store.write_index_store", index_store)
    tracer.patch("sinks.index_store.index_store_health", index_store)


def main(config_path: str) -> int:
    with open(config_path) as fh:
        cfg = json.load(fh)
    workload, argv, trace = cfg["workload"], cfg["argv"], cfg["trace"]
    from astra_perseverance_spark import get_spark

    t0 = time.monotonic()
    spark = get_spark(APP_NAME[workload])
    setup_done = time.monotonic()
    sc = spark.sparkContext
    status: dict = {"setup_done": setup_done}
    if argv is None:
        with open(cfg["status"], "w") as fh:
            json.dump(status, fh)
        return 0
    status["jvm_pid"] = sc._jvm.java.lang.ProcessHandle.current().pid()
    tracer = None
    if trace:
        tracer = Tracer(sc)
        tracer.spans.append({"name": "session.get_spark", "group": None,
                             "start": t0, "end": setup_done})
        sc.setLogLevel("ERROR")
        if workload == "report_diag":
            argv = _trace_report(tracer, spark, argv)
        else:
            _trace_training(tracer)
    rc = load_tool(TOOL[workload]).main(argv)
    status["rc"] = rc
    status["peak_rss_mb"] = vm_hwm_mb(status["jvm_pid"])
    if tracer is not None:
        status["spans"] = tracer.spans
        status["tracker_job_ids"] = tracer.job_ids()
        status["cache_storage_mb"] = sum(
            i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 1e6
        spark.stop()  # closes the event log before the parent reads it
    with open(cfg["status"], "w") as fh:
        json.dump(status, fh)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
