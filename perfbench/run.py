"""Cold end-to-end benchmark of the report and training CLIs.

    python3 perfbench/run.py --workload report_diag|training_export \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  Each measured run is one fresh CLI
process (``runner.py``): a closed loop with one client, the next process
starting only after the previous one and its Spark JVM have exited.
``report_diag`` reads the committed fixture and ignores ``--seed``;
``training_export`` reads a corpus generated from it (``gen.py``).
Runs are started back to back until ``--seconds`` have passed (at least
one; one cold run takes ~50 s).

``--trace 0`` reports the end-to-end metrics: ``wall_s`` (process spawn
to CLI exit), ``setup_s`` (spawn until ``get_spark`` returned; the
median of the CLI run and ``EXTRA_SETUPS`` set-up-only processes after
each) and ``peak_rss_mb`` (VmHWM of the Spark JVM).  ``--trace 1``
makes one untraced run, then one traced run with the Spark event log on,
and reports the per-layer table (``trace.py``); ``trace.overhead`` is
the traced ``wall_s`` over the untraced one.  Every run's outputs are
checked (``check.py``) after the process exits.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the benchmark writes lands under ``.perfbench_work/`` in the
current directory; each run directory is deleted after its check.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import check, gen  # noqa: E402
from perfbench import trace as tracing  # noqa: E402

WORKLOADS = ("report_diag", "training_export")
# local[2] leaves half the cores to the Python driver and the JVM's own
# threads; these jobs are bound by per-job driver overhead, and on 4
# cores local[2] ran faster than local[3] with no wider spread.
CPUS = 2
# Heap committed in full from the start (-Xms = -Xmx): with G1 sizing the
# heap by GC timing, JVM peak RSS varied by a quarter between identical
# runs; with the whole heap committed it repeats within ~1%.
HEAP = "2g"
# set-up-only processes after each untraced CLI run; setup_s is the
# median over the CLI run's set-up and theirs.  Each costs ~6 s, and a
# full pass (48 runs, 4 of them traced) must end within 57 minutes.
EXTRA_SETUPS = 1
RUN_TIMEOUT_S = 150  # one CLI process
REAP_TIMEOUT_S = 30  # the JVM and Python workers after the CLI exits
BUDGET_S = 170       # no new run starts unless it would end by then
END_TO_END = (("wall_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"))
REQUIRED = ("astra_perseverance_spark/__init__.py", "tools/run_report.py",
            "tools/make_training_data.py", "tests/fixtures/diag1/nodes")


def _preflight() -> None:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the package, missing {missing}")


def _become_subreaper() -> None:
    """Orphaned descendants (the Spark JVM outlives the CLI process)
    re-parent to this process, so it can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def _reap_all(timeout_s: float) -> None:
    """Wait until every descendant has exited; kill them past the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _env(run_dir: str, trace: bool) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in (
               "SPARK_MASTER", "MASTER", "PYSPARK_SUBMIT_ARGS")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: no hsperfdata file under /tmp
    submit = ["--driver-java-options",
              f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        for conf in (f"spark.eventLog.dir=file:{events}", "spark.eventLog.enabled=true",
                     "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false",
                     "spark.ui.retainedJobs=1000000", "spark.ui.retainedStages=1000000",
                     "spark.ui.retainedTasks=100000000"):
            submit += ["--conf", conf]
    # spark.local.dir is left to the package's default (RAM-backed
    # /dev/shm in local mode), as a user gets it.
    env.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    return env


def _process(run_dir: str, name: str, cfg: dict, env: dict[str, str],
             cwd: str) -> tuple[int, float, float, dict | None]:
    """One fresh ``runner.py`` process; returns its exit code, spawn and
    exit times, and the status it wrote.  Returns only after the process
    and every descendant (the Spark JVM, Python workers) have exited."""
    config = os.path.join(run_dir, f"{name}.json")
    status_path = os.path.join(run_dir, f"{name}.status.json")
    with open(config, "w") as fh:
        json.dump(dict(cfg, status=status_path), fh)
    with open(os.path.join(run_dir, f"{name}.log"), "w") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "runner.py"), config],
                                cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        t1 = time.monotonic()
    _reap_all(REAP_TIMEOUT_S)
    try:
        with open(status_path) as fh:
            status = json.load(fh)
    except FileNotFoundError:
        status = None
    return rc, t0, t1, status


def _failure(run_dir: str, name: str, rc: int, status: dict | None) -> list[str]:
    with open(os.path.join(run_dir, f"{name}.log")) as fh:
        tail = fh.read()[-2000:]
    return [f"{name}: exit code {rc}, status {'present' if status else 'missing'}", tail]


def cold_run(workload: str, seed: int, trace: bool, work: str, idx: int,
             extra_setups: int) -> dict:
    """One fresh CLI process, its output check, then ``extra_setups``
    set-up-only processes."""
    run_dir = os.path.join(work, f"{workload}-seed{seed}-{idx}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out, cwd = os.path.join(run_dir, "out"), os.path.join(run_dir, "cwd")
    os.makedirs(cwd)
    if workload == "report_diag":
        inp = gen.diag_tree()
        argv = ["-p", inp, "-o", out]
    else:
        inp = os.path.join(run_dir, "input")
        gen.make_corpus(inp, seed)
        argv = [inp, "-o", out, "--trim-spans", "--webdataset", "--index-store"]
    env = _env(run_dir, trace)

    steal0 = _steal_s()
    rc, t0, t1, status = _process(
        run_dir, "cli", {"workload": workload, "argv": argv, "trace": trace}, env, cwd)
    rec = {"workload": workload, "seed": seed, "rc": rc, "wall_s": t1 - t0,
           "nproc": os.cpu_count(), "cpus": CPUS, "heap": HEAP,
           "loadavg": round(os.getloadavg()[0], 2), "steal_s": round(_steal_s() - steal0, 2)}
    if rc != 0 or status is None:
        rec["problems"] = _failure(run_dir, "cli", rc, status)
    else:
        setups = [status["setup_done"] - t0]
        rec["peak_rss_mb"] = status["peak_rss_mb"]
        if workload == "report_diag":
            rec["problems"] = check.check_report(out)
        else:
            rec["problems"] = check.check_training(out, inp)
        if trace and not rec["problems"]:
            events = os.path.join(run_dir, "events")
            (log_name,) = os.listdir(events)
            rec["layers"] = tracing.analyze(os.path.join(events, log_name), status,
                                            gen.input_bytes(inp))
        for k in range(extra_setups):
            name = f"setup{k}"
            rc, t0, _, status = _process(
                run_dir, name, {"workload": workload, "argv": None, "trace": False}, env, cwd)
            if rc != 0 or status is None:
                rec["problems"] += _failure(run_dir, name, rc, status)
                break
            setups.append(status["setup_done"] - t0)
        rec["setups"] = setups
        rec["setup_s"] = statistics.median(setups)
    rec["ok"] = not rec["problems"]
    shutil.rmtree(run_dir)
    return rec


def _describe(rec: dict) -> str:
    vals = " ".join(f"{k}={rec[k]:.3f}" for k, _ in END_TO_END if k in rec)
    if len(rec.get("setups", ())) > 1:
        vals += " setups=" + ",".join(f"{v:.3f}" for v in rec["setups"])
    ctx = " ".join(f"{k}={rec[k]}" for k in ("nproc", "cpus", "heap", "loadavg", "steal_s"))
    verdict = "ok" if rec["ok"] else "FAILED: " + "; ".join(rec["problems"])
    return f"{rec['workload']} seed={rec['seed']} {vals} {ctx} rc={rec['rc']} check={verdict}"


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _preflight()
    _become_subreaper()
    work = os.path.abspath(".perfbench_work")
    os.makedirs(work, exist_ok=True)
    start = time.monotonic()
    runs: list[dict] = []

    def go(traced: bool, extra_setups: int) -> dict:
        rec = cold_run(args.workload, args.seed, traced, work, len(runs), extra_setups)
        runs.append(rec)
        print(("traced " if traced else "") + _describe(rec), flush=True)
        return rec

    metrics = {}
    if args.trace:
        base = go(False, 0)
        rec = go(True, 0)
        if base["ok"] and rec["ok"]:
            values = rec["layers"]
            values["trace.overhead"] = rec["wall_s"] / base["wall_s"]
            units = tracing.metric_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
            print(f"{'span':<40}" + "".join(f"{f:>17}" for f, _ in tracing.FIELDS))
            for span in tracing.SPANS:
                print(f"{span:<40}" + "".join(f"{values[f'{span}.{f}']:>17.3f}"
                                             for f, _ in tracing.FIELDS))
            for name, unit in tracing.RATIOS:
                print(f"{name:<40}{values[name]:>17.4f} {unit}")
    else:
        while True:
            go(False, EXTRA_SETUPS)
            elapsed = time.monotonic() - start
            last = elapsed / len(runs)
            if elapsed >= args.seconds or elapsed + 1.5 * last > BUDGET_S:
                break
        good = [r for r in runs if r["ok"]]
        for name, unit in END_TO_END:
            values = [r[name] for r in good]
            if not values:
                continue
            q1, med, q3 = _quartiles(values)
            print(f"{args.workload} {name}: median {med:.4f} {unit}, "
                  f"IQR {q3 - q1:.4f} {unit}, n {len(values)}")
            metrics[name] = {"value": med, "unit": unit}

    failed = sum(not r["ok"] for r in runs)
    print(f"{args.workload}: failed/attempted {failed}/{len(runs)}")
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
