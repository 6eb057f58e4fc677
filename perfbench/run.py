"""Benchmark entry point: run workloads of odc-stac-spark and print metrics.

    python3 perfbench/run.py --workload catalog_stac --seed 1 --seconds 10 --trace 0

``--workload`` takes one name, a comma-separated list, or ``all``. Each
workload runs in a fresh process (``measure.py``) on ``local[<cores>]``,
with one closed-loop caller. With ``--trace 0`` a run reports the
end-to-end metrics; with ``--trace 1`` it enables the Spark event log and
reports the per-layer metrics. For one workload, the last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}`` with the metrics
``BENCHMARK.json`` names; the line before it is the full report. For several
workloads, each is run untraced and (with ``--trace 1``) traced, and the
report shows the tracing overhead.

Everything a run writes stays under ``.perfbench_work/`` in the checkout;
the run's own working directory is removed when it ends, and the report and
spans are kept in ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0  # a run must end within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")
WORKLOADS = ("mosaic_list", "catalog_stac", "query_scan", "query_iterative")


# ---- process tree ----------------------------------------------------------

def _stat(pid: int):
    """(ppid, start time) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
        return int(rest[1]), int(rest[19])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> dict:
    """pid -> start time for ``root`` and every process below it."""
    kids: dict = {}
    start: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(st[0], []).append(int(name))
                start[int(name)] = st[1]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in start:
            out[pid] = start[pid]
            todo += kids.get(pid, [])
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * PAGE / 1e6


class TreeWatch(threading.Thread):
    """Samples the summed RSS of a process tree, between the child's
    set-up and checks markers, and remembers every process it saw."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.seen: dict = {}
        self.window = False
        self.peak = 0.0
        self.done = threading.Event()

    def run(self):
        while not self.done.is_set():
            tree = descendants(self.pid)
            self.seen.update(tree)
            if self.window:
                self.peak = max(self.peak, rss_mb(tree))
            self.done.wait(0.2)

    def stop_all(self) -> None:
        """Stop every process of the tree that is still alive; wait for each."""
        self.done.set()
        self.join()
        self.seen.update(descendants(self.pid))
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = [p for p, t in self.seen.items() if (_stat(p) or (0, None))[1] == t]
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 5
            while alive and time.monotonic() < end:
                alive = [p for p in alive if (_stat(p) or (0, None))[1] == self.seen[p]]
                time.sleep(0.05)
            if not alive:
                return


def cpu_times():
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


# ---- one run ----------------------------------------------------------------

def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(WORK, tag)
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: temp files in the run's
        # directory, and no /tmp/hsperfdata_<user> entry
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(s) for s in submit) + " pyspark-shell",
    )
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--work-dir", work, "--result", result_path, "--event-log", events,
    ]
    load0, cpu0 = os.getloadavg(), cpu_times()
    t0 = time.monotonic()
    try:
        with open(os.path.join(work, "stderr.log"), "w") as err:
            child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                     stderr=err, text=True, start_new_session=True)
            watch = TreeWatch(child.pid)
            watch.start()
            killer = threading.Timer(DEADLINE_S, child.kill)
            killer.start()
            try:
                for line in child.stdout:
                    if line.startswith("@@ "):
                        watch.window = line.strip() in ("@@ setup", "@@ timed")
                code = child.wait()
            finally:
                killer.cancel()
                watch.stop_all()
        wall = time.monotonic() - t0
        if code != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "stderr.log")) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"{workload}: measure.py exited {code} after {wall:.0f} s\n{tail}")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    res["e2e"]["peak_rss_mb"] = watch.peak
    if "layers" in res:
        res["layers"]["peak_rss_mb"] = watch.peak
    # context only: never used to select or drop a run
    res["context"] = {
        "cores": cores, "run_wall_s": wall, "loadavg_start": load0,
        "loadavg_end": os.getloadavg(), "steal_pct": 100.0 * d[7] / max(1, sum(d)),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json"), "w") as fh:
        json.dump(res, fh)
    return res


# ---- reporting ----------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s", "request_p50_s": "s", "request_p90_s": "s", "pass_s": "s",
    "mpx_per_s": "Mpx/s", "failed_ratio": "ratio", "peak_rss_mb": "MB",
}


def report(res: dict) -> dict:
    out = {
        "workload": res["workload"], "seed": res["seed"], "trace": res["trace"],
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()},
        "samples": res["samples"], "context": res["context"],
        "failures": res["failures"],
    }
    for key in ("layers", "modules", "self_s"):
        if key in res:
            out[key] = res[key]
    return out


def contract_line(res: dict, bench: dict) -> dict:
    if res["trace"]:
        # none after a failure
        specs, values = bench["per_layer"], {**res.get("layers", {}), **res.get("modules", {})}
    else:
        specs, values = bench["end_to_end"], res["e2e"]
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in specs if m["name"] in values},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="name, comma list, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = list(WORKLOADS) if a.workload == "all" else a.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        ap.error(f"unknown workload(s) {unknown}; choose from {WORKLOADS}")
    if not os.path.isfile(os.path.join(ROOT, "odc_stac_spark", "__init__.py")):
        print(f"odc_stac_spark not found under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    if len(names) == 1:
        res = run_one(names[0], a.seed, a.seconds, a.trace)
        print(json.dumps(report(res)))
        print(json.dumps(contract_line(res, bench)))
        return 0 if res["failed"] == 0 else 1

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        runs = [run_one(name, a.seed, a.seconds, 0)]
        if a.trace:
            runs.append(run_one(name, a.seed, a.seconds, 1))
        for res in runs:
            print(json.dumps(report(res)))
            summary["attempted"] += res["attempted"]
            summary["failed"] += res["failed"]
        for k, v in runs[0]["e2e"].items():
            summary["metrics"][f"{name}.{k}"] = {"value": v, "unit": E2E_UNITS[k]}
        if a.trace:
            overhead = runs[1]["e2e"]["pass_s"] - runs[0]["e2e"]["pass_s"]
            summary["metrics"][f"{name}.trace_overhead_s"] = {"value": overhead, "unit": "s"}
    summary["correct"] = summary["failed"] == 0
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
