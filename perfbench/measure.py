"""Run one workload in one Spark session and write its measurements as JSON.

Started by ``run.py`` in a fresh process, so set-up is measured from a cold
interpreter and JVM:

    measure.py --workload W --seed N --seconds S --trace 0|1 \
               --work-dir DIR --result FILE --event-log DIR

Order of a run: write the seeded inputs (excluded from set-up), set up
(``get_spark``, ``load_all``, one checked warm-up of each distinct request),
then passes over the request list until ``--seconds`` have elapsed, then the
output checks, then (traced runs only) the layer probes and the event log.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

from spans import NoTrace, Tracer, phase_counters, read_event_log, self_times, tile_stage  # noqa: E402
from workloads import MODULE_METRICS, WORKLOADS  # noqa: E402


def mark(what: str) -> None:
    """Phase marker for run.py, which samples memory between markers."""
    print(f"@@ {what}", flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--event-log", required=True)
    a = ap.parse_args()

    # imports count as set-up; writing the inputs does not
    from odc_stac_spark import get_spark
    from odc_stac_spark.queries import load_all

    wl = WORKLOADS[a.workload](a.seed, a.work_dir)
    g0 = time.perf_counter()
    wl.prepare()
    inputs_s = time.perf_counter() - g0

    tr = Tracer(a.workload) if a.trace else NoTrace()
    failures: list = []  # (request id, message)
    mark("setup")
    with tr.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{a.workload}")
    tr.spark = spark
    with tr.span("queries.load_all"):
        load_all()
    ids = wl.request_ids()
    outputs = {}
    for rid in ids:
        with tr.request(f"warmup/{rid}"):
            try:
                outputs[rid] = wl.run(spark, tr, rid, checked=True)
            except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
                failures.append((rid, traceback.format_exc(limit=3)))
    setup_s = time.perf_counter() - T_START - inputs_s

    mark("timed")
    walls, passes, pixels = [], [], 0
    deadline = time.perf_counter() + a.seconds
    while not passes or time.perf_counter() < deadline:
        p0 = time.perf_counter()
        for rid in wl.pass_order(ids):
            rid_k = f"pass{len(passes)}/{rid}"
            with tr.request(rid_k):
                t0 = time.perf_counter()
                try:
                    pixels += wl.run(spark, tr, rid)
                except Exception:  # noqa: BLE001
                    failures.append((rid_k, traceback.format_exc(limit=3)))
                walls.append(time.perf_counter() - t0)
        passes.append(time.perf_counter() - p0)
    mark("checks")

    c0 = time.perf_counter()
    try:
        failures += wl.check(spark, outputs)
    except Exception:  # noqa: BLE001
        failures.append(("check", traceback.format_exc(limit=3)))
    check_s = time.perf_counter() - c0
    if a.trace:
        wl.probe(spark, tr)
    spark.stop()

    attempted = len(ids) + len(walls)
    failed = len({rid for rid, _ in failures})
    e2e = {
        "setup_s": setup_s,
        "request_p50_s": median(walls),
        "request_p90_s": percentile(walls, 0.9),
        "pass_s": median(passes),
        "failed_ratio": failed / attempted,
    }
    if wl.raster:
        e2e["mpx_per_s"] = pixels / 1e6 / sum(walls)
    result = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "e2e": e2e,
        "samples": {"requests": len(walls), "passes": len(passes),
                    "beyond_p90": sum(w > e2e["request_p90_s"] for w in walls)},
        "inputs_s": inputs_s,
        "check_s": check_s,
        "attempted": attempted,
        "failed": failed,
        "failures": [f"{rid}: {msg}" for rid, msg in failures],
    }
    if a.trace and not failures:
        result["layers"], result["modules"], result["self_s"] = layers(a, wl, tr, passes)
        result["spans"] = tr.spans
    with open(a.result, "w") as fh:
        json.dump(result, fh)
    return 0


def layers(a, wl, tr, passes: list) -> tuple:
    """Per-layer metrics of a traced run. Phase metrics are summed per pass
    over the timed requests, then the median over passes is taken; set-up
    spans and the layer probes are measured once."""
    groups = read_event_log(a.event_log)
    spans = tr.spans
    selfs = self_times(spans)
    once = {sp["name"]: sp["end"] - sp["start"] for sp in spans if sp["request"] == "setup"}

    def group(sp):
        return groups.get(f"{a.workload}/{sp['request']}/{sp['name']}")

    per_pass = [dict() for _ in passes]
    for sp in spans:
        if not sp["request"].startswith("pass"):
            continue  # set-up, warm-up and probe spans
        k, rid = sp["request"][4:].split("/", 1)
        acc = per_pass[int(k)]

        def add(key, v):
            acc[key] = acc.get(key, 0) + v

        if sp["name"] == "request":
            add("self.request_s", selfs[sp["id"]])
            continue
        c = phase_counters(group(sp))
        add(f"{sp['name']}_s", sp["end"] - sp["start"])
        add(f"{sp['name']}_jobs", c["jobs"])
        if sp["name"] != "exec":
            add("api.build_s", sp["end"] - sp["start"])
            add("api.build_jobs", c["jobs"])
        for key, v in c.items():
            add(f"spark.{key}", v)
        ts = tile_stage(group(sp)) if sp["name"] == "exec" and wl.raster else None
        if ts is not None:
            add("tile.tasks", ts["tasks"])
            add("tile.run_s", ts["run_ms"] / 1e3)
            add("tile.kernel_s", wl.kernel_s(rid))

    def med(key):
        return median([p.get(key, 0) for p in per_pass])

    out = {
        "session.get_spark_s": once["session.get_spark"],
        "queries.load_all_s": once["queries.load_all"],
        "api.build_s": med("api.build_s"),
        "api.build_jobs": med("api.build_jobs"),
        "spark.exec_s": med("exec_s"),
        "spark.exec_jobs": med("exec_jobs"),
        "spark.jobs": med("spark.jobs"),
        "spark.stages": med("spark.stages"),
        "spark.tasks": med("spark.tasks"),
        "spark.executor_run_s": med("spark.run_ms") / 1e3,
        "spark.executor_cpu_s": med("spark.cpu_ns") / 1e9,
        "spark.gc_s": med("spark.gc_ms") / 1e3,
        "spark.task_overhead_s": med("spark.overhead_ms") / 1e3,
        "spark.shuffle_read_mb": med("spark.shuffle_read_b") / 1e6,
        "spark.shuffle_write_mb": med("spark.shuffle_write_b") / 1e6,
        "spark.python_start_s": med("spark.python_start_ms") / 1e3,
        "spark.python_init_s": med("spark.python_init_ms") / 1e3,
        "spark.python_run_s": med("spark.python_run_ms") / 1e3,
        "spark.python_sent_mb": med("spark.python_sent_b") / 1e6,
        "spark.python_returned_mb": med("spark.python_returned_b") / 1e6,
        "self.request_s": med("self.request_s"),
        "trace.pass_s": median(passes),
    }
    probe: dict = {}  # phase -> totals over the traced-only probe calls
    for sp in spans:
        if sp["request"] == "probe" and sp["name"] != "request":
            p = probe.setdefault(sp["name"], {"s": 0.0, "jobs": 0, "tile_tasks": 0})
            p["s"] += sp["end"] - sp["start"]
            p["jobs"] += phase_counters(group(sp))["jobs"]
            ts = tile_stage(group(sp))
            p["tile_tasks"] += ts["tasks"] if ts else 0
    names = {sp["name"] for sp in spans if sp["request"].startswith("pass") and sp["name"] != "request"}
    self_s = {n: med(f"{n}_s") for n in sorted(names)}
    self_s["request outside phases"] = med("self.request_s")
    return out, {**dict.fromkeys(MODULE_METRICS, 0.0), **wl.modules(med, probe)}, self_s


if __name__ == "__main__":
    sys.exit(main())
