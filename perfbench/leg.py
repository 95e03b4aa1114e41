"""One measured run of one workload, in its own process (started by
run.py, which owns its timeout and its process group).

With ``--reference`` it only writes the analytics check's reference
checksums (``workloads.reference``) and exits.

Set-up (timed as ``setup_s``): ``get_spark``, the input-cache check and
a warmup pass. Then closed-loop passes, one at a time,
until ``--seconds`` have passed (at least one). Then the output checks.
With ``--trace 1`` passes alternate untraced and traced (three, or two
when a third would outrun ``--limit``), the event log is on, and the per-layer metrics come from the
traced passes.

Prints one JSON object as its last stdout line.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace  # noqa: E402
from perfbench.inputs import ROOT  # noqa: E402
from perfbench.proctree import PeakRss  # noqa: E402
from perfbench.workloads import WORKLOADS, reference  # noqa: E402


TAIL_S = 30.0  # output checks, event-log parsing and Spark shutdown


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(passes, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    med = statistics.median
    return {
        "urls_per_s": med(p.units / p.units_wall for p in passes),
        "pass_s": med(p.wall for p in passes),
        "cpu_s": med(p.cpu for p in passes),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup_s,
    }


def per_layer(passes, tracer, log_dir: str, cores: int, start_s: float) -> dict[str, float]:
    stats = trace.event_logs(log_dir)
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    reports = []
    for p in traced:
        r = trace.pass_report(tracer.spans, p.root, stats, cores)
        r.update(p.counts)
        reports.append(r)
    out = {k: statistics.median(r.get(k, 0.0) for r in reports) for k in set().union(*reports)}
    out["session.start_s"] = start_s
    out["trace.overhead_frac"] = (
        statistics.median(p.wall for p in traced) / statistics.median(p.wall for p in untraced) - 1.0
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--limit", type=float, default=float("inf"), help="seconds the run may take")
    ap.add_argument("--reference", action="store_true",
                    help="only write the analytics check's reference checksums")
    a = ap.parse_args()
    if a.reference:
        from scrapeulous_spark.session import get_spark

        spark = get_spark(cpus=a.cores, app_name="perfbench_reference",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        for _q, msg in reference(spark):
            print(f"reference: {msg}", file=sys.stderr)
        spark.stop()
        return 0

    spec = bench_spec()
    tracer = trace.Tracer(f"{a.workload}-s{a.seed}") if a.trace else None
    patches = trace.install(tracer) if tracer else None
    log_dir = os.path.join(a.work_dir, "eventlog")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t0 = time.perf_counter()
    from scrapeulous_spark.session import get_spark

    spark = get_spark(cpus=a.cores, app_name=f"perfbench_{a.workload}", extra_conf=conf)
    start_s = time.perf_counter() - t0
    if tracer:
        tracer.sc = spark.sparkContext
    wl = WORKLOADS[a.workload](spark, a.seed, a.work_dir)
    wl.check_inputs()
    t1 = time.perf_counter()
    wl.warmup()
    setup_s = time.perf_counter() - t0
    print(f"setup {setup_s:.1f}s: get_spark {start_s:.1f}s, input check {t1 - t0 - start_s:.1f}s, "
          f"warmup {t0 + setup_s - t1:.1f}s", file=sys.stderr)

    passes, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + a.seconds
    with PeakRss(os.getpid()) as rss:
        i = 0
        while True:
            traced = tracer is not None and i % 2 == 1
            # each pass starts from a collected heap, so a collection of
            # set-up or earlier-pass garbage does not land inside it
            spark.sparkContext._jvm.System.gc()
            gc.collect()
            try:
                passes.append(wl.run_pass(i, tracer if traced else None, rss))
            except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
                traceback.print_exc()
                attempted += 1
                failed += 1
            if passes and passes[-1].index == i:
                print(f"pass {i}{' traced' if traced else ''}: {passes[-1].wall:.1f}s", file=sys.stderr)
            i += 1
            # traced runs measure untraced, traced, untraced: the traced
            # pass sits between two untraced ones as the JIT warms up.
            # On a slow host they skip the third pass rather than outrun
            # the time limit (TAIL_S is left for checks and shutdown).
            now = time.perf_counter()
            if tracer and i == 2 and passes and now + passes[-1].wall > t0 + a.limit - TAIL_S:
                break
            if now >= deadline and i >= (3 if tracer else 1):
                break
    if passes:
        t2 = time.perf_counter()
        wl.check(passes)
        print(f"checks {time.perf_counter() - t2:.1f}s", file=sys.stderr)
    for p in passes:
        attempted += p.attempts
        failed += p.failed
        for _item, msg in p.failures:
            print(f"check failed (pass {p.index}): {msg}", file=sys.stderr)
    spark.stop()
    if patches:
        patches.undo()
    if not passes or (a.trace and not any(p.traced for p in passes)):
        print("no pass completed", file=sys.stderr)
        return 1

    if a.trace:
        values = per_layer(passes, tracer, log_dir, a.cores, start_s)
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = end_to_end(passes, setup_s, rss.peak_mb)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
