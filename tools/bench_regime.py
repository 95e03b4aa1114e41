"""Regime check for the 8->32 scaling rung: run pinned crawl legs at
two core counts on a LARGER corpus than BENCH and report the pairwise
efficiency.

BENCH.md attributes the weak 8->32 rung (~0.41-0.46 every round) to
wave size, not plan shape: on the 450k-page BENCH corpus the per-depth
scheduling waves are too small to feed 32 cores (event-log attribution,
round 2). If that is true, the same rung must IMPROVE on a corpus with
2x the pages/seeds — and stay put if the real cause were a serial plan
stage. This tool measures exactly that.

    python tools/bench_regime.py [--scale 2] [--cpus 8,32] [--runs 2]

Methodology matches bench.py legs: WARM-corpus warmup (plan-compile
cache), process tree pinned to N idlest cores via sched_setaffinity,
min-of-k timed runs, fresh warehouse tempdir per run.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def leg(cpus: int, params, runs: int) -> dict:
    import bench
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.session import get_spark
    from scrapeulous_spark.sources.corpus import WARM, ensure_corpus

    try:
        os.sched_setaffinity(0, bench._idlest_cores(cpus))
    except OSError:
        pass
    paths = ensure_corpus(params)
    warm = ensure_corpus(WARM)
    spark = get_spark(
        cpus=cpus,
        shuffle_partitions=max(cpus, 8),
        app_name=f"bench_regime_{cpus}",
    )
    def cgroup_cpu_s():
        try:
            return int(open("/sys/fs/cgroup/cpuacct/cpuacct.usage").read()) / 1e9
        except OSError:
            return None

    with tempfile.TemporaryDirectory() as wh:
        CrawlEngine(spark, wh, warm).run()  # warmup: compile the plans
    walls, utils, fetched = [], [], []
    for _ in range(runs):
        with tempfile.TemporaryDirectory() as wh:
            c0 = cgroup_cpu_s()
            t0 = time.monotonic()
            eng = CrawlEngine(spark, wh, paths)
            eng.run()
            fetched.append(eng.result_crawl_order().count())  # inside the window, like bench.py
            w = time.monotonic() - t0
            c1 = cgroup_cpu_s()
        walls.append(round(w, 2))
        utils.append(
            None if c0 is None or c1 is None else round((c1 - c0) / (cpus * w), 3)
        )
    spark.stop()
    # identical inputs must crawl identically; a run that fetched a
    # different count would make urls_per_sec compare unlike work
    if len(set(fetched)) != 1:
        raise RuntimeError(f"local[{cpus}]: fetched counts differ across runs: {fetched}")
    wall = min(walls)
    return {
        "cpus": cpus,
        "walls": walls,
        "pinned_util_all_runs": utils,
        "wall_sec": wall,
        "urls_fetched": fetched[0],
        "urls_per_sec": round(fetched[0] / wall, 2),
    }


def _params(scale: int):
    from scrapeulous_spark.sources.corpus import BENCH

    # scale pages/seeds (what sizes the per-depth waves); images/hosts
    # kept at BENCH values so the skew profile and payload costs match
    return dataclasses.replace(
        BENCH,
        n_pages=BENCH.n_pages * scale,
        n_seeds=BENCH.n_seeds * scale,
    )


def main():
    args = sys.argv[1:]
    scale = int(args[args.index("--scale") + 1]) if "--scale" in args else 2
    runs = int(args[args.index("--runs") + 1]) if "--runs" in args else 2

    if "--leg" in args:  # subprocess mode: one leg, fresh JVM
        n = int(args[args.index("--leg") + 1])
        print(json.dumps(leg(n, _params(scale), runs)))
        return

    cpus = (
        [int(x) for x in args[args.index("--cpus") + 1].split(",")]
        if "--cpus" in args
        else [8, 32]
    )
    params = _params(scale)
    out = {"scale": scale, "corpus_tag": params.tag, "legs": {}}
    for n in cpus:
        # EACH leg in a fresh subprocess: sched_setaffinity(0, ...)
        # changes only the calling python process — a local-mode JVM
        # forked during an earlier, narrower-pinned leg KEEPS that
        # affinity, silently capping every later leg (measured: a
        # 32-core leg after an 8-core leg in one process ran at util
        # 0.24 = the inherited 8-core mask). bench.py isolates legs
        # the same way.
        import subprocess

        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--leg", str(n), "--scale", str(scale), "--runs", str(runs),
        ]
        res = subprocess.run(cmd, capture_output=True, text=True)
        if res.returncode != 0 or not res.stdout.strip():
            raise RuntimeError(
                f"local[{n}] leg exited {res.returncode}:\n{res.stderr[-4000:]}"
            )
        out["legs"][str(n)] = json.loads(res.stdout.strip().splitlines()[-1])
        print(json.dumps(out["legs"][str(n)]), flush=True)
    ks = sorted(int(k) for k in out["legs"])
    for a, b in zip(ks, ks[1:]):
        ua = out["legs"][str(a)]["urls_per_sec"]
        ub = out["legs"][str(b)]["urls_per_sec"]
        out[f"eff_{a}_{b}"] = round((ub / ua) / (b / a), 3)
    print(json.dumps({k: v for k, v in out.items() if k != "legs"}))


if __name__ == "__main__":
    main()
