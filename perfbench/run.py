"""Benchmark entry point.

    python3 perfbench/run.py --cores K --driver-memory M \\
        --workload {crawl,analytics} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates (once) and caches the
workload's inputs under ``.perfbench/cache``, and once per checkout the
analytics check's reference checksums (``leg.py --reference``). Then
runs one measured run (perfbench/leg.py) in a child process with its
own process group,
Spark at ``local[K]`` and ``SPARK_DRIVER_MEMORY=M``. Every file it
writes stays inside the checkout. Prints the run's result as one JSON
object on the last stdout line: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``, named and unit-tagged as in BENCHMARK.json).
Exits non-zero, printing no result, when the run or a child fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.proctree import stat_fields  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

LIMIT_S = 170.0  # the whole run, generation of cached inputs aside
REFERENCE_LIMIT_S = 600.0  # the analytics reference, once per checkout


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        fields = stat_fields(int(name)) if name.isdigit() else None
        if fields is not None and fields[0] != "Z" and int(fields[3]) == sid:  # zombies have ended
            pids.append(int(name))
    return pids


def _kill_session(proc: subprocess.Popen) -> None:
    """SIGKILL the child's whole process group (its JVM and Python
    workers too) and wait until none of them is left."""
    sid = proc.pid
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        if not _session_pids(sid):
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} outlived SIGKILL")


def validate(result: dict, spec: dict, traced: bool) -> None:
    """The result line's contract: exactly these keys, whole counts,
    and every metric of the chosen list as a number with its unit."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    if not isinstance(result["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or result[k] < 0:
            raise ValueError(f"{k} must be a non-negative whole number")
    if result["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    want = spec["per_layer" if traced else "end_to_end"]
    if set(result["metrics"]) != {m["name"] for m in want}:
        raise ValueError("metric names differ from BENCHMARK.json")
    for m in want:
        got = result["metrics"][m["name"]]
        if got["unit"] != m["unit"] or not isinstance(got["value"], float):
            raise ValueError(f"metric {m['name']}: {got}")


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--driver-memory", required=True)
    a = ap.parse_args()
    if not 1 <= a.cores <= (os.cpu_count() or 1):
        ap.error(f"--cores must be between 1 and {os.cpu_count()}")

    os.environ["SPARK_GRAFT_CACHE"] = inputs.CACHE
    inputs.prepare(a.workload, a.seed)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(inputs.WORK, "tmp", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY=a.driver_memory,
        SPARK_GRAFT_CPUS=str(a.cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    leg = [
        sys.executable, os.path.join(ROOT, "perfbench", "leg.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--cores", str(a.cores), "--work-dir", work,
    ]
    try:
        if not os.path.exists(inputs.REFERENCE):
            # once per checkout, in whichever workload's run comes first
            if _spawn(leg + ["--reference"], env, work, REFERENCE_LIMIT_S) is None:
                return 1
        # a first run spends its budget generating inputs; later runs
        # keep the whole run inside LIMIT_S
        timeout = max(LIMIT_S - (time.monotonic() - t0), 120.0)
        out = _spawn(leg + ["--seconds", str(a.seconds), "--trace", str(a.trace), "--limit", str(timeout)],
                     env, work, timeout)
        return 1 if out is None else _report(out[0], out[1], spec, bool(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _spawn(cmd: list[str], env: dict, work: str, timeout: float) -> tuple[str, str] | None:
    """Runs cmd in a session of its own, kills whatever of the session
    is left when it ends, and returns its (stdout, stderr). Prints the
    tail of its stderr and returns None when it times out or fails."""
    with open(os.path.join(work, "stderr.log"), "w+") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            _kill_session(proc)
            err.seek(0)
            sys.stderr.write(err.read()[-4000:])
            print(f"run timed out after {timeout:.0f}s", file=sys.stderr)
            return None
        _kill_session(proc)  # nothing of the child may outlive it
        err.seek(0)
        stderr = err.read()
    if proc.returncode != 0:
        sys.stderr.write(stderr[-4000:])
        print(f"run failed with exit code {proc.returncode}", file=sys.stderr)
        return None
    for line in stderr.splitlines():
        if line.startswith(("check failed", "setup ", "pass ", "checks ", "reference: ")):
            print(line, file=sys.stderr)
    return out, stderr


def _report(out: str, stderr: str, spec: dict, traced: bool) -> int:
    lines = out.strip().splitlines()
    if not lines:
        sys.stderr.write(stderr[-4000:])
        print("run printed no result", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    validate(result, spec, traced)
    print(f"fail_frac {result['failed'] / result['attempted']} "
          f"({result['failed']} of {result['attempted']} attempted)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
