"""BENCHMARK.json, the result line and the seeded inputs keep their
contracts; every per-layer metric has code that produces it."""

import json
import os
import re

import pytest

from perfbench import inputs, run, trace
from perfbench.workloads import HEADLINE, WORKLOADS, analytics_counts
from tools.check_queries import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(spec["command"]) <= 32 and all(len(a) <= 200 for a in spec["command"])
    assert not any(a.startswith("/") or ".." in a.split("/") for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16 and all(PATH.match(p) for p in spec["paths"])
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    names = [m["name"] for m in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def _result(spec, traced):
    metrics = {m["name"]: {"value": 1.5, "unit": m["unit"]}
               for m in spec["per_layer" if traced else "end_to_end"]}
    return {"correct": True, "attempted": 3, "failed": 0, "metrics": metrics}


@pytest.mark.parametrize("traced", [False, True])
def test_result_line_schema(spec, traced):
    good = _result(spec, traced)
    run.validate(good, spec, traced)
    bad = [
        {**good, "extra": 1},
        {**good, "attempted": 0},
        {**good, "failed": 1.0},
        {**good, "correct": "yes"},
        {**good, "metrics": dict(list(good["metrics"].items())[1:])},
        {**good, "metrics": {**good["metrics"], next(iter(good["metrics"])): {"value": 1, "unit": "s"}}},
    ]
    for b in bad:
        with pytest.raises(ValueError):
            run.validate(b, spec, traced)
    with pytest.raises(ValueError):
        run.validate(_result(spec, not traced), spec, traced)


def test_every_per_layer_metric_has_a_producer(spec):
    root = trace.Span(1, "crawl", "loop", 0, 10, None, "main", "p0")
    spans = [root] + [
        trace.Span(i + 2, f"{layer}.append", layer, 1, 2, 1, "main", "p0")
        for i, layer in enumerate(("extract", "validate", "fetch", "schedule", "expand",
                                   "seen", "finalize", "metrics", "catalog", "serp"))
    ]
    stats = {str(s.id): dict.fromkeys(trace.SPARK_STATS, 1.0) for s in spans}
    produced = set(trace.pass_report(spans, root, stats, cores=4))
    produced |= set(analytics_counts(dict.fromkeys(HEADLINE, 1.0), [10, None]))
    produced |= {  # Crawl._layer_counts and Crawl.run_pass
        "fetch.rows", "fetch.ok_ratio", "extract.pages", "extract.hits_per_kpage",
        "validate.images", "validate.decode_ok_ratio", "expand.rows", "expand.skew",
        "schedule.pop_ratio", "seen.size", "seen.new_ratio",
        "tables.store_mb", "tables.bytes_written", "tables.files_written",
        "session.start_s", "trace.overhead_frac",  # leg.per_layer
    }
    assert {m["name"] for m in spec["per_layer"]} <= produced


def test_analytics_tables_hold_every_table_the_headline_queries_read():
    from scrapeulous_spark.operators import load_all_catalogs

    registry = load_all_catalogs()
    read = {t for q in HEADLINE for t in TABLES if re.search(rf"\b{t}\b", registry[q].oracle)}
    assert read
    for d in (inputs.TABLES_DIR, inputs.WARM_TABLES_DIR):
        assert read <= {n.removesuffix(".parquet") for n in os.listdir(d)}
        assert all(not os.path.islink(os.path.join(d, n)) for n in os.listdir(d))


def test_observed_checksum_ignores_row_order_and_sees_a_changed_row():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from perfbench.workloads import observed

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()

    def checksum(rows, name):
        df, obs = observed(spark.createDataFrame(rows, "k long, v double, s string"), name)
        df.write.format("noop").mode("overwrite").save()
        return obs.get

    rows = [(1, 0.5, "a"), (2, 1.0 / 3, "b"), (3, None, "c")]
    a = checksum(rows, "a")
    assert a["rows"] == 3
    assert checksum(rows[::-1], "b") == a
    assert checksum([(1, 0.5, "a"), (2, 1.0 / 3 + 1e-13, "b"), (3, None, "c")], "c") == a  # below canon's rounding
    assert checksum([(1, 0.5, "a"), (2, 1.0 / 3, "B"), (3, None, "c")], "d") != a


def test_seed_list_draws_distinct_pages_then_the_invalid_row(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = tmp_path / "pages.parquet"
    pq.write_table(pa.table({"url": [f"http://h/p{i}" for i in range(50)]}), pages)
    one = inputs.seed_list(str(pages), 9, 20, str(tmp_path / "a.parquet"))
    two = inputs.seed_list(str(pages), 9, 20, str(tmp_path / "b.parquet"))
    other = inputs.seed_list(str(pages), 10, 20, str(tmp_path / "c.parquet"))
    urls = pq.read_table(one)["url"].to_pylist()
    assert urls == pq.read_table(two)["url"].to_pylist()
    assert urls != pq.read_table(other)["url"].to_pylist()
    assert len(set(urls[:-1])) == 20 and urls[-1] == inputs.INVALID_SEED
    assert pq.read_table(one)["seed_id"].to_pylist() == list(range(21))


def test_kill_session_leaves_no_process_of_the_group():
    import subprocess
    import time

    proc = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60 & wait"], start_new_session=True)
    deadline = time.monotonic() + 10
    while len(run._session_pids(proc.pid)) < 3 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(run._session_pids(proc.pid)) == 3  # sh and both sleeps
    run._kill_session(proc)
    assert run._session_pids(proc.pid) == []
    assert proc.returncode is not None


def test_peak_rss_samples_only_inside_resume_and_pause(monkeypatch):
    from perfbench import proctree

    memory = iter([100.0, 300.0])
    monkeypatch.setattr(proctree, "tree_rss_mb", lambda root: next(memory, 900.0))
    with proctree.PeakRss(0, interval_s=3600) as rss:
        rss.resume()  # samples 100
        rss.pause()  # samples 300
    assert rss.peak_mb == 300.0  # nothing sampled while paused, nor on exit
