"""Span arithmetic, span bookkeeping and event-log attribution."""

import json
import threading

from perfbench import trace
from perfbench.trace import Span


def _span(id_, name, start, end, parent=None, thread="main", layer="x", run="p0"):
    return Span(id_, name, layer, start, end, parent, thread, run)


def test_union_len_merges_overlaps_and_gaps():
    assert trace.union_len([]) == 0.0
    assert trace.union_len([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert trace.union_len([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        _span(1, "parent", 0, 10),
        _span(2, "a", 1, 3, parent=1),
        _span(3, "b", 2, 5, parent=1),  # overlaps a: counted once
        _span(4, "c", 8, 12, parent=1),  # sticks out: only 8..10 counts
        _span(5, "grandchild", 1, 2, parent=2),
    ]
    selfs = trace.self_times(spans)
    assert selfs[1] == 10 - (4 + 2)
    assert selfs[2] == 2 - 1
    assert selfs[5] == 1


def test_multi_thread_len_counts_time_with_two_threads_busy():
    by_thread = {"a": [(0, 4)], "b": [(2, 6), (3, 5)], "c": [(5, 7)]}
    assert trace.multi_thread_len(by_thread) == 3.0  # 2..4 and 5..6
    assert trace.multi_thread_len({"a": [(0, 4), (1, 2)]}) == 0.0


def test_pass_report_loop_numbers_and_cover_frac():
    root = _span(1, "crawl", 0, 10, layer="loop")
    spans = [
        root,
        _span(2, "crawl_order.append", 1, 3, parent=1, layer="fetch"),
        _span(3, "drain_wait", 4, 6, parent=1, layer="loop"),
        _span(4, "entities_raw.append", 2, 8, parent=1, thread="pool", layer="extract"),
        _span(5, "snapshots", 2, 2.5, parent=2, layer="tables"),
        _span(6, "save_state", 9, 9.5, parent=1, layer="tables"),
        _span(7, "other pass", 0, 10, run="p1"),
    ]
    r = trace.pass_report(spans, root, {}, cores=4)
    assert r["loop.cover_frac"] == (8 - 1 + 0.5) / 10  # 1..8 and 9..9.5
    assert r["loop.main_idle_s"] == 10 - (2 + 2 + 0.5)
    assert r["loop.drain_wait_s"] == 2
    assert r["loop.overlap_s"] == 1  # main 1..3 against pool 2..8
    assert r["loop.supersteps"] == 1
    assert r["fetch.wall_s"] == 2 - 0.5  # self time: the manifest read is a child
    assert r["extract.wall_s"] == 6
    assert r["tables.manifest_reads"] == 1
    assert r["tables.commits"] == 2
    assert r["spark.occupancy"] == 0


def test_pass_report_sums_the_bytes_and_files_each_commit_wrote():
    root = _span(1, "crawl", 0, 10, layer="loop")
    a = _span(2, "seen.append", 1, 3, parent=1, layer="seen")
    b = _span(3, "frontier.overwrite", 4, 5, parent=1, layer="expand")
    a.written, b.written = (1000, 2), (500, 1)
    r = trace.pass_report([root, a, b], root, {}, cores=4)
    assert r["tables.bytes_written"] == 1500
    assert r["tables.files_written"] == 3


def test_dir_usage_counts_only_files_with_the_suffix(tmp_path):
    (tmp_path / "p=1").mkdir()
    (tmp_path / "p=1" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "part-1.parquet").write_bytes(b"x" * 5)
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / ".part-1.parquet.crc").write_bytes(b"x" * 3)
    assert trace.dir_usage(str(tmp_path), ".parquet") == (15, 2)
    assert trace.dir_usage(str(tmp_path)) == (18, 4)


def test_pass_report_sums_the_spark_totals_of_each_span():
    root = _span(1, "crawl", 0, 10, layer="loop")
    spans = [root, _span(2, "seen.append", 1, 3, parent=1, layer="seen")]
    stats = {
        "1": dict.fromkeys(trace.SPARK_STATS, 0.0) | {"jobs": 1, "task_s": 4.0},
        "2": dict.fromkeys(trace.SPARK_STATS, 0.0) | {"jobs": 2, "task_s": 16.0, "shuffle_mb": 3.0},
    }
    r = trace.pass_report(spans, root, stats, cores=4)
    assert r["seen.task_s"] == 16.0
    assert r["seen.shuffle_mb"] == 3.0
    assert r["spark.jobs"] == 3
    assert r["spark.task_s"] == 20.0
    assert r["spark.occupancy"] == 20.0 / (4 * 10)


def test_event_log_attributes_tasks_through_stage_properties(tmp_path):
    def task(stage, launch, finish, gc=0, shuffle=0, spill=0, reason="Success"):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": reason != "Success"},
            "Task Metrics": {
                "JVM GC Time": gc,
                "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {trace.SPAN_PROP: "5"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {trace.SPAN_PROP: "5"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {trace.SPAN_PROP: "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        task(0, 1000, 3000, gc=500, shuffle=2_000_000),
        task(0, 1000, 2000, reason="ExceptionFailure"),
        task(1, 0, 4000, spill=1_000_000),
        task(2, 0, 9000),  # no span: setup or checks, not attributed
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    stats = trace.event_logs(str(tmp_path))
    assert set(stats) == {"5", "7"}
    assert stats["5"] == {"jobs": 1, "task_s": 3.0, "gc_s": 0.5, "shuffle_mb": 2.0,
                          "spill_mb": 0.0, "failed_tasks": 1}
    assert stats["7"]["task_s"] == 4.0
    assert stats["7"]["spill_mb"] == 1.0
    assert stats["7"]["jobs"] == 0


class _FakeContext:
    def __init__(self):
        self.props = {}  # thread name -> {key: value}

    def setLocalProperty(self, key, value):
        self.props.setdefault(threading.current_thread().name, {})[key] = value


def test_spans_link_parents_and_hand_the_thread_back():
    tracer = trace.Tracer("t")
    tracer.sc = _FakeContext()
    assert not tracer.active
    with tracer.span("ignored", "x") as none:
        assert none is None  # no pass open: nothing recorded
    with tracer.pass_root("crawl", "p0") as root:
        with tracer.span("outer", "fetch") as outer:
            with tracer.span("manifest", "tables", spark=False):
                pass
            with tracer.span("inner", "seen") as inner:
                assert tracer.sc.props["MainThread"][trace.SPAN_PROP] == str(inner.id)
            # back to the enclosing span that marks the thread
            assert tracer.sc.props["MainThread"][trace.SPAN_PROP] == str(outer.id)

        def work():
            with tracer.span("pool", "extract"):
                pass

        t = threading.Thread(target=work, name="pool-0")
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert tracer.sc.props["MainThread"][trace.SPAN_PROP] is None
    assert tracer.sc.props["pool-0"][trace.SPAN_PROP] is None
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["inner"].parent == outer.id
    assert by_name["manifest"].parent == outer.id
    assert by_name["pool"].parent == root.id  # other threads hang off the pass root
    assert by_name["pool"].thread == "pool-0"
    assert {s.run for s in tracer.spans} == {"t/p0"}
    assert all(s.end >= s.start for s in tracer.spans)


def test_patches_undo_restores_the_original():
    class Target:
        def f(self):
            return 1

    p = trace.Patches()
    p.wrap(Target, "f", lambda orig: lambda self: orig(self) + 1)
    assert Target().f() == 2
    p.undo()
    assert Target().f() == 1
