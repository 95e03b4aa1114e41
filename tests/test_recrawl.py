"""Recrawl/expiry (tombstone) tests.

Properties:

  * new_urls_exact with tombstones == plain set algebra
    cand \\ (seen \\ deleted)
  * engine: forget() shrinks the effective seen set; a later
    _update_seen re-admits the forgotten url by DROPPING its tombstone
    (no duplicate rows in the big append-only seen table)
"""

import pytest

from scrapeulous_spark.operators.seen import new_urls_exact


@pytest.fixture(scope="module")
def frames(spark):
    seen = spark.createDataFrame(
        [(f"http://h{i % 5}.example.com/p{i}",) for i in range(1200)], ["url"]
    )
    deleted = spark.createDataFrame(  # subset of seen
        [(f"http://h{i % 5}.example.com/p{i}",) for i in range(0, 1200, 6)], ["url"]
    )
    cand = spark.createDataFrame(
        [(f"http://h{i % 5}.example.com/p{i}",) for i in range(900, 2000)]
        + [(f"http://hx.example.com/q{i}",) for i in range(150)],
        ["url"],
    )
    return seen, deleted, cand


def _expected(seen, deleted, cand):
    effective = seen.join(deleted, "url", "left_anti")
    return sorted(
        r.url for r in cand.select("url").distinct().join(effective, "url", "left_anti").collect()
    )


def test_tombstone_membership_exact_no_filters(spark, frames):
    seen, deleted, cand = frames
    got = sorted(r.url for r in new_urls_exact(cand, seen, deleted=deleted).collect())
    assert got == _expected(seen, deleted, cand)


def test_engine_forget_and_resurrect(spark, tmp_path):
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), paths, validate_images=False)
    eng.run()
    seen0 = sorted(r.url for r in eng.result_seen().collect())
    physical0 = eng.seen.read(spark).count()

    victims = seen0[:5]
    eng.forget(spark.createDataFrame([(u,) for u in victims], ["url"]))
    seen1 = sorted(r.url for r in eng.result_seen().collect())
    assert seen1 == sorted(set(seen0) - set(victims))

    # forgetting a never-seen url is a no-op
    eng.forget(spark.createDataFrame([("http://nowhere.example.com/x",)], ["url"]))
    assert eng.deleted.read(spark).count() == len(victims)

    # re-discovery: two forgotten urls + one brand-new url come in
    readmit = victims[:2]
    brand_new = "http://brandnew.example.com/fresh"
    eng._update_seen(
        spark.createDataFrame([(u,) for u in readmit + [brand_new]], ["url"]),
        superstep=99,
    )
    seen2 = set(r.url for r in eng.result_seen().collect())
    assert set(readmit) <= seen2  # resurrected
    assert brand_new in seen2
    assert seen2 == (set(seen0) - set(victims)) | set(readmit) | {brand_new}
    # resurrection dropped tombstones instead of re-appending: the
    # physical seen table grew by exactly the one brand-new url
    assert eng.seen.read(spark).count() == physical0 + 1
    assert eng.deleted.read(spark).count() == len(victims) - len(readmit)


def test_engine_recrawl_rounds(spark, tmp_path):
    """Full recrawl round: forget() victims, new_round(), run again.
    Every victim is re-discovered (tombstones drained), the effective
    seen set returns to round 1's, and the physical seen table gets
    ZERO new appends (resurrection never re-appends)."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), paths, validate_images=False)
    eng.run()
    seen1 = sorted(r.url for r in eng.result_seen().collect())
    order1 = sorted(map(tuple, eng.result_crawl_order().collect()))
    physical1 = eng.seen.read(spark).count()

    victims = seen1[::7]
    eng.forget(spark.createDataFrame([(u,) for u in victims], ["url"]))
    assert len(sorted(r.url for r in eng.result_seen().collect())) == len(seen1) - len(victims)

    eng.new_round()
    eng.run(resume=True)
    assert sorted(r.url for r in eng.result_seen().collect()) == seen1
    assert sorted(map(tuple, eng.result_crawl_order().collect())) == order1
    assert eng.seen.read(spark).count() == physical1  # no duplicate appends
    assert eng.deleted.read(spark).count() == 0  # all tombstones drained


def test_engine_vacuum_preserves_current_state(spark, tmp_path):
    """vacuum() expires superseded data dirs; current reads, resume
    state, and a follow-on round all keep working."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), paths, validate_images=False)
    eng.run()
    seen = sorted(r.url for r in eng.result_seen().collect())
    order = sorted(map(tuple, eng.result_crawl_order().collect()))

    eng.vacuum()
    assert sorted(r.url for r in eng.result_seen().collect()) == seen
    assert sorted(map(tuple, eng.result_crawl_order().collect())) == order

    # a fresh round over the vacuumed warehouse still works end-to-end
    eng.new_round()
    eng.run(resume=True)
    assert sorted(r.url for r in eng.result_seen().collect()) == seen


def test_null_host_does_not_break_hot_detection(spark):
    """A skewed NULL-host group (unparseable URLs) must neither crash
    the hot-host sort nor appear in the hot list — it belongs to the
    cold path by definition."""
    from scrapeulous_spark.operators.salting import detect_hot_hosts

    df = spark.createDataFrame(
        [(None, f"u{i}") for i in range(400)]
        + [("hot.example.com", f"h{i}") for i in range(400)]
        + [(f"c{i % 40}.example.com", f"c{i}") for i in range(80)],
        ["host", "url"],
    )
    hot = detect_hot_hosts(df, n_buckets=8, skew_factor=2.0)
    assert hot == ["hot.example.com"]
