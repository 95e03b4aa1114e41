"""The two workloads: what one closed-loop pass runs, what it measures,
and how its outputs are checked.

``crawl``: the social crawl (``CrawlEngine``, ``link_depth=2``,
``validate_images=True``) over a BENCH-shaped page store with a seeded
seed list. Checked against the serial BFS oracle (crawl order, seen
set, entities) and the payload invariants.

``analytics``: the 17 headline catalog queries over the sf0.1 test
tables, each written to a noop sink, then
``SerpPaginationEngine(num_pages=3)`` over a seeded keyword set. Each
timed query execution carries a row count and checksum of its own rows,
which must equal those of rows that matched the query's DuckDB twin;
the pagination is checked against the serial SERP oracle.

Only the calls into the program are timed; collecting outputs for the
checks happens after the timed part of a pass.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

from . import inputs
from .proctree import tree_cpu_s
from .trace import dir_usage

# The headline query set, pinned here so that a change to the program's
# own bench list cannot change this workload.
HEADLINE = [
    "rank_position", "agg_accumulate_pages", "join_frontier_seen",
    "join_budget_asof", "fn_total_results", "dedup_exact_hash",
    "dedup_minhash_signatures", "dedup_lsh_pairs", "dedup_simhash",
    "sim_cosine_topk", "sim_embedding_neardup", "text_fingerprint",
    "text_quality_score", "agg_event_sessionize", "pipeline_curation_e2e",
    "text_char_entropy", "sim_topk_join",
]


class Segments:
    """Wall and process-tree CPU of the timed part of a pass. The
    resident-memory sampler, when given, samples only inside it."""

    def __init__(self, rss=None):
        self.wall = 0.0
        self.cpu = 0.0
        self.rss = rss

    def __enter__(self):
        if self.rss is not None:
            self.rss.resume()
        self._cpu0 = tree_cpu_s(os.getpid())
        self._t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.wall += time.perf_counter() - self._t0
        self.cpu += tree_cpu_s(os.getpid()) - self._cpu0
        if self.rss is not None:
            self.rss.pause()


def _root(tracer, name: str, run: str):
    return tracer.pass_root(name, run) if tracer is not None else nullcontext()


def _span(tracer, name: str, layer: str):
    return tracer.span(name, layer) if tracer is not None else nullcontext()




class Pass:
    """What one pass produced: timings, its own unit count, outputs."""

    def __init__(self, index: int, traced: bool):
        self.index = index
        self.traced = traced
        self.wall = 0.0
        self.cpu = 0.0
        self.units = 0  # URLs fetched (crawl) or SERP pages parsed (analytics)
        self.units_wall = 0.0
        self.outputs: dict = {}
        self.counts: dict[str, float] = {}
        self.root = None  # the pass's root span, when traced
        self.failures: list[tuple[str, str]] = []  # (item, message)
        self.attempts = 1

    @property
    def failed(self) -> int:
        return len({item for item, _ in self.failures})


# ------------------------------------------------------------------ crawl


class Crawl:
    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = work_dir

    def check_inputs(self) -> None:
        self.inp = inputs.prepare_crawl(self.seed)

    def _engine(self, wh: str, paths: dict):
        from scrapeulous_spark.plans.loop import CrawlEngine

        return CrawlEngine(self.spark, wh, paths, link_depth=inputs.LINK_DEPTH, validate_images=True)

    def warmup(self) -> None:
        """Every plan shape of a pass, on the micro corpus."""
        wh = os.path.join(self.work, "warm")
        eng = self._engine(wh, self.inp["warm_paths"])
        eng.run()
        eng.result_crawl_order().collect()
        shutil.rmtree(wh)

    def _collect(self, eng, p: Pass) -> None:
        order = eng.result_crawl_order().collect()
        payload = eng.result_payload_report().collect()
        p.outputs = {
            "crawl_order": sorted((r.seed_id, r.step, r.url, r.depth) for r in order),
            "seen": sorted(r.url for r in eng.result_seen().collect()),
            "entities": sorted((r.seed_id, r.kind, r.ord, r.value) for r in eng.result_entities().collect()),
            "payload_bad": sum(
                1 for r in payload
                if not (r.decode_ok and r.caption_match and r.phash_match and r.pixels_allclose)
            ),
        }
        if p.traced:
            self._layer_counts(eng, p, order, payload)

    def _layer_counts(self, eng, p: Pass, order, payload) -> None:
        """Per-layer counts read back from the crawl's tables, outside
        the timed segment."""
        expand_rows, skew = 0, 0.0
        for snap in eng.frontier.snapshots():
            if snap["lineage"].get("stage") == "drain":
                continue  # terminal leftovers, not an expansion
            frontier = eng.frontier.read(self.spark, snap["snapshot_id"])
            buckets = [r["count"] for r in frontier.groupBy("host_bucket").count().collect()]
            if buckets:
                expand_rows += sum(buckets)
                skew = max(skew, max(buckets) * len(buckets) / sum(buckets))
        ok = sum(1 for r in order if r.fetch_ok)
        seen = len(p.outputs["seen"])
        p.counts.update({
            "fetch.rows": float(len(order)),
            "fetch.ok_ratio": ok / max(len(order), 1),
            "extract.pages": float(ok),
            "extract.hits_per_kpage": 1000.0 * eng.entities_raw.read(self.spark).count() / max(ok, 1),
            "validate.images": float(len(payload)),
            "validate.decode_ok_ratio": sum(1 for r in payload if r.decode_ok) / max(len(payload), 1),
            "expand.rows": float(expand_rows),
            "expand.skew": skew,  # largest host bucket over the mean bucket of a frontier write
            # every depth's window is one expansion's frontier write
            "schedule.pop_ratio": sum(1 for r in order if r.depth >= 1) / max(expand_rows, 1),
            "seen.size": float(seen),
            # URLs admitted to seen over URLs offered to its anti-join
            "seen.new_ratio": seen / max(sum(1 for r in order if r.depth == 0) + expand_rows, 1),
        })

    def run_pass(self, index: int, tracer, rss=None) -> Pass:
        p = Pass(index, tracer is not None)
        wh = os.path.join(self.work, f"wh{index}")
        seg = Segments(rss)
        eng = self._engine(wh, self.inp["paths"])
        with seg, _root(tracer, "crawl", f"p{index}") as p.root:
            eng.run()
        self._collect(eng, p)
        p.wall, p.cpu = seg.wall, seg.cpu
        p.units, p.units_wall = len(p.outputs["crawl_order"]), seg.wall
        p.counts["tables.store_mb"] = dir_usage(wh)[0] / 1e6
        shutil.rmtree(wh)
        return p

    def check(self, passes: list[Pass]) -> None:
        with open(self.inp["oracle"]) as f:
            oracle = json.load(f)
        want = {
            "crawl_order": [tuple(x) for x in oracle["crawl_order"]],
            "seen": oracle["seen"],
            "entities": [tuple(x) for x in oracle["entities"]],
        }
        for p in passes:
            got = p.outputs
            for key in ("crawl_order", "seen", "entities"):
                if got[key] != want[key]:
                    p.failures.append(("crawl", f"{key} differs from the serial oracle"))
            if got["payload_bad"]:
                p.failures.append(("crawl", f"{got['payload_bad']} images failed payload validation"))
            if p.units != passes[0].units:
                p.failures.append(("crawl", f"URL count {p.units} differs from the first pass's {passes[0].units}"))


# -------------------------------------------------------------- analytics


def analytics_counts(walls: dict[str, float], n_organic: list) -> dict[str, float]:
    out = {f"catalog.{q}.s": w for q, w in walls.items()}
    out["catalog.query_set_s"] = sum(walls.values())
    out["serp.pages"] = float(len(n_organic))
    # blocked pages parse no organic rows
    out["serp.rows_per_page"] = sum(n or 0 for n in n_organic) / max(len(n_organic), 1)
    return out


def observed(df, name: str):
    """The DataFrame with a row count and an order-free checksum of its
    rows attached, read from the same execution that writes it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # doubles rounded as the DuckDB check's canonicalisation rounds them
    cols = [
        F.round(F.col(f"`{f.name}`"), 9) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    obs = Observation(name)
    return df.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31))).alias("hash")
    ), obs


def reference(spark) -> list:
    """Writes ``inputs.REFERENCE``: the row count and checksum of each
    query's rows where they equal the query's DuckDB twin under the
    ``tools/check_queries.py`` canonicalisation, and the queries whose
    rows do not (or that raised). The tables are fixed, so this runs
    once per checkout, in a process of its own before the first
    measured run; measured runs compare checksums only."""
    import duckdb

    from scrapeulous_spark.operators import load_all_catalogs
    from tools.check_queries import canon

    registry = load_all_catalogs()
    con = duckdb.connect()
    for name in sorted(os.listdir(inputs.TABLES_DIR)):
        path = os.path.join(inputs.TABLES_DIR, name)
        con.sql(f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{path}')")
    ref, wrong = {}, []
    for q in HEADLINE:
        try:
            df, obs = observed(registry[q].spark(spark, inputs.TABLES_DIR), f"reference_{q}")
            got = df.toPandas()
        except Exception as e:  # noqa: BLE001 — recorded as this query's failure
            wrong.append((q, f"{q} raised {type(e).__name__} when collected: {str(e)[:200]}"))
            continue
        if canon(got) != canon(con.sql(registry[q].oracle).df()):
            wrong.append((q, f"{q} differs from its DuckDB twin"))
        else:
            ref[q] = obs.get
    con.close()
    inputs.write_json(inputs.REFERENCE, {"checksums": ref, "wrong": wrong})
    return wrong


class Analytics:
    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self._runs = 0

    def check_inputs(self) -> None:
        from scrapeulous_spark.operators import load_all_catalogs
        from scrapeulous_spark.sources.serp_corpus import google_serp_url

        self.inp = inputs.prepare_analytics(self.seed)
        self.registry = load_all_catalogs()
        self.serp_seeds = self.spark.createDataFrame(
            [(kw, google_serp_url(kw, 1)) for kw in self.inp["serp_keywords"]], "keyword string, url string"
        )

    def _queries(self, tables: str, walls: dict, observations: dict, failures: list, tracer) -> None:
        for q in HEADLINE:
            self._runs += 1
            t0 = time.perf_counter()
            try:
                with _span(tracer, q, "catalog"):
                    df, observations[q] = observed(self.registry[q].spark(self.spark, tables), f"{q}_{self._runs}")
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failing query is counted, the pass goes on
                observations.pop(q, None)
                failures.append((q, f"{q} raised {type(e).__name__}: {str(e)[:200]}"))
            walls[q] = time.perf_counter() - t0

    def _serp(self):
        from scrapeulous_spark.plans.serp_loop import SerpPaginationEngine

        engine = SerpPaginationEngine(self.spark, self.inp["serp_store"], num_pages=inputs.SERP_PAGES)
        return engine.run(self.serp_seeds).collect()

    def warmup(self) -> None:
        """One untimed pass of what a timed pass runs, with the queries
        on the sf0.01 tables: it compiles every plan in half the time a
        pass on sf0.1 takes, and the pass after it is as fast as after
        a warmup on sf0.1."""
        self._queries(inputs.WARM_TABLES_DIR, {}, {}, [], None)
        self._serp()

    def run_pass(self, index: int, tracer, rss=None) -> Pass:
        p = Pass(index, tracer is not None)
        p.attempts = len(HEADLINE) + 1
        walls: dict[str, float] = {}
        observations: dict = {}
        seg = Segments(rss)
        with seg, _root(tracer, "analytics", f"p{index}") as p.root:
            self._queries(self.inp["tables"], walls, observations, p.failures, tracer)
            t0 = time.perf_counter()
            with _span(tracer, "pagination", "serp"):
                rows = self._serp()
            serp_wall = time.perf_counter() - t0
        p.wall, p.cpu = seg.wall, seg.cpu
        p.units, p.units_wall = len(rows), serp_wall
        p.outputs["checksums"] = {q: obs.get for q, obs in observations.items()}
        p.outputs["serp"] = sorted(
            (r.keyword, r.page_num, r.url, r.status, r.blocked_ip, r.n_organic) for r in rows
        )
        p.counts = analytics_counts(walls, [r.n_organic for r in rows])
        return p

    def check(self, passes: list[Pass]) -> None:
        with open(inputs.REFERENCE) as f:
            ref = json.load(f)
        with open(self.inp["serp_oracle"]) as f:
            serp_want = [tuple(x) for x in json.load(f)]
        for p in passes:
            p.failures.extend((q, msg) for q, msg in ref["wrong"])
            for q, got in p.outputs["checksums"].items():
                if q in ref["checksums"] and got != ref["checksums"][q]:
                    p.failures.append((q, f"{q}: rows {got['rows']} and checksum differ from the checked rows'"))
            if p.outputs["serp"] != serp_want:
                p.failures.append(("serp", "SERP pagination differs from the serial oracle"))
            if p.units != passes[0].units:
                p.failures.append(("serp", f"SERP page count {p.units} differs from the first pass's {passes[0].units}"))


WORKLOADS = {"crawl": Crawl, "analytics": Analytics}
