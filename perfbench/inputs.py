"""Benchmark inputs, all generated inside the checkout, apart from the
analytics tables, which are the sf0.1 test tables under
``perfbench/data``.

Corpora that do not depend on the seed (the crawl page store, the SERP
store, the crawl warmup corpus) are generated once per checkout.
Everything the seed chooses (the crawl seed list, the SERP keyword set)
and the oracle results for it are cached per seed under
``.perfbench/cache/bench``. The corpus module's own
``MASTER_SEED`` stays fixed: the seed only picks from the corpus.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
BENCH_CACHE = os.path.join(CACHE, "bench")

# crawl workload: a BENCH-shaped page store (hot host owns 30% of the
# pages, 300 filler words per body, images on) at a size whose crawl
# fits the run's time budget
CRAWL_SEEDS = 1000
LINK_DEPTH = 2
INVALID_SEED = "not a valid url"  # the invalid-url row every seed list ends with

# SERP pagination: a store of distinct keywords (the corpus module's
# keyword generator repeats after 16 keywords, and pagination keys on
# URL), of which each seed picks a subset
SERP_KEYWORDS = 3000
SERP_PICK = 800
SERP_PAGES = 3

# analytics tables: the sf0.1 test tables the headline queries read
# (customer, orders, events, documents, embeddings), kept with the
# benchmark so that a checkout holds them; fixed, not drawn by the seed
TABLES_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.1")
WARM_TABLES_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")  # the same tables at sf0.01
# the analytics check's reference: per query, the row count and checksum
# of Spark rows that matched the query's DuckDB twin (workloads.reference)
REFERENCE = os.path.join(BENCH_CACHE, "analytics", "reference.json")


def crawl_corpus_params():
    from scrapeulous_spark.sources.corpus import CorpusParams

    return CorpusParams(
        n_images=500, n_hosts=24, n_pages=10000, n_seeds=2, img_w=48, img_h=32,
        max_links=20, body_filler_words=300,
    )


def _write_atomic(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_json(path: str, value) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)


def _json_cached(path: str, make):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = make()
    write_json(path, value)
    return value


# ------------------------------------------------------------------ crawl


def seed_list(pages_path: str, seed: int, n: int, out: str) -> str:
    """n distinct page URLs drawn by the seed, then the invalid-url row."""
    if not os.path.exists(out):
        urls = pq.read_table(pages_path, columns=["url"])["url"].to_pylist()
        rng = np.random.default_rng([seed, 0])
        picked = [urls[int(i)] for i in rng.choice(len(urls), size=n, replace=False)]
        picked.append(INVALID_SEED)
        _write_atomic(
            pa.table({
                "seed_id": pa.array(range(len(picked)), pa.int64()),
                "url": pa.array(picked, pa.string()),
                "priority": pa.array(np.round(rng.uniform(0, 1, len(picked)), 3), pa.float64()),
            }),
            out,
        )
    return out


def crawl_oracle(paths: dict[str, str], link_depth: int, out: str) -> dict:
    """Serial BFS oracle on the page store with this seed list, cached.

    The oracle's Python entity extraction is a pure function of the page
    body and costs most of its time, so it is computed once per page
    store and looked up per seed."""

    def make():
        from scrapeulous_spark.functions.entities import KIND_ORDER, extract_py
        from scrapeulous_spark.plans import oracle

        loaded = oracle.load_corpus_for_oracle(paths)
        pages = loaded[0]
        per_url = _json_cached(
            os.path.join(os.path.dirname(paths["pages"]), "perfbench_page_entities.json"),
            lambda: {u: {k: extract_py(k, p["body"]) for k in KIND_ORDER} for u, p in pages.items()},
        )
        by_body = {p["body"]: per_url[u] for u, p in pages.items()}
        oracle.extract_py = lambda kind, body: by_body[body][kind]
        try:
            res = oracle.run_oracle_bfs(*loaded, link_depth=link_depth)
        finally:
            oracle.extract_py = extract_py
        return {
            "crawl_order": sorted(res.crawl_order),
            "seen": sorted(res.seen_set),
            "entities": sorted(res.entities),
        }

    return _json_cached(out, make)


def prepare_crawl(seed: int) -> dict:
    from scrapeulous_spark.sources.corpus import WARM, ensure_corpus

    base = ensure_corpus(crawl_corpus_params())
    d = os.path.join(
        BENCH_CACHE, "crawl", f"s{seed}_{_params_key(crawl_corpus_params().tag, CRAWL_SEEDS, LINK_DEPTH)}"
    )
    paths = dict(base, seeds=seed_list(base["pages"], seed, CRAWL_SEEDS, os.path.join(d, "seeds.parquet")))
    oracle_path = os.path.join(d, f"oracle_bfs_d{LINK_DEPTH}.json")
    crawl_oracle(paths, LINK_DEPTH, oracle_path)
    return {"paths": paths, "warm_paths": ensure_corpus(WARM), "oracle": oracle_path}


# -------------------------------------------------------------- analytics


_SERP_WORDS = ["river", "stone", "maple", "copper", "violet", "summit", "willow", "orbit"]


def serp_store(out: str) -> str:
    """Google SERP pages for SERP_KEYWORDS distinct keywords, built with
    the corpus module's page renderer the same way its own store is.

    ``ensure_serp_corpus`` itself cannot make a store this size: its
    keywords repeat after 16, so the store repeats page URLs, and the
    pagination join then returns a repeated URL's row once per copy on
    each side, while the serial oracle keeps one."""
    if not os.path.exists(out):
        from scrapeulous_spark.sources.serp_corpus import google_body, google_serp_url

        urls, keywords, page_nums, bodies = [], [], [], []
        gi = 0
        for k in range(SERP_KEYWORDS):
            kw = f"{_SERP_WORDS[k % 8]} {_SERP_WORDS[(k // 8) % 8]} {k}"
            for pg in range(1, SERP_PAGES + 1):
                # the last page and every ninth page have no #pnnext link
                nxt = google_serp_url(kw, pg + 1) if pg < SERP_PAGES and not (gi % 9 == 0 and gi > 0) else None
                urls.append(google_serp_url(kw, pg))
                keywords.append(kw)
                page_nums.append(pg)
                bodies.append(google_body(kw, gi, pg, nxt))
                gi += 1
        _write_atomic(
            pa.table({
                "url": urls,
                "engine": ["google"] * len(urls),
                "keyword": keywords,
                "page_num": pa.array(page_nums, pa.int32()),
                "body": bodies,
            }),
            out,
        )
    return out


def _params_key(*params) -> str:
    """Cache-directory suffix that changes whenever a size parameter does."""
    return f"{zlib.crc32(json.dumps(params, sort_keys=True).encode()):08x}"


def prepare_analytics(seed: int) -> dict:
    from scrapeulous_spark.plans.serp_loop import run_serp_oracle

    store = serp_store(os.path.join(BENCH_CACHE, "serp", f"google_k{SERP_KEYWORDS}.parquet"))
    d = os.path.join(
        BENCH_CACHE, "analytics",
        f"s{seed}_{_params_key(SERP_KEYWORDS, SERP_PICK, SERP_PAGES)}",
    )

    def pick():
        kws = sorted(set(pq.read_table(store, columns=["keyword"])["keyword"].to_pylist()))
        rng = np.random.default_rng([seed, 3])
        return sorted(kws[int(i)] for i in rng.choice(len(kws), size=SERP_PICK, replace=False))

    keywords = _json_cached(os.path.join(d, "serp_keywords.json"), pick)

    def oracle():
        wanted = set(keywords)
        rows = [r for r in pq.read_table(store).to_pylist() if r["keyword"] in wanted]
        return run_serp_oracle(rows, SERP_PAGES)

    oracle_path = os.path.join(d, f"serp_oracle_p{SERP_PAGES}.json")
    _json_cached(oracle_path, oracle)
    return {
        "tables": TABLES_DIR,
        "serp_store": store,
        "serp_keywords": keywords,
        "serp_oracle": oracle_path,
    }


def prepare(workload: str, seed: int) -> dict:
    return {"crawl": prepare_crawl, "analytics": prepare_analytics}[workload](seed)
