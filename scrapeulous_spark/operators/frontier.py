"""Frontier expansion + scheduling operators (the crawl kernel).

Spark-first re-expression of the reference crawl loop
(/root/reference/custom/social.js:54-90):

  * expand_candidates: getLinks + cleanLinks — posexplode of out_links
    in DOM order, resolve vs the parent page origin, same-host gate,
    literal '#' removal, first-occurrence dedup per seed
    (social.js:103-143). The robots gate is a NORTH-RULE EXTENSION —
    social.js has no robots logic (the serial oracle pins the same
    extension, plans/oracle.py). All JVM-side column expressions.
  * schedule_pops: the LIFO pop + budget loop (social.js:78-90) as a
    single window computation: pop order = reverse first-occurrence
    order; a row is scheduled iff the number of SUCCESSFUL fetches
    before it is < budget (decrement-on-success-only, social.js:86).

Scale notes (100 TB / 10^10-frontier design):
  * every op is a narrow projection or a keyed shuffle on seed_id /
    host — no driver-side loops, no collect, no per-row Python
  * the same-host gate means a seed's frontier lives on one host, so
    windows partition by seed_id and hot hosts are handled by salting
    the host_bucket used for storage partitioning (salting.py, wired
    into the frontier commits by loop.py::_write_frontier)
  * dedup is a per-seed groupBy (map-side partial agg) and the global
    seen-set update is an exact left_anti join (seen.py)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urls as U


def robots_allowed(url: Column, disallow: Column) -> Column:
    """True iff no disallow prefix matches the url path. NULL disallow
    (host absent from robots) -> allowed."""
    path = U.path_col(url)
    return F.when(disallow.isNull(), F.lit(True)).otherwise(
        ~F.exists(disallow, lambda p: path.startswith(p))
    )


# enqueue-order key: (parent pop rank, DOM position) packed into one long.
# Bounds: a parent's rank is budget-limited, DOM positions are
# links-per-page-limited — both far below 10^7 at any realistic page.
_POS_STRIDE = 10_000_000


def expand_candidates(fetched_pages: DataFrame, robots: DataFrame) -> DataFrame:
    """From successfully fetched pages, produce the per-seed cleaned,
    deduped candidate frontier.

    fetched_pages: seed_id, url (parent page url), out_links
                   array<string>, optional parent_rank long (0 = the
                   seed page; pop rank of the parent otherwise — used
                   by the multi-depth extension so enqueue order is
                   (parent pop order, DOM order))
    robots:        host, disallow array<string>
    returns:       seed_id, url (normalized candidate), host, first_pos

    Note: by the same-host invariant, a parent page's origin/host equal
    the seed's, so resolving against the parent is resolving against
    the seed origin (social.js:109 semantics).
    """
    if "parent_rank" not in fetched_pages.columns:
        fetched_pages = fetched_pages.withColumn("parent_rank", F.lit(0).cast("long"))
    seed = fetched_pages.select(
        "seed_id",
        "parent_rank",
        U.origin_col(F.col("url")).alias("seed_origin"),
        U.host_col(F.col("url")).alias("seed_host"),
        F.posexplode("out_links").alias("pos", "link"),
    )
    resolved = seed.select(
        "seed_id",
        "seed_host",
        (F.col("parent_rank") * _POS_STRIDE + F.col("pos")).alias("pos"),
        U.resolve_col(F.col("link"), F.col("seed_origin")).alias("abs_url"),
    ).filter(F.col("abs_url").isNotNull())
    # same-host gate (social.js:115-119; always on per :48-50). After the
    # gate, candidate host == seed_host by construction, so carry the
    # (already-computed) seed_host instead of re-deriving it from the url
    # — keeps the Catalyst expression tree small.
    same_host = resolved.filter(U.host_col(F.col("abs_url")) == F.col("seed_host"))
    normalized = same_host.select(
        "seed_id",
        "pos",
        U.normalize_col(F.col("abs_url")).alias("url"),
        F.col("seed_host").alias("host"),
    )
    # robots gate: broadcast join — robots is a small per-host dim table
    gated = (
        normalized.join(F.broadcast(robots.select("host", "disallow")), "host", "left")
        .filter(robots_allowed(F.col("url"), F.col("disallow")))
        .drop("disallow")
    )
    # first-occurrence dedup ([...new Set(filtered)], social.js:127):
    # min DOM position per (seed, url) — a map-side-combinable agg
    return gated.groupBy("seed_id", "url", "host").agg(F.min("pos").alias("first_pos"))


def schedule_pops(
    frontier_status: DataFrame, budgets: DataFrame, used: DataFrame | None = None
) -> DataFrame:
    """Budget-gated LIFO scheduling as window-function rate accounting
    (SURVEY.md §2.7 join_budget_asof; social.js:78-90 semantics).

    frontier_status: seed_id, url, host, first_pos, fetch_ok boolean
    budgets:         host, max_requests
    used:            optional (seed_id, used_ok) — successful fetches
                     already consumed at earlier depths (multi-depth
                     extension; the budget is global per seed)
    returns frontier rows + pop_rank (1-based pop order) + scheduled bool
    """
    w = Window.partitionBy("seed_id").orderBy(
        F.col("first_pos").desc(), F.col("url")  # LIFO pop = reverse insertion order
    )
    with_budget = frontier_status.join(
        F.broadcast(budgets.select("host", "max_requests")), "host", "left"
    ).withColumn(
        # falsy coercion: missing/0 budget -> 0 (social.js:45-47)
        "budget",
        F.coalesce(F.col("max_requests"), F.lit(0)),
    )
    if used is not None:
        with_budget = with_budget.join(used, "seed_id", "left").withColumn(
            "budget", F.col("budget") - F.coalesce(F.col("used_ok"), F.lit(0))
        ).drop("used_ok")
    cum_ok_before = F.coalesce(
        F.sum(F.col("fetch_ok").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        with_budget.withColumn("pop_rank", F.row_number().over(w))
        .withColumn("scheduled", cum_ok_before < F.col("budget"))
        .drop("max_requests")
    )
