"""Custom stateful streaming operators (applyInPandasWithState).

The batch engine keeps its URL-seen set and per-host budgets in
snapshot tables (plans/loop.py). When seeds/links arrive continuously
the same two pieces of state become *streaming state*: per-key state
held by the engine across micro-batches, updated with Arrow-batched
pandas (never per-row Python). These are the reference semantics
re-expressed as Structured Streaming stateful operators:

  * stream_url_seen_dedup — first-occurrence URL dedup across
    micro-batches (social.js:127 `[...new Set(filtered)]`, the
    URL-seen set), keyed by a hash bucket so state partitions evenly
    at 10^10 URLs. State per bucket = packed int64 xxhash64 set; a
    64-bit hash collision (birthday-bound ~3 expected at 10^10) can
    only *drop* a URL, never duplicate one — the batch engine's
    anti-join (operators/seen.py) remains the exact path,
    this is the streaming fast path.

  * stream_host_budget_gate — per-host crawl budget with the
    reference's decrement-on-success-only semantics (social.js:78-90,
    SURVEY §1.4.3: a failed fetch consumes its frontier slot but NOT
    budget). State per host = budget remaining; rows arriving after
    exhaustion are dropped, exactly like the `while (... &&
    max_requests > 0)` loop guard.

Both operators emit deterministically under availableNow drains with
one file per trigger: cross-batch order is micro-batch arrival order,
in-batch order is an explicit (event_ts, seed_id) sort inside the
pandas function — never partition layout.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUT = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)
# packed little-endian int64 hash set; binary scales to millions of
# urls per bucket without per-element Spark serialization overhead
DEDUP_STATE = T.StructType([T.StructField("hashes", T.BinaryType())])

GATE_OUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("seed_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("fetch_ok", T.BooleanType()),
        T.StructField("budget_after", T.LongType()),
    ]
)
GATE_STATE = T.StructType([T.StructField("remaining", T.LongType())])


def _xxh64(url_col):
    # JVM-side xxhash64: the hash is computed in codegen'd Spark before
    # the Arrow exchange; the pandas side only sees int64s
    return F.xxhash64(url_col)


def stream_url_seen_dedup(
    discovered: DataFrame,
    n_buckets: int = 32,
    initial_seen: DataFrame | None = None,
) -> DataFrame:
    """First-occurrence URL dedup across micro-batches.

    Input: streaming DataFrame with (seed_id, url, event_ts).
    Output: the subset of rows whose url was never emitted before, in
    (event_ts, seed_id) order within each micro-batch.

    initial_seen: optional BATCH DataFrame with a `url` column (e.g.
    ``CrawlEngine.result_seen()`` — the effective seen set, tombstones
    excluded): the batch→stream bridge. Implemented as a stream-static
    left_anti join IN FRONT of the stateful dedup — a batch-seen url is
    suppressed in every micro-batch without ever entering stream state,
    which is exactly initial-state semantics.

    Keyed by `pmod(xxhash64(url), n_buckets)` so the state store holds
    n_buckets partitions of ~|seen|/n_buckets hashes each. The
    state array is kept SORTED, so the probe is searchsorted, not a
    linear scan. Scale honesty: applyInPandasWithState holds ONE value
    per key, so each update rewrites the bucket's whole blob — fine
    for streams whose per-bucket seen set fits state-store practice
    (raise n_buckets to shrink blobs); an append-only ListState
    variant would need Spark 4's transformWithStateInPandas, which
    requires protobuf. The batch engine remains the 10^10 path.
    """
    if initial_seen is not None:
        discovered = discovered.join(
            initial_seen.select("url").distinct(), "url", "left_anti"
        )

    def dedup(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            seen = np.frombuffer(state.get[0], dtype="<i8")
        else:
            seen = np.empty(0, dtype="<i8")
        # CONCATENATE the Arrow chunks BEFORE sorting: a group's
        # micro-batch rows arrive as an iterator of ~maxRecordsPerBatch
        # chunks, and a per-chunk sort would let a later-event_ts row
        # in chunk 1 beat an earlier row in chunk 2 — breaking the
        # documented (event_ts, seed_id) first-occurrence order
        chunks = list(pdfs)
        if not chunks:
            state.update((seen.tobytes(),))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["event_ts", "seed_id"], kind="stable"
        )
        h = pdf["h"].to_numpy(dtype="<i8")
        # first occurrence within the batch AND not in cross-batch
        # state; the state array is kept SORTED so the probe is
        # searchsorted (O(batch log |seen|)), not a linear isin scan
        in_batch_first = ~pd.Series(h).duplicated().to_numpy()
        if len(seen):
            pos = np.searchsorted(seen, h)
            pos[pos == len(seen)] = len(seen) - 1
            in_state = seen[pos] == h
        else:
            in_state = np.zeros(len(h), dtype=bool)
        fresh = in_batch_first & ~in_state
        if fresh.any():
            seen = np.unique(np.concatenate([seen, h[fresh]]))
        state.update((seen.tobytes(),))
        if fresh.any():
            yield pdf.loc[fresh, ["seed_id", "url", "event_ts"]]

    keyed = discovered.withColumn("h", _xxh64(F.col("url"))).withColumn(
        "bucket", F.pmod(F.col("h"), F.lit(n_buckets)).cast("int")
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        dedup, DEDUP_OUT, DEDUP_STATE, "append", GroupStateTimeout.NoTimeout
    )


def stream_host_budget_gate(fetches: DataFrame, default_budget: int = 10) -> DataFrame:
    """Per-host budget gate with decrement-on-success-only semantics.

    Input: streaming DataFrame with (host, seed_id, url, event_ts,
    fetch_ok, budget) — budget is the per-host allowance carried on
    the row (stream-static join of a budgets table upstream; constant
    per host). Output: rows admitted while the host's budget remained
    positive, with the post-row remaining budget. A failed fetch is
    admitted without decrementing (SURVEY §1.4.3); once remaining hits
    0 every later row for that host is dropped.
    """

    def gate(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        remaining = state.get[0] if state.exists else None
        # concat chunks FIRST, sort once: per-chunk sorting would admit
        # later-event_ts rows from an earlier Arrow chunk before
        # earlier rows of a later chunk — budget order must follow the
        # documented (event_ts, seed_id) sort over the WHOLE micro-batch
        chunks = list(pdfs)
        if not chunks:
            state.update((int(remaining if remaining is not None else default_budget),))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["event_ts", "seed_id"], kind="stable"
        )
        if remaining is None:
            b = pdf["budget"].iloc[0]
            remaining = int(b) if pd.notna(b) else default_budget
        if remaining > 0:
            ok = pdf["fetch_ok"].to_numpy(dtype=bool)
            # cumulative successes BEFORE each row: row admitted while
            # budget not yet exhausted; only successes consume it
            used_before = np.concatenate([[0], np.cumsum(ok)[:-1]])
            admitted = used_before < remaining
            sub = pdf.loc[admitted, ["host", "seed_id", "url", "event_ts", "fetch_ok"]].copy()
            sub["budget_after"] = remaining - (used_before[admitted] + ok[admitted])
            remaining -= int(ok[admitted].sum())
            state.update((int(remaining),))
            yield sub
        else:
            state.update((int(remaining),))

    return fetches.groupBy("host").applyInPandasWithState(
        gate, GATE_OUT, GATE_STATE, "append", GroupStateTimeout.NoTimeout
    )
