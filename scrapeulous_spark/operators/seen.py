"""URL-seen set: one exact anti-join path, tombstone-aware.

At a 10^10-URL frontier the per-superstep "which discovered URLs are
new?" question is THE hot join. It is answered by set algebra alone:

    new = candidates \\ seen                  (no tombstones)
    new = candidates \\ (seen \\ deleted)      (after forget()/recrawl)

Both are ``left_anti`` joins that stay JVM-side; no per-row Python.
No prefilter sits in front of them: a ``left_anti`` join can broadcast
only its right side, so it scans and hash-exchanges all of ``seen``
however much a filter prunes the small candidate side (measured in
BENCH.md §"Seen set: one exact path").
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def new_urls_exact(
    candidates: DataFrame, seen: DataFrame, deleted: DataFrame | None = None
) -> DataFrame:
    """Exactly the distinct candidate urls not in the EFFECTIVE seen
    set: ``seen`` minus the ``deleted`` tombstones, when given."""
    cand = candidates.select("url").distinct()
    effective = seen.select("url")
    if deleted is not None:
        effective = effective.join(deleted.select("url"), "url", "left_anti")
    return cand.join(effective, "url", "left_anti")
