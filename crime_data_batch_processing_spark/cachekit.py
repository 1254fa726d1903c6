"""The one persistence mechanism: every operator that caches a derived
frame (signature state, shingle sets, LSH/IVF corpora) does it here,
in one of two lifetimes.

* :func:`persist` — query-scoped. The frame stays cached until the
  next registered call's entrypoint (`registry.query`) or a harness's
  :func:`release_all`. Harnesses release AFTER consuming a query's
  result, never before: the returned DataFrame is lazy, and an early
  release only forces recomputation at collect time.
* :func:`held` — block-scoped. The frames are cached for the `with`
  block and released in `finally`, so a build that raises (a failed
  fixture write retried by `build_once`, a loop that does not
  converge) never leaks them into the session.

One storage level for both: Spark's DataFrame default,
`MEMORY_AND_DISK_DESER`. A cached frame is referenced from 2-4 plan
branches, and deserialized blocks skip the per-read decode: at sf0.1
on 4 cores the serialized level cost `sim_search_lsh` 3.31 vs 2.85 s,
`dedup_minhash` 5.72 vs 5.36 s and `cluster_kmeans` 5.79 vs 5.57 s of
JVM CPU, while `agg_entropy` went 2.14 s deserialized vs 2.49 s
serialized. Wall time disagrees: `bench.py` over the 43 keys whose
frames changed level (plus two uncached keys), sf0.1, 4 cores, summed
203.3 s serialized vs 219.3 s deserialized (median of 3 alternated
runs). Both levels spill to disk
rather than fail when executor memory runs out.

Spark keeps cached blocks until `unpersist()` or session end, so a
long-lived session must release per-query state; nothing outside this
module calls `persist`/`unpersist` directly.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_TRACKED: list["DataFrame"] = []


def persist(df: "DataFrame") -> "DataFrame":
    """Cache `df` at the DataFrame default level for the rest of the
    query; returns it. Released by :func:`release_all`."""
    _TRACKED.append(df.persist())
    return df


@contextmanager
def held(*dfs: "DataFrame") -> Iterator[None]:
    """Cache `dfs` at the DataFrame default level for the block and
    unpersist them on exit, also when the block raises.

    Frames persist in argument order, so a frame derived from an
    earlier one caches over the earlier one's blocks; they unpersist
    in reverse, so no frame is released while a cached frame still
    reads from it."""
    try:
        for df in dfs:
            df.persist()
        yield
    finally:
        for df in reversed(dfs):
            df.unpersist()


def release_all() -> int:
    """Unpersist every frame cached by :func:`persist`; returns how
    many were released.

    Safe to call at any time: blocks for frames still mid-computation
    are dropped and would be recomputed if referenced again.
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
