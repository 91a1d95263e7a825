"""Session-scoped cache governance: the one owner of state that
outlives a call.

Several catalog operators persist intermediate DataFrames whose
lifetime outlives the function that created them (the MinHash-LSH
pair graph has three catalog consumers; connected-components labels
back the cluster aggregation that consumes them lazily). Spark has
no scope that ties a persist() to "all downstream consumers done",
so without an owner those caches pin executor storage for the life
of the session — harmless in a short test run, memory pressure with
no release valve on a long-lived 100 TB cluster session.

This registry is that owner: operators `track()` every DataFrame
they persist, and the session teardown (bench.py end-of-run, pytest
session fixture, or any long-lived service's maintenance tick) calls
`release_caches()` to unpersist everything in one sweep. Release is
safe to call at any point — a released cache just recomputes on
next use.

Frames shared ACROSS calls (the parsed-vector frame behind the
ANN/embedding family, the k-means assignment) go through
`shared(spark, key, build)`: one persisted, tracked frame per
(applicationId, key), built by the first caller. `release_caches()`
drops these entries in the same sweep, so the next caller rebuilds a
fresh persisted frame instead of reusing an unpersisted one.
"""

from __future__ import annotations

from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

_TRACKED: list[DataFrame] = []
_SHARED: dict[tuple, DataFrame] = {}


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for end-of-run release.

    Returns the DataFrame unchanged so call sites can wrap a
    `.persist()` expression inline: ``track(df.persist())``.
    """
    _TRACKED.append(df)
    return df


def shared(spark: SparkSession, key: Hashable,
           build: Callable[[], DataFrame]) -> DataFrame:
    """The session's persisted frame for `key`, built on first use.

    On a miss, `build()` runs and its result is persisted and tracked;
    later calls in the same application get that frame until the next
    `release_caches()`.
    """
    full_key = (spark.sparkContext.applicationId, key)
    got = _SHARED.get(full_key)
    if got is None:
        got = _SHARED[full_key] = track(build().persist())
    return got


def release_caches() -> int:
    """Unpersist every tracked DataFrame and forget every shared
    entry; returns how many frames were released.

    blocking=False: eviction is async cleanup, not a correctness
    barrier — no reason to stall the caller on executor round-trips.
    """
    _SHARED.clear()
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n
