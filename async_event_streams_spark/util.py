"""Small engine utilities."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cap_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows whose bucket (the group defined by `keys`) holds more
    than `cap` members — the guard that keeps LSH-style self-joins from
    going quadratic on degenerate keys. Shape matters at scale: the
    oversized-key set is found with a groupBy (map-side partial counts,
    shuffling only key+count), and removed with a BROADCAST left-anti
    join — the data itself never shuffles for the guard, unlike a
    count-over-window which would shuffle and sort the full relation
    before the real join even starts."""
    big = df.groupBy(*keys).count().filter(F.col("count") > cap).select(*keys)
    return df.join(F.broadcast(big), keys, "left_anti")


def materialize(df: DataFrame) -> DataFrame:
    """Pin a computed intermediate before reusing it in multiple plan
    branches (self-joins over sketch/signature tables). Without this,
    each branch recomputes the full lineage — for the md5-sketch dedup
    queries that measured ~4× slower. At cluster scale the same role is
    played by writing the intermediate table; localCheckpoint is the
    in-session equivalent (materialized partitions, truncated lineage).

    DISK_ONLY storage, not the MEMORY_AND_DISK default: checkpoint
    blocks live in the unified memory pool's STORAGE half, and a long
    multi-query session (the 240-query bench at sf1) accumulates
    enough pinned artifact blocks to squeeze the EXECUTION half —
    measured as a uniform 3-7x in-session inflation of shuffle/sort-
    heavy queries vs their isolated runs (x_distinct_ngrams 3.0 ->
    10.9 s, x_kcenter_sample 2.3 -> 8.1, x_frame_sample 0.8 -> 5.9).
    On local disk the re-read rides the OS page cache (still memory-
    speed when free memory allows, evictable when it doesn't — the
    right priority order); on a real cluster the artifact would be a
    written table with the same property."""
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)


# Build-once artifact memo: signature/sketch/index tables that a
# pipeline materializes once per dataset and then probes many times
# (LSH band tables, shingle-set tables, simhash fingerprints, IVF
# cells). Keyed by (session id, artifact key) with the session PINNED
# in the value — a pinned session can't be garbage-collected, so its
# id can't be reused (same discipline as tables._TABLE_CACHE); stale
# entries from stopped sessions are evicted on miss, and live-session
# entries are LRU-bounded (dropping our reference lets the JVM
# ContextCleaner reclaim the checkpoint blocks). On a cluster the same
# role is played by writing the artifact to a table once.
_ARTIFACTS: dict[tuple[int, str], tuple[object, DataFrame]] = {}

# Per-session LRU bound on live memo entries. Each entry pins a
# localCheckpoint's blocks (DISK_ONLY since r13, so the bound caps disk
# + block-manager metadata, not heap); an unbounded memo in a long-lived
# session accumulates one per sketch/band/TF artifact forever (round-2
# advice). 64, up from 32: the full suite at ONE scale factor already
# touches 30 distinct keys, so a bound of 32 sat one eviction away from
# rebuild thrash (two new r14 keys would have pushed it over); 64 keeps
# two datasets' worth of index-class artifacts pinned and still bounds
# a long-lived session.
MAX_ARTIFACTS_PER_SESSION = 64

# (key, "build"|"hit") event log since the last drain — lets harnesses
# (bench.py) attribute which timed queries rode a memoized artifact
# instead of paying its build, so per-query numbers aren't silently
# warm-cache.
_ARTIFACT_EVENTS: list[tuple[str, str]] = []

# Wall seconds each build took (key -> seconds, cumulative per key so a
# rebuild after eviction adds up). bench.py copies this into
# BENCH_DETAIL.json so every one-time index build is a NUMBER beside
# the warm headline, not a footnote (r13 verdict item 2).
_ARTIFACT_BUILD_SECS: dict[str, float] = {}


def artifact(spark, key: str, build) -> DataFrame:
    """Return the memoized materialized DataFrame for `key`, building
    it with `build()` (then pinning via `materialize`) on first use.

    The build is FORCED here (one count() action) rather than left to
    the first consumer's action: the cost is identical — the checkpoint
    materializes exactly once either way — but forcing makes the build
    a measurable unit (`_ARTIFACT_BUILD_SECS`) instead of an invisible
    surcharge inside whichever query happens to run first."""
    k = (id(spark), key)
    hit = _ARTIFACTS.get(k)
    if hit is not None and hit[0] is spark:
        _ARTIFACTS[k] = _ARTIFACTS.pop(k)  # LRU touch (reinsert at end)
        _ARTIFACT_EVENTS.append((key, "hit"))
        return hit[1]
    stale = [kk for kk, (sess, _) in _ARTIFACTS.items() if sess is not spark]
    for kk in stale:
        sess = _ARTIFACTS[kk][0]
        try:
            dead = sess.sparkContext._jsc.sc().isStopped()
        except Exception:
            dead = True
        if dead:
            _ARTIFACTS.pop(kk, None)
    import time as _time

    t0 = _time.perf_counter()
    df = materialize(build())
    df.count()  # force the checkpoint NOW so the build is timed
    _ARTIFACT_BUILD_SECS[key] = round(
        _ARTIFACT_BUILD_SECS.get(key, 0.0) + _time.perf_counter() - t0, 3
    )
    _ARTIFACTS[k] = (spark, df)
    _ARTIFACT_EVENTS.append((key, "build"))
    live = [kk for kk, (sess, _) in _ARTIFACTS.items() if sess is spark]
    for kk in live[: max(0, len(live) - MAX_ARTIFACTS_PER_SESSION)]:
        _ARTIFACTS.pop(kk, None)  # oldest first (dict keeps LRU order)
    return df


def clear_artifacts(spark=None) -> int:
    """Drop memoized artifacts — all of them, or only one session's.
    Returns the number of entries released. The checkpoint blocks are
    reclaimed by Spark's ContextCleaner once the DataFrames are
    garbage-collected."""
    if spark is None:
        n = len(_ARTIFACTS)
        _ARTIFACTS.clear()
        return n
    mine = [kk for kk, (sess, _) in _ARTIFACTS.items() if sess is spark]
    for kk in mine:
        _ARTIFACTS.pop(kk, None)
    return len(mine)


def drain_artifact_events() -> list[tuple[str, str]]:
    """Return and clear the (key, "build"|"hit") events recorded since
    the last drain."""
    ev = list(_ARTIFACT_EVENTS)
    _ARTIFACT_EVENTS.clear()
    return ev


def artifact_build_secs() -> dict[str, float]:
    """Cumulative wall seconds spent building each artifact key this
    process (forced inside artifact(), so the figure is the real
    materialization cost, not plan-construction time)."""
    return dict(_ARTIFACT_BUILD_SECS)


@contextmanager
def aqe_disabled(spark):
    """Turn adaptive query execution off for the block, then restore
    the session's previous setting, also when the block raises. For
    loops of tiny bounded jobs over pinned inputs, where AQE's
    per-stage re-planning only adds latency. Single-driver contract:
    no concurrent query may share the session mid-toggle."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
