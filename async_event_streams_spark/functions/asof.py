"""Skew-resistant as-of join: bucket-and-stitch.

The plain as-of join (`c_join_asof`, queries/relational.py) is the
union + last-non-null-window technique: tag events and orders, union,
and carry the most recent order key forward within each user's
timeline. ONE user-keyed exchange, no row explosion — the right
default — but the r7 adversarial-skew lane measured it degrading
1.7–2.2x when one user owns 30% of the event log: that user's whole
merged timeline (events AND orders) serializes through one task's
sort, and AQE cannot split a window partition. Bounded, but the same
family as the pre-mitigation sessionize/SCD2 exposures, and it only
widens with executor count.

`asof_orderkey_bucketed` applies the bucket-and-stitch pattern proven
on sessionization (functions/sessionize.py, r6) and SCD2
(functions/scd2.py, r7): split the merged timeline into fixed time
buckets so no window partition ever holds more than one
(user, bucket) of data, then reconcile bucket boundaries through ONE
per-bucket summary. The as-of stitch is the easiest of the three —
a segmented running last-non-null:

1. LOCAL. Within a (user, bucket), the running last order key over
   the merged ordering (t, is_event, o_key) is exactly the plain
   window, restricted to the bucket. Events whose latest prior order
   lives in the same bucket are fully answered here.
2. CARRY-IN. A bucket's events whose local running-last is NULL need
   the latest order from any EARLIER bucket. The per-(user, bucket)
   summary holds the bucket's closing order — max(struct(t, o_key))
   over the bucket's order rows, matching the plain tie-break
   (latest t, then largest key) — and an ignore-nulls backward LAST
   over the user-keyed summary window yields every bucket's carry-in,
   skipping order-free buckets for free. `coalesce(local, carry_in)`
   is then the plain answer.

The summary is aggregated straight from the slim tagged union (NOT
from the window output): unlike SCD2's stitch it needs no window
flags, so a map-side-combined partial aggregation reduces the corpus
to one row per (user, bucket) before its (tiny) shuffle — cheaper
than recomputing the corpus-sized local sort a second time.

Shuffle inventory: one corpus-sized (user, bucket) exchange for the
local window, one partial-agg rollup whose shuffle carries
|{(user, bucket)}| slim rows, one user-keyed window over that tiny
summary, and the summary side of one equi-join back onto the local
frame (which reuses its (user, bucket) partitioning). A hot user
cannot flood any of them — its rows spread across its
|time range / bucket_sec| buckets.

Differential discipline: `c_join_asof_bucketed` (queries/
relational.py) checks THIS implementation against the SAME
correlated-subquery oracle SQL that checks `c_join_asof`, plus
boundary unit tests in tests/test_asof.py (order exactly at a bucket
edge, events before any order, same-timestamp ties, order-free
buckets between orders) and a hypothesis property against a
pure-Python reference.

`asof_orderkey` is the ADAPTIVE entry point, and it refines the
sessionize/SCD2 dispatch discipline into a HOT/COLD SPLIT: the
whole-corpus stitch was measured 3.1x the plain shape's cost warm
(7.6 s vs 2.4 s; 8.7x on the cold first run) on the sparse uniform
10M-row corpus — the summary is corpus-sized at ~1 row per
(user, bucket) — so instead of choosing one shape for the whole
corpus, a bounded hot-key probe routes ONLY the hot keys' rows
through the stitch and everything else through the plain window.
All shapes are oracle-proven equal, so dispatch changes the plan,
never the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sessionize import DEFAULT_SKEW_THRESHOLD, hot_keys

DEFAULT_BUCKET_SEC = 3600


def asof_orderkey(
    events: DataFrame,
    orders: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
    skew_threshold: float = DEFAULT_SKEW_THRESHOLD,
    hot: list | None = None,
) -> DataFrame:
    """ADAPTIVE entry point — HOT/COLD SPLIT, not whole-corpus
    bucketing. The whole-corpus stitch was MEASURED 3.1x the plain
    shape's uniform cost warm at the 10M-row probe (7.6 s vs 2.4 s;
    8.7x on the cold first run): when per-user data is sparse
    (~1 row per bucket), the per-bucket summary is corpus-sized, so
    every stitch exchange re-pays the corpus — exactly the regime
    where plain is already optimal. The
    split keeps each shape where it wins: a bounded probe
    (`hot_keys`, ≤ 1/threshold keys by construction) names the keys
    whose share crosses skew_threshold; their rows — and only theirs
    — go through bucket-and-stitch, everything else through the plain
    single-exchange window. A uniform corpus pays one probe pass and
    zero machinery; a skewed corpus confines the stitch to the hot
    keys' rows. All three shapes are proven equal (c_join_asof,
    c_join_asof_bucketed, and c_join_asof_adaptive share one oracle;
    the split itself is property-tested with forced hot sets in
    tests/test_asof.py), so dispatch changes the plan, never the
    answer. Pass a precomputed/memoized `hot` list to skip the probe
    pass ([] forces plain).

    The probe measures key share over the UNION of both sides'
    keys (r7 advice: events-only missed a customer hot on the orders
    side) — the right axis, because the plain window sorts the MERGED
    per-user timeline, so a key's serialized work is its share of
    events + orders combined."""
    if hot is None:
        keys = events.select(F.col("user_id").alias("k")).unionByName(
            orders.select(F.col("o_custkey").alias("k"))
        )
        hot = hot_keys(keys, "k", threshold=skew_threshold)
    if not hot:
        return asof_orderkey_plain(events, orders)
    return asof_orderkey_hotsplit(events, orders, hot, bucket_sec=bucket_sec)


def asof_orderkey_hotsplit(
    events: DataFrame,
    orders: DataFrame,
    hot: list,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """Route hot users' rows through bucket-and-stitch and everyone
    else through the plain window, then union. As-of is per-user, so
    the split is exact: a user's answer never depends on another
    user's rows. The isin(hot) predicates push to both scans (hot is
    a literal list ≤ 1/threshold long); NULL keys are cold — the
    plain window handles them as their own partition, matching the
    no-match semantics."""
    e_hot = F.coalesce(F.col("user_id").isin(hot), F.lit(False))
    o_hot = F.coalesce(F.col("o_custkey").isin(hot), F.lit(False))
    cold = asof_orderkey_plain(events.filter(~e_hot), orders.filter(~o_hot))
    hot_df = asof_orderkey_bucketed(
        events.filter(e_hot), orders.filter(o_hot), bucket_sec=bucket_sec
    )
    return cold.unionByName(hot_df)


def _tagged_union(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Merge both sides onto one (k, t) timeline. Orders sort before
    events at the same timestamp (<= semantics); among equal-time
    orders the larger key sorts last, so a running last() picks it."""
    e = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_key"),
    )
    o = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("o_key"),
    )
    return e.unionByName(o)


def asof_orderkey_plain(events: DataFrame, orders: DataFrame) -> DataFrame:
    """The plain union + last-non-null-window shape: one shuffle on the
    user key. The c_join_asof query and the cold lane of the adaptive
    dispatch both run it."""
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "o_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = _tagged_union(events, orders).withColumn(
        "asof_orderkey", F.last("o_key", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("user_id"), "asof_orderkey"
    )


def asof_orderkey_bucketed(
    events: DataFrame,
    orders: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """(event_id, user_id, asof_orderkey) — the same contract as
    c_join_asof, minus the hot-key window."""
    u = _tagged_union(events, orders).withColumn(
        "__b",
        F.floor(F.col("t").cast("timestamp").cast("long") / bucket_sec),
    )
    w_local = (
        Window.partitionBy("k", "__b")
        .orderBy("t", "is_event", "o_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = u.withColumn("__loc", F.last("o_key", ignorenulls=True).over(w_local))
    # One summary row per (user, bucket), straight from the slim union:
    # the bucket's closing order under the plain tie-break. Event rows
    # contribute the grid key only (their o_key is NULL, so max skips
    # them), which is exactly what the carry-in join below needs.
    summ = u.groupBy("k", "__b").agg(
        F.max(
            F.when(
                F.col("o_key").isNotNull(), F.struct(F.col("t"), F.col("o_key"))
            )
        ).alias("__last_ord")
    )
    w_user = (
        Window.partitionBy("k")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summ.withColumn(
        "__carry",
        F.last("__last_ord", ignorenulls=True).over(w_user).getField("o_key"),
    ).select("k", "__b", "__carry")
    # Null-safe on BOTH join keys (r7 advice): the plain window keeps
    # NULL user_id rows as their own partition, and a NULL timestamp
    # makes __b NULL too — a plain inner equi-join would silently drop
    # either. `<=>` is still an equi-join to the planner.
    c = carry.select(
        F.col("k").alias("__ck"), F.col("__b").alias("__cb"), "__carry"
    )
    return (
        loc.filter(F.col("is_event") == 1)
        .join(
            c,
            F.col("k").eqNullSafe(F.col("__ck"))
            & F.col("__b").eqNullSafe(F.col("__cb")),
        )
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.coalesce("__loc", "__carry").alias("asof_orderkey"),
        )
    )
