"""Skew-resistant windowed LAG: bucket-and-stitch.

The plain per-user LAG (`c_window_lag`, queries/relational.py) rides
one user-keyed exchange — optimal on uniform keys, but the r7
adversarial-skew lane measured it degrading 1.9–2.3x when one user
owns 30% of the event log: LAG needs its partition sorted, so the hot
user's whole history serializes through one task, and AQE cannot
split a window partition. Bounded today, but the same family as the
pre-mitigation sessionize/SCD2 exposures.

`lag_prev_bucketed` applies the bucket-and-stitch pattern
(functions/sessionize.py, functions/scd2.py, functions/asof.py) to
the simplest stitch of the family — a segmented LAG:

1. LOCAL. Bucket the ORDER key (here event_id, the plain query's sort
   key) into fixed ranges so no window partition ever holds more than
   one (user, bucket) of data; a local LAG answers every row except
   each bucket's head.
2. HEAD STITCH. A bucket head's predecessor is the closing row of the
   user's previous NON-EMPTY bucket. The per-(user, bucket) summary
   carries each bucket's closing value — max(struct(order_key, value)),
   safe even for NULL values because the unique non-null order key
   decides the comparison — and a plain LAG over the user-keyed
   summary window (consecutive summary rows ARE consecutive non-empty
   buckets) yields every bucket's carry-in. The user's first bucket
   gets a NULL carry-in, matching the plain LAG's NULL first row.

The summary is aggregated straight from the slim input projection
(not the window output): it needs no window flags, so a map-side-
combined partial aggregation reduces the corpus to one row per
(user, bucket) before its tiny shuffle.

Shuffle inventory: one corpus-sized (user, bucket) exchange for the
local window, one partial-agg rollup whose shuffle carries
|{(user, bucket)}| slim rows, one user-keyed window over that tiny
summary, and the summary side of one equi-join back onto the local
frame (which reuses its (user, bucket) partitioning). A hot user
cannot flood any of them.

Differential discipline: `c_window_lag_bucketed`
(queries/relational.py) checks THIS implementation against the SAME
plain-LAG oracle SQL that checks `c_window_lag`, plus boundary unit
tests in tests/test_lagstitch.py (head-of-bucket rows, empty buckets
between a user's rows, NULL values crossing bucket edges,
single-event users) and a hypothesis property against a pure-Python
reference.

`lag_prev` is the ADAPTIVE entry point — a HOT/COLD SPLIT (see
functions/asof.py for the measured rationale): a bounded hot-key
probe routes only the hot keys' rows through the stitch and
everything else through the plain single-exchange LAG. All shapes
are oracle-proven equal, so dispatch changes the plan, never the
answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sessionize import DEFAULT_SKEW_THRESHOLD, hot_keys

DEFAULT_BUCKET_ROWS = 65536


def lag_prev(
    events: DataFrame,
    bucket_rows: int = DEFAULT_BUCKET_ROWS,
    skew_threshold: float = DEFAULT_SKEW_THRESHOLD,
    hot: list | None = None,
) -> DataFrame:
    """ADAPTIVE entry point — HOT/COLD SPLIT, not whole-corpus
    bucketing (see functions/asof.py for the measured argument: on
    sparse per-user data the stitch summary is corpus-sized, so
    whole-corpus stitching re-pays the corpus in the exact regime
    where plain is already optimal). A bounded probe (`hot_keys`,
    ≤ 1/threshold keys by construction) names the keys whose share
    crosses skew_threshold; their rows go through bucket-and-stitch,
    everything else through the plain single-exchange LAG. All three
    shapes are proven equal (c_window_lag, c_window_lag_bucketed and
    c_window_lag_adaptive share one oracle; the split is
    property-tested with forced hot sets in tests/test_lagstitch.py),
    so dispatch changes the plan, never the answer. Pass a
    precomputed/memoized `hot` list to skip the probe pass ([]
    forces plain)."""
    if hot is None:
        hot = hot_keys(events, "user_id", threshold=skew_threshold)
    if not hot:
        return lag_prev_plain(events)
    return lag_prev_hotsplit(events, hot, bucket_rows=bucket_rows)


def lag_prev_hotsplit(
    events: DataFrame,
    hot: list,
    bucket_rows: int = DEFAULT_BUCKET_ROWS,
) -> DataFrame:
    """Route hot users through bucket-and-stitch and everyone else
    through the plain window, then union. LAG is per-user, so the
    split is exact; NULL keys are cold (the plain window treats them
    as their own partition, matching the plain semantics)."""
    is_hot = F.coalesce(F.col("user_id").isin(hot), F.lit(False))
    cold = lag_prev_plain(events.filter(~is_hot))
    hot_df = lag_prev_bucketed(events.filter(is_hot), bucket_rows=bucket_rows)
    return cold.unionByName(hot_df)


def lag_prev_plain(events: DataFrame) -> DataFrame:
    """The plain one-window shape: one shuffle on the user key. The
    c_window_lag query and the cold lane of the adaptive dispatch both
    run it."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return events.select(
        "event_id", "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )


def lag_prev_bucketed(
    events: DataFrame, bucket_rows: int = DEFAULT_BUCKET_ROWS
) -> DataFrame:
    """(event_id, user_id, value, prev_value) — the same contract as
    c_window_lag, minus the hot-key window."""
    e = events.select("event_id", "user_id", "value").withColumn(
        "__b", F.floor(F.col("event_id") / bucket_rows)
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy("event_id")
    loc = e.withColumn("__prev_loc", F.lag("value").over(w_local)).withColumn(
        "__head", F.lag("event_id").over(w_local).isNull()
    )
    # One summary row per NON-EMPTY (user, bucket): the bucket's
    # closing value. The unique non-null event_id decides the struct
    # comparison, so NULL values ride along unharmed.
    summ = e.groupBy("user_id", "__b").agg(
        F.max(F.struct("event_id", "value")).alias("__last_row")
    )
    w_user = Window.partitionBy("user_id").orderBy("__b")
    carry = summ.withColumn(
        "__carry", F.lag("__last_row").over(w_user).getField("value")
    ).select("user_id", "__b", "__carry")
    # Null-safe on the user key (r7 advice): the plain window keeps
    # NULL user_id rows as their own partition, and a plain inner
    # equi-join here would silently drop them. `<=>` is still an
    # equi-join to the planner (hash/sort-merge, no cartesian); __b is
    # non-null by construction (event_id is the grid key).
    c = carry.select(
        F.col("user_id").alias("__ck"), F.col("__b").alias("__cb"), "__carry"
    )
    return loc.join(
        c,
        F.col("user_id").eqNullSafe(F.col("__ck")) & (F.col("__b") == F.col("__cb")),
    ).select(
        "event_id",
        "user_id",
        "value",
        F.when(F.col("__head"), F.col("__carry"))
        .otherwise(F.col("__prev_loc"))
        .alias("prev_value"),
    )
