"""Skew-resistant SCD type-2 interval build: bucket-and-stitch.

The plain SCD2 build (`c_scd2_intervals`) rides ONE user-keyed
exchange through two window passes (LAG change-detection, LEAD
interval close) — optimal on uniform keys, but the r6 skew probe
(tools/skew_probe.py) measured it degrading 3.2x when one user owns
30% of the event log: that user's entire change history serializes
through a single task's sort, and AQE cannot split a window
partition. At 1000 executors the hot task IS the job.

`scd2_intervals_bucketed` applies the bucket-and-stitch pattern
proven on sessionization (functions/sessionize.py, r6): split every
user's timeline into fixed time buckets so no window partition ever
holds more than one (user, bucket) of data, then reconcile bucket
boundaries through ONE per-bucket summary that answers both
cross-bucket questions at once:

1. HEAD SUPPRESSION (change detection). Within a bucket, LAG marks
   local changes exactly as the plain shape — except the bucket's
   FIRST event, whose predecessor lives in the previous bucket. The
   summary carries each bucket's LAST event_type; a user-keyed LAG
   over the summary tells each bucket its predecessor's closing type,
   so the head is a start iff there is no previous bucket or the type
   differs. (No gap tolerance — SCD2 collapses consecutive repeats
   across ANY time distance, so only sequence adjacency matters,
   which the consecutive-per-user summary rows give exactly.)
2. INTERVAL CLOSE. valid_to of a start is the NEXT start's
   valid_from: within a bucket a local LEAD; for each bucket's last
   start, the first start of the user's next START-BEARING bucket.
   The summary knows each bucket's first surviving start without a
   second pass over event rows: it is the head event's ts when the
   head survives suppression, else the bucket's first IN-BUCKET
   change (NULL when the bucket contributes no start). An
   ignore-nulls forward-looking FIRST over the user-keyed summary
   window then yields every bucket's next-start timestamp, skipping
   start-free buckets for free.

The head/last rows inside a bucket are identified by window flags
(LAG-null marks the head, LEAD-null marks the last — one Window
operator computes both on the same sort), so the summary rollup is
all primitive conditional min/max — no struct comparators — and,
running on rows already hash-partitioned by (user_id, bucket),
needs NO exchange of its own.

Deliberately NOT pinned (no localCheckpoint): the local-window frame
feeds two branches (summary rollup, final starts filter), the shape
that usually demands `util.materialize` — but here the recompute is
one fused scan+window, and checkpointing was MEASURED slower (15.6 s
vs 10.0 s at the 100x/10M-event probe corpus, local[32]): the
checkpoint writes a corpus-sized string-bearing frame AND erases its
outputPartitioning, forcing the join-back to re-shuffle both sides.
Recomputing keeps the (user_id, bucket) hash partitioning visible to
Catalyst, so the summary join and the final LEAD window reuse it
(only the summary side of the join shuffles). On a cluster the same
trade holds: re-reading a columnar source through a fused window is
cheaper than writing + re-shuffling an intermediate the optimizer
can no longer reason about.

Shuffle inventory: two corpus-sized (user_id, bucket) exchanges (one
per branch), a map-side-combined no-exchange rollup to the summary,
one user-keyed exchange over the summary (~|buckets touched| rows),
and the summary side of one equi-join. A hot user cannot flood any
of them — its rows spread across its ~|time range / bucket_sec|
buckets (skew probe: 0.77x at the 30%-hot-key corpus vs the plain
shape's 2.8x).

Differential discipline: `c_scd2_bucketed` (queries/relational.py)
checks THIS implementation against the SAME plain-semantics oracle
SQL that checks `c_scd2_intervals`, plus boundary unit tests in
tests/test_scd2_bucketed.py (type run spanning buckets, change
exactly at a bucket edge, start-free buckets between starts,
same-timestamp ties, single-event users) and a hypothesis property
against a pure-Python reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sessionize import DEFAULT_SKEW_THRESHOLD, hot_keys

DEFAULT_BUCKET_SEC = 3600


def scd2_intervals(
    events: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
    skew_threshold: float = DEFAULT_SKEW_THRESHOLD,
    hot: list | None = None,
) -> DataFrame:
    """ADAPTIVE entry point, the sessionize discipline applied to
    SCD2 — since r7.2 a HOT/COLD SPLIT rather than a whole-corpus
    flip (the functions/asof.py refinement, backported for family
    consistency): a bounded hot-key probe (`hot_keys`, ≤ 1/threshold
    keys by construction) names the users whose row share crosses
    skew_threshold; their rows — and only theirs — go through
    bucket-and-stitch, everyone else through the plain two-window
    shape. The SCD2 interval build is per-user, so the split is
    exact, and a uniform corpus pays one probe pass and zero
    machinery. All shapes are oracle-proven equal (c_scd2_intervals,
    c_scd2_bucketed and c_scd2_adaptive share one oracle), so the
    dispatch can never change results — only the plan. Pass a
    precomputed/memoized `hot` list to skip the probe pass ([]
    forces plain)."""
    if hot is None:
        hot = hot_keys(events, "user_id", threshold=skew_threshold)
    if not hot:
        return scd2_intervals_plain(events)
    is_hot = F.coalesce(F.col("user_id").isin(hot), F.lit(False))
    cold = scd2_intervals_plain(events.filter(~is_hot))
    hot_df = scd2_intervals_bucketed(
        events.filter(is_hot), bucket_sec=bucket_sec
    )
    return cold.unionByName(hot_df)


def scd2_intervals_plain(events: DataFrame) -> DataFrame:
    """The plain two-window shape: LAG change-detection + LEAD
    interval close riding one user-keyed exchange. The
    c_scd2_intervals query and the cold lane of the adaptive dispatch
    both run it."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return starts.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def scd2_intervals_bucketed(
    events: DataFrame,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """(user_id, event_type, valid_from, valid_to, is_current) — the
    same contract as c_scd2_intervals, minus the hot-key window."""
    sec = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    e = events.select("user_id", "event_type", "ts", "event_id").withColumn(
        "__b", F.floor(sec("ts") / bucket_sec)
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy("ts", "event_id")
    # __head flags the bucket head EXPLICITLY via the non-null unique
    # event_id (r7 advice: overloading __chg's NULL conflated the head
    # with any NULL-typed row or successor-of-NULL). __chg is then the
    # plain shape's start condition (prev IS NULL OR type <> prev) for
    # non-head rows, coalesced so it can never be NULL; __last flags
    # the closing row, again by event_id so a NULL ts cannot misflag
    # it. All three come out of ONE Window operator on one sort.
    prev_t = F.lag("event_type").over(w_local)
    loc = (
        e.withColumn("__head", F.lag("event_id").over(w_local).isNull())
        .withColumn(
            "__chg",
            (~F.col("__head"))
            & F.coalesce(
                prev_t.isNull() | (F.col("event_type") != prev_t), F.lit(False)
            ),
        )
        .withColumn("__last", F.lead("event_id").over(w_local).isNull())
    )
    # One summary row per (user, bucket). The head and last rows are
    # UNIQUE within a bucket (LAG/LEAD null exactly once), so the
    # conditional aggregates each see a single candidate row — no
    # struct-ordering needed. groupBy keys == the window partitioning,
    # so this rollup adds no exchange.
    summ = loc.groupBy("user_id", "__b").agg(
        F.max(F.when(F.col("__last"), F.col("event_type"))).alias(
            "__last_type"
        ),
        F.min(F.when(F.col("__head"), F.col("ts"))).alias("__head_ts"),
        F.max(F.when(F.col("__head"), F.col("event_type"))).alias(
            "__head_type"
        ),
        F.min(F.when(F.col("__chg"), F.col("ts"))).alias("__chg_from"),
    )
    w_user = Window.partitionBy("user_id").orderBy("__b")
    # The head is a start under the PLAIN condition applied across the
    # bucket seam: previous closing type IS NULL (which covers both
    # "no previous bucket" and "previous bucket closed on a NULL
    # type" — plain treats both as prev_type IS NULL → start) OR the
    # types differ; a NULL head type after a non-NULL close is NOT a
    # start, exactly as in the plain filter.
    prev_last = F.lag("__last_type").over(w_user)
    head_is_start = F.coalesce(
        prev_last.isNull() | (F.col("__head_type") != prev_last),
        F.lit(False),
    )
    stitched = (
        summ.withColumn("__head_start", head_is_start)
        .withColumn(
            "__first_start",
            F.when(F.col("__head_start"), F.col("__head_ts")).otherwise(
                F.col("__chg_from")
            ),
        )
        .withColumn(
            "__next_from",
            F.first("__first_start", ignorenulls=True).over(
                w_user.rowsBetween(1, Window.unboundedFollowing)
            ),
        )
        .select("user_id", "__b", "__head_start", "__next_from")
    )
    # Back onto the event rows: starts = in-bucket changes + surviving
    # heads; close each with the local LEAD, falling back to the next
    # bucket's first start. The event side of the join and the final
    # window both reuse the (user_id, bucket) partitioning. Null-safe
    # on both keys (r7 advice): the plain window keeps NULL user_id
    # rows as their own partition, and a NULL ts makes __b NULL — a
    # plain inner equi-join would silently drop either; `<=>` is still
    # an equi-join to the planner.
    st = stitched.select(
        F.col("user_id").alias("__sk"),
        F.col("__b").alias("__sb"),
        "__head_start",
        "__next_from",
    )
    starts = loc.join(
        st,
        F.col("user_id").eqNullSafe(F.col("__sk"))
        & F.col("__b").eqNullSafe(F.col("__sb")),
    ).filter(
        F.when(F.col("__head"), F.col("__head_start")).otherwise(F.col("__chg"))
    )
    w_lb = Window.partitionBy("user_id", "__b").orderBy("ts", "event_id")
    valid_to = F.coalesce(F.lead("ts").over(w_lb), F.col("__next_from"))
    return starts.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )
