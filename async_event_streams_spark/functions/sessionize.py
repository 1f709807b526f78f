"""Skew-resistant gap sessionization: bucket-and-stitch.

The plain lag+cumsum sessionizer (`c_sessionize_gaps`) rides ONE
user-keyed window — correct, single-exchange, but a zipfian key kills
it: a user owning 30% of a 100 TB event log serializes 30% of the
corpus through one task's sort (tools/skew_probe.py measured 2.3× at
local[32]; at 1000 executors the hot task IS the job). AQE cannot split
a window partition.

`sessionize_bucketed` removes the hot partition by splitting every
user's timeline into fixed time buckets and sessionizing in two
phases:

1. LOCAL: per (user_id, bucket) window — lag/cumsum exactly as the
   plain shape, but partitions are bounded by the bucket's data rate,
   not the user's corpus share. Emits each event's local session
   number `1..n_b`.
2. STITCH: a per-(user_id, bucket) summary (first/last event time,
   local session count — 1 row per bucket the user touched, ≪ events)
   decides whether a bucket's FIRST local session continues the
   previous bucket's last session (boundary gap ≤ gap_sec; summary
   rows are consecutive per user, so distant buckets fail the gap test
   naturally). The user-keyed window needed for the running offset runs
   over THIS summary table only. A session spanning many buckets is a
   chain of merges; the running sum of `n_b - merged_b` telescopes the
   chain, so global numbering needs no iterative propagation:

       session_id(event) = offset(bucket) + local_session - merged

   matches the plain sessionizer's running count exactly (proved by
   the shared oracle: `c_sessionize_bucketed` checks THIS
   implementation against the same straightforward lag+cumsum SQL that
   checks `c_sessionize_gaps`, plus the boundary unit tests in
   tests/test_sessionize.py).

Shuffle inventory: one (user_id, bucket) exchange for the local window,
one user-keyed exchange over the tiny summary, one equi-join of events
to the summary on (user_id, bucket), one partial-agg rollup — every
corpus-sized exchange is keyed by (user_id, bucket), which a hot user
cannot flood.

r7 adds the ADAPTIVE entry point `sessionize`: a cheap top-key-share
probe (`estimate_top_key_share` — one column-pruned pass, |keys|-row
shuffle) picks the plain single-exchange shape on uniform keys and
bucket-and-stitch past the skew threshold. Both shapes are oracle-
proven equal, so dispatch changes the plan, never the answer; the
choice is pinned at both ends by tests/test_sessionize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import materialize

DEFAULT_GAP_SEC = 1800
DEFAULT_BUCKET_SEC = 3600
# Single-key share above which the adaptive entry point switches to
# bucket-and-stitch: one task owning >10% of a window exchange leaves
# the stage latency-bound on that straggler once the cluster has ~10+
# slots, and the gap only widens with executor count (the r6 skew
# probe measured 2.3x at a 30% key on local[32]).
DEFAULT_SKEW_THRESHOLD = 0.10


def estimate_top_key_share(
    df: DataFrame, key: str = "user_id", sample_fraction: float | None = None
) -> float:
    """Share of rows held by the single hottest key — the one number
    the plain-vs-bucketed dispatch needs. One column-pruned pass with
    a map-side-combined count per key (the shuffle carries |keys|
    slim rows, not the corpus); pass sample_fraction to probe a
    uniform sample instead when even that pass is too dear. Callers
    that probe the same table repeatedly should memoize per dataset
    (the `_money_profile` discipline, queries/relational.py)."""
    probe = df.select(key)
    if sample_fraction is not None:
        probe = probe.sample(fraction=sample_fraction, seed=7)
    row = (
        probe.groupBy(key)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
        .first()
    )
    if row is None or not row.n:
        return 0.0
    return float(row.mx) / float(row.n)


def hot_keys(
    df: DataFrame,
    key: str = "user_id",
    threshold: float = DEFAULT_SKEW_THRESHOLD,
) -> list:
    """The keys whose row share exceeds `threshold` — the input the
    hot/cold-split dispatch needs (functions/asof.py,
    functions/lagstitch.py). Mathematically bounded: fewer than
    1/threshold keys can each hold more than a `threshold` share, so
    the collect is ≤ ⌈1/threshold⌉ slim rows no matter the corpus.
    Same cost shape as estimate_top_key_share: column-pruned scans
    with map-side-combined per-key counts; the count-per-key frame is
    evaluated twice (total, then filter) but its shuffle carries
    |keys| rows, not the corpus."""
    counts = df.groupBy(key).count()
    row = counts.agg(F.sum("count").alias("n")).first()
    total = 0 if row is None or row.n is None else int(row.n)
    if not total:
        return []
    hot = counts.filter(F.col("count") > threshold * total).collect()
    return [r[key] for r in hot]


def hot_key_profile(
    spark,
    sf_dir: str,
    specs,
    threshold: float = DEFAULT_SKEW_THRESHOLD,
) -> list:
    """The per-(table, key) hot-key profile as a BUILD-ONCE session
    artifact (r9 VERDICT #4, the `km_centroids` memo pattern): every
    adaptive lane used to run its own `hot_keys` probe per query —
    `c_anomaly_adaptive` ran TWO — which is pure overhead on a table
    whose skew does not change within a session. This pins the probe's
    result (`c_skew_report`'s machinery: map-side-combined per-key
    counts, filter share > threshold) per (tables, keys, threshold,
    dataset) via `util.artifact`, so the N adaptive entries together
    pay ONE probe pass per profiled axis and every later call is a
    memo hit plus a ≤⌈1/threshold⌉-row collect.

    `specs` is ("table", "key_col") or a list of them — a list unions
    the key columns before counting (the as-of join probes
    events.user_id ∪ orders.o_custkey, the r7 both-sides rule).
    Dispatch provably cannot change answers (every adaptive lane
    shares its oracle with its plain/bucketed twins, and the forced-
    hot-set property tests pin the split), so memoizing the probe can
    only change plans, never results — the same argument that makes
    the dispatch itself safe."""
    from ..tables import table as _table
    from ..util import artifact

    # Discriminate the scalar shape by ELEMENT type, not container
    # type: a tuple-of-tuples spec (("events","user_id"),("orders",
    # "o_custkey")) must union the axes, not be wrapped as one spec
    # and fail deep inside _table with a confusing error.
    if specs and isinstance(specs[0], str):
        specs = [specs]
    specs = [tuple(s) for s in specs]
    if not specs or not all(
        len(s) == 2 and all(isinstance(p, str) for p in s) for s in specs
    ):
        raise ValueError(
            "specs must be ('table', 'key_col') or a sequence of such "
            f"pairs, got {specs!r}"
        )
    memo_key = (
        "hotkeys:"
        + "+".join(f"{t}.{c}" for t, c in specs)
        + f":{threshold}:{sf_dir}"
    )

    def build():
        parts = [
            _table(spark, sf_dir, t).select(F.col(c).alias("k"))
            for t, c in specs
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        counts = u.groupBy("k").count()
        row = counts.agg(F.sum("count").alias("n")).first()
        total = 0 if row is None or row.n is None else int(row.n)
        if not total:
            return counts.filter(F.lit(False)).select("k")
        return counts.filter(F.col("count") > threshold * total).select("k")

    return [r["k"] for r in artifact(spark, memo_key, build).collect()]


def sessionize(
    events: DataFrame,
    gap_sec: int = DEFAULT_GAP_SEC,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
    skew_threshold: float = DEFAULT_SKEW_THRESHOLD,
    hot: list | None = None,
) -> DataFrame:
    """ADAPTIVE entry point (r6 verdict item 5 precedent extended) —
    since r7.2 a HOT/COLD SPLIT rather than a whole-corpus flip (the
    functions/asof.py refinement, backported for family consistency):
    a bounded hot-key probe (`hot_keys`, ≤ 1/threshold keys by
    construction) names the users whose row share crosses
    skew_threshold; their rows — and only theirs — go through
    bucket-and-stitch, everyone else through the plain single-window
    sessionizer. Sessionization is per-user, so the split is exact,
    and a uniform corpus pays one probe pass and zero machinery.
    All shapes are proven equal (same oracle checks c_sessionize_gaps,
    c_sessionize_bucketed and c_sessionize_adaptive), so the dispatch
    can never change results — only the plan. Pass a precomputed/
    memoized `hot` list to skip the probe pass ([] forces plain)."""
    if hot is None:
        hot = hot_keys(events, "user_id", threshold=skew_threshold)
    if not hot:
        return sessionize_plain(events, gap_sec=gap_sec)
    is_hot = F.coalesce(F.col("user_id").isin(hot), F.lit(False))
    cold = sessionize_plain(events.filter(~is_hot), gap_sec=gap_sec)
    hot_df = sessionize_bucketed(
        events.filter(is_hot), gap_sec=gap_sec, bucket_sec=bucket_sec
    )
    return cold.unionByName(hot_df)


def sessionize_plain(
    events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC
) -> DataFrame:
    """The plain lag+cumsum shape: both window functions share one
    user-keyed exchange, then a slim per-session rollup. The
    c_sessionize_gaps query and the cold lane of the adaptive dispatch
    both run it."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # MICROSECOND-exact gap (r11, caught by the true-sf1 sweep): the
    # oracle's epoch() and Spark's own F.session_window both keep
    # sub-second precision, so truncating each timestamp to whole
    # seconds before differencing mis-classifies gaps inside
    # (gap_sec, gap_sec+1) — ~24 expected boundary hits per 1M events
    # on this corpus, invisible at sf0.1.
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap = us(F.col("ts")) - us(F.lag("ts").over(w))
    new_s = F.when(
        gap.isNull() | (gap > gap_sec * 1_000_000), 1
    ).otherwise(0)
    return (
        events.select("user_id", "event_id", "ts")
        .withColumn(
            "session_id",
            F.sum(new_s).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def sessionize_bucketed(
    events: DataFrame,
    gap_sec: int = DEFAULT_GAP_SEC,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """(user_id, session_id, n_events, session_start, session_end) with
    session_id the per-user running count of session starts — the same
    contract as c_sessionize_gaps, minus the hot-key window.

    Deliberately NOT pinned (no localCheckpoint), the r7 lesson from
    the SCD2 twin (functions/scd2.py): the local-window frame feeds
    two branches (summary aggregation, final events join) — the shape
    that usually demands `util.materialize` — but the recompute is one
    fused scan+window, and checkpointing was MEASURED slower (12.2 s
    vs 10.4 s warm at the 100x/10M-event probe corpus, local[32]): the
    checkpoint writes a corpus-sized frame AND erases its
    outputPartitioning, forcing the summary join-back to re-shuffle
    both sides. Recomputing keeps the (user_id, bucket) hash
    partitioning visible to Catalyst, so only the summary side of the
    join shuffles. On a cluster the same trade holds: re-reading a
    columnar source through a fused window beats writing and
    re-shuffling an intermediate the optimizer can no longer reason
    about."""
    # microsecond-exact end to end (the sessionize_plain precision
    # contract): bucket ids, local gaps and the stitch comparison all
    # ride unix_micros so bucket-and-stitch stays EXACTLY equal to the
    # plain shape at any timestamp precision
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    gap_us, bucket_us = gap_sec * 1_000_000, bucket_sec * 1_000_000
    e = events.select("user_id", "event_id", "ts").withColumn(
        "__b", F.floor(us("ts") / bucket_us)
    )
    w_local = Window.partitionBy("user_id", "__b").orderBy("ts", "event_id")
    gap = us("ts") - F.lag(us("ts")).over(w_local)
    new_s = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    loc = e.withColumn(
        "__ls",
        F.sum(new_s).over(
            w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # One summary row per (user, bucket); groupBy keys == the window
    # partitioning, so this rollup adds no exchange of its own.
    summ = loc.groupBy("user_id", "__b").agg(
        F.min(us("ts")).alias("__first"),
        F.max(us("ts")).alias("__last"),
        F.max("__ls").alias("__n"),
    )
    w_user = Window.partitionBy("user_id").orderBy("__b")
    merged = F.when(
        F.col("__first") - F.lag("__last").over(w_user) <= gap_us, 1
    ).otherwise(0)
    stitched = summ.withColumn("__m", merged).withColumn(
        "__off",
        F.coalesce(
            F.sum(F.col("__n") - F.col("__m")).over(
                w_user.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    sid = (F.col("__off") + F.col("__ls") - F.col("__m")).alias("session_id")
    # Null-safe on both keys (r7 advice, family-wide): the plain
    # window keeps NULL user_id rows as their own partition, and a
    # NULL ts makes __b NULL — a plain inner equi-join would silently
    # drop either; `<=>` is still an equi-join to the planner.
    st = stitched.select(
        F.col("user_id").alias("__sk"),
        F.col("__b").alias("__sb"),
        "__m",
        "__off",
    )
    return (
        loc.join(
            st,
            F.col("user_id").eqNullSafe(F.col("__sk"))
            & F.col("__b").eqNullSafe(F.col("__sb")),
        )
        .select("user_id", "ts", sid)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
