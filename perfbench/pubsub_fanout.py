"""pubsub_fanout: the reference's fizz_buzz topology, live.

A `numbers` topic (n long, v double) has three subscribers: a classify
pipe re-publishing `label` with auto-lineage to `labeled` (whose sink
validates it), an even-filter sink and an ordered sink. Three phases:

A. burst: 100-event posts as fast as `post` returns, then
   `barrier(chain=True)`; throughput is events over that whole span.
B. paced open loop: a 50-event post every 50 ms (1,000 ev/s), each event
   timed from its post's DUE time to its arrival at the `labeled` sink.
C. closed-loop `send(..., barrier="chain")` of one event at a time on a
   separate two-topic classify chain in per-event conformance mode
   (max_segments_per_batch=1, 0 ms trigger).

End-to-end: rate_per_s = burst events/s; p50_ms and tail_ms = delivery
latency of a post in phase B (all its events delivered). The phase C
round trip is reported per layer.

Gates, per event: it reaches every subscriber exactly once and in FIFO
order, its label matches fizzbuzz, and the row the classify pipe stored
on the labeled topic carries the event's own id as `source_event_id`.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter

import numpy as np

from common import another_fits, median, progress_metrics, tail
from gen import pubsub_payload

BURST_EVENTS = 5_000
POST_EVENTS = 100
PACED_EVENTS = 50
PACED_PERIOD_S = 0.050  # 1,000 ev/s: about a quarter of burst capacity
WARMUP_BURSTS = 3  # burst rates still climb over the first bursts
# Shares of the window. The paced phase gets the most: its latency is
# set by the few micro-batches that run in it, so it needs the time.
BURST_SHARE, PACED_SHARE, SEND_SHARE = 0.3, 0.5, 0.2
# A burst takes 1.2-1.7 s on 4 shared cores. Phase A runs a fixed count
# of bursts (one per BURST_S of its share) so that every run measures
# the same work, whatever the host's speed.
BURST_S = 1.5
WARMUP_SENDS = 3
# --fault corrupts three different events, one per gate: a dropped
# delivery, a wrong stored lineage and a reordered arrival
FAULTS = 3


def _label(n: int) -> str:
    return ("fizzbuzz" if n % 15 == 0 else "buzz" if n % 5 == 0
            else "fizz" if n % 3 == 0 else "number")


def generate(ctx) -> None:
    os.makedirs(ctx.inputs)
    # enough payload for any phase length: burst capacity is far below
    # 20k ev/s and the paced and chained phases are slower still
    ctx.payload = pubsub_payload(ctx.inputs, int(20_000 * ctx.seconds) + 50_000, ctx.seed)


class Recorder:
    """Sink-side state shared with the foreachBatch callbacks, which run
    on the engine's callback threads."""

    def __init__(self, tracer) -> None:
        self.lock = threading.Lock()
        self.tracer = tracer
        # arrival order at each sink: (n, label), n or event_id
        self.validated: list[tuple] = []
        self.arrival: dict[int, float] = {}
        self.even: list[int] = []
        self.ordered: list[int] = []
        self.chain: list[tuple] = []

    def sink(self, name, target, with_time=False):
        def fn(df, batch_id):
            with self.tracer.span("pipe.sink", name):
                rows = df.collect()
                now = time.perf_counter()
                with self.lock:
                    target(rows)
                    if with_time:
                        for r in rows:
                            self.arrival[r.n] = now
        return fn


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from async_event_streams_spark.queries.reference import fizzbuzz_label
    from async_event_streams_spark.topics import Topic, TopicRegistry, pipe

    spark, tr = ctx.spark, ctx.tracer
    v = np.load(ctx.payload)
    rec = Recorder(tr)
    root = os.path.join(ctx.work, "topics")
    reg = TopicRegistry()
    posted: list[tuple[int, int]] = []  # (n, event_id) on numbers
    chain_posted: list[tuple[int, int]] = []
    cursor = [0]

    def rows(k):
        a = cursor[0]
        cursor[0] += k
        return [{"n": n, "v": float(v[n])} for n in range(a, a + k)]

    def post(topic, batch, log, request):
        with tr.span("topic.post", request):
            first, _ = topic.post(batch)
        log.extend((r["n"], first + i) for i, r in enumerate(batch))

    def barrier(topic, request):
        with tr.span("topic.barrier", request):
            topic.barrier(chain=True)

    def classify(df):
        return df.select("source_event_id", "n", fizzbuzz_label(F.col("n")).alias("label"))

    t_setup = time.perf_counter()
    numbers = Topic(spark, "numbers", "n long, v double", root, reg)
    labeled = Topic(spark, "labeled", "n long, label string", root, reg)
    handles = [
        pipe(numbers, fn=classify, target=labeled, name="classify"),
        pipe(labeled, name="validate", sink_fn=rec.sink(
            "validate",
            lambda rs: rec.validated.extend((r.n, r.label) for r in rs),
            with_time=True)),
        pipe(numbers, fn=lambda df: df.filter(F.col("n") % 2 == 0), name="even",
             sink_fn=rec.sink("even", lambda rs: rec.even.extend(r.n for r in rs))),
        pipe(numbers, name="ordered",
             sink_fn=rec.sink("ordered", lambda rs: rec.ordered.extend(r.event_id for r in rs))),
    ]

    def burst(request):
        t0 = time.perf_counter()
        for _ in range(BURST_EVENTS // POST_EVENTS):
            post(numbers, rows(POST_EVENTS), posted, request)
        barrier(numbers, request)
        return BURST_EVENTS / (time.perf_counter() - t0)

    for _ in range(WARMUP_BURSTS):
        burst("warmup")
    setup_s = time.perf_counter() - t_setup

    # A. burst ----------------------------------------------------------
    n_bursts = max(1, round(BURST_SHARE * ctx.seconds / BURST_S))
    rates = [burst(f"burst{i}") for i in range(n_bursts)]

    # B. paced open loop ------------------------------------------------
    due: dict[int, float] = {}
    late_ms: list[float] = []
    backlog: list[float] = []
    k_posts = max(1, int(PACED_SHARE * ctx.seconds / PACED_PERIOD_S))
    t_b = time.perf_counter() + PACED_PERIOD_S
    for k in range(k_posts):
        at = t_b + k * PACED_PERIOD_S
        wait = at - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        late_ms.append((time.perf_counter() - at) * 1e3)
        batch = rows(PACED_EVENTS)
        for r in batch:
            due[r["n"]] = at
        post(numbers, batch, posted, f"paced{k}")
        with rec.lock:
            arrived = sum(1 for n in due if n in rec.arrival)
        backlog.append((len(due) - arrived) / PACED_EVENTS)
    barrier(numbers, "paced")
    # A post's events travel in one segment and reach the sink in one
    # batch, so the post, not the event, is the independent sample: its
    # latency is its last event's arrival after its due time.
    last: dict[float, float] = {}
    with rec.lock:
        for n, at in due.items():
            if n in rec.arrival:
                last[at] = max(last.get(at, 0.0), rec.arrival[n])
    delivery = [(t - at) * 1e3 for at, t in last.items()]

    # C. per-event chained send ----------------------------------------
    # The chain is built only now: its 0 ms triggers poll without pause,
    # which would load the host under phases A and B. Its set-up time
    # counts in set-up.
    t_setup = time.perf_counter()
    cnum = Topic(spark, "chain_numbers", "n long, v double", root, reg)
    clab = Topic(spark, "chain_labeled", "n long, label string", root, reg)
    per_event = {"max_segments_per_batch": 1, "trigger_interval": "0 seconds"}
    handles += [
        pipe(cnum, fn=classify, target=clab, name="chain_classify", **per_event),
        pipe(clab, name="chain_sink", **per_event, sink_fn=rec.sink(
            "chain_sink",
            lambda rs: rec.chain.extend((r.n, r.label) for r in rs))),
    ]
    for _ in range(WARMUP_SENDS):
        b = rows(1)
        with tr.span("topic.send", "warmup"):
            first, _ = cnum.send(b, barrier="chain")
        chain_posted.append((b[0]["n"], first))
    setup_s += time.perf_counter() - t_setup
    rtt = []
    sends = 0
    unsure: set[int] = set()  # events of sends that raised
    t_phase = time.perf_counter()
    while another_fits(t_phase, sends, SEND_SHARE * ctx.seconds):
        sends += 1
        b = rows(1)
        t0 = time.perf_counter()
        try:
            with tr.span("topic.send", f"send{sends}"):
                first, _ = cnum.send(b, barrier="chain")
        except Exception as exc:  # noqa: BLE001 - a failed send is counted
            # it may or may not have been published: the gates skip it
            ctx.attempted += 1
            ctx.fail(1, f"send raised {type(exc).__name__}: {exc}")
            unsure.add(b[0]["n"])
            continue
        rtt.append((time.perf_counter() - t0) * 1e3)
        chain_posted.append((b[0]["n"], first))

    if tr.enabled:
        for h in handles:
            ctx.layer.update(progress_metrics(h.name, [dict(p) for p in h.query.recentProgress]))
    for h in handles:
        h.stop()
    stored = {
        topic: sorted(tuple(r) for r in t.batch_df().select(
            "event_id", "n", "source_event_id").collect())
        for topic, t in (("numbers", labeled), ("chain", clab))
    }
    _check(ctx, rec, {"numbers": posted, "chain": chain_posted}, stored, unsure)
    _layer(ctx, tr, numbers, posted, rtt, late_ms, backlog)

    p, tail_ms = tail(delivery)
    ctx.notes.append(
        f"pubsub_fanout: burst ev/s {[round(r) for r in rates]}; "
        f"paced delivery n={len(delivery)} posts p50={median(delivery):.1f} ms "
        f"p{p:.2f}={tail_ms:.1f} ms; chained send n={len(rtt)} p50={median(rtt):.1f} ms"
    )
    return {
        "setup_s": setup_s,
        "rate_per_s": median(rates),
        "p50_ms": median(delivery),
        "tail_ms": tail_ms,
    }


def _check(ctx, rec, sent, stored, unsure) -> None:
    """Apply the gates to every event posted on `numbers` and on the
    chain. `sent` maps each to its posted (n, event_id) pairs and
    `stored` to the (event_id, n, source_event_id) rows of its labeled
    topic; the events in `unsure` are skipped. An event that fails any
    gate at any subscriber is one failure."""
    if ctx.fault:
        rec.validated.pop(len(rec.validated) // 2)
        eid, n, src = stored["numbers"][0]
        stored["numbers"][0] = (eid, n, src + 1)
        rec.even[-2:] = rec.even[:-3:-1]
    ctx.attempted += sum(len(v) for v in sent.values())
    bad = {"delivery": set(), "fifo": set(), "label": set(), "lineage": set()}

    def arrivals(topic, want, got):
        """`got` (ns in arrival order) holds each n of `want` once, in
        increasing order."""
        got = [n for n in got if n not in unsure]
        counts = Counter(got)
        bad["delivery"].update((topic, n) for n in want | set(counts) if counts[n] != (n in want))
        bad["fifo"].update((topic, b) for a, b in zip(got, got[1:]) if b <= a)

    n_of = {e: n for n, e in sent["numbers"]}
    ns = {n for n, _ in sent["numbers"]}
    arrivals("numbers", {n for n in ns if n % 2 == 0}, rec.even)
    arrivals("numbers", ns, [n_of.get(e, -1 - e) for e in rec.ordered])
    for topic, labels in (("numbers", rec.validated), ("chain", rec.chain)):
        source_id = dict(sent[topic])
        arrivals(topic, set(source_id), [n for n, _ in labels])
        bad["label"].update((topic, n) for n, label in labels
                            if n not in unsure and label != _label(n))
        rows = [(n, src) for _, n, src in stored[topic] if n not in unsure]
        arrivals(topic, set(source_id), [n for n, _ in rows])
        bad["lineage"].update((topic, n) for n, src in rows if src != source_id.get(n))
    failed = set().union(*bad.values())
    ctx.fail(len(failed), "pubsub_fanout gates: " + "; ".join(
        f"{gate} {sorted(ids)[:3]}" for gate, ids in bad.items() if ids))


def _layer(ctx, tr, numbers, posted, rtt, late_ms, backlog) -> None:
    seg_bytes = sum(
        os.path.getsize(os.path.join(numbers.dir, f))
        for f in os.listdir(numbers.dir) if f.startswith("segment-")
    )
    ctx.layer.update({
        "topic.post_ms_p50": median(tr.durations_ms("topic.post")),
        "topic.barrier_ms_p50": median(tr.durations_ms("topic.barrier")),
        "topic.bytes_per_event": seg_bytes / max(1, len(posted)),
        "topic.send_rtt_ms_p50": median(rtt),
        "pipe.sink_ms_p50": median(tr.durations_ms("pipe.sink")),
        "gen.late_ms_tail": tail(late_ms)[1],
        "gen.backlog_segments_max": max(backlog),
    })
