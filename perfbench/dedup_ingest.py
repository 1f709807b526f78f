"""dedup_ingest: the data plane, as one closed-loop client.

Each generated chunk (2,000 documents, 10% exact re-sends and 10%
near-duplicate edits of earlier documents) goes with
`send_df(chunk, barrier="chain")` to a content-keyed PartitionedTopic
(2 partitions, key = text), through `partitioned_exact_dedup_pipes`
(compact_every fixed) to an `exact` topic, through `minhash_dedup_pipe`
to a `near` topic, and to a counting sink. The first two chunks are
part of set-up; the next chunk is sent only when the previous one
returned.

End-to-end: rate_per_s = documents sent per second of measurement;
p50_ms = the mean and tail_ms = the tail of the delivery latency of a
document, from the start of its chunk's send to its arrival at the
counting sink. Latency is taken per document because the two
exact-dedup partitions finish a chunk at slightly different times, so
the near-dedup pipe sees a chunk as one micro-batch or as two: chunk
round trips are bimodal, while each document's delivery time samples
both modes in every chunk. The central figure is the mean rather than
the median because the median of that bimodal distribution jumps
between the two modes: over ten seeds the median spread 0.27 (IQR /
median), past its 0.25 bound.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import Counter

from common import dir_bytes, median, progress_metrics, quantile, tail
from gen import dedup_chunks, tables

PARTITIONS = 2
COMPACT_EVERY = 3
# The first chunk meets empty dedup state; the second is the first to
# plan and compile the anti-join and LSH band join against prior state
# (measured 4.0-5.1 s against 2.5-4.1 s for the chunks after it).
SETUP_CHUNKS = 2
# A chunk's round trip is 3-6 s on 4 shared cores, so the measurement is
# a fixed count of chunks (one per 2.5 s of window) rather than "until
# the window closes": every run then measures the same chunks, with one
# compaction among them, instead of a varying number, and enough of them
# that most runs see both the one- and the two-micro-batch case (three
# chunks spread 0.26-0.28 between runs in p50 and tail, four 0.19-0.20).
CHUNK_S = 2.5
SF = 0.1  # documents.parquet seeds the fresh-document pool
FAULTS = 1  # --fault drops one document from the near topic's output


def generate(ctx) -> None:
    sf_dir = tables(ctx.repo, ctx.sf or SF, os.path.join(ctx.inputs, "sf"), ctx.seed)
    n_chunks = SETUP_CHUNKS + _measured_chunks(ctx.seconds)
    ctx.manifest = dedup_chunks(ctx.repo, sf_dir, os.path.join(ctx.inputs, "chunks"),
                                n_chunks, ctx.seed)


def _traced(tr, obj, method: str, span: str) -> None:
    """Record a span around every call of `obj.method`, including the
    engine's own internal calls to it."""
    inner = getattr(obj, method)

    def wrapper(*a, **kw):
        with tr.span(span):
            return inner(*a, **kw)

    setattr(obj, method, wrapper)


def run(ctx) -> dict:
    from async_event_streams_spark.streaming import (
        minhash_dedup_pipe,
        partitioned_exact_dedup_pipes,
        state_dirs,
    )
    from async_event_streams_spark.topics import PartitionedTopic, Topic, TopicRegistry, pipe

    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.work, "topics")
    reg = TopicRegistry()
    schema = "doc_id long, text string"
    kept: list[int] = []
    arrival: dict[int, float] = {}
    lock = threading.Lock()

    def count(df, batch_id):
        with tr.span("pipe.sink", "count"):
            ids = [r.doc_id for r in df.select("doc_id").collect()]
            now = time.perf_counter()
            with lock:
                kept.extend(ids)
                arrival.update((i, now) for i in ids)

    t_setup = time.perf_counter()
    docs = PartitionedTopic(spark, "docs", schema, root, key_col="text",
                            num_partitions=PARTITIONS, registry=reg)
    exact = Topic(spark, "exact", schema, root, reg)
    near = Topic(spark, "near", schema, root, reg)
    exact_state = os.path.join(ctx.work, "exact-state")
    near_state = os.path.join(ctx.work, "near-state")
    handles = list(partitioned_exact_dedup_pipes(
        docs, exact, state_root=exact_state, compact_every=COMPACT_EVERY))
    handles.append(minhash_dedup_pipe(exact, near, state_dir=near_state))
    handles.append(pipe(near, sink_fn=count, name="count"))
    if tr.enabled:
        _traced(tr, docs, "post_df", "partitioned.post_df")
        _traced(tr, docs, "barrier", "topic.barrier")

    chunks = ctx.manifest["chunks"]
    rtt_ms: list[float] = []
    started: list[float] = []

    def send(i):
        df = spark.read.parquet(chunks[i])
        started.append(time.perf_counter())
        with tr.span("topic.send_df", f"chunk{i}"):
            docs.send_df(df, barrier="chain")
        rtt_ms.append((time.perf_counter() - started[-1]) * 1e3)

    for i in range(SETUP_CHUNKS):
        send(i)
    setup_s = time.perf_counter() - t_setup

    t_measure = time.perf_counter()
    for i in range(SETUP_CHUNKS, len(chunks)):
        send(i)
    measure_s = time.perf_counter() - t_measure
    sent = len(chunks)
    n_docs = [_rows(c) for c in chunks[:sent]]
    warm = rtt_ms[SETUP_CHUNKS:]
    first_id = [sum(n_docs[:i]) for i in range(sent + 1)]
    with lock:
        delivery = [(arrival[d] - started[c]) * 1e3 for c in range(SETUP_CHUNKS, sent)
                    for d in range(first_id[c], first_id[c + 1]) if d in arrival]

    if tr.enabled:
        for h in handles:
            ctx.layer.update(progress_metrics(h.name, [dict(p) for p in h.query.recentProgress]))
    for h in handles:
        h.stop()
    survivors = exact.batch_df().select("doc_id", "text").cache()
    exact_ids = [r.doc_id for r in survivors.select("doc_id").collect()]
    _check(ctx, survivors, exact_ids, kept, sent, sum(n_docs))
    survivors.unpersist()

    if tr.enabled:
        shares = [_partition_rows(p.dir) for p in docs.partitions]
        ctx.layer.update({
            "partitioned.post_df_ms_p50": median(tr.durations_ms("partitioned.post_df")),
            "partitioned.skew": max(shares) / (sum(shares) / len(shares)),
            "topic.barrier_ms_p50": median(tr.durations_ms("topic.barrier")),
            "pipe.sink_ms_p50": median(tr.durations_ms("pipe.sink")),
            "dedup.state_bytes": dir_bytes(exact_state),
            "dedup.state_dirs": sum(len(state_dirs(os.path.join(exact_state, d)))
                                    for d in os.listdir(exact_state)),
            "dedup.kept_frac": len(exact_ids) / sum(n_docs),
            "neardedup.state_bytes": dir_bytes(near_state),
            "neardedup.state_dirs": len(state_dirs(near_state)),
            "neardedup.kept_frac": len(kept) / max(1, len(exact_ids)),
            "ingest.batch_ms_p75": quantile(warm, 0.75),
            "ingest.latency_growth": _growth(warm),
        })

    p, tail_ms = tail(delivery)
    mean_ms = sum(delivery) / len(delivery)
    ctx.notes.append(
        f"dedup_ingest: {len(warm)} warm chunks, {first_id[-1] - first_id[SETUP_CHUNKS]} docs in "
        f"{measure_s:.1f} s; chunk round trips ms {[round(x) for x in rtt_ms]}; "
        f"delivered docs n={len(delivery)} mean={mean_ms:.0f} ms p50={median(delivery):.0f} ms "
        f"p{p:.2f}={tail_ms:.0f} ms"
    )
    return {
        "setup_s": setup_s,
        "rate_per_s": (first_id[-1] - first_id[SETUP_CHUNKS]) / measure_s,
        "p50_ms": mean_ms,
        "tail_ms": tail_ms,
    }


def _check(ctx, survivors, exact_ids, kept, sent, n_docs) -> None:
    """The exact topic holds exactly the first occurrence by text over
    the sent stream; the near topic equals the batch twin
    `pipelines.dedup_near` over those survivors. One failure per
    document that is wrong on either topic."""
    from async_event_streams_spark.pipelines import dedup_near

    if ctx.fault:
        kept = kept[1:]
    ctx.attempted += n_docs
    want_exact = {i for ids in ctx.manifest["first_ids"][:sent] for i in ids}
    want_near = {r.doc_id for r in dedup_near(survivors).select("doc_id").collect()}
    bad = set()
    for want, got in ((want_exact, Counter(exact_ids)), (want_near, Counter(kept))):
        bad |= {i for i in want | set(got) if got[i] != (i in want)}
    ctx.fail(len(bad), f"dedup_ingest gates: {sorted(bad)[:5]}")


def _measured_chunks(seconds: float) -> int:
    return max(1, math.ceil(seconds / CHUNK_S))


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _partition_rows(topic_dir: str) -> int:
    """Rows published to one partition: the sizes its bulk markers record."""
    total = 0
    for name in os.listdir(topic_dir):
        if name.startswith("segment-"):
            with open(os.path.join(topic_dir, name)) as f:
                for line in f:
                    if line.strip():
                        total += json.loads(line).get("n", 0)
    return total


def _growth(warm: list[float]) -> float:
    """Median of the last quarter of chunks over the first quarter's."""
    q = max(1, len(warm) // 4)
    return median(warm[-q:]) / max(1e-9, median(warm[:q]))
