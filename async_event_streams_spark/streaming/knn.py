"""Streaming kNN-GRAPH maintenance: the edge list every batch graph
consumer stands on (x_kcenter_sample, x_knn_communities,
x_knn_pagerank), kept current as embeddings arrive.

The batch twin is `queries/llm.py::x_knn_graph`: LSH-bucket the
vectors, self-equi-join within buckets, keep each vector's top-k
cosine neighbors. The streaming insight is that the graph is
BUCKET-DECOMPOSABLE: a new vector can only change edges of vectors in
ITS OWN bucket (candidate generation never crosses buckets), so each
micro-batch recomputes edges only for the buckets it touches —
against the full accumulated membership of those buckets — and leaves
every other bucket's edges untouched.

State layout (batch-versioned parquet, the dedup/ANN replay
discipline — batch N owns its dirs with overwrite):

- vectors/batch=N : (vec_id, e, bucket, __batch) — the corpus so far
- edges/batch=N   : (bucket, vec_id, neighbor_id, rnk, score,
                     __batch) — the RECOMPUTED edge sets of batch N's
                     touched buckets
- touched/batch=N : (bucket, __batch) — which buckets batch N owns

Read side (`knn_edges_snapshot`): a bucket's current edges are the
rows from the LAST batch that touched it (max __batch in `touched`),
which also makes empty recomputes honest — a bucket that grew past
the degenerate-flood cap writes NO edge rows in its latest touch, and
the sidecar ensures its stale earlier edges are not resurrected.
Because every recompute sees the bucket's FULL accumulated membership
(latest-wins per vec_id for re-sent ids, then the same cap as batch),
the snapshot after wave W equals the batch build over all vectors
sent so far — EXACT stream==batch equality, no cap-order divergence
caveat (unlike streaming near-dedup, where drop decisions are
arrival-order-dependent; here edges are a pure function of the
current membership). Asserted wave-by-wave, including against the
registered x_knn_graph query itself once the full corpus is in
(tests/test_streaming_knn.py).

Scale shape: per micro-batch one broadcast prune of the vector state
to the touched buckets (the touched set is bounded by batch size),
one bucket-local self-equi-join + WindowGroupLimit over those
buckets only — never the whole graph, never all-pairs. State is
parquet a cluster deployment would back with a partitioned table;
vector dirs are compactable with `compact_state` (edges/touched are
version markers and must not be merged across batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.similarity import cosine, lsh_bucket, lsh_planes
from ..util import cap_buckets, materialize
from .ann import _latest_rows
from .state import reject_partitioned_source, reject_stale_state, state_dirs


def _read_dirs(spark: SparkSession, dirs: list[str]) -> DataFrame | None:
    return spark.read.parquet(*dirs) if dirs else None


def bucket_edges(b: DataFrame, k: int) -> DataFrame:
    """(vec_id, e, bucket) → each vector's top-k same-bucket cosine
    neighbors, carrying the bucket column for the version sidecar.
    The same bucket self-join as x_knn_graph (queries/llm.py), kept
    separate because the stream's vector state has no pinned norm
    column: it scores with cosine(), which the batch's pinned-norm
    quotient equals bit for bit. Identical tie-breaks (9-decimal score
    rounding desc, then neighbor_id) keep the two bit-equal, which the
    stream==batch test asserts against the registered query itself."""
    a = b.alias("a")
    x = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("eb"),
        F.col("bucket").alias("bucket_b"),
    ).alias("x")
    w = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("neighbor_id")
    )
    return (
        a.join(
            x,
            (F.col("a.bucket") == F.col("bucket_b"))
            & (F.col("a.vec_id") != F.col("neighbor_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_id"),
            "neighbor_id",
            cosine(F.col("a.e"), F.col("eb")).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "bucket",
            "vec_id",
            "neighbor_id",
            "rnk",
            F.round("score", 6).alias("score"),
        )
    )


def knn_graph_pipe(
    source,
    state_dir: str,
    dim: int,
    n_planes: int = 10,
    seed: int = 43,
    k: int = 3,
    bucket_cap: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    name: str = "knn-graph",
    compact_every: int | None = None,
):
    """Maintain the kNN edge list over a stream of embeddings. Each
    micro-batch: bucket the new vectors (defaults reproduce the batch
    build's planes/k/cap — the first 10 of `_ND_PLANES =
    lsh_planes(32, 64, seed=43)`, `_KNN_K`, `_LSH_BUCKET_CAP` in
    queries/llm.py — so stream and batch agree bit-for-bit at any
    corpus the 10-plane floor covers), append them to the vector
    state, and recompute edges for exactly the touched buckets against
    their full accumulated membership. Returns the PipeHandle.

    Plane-count contract (r11): the BATCH lane adapts its plane count
    to corpus size (`_nd_nplanes` — 10 below ~16k vectors, then +1 bit
    per corpus doubling); a streaming index must pin `n_planes` at
    construction, because re-bucketing means re-hashing all vector
    state. Size it as `_nd_nplanes(expected_corpus)` to stay equal to
    the batch build at the corpus you expect to accumulate; growing
    past the next power-of-two boundary is an index REBUILD (replay
    the topic through a new pipe) — the standard LSH-index answer,
    documented rather than silently diverging."""
    from ..topics.pipe import pipe

    reject_partitioned_source(source, "knn_graph_pipe")
    vroot = os.path.join(state_dir, "vectors")
    eroot = os.path.join(state_dir, "edges")
    troot = os.path.join(state_dir, "touched")
    from .state import recover_compaction

    for d in (vroot, eroot, troot):
        os.makedirs(d, exist_ok=True)
        recover_compaction(d)  # finish/abort any crash-interrupted swap
    planes = lsh_planes(n_planes, dim, seed=seed)

    def index_batch(df, batch_id: int):
        spark = df.sparkSession
        reject_stale_state(vroot, batch_id, "knn_graph_pipe")
        if compact_every and batch_id and batch_id % compact_every == 0:
            # all three roots are safely mergeable: the snapshot's
            # latest-touch resolution keys on the ROW-level __batch
            # stamps, not the directory names (committed-batch
            # watermark: only dirs below the current batch id merge)
            from .state import compact_state

            for root in (vroot, eroot, troot):
                compact_state(spark, root, upto_batch=batch_id)
        nv = materialize(
            df.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).cast("array<double>").alias("e"),
            )
            .withColumn("bucket", lsh_bucket(F.col("e"), planes))
            .withColumn("__batch", F.lit(batch_id))
        )
        nv.write.mode("overwrite").parquet(
            os.path.join(vroot, f"batch={batch_id}")
        )
        touched = nv.select("bucket").distinct()
        prior = _read_dirs(spark, state_dirs(vroot, batch_id))
        state = nv if prior is None else prior.unionByName(nv)
        if prior is not None:
            # a re-sent id may have MOVED buckets (updated embedding):
            # its old bucket loses the vector, so it must be recomputed
            # too — latest-wins below then keeps only the new position
            old_buckets = prior.join(
                F.broadcast(nv.select("vec_id").distinct()), "vec_id"
            ).select("bucket")
            touched = touched.unionByName(old_buckets).distinct()
        # full membership of the touched buckets: latest-wins per
        # re-sent vec_id resolved over the FULL vector state BEFORE
        # the bucket filter, then the same degenerate-flood cap as the
        # batch build. Order matters: a vector that moved A→B in an
        # earlier batch leaves a stale (vec, A) row in the state, and
        # a later batch touching A but not B must see that the
        # vector's CURRENT row lives elsewhere — filtering to touched
        # buckets first would hide the newer B row and resurrect the
        # vector in A (r7 advice, high). Cost: one vec_id-keyed
        # latest-wins pass over the state the batch already scans in
        # full (line above); stale rows exist only for re-sent ids, so
        # a cluster deployment keeps this cheap by folding the vector
        # root to latest-rows at compaction time (compact_state merges
        # dirs verbatim today — the fold is a safe extension because
        # the row-level __batch stamps survive the merge).
        member = cap_buckets(
            _latest_rows(state).join(F.broadcast(touched), "bucket"),
            ["bucket"],
            bucket_cap,
        )
        edges = materialize(
            bucket_edges(member, k).withColumn("__batch", F.lit(batch_id))
        )
        edges.write.mode("overwrite").parquet(
            os.path.join(eroot, f"batch={batch_id}")
        )
        touched.withColumn("__batch", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(os.path.join(troot, f"batch={batch_id}"))
        return edges.select("vec_id", "neighbor_id", "rnk", "score")

    return pipe(source, fn=index_batch, sink_fn=lambda df, b: None, name=name)


def knn_edges_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """The CURRENT edge list: for each bucket, the edge rows written by
    the last batch that touched it (empty recomputes included — the
    sidecar row exists even when no edge rows do, so capped buckets
    stay empty instead of resurrecting stale edges)."""
    troot = os.path.join(state_dir, "touched")
    eroot = os.path.join(state_dir, "edges")
    touched = _read_dirs(spark, state_dirs(troot))
    edges = _read_dirs(spark, state_dirs(eroot))
    if touched is None or edges is None:
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, rnk int, score double"
        )
    latest = touched.groupBy("bucket").agg(F.max("__batch").alias("__batch"))
    return edges.join(latest, ["bucket", "__batch"]).select(
        "vec_id", "neighbor_id", "rnk", "score"
    )
