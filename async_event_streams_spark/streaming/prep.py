"""Streaming twin of the x_prep_pipeline composition (queries/llm.py):
quality gate → benchmark decontamination → leakage-aware cluster
split, maintained incrementally as documents arrive, with the same
manifest (stage funnel + per-split totals) derivable at any wave.

The batch pipeline's stages have three different streaming shapes:

- QUALITY is stateless per document: evaluated once at arrival, never
  revisited.
- DECONTAMINATION is RETROACTIVE but MONOTONE: a training document
  contaminated by a benchmark 4-gram stays contaminated forever, and
  new bench docs can only ADD hits. So the hit set maintains
  incrementally with two slim joins per micro-batch — new pool grams
  against the accumulated bench-gram set, and accumulated pool grams
  against just the batch's NEW bench grams — never old×old again.
- CLUSTER SPLIT labels can change when a late near-dup merges two
  clusters, so labels are not stored at all: the pair graph is the
  state (new verified pairs per batch — a pair always involves at
  least one new document, so pair discovery is new×all within the
  new docs' band buckets, never a full recompute), and the snapshot
  derives labels with log-round connected components over the
  accumulated pair list (pair-graph-sized, not corpus-sized).

State layout (batch-versioned parquet, replay-safe batch=N overwrite —
the knn/ann discipline; doc_ids must be unique across the stream, the
documents-table contract):

- raw/batch=N    : (doc_id, n_chars) every arrival (a_input stage)
- pool/batch=N   : (doc_id, source, n_chars, is_bench) quality
                   survivors (b_quality / c_train_pool stages)
- bench/batch=N  : (g) this batch's new bench-doc 4-gram digests
- pgrams/batch=N : (doc_id, g) 4-gram digests of this batch's
                   TRAIN-POOL survivors
- hits/batch=N   : (doc_id) pool docs newly contaminated at batch N
- bands/batch=N  : (doc_id, band_idx, band_key) minhash LSH bands of
                   ALL arrivals (clusters span the full corpus, the
                   batch pipeline's contract)
- sh/batch=N     : (doc_id, sh) distinct shingle sets for Jaccard
                   verification
- pairs/batch=N  : (doc_a, doc_b) newly VERIFIED near-dup pairs

Stream==batch caveat (shared with streaming near-dedup, documented
there first): the batch build drops LSH buckets above the flood cap
over the FULL corpus, while the stream applies the cap to the bucket's
occupancy at pair-generation time — a bucket that crosses the cap
mid-stream keeps its earlier pairs. On flood-free corpora (all test
corpora here) the two are exactly equal; under a flood the stream is a
superset, one-sided by construction.

Constants are imported from the registered query (queries/llm.py), so
stream and batch agree bit-for-bit; `tests/test_streaming_prep.py` asserts
the snapshot equals the batch twin after every wave, across a
full-chain restart, and against the registered x_prep_pipeline itself
once the whole documents table has been published.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import connected_components
from ..functions.text import (
    minhash_component,
    shingle_digests,
    shingles,
    tokens,
)
from ..pipelines import quality_filter
from ..queries.llm import (
    _DECON_K as DECON_K,
    _DECON_MOD as DECON_MOD,
    _LSH_BUCKET_CAP as LSH_BUCKET_CAP,
    _SPLIT_CASE as SPLIT_CASE,
    _SPLIT_SEED as SPLIT_SEED,
    _VERIFY_THRESHOLD as VERIFY_THRESHOLD,
)
from ..util import cap_buckets, materialize
from .state import reject_partitioned_source, reject_stale_state, state_dirs

_ROOTS = ("raw", "pool", "bench", "pgrams", "hits", "bands", "sh", "pairs")


def _read_dirs(spark: SparkSession, dirs: list[str]) -> DataFrame | None:
    return spark.read.parquet(*dirs) if dirs else None


def _decon_grams(df: DataFrame) -> DataFrame:
    """(doc_id, g): md5 digests of the doc's word 4-grams — the exact
    x_prep_pipeline gram kernel."""
    return df.select(
        "doc_id", tokens(F.col("text")).alias("__t")
    ).select(
        "doc_id",
        F.explode(
            F.transform(shingles(F.col("__t"), k=DECON_K), F.md5)
        ).alias("g"),
    )


def _minhash_bands(df: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key): the exact x_dedup_minhash band
    construction (4 hashes, 2 bands of 2)."""
    dg = df.select(
        "doc_id",
        shingle_digests(shingles(tokens(F.col("text")))).alias("hs"),
    )
    sig = dg.select(
        "doc_id",
        *[minhash_component(F.col("hs"), k).alias(f"h{k}") for k in range(4)],
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_idx"),
                    F.concat("h0", "h1").alias("band_key"),
                ),
                F.struct(
                    F.lit(1).alias("band_idx"),
                    F.concat("h2", "h3").alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")


def prep_pipeline_pipe(
    source,
    state_dir: str,
    decon_mod: int = DECON_MOD,
    name: str = "prep-pipeline",
):
    """Maintain the prep-pipeline state over a stream of documents
    (doc_id, source, n_chars, text). Returns the PipeHandle."""
    from ..topics.pipe import pipe

    reject_partitioned_source(source, "prep_pipeline_pipe")
    roots = {r: os.path.join(state_dir, r) for r in _ROOTS}
    for d in roots.values():
        os.makedirs(d, exist_ok=True)

    def _write(df: DataFrame, root: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(roots[root], f"batch={batch_id}")
        )

    def index_batch(df, batch_id: int):
        spark = df.sparkSession
        reject_stale_state(roots["raw"], batch_id, "prep_pipeline_pipe")
        nv = materialize(df.select("doc_id", "source", "n_chars", "text"))
        _write(nv.select("doc_id", "n_chars"), "raw", batch_id)
        is_bench = F.col("doc_id") % decon_mod == 0
        # stateless quality gate, evaluated once at arrival
        q = materialize(
            quality_filter(nv)
            .select("doc_id", "source", "n_chars", "text")
            .withColumn("is_bench", is_bench)
        )
        _write(q.select("doc_id", "source", "n_chars", "is_bench"), "pool", batch_id)
        # bench grams come from RAW bench docs (benchmark registration
        # is independent of training-side filters — the batch contract)
        bench_new = materialize(
            _decon_grams(nv.filter(is_bench)).select("g").distinct()
        )
        _write(bench_new, "bench", batch_id)
        pg_new = materialize(_decon_grams(q.filter(~F.col("is_bench"))))
        _write(pg_new, "pgrams", batch_id)
        # monotone contamination: new-pool×all-bench + all-pool×new-bench
        bench_prior = _read_dirs(spark, state_dirs(roots["bench"], batch_id))
        bench_all = (
            bench_new
            if bench_prior is None
            else bench_prior.unionByName(bench_new).distinct()
        )
        hits_new = pg_new.join(F.broadcast(bench_all), "g", "left_semi").select(
            "doc_id"
        )
        pg_prior = _read_dirs(spark, state_dirs(roots["pgrams"], batch_id))
        if pg_prior is not None:
            hits_new = hits_new.unionByName(
                pg_prior.join(F.broadcast(bench_new), "g", "left_semi").select(
                    "doc_id"
                )
            )
        _write(hits_new.distinct(), "hits", batch_id)
        # pair state over ALL raw arrivals (clusters span the corpus)
        bands_new = materialize(_minhash_bands(nv))
        _write(bands_new, "bands", batch_id)
        sh_new = nv.select(
            "doc_id",
            F.array_distinct(shingles(tokens(F.col("text")))).alias("sh"),
        )
        _write(sh_new, "sh", batch_id)
        bands_prior = _read_dirs(spark, state_dirs(roots["bands"], batch_id))
        bands_all = (
            bands_new
            if bands_prior is None
            else bands_prior.unionByName(bands_new)
        )
        touched = bands_new.select("band_idx", "band_key").distinct()
        member = cap_buckets(
            bands_all.join(F.broadcast(touched), ["band_idx", "band_key"]),
            ["band_idx", "band_key"],
            LSH_BUCKET_CAP,
        )
        a = bands_new.select(
            F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
        )
        b = member.select(
            F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
        )
        # a pair always involves >=1 new doc; canonical lo<hi order
        cand = (
            a.join(b, ["band_idx", "band_key"])
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .distinct()
        )
        sh_all = _read_dirs(spark, state_dirs(roots["sh"], batch_id))
        sh_all = sh_new if sh_all is None else sh_all.unionByName(sh_new)
        sa = sh_all.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
        sb = sh_all.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
        inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
        union = F.size("sha") + F.size("shb") - inter
        pairs_new = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(
                F.round(inter.cast("double") / union, 6) >= VERIFY_THRESHOLD
            )
            .select("doc_a", "doc_b")
        )
        # dedupe against prior pairs: both-old pairs can't reappear,
        # but an old-new pair found via two bands in DIFFERENT batches
        # cannot happen either (discovery is pinned to the newer doc's
        # batch) — so pairs_new is disjoint from prior state already.
        _write(pairs_new, "pairs", batch_id)
        return pairs_new

    return pipe(source, fn=index_batch, sink_fn=lambda df, b: None, name=name)


def prep_manifest_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """The CURRENT manifest: the same (stage, n_docs, n_chars) rows the
    registered x_prep_pipeline emits, derived from the accumulated
    state — stage rows from slim stored frames, split labels from
    log-round connected components over the pair state."""
    roots = {r: os.path.join(state_dir, r) for r in _ROOTS}
    raw = _read_dirs(spark, state_dirs(roots["raw"]))
    empty = spark.createDataFrame(
        [], "stage string, n_docs long, n_chars long"
    )
    if raw is None:
        return empty
    pool = _read_dirs(spark, state_dirs(roots["pool"]))
    hits = _read_dirs(spark, state_dirs(roots["hits"]))
    pairs = _read_dirs(spark, state_dirs(roots["pairs"]))

    def stage_row(stage: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        ).select(F.lit(stage).alias("stage"), "n_docs", "n_chars")

    train = pool.filter(~F.col("is_bench"))
    hit_ids = (
        hits.distinct()
        if hits is not None
        else spark.createDataFrame([], "doc_id long")
    )
    clean = train.join(hit_ids, "doc_id", "left_anti")
    if pairs is not None and state_dirs(roots["pairs"]):
        labels, _ = connected_components(
            pairs.distinct(), src="doc_a", dst="doc_b"
        )
        labels = labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").cast("long").alias("canonical_id"),
        )
    else:
        labels = spark.createDataFrame([], "doc_id long, canonical_id long")
    sp = (
        clean.join(labels, "doc_id", "left")
        .select(
            "n_chars",
            F.md5(
                F.concat(
                    F.lit(SPLIT_SEED),
                    F.coalesce("canonical_id", "doc_id").cast("string"),
                ).cast("binary")
            )
            .substr(1, 1)
            .alias("__h"),
        )
        .select(
            F.concat(F.lit("split_"), F.expr(SPLIT_CASE)).alias("stage"),
            "n_chars",
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    out = stage_row("a_input", raw)
    for stage, df in (
        ("b_quality", pool),
        ("c_train_pool", train),
        ("d_decontaminated", clean),
    ):
        out = out.unionAll(stage_row(stage, df))
    return out.unionAll(sp)
