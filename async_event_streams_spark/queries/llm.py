"""LLM-training-data pipeline operators (driver mandate, SURVEY.md §2-C):
deduplication (exact, minhash/LSH, simhash, n-gram Jaccard), similarity
search (brute-force cosine + LSH-bucketed ANN), and text analysis
(language-ID, quality scoring, token stats, fingerprinting) over the
`documents` / `embeddings` tables.

Everything is built-in Spark expressions (higher-order array functions,
md5/sha2, window ranking) — no Python in the hot path — and every
operator except the multimodal plumbing has a DuckDB differential
oracle. md5-seeded hashing (functions/text.py) is what makes the sketch
operators (minhash, simhash, fingerprints) oracle-checkable across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.bpe import encode_vocab, sql_bpe_ctes
from ..functions.graph import connected_components
from ..functions.similarity import (
    cosine,
    dot,
    ivf_scores_sql,
    lsh_bucket,
    lsh_planes,
    pq_sub_scores_sql,
)
from ..functions.text import (
    minhash_component,
    shingle_digests,
    shingles,
    stopword_count,
    tokens,
)
from ..tables import table
from ..util import aqe_disabled, artifact, cap_buckets, materialize
from . import query

# DuckDB-side twins of functions/text.py (kept adjacent so any change to
# the tokenizer/shingler updates both engines together).
_SQL_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_SQL_SHINGLES = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


_SQL_DIGESTS = "list_transform(shingles, s -> md5(s))"


def _sql_shingles_k(k: int) -> str:
    """DuckDB twin of functions/text.py shingles() for arbitrary k
    (the module-level _SQL_SHINGLES is the k=3 instance)."""
    parts = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(k))
    return f"list_transform(range(1, len(toks) - {k - 2}), i -> {parts})"


def _sql_minhash(k: int) -> str:
    return (
        f"list_aggregate(list_transform(hs, d -> substr(d, {1 + 8 * k}, 8)), 'min')"
    )


# ---------------------------------------------------------------------------
# Dedup: exact
# ---------------------------------------------------------------------------


@query(
    "x_dedup_exact",
    oracle=(
        "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, "
        "COUNT(*) AS dup_count FROM documents GROUP BY md5(text)"
    ),
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the first (min id)
    occurrence. At scale this is one shuffle on a 32-byte hash instead of
    the full text — the standard content-addressed dedup plan."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup: MinHash + LSH banding
# ---------------------------------------------------------------------------

# Bucket-size guard: a degenerate band key (boilerplate text, dup-heavy
# corpus) otherwise yields quadratic candidate pairs — the round-1 100x
# probe measured 44.8x growth on the dup-heavy corpus. Buckets above the
# cap are dropped (their members are exact/boilerplate dups the exact
# pass owns); mirrored in the oracle so the check stays exact.
_LSH_BUCKET_CAP = 64

_MINHASH_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM t),
dg AS (SELECT doc_id, {_SQL_DIGESTS} AS hs FROM sh),
sig AS (SELECT doc_id,
  {_sql_minhash(0)} AS h0, {_sql_minhash(1)} AS h1,
  {_sql_minhash(2)} AS h2, {_sql_minhash(3)} AS h3
FROM dg),
bands_all AS (
  SELECT doc_id, 0 AS band_idx, h0 || h1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_idx, h2 || h3 AS band_key FROM sig
),
bands AS (
  SELECT doc_id, band_idx, band_key FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bsz
    FROM bands_all) WHERE bsz <= {_LSH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
"""


@query("x_dedup_minhash", oracle=_MINHASH_ORACLE)
def x_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash + LSH banding (shingle → minhash
    signature → band → bucket equi-join). 4 hashes, 2 bands of 2: docs
    collide in a band iff both its minhashes agree — P(candidate) ≈
    1-(1-J²)², so only genuinely similar docs pair up. The candidate join
    is an EQUI-join on band_key (shuffle/broadcast hash join), never an
    all-pairs comparison — this is the property that survives 100 TB.
    Buckets above _LSH_BUCKET_CAP are dropped before the join (degenerate
    boilerplate keys otherwise square the candidate set)."""
    docs = table(spark, sf_dir, "documents")
    dg = docs.select(
        "doc_id",
        shingle_digests(shingles(tokens(F.col("text")))).alias("hs"),
    )
    sig = dg.select(
        "doc_id",
        *[minhash_component(F.col("hs"), k).alias(f"h{k}") for k in range(4)],
    )
    bands = sig.select(
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
    # Pin the sketch FIRST: the cap's count pass and both self-join
    # branches all read the materialized signatures instead of
    # recomputing shingle digests per consumer. The capped band table is
    # a build-once artifact (like the IVF index): every consumer in the
    # dedup family — this query, the verified pipeline, cluster
    # assignment — probes the same materialized table.
    bands = artifact(
        spark,
        f"{sf_dir}:minhash_bands",
        lambda: cap_buckets(
            materialize(bands), ["band_idx", "band_key"], _LSH_BUCKET_CAP
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


_VERIFY_THRESHOLD = 0.8

_VERIFIED_ORACLE = f"""
WITH cand AS ({_MINHASH_ORACLE}),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t),
scored AS (
  SELECT cand.doc_a, cand.doc_b,
    ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
      / (len(a.sh) + len(b.sh)
         - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 6) AS jaccard
  FROM cand JOIN s a ON a.doc_id = cand.doc_a
            JOIN s b ON b.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {_VERIFY_THRESHOLD}
"""


def _cand_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify-stage pair table — every LSH candidate pair with its
    exact raw Jaccard — pinned build-once: a production pipeline
    materializes verified pairs once per corpus and every consumer
    (threshold dedup, windowed dedup, cluster graph, fuzzy decontam,
    the banding tuner) reads the table instead of re-running the band
    self-join + verification join."""

    def build() -> DataFrame:
        candidates = x_dedup_minhash(spark, sf_dir)
        docs = table(spark, sf_dir, "documents")
        s = artifact(
            spark,
            f"{sf_dir}:shingle_sets",
            lambda: docs.select(
                "doc_id",
                F.array_distinct(shingles(tokens(F.col("text")))).alias("sh"),
            ),
        )
        a = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
        b = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
        inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
        union = F.size("sha") + F.size("shb") - inter
        return (
            candidates.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                (inter.cast("double") / union).alias("s"),
            )
        )

    return artifact(spark, f"{sf_dir}:cand_jaccard", build)


@query("x_dedup_verified", oracle=_VERIFIED_ORACLE)
def x_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pipeline composed end-to-end:
    MinHash/LSH candidate generation (recall stage, equi-join) → exact
    3-gram Jaccard verification (precision stage) → threshold. The
    synthetic corpus contains both genuine near-dups (J≈0.99) and
    spurious band collisions (J≈0.01); the verify stage separates them.
    Verification cost is O(candidates), never O(n²) — and paid ONCE:
    the scored pair table is the pinned `cand_jaccard` artifact."""
    return (
        _cand_jaccard(spark, sf_dir)
        .select(
            "doc_a", "doc_b", F.round(F.col("s"), 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= _VERIFY_THRESHOLD)
    )


# Horizon-bounded near-dedup (batch twin of the r4 watermark-bounded
# streaming pipe): duplicates only count within an event-time window.
_WINDOWED_HORIZON_SEC = 120

_WINDOWED_ORACLE = f"""
WITH pairs AS ({_VERIFIED_ORACLE}),
d AS (SELECT doc_id, (doc_id * 37) % 997 AS et FROM documents),
drops AS (
  SELECT DISTINCT b.doc_id
  FROM pairs p
  JOIN d a ON a.doc_id = p.doc_a
  JOIN d b ON b.doc_id = p.doc_b
  WHERE ABS(b.et - a.et) <= {_WINDOWED_HORIZON_SEC}
)
SELECT d.doc_id, CAST(d.et AS BIGINT) AS et
FROM d LEFT JOIN drops ON d.doc_id = drops.doc_id
WHERE drops.doc_id IS NULL
"""


@query("x_dedup_windowed", oracle=_WINDOWED_ORACLE)
def x_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-bounded near-dedup — the BATCH TWIN of
    streaming/neardedup.py::windowed_minhash_dedup_pipe: a document is
    dropped iff a verified near-dup with a lower doc_id lies within an
    event-time horizon of it (a dropped doc still shadows later ones).
    Event time is a deterministic synthetic (doc_id*37 mod 997) so the
    DuckDB oracle replays it exactly; in production it is the document's
    ingest timestamp, and this horizon predicate is precisely what lets
    the streaming state stay bounded (SURVEY §9c item 3). Scale shape:
    candidate pairs are LSH-bounded (never all-pairs); the event-time
    lookups are slim doc_id-keyed equi-joins; the final anti-join keys
    on doc_id."""
    pairs = x_dedup_verified(spark, sf_dir).select("doc_a", "doc_b")
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("et", (F.col("doc_id") * 37 % 997).cast("long"))
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("et").alias("et_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("et").alias("et_b"))
    drops = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.abs(F.col("et_b") - F.col("et_a")) <= _WINDOWED_HORIZON_SEC)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return d.join(drops, "doc_id", "left_anti").select("doc_id", "et")


# ---------------------------------------------------------------------------
# Dedup: SimHash (32-bit, md5-derived token hashes)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32  # 4 bands x 8 bits: lossless for Hamming<=3, and 8-bit
# band keys keep buckets discriminative (16-bit fingerprints collapse a
# topically homogeneous corpus into quadratic buckets)


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        "SUM(CASE WHEN (th >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS s{k}".format(k=k)
        for k in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{k} >= 0 THEN {1 << k} ELSE 0 END)" for k in range(_SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), hashed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS th
  FROM tok
), bits AS (
  SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
"""


@query("x_dedup_simhash", oracle=_simhash_oracle())
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash: each token votes ±1 on each bit of its
    md5-derived hash; the fingerprint sets bit k iff the vote sum is
    non-negative. Near-dup docs land at small Hamming distance. Explode +
    single groupBy(doc_id) — one shuffle keyed by doc id."""
    return artifact(
        spark,
        f"{sf_dir}:simhash_fp",
        lambda: simhash_fingerprints(table(spark, sf_dir, "documents")),
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the 32-bit fingerprint kernel shared by
    x_dedup_simhash and the pair-generation query."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    th = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    hashed = tok.select("doc_id", th.alias("th"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), k).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{k}")
        for k in range(_SIMHASH_BITS)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for k in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{k}") >= 0, F.lit(1 << k)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Dedup: SimHash candidate pairs (banded Hamming join)
# ---------------------------------------------------------------------------

_SIMHASH_BANDS = 4  # 4 bands x 4 bits; Hamming<=3 => >=1 identical band
_SIMHASH_HAMMING_K = 3


def _simhash_pairs_oracle() -> str:
    band_w = _SIMHASH_BITS // _SIMHASH_BANDS
    return f"""
WITH fp AS ({_simhash_oracle()}),
bands_all AS (
  SELECT doc_id, simhash, b,
    (simhash >> (b * {band_w})) & {(1 << band_w) - 1} AS nib
  FROM fp CROSS JOIN (SELECT unnest(range({_SIMHASH_BANDS})) AS b)
), bands AS (
  SELECT doc_id, simhash, b, nib FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY b, nib) AS bsz FROM bands_all)
  WHERE bsz <= {_LSH_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b,
    a.simhash AS ha, x.simhash AS hb
  FROM bands a JOIN bands x ON a.b = x.b AND a.nib = x.nib
    AND a.doc_id < x.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_SIMHASH_HAMMING_K}
"""


@query("x_dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def x_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: band the 32-bit fingerprint into
    4 bytes and equi-join on (band, nibble) — by pigeonhole any pair at
    Hamming distance <= 3 shares at least one band, so the banded join is
    lossless for the k=3 verify. Verification is bit_count(a XOR b), all
    JVM-side. Never an all-pairs scan: candidates are bucket-local,
    buckets above _LSH_BUCKET_CAP are dropped (identical-fingerprint
    floods go quadratic otherwise), and a production build widens to
    64-bit fingerprints (same plan shape) so bucket occupancy stays
    sub-quadratic at corpus scale."""
    fp = artifact(
        spark,
        f"{sf_dir}:simhash_fp",
        lambda: simhash_fingerprints(table(spark, sf_dir, "documents")),
    )
    band_w = _SIMHASH_BITS // _SIMHASH_BANDS
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_w)
                .bitwiseAND(F.lit((1 << band_w) - 1))
                .alias("nib"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    bands = fp.select("doc_id", "simhash", F.explode(band_keys).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.nib").alias("nib")
    )
    bands = cap_buckets(bands, ["band", "nib"], _LSH_BUCKET_CAP)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "nib"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "nib"
    )
    cand = (
        a.join(b, ["band", "nib"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= _SIMHASH_HAMMING_K
    )


# ---------------------------------------------------------------------------
# Dedup: connected components over the verified near-dup graph
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 15

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_VERIFIED_ORACLE}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT reach.doc_id, e.d FROM reach JOIN edges e ON e.s = reach.r
)
SELECT doc_id, CAST(MIN(r) AS BIGINT) AS canonical_id
FROM reach GROUP BY doc_id
"""


@query("x_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    verified near-dup pair graph, labeling every member with the
    cluster's minimum doc_id (the canonical copy a dedup pipeline
    keeps). Runs alternating large-star/small-star contraction
    (functions/graph.py): rounds scale with log(diameter) instead of
    diameter, so a chain-shaped cluster an adversarial corpus can
    produce costs O(log n) shuffle rounds, not O(n) — the r4 VERDICT
    scale-out item. Convergence is one (count, hash-sum) scalar probe
    per round; no rows reach the driver. The verified pair set is a
    build-once artifact (same memo discipline as the LSH band and IVF
    cell tables — a dedup pipeline builds its pair graph once per
    corpus and clusters it many times); pairs arrive unique with
    doc_a < doc_b, so input canonicalization skips its distinct."""
    pairs = artifact(
        spark,
        f"{sf_dir}:neardup_pairs",
        lambda: x_dedup_verified(spark, sf_dir).select("doc_a", "doc_b"),
    )
    labels, _rounds = connected_components(
        pairs,
        src="doc_a",
        dst="doc_b",
        max_iters=_CC_MAX_ITERS,
        dedup_input=False,
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").cast("long").alias("canonical_id"),
    )


_CLUSTER_SIZES_ORACLE = f"""
WITH clusters AS ({_CLUSTERS_ORACLE})
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM (
  SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY canonical_id
) GROUP BY cluster_size
"""


@query("x_cluster_sizes", oracle=_CLUSTER_SIZES_ORACLE)
def x_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the report a dedup
    pipeline publishes (how much of the corpus is duplicated, and in
    what shapes: many pairs vs a few megaclusters). Two slim partial
    aggregations over the CC labels: sizes per canonical, then a
    histogram of sizes. At 100 TB both shuffles carry one row per
    cluster / per distinct size."""
    labels = x_dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# ---------------------------------------------------------------------------
# Dedup: n-gram Jaccard (verification pass over neighboring docs)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
)
SELECT doc_a, doc_b,
  ROUND(CAST(len(list_filter(sha, x -> list_contains(shb, x))) AS DOUBLE)
    / (len(sha) + len(shb) - len(list_filter(sha, x -> list_contains(shb, x)))),
    6) AS jaccard
FROM pairs
"""


@query("x_dedup_jaccard", oracle=_JACCARD_ORACLE)
def x_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity between adjacent doc ids — the
    verification kernel that a production near-dup pipeline runs on LSH
    candidate pairs (here on a deterministic pair set so the oracle is
    stable). array_intersect/union sizes, all JVM-side."""
    docs = table(spark, sf_dir, "documents")
    s = artifact(
        spark,
        f"{sf_dir}:shingle_sets",
        lambda: docs.select(
            "doc_id",
            F.array_distinct(shingles(tokens(F.col("text")))).alias("sh"),
        ),
    )
    a = s.alias("a")
    b = s.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("shb"),
    ).alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("shb")))
    union = F.size(F.col("a.sh")) + F.size(F.col("shb")) - inter
    return (
        a.join(b, F.col("a.doc_id") == F.col("join_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


_CONTAINMENT_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
)
SELECT doc_a, doc_b,
  ROUND(CAST(len(list_filter(sha, x -> list_contains(shb, x))) AS DOUBLE)
    / len(sha), 6) AS containment
FROM pairs
"""


@query("x_containment", oracle=_CONTAINMENT_ORACLE)
def x_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT |A∩B| / |A| between adjacent doc ids — the
    asymmetric twin of Jaccard that catches sub-document duplication
    (a page quoted wholesale inside a bigger page scores high
    containment but low Jaccard, so Jaccard-only dedup misses it; cf.
    Broder's resemblance-vs-containment distinction). Same
    deterministic pair set and build-once shingle artifact as
    x_dedup_jaccard; all set math JVM-side."""
    docs = table(spark, sf_dir, "documents")
    s = artifact(
        spark,
        f"{sf_dir}:shingle_sets",
        lambda: docs.select(
            "doc_id",
            F.array_distinct(shingles(tokens(F.col("text")))).alias("sh"),
        ),
    )
    a = s.alias("a")
    b = s.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("shb"),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("shb")))
    return a.join(b, F.col("a.doc_id") == F.col("join_id")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("doc_b"),
        F.round(inter.cast("double") / F.size("a.sh"), 6).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k
# ---------------------------------------------------------------------------

_COSINE_SQL = (
    "list_dot_product(qe, ce) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))"
)

_COSINE_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL} AS score
  FROM q CROSS JOIN c WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY ROUND(score, 9) DESC, neighbor_id)
    AS INTEGER) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, ROUND(score, 6) AS score
FROM ranked WHERE rnk <= 5
"""


@query("x_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def x_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a query set (vec_id < 10): the exact
    baseline every ANN variant is measured against. The tiny query side
    broadcasts, so the 'cross' join is a map-side nested loop over the
    candidate partitions — no shuffle of the big side. Ranking keys are
    rounded to 9 dp so float noise can't flip neighbor order between
    engines; ties break on neighbor_id."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qe"), F.col("ce")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.row_number().over(w).alias("rnk"),
            F.round("score", 6).alias("score"),
        )
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# Similarity search: LSH-bucketed ANN (the scale path)
# ---------------------------------------------------------------------------

_N_PLANES = 8
_PLANES = lsh_planes(_N_PLANES, 64, seed=42)


def _ann_oracle() -> str:
    def plane_sql(p: int) -> str:
        vals = ", ".join(str(v) for v in _PLANES[p])
        return f"CAST([{vals}] AS DOUBLE[])"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane_sql(p)}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(_N_PLANES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), bucketed AS (
  SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM v
), q AS (
  SELECT vec_id AS query_id, e AS qe, bucket FROM bucketed WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    list_dot_product(qe, c.e) /
    (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e))) AS score
  FROM q JOIN bucketed c ON q.bucket = c.bucket AND c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY ROUND(score, 9) DESC, neighbor_id)
    AS INTEGER) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, ROUND(score, 6) AS score
FROM ranked WHERE rnk <= 5
"""


@query("x_ann_lsh", oracle=_ann_oracle())
def x_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via signed-random-projection LSH: vectors only
    compare within their 8-bit bucket, turning ANN into an equi-join on
    bucket id — the plan that scales (bucket count grows with planes, and
    AQE splits any hot bucket). Same deterministic planes embedded in the
    SQL oracle; recall vs x_cosine_topk is asserted in tests."""
    emb = table(spark, sf_dir, "embeddings")
    # The bucket table IS the LSH index — built once per dataset and
    # probed by every search (artifact memo, like the IVF cell index).
    bucketed = artifact(
        spark,
        f"{sf_dir}:ann_lsh_buckets",
        lambda: emb.select(
            "vec_id",
            F.col("embedding").alias("e"),
            lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"),
        ),
    )
    q = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("e")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.row_number().over(w).alias("rnk"),
            F.round("score", 6).alias("score"),
        )
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# Similarity search: IVF ANN (inverted-file cells, the other scale path)
# ---------------------------------------------------------------------------

_IVF_CENTROIDS: dict[str, list[list[float]]] = {}  # per-sf_dir memo
_IVF_K = 16  # coarse cells; at real scale K ~ sqrt(N), trained centroids
_IVF_PROBES = 4  # cells searched per query

# The built IVF index (materialized cell assignment) is a build-once/
# probe-many artifact: assignment embeds the K centroids as a large
# literal expression, and re-optimizing that tree on every lookup is
# rebuilding the index per query. It goes through util.artifact — one
# memo discipline (session pinning, stale-session eviction, LRU bound)
# instead of a hand-rolled dict (round-2 advice) — so the N-row scan +
# argmax runs once per dataset and every subsequent search starts from
# the pinned cell table, which is also what a cluster deployment does
# by writing the assignment to a table.


def _ivf_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
  SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_IVF_K}
), ascore AS (
  -- assignment metric: dot/||centroid|| — same argmax as full cosine
  -- (the query-vector norm is a positive per-row constant), but half
  -- the expression when unrolled against literal centroids
  SELECT v.vec_id, v.e, centroid_id,
    list_dot_product(e, ce) / sqrt(list_dot_product(ce, ce)) AS cs
  FROM v CROSS JOIN cent
), assigned AS (
  SELECT vec_id, e, centroid_id AS cell FROM (
    SELECT vec_id, e, centroid_id, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY ROUND(cs, 9) DESC, centroid_id) AS rn
    FROM ascore) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, e AS qe, centroid_id AS cell FROM (
    SELECT vec_id, e, centroid_id, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY ROUND(cs, 9) DESC, centroid_id) AS rn
    FROM ascore WHERE vec_id < 10) WHERE rn <= {_IVF_PROBES}
), scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
    list_dot_product(qe, c.e) /
    (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e))) AS score
  FROM probes p JOIN assigned c ON p.cell = c.cell AND c.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY ROUND(score, 9) DESC, neighbor_id)
    AS INTEGER) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, ROUND(score, 6) AS score
FROM ranked WHERE rnk <= 5
"""


def _ivf_centroids_for(v: DataFrame, sf_dir: str) -> list[list[float]]:
    """The deterministic coarse centroids (vec_id < _IVF_K), memoized
    per dataset — K tiny rows to the driver become plan literals."""
    cents = _IVF_CENTROIDS.get(sf_dir)
    if cents is None:
        cents = [
            list(r.e)
            for r in v.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id").collect()
        ]
        _IVF_CENTROIDS[sf_dir] = cents
    return cents


def ivf_assign(
    v: DataFrame,
    centroids: list[list[float]],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment computed IN THE SCAN: `ivf_cell`
    embeds the K centroids as plan literals and evaluates the rounded
    argmax per row, so assignment adds zero exchanges — the earlier
    max_by formulation still shuffled all N vectors (each with its
    embedding payload) to finalize groups that were already map-local.
    round_dp=9 reproduces the oracle's ROW_NUMBER tie-break
    (ROUND(cs,9) DESC, centroid_id ASC). The score array is bound in
    its own projection so the argmax doesn't duplicate the K*dim
    expression (see ivf_scores_sql). Audited exchange-free by
    tests/test_plans.py."""
    return (
        v.withColumn(
            "_s",
            F.expr(
                ivf_scores_sql("e", centroids, round_dp=9, assume_double=True)
            ),
        )
        .select(
            "vec_id",
            "e",
            *keep,
            F.expr("CAST(array_position(_s, array_max(_s)) - 1 AS INT)").alias(
                "cell"
            ),
        )
    )


@query("x_ann_ivf", oracle=_ivf_oracle())
def x_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an inverted file: every vector is assigned
    to its nearest of K coarse centroids (one broadcast pass — K rows
    against N, no shuffle of the big side), a query probes its
    `_IVF_PROBES` nearest cells, and candidate scoring is an equi-join
    on cell id. This is the IVF shape at scale: assignment and search
    are both broadcast/equi-join plans, the candidate set shrinks by
    ~K/probes, and a hot cell is just a skewed join key AQE splits.
    Centroids here are taken deterministically (vec_id < K) so the
    DuckDB oracle can replay the exact cells; a production build would
    k-means them — the plan shape is identical. Cells are disjoint, so
    probed candidates never duplicate. Rounding/tie discipline matches
    x_cosine_topk (9 dp, neighbor_id ties)."""
    emb = table(spark, sf_dir, "embeddings")
    # One array-level cast at the scan (mirroring the oracle's
    # CAST(embedding AS DOUBLE[]) CTE) so the unrolled assignment terms
    # skip dim*K per-element CAST nodes.
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # K tiny rows to the driver (pushed-down vec_id < K scan) become
    # plan literals; at scale this is the same shape as shipping trained
    # k-means centroids into the plan (train_ivf_centroids). Memoized
    # per dataset: centroids are a deterministic function of sf_dir.
    cents = _ivf_centroids_for(v, sf_dir)
    assigned = artifact(spark, f"{sf_dir}:ivf_cells", lambda: ivf_assign(v, cents))
    cent = v.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("cs"), 9).desc(), F.col("centroid_id")
    )
    probes = (
        v.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "e",
            "centroid_id",
            (dot(F.col("e"), F.col("ce")) / F.sqrt(dot(F.col("ce"), F.col("ce")))).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= _IVF_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("centroid_id").alias("cell"),
        )
    )
    scored = assigned.join(
        F.broadcast(probes),
        (assigned.cell == probes.cell) & (assigned.vec_id != probes.query_id),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qe"), F.col("e")).alias("score"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.row_number().over(w_rank).alias("rnk"),
            F.round("score", 6).alias("score"),
        )
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# Similarity search: product quantization (the memory/IO scale path)
# ---------------------------------------------------------------------------

# PQ splits each vector into M subspaces and stores only the id of the
# nearest sub-centroid per subspace: 64 doubles (512 B) become 4 small
# codes — at 100 TB this is what lets candidate scoring read a
# ~64x-compressed table. K=16 codes per subspace; codebooks are
# deterministic (sub-slices of vec_id < K) so the DuckDB oracle replays
# the exact codes; production would k-means each subspace.
_PQ_M = 4
_PQ_SUB = 16  # dims per subspace (M * SUB = embedding dim 64)
_PQ_K = 16

_PQ_CODEBOOKS: dict[str, list] = {}


def _pq_slice(col_sql: str, j: int) -> str:
    a = _PQ_SUB * j + 1
    return f"list_slice({col_sql}, {a}, {a + _PQ_SUB - 1})"


def _pq_oracle() -> str:
    encs = []
    for j in range(_PQ_M):
        qs, cs = _pq_slice("v.e", j), _pq_slice("cb.ce", j)
        encs.append(
            f"""enc{j} AS (
  SELECT vec_id, cid AS c{j} FROM (
    SELECT v.vec_id, cb.cid, ROW_NUMBER() OVER (PARTITION BY v.vec_id
      ORDER BY ROUND(list_dot_product({qs}, {cs})
        / sqrt(list_dot_product({cs}, {cs})), 9) DESC, cb.cid) AS rn
    FROM v CROSS JOIN cb) WHERE rn = 1
)"""
        )
    enc_join = " JOIN ".join(
        ["enc0"] + [f"enc{j} USING (vec_id)" for j in range(1, _PQ_M)]
    )
    num = " + ".join(
        f"list_dot_product({_pq_slice('q.e', j)}, {_pq_slice(f'b{j}.ce', j)})"
        for j in range(_PQ_M)
    )
    den2 = " + ".join(
        f"list_dot_product({_pq_slice(f'b{j}.ce', j)}, {_pq_slice(f'b{j}.ce', j)})"
        for j in range(_PQ_M)
    )
    cb_joins = " ".join(
        f"JOIN cb b{j} ON b{j}.cid = enc.c{j}" for j in range(_PQ_M)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cb AS (
  SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_PQ_K}
), {", ".join(encs)},
enc AS (SELECT * FROM {enc_join}),
scored AS (
  SELECT q.vec_id AS query_id, enc.vec_id AS neighbor_id,
    ({num}) / (sqrt(list_dot_product(q.e, q.e)) * sqrt({den2})) AS score
  FROM (SELECT * FROM v WHERE vec_id < 10) q
  CROSS JOIN enc {cb_joins}
  WHERE enc.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY ROUND(score, 9) DESC, neighbor_id)
    AS INTEGER) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, ROUND(score, 6) AS score
FROM ranked WHERE rnk <= 5
"""


def _pq_codebooks_for(v: DataFrame, sf_dir: str) -> list:
    """Deterministic per-subspace codebooks (sub-slices of the
    vec_id < _PQ_K rows), memoized per dataset."""
    cbs = _PQ_CODEBOOKS.get(sf_dir)
    if cbs is None:
        full = [
            list(r.e)
            for r in v.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
        ]
        cbs = [
            [c[_PQ_SUB * j : _PQ_SUB * (j + 1)] for c in full]
            for j in range(_PQ_M)
        ]
        _PQ_CODEBOOKS[sf_dir] = cbs
    return cbs


def pq_encode(
    v: DataFrame, codebooks: list, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Vector -> M sub-codes, each an IN-SCAN argmax over that
    subspace's K sub-centroids (pq_sub_scores_sql literals with offset
    indexing — no slice() materialization, no join, no exchange: the
    N-row side never shuffles to be encoded, exactly like ivf_assign).
    Each score array binds in its own projection so the argmax doesn't
    duplicate the K*sub_dim expression. `keep` names extra input
    columns to carry through (e.g. ("e",) for the streaming index,
    which stores vectors beside codes for retraining) — still in the
    same scan, never a join."""
    out = v
    sub_dim = len(codebooks[0][0])
    for j, cb in enumerate(codebooks):
        arr = pq_sub_scores_sql(
            "e", cb, offset=sub_dim * j, round_dp=9, assume_double=True
        )
        out = (
            out.withColumn(f"_s{j}", F.expr(arr))
            .withColumn(
                f"c{j}",
                F.expr(
                    f"CAST(array_position(_s{j}, array_max(_s{j})) - 1 AS INT)"
                ),
            )
            .drop(f"_s{j}")
        )
    return out.select(
        "vec_id", *keep, *[f"c{j}" for j in range(len(codebooks))]
    )


@query("x_ann_pq", oracle=_pq_oracle())
def x_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization with asymmetric
    distance: candidates are scored from their M codes alone —
    sum of dot(query-subspace, sub-centroid) over the reconstruction,
    normalized by the query norm and the reconstruction norm — so the
    scoring scan reads a ~64x-compressed table (codes, not vectors).
    Plan shape at scale: encoding is an in-scan argmax per subspace
    (zero exchanges, plan-asserted); scoring is the 10-row broadcast
    query set against the code table with M broadcast-hash joins to
    the K-row codebook (the LUT realized as tiny joins); only slim
    (query_id, neighbor_id, score) rows reach the top-k. Deterministic
    codebooks (vec_id < K sub-slices) let DuckDB replay the exact
    codes; tie/rounding discipline matches x_ann_ivf."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cbs = _pq_codebooks_for(v, sf_dir)
    codes = artifact(spark, f"{sf_dir}:pq_codes", lambda: pq_encode(v, cbs))
    cb_rows = v.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), "e"
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    scored = codes.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    num = None
    den2 = None
    for j in range(_PQ_M):
        cbj = cb_rows.select(
            F.col("cid").alias(f"c{j}"),
            F.slice("e", _PQ_SUB * j + 1, _PQ_SUB).alias(f"ce{j}"),
        )
        scored = scored.join(F.broadcast(cbj), f"c{j}")
        qs = F.slice("qe", _PQ_SUB * j + 1, _PQ_SUB)
        term = dot(qs, F.col(f"ce{j}"))
        n2 = dot(F.col(f"ce{j}"), F.col(f"ce{j}"))
        num = term if num is None else num + term
        den2 = n2 if den2 is None else den2 + n2
    scored = scored.withColumn(
        "score", num / (F.sqrt(dot(F.col("qe"), F.col("qe"))) * F.sqrt(den2))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "score",
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# Similarity search: IVF x PQ (the composed 10^9-vector architecture)
# ---------------------------------------------------------------------------

# Shortlist re-ranked exactly after ADC scoring. PQ quantization erases
# intra-cluster detail, so the raw ADC order within the probed cells is
# noisy — the standard deployment ADC-scores the compressed codes to a
# shortlist and re-reads only those few full vectors.
_IVFPQ_SHORT = 20


def _ivfpq_oracle() -> str:
    encs = []
    for j in range(_PQ_M):
        qs, cs = _pq_slice("v.e", j), _pq_slice("cb.ce", j)
        encs.append(
            f"""enc{j} AS (
  SELECT vec_id, cid AS c{j} FROM (
    SELECT v.vec_id, cb.cid, ROW_NUMBER() OVER (PARTITION BY v.vec_id
      ORDER BY ROUND(list_dot_product({qs}, {cs})
        / sqrt(list_dot_product({cs}, {cs})), 9) DESC, cb.cid) AS rn
    FROM v CROSS JOIN cb) WHERE rn = 1
)"""
        )
    enc_join = " JOIN ".join(
        ["enc0"] + [f"enc{j} USING (vec_id)" for j in range(1, _PQ_M)]
    )
    num = " + ".join(
        f"list_dot_product({_pq_slice('p.qe', j)}, {_pq_slice(f'b{j}.ce', j)})"
        for j in range(_PQ_M)
    )
    den2 = " + ".join(
        f"list_dot_product({_pq_slice(f'b{j}.ce', j)}, {_pq_slice(f'b{j}.ce', j)})"
        for j in range(_PQ_M)
    )
    cb_joins = " ".join(
        f"JOIN cb b{j} ON b{j}.cid = idx.c{j}" for j in range(_PQ_M)
    )
    idx_codes = ", ".join(f"enc.c{j}" for j in range(_PQ_M))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
  SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_IVF_K}
), ascore AS (
  SELECT v.vec_id, v.e, centroid_id,
    list_dot_product(e, ce) / sqrt(list_dot_product(ce, ce)) AS cs
  FROM v CROSS JOIN cent
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, centroid_id AS cell, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY ROUND(cs, 9) DESC, centroid_id) AS rn
    FROM ascore) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, e AS qe, centroid_id AS cell FROM (
    SELECT vec_id, e, centroid_id, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY ROUND(cs, 9) DESC, centroid_id) AS rn
    FROM ascore WHERE vec_id < 10) WHERE rn <= {_IVF_PROBES}
), cb AS (
  SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_PQ_K}
), {", ".join(encs)},
enc AS (SELECT * FROM {enc_join}),
idx AS (
  SELECT a.vec_id, a.cell, {idx_codes}
  FROM assigned a JOIN enc ON enc.vec_id = a.vec_id
), adc AS (
  SELECT p.query_id, idx.vec_id AS neighbor_id,
    ({num}) / (sqrt(list_dot_product(p.qe, p.qe)) * sqrt({den2})) AS ascore
  FROM probes p
  JOIN idx ON idx.cell = p.cell AND idx.vec_id <> p.query_id
  {cb_joins}
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY ROUND(ascore, 9) DESC, neighbor_id) AS srn
    FROM adc) WHERE srn <= {_IVFPQ_SHORT}
), exact AS (
  SELECT s.query_id, s.neighbor_id,
    list_dot_product(q.e, n.e) /
    (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))) AS score
  FROM short s
  JOIN v q ON q.vec_id = s.query_id
  JOIN v n ON n.vec_id = s.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY ROUND(score, 9) DESC, neighbor_id)
    AS INTEGER) AS rnk
  FROM exact
)
SELECT query_id, neighbor_id, rnk, ROUND(score, 6) AS score
FROM ranked WHERE rnk <= 5
"""


def ivfpq_encode(
    v: DataFrame,
    centroids: list[list[float]],
    codebooks: list,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """One scan -> (vec_id, cell, c0..cM-1): the IVF coarse cell AND
    the M PQ sub-codes, every argmax an in-scan literal expression
    (ivf_scores_sql / pq_sub_scores_sql) — the N-row side is never
    exchanged to be indexed, same contract as ivf_assign/pq_encode and
    plan-asserted in tests/test_plans.py. M and the subspace width are
    DERIVED from `codebooks` (like pq_encode) so retrained codebooks
    of any geometry encode consistently; `keep` passes input columns
    through to the output."""
    out = (
        v.withColumn(
            "_sc",
            F.expr(
                ivf_scores_sql("e", centroids, round_dp=9, assume_double=True)
            ),
        )
        .withColumn(
            "cell",
            F.expr("CAST(array_position(_sc, array_max(_sc)) - 1 AS INT)"),
        )
        .drop("_sc")
    )
    sub_dim = len(codebooks[0][0])
    for j, cb in enumerate(codebooks):
        arr = pq_sub_scores_sql(
            "e", cb, offset=sub_dim * j, round_dp=9, assume_double=True
        )
        out = (
            out.withColumn(f"_s{j}", F.expr(arr))
            .withColumn(
                f"c{j}",
                F.expr(
                    f"CAST(array_position(_s{j}, array_max(_s{j})) - 1 AS INT)"
                ),
            )
            .drop(f"_s{j}")
        )
    return out.select(
        "vec_id", *keep, "cell", *[f"c{j}" for j in range(len(codebooks))]
    )


@query("x_ann_ivfpq", oracle=_ivfpq_oracle())
def x_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deployable 10^9-vector ANN architecture, composed end to
    end: IVF restricts WHICH vectors are considered (probe the
    query's nearest cells), PQ codes decide HOW candidates are scored
    (asymmetric distance over a ~64x-compressed code table), and an
    exact re-rank of the ADC shortlist recovers the precision
    quantization erased. Neither index alone deploys at that scale:
    IVF-with-full-vectors still reads fat rows per probed cell; PQ
    alone still scans every code. Plan shape: the index (cell + M
    codes per vector) is ONE in-scan pass (zero exchanges,
    plan-asserted); search broadcasts the probe set against the code
    table restricted to probed cells, ADC-scores via M broadcast
    codebook joins, shortlists top-{_IVFPQ_SHORT} per query, and only
    the shortlist's few full vectors are re-read for exact scoring.
    Deterministic centroids/codebooks (vec_id < K) keep the DuckDB
    oracle replayable; the trained path is gated in
    tests/test_ann_recall.py. Tie/rounding discipline matches
    x_ann_ivf/x_ann_pq (9 dp ranking keys, neighbor_id ties)."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cents = _ivf_centroids_for(v, sf_dir)
    cbs = _pq_codebooks_for(v, sf_dir)
    index = artifact(
        spark, f"{sf_dir}:ivfpq_index", lambda: ivfpq_encode(v, cents, cbs)
    )
    cent = v.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("cs"), 9).desc(), F.col("centroid_id")
    )
    probes = (
        v.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "e",
            "centroid_id",
            (dot(F.col("e"), F.col("ce")) / F.sqrt(dot(F.col("ce"), F.col("ce")))).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVF_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("centroid_id").alias("cell"),
        )
    )
    scored = index.join(
        F.broadcast(probes),
        (index.cell == probes.cell) & (index.vec_id != probes.query_id),
    )
    cb_full = v.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), "e"
    )
    num = None
    den2 = None
    for j in range(_PQ_M):
        cbj = cb_full.select(
            F.col("cid").alias(f"c{j}"),
            F.slice("e", _PQ_SUB * j + 1, _PQ_SUB).alias(f"ce{j}"),
        )
        scored = scored.join(F.broadcast(cbj), f"c{j}")
        qs = F.slice("qe", _PQ_SUB * j + 1, _PQ_SUB)
        term = dot(qs, F.col(f"ce{j}"))
        n2 = dot(F.col(f"ce{j}"), F.col(f"ce{j}"))
        num = term if num is None else num + term
        den2 = n2 if den2 is None else den2 + n2
    adc = scored.withColumn(
        "ascore", num / (F.sqrt(dot(F.col("qe"), F.col("qe"))) * F.sqrt(den2))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.round(F.col("ascore"), 9).desc(), F.col("vec_id")
    )
    short = (
        adc.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= _IVFPQ_SHORT)
        .select("query_id", "qe", F.col("vec_id").alias("neighbor_id"))
    )
    # Exact re-rank: only _IVFPQ_SHORT * |queries| full vectors are
    # re-read — the broadcast side is the shortlist, never the corpus.
    exact = F.broadcast(short).join(
        v, short.neighbor_id == v.vec_id
    ).select(
        "query_id", "neighbor_id", cosine(F.col("qe"), F.col("e")).alias("score")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# Dedup: embedding-cosine near-duplicates (LSH-bucketed)
# ---------------------------------------------------------------------------

_ND_MAX_PLANES = 32  # baked lattice; Spark uses the first P(N) of them
_ND_PLANES = lsh_planes(_ND_MAX_PLANES, 64, seed=43)
_ND_BASE_PLANES = 10  # floor: 1024 buckets (the pre-r11 constant)
_ND_TARGET_OCC = 16  # mean bucket occupancy the adaptive count holds


def _nd_nplanes(n: int) -> int:
    """Corpus-adaptive signed-projection count: P = clamp(10..32,
    ceil(log2(n/16))). Doubling buckets with the corpus pins mean
    occupancy near _ND_TARGET_OCC, so sum(|bucket|^2) — the candidate
    pair count — grows ~linearly instead of quadratically (the sf1
    bench measured 16.6x at the 10x step on the fixed 10-plane
    lattice). Exact powers of two are FP-exact in log2 on both
    engines, so the CEIL boundary cannot diverge; lsh_planes generates
    plane p identically regardless of how many follow, so P <= 10
    corpora (every sf the driver ships) keep their pre-r11 buckets
    bit-for-bit."""
    import math

    if n < 2:
        return _ND_BASE_PLANES
    return max(
        _ND_BASE_PLANES,
        min(_ND_MAX_PLANES, math.ceil(math.log2(n / _ND_TARGET_OCC))),
    )
_ND_THRESHOLD = 0.3  # synthetic vectors are near-orthogonal; this yields
# a small non-empty pair set at sf>=0.01 so the differential check
# actually exercises pair emission (a real corpus would use ~0.9)


def _emb_bucket_cte() -> str:
    """Shared DuckDB CTE: capped LSH buckets over the embeddings table
    (names v / b_all / b). Single source of truth for every query that
    stands on the shared `emb_lsh_buckets` artifact — the planes, the
    bucket arithmetic and the cap MUST agree across those queries
    because artifact() is first-run-wins on one memo key."""

    def plane_sql(p: int) -> str:
        vals = ", ".join(str(v) for v in _ND_PLANES[p])
        return f"CAST([{vals}] AS DOUBLE[])"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane_sql(p)}) >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(len(_ND_PLANES))
    )
    # P = the corpus-adaptive plane count (_nd_nplanes, same clamp);
    # the full {_ND_MAX_PLANES}-bit bucket modulo 2^P equals the
    # first-P-bits bucket Spark builds (higher bits are multiples of
    # 2^P), so both engines land in identical buckets at any corpus
    # size.
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), np AS (
  SELECT GREATEST({_ND_BASE_PLANES}, LEAST({_ND_MAX_PLANES},
    CAST(CEIL(LOG2(CAST(GREATEST(2, (SELECT COUNT(*) FROM v)) AS DOUBLE)
      / {_ND_TARGET_OCC})) AS INT))) AS p
), b_all AS (
  SELECT vec_id, e,
    CAST(({bucket}) % (CAST(1 AS BIGINT) << (SELECT p FROM np))
      AS BIGINT) AS bucket
  FROM v
), b AS (
  SELECT vec_id, e, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bsz FROM b_all)
  WHERE bsz <= {_LSH_BUCKET_CAP}
)"""


def _emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _emb_bucket_cte: the capped-bucket table as a
    build-once artifact shared by x_dedup_embedding and x_knn_graph.

    Two r11 scale levers, both caught by the true-sf1 bench:
    - `nrm` (the vector's L2 norm) is computed ONCE here instead of
      once per candidate pair downstream — pair cosine becomes
      dot/(nrm_a*nrm_b), float-identical to cosine() (same op order)
      but 1 array fold per pair instead of 3.
    - the plane count is corpus-adaptive (`_nd_nplanes`): bucket count
      doubles with the corpus so mean occupancy — and the bucket-local
      pair budget, the QUADRATIC term that grew 16.6x at the 10x data
      step — stays ~flat. Spark evaluates only the first P planes; the
      oracle evaluates all {_ND_MAX_PLANES} and masks with % (1<<P),
      which is the same number (bit p contributes a multiple of 2^P
      for p >= P)."""
    emb = table(spark, sf_dir, "embeddings")

    def build() -> DataFrame:
        n = emb.count()  # 1-row aggregate, bounded
        planes = _ND_PLANES[: _nd_nplanes(n)]
        e = F.col("embedding")
        bucketed = emb.select(
            "vec_id",
            e.alias("e"),
            F.sqrt(dot(e, e)).alias("nrm"),
            lsh_bucket(e, planes).alias("bucket"),
        )
        return cap_buckets(materialize(bucketed), ["bucket"], _LSH_BUCKET_CAP)

    return artifact(spark, f"{sf_dir}:emb_lsh_buckets", build)


def _embdup_oracle() -> str:
    return f"""
{_emb_bucket_cte()}, pairs AS (
  SELECT a.vec_id AS vec_a, x.vec_id AS vec_b,
    list_dot_product(a.e, x.e) /
    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(x.e, x.e))) AS score
  FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
)
SELECT vec_a, vec_b, ROUND(score, 6) AS score
FROM pairs WHERE ROUND(score, 6) >= {_ND_THRESHOLD}
"""


@query("x_dedup_embedding", oracle=_embdup_oracle())
def x_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH bucketing (10 signed
    projections → 1024 buckets) turns the quadratic all-pairs scan into
    a bucket-local self-equi-join; candidates above the cosine threshold
    survive. Threshold filters on the ROUNDED score so the cross-engine
    comparison can't flip on a 1e-12 boundary. Buckets above
    _LSH_BUCKET_CAP are dropped (identical-vector floods go quadratic
    otherwise — exact dedup owns those)."""
    b = _emb_lsh_buckets(spark, sf_dir)
    a = b.alias("a")
    x = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nrm_b"),
        F.col("bucket").alias("bucket_b"),
    ).alias("x")
    # dot/(nrm_a*nrm_b) == cosine() bit-for-bit (identical op order);
    # the norms ride the pinned artifact, so each pair pays ONE array
    # fold instead of three (the dominant cost at sf1: 195k pairs)
    score = F.round(
        dot(F.col("a.e"), F.col("eb"))
        / (F.col("a.nrm") * F.col("nrm_b")),
        6,
    )
    return (
        a.join(
            x,
            (F.col("a.bucket") == F.col("bucket_b"))
            & (F.col("a.vec_id") < F.col("vec_b")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            "vec_b",
            score.alias("score"),
        )
        .filter(F.col("score") >= _ND_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Dedup: semantic (SemDeDup-style cluster-then-prune over embeddings)
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.3  # synthetic vectors are near-orthogonal (see
# _ND_THRESHOLD); a real corpus would use ~0.9+
# SemDeDup wants MANY SMALL clusters (cluster size ~ hundreds): the
# within-cluster pair count is sum(|cell|^2)/2, so K is the quadratic
# lever — K=16 over 50k vectors measured 4.5 s (78M in-cell pairs) vs
# ~0.6 s at K=128, and at 10^9 vectors K scales with n to hold the
# per-cell pair budget flat.
_SEM_K = 128
# Sub-bucket occupancy target: past _SEM_K*16 vectors the cell is
# refined by P corpus-adaptive LSH sub-buckets (P = 0 below that, so
# every sf the driver ships keeps pure-centroid cells bit-for-bit).
_SEM_SUB_OCC = 16


def _sem_nsub(n: int) -> int:
    """Corpus-adaptive sub-bucket bit count for the SemDeDup prune:
    clamp(0..32, ceil(log2(n / (K*16)))). The K centroid literals stay
    plan-size-bounded while the CELL COUNT — the quadratic lever the
    r11 sf1 bench caught at 76.5x growth — scales with the corpus:
    pair budget ~ n / (K * 2^P) per hierarchical cell. Production
    replaces level 1 with trained k-means (x_ann_ivf_trained's
    machinery); the two-level shape is the same."""
    import math

    if n < 2:
        return 0
    return max(
        0,
        min(32, math.ceil(math.log2(n / (_SEM_K * _SEM_SUB_OCC)))),
    )


_SEM_CENTROIDS: dict[str, list[list[float]]] = {}


def _sem_centroids_for(v: DataFrame, sf_dir: str) -> list[list[float]]:
    cents = _SEM_CENTROIDS.get(sf_dir)
    if cents is None:
        cents = [
            list(r.e)
            for r in v.filter(F.col("vec_id") < _SEM_K).orderBy("vec_id").collect()
        ]
        _SEM_CENTROIDS[sf_dir] = cents
    return cents


def _semantic_oracle() -> str:
    def plane_sql(p: int) -> str:
        vals = ", ".join(str(v) for v in _ND_PLANES[p])
        return f"CAST([{vals}] AS DOUBLE[])"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane_sql(p)}) >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(len(_ND_PLANES))
    )
    # P mirrors _sem_nsub: 0 below K*16 vectors (sub = 0 everywhere —
    # pure centroid cells, the pre-r11 semantics), then doubling
    # sub-buckets with the corpus; the full-lattice bucket % (1<<P)
    # equals Spark's first-P-bits bucket.
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), np AS (
  SELECT GREATEST(0, LEAST(32,
    CAST(CEIL(LOG2(CAST(GREATEST(2, (SELECT COUNT(*) FROM v)) AS DOUBLE)
      / {_SEM_K * _SEM_SUB_OCC})) AS INT))) AS p
), cent AS (
  SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_SEM_K}
), ascore AS (
  SELECT v.vec_id, v.e, centroid_id,
    list_dot_product(e, ce) / sqrt(list_dot_product(ce, ce)) AS cs
  FROM v CROSS JOIN cent
), assigned AS (
  SELECT vec_id, e, centroid_id AS cell,
    CAST(({bucket}) % (CAST(1 AS BIGINT) << (SELECT p FROM np))
      AS BIGINT) AS sub
  FROM (
    SELECT vec_id, e, centroid_id, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY ROUND(cs, 9) DESC, centroid_id) AS rn
    FROM ascore) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e) /
    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
    6) >= {_SEM_THRESHOLD}
)
SELECT v.vec_id, assigned.cell
FROM v JOIN assigned USING (vec_id)
LEFT JOIN dropped ON v.vec_id = dropped.vec_id
WHERE dropped.vec_id IS NULL
"""


@query("x_dedup_semantic", oracle=_semantic_oracle())
def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then prune near-duplicates WITHIN each cluster —
    semantic dedup reduced to k-means + a cluster-local self-join, the
    scalable alternative to corpus-wide all-pairs cosine. Here the
    coarse clustering is the deterministic IVF assignment (in-scan
    argmax, zero exchange — same cells, same oracle replayability as
    x_ann_ivf; production trains the centroids with distributed
    k-means), the within-cluster prune keeps the lowest vec_id of each
    near-dup pair, and survivors carry their cell id. Cluster-local
    pairing bounds the join: candidates per cell ~ (n/K)^2, not n^2,
    and a hot cell is a skewed join key AQE splits.

    r11 scale levers (the true-sf1 bench measured this lane at 76.5x
    growth on the 10x data step — the quadratic within-cell pair count
    under a FIXED K): the cell is now HIERARCHICAL — level 1 the K
    centroid argmax (plan-literal, in-scan, K bounded for plan size),
    level 2 a corpus-adaptive LSH sub-bucket (`_sem_nsub`: 0 bits
    below K*16 vectors, so small corpora keep pure-centroid cells
    bit-for-bit, then doubling with the corpus) — and the pair cosine
    rides norms pinned in the artifact (one array fold per pair, not
    three; float-identical to cosine()). Measured at sf1: 52 s -> ~3 s
    warm. Production trains level 1 with distributed k-means
    (x_kmeans); the two-level shape is unchanged."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cents = _sem_centroids_for(v, sf_dir)

    def build() -> DataFrame:
        sub_bits = _sem_nsub(v.count())  # 1-row aggregate, bounded
        enriched = v.select(
            "vec_id",
            "e",
            F.sqrt(dot(F.col("e"), F.col("e"))).alias("nrm"),
            lsh_bucket(F.col("e"), _ND_PLANES[:sub_bits]).alias("sub"),
        )
        return ivf_assign(enriched, cents, keep=("nrm", "sub"))

    assigned = artifact(spark, f"{sf_dir}:sem_cells", build)
    a = assigned.alias("a")
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nrm_b"),
        F.col("cell").alias("cell_b"),
        F.col("sub").alias("sub_b"),
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("cell_b"))
            & (F.col("a.sub") == F.col("sub_b"))
            & (F.col("a.vec_id") < F.col("vec_b")),
        )
        .filter(
            F.round(
                dot(F.col("a.e"), F.col("eb"))
                / (F.col("a.nrm") * F.col("nrm_b")),
                6,
            )
            >= _SEM_THRESHOLD
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )


# ---------------------------------------------------------------------------
# Text analysis: corpus stats, per-doc quality, language ID, fingerprints
# ---------------------------------------------------------------------------

_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _bpe_doc_tokens(
    spark: SparkSession, sf_dir: str, docs: DataFrame, *extra_cols: str
) -> DataFrame:
    """Per-doc REAL BPE token counts: explode words, encode each
    DISTINCT word once with the pretrained merge table
    (functions/bpe.py), broadcast the tiny word cache back onto the
    word stream, sum per doc. This is the production tokenizer-cache
    shape (Heaps' law: vocabulary ≪ corpus): the distinct-word
    aggregation and the per-doc sum are the only shuffles, both slim
    and partial-agg friendly; the 24 merge passes run |vocab| times,
    not |corpus| times. The encoded cache is a session ARTIFACT keyed
    on sf_dir — the several BPE consumers (token_count, bpe_tokens,
    pack_sequences, domain_mix) build it once and broadcast-reuse it,
    exactly how a production job ships one tokenizer to every
    executor."""
    # Empty words are excluded from the VOCAB by contract (pinned
    # inside encode_vocab/sql_bpe_ctes since r7): splitting an
    # empty/whitespace-only text yields word '' (Spark) and DuckDB's
    # list_reduce hard-errors on the empty char array it produces,
    # while Spark's seeded fold would count it as 1 token. Documents
    # that yield ZERO words still get a (0, 0) row (r6 ADVICE item 2 —
    # every consumer wants corpus-complete output: token_count emits a
    # row per document, pack_sequences packs every doc): the word
    # stream keeps the ''-word rows as placeholders and LEFT-joins the
    # cache, so the per-doc aggregation sees every doc and counts
    # conditionally — one broadcast join, one shuffle, NO
    # corpus-sized re-join of documents (which planned as a doc_id
    # SortMergeJoin and failed the broadcast-only plan audit).
    words = docs.select(
        "doc_id", *extra_cols, F.explode(tokens(F.col("text"))).alias("word")
    )
    enc = artifact(
        spark,
        f"{sf_dir}:bpe_vocab",
        lambda: encode_vocab(
            table(spark, sf_dir, "documents").select(
                F.explode(tokens(F.col("text"))).alias("word")
            )
        ),
    )
    return (
        words.join(F.broadcast(enc), "word", "left")
        .groupBy("doc_id", *extra_cols)
        .agg(
            F.count(F.when(F.length("word") > 0, 1))
            .cast("long")
            .alias("n_words"),
            F.coalesce(F.sum("bpe_len"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )


def _sql_bpe_doc_tokens(extra: str = "") -> str:
    """DuckDB twin of _bpe_doc_tokens as chained CTEs ending in
    `bpe_doc(doc_id{extra}, n_words, n_tokens)`; `extra` is a
    leading-comma column list (e.g. ", source, lang")."""
    return f"""w AS (SELECT doc_id{extra}, unnest({_SQL_TOKS}) AS word FROM documents),
vocab AS (SELECT DISTINCT word FROM w WHERE len(word) > 0),
{sql_bpe_ctes("vocab")},
bpe_doc AS (
  SELECT doc_id{extra},
    CAST(COUNT(CASE WHEN len(word) > 0 THEN 1 END) AS BIGINT) AS n_words,
    CAST(COALESCE(SUM(bpe_len), 0) AS BIGINT) AS n_tokens
  FROM w LEFT JOIN bpe_enc USING (word) GROUP BY doc_id{extra})"""


@query(
    "x_token_count",
    oracle=f"""
WITH w0 AS (
  SELECT doc_id,
    CAST(len({_SQL_TOKS}) AS INTEGER) AS ws_tokens,
    CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INTEGER) AS seg_tokens,
    CAST(length(text) AS INTEGER) AS n_chars,
    unnest({_SQL_TOKS}) AS word
  FROM documents
),
w AS (SELECT * FROM w0 WHERE len(word) > 0),
vocab AS (SELECT DISTINCT word FROM w),
{{BPE_CTES}}
SELECT doc_id, ws_tokens, seg_tokens,
  CAST(SUM(bpe_len) AS INTEGER) AS bpe_tokens, n_chars
FROM w JOIN bpe_enc USING (word)
GROUP BY doc_id, ws_tokens, seg_tokens, n_chars
""".replace("{BPE_CTES}", sql_bpe_ctes("vocab")),
)
def x_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, the cheap regex
    pre-segmentation (letter runs / digit runs / single punctuation),
    and REAL BPE (pretrained merge table replayed by both engines —
    functions/bpe.py) so budgets match what a trainer's tokenizer
    actually sees. The per-row counters ride THROUGH the word explode
    as extra grouping keys instead of joining the corpus back to the
    per-doc BPE sums — one scan, one slim partial-agg shuffle, no
    doc_id re-shuffle join (the join shape probed 8.0× at 100×; this
    one 3×-ish like its siblings)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_RE)).alias("seg_tokens"),
        F.length("text").alias("n_chars"),
        "text",
    )
    return (
        _bpe_doc_tokens(spark, sf_dir, t, "ws_tokens", "seg_tokens", "n_chars")
        .select(
            "doc_id",
            "ws_tokens",
            "seg_tokens",
            F.col("n_tokens").cast("int").alias("bpe_tokens"),
            "n_chars",
        )
    )


# ---------------------------------------------------------------------------


@query(
    "x_bpe_tokens",
    oracle=f"""
WITH {_sql_bpe_doc_tokens()}
SELECT doc_id, n_words, n_tokens AS n_bpe_tokens,
  CASE WHEN n_words > 0
       THEN ROUND(CAST(n_tokens AS DOUBLE) / n_words, 6) END
    AS tokens_per_word
FROM bpe_doc
""",
)
def x_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document REAL BPE accounting: word and subword-token counts
    plus the fertility ratio (tokens per word — the statistic tokenizer
    evaluations report). Encoding replays the pretrained merge table
    (tools/train_bpe.py → functions/bpe.py) identically in both engines
    as rank-ordered left-to-right merge passes, equivalence to the
    canonical lowest-rank-first encoder property-tested in
    tests/test_bpe.py. Scale shape: encode once per DISTINCT word
    (vocabulary ≪ corpus), broadcast the word cache, one slim partial-
    agg shuffle per stage — the 24-pass fold never touches corpus-sized
    data. No reference analog (driver mandate extension)."""
    docs = table(spark, sf_dir, "documents")
    return _bpe_doc_tokens(spark, sf_dir, docs).select(
        "doc_id",
        "n_words",
        F.col("n_tokens").alias("n_bpe_tokens"),
        # guarded: a zero-word doc would make 0/0 NaN here but NULL in
        # DuckDB — pin NULL on both sides
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 6),
        ).alias("tokens_per_word"),
    )


# ---------------------------------------------------------------------------

_BPE_TRAIN_TOPK = 20


@query(
    "x_bpe_train_pairs",
    oracle=f"""
WITH w0 AS (SELECT unnest({_SQL_TOKS}) AS word FROM documents),
w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w0
      WHERE len(word) > 0 GROUP BY word),
c AS (SELECT n, regexp_extract_all(word, '(.)', 1) AS t FROM w),
p AS (SELECT n, unnest(list_transform(range(1, len(t)),
        i -> {{'l': t[i], 'r': t[i + 1]}})) AS pr FROM c),
agg AS (SELECT pr.l AS left_sym, pr.r AS right_sym,
        CAST(SUM(n) AS BIGINT) AS pair_count
        FROM p GROUP BY pr.l, pr.r)
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY pair_count DESC, left_sym, right_sym) AS INTEGER) AS rnk,
  left_sym, right_sym, pair_count
FROM agg ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {_BPE_TRAIN_TOPK}
""",
)
def x_bpe_train_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE tokenizer training, one round: word-frequency-
    weighted adjacent-symbol-pair counts over the corpus vocabulary,
    top-K merge candidates — the inner loop every BPE/WordPiece
    trainer iterates (the offline tools/train_bpe.py runs the full
    loop to produce functions/bpe.py's pretrained MERGES table; this
    query is that loop's scale-out step as a first-class operator).

    Scale shape (the tokenizer-training statement for 100 TB): the
    corpus collapses to its VOCABULARY with counts first (Heaps' law:
    |vocab| ≪ corpus — one slim word-count shuffle), so the
    char-pair explode and pair aggregation run over vocab-sized data;
    pair counts partial-aggregate map-side; the global top-K is a
    TakeOrdered(K), never a global sort. The final rank column is
    computed by a window over the ALREADY-LIMITED K rows (single
    task over K=20 rows — deliberately after the limit, so no
    corpus- or vocab-sized single-partition window ever exists).
    Determinism: counts are exact integers; ties break on the pair
    symbols themselves. No reference analog (driver mandate
    extension)."""
    vocab = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    t = F.regexp_extract_all(F.col("word"), F.lit("(.)"), F.lit(1))
    pairs = vocab.select(
        "n",
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda l, r: F.struct(l.alias("l"), r.alias("r")),
            )
        ).alias("pr"),
    )
    agg = pairs.groupBy(
        F.col("pr.l").alias("left_sym"), F.col("pr.r").alias("right_sym")
    ).agg(F.sum("n").cast("long").alias("pair_count"))
    top = agg.orderBy(
        F.col("pair_count").desc(), "left_sym", "right_sym"
    ).limit(_BPE_TRAIN_TOPK)
    w_rank = Window.orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
    return top.select(
        F.row_number().over(w_rank).cast("int").alias("rnk"),
        "left_sym",
        "right_sym",
        "pair_count",
    )


_BPE_MERGE_ROUNDS = 8


def _bpe_train_merges_oracle() -> str:
    """Unrolled BPE merge-training loop: v0 is the char-split weighted
    vocabulary; each round counts adjacent-symbol pairs, picks the
    argmax (count desc, then pair lexicographic — exact integer
    counts, so no float tie ever decides a merge), and applies the
    winning merge with the SAME left-to-right list_reduce fold the
    encoding twin uses (functions/bpe.sql_bpe_ctes), except the pair
    comes from the m{i} row instead of a baked-in literal. v{i} and
    m{i} are MATERIALIZED (each is referenced twice downstream — the
    kcenter/LPA inlining lesson)."""
    parts = [
        f"WITH w0 AS (SELECT unnest({_SQL_TOKS}) AS word FROM documents),\n"
        "w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w0\n"
        "      WHERE len(word) > 0 GROUP BY word),\n"
        "v0 AS MATERIALIZED "
        "(SELECT n, regexp_extract_all(word, '(.)', 1) AS t FROM w)"
    ]
    fold = (
        "string_split(list_reduce(t, (acc, x) -> CASE WHEN "
        "(acc = m.l OR ends_with(acc, chr(31) || m.l)) AND x = m.r "
        "THEN acc || m.r ELSE acc || chr(31) || x END), chr(31))"
    )
    for i in range(1, _BPE_MERGE_ROUNDS + 1):
        prev = f"v{i - 1}"
        parts.append(f""",
m{i} AS MATERIALIZED (
  SELECT pr.l AS l, pr.r AS r, CAST(SUM(n) AS BIGINT) AS c FROM
    (SELECT n, unnest(list_transform(range(1, len(t)),
       j -> {{'l': t[j], 'r': t[j + 1]}})) AS pr FROM {prev})
  GROUP BY pr.l, pr.r ORDER BY c DESC, pr.l, pr.r LIMIT 1),
v{i} AS MATERIALIZED (
  SELECT n, {fold} AS t FROM {prev}, m{i} m)""")
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS rnk, l AS left_sym, "
        f"r AS right_sym, c AS pair_count FROM m{i}"
        for i in range(1, _BPE_MERGE_ROUNDS + 1)
    )
    parts.append("\n" + rows)
    return "".join(parts)


@query("x_bpe_train_merges", oracle=_bpe_train_merges_oracle())
def x_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE tokenizer training, the FULL loop (K = 8 merge
    rounds): x_bpe_train_pairs is one round's candidate counts; this
    operator iterates the actual train step — count weighted adjacent
    symbol pairs over the vocabulary, adopt the argmax pair as the
    next merge rule, apply it to every word with the same
    left-to-right fold the ENCODING path uses (functions/bpe._one_pass
    — trainer and tokenizer provably share one merge semantics), and
    repeat on the rewritten vocabulary. Returns the learned merge
    table (rank, pair, count at adoption time) — the artifact a real
    tokenizer run ships (tools/train_bpe.py is this loop offline; the
    pretrained MERGES in functions/bpe.py were produced exactly so).

    Scale shape: the corpus collapses to its weighted VOCABULARY
    before anything iterates (Heaps' law — the only corpus-sized
    exchange); each round then runs pair-explode + map-side-combined
    partial agg + TakeOrdered(1) argmax over vocab-sized data, and
    the fold rewrite is a pure per-row projection. Driver traffic is
    ONE row per round (the adopted pair — the bounded-collect pattern
    x_kcenter_sample set); the char-split vocabulary v0 is pinned ONCE
    and each round re-applies the k adopted folds as chained in-codegen
    projections over it — the lineage is LINEAR (each round's frame is
    referenced once, by the next round), so there is no 2^K replay, and
    skipping the per-round re-pin drops K checkpoint write/read
    round-trips of the vocabulary per call (K^2/2 total fold
    re-applications, each a per-row array fold in codegen, traded for
    K disk round-trips of the same rows; measured 1.92 -> 1.81 s
    min-of-3 at sf0.1, identical merges). Determinism: integer counts,
    lexicographic tie-break,
    and the same fold on both engines (the oracle's list_reduce
    references the m{i} winner row — data-dependent merges, no baked
    literals)."""
    vocab = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cur = materialize(
        vocab.select(
            "n",
            F.regexp_extract_all(F.col("word"), F.lit("(.)"), F.lit(1)).alias(
                "toks"
            ),
        )
    )
    # Force the corpus-sized vocab build NOW, with AQE still on; the K
    # argmax rounds below are tiny bounded jobs over the pinned vocab,
    # where AQE's per-stage re-planning only adds latency (the
    # x_kcenter_sample precedent, r6; measured here 3.0 -> 2.4 s
    # min-of-3 at sf0.1).
    cur.count()
    with aqe_disabled(spark):
        return _bpe_merge_rounds(spark, cur)


def _bpe_merge_rounds(spark: SparkSession, cur: DataFrame) -> DataFrame:
    from ..functions.bpe import _one_pass

    merges = []
    for k in range(_BPE_MERGE_ROUNDS):
        t = F.col("toks")
        pairs = cur.select(
            "n",
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                )
            ).alias("pr"),
        )
        top = (
            pairs.groupBy(
                F.col("pr.l").alias("l"), F.col("pr.r").alias("r")
            )
            .agg(F.sum("n").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:  # degenerate corpus: every word fully merged
            break
        l, r, c = top[0].l, top[0].r, top[0].c
        merges.append((k + 1, l, r, c))
        cur = cur.withColumn("toks", _one_pass(t, l, r))
    return spark.createDataFrame(
        merges, "rnk int, left_sym string, right_sym string, pair_count long"
    )


@query(
    "x_length_percentiles",
    oracle=f"""
WITH t AS (
  SELECT source, len({_SQL_TOKS}) AS n_tokens FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
  ROUND(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
  ROUND(quantile_cont(n_tokens, 0.99), 4) AS p99_tokens
FROM t GROUP BY source
""",
)
def x_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution (p50/p90/p99 of
    whitespace token counts) — the corpus report that drives sequence
    budgeting and source weighting in a training pipeline. Exact
    percentiles interpolate over INTEGER token counts, so the
    (a + (b-a)*frac) arithmetic is bit-identical across engines (the
    c_agg_median discipline). At 100 TB the exact per-group percentile
    needs a per-group sort; approx_percentile is the scale path this is
    the reference answer for. One partial-agg shuffle on the handful of
    source keys."""
    docs = table(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text")))
    t = docs.select("source", n.alias("n_tokens"))
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.99)), 4).alias("p99_tokens"),
    )


@query(
    "x_dup_rate",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
  ROUND(1.0 - COUNT(DISTINCT md5(text)) / COUNT(*), 6) AS dup_rate
FROM documents
""",
)
def x_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication report: exact-duplicate rate by content hash
    — the one-row health metric a curation pipeline tracks per
    ingestion batch. count + count(distinct md5) is two partial-agg
    passes fused by Spark into a single expand-based aggregation; the
    rate divides two exact integers (engine-identical)."""
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
        F.round(
            1.0
            - F.countDistinct(F.md5(F.col("text").cast("binary")))
            / F.count("*"),
            6,
        ).alias("dup_rate"),
    )


@query(
    "x_text_stats",
    oracle=f"""
WITH t AS (
  SELECT lang, len({_SQL_TOKS}) AS n_tokens, length(text) AS n_chars
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  ROUND(AVG(n_tokens), 4) AS avg_tokens,
  ROUND(AVG(n_chars), 4) AS avg_chars
FROM t GROUP BY lang
""",
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Text analysis: TF-IDF top terms per document
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 3

_TFIDF_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
    ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf, CAST(ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
  FROM scored
)
SELECT doc_id, term, rnk, tfidf FROM ranked WHERE rnk <= {_TFIDF_TOPK}
"""


@query("x_tfidf_topterms", oracle=_TFIDF_ORACLE)
def x_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf — the keyword
    extraction a corpus-curation pipeline runs for topic balance checks.
    Two partial-aggregated shuffles (term frequency by (doc, term), doc
    frequency by term), a hash join back on term (Catalyst picks
    broadcast while the vocabulary is small, shuffle-hash beyond), a
    scalar doc count joined as a broadcast literal, and one per-doc
    window for the top-k. Scores are ROUNDed before ranking so the
    cross-engine comparison can't flip on a ulp; ties break on term."""
    docs = table(spark, sf_dir, "documents")
    # The TF matrix is a build-once artifact (a curation pipeline
    # materializes it and derives df/tf-idf/BM25 views from it) — and
    # pinning it means the doc-frequency branch reads the aggregated
    # matrix instead of re-exploding the corpus.
    tf = artifact(
        spark,
        f"{sf_dir}:tf_matrix",
        lambda: docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOPK)
        .select("doc_id", "term", "rnk", "tfidf")
    )


_STOPWORDS = ["the", "a", "and", "of", "to", "in"]
_PUNCT_RE = "[.,!?;:]"


@query(
    "x_text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  ROUND(CAST(length(text) AS DOUBLE) / len(toks), 4) AS avg_token_len,
  ROUND(CAST(len(list_filter(toks, x -> list_contains(
    {_STOPWORDS!r}, x))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
  ROUND(CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE)
    / length(text), 6) AS punct_ratio
FROM t
""",
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals (length / stopword / punctuation ratios) —
    the standard cheap filters before expensive LLM-data processing."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    n_tokens = F.size("toks")
    return t.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(F.length("text").cast("double") / n_tokens, 4).alias(
            "avg_token_len"
        ),
        F.round(
            stopword_count(F.col("toks"), _STOPWORDS).cast("double") / n_tokens, 6
        ).alias("stopword_ratio"),
        F.round(
            F.regexp_count("text", F.lit(_PUNCT_RE)).cast("double")
            / F.length("text"),
            6,
        ).alias("punct_ratio"),
    )


# Canonical home is functions/text.py (shared with the streaming
# lang-segments twin); aliased here so every existing query body and
# oracle builder reads the same object under its established name.
from ..functions.text import LEXICONS as _LEXICONS  # noqa: E402


def _lang_id_oracle() -> str:
    scores = ", ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({_LEXICONS[lg]!r}, x))) "
        f"AS INTEGER) AS score_{lg}"
        for lg in _LEXICONS
    )
    m = "GREATEST(" + ", ".join(f"score_{lg}" for lg in _LEXICONS) + ")"
    case = " ".join(
        f"WHEN score_{lg} = m THEN '{lg}'" for lg in _LEXICONS
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {scores} FROM t),
g AS (SELECT *, {m} AS m FROM s)
SELECT doc_id, score_en, score_de, score_es, score_fr,
  CASE WHEN m = 0 THEN 'unknown' {case} END AS pred_lang
FROM g
"""


@query("x_lang_id", oracle=_lang_id_oracle())
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of stopword-lexicon hits, fixed
    priority order for ties, 'unknown' when nothing matches. (A real LID
    model slots in behind the same argmax contract as a pandas UDF.)"""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    scored = t.select(
        "doc_id",
        *[
            stopword_count(F.col("toks"), lex).alias(f"score_{lg}")
            for lg, lex in _LEXICONS.items()
        ],
    )
    m = F.greatest(*[F.col(f"score_{lg}") for lg in _LEXICONS])
    pred = F.when(m == 0, F.lit("unknown"))
    for lg in _LEXICONS:
        pred = pred.when(F.col(f"score_{lg}") == m, F.lit(lg))
    return scored.select(
        "doc_id",
        "score_en",
        "score_de",
        "score_es",
        "score_fr",
        pred.alias("pred_lang"),
    )


def _lang_case_sql(prefix: str) -> str:
    return " ".join(
        f"WHEN {prefix}{lg} = m THEN '{lg}'" for lg in _LEXICONS
    )


_LANG_PRIO_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{lg}' THEN {i}" for i, lg in enumerate(_LEXICONS))
    + f" ELSE {len(_LEXICONS)} END"
)


def _lang_segments_oracle() -> str:
    sent_scores = ", ".join(
        "CAST(len(list_filter(regexp_split_to_array(trim(s), '\\s+'), "
        f"x -> list_contains({_LEXICONS[lg]!r}, x))) AS INTEGER) AS sc_{lg}"
        for lg in _LEXICONS
    )
    m = "GREATEST(" + ", ".join(f"sc_{lg}" for lg in _LEXICONS) + ")"
    return f"""
WITH t AS (
  SELECT doc_id,
    list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)) AS ss
  FROM documents
),
sent AS (
  SELECT doc_id, i, ss[i] AS s
  FROM t, unnest(range(1, len(ss) + 1)) AS u(i)
  WHERE ss[i] <> ''
),
sc AS (SELECT doc_id, i, {sent_scores} FROM sent),
sl AS (
  SELECT doc_id, i,
    CASE WHEN m = 0 THEN 'unknown' {_lang_case_sql("sc_")} END AS lang
  FROM (SELECT *, {m} AS m FROM sc)
),
seg AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_sentences,
    CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND lang <> prev
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
    CAST(COUNT(DISTINCT CASE WHEN lang <> 'unknown' THEN lang END)
      AS BIGINT) AS n_langs
  FROM (SELECT doc_id, lang,
          LAG(lang) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM sl)
  GROUP BY doc_id
),
cnts AS (
  SELECT doc_id, lang, COUNT(*) AS c,
    ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY COUNT(*) DESC, {_LANG_PRIO_SQL}) AS rn
  FROM sl GROUP BY doc_id, lang
)
SELECT s.doc_id, s.n_sentences, s.n_segments, c.lang AS primary_lang,
  CAST(((s.n_sentences - c.c) * 1000000) // s.n_sentences AS BIGINT)
    AS minority_ppm,
  s.n_langs >= 2 AS mixed
FROM seg s JOIN cnts c ON c.doc_id = s.doc_id AND c.rn = 1
"""


@query("x_lang_segments", oracle=_lang_segments_oracle())
def x_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch / language-contamination report — x_lang_id one
    level down: language ID per SENTENCE, consecutive same-language
    sentences collapsed to segments, and a per-doc mixing report
    (sentence count, segment count, majority language, minority
    sentence share in ppm, mixed flag). Per-DOC LID silently mislabels
    code-switched documents as their majority language; monolingual
    training corpora need the sentence-level contamination number to
    gate on (the same reason CCNet runs LID per paragraph). A real LID
    model slots in behind the same per-sentence argmax contract as a
    pandas UDF.

    Determinism: sentence split on the literal [.!?]+ regex, empties
    dropped; scores are exact stopword-hit counts; argmax ties break
    by the fixed lexicon order, zero-hit sentences are 'unknown' (a
    label, so an en→unknown→en doc counts 3 segments — interleaved
    junk is itself a signal); the primary language breaks count ties
    by the same order; minority_ppm is an integer DIV.

    Scale shape: the sentence explode is bounded per doc; scoring is a
    local higher-order filter against LITERAL lexicon arrays (no join,
    no broadcast, whole-stage codegen); the segment fold is one lag
    window PARTITIONED BY doc_id (bounded by a doc's sentence count —
    never a corpus-wide window) and the majority pick is a slim
    (doc, lang)-keyed count + per-doc top-1. Everything downstream of
    the explode is sentence-COUNT sized, not text sized.

    The kernel itself lives in streaming/langseg.py (ONE definition,
    shared with the streaming twin — reports maintained incrementally
    as documents arrive ride the identical construction, so stream ==
    batch by shared code, not by a copied twin)."""
    from ..streaming.langseg import lang_segment_report

    docs = table(spark, sf_dir, "documents")
    return lang_segment_report(docs.select("doc_id", "text"))


@query(
    "x_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, text, {_SQL_SHINGLES} AS shingles FROM t)
SELECT doc_id, md5(text) AS doc_md5,
  list_aggregate(list_transform(shingles, s -> md5(s)), 'min')
    AS min_shingle_hash,
  md5(substr(text, 1, 64)) AS prefix_hash
FROM s
""",
)
def x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-doc hash, winnowing-style min shingle
    hash (rolling-window representative), and prefix hash — the id set a
    dedup/provenance pipeline keys on."""
    docs = table(spark, sf_dir, "documents")
    sh = shingles(tokens(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5("text").alias("doc_md5"),
        F.array_min(F.transform(sh, F.md5)).alias("min_shingle_hash"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_hash"),
    )


# ---------------------------------------------------------------------------
# Chunking + sampling (training-data prep)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 20
_CHUNK_STRIDE = 15  # 5-token overlap


@query(
    "x_chunk_documents",
    oracle=f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
c AS (SELECT doc_id,
  list_transform(range(1, len(toks) + 1, {_CHUNK_STRIDE}),
    s -> array_to_string(list_slice(toks, s, s + {_CHUNK_TOKENS - 1}), ' '))
  AS chunks FROM t),
e AS (SELECT doc_id, chunks, unnest(range(1, len(chunks) + 1)) AS idx FROM c)
SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx, chunks[idx] AS chunk_text,
  CAST(len(regexp_split_to_array(chunks[idx], '\\s+')) AS INTEGER) AS n_tokens
FROM e
""",
)
def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (20 tokens, stride 15): the
    standard context-length prep for LLM training data. Chunks are
    built as one array column per doc (no row blowup until the final
    posexplode), all inside codegen."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_STRIDE))
    chunks = F.transform(
        starts,
        lambda s: F.concat_ws(" ", F.slice(toks, s, _CHUNK_TOKENS)),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("idx0", "chunk_text"))
        .select(
            "doc_id",
            (F.col("idx0") + 1).cast("int").alias("chunk_idx"),
            "chunk_text",
            F.size(F.split(F.col("chunk_text"), r"\s+")).alias("n_tokens"),
        )
    )


@query(
    "x_sample_systematic",
    oracle=(
        "WITH w AS (SELECT doc_id, lang, ROW_NUMBER() OVER "
        "(PARTITION BY lang ORDER BY doc_id) AS rn FROM documents) "
        "SELECT doc_id, lang FROM w WHERE rn % 10 = 1"
    ),
)
def x_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (systematic) sampling: every 10th doc
    per language stratum by doc_id order — reproducible across engines
    and runs, unlike RNG-based sampleBy, so eval sets stay pinned."""
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
        .select("doc_id", "lang")
    )


_STRAT_K = 50
# Knuth's multiplicative constant: a deterministic pseudo-shuffle both
# engines replay exactly with 64-bit integer arithmetic
_STRAT_HASH = "(doc_id * 2654435761) % 4294967296"

_STRAT_ORACLE = f"""
SELECT source, doc_id FROM (
  SELECT source, doc_id, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY {_STRAT_HASH}, doc_id) AS rn
  FROM documents
) WHERE rn <= {_STRAT_K}
"""


@query("x_sample_stratified", oracle=_STRAT_ORACLE)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-per-stratum sampling (k docs per source): the mixing
    primitive that builds balanced eval/train splits from a skewed
    corpus. Order within a stratum is a deterministic multiplicative
    hash of doc_id — a reproducible pseudo-shuffle (unlike RNG
    sampleBy), replayed exactly by the SQL oracle. Ranks come from
    `grouped_rank` (size-adaptive prefix-sum): strata are few, so a
    plain partitionBy(source) window would cap the sort at |sources|
    tasks at 100 TB — the ntile anti-pattern the r4 probe caught."""
    from ..functions.order import grouped_rank

    docs = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.expr(_STRAT_HASH).alias("h")
    )
    ranked = grouped_rank(
        docs, ["source"], ["h", "doc_id"], rank_col="rn"
    )
    return ranked.filter(F.col("rn") <= _STRAT_K).select("source", "doc_id")


# ---------------------------------------------------------------------------
# Multimodal: content-addressed ids over opaque binary payloads
# ---------------------------------------------------------------------------


@query(
    "x_multimodal_ids",
    oracle=(
        "SELECT doc_id, sha256(text) AS content_id, "
        "CAST(strlen(text) AS BIGINT) AS n_bytes, "
        "CAST(strlen(text) // 1024 AS BIGINT) AS chunk, "
        "'text' AS modality FROM documents"
    ),
)
def x_multimodal_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed identity for opaque payloads: sha256 id + byte
    size + storage chunk. `text` stands in for the binary column here;
    the real binary decode path (images/audio) lives in
    functions/multimodal.py as mapInPandas plumbing with a stubbed
    decoder (codec libs absent in this environment)."""
    docs = table(spark, sf_dir, "documents")
    nbytes = F.octet_length("text").cast("long")
    return docs.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("content_id"),
        nbytes.alias("n_bytes"),
        F.floor(nbytes / 1024).alias("chunk"),
        F.lit("text").alias("modality"),
    )


@query(
    "x_asset_dedup",
    oracle="""
SELECT content_id,
  CAST(COUNT(*) AS BIGINT) AS n_refs,
  CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
  CAST(MAX(n_bytes) AS BIGINT) AS n_bytes,
  CAST((COUNT(*) - 1) * MAX(n_bytes) AS BIGINT) AS reclaim_bytes
FROM (
  SELECT doc_id, sha256(text) AS content_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents)
GROUP BY content_id
""",
)
def x_asset_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document ASSET deduplication by content address — the
    multimodal counterpart of x_dedup_exact and the report every
    content-addressed media lake runs before garbage collection: group
    payloads by sha256, keep the min-doc_id canonical owner, count
    references, and price the reclaimable bytes ((n_refs-1) x size;
    identical content implies identical size, so MAX(n_bytes) is just
    the group's constant). Every asset gets a row (the x_dedup_exact
    convention — uniques carry reclaim_bytes 0), so the report doubles
    as the CAS catalog. `text` stands in for the binary column (the
    x_multimodal_ids convention; real decode lives behind
    functions/multimodal.py's stubbed codecs).

    Scale shape: ONE partial-agg shuffle keyed by the content hash —
    uniformly distributed by construction, so this is the rare
    corpus-keyed aggregation that CANNOT skew; the payload bytes never
    shuffle (the hash and length are computed in the scan projection).
    No reference analog (driver mandate extension)."""
    docs = table(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("content_id"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return (
        a.groupBy("content_id")
        .agg(
            F.count("*").cast("long").alias("n_refs"),
            F.min("doc_id").cast("long").alias("canonical_doc"),
            F.max("n_bytes").cast("long").alias("n_bytes"),
        )
        .select(
            "content_id",
            "n_refs",
            "canonical_doc",
            "n_bytes",
            ((F.col("n_refs") - 1) * F.col("n_bytes"))
            .cast("long")
            .alias("reclaim_bytes"),
        )
    )


@query(
    "x_frame_sample",
    oracle="""
WITH d AS (
  SELECT sha256(text) AS asset_id,
         octet_length(encode(text)) // 256 AS n_frames
  FROM documents
)
SELECT asset_id, CAST(i AS INTEGER) AS frame_index,
       CAST(256 AS BIGINT) AS n_bytes
FROM d CROSS JOIN (VALUES (0), (10), (20), (30)) t(i)
WHERE i < n_frames
""",
)
def x_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling as a first-class query: documents' text
    bytes stand in for video payloads (codec stubbed, fixed 256-byte
    frame stride), sampled every 10th frame capped at 4 — the 1→N
    mapInPandas fan-out from functions/multimodal.py. The oracle
    replays the arithmetic (which indices exist per payload length), so
    the differential pins the fan-out multiset exactly; the byte-slicing
    itself is unit-tested (payload content can't cross the SQL oracle
    boundary)."""
    from ..functions.multimodal import sample_frames, to_assets

    docs = table(spark, sf_dir, "documents")
    assets = to_assets(docs, "text", "video")
    frames = sample_frames(assets, every_n=10, max_frames=4, fake_codec=True)
    return frames.select("asset_id", "frame_index", "n_bytes")


# ---------------------------------------------------------------------------
# Multimodal: perceptual near-dup over asset feature bits
# ---------------------------------------------------------------------------

_PHASH_BYTES = 32  # sha256 digest bytes = the fake 32-patch thumbnail
_PHASH_BANDS = 4  # 4 bands x 8 bits; Hamming<=3 => >=1 identical band
_PHASH_HAMMING_K = 3

_ASSET_NEARDUP_ORACLE = f"""
WITH assets AS (SELECT DISTINCT sha256(text) AS asset_id FROM documents),
p AS (
  SELECT asset_id, i,
    CAST(('0x' || substr(asset_id, 2 * i + 1, 2))::UBIGINT AS BIGINT) AS pv
  FROM assets CROSS JOIN (SELECT unnest(range({_PHASH_BYTES})) AS i)
),
tot AS (SELECT asset_id, SUM(pv) AS tot FROM p GROUP BY asset_id),
fp AS (
  SELECT p.asset_id,
    CAST(SUM(CASE WHEN {_PHASH_BYTES} * pv >= tot
             THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS phash
  FROM p JOIN tot USING (asset_id) GROUP BY p.asset_id
),
bands_all AS (
  SELECT asset_id, phash, b, (phash >> (b * 8)) & 255 AS nib
  FROM fp CROSS JOIN (SELECT unnest(range({_PHASH_BANDS})) AS b)
),
bands AS (
  SELECT asset_id, phash, b, nib FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY b, nib) AS bsz FROM bands_all)
  WHERE bsz <= {_LSH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT a.asset_id AS asset_a, x.asset_id AS asset_b,
    bit_count(xor(a.phash, x.phash)) AS hamming
  FROM bands a JOIN bands x ON a.b = x.b AND a.nib = x.nib
    AND a.asset_id < x.asset_id
  WHERE bit_count(xor(a.phash, x.phash)) <= {_PHASH_HAMMING_K}
),
sym AS (
  SELECT asset_a AS asset_id, hamming FROM pairs
  UNION ALL SELECT asset_b, hamming FROM pairs
),
deg AS (
  SELECT asset_id, COUNT(*) AS n, MIN(hamming) AS mh FROM sym GROUP BY asset_id
)
SELECT f.asset_id, f.phash,
  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_neardups,
  CAST(d.mh AS INTEGER) AS min_hamming
FROM fp f LEFT JOIN deg d USING (asset_id)
"""


@query("x_asset_neardup", oracle=_ASSET_NEARDUP_ORACLE)
def x_asset_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL asset near-dup (r7 verdict's missing #3):
    `x_asset_dedup` catches only byte-identical payloads; re-encoded /
    resized copies need a similarity hash over decoded FEATURES. This
    is average-hash (the pHash family) run through the x_dedup_simhash
    banding discipline at the ASSET level: collapse documents to
    distinct content addresses first (the CAS frame — exact dups never
    multiply pair work), treat each asset's digest bytes as its
    32-patch thumbnail (the deterministic stand-in matching
    functions/multimodal.py's fake decode, which derives features from
    digest bytes because codec libs are absent here; with real codecs
    the same arithmetic runs on `decode_image`'s grayscale thumbnail),
    set bit i iff patch i >= the thumbnail mean (integer-exact:
    32*p_i >= sum(p)), band the 32-bit hash into 4 bytes, equi-join on
    (band, byte) — pigeonhole-lossless for Hamming <= 3 — and verify
    with bit_count(xor). Every asset gets a row (phash, near-dup
    degree, min Hamming), so the differential pins all 32 fingerprint
    bits per asset even at scale factors where no near-dup pair
    exists, and the output doubles as the perceptual index.

    Scale shape: one hash-keyed distinct (cannot skew), fingerprint
    arithmetic in the scan projection, the banded self-join is
    bucket-local and capped (never all-pairs, the x_dedup_simhash_pairs
    guard), degree rollup is a partial agg on asset_id. The fingerprint
    table is pinned once and feeds bands + the final left join."""
    docs = table(spark, sf_dir, "documents")
    assets = docs.select(
        F.sha2(F.col("text").cast("binary"), 256).alias("asset_id")
    ).distinct()
    # Extract the 32 patch bytes ONCE into an array and fold with
    # higher-order functions. The first shape built tot and every bit
    # term as scalar expression trees — after projection collapse each
    # of the 32 bit terms inlined the 32-conv total, ~1,000 substring+
    # conv evaluations per row and a codegen blowup that cost 4.7 s
    # WARM for 5,000 rows at sf0.1 (measured); this shape is 64 convs
    # + ~1k long adds per row and runs in ~0.2 s.
    arr = F.array(
        *[
            F.conv(F.substring(F.col("asset_id"), 2 * i + 1, 2), 16, 10).cast(
                "long"
            )
            for i in range(_PHASH_BYTES)
        ]
    )
    shifts = F.array(
        *[F.lit(1 << i).cast("long") for i in range(_PHASH_BYTES)]
    )
    # The artifact barrier between __tot and the bit fold is
    # load-bearing twice over: projection collapse would otherwise
    # inline the whole 32-conv total fold into the per-ELEMENT bit
    # lambda and rebuild the 1,000-evals-per-row tree; and the patch
    # table is the perceptual index — built once per dataset, probed
    # by every consumer (the x_dedup_simhash fingerprint discipline).
    patches = artifact(
        spark,
        f"{sf_dir}:asset_patches",
        lambda: assets.select(
            "asset_id",
            arr.alias("__arr"),
            F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "__tot"
            ),
        ),
    )
    bits = F.aggregate(
        F.zip_with(
            F.col("__arr"),
            shifts,
            lambda x, s: F.when(
                x * _PHASH_BYTES >= F.col("__tot"), s
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fp = patches.select("asset_id", bits.cast("long").alias("phash"))
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("phash"), b * 8)
                .bitwiseAND(F.lit(255))
                .alias("nib"),
            )
            for b in range(_PHASH_BANDS)
        ]
    )
    bands = fp.select("asset_id", "phash", F.explode(band_keys).alias("bk")).select(
        "asset_id", "phash", F.col("bk.band").alias("band"), F.col("bk.nib").alias("nib")
    )
    bands = cap_buckets(bands, ["band", "nib"], _LSH_BUCKET_CAP)
    a = bands.select(
        F.col("asset_id").alias("asset_a"), F.col("phash").alias("fa"), "band", "nib"
    )
    b = bands.select(
        F.col("asset_id").alias("asset_b"), F.col("phash").alias("fb"), "band", "nib"
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    pairs = (
        a.join(b, ["band", "nib"])
        .filter(F.col("asset_a") < F.col("asset_b"))
        .select("asset_a", "asset_b", "fa", "fb")
        .distinct()
        .select("asset_a", "asset_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_HAMMING_K)
    )
    sym = pairs.select(
        F.col("asset_a").alias("asset_id"), "hamming"
    ).unionByName(pairs.select(F.col("asset_b").alias("asset_id"), "hamming"))
    deg = sym.groupBy("asset_id").agg(
        F.count("*").cast("long").alias("n"),
        F.min("hamming").cast("int").alias("mh"),
    )
    return fp.join(deg, "asset_id", "left").select(
        "asset_id",
        "phash",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_neardups"),
        F.col("mh").alias("min_hamming"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: benchmark decontamination
# ---------------------------------------------------------------------------

# Deterministic pseudo-benchmark: every 97th doc plays the held-out eval
# set. A training doc is contaminated iff it shares at least one 4-gram
# with any benchmark doc (the n-gram-overlap rule used by LLM training
# pipelines to scrub eval leakage).
_DECON_MOD = 97
_DECON_K = 4

_DECON_FUZZY_ORACLE = f"""
WITH pairs AS ({_VERIFIED_ORACLE}),
fz_hits AS (
  SELECT DISTINCT CASE WHEN doc_a % {_DECON_MOD} = 0 THEN doc_b
                       ELSE doc_a END AS doc_id
  FROM pairs
  WHERE (doc_a % {_DECON_MOD} = 0) <> (doc_b % {_DECON_MOD} = 0)
)
SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM fz_hits) AS contaminated
FROM documents d WHERE d.doc_id % {_DECON_MOD} <> 0
"""


@query("x_decontaminate_fuzzy", oracle=_DECON_FUZZY_ORACLE)
def x_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: flag every training doc that is
    a verified NEAR-duplicate (exact 3-gram Jaccard ≥ 0.8 after
    MinHash/LSH candidate generation) of any benchmark doc — the
    complement of x_decontaminate's exact 4-gram firewall, catching
    lightly-edited eval contamination (reworded prompts, whitespace
    and punctuation drift) that shares few exact n-grams but high
    shingle overlap. The PaLM/GPT-style fuzzy-decontamination lane.

    Scale shape: rides the SAME verified-pair machinery as
    x_dedup_verified — banded LSH equi-joins with bucket caps for
    candidates, O(candidates) exact verification, never a
    corpus×benchmark product — then one membership split of the pair
    list by benchmark side and a broadcast anti/semi flag join onto
    the training docs. The pair list is corpus-pair-bounded, so the
    decontamination pass costs the same as the near-dedup pass it
    shares its artifact with. No reference analog (driver mandate
    extension)."""
    pairs = x_dedup_verified(spark, sf_dir)
    is_bench_a = F.col("doc_a") % _DECON_MOD == 0
    is_bench_b = F.col("doc_b") % _DECON_MOD == 0
    hits = (
        pairs.filter(is_bench_a != is_bench_b)
        .select(
            F.when(is_bench_a, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__hit", F.lit(False)).alias("contaminated"),
        )
    )


_DECON_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, md5(s) AS g FROM (
    SELECT doc_id, unnest({_sql_shingles_k(_DECON_K)}) AS s
    FROM t)
),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {_DECON_MOD} = 0),
train AS (SELECT doc_id, g FROM g WHERE doc_id % {_DECON_MOD} <> 0),
hits AS (
  SELECT DISTINCT t.doc_id FROM train t JOIN bench b ON t.g = b.g
)
SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM hits) AS contaminated
FROM documents d WHERE d.doc_id % {_DECON_MOD} <> 0
"""


def _gram4_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide 4-gram digest table (doc_id, g=md5(gram)) as ONE
    pinned build-once artifact shared by every k=4 gram consumer
    (x_decontaminate, x_prep_pipeline, and the bench blocklist they
    both broadcast). The tokenize + 3-pass zip_with shingle chain is
    the expensive part of all of them (~4.5 s/run at sf1, measured
    r13) and is a pure function of the corpus — at cluster scale this
    is the gram-index table a pipeline writes at corpus intake."""
    return artifact(
        spark,
        f"{sf_dir}:decon_gram4",
        lambda: table(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("__t"))
        .select(
            "doc_id",
            F.explode(
                F.transform(shingles(F.col("__t"), k=_DECON_K), F.md5)
            ).alias("g"),
        ),
    )


def _bench_gram_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark 4-gram blocklist (build-once: computed when the
    benchmark is registered, not per decontamination run); a cheap
    filter+distinct over the shared pinned gram table."""
    return artifact(
        spark,
        f"{sf_dir}:decon_bench_grams",
        lambda: _gram4_table(spark, sf_dir)
        .filter(F.col("doc_id") % _DECON_MOD == 0)
        .select("g")
        .distinct(),
    )


@query("x_decontaminate", oracle=_DECON_ORACLE)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training doc that shares a
    4-gram with the (deterministic) benchmark subset. Scale shape: the
    per-doc gram digests ride the shared PINNED corpus gram artifact
    (`_gram4_table` — built once per dataset, reused by every k=4
    consumer); the benchmark gram set is SMALL relative to the corpus,
    so it is BROADCAST to both the semi-join (which grams hit) and the
    final flag join — the full training side never shuffles; grams
    stay hashed (md5, 32 bytes) so the broadcast is compact."""
    docs = table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    bench = _bench_gram_set(spark, sf_dir)
    train = _gram4_table(spark, sf_dir).filter(~is_bench)
    hits = (
        train.join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(~is_bench)
        .join(
            F.broadcast(hits.withColumn("__hit", F.lit(True))), "doc_id", "left"
        )
        .select(
            "doc_id", F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated")
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

_REP_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS n_tokens,
    ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
      AS dup_token_ratio,
    {_sql_shingles_k(2)} AS grams
  FROM t
),
g AS (SELECT doc_id, unnest(grams) AS gram FROM base),
gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total FROM gc GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens, b.dup_token_ratio,
  ROUND(CAST(top.top_c AS DOUBLE) / top.total, 6) AS top_bigram_ratio
FROM base b JOIN top ON b.doc_id = top.doc_id
"""


@query("x_repetition", oracle=_REP_ORACLE)
def x_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction and the
    share of all bigrams taken by the single most frequent bigram —
    the standard cheap filters for template/spam text. dup_token_ratio
    is a pure per-row HOF expression; the top-bigram share uses
    explode → two partial-aggregating groupBys keyed by doc_id (NOT a
    per-doc nested-loop HOF, which evaluates interpreted O(n_grams²)
    per row), then joins back on doc_id."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    base = materialize(
        t.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.round(
                1.0
                - F.size(F.array_distinct("toks")).cast("double")
                / F.size("toks"),
                6,
            ).alias("dup_token_ratio"),
            shingles(F.col("toks"), k=2).alias("grams"),
        )
    )
    gc = (
        base.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("doc_id", "gram")
        .count()
    )
    top = gc.groupBy("doc_id").agg(
        F.max("count").alias("top_c"), F.sum("count").alias("total")
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_token_ratio",
        F.round(F.col("top_c").cast("double") / F.col("total"), 6).alias(
            "top_bigram_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: BM25 relevance scoring
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "data"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _eq_lit(value: str):
    """One-arg HOF predicate testing equality with a captured literal."""
    return lambda x: x == F.lit(value)


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    score_terms = " + ".join(
        f"""(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)
       * (tf_{i} * ({_BM25_K1} + 1.0))
       / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"""
        for i in range(len(_BM25_TERMS))
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH t AS (
  SELECT doc_id, len(toks) AS dl, {tf_cols}
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, {df_cols} FROM t
)
SELECT doc_id, ROUND({score_terms}, 6) AS bm25
FROM t CROSS JOIN stats
"""


@query("x_bm25", oracle=_bm25_oracle())
def x_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scoring of every document against a fixed query (k1=1.2,
    b=0.75). Corpus statistics (N, avgdl, per-term document frequency)
    reduce to ONE row broadcast back over the docs — the scoring pass
    itself is a pure per-row expression, so the plan is scan → tiny
    agg → broadcast nested-loop join → project: nothing big ever
    shuffles. Differential stability: the only aggregate feeding the
    score is AVG(dl) over INTEGER token counts, whose double sum is
    exact (< 2^53), so it is summation-order-independent as-is; the
    per-row score arithmetic is the same double expression tree in
    both engines."""
    docs = table(spark, sf_dir, "documents")
    t = materialize(
        docs.select(
            "doc_id",
            F.size(tokens(F.col("text"))).alias("dl"),
            # NB: the predicate must be a ONE-arg lambda — F.filter
            # treats a second parameter as the element index, silently
            # overriding a captured default.
            *[
                F.size(
                    F.filter(tokens(F.col("text")), _eq_lit(tm))
                ).alias(f"tf_{i}")
                for i, tm in enumerate(_BM25_TERMS)
            ],
        )
    )
    stats = t.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf_{i}")
        term = idf * (tf * (_BM25_K1 + 1.0)) / (
            tf
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = term if score is None else score + term
    return t.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.round(score, 6).alias("bm25")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: temperature-weighted language sampling
# ---------------------------------------------------------------------------

_TEMP_T = 2.0  # sampling temperature: rates ~ share^(1/T - 1), so rarer
# languages are kept at higher rates (the multilingual rebalancing rule)

_TEMP_ORACLE = f"""
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
tot AS (SELECT SUM(cnt) AS n FROM c),
r AS (
  SELECT lang, POW(CAST(cnt AS DOUBLE) / n, 1.0 / {_TEMP_T} - 1.0) AS raw
  FROM c CROSS JOIN tot
),
rates AS (
  SELECT lang, raw / (SELECT MAX(raw) FROM r) AS rate FROM r
),
u AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
      AS DOUBLE) / 4294967296.0 AS u
  FROM documents
)
SELECT u.doc_id, u.lang FROM u JOIN rates ON u.lang = rates.lang
WHERE u.u < rates.rate
"""


@query("x_sample_temperature", oracle=_TEMP_ORACLE)
def x_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language rebalancing: per-language keep-rate
    proportional to share^(1/T - 1) (T=2 upsamples rare languages),
    normalized so the rarest keeps everything, decided per-doc by a
    deterministic md5 coin — reproducible sampling with no RNG state.
    The language rate table is a few rows: computed with one tiny
    aggregate and BROADCAST back onto the corpus, so the big side is
    scan → hash-lookup → filter with no shuffle."""
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("cnt"))
    tot = c.agg(F.sum("cnt").alias("n"))
    r = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.pow(F.col("cnt").cast("double") / F.col("n"), 1.0 / _TEMP_T - 1.0).alias(
            "raw"
        ),
    )
    mx = r.agg(F.max("raw").alias("mx"))
    rates = r.crossJoin(F.broadcast(mx)).select(
        "lang", (F.col("raw") / F.col("mx")).alias("rate")
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        docs.withColumn("u", u)
        .join(F.broadcast(rates), "lang")
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: sequence packing (token-budget binning)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "x_pack_sequences",
    oracle=f"""
WITH {_sql_bpe_doc_tokens()},
c AS (
  SELECT doc_id, n_tokens,
    SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
  FROM bpe_doc
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(start // {_PACK_BUDGET} AS BIGINT) AS seq_id,
  CAST(start % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM c
""",
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contiguous sequence packing: documents in doc_id
    order fill fixed token budgets; each doc gets the sequence id and
    intra-sequence offset where it starts (docs may straddle a
    boundary — the packer that never pads more than the final
    sequence). Budgets count REAL BPE tokens (broadcast word cache,
    _bpe_doc_tokens) so a packed sequence holds what the trainer's
    tokenizer would emit, not a regex approximation. The global
    running sum is the scalable two-phase prefix-sum
    (functions/order.py) — range-partitioned local sums plus a
    broadcast per-partition offset table — NOT a single-partition
    SUM() OVER (ORDER BY ...), which is the classic plan that dies at
    100 TB."""
    from ..functions.order import global_running_sum

    docs = table(spark, sf_dir, "documents")
    t = _bpe_doc_tokens(spark, sf_dir, docs).select("doc_id", "n_tokens")
    c = global_running_sum(t, ["doc_id"], "n_tokens", "cum")
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        F.floor(start / _PACK_BUDGET).cast("long").alias("seq_id"),
        (start % _PACK_BUDGET).cast("long").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: unigram-LM quality score (perplexity proxy)
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS w FROM t),
vc AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
tot AS (SELECT SUM(c) AS n FROM vc),
s AS (
  SELECT w.doc_id,
    CAST(ROUND(-LOG2(CAST(vc.c AS DOUBLE) / tot.n) * 1e9) AS BIGINT)
      AS nanobits
  FROM w JOIN vc ON w.w = vc.w CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(nanobits) AS DOUBLE) / COUNT(*) / 1e9, 6) AS bits_per_token
FROM s GROUP BY doc_id
"""


def _unigram_doc_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned per-doc unigram-LM score frame (doc_id, n_tokens,
    bits_per_token) — the kernel behind x_unigram_logprob, shared by
    the CCNet-style bucketing consumer (x_ccnet_buckets) so the corpus
    tokenize/explode/score runs once per dataset, not once per
    consumer (the x_prep_pipeline gram-table lesson applied to the LM
    scorer). Slim output: |docs| rows × 3 columns."""

    def build():
        docs = table(spark, sf_dir, "documents")
        w = docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("w")
        )
        vc = w.groupBy("w").agg(F.count("*").alias("c"))
        tot = vc.agg(F.sum("c").alias("n"))
        probs = vc.crossJoin(F.broadcast(tot)).select(
            "w",
            F.round(-F.log2(F.col("c").cast("double") / F.col("n")) * 1e9)
            .cast("long")
            .alias("nanobits"),
        )
        n = F.count("*")
        return (
            w.join(F.broadcast(probs), "w")
            .groupBy("doc_id")
            .agg(
                n.cast("long").alias("n_tokens"),
                F.round(F.sum("nanobits").cast("double") / n / 1e9, 6).alias(
                    "bits_per_token"
                ),
            )
        )

    return artifact(spark, f"unigram_doc_bits:{sf_dir}", build)


@query("x_unigram_logprob", oracle=_UNIGRAM_ORACLE)
def x_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: fit corpus unigram probabilities in one
    pass, then score each doc by mean -log2 p(token) — the cheap
    perplexity proxy training pipelines use to rank/filter web text
    (docs of rare gibberish score high, templated boilerplate low).
    Scale shape (in _unigram_doc_bits, now a build-once pinned
    artifact shared with x_ccnet_buckets): the vocabulary table is
    tiny relative to the corpus (Heaps' law) and is BROADCAST onto the
    exploded token stream; the only shuffles move slim (token) and
    (doc_id, bits) rows — partial aggregation applies to both
    groupBys, and the corpus text column is read once. The per-doc
    mean sums QUANTIZED integer nano-bits (round(bits*1e9) per token)
    rather than raw doubles: both engines quantize the same per-token
    double to the same integer, and the integer sum is exact, so no
    partial-agg order can flip the rounded mean (the c_tpch_q10
    half-cent lesson applied to log-probs)."""
    return _unigram_doc_bits(spark, sf_dir)


_CCNET_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS w FROM t),
vc AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
tot AS (SELECT SUM(c) AS n FROM vc),
s AS (
  SELECT w.doc_id,
    CAST(ROUND(-LOG2(CAST(vc.c AS DOUBLE) / tot.n) * 1e9) AS BIGINT)
      AS nanobits
  FROM w JOIN vc ON w.w = vc.w CROSS JOIN tot
),
d AS (
  SELECT doc_id,
    ROUND(CAST(SUM(nanobits) AS DOUBLE) / COUNT(*) / 1e9, 6)
      AS bits_per_token
  FROM s GROUP BY doc_id
),
rk AS (
  SELECT d.doc_id, t.lang, d.bits_per_token,
    ROW_NUMBER() OVER (PARTITION BY t.lang
                       ORDER BY d.bits_per_token, d.doc_id) AS k,
    COUNT(*) OVER (PARTITION BY t.lang) AS n
  FROM d JOIN t ON d.doc_id = t.doc_id
)
SELECT doc_id, lang, bits_per_token,
  CASE WHEN 3 * k <= n THEN 'head'
       WHEN 3 * k <= 2 * n THEN 'middle'
       ELSE 'tail' END AS bucket
FROM rk
"""


@query("x_ccnet_buckets", oracle=_CCNET_ORACLE)
def x_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): within each language, rank documents by LM score
    (bits/token, low = fluent) and cut the ranking into terciles —
    head / middle / tail — the partition CCNet publishes and
    downstream recipes sample from (e.g. keep head+middle, or
    temperature-mix by bucket). The LM is the corpus unigram proxy
    from the pinned _unigram_doc_bits artifact, shared with
    x_unigram_logprob, so the tokenize/score pass is build-once per
    dataset.

    Bucket boundaries are RANK-based, not value-interpolated: doc k of
    n (ordered by (bits_per_token, doc_id) — unique tie-break) is
    'head' iff 3k <= n, 'middle' iff 3k <= 2n — pure int64
    arithmetic, so both engines cut identically; a percentile_cont
    cutoff would hinge on last-ulp interpolation agreement. Scale
    shape: the within-language rank is the range-partitioned global
    rank over (lang, bits, doc_id) (functions/order.py — a giant
    language spans MANY partitions, no per-language sort task), and
    per-language ranks are recovered by subtracting a broadcast
    |langs|-row offset table. No corpus-sized shuffle beyond the
    ranking exchange itself; the documents join ships only
    (doc_id, lang)."""
    from ..functions.order import global_row_number

    docs = table(spark, sf_dir, "documents")
    d = _unigram_doc_bits(spark, sf_dir).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    r = global_row_number(
        d, [F.col("lang"), F.col("bits_per_token"), F.col("doc_id")], "__rn"
    )
    sizes = r.groupBy("lang").agg(
        F.count("*").alias("__n"), F.min("__rn").alias("__first")
    )
    k = (F.col("__rn") - F.col("__first") + 1).cast("long")
    n = F.col("__n").cast("long")
    return r.join(F.broadcast(sizes), "lang").select(
        "doc_id",
        "lang",
        "bits_per_token",
        F.when(3 * k <= n, "head")
        .when(3 * k <= 2 * n, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


_BIGRAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, pr.a AS w1, pr.b AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      i -> {{'a': toks[i], 'b': toks[i + 1]}})) AS pr FROM t)),
c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c FROM bg GROUP BY w1),
vsz AS (SELECT COUNT(DISTINCT u) AS v FROM
        (SELECT unnest(toks) AS u FROM t) uw),
s AS (
  SELECT bg.doc_id,
    CAST(ROUND(-LOG2(CAST(c2.c + 1 AS DOUBLE) / (c1.c + vsz.v)) * 1e9)
      AS BIGINT) AS nanobits
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vsz
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(CAST(SUM(nanobits) AS DOUBLE) / COUNT(*) / 1e9, 6)
    AS bits_per_transition
FROM s GROUP BY doc_id
"""


def _bigram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (doc_id, w1, w2) corpus transition stream — shared by
    the two bigram LMs (x_bigram_logprob, x_kneser_ney). Unpinned,
    the token zip-explode re-ran once per consuming branch (count
    aggregations AND the scoring join — ~3× the corpus explode per
    query at sf1)."""

    def build():
        docs = table(spark, sf_dir, "documents")
        t = tokens(F.col("text"))
        return docs.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("pr"),
        ).select("doc_id", "pr.w1", "pr.w2")

    return artifact(spark, f"bigram_stream:{sf_dir}", build)


@query("x_bigram_logprob", oracle=_BIGRAM_ORACLE)
def x_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (the CCNet-style perplexity filter, one
    order up from x_unigram_logprob): fit corpus bigram transition
    probabilities with add-one smoothing — p(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V) — and score each doc by mean -log2 p over its
    transitions. Fluent prose rides common transitions (low bits);
    shuffled or templated token soup scores high even when its
    UNIGRAMS are common — the failure mode the unigram proxy can't
    see.

    Scale shape: the bigram count table grows sublinearly but is NOT
    vocabulary-small, so unlike the unigram probs it is NEVER
    broadcast — the transition stream joins it by a (w1, w2) equi-join
    (shuffle keyed on the bigram, which a hot document cannot flood);
    the context counts and the 1-row vocabulary size ride broadcasts.
    Per-token doubles are quantized to integer nano-bits before the
    per-doc sum (the x_unigram_logprob discipline), so no
    partial-aggregation order can flip a rounded mean: both engines
    round the same rational (c2+1)/(c1+V) to the same int64. Docs
    with fewer than two tokens have no transitions and no row, both
    engines. No reference analog (driver mandate extension)."""
    docs = table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bg = _bigram_stream(spark, sf_dir)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vsz = (
        docs.select(F.explode(t).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    nanobits = (
        F.round(
            -F.log2(
                (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
            )
            * 1e9
        )
        .cast("long")
        .alias("nanobits")
    )
    n = F.count("*")
    return (
        bg.join(c2, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vsz))
        .select("doc_id", nanobits)
        .groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_bigrams"),
            F.round(F.sum("nanobits").cast("double") / n / 1e9, 6).alias(
                "bits_per_transition"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: PII detection / redaction
# ---------------------------------------------------------------------------

# Conservative patterns shared verbatim by Spark (Java regex) and DuckDB
# (RE2) — the subset below parses and behaves identically in both.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"

_PII_ORACLE = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS BIGINT) AS n_ssn,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
    '{_PII_EMAIL}', '<EMAIL>', 'g'),
    '{_PII_IPV4}', '<IP>', 'g'),
    '{_PII_SSN}', '<SSN>', 'g')) AS redacted_md5
FROM documents
"""


@query("x_pii_redact", oracle=_PII_ORACLE)
def x_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails / IPv4 addresses / SSN-
    shaped strings (the standard pre-training compliance pass). Pure
    per-row regexp expressions — whole-stage codegen, no shuffle at
    all, trivially scan-parallel at 100 TB. The redacted text is
    emitted as an md5 digest so the driver compare stays compact (the
    full redacted column would dominate the result set)."""
    docs = table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_SSN,
        "<SSN>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(_PII_IPV4)).cast("long").alias("n_ip"),
        F.regexp_count(F.col("text"), F.lit(_PII_SSN)).cast("long").alias("n_ssn"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: chunk-level corpus dedup (paragraph dedup)
# ---------------------------------------------------------------------------

_CHUNK_DEDUP_W = 16  # tokens per non-overlapping chunk ("paragraph" unit)

_CHUNK_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
ch AS (
  SELECT doc_id, i AS chunk_idx,
    md5(array_to_string(toks[(i * {_CHUNK_DEDUP_W} + 1):((i + 1) * {_CHUNK_DEDUP_W})], ' ')) AS h
  FROM t, unnest(range(0, CAST(ceil(len(toks) / {_CHUNK_DEDUP_W}.0) AS BIGINT))) AS u(i)
),
r AS (
  SELECT doc_id, chunk_idx, h,
    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM ch
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM r GROUP BY doc_id
"""


@query("x_dedup_chunks", oracle=_CHUNK_DEDUP_ORACLE)
def x_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity corpus dedup (the CCNet line-dedup rule,
    with fixed 16-token chunks standing in for lines on this corpus):
    every non-overlapping chunk is hashed; across the WHOLE corpus the
    first (doc_id, chunk_idx) occurrence of a hash is the keeper and
    later occurrences are duplicates. Per-doc output: chunk count and
    how many chunks are corpus-level duplicates.
    Scale shape: chunks travel as 32-byte md5 rows; the keeper is a
    min_by groupBy on the hash (partial-aggregating, no per-hash
    window sort), then a broadcast-free equi-join back on the hash —
    both shuffles move slim rows only."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(_CHUNK_DEDUP_W)).cast("int")
    ch = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.md5(
                    F.array_join(
                        F.slice(
                            F.col("toks"), i * _CHUNK_DEDUP_W + 1, _CHUNK_DEDUP_W
                        ),
                        " ",
                    ).cast("binary")
                ),
            )
        ).alias("chunk_idx", "h"),
    )
    keeper = ch.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("k")
    )
    return (
        ch.join(keeper, "h")
        .select(
            "doc_id",
            (
                (F.col("k.doc_id") != F.col("doc_id"))
                | (F.col("k.chunk_idx") != F.col("chunk_idx"))
            ).cast("int").alias("is_dup"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("is_dup").cast("long").alias("n_dup_chunks"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: deterministic global training-order shuffle
# ---------------------------------------------------------------------------

_SHUF_SEED = "shuf42:"

_SHUF_ORACLE = f"""
SELECT doc_id,
  ROW_NUMBER() OVER (ORDER BY md5('{_SHUF_SEED}' || CAST(doc_id AS VARCHAR))) AS pos
FROM documents
"""


@query("x_shuffle_order", oracle=_SHUF_ORACLE)
def x_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: rank every doc
    by a seeded hash of its id — reproducible across runs and engines
    (no RNG state), which is what epoch shuffling needs for resumable
    training. The total order is computed with the range-partitioned
    prefix-sum (functions/order.py), NOT a single-partition
    ROW_NUMBER() — the hash keys are uniform, so the range partitions
    are balanced by construction."""
    from ..functions.order import global_row_number

    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ).alias("__k"),
    )
    return global_row_number(keyed, ["__k"], "pos").select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: corpus n-gram statistics
# ---------------------------------------------------------------------------

_NGRAM_TOP = 100

_NGRAM_ORACLE = f"""
WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT unnest({_sql_shingles_k(2)}) AS gram FROM t)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
FROM g GROUP BY gram
ORDER BY n DESC, gram LIMIT {_NGRAM_TOP}
"""


@query("x_ngram_counts", oracle=_NGRAM_ORACLE)
def x_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table (top-{100}): the statistic behind
    vocabulary building, boilerplate detection, and n-gram LM training.
    Shape at scale: explode is a local fan-out, the count is ONE
    partial-agg shuffle keyed by gram (map-side combine collapses each
    task to its distinct grams), and the top-k is TakeOrderedAndProject
    — no global sort ever materializes the full gram distribution."""
    docs = table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(shingles(tokens(F.col("text")), k=2)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(_NGRAM_TOP)
    )


_DOMAIN_MIX_ORACLE = f"""
WITH {_sql_bpe_doc_tokens(", source, lang")},
g AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM bpe_doc GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
  ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_frac
FROM g
"""


@query("x_domain_mix", oracle=_DOMAIN_MIX_ORACLE)
def x_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: docs and REAL BPE tokens per (source,
    lang) with each cell's token share — the table a training-data
    recipe is tuned against (and the input to temperature sampling);
    counting trainer-visible tokens is what makes the shares budget-
    true. Token counts ride the broadcast word cache
    (_bpe_doc_tokens); ONE further partial-agg shuffle collapses the
    per-doc rows to |sources|x|langs|; the share denominator is a
    broadcast scalar, not a window over the corpus."""
    docs = table(spark, sf_dir, "documents")
    g = (
        _bpe_doc_tokens(spark, sf_dir, docs, "source", "lang")
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    total = g.agg(F.sum("n_tokens").alias("__total"))
    return g.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("__total"), 6).alias(
            "token_frac"
        ),
    )


_FERTILITY_ORACLE = f"""
WITH {_sql_bpe_doc_tokens(", lang, n_chars")}
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_words) AS BIGINT) AS n_words,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6) AS fertility,
  ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 6) AS chars_per_token
FROM bpe_doc GROUP BY lang
"""


@query("x_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def x_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — BPE tokens per word and
    characters per token, the standard tokenizer-evaluation metrics
    (a tokenizer trained on English typically shows fertility ~1.1-1.3
    on English and 2-4× that on underrepresented scripts, which
    directly inflates those languages' training cost per byte).
    Teams re-run this table whenever the merge table or the corpus
    mix changes; making it an operator keeps the check inside the
    pipeline.

    Scale shape: rides the SAME broadcast distinct-word BPE cache as
    every other tokenizer consumer (`_bpe_doc_tokens` — merges run
    |vocab| times, not |corpus| times), then ONE further partial-agg
    shuffle collapses per-doc rows to |langs|; per-doc char counts
    come from the documents table's own n_chars column carried
    through the grouping key, so no second corpus scan exists
    anywhere. Exact integer sums; doubles only in the final ROUND()ed
    ratios."""
    docs = table(spark, sf_dir, "documents")
    g = (
        _bpe_doc_tokens(spark, sf_dir, docs, "lang", "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Round-5 additions: corpus statistics and funnel observability
# ---------------------------------------------------------------------------

# Empty documents are EXCLUDED on both sides by contract: the engines
# disagree on splitting '' (Spark split('','') -> [] drops the doc;
# DuckDB string_split('','') -> [''] would emit a zero-entropy row),
# so the filter pins one semantic instead of leaving a latent
# divergence for corpora with empty texts.
_ENTROPY_ORACLE = """
WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents WHERE length(text) > 0),
k AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS k FROM c GROUP BY doc_id, ch),
e AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars,
             SUM(k * log2(k)) AS klog
      FROM k GROUP BY doc_id)
SELECT doc_id, n_chars,
  CAST(ROUND(log2(CAST(n_chars AS DOUBLE))
             - klog / CAST(n_chars AS DOUBLE), 6) AS DOUBLE) AS entropy_bits
FROM e
"""


@query("x_char_entropy", oracle=_ENTROPY_ORACLE)
def x_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    classic cheap screen for binary junk, base64 blobs and
    single-character spam in a pretraining corpus (low entropy =
    repetitive garbage, ~4.1 bits = normal English text).

    Computed as log2(n) - (1/n)·Σ k·log2(k) over per-char counts so
    only ONE log per distinct character is evaluated (not one per
    char occurrence). Shape at scale: explode is a ~5x local fan-out
    feeding two partial-agg shuffles — (doc_id, ch) then doc_id — both
    map-side combined to ≤|alphabet| rows per doc before the exchange.
    For a fixed known alphabet the explode could be replaced by
    O(|alphabet|) length-of-replace probes per row (zero fan-out);
    the explode form is kept because real corpora have open
    alphabets."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    k = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("k"))
    )
    return (
        k.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_chars"),
            F.sum(F.col("k") * F.log2("k")).alias("klog"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(
                F.log2(F.col("n_chars").cast("double"))
                - F.col("klog") / F.col("n_chars").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
    )


_NOVELTY_TOP = 100

_NOVELTY_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, unnest({_sql_shingles_k(2)}) AS gram FROM t),
vocab AS (
  SELECT gram FROM (
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY gram
    ORDER BY n DESC, gram LIMIT {_NOVELTY_TOP})),
d AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(count_if(v.gram IS NOT NULL) AS BIGINT) AS n_known
  FROM g LEFT JOIN vocab v ON g.gram = v.gram
  GROUP BY g.doc_id)
SELECT doc_id, n_grams,
  CAST(ROUND(1.0 - CAST(n_known AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
       AS DOUBLE) AS novelty
FROM d
"""


@query("x_ngram_novelty", oracle=_NOVELTY_ORACLE)
def x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's bigrams
    NOT in the corpus's top-100 bigram vocabulary — low novelty flags
    boilerplate/templated documents (the same screen n-gram LM
    perplexity provides, without training a model; cf. the
    repetition/boilerplate filters in C4/Gopher-style pipelines).

    Shape at scale: the vocabulary is a partial-agg shuffle +
    TakeOrderedAndProject (never a full sort of the gram
    distribution), then BROADCASTS into the per-doc pass — the
    corpus-sized gram stream is touched exactly twice, shuffles only
    on (gram) and (doc_id), and the membership probe is a broadcast
    hash join, not a shuffle join. Docs with <2 tokens have no grams
    and drop out (mirrored by unnest of the empty list)."""
    docs = table(spark, sf_dir, "documents")
    # bound-tokens pattern (see dup_span_stats): the gram stream is
    # consumed twice (vocab + probe), so the saving doubles
    grams = docs.select(
        "doc_id", tokens(F.col("text")).alias("__t")
    ).select("doc_id", F.explode(shingles(F.col("__t"), k=2)).alias("gram"))
    vocab = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(_NOVELTY_TOP)
        .select("gram", F.lit(1).alias("__hit"))
    )
    return (
        grams.join(F.broadcast(vocab), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("__hit").alias("n_known"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.round(
                F.lit(1.0)
                - F.col("n_known").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


_FUNNEL_ORACLE = f"""
WITH t AS (
  SELECT lang, {_SQL_TOKS} AS toks FROM documents
), g AS (
  SELECT len(toks) >= 20 AS len_ok,
         lang IN ('en', 'de', 'fr', 'es') AS lang_ok,
         len(list_distinct(toks)) * 2 >= len(toks) AS unique_ok
  FROM t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(count_if(len_ok) AS BIGINT) AS n_len_ok,
  CAST(count_if(len_ok AND lang_ok) AS BIGINT) AS n_lang_ok,
  CAST(count_if(len_ok AND lang_ok AND unique_ok) AS BIGINT) AS n_clean,
  CAST(ROUND(CAST(count_if(len_ok AND lang_ok AND unique_ok) AS DOUBLE)
             / COUNT(*), 6) AS DOUBLE) AS retention
FROM g
"""


@query("x_filter_funnel", oracle=_FUNNEL_ORACLE)
def x_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel observability: cumulative survivor counts
    through three gates (length >= 20 tokens → allowed language →
    distinct-token ratio >= 0.5, the Gopher-style repetition screen)
    plus end-to-end retention. The report every production filtering
    pipeline ships alongside its output — which gate is eating the
    corpus, at a glance.

    Shape at scale: ONE full scan, zero shuffles (conditional counts
    all combine map-side into a single 1-row aggregate); the
    distinct-ratio gate is a per-row array op, not a groupBy. The
    uniqueness threshold is the exact-integer form
    2·|distinct| >= |toks| — no double division decides membership."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    g = docs.select(
        (F.size(toks) >= 20).alias("len_ok"),
        F.col("lang").isin("en", "de", "fr", "es").alias("lang_ok"),
        (F.size(F.array_distinct(toks)) * 2 >= F.size(toks)).alias(
            "unique_ok"
        ),
    )
    surv3 = F.col("len_ok") & F.col("lang_ok") & F.col("unique_ok")
    return g.agg(
        F.count("*").alias("n_total"),
        F.count_if("len_ok").alias("n_len_ok"),
        F.count_if(F.col("len_ok") & F.col("lang_ok")).alias("n_lang_ok"),
        F.count_if(surv3).alias("n_clean"),
        F.round(
            F.count_if(surv3).cast("double") / F.count("*"), 6
        ).alias("retention"),
    )


_SPAN_K = 5

_DUP_SPANS_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, md5(unnest({_sql_shingles_k(_SPAN_K)})) AS d FROM t),
occ AS (
  SELECT doc_id, d, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh GROUP BY doc_id, d),
spread AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS nd FROM occ GROUP BY d)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_spans,
  CAST(SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS DOUBLE) AS dup_frac
FROM occ JOIN spread USING (d)
GROUP BY doc_id
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (doc_id, toks) — shared by the span-dedup family (the
    tokenize pass re-ran once per consuming plan branch unpinned)."""
    return artifact(
        spark,
        f"scrub_tokens:{sf_dir}",
        lambda: table(spark, sf_dir, "documents").select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ),
    )


def _span_table(spark: SparkSession, sf_dir: str, k: int = _SPAN_K) -> DataFrame:
    """Pinned (doc_id, pos, d) k-gram span digests — the corpus
    artifact both the dup-span MEASURE (x_dup_spans) and the REMOVAL
    (x_span_scrub) read, built once per session like the LSH band
    tables."""
    t = _doc_tokens(spark, sf_dir)
    return artifact(
        spark,
        f"scrub_spans:{sf_dir}:{k}",
        lambda: t.select(
            "doc_id",
            F.posexplode(
                shingle_digests(shingles(F.col("toks"), k=k))
            ).alias("sp0", "d"),
        ).select("doc_id", (F.col("sp0") + 1).alias("pos"), "d"),
    )


def dup_span_stats(
    docs: DataFrame | None = None,
    k: int = _SPAN_K,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_spans, n_dup) for x_dup_spans — exposed as the
    shared core so the hypothesis property test exercises THIS code
    path (not a reimplementation) against the pure-Python reference.
    `spans` (doc_id, d) short-circuits the explode with a pre-built
    span table (x_dup_spans passes the pinned _span_table artifact)."""
    if spans is None:
        # Tokens are BOUND to a projected column before the shingle
        # chain: inlined, the split regex re-evaluates inside each
        # zip_with pass (measured 0.63 vs 0.44 s for k=5 at sf0.1).
        spans = docs.select(
            "doc_id", tokens(F.col("text")).alias("__t")
        ).select(
            "doc_id",
            F.explode(
                shingle_digests(shingles(F.col("__t"), k=k))
            ).alias("d"),
        )
    occ = (
        spans.select("doc_id", "d")
        .groupBy("doc_id", "d")
        .agg(F.count("*").alias("c"))
        .withColumn("nd", F.count("*").over(Window.partitionBy("d")))
    )
    dup_c = F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0))
    return occ.groupBy("doc_id").agg(
        F.sum("c").alias("n_spans"), F.sum(dup_c).alias("n_dup")
    )


@query("x_dup_spans", oracle=_DUP_SPANS_ORACLE)
def x_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a doc's
    5-gram spans that ALSO occur in at least one other
    document — the distributable approximation of exact substring
    deduplication (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": their suffix-array pass marks the same
    cross-document repeated spans; k-gram granularity trades span
    boundaries for a shuffle-only plan). High dup_frac = the document
    is mostly boilerplate shared with the rest of the corpus, even
    when no WHOLE-document dedup fires.

    Shape at scale: spans are md5 DIGESTS (16 bytes shuffled, not the
    raw k-gram text); the plan is the explode feeding three chained
    exchanges — (doc_id, digest) occurrence counts, a digest-keyed
    WINDOW for the distinct-doc spread (computed on the already-
    collapsed rows; a groupBy+self-join formulation recomputed the
    whole explode+agg on both branches and measured ~2x slower), then
    a doc_id-keyed rollup. Self-repetition inside one document
    (c > 1, nd = 1) deliberately does NOT count as duplication; the
    x_repetition query owns that signal."""
    return dup_span_stats(spans=_span_table(spark, sf_dir)).select(
        "doc_id",
        "n_spans",
        "n_dup",
        F.round(F.col("n_dup").cast("double") / F.col("n_spans"), 6).alias(
            "dup_frac"
        ),
    )


_SCRUB_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
w AS (
  SELECT doc_id, i AS wordpos, toks[i] AS word
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
),
sp AS (
  SELECT doc_id, i AS pos,
    md5({" || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(_SPAN_K))}) AS d
  FROM t, unnest(range(1, len(toks) - {_SPAN_K - 2})) AS u(i)
),
g AS (SELECT d, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM sp GROUP BY d),
m1 AS (SELECT d, MIN(doc_id) AS cdoc FROM sp GROUP BY d),
canon AS (
  SELECT sp.d, m1.cdoc, MIN(sp.pos) AS cpos
  FROM sp JOIN m1 ON m1.d = sp.d AND sp.doc_id = m1.cdoc
  GROUP BY sp.d, m1.cdoc
),
removable AS (
  SELECT sp.doc_id, sp.pos
  FROM sp JOIN g ON g.d = sp.d AND g.nd >= 2
  JOIN canon c ON c.d = sp.d
  WHERE NOT (sp.doc_id = c.cdoc AND sp.pos = c.cpos)
),
covered AS (
  SELECT DISTINCT r.doc_id, r.pos + j.j AS wordpos
  FROM removable r, unnest(range(0, {_SPAN_K})) AS j(j)
),
fin AS (
  SELECT w.doc_id, w.wordpos, w.word, cov.wordpos IS NULL AS keep
  FROM w LEFT JOIN covered cov
    ON cov.doc_id = w.doc_id AND cov.wordpos = w.wordpos
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
  CAST((SUM(CASE WHEN keep THEN 0 ELSE 1 END) * 1000000) // COUNT(*)
    AS BIGINT) AS removed_ppm,
  md5(COALESCE(string_agg(CASE WHEN keep THEN word END, ' '
    ORDER BY wordpos), '')) AS kept_md5
FROM fin GROUP BY doc_id
"""


@query("x_span_scrub", oracle=_SCRUB_ORACLE)
def x_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup REMOVAL — the step after x_dup_spans'
    measurement: rewrite every document with its cross-document
    duplicated spans cut out (Lee et al.'s ExactSubstr removal, at the
    same k-gram granularity the measurement uses). One occurrence of
    each duplicated span survives corpus-wide — the CANONICAL one, the
    lexicographically smallest (doc_id, position) — so shared
    boilerplate keeps exactly one copy in the training set instead of
    thousands; a word is removed when ANY removable span covers it
    (overlapping spans merge naturally through the distinct covered-
    position set). Emits the scrubbed doc as an md5 (the full text
    would dwarf the report; production writes the kept words to the
    output table with this same plan).

    Determinism discipline: the canonical pick is an exact
    lexicographic min (no float anywhere); kept words re-join in
    word-position order on both engines before hashing, and the
    all-words-removed doc hashes the empty string on both.

    Shape at scale: span digests explode once (16-byte md5s, never
    raw text); the spread + canonical table is ONE digest-keyed
    aggregation; removability is a digest-keyed equi-join; removable
    spans then merge into disjoint covered INTERVALS relationally
    (gaps-and-islands: running-max window partitioned by doc_id —
    never corpus-global) so overlap collapses before any fan-out; the
    rewrite slices the token array between consecutive intervals and
    flattens — each token is touched exactly once, O(n + m log m) per
    doc even on a boilerplate wall where every span is removable (the
    r11 per-word array_contains probe was O(n·|covered|) there; the
    word-exploded formulation before that measured 4.2 s vs 3.1 s at
    sf0.1). The WORDS never explode and never shuffle; the k-wide
    per-span position fan-out is gone too (intervals carry the width).
    No self-join, no window over the corpus."""
    k = _SPAN_K
    # Both the token table and the span-digest table feed TWO plan
    # branches each (spans -> canonical agg AND removability join;
    # toks -> spans AND the rewrite) — unpinned, the tokenize+shingle+
    # digest explode re-ran per branch and dominated the sf1 wall
    # (stage-profiled: ~13 s of the 17.4 s was recomputed span builds).
    # The pinned tables are the shared span-dedup corpus artifacts
    # (_span_table feeds the x_dup_spans measure too).
    t = _doc_tokens(spark, sf_dir)
    spans = _span_table(spark, sf_dir, k)
    # The spread + canonical-pick table is itself a pure corpus
    # function of the span artifact (one digest-keyed aggregation) —
    # pinned build-once per session (r14) instead of re-aggregated per
    # call, and pre-filtered to the nd >= 2 digests the removability
    # join can ever match (inner join: moving the filter inside the
    # pin is value-identical and shrinks the pinned table to just the
    # CROSS-DOC duplicated spans).
    g = artifact(
        spark,
        f"scrub_spread:{sf_dir}:{k}",
        lambda: spans.groupBy("d")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min(F.struct("doc_id", "pos")).alias("canon"),
        )
        .filter(F.col("nd") >= 2),
    )
    removable = spans.join(g, "d").filter(
        ~(
            (F.col("doc_id") == F.col("canon.doc_id"))
            & (F.col("pos") == F.col("canon.pos"))
        )
    )
    # removable spans → disjoint covered intervals, relationally:
    # running max(e) over earlier spans of the doc starts a new island
    # whenever a span begins past prev_e + 1 (adjacent spans merge —
    # the gap slice between them would be empty anyway).
    span_iv = removable.select(
        "doc_id",
        F.col("pos").cast("int").alias("s"),
        (F.col("pos") + F.lit(k - 1)).cast("int").alias("e"),
    )
    by_doc = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_e = F.max("e").over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    isl = (
        span_iv.withColumn(
            "new_isl",
            F.when(
                prev_e.isNull() | (F.col("s") > prev_e + 1), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(
                by_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    cov = isl.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_removed"),
    )
    j = t.join(cov, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(
            F.col("ivs"), F.array().cast("array<struct<s:int,e:int>>")
        ).alias("ivs"),
        F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias(
            "n_removed"
        ),
    )
    # kept = the m+1 gap slices around the m disjoint intervals,
    # flattened in order: gap j spans (prev_e(j), next_s(j)) where
    # prev_e(0)=0 and next_s(m)=n+1. Each token is copied once.
    kept = F.expr(
        "flatten(transform(sequence(0, size(ivs)), j -> slice(toks,"
        " (IF(j = 0, 0, ivs[j - 1].e)) + 1,"
        " (IF(j = size(ivs), size(toks) + 1, ivs[j].s))"
        " - IF(j = 0, 0, ivs[j - 1].e) - 1)))"
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        "n_removed",
        F.expr("(n_removed * CAST(1000000 AS BIGINT)) DIV size(toks)")
        .cast("long")
        .alias("removed_ppm"),
        F.md5(F.array_join(kept, " ")).alias("kept_md5"),
    )


_KNN_K = 3


def _knn_edges_cte() -> str:
    """Shared DuckDB CTEs ending in `knn(vec_id, neighbor_id, rnk,
    score)` — the oracle twin of the kNN edge list both x_knn_graph
    and its consumers stand on."""
    return f"""{_emb_bucket_cte()}, scored AS (
  SELECT a.vec_id, x.vec_id AS neighbor_id,
    list_dot_product(a.e, x.e) /
    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(x.e, x.e))) AS score
  FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id <> x.vec_id
), knn AS MATERIALIZED (
  SELECT vec_id, neighbor_id, rnk, ROUND(score, 6) AS score FROM (
    SELECT vec_id, neighbor_id, score, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY ROUND(score, 9) DESC, neighbor_id)
      AS INTEGER) AS rnk
    FROM scored) WHERE rnk <= {_KNN_K})"""


def _knn_graph_oracle() -> str:
    return f"""
{_knn_edges_cte()}
SELECT vec_id, neighbor_id, rnk, score FROM knn
"""


@query("x_knn_graph", oracle=_knn_graph_oracle())
def x_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the embedding corpus
    (top-3 same-bucket cosine neighbors per vector) — the substrate
    the batch similarity consumers stand on: SemDeDup clusters, graph
    clustering, diversity sampling, and label propagation all start
    from exactly this edge list. Differs from x_cosine_topk (10 probe
    queries vs corpus) in being all-vectors-to-all: the quadratic
    blow-up is contained by the SAME signed-projection LSH bucketing
    as x_dedup_embedding (shared bucket artifact, bucket cap dropping
    degenerate floods), so candidate generation stays a bucket-local
    self-equi-join and the per-vector top-k is a WindowGroupLimit —
    never a global sort, never all-pairs. At 10^9 vectors the bucket
    count scales with n (more planes), holding per-bucket pair counts
    flat — the same K-is-the-lever argument as SemDeDup's cell size."""
    b = _emb_lsh_buckets(spark, sf_dir)
    a = b.alias("a")
    x = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nrm_b"),
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
            F.col("a.vec_id").alias("vec_id"),
            "neighbor_id",
            # pinned-norm cosine: bit-identical to cosine(), one array
            # fold per candidate instead of three (see _emb_lsh_buckets)
            (
                dot(F.col("a.e"), F.col("eb"))
                / (F.col("a.nrm") * F.col("nrm_b"))
            ).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .select("vec_id", "neighbor_id", "rnk", F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# Round-6: kNN-graph consumer — k-center diversity sample
# ---------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle() -> str:
    """Unrolled greedy farthest-first: c0 seeds at min(vec_id); each
    stage picks the vector with the LOWEST max-similarity to the
    current centers over its outgoing kNN edges (no edge = coverage 0),
    ties to the smallest vec_id. Every stage CTE is AS MATERIALIZED:
    c{{i}} is referenced three times by stage i+1 (join, NOT IN, union)
    and inlining would re-evaluate the whole chain 3^K times."""
    parts = [
        _knn_edges_cte(),
        ",\nc0 AS MATERIALIZED "
        "(SELECT MIN(vec_id) AS vec_id, 0 AS pick, 0.0 AS cov FROM v)",
    ]
    for i in range(1, _KCENTER_K):
        prev = f"c{i - 1}"
        parts.append(f""",
p{i} AS MATERIALIZED (
  SELECT x.vec_id, ROUND(COALESCE(m.cov, 0), 6) AS cov FROM v x
  LEFT JOIN (SELECT e.vec_id, MAX(e.score) AS cov
             FROM knn e JOIN {prev} c ON e.neighbor_id = c.vec_id
             GROUP BY e.vec_id) m ON x.vec_id = m.vec_id
  WHERE x.vec_id NOT IN (SELECT vec_id FROM {prev})
  ORDER BY COALESCE(m.cov, 0) ASC, x.vec_id ASC LIMIT 1),
c{i} AS MATERIALIZED (SELECT * FROM {prev}
         UNION ALL SELECT vec_id, {i}, cov FROM p{i})""")
    parts.append(
        f"\nSELECT CAST(pick AS INTEGER) AS pick, vec_id, "
        f"CAST(cov AS DOUBLE) AS cov FROM c{_KCENTER_K - 1}"
    )
    return "".join(parts)


@query("x_kcenter_sample", oracle=_kcenter_oracle())
def x_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity/coverage sampling on the kNN substrate: greedy
    k-center (farthest-first traversal, Gonzalez 1985) over
    x_knn_graph's edge list — pick the vector least covered by the
    current centers (coverage = max cosine over its OUTGOING kNN edges
    to a center; no edge = 0), K=8 times from a min-vec_id seed. The
    2-approximation every coreset/diverse-eval-set selection starts
    from, and the first operator that CONSUMES the kNN edge artifact
    rather than just building it.

    Scale shape: k-center greedy is inherently K-sequential (each pick
    depends on all previous), so the loop is K bounded rounds, each a
    LINEAR pass over the pinned edge artifact — a broadcast join onto
    the ≤K-row center table, a partial-agg max per vector, and a
    TakeOrdered(1) argmin; the only driver traffic is one (vec_id,
    cov) row per round (the codebook-seed precedent). Nothing
    quadratic, nothing corpus-sized ever collects."""
    edges = artifact(
        spark, f"{sf_dir}:knn_edges", lambda: x_knn_graph(spark, sf_dir)
    )
    v = materialize(table(spark, sf_dir, "embeddings").select("vec_id"))
    # The corpus-sized builds (kNN bucket self-join + window) already
    # ran with AQE on: artifact() forces its build eagerly (r14), so
    # by the time we get here `edges` is pinned blocks — no explicit
    # count needed (it cost one extra job per warm call).
    # The K rounds are tiny jobs over pinned inputs; AQE's per-stage
    # re-planning only adds latency to them (measured 3.8 → 3.1 s for
    # the whole loop at sf0.1).
    with aqe_disabled(spark):
        return _kcenter_rounds(spark, edges, v)


def _kcenter_rounds(spark: SparkSession, edges: DataFrame, v: DataFrame) -> DataFrame:
    """Greedy rounds with INCREMENTAL coverage (r6 verdict item 4):
    only the ONE new center changes coverage per round, and the edge
    list holds at most one edge per (vector, center) pair — so the
    round's delta is a groupBy-free filtered broadcast of the new
    center's in-edges, folded into a pinned running-max frame
    (greatest skips nulls; null = never covered, 0 at selection time,
    matching the oracle's COALESCE). Each round is ONE shuffle-free
    linear pass + TakeOrdered(1) instead of re-joining all |centers|
    and re-aggregating — and the per-round localCheckpoint keeps the
    coverage lineage flat across K rounds."""
    seed = v.agg(F.min("vec_id")).first()[0]
    picks: list[tuple[int, int, float]] = [(0, int(seed), 0.0)]
    chosen: list[int] = [int(seed)]
    state = v.select("vec_id", F.lit(None).cast("double").alias("cov"))
    for i in range(1, _KCENTER_K):
        delta = edges.filter(
            F.col("neighbor_id") == F.lit(chosen[-1])
        ).select("vec_id", F.col("score").alias("new_cov"))
        state = materialize(
            state.join(F.broadcast(delta), "vec_id", "left").select(
                "vec_id", F.greatest("cov", "new_cov").alias("cov")
            )
        )
        row = (
            state.filter(~F.col("vec_id").isin(chosen))
            .select(
                "vec_id",
                F.round(F.coalesce("cov", F.lit(0.0)), 6).alias("cov"),
            )
            .orderBy(F.col("cov").asc(), F.col("vec_id").asc())
            .limit(1)
            .first()
        )
        if row is None:  # fewer than K vectors: stop, matching the
            break  # oracle's empty-pick stages (c_i = c_{i-1})
        picks.append((i, int(row.vec_id), float(row.cov)))
        chosen.append(int(row.vec_id))
    return spark.createDataFrame(picks, "pick int, vec_id long, cov double")


# ---------------------------------------------------------------------------
# Round-7: kNN-graph consumer #2 — label-propagation communities
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: l0 seeds every vector
    with its own id; each round every vector adopts the label with the
    highest total incident edge weight among its OUTGOING kNN
    neighbors' labels (weights in exact integer micro-units so the
    argmax never rides a float tie), smallest label on ties, keeping
    its current label when it has no edges. Every stage CTE is AS
    MATERIALIZED — l{i} is referenced twice by round i+1 (neighbor
    join + carry-forward) and inlining would re-evaluate the chain
    2^K times (the x_kcenter_sample lesson)."""
    parts = [
        _knn_edges_cte(),
        ",\nl0 AS MATERIALIZED (SELECT vec_id, vec_id AS label FROM v)",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        prev = f"l{i - 1}"
        parts.append(f""",
n{i} AS MATERIALIZED (
  SELECT e.vec_id, l.label,
    SUM(CAST(ROUND(e.score * 1000000) AS BIGINT)) AS w
  FROM knn e JOIN {prev} l ON e.neighbor_id = l.vec_id
  GROUP BY e.vec_id, l.label),
b{i} AS MATERIALIZED (
  SELECT vec_id, label FROM (
    SELECT vec_id, label, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY w DESC, label ASC) AS rn
    FROM n{i}) WHERE rn = 1),
l{i} AS MATERIALIZED (
  SELECT p.vec_id, COALESCE(b.label, p.label) AS label
  FROM {prev} p LEFT JOIN b{i} b ON p.vec_id = b.vec_id)""")
    parts.append(
        f"\nSELECT vec_id, label AS community FROM l{_LPA_ROUNDS}"
    )
    return "".join(parts)


@query("x_knn_communities", oracle=_lpa_oracle())
def x_knn_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure on the kNN substrate: K rounds of
    synchronous, deterministic label propagation over x_knn_graph's
    edge list — every vector starts as its own community and each
    round adopts the label carrying the highest summed edge weight
    among its outgoing kNN neighbors (ties to the smallest label;
    isolated vectors keep their own). The second operator CONSUMING
    the shared kNN edge artifact (after x_kcenter_sample's diversity
    pick) and the standard corpus-curation companion to it: k-center
    spreads a sample ACROSS structure, label propagation NAMES the
    structure (topical clusters to cap, stratify, or decontaminate
    by).

    Scale shape: K bounded ROUNDS, each one edges⋈labels equi-join on
    neighbor_id + a partial-agg (vec_id, label) weight sum + a
    WindowGroupLimit argmax per vector + a left-join carry-forward —
    all vec_id-keyed exchanges over the pinned edge artifact; no
    all-pairs anywhere, nothing ever collects to the driver (the loop
    is pure DataFrame composition, K is a constant). Hot in-degree is
    bounded by the LSH bucket cap upstream. Weight comparisons happen
    in exact integer micro-units (scores are pre-rounded to 1e-6), so
    the per-vector argmax is engine-deterministic — the float-tie
    discipline every membership decision in this repo follows."""
    edges = artifact(
        spark, f"{sf_dir}:knn_edges", lambda: x_knn_graph(spark, sf_dir)
    )
    # PINNED: the micro-unit edge list feeds one join per round;
    # unpinned, every round would recompute the bucket self-join.
    e = materialize(
        edges.select(
            "vec_id",
            "neighbor_id",
            F.round(F.col("score") * 1000000).cast("long").alias("w"),
        )
    )
    labels = materialize(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("vec_id").alias("label")
        )
    )
    for _ in range(_LPA_ROUNDS):
        labels = materialize(_lpa_round(e, labels))
    return labels.select("vec_id", F.col("label").alias("community"))


def _lpa_round(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round as a DataFrame transform (exposed so
    tests/test_plans.py can audit the per-round physical plan, which
    the pinned round boundaries otherwise hide behind RDD scans)."""
    w_best = Window.partitionBy("vec_id").orderBy(
        F.col("w").desc(), F.col("label").asc()
    )
    best = (
        e.join(
            labels.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("w").alias("w"))
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("new_label"))
    )
    return labels.join(best, "vec_id", "left").select(
        "vec_id", F.coalesce("new_label", "label").alias("label")
    )


# ---------------------------------------------------------------------------
# Round-7: kNN-graph consumer #3 — bounded-round integer PageRank
# ---------------------------------------------------------------------------

_PR_ROUNDS = 4
_PR_SCALE = 1_000_000  # one unit of rank mass = 1e-6
_PR_BASE = 150_000  # (1 - d) * SCALE, d = 0.85


def _pagerank_cte() -> str:
    """Shared DuckDB CTE chain ending in `r{_PR_ROUNDS}(vec_id, pr)`:
    unrolled power iteration in INTEGER mass units — every vertex
    starts with SCALE units; each round a vertex keeps BASE units and
    receives floor((85 * pr) / (100 * outdeg)) from each in-edge.
    Floor division on non-negative integers is engine-identical
    (DuckDB `//`, Spark `DIV`), and integer sums are exact — so the
    quantized ranks match bit-for-bit with no float-summation-order
    hazard. Dangling mass (outdeg 0) is dropped, the standard
    simplification. Stage CTEs AS MATERIALIZED: r{i} feeds the next
    round's join and the carry-forward."""
    parts = [
        _knn_edges_cte(),
        f",\npr_deg AS MATERIALIZED (SELECT vec_id, CAST(COUNT(*) AS BIGINT)"
        f" AS d FROM knn GROUP BY vec_id)"
        f",\nr0 AS MATERIALIZED (SELECT vec_id, CAST({_PR_SCALE} AS BIGINT)"
        f" AS pr FROM v)",
    ]
    for i in range(1, _PR_ROUNDS + 1):
        parts.append(f""",
r{i} AS MATERIALIZED (
  SELECT x.vec_id, CAST({_PR_BASE} + COALESCE(s.m, 0) AS BIGINT) AS pr
  FROM v x LEFT JOIN (
    SELECT e.neighbor_id AS vec_id,
      SUM((85 * r.pr) // (100 * pr_deg.d)) AS m
    FROM knn e
    JOIN r{i - 1} r ON e.vec_id = r.vec_id
    JOIN pr_deg ON pr_deg.vec_id = e.vec_id
    GROUP BY e.neighbor_id) s ON x.vec_id = s.vec_id)""")
    return "".join(parts)


def _pagerank_oracle() -> str:
    return (
        f"{_pagerank_cte()}\n"
        f"SELECT vec_id, pr AS pr_units FROM r{_PR_ROUNDS}"
    )


@query("x_knn_pagerank", oracle=_pagerank_oracle())
def x_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality on the kNN substrate: K rounds of damped power
    iteration (PageRank, d = 0.85) over x_knn_graph's edge list — the
    third consumer of the shared edge artifact, and the standard
    importance weight for corpus curation (sample central documents
    for coverage, or down-weight hub-like near-duplicates that
    k-center and label propagation don't see).

    Determinism is the design point: rank mass lives in INTEGER
    micro-units and each edge carries floor((85*pr)/(100*outdeg)) —
    floor division of non-negative integers and integer sums are
    bit-identical across engines, so the oracle needs no float
    tolerance anywhere (the repo's exact-arithmetic membership
    discipline applied to an iterative algorithm). Dangling vertices
    drop their outflow (documented standard simplification); every
    vertex keeps the (1-d) base mass, so isolated vectors rank BASE.

    Scale shape: K bounded ROUNDS over the pinned edge+degree
    artifact — per round one vec_id-keyed equi-join of edges to the
    rank frame, a partial-agg inflow sum keyed by neighbor_id, and a
    left-join carry-forward; no all-pairs, nothing collects to the
    driver, K is a constant. Unlike LPA (x_knn_communities), each
    round references the incoming rank frame exactly ONCE (the inflow
    join; the carry-forward joins v, not pr), so the rounds chain
    LAZILY into one linear plan — no per-round localCheckpoint. The
    lineage is K chained join+agg stages, not a 2^K tree, and dropping
    the per-round pin removes K checkpoint write/read round-trips of
    the rank frame per call (measured 0.96 -> 0.78 s min-of-3 at
    sf0.1, bit-identical output)."""
    edges = artifact(
        spark, f"{sf_dir}:knn_edges", lambda: x_knn_graph(spark, sf_dir)
    )
    deg = edges.groupBy("vec_id").agg(F.count("*").cast("long").alias("d"))
    e = materialize(
        edges.join(deg, "vec_id").select("vec_id", "neighbor_id", "d")
    )
    v = materialize(table(spark, sf_dir, "embeddings").select("vec_id"))
    pr = v.select("vec_id", F.lit(_PR_SCALE).cast("long").alias("pr"))
    for _ in range(_PR_ROUNDS):
        pr = _pagerank_round(e, pr, v)
    return pr.select("vec_id", F.col("pr").alias("pr_units"))


_WSAMPLE_K = 32


def _wsample_oracle() -> str:
    return f"""{_pagerank_cte()},
ws_c AS MATERIALIZED (
  SELECT vec_id, pr, SUM(pr) OVER (
    ORDER BY vec_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM r{_PR_ROUNDS}),
ws_t AS (SELECT GREATEST(SUM(pr) // {_WSAMPLE_K}, 1) AS step
         FROM r{_PR_ROUNDS})
SELECT CAST(cum // step AS INTEGER) AS pick, vec_id, pr AS pr_units
FROM ws_c, ws_t WHERE (cum // step) > ((cum - pr) // step)
"""


@query("x_sample_weighted", oracle=_wsample_oracle())
def x_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-WEIGHTED systematic sampling: lay every vector's
    PageRank mass (x_knn_pagerank, integer micro-units) end to end
    along the vec_id order and pick the vector under each of ~K
    equally-spaced mass boundaries — probability-proportional-to-size
    sampling made deterministic, the curation step that samples a
    corpus BY importance instead of uniformly (central documents more
    likely, isolated near-orphans less), composing two prior
    operators: the integer-exact rank frame and the scalable global
    prefix sum.

    Scale shape: the cumulative mass rides `global_running_sum`
    (functions/order.py) — range-partitioned local running sums plus a
    broadcast per-partition prefix, never a single-partition window at
    scale (the same machinery's small-input mode keeps test SF cheap);
    the total/step is a broadcast 1-row aggregate; the boundary test
    `(cum DIV step) > ((cum - pr) DIV step)` is pure integer
    arithmetic on non-negative values, so selection is
    engine-deterministic with no float or RNG anywhere (the
    x_sample_stratified determinism discipline, weighted)."""
    # Pin ONCE at the consumer boundary: x_knn_pagerank is lazy (its
    # 8 rounds chain into one linear plan), and _weighted_pick reads
    # its input twice (running sum + total mass) plus twice more
    # inside global_running_sum — without this pin every consumer
    # would replay the full 8-round chain (measured 1.1 -> 2.4 s when
    # the r13 lazy-chaining change landed without it).
    pr = materialize(x_knn_pagerank(spark, sf_dir))
    return _weighted_pick(pr, "vec_id", "pr_units", _WSAMPLE_K)


def _weighted_pick(
    weights: DataFrame, id_col: str, w_col: str, k: int
) -> DataFrame:
    """Deterministic PPS selection: lay `w_col` mass along the id
    order, pick the row under each multiple of step = total DIV k
    (at least 1). A row is picked iff its half-open mass interval
    (cum - w, cum] contains a step boundary — the pure-integer test
    `(cum DIV step) > ((cum - w) DIV step)` on non-negative values,
    identical under Spark DIV and DuckDB //. Exposed for the
    triangulation property test (tests/test_graph_consumers.py)."""
    from ..functions.order import global_running_sum

    c = global_running_sum(weights, [id_col], w_col, sum_col="cum")
    tot = weights.agg(
        F.greatest(F.expr(f"SUM({w_col}) DIV {k}"), F.lit(1)).alias("__step")
    )
    return (
        c.join(F.broadcast(tot))
        .filter(F.expr(f"(cum DIV __step) > ((cum - {w_col}) DIV __step)"))
        .select(
            F.expr("cum DIV __step").cast("int").alias("pick"),
            id_col,
            w_col,
        )
    )


def _pagerank_round(e: DataFrame, pr: DataFrame, v: DataFrame) -> DataFrame:
    """One damped power-iteration round as a DataFrame transform
    (exposed so tests/test_plans.py can audit the per-round physical
    plan, which the pinned round boundaries otherwise hide)."""
    inflow = (
        e.join(pr, "vec_id")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            F.expr("(85 * pr) DIV (100 * d)").alias("m"),
        )
        .groupBy("vec_id")
        .agg(F.sum("m").alias("m"))
    )
    return v.join(inflow, "vec_id", "left").select(
        "vec_id",
        (F.lit(_PR_BASE) + F.coalesce("m", F.lit(0))).cast("long").alias("pr"),
    )


# ---------------------------------------------------------------------------
# Round-7.2: kNN-graph consumer #4 — triangle counting / clustering
# ---------------------------------------------------------------------------


def _triangle_census(
    spark: SparkSession, scope: str | None, und: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered triangle census over a distinct undirected edge
    list `und(u, v)` with u < v. Returns (deg(node, degree),
    tcnt(node, triangles)); nodes with no edges appear in neither.
    Exposed as a function so tests/test_graph_consumers.py can
    triangulate it against a pure-Python reference on random graphs
    (the LPA/PageRank discipline). `scope`: optional artifact key
    prefix — when given, the degree table and the oriented adjacency
    (pure functions of `und`) are pinned build-once per session
    instead of per call. The memo trusts the key, so a scope must
    uniquely determine `und`: two different edge lists under one
    scope would share the first one's degrees and orientation."""

    def pin(suffix: str, build):
        if scope is None:
            return materialize(build())
        return artifact(spark, f"{scope}:{suffix}", build)

    deg = pin(
        "deg",
        lambda: und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree")),
    )
    e = und.join(
        deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v"
    )
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented edge list low-(degree, id) → high, carrying the dst's
    # order key so the wedge join can pick each dst pair once, in the
    # same orientation the closing edge will have.
    o = pin(
        "oriented",
        lambda: e.select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(low_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        ),
    )
    w1 = o.select("src", F.col("dst").alias("x"), F.col("dd").alias("xd"))
    w2 = o.select("src", F.col("dst").alias("y"), F.col("dd").alias("yd"))
    wedges = w1.join(w2, "src").filter(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("src", "x", "y")
    tcnt = (
        tri.select(F.col("src").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return deg, tcnt


def _triangles_oracle() -> str:
    """Undirected triangle census over the kNN edge list: symmetrize
    to distinct (u < v) pairs, enumerate id-ordered triangles
    a < b < c via two joins, then count per-vertex incidences. The
    oracle states the simple id-ordered semantics; the Spark side
    orients by DEGREE (then id) for bounded wedge fan-out — the
    result is identical because a triangle census does not depend on
    the orientation used to enumerate it. Pure integer counts, so the
    differential is exact; lcc is a final ROUND()ed output."""
    return f"""{_knn_edges_cte()},
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
         GREATEST(vec_id, neighbor_id) AS v FROM knn),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node),
tri AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v AND e2.v > e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
tcnt AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY node)
SELECT x.vec_id, COALESCE(d.degree, 0) AS degree,
  COALESCE(t.triangles, 0) AS triangles,
  CASE WHEN COALESCE(d.degree, 0) >= 2
       THEN ROUND(2.0 * COALESCE(t.triangles, 0)
                  / (d.degree * (d.degree - 1)), 6)
       ELSE 0.0 END AS lcc
FROM v x
LEFT JOIN deg d ON x.vec_id = d.node
LEFT JOIN tcnt t ON x.vec_id = t.node"""


@query("x_knn_triangles", oracle=_triangles_oracle())
def x_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and local clustering coefficient per vector over
    the kNN substrate — the fourth consumer of the shared edge
    artifact (after k-center diversity, LPA communities, PageRank)
    and the standard cohesion diagnostic on it: a high-lcc vector
    sits inside a tight near-duplicate/topical clique (SemDeDup-style
    redundancy — candidates to cap), a high-degree low-lcc vector is
    a hub bridging clusters (exactly what diversity sampling wants to
    keep). Complements LPA: communities NAME the structure,
    triangles measure how dense each neighborhood actually is.

    Scale shape: the classic degree-ordered wedge count (the
    MapReduce triangle-census design from Cohen's "Graph Twiddling in
    a MapReduce World" / Suri-Vassilvitskii's "Counting Triangles and
    the Curse of the Last Reducer"). Symmetrize to distinct
    undirected pairs (one exchange), orient every edge from its
    lower-(degree, id) endpoint to the higher, so each wedge apex
    fans out only over its HIGHER-ordered neighbors — the fan-out
    that bounds per-vertex wedge work at O(sqrt(|E|)) on any graph
    and at ~k here (out-degree ≤ K upstream, in-degree bounded by
    the LSH bucket cap). Each triangle is then found exactly once:
    wedge (apex → x, apex → y with ord(x) < ord(y)) closed by one
    equi-join against the oriented edge list on (x, y). Every
    exchange is keyed (node or edge pair); no all-pairs, nothing
    collects to the driver; counts are pure integers so the
    membership arithmetic is engine-exact (the repo's float-tie
    discipline), and lcc = 2T/(d(d-1)) is a final ROUND()ed double."""
    # The undirected edge set, per-node degrees and the degree-ordered
    # oriented adjacency are pure derivatives of the kNN edge artifact
    # — the canonical triangle-census INDEX — so they are pinned
    # build-once per (session, dataset) like the edge list itself
    # (r14; previously rebuilt per call: distinct + degree groupBy +
    # two degree joins + three checkpoints each run). The wedge join,
    # closing join and counts below stay per-call.
    # The edge artifact is fetched outside the und build so that
    # artifact_build_secs() times each key once: nested, a cold
    # knn_tri_und build would also count the whole edge-list build.
    edges = artifact(
        spark, f"{sf_dir}:knn_edges", lambda: x_knn_graph(spark, sf_dir)
    )
    und = artifact(
        spark,
        f"{sf_dir}:knn_tri_und",
        lambda: edges.select(
            F.least("vec_id", "neighbor_id").alias("u"),
            F.greatest("vec_id", "neighbor_id").alias("v"),
        ).distinct(),
    )
    deg, tcnt = _triangle_census(spark, f"{sf_dir}:knn_tri", und)
    vecs = table(spark, sf_dir, "embeddings").select("vec_id")
    d0 = F.coalesce(F.col("degree"), F.lit(0))
    t0 = F.coalesce(F.col("triangles"), F.lit(0))
    return (
        vecs.join(deg.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .join(tcnt.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            d0.alias("degree"),
            t0.alias("triangles"),
            F.when(
                d0 >= 2,
                F.round(
                    2.0 * t0 / (F.col("degree") * (F.col("degree") - 1)), 6
                ),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 diagnostics: sketch fidelity and corpus shape
# ---------------------------------------------------------------------------

_FID_MOD = 29
# ABSOLUTE doc-id cap on the sample: a purely modular sample grows
# WITH the corpus, and all-pairs on a proportional sample is still
# quadratic in corpus size — the cap bounds it to <=  _FID_CAP/29
# docs (~518 pairs^0.5) at ANY scale.
_FID_CAP = 15000

_FIDELITY_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
           WHERE doc_id % {_FID_MOD} = 0 AND doc_id < {_FID_CAP}),
s AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh,
        list_transform({_SQL_SHINGLES}, s -> md5(s)) AS hs
      FROM t),
sig AS (SELECT doc_id, sh,
        {_sql_minhash(0)} AS h0, {_sql_minhash(1)} AS h1,
        {_sql_minhash(2)} AS h2, {_sql_minhash(3)} AS h3
        FROM s WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
      / (len(a.sh) + len(b.sh)
         - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS true_j,
    (CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END
     + CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END
     + CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END
     + CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) / 4.0 AS est_j
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(ROUND(AVG(ABS(est_j - true_j)), 6) AS DOUBLE) AS mean_abs_err,
  CAST(ROUND(AVG(true_j), 6) AS DOUBLE) AS mean_true,
  CAST(ROUND(AVG(est_j), 6) AS DOUBLE) AS mean_est
FROM pairs
"""


@query("x_minhash_fidelity", oracle=_FIDELITY_ORACLE)
def x_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-fidelity report: mean |minhash-estimated − true| Jaccard
    over all pairs of a deterministic 1/29th (id-capped) document
    sample — the
    honest-approximation dashboard a production near-dup pipeline
    publishes next to its dedup numbers (a 4-component minhash
    estimates Jaccard on a {{0, ¼, ½, ¾, 1}} grid; this query measures
    what that coarseness costs on THIS corpus).

    Scale shape: the all-pairs comparison is quadratic BY DESIGN and
    therefore runs on a deterministic sample with an ABSOLUTE doc-id
    cap — a modular sample alone grows with the corpus and its
    all-pairs would still be quadratic at 100 TB; the cap holds the
    pair count flat at any scale (the corpus-wide machinery stays
    LSH). Signatures
    ride the same md5 slices as x_dedup_minhash, so the estimate
    measured here is exactly the estimator the LSH bands threshold."""
    docs = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % _FID_MOD == 0) & (F.col("doc_id") < _FID_CAP)
    )
    base = (
        docs.select("doc_id", tokens(F.col("text")).alias("__t"))
        .select("doc_id", shingles(F.col("__t")).alias("__sh"))
        .select(
            "doc_id",
            F.array_distinct(F.col("__sh")).alias("sh"),
            shingle_digests(F.col("__sh")).alias("hs"),
        )
    )
    # Pinned before the self-join: both pair sides reuse the computed
    # signatures instead of re-running the tokenize/shingle/md5/minhash
    # lineage per branch (the self-join discipline util.materialize
    # documents).
    sig = materialize(
        base.filter(F.size("sh") > 0).select(
            "doc_id",
            "sh",
            *[
                minhash_component(F.col("hs"), k).alias(f"h{k}")
                for k in range(4)
            ],
        )
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sha"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(4)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("shb"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(4)],
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    true_j = inter.cast("double") / (
        F.size("sha") + F.size("shb") - inter
    )
    est_j = (
        sum(
            F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
            for k in range(4)
        )
        / F.lit(4.0)
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(true_j.alias("true_j"), est_j.alias("est_j"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(F.abs(F.col("est_j") - F.col("true_j"))), 6).alias(
                "mean_abs_err"
            ),
            F.round(F.avg("true_j"), 6).alias("mean_true"),
            F.round(F.avg("est_j"), 6).alias("mean_est"),
        )
    )


# LSH banding tuner: the (rows-per-band, n-bands) grid a 100 TB dedup
# deployment actually chooses between. Components budget ≤ 32 (the
# signature cost ceiling); includes the production 2×2 config.
_LSH_TUNE_GRID = [
    (1, 2), (1, 4), (1, 8),
    (2, 2), (2, 4), (2, 8), (2, 16),
    (4, 2), (4, 4), (4, 8),
    (8, 2), (8, 4),
]


def _lsh_tune_oracle() -> str:
    """Generate the tuner oracle: one UNION ALL block per grid config,
    each computing P(candidate | s) = 1 − (1 − s^r)^b with CHAINED
    left-associated multiplies (never POWER(), whose last-ulp rounding
    is not pinned across engines) so Spark and DuckDB run the identical
    IEEE op sequence on the identical per-pair s."""
    tau = _VERIFY_THRESHOLD
    blocks = []
    for r, b in _LSH_TUNE_GRID:
        sr = " * ".join(["s"] * r)
        qb = " * ".join(["q"] * b)
        blocks.append(f"""
SELECT CAST({r} AS BIGINT) AS rows_per_band,
  CAST({b} AS BIGINT) AS n_bands,
  CAST({r * b} AS BIGINT) AS n_components,
  CAST(SUM(CASE WHEN s >= {tau} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_pairs,
  CAST(SUM(CASE WHEN s < {tau} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_noise_pairs,
  CAST(ROUND(CAST(SUM(CASE WHEN s >= {tau} THEN p_ppm END) AS DOUBLE)
    / NULLIF(COUNT(CASE WHEN s >= {tau} THEN p_ppm END), 0)) AS BIGINT)
    AS exp_recall_ppm,
  CAST(ROUND(CAST(SUM(CASE WHEN s < {tau} THEN p_ppm END) AS DOUBLE)
    / NULLIF(COUNT(CASE WHEN s < {tau} THEN p_ppm END), 0)) AS BIGINT)
    AS exp_noise_ppm
FROM (SELECT s, CAST(ROUND((1.0 - ({qb})) * 1000000.0) AS BIGINT) AS p_ppm
      FROM (SELECT s, (1.0 - ({sr})) AS q FROM j))""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH cand AS ({_MINHASH_ORACLE}),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sets AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t),
j AS (
  SELECT CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
    / (len(a.sh) + len(b.sh)
       - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS s
  FROM cand JOIN sets a ON a.doc_id = cand.doc_a
            JOIN sets b ON b.doc_id = cand.doc_b
)
{body}
"""


@query("x_lsh_tune", oracle=_lsh_tune_oracle())
def x_lsh_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter tuner — the decision table behind the
    (rows-per-band r, bands b) choice every MinHash deployment makes:
    for each budget-feasible config, the expected detect-probability
    S-curve P(candidate | s) = 1 − (1 − s^r)^b evaluated against THIS
    corpus's observed candidate-pair similarity histogram. Per config:
    expected recall over verified near-dups (s ≥ τ, the pairs the
    pipeline must keep catching) and expected noise admission over the
    spurious collisions (s < τ, the verification cost driver), in ppm.

    The pair sample is candidates-conditioned by design: it reuses the
    production pipeline's own LSH candidate pairs plus their exact
    Jaccard (the x_dedup_verified precision stage), so the histogram is
    the one observable a running deployment has. x_minhash_fidelity
    complements with the unconditioned low-s mass from the absolute-
    capped random sample.

    Determinism discipline: s is one double division of exact integer
    set sizes; the S-curve is evaluated with chained left-associated
    multiplies generated per literal config — never pow(), whose
    last-ulp rounding differs across engines — then quantized to
    integer ppm per pair before any aggregation, so both engines
    average identical int64s.

    Scale shape: the pair table is the capped-bucket LSH candidate set
    (linear in corpus size, never all-pairs) read from the pinned
    `cand_jaccard` verify-stage artifact shared with the dedup
    family; the 12-config grid is constant, evaluated as 12×2
    conditional sums inside ONE partial-aggregate pass over the pairs
    (map-side combine → 1-row exchange), then exploded to the 12-row
    report JVM-side. No reference analog (driver mandate extension)."""
    import functools
    import operator

    tau = _VERIFY_THRESHOLD
    pairs = _cand_jaccard(spark, sf_dir).select("s")
    is_dup = F.col("s") >= tau
    aggs = [
        F.sum(F.when(is_dup, 1).otherwise(0)).cast("long").alias("nd"),
        F.sum(F.when(~is_dup, 1).otherwise(0)).cast("long").alias("nn"),
    ]
    for r, b in _LSH_TUNE_GRID:
        sr = functools.reduce(operator.mul, [F.col("s")] * r)
        q = F.lit(1.0) - sr
        qb = functools.reduce(operator.mul, [q] * b)
        p_ppm = F.round((F.lit(1.0) - qb) * 1000000.0).cast("long")
        aggs.append(F.sum(F.when(is_dup, p_ppm)).alias(f"sd_{r}_{b}"))
        aggs.append(F.sum(F.when(~is_dup, p_ppm)).alias(f"sn_{r}_{b}"))
    one = pairs.agg(*aggs)
    rows = [
        F.struct(
            F.lit(r).cast("long").alias("rows_per_band"),
            F.lit(b).cast("long").alias("n_bands"),
            F.lit(r * b).cast("long").alias("n_components"),
            F.col("nd").alias("n_dup_pairs"),
            F.col("nn").alias("n_noise_pairs"),
            F.when(
                F.col("nd") > 0,
                F.round(F.col(f"sd_{r}_{b}").cast("double") / F.col("nd")),
            )
            .cast("long")
            .alias("exp_recall_ppm"),
            F.when(
                F.col("nn") > 0,
                F.round(F.col(f"sn_{r}_{b}").cast("double") / F.col("nn")),
            )
            .cast("long")
            .alias("exp_noise_ppm"),
        )
        for r, b in _LSH_TUNE_GRID
    ]
    return one.select(F.explode(F.array(*rows)).alias("cfg")).select("cfg.*")


_ZIPF_TOP = 1000

_ZIPF_ORACLE = f"""
WITH t AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY term),
top AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk
  FROM g ORDER BY n DESC, term LIMIT {_ZIPF_TOP}),
xy AS (SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
       FROM top)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
  CAST(ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
       / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS DOUBLE)
  AS zipf_slope
FROM xy
"""


@query("x_zipf_slope", oracle=_ZIPF_ORACLE)
def x_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shape diagnostic: the OLS slope of log-frequency vs
    log-rank over the top-1000 terms — natural-language corpora fit
    Zipf's law with slope ≈ −1; a flat slope flags synthetic/templated
    text and a cliff flags boilerplate floods (the eyeball check every
    corpus intake does, as a number).

    Scale shape: term counts are ONE partial-agg shuffle; the top-k is
    TakeOrderedAndProject (never a full vocabulary sort) and the rank
    window runs on the ≤{_ZIPF_TOP}-row result. The regression is a
    closed-form single aggregate of four running sums — no MLlib, no
    iteration."""
    docs = table(spark, sf_dir, "documents")
    g = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    top = g.orderBy(F.col("n").desc(), "term").limit(_ZIPF_TOP)
    w = Window.orderBy(F.col("n").desc(), "term")
    xy = top.withColumn("rnk", F.row_number().over(w)).select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    k = F.count("*")
    return xy.agg(
        F.count("*").alias("n_terms"),
        F.round(
            (k * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (k * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            6,
        ).alias("zipf_slope"),
    )


_OVL_K = 8

_SOURCE_OVERLAP_ORACLE = f"""
WITH t AS (SELECT source, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT DISTINCT source, md5(unnest({_sql_shingles_k(_OVL_K)})) AS d
  FROM t),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g
  GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM g a JOIN g b ON a.d = b.d AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT src_a, src_b, n_shared,
  CAST(ROUND(CAST(n_shared AS DOUBLE)
       / (pa.n_grams + pb.n_grams - n_shared), 6) AS DOUBLE) AS overlap_j
FROM shared
JOIN per_src pa ON pa.source = src_a
JOIN per_src pb ON pb.source = src_b
ORDER BY n_shared DESC, src_a, src_b
"""


@query("x_source_overlap", oracle=_SOURCE_OVERLAP_ORACLE)
def x_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, how many distinct 8-gram spans they share (plus the
    Jaccard of their gram sets) — the forensics report that surfaces
    mirror sites, syndicated boilerplate, and scraped-from-each-other
    feeds BEFORE per-document dedup ever runs.

    Shape at scale: ONE corpus exchange collapses the gram stream
    straight to a row per gram holding its sorted source SET
    (collect_set dedupes, so no separate DISTINCT pass; fan-in bounded
    by |sources|, a catalog-sized dimension) — and pairs come from a
    local HOF expansion of that set, so no corpus-sized frame is ever
    self-joined (the self-join formulation re-shuffled 1.25M rows and
    measured ~15% slower per call even before its extra exchange).
    Both consumers (pair expansion + per-source totals) ride the
    PINNED |grams|-row set table; ≤ |sources|²/2 pairs per gram,
    never corpus². The set table is a BUILD-ONCE artifact (pure
    function of the corpus, like the decontamination gram index): at
    cluster scale it is written at corpus intake and every overlap /
    forensics report probes it — per-call rebuild was the whole 13 s
    sf1 cost of this query (r13 profile), the report over it is
    sub-second."""
    bysrc = artifact(
        spark,
        f"{sf_dir}:ovl_gram_sources",
        lambda: table(spark, sf_dir, "documents")
        .select("source", tokens(F.col("text")).alias("__t"))
        .select(
            "source",
            F.explode(
                shingle_digests(shingles(F.col("__t"), k=_OVL_K))
            ).alias("d"),
        )
        .groupBy("d")
        .agg(F.sort_array(F.collect_set("source")).alias("ss")),
    )
    per_src = (
        bysrc.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_grams"))
    )
    shared = (
        bysrc.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    pa = F.broadcast(
        per_src.select(
            F.col("source").alias("src_a"), F.col("n_grams").alias("na")
        )
    )
    pb = F.broadcast(
        per_src.select(
            F.col("source").alias("src_b"), F.col("n_grams").alias("nb")
        )
    )
    return (
        shared.join(pa, "src_a")
        .join(pb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("overlap_j"),
        )
        .orderBy(F.col("n_shared").desc(), "src_a", "src_b")
    )


def _pipeline_report_oracle() -> str:
    from ..pipelines import (
        LSH_BUCKET_CAP,
        NEAR_DUP_JACCARD,
        QUALITY_MAX_PUNCT_RATIO,
        QUALITY_MIN_TOKENS,
    )

    return f"""
WITH input AS (SELECT doc_id, text FROM documents),
q AS (
  SELECT doc_id, text FROM input
  WHERE len({_SQL_TOKS}) >= {QUALITY_MIN_TOKENS}
  AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      / length(text) <= {QUALITY_MAX_PUNCT_RATIO}),
keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
e AS (SELECT q.doc_id, q.text FROM q JOIN keep USING (doc_id)),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM e),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM t),
dg AS (SELECT doc_id, list_distinct(shingles) AS s,
       {_SQL_DIGESTS} AS hs FROM sh),
sig AS (SELECT doc_id, s,
  {_sql_minhash(0)} AS h0, {_sql_minhash(1)} AS h1,
  {_sql_minhash(2)} AS h2, {_sql_minhash(3)} AS h3
FROM dg),
bands_all AS (
  SELECT doc_id, s, 0 AS bi, h0 || h1 AS bk FROM sig
  UNION ALL
  SELECT doc_id, s, 1 AS bi, h2 || h3 AS bk FROM sig
),
bands AS (
  SELECT doc_id, s, bi, bk FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bi, bk) AS bsz
    FROM bands_all) WHERE bsz <= {LSH_BUCKET_CAP}
),
dup AS (
  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
    ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
    / (len(a.s) + len(b.s)
       - len(list_filter(a.s, x -> list_contains(b.s, x))))
    >= {NEAR_DUP_JACCARD}),
f AS (SELECT e.doc_id FROM e LEFT JOIN dup ON e.doc_id = dup.doc_id
      WHERE dup.doc_id IS NULL)
SELECT CAST((SELECT COUNT(*) FROM input) AS BIGINT) AS n_input,
  CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_quality,
  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_after_exact,
  CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_final,
  CAST(ROUND(CAST((SELECT COUNT(*) FROM f) AS DOUBLE)
       / (SELECT COUNT(*) FROM input), 6) AS DOUBLE) AS retention
"""


@query("x_pipeline_report", oracle=_pipeline_report_oracle())
def x_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline as one oracle-checked query:
    quality gates → exact dedup → LSH near-dedup (pipelines.py's
    actual stage functions, not a reimplementation — the oracle twins
    the full composition, so stage ORDERING and inter-stage contracts
    are differential-tested, not just each stage alone). Output is the
    per-stage survivor funnel every pipeline run logs.

    Scale shape is the pipeline's own (its module docstring): pruning
    first, sketch equi-joins, pinned multi-branch intermediates,
    nothing driver-side. The four counts are 1-row aggregates joined
    by broadcast."""
    from ..pipelines import (
        dedup_exact,
        dedup_near,
        neardup_sketch,
        quality_filter,
    )

    docs = table(spark, sf_dir, "documents")
    # The REAL stage functions still compose the funnel (ordering and
    # inter-stage contracts stay differential-tested against the
    # oracle); r14 slims what flows between them (guide §2.3 "project
    # before the exchange", §5):
    # - the near-dup sketch rides the build-once full-corpus artifact
    #   (a doc's sketch is a pure function of its text, so restricting
    #   the corpus sketch to the survivors' ids is value-identical to
    #   re-sketching them) — the per-call tokenize+shingle+digest pass
    #   was the dominant cost (~5 s of the sf1 profile);
    # - stage pins carry only the columns the counts and the next
    #   stage read (doc_id, text → doc_id), never the full row: the
    #   old full-width q/e checkpoints wrote the corpus text to disk
    #   twice per call.
    sketch = artifact(
        spark, f"neardup_sketch:{sf_dir}", lambda: neardup_sketch(docs)
    )
    q = materialize(quality_filter(docs).select("doc_id", "text"))
    e = materialize(dedup_exact(q).select("doc_id"))
    f = dedup_near(e, sketch=sketch)
    n_input = docs.agg(F.count("*").alias("n_input"))
    n_quality = q.agg(F.count("*").alias("n_quality"))
    n_exact = e.agg(F.count("*").alias("n_after_exact"))
    n_final = f.agg(F.count("*").alias("n_final"))
    return (
        n_input.join(F.broadcast(n_quality))
        .join(F.broadcast(n_exact))
        .join(F.broadcast(n_final))
        .select(
            "n_input",
            "n_quality",
            "n_after_exact",
            "n_final",
            F.round(
                F.col("n_final").cast("double") / F.col("n_input"), 6
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: markup -> main-text extraction (stage 0)
# ---------------------------------------------------------------------------

from ..functions import extract as _ex  # noqa: E402  (section-local import)

_EXTRACT_ORACLE = f"""
WITH pages AS (SELECT doc_id, {_ex.sql_synth_html()} AS html FROM documents),
blk AS (SELECT doc_id, {_ex.sql_page_block_stats('html')} AS bl FROM pages),
k AS (SELECT doc_id, len(bl) AS n_blocks,
        list_filter(bl, t -> {_ex.sql_keep_stat('t')}) AS kept FROM blk),
m AS (SELECT doc_id, n_blocks, len(kept) AS n_kept,
        array_to_string(list_transform(kept, t -> t['s']), ' ') AS main FROM k)
SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
  CAST(n_kept AS BIGINT) AS n_kept,
  CAST({_ex.sql_word_count('main')} AS BIGINT) AS n_words_main,
  md5(main) AS main_md5
FROM m
"""


@query("x_extract_text", oracle=_EXTRACT_ORACLE)
def x_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup -> main-text extraction, every web pipeline's stage 0:
    drop <script>/<style> payloads, split the page into blocks at
    closing block tags, keep blocks by CONTENT heuristics (word count
    >= 10, link-text chars x3 < visible chars) rather than tag names —
    nav bars, footers, and ad inserts die on link density / brevity,
    the trafilatura-style rule that transfers to unseen layouts. The
    corpus has no markup column, so pages are synthesized
    DETERMINISTICALLY around each document (functions/extract.py) and
    the oracle replays both synthesis and extraction from the same
    constants.

    Scale shape: pure per-row regexp + higher-order array expressions
    — whole-stage codegen, ZERO shuffles at any corpus size; the
    extracted text is emitted as an md5 so the compare stays compact.
    No reference analog (driver mandate extension)."""
    docs = table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", _ex.synth_html(F.col("text"), F.col("doc_id")).alias("html")
    )
    blk = pages.select(
        "doc_id", _ex.page_block_stats(F.col("html")).alias("bl")
    )
    k = blk.select(
        "doc_id",
        F.size("bl").cast("long").alias("n_blocks"),
        F.filter("bl", _ex.keep_stat).alias("kept"),
    )
    m = k.select(
        "doc_id",
        "n_blocks",
        F.size("kept").cast("long").alias("n_kept"),
        F.array_join(
            F.transform("kept", lambda t: t["s"]), " "
        ).alias("main"),
    )
    return m.select(
        "doc_id",
        "n_blocks",
        "n_kept",
        _ex.word_count(F.col("main")).cast("long").alias("n_words_main"),
        F.md5(F.col("main").cast("binary")).alias("main_md5"),
    )


# ---------------------------------------------------------------------------
# Round-7.2: T5-style span corruption (deterministic masking prep)
# ---------------------------------------------------------------------------

# Span-start selection is pure integer arithmetic both engines evaluate
# bit-identically (the x_fingerprint discipline — no RNG, no engine
# hash): word position p starts a masked span iff
# (doc_id*1000003 + p*7919) % _MASK_MOD == 0. With mod 20 (5% starts)
# and span length 3 the expected corruption rate is ~15%, the T5
# default. All operands stay non-negative so % == pmod in both engines.
_MASK_MOD = 20
_MASK_SPAN = 3


def _mask_start_sql(p: str) -> str:
    return f"((doc_id * 1000003 + ({p}) * 7919) % {_MASK_MOD}) = 0"


def _mask_any_sql(offsets: range) -> str:
    """True iff any span start falls within `offsets` positions back."""
    terms = []
    for o in offsets:
        guard = f"pos0 >= {o} AND " if o > 0 else ""
        terms.append(f"({guard}{_mask_start_sql(f'pos0 - {o}')})")
    return "(" + " OR ".join(terms) + ")"


_MASKED_SQL = _mask_any_sql(range(0, _MASK_SPAN))
_PREV_MASKED_SQL = _mask_any_sql(range(1, _MASK_SPAN + 1))
_NEW_SPAN_SQL = f"({_MASKED_SQL} AND NOT {_PREV_MASKED_SQL})"

_SPAN_MASK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos0, unnest(ws) AS word
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents WHERE length(trim(text)) > 0)),
f AS (
  SELECT doc_id, pos0, word,
    {_MASKED_SQL} AS masked, {_NEW_SPAN_SQL} AS new_span
  FROM w),
s AS (
  SELECT *, CAST(SUM(CASE WHEN new_span THEN 1 ELSE 0 END) OVER (
      PARTITION BY doc_id ORDER BY pos0
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM f),
p AS (
  SELECT doc_id, pos0, masked, new_span,
    CASE WHEN NOT masked THEN word
         WHEN new_span THEN '<extra_id_' || CAST(cum - 1 AS VARCHAR) || '>'
    END AS input_piece,
    CASE WHEN new_span
           THEN '<extra_id_' || CAST(cum - 1 AS VARCHAR) || '> ' || word
         WHEN masked THEN word
    END AS target_piece
  FROM s)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(COUNT(CASE WHEN masked THEN 1 END) AS BIGINT) AS n_masked,
  CAST(COUNT(CASE WHEN new_span THEN 1 END) AS BIGINT) AS n_spans,
  COALESCE(string_agg(input_piece, ' ' ORDER BY pos0), '') AS input_text,
  COALESCE(string_agg(target_piece, ' ' ORDER BY pos0), '') AS target_text
FROM p GROUP BY doc_id
"""


@query("x_span_mask", oracle=_SPAN_MASK_ORACLE)
def x_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span corruption — the denoising-objective prep
    step: ~15% of each document's words are masked in contiguous spans
    (5% deterministic span starts × span length 3), each span replaced
    in the INPUT by a numbered sentinel and emitted in the TARGET as
    the sentinel followed by the original words — exactly the
    (input, target) pair a span-corruption trainer consumes. Span
    selection is pure integer arithmetic on (doc_id, position), so the
    corruption is reproducible across runs, engines and restarts — a
    property production pipelines need so a re-run doesn't silently
    train on differently-masked data.

    Scale shape: everything is per-document — posexplode, per-row
    mask/new-span predicates (evaluated by shifting the CLOSED-FORM
    start test, so membership needs no window), ONE doc-keyed window
    for the sentinel numbering and ONE doc-keyed aggregation that the
    same exchange serves; span reassembly is array_sort over per-doc
    collected pieces (bounded by doc length). No corpus-wide state,
    no RNG, no Python rows."""
    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    w = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "word")
    )
    f = w.select(
        "doc_id",
        "pos0",
        "word",
        F.expr(_MASKED_SQL).alias("masked"),
        F.expr(_NEW_SPAN_SQL).alias("new_span"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = f.withColumn(
        "cum",
        F.sum(F.when(F.col("new_span"), 1).otherwise(0)).over(win).cast("long"),
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("cum") - 1).cast("string"), F.lit(">")
    )
    p = s.select(
        "doc_id",
        "pos0",
        "masked",
        "new_span",
        F.when(~F.col("masked"), F.col("word"))
        .when(F.col("new_span"), sentinel)
        .alias("input_piece"),
        F.when(
            F.col("new_span"), F.concat(sentinel, F.lit(" "), F.col("word"))
        )
        .when(F.col("masked"), F.col("word"))
        .alias("target_piece"),
    )

    def _joined(piece: str) -> Column:
        lst = F.collect_list(
            F.when(
                F.col(piece).isNotNull(), F.struct("pos0", F.col(piece))
            )
        )
        return F.concat_ws(
            " ", F.transform(F.array_sort(lst), lambda t: t[piece])
        )

    return p.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.count(F.when(F.col("masked"), 1)).cast("long").alias("n_masked"),
        F.count(F.when(F.col("new_span"), 1)).cast("long").alias("n_spans"),
        _joined("input_piece").alias("input_text"),
        _joined("target_piece").alias("target_text"),
    )


# ---------------------------------------------------------------------------
# Round-7.2: corpus snapshot diff (incremental-crawl bookkeeping)
# ---------------------------------------------------------------------------

# Two deterministic snapshots of the documents table: OLD holds
# doc_id % 10 < 8, NEW holds doc_id % 10 >= 2 (60% overlap — adds,
# removes and carries), and NEW revises the text of every doc_id % 5
# == 0 survivor (simulated recrawl edit).
_DIFF_OLD = "doc_id % 10 < 8"
_DIFF_NEW = "doc_id % 10 >= 2"
_DIFF_EDIT = "doc_id % 5 = 0"

_CORPUS_DIFF_ORACLE = f"""
WITH old AS (SELECT doc_id, source, text FROM documents WHERE {_DIFF_OLD}),
new AS (SELECT doc_id, source,
          CASE WHEN {_DIFF_EDIT} THEN text || ' [v2]' ELSE text END AS text
        FROM documents WHERE {_DIFF_NEW}),
d AS (
  SELECT COALESCE(o.source, n.source) AS source,
    CASE WHEN o.doc_id IS NULL THEN 'added'
         WHEN n.doc_id IS NULL THEN 'removed'
         WHEN o.text = n.text THEN 'unchanged'
         ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT source,
  CAST(COUNT(CASE WHEN status = 'added' THEN 1 END) AS BIGINT) AS n_added,
  CAST(COUNT(CASE WHEN status = 'removed' THEN 1 END) AS BIGINT) AS n_removed,
  CAST(COUNT(CASE WHEN status = 'changed' THEN 1 END) AS BIGINT) AS n_changed,
  CAST(COUNT(CASE WHEN status = 'unchanged' THEN 1 END) AS BIGINT)
    AS n_unchanged
FROM d GROUP BY source
"""


@query("x_corpus_diff", oracle=_CORPUS_DIFF_ORACLE)
def x_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the bookkeeping step of every
    incremental crawl/refresh: compare the previous corpus snapshot
    to the new one and report, per source, how many documents were
    added, removed, changed, and carried unchanged — the table that
    decides which downstream stages (dedup, tokenize, shard) must
    re-run and which can ride their caches. Snapshots here are
    deterministic slices of the documents table with a simulated
    recrawl edit, so the differential exercises all four statuses.

    Scale shape: one doc_id-keyed FULL OUTER join (sort-merge — both
    sides are corpus-sized by nature; at 100 TB the snapshots are
    partition-pruned to the shards a crawl actually touched) and one
    partial-agg rollup to |sources| rows. Change detection compares
    text equality directly; a production run compares stored content
    fingerprints (`x_fingerprint`) so the old snapshot never re-reads
    payloads — the join/rollup shape is identical."""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.expr(_DIFF_OLD)).select("doc_id", "source", "text")
    new = docs.filter(F.expr(_DIFF_NEW)).select(
        "doc_id",
        "source",
        F.when(
            F.expr(_DIFF_EDIT), F.concat(F.col("text"), F.lit(" [v2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.text") == F.col("n.text"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        d.select(
            F.coalesce(F.col("o.source"), F.col("n.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source")
        .agg(
            *[
                F.count(F.when(F.col("status") == s, 1))
                .cast("long")
                .alias(f"n_{s}")
                for s in ("added", "removed", "changed", "unchanged")
            ]
        )
    )


# ---------------------------------------------------------------------------
# Round-7.2: retrieval-training pair mining + embedding storage compression
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
{_knn_edges_cte()},
m AS (SELECT vec_id, MAX(rnk) AS mr FROM knn GROUP BY vec_id
      HAVING MAX(rnk) > 1)
SELECT e1.vec_id, e1.neighbor_id AS pos_id, e1.score AS pos_score,
       e2.neighbor_id AS neg_id, e2.score AS neg_score
FROM knn e1
JOIN m ON e1.vec_id = m.vec_id AND e1.rnk = 1
JOIN knn e2 ON e2.vec_id = m.vec_id AND e2.rnk = m.mr
"""


@query("x_hard_negatives", oracle=_HARDNEG_ORACLE)
def x_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining on the kNN substrate: per
    anchor vector, the POSITIVE is its nearest neighbor and the HARD
    NEGATIVE is the farthest vector still inside its top-k list — the
    near-the-decision-boundary sample that makes bi/cross-encoder
    fine-tuning converge (random negatives are too easy; the k-th
    neighbor is "close enough to confuse"), the standard DPR/sentence-
    transformers mining recipe. Anchors with fewer than two neighbors
    drop (no pair to form).

    Scale shape: ONE partial-agg pass over the pinned kNN edge
    artifact — rnk is unique per (vec, edge), so min/max over
    (rnk, neighbor, score) structs select both pair members
    deterministically in the same aggregation; no window, no
    self-join, no all-pairs anywhere (the edge list itself is the
    LSH-bounded x_knn_graph build, shared across all graph
    consumers)."""
    e = artifact(
        spark, f"{sf_dir}:knn_edges", lambda: x_knn_graph(spark, sf_dir)
    )
    s = F.struct("rnk", "neighbor_id", "score")
    return (
        e.groupBy("vec_id")
        .agg(F.min(s).alias("p"), F.max(s).alias("n"))
        .filter(F.col("n.rnk") > 1)
        .select(
            "vec_id",
            F.col("p.neighbor_id").alias("pos_id"),
            F.col("p.score").alias("pos_score"),
            F.col("n.neighbor_id").alias("neg_id"),
            F.col("n.score").alias("neg_score"),
        )
    )


# int8 scalar quantization (faiss SQ8): per-dimension min/max trained
# on the corpus, values mapped to 0..255 codes. All arithmetic runs in
# integer MICRO-UNITS (floor(x*1e6)) so codes and reconstruction error
# are bit-identical across engines — float32 inputs widen to double
# identically in both, and floor/DIV are exact from there.
_SQ_LEVELS = 255
_SQ_SCALE = 1_000_000


def _sq_oracle() -> str:
    return f"""
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_SQ_SCALE}) AS BIGINT)
      AS xi
  FROM embeddings),
st AS (SELECT dim, MIN(xi) AS mni, MAX(xi) AS mxi FROM d GROUP BY dim),
stats AS (SELECT list(mni ORDER BY dim) AS mn, list(mxi ORDER BY dim) AS mx
          FROM st),
enc AS (
  SELECT vec_id,
    list_transform(range(1, len(embedding) + 1), i ->
      CASE WHEN mx[i] = mn[i] THEN 0
           ELSE ((CAST(floor(CAST(embedding[i] AS DOUBLE) * {_SQ_SCALE})
                       AS BIGINT) - mn[i])
                 * {_SQ_LEVELS}) // (mx[i] - mn[i]) END) AS codes,
    list_transform(range(1, len(embedding) + 1), i ->
      CAST(floor(CAST(embedding[i] AS DOUBLE) * {_SQ_SCALE}) AS BIGINT))
      AS xi,
    mn, mx
  FROM embeddings, stats)
SELECT vec_id,
  array_to_string(codes, ' ') AS codes_str,
  CAST(list_sum(list_transform(range(1, len(codes) + 1), i ->
    abs(xi[i] - (mn[i] + (codes[i] * (mx[i] - mn[i])) // {_SQ_LEVELS}))))
    AS BIGINT) AS sum_abs_err_micro
FROM enc
"""


@query("x_embedding_quantize", oracle=_sq_oracle())
def x_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus (faiss SQ8):
    train per-dimension min/max on the corpus, map every value to a
    0..255 code, and report each vector's total reconstruction error —
    the storage-compression lane of the similarity stack (4× smaller
    than float32, decoded on the fly at query time), complementing PQ
    (`x_ann_pq` — subspace codebooks) with the simpler, higher-
    fidelity per-dimension codec real vector stores default to.

    Scale shape: ONE posexplode pass trains the |dims|-row min/max
    table (partial-agg friendly — 64 groups); the trained ranges
    collapse to a single broadcast row of arrays, and encoding +
    error run per-vector inside whole-stage codegen as higher-order
    array transforms (no second shuffle, no UDF). Integer micro-unit
    arithmetic end to end: floor-to-micros, integer DIV quantize and
    dequantize, so the differential machine-checks codes AND
    reconstruction error bit-exactly — the honest-approximation
    discipline (x_minhash_fidelity) applied to a codec."""
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "dim0",
        F.floor(F.col("x").cast("double") * _SQ_SCALE).cast("long").alias("xi"),
    )
    st = d.groupBy("dim0").agg(
        F.min("xi").alias("mni"), F.max("xi").alias("mxi")
    )
    stats = st.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("dim0", "mni", "mxi"))
        ).alias("s")
    ).select(
        F.transform("s", lambda t: t["mni"]).alias("mn"),
        F.transform("s", lambda t: t["mxi"]).alias("mx"),
    )
    enc = emb.join(F.broadcast(stats)).select(
        "vec_id",
        F.expr(
            f"transform(embedding, (x, i) -> CASE WHEN mx[i] = mn[i] THEN 0L "
            f"ELSE ((CAST(floor(CAST(x AS DOUBLE) * {_SQ_SCALE}) AS BIGINT) - mn[i]) "
            f"* {_SQ_LEVELS}) DIV (mx[i] - mn[i]) END)"
        ).alias("codes"),
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_SQ_SCALE}) AS BIGINT))"
        ).alias("xi"),
        "mn",
        "mx",
    )
    return enc.select(
        "vec_id",
        F.array_join("codes", " ").alias("codes_str"),
        F.expr(
            f"aggregate(zip_with(xi, zip_with(codes, zip_with(mn, mx, "
            f"(a, b) -> struct(a AS mn, b AS mx)), "
            f"(c, s) -> s.mn + (c * (s.mx - s.mn)) DIV {_SQ_LEVELS}), "
            f"(v, r) -> abs(v - r)), 0L, (acc, e) -> acc + e)"
        ).cast("long").alias("sum_abs_err_micro"),
    )


# ---------------------------------------------------------------------------
# Round-7.2: leakage-aware train/val/test split
# ---------------------------------------------------------------------------

# Split fractions via the first hex digit of a seeded md5 (identical
# in both engines): 0-9,a,b -> train (12/16), c,d -> val, e,f -> test.
_SPLIT_SEED = "split:"
_SPLIT_CASE = (
    "CASE WHEN __h <= 'b' THEN 'train' "
    "WHEN __h <= 'd' THEN 'val' ELSE 'test' END"
)

_TRAIN_SPLIT_ORACLE = f"""
WITH clusters AS ({_CLUSTERS_ORACLE}),
d AS (
  SELECT doc.source,
    COALESCE(c.canonical_id, doc.doc_id) AS cid, doc.n_chars
  FROM documents doc LEFT JOIN clusters c USING (doc_id)),
s AS (
  SELECT source, cid, n_chars, {_SPLIT_CASE} AS split
  FROM (SELECT *, substring(md5('{_SPLIT_SEED}' || CAST(cid AS VARCHAR)),
                            1, 1) AS __h FROM d))
SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM s GROUP BY split, source
"""


@query("x_train_split", oracle=_TRAIN_SPLIT_ORACLE)
def x_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware train/val/test split — the assignment is made per
    NEAR-DUP CLUSTER, not per document: every document inherits its
    cluster canonical's seeded-hash split, so two near-duplicates can
    never land on opposite sides of the train/eval boundary (the
    classic contamination leak a naive per-doc split causes — the
    eval set silently contains paraphrases of training docs).
    Singleton docs are their own cluster. Reports per (split, source)
    document, cluster and char counts; hash-based assignment makes
    the split reproducible across runs, engines and corpus growth
    (adding documents never reassigns existing clusters).

    Scale shape: the cluster label table comes from the shared
    verified-pair artifact + log-round connected components
    (`x_dedup_clusters` machinery); one doc_id-keyed left join
    attaches labels (label table is pair-graph-sized — Catalyst
    broadcasts it when small, shuffles when a dup-heavy corpus grows
    it), then ONE rollup with a two-level distinct on cluster id.
    The no-cluster-spans-splits invariant holds by construction —
    split is a pure function of cid — and the differential re-derives
    it independently."""
    docs = table(spark, sf_dir, "documents")
    labels = x_dedup_clusters(spark, sf_dir)
    d = docs.join(labels, "doc_id", "left").select(
        "source",
        F.coalesce("canonical_id", "doc_id").alias("cid"),
        "n_chars",
    )
    s = d.withColumn(
        "__h",
        F.md5(
            F.concat(F.lit(_SPLIT_SEED), F.col("cid").cast("string")).cast(
                "binary"
            )
        ).substr(1, 1),
    ).withColumn("split", F.expr(_SPLIT_CASE))
    return s.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("cid").cast("long").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Round-7.3: composed TRAINING-PREP pipeline (the second composition)
# ---------------------------------------------------------------------------


def _prep_pipeline_oracle() -> str:
    from ..pipelines import QUALITY_MAX_PUNCT_RATIO, QUALITY_MIN_TOKENS

    return f"""
WITH input AS (SELECT doc_id, source, n_chars, text FROM documents),
q AS (
  SELECT doc_id, source, n_chars, text FROM input
  WHERE len({_SQL_TOKS}) >= {QUALITY_MIN_TOKENS}
  AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      / length(text) <= {QUALITY_MAX_PUNCT_RATIO}),
train AS (SELECT * FROM q WHERE doc_id % {_DECON_MOD} <> 0),
tq AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM train),
gq AS (SELECT doc_id, md5(s) AS g FROM (
  SELECT doc_id, unnest({_sql_shingles_k(_DECON_K)}) AS s FROM tq)),
tb AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
       WHERE doc_id % {_DECON_MOD} = 0),
bench AS (SELECT DISTINCT md5(s) AS g FROM (
  SELECT unnest({_sql_shingles_k(_DECON_K)}) AS s FROM tb)),
hits AS (SELECT DISTINCT gq.doc_id FROM gq JOIN bench USING (g)),
clean AS (SELECT t.* FROM train t LEFT JOIN hits h USING (doc_id)
          WHERE h.doc_id IS NULL),
clusters AS ({_CLUSTERS_ORACLE}),
sp AS (
  SELECT 'split_' || {_SPLIT_CASE} AS stage, n_chars FROM (
    SELECT c.n_chars,
      substring(md5('{_SPLIT_SEED}' ||
        CAST(COALESCE(cl.canonical_id, c.doc_id) AS VARCHAR)), 1, 1) AS __h
    FROM clean c LEFT JOIN clusters cl USING (doc_id)))
SELECT 'a_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM input
UNION ALL SELECT 'b_quality', CAST(COUNT(*) AS BIGINT),
  CAST(SUM(n_chars) AS BIGINT) FROM q
UNION ALL SELECT 'c_train_pool', CAST(COUNT(*) AS BIGINT),
  CAST(SUM(n_chars) AS BIGINT) FROM train
UNION ALL SELECT 'd_decontaminated', CAST(COUNT(*) AS BIGINT),
  CAST(SUM(n_chars) AS BIGINT) FROM clean
UNION ALL SELECT stage, CAST(COUNT(*) AS BIGINT),
  CAST(SUM(n_chars) AS BIGINT) FROM sp GROUP BY stage
"""


@query("x_prep_pipeline", oracle=_prep_pipeline_oracle())
def x_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND composed pipeline: training-set PREPARATION end to
    end — quality gates → benchmark decontamination (bench docs and
    every training doc sharing a 4-gram with them removed) →
    leakage-aware cluster split — emitting the stage funnel plus
    per-split totals a run would publish as its manifest. Like
    x_pipeline_report (the dedup chain), the point is differential-
    testing the COMPOSITION: stage ordering and inter-stage contracts
    (quality runs before gram hashing so pruned docs never pay it;
    the bench gram blocklist comes from the FULL corpus because
    benchmark registration is independent of training-side filters;
    split labels ride corpus-level near-dup clusters so filtering
    can't re-partition a cluster across splits).

    Scale shape composes the stages' own: the quality gate prunes
    in-scan; the bench gram set rides the SAME build-once artifact as
    x_decontaminate (broadcast to a semi-join — the training side
    never shuffles for it); cluster labels ride the shared verified-
    pair artifact + log-round components; survivors are PINNED before
    fan-out to their count branch and the split rollup (the
    x_pipeline_report discipline). Stage rows are 1-row broadcast
    aggregates; only the split rollup shuffles, keyed by split."""
    from ..pipelines import quality_filter

    docs = table(spark, sf_dir, "documents")
    q = materialize(
        quality_filter(docs).select("doc_id", "source", "n_chars", "text")
    )
    train = q.filter(F.col("doc_id") % _DECON_MOD != 0)
    # Contamination hits ride the SHARED pinned corpus gram table
    # (_gram4_table) instead of re-tokenizing the quality-filtered
    # train pool per run (the 4.5 s/run sf1 recompute, r13 profile).
    # Equivalent set: gram membership is quality-independent, so
    # hits_all ∩ train == hits-from-train-grams, and the left_anti
    # below only ever removes rows already in train.
    bench = _bench_gram_set(spark, sf_dir)
    hits = (
        _gram4_table(spark, sf_dir)
        .filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = materialize(train.join(hits, "doc_id", "left_anti"))
    labels = x_dedup_clusters(spark, sf_dir)
    sp = (
        clean.join(labels, "doc_id", "left")
        .select(
            "n_chars",
            F.md5(
                F.concat(
                    F.lit(_SPLIT_SEED),
                    F.coalesce("canonical_id", "doc_id").cast("string"),
                ).cast("binary")
            )
            .substr(1, 1)
            .alias("__h"),
        )
        .select(
            F.concat(F.lit("split_"), F.expr(_SPLIT_CASE)).alias("stage"),
            "n_chars",
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )

    def stage_row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        ).select(F.lit(name).alias("stage"), "n_docs", "n_chars")

    out = stage_row("a_input", docs)
    for name, df in (
        ("b_quality", q),
        ("c_train_pool", train),
        ("d_decontaminated", clean),
    ):
        out = out.unionAll(stage_row(name, df))
    return out.unionAll(sp)


# ---------------------------------------------------------------------------
# Text analysis: model-based quality scoring + readability + vocabulary
# coverage (round 8)
# ---------------------------------------------------------------------------

# Fixed public weights of the linear quality model (micro-units per
# ppm/feature unit). A trained classifier (fastText-style) slots in
# behind the same contract: integer feature extraction stays identical,
# only the weight vector changes.
_QC_BIAS = -2_000_000
_QC_W_STOP = 6       # per ppm of stopword share
_QC_W_TTR = 2        # per ppm of type-token ratio
_QC_W_LEN = 3_000    # per token, capped at 200
_QC_LEN_CAP = 200
_QC_AWL_TARGET = 5_800_000  # ideal avg word length, micro-chars
_QC_W_PUNCT = 3      # per ppm of punctuation density (penalty)


@query(
    "x_quality_classifier",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), f AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_toks,
    CAST((len(list_filter(toks, x -> list_contains({_STOPWORDS!r}, x)))
      * 1000000) // len(toks) AS BIGINT) AS stop_ppm,
    CAST((len(list_distinct(toks)) * 1000000) // len(toks) AS BIGINT)
      AS ttr_ppm,
    CAST((length(text) * 1000000) // len(toks) AS BIGINT) AS awl_micro,
    CAST((len(regexp_extract_all(text, '{_PUNCT_RE}')) * 1000000)
      // greatest(length(text), 1) AS BIGINT) AS punct_ppm
  FROM t
), s AS (
  SELECT *,
    CAST({_QC_BIAS} + {_QC_W_STOP} * stop_ppm + {_QC_W_TTR} * ttr_ppm
      + {_QC_W_LEN} * least(n_toks, {_QC_LEN_CAP})
      - abs(awl_micro - {_QC_AWL_TARGET}) // 4
      - {_QC_W_PUNCT} * punct_ppm AS BIGINT) AS logit_micro
  FROM f
)
SELECT doc_id, n_toks, stop_ppm, ttr_ppm, awl_micro, logit_micro,
  ROUND(1.0 / (1.0 + exp(-(CAST(logit_micro AS DOUBLE) / 1000000.0))), 6)
    AS score,
  CAST(logit_micro >= 0 AS INTEGER) AS keep
FROM s
""",
)
def x_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the classifier stage that sits
    after `x_text_quality`'s raw signals in a FineWeb/DCLM-style
    curation pipeline: a linear model over engineered features
    (stopword share, type-token ratio, length, word-length deviation,
    punctuation density) producing a calibrated keep-probability per
    document. The model here is a fixed public weight vector so the
    differential can be exact; a trained fastText/regression head is a
    drop-in behind the same integer feature contract.

    Determinism discipline: every feature is an exact integer (counts,
    and parts-per-million shares via integer DIV), the logit is an
    exact integer micro-unit sum, and the keep verdict is an integer
    threshold compare — so the decision can never flip on a float ulp
    between engines. Doubles appear only in the final sigmoid, rounded
    to 6 dp for display.

    Scale shape: a pure per-row projection — zero exchanges, full
    whole-stage codegen, filters push to the parquet scan. At 100 TB
    this is the cheapest possible operator class: embarrassment-level
    parallel, no shuffle, no state."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    n_toks = F.size("toks")
    # Widen the counts to long BEFORE the ×1e6 scale-up: int32 × int32
    # stays int32 in Spark and would wrap for a >2147-hit document,
    # while DuckDB auto-widens — a silent cross-engine divergence on
    # huge docs (the c_moments_mergeable overflow discipline).
    f = t.select(
        "doc_id",
        n_toks.alias("n_toks"),
        (stopword_count(F.col("toks"), _STOPWORDS).cast("long") * 1000000)
        .alias("__stop_hits"),
        (F.size(F.array_distinct("toks")).cast("long") * 1000000).alias("__ttr"),
        (F.length("text").cast("long") * 1000000).alias("__chars"),
        (F.regexp_count("text", F.lit(_PUNCT_RE)).cast("long") * 1000000)
        .alias("__punct"),
        F.greatest(F.length("text"), F.lit(1)).alias("__len1"),
    ).select(
        "doc_id",
        "n_toks",
        F.expr("__stop_hits DIV n_toks").alias("stop_ppm"),
        F.expr("__ttr DIV n_toks").alias("ttr_ppm"),
        F.expr("__chars DIV n_toks").alias("awl_micro"),
        F.expr("__punct DIV __len1").alias("punct_ppm"),
    )
    logit = (
        F.lit(_QC_BIAS)
        + F.lit(_QC_W_STOP) * F.col("stop_ppm")
        + F.lit(_QC_W_TTR) * F.col("ttr_ppm")
        + F.lit(_QC_W_LEN) * F.least(F.col("n_toks"), F.lit(_QC_LEN_CAP))
        - F.expr(f"abs(awl_micro - {_QC_AWL_TARGET}) DIV 4")
        - F.lit(_QC_W_PUNCT) * F.col("punct_ppm")
    ).cast("long")
    s = f.withColumn("logit_micro", logit)
    return s.select(
        "doc_id",
        "n_toks",
        "stop_ppm",
        "ttr_ppm",
        "awl_micro",
        "logit_micro",
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("logit_micro").cast("double") / F.lit(1000000.0)))),
            6,
        ).alias("score"),
        (F.col("logit_micro") >= 0).cast("int").alias("keep"),
    )


_KEEPBEST_ORACLE = f"""
WITH RECURSIVE pairs AS ({_VERIFIED_ORACLE}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT reach.doc_id, e.d FROM reach JOIN edges e ON e.s = reach.r
),
clusters AS (
  SELECT doc_id, CAST(MIN(r) AS BIGINT) AS canonical_id
  FROM reach GROUP BY doc_id
),
t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_toks,
    CAST((len(list_filter(toks, x -> list_contains({_STOPWORDS!r}, x)))
      * 1000000) // len(toks) AS BIGINT) AS stop_ppm,
    CAST((len(list_distinct(toks)) * 1000000) // len(toks) AS BIGINT)
      AS ttr_ppm,
    CAST((length(text) * 1000000) // len(toks) AS BIGINT) AS awl_micro,
    CAST((len(regexp_extract_all(text, '{_PUNCT_RE}')) * 1000000)
      // greatest(length(text), 1) AS BIGINT) AS punct_ppm
  FROM t
),
q AS (
  SELECT doc_id,
    CAST({_QC_BIAS} + {_QC_W_STOP} * stop_ppm + {_QC_W_TTR} * ttr_ppm
      + {_QC_W_LEN} * least(n_toks, {_QC_LEN_CAP})
      - abs(awl_micro - {_QC_AWL_TARGET}) // 4
      - {_QC_W_PUNCT} * punct_ppm AS BIGINT) AS logit_micro
  FROM f
),
j AS (
  SELECT c.canonical_id, c.doc_id, q.logit_micro
  FROM clusters c JOIN q ON q.doc_id = c.doc_id
),
mx AS (
  SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS n_members,
    MAX(logit_micro) AS keep_logit_micro
  FROM j GROUP BY canonical_id
),
pick AS (
  SELECT j.canonical_id, CAST(MIN(j.doc_id) AS BIGINT) AS keep_doc
  FROM j JOIN mx ON mx.canonical_id = j.canonical_id
   AND j.logit_micro = mx.keep_logit_micro
  GROUP BY j.canonical_id
)
SELECT mx.canonical_id, mx.n_members, pick.keep_doc,
  mx.keep_logit_micro,
  CAST(pick.keep_doc <> mx.canonical_id AS INTEGER) AS quality_override
FROM mx JOIN pick ON pick.canonical_id = mx.canonical_id
"""


@query("x_dedup_keepbest", oracle=_KEEPBEST_ORACLE)
def x_dedup_keepbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup survivor selection — KEEP-BEST instead of
    keep-lowest-id: per near-dup cluster, the member with the highest
    model quality score (x_quality_classifier's exact integer logit,
    ties to the smaller doc_id) wins; `quality_override` flags the
    clusters where that survivor differs from the min-id canonical —
    the direct measure of what id-based dedup throws away. This is the
    policy production pipelines actually run (keep the cleanest copy
    of a duplicated page, not the first-crawled one); composing the CC
    cluster labels with the classifier keeps ONE selection semantics
    across both.

    Determinism discipline: the quality key is the classifier's exact
    integer logit (no float enters the argmax) and the pick is a
    two-step MAX-then-MIN — any engine computes the identical winner.

    Scale shape: cluster labels ride the log-diameter CC machinery on
    the pinned pair artifact; the classifier is a zero-exchange
    projection; the argmax is two slim partial aggregations keyed on
    canonical_id (one row per cluster) plus a doc_id-keyed join that
    only ever carries pair-graph nodes — never the whole corpus."""
    labels = x_dedup_clusters(spark, sf_dir)
    q = x_quality_classifier(spark, sf_dir).select("doc_id", "logit_micro")
    j = labels.join(q, "doc_id")
    mx = j.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("logit_micro").alias("keep_logit_micro"),
    )
    pick = (
        j.join(mx, "canonical_id")
        .filter(F.col("logit_micro") == F.col("keep_logit_micro"))
        .groupBy("canonical_id")
        .agg(F.min("doc_id").alias("keep_doc"))
    )
    return mx.join(pick, "canonical_id").select(
        "canonical_id",
        "n_members",
        "keep_doc",
        "keep_logit_micro",
        (F.col("keep_doc") != F.col("canonical_id"))
        .cast("int")
        .alias("quality_override"),
    )


_SYL_RE = "[aeiouy]+"


@query(
    "x_readability",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), f AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_words,
    CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS INTEGER)
      AS n_sentences,
    CAST(list_sum(list_transform(toks,
      x -> greatest(len(regexp_extract_all(x, '{_SYL_RE}')), 1)))
      AS INTEGER) AS n_syllables
  FROM t
), s AS (
  SELECT *, ROUND(206.835
    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
  FROM f
)
SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
  CASE WHEN flesch >= 60.0 THEN 'easy'
       WHEN flesch >= 30.0 THEN 'standard'
       WHEN flesch >= 0.0 THEN 'hard'
       ELSE 'very_hard' END AS band
FROM s
""",
)
def x_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-run syllable
    heuristic — the classic readability filter corpora are banded by
    (a real syllable dictionary or learned estimator slots in behind
    the same counts contract). Words are the whitespace tokens;
    sentences are terminal-punctuation runs (min 1 so the formula is
    total); syllables(word) = max(1, count of [aeiouy]+ runs).

    Determinism discipline: all three counts are exact integers; the
    Flesch score is computed with the identical IEEE op sequence on
    both engines (two divisions of exact ints, two multiplies, two
    subtractions) and then rounded, and the banding CASE compares the
    rounded value — identical inputs, identical ops, identical bands.

    Scale shape: pure per-row projection (the syllable sum is one
    higher-order fold over the token array, inside codegen) — zero
    exchanges at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    # Long accumulator: an int32 fold would wrap mid-document before
    # the final int cast on a pathological (hundreds of MB) doc, while
    # DuckDB's list_sum widens — same cross-engine hazard as the
    # classifier's ppm features.
    syllables = F.aggregate(
        F.col("toks"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.greatest(F.regexp_count(x, F.lit(_SYL_RE)), F.lit(1)),
    )
    f = t.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.greatest(F.regexp_count("text", F.lit("[.!?]")), F.lit(1)).alias(
            "n_sentences"
        ),
        syllables.cast("int").alias("n_syllables"),
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words")),
        4,
    )
    s = f.withColumn("flesch", flesch)
    band = (
        F.when(F.col("flesch") >= 60.0, F.lit("easy"))
        .when(F.col("flesch") >= 30.0, F.lit("standard"))
        .when(F.col("flesch") >= 0.0, F.lit("hard"))
        .otherwise(F.lit("very_hard"))
    )
    return s.select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch",
        band.alias("band"),
    )


_VOCAB_COVERAGE_TOPK = 50


@query(
    "x_vocab_coverage",
    oracle=f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
w AS (SELECT unnest(toks) AS term FROM t),
c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY term),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
r AS (SELECT term, cnt, CAST(ROW_NUMBER() OVER (
        ORDER BY cnt DESC, term) AS INTEGER) AS rank FROM c)
SELECT rank, term, cnt,
  CAST(SUM(cnt) OVER (ORDER BY rank) AS BIGINT) AS cum_cnt,
  CAST((SUM(cnt) OVER (ORDER BY rank) * 1000000)
    // (SELECT total FROM tot) AS BIGINT) AS cum_ppm
FROM r WHERE rank <= {_VOCAB_COVERAGE_TOPK}
""",
)
def x_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design primitive:
    rank terms by corpus frequency and report the cumulative share of
    all token occurrences covered by the top-K terms. This is the
    curve that decides a vocab size (where does coverage flatten?) and
    the OOV rate any fixed vocabulary implies; `x_zipf_slope` fits the
    law, this measures the actual mass.

    Scale shape: term counts come from the pinned TF-matrix artifact
    (one corpus explode, shared with tf-idf/BM25), rolled up to one
    slim row per distinct term — the corpus never shuffles again. The
    global rank uses `global_row_number` (range-partitioned prefix-sum
    at scale, plain window while the vocabulary is provably small), the
    top-K filter cuts to K rows, and the cumulative sum is a window
    over those K rows only — no single-partition pass ever sees the
    full vocabulary. Coverage shares are integer ppm via DIV against a
    broadcast 1-row total, so both engines agree bit-for-bit."""
    from ..functions.order import global_row_number

    docs = table(spark, sf_dir, "documents")
    tf = artifact(
        spark,
        f"{sf_dir}:tf_matrix",
        lambda: docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
    )
    c = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cnt"))
    total = c.agg(F.sum("cnt").cast("long").alias("total"))
    ranked = global_row_number(
        c.withColumn("__ncnt", -F.col("cnt")), ["__ncnt", "term"], "rank"
    ).filter(F.col("rank") <= _VOCAB_COVERAGE_TOPK)
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("cum_cnt", F.sum("cnt").over(w).cast("long"))
        .select(
            "rank",
            "term",
            "cnt",
            "cum_cnt",
            F.expr("(cum_cnt * 1000000) DIV total").cast("long").alias("cum_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding hygiene: norm QC + outlier flagging (round 8)
# ---------------------------------------------------------------------------

_SQL_L2_MICRO = (
    "CAST(floor(sqrt(list_dot_product(e, e)) * 1000000) AS BIGINT)"
)


@query(
    "x_embedding_qc",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), f AS (
  SELECT vec_id, CAST(len(e) AS INTEGER) AS dim,
    {_SQL_L2_MICRO} AS l2_micro
  FROM v
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(CAST(SUM(l2_micro) AS DECIMAL(38,0)) AS DOUBLE) AS s,
    -- widen BEFORE the per-row product: DuckDB does not auto-widen
    -- multiplication, so a BIGINT micro-squared raises an overflow
    -- error at norm >= ~3037 (l2_micro >= ~3.04e9) — exactly the
    -- encoder-blowup case this QC exists to flag
    CAST(CAST(SUM(CAST(l2_micro AS HUGEINT) * l2_micro) AS DECIMAL(38,0)) AS DOUBLE) AS q
  FROM f
)
SELECT vec_id, dim, l2_micro,
  ROUND(CAST(l2_micro AS DOUBLE) / 1000000.0, 6) AS l2_norm,
  CAST((CAST(l2_micro AS DOUBLE) - s / n) * (CAST(l2_micro AS DOUBLE) - s / n)
    > 4.0 * ((q - s * s / n) / n) AS INTEGER) AS outlier
FROM f, g
""",
)
def x_embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene — the QC gate before any ANN/dedup/
    semantic stage trusts a vector column: per-vector dimensionality
    and L2 norm, plus a 2-sigma norm-outlier flag against the corpus
    distribution (degenerate all-zero vectors, unnormalized batches and
    encoder blowups all surface as norm outliers long before they
    poison a similarity index).

    Determinism discipline: the norm is floored into integer
    micro-units immediately (the same sequential-fold dot product both
    engines evaluate, `functions/similarity.dot`), so the corpus
    moments are sums of exact integers — summation order cannot change
    them — widened to DECIMAL(38,0) so no corpus size wraps them (the
    `c_moments_mergeable` discipline). The outlier test compares
    (x-mu)^2 > 4*var with both sides derived from those exact integers
    through an identical IEEE op sequence.

    Scale shape: one per-row projection for the features, one
    map-side-combined 1-row moments aggregate broadcast back — the
    vector payload itself is read once and never shuffled."""
    emb = table(spark, sf_dir, "embeddings")
    f = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.floor(
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * 1000000
        )
        .cast("long")
        .alias("l2_micro"),
    )
    g = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l2_micro").cast("decimal(38,0)"))
        .cast("double")
        .alias("s"),
        # Per-row square in DECIMAL, not long: a norm ≥ ~3037, i.e.
        # l2_micro ≥ ~3.04e9 (exactly the encoder-blowup case this QC
        # exists to flag) pushes micro² past int64, and a wrapped
        # square is silently wrong; the oracle widens to HUGEINT
        # pre-multiply for the same reason.
        F.sum(
            F.col("l2_micro").cast("decimal(19,0)")
            * F.col("l2_micro").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("q"),
    )
    x = F.col("l2_micro").cast("double")
    mu = F.col("s") / F.col("n")
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    return f.crossJoin(F.broadcast(g)).select(
        "vec_id",
        "dim",
        "l2_micro",
        F.round(x / F.lit(1000000.0), 6).alias("l2_norm"),
        ((x - mu) * (x - mu) > F.lit(4.0) * var).cast("int").alias("outlier"),
    )


# ---------------------------------------------------------------------------
# Training-data prep: mixing schedule + balanced output sharding (round 8)
# ---------------------------------------------------------------------------

_MIX_BUDGET_TOKENS = 1_000_000  # the trainer's global token budget


@query(
    "x_mix_schedule",
    oracle=f"""
WITH t AS (
  SELECT source, {_SQL_TOKS} AS toks FROM documents
), g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
  FROM t GROUP BY source
), w AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
    AS w_micro FROM g
), s AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total FROM w)
SELECT source, n_docs, n_tokens, w_micro,
  CAST((w_micro * 1000000) // (SELECT w_total FROM s) AS BIGINT) AS share_ppm,
  CAST(({_MIX_BUDGET_TOKENS} * ((w_micro * 1000000)
    // (SELECT w_total FROM s))) // 1000000 AS BIGINT) AS target_tokens,
  CAST((({_MIX_BUDGET_TOKENS} * ((w_micro * 1000000)
    // (SELECT w_total FROM s))) // 1000000 * 1000) // n_tokens AS BIGINT)
    AS epochs_milli
FROM w
""",
)
def x_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed data-mixing schedule — the table a trainer
    actually consumes after `x_domain_mix` reports the raw mixture:
    per-source sampling weight ∝ n_tokens^0.5 (alpha=0.5 temperature
    upweights small domains, the multilingual/multi-source mixing
    recipe), the token share each source gets of a fixed global
    budget, and the implied epochs over each source in milli-passes —
    the over-sampling number a recipe review watches (epochs >> 1000
    milli means a small domain will be memorized).

    Determinism: token counts are exact ints; the smoothed weight is
    floor(sqrt(n)·1e6) — one IEEE sqrt per SOURCE (not per row) on an
    exact integer input; shares/targets/epochs are integer DIV chains
    from there, so the schedule is bit-identical across engines.

    Scale shape: one map-side-combined partial agg to |sources| rows,
    then a 1-row weight-total broadcast — the corpus is read once and
    only slim per-source rows ever move."""
    docs = table(spark, sf_dir, "documents")
    g = docs.select("source", F.size(tokens(F.col("text"))).alias("nt")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    # Pin the |sources|-row table: the weight-total branch would
    # otherwise re-run the corpus scan (column pruning makes the two
    # branches' exchanges non-identical, so Spark can't reuse them).
    w = materialize(
        g.withColumn(
            "w_micro",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000).cast(
                "long"
            ),
        )
    )
    s = w.agg(F.sum("w_micro").cast("long").alias("w_total"))
    out = w.crossJoin(F.broadcast(s)).withColumn(
        "share_ppm", F.expr("(w_micro * 1000000) DIV w_total").cast("long")
    )
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        "w_micro",
        "share_ppm",
        F.expr(f"({_MIX_BUDGET_TOKENS} * share_ppm) DIV 1000000")
        .cast("long")
        .alias("target_tokens"),
        F.expr(
            f"((({_MIX_BUDGET_TOKENS} * share_ppm) DIV 1000000) * 1000)"
            " DIV n_tokens"
        )
        .cast("long")
        .alias("epochs_milli"),
    )


_N_SHARDS = 8


@query(
    "x_shard_assign",
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
), r AS (
  SELECT doc_id, n_tokens, CAST(ROW_NUMBER() OVER (
    ORDER BY n_tokens DESC, doc_id) AS INTEGER) AS rank FROM t
)
SELECT doc_id, n_tokens, rank,
  CAST((rank - 1) % {_N_SHARDS} AS INTEGER) AS shard
FROM r
""",
)
def x_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding — the write-side step after packing:
    assign every document to one of N output shards so per-shard token
    totals balance. Size-descending round-robin (rank by tokens desc,
    shard = (rank−1) mod N) is the classic distributable LPT
    approximation: each shard receives every N-th document of the
    size-sorted order, so shard totals differ by at most one document
    per size band — and the assignment is a pure function of the rank,
    reproducible across engines and runs (no greedy sequential state,
    which would not distribute).

    Scale shape: token counts are a per-row projection; the global
    size rank rides `global_row_number` (range-partitioned prefix-sum
    at scale — rows never leave their partition, only per-partition
    counts centralize); the shard id is then per-row arithmetic. No
    corpus-sized sort on one task, no window over the corpus."""
    from ..functions.order import global_row_number

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    ranked = global_row_number(
        t.withColumn("__nn", -F.col("n_tokens")), ["__nn", "doc_id"], "rank"
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "rank",
        ((F.col("rank") - 1) % _N_SHARDS).cast("int").alias("shard"),
    )


# ---------------------------------------------------------------------------
# Similarity search: recall dashboard (round 8)
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    # Both sides are the EXACT oracles of the queries being compared
    # (x_cosine_topk / x_ann_lsh), re-used verbatim as CTE bodies so
    # the dashboard can never drift from what those queries return.
    return f"""
WITH exact_side AS ({_COSINE_TOPK_ORACLE}),
ann_side AS ({_ann_oracle()}),
hits AS (
  SELECT e.query_id,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits
  FROM exact_side e LEFT JOIN ann_side a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, n_exact, n_hits,
  CAST((n_hits * 1000000) // n_exact AS BIGINT) AS recall_ppm
FROM hits
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_exact) AS BIGINT),
  CAST(SUM(n_hits) AS BIGINT),
  CAST((SUM(n_hits) * 1000000) // SUM(n_exact) AS BIGINT)
FROM hits
"""


@query("x_ann_recall", oracle=_ann_recall_oracle())
def x_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 dashboard for the LSH ANN path — 'measure, don't
    guess' registered as an operator: per query the overlap between
    the approximate top-5 (`x_ann_lsh`) and the exact top-5
    (`x_cosine_topk`), in integer ppm, plus the corpus row
    (query_id = −1). This is the number an ANN deployment watches
    when it tunes planes/probes — the honest-approximation dial the
    sketch-fidelity report (`x_minhash_fidelity`) provides for
    minhash, provided here for similarity search.

    Composition, not reimplementation: both sides ARE the registered
    queries (and the oracle reuses their oracle SQL verbatim as CTEs),
    so the dashboard definitionally measures what the engine serves.

    Scale shape: the exact side is the honest cost (the brute-force
    baseline exists to be measured against, broadcast query set — in
    production it runs over a fixed evaluation query sample, never the
    corpus); the join of two ≤(|queries|·k)-row result sets plus a
    |queries|-row rollup is metadata-sized."""
    exact = x_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ann = x_ann_lsh(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = (
        exact.join(
            ann,
            (exact.query_id == ann.query_id)
            & (exact.neighbor_id == ann.ann_neighbor),
            "left",
        )
        .select(exact.query_id, "neighbor_id", "ann_neighbor")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("ann_neighbor").cast("long").alias("n_hits"),
        )
    )
    hits = materialize(hits)  # two consumers: per-query rows + overall
    per_q = hits.select(
        F.col("query_id").cast("long"),
        "n_exact",
        "n_hits",
        F.expr("(n_hits * 1000000) DIV n_exact").cast("long").alias("recall_ppm"),
    )
    overall = hits.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").cast("long").alias("n_exact"),
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.expr("(sum(n_hits) * 1000000) DIV sum(n_exact)")
        .cast("long")
        .alias("recall_ppm"),
    )
    return per_q.unionAll(overall)


# ---------------------------------------------------------------------------
# Text analysis: Kneser-Ney bigram LM scoring (round 9)
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount (exact in binary: 3/4)

_KN_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
    CAST(COUNT(*) AS BIGINT) AS n1fwd
  FROM c2 GROUP BY 1
),
cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bwd FROM c2 GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbi FROM c2),
p AS (
  SELECT bg.doc_id,
    CAST(ROUND(-log2(
      GREATEST(c2.c2 - {_KN_D}, 0.0) / ctx.c1
      + ({_KN_D} * ctx.n1fwd / ctx.c1)
        * (CAST(cont.n1bwd AS DOUBLE) / tot.nbi)
    ) * 1000000000) AS BIGINT) AS nanobits
  FROM bg
  JOIN c2 USING (w1, w2)
  JOIN ctx USING (w1)
  JOIN cont USING (w2)
  CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
  ROUND(CAST(SUM(nanobits) AS DOUBLE) / COUNT(*) / 1000000000, 6)
    AS kn_bits
FROM p GROUP BY doc_id
"""


@query("x_kneser_ney", oracle=_KN_ORACLE)
def x_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the LM the n-gram
    literature actually recommends over the add-one smoothing of
    x_bigram_logprob: p(w2|w1) = max(c(w1,w2)−D, 0)/c(w1) +
    λ(w1)·p_cont(w2) with D = 0.75, λ(w1) = D·N1+(w1,·)/c(w1) and the
    CONTINUATION probability p_cont(w2) = N1+(·,w2)/N1+(··) — "how
    many contexts does w2 follow", which is what demotes
    high-frequency-but-context-locked tokens ("Francisco") that fool
    raw bigram counts. Per-doc score = mean −log2 p over transitions,
    quantized to integer nanobits before the sum (the
    x_unigram_logprob discipline), so partial-agg order cannot flip a
    rounded mean.

    Every statistic is an exact integer (bigram counts, context
    counts, distinct-successor/predecessor counts, total distinct
    bigrams) and the smoothing expression is the same literal IEEE
    tree in both engines (D = 3/4 is exact in binary). All four count
    tables derive from ONE bigram-count aggregation — the context
    table is a rollup OF c2, not a second corpus pass.

    Scale shape (the x_bigram_logprob split, one order stronger): the
    bigram table is NOT vocab-small so it JOINS on (w1,w2) — a shuffle
    keyed on the bigram, which no hot document can flood; the
    vocab-sized context/continuation tables and the 1-row total ride
    broadcasts. No reference analog (driver mandate extension)."""
    bg = _bigram_stream(spark, sf_dir)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    c2 = materialize(c2)  # four consumers; never re-derive from the corpus
    ctx = c2.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1fwd"),
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1bwd"))
    tot = c2.agg(F.count(F.lit(1)).cast("long").alias("nbi"))
    p = (
        F.greatest(F.col("c2") - F.lit(_KN_D), F.lit(0.0)) / F.col("c1")
        + (F.lit(_KN_D) * F.col("n1fwd") / F.col("c1"))
        * (F.col("n1bwd").cast("double") / F.col("nbi"))
    )
    nanobits = F.round(-F.log2(p) * 1000000000).cast("long").alias("nanobits")
    n = F.count(F.lit(1))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nanobits)
        .groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_transitions"),
            F.round(
                F.sum("nanobits").cast("double") / n / 1000000000, 6
            ).alias("kn_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis: corpus diversity (Distinct-n) with sketch agreement
# ---------------------------------------------------------------------------

_DN_MAX = 3  # report Distinct-1..Distinct-3

_DISTINCT_NGRAMS_ORACLE = f"""
WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT CAST(n AS BIGINT) AS n,
    array_to_string(toks[i:i + n - 1], ' ') AS gram
  FROM t,
    unnest(range(1, {_DN_MAX} + 1)) AS nn(n),
    unnest(range(1, len(toks) - n + 2)) AS u(i)
)
SELECT n, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
  CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
  CAST(COUNT(DISTINCT gram) * 1000000 // COUNT(*) AS BIGINT)
    AS distinct_ppm,
  true AS sketch_ok
FROM g GROUP BY n
"""


@query("x_distinct_ngrams", oracle=_DISTINCT_NGRAMS_ORACLE)
def x_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity: the Distinct-n metric (distinct n-grams /
    total n-grams, n = 1..3) that quantifies repetitiveness across the
    WHOLE corpus — the standard generation-diversity score applied as
    a curation gate (a synthetic or template-heavy corpus collapses
    Distinct-2/3 long before any per-doc filter notices).

    Three independent per-k lanes unioned (one gram-keyed exchange
    each, scheduled CONCURRENTLY — they share no shuffle), not one
    struct-tagged mega-explode: the tagged single-scan form paid a
    per-element struct alloc plus an array concat on every corpus
    gram and serialized the three shingle chains through one stage —
    measured 12.1 s vs 5.1 s at sf1 for the per-k lanes (the parquet
    re-scan per lane is column-pruned and ~2% of a lane's cost; the
    expression work is proportional to total grams either way). Exact
    distinct counts over corpus n-grams are an n-gram-keyed shuffle
    (row-count-order at 100 TB — the same honest cost as
    x_ngram_counts); the production swap at that scale is to keep
    ONLY the HLL estimate, so each lane carries the sketch in the
    same pass and hash-checks a `sketch_ok` agreement verdict (HLL++
    at rsd=0.04 within 10% of exact — the c_table_profile_sketch
    discipline, here anchored on the exact count since the exact lane
    is the point of this query). Per-gram pre-counting map-side-
    combines each lane to the distinct stream before its exchange
    (the x_dup_rate two-phase pattern; count+countDistinct in one agg
    would plan an Expand pushing the gram stream through the exchange
    TWICE); the HLL estimate is computed over the distinct rows: same
    estimand, since HLL is insensitive to duplicates. `distinct_ppm`
    is an integer DIV, no float rounding anywhere."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("__t"))
    lanes = []
    for k in range(1, _DN_MAX + 1):
        gc = (
            t.select(F.explode(shingles(F.col("__t"), k=k)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lanes.append(
            gc.agg(
                F.lit(k).cast("long").alias("n"),
                F.sum("c").cast("long").alias("total_ngrams"),
                F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
                F.approx_count_distinct("gram", 0.04)
                .cast("long")
                .alias("hll"),
            )
        )
    out = lanes[0]
    for lane in lanes[1:]:
        out = out.unionAll(lane)
    # a lane with ZERO grams (every doc shorter than k tokens) emits
    # one all-null agg row where the oracle's GROUP BY emits none
    return (
        out.filter(F.col("total_ngrams").isNotNull())
        .select(
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.expr(
                "CAST(distinct_ngrams * 1000000 DIV total_ngrams AS BIGINT)"
            ).alias("distinct_ppm"),
            (
                F.abs(F.col("hll") - F.col("distinct_ngrams"))
                / F.col("distinct_ngrams")
                < F.lit(0.10)
            ).alias("sketch_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search: inverted index + conjunctive BM25 search (round 9)
# ---------------------------------------------------------------------------

_INV_BLOCK = 200  # docs per posting block
_INV_TOPK = 20  # terms reported by the index-build query


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The posting table (term, doc_id, tf) — built once per dataset
    and pinned (`artifact`), the build-once/probe-many discipline the
    LSH band tables use. (term, doc_id) is unique by construction."""
    def build():
        docs = table(spark, sf_dir, "documents")
        return (
            docs.select(
                "doc_id", F.explode(tokens(F.col("text"))).alias("term")
            )
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    return artifact(spark, f"invindex:{sf_dir}", build)


def _doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length sidecar of the inverted index (doc_id, dl)."""
    def build():
        docs = table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl")
        )

    return artifact(spark, f"doclen:{sf_dir}", build)


_INVINDEX_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
),
tf AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
top AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tf GROUP BY 1 ORDER BY df DESC, term LIMIT {_INV_TOPK}
)
SELECT tf.term, CAST(doc_id // {_INV_BLOCK} AS BIGINT) AS block_id,
  CAST(COUNT(*) AS BIGINT) AS df_block,
  CAST(SUM(tf) AS BIGINT) AS cf_block,
  md5(string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id)) AS postings_md5
FROM tf JOIN top USING (term)
GROUP BY 1, 2
"""


@query("x_inverted_index", oracle=_INVINDEX_ORACLE)
def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the keyword-retrieval backbone next to
    the ANN family: per-term posting lists laid out in BLOCKS of
    {_INV_BLOCK} doc_ids, reported for the top-{_INV_TOPK} terms by
    document frequency (deterministic df-desc/term-asc cut). Each
    output row is one posting block: document frequency and corpus
    frequency within the block plus an md5 over the ordered
    "doc_id:tf" list — the full index content, hash-compact for the
    driver.

    Blocking is the scale point: a stopword's posting list at 100 TB
    is corpus-sized, and ANY layout that builds it in one task
    (one collect_list per term) dies there. Keyed by (term, block)
    the heaviest group is bounded by the block width regardless of
    term frequency — the skip-list/block-max layout real engines use,
    and the groupBy stays partially aggregable. The posting table
    itself is a pinned artifact (build once, probe per query —
    x_keyword_search rides it)."""
    tf = _postings(spark, sf_dir)
    top = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(_INV_TOPK)
    )
    blocks = (
        tf.join(F.broadcast(top.select("term")), "term")
        .groupBy(
            "term",
            # integer DIV, not double-divide-then-cast: a float
            # quotient one ulp under an integer would mis-block
            F.expr(f"CAST(doc_id DIV {_INV_BLOCK} AS BIGINT)").alias(
                "block_id"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("df_block"),
            F.sum("tf").cast("long").alias("cf_block"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "tf"))
                        ),
                        lambda s: F.concat_ws(
                            ":",
                            s.doc_id.cast("string"),
                            s.tf.cast("string"),
                        ),
                    ),
                    " ",
                ).cast("binary")
            ).alias("postings_md5"),
        )
    )
    return blocks


def _search_terms() -> list[str]:
    return list(_BM25_TERMS)


def _keyword_search_oracle() -> str:
    terms = _search_terms()
    in_list = ", ".join(f"'{t}'" for t in terms)
    tf_cols = ", ".join(
        f"SUM(CASE WHEN term = '{t}' THEN tf ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(terms)
    )
    score_terms = " + ".join(
        f"""(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)
       * (tf_{i} * ({_BM25_K1} + 1.0))
       / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"""
        for i in range(len(terms))
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
),
tf AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS dl FROM documents
),
qt AS (SELECT * FROM tf WHERE term IN ({in_list})),
cand AS (
  SELECT doc_id, {tf_cols}
  FROM qt GROUP BY doc_id HAVING COUNT(*) = {len(terms)}
),
stats AS (
  SELECT (SELECT COUNT(*) FROM dl) AS n_docs,
    (SELECT AVG(dl) FROM dl) AS avgdl, {df_cols}
  FROM qt
),
scored AS (
  SELECT cand.doc_id, ROUND({score_terms}, 6) AS bm25
  FROM cand JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
    AS rank,
  doc_id, bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""


@query("x_keyword_search", oracle=_keyword_search_oracle())
def x_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search answered FROM THE INVERTED INDEX —
    the consumer that makes x_inverted_index's artifact earn its keep
    (the c_bitmap_filter discipline): resolve the query terms'
    postings, intersect by doc_id (every term must hit), BM25-rank the
    survivors, return the top-10 with ranks. The document TEXT is
    never touched at query time: term frequencies, document
    frequencies and document lengths all come from the pinned index
    tables, so a query's cost scales with |postings(query terms)|,
    not corpus size. The oracle re-derives everything from raw text —
    proving index-resolved search ≡ scan-resolved search.

    The intersection is a per-doc count over the slim posting rows
    (map-side combinable, HAVING count = |terms|); corpus stats
    reduce to one broadcast row. Ranking happens on ROUND(score, 6)
    with doc_id tiebreak in BOTH engines, so the top-10 cut is
    deterministic. Scoring arithmetic is x_bm25's expression tree
    verbatim — same IEEE op sequence both sides."""
    return bm25_search(
        _postings(spark, sf_dir), _doclens(spark, sf_dir), _search_terms()
    )


def bm25_search(tf: DataFrame, dl: DataFrame, terms: list[str]) -> DataFrame:
    """Conjunctive BM25 top-10 over an index table pair — the serving
    path, shared between the batch query (pinned artifacts) and the
    streamed index (streaming/index.py postings snapshot), so the
    composed stream-then-serve test proves the SAME code path."""
    qt = tf.filter(F.col("term").isin(terms))
    cand = (
        qt.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            *[
                F.sum(
                    F.when(F.col("term") == t, F.col("tf")).otherwise(0)
                ).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        .filter(F.col("nt") == len(terms))
        .drop("nt")
    )
    dstats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfs = qt.agg(
        *[
            F.sum((F.col("term") == t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    stats = dstats.crossJoin(dfs)
    score = None
    for i in range(len(terms)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        tfi = F.col(f"tf_{i}")
        term = idf * (tfi * (_BM25_K1 + 1.0)) / (
            tfi
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = term if score is None else score + term
    scored = (
        cand.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return scored.select(
        F.row_number().over(w).cast("long").alias("rank"), "doc_id", "bm25"
    )


# ---------------------------------------------------------------------------
# Curation reporting: per-source dataset card (round 9)
# ---------------------------------------------------------------------------

_DATASET_CARD_ORACLE = f"""
WITH d AS (
  SELECT source, lang, text, len({_SQL_TOKS}) AS dl FROM documents
),
base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dl) AS BIGINT) AS n_tokens,
    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS nd,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM d GROUP BY source
),
lc AS (
  SELECT source, lang, COUNT(*) AS cnt,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang)
      AS rn
  FROM d GROUP BY source, lang
)
SELECT base.source, n_docs, n_tokens,
  CAST(n_tokens * 1000 // n_docs AS BIGINT) AS tokens_per_doc_milli,
  CAST((n_docs - nd) * 1000000 // n_docs AS BIGINT) AS dup_ppm,
  n_langs, lc.lang AS top_lang,
  CAST(lc.cnt * 1000000 // n_docs AS BIGINT) AS top_lang_ppm
FROM base JOIN lc ON base.source = lc.source AND lc.rn = 1
"""


@query("x_dataset_card", oracle=_DATASET_CARD_ORACLE)
def x_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the one-page curation summary a data
    release ships (docs, token volume, mean length, exact-dup rate,
    language spread): composes the x_dedup_exact digest shape, token
    counting and language profiling into one source-keyed report. All
    ratios are integer DIV in milli/ppm units — no float anywhere.

    Scale shape: one corpus scan feeds a source-keyed aggregation;
    the exact-dup column distinct-counts 16-byte digests (the
    x_dedup_exact cost — honest, a dup RATE needs it); the top
    language rides a slim (source × lang) count table through a
    window on counts with lang tiebreak. Source count is small, but
    nothing here assumes it: every aggregate partial-combines."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.size(tokens(F.col("text"))).cast("long").alias("dl"),
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("n_tokens"),
        F.countDistinct("digest").cast("long").alias("nd"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    lc = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "lang")
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "cnt")
    )
    return base.join(top, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST(n_tokens * 1000 DIV n_docs AS BIGINT)").alias(
            "tokens_per_doc_milli"
        ),
        F.expr("CAST((n_docs - nd) * 1000000 DIV n_docs AS BIGINT)").alias(
            "dup_ppm"
        ),
        "n_langs",
        "top_lang",
        F.expr("CAST(cnt * 1000000 DIV n_docs AS BIGINT)").alias(
            "top_lang_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Similarity search: k-means training for the IVF coarse quantizer
# (round 9)
# ---------------------------------------------------------------------------

_KM_K = 8  # centroids
_KM_ITERS = 2  # bounded Lloyd rounds (the x_knn_pagerank discipline)
_KM_DIM = 64  # embedding dimensionality (asserted at runtime)


def _km_assign_sql(vsrc: str, csrc: str, out: str) -> str:
    """One Lloyd assignment in DuckDB: exact integer squared distance,
    ROW_NUMBER tiebreak on centroid id."""
    return f"""
{out} AS (
  SELECT vec_id, x, cid, d FROM (
    SELECT v.vec_id, v.x, c.cid,
      CAST(SUM((v.x[i] - c.c[i]) * (v.x[i] - c.c[i])) AS BIGINT) AS d,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY CAST(SUM((v.x[i] - c.c[i]) * (v.x[i] - c.c[i])) AS BIGINT),
                 c.cid) AS rn
    FROM {vsrc} v, {csrc} c, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY v.vec_id, v.x, c.cid
  ) WHERE rn = 1
)"""


def _km_update_sql(asrc: str, out: str) -> str:
    """One Lloyd update in DuckDB: per-dimension integer sums,
    truncating-division mean (DuckDB `//` truncates toward zero,
    -7 // 3 = -2, exactly like Spark's DIV — verified, NOT a floor)."""
    return f"""
{out} AS (
  SELECT cid, list(ci ORDER BY i) AS c FROM (
    SELECT cid, i, CAST(SUM(x[i]) // COUNT(*) AS BIGINT) AS ci
    FROM {asrc}, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY cid, i
  ) GROUP BY cid
)"""


def _kmeans_oracle() -> str:
    parts = [
        f"""WITH v AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   e -> CAST(floor(e * 1000000) AS BIGINT)) AS x
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cid,
    x AS c
  FROM v
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KM_K}
)"""
    ]
    src = "c0"
    for it in range(1, _KM_ITERS + 1):
        parts.append(_km_assign_sql("v", src, f"a{it}"))
        parts.append(_km_update_sql(f"a{it}", f"c{it}"))
        src = f"c{it}"
    parts.append(_km_assign_sql("v", src, "afinal"))
    body = ",".join(parts)
    return (
        body
        + """
SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d AS d_micro2 FROM afinal
"""
    )


def _km_assign(V: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment in Spark: broadcast the K centroids, exact
    int64 squared distance inside codegen, window tiebreak on cid."""
    d = F.aggregate(
        F.zip_with(F.col("x"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    return (
        V.crossJoin(F.broadcast(cent))
        .select("vec_id", "x", "cid", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """One Lloyd update in Spark: per-dimension integer sums,
    truncating-division mean. Spark DIV and DuckDB `//` BOTH truncate
    toward zero (-7 DIV 3 = -7 // 3 = -2 — verified on both engines;
    a pmod-based floor variant diverged on every negative-mean
    dimension)."""
    ex = assigned.select("cid", F.posexplode("x").alias("i", "xi"))
    s = ex.groupBy("cid", "i").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        s.select(
            "cid",
            "i",
            F.expr("CAST(s DIV n AS BIGINT)").alias("ci"),
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ci"))),
                lambda st: st.ci,
            ).alias("c")
        )
    )


def _km_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-quantized integer vectors (vec_id, x) — pinned, shared by
    the trainer and the trained-IVF consumer."""

    def build():
        emb = table(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda e: F.floor(e.cast("double") * 1000000).cast("long"),
            ).alias("x"),
        )

    return artifact(spark, f"km_vectors:{sf_dir}", build)


def _km_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained centroid table (cid, c) after _KM_ITERS Lloyd
    rounds — a pinned artifact (train once, index/search many)."""

    def build():
        V = _km_vectors(spark, sf_dir)
        w0 = Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        cent = materialize(
            V.select(
                F.row_number().over(w0).cast("long").alias("cid"),
                F.col("x").alias("c"),
            ).filter(F.col("cid") <= _KM_K)
        )
        for _ in range(_KM_ITERS):
            cent = materialize(_km_update(_km_assign(V, cent)))
        return cent

    return artifact(spark, f"km_centroids:{sf_dir}", build)


@query("x_kmeans", oracle=_kmeans_oracle())
def x_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round Lloyd k-means over the embedding table — the
    trainer for the coarse quantizer x_ann_ivf explicitly leaves as
    "a production build would k-means them" (llm.py IVF docstring):
    K=8 centroids, 2 update rounds, then the final assignment with its
    exact squared distance. EVERYTHING is integer: vectors quantize to
    micro-units once, squared distances are exact int64 sums (micro²
    × 64 dims < 2^53 — no ulp anywhere, so the argmin needs no
    rounding guard at all, unlike the double-scoring ANN lanes),
    centroid means truncate-divide back onto the integer lattice
    (quantized centroids — the k-means variant whose state is exactly
    representable and engine-independent), and seeding is the
    deterministic md5 order (pseudo-random, reproducible, no RNG).

    Scale shape per round: assignment broadcasts K rows against N
    (zero shuffle of the corpus — the IVF assignment plan), the
    window tiebreak partitions by vec_id over exactly K rows per key
    (unskewable), the update is one partial-aggregating
    (cid × dim)-keyed sum — K·dim output rows per round, driver never
    sees a vector. Rounds are genuinely sequential (Lloyd is
    iterative); 2 rounds bound the unrolled oracle the same way
    x_knn_pagerank bounds power iteration. Centroid tables are
    re-pinned per round against lineage blowup (the BPE-train
    lesson); the trained table and the quantized vectors are
    build-once artifacts the IVF consumer (x_ann_ivf_trained)
    shares."""
    V = _km_vectors(spark, sf_dir)
    cent = _km_centroids(spark, sf_dir)
    return _km_assign(V, cent).select(
        "vec_id",
        F.col("cid").cast("long").alias("cluster"),
        F.col("d").alias("d_micro2"),
    )


# ---------------------------------------------------------------------------
# Similarity search: IVF over the TRAINED quantizer (round 9)
# ---------------------------------------------------------------------------

_IVFT_Q = 10  # query set: vec_id < 10 (the x_ann_ivf convention)
_IVFT_PROBES = 2  # cells probed per query
_IVFT_TOPK = 5


def _ivf_trained_oracle() -> str:
    km = _kmeans_oracle()
    # reuse the kmeans CTE chain up to the final assignment, then
    # search: probe the _IVFT_PROBES nearest trained centroids per
    # query, candidates = vectors in probed cells, exact integer L2
    # top-k with vec_id tiebreak.
    body = km[: km.index("SELECT vec_id, CAST(cid AS BIGINT)")]
    return (
        body
        + f""",
q AS (SELECT vec_id AS query_id, x AS qx FROM v WHERE vec_id < {_IVFT_Q}),
probe AS (
  SELECT query_id, qx, cid FROM (
    SELECT q.query_id, q.qx, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY CAST(SUM((q.qx[i] - c.c[i]) * (q.qx[i] - c.c[i]))
                      AS BIGINT), c.cid) AS rn
    FROM q, c{_KM_ITERS} c, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY q.query_id, q.qx, c.cid
  ) WHERE rn <= {_IVFT_PROBES}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    CAST(SUM((p.qx[i] - a.x[i]) * (p.qx[i] - a.x[i])) AS BIGINT) AS d
  FROM probe p JOIN afinal a ON a.cid = p.cid,
    unnest(range(1, {_KM_DIM} + 1)) AS u(i)
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id
)
SELECT query_id, neighbor_id, d AS d_micro2,
  CAST(rank AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id, d,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {_IVFT_TOPK}
"""
    )


@query("x_ann_ivf_trained", oracle=_ivf_trained_oracle())
def x_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the TRAINED coarse quantizer — the composition
    x_ann_ivf points at ("a production build would k-means them"):
    cells come from x_kmeans' Lloyd-trained centroid artifact instead
    of the deterministic vec_id<K seeds, and the whole path — train,
    assign, probe, score — stays on the integer lattice, so unlike the
    double-scoring IVF there is NO rounding guard anywhere: exact
    int64 L2, ties broken by id, bit-reproducible on any engine.

    Search shape (the scale contract): the trained K-row centroid
    table broadcasts twice (cell assignment of the corpus — shared
    with the trainer via the pinned artifact — and query probing);
    candidates arrive through a cell-keyed EQUI-join of the query
    probe list against the assignment table, never an all-pairs
    scan; per-query work is |probes|/K of the corpus. A hot cell is
    a skewed join key AQE splits (the x_ann_ivf note), and the
    recall/cost dial is _IVFT_PROBES. The oracle replays training AND
    search in one unrolled CTE chain — the full pipeline differential,
    not just the last stage."""
    V = _km_vectors(spark, sf_dir)
    cent = _km_centroids(spark, sf_dir)
    assigned = _km_assign(V, cent).select("vec_id", "cid", "x")
    q = V.filter(F.col("vec_id") < _IVFT_Q).select(
        F.col("vec_id").alias("query_id"), F.col("x").alias("qx")
    )
    dprobe = F.aggregate(
        F.zip_with(F.col("qx"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    wq = Window.partitionBy("query_id").orderBy("dp", "cid")
    probe = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qx", "cid", dprobe.alias("dp"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFT_PROBES)
        .select("query_id", "qx", "cid")
    )
    dcand = F.aggregate(
        F.zip_with(F.col("qx"), F.col("x"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    cand = (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dcand.alias("d_micro2"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy("d_micro2", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _IVFT_TOPK)
        .select("query_id", "neighbor_id", "d_micro2", "rank")
    )


def _kmeans_quality_oracle() -> str:
    km = _kmeans_oracle()
    body = km[: km.index("SELECT vec_id, CAST(cid AS BIGINT)")]
    return (
        body
        + f""",
intra AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
    CAST(SUM(d) // COUNT(*) AS BIGINT) AS mean_d_micro2
  FROM afinal GROUP BY cid
),
sep AS (
  SELECT a.cid,
    CAST(MIN(dd) AS BIGINT) AS sep_micro2
  FROM (
    SELECT a.cid, b.cid AS other,
      CAST(SUM((a.c[i] - b.c[i]) * (a.c[i] - b.c[i])) AS BIGINT) AS dd
    FROM c{_KM_ITERS} a JOIN c{_KM_ITERS} b ON a.cid <> b.cid,
      unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY a.cid, b.cid
  ) a GROUP BY a.cid
)
SELECT CAST(intra.cid AS BIGINT) AS cluster, n_members, mean_d_micro2,
  sep_micro2,
  CAST(mean_d_micro2 < sep_micro2 AS BOOLEAN) AS compact
FROM intra JOIN sep ON intra.cid = sep.cid
"""
    )


@query("x_kmeans_quality", oracle=_kmeans_quality_oracle())
def x_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report over the trained quantizer — the
    Davies-Bouldin-flavored acceptance check before the x_kmeans
    centroids are trusted to index a corpus: per cluster its size,
    mean intra-cluster squared distance (cohesion, integer DIV) and
    squared distance to the NEAREST other centroid (separation), plus
    the `compact` verdict (cohesion < separation — the ratio test a
    quantizer must pass for cell probing to be selective). Everything
    rides the integer lattice: member distances are x_kmeans' exact
    int64 d, the K×K centroid-separation table is K(K−1) exact
    integer rows computed from the K-row artifact alone.

    Scale shape: one broadcast assignment pass over the corpus (shared
    with x_kmeans through the pinned artifacts — in a session that
    already trained, this query costs ONE cid-keyed |K|-row rollup),
    and the separation table never touches data at all."""
    V = _km_vectors(spark, sf_dir)
    cent = _km_centroids(spark, sf_dir)
    assigned = _km_assign(V, cent)
    intra = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.expr("CAST(SUM(d) DIV COUNT(*) AS BIGINT)").alias(
            "mean_d_micro2"
        ),
    )
    b = cent.select(
        F.col("cid").alias("other"), F.col("c").alias("c2")
    )
    dd = F.aggregate(
        F.zip_with(F.col("c"), F.col("c2"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    sep = (
        cent.crossJoin(F.broadcast(b))
        .filter(F.col("cid") != F.col("other"))
        .select("cid", dd.alias("dd"))
        .groupBy("cid")
        .agg(F.min("dd").cast("long").alias("sep_micro2"))
    )
    return intra.join(F.broadcast(sep), "cid").select(
        F.col("cid").cast("long").alias("cluster"),
        "n_members",
        "mean_d_micro2",
        "sep_micro2",
        (F.col("mean_d_micro2") < F.col("sep_micro2")).alias("compact"),
    )


# ---------------------------------------------------------------------------
# Similarity search: exact integer-L2 baseline + trained-IVF recall
# dashboard (round 9)
# ---------------------------------------------------------------------------

_L2_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   e -> CAST(floor(e * 1000000) AS BIGINT)) AS x
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, x AS qx FROM v WHERE vec_id < {_IVFT_Q}),
pairs AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
    CAST(SUM((q.qx[i] - v.x[i]) * (q.qx[i] - v.x[i])) AS BIGINT) AS d
  FROM q, v, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
  WHERE v.vec_id <> q.query_id
  GROUP BY q.query_id, v.vec_id
)
SELECT query_id, neighbor_id, d AS d_micro2, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id, d,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {_IVFT_TOPK}
"""


@query("x_l2_topk", oracle=_L2_TOPK_ORACLE)
def x_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-L2 top-5 — the brute-force baseline of the
    Euclidean family (x_cosine_topk's counterpart on the quantized
    lattice, and the ground truth x_ann_recall_trained measures
    against): the 10-query set broadcast against the corpus, exact
    int64 squared distances, id tiebreak — zero floating point, so
    unlike the cosine baseline there is no rounding discipline to
    state at all.

    Scale shape: queries broadcast (never the corpus side), per-row
    work is |queries|·dim inside codegen, and the top-k is a
    query-keyed window over ≤|queries| rows per key after a
    candidates-per-partition TakeOrdered-like rank. Production runs
    this over a fixed evaluation sample — the honest-cost baseline
    exists to be measured against."""
    V = _km_vectors(spark, sf_dir)
    q = V.filter(F.col("vec_id") < _IVFT_Q).select(
        F.col("vec_id").alias("query_id"), F.col("x").alias("qx")
    )
    d = F.aggregate(
        F.zip_with(F.col("qx"), F.col("x"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("query_id").orderBy("d_micro2", "neighbor_id")
    return (
        V.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            d.alias("d_micro2"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _IVFT_TOPK)
    )


def _ann_recall_trained_oracle() -> str:
    return f"""
WITH exact_side AS ({_L2_TOPK_ORACLE}),
ann_side AS ({_ivf_trained_oracle()}),
hits AS (
  SELECT e.query_id,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits
  FROM exact_side e LEFT JOIN ann_side a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, n_exact, n_hits,
  CAST((n_hits * 1000000) // n_exact AS BIGINT) AS recall_ppm
FROM hits
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_exact) AS BIGINT),
  CAST(SUM(n_hits) AS BIGINT),
  CAST((SUM(n_hits) * 1000000) // SUM(n_exact) AS BIGINT)
FROM hits
"""


@query("x_ann_recall_trained", oracle=_ann_recall_trained_oracle())
def x_ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 dashboard for the TRAINED-quantizer IVF path — the
    x_ann_recall discipline applied to the round's new lane: per
    query the overlap between x_ann_ivf_trained's top-5 and the exact
    integer-L2 top-5 (x_l2_topk), in integer ppm, plus the corpus row
    (query_id = −1). This is the dial that justifies _IVFT_PROBES:
    probes=2 of K=8 cells scans ~25% of the corpus per query, and
    THIS number says what that buys. Composition, not
    reimplementation — both sides are the registered queries, the
    oracle reuses their SQL verbatim as CTEs, and every distance on
    both sides is an exact integer, so the dashboard itself carries
    no rounding discipline at all."""
    exact = x_l2_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ann = x_ann_ivf_trained(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = (
        exact.join(
            ann,
            (exact.query_id == ann.query_id)
            & (exact.neighbor_id == ann.ann_neighbor),
            "left",
        )
        .select(exact.query_id, "neighbor_id", "ann_neighbor")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("ann_neighbor").cast("long").alias("n_hits"),
        )
    )
    hits = materialize(hits)
    per_q = hits.select(
        F.col("query_id").cast("long"),
        "n_exact",
        "n_hits",
        F.expr("(n_hits * 1000000) DIV n_exact").cast("long").alias("recall_ppm"),
    )
    overall = hits.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").cast("long").alias("n_exact"),
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.expr("(sum(n_hits) * 1000000) DIV sum(n_exact)")
        .cast("long")
        .alias("recall_ppm"),
    )
    return per_q.unionAll(overall)


# The filtered lane probes MORE cells than the unfiltered one at the
# same candidate volume: the label predicate thins every probed cell by
# ~1/|labels|, so doubling the probe budget keeps per-query candidate
# work at the unfiltered level while recovering the same-label
# neighbors that live in cells the 2-probe budget skips. The recall
# dial (x_ann_filtered_recall) measured the 2-probe filtered lane at
# 36% corpus recall@5 on sf0.01 — this is the dial driving the design.
_IVFT_PROBES_F = 4


def _filtered_chain_sql() -> str:
    """The FILTERED trained-IVF search as a reusable CTE chain: the
    kmeans training chain up to `afinal`, then label-aware query set,
    probe list, and PRE-filtered candidates (the label predicate
    applied inside the cell-keyed join, before the top-k)."""
    km = _kmeans_oracle()
    body = km[: km.index("SELECT vec_id, CAST(cid AS BIGINT)")]
    return (
        body
        + f""",
fq AS (
  SELECT v.vec_id AS query_id, v.x AS qx, e.label AS qlbl
  FROM v JOIN embeddings e ON e.vec_id = v.vec_id
  WHERE v.vec_id < {_IVFT_Q}
),
fprobe AS (
  SELECT query_id, qx, qlbl, cid FROM (
    SELECT q.query_id, q.qx, q.qlbl, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY CAST(SUM((q.qx[i] - c.c[i]) * (q.qx[i] - c.c[i]))
                      AS BIGINT), c.cid) AS rn
    FROM fq q, c{_KM_ITERS} c, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY q.query_id, q.qx, q.qlbl, c.cid
  ) WHERE rn <= {_IVFT_PROBES_F}
),
fcand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    CAST(SUM((p.qx[i] - a.x[i]) * (p.qx[i] - a.x[i])) AS BIGINT) AS d
  FROM fprobe p JOIN afinal a ON a.cid = p.cid
  JOIN embeddings e2 ON e2.vec_id = a.vec_id
    AND e2.label = p.qlbl,
    unnest(range(1, {_KM_DIM} + 1)) AS u(i)
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id
),
fann AS (
  SELECT query_id, neighbor_id, d AS d_micro2,
    CAST(rank AS BIGINT) AS rank
  FROM (
    SELECT query_id, neighbor_id, d,
      ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
    FROM fcand
  ) WHERE rank <= {_IVFT_TOPK}
)"""
    )


def _filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the filtered trained-IVF search (shared by the
    registered query and the recall dashboard)."""
    V = _km_vectors(spark, sf_dir)
    cent = _km_centroids(spark, sf_dir)
    assigned = _km_assign(V, cent).select("vec_id", "cid", "x")
    labels = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("lbl")
    )
    q = (
        V.filter(F.col("vec_id") < _IVFT_Q)
        .join(labels, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("x").alias("qx"),
            F.col("lbl").alias("qlbl"),
        )
    )
    dprobe = F.aggregate(
        F.zip_with(F.col("qx"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    wq = Window.partitionBy("query_id").orderBy("dp", "cid")
    probe = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qx", "qlbl", "cid", dprobe.alias("dp"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFT_PROBES_F)
        .select("query_id", "qx", "qlbl", "cid")
    )
    dcand = F.aggregate(
        F.zip_with(F.col("qx"), F.col("x"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    cand = (
        assigned.join(labels, "vec_id")
        .join(F.broadcast(probe), "cid")
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("lbl") == F.col("qlbl"))
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dcand.alias("d_micro2"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy("d_micro2", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _IVFT_TOPK)
        .select("query_id", "neighbor_id", "d_micro2", "rank")
    )


@query(
    "x_ann_filtered",
    oracle=_filtered_chain_sql()
    + """
SELECT query_id, neighbor_id, d_micro2, rank FROM fann
""",
)
def x_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the modern vector-store feature every
    RAG deployment asks for: top-k restricted by a metadata predicate
    (here: candidates sharing the query's label — "search within my
    class"), over the TRAINED-IVF lane. The filter is applied INSIDE
    the cell-keyed candidate join, before the top-k — the PRE-filter
    architecture; post-filtering a global unfiltered top-k returns
    fewer than k rows whenever neighbors straddle labels, the classic
    filtered-search recall bug. Everything stays on the integer
    lattice (exact int64 L2, id tiebreak), so the whole pipeline —
    training, assignment, probing, filtered scoring — is
    bit-reproducible and fully hash-checked, no tolerance anywhere.

    Scale shape: identical to x_ann_ivf_trained plus one slim
    vec_id-keyed label join on the candidate side (at 100 TB the label
    lives IN the assignment table — zero extra joins; a
    highly-selective filter instead flips the plan to filter-first
    brute force over the survivors, the cost crossover every
    filtered-ANN engine documents). The oracle replays training AND
    filtered search in one unrolled CTE chain."""
    return _filtered_ivf(spark, sf_dir)


@query(
    "x_ann_filtered_recall",
    oracle=_filtered_chain_sql()
    + f""",
fexact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, v2.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY CAST(SUM((q.qx[i] - v2.x[i]) * (q.qx[i] - v2.x[i]))
                      AS BIGINT), v2.vec_id) AS rank
    FROM fq q
    JOIN v v2 ON v2.vec_id <> q.query_id
    JOIN embeddings e3 ON e3.vec_id = v2.vec_id AND e3.label = q.qlbl,
      unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY q.query_id, v2.vec_id
  ) WHERE rank <= {_IVFT_TOPK}
),
hits AS (
  SELECT x.query_id,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits
  FROM fexact x LEFT JOIN fann a
    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
  GROUP BY x.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, n_exact, n_hits,
  CAST((n_hits * 1000000) // n_exact AS BIGINT) AS recall_ppm
FROM hits
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_exact) AS BIGINT),
  CAST(SUM(n_hits) AS BIGINT),
  CAST((SUM(n_hits) * 1000000) // SUM(n_exact) AS BIGINT)
FROM hits
""",
)
def x_ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 dashboard for the FILTERED-IVF lane vs the exact
    filtered baseline (brute-force integer L2 among same-label
    vectors) — the x_ann_recall discipline applied to filtered search,
    per query + the corpus row (query_id = −1). Filtered recall is a
    DIFFERENT number from unfiltered recall: with the filter thinning
    every probed cell, the same probe budget covers a larger fraction
    of each query's true candidate set — this dial says whether
    the probe budget holds under the predicate or the lane should
    flip to filter-first brute force. THE DIAL ALREADY DROVE THE
    DESIGN ONCE: at the unfiltered 2-probe budget it read 36% corpus
    recall@5 (same-label neighbors live in cells the unfiltered probe
    skips); doubling the filtered budget to 4 probes — equal
    candidate volume, since the predicate thins each cell — reads 74%
    at sf0.01. Exact integers on both sides; no rounding discipline
    at all."""
    exact_d = F.aggregate(
        F.zip_with(F.col("qx"), F.col("x"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    V = _km_vectors(spark, sf_dir)
    labels = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("lbl")
    )
    q = (
        V.filter(F.col("vec_id") < _IVFT_Q)
        .join(labels, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("x").alias("qx"),
            F.col("lbl").alias("qlbl"),
        )
    )
    wx = Window.partitionBy("query_id").orderBy("d_micro2", "neighbor_id")
    exact = (
        V.join(labels, "vec_id")
        .crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("lbl") == F.col("qlbl"))
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            exact_d.alias("d_micro2"),
        )
        .withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= _IVFT_TOPK)
        .select("query_id", "neighbor_id")
    )
    ann = _filtered_ivf(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = (
        exact.join(
            ann,
            (exact.query_id == ann.query_id)
            & (exact.neighbor_id == ann.ann_neighbor),
            "left",
        )
        .select(exact.query_id, "neighbor_id", "ann_neighbor")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("ann_neighbor").cast("long").alias("n_hits"),
        )
    )
    hits = materialize(hits)
    per_q = hits.select(
        F.col("query_id").cast("long"),
        "n_exact",
        "n_hits",
        F.expr("(n_hits * 1000000) DIV n_exact")
        .cast("long")
        .alias("recall_ppm"),
    )
    overall = hits.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").cast("long").alias("n_exact"),
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.expr("(sum(n_hits) * 1000000) DIV sum(n_exact)")
        .cast("long")
        .alias("recall_ppm"),
    )
    return per_q.unionAll(overall)


# ---------------------------------------------------------------------------
# Similarity search: filtered-ANN crossover dispatch (round 12)
# ---------------------------------------------------------------------------

# The cost crossover every filtered-ANN engine documents (pgvector,
# qdrant, the x_ann_filtered docstring): under a highly-selective
# predicate, exact scoring over the predicate's SURVIVORS beats
# probing index cells that the filter then mostly throws away. The
# dispatch threshold is an ABSOLUTE survivor count, not a selectivity
# fraction — that is the scale-correct form: with the metadata column
# bucketed/partitioned (the 100 TB layout), retrieving k survivors
# costs O(survivors) regardless of corpus size, while the IVF lane's
# probed-cell volume grows with N/K. Fraction-style predicates
# (label = x, ~10% of any corpus) therefore flip to the index lane as
# the corpus grows; absolute-size predicates (a ~20-row tenant) stay
# exact forever — the workload below contains both kinds so the
# dispatch is exercised at every scale.
_CROSS_N = 32  # exact filter-first when survivors <= this
_CROSS_TENANT_ROWS = 20  # absolute tenant size for the tight predicate


def _cross_dist(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _cross_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, lbl, tenant): label is the loose fraction-style
    predicate attribute; tenant buckets the corpus into ~20-row
    absolute-size groups (n_tenants = N DIV 20 — in-plan 1-row
    broadcast, no driver collect)."""
    emb = table(spark, sf_dir, "embeddings")
    nt = emb.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"CAST(count(1) DIV {_CROSS_TENANT_ROWS} AS BIGINT)"),
        ).alias("n_tenants")
    )
    return emb.crossJoin(F.broadcast(nt)).select(
        "vec_id",
        F.col("label").cast("long").alias("lbl"),
        (F.col("vec_id") % F.col("n_tenants")).cast("long").alias("tenant"),
    )


def _cross_queries(V: DataFrame, meta: DataFrame) -> DataFrame:
    """Query set with its per-query predicate kind and EXACT survivor
    count (the dispatch input): even query_ids filter loose (same
    label), odd ones tight (same tenant). Survivor counts come from
    broadcast-sized attribute histograms — one partial agg each, never
    a scan per query."""
    q = (
        V.filter(F.col("vec_id") < _IVFT_Q)
        .join(meta, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("x").alias("qx"),
            F.col("lbl").alias("qlbl"),
            F.col("tenant").alias("qtenant"),
            (F.col("vec_id") % 2 == 1).alias("tight"),
        )
    )
    hl = meta.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("nl"))
    ht = meta.groupBy("tenant").agg(
        F.count(F.lit(1)).cast("long").alias("nt")
    )
    return materialize(
        q.join(F.broadcast(hl), F.col("qlbl") == F.col("lbl"))
        .join(F.broadcast(ht), F.col("qtenant") == F.col("tenant"))
        .select(
            "query_id",
            "qx",
            "qlbl",
            "qtenant",
            "tight",
            # the query itself always matches its own predicate
            (
                F.when(F.col("tight"), F.col("nt")).otherwise(F.col("nl"))
                - 1
            )
            .cast("long")
            .alias("n_surv"),
        )
    )


def _cross_brute(
    qset: DataFrame, V: DataFrame, meta: DataFrame
) -> DataFrame:
    """Filter-first exact scoring: retrieve each query's survivors by
    attribute equi-join (the label/tenant-bucketed layout at 100 TB),
    score exactly. Two slim equi-joins (one per predicate kind), the
    handful of queries broadcast."""
    cand_v = meta.join(V, "vec_id")
    loose = cand_v.join(
        F.broadcast(qset.filter(~F.col("tight"))),
        F.col("lbl") == F.col("qlbl"),
    )
    tight = cand_v.join(
        F.broadcast(qset.filter(F.col("tight"))),
        F.col("tenant") == F.col("qtenant"),
    )
    return (
        loose.unionByName(tight)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cross_dist("qx", "x").alias("d_micro2"),
        )
    )


def _cross_parts(spark: SparkSession, sf_dir: str):
    """Shared build for the crossover query and its cost/recall dial:
    (q2, probe, assigned, result)."""
    V = _km_vectors(spark, sf_dir)
    meta = _cross_meta(spark, sf_dir)
    cent = _km_centroids(spark, sf_dir)
    q2 = _cross_queries(V, meta)

    bcand = _cross_brute(q2.filter(F.col("n_surv") <= _CROSS_N), V, meta)

    qi = q2.filter(F.col("n_surv") > _CROSS_N)
    wq = Window.partitionBy("query_id").orderBy("dp", "cid")
    probe = (
        qi.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qx",
            "qlbl",
            "qtenant",
            "tight",
            "cid",
            _cross_dist("qx", "c").alias("dp"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFT_PROBES_F)
        .drop("rn", "dp")
    )
    assigned = _km_assign(V, cent).select("vec_id", "cid", "x")
    pred = F.when(
        F.col("tight"), F.col("tenant") == F.col("qtenant")
    ).otherwise(F.col("lbl") == F.col("qlbl"))
    icand = (
        assigned.join(meta, "vec_id")
        .join(F.broadcast(probe), "cid")
        .filter(pred & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cross_dist("qx", "x").alias("d_micro2"),
        )
    )
    allc = bcand.withColumn("lane", F.lit("exact")).unionByName(
        icand.withColumn("lane", F.lit("ivf"))
    )
    wr = Window.partitionBy("query_id").orderBy("d_micro2", "neighbor_id")
    result = (
        allc.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _IVFT_TOPK)
        .select("query_id", "neighbor_id", "d_micro2", "rank", "lane")
    )
    return q2, probe, assigned, result


def _crossover_chain_sql() -> str:
    """The crossover dispatch as a CTE chain over the kmeans training
    body: metadata, per-query survivor counts, the filter-first branch,
    the pre-filtered IVF branch, and their union `xtop`."""
    km = _kmeans_oracle()
    body = km[: km.index("SELECT vec_id, CAST(cid AS BIGINT)")]
    return (
        body
        + f""",
xm AS (
  SELECT vec_id, CAST(label AS BIGINT) AS lbl,
    CAST(vec_id % GREATEST(1,
      (SELECT COUNT(*) FROM embeddings) // {_CROSS_TENANT_ROWS})
      AS BIGINT) AS tenant
  FROM embeddings
),
xq AS (
  SELECT v.vec_id AS query_id, v.x AS qx, m.lbl AS qlbl,
    m.tenant AS qtenant, (v.vec_id % 2 = 1) AS tight
  FROM v JOIN xm m ON m.vec_id = v.vec_id
  WHERE v.vec_id < {_IVFT_Q}
),
xhl AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n FROM xm GROUP BY lbl),
xht AS (
  SELECT tenant, CAST(COUNT(*) AS BIGINT) AS n FROM xm GROUP BY tenant
),
xq2 AS (
  SELECT q.query_id, q.qx, q.qlbl, q.qtenant, q.tight,
    CAST((CASE WHEN q.tight THEN ht.n ELSE hl.n END) - 1 AS BIGINT)
      AS n_surv
  FROM xq q
  JOIN xhl hl ON hl.lbl = q.qlbl
  JOIN xht ht ON ht.tenant = q.qtenant
),
xbcand AS (
  SELECT q.query_id, m.vec_id AS neighbor_id,
    CAST(SUM((q.qx[i] - v2.x[i]) * (q.qx[i] - v2.x[i])) AS BIGINT) AS d
  FROM xq2 q
  JOIN xm m ON (CASE WHEN q.tight THEN m.tenant = q.qtenant
                     ELSE m.lbl = q.qlbl END)
  JOIN v v2 ON v2.vec_id = m.vec_id,
    unnest(range(1, {_KM_DIM} + 1)) AS u(i)
  WHERE q.n_surv <= {_CROSS_N} AND m.vec_id <> q.query_id
  GROUP BY q.query_id, m.vec_id
),
xbtop AS (
  SELECT query_id, neighbor_id, d AS d_micro2, CAST(rank AS BIGINT) AS rank
  FROM (
    SELECT query_id, neighbor_id, d,
      ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
    FROM xbcand
  ) WHERE rank <= {_IVFT_TOPK}
),
xprobe AS (
  SELECT query_id, qx, qlbl, qtenant, tight, cid FROM (
    SELECT q.query_id, q.qx, q.qlbl, q.qtenant, q.tight, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY CAST(SUM((q.qx[i] - c.c[i]) * (q.qx[i] - c.c[i]))
                      AS BIGINT), c.cid) AS rn
    FROM xq2 q, c{_KM_ITERS} c, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    WHERE q.n_surv > {_CROSS_N}
    GROUP BY q.query_id, q.qx, q.qlbl, q.qtenant, q.tight, c.cid
  ) WHERE rn <= {_IVFT_PROBES_F}
),
xicand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    CAST(SUM((p.qx[i] - a.x[i]) * (p.qx[i] - a.x[i])) AS BIGINT) AS d
  FROM xprobe p
  JOIN afinal a ON a.cid = p.cid
  JOIN xm m ON m.vec_id = a.vec_id
    AND (CASE WHEN p.tight THEN m.tenant = p.qtenant
              ELSE m.lbl = p.qlbl END),
    unnest(range(1, {_KM_DIM} + 1)) AS u(i)
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id
),
xitop AS (
  SELECT query_id, neighbor_id, d AS d_micro2, CAST(rank AS BIGINT) AS rank
  FROM (
    SELECT query_id, neighbor_id, d,
      ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
    FROM xicand
  ) WHERE rank <= {_IVFT_TOPK}
),
xtop AS (
  SELECT query_id, neighbor_id, d_micro2, rank, 'exact' AS lane
  FROM xbtop
  UNION ALL
  SELECT query_id, neighbor_id, d_micro2, rank, 'ivf' AS lane
  FROM xitop
)"""
    )


@query(
    "x_ann_crossover",
    oracle=_crossover_chain_sql()
    + """
SELECT query_id, neighbor_id, d_micro2, rank, lane FROM xtop
""",
)
def x_ann_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search with AUTOMATIC lane dispatch — the
    crossover the x_ann_filtered docstring names: per query, if its
    metadata predicate leaves at most _CROSS_N survivors, score them
    EXACTLY via a filter-first attribute equi-join (recall 1 by
    construction); otherwise run the pre-filtered trained-IVF search.
    The workload mixes the two predicate shapes real deployments mix:
    even query_ids filter on label (a FRACTION of any corpus — flips
    to the index lane as N grows), odd ones on a ~20-row tenant
    bucket (ABSOLUTE size — stays exact at any N). Dispatch reads
    EXACT survivor counts from broadcast-sized attribute histograms,
    so the rule itself costs two partial aggs, and every branch stays
    on the integer lattice — the whole dispatched result is
    hash-checked, lane column included.

    Scale shape: the absolute threshold is the scale-correct rule —
    under a bucketed metadata layout, exact-over-survivors costs
    O(survivors) independent of corpus size while probed-cell volume
    grows with N/K; the brute branch is two attribute equi-joins with
    the query set broadcast, the IVF branch is the x_ann_filtered
    cell-keyed join. No cross join anywhere but the K-row centroid
    broadcast."""
    _, _, _, result = _cross_parts(spark, sf_dir)
    return result


@query(
    "x_ann_crossover_cost",
    oracle=_crossover_chain_sql()
    + f""",
xexact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, m.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY CAST(SUM((q.qx[i] - v2.x[i]) * (q.qx[i] - v2.x[i]))
                      AS BIGINT), m.vec_id) AS rank
    FROM xq2 q
    JOIN xm m ON (CASE WHEN q.tight THEN m.tenant = q.qtenant
                       ELSE m.lbl = q.qlbl END)
    JOIN v v2 ON v2.vec_id = m.vec_id,
      unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    WHERE m.vec_id <> q.query_id
    GROUP BY q.query_id, m.vec_id
  ) WHERE rank <= {_IVFT_TOPK}
),
xcsize AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM afinal GROUP BY cid
),
xscan AS (
  SELECT q.query_id,
    CASE WHEN q.n_surv <= {_CROSS_N} THEN 'exact' ELSE 'ivf' END AS lane,
    q.n_surv,
    CAST(CASE WHEN q.n_surv <= {_CROSS_N} THEN q.n_surv
         ELSE (SELECT SUM(cs.n) FROM xprobe p
               JOIN xcsize cs ON cs.cid = p.cid
               WHERE p.query_id = q.query_id) END AS BIGINT) AS scan_rows
  FROM xq2 q
),
xhits AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
    CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits
  FROM xexact e LEFT JOIN xtop t
    ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT s.query_id, s.lane, s.n_surv, s.scan_rows, h.n_exact, h.n_hits,
  CAST((h.n_hits * 1000000) // h.n_exact AS BIGINT) AS recall_ppm
FROM xscan s JOIN xhits h ON h.query_id = s.query_id
UNION ALL
SELECT CAST(-1 AS BIGINT), 'all', CAST(SUM(s.n_surv) AS BIGINT),
  CAST(SUM(s.scan_rows) AS BIGINT), CAST(SUM(h.n_exact) AS BIGINT),
  CAST(SUM(h.n_hits) AS BIGINT),
  CAST((SUM(h.n_hits) * 1000000) // SUM(h.n_exact) AS BIGINT)
FROM xscan s JOIN xhits h ON h.query_id = s.query_id
""",
)
def x_ann_crossover_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crossover lane's recall/COST dial — per query (plus the
    corpus row, query_id = −1): which lane the dispatch picked, the
    exact survivor count that drove it, the rows each lane SCANS
    (survivors for filter-first; the probed cells' total population
    for IVF — the quantity the crossover rule trades), and recall@5
    against the exact filtered baseline. Filter-first rows read
    recall 1000000 ppm by construction — the dial exists to show what
    the IVF rows pay in recall for their bounded scan, and what the
    exact rows pay in scan for their perfect recall: the cost model
    behind _CROSS_N, measured rather than asserted (the
    x_ann_filtered_recall discipline extended with the cost axis)."""
    q2, probe, assigned, result = _cross_parts(spark, sf_dir)
    V = _km_vectors(spark, sf_dir)
    meta = _cross_meta(spark, sf_dir)
    wx = Window.partitionBy("query_id").orderBy("d_micro2", "neighbor_id")
    exact = (
        _cross_brute(q2, V, meta)
        .withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= _IVFT_TOPK)
        .select("query_id", "neighbor_id")
    )
    csize = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("cn")
    )
    iv_scan = (
        probe.join(F.broadcast(csize), "cid")
        .groupBy("query_id")
        .agg(F.sum("cn").cast("long").alias("iv_rows"))
    )
    scan = (
        q2.select(
            "query_id",
            "n_surv",
            F.when(F.col("n_surv") <= _CROSS_N, F.lit("exact"))
            .otherwise(F.lit("ivf"))
            .alias("lane"),
        )
        .join(iv_scan, "query_id", "left")
        .select(
            "query_id",
            "lane",
            "n_surv",
            F.when(F.col("lane") == "exact", F.col("n_surv"))
            .otherwise(F.coalesce(F.col("iv_rows"), F.lit(0)))
            .cast("long")
            .alias("scan_rows"),
        )
    )
    ann = result.select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = (
        exact.join(
            ann,
            (exact.query_id == ann.query_id)
            & (exact.neighbor_id == ann.ann_neighbor),
            "left",
        )
        .select(exact.query_id, "neighbor_id", "ann_neighbor")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("ann_neighbor").cast("long").alias("n_hits"),
        )
    )
    joined = materialize(scan.join(hits, "query_id"))
    per_q = joined.select(
        F.col("query_id").cast("long"),
        "lane",
        "n_surv",
        "scan_rows",
        "n_exact",
        "n_hits",
        F.expr("(n_hits * 1000000) DIV n_exact")
        .cast("long")
        .alias("recall_ppm"),
    )
    overall = joined.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.lit("all").alias("lane"),
        F.sum("n_surv").cast("long").alias("n_surv"),
        F.sum("scan_rows").cast("long").alias("scan_rows"),
        F.sum("n_exact").cast("long").alias("n_exact"),
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.expr("(sum(n_hits) * 1000000) DIV sum(n_exact)")
        .cast("long")
        .alias("recall_ppm"),
    )
    return per_q.unionAll(overall)


# ---------------------------------------------------------------------------
# Training-data prep: quality-ordered curriculum phases (round 9)
# ---------------------------------------------------------------------------

_CURR_PHASE_TOKENS = 2000  # tokens per curriculum phase

_CURRICULUM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
    CAST(len(replace(trim(text), ' ', '')) AS BIGINT) AS n_nonspace
  FROM documents
),
d AS (
  SELECT doc_id, n_tokens,
    CAST(n_nonspace * 1000 // GREATEST(n_tokens, 1) AS BIGINT)
      AS difficulty_milli
  FROM t
),
r AS (
  SELECT doc_id, n_tokens, difficulty_milli,
    CAST(ROW_NUMBER() OVER (ORDER BY difficulty_milli, doc_id) AS INTEGER)
      AS rank,
    CAST(SUM(n_tokens) OVER (
      ORDER BY difficulty_milli, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tokens
  FROM d
)
SELECT doc_id, n_tokens, difficulty_milli, rank, cum_tokens,
  CAST((cum_tokens - n_tokens) // {_CURR_PHASE_TOKENS} AS BIGINT) AS phase
FROM r
"""


@query("x_curriculum_order", oracle=_CURRICULUM_ORACLE)
def x_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering — the easy-first training schedule: docs
    ranked by a difficulty proxy (mean word length in integer
    milli-chars: short words first, the classic readability-derived
    curriculum key), cumulative token offsets along that order, and
    the PHASE each doc's first token lands in (start-offset DIV
    phase-budget — a doc belongs to the phase where it begins, so
    phases are contiguous spans of the schedule). Deterministic: the
    (difficulty, doc_id) tiebreak pins the total order; every number
    is an integer.

    Scale shape: the oracle SAYS ROW_NUMBER/SUM OVER a global order;
    the Spark side rides `global_row_number` + `global_running_sum`
    (range-partitioned prefix machinery — rows never leave their
    partition, only per-partition counts/totals centralize; the
    c_histogram_equidepth lesson applied at design time rather than
    after the probe). The x_shuffle_order / x_pack_sequences family:
    same helpers, curriculum semantics."""
    from ..functions.order import global_row_number, global_running_sum

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(F.trim(F.col("text")), " ", ""))
        .cast("long")
        .alias("n_nonspace"),
    )
    d = t.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "CAST(n_nonspace * 1000 DIV GREATEST(n_tokens, 1) AS BIGINT)"
        ).alias("difficulty_milli"),
    )
    ranked = global_row_number(d, ["difficulty_milli", "doc_id"], "rank")
    summed = global_running_sum(
        ranked, ["difficulty_milli", "doc_id"], "n_tokens", "cum_tokens"
    )
    return summed.select(
        "doc_id",
        "n_tokens",
        "difficulty_milli",
        "rank",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.expr(
            f"CAST((cum_tokens - n_tokens) DIV {_CURR_PHASE_TOKENS}"
            " AS BIGINT)"
        ).alias("phase"),
    )


# ---------------------------------------------------------------------------
# Embedding hygiene: snapshot drift monitor (round 9)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, vec_id % 2 AS snap,
    list_transform(CAST(embedding AS DOUBLE[]),
                   e -> CAST(floor(e * 1000000) AS BIGINT)) AS x
  FROM embeddings
),
cnt AS (
  SELECT label, snap, CAST(COUNT(*) AS BIGINT) AS n
  FROM v GROUP BY label, snap
),
c AS (
  SELECT label, snap, list(ci ORDER BY i) AS cent FROM (
    SELECT label, snap, i, CAST(SUM(x[i]) // COUNT(*) AS BIGINT) AS ci
    FROM v, unnest(range(1, {_KM_DIM} + 1)) AS u(i)
    GROUP BY label, snap, i
  ) GROUP BY label, snap
)
SELECT CAST(a.label AS BIGINT) AS label,
  na.n AS n_old, nb.n AS n_new,
  CAST(SUM((a.cent[i] - b.cent[i]) * (a.cent[i] - b.cent[i])) AS BIGINT)
    AS drift_micro2
FROM c a
JOIN c b ON a.label = b.label AND a.snap = 0 AND b.snap = 1
JOIN cnt na ON na.label = a.label AND na.snap = 0
JOIN cnt nb ON nb.label = b.label AND nb.snap = 1,
  unnest(range(1, {_KM_DIM} + 1)) AS u(i)
GROUP BY a.label, na.n, nb.n
"""

@query("x_embedding_drift", oracle=_DRIFT_ORACLE)
def x_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding snapshot drift — the monitor an embedding-serving
    pipeline runs when the encoder is retrained or the corpus shifts:
    per label, the squared distance between the OLD and NEW snapshot
    centroids (here snapshots are the deterministic vec_id parity
    split — in production, two table versions). Centroids are
    quantized to the integer lattice via truncating-division means
    (the x_kmeans trick), so the drift is an exact int64 — a drift
    ALERT must not itself be float-noisy.

    Scale shape: one (label, snap, dim)-keyed partial aggregation
    (per-dimension integer sums — K·2·dim slim rows out), centroid
    assembly and the K-row drift join never touch vectors again. The
    oracle re-derives both centroid tables and the distance in one
    CTE chain."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("snap"),
        F.transform(
            F.col("embedding"),
            lambda e: F.floor(e.cast("double") * 1000000).cast("long"),
        ).alias("x"),
    )
    ex = v.select("label", "snap", F.posexplode("x").alias("i", "xi"))
    c = (
        ex.groupBy("label", "snap", "i")
        .agg(F.sum("xi").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "label",
            "snap",
            "i",
            F.expr("CAST(s DIV cnt AS BIGINT)").alias("ci"),
            F.col("cnt"),
        )
        .groupBy("label", "snap")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ci"))),
                lambda st: st.ci,
            ).alias("cent"),
            F.max("cnt").cast("long").alias("n"),
        )
    )
    a = c.filter(F.col("snap") == 0).select(
        "label", F.col("n").alias("n_old"), F.col("cent").alias("c_old")
    )
    b = c.filter(F.col("snap") == 1).select(
        "label", F.col("n").alias("n_new"), F.col("cent").alias("c_new")
    )
    drift = F.aggregate(
        F.zip_with(
            F.col("c_old"), F.col("c_new"), lambda p, q: (p - q) * (p - q)
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    return a.join(b, "label").select(
        F.col("label").cast("long").alias("label"),
        "n_old",
        "n_new",
        drift.alias("drift_micro2"),
    )


# ---------------------------------------------------------------------------
# Retrieval: hybrid search via reciprocal-rank fusion (round 9)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant
_RRF_VEC_QUERY = 0  # the semantic side: trained-IVF results for query 0


def _hybrid_rrf_oracle() -> str:
    return f"""
WITH kw AS ({_keyword_search_oracle()}),
ann AS ({_ivf_trained_oracle()}),
contrib AS (
  SELECT doc_id, CAST(1000000 // ({_RRF_K} + rank) AS BIGINT) AS pts
  FROM kw
  UNION ALL
  SELECT neighbor_id AS doc_id,
    CAST(1000000 // ({_RRF_K} + rank) AS BIGINT) AS pts
  FROM ann WHERE query_id = {_RRF_VEC_QUERY}
),
fused AS (
  SELECT doc_id, CAST(SUM(pts) AS BIGINT) AS rrf_ppm,
    CAST(COUNT(*) AS BIGINT) AS n_sides
  FROM contrib GROUP BY doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT)
    AS rank,
  doc_id, rrf_ppm, n_sides
FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 10
"""


@query("x_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def x_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search — reciprocal-rank fusion of the KEYWORD side
    (x_keyword_search's conjunctive BM25 top-10, index-resolved) and
    the VECTOR side (x_ann_ivf_trained's top-5 for the semantic query,
    over the trained quantizer): the standard two-tower serving
    recipe, with RRF points as INTEGER ppm (1e6 DIV (60 + rank) — RRF
    is rank-only by design, so exact integers capture it fully and no
    float ever enters the fusion). Docs hit by both sides accumulate
    both contributions (`n_sides` = 2 marks the consensus results the
    fusion exists to surface).

    Composition, not reimplementation: both sides ARE the registered
    queries riding their pinned index/quantizer artifacts, and the
    oracle embeds both sides' oracle SQL verbatim as CTEs — so the
    fused list definitionally measures what the engine serves. Fusion
    itself is metadata-sized (≤15 candidate rows)."""
    kw = x_keyword_search(spark, sf_dir).select(
        "doc_id", F.expr(f"CAST(1000000 DIV ({_RRF_K} + rank) AS BIGINT)").alias("pts")
    )
    ann = (
        x_ann_ivf_trained(spark, sf_dir)
        .filter(F.col("query_id") == _RRF_VEC_QUERY)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.expr(
                f"CAST(1000000 DIV ({_RRF_K} + rank) AS BIGINT)"
            ).alias("pts"),
        )
    )
    fused = (
        kw.unionAll(ann)
        .groupBy("doc_id")
        .agg(
            F.sum("pts").cast("long").alias("rrf_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_sides"),
        )
    )
    w = Window.orderBy(F.desc("rrf_ppm"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf_ppm"), "doc_id")
        .limit(10)
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "doc_id",
            "rrf_ppm",
            "n_sides",
        )
    )


# ---------------------------------------------------------------------------
# Retrieval: cross-encoder-style exact re-rank of the hybrid shortlist
# (round 13 — the stage after x_hybrid_rrf in the standard serving stack)
# ---------------------------------------------------------------------------

# Integer micro-unit weights of the deterministic interaction scorer.
# A learned cross-encoder slots in behind the same contract: per
# (query, candidate) pair, a score computed from BOTH sides' full
# content — only the scoring function changes, never the plan shape.
_RR_W_COV = 400_000   # per query term present in the document
_RR_PROX_BASE = 200_000   # full-coverage proximity bonus at span==n_terms
_RR_PROX_SLOPE = 2_000    # bonus decay per token of first-occurrence span


def _rerank_exact_oracle() -> str:
    terms = _search_terms()
    pos_cols = ", ".join(
        f"COALESCE(list_position(toks, '{t}'), 0) AS p_{i}"
        for i, t in enumerate(terms)
    )
    p = [f"p_{i}" for i in range(len(terms))]
    cov = " + ".join(f"(CASE WHEN {pi} > 0 THEN 1 ELSE 0 END)" for pi in p)
    span = f"GREATEST({', '.join(p)}) - LEAST({', '.join(p)}) + 1"
    return f"""
WITH short AS ({_hybrid_rrf_oracle()}),
qe AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
       WHERE vec_id = {_RRF_VEC_QUERY}),
feat AS (
  SELECT s.rank AS rank_rrf, s.doc_id, s.rrf_ppm, {pos_cols}
  FROM short s JOIN (SELECT doc_id, {_SQL_TOKS} AS toks
                     FROM documents) d USING (doc_id)),
scored AS (
  SELECT rank_rrf, doc_id, rrf_ppm,
    COALESCE(CAST(ROUND(
      (list_dot_product(qe, ce) /
       (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))))
      * 1000000) AS BIGINT), 0) AS sem_ppm,
    CAST({cov} AS BIGINT) AS coverage,
    CAST(CASE WHEN {cov} = {len(terms)} THEN {span} ELSE 0 END AS BIGINT)
      AS span
  FROM feat CROSS JOIN qe
  LEFT JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings) e ON e.vec_id = feat.doc_id),
fin AS (
  SELECT *,
    sem_ppm + coverage * {_RR_W_COV}
      + CASE WHEN coverage = {len(terms)} THEN
          GREATEST(0, {_RR_PROX_BASE} - span * {_RR_PROX_SLOPE})
        ELSE 0 END AS score_micro
  FROM scored)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
    AS BIGINT) AS rank_re,
  doc_id, CAST(rank_rrf AS BIGINT) AS rank_rrf,
  CAST(score_micro AS BIGINT) AS score_micro, sem_ppm, coverage, span
FROM fin ORDER BY rank_re
"""


@query("x_rerank_exact", oracle=_rerank_exact_oracle())
def x_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-style EXACT re-rank of x_hybrid_rrf's shortlist —
    the second stage of the standard retrieval stack: cheap recallers
    (BM25 + ANN) nominate ~10 candidates, then an expensive exact
    scorer that sees the query AND the full candidate content together
    re-orders them. The scorer here is deterministic and integer-
    valued (micro-units): full-precision cosine of the query embedding
    against the candidate embedding (ppm, 0 when the candidate has no
    embedding row — re-rankers must tolerate partially-embedded
    corpora), plus query-term coverage over the candidate TEXT, plus a
    first-occurrence proximity bonus (GREATEST−LEAST span of the three
    terms' first positions — an interaction feature no bi-encoder or
    inverted index can see, the defining capability of the re-rank
    stage).

    Scale shape: cost is O(|shortlist|) BY CONSTRUCTION regardless of
    corpus size — the shortlist (≤10 rows) broadcasts into a semi-scan
    of documents for text features and a left equi-join against
    embeddings for the exact cosine; both big tables are touched once,
    column-pruned, and never shuffle (at 100 TB a point-lookup index
    or row-key fetch replaces the scan; the plan above it is
    unchanged). The oracle replays the ENTIRE two-tower + fusion +
    re-rank chain as one CTE pipeline, so stage contracts are
    differential-tested end to end."""
    terms = _search_terms()
    short = x_hybrid_rrf(spark, sf_dir).select(
        F.col("rank").alias("rank_rrf"), "doc_id", "rrf_ppm"
    )
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    qe = F.broadcast(
        emb.filter(F.col("vec_id") == _RRF_VEC_QUERY).select(
            F.col("embedding").alias("qe")
        )
    )
    d = docs.join(F.broadcast(short), "doc_id").select(
        "doc_id",
        "rank_rrf",
        "rrf_ppm",
        tokens(F.col("text")).alias("toks"),
    )
    pos = [
        F.array_position(F.col("toks"), t).alias(f"p_{i}")
        for i, t in enumerate(terms)
    ]
    feat = d.select("doc_id", "rank_rrf", "rrf_ppm", *pos)
    cov = sum(
        (F.col(f"p_{i}") > 0).cast("int") for i in range(len(terms))
    )
    p_cols = [F.col(f"p_{i}") for i in range(len(terms))]
    span = F.greatest(*p_cols) - F.least(*p_cols) + F.lit(1)
    scored = (
        feat.crossJoin(qe)
        .join(
            emb.select(
                F.col("vec_id").alias("doc_id"),
                F.col("embedding").alias("ce"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "rank_rrf",
            "rrf_ppm",
            F.coalesce(
                F.round(cosine(F.col("qe"), F.col("ce")) * 1000000, 0).cast(
                    "long"
                ),
                F.lit(0).cast("long"),
            ).alias("sem_ppm"),
            cov.cast("long").alias("coverage"),
            F.when(cov == len(terms), span)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("span"),
        )
    )
    fin = scored.withColumn(
        "score_micro",
        (
            F.col("sem_ppm")
            + F.col("coverage") * _RR_W_COV
            + F.when(
                F.col("coverage") == len(terms),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.lit(_RR_PROX_BASE) - F.col("span") * _RR_PROX_SLOPE,
                ),
            ).otherwise(F.lit(0))
        ).cast("long"),
    )
    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return fin.select(
        F.row_number().over(w).cast("long").alias("rank_re"),
        "doc_id",
        F.col("rank_rrf").cast("long").alias("rank_rrf"),
        "score_micro",
        "sem_ppm",
        "coverage",
        "span",
    ).orderBy("rank_re")


# ---------------------------------------------------------------------------
# Training-data prep: class-balanced subsample (round 9)
# ---------------------------------------------------------------------------

_BALANCED_ORACLE = """
WITH c AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
),
floor_n AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM c),
r AS (
  SELECT vec_id, label,
    ROW_NUMBER() OVER (
      PARTITION BY label
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM embeddings
)
SELECT vec_id, CAST(label AS BIGINT) AS label
FROM r, floor_n WHERE rn <= k
"""


@query("x_sample_balanced", oracle=_BALANCED_ORACLE)
def x_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced subsample — the classifier-training prep that
    downsamples every label to the MINORITY class size: per label,
    the first min-class-count rows of the md5(vec_id) order
    (deterministic pseudo-random — no RNG, reproducible across runs
    and engines, the x_sample_* family discipline). Exactly k rows
    per label by construction, where k = |smallest class|.

    Scale shape: one slim per-label count + a 1-row broadcast floor;
    the per-label rank is a label-keyed window whose heaviest
    partition is the LARGEST class — at severe imbalance that is the
    corpus, so at 100 TB the rank swaps onto the per-key variant of
    the prefix machinery or (when k ≪ class sizes) a per-label
    TakeOrdered(k); the md5-order semantics and the floor are
    unchanged under either plan."""
    emb = table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    k = counts.agg(F.min("n").cast("long").alias("k"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        emb.select("vec_id", F.col("label").cast("long").alias("label"))
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .select("vec_id", "label")
    )


# ---------------------------------------------------------------------------
# Text analysis: out-of-vocabulary rate per document (round 9)
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 1000  # the pinned top-K vocabulary

_OOV_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
d AS (
  SELECT doc_id, unnest(toks) AS term FROM t
),
tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY term
),
vocab AS (
  SELECT term FROM tf ORDER BY n DESC, term LIMIT {_OOV_VOCAB_K}
),
j AS (
  SELECT d.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) FILTER (v.term IS NULL) AS BIGINT) AS n_oov
  FROM d LEFT JOIN vocab v ON d.term = v.term
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens, n_oov,
  CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
FROM j
"""


@query("x_oov_rate", oracle=_OOV_ORACLE)
def x_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-1000
    vocabulary (frequency-desc, term-asc cut — deterministic): the
    tokenizer-design sibling of x_vocab_coverage (corpus-level mass
    curve) and x_tokenizer_fertility (tokens-per-word) — a doc whose
    tokens mostly fall outside the head vocabulary is boilerplate,
    another language, or junk, and OOV ppm is the gate that catches
    it. Zero-token docs have no token rows and no output row, both
    engines.

    Scale shape: one corpus term-frequency aggregation cut to a
    K-row vocabulary that BROADCASTS back onto the token stream (the
    unigram-LM split — vocab is small by construction, unlike the
    bigram table); membership is a broadcast LEFT join counted
    per doc, integer DIV for the rate."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n"))
    vocab = tf.orderBy(F.desc("n"), "term").limit(_OOV_VOCAB_K).select(
        "term", F.lit(1).alias("in_v")
    )
    j = (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("in_v").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.expr("CAST(n_oov * 1000000 DIV n_tokens AS BIGINT)").alias(
            "oov_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Dedup family: structural template detection (round 9)
# ---------------------------------------------------------------------------

_TPL_ORACLE = """
WITH t AS (
  SELECT doc_id,
    md5(regexp_replace(regexp_replace(regexp_replace(trim(text),
      '[0-9]+', '#', 'g'),
      '[A-Za-z]+', 'w', 'g'),
      '\\s+', ' ', 'g')) AS tpl
  FROM documents
)
SELECT tpl AS template_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(doc_id) AS BIGINT) AS example_doc,
  CAST(SUM(CASE WHEN doc_id <> m THEN 1 ELSE 0 END) AS BIGINT)
    AS n_redundant
FROM (SELECT doc_id, tpl, MIN(doc_id) OVER (PARTITION BY tpl) AS m FROM t)
GROUP BY tpl HAVING COUNT(*) > 1
"""


@query("x_template_detect", oracle=_TPL_ORACLE)
def x_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural template detection — the boilerplate/spam-farm
    catcher that exact and near dedup both miss: class every digit
    run to '#' and every letter run to 'w' (then collapse whitespace),
    so documents generated from one template collapse to one
    structural skeleton even when their words and numbers all differ.
    Reported per template with >1 member: group size, the keeper
    (min doc_id — the x_dedup_exact convention) and the redundant
    count. This is the cheap first pass a template-heavy crawl gets
    before the n-gram machinery runs.

    Scale shape: the classing is three per-row regexes inside codegen
    (the x_pii_redact family); the only exchange is a digest-keyed
    partial-agg groupBy — the exact-dedup cost class, and the skeleton
    digests are 32 bytes regardless of document size."""
    docs = table(spark, sf_dir, "documents")
    tpl = F.md5(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.trim(F.col("text")), "[0-9]+", "#"),
                "[A-Za-z]+",
                "w",
            ),
            r"\s+",
            " ",
        ).cast("binary")
    )
    return (
        docs.select("doc_id", tpl.alias("template_md5"))
        .groupBy("template_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("example_doc"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_redundant"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: DSIR data selection (round 13)
# ---------------------------------------------------------------------------

_DSIR_B = 1024  # hashed-feature buckets
_DSIR_TARGET_LANG = "en"  # the target-domain slice p_target is fit on
_DSIR_SEL_DIV = 10  # select ceil(n_docs / 10)

_DSIR_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, lang, unnest({_sql_shingles_k(2)}) AS gr FROM t),
f AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(gr), 1, 8))::UBIGINT % {_DSIR_B} AS BIGINT) AS b
  FROM g
),
cr AS (SELECT b, COUNT(*) AS c FROM f GROUP BY b),
ct AS (SELECT b, COUNT(*) AS c FROM f
       WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
tot AS (
  SELECT (SELECT COUNT(*) FROM f
          WHERE lang <> '{_DSIR_TARGET_LANG}') AS to_,
         (SELECT COUNT(*) FROM f WHERE lang = '{_DSIR_TARGET_LANG}') AS tt
),
lam AS (
  SELECT cr.b,
    CAST(ROUND(LOG2(CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE)
                    / (tot.tt + {_DSIR_B})) * 1e9) AS BIGINT)
    - CAST(ROUND(LOG2(CAST(cr.c - COALESCE(ct.c, 0) + 1 AS DOUBLE)
                      / (tot.to_ + {_DSIR_B})) * 1e9) AS BIGINT) AS lam
  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot
),
dc AS (SELECT doc_id, b, COUNT(*) AS n FROM f GROUP BY doc_id, b),
sc AS (
  SELECT doc_id, SUM(n) AS n_grams, SUM(n * lam) AS score
  FROM dc JOIN lam USING (b) GROUP BY doc_id
),
alldocs AS (
  SELECT d.doc_id,
    CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
    CAST(COALESCE(sc.score, 0) AS BIGINT) AS score_nanobits
  FROM documents d LEFT JOIN sc USING (doc_id)
),
k AS (SELECT (COUNT(*) + {_DSIR_SEL_DIV - 1}) // {_DSIR_SEL_DIV} AS k
      FROM documents)
SELECT doc_id, n_grams, score_nanobits,
  CAST(ROW_NUMBER() OVER (ORDER BY score_nanobits DESC, doc_id)
    AS INTEGER) AS sel_rank,
  ROW_NUMBER() OVER (ORDER BY score_nanobits DESC, doc_id) <= k.k
    AS selected
FROM alldocs, k
"""


@query("x_dsir_select", oracle=_DSIR_ORACLE)
def x_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., 2023 — "Data Selection for
    Language Models via Importance Resampling"): fit two hashed-bigram
    bag-of-ngrams LMs — the TARGET domain (here the lang='en' slice,
    the published recipe's target-corpus stand-in) and its COMPLEMENT —
    and score every document by its log importance odds
    sum_g [log2 p_target(bucket(g)) - log2 p_other(bucket(g))], add-one
    smoothed over the fixed bucket space. The top ceil(n/10) by
    (score, doc_id) are the selected training subset — the paper's
    top-k selection variant, deterministic end to end (the Gumbel
    resampling variant slots in as one extra seeded-hash key column).
    The denominator LM is the complement slice rather than the raw
    corpus: with target ⊂ raw the two estimators converge once counts
    dominate the smoothing prior, but at small corpus scale the raw
    denominator compresses every ratio below 1 (target mass is counted
    on both sides) and featureless docs would outrank everything —
    the log-ODDS form keeps both signs meaningful at every scale.

    Determinism: features hash through md5 (first 8 hex → int mod B,
    engine-identical); each bucket's two log2 terms are quantized to
    integer nanobits SEPARATELY (the exact x_unigram_logprob rounding
    shape, already proven cross-engine) and the per-doc score is an
    exact integer dot product of (bucket count × bucket lambda); ties
    break by doc_id; docs with <2 tokens score 0 on 0 grams.

    Scale shape: the lambda table is AT MOST 1024 (_DSIR_B) rows — built
    from two partial-agg bucket counts and BROADCAST onto the slim
    per-doc bucket-count frame (doc_id-keyed partial agg, never the
    raw gram stream twice thanks to one shared explode); the global
    top-fraction rank rides the range-partitioned prefix machinery
    (functions/order.py), never a single-task ROW_NUMBER. At 100 TB
    the only corpus-sized exchange is the (doc_id, bucket) partial
    aggregation — the exact-dedup cost class. Probes: 10× growth 1.33,
    100× growth 18.8 (the flat part is the rank/LM machinery; the
    linear part is one md5 per gram — the repo's cross-engine hash
    convention; a production deployment swaps xxhash64 there, same
    bucket contract, ~10× cheaper and Spark-side only)."""
    from ..functions.order import global_row_number

    docs = table(spark, sf_dir, "documents")

    # ONE explode, ONE corpus-sized exchange: the gram stream folds
    # straight into per-(doc, bucket) counts (partial agg collapses a
    # doc's repeats map-side); every LM statistic below derives from
    # this slim frame, which is also what the scorer consumes — so the
    # corpus text is read and exploded exactly once. A PINNED artifact
    # (the _bigram_stream discipline): the frame is a pure corpus
    # function — at intake a production pipeline writes it once as the
    # hashed-feature index and every selection run probes it.
    def build():
        return (
            docs.select(
                "doc_id",
                "lang",
                F.explode(shingles(tokens(F.col("text")), k=2)).alias("gr"),
            )
            .select(
                "doc_id",
                "lang",
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.col("gr")), 1, 8), 16, 10
                    ).cast("long"),
                    F.lit(_DSIR_B),
                ).alias("b"),
            )
            .groupBy("doc_id", "lang", "b")
            .agg(F.count("*").alias("n"))
        )

    dcl = artifact(spark, f"dsir_dcl:{sf_dir}", build)
    is_t = F.col("lang") == _DSIR_TARGET_LANG
    # ONE artifact pass for every LM statistic (was three: separate
    # groupBy("b") passes for the raw and target bucket masses plus a
    # corpus-sized global agg for the two totals — guide §1.2 "don't
    # compute things you throw away", §2.3 "aggregate before you
    # shuffle"): a single conditional aggregation yields per-bucket
    # raw/target/complement masses, and the totals are sums of this
    # ≤_DSIR_B-row frame, not of dcl. Pinned because two branches
    # (totals + lambdas) read it — and pinned as an ARTIFACT (a pure
    # corpus function, the same class as dcl itself) rather than a
    # per-call materialize, so warm calls see MEASURED checkpoint
    # bytes and the global rank below can take the plain-window path
    # when the corpus is genuinely small (1.19 → 0.76 s warm at
    # sf0.1; a per-call pin is never materialized at plan time and
    # pessimistically kept the prefix machinery).
    bstats = artifact(
        spark,
        f"dsir_bstats:{sf_dir}",
        lambda: dcl.groupBy("b").agg(
            F.sum("n").alias("cr"),
            F.sum(F.when(is_t, F.col("n")).otherwise(0)).alias("ct"),
            F.sum(F.when(~is_t, F.col("n")).otherwise(0)).alias("co"),
        ),
    )
    tot = bstats.agg(F.sum("co").alias("to_"), F.sum("ct").alias("tt"))

    def _nanobits(c, t):
        return (
            F.round(
                F.log2(c.cast("double") / (t + F.lit(_DSIR_B))) * 1e9
            ).cast("long")
        )

    tgt = F.col("ct")  # conditional-agg ct is 0, never null
    lam = bstats.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            _nanobits(tgt + 1, F.col("tt"))
            - _nanobits(F.col("cr") - tgt + 1, F.col("to_"))
        ).alias("lam"),
    )
    sc = (
        dcl.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.sum(F.col("n") * F.col("lam")).cast("long").alias(
                "score_nanobits"
            ),
        )
    )
    alldocs = (
        docs.select("doc_id")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("score_nanobits", F.lit(0))
            .cast("long")
            .alias("score_nanobits"),
        )
    )
    k = docs.agg(
        F.expr(
            f"CAST((COUNT(*) + {_DSIR_SEL_DIV - 1}) DIV {_DSIR_SEL_DIV}"
            " AS BIGINT)"
        ).alias("__k")
    )
    ranked = global_row_number(
        alldocs.withColumn("__neg", -F.col("score_nanobits")),
        ["__neg", "doc_id"],
        "sel_rank",
    )
    return ranked.join(F.broadcast(k)).select(
        "doc_id",
        "n_grams",
        "score_nanobits",
        F.col("sel_rank").cast("int").alias("sel_rank"),
        (F.col("sel_rank") <= F.col("__k")).alias("selected"),
    )
