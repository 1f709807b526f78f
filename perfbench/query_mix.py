"""query_mix: 22 registry queries, each forced end to end with the
`noop` sink, covering every query module and the adaptive, artifact and
Arrow-UDF helpers. The cold pass (part of set-up, so work moved into
artifact builds shows) collects every result and checks it against the
query's DuckDB oracle; warm passes then repeat the mix for the
measurement time.

End-to-end, from each query's median warm time: rate_per_s = queries/s
over the mix (22 / mix_s, mix_s being the sum of those medians); p50_ms
= the mean time of the middle half of the queries (the interquartile
mean); tail_ms = the mean time of the slowest quarter of the queries.
A pass takes 10-15 s at sf0.01 on 4 shared cores, so a 10 s window
holds one warm pass and each query's median is a single execution. The
single median-ranked query spread 0.22 (IQR / median) over seven runs,
because which query lands in the middle changes from run to run; the
middle half's mean spread 0.06. With 22 samples the highest percentile
that has 10 samples beyond it is p54.5, no tail at all, and the slowest
query alone spread 0.31 between runs, so the tail is the slowest
quarter's mean."""

from __future__ import annotations

import hashlib
import math
import os
import time

from common import another_fits, median
from gen import tables

NAMES = (
    "b4_classify_fizzbuzz b7_ordered_fanin b10_lineage_join c_stream_session "
    "c_tpch_q1 c_tpch_q9 c_tpch_q18 c_tpch_q21 c_join_asof_adaptive "
    "c_sessionize_adaptive c_scd2_adaptive c_agg_approx_quantile c_table_profile "
    "c_pandas_udf c_join_salted x_dedup_exact x_dedup_minhash x_knn_graph "
    "x_ann_ivfpq x_bpe_train_merges x_extract_text x_pipeline_report"
).split()
MODULES = ("reference", "relational", "temporal", "tpch", "llm")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
SF = 0.01
FAULTS = 1  # --fault drops a row of the first query's result


def generate(ctx) -> None:
    ctx.sf_dir = tables(ctx.repo, ctx.sf or SF, os.path.join(ctx.inputs, "sf"), ctx.seed)


def _vhash(df) -> str:
    """Order-insensitive value hash, as the oracle harness computes it."""
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.round(6).to_csv(index=False).encode()).hexdigest()


def run(ctx) -> dict:
    import duckdb

    from async_event_streams_spark.queries import ORACLES, QUERIES
    from async_event_streams_spark.util import artifact_build_secs, drain_artifact_events

    spark, tr = ctx.spark, ctx.tracer
    drain_artifact_events()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.sf_dir}/{t}.parquet'")

    setup_s = 0.0
    mismatched = []
    for i, name in enumerate(NAMES):
        t0 = time.perf_counter()
        with tr.span("queries.build", f"cold:{name}"):
            df = QUERIES[name](spark, ctx.sf_dir)
        with tr.span("queries.collect", f"cold:{name}"):
            got = df.toPandas()
        setup_s += time.perf_counter() - t0
        if ctx.fault and i == 0:
            got = got.iloc[1:]
        want = con.execute(ORACLES[name]).df()
        if not (len(got) == len(want) and sorted(got.columns) == sorted(want.columns)
                and _vhash(got) == _vhash(want)):
            mismatched.append(name)
    con.close()

    warm: dict[str, list[float]] = {n: [] for n in NAMES}
    build_ms: list[float] = []
    passes = 0
    t_measure = time.perf_counter()
    while another_fits(t_measure, passes, ctx.seconds):
        passes += 1
        for name in NAMES:
            req = f"warm{passes}:{name}"
            t0 = time.perf_counter()
            with tr.span("queries.build", req):
                df = QUERIES[name](spark, ctx.sf_dir)
            t1 = time.perf_counter()
            with tr.span("queries.execute", req):
                df.write.mode("overwrite").format("noop").save()
            warm[name].append(time.perf_counter() - t0)
            build_ms.append((t1 - t0) * 1e3)

    ctx.attempted += len(NAMES)  # the oracle checks; warm passes are unchecked
    ctx.fail(len(mismatched), f"query_mix oracle mismatch: {mismatched}")
    per_query = {n: median(ts) for n, ts in warm.items()}
    mix_s = sum(per_query.values())
    query_ms = sorted(s * 1e3 for s in per_query.values())

    if tr.enabled:
        events = drain_artifact_events()
        builds = sum(1 for _, what in events if what == "build")
        ctx.layer["queries.build_ms_p50"] = median(build_ms)
        for module in MODULES:
            ctx.layer[f"queries.{module}.exec_s"] = sum(
                s for n, s in per_query.items()
                if QUERIES[n].__module__.rsplit(".", 1)[1] == module)
        ctx.layer.update({f"query.{n}.s": s for n, s in per_query.items()})
        ctx.layer.update({
            "util.artifact_builds": builds,
            "util.artifact_build_s": sum(artifact_build_secs().values()),
            "util.artifact_hit_frac": (len(events) - builds) / max(1, len(events)),
        })
    slowest = query_ms[-math.ceil(len(NAMES) / 4):]
    quarter = len(NAMES) // 4
    middle = query_ms[quarter:len(NAMES) - quarter]
    ctx.notes.append(
        f"query_mix: {passes} warm passes ({passes} samples per query), mix_s={mix_s:.2f} s; "
        f"median query {median(query_ms):.0f} ms, middle {len(middle)} mean "
        f"{sum(middle) / len(middle):.0f} ms, slowest {len(slowest)} "
        f"{[round(t) for t in slowest]} ms; cold pass {setup_s:.1f} s"
    )
    return {
        "setup_s": setup_s,
        "rate_per_s": len(NAMES) / mix_s,
        "p50_ms": sum(middle) / len(middle),
        "tail_ms": sum(slowest) / len(slowest),
    }
