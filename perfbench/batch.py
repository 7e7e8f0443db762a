"""batch_plans: registered queries forced through the `noop` sink.

Set-up writes the seeded sf0.1 tables and publishes the derived index
stores into the run's empty index root. Each pass first calls
`plans.pins.release_sf_pins`, so it pays the session-pin builds a fresh
batch job pays, then runs every query in a fixed order. After the timed
passes a seeded share of the queries is compared with its DuckDB oracle
through `testing.compare_query`.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

import corpus
import tracing
from stats import percentile

QUERIES = ("ann_topk_ivf_published", "bm25_topk", "hybrid_search",
           "pricing_summary", "streaming_vector_refresh")
# the query that maintains an index store incrementally
UPKEEP = "streaming_vector_refresh"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
CHECKS_PER_RUN = 1


STORE_NAMES = ("lexical", "vector_ivf")


def _stores():
    from hadith_vector_search_spark.plans import lexical, semantic

    return (("lexical", lexical.get_index),
            ("vector_ivf", semantic.get_published_vector_index))


def checked_queries(seed: int) -> list[str]:
    """The queries compared with their oracles in this run: a window of
    CHECKS_PER_RUN that moves with the seed, so consecutive seeds cover
    every query."""
    start = (seed * CHECKS_PER_RUN) % len(QUERIES)
    return [QUERIES[(start + i) % len(QUERIES)] for i in range(CHECKS_PER_RUN)]


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def run(ctx) -> dict:
    from hadith_vector_search_spark import testing
    from hadith_vector_search_spark.plans.pins import release_sf_pins
    from hadith_vector_search_spark.registry import get_oracles, get_queries

    spark, tracer, counter = ctx.spark, ctx.tracer, ctx.counter
    sf_dir = os.path.join(ctx.work, "data", "sf0.1")
    corpus.write_tables(sf_dir, ctx.seed, TABLES)
    ctx.log(f"tables written at {time.time() - ctx.t0:.1f}s")
    publish_s = {}
    for name, fn in _stores():
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        publish_s[name] = time.perf_counter() - t0
    queries = get_queries()
    setup_s = time.time() - ctx.t0
    ctx.log("publish " + ", ".join(f"{k} {v:.1f}s" for k, v in publish_s.items())
            + f"; set-up done at {setup_s:.1f}s")

    passes, problems = [], {}
    pins_resident, pins_built = [], []
    op = 0
    t_start = time.perf_counter()
    min_passes = 2 if tracer.enabled else 1
    while len(passes) < min_passes or time.perf_counter() - t_start < ctx.seconds:
        release_sf_pins(spark, sf_dir)
        pins_resident.append(tracing.cache_entries())
        before = tracing.cache_keys()
        walls = {}
        for name in QUERIES:
            gc.collect()
            op += 1
            ctx.job_group(f"op{op}")
            root = tracer.begin_op(f"query.{name}", op)
            c0 = counter.calls
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop").save()
                err = None
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                err = f"{name}: {type(exc).__name__}: {exc}"
            dt = time.perf_counter() - t0
            tracer.end_op(root)
            walls[name] = {"op": op, "s": dt, "py4j": counter.calls - c0}
            if err:
                problems[f"{name}#{len(passes)}"] = err
        pins_built.append(len(tracing.cache_keys() - before))
        passes.append(walls)
        ctx.log(f"pass {len(passes)}: " + ", ".join(
            f"{q} {w['s']:.2f}" for q, w in walls.items()))

    # peaks of the timed work, before the checks pull results into Python
    py_rss, jvm_rss = tracing.rss_peak_mb(), tracing.jvm_peak_rss_mb(spark)
    checked = checked_queries(ctx.seed)
    con = testing.duckdb_connect_views(sf_dir)
    oracles = get_oracles()
    for name in checked:
        try:
            diff = testing.compare_query(spark, con, queries[name],
                                         oracles[name], sf_dir)
        except Exception as exc:  # noqa: BLE001
            diff = [f"{type(exc).__name__}: {exc}"]
        if diff:
            problems[f"{name}#oracle"] = f"{name}: {diff[0]}"
    con.close()
    ctx.log(f"batch_plans: {len(passes)} pass(es), oracle-checked "
            f"{', '.join(checked)}")
    for p in problems.values():
        ctx.log(f"FAILED {p}")

    attempted = len(passes) * len(QUERIES) + len(checked)
    failed = len(problems)
    all_walls = [w for p in passes for w in p.values()]
    query_ms = [w["s"] * 1000 for w in all_walls]
    metrics = {
        "setup_s": setup_s,
        "req_p50_ms": statistics.median(query_ms),
        "req_p95_ms": percentile(query_ms, 95),
        "upsert_p50_s": statistics.median(p[UPKEEP]["s"] for p in passes),
        "batch_pass_s": statistics.median(
            sum(w["s"] for w in p.values()) for p in passes),
        "py_peak_rss_mb": py_rss,
    }
    layers = {}
    if tracer.enabled:
        layers = _layers(ctx, passes, all_walls, publish_s, pins_resident,
                         pins_built, sf_dir)
        layers["jvm.peak_rss_mb"] = jvm_rss
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "layers": layers}


def _layers(ctx, passes, all_walls, publish_s, pins_resident, pins_built,
            sf_dir) -> dict:
    spans = ctx.tracer.spans
    ops = {w["op"] for w in all_walls}
    n_passes = len(passes)
    layers = {f"plans.{q}_s": statistics.median(p[q]["s"] for p in passes)
              for q in QUERIES}
    layers["plans.pins_built"] = statistics.mean(pins_built)
    layers["plans.pins_resident"] = float(pins_resident[0])
    layers["py4j.calls"] = statistics.mean(w["py4j"] for w in all_walls)
    spreads = []
    for q in QUERIES:
        calls = [p[q]["py4j"] for p in passes]
        med = statistics.median(calls)
        spreads.append((max(calls) - min(calls)) / med if med else 0.0)
    layers["py4j.calls_spread"] = statistics.mean(spreads)
    with ctx.counter.pause():
        groups = tracing.read_jobs(ctx.spark)
    layers.update(tracing.spark_layer(
        [groups.get(f"op{w['op']}", {}) for w in all_walls],
        [w["s"] * 1000 for w in all_walls]))
    layers.update(tracing.operator_layer(spans, ops))
    for name, s in publish_s.items():
        layers[f"sources.publish_{name}_s"] = s
    layers["sources.store_bytes_per_input_byte"] = (
        _du(os.environ["SPARK_GRAFT_INDEX_ROOT"]) / max(1, _du(sf_dir)))
    clones = [s for s in spans if s.name == "sources.clone_store"]
    layers["sources.clone_store_s"] = (
        sum(s.end - s.start for s in clones) / n_passes)
    layers["sources.clones"] = len(clones) / n_passes
    layers["trace.overhead_ms_per_op"] = tracing.overhead_ms_per_op(
        spans, ops, ctx.job_group_s)
    return layers
