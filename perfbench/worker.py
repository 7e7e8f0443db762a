"""Runs one workload in the environment `run.py` prepared, and prints the
result line. Not meant to be started by hand; use run.py."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass, field

import batch
import serve
import stream
import tracing

END_TO_END = {
    "setup_s": "s", "req_p50_ms": "ms", "req_p95_ms": "ms",
    "upsert_p50_s": "s", "batch_pass_s": "s",
    "py_peak_rss_mb": "MB",
}
PER_LAYER = {
    "serving.dispatch_ms": "ms", "serving.collect_ms": "ms",
    "serving.self_ms": "ms", "serving.response_bytes": "bytes",
    **{f"serving.{k}_p50_ms": "ms" for k, _ in stream.REQUEST_MIX},
    "py4j.calls": "count", "py4j.calls_spread": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.in_jobs_ms": "ms", "spark.outside_jobs_ms": "ms",
    "spark.task_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.rows_read_per_row_out": "ratio",
    "operators.route_one_ms": "ms", "operators.encode_query_ms": "ms",
    "operators.cosine_scores_ms": "ms", "operators.fusion_score_ms": "ms",
    "functions.vector_lit_ms": "ms", "functions.vector_lit_calls": "count",
    **{f"plans.{q}_s": "s" for q in batch.QUERIES},
    "plans.pins_built": "count", "plans.pins_resident": "count",
    **{f"sources.publish_{s}_s": "s" for s in batch.STORE_NAMES},
    "sources.store_bytes_per_input_byte": "ratio",
    "sources.clone_store_s": "s", "sources.clones": "count",
    "api.upsert_documents_s": "s", "operators.refresh_index_ms": "ms",
    "sources.classify_changes_ms": "ms", "sources.merge_upsert_ms": "ms",
    "api.upsert_changed_ratio": "ratio", "api.enable_interactive_s": "s",
    "gen.repeat_share": "ratio", "gen.lexical_miss_share": "ratio",
    "fail_ratio": "ratio", "jvm.peak_rss_mb": "MB",
    "trace.req_p50_ms": "ms", "trace.overhead_ms_per_op": "ms",
}
PKG = "hadith_vector_search_spark"


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    t0: float                    # wall clock when run.py started
    tracer: tracing.Tracer
    counter: tracing.Py4jCounter = field(default_factory=tracing.Py4jCounter)
    job_group_s: float = 0.0     # time spent tagging jobs (trace overhead)

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def job_group(self, name: str) -> None:
        """Tag the calling thread's next Spark jobs (traced runs only)."""
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        with self.counter.pause():
            self.spark.sparkContext.setJobGroup(name, "perfbench")
        self.job_group_s += time.perf_counter() - t0


def instrument(ctx: Ctx) -> None:
    """Wrap the engine's public functions in spans, from the outside."""
    import importlib

    # load every module that copies these functions by name, so that
    # rebind reaches each copy
    for m in ("api", "registry", "serving.http", "serving.stdio"):
        importlib.import_module(f"{PKG}.{m}")
    from hadith_vector_search_spark import api
    from hadith_vector_search_spark.functions import vector
    from hadith_vector_search_spark.operators import (
        bm25, embedder, fusion, router, similarity)
    from hadith_vector_search_spark.serving.stdio import StdioServer
    from hadith_vector_search_spark.sources import commit, ingest

    t = ctx.tracer
    for mod, attr, name in (
            (router, "route_one", "operators.route_one"),
            (embedder, "encode_query", "operators.encode_query"),
            (similarity, "cosine_scores", "operators.cosine_scores"),
            (fusion, "score", "operators.fusion_score"),
            (vector, "vector_lit", "functions.vector_lit"),
            (bm25, "refresh_index", "operators.refresh_index"),
            (ingest, "classify_changes", "sources.classify_changes"),
            (ingest, "merge_upsert", "sources.merge_upsert"),
            (commit, "clone_store", "sources.clone_store")):
        orig = getattr(mod, attr)
        tracing.rebind(PKG, orig, t.wrap(name, orig))
    eng = api.HybridEngine
    eng.upsert_documents = t.wrap("api.upsert_documents", eng.upsert_documents)
    eng.enable_interactive = t.wrap("api.enable_interactive",
                                    eng.enable_interactive)
    dispatch = t.wrap("serving.dispatch", StdioServer.call_tool)

    def call_tool(self, name, args):
        ctx.job_group(f"op{t.current_op}")  # handler thread: tag its jobs
        return dispatch(self, name, args)

    StdioServer.call_tool = call_tool
    df_cls = type(ctx.spark.range(1))
    df_cls.collect = t.wrap("DataFrame.collect", df_cls.collect)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args(argv)

    from hadith_vector_search_spark.session import get_spark

    workload = {"serve_resident": serve, "batch_plans": batch}[args.workload]
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"perfbench: session up at {time.time() - args.t0:.1f}s",
          file=sys.stderr, flush=True)
    ctx = Ctx(spark, args.seed, args.seconds, args.work, args.t0,
              tracing.Tracer(enabled=bool(args.trace)))
    if args.trace:
        ctx.counter = tracing.Py4jCounter(spark)
        instrument(ctx)
    try:
        res = workload.run(ctx)
    finally:
        spark.stop()
    if args.trace:
        names, values = PER_LAYER, res["layers"]
        values["fail_ratio"] = res["failed"] / res["attempted"]
        values["trace.req_p50_ms"] = res["metrics"]["req_p50_ms"]
        path = os.path.join(os.path.dirname(args.work),
                            f"trace-{args.workload}.json")
        tracing.dump(ctx.tracer.spans, path)
        ctx.log(f"{len(ctx.tracer.spans)} spans written to {path}")
        for name, (n, total, own) in sorted(
                tracing.summary(ctx.tracer.spans).items(),
                key=lambda kv: -kv[1][2]):
            ctx.log(f"  {name:34s} n={n:6d} total={total:10.1f} ms "
                    f"self={own:10.1f} ms")
    else:
        names, values = END_TO_END, res["metrics"]
    unknown = set(values) - set(names)
    if unknown:
        raise RuntimeError(f"unregistered metrics {sorted(unknown)}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
