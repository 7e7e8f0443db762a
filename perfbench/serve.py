"""serve_resident: the deployed serving shape under reads and upserts.

One client drives an in-process `serving.http.EngineHTTPServer` over
loopback HTTP, closed loop. The engine is a `HybridEngine` with its
resident tiers enabled. Each cycle sends a fixed number of seeded reads,
then applies one seeded upsert batch with `HybridEngine.upsert_documents`
from the same thread, so writes never overlap reads.

Checks, all outside the timed operations:
- every read response is well formed and consistent with the generator's
  model of the corpus;
- every upsert returns exactly the counts of its generated batch, its
  marker inserts are found by the next fts_match, updated documents read
  back with their new text and removed ones are gone;
- a seeded sample of reads, replayed at the end, returns the same rows
  from the resident tiers as from the Spark path over the same corpus.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import time

import numpy as np

import corpus
import stream
import tracing
from stats import MIN_BEYOND_TAIL, iqr_spread, percentile, samples_beyond

READS_PER_BATCH = 100
MIN_UPSERTS = 1
WARMUP_READS = 10
TAIL_P = 95
REPLAY_SAMPLE = 2
REPLAY_KINDS = ("hybrid", "exact_ref", "fts", "mlt", "document", "rerank")


def _send(port: int, method: str, path: str, body: dict | None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        if body is None:
            conn.request(method, path)
        else:
            conn.request(method, path, body=json.dumps(body),
                         headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _descending(rows: list[dict], key: str) -> bool:
    vals = [r[key] for r in rows]
    return all(a >= b for a, b in zip(vals, vals[1:]))


def check_read(read: stream.Read, status: int, payload, known: set,
               miss_words: set) -> str | None:
    """Problem with one read response, or None when it is correct."""
    if status != 200:
        return f"{read.kind}: HTTP {status}"
    k, n = read.kind, stream.N_RESULTS
    if k == "document":
        ok = (payload.get("doc_id") == read.expect["doc_id"]
              and payload.get("text") == read.expect["text"])
        return None if ok else "document: wrong row"
    if not isinstance(payload, list):
        return f"{k}: not a row list"
    if any(r.get("doc_id") not in known for r in payload):
        return f"{k}: unknown doc_id"
    if k == "exact_ref":
        ids = [r["doc_id"] for r in payload]
        return None if ids == [read.expect["doc_id"]] else "exact_ref: wrong"
    if k == "batch8":
        bad = any(not 0 <= r.get("query_idx", -1) < 8 for r in payload)
        return "batch8: bad query_idx" if bad or len(payload) > 8 * n else None
    if len(payload) > n:
        return f"{k}: more than {n} rows"
    if k == "fts":
        if set(read.text.split()) & miss_words and payload:
            return "fts: rows for a term absent from the corpus"
        return None if _descending(payload, "bm25") else "fts: not ranked"
    if k == "mlt":
        if any(r["doc_id"] == read.expect["seed"] for r in payload):
            return "mlt: seed returned"
        return None if _descending(payload, "bm25") else "mlt: not ranked"
    key = "ce_score" if k == "rerank" else "score"
    return None if _descending(payload, key) else f"{k}: not ranked"


def run(ctx) -> dict:
    from hadith_vector_search_spark.api import HybridEngine, configure_interactive
    from hadith_vector_search_spark.serving.http import EngineHTTPServer
    from hadith_vector_search_spark.sources import load_table

    spark, seed = ctx.spark, ctx.seed
    configure_interactive(spark)
    data_dir = os.path.join(ctx.work, "data")
    corpus.write_tables(data_dir, seed, ("documents",))
    init_docs = corpus.documents(seed).to_pylist()
    docs = load_table(spark, data_dir, "documents")

    engine = HybridEngine(spark, docs)
    t0 = time.perf_counter()
    if not engine.enable_interactive():
        raise RuntimeError("the engine refused its resident tiers")
    enable_s = time.perf_counter() - t0
    server = EngineHTTPServer(engine).start()
    port = server.port
    try:
        # warm-up: reads from a stream the timed run never sees
        warm = next(stream.cycles(seed + 1_000_003, init_docs, WARMUP_READS))
        for r in warm.reads:
            _send(port, r.method, r.path, r.body)
        setup_s = time.time() - ctx.t0
        out = _timed(ctx, engine, port,
                     stream.cycles(seed, init_docs, READS_PER_BATCH),
                     init_docs)
        out["setup_s"] = setup_s
        out["enable_s"] = enable_s
        # peaks of the timed work, before the replay's Spark-path calls
        out["py_rss"] = tracing.rss_peak_mb()
        out["jvm_rss"] = tracing.jvm_peak_rss_mb(spark)
        out["replay_failed"] = _replay(ctx, port, engine,
                                       [r["read"] for r in out["reads"]])
    finally:
        server.stop()
    return _report(ctx, out, init_docs)


def _timed(ctx, engine, port: int, cycles, init_docs) -> dict:
    spark, tracer, counter = ctx.spark, ctx.tracer, ctx.counter
    known = {d["doc_id"] for d in init_docs}
    miss = set(corpus.miss_words(ctx.seed))
    reads, upserts, cycle_walls = [], [], []
    op = 0
    t_start = time.perf_counter()
    schema = engine.docs.schema
    for cycle in cycles:
        cycle_wall = 0.0
        for r in cycle.reads:
            op += 1
            root = tracer.begin_op(f"request.{r.kind}", op)
            c0 = counter.calls
            t0 = time.perf_counter()
            status, data = _send(port, r.method, r.path, r.body)
            dt = time.perf_counter() - t0
            tracer.end_op(root)
            reads.append({"op": op, "kind": r.kind, "s": dt,
                          "py4j": counter.calls - c0,
                          "bytes": len(data), "status": status,
                          "data": data, "read": r})
            cycle_wall += dt
        # the run ends on reads, so reads that follow a write are measured
        if (time.perf_counter() - t_start >= ctx.seconds
                and len(upserts) >= MIN_UPSERTS):
            break
        up = cycle.upsert
        inc = spark.createDataFrame(up.rows, schema=schema)
        removed = (spark.createDataFrame([(i,) for i in up.removed],
                                         "doc_id bigint")
                   if up.removed else None)
        op += 1
        ctx.job_group(f"op{op}")
        root = tracer.begin_op("request.upsert", op)
        c0 = counter.calls
        t0 = time.perf_counter()
        got = engine.upsert_documents(inc, removed)
        dt = time.perf_counter() - t0
        tracer.end_op(root)
        cycle_walls.append(cycle_wall + dt)
        if got != up.counts:
            problem = f"upsert counts {got} != {up.counts}"
        else:
            problem = _check_upsert(port, up)
        upserts.append({"op": op, "s": dt, "counts": got,
                        "py4j": counter.calls - c0, "problem": problem})
        known |= set(up.inserted)
    for rec in reads:
        try:
            payload = json.loads(rec["data"])
            p = check_read(rec["read"], rec["status"], payload, known, miss)
        except Exception as exc:  # noqa: BLE001 - a bad body is a failure
            p = f"{rec['kind']}: {type(exc).__name__}: {exc}"
        rec["problem"] = p
        rec.pop("data")
    return {"reads": reads, "upserts": upserts, "cycle_walls": cycle_walls}


def _check_upsert(port: int, up: stream.Upsert) -> str | None:
    status, data = _send(port, "POST", "/api/match/fts",
                         {"prefix": up.marker_prefix,
                          "limit": 10 * stream.N_INSERT})
    hits = sorted(r["doc_id"] for r in json.loads(data)) if status == 200 else []
    if hits != sorted(up.inserted):
        return f"marker inserts found {hits}, expected {sorted(up.inserted)}"
    for doc_id, text in list(up.updated.items())[:2]:
        status, data = _send(port, "GET", f"/api/document/{doc_id}", None)
        if status != 200 or json.loads(data).get("text") != text:
            return f"updated document {doc_id} not read back"
    for doc_id in up.removed[:1]:
        status, _ = _send(port, "GET", f"/api/document/{doc_id}", None)
        if status != 404:
            return f"removed document {doc_id} still served"
    return None


def _replay(ctx, port: int, engine, sent: list[stream.Read]) -> list[str | None]:
    """Replay a seeded sample of reads with the resident tiers on, then
    again with them released (every call then takes the Spark path over
    the same corpus, index and embeddings); the rows must be identical."""
    rng = np.random.default_rng([ctx.seed, 11])
    pool = [r for r in sent if r.kind in REPLAY_KINDS]
    pick = [pool[i] for i in sorted(rng.choice(len(pool), REPLAY_SAMPLE,
                                               replace=False))]
    resident = [_send(port, r.method, r.path, r.body) for r in pick]
    engine.disable_interactive()
    results = []
    for r, a in zip(pick, resident):
        b = _send(port, r.method, r.path, r.body)
        same = a[0] == b[0] == 200 and json.loads(a[1]) == json.loads(b[1])
        results.append(None if same else
                       f"replay {r.kind} {r.body or r.path}: resident rows "
                       "differ from the Spark path")
    return results


def _report(ctx, out: dict, init_docs: list[dict]) -> dict:
    reads, upserts = out["reads"], out["upserts"]
    read_ms = [r["s"] * 1000 for r in reads]
    if samples_beyond(len(read_ms), TAIL_P) < MIN_BEYOND_TAIL:
        raise RuntimeError(f"{len(read_ms)} reads leave fewer than "
                           f"{MIN_BEYOND_TAIL} samples beyond p{TAIL_P}")
    replay = out["replay_failed"]
    failed = (sum(1 for r in reads if r["problem"])
              + sum(1 for u in upserts if u["problem"])
              + sum(1 for p in replay if p))
    attempted = len(reads) + len(upserts) + len(replay)
    for p in [r["problem"] for r in reads + upserts] + replay:
        if p:
            ctx.log(f"FAILED {p}")
    metrics = {
        "setup_s": out["setup_s"],
        "req_p50_ms": percentile(read_ms, 50),
        "req_p95_ms": percentile(read_ms, TAIL_P),
        "upsert_p50_s": statistics.median(u["s"] for u in upserts),
        "batch_pass_s": statistics.median(out["cycle_walls"]),
        "py_peak_rss_mb": out["py_rss"],
    }
    words = {w for d in init_docs for w in d["text"].split()}
    shares = stream.query_shares([r["read"] for r in reads], words)
    ctx.log(f"serve_resident: {len(reads)} reads, {len(upserts)} upserts, "
            f"repeat share {shares['repeat_share']:.3f}, lexical-miss share "
            f"{shares['lexical_miss_share']:.3f}")
    layers = {}
    if ctx.tracer.enabled:
        layers = _layers(ctx, out, shares)
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "layers": layers}


def _layers(ctx, out: dict, shares: dict) -> dict:
    spans = ctx.tracer.spans
    reads, upserts = out["reads"], out["upserts"]
    read_ops = {r["op"] for r in reads}
    up_ops = {u["op"] for u in upserts}
    n_reads, n_ups = max(1, len(reads)), max(1, len(upserts))
    # the handler's collect is the one directly under the request span;
    # collects inside the dispatch belong to the dispatch
    handler_collect = sum(
        (s.end - s.start) * 1000 for s in spans
        if s.name == "DataFrame.collect" and s.req in read_ops
        and s.parent is not None and spans[s.parent].parent is None)
    req_self = sum(own * 1000 for s, own in zip(spans,
                                                 tracing.self_times(spans))
                   if s.parent is None and s.req in read_ops)
    layers = {
        "serving.dispatch_ms":
            tracing.span_ms(spans, "serving.dispatch", read_ops) / n_reads,
        "serving.collect_ms": handler_collect / n_reads,
        "serving.self_ms": req_self / n_reads,
        "serving.response_bytes": statistics.mean(r["bytes"] for r in reads),
    }
    for kind, _ in stream.REQUEST_MIX:
        ms = [r["s"] * 1000 for r in reads if r["kind"] == kind]
        layers[f"serving.{kind}_p50_ms"] = statistics.median(ms) if ms else 0.0
    all_ops = reads + upserts
    layers["py4j.calls"] = statistics.mean(r["py4j"] for r in all_ops)
    layers["py4j.calls_spread"] = iqr_spread(
        [r["py4j"] for r in reads if r["kind"] == "hybrid"])
    with ctx.counter.pause():
        groups = tracing.read_jobs(ctx.spark)
    layers.update(tracing.spark_layer(
        [groups.get(f"op{o['op']}", {}) for o in all_ops],
        [o["s"] * 1000 for o in all_ops]))
    layers.update(tracing.operator_layer(spans, read_ops))
    layers["api.upsert_documents_s"] = statistics.median(
        u["s"] for u in upserts)
    for name in ("operators.refresh_index", "sources.classify_changes",
                 "sources.merge_upsert"):
        layers[f"{name}_ms"] = tracing.span_ms(spans, name, up_ops) / n_ups
    layers["api.upsert_changed_ratio"] = statistics.mean(
        (u["counts"]["inserted"] + u["counts"]["updated"]
         + u["counts"]["removed"]) / max(1, u["counts"]["processed"])
        for u in upserts)
    layers["api.enable_interactive_s"] = out["enable_s"]
    layers["gen.repeat_share"] = shares["repeat_share"]
    layers["gen.lexical_miss_share"] = shares["lexical_miss_share"]
    layers["jvm.peak_rss_mb"] = out["jvm_rss"]
    layers["trace.overhead_ms_per_op"] = tracing.overhead_ms_per_op(
        spans, read_ops | up_ops, ctx.job_group_s)
    return layers
