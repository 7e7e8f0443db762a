"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import corpus  # noqa: E402
import serve  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402


def test_same_seed_same_inputs(tmp_path):
    a, b = corpus.documents(5), corpus.documents(5)
    assert a.equals(b)
    assert not a.equals(corpus.documents(6))
    docs = a.to_pylist()

    def first(seed):
        return list(itertools.islice(stream.cycles(seed, docs, 20), 3))

    assert first(5) == first(5)
    assert first(5) != first(6)
    corpus.write_tables(str(tmp_path / "x"), 5, ("embeddings", "orders"))
    corpus.write_tables(str(tmp_path / "y"), 5, ("embeddings", "orders"))
    for t in ("embeddings", "orders"):
        assert ((tmp_path / "x" / f"{t}.parquet").read_bytes()
                == (tmp_path / "y" / f"{t}.parquet").read_bytes())


def test_a_run_holds_the_request_mix_exactly():
    docs = corpus.documents(2).to_pylist()
    for seed in (1, 2):
        cycles = itertools.islice(stream.cycles(seed, docs,
                                                serve.READS_PER_BATCH),
                                  serve.MIN_UPSERTS + 1)
        kinds = [r.kind for c in cycles for r in c.reads]
        assert len(kinds) % stream.MIX_BLOCK == 0
        for kind, share in stream.REQUEST_MIX:
            assert kinds.count(kind) == round(share * len(kinds))


def test_upsert_batches_match_the_model():
    docs = corpus.documents(3).to_pylist()
    live = {d["doc_id"]: d["text"] for d in docs}
    for cyc in itertools.islice(stream.cycles(3, docs, 10), 5):
        up = cyc.upsert
        ids = [r["doc_id"] for r in up.rows]
        assert len(ids) == len(set(ids))
        ins = [i for i in ids if i not in live]
        upd = [r["doc_id"] for r in up.rows
               if r["doc_id"] in live and r["text"] != live[r["doc_id"]]]
        same = [r["doc_id"] for r in up.rows
                if r["doc_id"] in live and r["text"] == live[r["doc_id"]]]
        assert up.counts == {"processed": len(ids), "inserted": len(ins),
                             "updated": len(upd), "skipped": len(same),
                             "removed": len(up.removed)}
        assert sorted(ins) == sorted(up.inserted)
        assert not set(up.removed) & set(ids)
        assert all(i in live for i in up.removed)
        # every read names a live document and knows its current text
        for r in cyc.reads:
            if r.kind == "document":
                assert live[r.expect["doc_id"]] == r.expect["text"]
            if r.kind in ("exact_ref", "mlt", "document"):
                assert (r.expect.get("doc_id", r.expect.get("seed"))) in live
        for r in up.rows:
            live[r["doc_id"]] = r["text"]
        for i in up.removed:
            del live[i]


def _random_spans(rng: random.Random) -> list[tracing.Span]:
    spans = []
    for i in range(200):
        parent = rng.randrange(len(spans)) if spans and rng.random() < 0.8 else None
        if parent is None:
            a = rng.uniform(0, 100)
            b = a + rng.uniform(0, 10)
        else:
            p = spans[parent]
            # children may overlap each other and, on another thread,
            # start before or end after their parent
            a = rng.uniform(p.start - 1, p.end)
            b = a + rng.uniform(0, (p.end - p.start) * 1.2)
        spans.append(tracing.Span(f"s{i}", a, b, parent, 1))
    return spans


def test_self_times_are_bounded():
    rng = random.Random(0)
    for _ in range(50):
        spans = _random_spans(rng)
        for s, own in zip(spans, tracing.self_times(spans)):
            assert own >= 0.0
            assert own <= (s.end - s.start) + 1e-12
            if s.parent is not None:
                assert own <= (spans[s.parent].end - spans[s.parent].start
                               ) + (s.end - s.start)


def test_self_time_subtracts_union_of_children():
    spans = [tracing.Span("r", 0, 10, None, 1),
             tracing.Span("a", 1, 4, 0, 1), tracing.Span("b", 3, 6, 0, 1),
             tracing.Span("c", 9, 12, 0, 1)]
    assert tracing.self_times(spans) == [4.0, 3.0, 3.0, 3.0]


def test_tracer_nests_and_attributes_handler_threads():
    import threading

    t = tracing.Tracer(enabled=True)
    root = t.begin_op("request.x", 7)
    inner = t.wrap("inner", lambda: None)
    th = threading.Thread(target=t.wrap("handler", inner))
    th.start()
    th.join()
    t.end_op(root)
    names = {s.name: s for s in t.spans}
    assert names["handler"].parent == root
    assert names["inner"].parent == t.spans.index(names["handler"])
    assert all(s.req == 7 for s in t.spans)


def test_tail_percentile_leaves_ten_samples_beyond():
    for p, n in ((90, 100), (95, 200), (99, 1000)):
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
        assert beyond == stats.samples_beyond(n, p) == stats.MIN_BEYOND_TAIL
        assert stats.samples_beyond(n - 1, p) < stats.MIN_BEYOND_TAIL
    # the serving workload's smallest run still satisfies its tail
    n_min = serve.READS_PER_BATCH * (serve.MIN_UPSERTS + 1)
    assert stats.samples_beyond(n_min, serve.TAIL_P) >= stats.MIN_BEYOND_TAIL


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1


def test_oracle_checks_rotate_over_every_query():
    covered = set()
    for seed in range(-(-len(batch.QUERIES) // batch.CHECKS_PER_RUN)):
        covered |= set(batch.checked_queries(seed))
    assert covered == set(batch.QUERIES)


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(
        __import__("run").WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == worker.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == worker.PER_LAYER
