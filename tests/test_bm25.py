"""BM25 operator semantics on a tiny literal corpus (SURVEY §4.2.1)."""

from __future__ import annotations

import math

import pytest

from hadith_vector_search_spark.operators import bm25

CORPUS = [
    (1, "data stream processing with window functions"),
    (2, "window window window data"),
    (3, "batch processing of big data tables"),
    (4, "totally unrelated text about cats"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_index_tables(spark, docs):
    idx = bm25.build_index(docs)
    postings = {(r.doc_id, r.term): r.tf for r in idx.postings.collect()}
    assert postings[(2, "window")] == 3.0
    assert postings[(1, "data")] == 1.0
    dl = {r.doc_id: r.dl for r in idx.doc_len.collect()}
    assert dl[2] == 4.0
    stats = idx.stats.collect()[0]
    assert stats.n_docs == 4.0
    assert abs(stats.avgdl - sum(dl.values()) / 4) < 1e-12


def test_conjunctive_and_semantics(spark, docs):
    out = bm25.bm25_topk(spark, docs, "data window", k=10)
    ids = [r.doc_id for r in out.collect()]
    assert set(ids) == {1, 2}  # only docs containing BOTH terms


def test_disjunctive_or_semantics(spark, docs):
    out = bm25.bm25_topk(spark, docs, "data window", k=10, conjunctive=False)
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 2, 3}


def test_tf_saturation_ranks_repeat_doc_higher(spark, docs):
    out = bm25.bm25_topk(spark, docs, "window", k=10).collect()
    assert out[0].doc_id == 2  # tf=3 beats tf=1
    assert out[0].bm25 > out[1].bm25


def test_score_formula_hand_computed(spark, docs):
    # single term "cats": df=1, n=4, idf=ln(1+(4-1+.5)/(1+.5))
    out = bm25.bm25_topk(spark, docs, "cats", k=10).collect()
    assert len(out) == 1 and out[0].doc_id == 4
    idf = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    dl, avgdl = 5.0, (6 + 4 + 6 + 5) / 4  # tokens len>=2 per doc
    tf = 1.0
    expected = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert abs(out[0].bm25 - round(expected, 6)) < 1e-9


def test_empty_query_raises(spark, docs):
    with pytest.raises(ValueError):
        bm25.bm25_topk(spark, docs, "!!", k=5)


def test_batch_matches_single_query(spark, docs):
    queries = [(1, "data stream"), (2, "window"), (3, "cats about")]
    batch = bm25.bm25_topk_batch(spark, docs, queries, k=4, conjunctive=False)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.bm25))
    for qid, q in queries:
        single = [(r.doc_id, r.bm25) for r in
                  bm25.bm25_topk(spark, docs, q, k=4, conjunctive=False).collect()]
        assert got[qid] == single, f"query {qid} diverged"


def test_batch_conjunctive_per_query_counts(spark, docs):
    queries = [(1, "data window"), (2, "cats data")]
    out = bm25.bm25_topk_batch(spark, docs, queries, k=4, conjunctive=True).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    assert by_q[1] == {1, 2}   # both terms present
    assert 2 not in by_q       # no doc has cats AND data


# --- incremental refresh (S9): rebuild-equivalence ------------------------

REFRESH_CORPUS = CORPUS + [
    (5, "stream merge stream merge join"),
    (6, "window join tables"),
]


def _frames_equal(a, b, cols):
    sa = sorted(tuple(r[c] for c in cols) for r in a.collect())
    sb = sorted(tuple(r[c] for c in cols) for r in b.collect())
    assert sa == sb


def _assert_index_equiv(refreshed, rebuilt):
    _frames_equal(refreshed.postings, rebuilt.postings,
                  ["doc_id", "term", "tf"])
    _frames_equal(refreshed.doc_len, rebuilt.doc_len, ["doc_id", "dl"])
    _frames_equal(refreshed.term_df, rebuilt.term_df, ["term", "df"])
    _frames_equal(refreshed.stats, rebuilt.stats, ["n_docs", "avgdl"])
    _frames_equal(refreshed.scoring_view(), rebuilt.scoring_view(),
                  ["doc_id", "term", "tf", "dl", "df"])
    # doc_norm is a true float sum: compare at 9 dp (aggregation order is
    # not fixed, so last-ulp drift is legitimate; 9 dp is far tighter
    # than the 6-dp display contract every query rounds to)
    a = {r.doc_id: round(r.dnorm, 9)
         for r in refreshed.doc_norm().collect()}
    b = {r.doc_id: round(r.dnorm, 9) for r in rebuilt.doc_norm().collect()}
    assert a == b


def test_refresh_index_equals_rebuild(spark):
    """Delta-merged refresh must land on the exact index a from-scratch
    build over the merged corpus produces — postings, doc_len, term_df,
    stats AND the delta-merged scoring view (the base's view is forced
    so the delta path runs, not a lazy rebuild)."""
    docs = spark.createDataFrame(REFRESH_CORPUS, "doc_id long, text string")
    base = bm25.build_index(docs)
    base.scoring_view()
    base.doc_norm()  # force, so the refresh hands over _norm_base — this
    # batch preserves n_docs (1 insert, 1 remove), so the DELTA path runs
    changed = spark.createDataFrame(
        [(2, "window data revised join"),          # update: drops 'window' x2
         (7, "fresh doc about stream windows")],   # insert: new doc
        "doc_id long, text string")
    removed = spark.createDataFrame([(4,)], "doc_id long")
    refreshed = bm25.refresh_index(base, changed, removed)

    merged = spark.createDataFrame(
        [r for r in REFRESH_CORPUS if r[0] not in (2, 4)]
        + [(2, "window data revised join"),
           (7, "fresh doc about stream windows")],
        "doc_id long, text string")
    _assert_index_equiv(refreshed, bm25.build_index(merged))


def test_refresh_index_remove_only_and_base_untouched(spark):
    """A pure-deletion batch (empty changed set) must shrink the index
    correctly, and the base index must keep serving its old snapshot."""
    docs = spark.createDataFrame(REFRESH_CORPUS, "doc_id long, text string")
    base = bm25.build_index(docs)
    base.scoring_view()
    n_base_postings = base.postings.count()
    empty = spark.createDataFrame([], "doc_id long, text string")
    removed = spark.createDataFrame([(5,), (6,)], "doc_id long")
    refreshed = bm25.refresh_index(base, empty, removed)

    merged = spark.createDataFrame(
        [r for r in REFRESH_CORPUS if r[0] not in (5, 6)],
        "doc_id long, text string")
    _assert_index_equiv(refreshed, bm25.build_index(merged))
    # snapshot semantics: the base still has every original posting
    assert base.postings.count() == n_base_postings
    assert {r.doc_id for r in base.doc_len.collect()} == {1, 2, 3, 4, 5, 6}


def test_refresh_index_scoring_stays_lazy_without_base_view(spark):
    """If the base never materialized a scoring view, the refreshed index
    must not either (no hidden full rebuild) — and the lazily-built one
    must still match a from-scratch build."""
    docs = spark.createDataFrame(REFRESH_CORPUS, "doc_id long, text string")
    base = bm25.build_index(docs)
    changed = spark.createDataFrame([(1, "data stream rewritten")],
                                    "doc_id long, text string")
    refreshed = bm25.refresh_index(base, changed)
    assert refreshed._scoring is None
    merged = spark.createDataFrame(
        [r for r in REFRESH_CORPUS if r[0] != 1]
        + [(1, "data stream rewritten")],
        "doc_id long, text string")
    _frames_equal(refreshed.scoring_view(), bm25.build_index(merged).scoring_view(),
                  ["doc_id", "term", "tf", "dl", "df"])


# --- percolation at stored-query scale ------------------------------------

def test_percolate_candidate_bound(spark):
    """With term_df routing, per-doc candidates are bounded by rare-term
    postings, never |queries| — and the pruned path's matches equal the
    unpruned broadcast path's exactly."""
    n_queries = 200
    # Every query shares the ubiquitous term 'data' plus one unique rare
    # term; only 3 rare terms actually occur in the corpus.
    queries = [(i, f"data rare{i:03d}") for i in range(n_queries)]
    docs = spark.createDataFrame(
        [(1, "data rare005 stream"),
         (2, "data rare007 window"),
         (3, "data rare005 rare009 join"),
         (4, "data only common terms here")],
        "doc_id long, text string")
    idx = bm25.build_index(docs, pin=False)
    doc_terms = idx.postings.select("doc_id", "term")

    qterms = bm25.percolator_qterms(spark, queries)
    rare = bm25.rarest_terms(qterms, idx.term_df)
    # routing term must be the rare one, never 'data'
    assert all(r.term != "data" for r in rare.collect())
    cands = doc_terms.join(rare, "term").select("query_id", "doc_id")
    # 4 rare-term postings in the corpus -> 4 candidate pairs,
    # vs 4 docs x 200 queries = 800 through the common term
    assert cands.count() == 4

    pruned = bm25.percolate(spark, doc_terms, queries, term_df=idx.term_df)
    plain = bm25.percolate(spark, doc_terms, queries)
    expect = {(5, 1), (5, 3), (7, 2), (9, 3)}
    assert {(r.query_id, r.doc_id) for r in pruned.collect()} == expect
    assert {(r.query_id, r.doc_id) for r in plain.collect()} == expect


def test_rarest_terms_unseen_term_routes(spark):
    """A query term absent from the corpus vocabulary gets df 0 and wins
    routing — the cheapest possible pre-filter — and the query still
    cannot match any doc lacking it."""
    docs = spark.createDataFrame(
        [(1, "data stream"), (2, "data window")],
        "doc_id long, text string")
    idx = bm25.build_index(docs, pin=False)
    queries = [(1, "data nonexistentterm"), (2, "data stream")]
    qterms = bm25.percolator_qterms(spark, queries)
    rare = {r.query_id: r.term
            for r in bm25.rarest_terms(qterms, idx.term_df).collect()}
    assert rare[1] == "nonexistentterm"
    out = bm25.percolate(spark, idx.postings.select("doc_id", "term"),
                         queries, term_df=idx.term_df)
    assert {(r.query_id, r.doc_id) for r in out.collect()} == {(2, 1)}


def test_refresh_index_randomized_rebuild_equivalence(spark):
    """Seeded-random stress for the headline delta-merge: random corpora,
    random update/insert/delete batches, refresh CHAINED twice (the
    streaming deployment shape) — every chained snapshot must equal a
    from-scratch build over its corpus state, scoring view included."""
    import random

    rng = random.Random(2027)
    vocab = [f"w{i:02d}" for i in range(30)]

    def rand_text():
        return " ".join(rng.choices(vocab, k=rng.randint(0, 12)))

    corpus = {i: rand_text() for i in range(40)}
    docs = spark.createDataFrame(list(corpus.items()),
                                 "doc_id long, text string")
    idx = bm25.build_index(docs)
    idx.scoring_view()
    next_id = 100
    for _round in range(2):
        upd = {i: rand_text() for i in rng.sample(sorted(corpus), 6)}
        ins = {next_id + j: rand_text() for j in range(4)}
        next_id += 10
        rm = rng.sample([i for i in corpus if i not in upd], 5)
        changed = {**upd, **ins}
        corpus.update(changed)
        for i in rm:
            del corpus[i]
        idx = bm25.refresh_index(
            idx,
            spark.createDataFrame(list(changed.items()),
                                  "doc_id long, text string"),
            spark.createDataFrame([(i,) for i in rm], "doc_id long"))
        rebuilt = bm25.build_index(
            spark.createDataFrame(list(corpus.items()),
                                  "doc_id long, text string"))
        _assert_index_equiv(idx, rebuilt)


def test_refresh_index_chained_plans_stay_flat(spark):
    """Chained refreshes must not stack anti-join/union towers: every
    refreshed frame is (lazily) checkpointed, so the NEXT refresh's base
    plans are flat LogicalRDD scans — O(1) plan depth per batch, the
    property that makes per-micro-batch / repeated-upsert maintenance
    viable (an unpinned chain replays every earlier batch on each use).
    Each refreshed frame also keeps its base's partition count, so the
    task count of every later scan stays flat too."""
    docs = spark.createDataFrame(REFRESH_CORPUS, "doc_id long, text string")
    idx = bm25.build_index(docs)
    idx.scoring_view()

    def parts(ix):
        return {n: getattr(ix, n).rdd.getNumPartitions()
                for n in ("postings", "doc_len", "term_df", "_scoring")}

    base_parts = parts(idx)
    for i in range(3):
        changed = spark.createDataFrame([(100 + i, f"chained doc {i} data")],
                                        "doc_id long, text string")
        idx = bm25.refresh_index(idx, changed)
        assert parts(idx) == base_parts, i
    for name in ("postings", "doc_len", "term_df"):
        plan = getattr(idx, name)._jdf.queryExecution().analyzed().toString()
        assert "Union" not in plan and "Join" not in plan, (name, plan)
        assert "LogicalRDD" in plan or "ExistingRDD" in plan, (name, plan)
