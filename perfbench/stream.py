"""The seeded request stream and upsert batches of the serving workload.

The stream is a timeline of cycles: `reads_per_batch` read requests, then
one upsert batch. The generator keeps its own model of the corpus (id ->
row) so that every read names a document that exists when it is sent,
every document read knows the text it must return, and every upsert batch
knows the counts the engine must report for it.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

from corpus import miss_words, vocabulary, zipf_probs

# request mix of the serving workload (shares of requests)
REQUEST_MIX = (("hybrid", 0.55), ("exact_ref", 0.10), ("fts", 0.10),
               ("mlt", 0.10), ("document", 0.05), ("batch8", 0.05),
               ("rerank", 0.05))
MISS_WORD_SHARE = 0.04   # query words drawn from outside the corpus
REPEAT_SHARE = 0.25      # query texts that re-issue an earlier one
N_RESULTS = 10
MIX_BLOCK = 100   # requests over which REQUEST_MIX holds exactly
# composition of one upsert batch (50 docs in all)
N_UPDATE, N_INSERT, N_UNCHANGED, N_REMOVE = 22, 10, 15, 3
INSERT_ID_BASE = 10_000_000
# removals only ever take ids in this residue class and reads never name
# one, so no read can race a removal
REMOVABLE_MOD, REMOVABLE_RES = 10, 9


@dataclass
class Read:
    kind: str
    method: str
    path: str
    body: dict | None
    text: str | None = None        # query text, for repeat/miss accounting
    expect: dict = field(default_factory=dict)


@dataclass
class Upsert:
    rows: list[dict]               # incoming rows, corpus schema
    removed: list[int]
    counts: dict                   # what upsert_documents must return
    marker_prefix: str             # every insert carries a token with it
    inserted: list[int]
    updated: dict                  # id -> new text


@dataclass
class Cycle:
    reads: list[Read]
    upsert: Upsert


class _Texts:
    """Seeded query texts: 1-6 Zipf-popular corpus words, a small share
    of words the corpus never contains, and a share of exact repeats."""

    def __init__(self, rng: np.random.Generator, seed: int) -> None:
        self.rng = rng
        self.vocab = vocabulary(seed)
        self.p = zipf_probs(len(self.vocab))
        self.misses = miss_words(seed)
        self.issued: list[str] = []

    def words(self, n: int) -> list[str]:
        return [self.vocab[i] for i in self.rng.choice(len(self.vocab), n,
                                                       p=self.p)]

    def next(self) -> str:
        rng = self.rng
        if self.issued and rng.random() < REPEAT_SHARE:
            return self.issued[int(rng.integers(0, len(self.issued)))]
        words = self.words(int(rng.integers(1, 7)))
        for i in range(len(words)):
            if rng.random() < MISS_WORD_SHARE:
                words[i] = self.misses[int(rng.integers(0, len(self.misses)))]
        text = " ".join(words)
        self.issued.append(text)
        return text


def read_kinds(rng: np.random.Generator) -> Iterator[str]:
    """Request kinds in REQUEST_MIX proportions. Every block of MIX_BLOCK
    requests holds the mix exactly, in seeded order, so runs of whole
    blocks do not differ in mix from seed to seed."""
    block = [k for k, share in REQUEST_MIX
             for _ in range(round(share * MIX_BLOCK))]
    while True:
        for i in rng.permutation(len(block)):
            yield block[i]


def _read(kind: str, doc: int, model: dict, texts: _Texts) -> Read:
    if kind == "hybrid":
        q = texts.next()
        return Read(kind, "POST", "/api/search/hybrid",
                    {"query": q, "n_results": N_RESULTS}, q)
    if kind == "exact_ref":
        return Read(kind, "POST", "/api/search/hybrid",
                    {"query": f"hadith number {doc}", "n_results": N_RESULTS},
                    expect={"doc_id": doc})
    if kind == "fts":
        terms = texts.next().split()[:2]
        return Read(kind, "POST", "/api/match/fts",
                    {"terms": terms, "limit": N_RESULTS}, " ".join(terms))
    if kind == "mlt":
        return Read(kind, "POST", "/api/search/more_like_this",
                    {"doc_id": doc, "n_results": N_RESULTS},
                    expect={"seed": doc})
    if kind == "document":
        return Read(kind, "GET", f"/api/document/{doc}", None,
                    expect={"doc_id": doc, "text": model[doc]["text"]})
    if kind == "batch8":
        qs = [texts.next() for _ in range(8)]
        return Read(kind, "POST", "/api/search/hybrid_batch",
                    {"queries": qs, "n_results": N_RESULTS}, " | ".join(qs))
    q = texts.next()
    return Read(kind, "POST", "/api/search/rerank",
                {"query": q, "n_results": N_RESULTS}, q)


def _doc_row(doc_id: int, text: str) -> dict:
    return {"doc_id": doc_id, "text": text, "lang": "en",
            "source": f"src{doc_id % 20}", "n_chars": len(text)}


def _upsert(rng: np.random.Generator, texts: _Texts, model: dict,
            marker: str, first_insert: int) -> Upsert:
    """One batch against the model's current state; applies it to the
    model."""
    ids = list(model)
    chosen = [ids[i] for i in rng.permutation(len(ids))]
    removable = [i for i in chosen
                 if i % REMOVABLE_MOD == REMOVABLE_RES][:N_REMOVE]
    gone = set(removable)
    rest = [i for i in chosen if i not in gone]
    upd_ids = rest[:N_UPDATE]
    same_ids = rest[N_UPDATE:N_UPDATE + N_UNCHANGED]
    rows, updated = [], {}
    for i in upd_ids:
        text = " ".join(texts.words(int(rng.integers(10, 60))))
        if text == model[i]["text"]:
            text += " update"
        rows.append(_doc_row(i, text))
        updated[i] = text
    rows += [dict(model[i]) for i in same_ids]
    inserted = list(range(first_insert, first_insert + N_INSERT))
    for k, doc_id in enumerate(inserted):
        words = texts.words(int(rng.integers(10, 60)))
        words.insert(int(rng.integers(0, len(words))), f"{marker}{k}")
        rows.append(_doc_row(doc_id, " ".join(words)))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    for r in rows:
        model[r["doc_id"]] = r
    for i in removable:
        del model[i]
    counts = {"processed": len(rows), "inserted": len(inserted),
              "updated": len(upd_ids), "skipped": len(same_ids),
              "removed": len(removable)}
    return Upsert(rows, removable, counts, marker, inserted, updated)


def cycles(seed: int, docs: list[dict],
           reads_per_batch: int) -> Iterator[Cycle]:
    """The run's timeline, one cycle at a time, for as long as it is read."""
    rng = np.random.default_rng([seed, 7])
    texts = _Texts(rng, seed)
    model = {d["doc_id"]: d for d in docs}
    stable = [i for i in model if i % REMOVABLE_MOD != REMOVABLE_RES]
    kinds = read_kinds(rng)
    c = 0
    while True:
        reads = [_read(next(kinds), stable[int(rng.integers(0, len(stable)))],
                       model, texts) for _ in range(reads_per_batch)]
        yield Cycle(reads, _upsert(rng, texts, model, f"mk{seed}c{c}i",
                                   INSERT_ID_BASE + c * N_INSERT))
        c += 1


def query_shares(reads: list[Read], corpus_words: set[str]) -> dict:
    """Repeat share and lexical-miss share of the text requests sent."""
    seen: set[str] = set()
    n = repeats = misses = 0
    for r in reads:
        if r.text is None:
            continue
        n += 1
        if r.text in seen:
            repeats += 1
        seen.add(r.text)
        if any(w not in corpus_words for w in r.text.replace("|", " ").split()):
            misses += 1
    return {"repeat_share": repeats / n if n else 0.0,
            "lexical_miss_share": misses / n if n else 0.0}
