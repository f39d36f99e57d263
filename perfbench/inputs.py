"""Seeded inputs: the pages corpus, the query streams and the writes.

Every input is a pure function of the seed. The program receives only
what is generated here.

Words are built from consonant + {a, o, u} syllables. The tokenizer keeps
such a word whole and the Porter stemmer leaves it unchanged, so the
document frequencies counted here are exactly what the index must hold.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYLLABLES = [c + v for c in "bdfgklmnprtvz" for v in "aou"]

N_DOCS = 1000
VOCAB = 8000
ZIPF_S = 1.0
DOC_WORDS = (20, 150)
# share of pages whose `text` is null, so the build extracts from `html`
TEXT_NULL_SHARE = 0.3
LANGS = ["en", "en", "en", "fr", "es", "de"]

# hot terms: Zipf head ranks, few enough to stay inside the searcher's
# 256-term decoded cache and 512-term phrase cache
HOT_RANKS = 150
# cold terms: mid/tail ranks, each used once per run, so every query is
# first contact for the dictionary, decoded and phrase caches
COLD_MIN_RANK = 1000

EXTEND_DOCS = 100
SHARD_DOCS = 100
DELETE_DOCS = 40

# op mix: kind -> share of the query stream. An assumption, not a
# measurement: no query log was available to derive it from. Plain
# keyword queries (and, or) are the majority, and every operator keeps
# a share large enough to give its layer per-run percentiles.
OP_MIX = {
    "and": 0.30,
    "or": 0.25,
    "msm": 0.10,
    "grouped": 0.10,
    "lmd": 0.10,
    "phrase": 0.10,
    "mixed": 0.05,
}


def word(j: int) -> str:
    """Distinct stem-stable word for every j >= 0 (at least 2 syllables)."""
    j += len(SYLLABLES)
    out = []
    while j:
        j, r = divmod(j, len(SYLLABLES))
        out.append(SYLLABLES[r])
    return "".join(out)


@dataclass
class Query:
    kind: str
    text: str
    terms: list[str]  # analyzed terms the query touches


@dataclass
class Batch:
    """Docs handed to one write call; `marker` is a word only they hold."""

    pages: pa.Table
    doc_ids: np.ndarray
    marker: str
    text_bytes: int


@dataclass
class Corpus:
    seed: int
    words: list[str]  # rank -> word
    docs: list[np.ndarray]  # per doc: word ranks in order
    pages: pa.Table
    text_bytes: int
    df: dict[int, int]  # rank -> document frequency

    @property
    def n_docs(self) -> int:
        return len(self.docs)


def _pages(doc_ids, docs, words, rng) -> tuple[pa.Table, int]:
    """FIXTURES.md section 1 pages rows plus a dense doc_id."""
    epoch = dt.datetime(2026, 1, 1)
    urls, ts, html, text, lang = [], [], [], [], []
    nbytes = 0
    null = rng.random(len(docs)) < TEXT_NULL_SHARE
    for i, (d, ranks) in enumerate(zip(doc_ids, docs)):
        body = " ".join(words[r] for r in ranks)
        urls.append(f"https://src{d % 20}.example.com/p/{d}")
        ts.append(epoch + dt.timedelta(seconds=int(d)))
        # markup, an entity and a script the extractor must drop; the
        # entity decodes to '&', which tokenizes to nothing
        h = (f"<html><head><script>var x=1;</script></head><body>\n<p>"
             f"{body} &amp;</p><!-- c --></body></html>").encode()
        html.append(h)
        text.append(None if null[i] else body)
        lang.append(LANGS[int(d) % len(LANGS)])
        nbytes += len(h) + (0 if null[i] else len(body))
    table = pa.table({
        "doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
        "url": urls,
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": lang,
    })
    return table, nbytes


def _zipf_docs(rng, n: int, cdf: np.ndarray) -> list[np.ndarray]:
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    ranks = np.searchsorted(cdf, rng.random(int(lens.sum())))
    return np.split(ranks, np.cumsum(lens)[:-1])


def _cdf() -> np.ndarray:
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    return np.cumsum(p / p.sum())


def make_corpus(seed: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    # rank -> word is a seeded permutation; words beyond VOCAB are
    # reserved for the write batches' marker words
    words = [word(int(j)) for j in rng.permutation(VOCAB)]
    docs = _zipf_docs(rng, N_DOCS, _cdf())
    pages, nbytes = _pages(np.arange(N_DOCS), docs, words, rng)
    df: dict[int, int] = {}
    for ranks in docs:
        for r in np.unique(ranks):
            df[int(r)] = df.get(int(r), 0) + 1
    return Corpus(seed, words, docs, pages, nbytes, df)


def extend_batch(corpus: Corpus) -> Batch:
    """New docs after the corpus ids, each holding a marker word no
    corpus doc has."""
    rng = np.random.default_rng([corpus.seed, 2])
    marker = word(VOCAB)  # words beyond VOCAB never occur in the corpus
    docs = [np.insert(d, int(rng.integers(0, len(d))), VOCAB)
            for d in _zipf_docs(rng, EXTEND_DOCS, _cdf())]
    ids = np.arange(corpus.n_docs, corpus.n_docs + EXTEND_DOCS)
    table, nbytes = _pages(ids, docs, corpus.words + [marker], rng)
    return Batch(table, ids, marker, nbytes)


def shard_batch(corpus: Corpus) -> Batch:
    """Docs for a separately built shard, each holding a second marker
    word. Their ids are the shard's own, 0 up; merging appends them
    after the target's highest allocated id, which after the extend is
    the corpus plus the extend batch, so the urls use those ids."""
    rng = np.random.default_rng([corpus.seed, 4])
    marker = word(VOCAB + 1)
    docs = [np.insert(d, int(rng.integers(0, len(d))), VOCAB + 1)
            for d in _zipf_docs(rng, SHARD_DOCS, _cdf())]
    base = corpus.n_docs + EXTEND_DOCS
    table, nbytes = _pages(np.arange(base, base + SHARD_DOCS), docs,
                           corpus.words + [word(VOCAB), marker], rng)
    ids = np.arange(SHARD_DOCS)
    table = table.set_column(0, "doc_id", pa.array(ids, pa.int64()))
    return Batch(table, ids, marker, nbytes)


def delete_ids(corpus: Corpus, extend: Batch) -> list[int]:
    """A seeded subset of the extend batch's marker docs, so a
    marker-term query shows exactly which deletes are visible."""
    rng = np.random.default_rng([corpus.seed, 3])
    return sorted(int(d) for d in
                  rng.choice(extend.doc_ids, DELETE_DOCS, replace=False))


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


class _TermSource:
    """Draws query terms of one class (hot or cold) from seeded corpus
    docs, so that every query matches at least the doc it came from."""

    def __init__(self, corpus: Corpus, rng, hot: bool):
        self.c = corpus
        self.rng = rng
        self.hot = hot
        self.used: set[int] = set()

    def _ok(self, r: int) -> bool:
        if self.hot:
            return r < HOT_RANKS
        return r >= COLD_MIN_RANK and r not in self.used

    def draw(self, n: int, phrase: bool = False) -> list[str]:
        """n distinct class terms from one doc; with phrase=True the
        first two are adjacent in that doc."""
        while True:
            d = self.c.docs[int(self.rng.integers(self.c.n_docs))]
            first: list[int] = []
            if phrase:
                adj = [j for j in range(len(d) - 1)
                       if d[j] != d[j + 1] and self._ok(int(d[j]))
                       and self._ok(int(d[j + 1]))]
                if not adj:
                    continue
                j = adj[int(self.rng.integers(len(adj)))]
                first = [int(d[j]), int(d[j + 1])]
            rest = [r for r in dict.fromkeys(int(x) for x in d)
                    if self._ok(r) and r not in first]
            k = n - len(first)
            if len(rest) < k:
                continue
            pick = first + [rest[i] for i in
                            self.rng.choice(len(rest), k, replace=False)]
            if not self.hot:
                self.used.update(pick)
            return [self.c.words[r] for r in pick]


def query_streams(corpus: Corpus, hot: bool,
                  sizes: list[int]) -> list[list[Query]]:
    """Consecutive query streams of the given sizes (warm-up, timed,
    ...) in the OP_MIX shares. They share one term source, so a cold
    term never repeats across them; hot terms repeat by design."""
    rng = np.random.default_rng([corpus.seed, 10, int(hot)])
    src = _TermSource(corpus, rng, hot)
    return [[_query(kind, src) for kind in _kinds(rng, n)] for n in sizes]


def _kinds(rng, n: int) -> list[str]:
    """n op kinds in exactly the OP_MIX shares (largest remainder),
    shuffled, so every window runs the same mix."""
    want = {k: share * n for k, share in OP_MIX.items()}
    counts = {k: int(v) for k, v in want.items()}
    for k in sorted(want, key=lambda k: counts[k] - want[k])[:n - sum(
            counts.values())]:
        counts[k] += 1
    kinds = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(kinds)
    return kinds


def _query(kind: str, src: _TermSource) -> Query:
    if kind in ("and", "or", "lmd"):
        t = src.draw(2)
        return Query(kind, " ".join(t), t)
    if kind == "msm":
        t = src.draw(3)
        return Query(kind, " ".join(t), t)
    if kind == "grouped":
        t = src.draw(3)
        return Query(kind, f"{t[0]}|{t[1]} {t[2]}", t)
    if kind == "phrase":
        t = src.draw(2, phrase=True)
        return Query(kind, " ".join(t), t)
    t = src.draw(3, phrase=True)
    return Query(kind, f'"{t[0]} {t[1]}" {t[2]}', t)
