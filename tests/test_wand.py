"""M4: block-max WAND local path — equivalence properties (SURVEY.md 5.4)."""

import numpy as np
import pytest

from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.wand import LocalSearcher
from tests.oracle import brute_force_topk
from tests.test_bm25 import QUERIES
from tests.test_index import index_dir  # noqa: F401 (module fixture reuse)


@pytest.fixture(scope="module")
def searcher(index_dir):  # noqa: F811
    return LocalSearcher(index_dir)


@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_wand_equals_oracle(searcher, corpus_docs, qid, qtext, k):
    got = searcher.search(qtext, k=k, stem=False)
    qterms = list(dict.fromkeys(qtext.lower().split()))
    want = brute_force_topk(corpus_docs, qterms, k=k)
    assert [d for d, _ in got] == [d for d, _ in want], f"qid={qid}"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.fixture(scope="module")
def corpus_docs(documents_pdf):
    return list(zip(documents_pdf.doc_id.tolist(), documents_pdf.text.tolist()))


@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_prune_is_exact(searcher, qid, qtext, k):
    pruned = searcher.search(qtext, k=k, stem=False, prune=True)
    full = searcher.search(qtext, k=k, stem=False, prune=False)
    assert pruned == full


def test_pruning_actually_skips(searcher):
    # fast=False forces the block-max path even if 'the' is warm
    searcher.search("the", k=3, stem=False, prune=True, fast=False)
    # 500 docs contain 'the' -> multiple 64-posting segments; with k=3
    # the threshold must exclude at least one segment
    assert searcher.last_segments_skipped > 0


@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_wand_or_equals_oracle(searcher, corpus_docs, qid, qtext, k):
    got = searcher.search(qtext, k=k, stem=False, mode="or")
    qterms = list(dict.fromkeys(qtext.lower().split()))
    want = brute_force_topk(corpus_docs, qterms, k=k, mode="or")
    assert [d for d, _ in got] == [d for d, _ in want], f"qid={qid}"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_or_prune_is_exact(searcher, qid, qtext, k):
    pruned = searcher.search(qtext, k=k, stem=False, prune=True, mode="or")
    full = searcher.search(qtext, k=k, stem=False, prune=False, mode="or")
    assert pruned == full


def test_or_pruning_actually_skips(searcher):
    searcher.search("the", k=3, stem=False, prune=True, mode="or", fast=False)
    assert searcher.last_segments_skipped > 0


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_warm_fast_path_is_identical(searcher, qid, qtext, k, mode):
    """Once every term is cached, search routes the vectorized warm
    path — it must match the block-max path result-exactly (ranks,
    scores, tie-breaks)."""
    slow = searcher.search(qtext, k=k, stem=False, mode=mode, fast=False)
    # the OR/warm helpers populate the full-list cache as a side effect;
    # force-warm explicitly so the fast path is really taken
    qterms = [t for t in dict.fromkeys(qtext.lower().split())
              if t in searcher._df]
    for t in qterms:
        searcher._load_full(t, searcher._idf(t))
    if mode == "and" and len(qterms) != len(dict.fromkeys(qtext.lower().split())):
        return  # unknown term: AND is empty either way
    assert searcher._warm(qterms)
    fast = searcher.search(qtext, k=k, stem=False, mode=mode, fast=True)
    assert fast == slow


def test_or_drops_missing_terms(searcher, corpus_docs):
    """AND with an unknown term is empty; OR ignores it."""
    assert searcher.search(["the", "qqqzzz"], k=5, stem=False) == []
    got = searcher.search(["the", "qqqzzz"], k=5, stem=False, mode="or")
    want = brute_force_topk(corpus_docs, ["the"], k=5, mode="or")
    assert [d for d, _ in got] == [d for d, _ in want]


def test_or_matches_distributed_reader(spark, index_dir):  # noqa: F811
    from search_engine_spark.plans.index_query import IndexReader

    s = LocalSearcher(index_dir)
    rd = IndexReader(spark, index_dir)
    for qtext in ("the data", "spark zzzz window", "merge the index"):
        local = s.search(qtext, k=8, stem=False, mode="or")
        dist = [(r.doc_id, r.score)
                for r in rd.search(qtext, k=8, stem=False, mode="or").collect()]
        assert [d for d, _ in local] == [d for d, _ in dist]
        for (_, ls), (_, ds_) in zip(local, dist):
            assert ls == pytest.approx(ds_, abs=1e-9)


def test_invalid_mode_raises(searcher):
    """A typo'd mode must fail loudly, not silently run AND semantics."""
    with pytest.raises(ValueError, match="mode"):
        searcher.search("spark", mode="OR")
    with pytest.raises(ValueError, match="mode"):
        searcher.search("spark", mode="union")


def test_promotion_respects_cache_capacity(index_dir):  # noqa: F811
    """With a tiny cache, repeated disjoint queries must NOT force-decode
    every repeated term (promotion only fills FREE slots), and the hit
    counter stays bounded by the decay rule."""
    import os

    import pyarrow.parquet as pq

    s = LocalSearcher(index_dir, cache_terms=2)
    vocab = (
        pq.read_table(os.path.join(index_dir, "dictionary"), columns=["term"])
        .to_pandas().term.tolist()[:40]
    )
    for _ in range(3):
        for t in vocab:
            s.search([t], k=3, stem=False)
    assert len(s._decoded_cache) <= 2
    assert len(s._term_hits) <= 8 * 2 + len(vocab)


@pytest.mark.parametrize("seed", range(4))
def test_randomized_equivalence(spark, tmp_path_factory, seed):
    """Random corpus + random queries: WAND == brute force, exactly."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(30)]
    probs = np.arange(1, 31, dtype=float) ** -1.1
    probs /= probs.sum()
    docs = []
    for did in range(120):
        n = int(rng.integers(1, 60))
        docs.append((did, " ".join(rng.choice(vocab, p=probs, size=n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp(f"rand{seed}"))
    build_index(spark, df, d, n_buckets=4, segment_size=16, stem=False,
                salt_threshold=20, max_salts=3)
    s = LocalSearcher(d)
    for _ in range(15):
        qlen = int(rng.integers(1, 4))
        qterms = list(rng.choice(vocab, size=qlen, replace=False))
        k = int(rng.integers(1, 15))
        for mode in ("and", "or"):
            got = s.search(qterms, k=k, stem=False, mode=mode)
            want = brute_force_topk(docs, qterms, k=k, mode=mode)
            assert [x for x, _ in got] == [x for x, _ in want], (qterms, k, mode)
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, abs=1e-9)
            # repeat warm: may route the vectorized fast path — identical
            assert s.search(qterms, k=k, stem=False, mode=mode) == got


def test_prefix_terms_matches_corpus(searcher, documents_pdf):
    """Dictionary prefix scan == recount from the raw corpus (index
    built stem=False; corpus text is clean lowercase words)."""
    from collections import Counter

    from search_engine_spark.functions.text import tokenize

    df_ref: Counter = Counter()
    for t in documents_pdf.text:
        for term in set(tokenize(t)):
            df_ref[term] += 1
    for prefix in ("s", "sp", "qu", "zzz"):
        got = searcher.prefix_terms(prefix)
        want = sorted(
            (t, n) for t, n in df_ref.items() if t.startswith(prefix)
        )
        assert got == want, prefix
    assert searcher.prefix_terms("s", limit=3) == want[:0] + sorted(
        (t, n) for t, n in df_ref.items() if t.startswith("s")
    )[:3]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        searcher.prefix_terms("")


@pytest.mark.parametrize("qtext,kw", [
    ("the fast", {"mode": "and"}),
    ("spark join window", {"mode": "or"}),
    ("the fast spark", {"mode": "or", "msm": 2}),
    ("spark|window the", None),  # grouped boolean
], ids=["and", "or", "msm2", "grouped"])
def test_paths_bitexact_under_tombstones(index_dir, documents_pdf,  # noqa: F811
                                         qtext, kw):
    """Block-max (fast=False), exhaustive scatter (prune=False) and the
    warm scatter agree bit-exactly with tombstones live, first page and
    one cursor page, and never return a tombstoned doc."""
    s = LocalSearcher(index_dir)
    # planted before the first decode: every cache bakes the mask in
    s._deleted = np.asarray(
        sorted(int(d) for d in documents_pdf.doc_id if d % 3 == 0),
        dtype=np.int64,
    )

    def run(**o):
        if kw is None:
            return s.search_grouped(qtext, k=8, stem=False, **o)
        return s.search(qtext, k=8, stem=False, **kw, **o)

    def paths(**o):
        cold = run(fast=False, **o)
        ref = run(prune=False, **o)
        terms = qtext.replace("|", " ").split()
        for t in terms:
            s._load_full(t, s._idf(t))
        assert s._warm(terms)
        assert cold == ref == run(**o)
        return cold

    page1 = paths()
    assert len(page1) == 8
    assert not any(d % 3 == 0 for d, _ in page1)
    page2 = paths(after=page1[-1])
    assert page2 and not any(d % 3 == 0 for d, _ in page2)
    assert not {d for d, _ in page1} & {d for d, _ in page2}
