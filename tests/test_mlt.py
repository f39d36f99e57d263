"""More-like-this (LocalSearcher.more_like_this; oracle-entry twin
more_like_this): top-n source-doc terms by 6-rounded tf-idf (term-asc
tie-break) become a disjunctive BM25 query, source doc excluded.
Serving path is checked against an independent pandas ranker that
shares no code with the engine.
"""

import math
from collections import Counter

import pytest

from search_engine_spark import B, K1
from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.docstore import build_docstore
from search_engine_spark.plans.wand import LocalSearcher


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_mlt"))
    build_index(spark, documents, d, n_buckets=4, segment_size=64,
                stem=False)
    build_docstore(spark, documents, d)
    return d


def _brute_mlt(documents_pdf, src_id, k=10, n_terms=5):
    toks = {int(r.doc_id): r.text.split()
            for r in documents_pdf.itertuples()}
    tf = {d: Counter(ts) for d, ts in toks.items()}
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n

    def idf(t):
        return math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))

    sel = sorted((-round(c * idf(t), 6), t)
                 for t, c in tf[src_id].items())
    qterms = [t for _, t in sel[:n_terms]]
    scored = []
    for d, c in tf.items():
        if d == src_id:
            continue
        dl = len(toks[d])
        s = sum(
            idf(t) * (c[t] * (K1 + 1.0))
            / (c[t] + K1 * (1.0 - B + B * dl / avgdl))
            for t in qterms if c[t]
        )
        if s > 0.0:
            scored.append((-s, d))
    scored.sort()
    return [(d, -ns) for ns, d in scored[:k]]


def test_mlt_matches_bruteforce(index_dir, documents_pdf):
    s = LocalSearcher(index_dir)
    for src_id in sorted(documents_pdf["doc_id"].astype(int))[:5]:
        got = s.more_like_this(src_id, k=10, stem=False)
        want = _brute_mlt(documents_pdf, src_id, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], src_id
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_mlt_excludes_source_doc(index_dir, documents_pdf):
    s = LocalSearcher(index_dir)
    src_id = int(documents_pdf["doc_id"].iloc[0])
    assert src_id not in [d for d, _ in
                          s.more_like_this(src_id, k=50, stem=False)]


def test_mlt_unknown_doc(index_dir):
    assert LocalSearcher(index_dir).more_like_this(10**9, stem=False) == []


def test_mlt_requires_docstore(spark, documents, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, documents, d, n_buckets=4, segment_size=64,
                stem=False)
    with pytest.raises(FileNotFoundError):
        LocalSearcher(d).more_like_this(0, stem=False)


def test_mlt_reads_blobs_of_scored_terms_only(index_dir, documents_pdf):
    """Every source-doc term is df-checked from the postings' n/tf_sum
    columns alone; only the n_terms scored terms' segments are read
    with their blobs, in one batch — each admitted row group once —
    and enter the term cache."""
    from search_engine_spark.functions.hashing import term_bucket

    s = LocalSearcher(index_dir)
    blob_reads = []
    for path, pf in list(s._files.items()):
        def read(rgs, columns=None, _pf=pf, _path=path, **kw):
            if "doc_ids" in columns:
                blob_reads.extend((_path, rg) for rg in rgs)
            return _pf.read_row_groups(rgs, columns=columns, **kw)
        s._files[path] = type("_Counted", (), {
            "read_row_groups": staticmethod(read)})()
    row = max(documents_pdf.itertuples(), key=lambda r: len(set(r.text.split())))
    terms = set(row.text.split())
    assert len(terms) > 5
    assert s.more_like_this(int(row.doc_id), k=10, n_terms=5, stem=False)
    assert terms <= set(s._dict_cache)
    assert 0 < len(s._term_cache) <= 5 and set(s._term_cache) <= terms
    scored_rgs = {rg for t in s._term_cache
                  for rg in s._admitted(t, term_bucket(t, s.n_buckets))}
    assert len(blob_reads) == len(scored_rgs)
    assert set(blob_reads) == scored_rgs
