"""Static document boosts (PageRank prior) + minimum-should-match.

Static boosts: serving adds boost(doc) to every BM25 score; block-max
upper bounds gain +max(boost) so pruning stays exact. Every local
path (AND warm/cold, OR warm/cold, grouped) and the distributed
IndexReader must agree with the independent brute-force oracle and
with each other bit-exactly where the unboosted engine already
guarantees it.

MSM: mode='or' with minimum-should-match m keeps docs matching >= m
present query terms; scores stay the plain OR sums.
"""

import os

import numpy as np
import pandas as pd
import pytest

from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.index_query import IndexReader
from search_engine_spark.plans.wand import LocalSearcher
from tests.oracle import brute_force_topk
from tests.test_bm25 import QUERIES


@pytest.fixture(scope="module")
def boosts_pdf(documents_pdf):
    rng = np.random.RandomState(7)
    ids = documents_pdf.doc_id.tolist()
    sel = [d for d in ids if rng.rand() < 0.6]  # ~60% of docs boosted
    return pd.DataFrame(
        {"doc_id": sel, "boost": rng.rand(len(sel)) * 3.0}
    )


@pytest.fixture(scope="module")
def index_dir(spark, documents, boosts_pdf, tmp_path_factory):
    """Index with an installed boosts table (the index_admin.py
    set-boosts layout) so BOTH LocalSearcher and IndexReader pick the
    static prior up automatically at open."""
    d = str(tmp_path_factory.mktemp("bindex"))
    build_index(
        spark, documents, d, n_buckets=8, segment_size=64, stem=False,
        salt_threshold=50, max_salts=4,
    )
    spark.createDataFrame(boosts_pdf).sort("doc_id").write.parquet(
        os.path.join(d, "boosts")
    )
    return d


@pytest.fixture(scope="module")
def searcher(index_dir):
    return LocalSearcher(index_dir)


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def corpus_docs(documents_pdf):
    return list(zip(documents_pdf.doc_id.tolist(),
                    documents_pdf.text.tolist()))


@pytest.fixture(scope="module")
def boost_map(boosts_pdf):
    return dict(zip(boosts_pdf.doc_id.tolist(),
                    boosts_pdf.boost.tolist()))


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_boosted_matches_bruteforce(searcher, corpus_docs, boost_map,
                                    qid, qtext, k, mode):
    got = searcher.search(qtext, k=k, stem=False, mode=mode)
    qterms = list(dict.fromkeys(qtext.lower().split()))
    want = brute_force_topk(corpus_docs, qterms, k=k, mode=mode,
                            static_boosts=boost_map)
    assert [d for d, _ in got] == [d for d, _ in want], f"qid={qid}"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_boosted_prune_is_exact(searcher, qid, qtext, k, mode):
    """ub + max(boost) must keep the block-max skip exact."""
    pruned = searcher.search(qtext, k=k, stem=False, mode=mode, prune=True,
                             fast=False)
    full = searcher.search(qtext, k=k, stem=False, mode=mode, prune=False)
    assert pruned == full


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("qid,qtext,k", QUERIES)
def test_boosted_warm_path_identical(searcher, qid, qtext, k, mode):
    slow = searcher.search(qtext, k=k, stem=False, mode=mode, fast=False)
    qterms = [t for t in dict.fromkeys(qtext.lower().split())
              if t in searcher._df]
    for t in qterms:
        searcher._load_full(t, searcher._idf(t))
    if mode == "and" and len(qterms) != len(
        dict.fromkeys(qtext.lower().split())
    ):
        return  # unknown term: AND empty either way
    fast = searcher.search(qtext, k=k, stem=False, mode=mode, fast=True)
    assert fast == slow


def test_boosted_grouped_matches_vec(searcher):
    got = searcher.search_grouped("spark|window join", k=10, stem=False)
    full = searcher.search_grouped("spark|window join", k=10, stem=False,
                                   prune=False)
    assert got == full
    # and the boost actually moved at least one score vs pure BM25
    searcher.clear_static_boosts()
    try:
        pure = searcher.search_grouped("spark|window join", k=10,
                                       stem=False)
    finally:
        searcher.load_static_boosts(
            os.path.join(searcher.root, "boosts")
        )
    assert pure != got


def test_boost_changes_ranking(searcher, corpus_docs, boost_map):
    """Sanity: the prior is strong enough to reorder at least one of
    the standard queries (otherwise these tests prove nothing)."""
    changed = False
    for _, qtext, k in QUERIES:
        boosted = searcher.search(qtext, k=k, stem=False, mode="or")
        qterms = list(dict.fromkeys(qtext.lower().split()))
        pure = brute_force_topk(corpus_docs, qterms, k=k, mode="or")
        if [d for d, _ in boosted] != [d for d, _ in pure]:
            changed = True
            break
    assert changed


def test_negative_boost_rejected(searcher):
    with pytest.raises(ValueError, match="negative"):
        searcher.load_static_boosts(
            pd.DataFrame({"doc_id": [0], "boost": [-1.0]})
        )


def test_explain_reports_static_boost(searcher, boost_map):
    did = next(iter(boost_map))
    out = searcher.explain_score("the", did, stem=False)
    assert out["static_boost"] == pytest.approx(boost_map[did], abs=1e-12)
    assert out["score"] == pytest.approx(
        sum(r["contribution"] for r in out["terms"]) + out["static_boost"],
        abs=1e-12,
    )


@pytest.mark.parametrize("mode", ["and", "or"])
def test_reader_matches_local_boosted(reader, searcher, mode):
    rows = reader.search("spark join", k=10, stem=False, mode=mode).collect()
    local = searcher.search("spark join", k=10, stem=False, mode=mode)
    assert [r.doc_id for r in rows] == [d for d, _ in local]
    for r, (_, s) in zip(rows, local):
        assert r.score == pytest.approx(s, abs=1e-9)


def test_reader_clear_static_boosts(reader, spark, index_dir):
    boosted = reader.search("spark join", k=10, stem=False).collect()
    r2 = IndexReader(spark, index_dir)
    r2.clear_static_boosts()
    pure = r2.search("spark join", k=10, stem=False).collect()
    assert [r.score for r in boosted] != [r.score for r in pure]


def test_reader_keeps_its_generation_side_tables(spark, index_dir,
                                                 tmp_path_factory):
    """IndexReader pins one generation at open for every table it
    reads later, boosts included: a commit that drops boosts/ leaves
    an already-open reader's results unchanged."""
    import shutil

    from search_engine_spark.plans.publish import begin_generation

    d = str(tmp_path_factory.mktemp("pinned") / "index")
    shutil.copytree(index_dir, d)
    begin_generation(d).commit()  # legacy dir -> generation symlink
    r = IndexReader(spark, d)
    want = r.search("spark join", k=10, stem=False).collect()
    assert want
    txn = begin_generation(d)
    shutil.rmtree(os.path.join(txn.work, "boosts"))
    txn.commit()
    assert not os.path.isdir(os.path.join(d, "boosts"))
    assert r.search("spark join", k=10, stem=False).collect() == want


# ---------------------------------------------------------------------------
# minimum-should-match
# ---------------------------------------------------------------------------

MSM_QUERIES = [
    ("spark join window", 10),
    ("fast hash merge", 10),
    ("the fast zzzz", 25),
    ("spark zzzz", 10),
]


@pytest.mark.parametrize("msm", [1, 2, 3])
@pytest.mark.parametrize("qtext,k", MSM_QUERIES)
def test_msm_matches_bruteforce(searcher, corpus_docs, boost_map,
                                qtext, k, msm):
    got = searcher.search(qtext, k=k, stem=False, mode="or", msm=msm)
    qterms = list(dict.fromkeys(qtext.lower().split()))
    present = [t for t in qterms if t in searcher._df]
    if msm > len(present):
        assert got == []
        return
    want = brute_force_topk(corpus_docs, present, k=k, mode="or", msm=msm,
                            static_boosts=boost_map)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("msm", [2, 3])
@pytest.mark.parametrize("qtext,k", MSM_QUERIES)
def test_msm_prune_and_warm_identical(searcher, qtext, k, msm):
    cold = searcher.search(qtext, k=k, stem=False, mode="or", msm=msm,
                           fast=False)
    full = searcher.search(qtext, k=k, stem=False, mode="or", msm=msm,
                           prune=False)
    assert cold == full
    for t in qtext.lower().split():
        if t in searcher._df:
            searcher._load_full(t, searcher._idf(t))
    warm = searcher.search(qtext, k=k, stem=False, mode="or", msm=msm)
    assert warm == full


def test_msm_rejects_and_mode(searcher):
    with pytest.raises(ValueError, match="mode='or'"):
        searcher.search("spark join", stem=False, mode="and", msm=2)


def test_msm_reader_matches_local(reader, searcher):
    rows = reader.search("spark join window", k=10, stem=False,
                         mode="or", msm=2).collect()
    local = searcher.search("spark join window", k=10, stem=False,
                            mode="or", msm=2)
    assert [r.doc_id for r in rows] == [d for d, _ in local]
    for r, (_, s) in zip(rows, local):
        assert r.score == pytest.approx(s, abs=1e-9)


def test_msm_equal_to_nterms_is_and_scored_or(searcher, corpus_docs,
                                              boost_map):
    """msm == |q| keeps exactly the conjunctive candidates (scores are
    OR sums == AND sums: same matched-term set)."""
    got = searcher.search("spark join", k=10, stem=False, mode="or", msm=2)
    want = searcher.search("spark join", k=10, stem=False, mode="and")
    # same docs and ranks; scores approx (the two paths may add the
    # per-term contributions in different orders on df ties)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("mode", ["and", "or"])
def test_lmd_ignores_static_boosts(index_dir, mode):
    """Static boosts are a BM25 prior: LM-Dirichlet scores never carry
    them — on the single-cold-term block-max path and the scatter."""
    boosted = LocalSearcher(index_dir)
    assert boosted._boost is not None
    plain = LocalSearcher(index_dir)
    plain.clear_static_boosts()
    for q in (["the"], ["window"], ["spark", "join"], ["the", "fast"]):
        got = boosted.search_lmd(q, k=10, stem=False, mode=mode)
        assert got and got == plain.search_lmd(q, k=10, stem=False,
                                               mode=mode), q
