"""plans/federate: searching a federation of built indexes must be
bit-identical (scores AND order) to searching one physically merged /
fresh-built index over the union corpus with the same id layout —
the read-side guarantee that lets the LSM ingest cadence
(streaming/incremental) serve unfolded epoch shards immediately."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.federate import FederatedSearcher
from search_engine_spark.plans.wand import LocalSearcher


def _corpus(spark, lo, hi, empty_every=9):
    rows = []
    for i in range(lo, hi):
        text = (
            "" if i % empty_every == 3
            else " ".join(["spark"] * (i % 3 + 1))
            + f" doc number{i} the join fast scan"
        )
        rows.append((i - lo, text, f"https://ex.com/p{i}"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "url"])
    )


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fed")
    a_src = _corpus(spark, 0, 60)
    b_src = _corpus(spark, 60, 100)
    a, b, full = (str(root / n) for n in ("a", "b", "full"))
    kw = dict(segment_size=32, stem=False, salt_threshold=40, max_salts=4)
    # deliberately DIFFERENT physical layouts per sub — federation must
    # not care (ranking is layout-independent)
    build_index(spark, a_src, a, n_buckets=4, **kw)
    build_index(spark, b_src, b, n_buckets=2, **kw)
    for d, src in ((a, a_src), (b, b_src)):
        src.select("doc_id", "url").sort("doc_id").write.parquet(
            os.path.join(d, "urlmap")
        )
    # the reference ranking: a fresh build over the union corpus with
    # b's ids offset past a's ALLOCATED max (59: urlmap incl. empty
    # docs) — exactly the id layout merge_into/FederatedSearcher use
    union = a_src.unionByName(
        b_src.withColumn("doc_id", F.col("doc_id") + F.lit(60))
    )
    build_index(spark, union, full, n_buckets=4, **kw)
    return a, b, full


@pytest.fixture(scope="module")
def pair(dirs):
    a, b, full = dirs
    return FederatedSearcher([a, b]), LocalSearcher(full)


def test_global_stats_match_fresh_build(pair):
    fed, ref = pair
    assert fed.n_docs == ref.n_docs
    assert fed.sum_doclen == ref.sum_doclen
    assert fed.avgdl == ref.avgdl  # bit-equal float expression


QUERIES = ["the", "spark join", "doc number63", "fast scan the",
           "number7", "absentterm spark"]


@pytest.mark.parametrize("mode", ["and", "or"])
def test_federated_equals_fresh_build(pair, mode):
    fed, ref = pair
    for q in QUERIES:
        assert fed.search(q, k=15, stem=False, mode=mode) == \
            ref.search(q, k=15, stem=False, mode=mode), (q, mode)


def test_federated_msm_and_exclude(pair):
    fed, ref = pair
    kw = dict(k=20, stem=False, mode="or", msm=2)
    assert fed.search("spark fast number7", **kw) == \
        ref.search("spark fast number7", **kw)
    assert fed.search("the", k=20, stem=False, exclude="spark") == \
        ref.search("the", k=20, stem=False, exclude="spark")


def test_federated_grouped(pair):
    fed, ref = pair
    for q in ["fast|scan the", "spark|number5 join^2 -number8",
              "number63|number3 spark"]:
        assert fed.search_grouped(q, k=15, stem=False) == \
            ref.search_grouped(q, k=15, stem=False), q


def test_federated_pagination_pages_concat(pair):
    fed, ref = pair
    fullpage = ref.search("the", k=100, stem=False, mode="or")
    got, after = [], None
    while True:
        page = fed.search("the", k=7, stem=False, mode="or", after=after)
        if not page:
            break
        got.extend(page)
        after = page[-1]
    assert got == fullpage


def test_federated_restrict_and_exclude_docs_on_global_ids(pair):
    fed, ref = pair
    # global ids straddling the offset boundary (60 = first b doc)
    ids = [0, 1, 2, 59, 60, 61, 95]
    kw = dict(k=10, stem=False, mode="or")
    assert fed.search("spark", restrict=ids, **kw) == \
        ref.search("spark", restrict=ids, **kw)
    assert fed.search("spark", exclude_docs=ids, **kw) == \
        ref.search("spark", exclude_docs=ids, **kw)
    assert fed.search("spark", restrict=[], **kw) == []


def test_three_way_federation(spark, tmp_path):
    kw = dict(segment_size=32, stem=False, salt_threshold=40,
              max_salts=4, n_buckets=2)
    srcs = [_corpus(spark, lo, hi) for lo, hi in
            ((0, 30), (30, 55), (55, 80))]
    ds_, offs, nxt = [], [], 0
    for i, src in enumerate(srcs):
        d = str(tmp_path / f"i{i}")
        build_index(spark, src, d, **kw)
        src.select("doc_id", "url").sort("doc_id").write.parquet(
            os.path.join(d, "urlmap"))
        ds_.append(d)
        offs.append(nxt)
        nxt += src.count()
    union = srcs[0]
    for src, off in zip(srcs[1:], offs[1:]):
        union = union.unionByName(
            src.withColumn("doc_id", F.col("doc_id") + F.lit(off)))
    full = str(tmp_path / "full")
    build_index(spark, union, full, **kw)
    fed, ref = FederatedSearcher(ds_), LocalSearcher(full)
    for q in QUERIES:
        for mode in ("and", "or"):
            assert fed.search(q, k=12, stem=False, mode=mode) == \
                ref.search(q, k=12, stem=False, mode=mode), (q, mode)


def test_federated_sees_sub_tombstones(spark, dirs, pair):
    a, b, full = dirs
    from search_engine_spark.plans.deletes import delete_docs
    ref = LocalSearcher(full)
    want = ref.search("spark", k=10, stem=False, exclude_docs=[61])
    delete_docs(spark, b, [1])  # local id 1 in b == global 61
    try:
        fed = FederatedSearcher([a, b])
        assert fed.search("spark", k=10, stem=False) == want
    finally:
        import shutil
        shutil.rmtree(os.path.join(b, "deletes"), ignore_errors=True)


@pytest.fixture(scope="module")
def rich(spark, dirs):
    """dirs + docstore and suggest tables on every index (additive —
    search results are unaffected), for the stored-field / dictionary
    federation tests."""
    from search_engine_spark.plans.docstore import build_docstore
    from search_engine_spark.plans.suggest import build_suggest

    a, b, full = dirs
    if not os.path.isdir(os.path.join(full, "docstore")):
        a_src = _corpus(spark, 0, 60)
        b_src = _corpus(spark, 60, 100)
        build_docstore(spark, a_src.select("doc_id", "text"), a)
        build_docstore(spark, b_src.select("doc_id", "text"), b)
        union = a_src.unionByName(
            b_src.withColumn("doc_id", F.col("doc_id") + F.lit(60)))
        build_docstore(spark, union.select("doc_id", "text"), full)
        for d in (a, b, full):
            build_suggest(spark, d)
    return a, b, full


def test_federated_lmd_equals_fresh_build(rich):
    a, b, full = rich
    fed, ref = FederatedSearcher([a, b]), LocalSearcher(full)
    for q in QUERIES:
        for mode in ("and", "or"):
            assert fed.search_lmd(q, k=15, stem=False, mode=mode) == \
                ref.search_lmd(q, k=15, stem=False, mode=mode), (q, mode)
    # restrict on global ids straddling the offset boundary + exclude
    kw = dict(k=10, stem=False, mode="or")
    assert fed.search_lmd("spark the", restrict=[1, 59, 60, 95], **kw) \
        == ref.search_lmd("spark the", restrict=[1, 59, 60, 95], **kw)
    assert fed.search_lmd("the", exclude="spark", k=10, stem=False) \
        == ref.search_lmd("the", exclude="spark", k=10, stem=False)


def test_federated_lmd_and_with_all_tombstoned_term(dirs):
    """A query term whose every posting is tombstoned in one sub leaves
    that sub no LM-Dirichlet AND match. The global cf override routes
    the pruned path despite the live tombstones, so the emptied term
    must still count in the conjunction, not drop out of it."""
    import numpy as np

    a, _, _ = dirs
    fed = FederatedSearcher([a, a])  # two subs sharing every term
    # planted before the first query: _GlobalCF sums masked cf lazily
    fed.subs[0]._deleted = np.array([5], dtype=np.int64)  # 'number5'
    hits = fed.search_lmd(["number5", "spark"], k=50, stem=False,
                          mode="and")
    assert [d for d, _ in hits] == [fed.offsets[1] + 5]


def test_federated_explain_equals_fresh_build(pair):
    fed, ref = pair
    # docs from both sides of the boundary, a deleted-style absent id,
    # and a term present in only one sub ("number63" lives in b only)
    for doc in (0, 1, 59, 60, 61, 95, 10_000):
        got = fed.explain_score("spark number63 absentterm", doc,
                                stem=False)
        want = ref.explain_score("spark number63 absentterm", doc,
                                 stem=False)
        assert got == want, doc


def test_federated_get_texts(rich):
    from search_engine_spark.plans.docstore import DocStore

    a, b, full = rich
    fed = FederatedSearcher([a, b])
    ids = [0, 3, 59, 60, 61, 99, 10_000]
    assert fed.get_texts(ids) == DocStore(full).get_texts(ids)


def test_federated_dictionary_scans(rich):
    a, b, full = rich
    fed, ref = FederatedSearcher([a, b]), LocalSearcher(full)
    assert fed.prefix_terms("number6") == ref.prefix_terms("number6")
    assert fed.prefix_terms("number", limit=7) == \
        ref.prefix_terms("number", limit=7)
    for by_df in (False, True):
        assert fed.vocab_terms(contains="umber1", limit=5, by_df=by_df) \
            == ref.vocab_terms(contains="umber1", limit=5, by_df=by_df)
    assert fed.vocab_terms(regex="^number.3$", by_df=True) == \
        ref.vocab_terms(regex="^number.3$", by_df=True)


def test_federated_suggest(rich):
    from search_engine_spark.plans.suggest import Suggester

    a, b, full = rich
    fed, ref = FederatedSearcher([a, b]), Suggester(full)
    for term in ("spak", "jion", "number63", "fastt", "zzz"):
        assert fed.suggest(term, k=3) == ref.suggest(term, k=3), term


def test_stem_mismatch_refused(spark, tmp_path, dirs):
    a, _, _ = dirs
    d = str(tmp_path / "stemmed")
    build_index(spark, _corpus(spark, 0, 20), d, n_buckets=2,
                segment_size=32, stem=True, salt_threshold=40,
                max_salts=4)
    with pytest.raises(ValueError, match="analyzer"):
        FederatedSearcher([a, d])


@pytest.fixture(scope="module")
def posidx(spark, dirs):
    """dirs + positional tables and a 'head' field index (first two
    body tokens) on every index — the round-5 federated phrase /
    mixed / fielded surfaces need both, on subs AND the fresh-built
    reference."""
    from search_engine_spark.plans.positions import build_positions

    a, b, full = dirs
    a_src = _corpus(spark, 0, 60)
    b_src = _corpus(spark, 60, 100)
    union = a_src.unionByName(
        b_src.withColumn("doc_id", F.col("doc_id") + F.lit(60)))

    def head(src):
        return src.select(
            "doc_id",
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 2), " "
            ).alias("text"),
        )

    if not os.path.exists(os.path.join(full, "positions_meta.json")):
        kw = dict(n_buckets=2, segment_size=32, stem=False,
                  salt_threshold=40, max_salts=4)
        for d, s_ in ((a, a_src), (b, b_src), (full, union)):
            build_positions(spark, s_, d, n_buckets=2, stem=False)
            build_index(spark, head(s_),
                        os.path.join(d, "fields", "head"), **kw)
    return a, b, full


def test_federated_phrase_equals_fresh_build(posidx):
    from search_engine_spark.plans.positions import PhraseSearcher

    a, b, full = posidx
    fed = FederatedSearcher([a, b])
    ref = PhraseSearcher(full)
    for q in ["the join", "join fast", "doc number63", "fast scan",
              "absent phrase"]:
        assert fed.search_phrase(q, k=15) == ref.search_phrase(q, k=15), q
    ids = [1, 59, 60, 61, 95]
    assert fed.search_phrase("the join", k=10, restrict=ids) == \
        ref.search_phrase("the join", k=10, restrict=ids)


def test_federated_mixed_equals_fresh_build(posidx):
    from search_engine_spark.plans.phraseq import search_mixed
    from search_engine_spark.plans.positions import PhraseSearcher

    a, b, full = posidx
    fed = FederatedSearcher([a, b])
    sref, pref = LocalSearcher(full), PhraseSearcher(full)
    for q in ['"the join" spark', '"fast scan" -number7',
              '"doc number63"', 'spark -"the join"',
              '"join fast"~2 spark', '"the join"^2 spark|doc']:
        got = fed.search_mixed(q, k=15, stem=False)
        want = search_mixed(sref, pref, q, k=15, stem=False)
        assert got == want, q  # bit-identical scores AND order
    # pagination across the federation
    fullpage = search_mixed(sref, pref, '"the join" spark', k=100,
                            stem=False)
    got, after = [], None
    while True:
        page = fed.search_mixed('"the join" spark', k=7, stem=False,
                                after=after)
        if not page:
            break
        got.extend(page)
        after = page[-1]
    assert got == fullpage


def test_federated_fielded_equals_fresh_build(posidx):
    from search_engine_spark.plans.multifield import search_fielded

    a, b, full = posidx
    fed = FederatedSearcher([a, b])
    for q in ["head:doc spark", "head:spark^2 join",
              "the -head:doc", "head:doc head:spark"]:
        got = fed.search_fielded(q, k=15, stem=False)
        want = search_fielded(full, q, k=15, stem=False)
        assert got == want, q
    ids = [1, 59, 60, 61, 95]
    assert fed.search_fielded("head:doc spark", k=10, stem=False,
                              restrict=ids) == \
        search_fielded(full, "head:doc spark", k=10, stem=False,
                       restrict=ids)


def test_federated_phrase_needs_positions_everywhere(spark, tmp_path,
                                                     posidx):
    a, b, full = posidx
    d = str(tmp_path / "nopos")
    build_index(spark, _corpus(spark, 100, 120), d, n_buckets=2,
                segment_size=32, stem=False, salt_threshold=40,
                max_salts=4)
    fed = FederatedSearcher([a, d])
    with pytest.raises(ValueError, match="positional"):
        fed.search_phrase("the join", k=5)
