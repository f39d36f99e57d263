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


@pytest.mark.parametrize("prune", [True, False], ids=["prune", "noprune"])
@pytest.mark.parametrize("shape", ["and", "or", "msm", "grouped", "lmd"])
def test_k0_returns_no_hits(searcher, shape, prune):
    """k=0 asks for no hits: every executor returns [] (block-max used
    to read the top of an empty heap). fast=False keeps block-max even
    for terms an earlier test left warm; LMD routes block-max for one
    cold term and the scatter for two."""
    if shape == "grouped":
        got = searcher.search_grouped("spark|window the", k=0, stem=False,
                                      prune=prune, fast=not prune)
    elif shape == "lmd":
        got = searcher.search_lmd(["merge"] if prune else ["the", "data"],
                                  k=0, stem=False)
    else:
        kw = {"and": {}, "or": {"mode": "or"},
              "msm": {"mode": "or", "msm": 2}}[shape]
        got = searcher.search("the fast spark", k=0, stem=False,
                              prune=prune, fast=not prune, **kw)
    assert got == []


def test_cli_rejects_negative_k(index_dir):  # noqa: F811
    import os
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "query.py", "--index-dir", index_dir, "the",
         "-k", "-1"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 2 and "-k must be >= 0" in r.stderr


def _copy_index(index_dir, tmp_path_factory, name):  # noqa: F811
    import shutil

    d = str(tmp_path_factory.mktemp(name) / "index")
    shutil.copytree(index_dir, d)
    return d


def _rewrite(d, table, fn):
    """Rewrite every parquet file of one index table in place, and drop
    each file's Hadoop .crc sidecar, which the rewrite leaves stale (a
    Spark read of the copy would fail its checksum)."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(d, table, "bucket=*", "*.parquet"))
    assert files
    for f in files:
        fn(pq.ParquetFile(f).read(), f)
        head, base = os.path.split(f)
        crc = os.path.join(head, f".{base}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_lmd_without_dictionary_cf(index_dir, tmp_path_factory):  # noqa: F811
    """Serving takes cf from the postings' tf_sum, so a dictionary
    without the cf column (pre-cf build) changes nothing; postings
    without tf_sum (pre-tf_sum segments) give cf None and LMD takes
    the decoded cf — both with the cf index's results."""
    import pyarrow.parquet as pq

    d = _copy_index(index_dir, tmp_path_factory, "nocf")
    _rewrite(d, "dictionary",
             lambda t, f: pq.write_table(t.drop_columns(["cf"]), f))
    e = _copy_index(index_dir, tmp_path_factory, "notfsum")
    _rewrite(e, "postings",
             lambda t, f: pq.write_table(t.drop_columns(["tf_sum"]), f))
    ref, nocf, notfs = (LocalSearcher(index_dir), LocalSearcher(d),
                        LocalSearcher(e))
    for t in ("the", "data", "window"):
        assert nocf._dict_lookup(t) == ref._dict_lookup(t)
        assert nocf._dict_lookup(t)[2] == \
            int(nocf._segments(t).tf_sum.sum()) == nocf.term_cf(t)
        assert notfs._segments(t).tf_sum is None
        assert notfs._dict_lookup(t)[2] is None
        assert notfs._dict_lookup(t)[:2] == ref._dict_lookup(t)[:2]
    for qterms in (["the", "data"], ["window"], ["spark", "merge"]):
        for mode in ("and", "or"):
            want = ref.search_lmd(qterms, k=7, stem=False, mode=mode)
            assert want
            assert nocf.search_lmd(qterms, k=7, stem=False, mode=mode) == want
            assert notfs.search_lmd(qterms, k=7, stem=False, mode=mode) == want


def test_terms_spanning_row_groups(index_dir, tmp_path_factory):  # noqa: F811
    """Postings rewritten at 7 rows per row group, row order kept, so
    a term's segments span several row groups: its segment columns and
    every query shape stay bit-identical to the original index."""
    import os

    import pyarrow.parquet as pq

    d = _copy_index(index_dir, tmp_path_factory, "rg7")
    _rewrite(d, "postings",
             lambda t, f: pq.write_table(t, f, row_group_size=7))
    ref, small = LocalSearcher(index_dir), LocalSearcher(d)
    assert any(len(rgs) > 1 for rgs in small._rg.values())
    terms = pq.read_table(os.path.join(index_dir, "dictionary"),
                          columns=["term"])["term"].to_pylist()
    for t in ["the"] + sorted(terms)[::25]:
        a, b = ref._segments(t), small._segments(t)
        assert len(a) == len(b) > 0
        for f in a.__slots__:
            assert np.array_equal(getattr(a, f), getattr(b, f)), (t, f)
    assert len(small._segments("the")) > 7  # spans row groups

    for qtext in ("the fast", "spark join window", "the fast spark"):
        for kw in ({"mode": "and"}, {"mode": "or"},
                   {"mode": "or", "msm": 2}):
            for prune in (True, False):
                for fast in (True, False):
                    o = dict(k=8, stem=False, prune=prune, fast=fast, **kw)
                    assert small.search(qtext, **o) == ref.search(qtext, **o)
        doc = ref.search(qtext, k=1, stem=False, mode="or")[0][0]
        assert small.explain_score(qtext, doc, stem=False) == \
            ref.explain_score(qtext, doc, stem=False)
    for qtext in ("spark|window the", "the|fast data"):
        assert small.search_grouped(qtext, k=8, stem=False) == \
            ref.search_grouped(qtext, k=8, stem=False)
    for qterms in (["the", "data"], ["window"]):
        for mode in ("and", "or"):
            assert small.search_lmd(qterms, k=8, stem=False, mode=mode) == \
                ref.search_lmd(qterms, k=8, stem=False, mode=mode)


def _dictionary(index_dir):  # noqa: F811
    import os

    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(index_dir, "dictionary"),
                         columns=["term", "df", "bucket", "cf"]).to_pylist()


def _count_reads(s: LocalSearcher) -> list:
    """Record (row groups, columns) of every postings read of s."""
    reads = []

    class _Counted:
        def __init__(self, pf):
            self._pf = pf

        def read_row_groups(self, rgs, columns=None, **kw):
            reads.append((rgs, columns))
            return self._pf.read_row_groups(rgs, columns=columns, **kw)

    s._files = {p: _Counted(pf) for p, pf in s._files.items()}
    return reads


def test_dict_lookup_matches_dictionary(index_dir):  # noqa: F811
    """df/cf served from the segments equal the dictionary table's
    row for every term, whether the term arrives in a scored batch, a
    df-only batch or alone; an absent term is None. df-only reads
    (batch or single) read no blob column and cache no segments."""
    rows = _dictionary(index_dir)
    want = {r["term"]: (r["df"], r["bucket"], r["cf"]) for r in rows}
    batch, stats, single = (LocalSearcher(index_dir) for _ in range(3))
    stats_reads = _count_reads(stats)
    single_reads = _count_reads(single)
    batch.prefetch(list(want))
    stats.prefetch(list(want), scored=False)
    assert len(stats_reads) == sum(map(len, batch._rg.values()))
    for t, row in want.items():
        assert batch._dict_lookup(t) == row, t
        assert stats._dict_lookup(t) == row, t
    for t in sorted(want)[::7]:
        assert single._dict_lookup(t) == want[t], t
    for s in (batch, stats, single):
        assert s._dict_lookup("qqqzzz") is None
    assert batch._term_cache
    assert not stats._term_cache and not single._term_cache
    for _, cols in stats_reads + single_reads:
        assert set(cols) == {"term", "n", "tf_sum"}, cols


@pytest.mark.parametrize("layout", ["as_built", "rg7"])
def test_batched_read_equals_segments(index_dir, tmp_path_factory,  # noqa: F811
                                      layout):
    """One batched read per row group builds each term's segments
    column for column as the per-term reader does: terms sharing a
    row group, terms of other buckets, absent terms, and terms
    spanning row groups (postings rewritten at 7 rows per group)."""
    import pyarrow.parquet as pq

    d = index_dir
    if layout == "rg7":
        d = _copy_index(index_dir, tmp_path_factory, "many_rg7")
        _rewrite(d, "postings",
                 lambda t, f: pq.write_table(t, f, row_group_size=7))
    absent = {"qqqzzz", "zzzqqq"}
    by_bucket = {}
    for r in _dictionary(index_dir):
        by_bucket.setdefault(r["bucket"], []).append(r["term"])
    b0, b1 = sorted(by_bucket)[:2]
    terms = (sorted(by_bucket[b0])[:5] + sorted(by_bucket[b1])[::9]
             + ["the", *sorted(absent)])
    many = LocalSearcher(d)._read_terms(terms)
    one = LocalSearcher(d)
    assert list(many) == terms
    for t in terms:
        a, b = many[t], one._segments(t)
        assert len(a) == len(b) and (len(a) == 0) == (t in absent), t
        for f in a.__slots__:
            assert np.array_equal(getattr(a, f), getattr(b, f)), (t, f)


class _NoReads:
    """Stands in for a dictionary ParquetFile a served query must not
    touch."""

    def __getattr__(self, name):
        raise AssertionError(f"dictionary {name}() on a served query")


def _forbid_dictionary_reads(s: LocalSearcher) -> LocalSearcher:
    for path in s._dict_files:
        s._dict_files[path] = _NoReads()
    return s


def test_served_queries_read_no_dictionary(index_dir):  # noqa: F811
    """search (and/or/msm), search_grouped and search_lmd never read
    the dictionary, and return what an untouched searcher returns."""
    ref = LocalSearcher(index_dir)
    s = _forbid_dictionary_reads(LocalSearcher(index_dir))
    for qtext in ("the fast", "spark join window", "the fast spark",
                  "window qqqzzz"):
        for kw in ({"mode": "and"}, {"mode": "or"},
                   {"mode": "or", "msm": 2}):
            o = dict(k=8, stem=False, **kw)
            assert s.search(qtext, **o) == ref.search(qtext, **o)
            assert s.search(qtext, exclude="data", **o) == \
                ref.search(qtext, exclude="data", **o)
        for mode in ("and", "or"):
            assert s.search_lmd(qtext, k=8, stem=False, mode=mode) == \
                ref.search_lmd(qtext, k=8, stem=False, mode=mode)
    for qtext in ("spark|window the", "the|fast data -join"):
        assert s.search_grouped(qtext, k=8, stem=False) == \
            ref.search_grouped(qtext, k=8, stem=False)
    with pytest.raises(AssertionError, match="dictionary"):
        s.prefix_terms("th")  # the dictionary scans still read it


def test_first_contact_reads_each_row_group_once(index_dir):  # noqa: F811
    """A query whose first-contact terms share one postings row group
    reads that row group exactly once — no dictionary read, no
    per-term re-read."""
    s = LocalSearcher(index_dir)
    _forbid_dictionary_reads(s)
    reads = _count_reads(s)
    by_rgs = {}
    for r in _dictionary(index_dir):
        rgs = tuple(s._admitted(r["term"], r["bucket"]))
        if len(rgs) == 1:
            by_rgs.setdefault(rgs, []).append(r["term"])
    shared = max(by_rgs.values(), key=len)
    assert len(shared) >= 3
    for call in (lambda q: s.search(q, k=5, stem=False, mode="or"),
                 lambda q: s.search_lmd(q, k=5, stem=False, mode="or"),
                 lambda q: s.search_grouped(
                     [q.split()[:1], q.split()[1:]], k=5, stem=False)):
        s._term_cache.clear()
        s._dict_cache.clear()
        reads.clear()
        assert call(" ".join(shared[:3]))
        assert len(reads) == 1, reads


def test_fsck_checks_dictionary_cf(spark, index_dir,  # noqa: F811
                                   tmp_path_factory):
    """fsck I1 covers cf: a dictionary cf one above the postings' tf
    sum is reported, naming the term — by the sampled local fsck and
    by the full-coverage fsck_distributed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.plans.fsck import fsck, fsck_distributed

    d = _copy_index(index_dir, tmp_path_factory, "cfdrift")
    victim = []

    def bump(t, f):
        if not victim:
            cf = t["cf"].to_pylist()
            cf[0] += 1
            victim.append(t["term"][0].as_py())
            t = t.set_column(t.schema.get_field_index("cf"), "cf",
                             pa.array(cf, type=t["cf"].type))
        pq.write_table(t, f)

    _rewrite(d, "dictionary", bump)
    out = fsck(d, sample_terms=10**6)
    assert not out["ok"]
    cf_errors = [e for e in out["errors"] if e.startswith("I1 cf")]
    assert len(cf_errors) == 1 and repr(victim[0]) in cf_errors[0], \
        out["errors"][:5]
    dist = fsck_distributed(spark, d)
    assert not dist["ok"]
    assert dist["errors"] == [
        e for e in dist["errors"] if repr(victim[0]) in e
        and e.startswith("I1 cf") and "dictionary cf" in e], dist["errors"]
    assert len(dist["errors"]) == 1


def test_fsck_checks_segments_tf_sum(spark, index_dir,  # noqa: F811
                                     tmp_path_factory):
    """Serving takes cf from the segments' tf_sum: one segment's
    tf_sum one too high is reported by both fscks, naming the term."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.plans.fsck import fsck, fsck_distributed

    d = _copy_index(index_dir, tmp_path_factory, "tfsumdrift")
    victim = []

    def bump(t, f):
        if not victim:
            ts = t["tf_sum"].to_pylist()
            ts[0] += 1
            victim.append(t["term"][0].as_py())
            t = t.set_column(t.schema.get_field_index("tf_sum"), "tf_sum",
                             pa.array(ts, type=t["tf_sum"].type))
        pq.write_table(t, f)

    _rewrite(d, "postings", bump)
    for out in (fsck(d, sample_terms=10**6), fsck_distributed(spark, d)):
        assert not out["ok"]
        assert len(out["errors"]) == 1, out["errors"][:5]
        assert out["errors"][0].startswith("I1 cf")
        assert repr(victim[0]) in out["errors"][0] and "tf_sum" in \
            out["errors"][0]
