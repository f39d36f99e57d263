"""Mixed phrase + boolean queries (plans/phraseq.py).

Ground truth is an independent pandas ranker (sliding-window phrase
tf, Counter-based term stats — no engine code on the scoring path).
The engine must agree WITH and WITHOUT the bigram acceleration table
(hot-set choice can change speed, never results), and the standard
pagination property must hold on the combined score.
"""

import json
import math
import os
import random
import shutil
import subprocess
import sys
from collections import Counter

import pandas as pd
import pytest

from search_engine_spark.plans.bigrams import build_bigrams
from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.phraseq import parse_mixed_query, search_mixed
from search_engine_spark.plans.positions import PhraseSearcher, build_positions
from search_engine_spark.plans.scoring import parse_grouped_query
from search_engine_spark.plans.wand import LocalSearcher

from search_engine_spark import B, K1

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VOCAB = ["spark", "hash", "join", "scan", "table", "merge", "sort", "row"]
HOT = ["spark", "hash"]

MIXED_QUERIES = [
    '"spark hash"',                    # pure covered pair (direct path)
    '"hash join"',
    '"join scan"',                     # uncovered pair (positional)
    '"spark hash" table',              # phrase + AND term
    '"spark hash"^2 table|row -sort',  # boost + OR-group + NOT-term
    '"spark hash table"',              # 3-token phrase
    '"spark hash" "table row"',        # two phrase clauses
    '-"spark hash" table',             # NOT-phrase + term
    '"spark qqqzzz" table',            # phrase matches nothing -> []
    '-"spark qqqzzz" table',           # no-op NOT-phrase -> plain query
    '"spark" table',                   # single-token quote degrades
    '"spark hash" -"table row"',       # phrase + NOT-phrase
    '"hash spark"^0.5 merge',          # reversed pair + boost
    '"spark join"~3',                  # proximity filter alone
    '"spark join"~3 table',            # proximity filter + scored term
    '"spark hash" "join scan"~5',      # exact phrase + proximity
    '-"spark join"~2 table',           # NOT-proximity + term
]


@pytest.fixture(scope="module")
def corpus_pdf():
    rng = random.Random(505)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 40)))
        for _ in range(160)
    ]
    return pd.DataFrame({"doc_id": range(160), "text": texts})


@pytest.fixture(scope="module")
def accel_dir(spark, corpus_pdf, tmp_path_factory):
    d = os.path.join(str(tmp_path_factory.mktemp("phraseq")), "idx")
    df = spark.createDataFrame(corpus_pdf)
    build_index(spark, df, d, n_buckets=4, segment_size=64, stem=False)
    build_positions(spark, df, d, n_buckets=4, stem=False)
    build_bigrams(spark, df, d, n_buckets=4, stem=False, hot=HOT)
    return d


@pytest.fixture(scope="module")
def plain_dir(accel_dir, tmp_path_factory):
    d = os.path.join(str(tmp_path_factory.mktemp("phraseq_plain")), "idx")
    shutil.copytree(accel_dir, d)
    os.remove(os.path.join(d, "bigrams_meta.json"))
    shutil.rmtree(os.path.join(d, "bigrams"))
    return d


def _ptf(toks: list[str], phrase: tuple[str, ...]) -> int:
    m = len(phrase)
    return sum(
        1 for i in range(len(toks) - m + 1)
        if toks[i:i + m] == list(phrase)
    )


def _mindist(toks: list[str], a: str, b: str) -> int:
    pa = [i for i, t in enumerate(toks) if t == a]
    pb = [i for i, t in enumerate(toks) if t == b]
    if not pa or not pb:
        return 10**9
    return min(abs(i - j) for i in pa for j in pb)


def _brute_mixed(corpus_pdf, qtext, k=400):
    phrases, rest = parse_mixed_query(qtext, stem=False)
    groups, exclude, boosts = parse_grouped_query(rest, stem=False)
    toks = {int(r.doc_id): r.text.split()
            for r in corpus_pdf.itertuples()}
    tf = {d: Counter(ts) for d, ts in toks.items()}
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    groups = [[t for t in g if df[t]] for g in groups]
    if groups and any(not g for g in groups):
        return []
    pos_ph = [(ts, b) for ts, b, neg, slop in phrases
              if not neg and slop is None]
    neg_ph = [ts for ts, _b, neg, slop in phrases
              if neg and slop is None]
    near_pos = [(ts, slop) for ts, _b, neg, slop in phrases
                if not neg and slop is not None]
    near_neg = [(ts, slop) for ts, _b, neg, slop in phrases
                if neg and slop is not None]
    if not pos_ph and not groups and not near_pos:
        return []
    pc = {
        ts: {d: _ptf(t, ts) for d, t in toks.items()}
        for ts, _ in pos_ph
    }
    pc.update({ts: {d: _ptf(t, ts) for d, t in toks.items()}
               for ts in neg_ph})
    pdfc = {ts: sum(1 for v in c.values() if v) for ts, c in pc.items()}
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    terms = list(dict.fromkeys(t for g in groups for t in g))

    def idf(dfv):
        return math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))

    def tfnorm(tfv, dl):
        return (tfv * (K1 + 1.0)
                / (tfv + K1 * (1.0 - B + B * dl / avgdl)))

    out = []
    for d, c in tf.items():
        if any(pc[ts][d] == 0 for ts, _ in pos_ph):
            continue
        if any(pc[ts][d] > 0 for ts in neg_ph):
            continue
        if any(_mindist(toks[d], ts[0], ts[1]) > s for ts, s in near_pos):
            continue
        if any(_mindist(toks[d], ts[0], ts[1]) <= s for ts, s in near_neg):
            continue
        if any(c[t] for t in exclude):
            continue
        if groups and any(all(not c[t] for t in g) for g in groups):
            continue
        dl = len(toks[d])
        s = sum(
            boosts.get(t, 1.0) * idf(df[t]) * tfnorm(c[t], dl)
            for t in terms if c[t]
        )
        s += sum(
            b * idf(pdfc[ts]) * tfnorm(pc[ts][d], dl)
            for ts, b in pos_ph
        )
        out.append((-s, d))
    out.sort()
    return [(d, -ns) for ns, d in out[:k]]


def _close(a, b):
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, x), (_, y) in zip(a, b):
        assert x == pytest.approx(y, abs=1e-9)


@pytest.mark.parametrize("qtext", MIXED_QUERIES)
def test_matches_bruteforce_accel_and_plain(
    corpus_pdf, accel_dir, plain_dir, qtext
):
    want = _brute_mixed(corpus_pdf, qtext, k=50)
    for d in (accel_dir, plain_dir):
        got = search_mixed(
            LocalSearcher(d), PhraseSearcher(d), qtext, k=50, stem=False
        )
        _close(got, want)


def test_fuzz_random_mixed_queries(corpus_pdf, accel_dir, plain_dir):
    rng = random.Random(99)
    for _ in range(30):
        parts = []
        for _ in range(rng.randint(1, 3)):
            kind = rng.random()
            if kind < 0.45:
                ph = " ".join(
                    rng.choice(VOCAB) for _ in range(rng.randint(2, 3))
                )
                neg = "-" if rng.random() < 0.2 else ""
                boost = f"^{rng.choice([0.5, 2])}" \
                    if (not neg and rng.random() < 0.3) else ""
                parts.append(f'{neg}"{ph}"{boost}')
            elif kind < 0.6:
                a, b = rng.sample(VOCAB, 2)
                neg = "-" if rng.random() < 0.2 else ""
                parts.append(f'{neg}"{a} {b}"~{rng.randint(1, 6)}')
            elif kind < 0.85:
                parts.append(rng.choice(VOCAB))
            else:
                parts.append("-" + rng.choice(VOCAB))
        q = " ".join(parts)
        want = _brute_mixed(corpus_pdf, q, k=30)
        for d in (accel_dir, plain_dir):
            got = search_mixed(
                LocalSearcher(d), PhraseSearcher(d), q, k=30, stem=False
            )
            _close(got, want), q


def test_pagination_on_combined_score(corpus_pdf, accel_dir):
    s = LocalSearcher(accel_dir)
    p = PhraseSearcher(accel_dir)
    q = '"spark hash" table|row'
    full = search_mixed(s, p, q, k=100, stem=False)
    assert len(full) > 6
    pages, after = [], None
    while True:
        page = search_mixed(s, p, q, k=3, stem=False, after=after)
        if not page:
            break
        pages.extend(page)
        after = page[-1]
    _close(pages, full)


def test_parser_rules():
    ph, rest = parse_mixed_query('"a b"^2 c -"d e" "a b"^9', stem=False)
    # duplicate positive phrase collapses, first boost wins
    assert ph == [(("a", "b"), 2.0, False, None),
                  (("d", "e"), 1.0, True, None)]
    assert rest.split() == ["c"]
    # slop clauses: filters with exactly two distinct tokens, no boost
    ph, rest = parse_mixed_query('"a b"~3 -"c d"~1 e', stem=False)
    assert ph == [(("a", "b"), 1.0, False, 3),
                  (("c", "d"), 1.0, True, 1)]
    assert rest.split() == ["e"]
    with pytest.raises(ValueError, match="cannot carry a boost"):
        parse_mixed_query('"a b"~2^3', stem=False)
    with pytest.raises(ValueError, match="two distinct tokens"):
        parse_mixed_query('"a b c"~2', stem=False)
    with pytest.raises(ValueError, match="two distinct tokens"):
        parse_mixed_query('"a a"~2', stem=False)
    with pytest.raises(ValueError, match="malformed boost"):
        parse_mixed_query('"a b"^x', stem=False)
    with pytest.raises(ValueError, match="negative boost"):
        parse_mixed_query('"a b"^-1', stem=False)
    # single-token quotes degrade to plain clauses, keeping boost/NOT
    ph, rest = parse_mixed_query('"spark"^2 -"row" x', stem=False)
    assert ph == []
    assert rest.split() == ["spark^2", "-row", "x"]


def test_site_restrict_composes(corpus_pdf, accel_dir):
    s = LocalSearcher(accel_dir)
    p = PhraseSearcher(accel_dir)
    full = search_mixed(s, p, '"spark hash" table', k=100, stem=False)
    assert len(full) > 2
    allowed = [d for d, _ in full[1:]]  # drop the top hit via restrict
    got = search_mixed(
        s, p, '"spark hash" table', k=100, stem=False, restrict=allowed
    )
    assert [d for d, _ in got] == sorted(
        allowed, key=lambda d: [x for x, _ in full].index(d)
    )


def test_cli_quoted_query(accel_dir):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "query.py"), "--index-dir",
         accel_dir, '"spark hash" table', "-k", "5", "--no-stem"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()[:-1]
    api = search_mixed(
        LocalSearcher(accel_dir), PhraseSearcher(accel_dir),
        '"spark hash" table', k=5, stem=False,
    )
    got = [(int(x.split("\t")[1]), float(x.split("\t")[2]))
           for x in lines]
    assert [d for d, _ in got] == [d for d, _ in api]


def test_distributed_mixed_parity(spark, accel_dir, plain_dir):
    """search_mixed_distributed (one declarative Spark plan) must
    return the same ranking as the local path — with and without the
    bigram acceleration table."""
    from search_engine_spark.plans.phraseq import search_mixed_distributed

    for q in ('"spark hash" table', '"spark hash"^2 table|row -sort',
              '"spark hash" "table row"', '-"spark hash" table',
              '"join scan" merge', '"spark hash"',
              '"spark qqqzzz" table',
              '"spark join"~3 table', '"spark join"~3',
              '"spark hash" "join scan"~5',
              '-"spark join"~2 table'):
        want = search_mixed(
            LocalSearcher(accel_dir), PhraseSearcher(accel_dir),
            q, k=20, stem=False,
        )
        for d in (accel_dir, plain_dir):
            got = [
                (r.doc_id, r.score)
                for r in search_mixed_distributed(
                    spark, d, q, k=20, stem=False
                ).collect()
            ]
            assert [x for x, _ in got] == [x for x, _ in want], (q, d)
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, abs=1e-9)


def test_cli_batch_with_quoted_line(accel_dir, tmp_path):
    """A --batch file mixing a quoted line with a plain line: the
    quoted line routes through search_mixed with the RAW text (the
    NOT split must not break -\"...\")."""
    bf = os.path.join(str(tmp_path), "qb.txt")
    with open(bf, "w") as f:
        f.write('q1\t"spark hash" table -"table row"\nq2\tmerge\n')
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "query.py"), "--index-dir",
         accel_dir, "--batch", bf, "-k", "3", "--no-stem"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()[:-1]
    got = {}
    for x in lines:
        qid, _rank, doc, score = x.split("\t")
        got.setdefault(qid, []).append((int(doc), float(score)))
    api = search_mixed(
        LocalSearcher(accel_dir), PhraseSearcher(accel_dir),
        '"spark hash" table -"table row"', k=3, stem=False,
    )
    assert [d for d, _ in got["q1"]] == [d for d, _ in api]
    assert got.get("q2"), "plain line must still answer"


def test_explain_mixed_total_equals_serving_score(accel_dir):
    """explain_mixed's total must equal search_mixed's score for each
    returned doc (float summation order aside), and a doc killed by a
    NOT-phrase must report matched=False with the suppressing
    clause."""
    from search_engine_spark.plans.phraseq import explain_mixed

    s = LocalSearcher(accel_dir)
    p = PhraseSearcher(accel_dir)
    for q in ('"spark hash" table', '"spark hash"^2 table|row -sort',
              '"spark hash" "table row"', '"join scan"',
              '"spark join"~4 table'):
        hits = search_mixed(s, p, q, k=5, stem=False)
        assert hits, q
        for doc, score in hits:
            out = explain_mixed(s, p, q, doc, stem=False)
            assert out["matched"], (q, doc)
            assert out["total"] == pytest.approx(score, abs=1e-9)

    hits = search_mixed(s, p, '"spark hash" -"table row"', k=100,
                        stem=False)
    excluded = [
        d for d, _ in search_mixed(s, p, '"spark hash" "table row"',
                                   k=100, stem=False)
    ]
    assert excluded
    out = explain_mixed(s, p, '"spark hash" -"table row"', excluded[0],
                        stem=False)
    assert not out["matched"]
    assert any(c.get("clause") == "not_phrase" and c.get("suppresses")
               for c in out["clauses"])
    assert excluded[0] not in [d for d, _ in hits]


def test_explain_mixed_cli(accel_dir):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "query.py"), "--index-dir",
         accel_dir, '"spark hash" table', "--explain-doc",
         str(search_mixed(LocalSearcher(accel_dir),
                          PhraseSearcher(accel_dir),
                          '"spark hash" table', k=1, stem=False)[0][0]),
         "--no-stem"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout)
    assert out["matched"] and out["total"] > 0
    kinds = {c["clause"] for c in out["clauses"]}
    assert "phrase" in kinds and "term" in kinds


def test_fuzzy_clause_rewrite(spark, accel_dir):
    """Lucene-style fuzzy clauses (scoring.expand_fuzzy): term~N
    rewrites to an OR-group of near-dictionary terms via the SymSpell
    table; negation distributes; a no-match positive keeps the absent
    term (unsatisfiable — dropping it would widen the query); quoted
    slop clauses are untouched. Serving the rewrite equals serving
    the hand-expanded query."""
    from search_engine_spark.plans.scoring import expand_fuzzy
    from search_engine_spark.plans.suggest import Suggester, build_suggest

    build_suggest(spark, accel_dir)
    sug = Suggester(accel_dir)

    q = expand_fuzzy("sparc~1 join", sug, stem=False)
    assert "spark" in q and "~" not in q
    qn = expand_fuzzy("join -sparc~1", sug, stem=False)
    assert "-spark" in qn
    qz = expand_fuzzy("qqqqq~1 join", sug, stem=False)
    assert "qqqqq" in qz and "~" not in qz
    qs = expand_fuzzy('"spark join"~3 tablx~1', sug, stem=False)
    assert '"spark join"~3' in qs and "table" in qs

    s = LocalSearcher(accel_dir)
    got = s.search_grouped(
        expand_fuzzy("sparc~1 merge", sug, stem=False), k=10, stem=False
    )
    want = s.search_grouped("spark merge", k=10, stem=False)
    assert got == want

    # boost distributes over variants
    qb = expand_fuzzy("sparc~1^2 merge", sug, stem=False)
    assert "spark^2" in qb
    gotb = s.search_grouped(qb, k=10, stem=False)
    wantb = s.search_grouped("spark^2 merge", k=10, stem=False)
    assert gotb == wantb

    # CLI end-to-end (auto-detects the ~ clause, uses the table)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "query.py"), "--index-dir",
         accel_dir, "sparc~1 merge", "-k", "5", "--no-stem"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()[:-1]
    assert [int(x.split("\t")[1]) for x in lines] == \
        [d for d, _ in want[:5]]


def test_fuzzy_clause_without_table_is_usage_error(plain_dir, tmp_path):
    # plain_dir may have inherited a suggest table from accel_dir
    # (module-fixture ordering) — audit a copy guaranteed without one
    d = os.path.join(str(tmp_path), "idx_nosug")
    shutil.copytree(plain_dir, d)
    shutil.rmtree(os.path.join(d, "suggest"), ignore_errors=True)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "query.py"), "--index-dir",
         d, "sparc~1 merge", "-k", "5", "--no-stem"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 2
    assert "build-suggest" in r.stderr


def test_mixed_reads_no_dictionary(accel_dir, plain_dir):
    """search_mixed takes every df from the postings: with the
    dictionary files unreadable it returns the untouched searcher's
    results."""
    from tests.test_wand import _forbid_dictionary_reads

    for d in (accel_dir, plain_dir):
        s = _forbid_dictionary_reads(LocalSearcher(d))
        ref, ph = LocalSearcher(d), PhraseSearcher(d)
        for qtext in MIXED_QUERIES:
            assert search_mixed(s, ph, qtext, k=20, stem=False) == \
                search_mixed(ref, ph, qtext, k=20, stem=False), qtext
