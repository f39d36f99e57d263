"""Mixed phrase + boolean queries: Lucene-style quoted clauses inside
the boolean query language.

Syntax (query.py routes any query containing a double quote here):

    "climate change"^2 policy|law -draft -"minor edit"

* a quoted segment is an exact-phrase CLAUSE: candidate docs must
  contain the phrase (conjunctive, like every other clause), and it
  CONTRIBUTES to the score as a virtual term with tf = phrase tf
  (adjacency count, overlaps included) and df = |docs containing the
  phrase| — BM25's idf * tfnorm with the engine's k1/b, times an
  optional ^boost (Lucene PhraseQuery's scoring model);
* -"..." is a NOT-phrase: docs containing the phrase are suppressed,
  survivors' scores unaffected (the NOT-term contract, extended to
  phrases);
* a single-token quoted segment degrades to a plain term clause with
  its boost (Lucene's behavior — there is no 1-gram phrase);
* `"a b"~N` is a PROXIMITY FILTER clause: the two tokens must
  co-occur within N positions (min |pos_a - pos_b| <= N — the
  near_counts semantics). It constrains candidates and contributes
  NOTHING to the score (Elasticsearch filter-context semantics;
  Lucene's sloppy-phrase tf approximation is deliberately not
  reproduced — a filter composes exactly, an approximation doesn't).
  `-"a b"~N` suppresses near-co-occurring docs;
* the unquoted remainder keeps the full existing grammar (OR-groups,
  ^boosts, NOT-terms, synonym expansion) with unchanged semantics.

Evaluation — exact, no approximation:

1. each positive phrase's FULL match list (doc_id, phrase_tf) comes
   from the positional machinery (PhraseSearcher.phrase_counts —
   which routes covered 2-token phrases through the bigram
   acceleration table when present, see plans/bigrams.py);
2. the phrase doc-set intersection is handed to the boolean engine as
   a `restrict` allow-list and NOT-phrase docs as `exclude_docs` —
   both removal-only, so the engine's block-max pruning stays exact;
3. the boolean engine scores every surviving candidate (inner k
   bounded by the allow-list size — phrase clauses are selective by
   construction: the allow-list is never larger than the rarest
   phrase's match list), phrase contributions are added on top, and
   the final (score desc, doc_id asc) top-k honors the standard
   `after` pagination cursor.

Document lengths for the phrase tfnorm come from the BODY postings of
the phrase's rarest token (every phrase match contains every phrase
token, so the lookup always hits); phrase df counts live (tombstone-
masked) matches — unlike term df, which is frozen until compaction,
a phrase's df is inherently computed at query time.

At cluster scale the same plan holds: phrase lists are partition-
pruned positional/bigram scans, the allow-list is a broadcast
semi-join against them, and scoring stays on the postings scan.
"""

from __future__ import annotations

import math
import re

import numpy as np

from search_engine_spark import K1
from search_engine_spark.functions.codec import decode_postings, decode_varints
from search_engine_spark.functions.text import analyze

_PHRASE_RE = re.compile(r'(-?)"([^"]*)"(~\d+)?(\^\S+)?')


def parse_mixed_query(
    qtext: str, *, stem: bool = True,
) -> tuple[list[tuple[tuple[str, ...], float, bool, int | None]], str]:
    """Split quoted phrase clauses out of a query string.

    Returns (phrases, rest): phrases is a list of
    (tokens, boost, negated, slop) with tokens analyzed by the SAME
    kernel as documents; rest is the unquoted remainder (single-token
    quotes already folded back in as plain clauses).

    slop is None for an exact phrase; `"a b"~N` is a PROXIMITY FILTER
    clause (the two tokens must co-occur within N positions —
    PhraseSearcher.near_counts semantics), which constrains candidates
    but contributes NOTHING to the score (Elasticsearch filter-context
    semantics; Lucene's sloppy-phrase tf approximation is deliberately
    not reproduced). A boost on a slop clause therefore raises, as do
    slop clauses without exactly two distinct tokens.

    Duplicate positive phrases collapse, first boost wins — mirroring
    the grouped parser's term-boost rule. Malformed/negative boosts
    raise, like _split_boost. An unbalanced quote is lenient: the
    stray mark is punctuation and vanishes in analysis."""
    phrases: list[tuple[tuple[str, ...], float, bool, int | None]] = []
    seen: set[tuple[tuple[str, ...], bool, int | None]] = set()

    def repl(m: re.Match) -> str:
        neg = m.group(1) == "-"
        raw_slop = m.group(3)
        raw_boost = m.group(4)
        slop = int(raw_slop[1:]) if raw_slop is not None else None
        boost = 1.0
        if raw_boost is not None:
            if slop is not None:
                raise ValueError(
                    f"slop clause {m.group(0)!r} cannot carry a boost "
                    "— proximity clauses are filters (score-neutral)"
                )
            try:
                boost = float(raw_boost[1:])
            except ValueError:
                raise ValueError(
                    f"malformed boost in phrase clause {m.group(0)!r}"
                ) from None
            if boost < 0:
                raise ValueError(
                    f"negative boost in phrase clause {m.group(0)!r}"
                )
        toks = analyze(m.group(2), stem=stem)
        if slop is not None:
            if len(toks) != 2 or toks[0] == toks[1]:
                raise ValueError(
                    f"slop clause {m.group(0)!r} needs exactly two "
                    "distinct tokens"
                )
        elif not toks:
            return " "
        elif len(toks) == 1:
            # degrade to a plain clause in the remainder grammar
            suffix = raw_boost if (raw_boost and not neg) else ""
            return f" {'-' if neg else ''}{toks[0]}{suffix} "
        key = (tuple(toks), neg, slop)
        if key not in seen:
            seen.add(key)
            phrases.append((tuple(toks), boost, neg, slop))
        return " "

    rest = _PHRASE_RE.sub(repl, qtext)
    return phrases, rest


_DL_CACHE_MAX = 64


def _doclens(searcher, term: str, docs: np.ndarray) -> np.ndarray:
    """Per-doc lengths for `docs` from `term`'s body postings
    (docs ⊆ term's doc list by construction — every phrase match
    contains every phrase token). The merged (doc_ids, doclens)
    arrays are memoized per searcher — decoding a stopword anchor's
    postings was the measured cost of warm repeated phrase-clause
    queries (doclens are build-time constants, so the cache never
    stales; deletes don't change survivors' lengths)."""
    cache = searcher.__dict__.setdefault("_phraseq_dl_cache", {})
    hit = cache.get(term)
    if hit is not None:
        cache[term] = cache.pop(term)  # LRU refresh
        ad, al = hit
    else:
        segs = searcher._segments(term)
        parts_d: list[np.ndarray] = []
        parts_l: list[np.ndarray] = []
        for r in range(len(segs)):
            d, _ = decode_postings(segs.doc_ids[r], segs.tfs[r])
            parts_d.append(d)
            parts_l.append(decode_varints(segs.doclens[r]).astype(np.int64))
        if not parts_d:
            return np.zeros(docs.size, dtype=np.int64)
        ad = np.concatenate(parts_d)
        al = np.concatenate(parts_l)
        order = np.argsort(ad, kind="stable")
        ad, al = ad[order], al[order]
        if len(cache) >= _DL_CACHE_MAX:
            cache.pop(next(iter(cache)))
        cache[term] = (ad, al)
    pos = np.searchsorted(ad, docs)
    pos = np.minimum(pos, ad.size - 1)
    return al[pos]


def search_mixed(
    searcher,
    phraser,
    qtext: str,
    *,
    k: int = 10,
    stem: bool = True,
    after: tuple[int, float] | None = None,
    prune: bool = True,
    fast: bool = True,
    synonyms: dict[str, list[str]] | None = None,
    restrict=None,
    phrase_df: dict[tuple[str, ...], int] | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for a mixed phrase+boolean query —
    see the module docstring for syntax and semantics.

    `searcher` is a plans.wand.LocalSearcher; `phraser` a
    plans.positions.PhraseSearcher over the SAME index (None allowed
    when the query carries no multi-token phrase). Static boosts are
    applied once, inside the boolean engine (or directly for pure-
    phrase queries). phrase_df: per-phrase df override keyed by the
    analyzed token tuple — federated serving (plans/federate) installs
    the GLOBAL match count there so each sub scores with the idf the
    folded index would use."""
    from search_engine_spark.plans.scoring import (
        expand_synonyms,
        parse_grouped_query,
    )

    phrases, rest = parse_mixed_query(qtext, stem=stem)
    groups, excl_terms, boosts = parse_grouped_query(rest, stem=stem)
    if synonyms:
        groups = expand_synonyms(groups, synonyms, stem=stem)
    site = searcher._norm_restrict(restrict)
    if site is not None and site.size == 0:
        return []
    if not phrases:
        if not groups:
            return []
        return searcher.search_grouped(
            groups, k=k, boosts=boosts, exclude=excl_terms,
            after=after, prune=prune, fast=fast, restrict=site,
        )
    if phraser is None:
        raise ValueError(
            "phrase clauses need the positional table — rebuild with "
            "--positions"
        )
    if phraser.stem != stem:
        raise ValueError(
            f"positional table analyzer (stem={phraser.stem}) does not "
            f"match the query analysis (stem={stem})"
        )
    # boolean terms are scored; phrase tokens only order the clauses
    searcher.prefetch([*(t for g in groups for t in g), *excl_terms])
    searcher.prefetch(
        (t for toks, _, neg, _ in phrases if not neg for t in toks),
        scored=False,
    )

    # Clause evaluation order (round 5 — mixed_p50 tightening):
    # score-bearing positive phrases go FIRST, rarest-token first
    # (their match lists must be evaluated in FULL anyway — phrase df
    # is global — but a rare phrase's empty result short-circuits the
    # whole query before any stopword frame is built); then proximity
    # FILTERS and finally NOT-phrases, both RESTRICTED to the
    # already-shrunk allow-list. Filters contribute nothing to the
    # score and NOT-docs outside the candidate set are unobservable,
    # so restricting them is semantics-preserving — and it turns a
    # stopword NOT-phrase ('-"of the"') from a corpus-scale positional
    # scan into a lookup over |allow| candidates.
    def _min_df(toks: tuple[str, ...]) -> int:
        known = [searcher._df[t] for t in toks if t in searcher._df]
        return min(known) if known else 0

    positives = [p for p in phrases if not p[2] and p[3] is None]
    prox = [p for p in phrases if p[3] is not None and not p[2]]
    negatives = [p for p in phrases if p[2]]
    positives.sort(key=lambda p: _min_df(p[0]))
    prox.sort(key=lambda p: _min_df(p[0]))

    pos_lists: list[tuple[np.ndarray, np.ndarray, float, tuple[str, ...]]] = []
    neg_arrs: list[np.ndarray] = []
    allow: np.ndarray | None = site  # site: pre-filter rides candidates
    for toks, boost, neg, slop in positives:
        d, t = phraser.phrase_counts_arrays(list(toks))
        if d.size == 0:
            return []  # a conjunctive clause with zero matches
        pos_lists.append((d, t, boost, toks))
        allow = d if allow is None else np.intersect1d(
            allow, d, assume_unique=True
        )
        if allow.size == 0:
            return []
    for toks, boost, neg, slop in prox:
        nd = np.asarray(
            [dd for dd, _ in phraser.near_counts(
                toks[0], toks[1], slop, restrict=allow
            )],
            dtype=np.int64,
        )
        if nd.size == 0:
            return []
        allow = nd if allow is None else np.intersect1d(
            allow, nd, assume_unique=True
        )
        if allow.size == 0:
            return []
    for toks, boost, neg, slop in negatives:
        if slop is not None:
            nd = np.asarray(
                [dd for dd, _ in phraser.near_counts(
                    toks[0], toks[1], slop, restrict=allow
                )],
                dtype=np.int64,
            )
        else:
            nd, _ = phraser.phrase_counts_arrays(
                list(toks), restrict=allow
            )
        if nd.size:
            neg_arrs.append(nd)
    neg_docs = (
        np.unique(np.concatenate(neg_arrs)) if neg_arrs else None
    )

    if not pos_lists:
        if prox:
            # proximity-filter clauses only: a plain boolean query
            # over the restricted candidate set (fully pruned — no
            # phrase score to add), or a pure filter match
            if groups:
                return searcher.search_grouped(
                    groups, k=k, boosts=boosts, exclude=excl_terms,
                    exclude_docs=neg_docs, after=after, prune=prune,
                    fast=fast, restrict=allow,
                )
            cand = allow
            mask = np.ones(cand.size, dtype=bool)
            if excl_terms:
                excl = searcher._excluded_docs(excl_terms)
                if excl is not None:
                    mask &= ~searcher._in_sorted(excl, cand)
            if neg_docs is not None:
                mask &= ~searcher._in_sorted(neg_docs, cand)
            cand = cand[mask]
            if cand.size == 0:
                return []
            scores = searcher._boosted(
                cand, np.zeros(cand.size, dtype=np.float64)
            )
            return searcher._vector_topk(cand, scores, k, after)
        # NOT-phrases only: ordinary boolean query minus their docs
        if not groups:
            return []
        return searcher.search_grouped(
            groups, k=k, boosts=boosts, exclude=excl_terms,
            exclude_docs=neg_docs, after=after, prune=prune, fast=fast,
            restrict=site,
        )

    # phrase score component over a candidate doc array (all members
    # of `allow`, so every searchsorted lookup hits)
    def phrase_contrib(docs: np.ndarray) -> np.ndarray:
        out = np.zeros(docs.size, dtype=np.float64)
        if docs.size == 0:
            return out
        known = [t for t in pos_lists[0][3] if t in searcher._df]
        if known:
            anchor = min(known, key=lambda t: searcher._df[t])
            dl = _doclens(searcher, anchor, docs)
        else:  # positions/body analyzer drift — degrade to avgdl
            dl = np.full(docs.size, searcher.avgdl)
        n = searcher.n_docs
        for d, t, boost, _toks in pos_lists:
            dfp = (phrase_df.get(_toks, d.size) if phrase_df
                   else d.size)
            idf_p = math.log(1.0 + (n - dfp + 0.5) / (dfp + 0.5))
            pos = np.searchsorted(d, docs)
            pos = np.minimum(pos, d.size - 1)
            tf = t[pos]
            out += boost * idf_p * searcher._tfnorm(tf, dl)
        return out

    if groups:
        # restrict-driven evaluation: the phrase clauses pinned the
        # candidate set (allow), so the boolean part is scored by
        # PROBING each query term at the candidates (|allow|·log per
        # term — independent of the Zipf head's posting-list length)
        # instead of scattering every term's full list over its own
        # union. Bit-identical scores to search_grouped for the
        # surviving docs (same term order, same contribution arrays,
        # boost applied before the phrase component — the order the
        # previous plan produced).
        docs, scores = searcher.score_grouped_candidates(
            groups, allow, boosts=boosts, exclude=excl_terms,
            exclude_docs=neg_docs,
        )
        if docs.size == 0:
            return []
        scores = scores + phrase_contrib(docs)
        return searcher._vector_topk(docs, scores, k, after)

    # pure phrase query (possibly with NOT-terms/NOT-phrases)
    cand = allow
    mask = np.ones(cand.size, dtype=bool)
    if excl_terms:
        excl = searcher._excluded_docs(excl_terms)
        if excl is not None:
            mask &= ~searcher._in_sorted(excl, cand)
    if neg_docs is not None:
        mask &= ~searcher._in_sorted(neg_docs, cand)
    cand = cand[mask]
    if cand.size == 0:
        return []
    scores = searcher._boosted(cand, phrase_contrib(cand))
    return searcher._vector_topk(cand, scores, k, after)


def explain_mixed(
    searcher,
    phraser,
    qtext: str,
    doc_id: int,
    *,
    stem: bool = True,
) -> dict:
    """Lucene-explain-style breakdown for a mixed phrase+boolean
    query: one row per clause (phrase clauses carry phrase_tf /
    phrase_df / idf / tfnorm / contribution; term clauses boost * idf
    * tfnorm; NOT clauses report whether they suppress the doc), plus
    `total` — equal to search_mixed's score for the doc up to float
    summation order (<= 1e-12 relative), `matched` (would the doc be
    returned), and the static boost when the index carries one."""
    from search_engine_spark.plans.scoring import parse_grouped_query

    doc_id = int(doc_id)
    phrases, rest = parse_mixed_query(qtext, stem=stem)
    groups, excl_terms, boosts = parse_grouped_query(rest, stem=stem)
    darr = np.asarray([doc_id], dtype=np.int64)
    deleted = bool(
        searcher._deleted.size
        and searcher._in_sorted(searcher._deleted, darr)[0]
    )
    n = searcher.n_docs
    clauses: list[dict] = []
    matched = not deleted
    total = 0.0
    dl_val: int | None = None

    def _doc_tf(term: str) -> tuple[int, int]:
        """(tf, doclen) of the doc in a term's postings (0, 0) if
        absent — also memoizes doclen for the phrase rows."""
        nonlocal dl_val
        if term not in searcher._df:
            return 0, 0
        segs = searcher._segments(term)
        for r in np.flatnonzero((segs.first_doc <= doc_id)
                                & (segs.last_doc >= doc_id)):
            docs, tfs = decode_postings(segs.doc_ids[r], segs.tfs[r])
            pos = np.searchsorted(docs, doc_id)
            if pos < docs.size and docs[pos] == doc_id:
                dls = decode_varints(segs.doclens[r]).astype(np.int64)
                dl_val = int(dls[pos])
                return int(tfs[pos]), dl_val
        return 0, 0

    # term clauses first (they establish doclen for the phrase rows
    # of docs that match any group term)
    term_rows = []
    seen_terms: set[str] = set()
    for gi, g in enumerate(groups):
        g_hit = False
        for t in g:
            tf, dl = _doc_tf(t)
            row = {"clause": "term", "group": gi, "term": t,
                   "matched": tf > 0 and not deleted,
                   "tf": tf or None, "df": None, "idf": None,
                   "tfnorm": None, "boost": float(boosts.get(t, 1.0)),
                   "contribution": 0.0}
            if t in searcher._df:
                row["df"] = int(searcher._df[t])
            if tf > 0 and not deleted:
                g_hit = True
                if t not in seen_terms:
                    seen_terms.add(t)
                    idf = searcher._idf(t)
                    tfn = float(searcher._tfnorm(
                        np.asarray([tf], dtype=np.int64),
                        np.asarray([dl], dtype=np.int64),
                    )[0])
                    row.update(idf=idf, tfnorm=tfn,
                               contribution=row["boost"] * idf * tfn)
                    total += row["contribution"]
            term_rows.append(row)
        if groups and not g_hit:
            matched = False
    clauses.extend(term_rows)

    for t in excl_terms:
        tf, _ = _doc_tf(t)
        sup = tf > 0 and not deleted
        clauses.append({"clause": "not_term", "term": t,
                        "suppresses": sup})
        if sup:
            matched = False

    for toks, boost, neg, slop in phrases:
        if slop is not None:
            nd = (
                dict(phraser.near_counts(toks[0], toks[1], slop))
                if phraser else {}
            )
            hit = doc_id in nd and not deleted
            if neg:
                clauses.append({"clause": "not_near",
                                "phrase": " ".join(toks), "slop": slop,
                                "suppresses": hit})
                if hit:
                    matched = False
            else:
                clauses.append({"clause": "near",
                                "phrase": " ".join(toks), "slop": slop,
                                "matched": hit,
                                "min_dist": nd.get(doc_id),
                                "contribution": 0.0})
                if not hit:
                    matched = False
            continue
        counts = phraser.phrase_counts(list(toks)) if phraser else []
        dfp = len(counts)
        tfp = dict(counts).get(doc_id, 0)
        if neg:
            sup = tfp > 0 and not deleted
            clauses.append({"clause": "not_phrase",
                            "phrase": " ".join(toks),
                            "phrase_tf": tfp, "suppresses": sup})
            if sup:
                matched = False
            continue
        row = {"clause": "phrase", "phrase": " ".join(toks),
               "matched": tfp > 0 and not deleted, "phrase_tf": tfp,
               "phrase_df": dfp, "idf": None, "tfnorm": None,
               "boost": float(boost), "contribution": 0.0}
        if tfp > 0 and not deleted:
            if dl_val is None:
                known = [t for t in toks if t in searcher._df]
                if known:
                    _doc_tf(min(known, key=lambda t: searcher._df[t]))
            dl = dl_val if dl_val is not None else searcher.avgdl
            idf_p = math.log(1.0 + (n - dfp + 0.5) / (dfp + 0.5))
            tfn = float(searcher._tfnorm(
                np.asarray([tfp], dtype=np.int64),
                np.asarray([dl], dtype=np.float64),
            )[0])
            row.update(idf=idf_p, tfnorm=tfn,
                       contribution=boost * idf_p * tfn)
            total += row["contribution"]
        else:
            matched = False
        clauses.append(row)

    sb = 0.0
    if matched and getattr(searcher, "_boost", None) is not None:
        boosted = searcher._boosted(
            darr, np.asarray([total], dtype=np.float64)
        )
        sb = float(boosted[0]) - total
        total = float(boosted[0])
    return {
        "doc_id": doc_id,
        "deleted": deleted,
        "matched": matched,
        "clauses": clauses,
        "static_boost": sb,
        "n_docs": n,
        "avgdl": searcher.avgdl,
        "total": total if matched else 0.0,
    }


def search_mixed_distributed(
    spark,
    index_dir: str,
    qtext: str,
    *,
    k: int = 10,
    stem: bool = True,
    offset: int = 0,
    synonyms: dict[str, list[str]] | None = None,
    restrict=None,
    static_boosts: bool = True,
):
    """The cluster twin of search_mixed — one declarative Spark plan,
    result-identical to the local path (property-tested, scores to
    1e-9: distributed sums associate differently).

    Plan shape, 100 TB-safe: each positive phrase's full match list
    comes from phrase_counts_distributed (partition-pruned positional
    scan, or a pure-JVM bigram-table scan when covered); the
    conjunction is a chain of doc_id equi-joins over those
    (phrase-selective) frames; document lengths ride the rarest
    phrase token's decoded postings (bucket-pruned); per-phrase df
    becomes a broadcast 1-row aggregate — no collect on any
    corpus-sized data. The boolean remainder reuses
    IndexReader.match_scores_grouped with the phrase doc-set as the
    pre-shuffle `restrict` semi-join; NOT-phrases are anti-joins.
    Final rank = one TakeOrderedAndProject over the combined score."""
    from pyspark.sql import DataFrame, functions as F

    from search_engine_spark.plans.index_query import IndexReader
    from search_engine_spark.plans.positions import (
        phrase_counts_distributed,
    )
    from search_engine_spark.plans.scoring import (
        B,
        K1,
        expand_synonyms,
        parse_grouped_query,
    )

    phrases, rest = parse_mixed_query(qtext, stem=stem)
    groups, excl_terms, boosts = parse_grouped_query(rest, stem=stem)
    if synonyms:
        groups = expand_synonyms(groups, synonyms, stem=stem)
    reader = IndexReader(spark, index_dir)
    if not static_boosts:
        reader.clear_static_boosts()
    empty = spark.createDataFrame([], "doc_id long, score double")

    def _with_restrict(df):
        if restrict is None:
            return df
        rdf = (
            restrict.select("doc_id").distinct()
            if isinstance(restrict, DataFrame)
            else spark.createDataFrame(
                [(int(d),) for d in restrict], "doc_id long"
            ).distinct()
        )
        return df.join(rdf, "doc_id", "left_semi")

    if not phrases:
        if not groups:
            return empty
        return reader.search_grouped(
            groups, k=k, boosts=boosts, exclude=excl_terms,
            offset=offset, restrict=restrict,
        )

    from search_engine_spark.plans.positions import near_docs_distributed

    pos = []
    negs = []
    slop_pos = []  # proximity FILTER frames (score-neutral)
    slop_neg = []
    for toks, boost, neg, slop in phrases:
        if slop is not None:
            f = near_docs_distributed(
                spark, index_dir, toks[0], toks[1], slop
            ).select("doc_id")
            (slop_neg if neg else slop_pos).append(f)
        elif neg:
            negs.append(toks)
        else:
            pos.append((toks, boost))

    def _anti_negs(df):
        for toks in negs:
            df = df.join(
                phrase_counts_distributed(
                    spark, index_dir, list(toks)
                ).select("doc_id"),
                "doc_id", "left_anti",
            )
        for f in slop_neg:
            df = df.join(f, "doc_id", "left_anti")
        return df

    if not pos:
        if slop_pos:
            # proximity filters only: semi-join chain as the restrict
            near = slop_pos[0]
            for f in slop_pos[1:]:
                near = near.join(f, "doc_id", "left_semi")
            near = _with_restrict(near)
            if groups:
                agg = reader.match_scores_grouped(
                    groups, boosts=boosts, exclude=excl_terms,
                    restrict=near,
                )
                if agg is None:
                    return empty
            else:
                agg = reader._boosted_df(
                    near.select(
                        "doc_id", F.lit(0.0).alias("score")
                    ).distinct()
                )
                if excl_terms:
                    edocs = reader._excluded_docs_df(
                        list(dict.fromkeys(excl_terms))
                    )
                    if edocs is not None:
                        agg = agg.join(edocs, "doc_id", "left_anti")
            return IndexReader._topk(_anti_negs(agg), k, offset)
        if not groups:
            return empty
        agg = reader.match_scores_grouped(
            groups, boosts=boosts, exclude=excl_terms, restrict=restrict,
        )
        if agg is None:
            return empty
        return IndexReader._topk(_anti_negs(agg), k, offset)

    # positive phrases: conjunction via doc_id equi-joins, per-phrase
    # tf kept as a column
    pc = [
        phrase_counts_distributed(spark, index_dir, list(toks))
        for toks, _b in pos
    ]
    allow = None
    for i, cdf in enumerate(pc):
        cur = cdf.select(
            "doc_id", F.col("phrase_tf").alias(f"ptf_{i}")
        )
        allow = cur if allow is None else allow.join(cur, "doc_id")
    for f in slop_pos:  # proximity filters constrain, score nothing
        allow = allow.join(f, "doc_id", "left_semi")
    allow = _with_restrict(allow)

    # doclen from the rarest phrase token's postings (every match
    # contains every phrase token)
    anchor_rows = reader.lookup_terms(list(dict.fromkeys(pos[0][0])))
    if not anchor_rows:
        return empty
    anchor = min(anchor_rows, key=lambda r: r.df)
    dl = (
        reader.decoded_postings([anchor.term], [anchor.bucket])
        .select("doc_id", "doclen")
    )
    allow = allow.join(dl, "doc_id")
    # per-phrase df as broadcast 1-row aggregates (declarative idf)
    for i, cdf in enumerate(pc):
        allow = allow.crossJoin(
            F.broadcast(
                cdf.agg(F.count("*").cast("double").alias(f"dfp_{i}"))
            )
        )
    n = float(reader.n_docs)

    def _tfnorm(tf_col):
        return (tf_col.cast("double") * F.lit(K1 + 1.0)) / (
            tf_col.cast("double")
            + F.lit(K1) * (F.lit(1.0 - B)
                           + F.lit(B) * F.col("doclen").cast("double")
                           / F.lit(reader.avgdl))
        )

    pscore = None
    for i, (_toks, boost) in enumerate(pos):
        dfp = F.col(f"dfp_{i}")
        idf_p = F.log(
            F.lit(1.0) + (F.lit(n) - dfp + 0.5) / (dfp + 0.5)
        )
        term_i = F.lit(float(boost)) * idf_p * _tfnorm(F.col(f"ptf_{i}"))
        pscore = term_i if pscore is None else pscore + term_i
    pframe = allow.select("doc_id", pscore.alias("pscore"))

    if groups:
        agg = reader.match_scores_grouped(
            groups, boosts=boosts, exclude=excl_terms,
            restrict=pframe.select("doc_id"),
        )
        if agg is None:
            return empty
        combined = agg.join(pframe, "doc_id").select(
            "doc_id", (F.col("score") + F.col("pscore")).alias("score")
        )
    else:
        combined = reader._boosted_df(
            pframe.select("doc_id", F.col("pscore").alias("score"))
        )
        if excl_terms:
            edocs = reader._excluded_docs_df(
                list(dict.fromkeys(excl_terms))
            )
            if edocs is not None:
                combined = combined.join(edocs, "doc_id", "left_anti")
    return IndexReader._topk(_anti_negs(combined), k, offset)
