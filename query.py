#!/usr/bin/env python
"""CLI: query a built index.

    python query.py --index-dir /data/index "spark join" -k 10
    python query.py --index-dir /data/index --distributed "spark join"
    python query.py --index-dir /data/index --batch queries.txt

Default is the local block-max WAND path (millisecond latency, no
Spark job); --distributed runs the Spark IndexReader plan (same
results, cluster-scale). --batch reads one query per line (optionally
"id<TAB>text") and answers them all: locally by looping the serving
path, or — with --distributed — in ONE Spark job (search_batch).
"""

from __future__ import annotations

import argparse
import json
import time


def split_not_terms(qtext: str) -> tuple[str, str]:
    """Split '-term' NOT-tokens out of a query string:
    'spark join -filter -slow' -> ('spark join', 'filter slow').
    A bare '-' is left in place (the tokenizer drops it anyway)."""
    pos, neg = [], []
    for tok in qtext.split():
        if tok.startswith("-") and len(tok) > 1:
            neg.append(tok[1:])
        else:
            pos.append(tok)
    return " ".join(pos), " ".join(neg)


def _read_batch(path: str) -> dict[str, str]:
    queries: dict[str, str] = {}
    with open(path) as f:
        for i, line in enumerate(f, 1):
            line = line.rstrip("\n")
            if not line.strip():
                continue
            if "\t" in line:
                qid, text = line.split("\t", 1)
            else:
                qid, text = f"q{i}", line
            if qid in queries:
                raise SystemExit(
                    f"duplicate query id {qid!r} in batch file (line {i}) — "
                    "every query would not be answered; use unique ids"
                )
            queries[qid] = text
    return queries


_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)"


def _parse_ts(s: str, flag: str):
    """Parse an ISO-8601 timestamp or date for --after-ts/--before-ts.
    Naive values compare against urlmap.warc_ts as stored (the crawl
    fixture writes naive UTC); raises ValueError with the flag name on
    garbage so the CLI can turn it into a usage error."""
    import datetime as dt

    try:
        return dt.datetime.fromisoformat(s)
    except ValueError:
        raise ValueError(
            f"{flag}: {s!r} is not an ISO-8601 timestamp "
            "(e.g. 2024-03-01 or 2024-03-01T12:00:00)"
        ) from None


def _restrict_doc_ids(
    index_dir: str,
    host: str | None = None,
    after_ts=None,
    before_ts=None,
) -> list[int] | None:
    """Allowed doc_ids for the filter clauses (site: scoping and the
    crawl-timestamp window), resolved in ONE urlmap scan — pyarrow +
    a vectorized pandas extract, no Spark job. Timestamp bounds are
    inclusive (Lucene `[a TO b]` range semantics) and push down into
    the parquet scan; the host predicate is a vectorized extract over
    the survivors. Superseded re-crawl rows may appear; they are
    already tombstone-masked by every search path. Returns None when
    no filter is requested (callers pass restrict=None through).

    At 10^12 docs this is a doc-values column scan of (doc_id,
    warc_ts): the distributed twin (_restrict_docs_df) is the path a
    cluster uses — a pushed-down parquet filter + semi-join below the
    shuffle — while this local resolver serves the single-node
    millisecond path the same way the site: filter always has."""
    import re

    import pyarrow.dataset as ds

    if host is None and after_ts is None and before_ts is None:
        return None
    cols = ["doc_id"] + (["url"] if host is not None else [])
    filt = None
    if after_ts is not None:
        filt = ds.field("warc_ts") >= after_ts
    if before_ts is not None:
        f2 = ds.field("warc_ts") <= before_ts
        filt = f2 if filt is None else (filt & f2)
    tbl = ds.dataset(f"{index_dir}/urlmap", format="parquet").to_table(
        columns=cols, filter=filt
    )
    pdf = tbl.to_pandas()
    if host is not None:
        hosts = pdf["url"].str.extract(
            _HOST_RE, flags=re.ASCII
        )[0].str.lower()
        pdf = pdf.loc[hosts == host.lower()]
    return pdf["doc_id"].astype(int).tolist()


def _restrict_docs_df(spark, index_dir: str, host: str | None = None,
                      after_ts=None, before_ts=None):
    """Distributed twin of _restrict_doc_ids: the urlmap scan with the
    host / timestamp-window predicates as a DataFrame for IndexReader's
    pre-filter semi-join (filters push down to the parquet scan)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{index_dir}/urlmap")
    if after_ts is not None:
        df = df.filter(F.col("warc_ts") >= F.lit(after_ts))
    if before_ts is not None:
        df = df.filter(F.col("warc_ts") <= F.lit(before_ts))
    if host is not None:
        df = df.filter(
            F.lower(F.regexp_extract(F.col("url"), _HOST_RE, 1))
            == host.lower()
        )
    return df.select("doc_id")


def _site_doc_ids(index_dir: str, host: str) -> list[int]:
    """Back-compat alias: site-only restrict resolution."""
    return _restrict_doc_ids(index_dir, host=host)


def _site_docs_df(spark, index_dir: str, host: str):
    """Back-compat alias: site-only restrict DataFrame."""
    return _restrict_docs_df(spark, index_dir, host=host)


def _url_lookup(index_dir: str, doc_ids: list[int]) -> dict[int, str]:
    import pyarrow.dataset as ds

    tbl = ds.dataset(f"{index_dir}/urlmap", format="parquet").to_table(
        columns=["doc_id", "url"],
        filter=ds.field("doc_id").isin(doc_ids),  # row-group pruned
    )
    return dict(zip(tbl["doc_id"].to_pylist(), tbl["url"].to_pylist()))


def main() -> None:
    import os

    ap = argparse.ArgumentParser()
    ap.add_argument("qtext", nargs="?",
                    help="query text; '-term' tokens are NOT-terms "
                         "(docs containing them are excluded); 'a|b' "
                         "clauses are OR-groups — 'spark|flink join' "
                         "matches docs with (spark OR flink) AND join, "
                         "scored over all matched terms (--mode is "
                         "ignored for grouped queries; both ignored "
                         "in --phrase mode)")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--also", action="append", default=[], metavar="DIR",
                    help="federate additional index dirs (e.g. unfolded "
                         "streaming epoch shards) into this query: "
                         "results are bit-identical to searching the "
                         "merged index (plans/federate). Repeatable; "
                         "list shards in fold order. Supports plain "
                         "AND/OR/msm/grouped/NOT queries + --urls")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--offset", type=int, default=0,
                    help="deep pagination: skip the first N ranked "
                         "results (page 3 of 10 = -k 10 --offset 20). "
                         "The LocalSearcher API also offers cursor "
                         "(search_after) pagination via search(after=)")
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--distributed", action="store_true")
    ap.add_argument("--mode", choices=["and", "or"], default="and",
                    help="and = posting-list intersection (reference "
                         "semantics); or = disjunctive BM25 (block-max "
                         "pruned on the local path too)")
    ap.add_argument("--batch", metavar="FILE",
                    help="answer every query in FILE (one per line, "
                         "optional 'id<TAB>text'); with --distributed "
                         "all queries run in ONE Spark job")
    ap.add_argument("--phrase", action="store_true",
                    help="treat the query as an exact consecutive "
                         "phrase (requires an index built with "
                         "build_index.py --positions); ranks by "
                         "phrase frequency, tie-break doc_id")
    ap.add_argument("--urls", action="store_true",
                    help="print urls (requires an index built from "
                         "pages input — urlmap table present)")
    ap.add_argument("--snippets", action="store_true",
                    help="print a query-biased snippet per hit "
                         "(requires an index built with build_index.py "
                         "--store-text)")
    ap.add_argument("--complete", action="store_true",
                    help="autocomplete: treat the query as a term "
                         "PREFIX and print the top-k completions by "
                         "document frequency (df desc, term asc) — "
                         "row-group-pruned dictionary range scan, "
                         "no Spark job")
    ap.add_argument("--title-weight", type=float, default=None,
                    metavar="W",
                    help="multi-field ranking: score = body BM25 + "
                         "W * title BM25 (requires an index built "
                         "with build_index.py --title-index; local "
                         "single query)")
    ap.add_argument("--anchor-weight", type=float, default=None,
                    metavar="W",
                    help="add W * anchor-field BM25 to the multi-field "
                         "score (requires index_admin.py build-anchor; "
                         "combines with --title-weight; local single "
                         "query)")
    ap.add_argument("--collapse-host", type=int, metavar="N", default=None,
                    help="result diversification (site collapse): keep "
                         "at most N hits per url host, refetching "
                         "deeper until k survivors exist (requires the "
                         "urlmap table; local single-query mode)")
    ap.add_argument("--explain-doc", type=int, metavar="DOC_ID",
                    help="print a Lucene-style per-term score "
                         "explanation of DOC_ID for the query "
                         "(tf/df/idf/tfnorm/contribution per term, "
                         "collection constants, total) — local, "
                         "single query, no Spark job")
    ap.add_argument("--suggest", action="store_true",
                    help="print 'did you mean' spelling suggestions "
                         "for query terms missing from the dictionary "
                         "(requires `index_admin.py build-suggest`)")
    ap.add_argument("--out", metavar="PATH",
                    help="also write the ranked results as parquet "
                         "(query_id, rank, doc_id, score[, url]) — the "
                         "S5 results sink for batch/cluster runs")
    ap.add_argument("--diversify", type=float, metavar="LAMBDA",
                    help="MMR re-rank the retrieved list: lam*rel - "
                         "(1-lam)*max cosine to already-picked docs "
                         "(needs --embeddings; retrieve with a larger "
                         "-k to give the diversifier room; docs with "
                         "no embedding keep relevance order at the "
                         "tail)")
    ap.add_argument("--embeddings", metavar="PARQUET",
                    help="embedding table for --diversify: (doc_id "
                         "or vec_id, embedding array<float>)")
    ap.add_argument("--eval", metavar="QRELS", dest="eval_qrels",
                    help="score this batch run against graded "
                         "judgments (parquet with query_id, doc_id, "
                         "rel): prints per-query nDCG@k/MRR@k/"
                         "recall@k/AP@k lines and adds the macro "
                         "average to the summary JSON (requires "
                         "--batch; trec_eval semantics — queries "
                         "without relevant docs are skipped)")
    ap.add_argument("--msm", type=int, default=1, metavar="M",
                    help="minimum-should-match (--mode or only): keep "
                         "docs matching at least M of the query terms; "
                         "scores stay the plain OR sums. M larger than "
                         "the number of in-index terms matches nothing")
    ap.add_argument("--synonyms", metavar="FILE",
                    help="JSON {term: [alternatives...]} — expand each "
                         "query clause into an OR-group with its "
                         "synonyms (Lucene expand=true model), scored "
                         "by the grouped-query semantics; single-query "
                         "modes only")
    ap.add_argument("--site", metavar="HOST", default=None,
                    help="site: scoping — only docs whose URL authority "
                         "equals HOST (e.g. src3.example.com) are "
                         "eligible; scores of survivors are unchanged. "
                         "Pre-filters candidate generation on every "
                         "path (local + distributed, batch included)")
    ap.add_argument("--terms-matching", metavar="PATTERN", default=None,
                    help="dictionary scan: print the vocabulary terms "
                         "matching the wildcard PATTERN ('*ark*', "
                         "'sp*k') with their dfs, df-descending, top "
                         "-k — the leading-wildcard shapes --complete "
                         "(prefix) cannot serve; local, no Spark job")
    ap.add_argument("--after-ts", metavar="TS", default=None,
                    help="crawl-freshness window: only docs whose "
                         "urlmap warc_ts >= TS (ISO-8601 date or "
                         "timestamp, inclusive) are eligible; scores "
                         "of survivors are unchanged. Combines with "
                         "--before-ts and --site (one urlmap scan "
                         "resolves all filter clauses)")
    ap.add_argument("--before-ts", metavar="TS", default=None,
                    help="crawl-freshness window: only docs whose "
                         "urlmap warc_ts <= TS (inclusive) are "
                         "eligible — Lucene [a TO b] range semantics "
                         "with --after-ts")
    ap.add_argument("--similarity", choices=["bm25", "lmd", "bm25f"],
                    default="bm25",
                    help="ranking function: bm25 (default, block-max "
                         "pruned); lmd — query likelihood with "
                         "Dirichlet smoothing, mu=2000 (block-max "
                         "pruned via bounds derived from the baked "
                         "BM25 impacts; exhaustive fallback under "
                         "live tombstones); bm25f — true BM25F "
                         "(Zaragoza TREC-13: per-field length-"
                         "normalized tfs combined into one pseudo-tf "
                         "before the k1 saturation) over body + "
                         "fields/* with --title-weight/--anchor-"
                         "weight (default title=2). lmd/bm25f are "
                         "single-query ranked modes over plain term "
                         "queries (local + --distributed twin) and "
                         "score the pure similarity (no static boost)")
    ap.add_argument("--no-static-boost", action="store_true",
                    help="ignore the index's static boost table "
                         "(<index>/boosts, written by index_admin.py "
                         "pagerank) for this query — score pure BM25")
    args = ap.parse_args()
    if args.k < 0:
        ap.error("-k must be >= 0")

    if not os.path.isdir(args.index_dir) or not os.path.isdir(
        os.path.join(args.index_dir, "postings")
    ):
        ap.error(f"--index-dir {args.index_dir!r} is not a built index "
                 "(no postings/ table) — build one with build_index.py")
    if args.terms_matching is not None:
        if args.qtext or args.batch or args.phrase or args.distributed:
            ap.error("--terms-matching is a standalone local "
                     "dictionary-scan mode (no query text)")
        from search_engine_spark.plans.scoring import wildcard_to_regex
        from search_engine_spark.plans.wand import LocalSearcher

        t0 = time.time()
        try:
            rx = wildcard_to_regex(args.terms_matching.strip().lower())
        except ValueError as e:
            ap.error(str(e))
        terms = LocalSearcher(args.index_dir).vocab_terms(
            regex=rx, limit=args.k, by_df=True
        )
        for rank, (term, df) in enumerate(terms, 1):
            print(f"{rank}\t{term}\t{df}")
        print(json.dumps({"n": len(terms), "n_queries": 1,
                          "wall_s": round(time.time() - t0, 4)}))
        return
    if bool(args.qtext) == bool(args.batch):
        ap.error("provide exactly one of: a query string, or --batch FILE")
    if (args.diversify is not None) != bool(args.embeddings):
        ap.error("--diversify and --embeddings go together")
    if args.diversify is not None and not 0.0 <= args.diversify <= 1.0:
        ap.error("--diversify LAMBDA must be in [0, 1]")
    if args.eval_qrels and not args.batch:
        ap.error("--eval scores a batch run — use it with --batch "
                 "(qrels query_ids must match the batch file's)")
    if args.eval_qrels and not os.path.exists(args.eval_qrels):
        ap.error(f"--eval {args.eval_qrels!r}: no such file")
    _fed_cache = []

    def _fed():
        """The federation for --also, built once: [serving index] +
        shards in fold order. Exposes the LocalSearcher query surface
        plus dictionary-level ops (prefix/vocab/suggest) and per-sub
        docstore/urlmap reads — all bit-identical to the merged
        index's (plans/federate)."""
        if not _fed_cache:
            from search_engine_spark.plans.federate import (
                FederatedSearcher,
            )

            _fed_cache.append(
                FederatedSearcher([args.index_dir] + args.also))
        return _fed_cache[0]

    def _fed_dirs():
        return [args.index_dir] + args.also

    if args.also:
        blocked = [
            (args.distributed, "--distributed"),
            (args.title_weight is not None, "--title-weight"),
            (args.anchor_weight is not None, "--anchor-weight"),
        ]
        bad = [name for hit, name in blocked if hit]
        if bad:
            ap.error(f"--also federated serving does not support "
                     f"{', '.join(bad)} yet — fold the shards first "
                     "(streaming/incremental.fold_shards) for the full "
                     "feature surface")
        for d in args.also:
            if not os.path.isdir(d):
                ap.error(f"--also {d}: not a directory")
    for _d in (_fed_dirs() if args.urls else []):
        if not os.path.isdir(os.path.join(_d, "urlmap")):
            ap.error(f"--urls needs the urlmap table in {_d} (built "
                     "from pages input)")
    for _d in (_fed_dirs() if args.snippets else []):
        if not os.path.isdir(os.path.join(_d, "docstore")):
            ap.error(f"--snippets needs the docstore table in {_d} — "
                     "rebuild with build_index.py --store-text")

    for _d in (_fed_dirs() if args.suggest else []):
        if not os.path.isdir(os.path.join(_d, "suggest")):
            ap.error(f"--suggest needs the suggestion table in {_d} — "
                     "derive it with `python index_admin.py "
                     "build-suggest --index-dir ...`")
    if args.phrase and not os.path.exists(
        os.path.join(args.index_dir, "positions_meta.json")
    ):
        ap.error("--phrase needs the positional table — rebuild with "
                 "build_index.py --positions")
    if args.phrase and args.batch:
        ap.error("--phrase answers a single phrase query")
    if args.offset < 0:
        ap.error("--offset must be >= 0")
    # crawl-timestamp window (filter clause, same restrict semantics
    # as --site): parse once, resolve once, every path rides it
    ts_after = ts_before = None
    if args.after_ts is not None or args.before_ts is not None:
        try:
            if args.after_ts is not None:
                ts_after = _parse_ts(args.after_ts, "--after-ts")
            if args.before_ts is not None:
                ts_before = _parse_ts(args.before_ts, "--before-ts")
        except ValueError as e:
            ap.error(str(e))
        if ts_after is not None and ts_before is not None \
                and ts_after > ts_before:
            ap.error("--after-ts is later than --before-ts — the "
                     "window is empty")
        for _d in _fed_dirs():
            if not os.path.isdir(os.path.join(_d, "urlmap")):
                ap.error("--after-ts/--before-ts need the urlmap "
                         f"table in {_d} (index built from pages "
                         "input)")
    has_filter = bool(args.site) or ts_after is not None \
        or ts_before is not None

    def _restrict_ids():
        """The filter-clause allow-list (site: + ts window), on GLOBAL
        ids when federating: each sub's urlmap resolves its own local
        ids, offset by the federation's id rule — identical to one
        scan of the merged urlmap."""
        if not has_filter:
            return None
        if not args.also:
            return _restrict_doc_ids(args.index_dir, args.site,
                                     ts_after, ts_before)
        fed = _fed()
        out = []
        for d, off in zip(_fed_dirs(), fed.offsets):
            out.extend(
                g + off for g in _restrict_doc_ids(d, args.site,
                                                   ts_after, ts_before)
            )
        return out
    if args.msm < 1:
        ap.error("--msm must be >= 1")
    if args.similarity in ("lmd", "bm25f"):
        if args.batch or args.phrase:
            ap.error(f"--similarity {args.similarity} is a "
                     "single-query ranked mode")
        if args.msm > 1 or args.synonyms:
            ap.error(f"--similarity {args.similarity} serves plain "
                     "term queries (no --msm/--synonyms)")
        if args.qtext and any(c in args.qtext for c in '|^"'):
            ap.error(f"--similarity {args.similarity} serves plain "
                     "term queries (grouped/boosted/phrase syntax is "
                     "BM25-only)")
    if args.similarity == "bm25f":
        if args.site or args.after_ts or args.before_ts:
            ap.error("--similarity bm25f does not take filter clauses "
                     "yet (--site/--after-ts/--before-ts)")
        if args.also:
            ap.error("--similarity bm25f serves one index (no --also)")
    if args.msm > 1:
        if args.mode != "or":
            ap.error("--msm applies to --mode or (AND already requires "
                     "every term)")
        if args.batch or args.phrase:
            ap.error("--msm is a single-query ranked mode")
        if args.qtext and ("|" in args.qtext or "^" in args.qtext):
            ap.error("--msm applies to plain term queries (grouped "
                     "syntax has its own per-group semantics)")
    # Lucene-style fuzzy clauses (term~N on BARE terms; quoted
    # clauses own ~N for slop): a pure text rewrite into OR-groups of
    # near-dictionary terms BEFORE any routing, so every path —
    # local, distributed, batch, the mixed phrase grammar — serves
    # them through the ordinary grouped machinery
    from search_engine_spark.plans.scoring import _FUZZY_RE, expand_fuzzy

    _sug_cache = []

    def _fuzzify(text: str) -> str:
        if not _FUZZY_RE.search(text):
            return text
        if not _sug_cache:
            from search_engine_spark.plans.suggest import Suggester

            for _d in _fed_dirs():
                if not os.path.isdir(os.path.join(_d, "suggest")):
                    ap.error("fuzzy clauses (term~N) need the "
                             f"suggestion table in {_d} — build it "
                             "with `python index_admin.py "
                             "build-suggest --index-dir ...`")
            # federated: candidates from the UNION dictionary with
            # global df, matching a suggest table rebuilt on the
            # merged index (plans/federate.suggest)
            _sug_cache.append(_fed() if args.also
                              else Suggester(args.index_dir))
        return expand_fuzzy(text, _sug_cache[0],
                            stem=not args.no_stem)

    # Lucene-style wildcard clauses (bare terms with a `*`): a pure
    # text rewrite into OR-groups of df-ranked dictionary matches
    # (scoring.expand_wildcard), applied in the same places the fuzzy
    # rewrite is so every path serves them through the grouped
    # machinery. Any `*` left outside quotes after the rewrite is an
    # unsupported shape (e.g. a star inside an OR-group literal) — a
    # usage error, never a silently-widened query (the analyzer would
    # otherwise drop the star).
    _wc_cache = []

    def _wildcardify(text: str) -> str:
        if "*" not in text:
            return text
        import re as _re

        from search_engine_spark.plans.scoring import expand_wildcard

        if not _wc_cache:
            from search_engine_spark.plans.wand import LocalSearcher

            # federated: the rewrite must rank candidates by GLOBAL
            # df over the union dictionary (plans/federate.vocab_terms)
            _wc_cache.append(_fed() if args.also
                             else LocalSearcher(args.index_dir))
        try:
            out = expand_wildcard(text, _wc_cache[0])
        except ValueError as e:
            ap.error(str(e))
        if "*" in _re.sub(r'"[^"]*"', "", out):
            ap.error("unsupported wildcard shape — wildcards apply to "
                     "bare clauses (ab*, *ab*, -ab*, ab*^2), not "
                     "inside OR-groups or quoted phrases")
        return out

    if args.qtext and not (args.phrase or args.suggest or args.complete):
        args.qtext = _wildcardify(_fuzzify(args.qtext))
    syn_map = None
    if args.synonyms:
        if args.batch or args.phrase or args.complete:
            ap.error("--synonyms is a single-query ranked mode")
        try:
            with open(args.synonyms) as f:
                syn_map = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            ap.error(f"--synonyms: {e}")
        if not isinstance(syn_map, dict) or not all(
            isinstance(v, list) for v in syn_map.values()
        ):
            ap.error("--synonyms must be a JSON object "
                     "{term: [alternatives...]}")

    if args.complete:
        if args.batch or args.phrase or args.distributed:
            ap.error("--complete is a local single-prefix mode")
        from search_engine_spark.plans.wand import LocalSearcher

        t0 = time.time()
        # prefix matches the STORED vocabulary (analyzer output:
        # casefolded, stemmed if the index was built stemmed);
        # federated: union dictionary, global df
        _cs = _fed() if args.also else LocalSearcher(args.index_dir)
        terms = _cs.prefix_terms(args.qtext.strip().lower())
        terms.sort(key=lambda t: (-t[1], t[0]))
        for rank, (term, df) in enumerate(terms[: args.k], 1):
            print(f"{rank}\t{term}\t{df}")
        print(json.dumps({"n": min(len(terms), args.k), "n_queries": 1,
                          "wall_s": round(time.time() - t0, 4)}))
        return

    if args.similarity == "bm25f":
        # true BM25F (shared-saturation pseudo-tf over body + fields):
        # weights from --title-weight/--anchor-weight, default the
        # canonical title=2 when no flag names a field
        weights = {}
        if args.title_weight is not None:
            weights["title"] = args.title_weight
        if args.anchor_weight is not None:
            weights["anchor"] = args.anchor_weight
        if not weights:
            weights = {"title": 2.0}
        for name in weights:
            if not os.path.isdir(
                os.path.join(args.index_dir, "fields", name)
            ):
                hint = ("build_index.py --title-index" if name == "title"
                        else "index_admin.py build-anchor")
                ap.error(f"--similarity bm25f needs the {name} field "
                         f"index — build it with {hint}")
        from search_engine_spark.plans.multifield import (
            search_bm25f,
            search_bm25f_distributed,
        )

        t0 = time.time()
        qpos, qneg = split_not_terms(args.qtext)
        if args.distributed:
            from search_engine_spark.session import get_spark

            spark = get_spark("query")
            res_df = search_bm25f_distributed(
                spark, args.index_dir, qpos, k=args.k,
                stem=not args.no_stem, mode=args.mode,
                field_weights=weights, exclude=qneg or None,
                offset=args.offset,
            )
            hits = [(r.doc_id, r.score) for r in res_df.collect()]
            spark.stop()
        else:
            hits = search_bm25f(
                args.index_dir, qpos, k=args.k + args.offset,
                stem=not args.no_stem, mode=args.mode,
                field_weights=weights, exclude=qneg or None,
            )[args.offset:]
        for rank, (doc_id, score) in enumerate(hits, 1 + args.offset):
            print(f"{rank}\t{doc_id}\t{score:.6f}")
        print(json.dumps({"n": len(hits), "n_queries": 1,
                          "wall_s": round(time.time() - t0, 4)}))
        return

    if args.title_weight is not None or args.anchor_weight is not None:
        if args.batch or args.phrase or args.distributed:
            ap.error("--title-weight/--anchor-weight is a local "
                     "single-query mode")
        weights = {}
        if args.title_weight is not None:
            weights["title"] = args.title_weight
        if args.anchor_weight is not None:
            weights["anchor"] = args.anchor_weight
        for name, flag in (("title", "--title-weight rebuild with "
                            "build_index.py --title-index"),
                           ("anchor", "--anchor-weight run "
                            "index_admin.py build-anchor")):
            if name in weights and not os.path.isdir(
                os.path.join(args.index_dir, "fields", name)
            ):
                ap.error(f"the {name} field index is missing — for "
                         f"{flag}")
        from search_engine_spark.plans.multifield import MultiFieldSearcher

        t0 = time.time()
        qpos, qneg = split_not_terms(args.qtext)
        hits = MultiFieldSearcher(
            args.index_dir, field_weights=weights
        ).search(qpos, k=args.k + args.offset, stem=not args.no_stem,
                 mode=args.mode, exclude=qneg or None)[args.offset:]
        for rank, (doc_id, score) in enumerate(hits, 1 + args.offset):
            print(f"{rank}\t{doc_id}\t{score:.6f}")
        print(json.dumps({"n": len(hits), "n_queries": 1,
                          "wall_s": round(time.time() - t0, 4)}))
        return

    if args.collapse_host is not None:
        if args.batch or args.phrase or args.distributed:
            ap.error("--collapse-host is a local single-query mode")
        if args.collapse_host < 1:
            ap.error("--collapse-host needs N >= 1")
        if any(not os.path.isdir(os.path.join(_d, "urlmap"))
               for _d in _fed_dirs()):
            ap.error("--collapse-host needs the urlmap table (index "
                     "built from pages input)")
        from urllib.parse import urlsplit

        from search_engine_spark.plans.scoring import collapse_ranked
        from search_engine_spark.plans.wand import LocalSearcher

        t0 = time.time()
        qpos, qneg = split_not_terms(args.qtext)
        stem_q = not args.no_stem
        if "^" in qpos:
            from search_engine_spark.plans.scoring import (
                parse_grouped_query,
            )

            try:
                parse_grouped_query(qpos, stem=stem_q)
            except ValueError as e:
                ap.error(str(e))
        s = _fed() if args.also else LocalSearcher(args.index_dir)
        need = args.k + args.offset
        fetch = max(4 * need * args.collapse_host, 50)
        c_site = _restrict_ids()
        while True:
            if "|" in qpos or "^" in qpos:
                hits = s.search_grouped(qpos, k=fetch, stem=stem_q,
                                        exclude=qneg or None,
                                        restrict=c_site)
            else:
                hits = s.search(qpos, k=fetch, stem=stem_q,
                                mode=args.mode, exclude=qneg or None,
                                restrict=c_site)
            ids = sorted({d for d, _ in hits})
            if not hits:
                urls = {}
            elif args.also:
                urls = s.url_lookup(ids)  # global ids, per-sub urlmaps
            else:
                urls = _url_lookup(args.index_dir, ids)
            hosts = {d: urlsplit(urls.get(d, "")).netloc.lower()
                     for d, _ in hits}
            kept = collapse_ranked(hits, hosts,
                                   per_key=args.collapse_host, k=need)
            if len(kept) >= need or len(hits) < fetch:
                break  # satisfied, or the ranking is exhausted
            fetch *= 4
        for rank, (doc_id, score, host) in enumerate(
            kept[args.offset:], 1 + args.offset
        ):
            tail = f"\t{urls.get(doc_id, '?')}" if args.urls else f"\t{host}"
            print(f"{rank}\t{doc_id}\t{score:.6f}{tail}")
        print(json.dumps({"n": len(kept) - args.offset, "n_queries": 1,
                          "wall_s": round(time.time() - t0, 4)}))
        return

    if args.explain_doc is not None:
        if args.batch or args.phrase or args.distributed:
            ap.error("--explain-doc is a local single-query mode")
        from search_engine_spark.plans.wand import LocalSearcher

        if '"' in args.qtext:
            # mixed phrase+boolean explain: per-clause breakdown
            # (quoted clauses + --also are rejected upstream)
            import os

            from search_engine_spark.plans.phraseq import explain_mixed
            from search_engine_spark.plans.positions import PhraseSearcher

            phraser = (
                PhraseSearcher(args.index_dir)
                if os.path.exists(os.path.join(args.index_dir,
                                               "positions_meta.json"))
                else None
            )
            out = explain_mixed(
                LocalSearcher(args.index_dir), phraser, args.qtext,
                args.explain_doc, stem=not args.no_stem,
            )
            print(json.dumps(out, indent=2))
            return
        qpos, _ = split_not_terms(args.qtext)
        _es = _fed() if args.also else LocalSearcher(args.index_dir)
        out = _es.explain_score(
            qpos, args.explain_doc, stem=not args.no_stem
        )
        print(json.dumps(out, indent=2))
        return

    stem = not args.no_stem

    def _validate_boosts(*texts: str) -> None:
        # every '^'-containing query routes into the grouped/boost
        # parser below; malformed boosts (pasted text like 'a^b') are
        # a USAGE error, not a traceback mid-plan
        from search_engine_spark.plans.scoring import parse_grouped_query

        for t in texts:
            if "^" in t:
                try:
                    parse_grouped_query(t, stem=stem)
                except ValueError as e:
                    ap.error(str(e))

    if not args.batch and not args.phrase:
        _validate_boosts(args.qtext)
    # pagination: fetch offset+k then drop the first offset rows
    # (exact — same full ranking, deterministic tie-break). The
    # distributed single-query path pushes the offset into the plan.
    kk = args.k + args.offset
    # filter clauses (site: + ts window) resolved ONCE per invocation
    # (local list for the serving paths; the distributed paths build
    # the urlmap-filter DataFrame lazily inside their session)
    site_ids = _restrict_ids()
    # field-scoped clauses (Lucene `title:spark join`): routed to the
    # fielded conjunction engine (plans/multifield.search_fielded).
    # Only KNOWN field prefixes route — unknown prefixes stay plain
    # text, so existing queries keep their semantics.
    _kf_cache = []

    def _has_fielded(text: str) -> bool:
        if ":" not in text or '"' in text:
            return False
        from search_engine_spark.plans.multifield import (
            has_fielded_clause, known_fields,
        )

        if not _kf_cache:
            _kf_cache.append(known_fields(args.index_dir))
        return has_fielded_clause(text, _kf_cache[0])

    fielded = (bool(args.qtext) and not args.phrase
               and _has_fielded(args.qtext))
    if fielded:
        if args.mode != "and" or args.msm > 1 or args.synonyms:
            ap.error("field-scoped clauses use conjunctive clause "
                     "semantics — --mode or / --msm / --synonyms do "
                     "not apply")
        if args.similarity != "bm25":
            ap.error("field-scoped clauses are BM25-only")
    if args.qtext and '"' in args.qtext and ":" in args.qtext:
        # a known-field clause in the UNQUOTED remainder of a phrase
        # query would silently re-tokenize as plain terms — error out
        import re as _re

        from search_engine_spark.plans.multifield import (
            has_fielded_clause, known_fields,
        )

        unq = _re.sub(r'"[^"]*"', " ", args.qtext)
        if has_fielded_clause(unq, known_fields(args.index_dir)):
            ap.error("field-scoped clauses do not mix with quoted "
                     "phrase clauses (orthogonal grammars)")
    t0 = time.time()
    # per-query ranked results: {qid: [(doc_id, score), ...]}
    results: dict[str, list[tuple[int, float]]] = {}
    if args.phrase:
        if args.distributed:
            from search_engine_spark.plans.positions import (
                phrase_search_distributed,
            )
            from search_engine_spark.session import get_spark

            spark = get_spark("phrase-query")
            results[""] = [
                (r.doc_id, float(r.phrase_tf))
                for r in phrase_search_distributed(
                    spark, args.index_dir, args.qtext, k=kk,
                    restrict=(
                        _restrict_docs_df(spark, args.index_dir,
                                          args.site, ts_after, ts_before)
                        if has_filter else None
                    ),
                ).collect()
            ][args.offset:]
            spark.stop()
        elif args.also:
            try:
                results[""] = [
                    (d, float(tf))
                    for d, tf in _fed().search_phrase(
                        args.qtext, k=kk, restrict=site_ids
                    )
                ][args.offset:]
            except ValueError as e:
                ap.error(str(e))
        else:
            from search_engine_spark.plans.positions import PhraseSearcher

            results[""] = [
                (d, float(tf))
                for d, tf in PhraseSearcher(args.index_dir).search_phrase(
                    args.qtext, k=kk, restrict=site_ids
                )
            ][args.offset:]
    elif args.batch:
        raw = {qid: _wildcardify(_fuzzify(t))
               for qid, t in _read_batch(args.batch).items()}
        if args.distributed and any('"' in t for t in raw.values()):
            ap.error("quoted phrase clauses inside a batch are served "
                     "locally — drop --distributed (single quoted "
                     "queries do have a --distributed twin)")
        if args.distributed and any(_has_fielded(t) for t in raw.values()):
            ap.error("field-scoped clauses inside a batch are served "
                     "locally — drop --distributed (single fielded "
                     "queries do have a --distributed twin)")
        _validate_boosts(*(t for t in raw.values() if '"' not in t))
        split = {qid: split_not_terms(text) for qid, text in raw.items()}
        queries = {qid: pos for qid, (pos, _) in split.items()}
        not_terms = {qid: neg for qid, (_, neg) in split.items() if neg}
        if args.distributed:
            from search_engine_spark.plans.index_query import IndexReader
            from search_engine_spark.session import get_spark

            spark = get_spark("query-batch")
            rows = (
                IndexReader(spark, args.index_dir)
                .search_batch(queries, k=kk, stem=stem, mode=args.mode,
                              excludes=not_terms or None,
                              restrict=(
                                  _restrict_docs_df(
                                      spark, args.index_dir, args.site,
                                      ts_after, ts_before)
                                  if has_filter else None
                              ))
                .collect()
            )
            spark.stop()
            for qid in queries:
                results[qid] = []
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                results[r.query_id].append((r.doc_id, r.score))
            for qid in results:
                results[qid] = results[qid][args.offset:]
        else:
            from search_engine_spark.plans.wand import LocalSearcher

            s = _fed() if args.also else LocalSearcher(args.index_dir)
            phraser = None
            for qid, text in queries.items():
                if '"' in raw[qid]:
                    # quoted phrase clauses: route the RAW line (the
                    # NOT split must not break -"...") through the
                    # mixed phrase+boolean path
                    import os

                    from search_engine_spark.plans.phraseq import (
                        search_mixed,
                    )

                    try:
                        if args.also:
                            results[qid] = s.search_mixed(
                                raw[qid], k=kk, stem=stem,
                                restrict=site_ids,
                            )[args.offset:]
                        else:
                            if phraser is None and os.path.exists(
                                os.path.join(args.index_dir,
                                             "positions_meta.json")
                            ):
                                from search_engine_spark.plans.positions import (  # noqa: E501
                                    PhraseSearcher,
                                )

                                phraser = PhraseSearcher(args.index_dir)
                            results[qid] = search_mixed(
                                s, phraser, raw[qid], k=kk, stem=stem,
                                restrict=site_ids,
                            )[args.offset:]
                    except ValueError as e:
                        ap.error(str(e))
                elif _has_fielded(raw[qid]):
                    # fielded clauses own the RAW line (NOT split
                    # must not break -title:term)
                    from search_engine_spark.plans.multifield import (
                        search_fielded,
                    )

                    try:
                        if args.also:
                            results[qid] = s.search_fielded(
                                raw[qid], k=kk, stem=stem,
                                restrict=site_ids,
                                static_boosts=not args.no_static_boost,
                            )[args.offset:]
                        else:
                            results[qid] = search_fielded(
                                args.index_dir, raw[qid], k=kk,
                                stem=stem, restrict=site_ids,
                                static_boosts=not args.no_static_boost,
                            )[args.offset:]
                    except ValueError as e:
                        ap.error(str(e))
                elif "|" in text or "^" in text:
                    results[qid] = s.search_grouped(
                        text, k=kk, stem=stem,
                        exclude=not_terms.get(qid) or None,
                        restrict=site_ids,
                    )[args.offset:]
                else:
                    results[qid] = s.search(
                        text, k=kk, stem=stem, mode=args.mode,
                        exclude=not_terms.get(qid) or None,
                        restrict=site_ids,
                    )[args.offset:]
    elif args.distributed:
        from search_engine_spark.plans.index_query import IndexReader
        from search_engine_spark.session import get_spark

        if args.similarity == "lmd":
            qpos, qneg = split_not_terms(args.qtext)
            spark = get_spark("query")
            site_df = (
                _restrict_docs_df(spark, args.index_dir, args.site,
                                  ts_after, ts_before)
                if has_filter else None
            )
            res_df = IndexReader(spark, args.index_dir).search_lmd(
                qpos, k=args.k, stem=stem, mode=args.mode,
                exclude=qneg or None, offset=args.offset,
                restrict=site_df,
            )
            results[""] = [(r.doc_id, r.score) for r in res_df.collect()]
            spark.stop()
        elif fielded:
            from search_engine_spark.plans.multifield import (
                search_fielded_distributed,
            )

            spark = get_spark("query")
            site_df = (
                _restrict_docs_df(spark, args.index_dir, args.site,
                                  ts_after, ts_before)
                if has_filter else None
            )
            try:
                res_df = search_fielded_distributed(
                    spark, args.index_dir, args.qtext, k=args.k,
                    stem=stem, offset=args.offset, restrict=site_df,
                    static_boosts=not args.no_static_boost,
                )
            except ValueError as e:
                ap.error(str(e))
            results[""] = [(r.doc_id, r.score) for r in res_df.collect()]
            spark.stop()
        elif '"' in args.qtext:
            # mixed phrase+boolean cluster twin (plans/phraseq) — one
            # declarative Spark plan, result-identical to local
            from search_engine_spark.plans.phraseq import (
                search_mixed_distributed,
            )

            if args.mode != "and" or args.msm > 1:
                ap.error("quoted phrase clauses use conjunctive clause "
                         "semantics — --mode or / --msm do not apply")
            spark = get_spark("query")
            site_df = (
                _restrict_docs_df(spark, args.index_dir, args.site,
                                  ts_after, ts_before)
                if has_filter else None
            )
            try:
                res_df = search_mixed_distributed(
                    spark, args.index_dir, args.qtext, k=args.k,
                    stem=stem, offset=args.offset, synonyms=syn_map,
                    restrict=site_df,
                    static_boosts=not args.no_static_boost,
                )
            except ValueError as e:
                ap.error(str(e))
            results[""] = [(r.doc_id, r.score) for r in res_df.collect()]
            spark.stop()
        else:
            qpos, qneg = split_not_terms(args.qtext)
            spark = get_spark("query")
            reader = IndexReader(spark, args.index_dir)
            site_df = (
                _restrict_docs_df(spark, args.index_dir, args.site,
                                  ts_after, ts_before)
                if has_filter else None
            )
            if args.no_static_boost:
                reader.clear_static_boosts()
            if syn_map is not None:
                from search_engine_spark.plans.scoring import (
                    expand_synonyms, parse_grouped_query,
                )

                groups, _, pboosts = parse_grouped_query(qpos, stem=stem)
                groups = expand_synonyms(groups, syn_map, stem=stem)
                res_df = reader.search_grouped(groups, k=args.k,
                                               stem=stem,
                                               exclude=qneg or None,
                                               boosts=pboosts or None,
                                               offset=args.offset,
                                               restrict=site_df)
            elif "|" in qpos or "^" in qpos:
                res_df = reader.search_grouped(qpos, k=args.k, stem=stem,
                                               exclude=qneg or None,
                                               offset=args.offset,
                                               restrict=site_df)
            else:
                res_df = reader.search(qpos, k=args.k, stem=stem,
                                       mode=args.mode,
                                       exclude=qneg or None,
                                       offset=args.offset, msm=args.msm,
                                       restrict=site_df)
            results[""] = [(r.doc_id, r.score) for r in res_df.collect()]
            spark.stop()
    else:
        from search_engine_spark.plans.wand import LocalSearcher

        qpos, qneg = split_not_terms(args.qtext)
        s = _fed() if args.also else LocalSearcher(args.index_dir)
        if args.no_static_boost:
            s.clear_static_boosts()
        if args.similarity == "lmd":
            results[""] = s.search_lmd(
                qpos, k=kk, stem=stem, mode=args.mode,
                exclude=qneg or None, restrict=site_ids,
            )[args.offset:]
        elif fielded:
            from search_engine_spark.plans.multifield import (
                search_fielded,
            )

            try:
                if args.also:
                    results[""] = s.search_fielded(
                        args.qtext, k=kk, stem=stem, restrict=site_ids,
                        static_boosts=not args.no_static_boost,
                    )[args.offset:]
                else:
                    results[""] = search_fielded(
                        args.index_dir, args.qtext, k=kk, stem=stem,
                        restrict=site_ids,
                        static_boosts=not args.no_static_boost,
                    )[args.offset:]
            except ValueError as e:
                ap.error(str(e))
        elif '"' in args.qtext:
            # mixed phrase+boolean query (plans/phraseq): quoted
            # segments are exact-phrase clauses scored Lucene-style
            import os

            from search_engine_spark.plans.phraseq import search_mixed
            from search_engine_spark.plans.positions import PhraseSearcher

            if args.mode != "and" or args.msm > 1:
                ap.error("quoted phrase clauses use conjunctive clause "
                         "semantics — --mode or / --msm do not apply")
            try:
                if args.also:
                    results[""] = s.search_mixed(
                        args.qtext, k=kk, stem=stem,
                        synonyms=syn_map, restrict=site_ids,
                    )[args.offset:]
                else:
                    phraser = (
                        PhraseSearcher(args.index_dir)
                        if os.path.exists(os.path.join(
                            args.index_dir, "positions_meta.json"))
                        else None
                    )
                    results[""] = search_mixed(
                        s, phraser, args.qtext, k=kk, stem=stem,
                        synonyms=syn_map, restrict=site_ids,
                    )[args.offset:]
            except ValueError as e:
                ap.error(str(e))
        elif syn_map is not None:
            from search_engine_spark.plans.scoring import (
                expand_synonyms, parse_grouped_query,
            )

            groups, _, pboosts = parse_grouped_query(qpos, stem=stem)
            groups = expand_synonyms(groups, syn_map, stem=stem)
            results[""] = s.search_grouped(
                groups, k=kk, stem=stem, exclude=qneg or None,
                boosts=pboosts or None, restrict=site_ids,
            )[args.offset:]
        elif "|" in qpos or "^" in qpos:
            results[""] = s.search_grouped(
                qpos, k=kk, stem=stem, exclude=qneg or None,
                restrict=site_ids,
            )[args.offset:]
        else:
            results[""] = s.search(
                qpos, k=kk, stem=stem, mode=args.mode,
                exclude=qneg or None, msm=args.msm, restrict=site_ids,
            )[args.offset:]
    wall = time.time() - t0

    if args.diversify is not None:
        # MMR re-rank of each query's retrieved list (Carbonell &
        # Goldstein 1998) — retrieve with a larger -k to give the
        # diversifier room. Embeddings load once, pruned to the
        # candidate ids; docs without an embedding keep relevance
        # order AFTER the diversified picks (never silently dropped).
        import pyarrow.dataset as _ds

        from search_engine_spark.operators.similarity import _mmr_greedy

        cand_ids = sorted({int(d) for hits in results.values()
                           for d, _ in hits})
        dset = _ds.dataset(args.embeddings, format="parquet")
        id_field = ("doc_id" if "doc_id" in dset.schema.names
                    else "vec_id")
        tbl = dset.to_table(
            columns=[id_field, "embedding"],
            filter=_ds.field(id_field).isin(cand_ids),
        )
        emb = dict(zip(tbl.column(id_field).to_pylist(),
                       (list(v) for v in tbl.column("embedding")
                        .to_pylist())))
        for qid, hits in results.items():
            with_vec = [(d, s) for d, s in hits if int(d) in emb]
            without = [(d, s) for d, s in hits if int(d) not in emb]
            if not with_vec:
                continue
            picks = _mmr_greedy(
                [emb[int(d)] for d, _ in with_vec],
                [s for _, s in with_vec],
                lam=args.diversify, k=len(with_vec),
            )
            results[qid] = (
                [(with_vec[i][0], with_vec[i][1]) for i, _ in picks]
                + without
            )

    urls: dict[int, str] = {}
    if args.urls:
        ids = sorted({int(d) for hits in results.values() for d, _ in hits})
        if ids:
            # federated ids are global — resolve across every sub's
            # urlmap (s is a FederatedSearcher on this path)
            urls = (s.url_lookup(ids) if args.also
                    else _url_lookup(args.index_dir, ids))
    texts: dict[int, str] = {}
    snip_terms: dict[str, list[str]] = {}
    if args.snippets:
        from search_engine_spark.plans.docstore import DocStore
        from search_engine_spark.plans.scoring import analyze_query

        ids = {int(d) for hits in results.values() for d, _ in hits}
        if ids:
            # federated ids are global — per-sub docstore reads
            texts = (_fed().get_texts(ids) if args.also
                     else DocStore(args.index_dir).get_texts(ids))
        snip_stem = stem
        if args.phrase:
            # match the positional analyzer (phrase path ignores --no-stem)
            with open(
                os.path.join(args.index_dir, "positions_meta.json")
            ) as f:
                snip_stem = bool(json.load(f)["stem"])
        if args.batch:
            qmap = queries
        elif args.phrase:
            qmap = {"": args.qtext}
        else:
            qmap = {"": split_not_terms(args.qtext)[0]}
        snip_terms = {
            qid: analyze_query(q, stem=snip_stem) for qid, q in qmap.items()
        }
    n = 0
    for qid in results:
        for rank, (doc_id, score) in enumerate(results[qid],
                                               1 + args.offset):
            n += 1
            lead = f"{qid}\t" if qid else ""
            tail = f"\t{urls.get(doc_id, '?')}" if args.urls else ""
            if args.snippets:
                from search_engine_spark.plans.docstore import snippet

                tail += "\t" + snippet(
                    texts.get(doc_id), snip_terms.get(qid, []),
                    stem=snip_stem,
                )
            print(f"{lead}{rank}\t{doc_id}\t{score:.6f}{tail}")
    if args.suggest:
        from search_engine_spark.plans.scoring import analyze_query
        from search_engine_spark.plans.suggest import Suggester

        # federated: union-dictionary candidates, global df ranking
        sug = _fed() if args.also else Suggester(args.index_dir)
        qmap = queries if args.batch else {"": split_not_terms(args.qtext)[0]}
        for qid, q in qmap.items():
            for term in dict.fromkeys(analyze_query(q, stem=stem)):
                alts = sug.suggest(term, k=3)
                if alts and alts[0][0] == term:
                    continue  # exact dictionary term — nothing to correct
                lead = f"{qid}\t" if qid else ""
                alt = " ".join(t for t, _ in alts) or "(no suggestion)"
                print(f"{lead}# did you mean: {term} -> {alt}")
        # zero hits + corrections available -> retry once with each
        # out-of-dictionary term replaced by its top suggestion. The
        # corrected terms ARE dictionary terms, so they go straight
        # into search() as a term list (no re-analysis — re-stemming a
        # stemmed term is not guaranteed idempotent).
        if (not args.batch and not args.phrase and not args.distributed
                and "|" not in qmap[""] and "^" not in qmap[""]
                and not results.get("")):
            corrected, changed = [], False
            for t in dict.fromkeys(analyze_query(qmap[""], stem=stem)):
                alts = sug.suggest(t, k=1)
                if alts and alts[0][0] != t:
                    corrected.append(alts[0][0])
                    changed = True
                else:
                    corrected.append(t)
            if changed and corrected:
                from search_engine_spark.plans.wand import LocalSearcher

                qneg = split_not_terms(args.qtext)[1]
                _rs = (_fed() if args.also
                       else LocalSearcher(args.index_dir))
                hits = _rs.search(
                    corrected, k=args.k, stem=stem, mode=args.mode,
                    exclude=qneg or None, restrict=site_ids,
                )
                print(f"# retried with corrections: {' '.join(corrected)}")
                for rank, (doc_id, score) in enumerate(hits, 1):
                    print(f"{rank}\t{doc_id}\t{score:.6f}")
    if args.out:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [
            (qid or "", rank, int(doc_id), float(score))
            for qid in results
            for rank, (doc_id, score) in enumerate(results[qid],
                                                   1 + args.offset)
        ]
        cols = {
            "query_id": pa.array([r[0] for r in rows], type=pa.string()),
            "rank": pa.array([r[1] for r in rows], type=pa.int64()),
            "doc_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "score": pa.array([r[3] for r in rows], type=pa.float64()),
        }
        if args.urls:
            cols["url"] = pa.array(
                [urls.get(r[2]) for r in rows], type=pa.string()
            )
        pq.write_table(pa.table(cols), args.out)
    summary = {"n": n, "n_queries": len(results),
               "wall_s": round(wall, 4)}
    if args.eval_qrels:
        import pyarrow.parquet as _pq

        from search_engine_spark.operators.ireval import eval_run_local

        qt = _pq.read_table(
            args.eval_qrels, columns=["query_id", "doc_id", "rel"]
        )
        qrels = list(zip(
            (str(v) for v in qt.column("query_id").to_pylist()),
            (int(v) for v in qt.column("doc_id").to_pylist()),
            (int(v) for v in qt.column("rel").to_pylist()),
        ))
        per_query, macro = eval_run_local(results, qrels, k=args.k)
        for qid, m in per_query.items():
            print(f"# eval\t{qid}\tndcg={m['ndcg']}\tmrr={m['mrr']}"
                  f"\trecall={m['recall']}\tap={m['ap']}")
        summary["eval_macro"] = macro
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
