"""Local low-latency query path: ranked top-k over the compressed
index in-process (SURVEY.md section 3.2, M4).

This path crosses NO process boundary — a thin pyarrow reader opens
only the postings row groups of the query's (bucket, term) keys, once
per query for all its first-contact terms (prefetch), keeps each
term's rows with an Arrow filter, holds its segments as numpy columns
(_Segs), takes df/cf from their n/tf_sum sums and evaluates entirely
in numpy; no pandas object is built per term and no dictionary row
group is read. That is what makes millisecond p50 feasible; a Spark
job pays a ~100ms+ scheduling floor (the distributed IndexReader path
remains the correctness/batch path and must return identical results
— property-tested).

Every query shape is one _Spec run by one of two executors:

* the spec: the fixed term order (the per-doc float addition order),
  how many leading terms drive candidate generation, the match
  predicate (every group hit — AND is one group per term, OR one group
  of all terms — plus msm), per-term weights, and the contribution
  source (BM25 idf*tfnorm, or LM-Dirichlet with mu and p_t). AND puts
  the rarest term first, then query order; OR sorts by (df, term);
  grouped puts the lightest group by (df, term), then the rest by
  (df, term); LMD keeps query order.
* _blockmax: the driving terms' segments are visited in descending
  upper-bound order — own bound, plus every other term's best
  overlapping-segment bound (_overlap_bound), plus the max static
  boost. A top-k heap holds theta; once a bound is strictly below
  theta every remaining segment is skipped without decoding. A doc is
  generated only by its first containing driving term; the other
  terms are probed at the segment's candidates. Non-driving terms
  decode only the segments overlapping the driving terms' doc span.
* _scatter: a candidate array — the union of the driving lists, or a
  caller's fixed array — is probed against every term's full cached
  list.

Routing: BM25 takes the scatter when prune=False, or when fast and
every term is warm in the decoded cache; every other BM25 query takes
block-max. LMD takes the scatter for multi-term or warm queries and
block-max for a single cold term.

Exactness: a pruned segment's bound cannot beat the k-th score, and
strict '<' keeps equal-score smaller-doc_id tie winners. Exclusion,
restrict, msm and the after cursor only remove candidates, so every
bound stays valid. Both executors add contributions in spec order from
the same arrays; a term a doc lacks adds 0.0 and a unit weight
multiplies by 1.0, and x + 0.0 == x and x * 1.0 == x, so block-max,
scatter and warm results are bit-identical (property-tested in
tests/test_wand.py, test_grouped.py, test_boosts.py, test_lmd.py).
"""

from __future__ import annotations

import heapq
import math
import os
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from search_engine_spark import B, K1
from search_engine_spark.functions.codec import decode_postings, decode_varints
from search_engine_spark.functions.hashing import term_bucket
from search_engine_spark.plans.deletes import load_tombstones, mask_deleted
from search_engine_spark.plans.footer import admitted, footer_index
from search_engine_spark.plans.publish import open_pinned
from search_engine_spark.plans.scoring import analyze_query


class _LmdNoBounds(Exception):
    """Pruned LMD preconditions unmet (missing docs footer stats) —
    route the exhaustive fallback."""


class _Spec(NamedTuple):
    """One query shape for the executors (see module docstring)."""

    terms: list[str]       # fixed per-doc addition order
    n_drive: int           # terms[:n_drive] generate candidates
    groups: list[tuple]    # term-index groups; a match hits every one
    msm: int               # ... and at least msm terms overall
    w: list[float]         # per-term weights
    par: list[float]       # per-term idf (BM25) or p_t (LMD)
    mu: float | None = None  # LMD smoothing; None means BM25


def _overlap_bound(of: np.ndarray, ol: np.ndarray, ob: np.ndarray,
                   s_first: np.ndarray, s_last: np.ndarray) -> np.ndarray:
    """Per driving segment [s_first, s_last]: an upper bound on the best
    max_tfnorm among the OTHER term's overlapping segments (ranges
    [of, ol], bounds ob).

    Overlapping t satisfies of_t <= s_last AND ol_t >= s_first; every
    such t is inside BOTH the prefix {of <= s_last} (by first_doc
    order) and the suffix {ol >= s_first} (by last_doc order), so
    min(prefix-max, suffix-max) >= true overlap max — a valid WAND
    bound, computed with two searchsorteds per driving segment
    (O((S_i + S_j) log) total) instead of the dense S_i x S_j overlap
    matrix, which is quadratic in segments-per-term (df/segment_size —
    thousands for a high-df web term)."""
    if of.size == 0:
        return np.zeros(s_first.size, dtype=np.float64)
    o_f = np.argsort(of, kind="stable")
    f_sorted = of[o_f]
    pmax = np.maximum.accumulate(ob[o_f])
    o_l = np.argsort(ol, kind="stable")
    l_sorted = ol[o_l]
    smax = np.maximum.accumulate(ob[o_l][::-1])[::-1]
    hi = np.searchsorted(f_sorted, s_last, side="right")
    lo = np.searchsorted(l_sorted, s_first, side="left")
    a = np.where(hi > 0, pmax[np.maximum(hi - 1, 0)], 0.0)
    b = np.where(lo < l_sorted.size, smax[np.minimum(lo, l_sorted.size - 1)], 0.0)
    return np.minimum(a, b)


class _Segs:
    """One term's segments as columns, in (file, row group) order:
    numpy metadata — max_tfnorm as float64 with the index's tfnorm
    scale applied — and per-segment blobs as object arrays. Callers
    select segments by index arrays (LocalSearcher._decode rows).
    tf_sum (per-segment Σ tf) is None when any of the term's files
    lacks the column or holds a null there (pre-tf_sum segments)."""

    __slots__ = ("first_doc", "last_doc", "salt", "seg", "n",
                 "max_tfnorm", "doc_ids", "tfs", "doclens", "tf_sum")

    def __init__(self, tbl: pa.Table, tfnorm_scale: float):
        for f in ("first_doc", "last_doc", "salt", "seg", "n"):
            setattr(self, f, tbl[f].to_numpy())
        for f in ("doc_ids", "tfs", "doclens"):
            setattr(self, f, tbl[f].to_numpy(zero_copy_only=False))
        m = tbl["max_tfnorm"].to_numpy()
        if tfnorm_scale != 1.0:
            m = m * tfnorm_scale
        self.max_tfnorm = m.astype(np.float64)
        ts = tbl["tf_sum"] if "tf_sum" in tbl.column_names else None
        self.tf_sum = None if ts is None or ts.null_count else ts.to_numpy()

    def __len__(self) -> int:
        return self.first_doc.size


class _LazyDF:
    """Mapping view term -> df over the lazy dictionary: `term in m` /
    `m[term]` without materializing the vocabulary."""

    def __init__(self, searcher: "LocalSearcher"):
        self._s = searcher

    def __contains__(self, term: str) -> bool:
        return self._s._dict_lookup(term) is not None

    def __getitem__(self, term: str) -> int:
        row = self._s._dict_lookup(term)
        if row is None:
            raise KeyError(term)
        return row[0]


class LocalSearcher:
    """In-process searcher over a built index directory.

    Open cost is O(parquet footers): stats + collection constants plus
    a per-row-group (min, max) index over dictionary AND postings
    files. The vocabulary itself is NEVER materialized. A query reads
    only postings: a term is hashed to its bucket locally
    (functions.hashing, JVM-bit-equal), and the row groups whose term
    range admits it are read — each admitted row group once per query
    for all its first-contact terms (prefetch) — filtered to each
    term's rows in Arrow, and held as columns (_Segs), LRU-cached per
    term. df and cf are the sums of the segments' n and tf_sum (the
    build derives the dictionary's df/cf the same way; fsck I1),
    LRU-cached per term with misses; a term a query only df-checks
    reads just those two columns. Served queries never read the
    dictionary; prefix_terms, vocab_terms and the pre-meta eager path
    do. Memory is therefore bounded by the caches, not the vocabulary
    size (a 10^8-term dictionary would otherwise be tens of GB of
    Python dicts on a serving node).
    """

    _COLUMNS = ["term", "seg", "salt", "n", "doc_ids", "tfs", "doclens",
                "max_tfnorm", "first_doc", "last_doc"]
    _DICT_CACHE = 65536

    def __init__(self, index_dir: str, *, cache_terms: int = 256,
                 load_boosts: bool = True):
        # one generation, retry-once (plans/publish.open_pinned):
        # exercised by tests/test_deletes.py::
        # test_concurrent_reader_survives_compaction and the
        # concurrent-reader generation test
        open_pinned(index_dir, lambda root: self._open(
            root, cache_terms=cache_terms, load_boosts=load_boosts))

    def _open(self, index_dir: str, *, cache_terms: int,
              load_boosts: bool) -> None:
        self.root = index_dir
        st = pq.read_table(os.path.join(index_dir, "stats")).to_pandas()
        self.n_docs = int(st.n_docs.iloc[0])
        self.avgdl = float(st.avgdl.iloc[0])
        # exact total token count (collection LM denominator for the
        # Dirichlet similarity); pre-sum_doclen indexes reconstruct it
        # from the floating avgdl — identical up to rounding
        self.sum_doclen = (
            int(st.sum_doclen.iloc[0]) if "sum_doclen" in st.columns
            else int(round(self.n_docs * self.avgdl))
        )
        self._docstore = None  # lazy; only more_like_this needs it
        # collection constants from the meta JSON (written by stage A).
        # The lazy dictionary NEEDS the exact build-time n_buckets —
        # inferring it from the populated bucket dirs undercounts when
        # the highest buckets happen to hold no terms, which would
        # silently mis-route every lookup. A pre-meta index therefore
        # falls back to the round-1 EAGER dictionary (full in-memory
        # maps: correct, just vocabulary-sized).
        meta_path = os.path.join(index_dir, "index_meta.json")
        self._eager = not os.path.exists(meta_path)
        # tfnorm bound scale: 1.0 for a fresh build. A segment-append
        # merge (plans/merge.py merge_into) moves avgdl without
        # re-baking per-segment max_tfnorm, so it records the factor
        # that keeps every stored bound a VALID upper bound under the
        # merged avgdl (tfnorm is monotone in avgdl with ratio
        # < avgdl_new/avgdl_built). Applied once at segment load —
        # pruning stays exact, just marginally looser until the next
        # compaction/rebuild resets it.
        self._tfnorm_scale = 1.0
        if not self._eager:
            import json

            with open(meta_path) as f:
                _meta = json.load(f)
            self.n_buckets = int(_meta["n_buckets"])
            self._tfnorm_scale = float(_meta.get("tfnorm_scale", 1.0))
        # footer row-group indexes (plans/footer) over the dictionary
        # (prefix/vocab scans) and the postings (every served query)
        self._dict_rg: dict = {}
        self._dict_files: dict[str, pq.ParquetFile] = {}
        self._eager_df: dict[str, int] = {}
        self._eager_bucket: dict[str, int] = {}
        if self._eager:  # pre-meta index: round-1 eager dictionary
            d = pq.read_table(
                os.path.join(index_dir, "dictionary"),
                columns=["term", "df", "bucket"],
            ).to_pandas()
            self._eager_df = dict(zip(d.term, d.df.astype(int)))
            self._eager_bucket = dict(zip(d.term, d.bucket.astype(int)))
            self.n_buckets = 1 + max(self._eager_bucket.values(), default=0)
        else:
            self._dict_files, self._dict_rg = footer_index(
                os.path.join(index_dir, "dictionary"), "term")
        self._dict_cache: dict[str, tuple[int, int, int | None] | None] = {}
        self._df = _LazyDF(self)
        self._files, self._rg = footer_index(
            os.path.join(index_dir, "postings"), "term")
        schemas = [pf.schema_arrow for pf in self._files.values()]
        self._cols = {path: self._COLUMNS + (["tf_sum"] if "tf_sum" in
                                             sch.names else [])
                      for path, sch in zip(self._files, schemas)}
        self._empty = (schemas[0] if schemas else pa.schema([])).empty_table()
        self._term_cache: dict[str, _Segs] = {}
        # per-term query counts: a term is promoted to the full-list
        # cache (enabling the vectorized warm path) on its SECOND
        # encounter — first-contact queries keep block-max pruning's
        # decode avoidance, repeated ones amortize one full decode
        self._term_hits: dict[str, int] = {}
        # decoded (docs, tfs, doclens) per term — serving-path hot-set
        # cache so repeated queries skip varint decode entirely
        self._decoded_cache: dict[str, tuple] = {}
        # per-(salt, seg) decodes of driving-term segments (kept
        # segment-granular so block-max pruning still avoids decoding
        # cold segments on first contact)
        self._seg_decoded: dict[str, dict] = {}
        self._cache_terms = cache_terms
        # tombstoned doc_ids (plans/deletes): masked out of every
        # decode, so all downstream paths — block-max, warm vectorized,
        # OR — see only live docs. Segment max_tfnorm bounds stay valid
        # upper bounds (a max over a superset). df/n_docs/avgdl keep
        # build-time values until compaction (Lucene-style contract).
        self._deleted = load_tombstones(index_dir)
        # static per-doc additive boost (PageRank / quality prior):
        # (sorted doc_ids, values, max) or None. Applied AFTER all term
        # contributions on every path; block-max bounds gain +max so
        # pruning stays exact (see load_static_boosts).
        self._boost: tuple[np.ndarray, np.ndarray, float] | None = None
        # collection-wide df override for federated serving (see _idf);
        # must be installed BEFORE the first search — decoded-
        # contribution caches bake idf in at decode time
        self._idf_df = None
        # collection-wide cf override for federated LM-Dirichlet
        # (plans/federate): dict-like term -> global masked cf; None
        # means search_lmd sums this index's own decoded postings
        self._lmd_cf = None
        # LM-Dirichlet serving caches (pruned path): per-(term, mu)
        # decoded contribution lists + the docs-table doclen range
        # (parquet footer stats, computed lazily) that the derived
        # per-segment LMD bounds need
        self._lmd_cache: dict[tuple, tuple] = {}
        self._lmd_dl_range: tuple[int, int] | None = None
        boosts_dir = os.path.join(index_dir, "boosts")
        # fail LOUDLY on a corrupt boosts table — serving with a bad
        # prior mis-ranks every query. fsck passes load_boosts=False
        # (it audits the table itself and must not crash on corruption)
        if load_boosts and os.path.isdir(boosts_dir):
            self.load_static_boosts(boosts_dir)

    def load_static_boosts(self, source) -> None:
        """Attach a static document prior: (doc_id, boost) rows from a
        parquet path or pandas DataFrame. Serving adds boost(d) to the
        BM25 score of every RESULT doc (an absent doc_id boosts 0.0);
        candidate generation is unchanged — a boost alone never makes
        a non-matching doc match. Block-max pruning stays exact
        because every segment upper bound is raised by max(boost):
        ub + bmax >= score(d) + boost(d) for any doc in the segment.
        Boosts must be >= 0 — a negative boost would silently break
        that bound (we fail loudly instead). An index dir with a
        ``boosts`` table (index_admin.py pagerank writes one) loads it
        automatically at open."""
        if isinstance(source, str):
            b = pq.read_table(source, columns=["doc_id", "boost"]).to_pandas()
        else:
            b = source[["doc_id", "boost"]]
        docs = b["doc_id"].to_numpy(dtype=np.int64)
        vals = b["boost"].to_numpy(dtype=np.float64)
        order = np.argsort(docs, kind="stable")
        docs, vals = docs[order], vals[order]
        if docs.size and docs[:-1].size and (docs[1:] == docs[:-1]).any():
            raise ValueError("duplicate doc_id in static boosts")
        if (vals < 0).any():
            raise ValueError(
                "negative static boost — additive boosts must be >= 0 "
                "(block-max upper bounds assume it)"
            )
        bmax = float(vals.max()) if vals.size else 0.0
        self._boost = (docs, vals, bmax)

    def clear_static_boosts(self) -> None:
        self._boost = None

    @property
    def _bmax(self) -> float:
        return self._boost[2] if self._boost is not None else 0.0

    def _boosted(self, docs: np.ndarray, scores: np.ndarray) -> np.ndarray:
        """scores + static boost per doc (vectorized sorted lookup).
        No-op (bit-identical input array) when no boosts are loaded —
        the unboosted paths keep their warm==cold bit-equality."""
        if self._boost is None or docs.size == 0:
            return scores
        bd, bv, _ = self._boost
        pos = np.searchsorted(bd, docs)
        pos_c = np.clip(pos, 0, max(bd.size - 1, 0))
        hit = bd.size > 0
        if hit:
            m = bd[pos_c] == docs
            return scores + np.where(m, bv[pos_c], 0.0)
        return scores

    def refresh_deletes(self) -> None:
        """Re-read the tombstone table (after delete_docs /
        compact_index on a live server) and drop the decoded caches
        that baked the old mask in. Dictionary/segment-metadata caches
        stay — deletes don't move them."""
        self._deleted = load_tombstones(self.root)
        self._decoded_cache.clear()
        self._seg_decoded.clear()
        self._lmd_cache.clear()

    def prefix_terms(
        self, prefix: str, limit: int = 1000
    ) -> list[tuple[str, int]]:
        """Wildcard/prefix query against the dictionary: all terms
        starting with `prefix`, as (term, df), term-ascending, capped
        at `limit`. Hash partitioning spreads a prefix range over
        every BUCKET, but within each bucket file the dictionary is
        term-sorted, so only the row groups whose [min, max] term
        range intersects the prefix interval are read — cost is
        O(matching row groups), not O(vocabulary)."""
        if not prefix:
            raise ValueError("empty prefix")
        if self._eager:
            out = [
                (t, int(df))
                for t, df in self._eager_df.items()
                if t.startswith(prefix)
            ]
            out.sort()
            return out[:limit]
        out = []
        for rgs in self._dict_rg.values():
            for path, rg, lo, hi in rgs:
                # row group can contain prefix matches iff its term
                # range intersects [prefix, prefix + U+10FFFF)
                if (hi is not None and hi < prefix) or (
                    lo is not None and not lo[: len(prefix)] <= prefix
                ):
                    continue
                tbl = self._dict_files[path].read_row_groups(
                    [rg], columns=["term", "df"]
                )
                sel = tbl.filter(pc.starts_with(tbl["term"], prefix))
                out.extend(
                    zip(sel["term"].to_pylist(),
                        (int(v) for v in sel["df"].to_pylist()))
                )
        out.sort()
        return out[:limit]

    def vocab_terms(
        self, *, contains: str | None = None, regex: str | None = None,
        limit: int = 1000, by_df: bool = False,
    ) -> list[tuple[str, int]]:
        """Generalized wildcard dictionary scan: every vocabulary term
        CONTAINING a substring ('*ark*') or matching a regular
        expression — the leading-wildcard shapes prefix_terms' term
        range pruning cannot serve. Returns (term, df) pairs,
        term-ascending (or df-desc, term-asc with by_df=True — the
        rewrite-cap order expand_wildcard wants), capped at `limit`.

        Deliberately O(vocabulary): an infix predicate admits no
        term-range pruning (Lucene's Wildcard/RegexpQuery walks the
        whole term FST the same way), but the walk is a columnar scan
        of the 2-column dictionary via pyarrow match_substring /
        match_substring_regex — vectorized, never touching postings,
        and bounded by the dictionary size (~vocabulary), not the
        corpus. Exactly one of contains/regex must be given."""
        if (contains is None) == (regex is None):
            raise ValueError("pass exactly one of contains= / regex=")
        if self._eager:
            if contains is not None:
                hits = [
                    (t, int(df)) for t, df in self._eager_df.items()
                    if contains in t
                ]
            else:
                import re as _re

                pat = _re.compile(regex)
                hits = [
                    (t, int(df)) for t, df in self._eager_df.items()
                    if pat.search(t)
                ]
        else:
            hits = []
            for rgs in self._dict_rg.values():
                for path, rg, _lo, _hi in rgs:
                    tbl = self._dict_files[path].read_row_groups(
                        [rg], columns=["term", "df"]
                    )
                    if contains is not None:
                        mask = pc.match_substring(tbl["term"], contains)
                    else:
                        mask = pc.match_substring_regex(tbl["term"], regex)
                    sel = tbl.filter(mask)
                    hits.extend(
                        zip(sel["term"].to_pylist(),
                            (int(v) for v in sel["df"].to_pylist()))
                    )
        if by_df:
            hits.sort(key=lambda td: (-td[1], td[0]))
        else:
            hits.sort()
        return hits[:limit]

    def search_lmd(
        self, qtext_or_terms, *, k: int = 10, stem: bool = True,
        mode: str = "and", mu: float = 2000.0, exclude=None,
        restrict=None,
    ) -> list[tuple[int, float]]:
        """Query-likelihood ranking with Dirichlet smoothing — the
        second pluggable similarity next to BM25, semantics pinned by
        scoring.lmd_exhaustive (Zhai & Lafferty 2001):

            score = Σ_matched [ln(1 + tf/(μ·p_t)) + ln(μ/(μ+dl))]
            p_t   = cf_t / total_tokens

        Static boosts never apply to LMD scores.

        Block-max needs per-segment LMD bounds, derived from the baked
        BM25 max_tfnorm impacts (_lmd_seg_bounds), and p_t from the
        segments' Σ tf_sum cf (bit-equal to the decoded sum on a
        tombstone-free index; fsck invariant I1) or the federated
        _lmd_cf override. Wherever that cf may differ from the decoded
        masked cf (live tombstones without an override, the pre-meta
        index, pre-tf_sum segments, missing docs footer stats), p_t
        comes from the decoded postings and the scatter runs over
        them.

        exclude / restrict carry the standard NOT-term and
        filter-clause semantics (removal-only, applied before
        top-k). mode='and' keeps docs matching every query term;
        absent terms make AND unsatisfiable (BM25 `search`
        convention), OR drops them."""
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        self.prefetch([*qterms, *(exclude or ())])
        if mode == "and" and any(t not in self._df for t in qterms):
            return []
        qterms = [t for t in qterms if t in self._df]
        if not qterms:
            return []
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        excl = self._excluded_docs(exclude) if exclude else None

        n = len(qterms)
        q = _Spec(qterms, 1 if mode == "and" else n,
                  [(j,) for j in range(n)] if mode == "and"
                  else [tuple(range(n))], 1, [1.0] * n, [], float(mu))
        total = float(self.sum_doclen)
        if not self._eager and (
            self._lmd_cf is not None or self._deleted.size == 0
        ):
            cfs = [self._lmd_cf[t] if self._lmd_cf is not None
                   else self._dict_lookup(t)[2] for t in qterms]
            if all(cf is not None and cf > 0 for cf in cfs):
                q = q._replace(par=[float(cf) / total for cf in cfs])
                cold = (n == 1 and (qterms[0], q.mu) not in self._lmd_cache
                        and excl is None and allow is None)
                try:
                    return self._run(q, not cold, k, excl, allow)
                except _LmdNoBounds:  # docs footer stats missing
                    pass
        # cf is a sum of per-doc tfs — an exact integer < 2^53, so the
        # decoded sum is order-independent and the federated override
        # (sum of per-sub term_cf) is bit-equal to the merged index's
        raw = [self._decode(self._segments(t)) for t in qterms]
        q = q._replace(par=[
            (float(self._lmd_cf[t]) if self._lmd_cf is not None
             else float(tf.sum())) / total
            for t, (_, tf, _) in zip(qterms, raw)
        ])
        lists = [(d, self._contrib(q, j, tf, dl))
                 for j, (d, tf, dl) in enumerate(raw)]
        return self._vector_topk(
            *self._scatter(q, excl, allow, lists=lists), k
        )

    def term_cf(self, term: str) -> int:
        """Tombstone-masked collection frequency of `term` in THIS
        index — the exact integer search_lmd's decoded ``tfs.sum()``
        produces for it. plans/federate sums this across sub-indexes
        to assemble the GLOBAL cf that makes federated LM-Dirichlet
        bit-identical to the merged index."""
        if self._dict_lookup(term) is None:
            return 0
        return int(self._decode(self._segments(term))[1].sum())

    def _dl_range(self) -> tuple[int, int]:
        """(dl_min, dl_max) over the docs table, from parquet footer
        statistics only (no data read). Superset-safe: tombstoned docs
        may hold the extremes — bounds derived from them stay valid
        upper bounds for live docs."""
        if self._lmd_dl_range is not None:
            return self._lmd_dl_range
        _, groups = footer_index(os.path.join(self.root, "docs"), "doclen")
        rgs = groups.get(None, [])
        if not rgs or any(g[2] is None or g[3] is None for g in rgs):
            raise _LmdNoBounds()
        self._lmd_dl_range = (int(min(g[2] for g in rgs)),
                              int(max(g[3] for g in rgs)))
        return self._lmd_dl_range

    def _lmd_seg_bounds(self, max_tfnorm: np.ndarray, p_t: float,
                        mu: float) -> np.ndarray:
        """Per-segment LMD upper bounds derived from the baked BM25
        max_tfnorm impacts (see search_lmd docstring). Vectorized over
        one term's segment metadata."""
        dl_min, dl_max = self._dl_range()
        m = max_tfnorm.astype(np.float64)
        denom = (K1 + 1.0) - m
        with np.errstate(divide="ignore", invalid="ignore"):
            u = np.where(denom > 1e-12, K1 * m / denom, np.inf)
        tf_ub = np.minimum(
            u * (1.0 - B + B * dl_max / self.avgdl), float(dl_max)
        )
        return (
            np.log1p(tf_ub / (mu * p_t)) + math.log(mu / (mu + dl_min))
        )

    def search_grouped(
        self, qtext_or_groups, *, k: int = 10, stem: bool = True,
        exclude=None, after: tuple[int, float] | None = None,
        boosts: dict[str, float] | None = None, prune: bool = True,
        fast: bool = True, restrict=None, exclude_docs=None,
    ) -> list[tuple[int, float]]:
        """Grouped boolean query (parse_grouped_query semantics):
        conjunction of OR-groups — 'spark|flink^0.5 join^2 -slow' —
        docs containing >= 1 term of every group, scored by the sum
        over ALL distinct matched query terms of
        boost * idf * tfnorm, NOT-terms suppressed.

        Only the lightest group's terms drive candidates (every result
        matches every group, so they are an exact superset); a
        stopword-laden OR-group contributes bounds and membership
        masks, never a candidate scatter over its own df. prune / fast
        route as in search(), and the same `after` pagination cursor
        is supported."""
        from search_engine_spark.plans.scoring import parse_grouped_query

        if isinstance(qtext_or_groups, str):
            groups, parsed_excl, parsed_boosts = parse_grouped_query(
                qtext_or_groups, stem=stem
            )
            if exclude is None and parsed_excl:
                exclude = parsed_excl
            if boosts is None:
                boosts = parsed_boosts
        else:
            groups = [list(dict.fromkeys(g)) for g in qtext_or_groups]
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        if after is not None:
            after = (int(after[0]), float(after[1]))
        self.prefetch([*(t for g in groups for t in g), *(exclude or ())])
        groups = [[t for t in g if t in self._df] for g in groups]
        if not groups or any(not g for g in groups):
            return []  # empty query, or an unsatisfiable group
        q = self._grouped_spec(groups, boosts or {})
        excl = self._excluded_docs(exclude) if exclude else None
        excl = self._merge_excl(excl, exclude_docs)
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        if prune and fast:
            self._promote_repeats(q.terms, dict(zip(q.terms, q.par)))
        return self._run(q, not prune or (fast and self._warm(q.terms)),
                         k, excl, allow, after)

    def score_grouped_candidates(self, groups, cand: np.ndarray, *,
                                 boosts=None, exclude=None,
                                 exclude_docs=None):
        """Grouped-boolean scores for a FIXED candidate array — the
        restrict-driven evaluation plans/phraseq uses when a phrase
        clause has already pinned the candidate set: each term is
        probed AT the candidates (cost ~ |cand|·log per term,
        independent of the Zipf head's list length), with
        search_grouped's spec, so surviving docs' scores are
        bit-identical to its.

        Returns (docs, scores) for the candidates that satisfy the
        boolean semantics (>= 1 term of EVERY group, no NOT matches),
        doc_id-ascending. `cand` must be sorted unique int64."""
        groups = [[t for t in dict.fromkeys(g) if t in self._df]
                  for g in groups]
        if not groups or any(not g for g in groups) or cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if isinstance(exclude, str):
            exclude = analyze_query(exclude)
        q = self._grouped_spec(groups, boosts or {})
        excl = self._excluded_docs(exclude) if exclude else None
        excl = self._merge_excl(excl, exclude_docs)
        return self._scatter(q, excl, cand=cand)

    def _grouped_spec(self, groups, boosts) -> _Spec:
        """The lightest group drives; terms are its terms by
        (df, term), then the rest by (df, term)."""
        base = min(groups, key=lambda g: sum(self._df[t] for t in g))
        terms = sorted(dict.fromkeys(base), key=lambda t: (self._df[t], t))
        n_base = len(terms)
        terms += sorted({t for g in groups for t in g} - set(terms),
                        key=lambda t: (self._df[t], t))
        ix = {t: j for j, t in enumerate(terms)}
        return _Spec(
            terms, n_base, [tuple(sorted({ix[t] for t in g})) for g in groups],
            1, [float(boosts.get(t, 1.0)) for t in terms],
            [self._idf(t) for t in terms],
        )

    def explain_score(self, qtext_or_terms, doc_id: int, *,
                      stem: bool = True) -> dict:
        """Lucene-explain-style score breakdown: why does `doc_id`
        score what it scores for this query? Returns per matched term
        (tf, df, doclen, idf, tfnorm, contribution) plus collection
        constants and the total; `matched_all` says whether the doc
        would survive conjunctive (AND) candidate generation. A
        deleted or absent doc reports its terms as unmatched. Reads
        only the segments whose [first_doc, last_doc] span admits the
        doc — O(query terms), not O(posting lists)."""
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        doc_id = int(doc_id)
        deleted = bool(
            self._deleted.size
            and self._in_sorted(
                self._deleted, np.asarray([doc_id], dtype=np.int64)
            )[0]
        )
        out_terms = []
        total = 0.0
        for t in qterms:
            row = {"term": t, "matched": False, "df": None, "tf": None,
                   "doclen": None, "idf": None, "tfnorm": None,
                   "contribution": 0.0}
            if t in self._df and not deleted:
                row["df"] = int(self._df[t])
                row["idf"] = self._idf(t)
                segs = self._segments(t)
                for r in np.flatnonzero((segs.first_doc <= doc_id)
                                        & (segs.last_doc >= doc_id)):
                    docs, tfs = decode_postings(segs.doc_ids[r], segs.tfs[r])
                    i = int(np.searchsorted(docs, doc_id))
                    if i < len(docs) and docs[i] == doc_id:
                        dls = decode_varints(segs.doclens[r])
                        row["matched"] = True
                        row["tf"] = int(tfs[i])
                        row["doclen"] = int(dls[i])
                        row["tfnorm"] = float(self._tfnorm(
                            np.asarray([tfs[i]]),
                            np.asarray([dls[i]], dtype=np.int64),
                        )[0])
                        row["contribution"] = row["idf"] * row["tfnorm"]
                        break
            total += row["contribution"]
            out_terms.append(row)
        static = 0.0
        if self._boost is not None and not deleted:
            static = float(self._boosted(
                np.asarray([doc_id], dtype=np.int64),
                np.zeros(1, dtype=np.float64),
            )[0])
            total += static
        return {
            "doc_id": doc_id,
            "deleted": deleted,
            "n_docs": self.n_docs,
            "avgdl": self.avgdl,
            "k1": K1,
            "b": B,
            "terms": out_terms,
            "static_boost": static,
            "matched_all": bool(out_terms)
            and all(r["matched"] for r in out_terms),
            "score": total,
        }

    def more_like_this(
        self, doc_id: int, *, k: int = 10, n_terms: int = 5,
        stem: bool = True,
    ) -> list[tuple[int, float]]:
        """Lucene-style more-like-this: analyze the source document's
        stored text, rank its terms by tf-idf (rounded to 6 before
        ranking, tie-break term asc — the same selection rule the
        more_like_this oracle entry pins cross-engine), and run a
        disjunctive BM25 search over the top n_terms with the source
        doc itself excluded. Requires the docstore table
        (build_index.py --store-text); raises FileNotFoundError
        otherwise. Unknown doc ids return []."""
        from collections import Counter

        from search_engine_spark.functions.text import analyze
        from search_engine_spark.plans.docstore import DocStore

        if self._docstore is None:
            self._docstore = DocStore(self.root)
        text = self._docstore.get_texts([int(doc_id)]).get(int(doc_id))
        if text is None:
            return []
        # full (non-deduplicated) term vector — analyze_query would
        # collapse repeats and flatten every tf to 1
        tf = Counter(analyze(text, stem=stem))
        self.prefetch(tf, scored=False)
        scored = sorted(
            (-round(n * self._idf(t), 6), t)
            for t, n in tf.items()
            if t in self._df
        )
        qterms = [t for _, t in scored[:n_terms]]
        # the df-only prefetch above cached their stats, so search's
        # own prefetch skips them: read their segments in one batch
        self._read_terms([t for t in qterms if t not in self._term_cache])
        hits = self.search(qterms, k=k + 1, mode="or", stem=stem)
        return [(d, s) for d, s in hits if d != int(doc_id)][:k]

    def _dict_lookup(self, term: str) -> tuple[int, int, int | None] | None:
        """(df, bucket, cf) for term, or None if absent: df = Σ n and
        cf = Σ tf_sum over the term's segments — the sums the build
        writes into the dictionary — LRU-cached (misses cached too:
        absent query terms are common and must stay cheap). A miss
        reads only the term's n/tf_sum columns; a query's terms arrive
        through prefetch first. cf is None when the segments predate
        tf_sum (and on the eager path)."""
        if self._eager:
            df = self._eager_df.get(term)
            return (None if df is None
                    else (df, self._eager_bucket[term], None))
        cache = self._dict_cache
        if term not in cache:
            self._read_terms((term,), stats_only=True)
        val = cache.pop(term)
        cache[term] = val  # refresh recency
        return val

    def prefetch(self, terms, *, scored: bool = True) -> None:
        """First contact for a query's terms in one batch, ahead of its
        df checks: the terms whose (df, bucket, cf) is not cached yet
        are read with one postings read per admitted row group. The
        segments of `scored` terms enter the term cache, since the
        query reads them next; otherwise (terms a query only
        df-checks: more-like-this candidates, phrase tokens) only the
        term/n/tf_sum columns are read, so no blob is read and the
        segment hot set is not evicted."""
        if not self._eager:
            self._read_terms([t for t in terms if t not in self._dict_cache],
                             stats_only=not scored)

    def _idf(self, term: str) -> float:
        # _idf_df (plans/federate): dict-like override giving the
        # COLLECTION-WIDE df when this searcher serves one member of a
        # federated set — n_docs/avgdl are rebased there too, so every
        # sub-index scores on identical global constants and the merged
        # ranking is exchangeable with a physically merged index.
        df = (self._idf_df if self._idf_df is not None else self._df)[term]
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    @staticmethod
    def _lru_hit(cache: dict, key):
        """dict-as-LRU: refresh recency on hit (pop + reinsert moves the
        key to the end; eviction pops the front = least recent)."""
        v = cache.get(key)
        if v is not None:
            cache[key] = cache.pop(key)
        return v

    def _segments(self, term: str) -> _Segs:
        """All segments of a term as columns (see _read_terms)."""
        hit = self._lru_hit(self._term_cache, term)
        return hit if hit is not None else self._read_terms((term,))[term]

    def _read_terms(self, terms, *, stats_only: bool = False
                    ) -> dict[str, _Segs]:
        """Read terms from the postings row groups whose stats admit
        them, each such row group once, and keep each term's rows with
        an Arrow filter in (file, row group) order. Records every
        term's (df, bucket, cf) row (a term known absent is not read)
        and, unless stats_only, returns term -> its segments (metadata
        + blobs) as columns, LRU-caching the non-empty ones for the
        serving hot set. stats_only reads just term/n/tf_sum."""
        out: dict[str, _Segs] = {}
        tables = {}
        for t in dict.fromkeys(terms):
            if self._eager:
                b = self._eager_bucket.get(t)
            elif self._dict_cache.get(t, 0) is None:  # known absent
                b = None
            else:
                b = term_bucket(t, self.n_buckets)
            parts = []
            for path, rg in self._admitted(t, b):
                tbl = tables.get((path, rg))
                if tbl is None:
                    cols = [c for c in self._cols[path]
                            if not stats_only or c in ("term", "n", "tf_sum")]
                    tbl = tables[path, rg] = self._files[path].read_row_groups(
                        [rg], columns=cols)
                parts.append(tbl.filter(pc.equal(tbl["term"], t)))
            if any(p.num_columns != parts[0].num_columns for p in parts):
                parts = [p.drop_columns(["tf_sum"])
                         if "tf_sum" in p.column_names else p for p in parts]
            tbl = pa.concat_tables(parts) if parts else self._empty
            if not self._eager:
                self._note_stats(t, tbl)
            if stats_only:
                continue
            segs = out[t] = _Segs(tbl, self._tfnorm_scale)
            if len(segs):
                if len(self._term_cache) >= self._cache_terms:
                    self._term_cache.pop(next(iter(self._term_cache)))
                self._term_cache[t] = segs
        return out

    def _note_stats(self, term: str, tbl: pa.Table) -> None:
        """Cache term's (df, bucket, cf) row from its postings rows:
        None when it has none, cf None when tf_sum is missing or null
        (pre-tf_sum segments)."""
        row = None
        if tbl.num_rows:
            ts = tbl["tf_sum"] if "tf_sum" in tbl.column_names else None
            row = (int(pc.sum(tbl["n"]).as_py()),
                   term_bucket(term, self.n_buckets),
                   None if ts is None or ts.null_count
                   else int(pc.sum(ts).as_py()))
        cache = self._dict_cache
        cache.pop(term, None)
        if len(cache) >= self._DICT_CACHE:
            cache.pop(next(iter(cache)))
        cache[term] = row

    def _admitted(self, term: str, bucket: int | None
                  ) -> list[tuple[str, int]]:
        """(file, row group) pairs of `bucket` whose term range admits
        `term`, in file and row-group order."""
        return [(path, rg) for path, rg, _, _ in admitted(self._rg, term, bucket)]

    def _tfnorm(self, tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        tff = tf.astype(np.float64)
        return tff * (K1 + 1.0) / (
            tff + K1 * (1.0 - B + B * dl.astype(np.float64) / self.avgdl)
        )

    def _decode(self, segs: _Segs, rows=None):
        """Tombstone-masked raw (doc_ids, tfs, doclens) of a term's
        segments — all of them, or the indices `rows` — doc-sorted: the
        one raw postings decode every serving path goes through."""
        parts = [(*decode_postings(segs.doc_ids[r], segs.tfs[r]),
                  decode_varints(segs.doclens[r]).astype(np.int64))
                 for r in (range(len(segs)) if rows is None else rows)]
        if not parts:
            z = np.empty(0, np.int64)
            return z, z, z
        if len(parts) == 1:
            d, tf, dl = parts[0]
        else:
            d, tf, dl = (np.concatenate(p) for p in zip(*parts))
            order = np.argsort(d, kind="stable")
            d, tf, dl = d[order], tf[order], dl[order]
        return mask_deleted(self._deleted, d, tf, dl)

    def _seg_decode(self, term: str, segs: _Segs, r: int, idf_t: float):
        """Decoded (doc_ids, idf*tfnorm contributions) for segment r,
        cached per (term, salt, seg). The contribution array is
        query-INDEPENDENT (idf is a corpus constant per term), so the
        cache is shared by every BM25 shape and across queries."""
        hit_outer = self._lru_hit(self._seg_decoded, term)
        if hit_outer is None and len(self._seg_decoded) >= self._cache_terms:
            self._seg_decoded.pop(next(iter(self._seg_decoded)))
        cache = self._seg_decoded.setdefault(term, {})
        key = (int(segs.salt[r]), int(segs.seg[r]))
        hit = cache.get(key)
        if hit is None:
            cand, ctf, cdl = self._decode(segs, (r,))
            hit = (cand, idf_t * self._tfnorm(ctf, cdl))
            cache[key] = hit
        return hit

    def _load_full(self, term: str, idf_t: float):
        """Merged sorted (doc_ids, contribs) over ALL of `term`'s
        segments, cached query-independently (the same cache the AND
        path's full-span other-term decodes use)."""
        hit = self._lru_hit(self._decoded_cache, term)
        if hit is not None:
            return hit
        segs = self._segments(term)
        if len(segs) == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        parts = [self._seg_decode(term, segs, r, idf_t)
                 for r in range(len(segs))]
        if len(parts) == 1:
            out = parts[0]
        else:
            d = np.concatenate([p[0] for p in parts])
            c = np.concatenate([p[1] for p in parts])
            order = np.argsort(d, kind="stable")
            out = (d[order], c[order])
        if len(self._decoded_cache) >= self._cache_terms:
            self._decoded_cache.pop(next(iter(self._decoded_cache)))
        self._decoded_cache[term] = out
        return out

    @staticmethod
    def _in_sorted(sorted_arr: np.ndarray | None, docs: np.ndarray) -> np.ndarray:
        """Boolean membership mask of docs in sorted_arr (None/empty →
        all False) — one searchsorted, no set materialization."""
        if sorted_arr is None or sorted_arr.size == 0 or docs.size == 0:
            return np.zeros(docs.size, dtype=bool)
        pos = np.searchsorted(sorted_arr, docs)
        pos_c = np.minimum(pos, sorted_arr.size - 1)
        return sorted_arr[pos_c] == docs

    def _eligible(self, docs: np.ndarray, excl, allow) -> np.ndarray:
        """Candidate-eligibility mask: not NOT-excluded AND (when a
        restrict set is given) a member of it. Both legs are
        removal-only, so every block-max segment bound remains a valid
        upper bound over eligible docs and pruning stays exact — the
        same argument exclude already rides. `allow` is the site:/
        filter-clause pre-filter (sorted allowed doc_ids); filtering
        happens at candidate generation, never as a post-filter over a
        ranked page, so a highly selective filter costs nothing extra."""
        m = ~self._in_sorted(excl, docs)
        if allow is not None:
            m &= self._in_sorted(allow, docs)
        return m

    @staticmethod
    def _norm_restrict(restrict) -> np.ndarray | None:
        """Normalize a restrict set (any int iterable / ndarray) to the
        sorted-unique int64 array the masks need; None passes through."""
        if restrict is None:
            return None
        arr = np.unique(np.asarray(list(restrict), dtype=np.int64)) \
            if not isinstance(restrict, np.ndarray) \
            else np.unique(restrict.astype(np.int64, copy=False))
        return arr

    def _excluded_docs(self, exclude) -> np.ndarray | None:
        """Sorted union of the excluded terms' doc lists (NOT-term
        support). Exclusion lists must be decoded in FULL — a doc
        containing an excluded term anywhere must be suppressed — so
        they ride the same query-independent decoded cache the
        positive terms use. Unknown terms are no-ops."""
        arrs = []
        for t in dict.fromkeys(exclude or []):
            if t in self._df:
                arrs.append(self._load_full(t, self._idf(t))[0])
        if not arrs:
            return None
        return np.unique(np.concatenate(arrs))

    @staticmethod
    def _merge_excl(excl: np.ndarray | None, exclude_docs) -> np.ndarray | None:
        """Union the NOT-term doc set with an explicit excluded-doc-id
        set (NOT-phrase support, plans/phraseq.py) — exclusion stays
        removal-only, so every pruning bound remains valid."""
        if exclude_docs is None:
            return excl
        ed = np.unique(np.asarray(exclude_docs, dtype=np.int64))
        if ed.size == 0:
            return excl
        return ed if excl is None else np.union1d(excl, ed)

    @staticmethod
    def _after_mask(docs: np.ndarray, scores: np.ndarray, after):
        """Eligibility mask for cursor pagination: keep docs strictly
        AFTER the (doc_id, score) cursor — the previous page's last
        hit, same tuple shape search() returns — in (score desc,
        doc_id asc) ranking order. Safe on exact float equality
        because serving scores are bit-identical across repeated
        queries (warm == cold bit-identity, property-tested)."""
        a_d, a_s = after
        return (scores < a_s) | ((scores == a_s) & (docs > a_d))

    def _vector_topk(self, docs: np.ndarray, scores: np.ndarray, k: int,
                     after=None):
        """Exact top-k by (score desc, doc_id asc) from parallel arrays:
        argpartition narrows to the boundary score (ties kept), then a
        lexsort of only that subset fixes the order."""
        if after is not None and docs.size:
            keep_a = self._after_mask(docs, scores, after)
            docs, scores = docs[keep_a], scores[keep_a]
        if docs.size == 0:
            return []
        if docs.size > k:
            kth = np.partition(-scores, k - 1)[k - 1]
            keep = -scores <= kth  # score >= k-th best, boundary ties kept
            docs, scores = docs[keep], scores[keep]
        order = np.lexsort((docs, -scores))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order]

    def _warm(self, qterms: list[str]) -> bool:
        return all(t in self._decoded_cache for t in qterms)

    def _promote_repeats(self, qterms: list[str], idf: dict) -> None:
        """Count term encounters; fully decode a term's list on its
        second one so subsequent queries route the vectorized path.

        Bounded in a long-lived server: promotion happens only into
        FREE cache slots (a full cache means the working set already
        exceeds cache_terms — force-decoding just to be evicted would
        defeat block-max decode avoidance), and the hit counter decays
        (halve-and-drop) once it outgrows 8x the cache so it cannot
        grow with the lifetime-distinct term count."""
        if len(self._term_hits) > 8 * self._cache_terms:
            self._term_hits = {
                t: n // 2 for t, n in self._term_hits.items() if n // 2 > 0
            }
        for t in qterms:
            n = self._term_hits.get(t, 0) + 1
            self._term_hits[t] = n
            if (
                n >= 2
                and t not in self._decoded_cache
                and len(self._decoded_cache) < self._cache_terms
            ):
                self._load_full(t, idf[t])

    def search(
        self, qtext_or_terms, *, k: int = 10, stem: bool = True,
        prune: bool = True, mode: str = "and", fast: bool = True,
        exclude=None, after: tuple[int, float] | None = None,
        msm: int = 1, restrict=None, exclude_docs=None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score), score desc then doc_id asc.

        mode="and" (default) is the reference's conjunctive semantics;
        mode="or" is disjunctive BM25 (matches IndexReader.search
        mode="or" — missing terms are dropped, not fatal).
        exclude: NOT-terms (list, or raw text analyzed the same way) —
        docs containing ANY of them are suppressed; surviving docs'
        scores are unaffected.
        prune=False routes the exhaustive scatter (used by the
        equivalence property tests). fast=False forces block-max even
        when every term is warm in the serving cache.
        after: cursor pagination (search_after semantics) — pass the
        previous page's last hit (doc_id, score), exactly as returned,
        to get the next k results strictly after it in (score desc,
        doc_id asc) order; concatenated pages reproduce the full
        ranking exactly (property-tested on every path). Exact float
        equality against the cursor is safe because serving scores are
        bit-identical across paths and repeats.
        restrict: filter-clause PRE-filter (site: scoping, tenant
        isolation, date windows...) — an iterable of ALLOWED doc_ids;
        only members can be returned, survivor scores unchanged.
        Applied at candidate generation on every path (never a
        post-filter over a ranked page). An empty set returns []."""
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        msm = int(msm)
        if msm < 1:
            raise ValueError(f"msm must be >= 1, got {msm}")
        if msm > 1 and mode != "or":
            raise ValueError(
                "minimum-should-match applies to mode='or' only "
                "(AND already requires every term)"
            )
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        self.prefetch([*qterms, *(exclude or ())])
        excl = self._excluded_docs(exclude) if exclude else None
        excl = self._merge_excl(excl, exclude_docs)
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        if after is not None:
            after = (int(after[0]), float(after[1]))
        if mode == "or":
            # msm counts PRESENT query terms (absent terms are dropped,
            # not fatal, mirroring plain OR)
            qterms = sorted((t for t in qterms if t in self._df),
                            key=lambda t: (self._df[t], t))
            if not qterms or msm > len(qterms):
                return []
            terms, n_drive = qterms, len(qterms)
            groups = [tuple(range(n_drive))]
        else:
            if not qterms or any(t not in self._df for t in qterms):
                return []
            rarest = min(qterms, key=lambda t: self._df[t])
            terms = [rarest] + [t for t in qterms if t != rarest]
            n_drive, groups = 1, [(j,) for j in range(len(terms))]
        q = _Spec(terms, n_drive, groups, msm, [1.0] * len(terms),
                  [self._idf(t) for t in terms])
        if prune and fast:
            self._promote_repeats(qterms, dict(zip(q.terms, q.par)))
        return self._run(q, not prune or (fast and self._warm(q.terms)),
                         k, excl, allow, after)

    def _run(self, q: _Spec, scatter: bool, k: int, excl, allow,
             after=None) -> list[tuple[int, float]]:
        """Run `q` on the chosen executor; the one writer of
        last_segments_skipped. k < 1 asks for no hits."""
        if k < 1:
            hits, skipped = [], 0
        elif scatter:
            hits = self._vector_topk(*self._scatter(q, excl, allow), k, after)
            skipped = 0
        else:
            hits, skipped = self._blockmax(q, k, excl, allow, after)
        self.last_segments_skipped = skipped
        return hits

    def _contrib(self, q: _Spec, j: int, tf, dl) -> np.ndarray:
        """Term j's per-doc contributions from raw tfs / doclens."""
        if q.mu is None:
            return q.par[j] * self._tfnorm(tf, dl)
        return (np.log1p(tf.astype(np.float64) / (q.mu * q.par[j]))
                + np.log(q.mu / (q.mu + dl.astype(np.float64))))

    def _list(self, q: _Spec, j: int, span=None):
        """Term j's doc-sorted (doc_ids, contributions) from one raw
        decode of its segments overlapping span=(lo, hi) — all of them
        when None. Cached query-independently only when the decode
        covers every segment (a partial list depends on the query)."""
        t = q.terms[j]
        cache, key = ((self._decoded_cache, t) if q.mu is None
                      else (self._lmd_cache, (t, q.mu)))
        hit = self._lru_hit(cache, key)
        if hit is not None:
            return hit
        segs = self._segments(t)
        rows = None if span is None else np.flatnonzero(
            (segs.last_doc >= span[0]) & (segs.first_doc <= span[1]))
        d, tf, dl = self._decode(segs, rows)
        out = (d, self._contrib(q, j, tf, dl))
        if rows is None or rows.size == len(segs):
            if len(cache) >= self._cache_terms:
                cache.pop(next(iter(cache)))
            cache[key] = out
        return out

    def _full(self, q: _Spec, j: int):
        """Term j's full cached (doc_ids, contributions) list."""
        if q.mu is None:
            return self._load_full(q.terms[j], q.par[j])
        return self._list(q, j)

    @staticmethod
    def _checks(q: _Spec, sure) -> list[list[tuple]]:
        """Per term index: the match groups to test once that term's
        hits are known. A group holding every term of `sure` (terms all
        candidates contain; None when unknown) needs no test."""
        out = [[] for _ in q.terms]
        for g in q.groups:
            if sure is None or not sure.issubset(g):
                out[max(g)].append(g)
        return out

    def _probe(self, q: _Spec, cand, keep, get, checks, i=None, c=None):
        """Score `cand` over every term in spec order — term i's
        contributions `c` are known, every other term j is probed in
        get(j) — and narrow `keep` by the match predicate and the
        first-driving-term dedup. Stops once no candidate survives.
        Returns (scores, keep)."""
        if i is None:
            scores = np.zeros(cand.size, dtype=np.float64)
        else:
            scores = c if q.w[i] == 1.0 else c * q.w[i]
        n_hit = np.zeros(cand.size, dtype=np.int32) if q.msm > 1 else None
        hits = []
        for j, checks_j in enumerate(checks):
            if j == i:
                hit = True
            else:
                od, oc = get(j)
                if od.size:
                    pos = np.minimum(np.searchsorted(od, cand), od.size - 1)
                    hit = od[pos] == cand
                    oj = oc[pos] if q.w[j] == 1.0 else oc[pos] * q.w[j]
                    scores = scores + np.where(hit, oj, 0.0)
                else:
                    hit = np.zeros(cand.size, dtype=bool)
                if i is not None and j < i:
                    keep &= ~hit  # driven by an earlier driving term
            hits.append(hit)
            if n_hit is not None:
                n_hit += hit
            for g in checks_j:
                m = hits[g[0]]
                for u in g[1:]:
                    m = m | hits[u]
                keep &= m
            if checks_j and not keep.any():
                break
        if n_hit is not None:
            keep &= n_hit >= q.msm
        return scores, keep

    def _scatter(self, q: _Spec, excl=None, allow=None, *, cand=None,
                 lists=None):
        """Scatter executor: score `cand` (sorted unique) — by default
        the union of the driving lists — against every term's full
        list (`lists`, or the cached ones). Returns the matching
        (doc_ids, scores), statically boosted for BM25."""
        if lists is None:
            lists = [self._full(q, j) for j in range(len(q.terms))]
        i = c = sure = None
        if cand is None and q.n_drive == 1:
            i, sure = 0, {0}
            cand, c = lists[0]
        elif cand is None:
            sure = set(range(q.n_drive))
            cand = np.unique(np.concatenate(
                [lists[j][0] for j in range(q.n_drive)]
            ))
        scores, keep = self._probe(
            q, cand, self._eligible(cand, excl, allow), lists.__getitem__,
            self._checks(q, sure), i, c,
        )
        ca, sa = cand[keep], scores[keep]
        return ca, (self._boosted(ca, sa) if q.mu is None else sa)

    def _blockmax(self, q: _Spec, k: int, excl=None, allow=None,
                  after=None):
        """Block-max executor (see module docstring). Returns
        (hits, segments skipped)."""
        segs = [self._segments(t) for t in q.terms]

        def bound(j):
            m = segs[j].max_tfnorm
            if q.mu is None:
                return q.w[j] * q.par[j] * m
            return self._lmd_seg_bounds(m, q.par[j], q.mu)

        ubs = [bound(j) if len(s) else None for j, s in enumerate(segs)]
        bmax = self._bmax if q.mu is None else 0.0
        entries = []  # (bound, driving term index, segment row)
        los, his = [], []  # the driving terms' doc span
        for i in range(q.n_drive):
            if len(segs[i]) == 0:
                continue
            first, last = segs[i].first_doc, segs[i].last_doc
            los.append(int(first.min()))
            his.append(int(last.max()))
            ub = ubs[i]
            for u, o in enumerate(segs):
                if u != i and len(o):
                    ub = ub + _overlap_bound(o.first_doc, o.last_doc,
                                             ubs[u], first, last)
            entries += [(b + bmax, i, r) for r, b in enumerate(ub.tolist())]
        entries.sort(key=lambda e: -e[0])

        span = (min(los), max(his)) if los else None
        lists: dict[int, tuple] = {}

        def get(j):
            if j not in lists:
                lists[j] = (self._full(q, j) if j < q.n_drive
                            else self._list(q, j, span))
            return lists[j]

        checks = [self._checks(q, {i}) for i in range(q.n_drive)]
        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

        def offer(doc: int, score: float) -> None:
            item = (score, -doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

        skipped = 0
        for n_done, (ub, i, r) in enumerate(entries):
            if len(heap) == k and ub < heap[0][0]:
                skipped = len(entries) - n_done  # bounds sorted: all pruned
                break
            if q.mu is None:
                cand, c = self._seg_decode(q.terms[i], segs[i], r, q.par[i])
            else:
                cand, tf, dl = self._decode(segs[i], (r,))
                c = self._contrib(q, i, tf, dl)
            scores, keep = self._probe(
                q, cand, self._eligible(cand, excl, allow), get, checks[i],
                i, c,
            )
            ca, sa = cand[keep], scores[keep]
            if q.mu is None:
                sa = self._boosted(ca, sa)
            if after is not None and ca.size:
                # BEFORE the per-segment k-cut: the segment's k best
                # may all be pre-cursor docs
                keep_a = self._after_mask(ca, sa, after)
                ca, sa = ca[keep_a], sa[keep_a]
            if ca.size > k:
                # the heap only needs a segment's k best by (score
                # desc, doc_id asc) — lexsort keeps the tie-break exact
                order_k = np.lexsort((ca, -sa))[:k]
                ca, sa = ca[order_k], sa[order_k]
            for doc, sc in zip(ca.tolist(), sa.tolist()):
                offer(doc, sc)
        return [(-nd, s) for s, nd in sorted(heap, reverse=True)], skipped
