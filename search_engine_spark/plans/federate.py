"""Federated serving over several index directories at once.

The read-side complement of the LSM ingest cadence
(streaming/incremental.start_shard_ingest + fold_shards): freshly
streamed epoch shards become searchable IMMEDIATELY — before the next
fold — by federating them with the serving index, exactly how Lucene
serves across segments and Elasticsearch across shards. The contract
is strict:

    FederatedSearcher([target, shard1, shard2, ...]).search(q)
        == LocalSearcher(merge_into(target, shard1, shard2, ...)).search(q)

bit-identically (scores AND order), because federation recomputes the
very constants a physical merge would write:

* **doc_id space** — sub i's local ids are offset by the running
  ``max_allocated_id + 1`` of everything before it, the same rule
  ``plans/merge.merge_into`` applies (urlmap when present, else the
  docs table; read here from parquet row-group statistics — no Spark,
  no data scan).
* **collection stats** — global ``n_docs`` is additive, global
  ``sum_doclen`` is additive (exact integers), global
  ``avgdl = float(sum)/float(n)`` — the identical float expression
  ``_merge_core`` writes into the merged stats table, so per-doc
  tfnorm is bit-equal.
* **df** — a per-term dict-like that sums each sub-index's df
  (``LocalSearcher._dict_lookup``; absent -> 0), installed as
  ``LocalSearcher._idf_df``; with global n_docs this makes idf
  bit-equal to the merged dictionary's.
* **pruning bounds** — each sub's baked ``max_tfnorm`` bounds were
  computed under its OWN avgdl; serving under the (usually larger)
  global avgdl rescales them by ``max(1, avgdl_global/avgdl_sub)``,
  the same monotonicity bound merge_into records as
  ``tfnorm_scale`` — block-max pruning stays exact, marginally
  looser.

Per-sub tombstones, static boosts, and salted segments all apply as
usual — the sub-searchers are stock ``LocalSearcher``s. Scoring any
ONE sub with global constants is exactly what the merged index does
for that sub's docs, and every doc lives in exactly one sub, so
merging the per-sub top-k lists by (score desc, global doc_id asc)
reproduces the merged index's ranking (each sub returns its own full
top-k — a superset of its contribution to the global page).

Scale shape: a serving node federates O(tier depth) sub-indexes
(single digits under any sane fold cadence); per-query cost is the
sum of per-sub costs, each row-group-pruned + block-max-bounded as
usual. There is no cross-sub coordination beyond the final k-way
list merge.

Also federated, all on the same identity argument (every doc lives in
exactly one sub; global constants installed per sub; k-way merge by
(score desc, global doc_id asc)):

* **search_lmd** — LM-Dirichlet needs the GLOBAL cf of each query
  term for ``p_t = cf_t / total_tokens``; ``_GlobalCF`` sums each
  sub's tombstone-masked ``term_cf`` (exact integers — bit-equal to
  the merged index's own decoded sum) and installs it as
  ``LocalSearcher._lmd_cf``.
* **explain_score** — routed to the owning sub (its idf already uses
  the global df override); the reported per-term ``df`` is patched to
  the global value so the breakdown reads like the merged index's.
* **get_texts / url_lookup** — per-sub docstore/urlmap reads on the
  owning sub's local ids.
* **prefix_terms / vocab_terms / suggest** — dictionary-level
  federation: per-sub scans merged with summed df. Exactness under a
  result cap: prefix_terms is term-ascending, so a term inside the
  global first-`limit` is inside every sub's first-`limit`;
  vocab_terms' df-ranked cap can NOT be pushed into the subs (a
  globally-hot term may be locally cold in every sub), so each sub
  scans uncapped — same O(vocabulary) bound the scan already has —
  and the cap applies to the merged list. suggest merges the per-sub
  SymSpell candidate sets (dictionary membership is a union; df is
  additive) before the shared distance ranking.

Not federated here: more_like_this (needs a tf-idf term-selection pass
over global stats — fold first).
"""
from __future__ import annotations

import json
import os

from search_engine_spark.plans.footer import footer_index
from search_engine_spark.plans.wand import LocalSearcher

_BEYOND = 1 << 62  # cursor sentinel: no doc_id can exceed it


def _max_allocated_id(index_dir: str) -> int:
    """Highest doc_id the index has allocated — urlmap when present
    (it records even empty docs), else the docs table; read from
    parquet row-group max statistics only (footer metadata, no data
    pages), mirroring plans/merge._max_allocated_id's Spark agg."""
    urlmap = os.path.join(index_dir, "urlmap")
    root = urlmap if os.path.isdir(urlmap) else os.path.join(index_dir, "docs")
    _, groups = footer_index(root, "doc_id")
    return max((int(hi) for _, _, _, hi in groups.get(None, ())
                if hi is not None), default=-1)


class _GlobalDF:
    """dict-like summing df across sub-searchers, LRU-free (bounded by
    distinct query terms seen; a serving process's query vocabulary is
    tiny next to the dictionary)."""

    def __init__(self, subs: list[LocalSearcher]):
        self._subs = subs
        self._cache: dict[str, int] = {}

    def __getitem__(self, term: str) -> int:
        v = self._cache.get(term)
        if v is None:
            v = 0
            for s in self._subs:
                row = s._dict_lookup(term)
                if row is not None:
                    v += row[0]
            self._cache[term] = v
        return v


class _GlobalCF:
    """dict-like summing tombstone-masked collection frequency across
    sub-searchers (LocalSearcher.term_cf) — the global cf LM-Dirichlet
    needs. Integer-exact, so per-sub scoring is bit-equal to the
    merged index's."""

    def __init__(self, subs: list[LocalSearcher]):
        self._subs = subs
        self._cache: dict[str, int] = {}

    def __getitem__(self, term: str) -> int:
        v = self._cache.get(term)
        if v is None:
            v = sum(s.term_cf(term) for s in self._subs)
            self._cache[term] = v
        return v


class FederatedSearcher:
    """Search N built indexes as one collection (see module docstring).

    Directory ORDER is the identity rule: ``[target, shard1, shard2]``
    assigns the same global doc_ids as ``merge_into(target, shard1)``
    then ``merge_into(target, shard2)`` — list folded shards in fold
    order and results stay stable across the fold itself."""

    def __init__(self, index_dirs: list[str], *, cache_terms: int = 256,
                 load_boosts: bool = True):
        if not index_dirs:
            raise ValueError("need at least one index dir")
        self.subs: list[LocalSearcher] = []
        self.offsets: list[int] = []
        stems = []
        nxt = 0
        for d in index_dirs:
            meta_path = os.path.join(d, "index_meta.json")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    stems.append(bool(json.load(f).get("stem", True)))
            self.offsets.append(nxt)
            nxt += _max_allocated_id(d) + 1
            self.subs.append(LocalSearcher(
                d, cache_terms=cache_terms, load_boosts=load_boosts))
        if len(set(stems)) > 1:
            raise ValueError(
                "cannot federate indexes with different analyzers "
                f"(stem flags {stems} across {index_dirs})"
            )
        self.n_docs = sum(s.n_docs for s in self.subs)
        self.sum_doclen = sum(s.sum_doclen for s in self.subs)
        # identical float expression to plans/merge._merge_core
        self.avgdl = (
            float(self.sum_doclen) / float(self.n_docs)
            if self.n_docs else 0.0
        )
        gdf = _GlobalDF(self.subs)
        gcf = _GlobalCF(self.subs)
        self._gdf = gdf
        self._suggesters: list | None = None
        self._phrasers_cache: list | None = None
        self._field_subs: dict[str, list[LocalSearcher]] | None = None
        for s in self.subs:
            if self.avgdl > s.avgdl:
                s._tfnorm_scale *= self.avgdl / s.avgdl
            s.avgdl = self.avgdl
            s.n_docs = self.n_docs
            s.sum_doclen = self.sum_doclen
            s._idf_df = gdf
            s._lmd_cf = gcf

    # -- global<->local doc_id plumbing ---------------------------------

    def _sub_range(self, i: int) -> tuple[int, int]:
        lo = self.offsets[i]
        hi = (self.offsets[i + 1] if i + 1 < len(self.offsets)
              else 1 << 61) - 1
        return lo, hi

    def _local_after(self, i: int, after):
        """Translate a GLOBAL (doc_id, score) cursor for sub i: a local
        doc d (global g = d + offset) ranks after the cursor iff
        score < s OR (score == s AND g > a). Clamping the doc part
        into the sub's local range preserves exactly that predicate."""
        if after is None:
            return None
        a, s = int(after[0]), float(after[1])
        lo, _ = self._sub_range(i)
        local = a - lo
        if local < -1:
            local = -1          # cursor doc precedes this sub: ties pass
        elif local > _BEYOND:
            local = _BEYOND     # cursor doc after this sub: ties blocked
        return (local, s)

    def _local_ids(self, i: int, ids):
        """GLOBAL doc_ids -> sub i's local ids (members only)."""
        if ids is None:
            return None
        lo, hi = self._sub_range(i)
        return [g - lo for g in ids if lo <= g <= hi]

    # -- queries ---------------------------------------------------------

    def _merged(self, per_sub: list[list[tuple[int, float]]],
                k: int) -> list[tuple[int, float]]:
        allhits = [
            (d + self.offsets[i], sc)
            for i, hits in enumerate(per_sub) for d, sc in hits
        ]
        allhits.sort(key=lambda t: (-t[1], t[0]))
        return allhits[:k]

    def search(self, qtext_or_terms, *, k: int = 10, stem: bool = True,
               prune: bool = True, mode: str = "and", fast: bool = True,
               exclude=None, after: tuple[int, float] | None = None,
               msm: int = 1, restrict=None, exclude_docs=None,
               ) -> list[tuple[int, float]]:
        """Top-k (GLOBAL doc_id, score) across every sub-index —
        LocalSearcher.search semantics (AND/OR, msm, NOT-terms,
        cursor pagination, restrict/exclude_docs on GLOBAL ids)."""
        per_sub = [
            s.search(qtext_or_terms, k=k, stem=stem, prune=prune,
                     mode=mode, fast=fast, exclude=exclude,
                     after=self._local_after(i, after), msm=msm,
                     restrict=self._local_ids(i, restrict),
                     exclude_docs=self._local_ids(i, exclude_docs))
            for i, s in enumerate(self.subs)
        ]
        return self._merged(per_sub, k)

    def search_grouped(self, qtext_or_groups, *, k: int = 10,
                       stem: bool = True, exclude=None,
                       after: tuple[int, float] | None = None,
                       boosts: dict[str, float] | None = None,
                       prune: bool = True, fast: bool = True,
                       restrict=None, exclude_docs=None,
                       ) -> list[tuple[int, float]]:
        """Grouped boolean (OR-groups, boosts, NOT) across the
        federation — GLOBAL ids, same merge rule as search()."""
        per_sub = [
            s.search_grouped(qtext_or_groups, k=k, stem=stem,
                             exclude=exclude,
                             after=self._local_after(i, after),
                             boosts=boosts, prune=prune, fast=fast,
                             restrict=self._local_ids(i, restrict),
                             exclude_docs=self._local_ids(i, exclude_docs))
            for i, s in enumerate(self.subs)
        ]
        return self._merged(per_sub, k)

    def search_lmd(self, qtext_or_terms, *, k: int = 10,
                   stem: bool = True, mode: str = "and",
                   mu: float = 2000.0, exclude=None, restrict=None,
                   ) -> list[tuple[int, float]]:
        """LM-Dirichlet ranking across the federation — every sub
        scores with the GLOBAL cf/total_tokens installed at
        construction, so contributions are bit-equal to the merged
        index's. Per-sub AND emptiness is exact: a term with no live
        postings in a sub admits no matching doc FROM that sub in the
        merged index either."""
        per_sub = [
            s.search_lmd(qtext_or_terms, k=k, stem=stem, mode=mode,
                         mu=mu, exclude=exclude,
                         restrict=self._local_ids(i, restrict))
            for i, s in enumerate(self.subs)
        ]
        return self._merged(per_sub, k)

    # -- positional / field surfaces (round 5) ---------------------------

    def _phrasers(self) -> list:
        """Per-sub PhraseSearchers, built lazily (every sub must carry
        a positional table — the same precondition the single-index
        phrase path has)."""
        if self._phrasers_cache is None:
            from search_engine_spark.plans.positions import PhraseSearcher

            ps = []
            for s in self.subs:
                if not os.path.exists(
                    os.path.join(s.root, "positions_meta.json")
                ):
                    raise ValueError(
                        f"{s.root} has no positional table — rebuild "
                        "with --positions (every federated sub needs "
                        "one for phrase serving)"
                    )
                ps.append(PhraseSearcher(s.root))
            self._phrasers_cache = ps
        return self._phrasers_cache

    def search_phrase(self, query, k: int = 10, *,
                      restrict=None) -> list[tuple[int, int]]:
        """Exact-phrase top-k (GLOBAL doc_id, phrase_tf) across the
        federation. Phrase tf is intrinsic to the document (no
        collection statistics), so per-sub search + the (tf desc,
        global doc_id asc) k-way merge is bit-identical to the folded
        index's search_phrase — the plain every-doc-lives-in-exactly-
        one-sub argument."""
        per_sub = [
            p.search_phrase(query, k=k,
                            restrict=self._local_ids(i, restrict))
            for i, p in enumerate(self._phrasers())
        ]
        allhits = [
            (d + self.offsets[i], tf)
            for i, hits in enumerate(per_sub) for d, tf in hits
        ]
        allhits.sort(key=lambda t: (-t[1], t[0]))
        return allhits[:k]

    def search_mixed(self, qtext: str, *, k: int = 10,
                     stem: bool = True, synonyms=None, restrict=None,
                     after=None) -> list[tuple[int, float]]:
        """Mixed phrase+boolean queries (plans/phraseq grammar) across
        the federation. The one constant a per-sub evaluation would
        get wrong is each positive phrase's df (its idf must count
        matches across ALL subs, as the folded index would); it is
        computed first — one tombstone-masked match count per sub,
        summed — and installed as phraseq's phrase_df override. Every
        other constant already rides the globally-rebased sub
        searchers (n_docs/avgdl/df overrides from __init__);
        proximity filters and NOT-phrases are score-free doc sets, so
        per-sub evaluation is exact as-is."""
        from search_engine_spark.plans.phraseq import (
            parse_mixed_query,
            search_mixed,
        )

        phrases, _rest = parse_mixed_query(qtext, stem=stem)
        positive = [p for p in phrases if not p[2] and p[3] is None]
        phrasers = self._phrasers() if phrases else []
        phrase_df: dict[tuple[str, ...], int] = {}
        for toks, _boost, _neg, _slop in positive:
            phrase_df[toks] = sum(
                p.phrase_counts_arrays(list(toks))[0].size
                for p in phrasers
            )
        per_sub = [
            search_mixed(
                s, phrasers[i] if phrasers else None, qtext, k=k,
                stem=stem, synonyms=synonyms,
                restrict=self._local_ids(i, restrict),
                after=self._local_after(i, after),
                phrase_df=phrase_df or None,
            )
            for i, s in enumerate(self.subs)
        ]
        return self._merged(per_sub, k)

    def search_fielded(self, qtext: str, *, k: int = 10,
                       stem: bool = True, restrict=None,
                       static_boosts: bool = True,
                       ) -> list[tuple[int, float]]:
        """Field-scoped conjunctions (title:spark join) across the
        federation. Each FIELD is itself a family of per-sub ordinary
        indexes, so the same constants-rebasing recipe the body got in
        __init__ applies per field: global n_docs/sum_doclen/avgdl
        from exact additive integers, a summed-df override, and the
        avgdl-monotonicity tfnorm rescale — then each sub serves the
        whole clause set locally and the (score desc, global doc_id
        asc) merge reproduces the folded index's ranking."""
        from search_engine_spark.plans.multifield import (
            known_fields,
            search_fielded,
        )

        fields = known_fields(self.subs[0].root)
        for s in self.subs[1:]:
            if known_fields(s.root) != fields:
                raise ValueError(
                    "federated subs disagree on built field indexes "
                    f"({sorted(fields)} vs "
                    f"{sorted(known_fields(s.root))}) — fold or build "
                    "the missing fields first"
                )
        if self._field_subs is None:
            self._field_subs = {}
            for name in sorted(fields - {"body"}):
                fs = [
                    LocalSearcher(os.path.join(s.root, "fields", name))
                    for s in self.subs
                ]
                n = sum(x.n_docs for x in fs)
                sdl = sum(x.sum_doclen for x in fs)
                avg = float(sdl) / float(n) if n else 0.0
                gdf = _GlobalDF(fs)
                for x in fs:
                    if avg > x.avgdl:
                        x._tfnorm_scale *= avg / x.avgdl
                    x.avgdl = avg
                    x.n_docs = n
                    x.sum_doclen = sdl
                    x._idf_df = gdf
                self._field_subs[name] = fs
        per_sub = []
        for i, s in enumerate(self.subs):
            searchers = {"body": s}
            for name, fs in self._field_subs.items():
                searchers[name] = fs[i]
            per_sub.append(
                search_fielded(
                    s.root, qtext, k=k, stem=stem,
                    restrict=self._local_ids(i, restrict),
                    static_boosts=static_boosts, searchers=searchers,
                )
            )
        return self._merged(per_sub, k)

    def _owner(self, doc_id: int) -> int:
        """Index of the sub that owns a global doc_id (ids beyond the
        last sub's range route to the last sub, which reports them
        absent — same as an unknown id on a merged index)."""
        i = len(self.offsets) - 1
        while i > 0 and doc_id < self.offsets[i]:
            i -= 1
        return i

    def explain_score(self, qtext_or_terms, doc_id: int, *,
                      stem: bool = True) -> dict:
        """Score breakdown for a GLOBAL doc_id — the owning sub's
        explain (its idf/contributions already use global constants),
        with the reported per-term df patched to the global value so
        the output matches the merged index's explain."""
        i = self._owner(int(doc_id))
        out = self.subs[i].explain_score(
            qtext_or_terms, int(doc_id) - self.offsets[i], stem=stem
        )
        out["doc_id"] = int(doc_id)
        if not out["deleted"]:
            for row in out["terms"]:
                g = self._gdf[row["term"]]
                if g > 0:
                    row["df"] = int(g)
                    row["idf"] = self.subs[i]._idf(row["term"])
        return out

    def get_texts(self, doc_ids) -> dict[int, str]:
        """{GLOBAL doc_id: stored text} across every sub's docstore
        (each sub must have been built --store-text)."""
        from search_engine_spark.plans.docstore import DocStore

        out: dict[int, str] = {}
        for i, s in enumerate(self.subs):
            lo, hi = self._sub_range(i)
            local = [g - lo for g in doc_ids if lo <= g <= hi]
            if not local:
                continue
            if s._docstore is None:
                s._docstore = DocStore(s.root)
            for d, t in s._docstore.get_texts(local).items():
                out[d + lo] = t
        return out

    def prefix_terms(self, prefix: str,
                     limit: int = 1000) -> list[tuple[str, int]]:
        """Dictionary prefix scan with GLOBAL df — exact under the
        cap: results are term-ascending, so any term inside the global
        first-`limit` is inside every sub's first-`limit`."""
        agg: dict[str, int] = {}
        for s in self.subs:
            for t, df in s.prefix_terms(prefix, limit=limit):
                agg[t] = agg.get(t, 0) + df
        return sorted(agg.items())[:limit]

    def vocab_terms(self, *, contains: str | None = None,
                    regex: str | None = None, limit: int = 1000,
                    by_df: bool = False) -> list[tuple[str, int]]:
        """Infix/regex dictionary scan with GLOBAL df. The df-ranked
        cap cannot be pushed into the subs (a globally-hot term may be
        locally cold in every one), so each sub scans uncapped — the
        same O(vocabulary) bound the scan has anyway — and the cap
        applies to the merged list."""
        import sys

        agg: dict[str, int] = {}
        for s in self.subs:
            for t, df in s.vocab_terms(contains=contains, regex=regex,
                                       limit=sys.maxsize, by_df=False):
                agg[t] = agg.get(t, 0) + df
        if by_df:
            out = sorted(agg.items(), key=lambda td: (-td[1], td[0]))
        else:
            out = sorted(agg.items())
        return out[:limit]

    def suggest(self, term: str, *, k: int = 3,
                max_distance: int = 2) -> list[tuple[str, int]]:
        """SymSpell suggestions over the UNION dictionary with GLOBAL
        df — identical to a suggest table rebuilt on the merged index:
        candidate membership is a union (each sub probes its own
        deletion table) and df is additive; the (distance asc, df
        desc, term asc) ranking is shared."""
        from search_engine_spark.plans.suggest import (
            Suggester, _deletes, damerau_levenshtein,
        )

        if self._suggesters is None:
            self._suggesters = [Suggester(s.root) for s in self.subs]
        variants = _deletes(term)
        cands: dict[str, int] = {}
        for sg in self._suggesters:
            for t, df in sg._probe(variants).items():
                cands[t] = cands.get(t, 0) + df
        scored = []
        for t, df in cands.items():
            d = damerau_levenshtein(term, t, cap=max_distance)
            if d <= max_distance:
                scored.append((d, -df, t))
        scored.sort()
        return [(t, -ndf) for _, ndf, t in scored[:k]]

    def refresh_deletes(self) -> None:
        for s in self.subs:
            s.refresh_deletes()

    def clear_static_boosts(self) -> None:
        for s in self.subs:
            s.clear_static_boosts()

    def url_lookup(self, doc_ids) -> dict[int, str]:
        """GLOBAL doc_id -> url across every sub's urlmap (row-group
        pruned per sub, like query.py's single-index lookup)."""
        import pyarrow.dataset as ds

        out: dict[int, str] = {}
        for i, s in enumerate(self.subs):
            lo, hi = self._sub_range(i)
            local = [g - lo for g in doc_ids if lo <= g <= hi]
            if not local:
                continue
            urlmap = os.path.join(s.root, "urlmap")
            if not os.path.isdir(urlmap):
                continue
            tbl = ds.dataset(urlmap, format="parquet").to_table(
                columns=["doc_id", "url"],
                filter=ds.field("doc_id").isin(local),
            )
            for d, u in zip(tbl["doc_id"].to_pylist(),
                            tbl["url"].to_pylist()):
                out[d + lo] = u
        return out
