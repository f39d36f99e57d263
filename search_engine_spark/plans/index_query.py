"""Query the materialized index (SURVEY.md section 3.2, distributed path).

Plan shape:
    dictionary lookup (term IN qterms -> df, bucket)      [J1, tiny]
    -> postings scan WHERE bucket IN (...) AND term IN (...)
       (static partition pruning on bucket dirs + parquet row-group
        pruning on the sorted term column)                 [J2]
    -> decode UDF: segments -> (term, doc_id, tf, doclen)  [Arrow]
    -> partial score projection (idf broadcast-joined)     [A8]
    -> groupBy(doc_id) HAVING matched == |q| -> sum        [J3 AND]
    -> TakeOrderedAndProject(k, score desc, doc_id asc)    [O2/O4]

No doc-side join anywhere: doclen was baked into the segments at build
time. Must be result-identical to plans.scoring.bm25_exhaustive — the
equivalence is property-tested.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from search_engine_spark import B, K1
from search_engine_spark.functions.codec import decode_postings, decode_varints
from search_engine_spark.plans.build_index import IndexPaths
from search_engine_spark.plans.scoring import analyze_query

DECODED_SCHEMA = "term string, doc_id long, tf int, doclen int"

_NO_DELETES = np.empty(0, dtype=np.int64)


def _decode_segments(batches: Iterator[pd.DataFrame],
                     deleted: np.ndarray = _NO_DELETES,
                     ) -> Iterator[pd.DataFrame]:
    from search_engine_spark.plans.deletes import mask_deleted

    for pdf in batches:
        terms: list[np.ndarray] = []
        docs: list[np.ndarray] = []
        tfs: list[np.ndarray] = []
        dls: list[np.ndarray] = []
        for row in pdf.itertuples(index=False):
            d, t = decode_postings(row.doc_ids, row.tfs)
            l = decode_varints(row.doclens).astype(np.int64)
            d, t, l = mask_deleted(deleted, d, t, l)
            terms.append(np.full(d.size, row.term, dtype=object))
            docs.append(d)
            tfs.append(t)
            dls.append(l)
        if not docs:
            yield pd.DataFrame(
                {"term": [], "doc_id": [], "tf": [], "doclen": []}
            ).astype({"doc_id": "int64", "tf": "int32", "doclen": "int32"})
            continue
        yield pd.DataFrame(
            {
                "term": np.concatenate(terms),
                "doc_id": np.concatenate(docs),
                "tf": np.concatenate(tfs).astype("int32"),
                "doclen": np.concatenate(dls).astype("int32"),
            }
        )


class IndexReader:
    """Handle to a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from search_engine_spark.plans.publish import open_pinned

        self.spark = spark
        open_pinned(index_dir, self._open)

    def _open(self, root: str) -> None:
        from search_engine_spark.plans.build_index import _read_meta
        from search_engine_spark.plans.deletes import (
            IN_CLOSURE_MAX, load_tombstones,
        )

        self.paths = IndexPaths(root)
        meta = _read_meta(self.spark, self.paths)
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        self.n_buckets = int(meta["n_buckets"])
        # exact total token count (Dirichlet-similarity denominator);
        # pre-sum_doclen indexes reconstruct from the floating avgdl
        self.sum_doclen = int(
            meta.get("sum_doclen")
            or round(self.n_docs * self.avgdl)
        )
        self._dict_ds = None  # lazy pyarrow dataset over the dictionary
        # tombstones (plans/deletes): masked inside the decode UDF when
        # the set is closure-sized (one vectorized searchsorted per
        # Arrow batch, zero extra plan nodes); huge sets anti-join
        # instead so the task closure never ships an unbounded array.
        # df/n_docs/avgdl stay build-time values until compact_index.
        self._deleted = load_tombstones(root)
        self._deleted_in_closure = self._deleted.size <= IN_CLOSURE_MAX
        # static additive doc prior (PageRank etc): lazily-read
        # (doc_id, boost) table; joined onto results when present.
        # Written by `index_admin.py pagerank` / set-boosts.
        self._boosts_dir = os.path.join(root, "boosts")
        self._has_boosts = os.path.isdir(self._boosts_dir)

    def clear_static_boosts(self) -> None:
        """Score pure BM25 even when the index carries a boosts table
        (LocalSearcher.clear_static_boosts twin)."""
        self._has_boosts = False

    def _boosted_df(self, agg: DataFrame) -> DataFrame:
        """(doc_id, score) -> score + static boost when the index
        carries a boosts table. A left join against a doc_id-keyed
        side (broadcast when small, AQE decides); absent ids boost 0."""
        if not self._has_boosts:
            return agg
        b = self.spark.read.parquet(self._boosts_dir).select(
            "doc_id", F.col("boost").cast("double").alias("_b")
        )
        return (
            agg.join(b, "doc_id", "left")
            .select(
                "doc_id",
                (F.col("score")
                 + F.coalesce(F.col("_b"), F.lit(0.0))).alias("score"),
            )
        )

    def refresh_deletes(self) -> None:
        """Re-read the tombstone table on a live reader."""
        from search_engine_spark.plans.deletes import (
            IN_CLOSURE_MAX, load_tombstones,
        )

        self._deleted = load_tombstones(self.paths.root)
        self._deleted_in_closure = self._deleted.size <= IN_CLOSURE_MAX

    def lookup_terms(self, qterms: list[str]) -> list:
        """J1: dictionary rows for the query's terms — NO Spark job.

        bucket = pmod(xxhash64(term), n_buckets) is computed locally
        (functions.hashing — fuzz-tested bit-equal to the JVM), so the
        former tiny hash job (~100 ms scheduling floor on EVERY query)
        is gone; the dictionary rows come from a pyarrow read that
        prunes to the terms' bucket dirs and then to the term-sorted
        row groups within them. At a 10^8-term vocabulary this touches
        a handful of row groups, not the dictionary."""
        if not qterms:
            return []
        from collections import namedtuple

        import pyarrow.dataset as pads

        from search_engine_spark.functions.hashing import term_bucket

        buckets = sorted({term_bucket(t, self.n_buckets) for t in qterms})

        def read():
            if self._dict_ds is None:
                self._dict_ds = pads.dataset(
                    self.paths.dictionary, format="parquet",
                    partitioning="hive",
                )
            return self._dict_ds.to_table(
                columns=["term", "df", "bucket"],
                filter=pads.field("bucket").isin(buckets)
                & pads.field("term").isin(qterms),
            )

        try:
            tbl = read()
        except (FileNotFoundError, OSError):
            # the dictionary was rewritten under us (extend_index /
            # merge_staged_epochs overwrite it) — drop the cached file
            # listing and retry once against the fresh layout
            self._dict_ds = None
            tbl = read()
        Row = namedtuple("DictRow", ["term", "df", "bucket"])
        return [
            Row(t, int(d), int(b))
            for t, d, b in zip(
                tbl["term"].to_pylist(),
                tbl["df"].to_pylist(),
                tbl["bucket"].to_pylist(),
            )
        ]

    def decoded_postings(self, qterms: list[str], buckets: list[int]) -> DataFrame:
        segs = self.spark.read.parquet(self.paths.postings).filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(qterms)
        )
        cols = segs.select("term", "doc_ids", "tfs", "doclens")
        if self._deleted.size and self._deleted_in_closure:
            deleted = self._deleted

            def decode(batches):
                return _decode_segments(batches, deleted)

            return cols.mapInPandas(decode, DECODED_SCHEMA)
        decoded = cols.mapInPandas(_decode_segments, DECODED_SCHEMA)
        if self._deleted.size:  # closure-oversized set: anti-join
            from search_engine_spark.plans.deletes import tombstones_df

            tomb = tombstones_df(self.spark, self.paths.root)
            decoded = decoded.join(tomb, "doc_id", "left_anti")
        return decoded

    def _excluded_docs_df(self, exclude: list[str]) -> DataFrame | None:
        """Distinct doc_ids containing ANY excluded term (NOT-term
        support), as a DataFrame for a left_anti join — bucket-pruned
        postings scan, df-bounded output."""
        rows = self.lookup_terms(exclude)
        if not rows:
            return None
        terms = sorted({r.term for r in rows})
        buckets = sorted({r.bucket for r in rows})
        return self.decoded_postings(terms, buckets).select("doc_id").distinct()

    def search(self, qtext_or_terms, *, k: int = 10, stem: bool = True,
               mode: str = "and", exclude=None, offset: int = 0,
               msm: int = 1, restrict=None) -> DataFrame:
        """offset: deep-pagination twin of LocalSearcher's `after`
        cursor — skip the first `offset` ranked results. Offset-based
        (not score-cursor-based) on purpose: distributed float sums
        are not bit-stable across runs (shuffle merge order), so a
        score-equality cursor could silently drop or repeat a row; a
        row_number over the deterministic (score desc, doc_id asc)
        order never does."""
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        agg = self.match_scores(qtext_or_terms, stem=stem, mode=mode,
                                exclude=exclude, msm=msm, restrict=restrict)
        if agg is None:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self._topk(agg, k, offset)

    def match_scores(self, qtext_or_terms, *, stem: bool = True,
                     mode: str = "and", exclude=None,
                     msm: int = 1, restrict=None) -> DataFrame | None:
        """The FULL match set with BM25 scores — (doc_id, score), no
        top-k truncation. The building block search() ranks and the
        distributed multi-field twin (plans/multifield) re-ranks;
        returns None when no query term exists in the index (or a
        required term is missing under AND semantics).

        restrict: filter-clause pre-filter (LocalSearcher.search
        restrict twin) — a DataFrame with a doc_id column, or an
        iterable of doc_ids. Semi-joined against the DECODED postings
        BEFORE scoring/aggregation, so the filter prunes below the
        shuffle (never a post-filter over the ranked output)."""
        spark = self.spark
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
        if not qterms:
            return None
        dict_rows = self.lookup_terms(qterms)
        found = {r.term for r in dict_rows}
        if mode == "and" and not set(qterms) <= found:
            return None  # a missing term makes the intersection empty
        qterms = [t for t in qterms if t in found]
        if not qterms:
            return None
        n_terms = len(qterms)
        idf_rows = [
            (r.term, math.log(1.0 + (self.n_docs - r.df + 0.5) / (r.df + 0.5)))
            for r in dict_rows if r.term in set(qterms)
        ]
        idf_df = spark.createDataFrame(idf_rows, "term string, idf double")
        buckets = sorted({r.bucket for r in dict_rows})

        decoded = self.decoded_postings(qterms, buckets)
        if restrict is not None:
            if isinstance(restrict, DataFrame):
                rdf = restrict.select("doc_id").distinct()
            else:
                rdf = spark.createDataFrame(
                    [(int(d),) for d in restrict], "doc_id long"
                ).distinct()
            decoded = decoded.join(rdf, "doc_id", "left_semi")
        scored = decoded.join(F.broadcast(idf_df), "term").withColumn(
            "partial",
            F.col("idf")
            * (
                F.col("tf").cast("double") * F.lit(K1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("doclen").cast("double") / F.lit(self.avgdl)
                    )
                )
            ),
        )
        agg = scored.groupBy("doc_id").agg(
            F.sum("partial").alias("score"), F.count("*").alias("n_matched")
        )
        if mode == "and":
            agg = agg.filter(F.col("n_matched") == n_terms)
        elif msm > 1:
            # minimum-should-match: docs matching >= msm of the PRESENT
            # query terms (LocalSearcher.search msm twin). Counted over
            # present terms — absent terms were already dropped above.
            if msm > n_terms:
                return None
            agg = agg.filter(F.col("n_matched") >= msm)
        if exclude:
            edocs = self._excluded_docs_df(list(dict.fromkeys(exclude)))
            if edocs is not None:
                agg = agg.join(edocs, "doc_id", "left_anti")
        return self._boosted_df(agg.select("doc_id", "score"))

    def search_lmd(self, qtext_or_terms, *, k: int = 10,
                   stem: bool = True, mode: str = "and",
                   mu: float = 2000.0, exclude=None, restrict=None,
                   offset: int = 0) -> DataFrame:
        """Distributed twin of LocalSearcher.search_lmd — LM-Dirichlet
        ranking over the index (scoring.lmd_exhaustive semantics:
        score = Σ_matched [ln(1+tf/(μ·p_t)) + ln(μ/(μ+dl))], p_t =
        cf_t/total_tokens). Same plan shape as match_scores: pruned
        dictionary lookup → bucket-pruned postings decode → per-term
        cf as a broadcast agg over the decoded rows (tombstone-masked,
        matching the local path) → codegen partial → groupBy top-k.
        Scores PURE LMD (no static boost — the additive prior is a
        BM25-calibrated quantity). Property-tested ≡ local in
        tests/test_lmd.py."""
        spark = self.spark
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        if isinstance(qtext_or_terms, str):
            qterms = analyze_query(qtext_or_terms, stem=stem)
        else:
            qterms = list(dict.fromkeys(qtext_or_terms))
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        empty = spark.createDataFrame([], "doc_id long, score double")
        if not qterms:
            return empty
        dict_rows = self.lookup_terms(qterms)
        found = {r.term for r in dict_rows}
        if mode == "and" and not set(qterms) <= found:
            return empty
        qterms = [t for t in qterms if t in found]
        if not qterms:
            return empty
        n_terms = len(qterms)
        buckets = sorted({r.bucket for r in dict_rows})
        decoded = self.decoded_postings(qterms, buckets)
        if restrict is not None:
            if isinstance(restrict, DataFrame):
                rdf = restrict.select("doc_id").distinct()
            else:
                rdf = spark.createDataFrame(
                    [(int(d),) for d in restrict], "doc_id long"
                ).distinct()
            decoded = decoded.join(rdf, "doc_id", "left_semi")
        mu = float(mu)
        total = float(self.sum_doclen)
        cfs = decoded.groupBy("term").agg(
            F.sum("tf").cast("double").alias("cf")
        )
        scored = decoded.join(F.broadcast(cfs), "term").withColumn(
            "partial",
            F.log(
                F.lit(1.0)
                + F.col("tf").cast("double")
                / (F.lit(mu) * F.col("cf") / F.lit(total))
            )
            + F.log(F.lit(mu)
                    / (F.lit(mu) + F.col("doclen").cast("double"))),
        )
        agg = scored.groupBy("doc_id").agg(
            F.sum("partial").alias("score"),
            F.count("*").alias("n_matched"),
        )
        if mode == "and":
            agg = agg.filter(F.col("n_matched") == n_terms)
        if exclude:
            edocs = self._excluded_docs_df(list(dict.fromkeys(exclude)))
            if edocs is not None:
                agg = agg.join(edocs, "doc_id", "left_anti")
        return self._topk(agg.select("doc_id", "score"), k, offset)

    @staticmethod
    def _topk(ranked: DataFrame, k: int, offset: int) -> DataFrame:
        """(score desc, doc_id asc) top-k with optional offset paging.
        TakeOrderedAndProject still applies (limit offset+k is a
        constant); the leading rows are dropped driver-side cheap."""
        if offset:
            w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            return (
                ranked.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(offset + k)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > offset)
                .drop("_rn")
            )
        return (
            ranked.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_grouped(self, qtext_or_groups, *, k: int = 10,
                       stem: bool = True, exclude=None,
                       offset: int = 0,
                       boosts: dict[str, float] | None = None,
                       restrict=None) -> DataFrame:
        """Distributed grouped boolean query (parse_grouped_query
        semantics; result-identical to LocalSearcher.search_grouped):
        scoring runs over the DISTINCT query terms; the
        conjunction-of-groups is a separate (term, grp) broadcast
        join filtered on count(DISTINCT grp) == n_groups and
        semi-joined back. A group whose terms are all absent is
        naturally unsatisfiable."""
        agg = self.match_scores_grouped(
            qtext_or_groups, stem=stem, exclude=exclude, boosts=boosts,
            restrict=restrict,
        )
        if agg is None:
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        return self._topk(agg, k, offset)

    def match_scores_grouped(self, qtext_or_groups, *,
                             stem: bool = True, exclude=None,
                             boosts: dict[str, float] | None = None,
                             restrict=None) -> DataFrame | None:
        """The FULL grouped match set with boosted scores — the
        grouped twin of match_scores (no top-k truncation; the mixed
        phrase+boolean distributed plan re-ranks over it). Returns
        None for an empty/unsatisfiable query."""
        from search_engine_spark.plans.scoring import parse_grouped_query

        spark = self.spark
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
        boosts = boosts or {}
        if isinstance(exclude, str):
            exclude = analyze_query(exclude, stem=stem)
        if not groups:
            return None
        all_terms = list(dict.fromkeys(t for g in groups for t in g))
        dict_rows = self.lookup_terms(all_terms)
        found = {r.term: r for r in dict_rows}
        groups = [[t for t in g if t in found] for g in groups]
        if any(not g for g in groups):
            return None
        terms = list(dict.fromkeys(t for g in groups for t in g))
        # query-time boost folded into the broadcast idf value
        # (score = boost * idf * tfnorm); * 1.0 is bit-exact
        idf_df = spark.createDataFrame(
            [
                (t, boosts.get(t, 1.0)
                 * math.log(1.0 + (self.n_docs - found[t].df + 0.5)
                            / (found[t].df + 0.5)))
                for t in terms
            ],
            "term string, idf double",
        )
        buckets = sorted({found[t].bucket for t in terms})
        decoded = self.decoded_postings(terms, buckets)
        if restrict is not None:
            # filter-clause pre-filter below the shuffle (match_scores
            # restrict twin)
            if isinstance(restrict, DataFrame):
                rdf = restrict.select("doc_id").distinct()
            else:
                rdf = spark.createDataFrame(
                    [(int(d),) for d in restrict], "doc_id long"
                ).distinct()
            decoded = decoded.join(rdf, "doc_id", "left_semi")
        scored = decoded.join(F.broadcast(idf_df), "term").withColumn(
            "partial",
            F.col("idf")
            * (
                F.col("tf").cast("double") * F.lit(K1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("doclen").cast("double")
                        / F.lit(self.avgdl)
                    )
                )
            ),
        )
        grp_df = spark.createDataFrame(
            [(t, gi) for gi, g in enumerate(groups) for t in g],
            "term string, grp int",
        )
        match = (
            decoded.join(F.broadcast(grp_df), "term")
            .groupBy("doc_id")
            .agg(F.count_distinct(F.col("grp")).alias("ng"))
            .filter(F.col("ng") == len(groups))
            .select("doc_id")
        )
        agg = (
            scored.groupBy("doc_id")
            .agg(F.sum("partial").alias("score"))
            .join(match, "doc_id", "left_semi")
        )
        if exclude:
            edocs = self._excluded_docs_df(list(dict.fromkeys(exclude)))
            if edocs is not None:
                agg = agg.join(edocs, "doc_id", "left_anti")
        return self._boosted_df(agg.select("doc_id", "score"))

    def search_batch(
        self, queries: dict, *, k: int = 10, stem: bool = True,
        mode: str = "and", excludes: dict | None = None,
        restrict=None,
    ) -> DataFrame:
        """Batch mode (SURVEY.md 3.2/O2): ALL queries in ONE Spark job.

        The postings scan covers the union of the queries' terms
        (still bucket-pruned); a broadcast (query_id, term, idf) map
        fans each decoded posting out to the queries containing its
        term; ranking is a per-query row_number window. Returns
        (query_id, rank, doc_id, score).

        excludes: optional {query_id: [NOT-terms]} — per-query doc
        suppression via ONE extra pruned postings scan over the union
        of excluded terms, fanned out by a broadcast (query_id, term)
        map and anti-joined on (query_id, doc_id). Ranks are assigned
        AFTER exclusion, so each query's top-k refills.

        Query strings may use the full grouped syntax ('a|b c^2 -d',
        parse_grouped_query semantics; '-d' merges into this query's
        excludes). Internally EVERY query is grouped: a plain query
        is singleton groups under mode='and' and one group under
        mode='or', so one broadcast (query_id, term, grp, widf) map —
        widf = boost*idf on the term's FIRST group row, 0.0 on
        repeats so a cross-group-repeated term scores once — and one
        aggregation (sum(widf*tfnorm), count(DISTINCT grp) ==
        n_groups) serve all shapes.
        """
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        spark = self.spark
        from pyspark.sql import Window as W

        from search_engine_spark.plans.scoring import parse_grouped_query

        excludes = dict(excludes or {})
        parsed: dict[str, tuple[list[list[str]], dict[str, float]]] = {}
        for qid, q in queries.items():
            if isinstance(q, str):
                groups, pexcl, boosts = parse_grouped_query(q, stem=stem)
                if pexcl:
                    prev = excludes.get(qid)
                    prev = (analyze_query(prev, stem=stem)
                            if isinstance(prev, str) else list(prev or []))
                    excludes[qid] = prev + pexcl
                if mode == "or" and "|" not in q and "^" not in q:
                    flat = [t for g in groups for t in g]
                    groups = [flat] if flat else []
            else:
                terms = list(dict.fromkeys(q))
                groups = ([[t] for t in terms] if mode == "and"
                          else ([terms] if terms else []))
                boosts = {}
            parsed[qid] = (groups, boosts)
        all_terms = sorted({t for g, _ in parsed.values()
                            for gg in g for t in gg})
        empty = spark.createDataFrame(
            [], "query_id string, rank long, doc_id long, score double"
        )
        if not all_terms:
            return empty
        dict_rows = self.lookup_terms(all_terms)
        found = {r.term: r for r in dict_rows}
        # drop unknown terms; a query with an emptied group is dead
        # (conjunctive semantics — matches single-query behavior)
        live: dict[str, tuple[list[list[str]], dict[str, float]]] = {}
        for qid, (groups, boosts) in parsed.items():
            if not groups:
                continue
            kept = [[t for t in g if t in found] for g in groups]
            if all(kept):
                live[qid] = (kept, boosts)
        if not live:
            return empty

        def _idf(t):
            return math.log(
                1.0 + (self.n_docs - found[t].df + 0.5) / (found[t].df + 0.5)
            )

        qterm_rows = []
        for qid, (groups, boosts) in live.items():
            seen: set[str] = set()
            for gi, g in enumerate(groups):
                for t in g:
                    widf = 0.0
                    if t not in seen:
                        seen.add(t)
                        widf = boosts.get(t, 1.0) * _idf(t)
                    qterm_rows.append(
                        (str(qid), t, gi, widf, len(groups))
                    )
        qmap = spark.createDataFrame(
            qterm_rows,
            "query_id string, term string, grp int, widf double,"
            " n_groups int",
        )
        need = sorted({t for g, _ in live.values() for gg in g for t in gg})
        buckets = sorted({found[t].bucket for t in need})
        decoded = self.decoded_postings(need, buckets)
        if restrict is not None:
            # batch-wide filter clause (site: scoping) — pre-filter
            # below the shuffle, shared by every query in the batch
            if isinstance(restrict, DataFrame):
                rdf = restrict.select("doc_id").distinct()
            else:
                rdf = spark.createDataFrame(
                    [(int(d),) for d in restrict], "doc_id long"
                ).distinct()
            decoded = decoded.join(rdf, "doc_id", "left_semi")
        scored = decoded.join(F.broadcast(qmap), "term").withColumn(
            "partial",
            F.col("widf")
            * (
                F.col("tf").cast("double") * F.lit(K1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("doclen").cast("double") / F.lit(self.avgdl)
                    )
                )
            ),
        )
        agg = scored.groupBy("query_id", "doc_id").agg(
            F.sum("partial").alias("score"),
            F.count_distinct(F.col("grp")).alias("n_matched"),
            F.first("n_groups").alias("n_groups"),
        ).filter(F.col("n_matched") == F.col("n_groups"))
        if excludes:
            emap = {
                str(qid): [
                    t for t in dict.fromkeys(
                        analyze_query(ts, stem=stem)
                        if isinstance(ts, str) else ts
                    )
                ]
                for qid, ts in excludes.items()
            }
            all_excl = sorted({t for ts in emap.values() for t in ts})
            erows = self.lookup_terms(all_excl) if all_excl else []
            if erows:
                eterms = sorted({r.term for r in erows})
                ebuckets = sorted({r.bucket for r in erows})
                eset = set(eterms)
                pair_rows = [
                    (qid, t)
                    for qid, ts in emap.items()
                    for t in ts if t in eset
                ]
                pair_df = spark.createDataFrame(
                    pair_rows, "query_id string, term string"
                )
                edocs = (
                    self.decoded_postings(eterms, ebuckets)
                    .join(F.broadcast(pair_df), "term")
                    .select("query_id", "doc_id")
                    .distinct()
                )
                agg = agg.join(edocs, ["query_id", "doc_id"], "left_anti")
        if self._has_boosts:
            # static prior applied per (query_id, doc_id) BEFORE ranks
            b = self.spark.read.parquet(self._boosts_dir).select(
                "doc_id", F.col("boost").cast("double").alias("_b")
            )
            agg = agg.join(b, "doc_id", "left").withColumn(
                "score", F.col("score") + F.coalesce(F.col("_b"), F.lit(0.0))
            ).drop("_b")
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            agg.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )
