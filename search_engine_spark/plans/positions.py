"""Positional posting index + serving-path phrase search.

Phrase queries need term POSITIONS, which the base index deliberately
omits (postings carry only tf — SURVEY.md §2.3 T6). This module adds
the standard IR answer: a positional postings table, built the same
Spark-first way as the base index and served by the same
pyarrow-row-group-pruned local reader pattern as plans/wand.py.

Layout: one row per (term, doc) — `term, doc_id, npos, positions`
where `positions` is a delta-gap + LEB128-varint blob of the term's
0-based token offsets in the doc (first offset raw, then gaps >= 1).
Rows are hive-partitioned by bucket = pmod(xxhash64(term), n_buckets)
and sorted by (term, doc_id) within files, so a phrase query touches
only its terms' buckets and row groups — identical seek structure to
the base postings (plans/wand.py LocalSearcher).

Scale notes (10^12 docs): the build is ONE shuffle of roughly
corpus-token-count bytes (position blobs varint-compress to ~1-2
bytes/token) — positional indexes are canonically ~2x the base index,
and this one pays one repartition to get bucket-partition pruning at
serving time. Hot-term groups need no salting here: rows stay
per-(term, doc), never collected into one task's memory — the shuffle
key is `bucket` and within-partition sort spills via
UnsafeExternalSorter. Phrase evaluation reads ONLY the phrase terms'
rows: doc-id intersection first (cheapest filter), then
position-adjacency checks on the surviving docs.

Equivalence: PhraseSearcher.search_phrase == the scan-path
operators/phrases.py sliding-window counts, property-tested on
randomized corpora/phrases (tests/test_phrases.py).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.functions.codec import decode_varints, encode_varints_runs
from search_engine_spark.plans.footer import footer_index, key_rows
from search_engine_spark.plans.publish import open_pinned, write_json

POSITIONS_SCHEMA = "term string, doc_id long, npos int, positions binary"


def encode_positions(pos: np.ndarray) -> bytes:
    """Delta-gap + varint encode a strictly-increasing offset array."""
    p = np.ascontiguousarray(pos, dtype=np.int64)
    if p.size == 0:
        return b""
    gaps = np.empty_like(p)
    gaps[0] = p[0]
    np.subtract(p[1:], p[:-1], out=gaps[1:])
    from search_engine_spark.functions.codec import encode_varints

    return encode_varints(gaps)


def decode_positions(blob: bytes) -> np.ndarray:
    """Inverse of encode_positions -> int64 offsets."""
    gaps = decode_varints(blob)
    return np.cumsum(gaps.astype(np.int64))


def _positions_kernel(stem: bool, text_col: str, id_col: str,
                      html_col: str | None):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from search_engine_spark.functions.text import analyze, extract_text

        memo: dict[str, str] = {}
        for pdf in batches:
            texts = pdf[text_col]
            htmls = pdf[html_col] if html_col else None
            ids_in = pdf[id_col].to_numpy()
            out_terms: list[str] = []
            out_docs: list[int] = []
            # one concatenated offsets array + run starts -> ONE
            # vectorized varint pass for the whole batch (per-run
            # codec calls are the measured overhead killer — see
            # functions/codec.py encode_varints_runs)
            all_gaps: list[np.ndarray] = []
            run_starts: list[int] = []
            run_len = 0
            for i in range(len(pdf)):
                txt = texts.iat[i]
                if (txt is None or txt != txt) and htmls is not None:
                    txt = extract_text(htmls.iat[i])
                toks = analyze(txt, stem=stem, memo=memo)
                if not toks:
                    continue
                arr = pd.Series(toks, dtype="object")
                # positions per distinct term, in first-occurrence order
                codes, uniq = pd.factorize(arr)
                order = np.argsort(codes, kind="stable")
                sorted_codes = codes[order]
                pos_sorted = order.astype(np.int64)  # token offsets
                starts = np.flatnonzero(
                    np.diff(sorted_codes, prepend=sorted_codes[0] - 1)
                )
                bounds = np.append(starts, sorted_codes.size)
                did = int(ids_in[i])
                for u in range(len(uniq)):
                    seg = pos_sorted[bounds[u]:bounds[u + 1]]
                    gaps = np.empty_like(seg)
                    gaps[0] = seg[0]
                    np.subtract(seg[1:], seg[:-1], out=gaps[1:])
                    out_terms.append(uniq[u])
                    out_docs.append(did)
                    all_gaps.append(gaps)
                    run_starts.append(run_len)
                    run_len += seg.size
            if not out_terms:
                continue
            flat = (
                np.concatenate(all_gaps)
                if all_gaps
                else np.empty(0, dtype=np.int64)
            )
            blobs = encode_varints_runs(
                flat, np.asarray(run_starts, dtype=np.int64)
            )
            npos = np.diff(np.append(run_starts, run_len)).astype(np.int32)
            yield pd.DataFrame(
                {
                    "term": pd.Series(out_terms, dtype="object"),
                    "doc_id": np.asarray(out_docs, dtype=np.int64),
                    "npos": npos,
                    "positions": blobs,
                }
            )

    return gen


def build_positions(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 8,
    stem: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    html_col: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Build the positional postings table under <index_dir>/positions.

    Same text pipeline as the base index (analyze = tokenize [+ Porter];
    stemming is 1:1 so stemmed-token offset == raw-token offset).

    mode="append" extends an existing table with NEW docs only (rows
    are per (term, doc), so appending fresh doc_ids is exactly the
    union table — the caller guarantees the ids are new, as
    build_index.py --extend's left-anti url join does). The existing
    meta must agree on n_buckets/stem: term→bucket routing and the
    analyze pipeline are physical invariants of the table.
    """
    meta_path = os.path.join(index_dir, "positions_meta.json")
    if mode == "append":
        with open(meta_path) as f:
            prev = json.load(f)
        if int(prev["n_buckets"]) != n_buckets or bool(prev["stem"]) != stem:
            raise ValueError(
                f"positions table was built with n_buckets="
                f"{prev['n_buckets']}, stem={prev['stem']} — append must "
                "match (term routing / analysis are physical invariants)"
            )
    cols = [id_col, text_col] + ([html_col] if html_col else [])
    narrow = source.select(*cols)
    rows = narrow.mapInPandas(
        _positions_kernel(stem, text_col, id_col, html_col), POSITIONS_SCHEMA
    ).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
    )
    out = os.path.join(index_dir, "positions")
    (
        # the sort MUST lead with the partition column: partitionBy
        # otherwise inserts its own (non-stable) sort by `bucket` at
        # write time, which destroys the (term, doc_id) ordering and
        # with it ALL row-group pruning — measured 17x read
        # amplification per hot-bucket term before the fix. With the
        # bucket-led sort the writer's required ordering is already
        # satisfied, no extra sort runs, and every row group holds a
        # contiguous term range.
        rows.repartition("bucket")
        .sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode(mode)
        .option("parquet.block.size", str(1024 * 1024))
        .partitionBy("bucket")
        .parquet(out)
    )
    write_json(meta_path, {"n_buckets": n_buckets, "stem": stem})
    return out


def phrase_search_distributed(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    k: int = 10,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """Top-k cluster-scale phrase evaluation — ranks
    phrase_counts_distributed by (phrase_tf desc, doc_id asc).
    restrict: filter-clause pre-filter (site:/ts-window) — a DataFrame
    with a doc_id column, semi-joined below the ranking (removal-only,
    the same semantics every other path's restrict carries)."""
    counts = phrase_counts_distributed(spark, index_dir, query)
    if restrict is not None:
        counts = counts.join(
            restrict.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    return counts.orderBy(
        F.desc("phrase_tf"), F.asc("doc_id")
    ).limit(k)


def phrase_counts_distributed(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
) -> DataFrame:
    """Cluster-scale phrase evaluation over the positional table —
    the Spark twin of PhraseSearcher (property-tested identical).
    Returns the FULL tombstone-masked (doc_id, phrase_tf) match set;
    phrase_search_distributed ranks it, the mixed phrase+boolean
    distributed plan (plans/phraseq) joins against it.

    Plan: scan ONLY the phrase terms' bucket partitions (static
    partition pruning on the hive `bucket` column + a pushed `term
    IN (...)` filter), conjunctive group filter (a doc must hold all
    distinct phrase terms), then one tiny applyInPandas adjacency
    kernel per surviving doc group (K rows each — bounded memory
    regardless of corpus size), TakeOrderedAndProject top-k. Shuffle
    is one exchange of the phrase terms' rows only.

    When the phrase-acceleration bigram table exists (plans/
    bigrams.py) and covers a 2-token phrase, the plan collapses to a
    partition-pruned scan of that single bigram posting list with the
    term filter pushed to parquet — no Python stage at all, the same
    direct path the local PhraseSearcher takes.
    """
    with open(os.path.join(index_dir, "positions_meta.json")) as f:
        meta = json.load(f)
    if isinstance(query, str):
        from search_engine_spark.functions.text import analyze

        phrase = analyze(query, stem=bool(meta["stem"]))
    else:
        phrase = list(query)
    if not phrase:
        return spark.createDataFrame([], "doc_id long, phrase_tf long")
    distinct = list(dict.fromkeys(phrase))
    from search_engine_spark.functions.hashing import term_bucket
    from search_engine_spark.plans.deletes import tombstones_df

    # covered 2-token phrase + bigram table present: the cluster twin
    # of the local DIRECT path — a partition-pruned scan of ONE bigram
    # posting list with the term filter pushed to parquet, then
    # TakeOrderedAndProject. Zero Python, zero positional decode.
    bg_meta_path = os.path.join(index_dir, "bigrams_meta.json")
    if len(phrase) == 2 and os.path.exists(bg_meta_path):
        with open(bg_meta_path) as f:
            bmeta = json.load(f)
        hot = frozenset(bmeta.get("hot", ()))
        if bool(bmeta.get("stem")) == bool(meta["stem"]) and (
            phrase[0] in hot or phrase[1] in hot
        ):
            bterm = phrase[0] + " " + phrase[1]
            bb = term_bucket(bterm, int(bmeta["n_buckets"]))
            counts = (
                spark.read.parquet(os.path.join(index_dir, "bigrams"))
                .filter((F.col("bucket") == bb)
                        & (F.col("term") == F.lit(bterm)))
                .select(
                    "doc_id",
                    F.col("tf").cast("long").alias("phrase_tf"),
                )
            )
            tomb = tombstones_df(spark, index_dir)
            if tomb is not None:
                counts = counts.join(
                    F.broadcast(tomb), "doc_id", "left_anti"
                )
            return counts

    buckets = sorted({term_bucket(t, int(meta["n_buckets"])) for t in distinct})
    rows = (
        spark.read.parquet(os.path.join(index_dir, "positions"))
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(distinct))
        .select("term", "doc_id", "positions")
    )

    def adjacency(pdf: pd.DataFrame) -> pd.DataFrame:
        pos = {
            t: decode_positions(b)
            for t, b in zip(pdf["term"], pdf["positions"])
        }
        if len(pos) < len(distinct):
            return pd.DataFrame({"doc_id": [], "phrase_tf": []}).astype(
                {"doc_id": "int64", "phrase_tf": "int64"}
            )
        starts = None
        for j, w in enumerate(phrase):
            shifted = pos[w] - j
            starts = (
                shifted
                if starts is None
                else np.intersect1d(starts, shifted, assume_unique=True)
            )
            if starts.size == 0:
                break
        n = int(starts.size) if starts is not None else 0
        if n == 0:
            return pd.DataFrame({"doc_id": [], "phrase_tf": []}).astype(
                {"doc_id": "int64", "phrase_tf": "int64"}
            )
        return pd.DataFrame(
            {"doc_id": [int(pdf["doc_id"].iat[0])], "phrase_tf": [n]}
        )

    counts = rows.groupBy("doc_id").applyInPandas(
        adjacency, "doc_id long, phrase_tf long"
    )
    # tombstone filter (plans/deletes) — identical semantics to the
    # local PhraseSearcher's candidate mask
    tomb = tombstones_df(spark, index_dir)
    if tomb is not None:
        counts = counts.join(F.broadcast(tomb), "doc_id", "left_anti")
    return counts


def near_docs_distributed(
    spark: SparkSession,
    index_dir: str,
    term_a: str,
    term_b: str,
    slop: int,
) -> DataFrame:
    """Docs where the two DISTINCT (already-analyzed) terms co-occur
    within `slop` positions — PhraseSearcher.near_counts semantics as
    a cluster plan: the proximity FILTER frame for the mixed-query
    distributed path (plans/phraseq). Same bucket-pruned scan shape
    as phrase_counts_distributed; output is tombstone-masked."""
    if term_a == term_b:
        raise ValueError("near query needs two distinct terms")
    with open(os.path.join(index_dir, "positions_meta.json")) as f:
        meta = json.load(f)
    from search_engine_spark.functions.hashing import term_bucket
    from search_engine_spark.plans.deletes import tombstones_df

    pair = [term_a, term_b]
    buckets = sorted(
        {term_bucket(t, int(meta["n_buckets"])) for t in pair}
    )
    rows = (
        spark.read.parquet(os.path.join(index_dir, "positions"))
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(pair))
        .select("term", "doc_id", "positions")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        nothing = pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
        pos = {
            t: decode_positions(b)
            for t, b in zip(pdf["term"], pdf["positions"])
        }
        if len(pos) < 2:
            return nothing
        pa_, pb_ = pos[term_a], pos[term_b]
        right = np.searchsorted(pb_, pa_)
        best = np.iinfo(np.int64).max
        has_r = right < pb_.size
        if has_r.any():
            best = min(best, int((pb_[right[has_r]] - pa_[has_r]).min()))
        has_l = right > 0
        if has_l.any():
            best = min(
                best, int((pa_[has_l] - pb_[right[has_l] - 1]).min())
            )
        if best > slop:
            return nothing
        return pd.DataFrame(
            {"doc_id": np.asarray([pdf["doc_id"].iat[0]],
                                  dtype=np.int64)}
        )

    docs = rows.groupBy("doc_id").applyInPandas(kernel, "doc_id long")
    tomb = tombstones_df(spark, index_dir)
    if tomb is not None:
        docs = docs.join(F.broadcast(tomb), "doc_id", "left_anti")
    return docs


class PhraseSearcher:
    """Local serving path for exact-phrase queries over the positional
    table — footer-indexed pyarrow reads (plans/footer), no Spark job.

    search_phrase evaluation order (cheapest filter first):
    1. per phrase term: (doc_ids, blobs) via bucket + row-group-stat
       pruned reads, LRU-cached;
    2. sorted doc_id intersection across the phrase's DISTINCT terms
       (rarest first — classic conjunctive order);
    3. per surviving doc: decode offsets, adjacency-check
       positions(w_0) + j ∩ positions(w_j) left to right; phrase tf =
       surviving start-offset count (overlaps counted — identical
       semantics to the scan path's sliding window).
    """

    _CACHE = 512

    def __init__(self, index_dir: str):
        open_pinned(index_dir, self._open)

    def _open(self, index_dir: str) -> None:
        with open(os.path.join(index_dir, "positions_meta.json")) as f:
            meta = json.load(f)
        self.root = index_dir
        self.n_buckets = int(meta["n_buckets"])
        self.stem = bool(meta["stem"])
        # tombstones (plans/deletes): masked out of the candidate set,
        # so phrase hits never surface logically-deleted docs
        from search_engine_spark.plans.deletes import load_tombstones

        self._deleted = load_tombstones(index_dir)
        self._files, self._rg = footer_index(
            os.path.join(index_dir, "positions"), "term")
        self._term_cache: dict[str, tuple[np.ndarray, list[bytes]]] = {}
        # decoded-positions cache: term -> (flat positions, per-row
        # start offsets into them). Bounded by total cached VALUES
        # (hot terms carry millions of positions; 32M int64 ≈ 256 MB
        # ceiling), LRU-evicted.
        self._pos_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._pos_cache_values = 0
        self._POS_CACHE_MAX = 32_000_000
        # phrase-acceleration bigram table (plans/bigrams.py): picked
        # up automatically when present AND built with the same
        # analyzer; reader construction (fragment metadata walk) is
        # deferred so non-accelerated indexes pay nothing
        self._bigrams_path = os.path.join(index_dir, "bigrams_meta.json")
        self._bigrams = None
        self._bigrams_loaded = False

    def _bigram_reader(self):
        if not self._bigrams_loaded:
            self._bigrams_loaded = True
            if os.path.exists(self._bigrams_path):
                from search_engine_spark.plans.bigrams import BigramReader

                br = BigramReader(self.root)
                if br.stem == self.stem:
                    self._bigrams = br
        return self._bigrams

    @staticmethod
    def _binary_np(arr) -> tuple[np.ndarray, np.ndarray]:
        """(data uint8 view, absolute int64 offsets) of an Arrow
        binary array — NO per-row Python bytes objects (materializing
        a hot term's 600k blobs via to_pylist was the round-2 cold-
        phrase bottleneck, not the varint decode)."""
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        bufs = arr.buffers()
        width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        offs = np.frombuffer(bufs[1], dtype=width)[
            arr.offset: arr.offset + len(arr) + 1
        ].astype(np.int64)
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        return data, offs

    @staticmethod
    def _gather_bytes(data: np.ndarray, starts: np.ndarray,
                      lens: np.ndarray) -> np.ndarray:
        """One contiguous uint8 array holding the byte ranges
        data[starts[i] : starts[i]+lens[i]] back to back — a single
        vectorized gather, no Python loop over rows."""
        total = int(lens.sum())
        if total == 0:
            return np.empty(0, dtype=np.uint8)
        prefix = np.cumsum(lens) - lens
        idx = (
            np.repeat(starts - prefix, lens)
            + np.arange(total, dtype=np.int64)
        )
        return data[idx]

    def _term_positions_full(self, term: str, rows_data):
        """Decode ALL of a term's position blobs once -> (flat
        positions, per-row start offsets), LRU-cached by value count."""
        cached = self._pos_cache.get(term)
        if cached is not None:
            self._pos_cache[term] = self._pos_cache.pop(term)
            return cached
        _, npos, data, bstarts, blens = rows_data
        gaps = decode_varints(
            self._gather_bytes(data, bstarts, blens)
        ).astype(np.int64)
        c = np.cumsum(gaps)
        ends = np.cumsum(npos)
        starts = ends - npos
        base = np.where(starts > 0, c[starts - 1], 0)
        pos = c - np.repeat(base, npos)
        val = (pos, starts)
        if pos.size <= self._POS_CACHE_MAX:
            self._pos_cache[term] = val
            self._pos_cache_values += pos.size
            while self._pos_cache_values > self._POS_CACHE_MAX and len(
                self._pos_cache
            ) > 1:
                old_pos, _ = self._pos_cache.pop(next(iter(self._pos_cache)))
                self._pos_cache_values -= old_pos.size
        return val

    def _gather_positions(
        self, term: str, rows_data, rows: np.ndarray, counts: np.ndarray,
        *, hot: bool = False,
    ) -> np.ndarray:
        """Concatenated positions of the selected rows. Hot gathers
        (`hot` = THIS gather touches a large fraction of the term's
        rows, or the term is already decoded) go through the
        full-decode cache + a pure gather; selective reads decode only
        the selected blobs (never pay a full hot-term decode for a
        rare-phrase query or a single bound-descending chunk)."""
        docs, npos, data, bstarts, blens = rows_data
        if term in self._pos_cache or hot:
            pos, starts = self._term_positions_full(term, rows_data)
            total = int(counts.sum())
            if total == 0:
                return np.empty(0, dtype=np.int64)
            # segment-gather: index = start[row] + within-segment arange
            prefix = np.cumsum(counts) - counts
            out_idx = (
                np.repeat(starts[rows] - prefix, counts)
                + np.arange(total, dtype=np.int64)
            )
            return pos[out_idx]
        gaps = decode_varints(
            self._gather_bytes(data, bstarts[rows], blens[rows])
        ).astype(np.int64)
        c = np.cumsum(gaps)
        ends = np.cumsum(counts)
        starts = ends - counts
        base = np.where(starts > 0, c[starts - 1], 0)
        return c - np.repeat(base, counts)

    def _term_rows(
        self, term: str
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(sorted doc_ids, npos counts, blob data buffer, per-row
        byte starts, per-row byte lengths), aligned: row r's position
        blob is data[starts[r] : starts[r]+lens[r]]. Blobs stay in one
        uint8 buffer per term — reordering/selecting rows moves int64
        offsets, never bytes."""
        cached = self._term_cache.get(term)
        if cached is not None:
            self._term_cache[term] = self._term_cache.pop(term)
            return cached
        from search_engine_spark.functions.hashing import term_bucket

        b = term_bucket(term, self.n_buckets)
        docs_parts: list[np.ndarray] = []
        npos_parts: list[np.ndarray] = []
        data_parts: list[np.ndarray] = []
        start_parts: list[np.ndarray] = []
        len_parts: list[np.ndarray] = []
        data_base = 0

        def _append(sel) -> None:
            nonlocal data_base
            docs_parts.append(sel["doc_id"].to_numpy(zero_copy_only=False))
            npos_parts.append(sel["npos"].to_numpy(zero_copy_only=False))
            data, offs = self._binary_np(sel["positions"])
            used = data[offs[0]: offs[-1]]
            data_parts.append(used)
            start_parts.append(offs[:-1] - offs[0] + data_base)
            len_parts.append(offs[1:] - offs[:-1])
            data_base += used.size

        # parts arrive in row-group order (plans/footer.key_rows: a hot
        # term's pure row groups skip the term column and the filter):
        # the table is (term, doc_id)-sorted per file, so a single-file
        # bucket arrives already doc-sorted and the argsort below
        # short-circuits.
        for sel in key_rows(self._files, self._rg, term, b,
                            ["doc_id", "npos", "positions"]):
            _append(sel)
        if docs_parts:
            docs = np.concatenate(docs_parts)
            npos = np.concatenate(npos_parts).astype(np.int64)
            data = (
                np.concatenate(data_parts)
                if len(data_parts) > 1 else data_parts[0]
            )
            starts = np.concatenate(start_parts)
            lens = np.concatenate(len_parts)
            if docs.size > 1 and not np.all(docs[1:] > docs[:-1]):
                order = np.argsort(docs, kind="stable")
                docs = docs[order]
                npos = npos[order]
                starts = starts[order]
                lens = lens[order]
        else:
            docs = np.empty(0, dtype=np.int64)
            npos = np.empty(0, dtype=np.int64)
            data = np.empty(0, dtype=np.uint8)
            starts = np.empty(0, dtype=np.int64)
            lens = np.empty(0, dtype=np.int64)
        val = (docs, npos, data, starts, lens)
        if len(self._term_cache) >= self._CACHE:
            self._term_cache.pop(next(iter(self._term_cache)))
        self._term_cache[term] = val
        return val

    def phrase_terms(self, query: str) -> list[str]:
        """Analyze a phrase with the SAME pipeline the table was built
        with (order-preserving — phrases are positional)."""
        from search_engine_spark.functions.text import analyze

        return analyze(query, stem=self.stem)

    @staticmethod
    def _isect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Sorted-unique intersection; when one side is much smaller,
        a searchsorted membership test (O(small log big)) replaces
        np.intersect1d's concatenate-and-sort (O((n+m) log(n+m)) —
        the measured cost of stopword ∩ rare-term phrases)."""
        if a.size > b.size:
            a, b = b, a
        if b.size == 0 or a.size == 0:
            return a[:0]
        if a.size * 16 < b.size:
            pos = np.searchsorted(b, a)
            pos_c = np.minimum(pos, b.size - 1)
            return a[b[pos_c] == a]
        return np.intersect1d(a, b, assume_unique=True)

    @staticmethod
    def _norm_restrict(restrict) -> np.ndarray | None:
        """Sorted-unique int64 allow-list (LocalSearcher convention);
        None passes through."""
        if restrict is None:
            return None
        arr = (restrict.astype(np.int64, copy=False)
               if isinstance(restrict, np.ndarray)
               else np.asarray(list(restrict), dtype=np.int64))
        return np.unique(arr)

    def _candidates(self, phrase: list[str], extra=None):
        """Conjunctive doc intersection + per-term row indices.
        Returns (cand doc_ids, per_term rows, idx arrays) or None.
        `extra`: additional sorted-unique doc arrays to intersect
        FIRST (bigram-table candidate bases — subsets of their
        endpoint terms' doc lists, so they can only narrow — and
        restrict allow-lists, which ride the same removal-only
        argument)."""
        distinct = list(dict.fromkeys(phrase))
        per_term = {t: self._term_rows(t) for t in distinct}
        if any(per_term[t][0].size == 0 for t in distinct):
            return None
        cand = None
        for arr in extra or ():
            cand = arr if cand is None else self._isect(cand, arr)
            if cand.size == 0:
                return None
        order = sorted(distinct, key=lambda t: per_term[t][0].size)
        if cand is None:
            cand = per_term[order[0]][0]
            order = order[1:]
        for t in order:
            cand = self._isect(cand, per_term[t][0])
            if cand.size == 0:
                return None
        if self._deleted.size:
            from search_engine_spark.plans.deletes import mask_deleted

            (cand,) = mask_deleted(self._deleted, cand)
            if cand.size == 0:
                return None
        idx = {t: np.searchsorted(per_term[t][0], cand) for t in distinct}
        return cand, per_term, idx

    _KEY_SHIFT = np.int64(1) << np.int64(33)  # doclen < 2^33 everywhere

    def _batch_tfs(self, phrase, per_term, idx, sel: np.ndarray) -> np.ndarray:
        """Phrase tf for EVERY candidate in `sel` (indices into the
        candidate array) in one vectorized pass per phrase slot — no
        per-doc Python loop:

        blobs of all selected docs are joined and varint-decoded in
        ONE codec call; per-doc positions come from a segmented cumsum;
        each (candidate, start-offset) pair becomes a single int64 key
        (ordinal * 2^33 + offset), and phrase-slot j's keys are
        np.intersect1d-ed across slots. Surviving keys' ordinals,
        bincounted, are the per-candidate tfs.

        Hotness is judged by the rows SELECTED IN THIS GATHER (not the
        query's whole candidate set): search_phrase streams candidates
        in bound-descending chunks, and a stopword bigram's first
        chunk must never trigger a full decode of the hot term's every
        position blob (the round-2 1-6 s cold-tail) — each chunk
        decodes only its own <= chunk-size blobs, and block-max
        termination keeps the number of chunks small. Exhaustive
        callers (phrase_counts / near_counts) pass sel = all
        candidates, so genuinely full-fraction scans still promote
        into the decoded-positions cache."""
        n = int(sel.size)
        local: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        keys: np.ndarray | None = None
        for j, w in enumerate(phrase):
            cached = local.get(w)
            if cached is None:
                docs_w, npos = per_term[w][0], per_term[w][1]
                rows = idx[w][sel]
                counts = npos[rows]
                pos = self._gather_positions(
                    w, per_term[w], rows, counts,
                    hot=rows.size * 4 >= docs_w.size,
                )
                ordrep = np.repeat(np.arange(n, dtype=np.int64), counts)
                cached = (pos, ordrep)
                local[w] = cached
            pos, ordrep = cached
            key = ordrep * self._KEY_SHIFT + (pos - j + len(phrase))
            keys = (
                key
                if keys is None
                else np.intersect1d(keys, key, assume_unique=True)
            )
            if keys.size == 0:
                return np.zeros(n, dtype=np.int64)
        return np.bincount(keys // self._KEY_SHIFT, minlength=n)

    def phrase_counts(self, phrase: list[str], *,
                      restrict=None) -> list[tuple[int, int]]:
        """All (doc_id, phrase_tf) with tf > 0, doc_id-ascending
        (exhaustive — the equivalence-test surface). A covered 2-token
        phrase reads straight from the bigram table (tf IS the
        adjacency count, property-tested equal to the positional
        scan), so phrase CLAUSES over stopword pairs (plans/phraseq)
        ride the acceleration too."""
        docs, tfs = self.phrase_counts_arrays(phrase, restrict=restrict)
        return list(zip(docs.tolist(), tfs.tolist()))

    def phrase_counts_arrays(
        self, phrase: list[str], *, restrict=None
    ) -> tuple[np.ndarray, np.ndarray]:
        """phrase_counts without the python-tuple materialization:
        (sorted doc_ids, aligned phrase tfs) as int64 arrays — the
        hot-path surface for phrase CLAUSES (plans/phraseq), where a
        stopword pair's match list is corpus-scale. restrict: an
        allow-list of doc_ids (site:/ts-window filter clauses) —
        intersected at candidate generation (removal-only)."""
        empty = np.empty(0, dtype=np.int64)
        if not phrase:
            return empty, empty
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return empty, empty
        br = self._bigram_reader()
        if br is not None and len(phrase) == 2 and br.covers(*phrase):
            docs, tfs = br.rows(*phrase)
            if self._deleted.size:
                from search_engine_spark.plans.deletes import mask_deleted

                docs, tfs = mask_deleted(self._deleted, docs, tfs)
            if allow is not None and docs.size:
                keep = self._isect(docs.astype(np.int64, copy=False),
                                   allow)
                sel = np.searchsorted(docs, keep)
                docs, tfs = keep, tfs[sel]
            return docs.astype(np.int64, copy=False), \
                tfs.astype(np.int64, copy=False)
        found = self._candidates(
            phrase, extra=[allow] if allow is not None else None
        )
        if found is None:
            return empty, empty
        cand, per_term, idx = found
        tfs = self._batch_tfs(
            phrase, per_term, idx, np.arange(cand.size, dtype=np.int64)
        )
        nz = np.flatnonzero(tfs)
        return cand[nz].astype(np.int64, copy=False), \
            tfs[nz].astype(np.int64, copy=False)

    def near_counts(
        self, term_a: str, term_b: str, slop: int, *, restrict=None
    ) -> list[tuple[int, int]]:
        """Proximity query: all (doc_id, min_dist) where the two terms
        co-occur within `slop` tokens (min_dist = min |pos_a - pos_b|),
        doc_id-ascending. Fully vectorized across candidates: both
        terms' positions become int64 (candidate, pos) keys; each
        a-key's nearest b-key comes from one searchsorted; cross-
        candidate neighbor pairs produce distances >= 2^33 - doclen,
        which can never pass a real slop, so no per-doc loop is
        needed. Same-term queries (a == b) are rejected — distance 0
        to itself is meaningless; use phrase/tf queries instead."""
        if term_a == term_b:
            raise ValueError("near query needs two distinct terms")
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        found = self._candidates(
            [term_a, term_b],
            extra=[allow] if allow is not None else None,
        )
        if found is None:
            return []
        cand, per_term, idx = found
        sel = np.arange(cand.size, dtype=np.int64)
        keys = {}
        for w in (term_a, term_b):
            docs_w, npos = per_term[w][0], per_term[w][1]
            rows = idx[w][sel]
            counts = npos[rows]
            pos = self._gather_positions(
                w, per_term[w], rows, counts,
                hot=idx[w].size * 4 >= docs_w.size,
            )
            ordrep = np.repeat(sel, counts)
            keys[w] = (ordrep * self._KEY_SHIFT + pos, ordrep)
        ka, orda = keys[term_a]
        kb, _ = keys[term_b]
        right = np.searchsorted(kb, ka)
        dist = np.full(ka.size, np.iinfo(np.int64).max, dtype=np.int64)
        has_r = right < kb.size
        dist[has_r] = kb[right[has_r]] - ka[has_r]
        has_l = right > 0
        np.minimum(
            dist, np.where(has_l, ka - kb[np.maximum(right, 1) - 1],
                           np.iinfo(np.int64).max),
            out=dist,
        )
        best = np.full(cand.size, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(best, orda, dist)
        ok = np.flatnonzero(best <= slop)
        return [(int(cand[i]), int(best[i])) for i in ok]

    def search_near(
        self, term_a: str, term_b: str, slop: int = 3, k: int = 10,
        *, restrict=None,
    ) -> list[tuple[int, int]]:
        """Top-k proximity hits by (min_dist asc, doc_id asc)."""
        hits = self.near_counts(term_a, term_b, slop, restrict=restrict)
        hits.sort(key=lambda r: (r[1], r[0]))
        return hits[:k]

    def search_phrase(self, query: str | list[str], k: int = 10, *,
                      restrict=None) -> list[tuple[int, int]]:
        """Top-k (doc_id, phrase_tf) by (tf desc, doc_id asc), with
        WAND-style bound pruning: tf(doc) <= min_t npos_t(doc), so
        candidates are evaluated in descending-bound order and the
        scan stops once bound < the k-th heap tf — every remaining
        doc is provably beaten. Tie-safe: docs with bound == theta
        are still evaluated (doc_id tie-break can admit them), so
        pruned == exhaustive (property-tested). restrict: allow-list
        of doc_ids (the site:/ts-window filter clauses) — applied at
        candidate generation, removal-only, so the bound-order prune
        stays exact."""
        phrase = (
            self.phrase_terms(query) if isinstance(query, str) else list(query)
        )
        if not phrase:
            return []
        allow = self._norm_restrict(restrict)
        if allow is not None and allow.size == 0:
            return []
        br = self._bigram_reader()
        if br is not None and len(phrase) == 2 and br.covers(*phrase):
            # DIRECT path: the bigram row's tf IS the exact phrase tf
            # (adjacency count, overlaps included — property-tested
            # equal to the positional scan). Zero positional decode:
            # the stopword-bigram worst case becomes a single pruned
            # posting-list read + partial sort.
            docs, tfs = br.rows(*phrase)
            if self._deleted.size:
                from search_engine_spark.plans.deletes import mask_deleted

                docs, tfs = mask_deleted(self._deleted, docs, tfs)
            if allow is not None and docs.size:
                keep = self._isect(docs.astype(np.int64, copy=False),
                                   allow)
                sel = np.searchsorted(docs, keep)
                docs, tfs = keep, tfs[sel]
            if docs.size == 0:
                return []
            order_k = np.lexsort((docs, -tfs))[:k]
            return [(int(docs[i]), int(tfs[i])) for i in order_k]
        pair_rows: list[tuple[np.ndarray, np.ndarray]] = []
        extras: list[np.ndarray] = [] if allow is None else [allow]
        if br is not None and len(phrase) >= 3:
            # covered adjacent pairs: candidate bases (a matching doc
            # must contain every adjacent pair) + TIGHT tf bounds
            # (phrase tf <= adjacency count of each sub-pair)
            for a, b in zip(phrase, phrase[1:]):
                if br.covers(a, b):
                    d_, t_ = br.rows(a, b)
                    if d_.size == 0:
                        return []  # covered-and-absent: no match
                    extras.append(d_)
                    pair_rows.append((d_, t_))
        found = self._candidates(phrase, extra=extras)
        if found is None:
            return []
        cand, per_term, idx = found
        distinct = list(dict.fromkeys(phrase))
        ub = per_term[distinct[0]][1][idx[distinct[0]]].copy()
        for t in distinct[1:]:
            np.minimum(ub, per_term[t][1][idx[t]], out=ub)
        for d_, t_ in pair_rows:
            # cand ⊆ d_ by the extra-intersection above: align by
            # searchsorted and clamp the bound with the pair's tf
            np.minimum(ub, t_[np.searchsorted(d_, cand)], out=ub)
        # descending bound, doc_id-ascending within equal bounds
        order = np.lexsort((cand, -ub))
        import heapq

        heap: list[tuple[int, int]] = []  # (tf, -doc_id) min-heap
        chunk = max(4 * k, 4096)
        for lo in range(0, order.size, chunk):
            sel = order[lo:lo + chunk]
            if len(heap) == k:
                theta, ndmax = heap[0]
                if ub[sel[0]] < theta:
                    break  # bounds only fall from here: nothing can enter
                # dominance prune: a candidate's best possible entry is
                # (ub, -doc); if that cannot beat the worst heap entry
                # it never will (theta only rises, the worst theta-doc
                # only shrinks). Equal-ub bands are doc-ascending, so
                # tie-heavy queries (every tf == 1) die here after the
                # first chunk instead of scanning every candidate.
                m = (ub[sel] > theta) | (
                    (ub[sel] == theta) & (-cand[sel] > ndmax)
                )
                if not m.any():
                    continue
                sel = sel[m]
            tfs = self._batch_tfs(phrase, per_term, idx, sel)
            for i in np.flatnonzero(tfs):
                entry = (int(tfs[i]), -int(cand[sel[i]]))
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
        return [(-d, tf) for tf, d in sorted(heap, key=lambda e: (-e[0], -e[1]))]
