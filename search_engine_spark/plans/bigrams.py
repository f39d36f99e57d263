"""Phrase-acceleration bigram table (a nextword index).

The worst-case exact-phrase query is a stopword bigram ("of the"):
the positional path intersects two near-universal unigram posting
lists and adjacency-verifies tens of thousands of candidates, because
min(npos) is a LOOSE phrase-tf bound — actual adjacency counts sit
far below per-term occurrence counts, so the bound-descending scan
cannot terminate early. The classic IR fix (Williams, Zobel & Bahle
2004, "Fast phrase querying with combined indexes"; Lucene's
CommonGramsFilter; production engines' common-bigram posting lists)
is to INDEX the frequent-term-adjacent bigrams themselves: a posting
row ("w1 w2", doc_id, adjacency_count) for every token pair where
EITHER side is one of the corpus's top-B document-frequency terms.

Serving (plans/positions.PhraseSearcher picks the table up
automatically when <index>/bigrams exists and the analyzer matches):

  * a 2-token phrase covered by the table is a DIRECT top-k over the
    bigram rows — tf IS the exact phrase tf, zero positional decode;
  * a longer phrase uses its rarest covered adjacent pair as the
    candidate generator plus a TIGHT per-candidate bound
    (phrase_tf <= bigram_tf of every adjacent sub-pair <= min npos),
    shrinking both the candidate set and the verify scan.

Exactness: bigram tf equals sliding-window adjacency count with
overlaps, the same semantics phrase_counts computes positionally —
property-tested equal (tests/test_bigrams.py).

Spark shape, 100 TB-safe: the hot-term list is a top-B collect over
the (tiny) dictionary; the build is ONE wide tokenize pass
(mapInPandas, Arrow-batched, Counter per doc — the same shape as the
positional kernel) with ZERO pre-write shuffle beyond the bucket-led
repartition the partitioned sorted write needs; rows exist only for
hot-adjacent pairs, so the sidecar's volume is a constant factor of
the hot unigrams' postings (the trade every common-grams engine
makes). Reads are bucket + row-group-stat pruned, identical to the
positional table's seek structure.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.plans.footer import footer_index, key_rows
from search_engine_spark.plans.publish import write_json

BIGRAMS_SCHEMA = "term string, doc_id long, tf int"
DEFAULT_TOP_TERMS = 32


def hot_terms(spark: SparkSession, index_dir: str,
              top_terms: int = DEFAULT_TOP_TERMS) -> list[str]:
    """The top-B document-frequency terms from the built index's
    dictionary (df desc, term asc — deterministic under ties). B rows
    collected: bounded, driver-safe at any corpus size."""
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    rows = (
        d.groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term").limit(int(top_terms)).collect()
    )
    return sorted(r.term for r in rows)


def _bigrams_kernel(stem: bool, text_col: str, id_col: str,
                    html_col: str | None, hot: list[str]):
    hotset = frozenset(hot)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from search_engine_spark.functions.text import analyze, extract_text

        memo: dict[str, str] = {}
        for pdf in batches:
            texts = pdf[text_col]
            htmls = pdf[html_col] if html_col else None
            ids_in = pdf[id_col].to_numpy()
            out_terms: list[str] = []
            out_docs: list[int] = []
            out_tfs: list[int] = []
            for i in range(len(pdf)):
                txt = texts.iat[i]
                if (txt is None or txt != txt) and htmls is not None:
                    txt = extract_text(htmls.iat[i])
                toks = analyze(txt, stem=stem, memo=memo)
                if len(toks) < 2:
                    continue
                cnt: dict[str, int] = {}
                prev = toks[0]
                prev_hot = prev in hotset
                for cur in toks[1:]:
                    cur_hot = cur in hotset
                    if prev_hot or cur_hot:
                        k = prev + " " + cur
                        cnt[k] = cnt.get(k, 0) + 1
                    prev, prev_hot = cur, cur_hot
                if cnt:
                    did = int(ids_in[i])
                    out_terms.extend(cnt.keys())
                    out_tfs.extend(cnt.values())
                    out_docs.extend([did] * len(cnt))
            if not out_terms:
                continue
            yield pd.DataFrame(
                {
                    "term": pd.Series(out_terms, dtype="object"),
                    "doc_id": np.asarray(out_docs, dtype=np.int64),
                    "tf": np.asarray(out_tfs, dtype=np.int32),
                }
            )

    return gen


def build_bigrams(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 8,
    stem: bool = True,
    top_terms: int = DEFAULT_TOP_TERMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    html_col: str | None = None,
    mode: str = "overwrite",
    hot: list[str] | None = None,
) -> str:
    """Build (or append to) the bigram table under <index_dir>/bigrams.

    The body index must exist (the hot-term list comes from its
    dictionary). mode="append" extends with NEW docs only (rows are
    per (term, doc); the caller guarantees fresh ids, exactly like
    build_positions) and REUSES the meta's frozen hot list — which
    pairs are indexed is a physical invariant of the table, so append
    must not re-derive it from a drifted dictionary."""
    meta_path = os.path.join(index_dir, "bigrams_meta.json")
    if mode == "append":
        with open(meta_path) as f:
            prev = json.load(f)
        if int(prev["n_buckets"]) != n_buckets or bool(prev["stem"]) != stem:
            raise ValueError(
                f"bigram table was built with n_buckets="
                f"{prev['n_buckets']}, stem={prev['stem']} — append must "
                "match (term routing / analysis are physical invariants)"
            )
        hot = list(prev["hot"])
    elif hot is None:
        hot = hot_terms(spark, index_dir, top_terms)
    cols = [id_col, text_col] + ([html_col] if html_col else [])
    rows = source.select(*cols).mapInPandas(
        _bigrams_kernel(stem, text_col, id_col, html_col, hot),
        BIGRAMS_SCHEMA,
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int"),
    )
    out = os.path.join(index_dir, "bigrams")
    (
        # bucket-led sort: same rationale as the positional write —
        # partitionBy must not re-sort, every row group holds a
        # contiguous (term, doc_id) range for footer-stat pruning
        rows.repartition("bucket")
        .sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode(mode)
        .option("parquet.block.size", str(1024 * 1024))
        .partitionBy("bucket")
        .parquet(out)
    )
    write_json(meta_path, {"n_buckets": n_buckets, "stem": stem,
                           "top_terms": int(top_terms), "hot": sorted(hot)})
    return out


class BigramReader:
    """Footer-indexed local reads over the bigram table (plans/footer
    key_rows, as PhraseSearcher._term_rows, minus the position blobs:
    a bigram row is just (doc_id, tf)). Opened by PhraseSearcher on
    its pinned root."""

    _CACHE = 256

    def __init__(self, index_dir: str):
        meta_path = os.path.join(index_dir, "bigrams_meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        self.n_buckets = int(meta["n_buckets"])
        self.stem = bool(meta["stem"])
        self.hot = frozenset(meta["hot"])
        self._files, self._rg = footer_index(
            os.path.join(index_dir, "bigrams"), "term")
        self._cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def covers(self, w1: str, w2: str) -> bool:
        """True iff the pair (w1, w2) is INDEXED by construction —
        covered-and-absent means the phrase matches nothing."""
        return w1 in self.hot or w2 in self.hot

    def rows(self, w1: str, w2: str) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc_ids, aligned adjacency tfs) for the bigram."""
        term = w1 + " " + w2
        cached = self._cache.get(term)
        if cached is not None:
            self._cache[term] = self._cache.pop(term)
            return cached
        from search_engine_spark.functions.hashing import term_bucket

        b = term_bucket(term, self.n_buckets)
        docs_parts: list[np.ndarray] = []
        tf_parts: list[np.ndarray] = []
        for sel in key_rows(self._files, self._rg, term, b, ["doc_id", "tf"]):
            docs_parts.append(sel["doc_id"].to_numpy(zero_copy_only=False))
            tf_parts.append(sel["tf"].to_numpy(zero_copy_only=False))
        if docs_parts:
            docs = np.concatenate(docs_parts)
            tfs = np.concatenate(tf_parts).astype(np.int64)
            if docs.size > 1 and not np.all(docs[1:] > docs[:-1]):
                order = np.argsort(docs, kind="stable")
                docs = docs[order]
                tfs = tfs[order]
        else:
            docs = np.empty(0, dtype=np.int64)
            tfs = np.empty(0, dtype=np.int64)
        val = (docs, tfs)
        if len(self._cache) >= self._CACHE:
            self._cache.pop(next(iter(self._cache)))
        self._cache[term] = val
        return val
