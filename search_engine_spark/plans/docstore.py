"""Stored fields (docstore) + serving-time snippets.

The base index is deliberately text-free (postings carry only tf;
SURVEY.md §2.3) — ranked output is ids/urls. Real engines also serve
STORED FIELDS: the document text needed to render result snippets
without a trip back to the corpus. This module adds that surface:

build_docstore — (doc_id, text) table under <index_dir>/docstore,
                 doc_id-sorted in 1 MiB row groups so a top-k fetch
                 reads O(k) row groups via footer statistics, never
                 the corpus (same seek structure as urlmap).
DocStore       — pyarrow reader over the footer (min, max) doc_id
                 row-group index (plans/footer); get_texts is
                 row-group pruned and tombstone-masked (plans/deletes).
snippet        — deterministic query-biased snippet: the width-token
                 window with the most DISTINCT query terms (ties →
                 earliest), matched tokens bracketed. Tokens are the
                 analyzer's own (NFKC-casefolded, unstemmed) so match
                 offsets are exact by construction; stemming is 1:1
                 token-preserving (the same invariant the positional
                 index relies on).

Scale: the docstore is corpus-text-sized but append-only and sorted
by doc_id — a 10^12-doc store is the same layout bucketed by id
range; serving cost stays O(hits) row groups. compact_index rewrites
it minus tombstones like urlmap/positions.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.functions.text import stem_tokens, tokenize


def build_docstore(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> str:
    """Persist (doc_id, text) under <index_dir>/docstore, doc_id-sorted
    with small row groups (the id-pruned seek structure). mode="append"
    extends with NEW doc ids (the caller guarantees disjointness, as
    build_index.py --extend's left-anti url join does)."""
    out = os.path.join(index_dir, "docstore")
    (
        source.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
        .sort("doc_id")
        .write.mode(mode)
        .option("parquet.block.size", str(1024 * 1024))
        .parquet(out)
    )
    return out


class DocStore:
    """Row-group-pruned stored-field reads over a footer doc_id index
    (plans/footer) — no Spark job (serving path)."""

    def __init__(self, index_dir: str):
        from search_engine_spark.plans.publish import open_pinned

        open_pinned(index_dir, self._open)

    def _open(self, index_dir: str) -> None:
        from search_engine_spark.plans.deletes import load_tombstones
        from search_engine_spark.plans.footer import footer_index

        self.root = index_dir
        self._files, self._rg = footer_index(
            os.path.join(index_dir, "docstore"), "doc_id")
        self._deleted = load_tombstones(index_dir)

    def get_texts(self, doc_ids) -> dict[int, str]:
        """{doc_id: text} for the requested ids (deleted ids are
        silently absent — they can never be search hits). Reads only
        the row groups whose [min, max] id range intersects the
        request."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from search_engine_spark.plans.deletes import mask_deleted
        from search_engine_spark.plans.footer import admitted

        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        (ids,) = mask_deleted(self._deleted, ids)
        if ids.size == 0:
            return {}
        lo_req, hi_req = int(ids[0]), int(ids[-1])
        out: dict[int, str] = {}
        id_set = pa.array(ids, type=pa.int64())
        for path, rg, _, _ in admitted(self._rg, lo_req, hi=hi_req):
            tbl = self._files[path].read_row_groups(
                [rg], columns=["doc_id", "text"]
            )
            sel = tbl.filter(pc.is_in(tbl["doc_id"], value_set=id_set))
            for d, t in zip(sel["doc_id"].to_pylist(),
                            sel["text"].to_pylist()):
                out[int(d)] = t
        return out


def snippet(text: str | None, qterms: list[str], *, stem: bool = True,
            width: int = 24) -> str:
    """Deterministic query-biased snippet.

    Window = `width` analyzer tokens; the chosen window maximizes the
    number of DISTINCT query terms it contains (tie → earliest
    anchor); matched tokens are [bracketed]. qterms must already be
    analyzed (analyze_query output) so matching is exact against the
    stemmed token stream. A doc with no match returns its first
    `width` tokens (happens under OR semantics)."""
    toks = tokenize(text)
    if not toks:
        return ""
    keys = stem_tokens(toks) if stem else toks
    qset = set(qterms)
    karr = np.array(keys, dtype=object)
    matched = np.flatnonzero(np.isin(karr, list(qset)))
    if matched.size == 0:
        start = 0
    else:
        # distinct-term coverage scored over the window that will
        # actually be DISPLAYED — anchor p shifts left by width//4 for
        # context first, then [s, s+width) is both scored and shown
        # (scoring [p, p+width) but showing the shifted window could
        # drop matches from the last quarter of the scored range)
        per_term = {t: np.flatnonzero(karr == t) for t in qset}
        best_cov, best_s = -1, 0
        for p in matched.tolist():
            s = max(0, p - width // 4)
            cov = sum(
                1
                for pos in per_term.values()
                if pos.size
                and np.searchsorted(pos, s + width, side="left")
                > np.searchsorted(pos, s, side="left")
            )
            if cov > best_cov:  # strict '>' keeps the EARLIEST tie
                best_cov, best_s = cov, s
        start = best_s
    window = toks[start:start + width]
    kwin = keys[start:start + width]
    shown = [f"[{t}]" if k in qset else t for t, k in zip(window, kwin)]
    prefix = "… " if start > 0 else ""
    suffix = " …" if start + width < len(toks) else ""
    return prefix + " ".join(shown) + suffix
