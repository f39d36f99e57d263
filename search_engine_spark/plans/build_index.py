"""Materialized inverted index build (SURVEY.md section 3.1, M2/M3).

Two checkpointed stages, both single Spark jobs over ALL pending work
(no driver-side per-bucket loop — at 1000 executors the scheduler, not
the driver, spreads the buckets):

Stage A — tokenize + stats (one pass over the corpus, ZERO shuffle):
    pages/documents -> fused mapInPandas text kernel (map-side tf
    combine) -> postings_flat parquet, one file per tokenize task,
    locally sorted by (bucket, term, doc_id) so resume/extend prune
    pending buckets via parquet row-group statistics (bucket =
    pmod(xxhash64(term), n_buckets)); plus docs / dictionary (exact
    df, cf) / stats (n_docs, avgdl) tables.

Stage B — SPIMI: map-side partial runs, merged reduce-side:
    read pending buckets (row-group-pruned) -> PARTIAL BUILDER
    mapInPandas directly on the sorted scan (no shuffle before it):
    each split emits ONE delta-gap+varint-compressed partial blob per
    (term, salt) run (salt spreads a hot term's docs over n_salts
    reducers — SURVEY.md section 4, stopword-skew row) -> shuffle the
    PARTIALS (~vocab x splits rows of already-compressed blobs, not
    one row per posting: the external sort and the Arrow transfer
    touch blob-sized data instead of every posting row) ->
    repartition(term, salt) + sortWithinPartitions(term, salt,
    first_doc) -> MERGE SEGMENTER: streaming k-run merge per
    (term, salt) group (partials arrive first_doc-ordered; postings
    below the next partial's first_doc are final and flush through
    the fixed-size segment cutter without waiting for the whole
    group) -> final segments (per-segment max_tfnorm for block-max
    WAND, bucket recomputed from the term via the local XXH64) ->
    parquet partitionBy(bucket) with dynamic partition overwrite
    (idempotent re-runs) -> manifest rows.

Memory safety at 10^12 docs: the partial builder holds one term-run of
one split; the merge segmenter holds only the non-finalized tail of
one (term, salt) group (doc-id ranges of different splits rarely
interleave with dense per-split ids, so the tail stays ~one partial
deep); the partials sort spills via UnsafeExternalSorter; hot groups
are bounded by salting. doclen is carried into the segments (doclens
blob) so query scoring and WAND need NO doc-side join (SURVEY.md J4
'preferred').
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark import B, K1
from search_engine_spark.functions.codec import encode_postings, encode_varints
from search_engine_spark.operators.aggregates import postings_from_text
from search_engine_spark.plans.manifest import Manifest

SEGMENT_SCHEMA = (
    "bucket int, term string, salt int, seg int, n int, doc_ids binary,"
    " tfs binary, doclens binary, max_tfnorm double, first_doc long,"
    " last_doc long, n_bytes int, tf_sum long"
)

DEFAULT_SEGMENT_SIZE = 4096


def _bucket_expr(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


class IndexPaths:
    def __init__(self, index_dir: str):
        self.root = index_dir
        self.flat = os.path.join(index_dir, "postings_flat")
        self.postings = os.path.join(index_dir, "postings")
        self.dictionary = os.path.join(index_dir, "dictionary")
        self.docs = os.path.join(index_dir, "docs")
        self.stats = os.path.join(index_dir, "stats")
        self.hot_terms = os.path.join(index_dir, "hot_terms")
        self.meta = os.path.join(index_dir, "index_meta.json")


def _stage_a(
    spark: SparkSession,
    source: DataFrame,
    paths: IndexPaths,
    *,
    n_buckets: int,
    stem: bool,
    id_col: str,
    text_col: str,
    html_col: str | None,
    salt_threshold: int,
    field: str = "body",
    timings: dict | None = None,
) -> None:
    t0 = time.time()
    flat = postings_from_text(
        source, id_col=id_col, text_col=text_col, html_col=html_col,
        stem=stem, field=field,
    ).withColumn("bucket", _bucket_expr(F.col("term"), n_buckets))
    # One wide pass, ZERO shuffle: each tokenize task writes exactly one
    # file, locally sorted by (bucket, term) so resume/extend reads
    # prune to pending buckets via parquet row-group statistics (and
    # the sorted bucket column RLE-encodes to ~nothing on disk). The
    # previous design repartition(n_buckets).partitionBy(bucket)-ed
    # here for hive-directory pruning — a full extra shuffle of the
    # FATTEST table in the pipeline (tokenized postings with term
    # strings, 53% of total shuffle bytes measured at 120k docs) spent
    # on pruning that row-group stats provide for free.
    # zstd (not the default snappy) on the fattest table in the
    # pipeline: flat is written once and re-read by stage B and the
    # stats derivations, so every byte saved on disk is saved ~3x in
    # page-cache/bus traffic — the N->4N scaling limiter on a
    # shared-memory box (BENCH/BASELINE.md calibration).
    flat.sortWithinPartitions("bucket", "term", "doc_id").write.mode(
        "overwrite"
    ).option("compression", "zstd").parquet(paths.flat)
    if timings is not None:
        timings["stage_a_flat_s"] = round(time.time() - t0, 3)
    t1 = time.time()
    _stage_a_stats(spark, paths, n_buckets=n_buckets,
                   salt_threshold=salt_threshold, stem=stem)
    if timings is not None:
        timings["stage_a_stats_s"] = round(time.time() - t1, 3)


def _stage_a_stats(
    spark: SparkSession,
    paths: IndexPaths,
    *,
    n_buckets: int,
    salt_threshold: int,
    stem: bool | None = None,
) -> None:
    """Derive dictionary / docs / stats / hot_terms / meta from the
    (possibly appended-to) flat postings — shared by the fresh build
    and extend_index."""
    flat = spark.read.parquet(paths.flat)
    # atomic publish (plans/publish.py): _stage_a_stats also runs
    # against LIVE indexes (extend, compaction) — a concurrent reader
    # must never observe these tables missing or partially written
    from search_engine_spark.plans.publish import publish_dir, write_json

    docs = flat.select("doc_id", "doclen").dropDuplicates(["doc_id"])
    publish_dir(
        paths.docs,
        lambda tmp: docs.write.mode("overwrite").parquet(tmp),
        suffix=".stage_a",
    )

    # avgdl derived as exact-integer-sum / count (NOT F.avg's running
    # double mean): the integer sum is associative, so a tiered merge
    # (plans/merge.py) can combine two indexes' stats in O(1) —
    # (sum_a + sum_b) / (n_a + n_b) — and land BIT-identically on the
    # avgdl a fresh build over the union corpus computes.
    stats = spark.read.parquet(paths.docs).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doclen").cast("long").alias("sum_doclen"),
    ).withColumn(
        "avgdl",
        F.col("sum_doclen").cast("double") / F.col("n_docs").cast("double"),
    )
    publish_dir(
        paths.stats,
        lambda tmp: stats.coalesce(1).write.mode("overwrite").parquet(tmp),
        suffix=".stage_a",
    )

    # Hot-term sketch for stage-B salting (SURVEY.md section 4). The
    # EXACT dictionary is now derived from the segments table AFTER
    # stage B (_derive_dictionary) — that saved a second full pass
    # over the flat term column — so salting can no longer read exact
    # df here. It doesn't need to: salting is a SKEW defense, not a
    # correctness input (each term lives in exactly one bucket and is
    # segmented by exactly one stage-B run, so any deterministic
    # per-term salt count yields a correct index). Sources, by
    # freshness:
    #   * a previous dictionary (extend/compact/fold on a live index):
    #     exact df of the prior generation — at most one epoch stale;
    #   * fresh build: estimate df from the FIRST flat file(s), scaled
    #     by total/sampled row counts from the parquet footers. Hot
    #     terms are the Zipf head — they appear in every split, which
    #     is exactly when file-sampling is reliable. An undercount
    #     costs one under-split reducer group (bounded slowdown), an
    #     overcount a few extra salts; never a wrong index.
    dict_done = os.path.exists(os.path.join(paths.dictionary, "_SUCCESS"))
    if dict_done:
        hot = (
            spark.read.parquet(paths.dictionary)
            .filter(F.col("df") > salt_threshold)
            .select("term", "df")
        )
    else:
        files = _flat_data_files(paths.flat)
        if files:
            k = max(1, min(len(files), -(-len(files) // 64)))
            sample = files[:k]
            total_rows = sum(
                _pqmeta_rows(f) for f in files
            )
            sample_rows = max(sum(_pqmeta_rows(f) for f in sample), 1)
            scale = total_rows / sample_rows
            hot = (
                spark.read.parquet(*sample)
                .groupBy("term")
                .agg(F.count("*").cast("double").alias("c"))
                .withColumn("df", (F.col("c") * F.lit(scale)).cast("long"))
                .filter(F.col("df") > salt_threshold)
                .select("term", "df")
            )
        else:
            hot = spark.createDataFrame([], "term string, df long")
    publish_dir(
        paths.hot_terms,
        lambda tmp: hot.coalesce(1).write.mode("overwrite").parquet(tmp),
        suffix=".stage_a",
    )

    # Collection constants -> driver-side JSON: stage B and the query
    # paths read these without paying a Spark job each.
    import json

    import pyarrow.parquet as _pq

    st = _pq.read_table(paths.stats).to_pylist()[0]
    # stem flag: recorded so admin tools (fsck I7) can tell whether
    # the positional table shares the index analyzer. Callers that
    # don't know it (compact_index) pass None -> keep the prior value.
    if stem is None and os.path.exists(paths.meta):
        with open(paths.meta) as f:
            stem = json.load(f).get("stem")
    meta = {
        "n_buckets": n_buckets,
        "n_docs": int(st["n_docs"]),
        "avgdl": float(st["avgdl"]),
        "sum_doclen": int(st["sum_doclen"]),
        "salt_threshold": salt_threshold,
    }
    if stem is not None:
        meta["stem"] = bool(stem)
    write_json(paths.meta, meta)


def _derive_dictionary(
    spark: SparkSession, paths: IndexPaths, *, n_buckets: int
) -> bool:
    """Exact dictionary (term, df, cf) derived from the SEGMENTS table
    instead of a second full pass over the flat postings.

    Live segments are, by the build invariant, exactly the flat rows
    (stage B rebuilds whole buckets from flat; compaction rewrites
    flat first; merges append both sides consistently), so
    df = Σ n and cf = Σ tf_sum over a term's segments are the same
    exact integers the old flat groupBy computed — while reading the
    ~50x smaller segments table with the blob columns pruned away.

    Returns False (no write) when any segment predates the tf_sum
    column (pre-upgrade index being partially rebuilt): callers then
    fall back to the legacy flat aggregation."""
    from search_engine_spark.plans.publish import publish_dir

    seg = spark.read.option("mergeSchema", "true").parquet(paths.postings)
    if "tf_sum" not in seg.columns:
        return False
    if seg.filter(F.col("tf_sum").isNull()).limit(1).count():
        return False
    dictionary = (
        seg.groupBy("term")
        .agg(
            F.sum("n").cast("long").alias("df"),
            F.sum("tf_sum").cast("long").alias("cf"),
        )
        .withColumn("bucket", _bucket_expr(F.col("term"), n_buckets))
    )
    # bucket-partitioned, one file per bucket, term-sorted within the
    # file: query-time term lookups prune to the term's bucket dir and
    # then to the matching parquet row groups (J1 at scale)
    publish_dir(
        paths.dictionary,
        lambda tmp: dictionary.repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp),
        suffix=".dict",
    )
    return True


def _dictionary_from_flat(
    spark: SparkSession, paths: IndexPaths, *, n_buckets: int
) -> None:
    """Legacy exact-dictionary pass over the flat postings — only used
    when segments predate the tf_sum column (pre-upgrade indexes)."""
    from search_engine_spark.plans.publish import publish_dir

    flat = spark.read.parquet(paths.flat)
    dictionary = flat.groupBy("term", "bucket").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    publish_dir(
        paths.dictionary,
        lambda tmp: dictionary.repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp),
        suffix=".dict",
    )


def _read_meta(spark: SparkSession, paths: IndexPaths) -> dict:
    """Collection constants. meta JSON is written by stage A; the
    fallback recomputes from the tables (pre-meta indexes)."""
    import json

    if os.path.exists(paths.meta):
        with open(paths.meta) as f:
            return json.load(f)
    stats = spark.read.parquet(paths.stats).collect()[0]
    n_buckets = 1 + int(
        spark.read.parquet(paths.dictionary).agg(F.max("bucket")).collect()[0][0]
    )
    return {
        "n_buckets": n_buckets,
        "n_docs": int(stats.n_docs),
        "avgdl": float(stats.avgdl),
    }


PARTIAL_SCHEMA = (
    "term string, salt int, first_doc long, n int, doc_ids binary,"
    " tfs binary, doclens binary"
)

_SALT_MIX = 0x9E3779B97F4A7C15  # odd 64-bit multiplier (golden-ratio)


def _doc_salts(doc_ids: np.ndarray, n_salts: int) -> np.ndarray:
    """Deterministic per-doc salt in [0, n_salts): multiply-shift of
    the doc_id. Computed ONLY here (map side), so it needs no JVM
    parity — just determinism across runs/resumes."""
    mixed = (doc_ids.astype(np.uint64) * np.uint64(_SALT_MIX)) >> np.uint64(33)
    return (mixed % np.uint64(n_salts)).astype(np.int64)


def _make_partial_builder(salts_bc):
    """Map-side SPIMI partial-run builder (runs directly on the flat
    scan — NO shuffle feeds it).

    Input rows arrive in file order; stage A writes each file sorted
    by (bucket, term, doc_id), so each term's postings form one
    contiguous run per split. Millions of tiny runs cross this kernel
    per build, so the hot path is BATCHED: one vectorized delta-gap +
    LEB128 pass per Arrow batch (encode_postings_runs), with per-run
    work reduced to byte-slicing. Only three kinds of runs take the
    per-run path: the batch-boundary carry run, hot (salted) runs —
    stopword-cardinality by construction — and unsorted runs from a
    pre-upgrade flat layout. Split boundaries just produce extra
    partials for the same (term, salt) key; the reduce-side merge
    handles any number."""
    from search_engine_spark.functions.codec import (
        encode_postings_runs,
        encode_varints_runs,
    )

    COLS = ["term", "salt", "first_doc", "n", "doc_ids", "tfs", "doclens"]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_salts_of = salts_bc.value
        out = {c: [] for c in COLS}
        out_n = 0
        carry: tuple | None = None  # (term, d, t, l) open tail run

        def append_row(term, salt, d, dblob, tblob, lblob):
            out["term"].append(term)
            out["salt"].append(salt)
            out["first_doc"].append(int(d[0]))
            out["n"].append(int(d.size))
            out["doc_ids"].append(dblob)
            out["tfs"].append(tblob)
            out["doclens"].append(lblob)

        def emit_run(term, d, t, l):
            """Per-run slow path: carry runs, hot (salted) runs, and
            legacy-unsorted runs."""
            nonlocal out_n
            if d.size > 1 and np.any(d[1:] < d[:-1]):
                order = np.argsort(d, kind="stable")
                d, t, l = d[order], t[order], l[order]
            ns = n_salts_of.get(term, 1)
            if ns > 1:
                salts = _doc_salts(d, ns)
                for s in np.unique(salts):
                    m = salts == s
                    ds, ts, ls = d[m], t[m], l[m]
                    dblob, tblob = encode_postings(ds, ts)
                    append_row(term, int(s), ds, dblob, tblob,
                               encode_varints(ls.astype(np.uint64)))
                    out_n += 1
            else:
                dblob, tblob = encode_postings(d, t)
                append_row(term, 0, d, dblob, tblob,
                           encode_varints(l.astype(np.uint64)))
                out_n += 1

        def drain():
            nonlocal out, out_n
            pdf = pd.DataFrame(out, columns=COLS)
            out = {c: [] for c in COLS}
            out_n = 0
            return pdf

        for pdf in batches:
            if len(pdf) == 0:
                continue
            terms = pdf["term"].to_numpy()
            docs = pdf["doc_id"].to_numpy()
            tfs = pdf["tf"].to_numpy()
            dls = pdf["doclen"].to_numpy()
            n = len(pdf)
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = terms[1:] != terms[:-1]
            starts = np.flatnonzero(change)
            # the batch's LAST run may continue in the next batch ->
            # it becomes the new carry; the FIRST run may continue the
            # old carry -> merged and emitted per-run (unless it IS
            # the last run too, in which case it just extends carry)
            if carry is not None and terms[0] == carry[0]:
                if starts.size == 1:  # whole batch continues the carry
                    carry = (carry[0],
                             np.concatenate((carry[1], docs)),
                             np.concatenate((carry[2], tfs)),
                             np.concatenate((carry[3], dls)))
                    continue
                emit_run(carry[0],
                         np.concatenate((carry[1], docs[:starts[1]])),
                         np.concatenate((carry[2], tfs[:starts[1]])),
                         np.concatenate((carry[3], dls[:starts[1]])))
                lo_run = 1
            else:
                if carry is not None:
                    emit_run(*carry)
                lo_run = 0
            carry = (terms[starts[-1]], docs[starts[-1]:].copy(),
                     tfs[starts[-1]:].copy(), dls[starts[-1]:].copy())
            bruns = starts[lo_run:-1] if starts.size > lo_run else starts[:0]
            if bruns.size:
                lo, hi = int(bruns[0]), int(starts[-1])
                bd, bt, bl = docs[lo:hi], tfs[lo:hi], dls[lo:hi]
                rel = bruns - lo
                interior = np.ones(hi - lo, dtype=bool)
                interior[rel] = False
                sorted_ok = not np.any((bd[1:] < bd[:-1]) & interior[1:])
                if not sorted_ok:  # pre-upgrade unsorted flat files
                    ends = np.append(bruns[1:], hi)
                    for s, e in zip(bruns, ends):
                        emit_run(terms[s], docs[s:e], tfs[s:e], dls[s:e])
                else:
                    dblobs, tblobs = encode_postings_runs(bd, bt, rel)
                    lblobs = encode_varints_runs(bl.astype(np.uint64), rel)
                    ends = np.append(bruns[1:], hi)
                    for i, (s, e) in enumerate(zip(bruns, ends)):
                        term = terms[s]
                        if term in n_salts_of:  # hot: redo salted
                            emit_run(term, docs[s:e], tfs[s:e], dls[s:e])
                        else:
                            append_row(term, 0, docs[s:e],
                                       dblobs[i], tblobs[i], lblobs[i])
                            out_n += 1
            if out_n >= 5000:
                yield drain()
        if carry is not None:
            emit_run(*carry)
        if out_n:
            yield drain()

    return build


def _flat_data_files(flat_dir: str) -> list[str]:
    """Committed data files of a (non-hive-layout) flat table."""
    return sorted(
        os.path.join(flat_dir, f)
        for f in os.listdir(flat_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _pqmeta_rows(path: str) -> int:
    """Row count from the parquet footer (driver-side, no Spark job)."""
    import pyarrow.parquet as _pq

    return int(_pq.ParquetFile(path).metadata.num_rows)


def _make_flat_scanner(builder, pending_bc):
    """Stage B's flat scan executed INSIDE the Python task (pyarrow)
    instead of JVM parquet scan -> Arrow IPC -> Python.

    The partial builder consumes one row per posting with the term as
    a string — the fattest stream in the whole build. Routing it
    through the JVM scan materializes every posting twice (columnar ->
    Arrow) and copies it once more across the worker pipe; reading the
    parquet directly with pyarrow inside the task hands the SAME
    Arrow batches to the builder with zero JVM materialization and
    zero pipe transfer. On a shared-memory box this is the largest
    single bytes/doc cut in stage B (the N->4N scaling limiter —
    BENCH/BASELINE.md); on a real cluster it removes one executor-
    local copy per posting, nothing else (tasks still read from the
    distributed store).

    Bucket pruning (resume/extend) is preserved: parquet row-group
    statistics on the sorted `bucket` column — the same stats the JVM
    scan used — skip non-pending row groups, and a straddling row
    group is row-filtered vectorized. Task retries just re-read
    (idempotent); speculative duplicates are impossible because the
    output goes through the normal Spark shuffle commit protocol."""
    COLS = ["term", "doc_id", "tf", "doclen"]

    def scan(path_batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        pending = pending_bc.value
        pend = None if pending is None else np.asarray(pending, np.int64)

        def rows() -> Iterator[pd.DataFrame]:
            for pdf in path_batches:
                for path in pdf["path"]:
                    pf = pq.ParquetFile(path)
                    md = pf.metadata
                    bidx = pf.schema_arrow.get_field_index("bucket")
                    rgs = []
                    for rg in range(md.num_row_groups):
                        if pend is not None:
                            st = md.row_group(rg).column(bidx).statistics
                            if (st is not None and st.min is not None
                                    and st.max is not None):
                                lo = int(np.searchsorted(pend, st.min))
                                if lo >= pend.size or pend[lo] > st.max:
                                    continue  # no pending bucket inside
                        rgs.append(rg)
                    if not rgs:
                        continue
                    cols = COLS if pend is None else ["bucket"] + COLS
                    for batch in pf.iter_batches(
                        batch_size=1 << 18, row_groups=rgs, columns=cols
                    ):
                        out = batch.to_pandas()
                        if pend is not None:
                            keep = np.isin(out["bucket"].to_numpy(), pend)
                            if not keep.all():
                                out = out[keep]
                            out = out.drop(columns=["bucket"])
                        if len(out):
                            yield out

        yield from builder(rows())

    return scan


def _make_merge_segmenter(segment_size: int, avgdl: float, n_buckets: int):
    """Reduce-side SPIMI merge: input partials sorted by (term, salt,
    first_doc). Per (term, salt) group the partials are decoded and
    merged STREAMING: because later partials start at ever-higher
    first_doc, every buffered posting below the next partial's
    first_doc is final and flows through the fixed-size segment cutter
    immediately — the group is never fully materialized unless its
    splits' doc ranges fully interleave. Emits final SEGMENT_SCHEMA
    rows; bucket is recomputed from the term via the driver-side XXH64
    (bit-equal to the JVM's xxhash64 — fuzz-tested)."""
    k1, b = K1, B

    def tfnorm(tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        tff = tf.astype(np.float64)
        return tff * (k1 + 1.0) / (tff + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))

    def segment_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from search_engine_spark.functions.codec import (
            decode_postings_concat,
            decode_varints_concat,
        )
        from search_engine_spark.functions.hashing import term_bucket

        out_rows: list[tuple] = []
        cur_key: tuple | None = None   # (term, salt)
        cur_bucket = -1
        cur_seg = 0
        # pending decoded-but-unfinalized postings of the open group
        pend_d: list[np.ndarray] = []
        pend_t: list[np.ndarray] = []
        pend_l: list[np.ndarray] = []
        pend_n = 0
        # cutter buffer: sorted, FINAL postings awaiting segment cut
        cut_d: list[np.ndarray] = []
        cut_t: list[np.ndarray] = []
        cut_l: list[np.ndarray] = []
        cut_n = 0

        def emit(doc: np.ndarray, tf: np.ndarray, dl: np.ndarray) -> None:
            nonlocal cur_seg
            term, salt = cur_key
            dblob, tblob = encode_postings(doc, tf)
            lblob = encode_varints(dl.astype(np.uint64))
            # n_bytes denormalized so the manifest metrics pass reads a
            # pruned int column instead of decompressing every blob
            out_rows.append(
                (
                    int(cur_bucket), term, int(salt), int(cur_seg),
                    int(doc.size), dblob, tblob, lblob,
                    float(tfnorm(tf, dl).max()), int(doc[0]), int(doc[-1]),
                    len(dblob) + len(tblob) + len(lblob),
                    # tf_sum: per-segment collection-frequency share —
                    # the dictionary's exact cf is now derived from the
                    # SEGMENTS table (sum over a term's segments)
                    # instead of a second full pass over flat postings
                    int(tf.sum()),
                )
            )
            cur_seg += 1

        def cut(final: bool) -> None:
            """Cut full segments out of the (sorted, final) buffer."""
            nonlocal cut_d, cut_t, cut_l, cut_n
            if cut_n == 0:
                return
            d = np.concatenate(cut_d) if len(cut_d) > 1 else cut_d[0]
            t = np.concatenate(cut_t) if len(cut_t) > 1 else cut_t[0]
            l = np.concatenate(cut_l) if len(cut_l) > 1 else cut_l[0]
            pos, n = 0, d.size
            while n - pos >= segment_size or (final and pos < n):
                end = min(pos + segment_size, n)
                emit(d[pos:end], t[pos:end], l[pos:end])
                pos = end
            if pos < n:
                cut_d, cut_t, cut_l = [d[pos:]], [t[pos:]], [l[pos:]]
                cut_n = n - pos
            else:
                cut_d, cut_t, cut_l = [], [], []
                cut_n = 0

        def finalize_below(bound: int | None) -> None:
            """Merge the pending partials and move every posting with
            doc_id < bound (all of them when bound is None) into the
            cutter. Sorted-input invariant: future partials of this
            group start at first_doc >= bound."""
            nonlocal pend_d, pend_t, pend_l, pend_n, cut_n
            if pend_n == 0:
                return
            d = np.concatenate(pend_d) if len(pend_d) > 1 else pend_d[0]
            t = np.concatenate(pend_t) if len(pend_t) > 1 else pend_t[0]
            l = np.concatenate(pend_l) if len(pend_l) > 1 else pend_l[0]
            if d.size > 1 and np.any(d[1:] < d[:-1]):
                order = np.argsort(d, kind="stable")
                d, t, l = d[order], t[order], l[order]
            split = d.size if bound is None else int(np.searchsorted(d, bound))
            if split == 0:
                pend_d, pend_t, pend_l = [d], [t], [l]
                return
            cut_d.append(d[:split])
            cut_t.append(t[:split])
            cut_l.append(l[:split])
            cut_n += split
            if split < d.size:
                pend_d, pend_t, pend_l = [d[split:]], [t[split:]], [l[split:]]
                pend_n = d.size - split
            else:
                pend_d, pend_t, pend_l = [], [], []
                pend_n = 0
            cut(final=False)

        def close_group() -> None:
            finalize_below(None)
            cut(final=True)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # ONE vectorized decode for the whole Arrow batch of
            # partials (the per-blob Python call overhead dominated at
            # millions of partials per build); the loop below only
            # slices views out of the decoded arrays.
            counts = pdf["n"].to_numpy()
            docs_all, tfs_all, rstarts = decode_postings_concat(
                list(pdf["doc_ids"]), list(pdf["tfs"]), counts
            )
            dls_all = decode_varints_concat(
                list(pdf["doclens"]), counts
            ).astype(np.int64)
            rends = np.append(rstarts[1:], docs_all.size)
            terms = pdf["term"].to_numpy()
            salts = pdf["salt"].to_numpy()
            firsts = pdf["first_doc"].to_numpy()
            for i in range(len(pdf)):
                key = (terms[i], int(salts[i]))
                if key != cur_key:
                    close_group()
                    cur_key = key
                    cur_bucket = term_bucket(terms[i], n_buckets)
                    cur_seg = 0
                elif pend_n >= 4 * segment_size:
                    # bounded-memory streaming flush: everything below
                    # this partial's first_doc is final (partials
                    # arrive first_doc-ordered). Only triggered when
                    # the pending tail has real bulk, so the merge
                    # stays O(group) instead of O(partials x tail).
                    finalize_below(int(firsts[i]))
                s, e = int(rstarts[i]), int(rends[i])
                pend_d.append(docs_all[s:e])
                pend_t.append(tfs_all[s:e])
                pend_l.append(dls_all[s:e])
                pend_n += e - s
            if len(out_rows) >= 1000:
                yield pd.DataFrame(out_rows, columns=_SEG_COLS)
                out_rows = []
        close_group()
        if out_rows:
            yield pd.DataFrame(out_rows, columns=_SEG_COLS)

    return segment_partition


_SEG_COLS = [
    "bucket", "term", "salt", "seg", "n", "doc_ids",
    "tfs", "doclens", "max_tfnorm", "first_doc", "last_doc", "n_bytes",
    "tf_sum",
]



def _stage_b(
    spark: SparkSession,
    paths: IndexPaths,
    pending_buckets: list[int],
    *,
    segment_size: int,
    salt_threshold: int,
    max_salts: int,
    run_id: str,
    timings: dict | None = None,
    derive_dictionary: bool = True,
) -> None:
    t0 = time.time()
    meta = _read_meta(spark, paths)
    avgdl = float(meta["avgdl"])
    n_buckets_total = int(meta["n_buckets"])

    # Hot-term sketch (stopword skew), read driver-side (no Spark job)
    # and broadcast into the map-side partial builder: n_salts =
    # ceil(df / salt_threshold), capped. Salts spread one hot term's
    # partials over n_salts reducers.
    import pyarrow.parquet as _pq

    hot_tbl = _pq.read_table(paths.hot_terms).to_pylist()
    n_salts_map = {
        r["term"]: min(-(-int(r["df"]) // salt_threshold), max_salts)
        for r in hot_tbl
        if int(r["df"]) > salt_threshold
    }
    salts_bc = spark.sparkContext.broadcast(n_salts_map)
    # SPIMI: compress FIRST, shuffle the compressed partial runs. The
    # shuffle/sort machinery now moves ~vocab x splits blob rows
    # (segment-sized) instead of one UnsafeRow per posting — the
    # external sort, shuffle serialization, and Arrow transfer all
    # shrink by the postings-per-partial factor.
    n_parts = max(spark.sparkContext.defaultParallelism * 2, len(pending_buckets))
    builder = _make_partial_builder(salts_bc)
    old_layout = any(
        p.startswith("bucket=") for p in os.listdir(paths.flat)
    )
    if old_layout:  # pragma: no cover - pre-upgrade hive-layout flat
        flat = (
            spark.read.parquet(paths.flat)
            .filter(F.col("bucket").isin(pending_buckets))  # rg pruning
            .select("term", "doc_id", "tf", "doclen")
        )
        partials = flat.mapInPandas(builder, PARTIAL_SCHEMA)
    else:
        # task-side pyarrow scan (_make_flat_scanner): distribute the
        # committed flat FILES, one per task; each task reads its file
        # directly and feeds the partial builder in-process — no JVM
        # materialization / pipe copy of the per-posting stream
        files = _flat_data_files(paths.flat)
        all_pending = len(set(pending_buckets)) >= n_buckets_total
        pending_bc = spark.sparkContext.broadcast(
            None if all_pending
            else sorted({int(b) for b in pending_buckets})
        )
        if files:
            paths_df = spark.createDataFrame(
                [(f,) for f in files], "path string"
            ).repartition(len(files))
            partials = paths_df.mapInPandas(
                _make_flat_scanner(builder, pending_bc), PARTIAL_SCHEMA
            )
        else:  # empty corpus
            partials = spark.createDataFrame([], PARTIAL_SCHEMA)
    merger = _make_merge_segmenter(segment_size, avgdl, n_buckets_total)
    segments = (
        partials.repartition(n_parts, "term", "salt")
        .sortWithinPartitions("term", "salt", "first_doc")
        .mapInPandas(merger, SEGMENT_SCHEMA)
    )
    # Second (cheap) shuffle of the already-compressed segment rows so
    # each bucket directory gets ONE file instead of n_parts files —
    # segments are ~100x smaller than flat postings, and the WAND
    # reader's footer seek index wants few files with term-sorted row
    # groups. Small row groups (1 MiB) keep per-term reads tight: a
    # query term decompresses ~one row group, not a whole file.
    segments = (
        # bucket-led sort: partitionBy(bucket) below would otherwise
        # insert its own non-stable sort by the partition column at
        # write time, scrambling the term order ACROSS row groups and
        # defeating the footer-stats pruning this layout exists for
        # (measured: every term read every row group before the fix)
        segments.repartition(max(len(pending_buckets), 1), "bucket")
        .sortWithinPartitions("bucket", "term", "salt", "seg")
    )
    (
        segments.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.block.size", str(1024 * 1024))
        .partitionBy("bucket")
        .parquet(paths.postings)
    )
    wall = time.time() - t0
    if timings is not None:
        timings["stage_b_segments_s"] = round(wall, 3)

    # lineage metrics per bucket, read back from the committed segments
    seg = spark.read.parquet(paths.postings).filter(
        F.col("bucket").isin(pending_buckets)
    )
    metrics = (
        seg.groupBy("bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("n").cast("long").alias("n_postings"),
            F.count("*").cast("long").alias("n_segments"),
            F.sum("n_bytes").cast("long").alias("bytes"),
        )
        .collect()
    )
    by_bucket = {r.bucket: r for r in metrics}
    now = __import__("datetime").datetime.now(__import__("datetime").timezone.utc)
    rows = []
    for bkt in pending_buckets:
        r = by_bucket.get(bkt)
        rows.append(
            (
                run_id, int(bkt), "done",
                int(r.n_terms) if r else 0,
                int(r.n_postings) if r else 0,
                int(r.n_segments) if r else 0,
                int(r.bytes) if r else 0,
                wall / max(len(pending_buckets), 1),
                now,
            )
        )
    Manifest(spark, paths.root).append(rows)
    if derive_dictionary and not _derive_dictionary(
        spark, paths, n_buckets=n_buckets_total
    ):  # pragma: no cover - pre-tf_sum segments in untouched buckets
        _dictionary_from_flat(spark, paths, n_buckets=n_buckets_total)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 64,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    stem: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    html_col: str | None = None,
    salt_threshold: int = 1_000_000,
    max_salts: int = 32,
    resume: bool = False,
    limit_buckets: int | None = None,
    run_id: str | None = None,
    field: str = "body",
    timings: dict | None = None,
) -> dict:
    """Build (or resume) the compressed inverted index at index_dir.

    limit_buckets: process at most this many pending buckets in stage B
    (failure-injection hook for the resume tests — a crashed cluster
    looks exactly like a partial bucket set plus a manifest).
    Returns a summary dict.
    """
    paths = IndexPaths(index_dir)
    run_id = run_id or uuid.uuid4().hex[:12]

    if not resume and os.path.islink(index_dir):
        # generation-managed index (plans/publish): drop the link and
        # every retained generation, then build a plain fresh dir
        import glob as _glob
        import re as _re

        target = os.path.realpath(index_dir)
        os.unlink(index_dir)
        shutil.rmtree(target, ignore_errors=True)
        pat = _re.compile(_re.escape(os.path.abspath(index_dir)) + r"\.g\d+$")
        for p in _glob.glob(os.path.abspath(index_dir) + ".g*"):
            if pat.match(p):
                shutil.rmtree(p, ignore_errors=True)
    elif not resume and os.path.isdir(index_dir):
        shutil.rmtree(index_dir)
    os.makedirs(index_dir, exist_ok=True)

    # the dictionary is a stage-B output now (derived from segments);
    # stage-A completeness is flat + docs + stats
    stage_a_done = resume and all(
        os.path.exists(os.path.join(p, "_SUCCESS"))
        for p in (paths.flat, paths.docs, paths.stats)
    )
    if not stage_a_done:
        _stage_a(
            spark, source, paths,
            n_buckets=n_buckets, stem=stem,
            id_col=id_col, text_col=text_col, html_col=html_col,
            salt_threshold=salt_threshold, field=field,
            timings=timings,
        )

    manifest = Manifest(spark, index_dir)
    n_all = int(_read_meta(spark, paths)["n_buckets"])
    if manifest.exists():
        all_buckets = spark.createDataFrame(
            [(b,) for b in range(n_all)], "bucket int"
        )
        pending_df = manifest.pending(all_buckets)  # J5 anti-join
        pending = sorted(r.bucket for r in pending_df.collect())
    else:
        pending = list(range(n_all))  # fresh build: no manifest scan
    complete = limit_buckets is None or len(pending) <= limit_buckets
    if limit_buckets is not None:
        pending = pending[:limit_buckets]
    if pending:
        _stage_b(
            spark, paths, pending,
            segment_size=segment_size, salt_threshold=salt_threshold,
            max_salts=max_salts, run_id=run_id, timings=timings,
            derive_dictionary=complete,
        )
    elif complete and not os.path.exists(
        os.path.join(paths.dictionary, "_SUCCESS")
    ):
        # resumed run that crashed after stage B but before the
        # dictionary derivation: finish the derivation alone
        if not _derive_dictionary(spark, paths, n_buckets=n_all):
            _dictionary_from_flat(spark, paths, n_buckets=n_all)
    return {
        "run_id": run_id,
        "buckets_built": len(pending),
        "stage_a_skipped": stage_a_done,
    }


def extend_index(
    spark: SparkSession,
    new_source: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    html_col: str | None = None,
    stem: bool = True,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    max_salts: int = 32,
    run_id: str | None = None,
    field: str = "body",
    generations: bool | None = None,
) -> dict:
    """Incrementally add documents to an existing index and converge to
    the index a full rebuild over the union corpus would produce.

    generations=None auto-enables the whole-index generation
    transaction when the index is generation-managed (plans/publish):
    the multi-table extend then runs against a clone and commits with
    one atomic symlink swap — concurrent readers never observe an
    appended-but-not-restatted index. A crashed generationed extend
    leaves the live index untouched (re-run re-tokenizes the new docs
    against a fresh clone).
    field="title" extends a title field index (fields/title) with the
    same mechanics — the per-field tables are ordinary indexes.

    Mechanics: tokenize ONLY the new docs and append their postings to
    the flat table's bucket partitions; recompute the derived tables
    (dictionary/docs/stats/hot_terms/meta) from the full flat; mark the
    touched buckets invalidated in the manifest; re-run stage B for
    exactly those buckets (dynamic partition overwrite regenerates each
    touched bucket from the full old+new flat rows — untouched buckets'
    segments keep their original doclen normalization only if avgdl is
    unchanged, so stage B is re-run for ALL buckets whenever avgdl
    moves materially; BM25's length normalization depends on the
    collection-wide avgdl).

    doc_ids of new docs must not collide with existing ones. Offset by
    max(existing doc_id) + 1 (e.g. from urlmap) — NOT meta['n_docs']:
    n_docs counts docs with >=1 posting, which is smaller than the
    allocated id range whenever empty docs were dropped (P4), and an
    overlapping offset corrupts the merge with duplicate (term,
    doc_id) postings (caught by the codec's strictly-increasing
    guard; regression-tested in tests/test_cli_extend.py).
    """
    from search_engine_spark.plans.publish import (
        begin_generation,
        is_generationed,
    )

    if generations is None:
        generations = is_generationed(index_dir)
    if generations:
        txn = begin_generation(index_dir)
        try:
            out = extend_index(
                spark, new_source, txn.work, id_col=id_col,
                text_col=text_col, html_col=html_col, stem=stem,
                segment_size=segment_size, max_salts=max_salts,
                run_id=run_id, field=field, generations=False,
            )
        except BaseException:
            txn.abort()
            raise
        txn.commit()
        return out

    paths = IndexPaths(index_dir)
    run_id = run_id or uuid.uuid4().hex[:12]
    meta = _read_meta(spark, paths)
    n_buckets = int(meta["n_buckets"])
    salt_threshold = int(meta.get("salt_threshold", 1_000_000))
    old_avgdl = float(meta["avgdl"])
    # a segment-append merge (plans/merge.py merge_into) leaves meta
    # markers (loosened tfnorm bound scale, shifted salt generations)
    # that _stage_a_stats resets — that reset is only sound if EVERY
    # bucket is rebuilt, so force the full-rebuild path here
    was_merged = (
        float(meta.get("tfnorm_scale", 1.0)) != 1.0
        or int(meta.get("salt_generation", 0)) != 0
    )

    new_flat = postings_from_text(
        new_source, id_col=id_col, text_col=text_col, html_col=html_col,
        stem=stem, field=field,
    ).withColumn("bucket", _bucket_expr(F.col("term"), n_buckets))
    # same zero-shuffle layout as _stage_a: new files are also
    # (bucket, term)-sorted, so bucket row-group pruning keeps working.
    # (An index built before this layout has hive bucket=* dirs — keep
    # appending in ITS layout so one flat table never mixes both.)
    old_layout = any(
        p.startswith("bucket=") for p in os.listdir(paths.flat)
    )
    if old_layout:  # pragma: no cover - upgrade path for old indexes
        (
            new_flat.repartition(n_buckets, "bucket")
            .write.mode("append").partitionBy("bucket").parquet(paths.flat)
        )
    else:
        # full stage-A invariant incl. doc_id: the SPIMI partial
        # builder's batched fast path needs doc-sorted runs
        new_flat.sortWithinPartitions("bucket", "term", "doc_id").write.mode(
            "append"
        ).parquet(paths.flat)
    _stage_a_stats(spark, paths, n_buckets=n_buckets,
                   salt_threshold=salt_threshold, stem=stem)

    new_avgdl = float(_read_meta(spark, paths)["avgdl"])
    if was_merged or abs(new_avgdl - old_avgdl) / max(old_avgdl, 1e-9) > 1e-12:
        # avgdl moved: every segment's baked tfnorm bound and the
        # score normalization change -> rebuild all buckets
        touched = list(range(n_buckets))
    else:  # pragma: no cover - only when avgdl is exactly preserved
        touched = sorted(
            int(r.bucket)
            for r in spark.read.parquet(paths.flat).select("bucket")
            .distinct().collect()
        )
    manifest = Manifest(spark, index_dir)
    if manifest.exists():
        manifest.invalidate(touched, run_id)
    _stage_b(
        spark, paths, touched,
        segment_size=segment_size, salt_threshold=salt_threshold,
        max_salts=max_salts, run_id=run_id,
    )
    return {"run_id": run_id, "buckets_rebuilt": len(touched)}
