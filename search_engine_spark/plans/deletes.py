"""Document deletion: tombstones, query-time filtering, compaction.

The reference lifecycle (SURVEY.md section 2; reference mount empty —
re-verified, so semantics follow the standard Lucene-style contract)
is append-only: build / resume / extend. This module adds the missing
third lifecycle verb:

delete_docs     — O(|deletes|) logical delete: append doc_ids to a
                  tombstone table under <index_dir>/deletes. Nothing
                  else is touched; the operation is cheap enough to
                  run per re-crawl batch.
load_tombstones — the sorted-unique tombstone set (numpy), used by
                  the local serving paths (LocalSearcher /
                  PhraseSearcher) to mask deleted docs at decode time.
tombstones_df   — same set as a DataFrame for the distributed paths.
compact_index   — physical delete: rewrite the flat postings minus
                  tombstones, recompute the derived tables
                  (dictionary/docs/stats/hot_terms/meta), rebuild all
                  segment buckets, filter urlmap/positions in place,
                  clear the tombstones. Afterwards the index is
                  bit-identical to a fresh build over the surviving
                  corpus (property-tested in tests/test_deletes.py).

Scoring semantics between delete and compaction (the Lucene contract):
deleted docs never appear in results, but df / n_docs / avgdl keep
their build-time values until compaction — BM25 scores of surviving
docs are unchanged by a logical delete. This is deliberate: updating
collection statistics per delete would force a full stage-B rebuild
per delete batch (avgdl moves -> every baked tfnorm bound moves).

Scale notes (100 TB): tombstone sets are doc_id longs — millions of
deletes are a few MB, so the serving-side numpy mask and the
distributed broadcast anti-join are both cheap. At billions of
tombstones, compact instead of accumulating (compaction cost equals
one stage-B rebuild, which the per-bucket manifest makes resumable);
the distributed filter below switches from an in-closure mask to a
shuffle anti-join past IN_CLOSURE_MAX so the plan never ships an
unbounded array in the task closure.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.plans.build_index import (
    DEFAULT_SEGMENT_SIZE,
    IndexPaths,
    _read_meta,
    _stage_a_stats,
    _stage_b,
)
from search_engine_spark.plans.manifest import Manifest
from search_engine_spark.plans.publish import (
    exchange_dirs as _exchange_dirs,  # noqa: F401 (re-export for tests)
    publish_dir as _publish_dir,
    write_json,
)

# tombstone sets up to this size ride in the decode UDF's closure
# (one vectorized searchsorted per Arrow batch, zero extra plan
# nodes); larger sets use a left_anti equi-join instead
IN_CLOSURE_MAX = 5_000_000


def _deletes_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def _field_parent(index_dir: str) -> str | None:
    """If index_dir is a field index (<parent>/fields/<name>), return
    the parent index dir. Field indexes share the parent's doc_id
    space AND its tombstone table: delete_docs writes only to
    <parent>/deletes, so a field searcher must mask against it —
    otherwise a standalone title search would resurrect superseded
    docs (it was previously benign only because MultiFieldSearcher
    scores title terms solely over body-driven candidates)."""
    p = os.path.normpath(index_dir)
    if os.path.basename(os.path.dirname(p)) == "fields":
        return os.path.dirname(os.path.dirname(p))
    return None


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids
) -> dict:
    """Logically delete doc_ids (iterable of ints, or a DataFrame with
    a doc_id column): append them to the tombstone table. Idempotent —
    re-deleting an already-deleted (or never-existing) doc_id is a
    harmless no-op at query time and is dropped at compaction."""
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        ids = [(int(d),) for d in doc_ids]
        df = spark.createDataFrame(ids, "doc_id long")
    df = df.distinct()
    out = _deletes_dir(index_dir)
    df.coalesce(1).write.mode("append").parquet(out)
    return {"tombstones_appended": df.count()}


def load_tombstones(index_dir: str) -> np.ndarray:
    """Sorted-unique deleted doc_ids as int64 (empty array if none).
    Pure pyarrow — the serving paths must not pay a Spark job."""
    out = _deletes_dir(index_dir)
    if not os.path.isdir(out):
        parent = _field_parent(index_dir)
        if parent is not None:
            return load_tombstones(parent)
        return np.empty(0, dtype=np.int64)
    import pyarrow.lib
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(out, columns=["doc_id"])
    except (pyarrow.lib.ArrowInvalid, FileNotFoundError, OSError):
        # torn read of a delete APPEND in flight: Spark creates the
        # directory before committing the first part file, so a reader
        # can list it while it holds no parquet parts (found by the
        # concurrent-reader compaction test). Tombstones are monotonic
        # — appearing one poll later is correct behavior, crashing is
        # not.
        return np.empty(0, dtype=np.int64)
    if tbl.num_rows == 0:
        return np.empty(0, dtype=np.int64)
    return np.unique(tbl["doc_id"].to_numpy(zero_copy_only=False))


def tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Tombstones as a distinct (doc_id long) DataFrame, or None."""
    out = _deletes_dir(index_dir)
    if not os.path.isdir(out):
        parent = _field_parent(index_dir)
        if parent is not None:
            return tombstones_df(spark, parent)
        return None
    return spark.read.parquet(out).select("doc_id").distinct()


def mask_deleted(deleted: np.ndarray, docs: np.ndarray, *arrs):
    """Drop rows whose doc_id is tombstoned. `deleted` must be sorted
    (load_tombstones' contract); one searchsorted membership test —
    O(|docs| log |deleted|), no set materialization."""
    if deleted.size == 0 or docs.size == 0:
        return (docs, *arrs)
    pos = np.searchsorted(deleted, docs)
    pos_c = np.minimum(pos, deleted.size - 1)
    live = deleted[pos_c] != docs
    if live.all():
        return (docs, *arrs)
    return (docs[live], *(a[live] for a in arrs))


def _swap_rewrite(path: str, write_fn) -> None:
    """Publish a rewritten table atomically (plans/publish.py): a
    concurrent reader never observes the table path missing
    mid-compaction. Cross-TABLE consistency during a multi-table
    compaction remains the documented non-atomic span."""
    _publish_dir(path, write_fn, suffix=".compact")


def _compact_core(
    spark: SparkSession,
    idx_dir: str,
    tomb: DataFrame,
    *,
    segment_size: int,
    max_salts: int,
    run_id: str,
) -> list[int]:
    """Compact ONE ordinary index directory (the main index or a
    field index like fields/title share the same format): rewrite
    postings_flat minus tombstones, recompute stage-A stats, rebuild
    every segment bucket. Returns the rebuilt bucket ids."""
    paths = IndexPaths(idx_dir)
    meta = _read_meta(spark, paths)
    n_buckets = int(meta["n_buckets"])
    salt_threshold = int(meta.get("salt_threshold", 1_000_000))

    flat = spark.read.parquet(paths.flat).join(tomb, "doc_id", "left_anti")
    _swap_rewrite(
        paths.flat,
        lambda tmp: flat.sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode("overwrite").parquet(tmp),
    )

    _stage_a_stats(spark, paths, n_buckets=n_buckets,
                   salt_threshold=salt_threshold)

    touched = list(range(n_buckets))
    manifest = Manifest(spark, idx_dir)
    if manifest.exists():
        manifest.invalidate(touched, run_id)
    _stage_b(
        spark, paths, touched,
        segment_size=segment_size, salt_threshold=salt_threshold,
        max_salts=max_salts, run_id=run_id,
    )
    return touched


def compact_index(
    spark: SparkSession,
    index_dir: str,
    *,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    max_salts: int = 32,
    run_id: str | None = None,
    generations: bool | None = None,
) -> dict:
    """Physically remove tombstoned docs and converge to the index a
    fresh build over the surviving corpus would produce.

    generations: run the whole multi-table rewrite inside a
    whole-index generation transaction (plans/publish.GenerationTxn)
    and commit with ONE atomic symlink swap — a concurrent reader sees
    either the entire old index or the entire new one, never a mixed
    set of tables. None (default) auto-enables when the index is
    already generation-managed; pass True once to convert a legacy
    in-place directory. Tombstones appended WHILE a compaction runs
    are dropped with the table at the end in both modes (the
    compaction's snapshot is the tombstone set it started from)."""
    from search_engine_spark.plans.publish import (
        begin_generation,
        is_generationed,
    )

    if generations is None:
        generations = is_generationed(index_dir)
    if generations:
        if load_tombstones(index_dir).size == 0:
            return {"run_id": run_id or uuid.uuid4().hex[:12],
                    "tombstones_applied": 0, "buckets_rebuilt": 0}
        txn = begin_generation(index_dir)
        try:
            out = _compact_apply(
                spark, txn.work, segment_size=segment_size,
                max_salts=max_salts, run_id=run_id,
            )
        except BaseException:
            txn.abort()
            raise
        txn.commit()
        return out
    return _compact_apply(
        spark, index_dir, segment_size=segment_size,
        max_salts=max_salts, run_id=run_id,
    )


def _compact_apply(
    spark: SparkSession,
    index_dir: str,
    *,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    max_salts: int = 32,
    run_id: str | None = None,
) -> dict:
    """compact_index's table rewrites, against a PLAIN directory (the
    live path in legacy mode, the generation clone otherwise).

    Steps (each one resumable-in-spirit: the only non-atomic moment is
    the directory swap, and the .compact temp dir holds a complete
    copy, so a crashed compaction is restartable by finishing the
    swap):
      1. rewrite postings_flat minus tombstones (anti-join, layout
         invariants preserved: files locally sorted by
         (bucket, term, doc_id) so SPIMI + row-group pruning hold);
      2. recompute dictionary/docs/stats/hot_terms/meta from the new
         flat (exactly stage A's derivation — avgdl and df now reflect
         the surviving corpus);
      3. rebuild ALL segment buckets (avgdl moved, so every baked
         tfnorm and bound moves — same rule extend_index applies);
      4. filter urlmap, the positional table, and any FIELD indexes
         (fields/title is an ordinary index over the same doc_id
         space, so it compacts by recursion — its df/n_docs/avgdl move
         too) in place, if present;
      5. drop the tombstone table.
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    tomb = tombstones_df(spark, index_dir)
    n_tomb = tomb.count() if tomb is not None else 0
    if n_tomb == 0:
        return {"run_id": run_id, "tombstones_applied": 0,
                "buckets_rebuilt": 0}
    tomb = F.broadcast(tomb) if n_tomb <= IN_CLOSURE_MAX else tomb

    touched = _compact_core(
        spark, index_dir, tomb,
        segment_size=segment_size, max_salts=max_salts, run_id=run_id,
    )

    urlmap = os.path.join(index_dir, "urlmap")
    if os.path.isdir(urlmap):
        kept = spark.read.parquet(urlmap).join(tomb, "doc_id", "left_anti")
        _swap_rewrite(
            urlmap,
            lambda tmp: kept.sort("doc_id").write.mode("overwrite")
            .parquet(tmp),
        )

    docstore = os.path.join(index_dir, "docstore")
    if os.path.isdir(docstore):
        kept = spark.read.parquet(docstore).join(tomb, "doc_id", "left_anti")
        _swap_rewrite(
            docstore,
            lambda tmp: kept.sort("doc_id").write.mode("overwrite")
            .option("parquet.block.size", str(1024 * 1024))
            .parquet(tmp),
        )

    positions = os.path.join(index_dir, "positions")
    if os.path.isdir(positions):
        import json

        with open(os.path.join(index_dir, "positions_meta.json")) as f:
            pmeta = json.load(f)
        kept = (
            spark.read.parquet(positions)
            .join(tomb, "doc_id", "left_anti")
        )
        _swap_rewrite(
            positions,
            # bucket-led sort: see build_positions — partitionBy would
            # otherwise re-sort by bucket only and destroy the
            # (term, doc_id) row-group pruning layout
            lambda tmp: kept.repartition("bucket")
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("overwrite")
            .option("parquet.block.size", str(1024 * 1024))
            .partitionBy("bucket")
            .parquet(tmp),
        )
        # meta unchanged (n_buckets/stem are physical invariants) but
        # rewritten for mtime-based cache busting by long-lived readers
        write_json(os.path.join(index_dir, "positions_meta.json"), pmeta)

    bigrams = os.path.join(index_dir, "bigrams")
    if os.path.isdir(bigrams):
        import json

        with open(os.path.join(index_dir, "bigrams_meta.json")) as f:
            bmeta = json.load(f)
        kept = (
            spark.read.parquet(bigrams)
            .join(tomb, "doc_id", "left_anti")
        )
        _swap_rewrite(
            bigrams,
            # same bucket-led sorted layout as the positional table
            lambda tmp: kept.repartition("bucket")
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("overwrite")
            .option("parquet.block.size", str(1024 * 1024))
            .partitionBy("bucket")
            .parquet(tmp),
        )
        # the frozen hot list stays: which PAIRS are indexed is a
        # physical invariant; only rows of deleted docs leave
        write_json(os.path.join(index_dir, "bigrams_meta.json"), bmeta)

    # field indexes (fields/<name>) share the doc_id space and the
    # ordinary index format — recurse so their postings AND collection
    # stats converge to a fresh two-index build over the survivors
    fields_dir = os.path.join(index_dir, "fields")
    if os.path.isdir(fields_dir):
        for name in sorted(os.listdir(fields_dir)):
            fdir = os.path.join(fields_dir, name)
            if os.path.isdir(os.path.join(fdir, "postings_flat")):
                _compact_core(
                    spark, fdir, tomb,
                    segment_size=segment_size, max_salts=max_salts,
                    run_id=run_id,
                )

    shutil.rmtree(_deletes_dir(index_dir))
    return {
        "run_id": run_id,
        "tombstones_applied": int(n_tomb),
        "buckets_rebuilt": len(touched),
    }
