"""Tiered index merge: combine BUILT indexes without re-tokenizing.

The parallel-ingest story at 10^12 docs: N workers each build a small
index over their shard (tokenize + SPIMI once), then merges fold the
tier into one serving index — the Lucene/LSM merge policy applied to
this engine's layout.

Two merge modes:

``merge_into(target, incoming)`` — the LSM-cadence path, **O(incoming
+ touched-term metadata)**, in place. Because the incoming side's
doc_ids are offset PAST the target's maximum allocated id, every
target segment is already final per (term, bucket): the merge appends
the incoming side's segment rows after them instead of re-sorting and
re-segmenting the union. Per table:

  * postings_flat — incoming rows appended with the doc_id offset
    (column copy, already (bucket, term, doc_id)-sorted per file);
  * postings — incoming segment rows appended into the target's
    bucket partitions. Only the FIRST varint of each doc blob stores
    an absolute id (the rest are gaps), so the rebase is one
    varint rewrite per segment (codec.rebase_first_docs), NOT a
    decode of the postings. Salts are shifted by a per-merge
    generation stride so (term, salt, seg) keys never collide with
    the target's (the serving decode cache keys on them) and fsck's
    within-salt doc-monotonicity keeps holding (incoming doc ranges
    sit entirely above the target's);
  * dictionary — df/cf are additive: union + sum, O(vocabulary);
  * stats/meta — n_docs and the exact-integer sum_doclen are
    additive, so the merged avgdl ((sum_a+sum_b)/(n_a+n_b)) is
    BIT-identical to a fresh build's. Baked per-segment max_tfnorm
    bounds were computed under each side's OWN avgdl; rather than
    re-bake O(total) bounds, meta records ``tfnorm_scale`` — the
    factor that keeps every stored bound a valid upper bound under
    the merged avgdl (tfnorm is monotone in avgdl with ratio
    < avgdl_new/avgdl_built) — and the serving reader applies it at
    segment load. Pruning stays exact, marginally looser, until the
    next compaction/extend rebuild resets it;
  * urlmap / docstore / positions / fields/* — appended in kind with
    the same offset (docstore/urlmap keep their 1 MiB row groups so
    the per-doc seek structure survives the merge).

``merge_indexes(a, b, out)`` — out-of-place: file-copy `a` to `out`
(no Spark compute), then ``merge_into(out, b)``. With
``rebuild=True`` it instead re-sorts the union flat and re-runs stage
B over every bucket — O(total), but produces the canonical
fresh-build layout (tight bounds, packed segments, generation-0
salts); use it as the periodic canonicalization pass, the same role
a Lucene forceMerge plays.

Both modes are value-identical to a fresh build over the concatenated
corpus (dictionary rows, collection stats, and search results —
property-tested in tests/test_merge.py). Indexes with live tombstones
must be compacted first — merging masked postings would silently
resurrect deleted docs in the target.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.plans.build_index import (
    DEFAULT_SEGMENT_SIZE,
    IndexPaths,
    _read_meta,
    _stage_a_stats,
    _stage_b,
)
from search_engine_spark.plans.manifest import Manifest
from search_engine_spark.plans.publish import publish_dir, write_json

_SEG_ORDER = [
    "bucket", "term", "salt", "seg", "n", "doc_ids",
    "tfs", "doclens", "max_tfnorm", "first_doc", "last_doc", "n_bytes",
    "tf_sum",
]
# salt stride between merge generations: strictly above the builder's
# max_salts cap (32), so a generation's shifted salts can never
# collide with build-time ones
_SALT_STRIDE = 64


def _max_allocated_id(spark: SparkSession, index_dir: str) -> int:
    """Highest doc_id the index has ALLOCATED (urlmap when present —
    it records even empty docs — else the docs stats table)."""
    paths = IndexPaths(index_dir)
    urlmap = os.path.join(index_dir, "urlmap")
    src = urlmap if os.path.isdir(urlmap) else paths.docs
    row = spark.read.parquet(src).agg(F.max("doc_id")).collect()[0]
    return int(row[0]) if row[0] is not None else -1


def _check_compat(spark: SparkSession, a_dir: str, b_dir: str) -> None:
    """Physical-invariant guards shared by both merge modes."""
    from search_engine_spark.plans.deletes import load_tombstones

    meta_a = _read_meta(spark, IndexPaths(a_dir))
    meta_b = _read_meta(spark, IndexPaths(b_dir))
    if int(meta_a["n_buckets"]) != int(meta_b["n_buckets"]):
        raise ValueError(
            f"n_buckets mismatch ({meta_a['n_buckets']} vs "
            f"{meta_b['n_buckets']}) — the term->bucket hash is a "
            "physical invariant; rebuild one side"
        )
    if bool(meta_a.get("stem", True)) != bool(meta_b.get("stem", True)):
        raise ValueError("stem flag mismatch — analyzers differ")
    for d in (a_dir, b_dir):
        if load_tombstones(d).size:
            raise ValueError(
                f"{d} has live tombstones — compact it before merging "
                "(masked postings would resurrect deleted docs)"
            )

    def _sides(rel: str) -> tuple[bool, bool]:
        return (os.path.isdir(os.path.join(a_dir, rel)),
                os.path.isdir(os.path.join(b_dir, rel)))

    for rel, why in (
        ("urlmap", "doc_id→url resolution would silently miss one "
                   "side's docs"),
        ("docstore", "snippets/more-like-this would miss one side's "
                     "docs"),
        ("positions", "phrase/NEAR search would silently miss one "
                      "side's docs"),
        ("bigrams", "accelerated phrase search would silently miss "
                    "one side's docs (the direct bigram path answers "
                    "without consulting positions)"),
    ):
        ha, hb = _sides(rel)
        if ha != hb:
            raise ValueError(
                f"one side has a {rel} table and the other does not — "
                f"{why}; build the missing side (or drop the present "
                "one) before merging"
            )
    fields_a = _field_names(a_dir)
    fields_b = _field_names(b_dir)
    if fields_a != fields_b:
        raise ValueError(
            "field-index mismatch (fields/* = "
            f"{sorted(fields_a)} vs {sorted(fields_b)}) — field "
            "indexes share the doc_id space; an asymmetric title "
            "field would leave the merged index half-ranked. Build "
            "the missing field (or drop the present one) before "
            "merging"
        )
    if _sides("positions") == (True, True):
        pa = _positions_meta(a_dir)
        pb = _positions_meta(b_dir)
        if (int(pa["n_buckets"]) != int(pb["n_buckets"])
                or bool(pa["stem"]) != bool(pb["stem"])):
            raise ValueError(
                "positions tables disagree on n_buckets/stem — "
                "term routing / analysis are physical invariants"
            )
    if _sides("bigrams") == (True, True):
        ba = _bigrams_meta(a_dir)
        bb = _bigrams_meta(b_dir)
        if (int(ba["n_buckets"]) != int(bb["n_buckets"])
                or bool(ba["stem"]) != bool(bb["stem"])
                or sorted(ba["hot"]) != sorted(bb["hot"])):
            raise ValueError(
                "bigram tables disagree on n_buckets/stem/hot-term "
                "set — which pairs are indexed is a physical "
                "invariant; rebuild one side's table "
                "(index_admin.py build-bigrams) before merging"
            )


def _field_names(index_dir: str) -> set[str]:
    fdir = os.path.join(index_dir, "fields")
    if not os.path.isdir(fdir):
        return set()
    return {
        n for n in os.listdir(fdir)
        if os.path.isdir(os.path.join(fdir, n, "postings_flat"))
    }


def _positions_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "positions_meta.json")) as f:
        return json.load(f)


def _bigrams_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "bigrams_meta.json")) as f:
        return json.load(f)


def _merge_bigrams_into(spark, target_dir: str, src_dir: str,
                        offset: int, *, union: bool = False,
                        out_dir: str | None = None) -> bool:
    """Fold src's bigram table into target's (doc_ids offset), either
    appending in place (merge_into) or writing a fresh union
    (rebuild-mode merge, out_dir). Layout identical to the positional
    table: bucket-led sorted partitioned write."""
    t_bg = os.path.join(target_dir, "bigrams")
    if not os.path.isdir(t_bg):
        return False
    rows_b = (
        spark.read.parquet(os.path.join(src_dir, "bigrams"))
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    )
    if union:
        rows = spark.read.parquet(t_bg).unionByName(rows_b)
        dest, mode = os.path.join(out_dir, "bigrams"), "overwrite"
        meta_dir = out_dir
    else:
        rows, dest, mode = rows_b, t_bg, "append"
        meta_dir = target_dir
    (
        rows.repartition("bucket")
        .sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode(mode)
        .option("parquet.block.size", str(1024 * 1024))
        .partitionBy("bucket")
        .parquet(dest)
    )
    write_json(os.path.join(meta_dir, "bigrams_meta.json"),
               _bigrams_meta(target_dir))
    return True


def _make_rebase(offset: int, salt_shift: int):
    """mapInPandas kernel: shift one side's segment rows into the
    merged doc_id space — first-varint rebase per doc blob, metadata
    column shifts, generation-shifted salts. O(segment rows)."""
    from search_engine_spark.functions.codec import rebase_first_docs

    def rebase(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf["doc_ids"] = rebase_first_docs(list(pdf["doc_ids"]), offset)
            pdf["first_doc"] = pdf["first_doc"] + offset
            pdf["last_doc"] = pdf["last_doc"] + offset
            pdf["salt"] = pdf["salt"] + salt_shift
            yield pdf[_SEG_ORDER]

    return rebase


def _swap_rewrite(path: str, write_fn) -> None:
    """Atomic table publish against the LIVE target index
    (plans/publish.py): a concurrent searcher never observes the path
    missing mid-merge."""
    publish_dir(path, write_fn, suffix=".merge")


def _side_counts(spark: SparkSession, meta: dict, paths: IndexPaths
                 ) -> tuple[int, int]:
    """(n_docs, exact integer sum of doclens) for one side; pre-meta
    or pre-sum_doclen indexes recompute the sum from the docs table."""
    n = int(meta["n_docs"])
    s = meta.get("sum_doclen")
    if s is None:
        s = spark.read.parquet(paths.docs).agg(
            F.sum("doclen")
        ).collect()[0][0] or 0
    return n, int(s)


def _merge_core(
    spark: SparkSession,
    t_dir: str,
    i_dir: str,
    offset: int,
    run_id: str,
) -> dict:
    """Segment-append merge of ONE ordinary index pair (the main index
    or a field index): incoming folds INTO the target in place."""
    pt, pi = IndexPaths(t_dir), IndexPaths(i_dir)
    mt, mi = _read_meta(spark, pt), _read_meta(spark, pi)
    if int(mt["n_buckets"]) != int(mi["n_buckets"]):
        raise ValueError(
            f"n_buckets mismatch under {t_dir} vs {i_dir} "
            f"({mt['n_buckets']} vs {mi['n_buckets']})"
        )
    if bool(mt.get("stem", True)) != bool(mi.get("stem", True)):
        raise ValueError(f"stem flag mismatch under {t_dir} vs {i_dir}")
    nb = int(mt["n_buckets"])
    t0 = time.time()
    # exact additive stats, read BEFORE any table is touched
    n_t, s_t = _side_counts(spark, mt, pt)
    n_i, s_i = _side_counts(spark, mi, pi)

    # 1. flat append — O(incoming) column copy; the +offset preserves
    #    the per-file (bucket, term, doc_id) sort stage A guarantees
    flat_i = spark.read.parquet(pi.flat).withColumn(
        "doc_id", F.col("doc_id") + F.lit(offset)
    )
    (
        flat_i.sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode("append").parquet(pt.flat)
    )

    # 2. segment append — rebase + shift, never decode the postings
    gen_t = int(mt.get("salt_generation", 0))
    gen_i = int(mi.get("salt_generation", 0))
    salt_shift = _SALT_STRIDE * (gen_t + 1)
    segs_i = spark.read.parquet(pi.postings)
    if "tf_sum" not in segs_i.columns:  # pragma: no cover - pre-upgrade
        segs_i = segs_i.withColumn("tf_sum", F.lit(None).cast("long"))
    segs_i = segs_i.select(*_SEG_ORDER)
    seg_schema = (
        "bucket int, term string, salt int, seg int, n int,"
        " doc_ids binary, tfs binary, doclens binary, max_tfnorm double,"
        " first_doc long, last_doc long, n_bytes int, tf_sum long"
    )
    (
        segs_i.mapInPandas(_make_rebase(offset, salt_shift), seg_schema)
        .repartition(nb, "bucket")
        # bucket-led sort: partitionBy would otherwise re-sort by the
        # partition column alone and scramble term order across row
        # groups (the round-3 pruning fix applies to appends too)
        .sortWithinPartitions("bucket", "term", "salt", "seg")
        .write.mode("append")
        .option("parquet.block.size", str(1024 * 1024))
        .partitionBy("bucket")
        .parquet(pt.postings)
    )

    # 3. dictionary — df/cf are additive; O(vocabulary), not postings
    dic = (
        spark.read.parquet(pt.dictionary)
        .unionByName(spark.read.parquet(pi.dictionary))
        .groupBy("term", "bucket")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
        )
    )
    _swap_rewrite(
        pt.dictionary,
        lambda tmp: dic.repartition(nb, "bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp),
    )

    # 4. docs append (per-doc lengths; offset ids sit above the old max)
    (
        spark.read.parquet(pi.docs)
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        .write.mode("append").parquet(pt.docs)
    )

    # 5. stats + meta — additive integers, bit-identical to fresh build
    n_new = n_t + n_i
    s_new = s_t + s_i
    avg_new = float(s_new) / float(n_new) if n_new else 0.0
    _swap_rewrite(
        pt.stats,
        lambda tmp: spark.createDataFrame(
            [(n_new, s_new, avg_new)],
            "n_docs long, sum_doclen long, avgdl double",
        ).coalesce(1).write.mode("overwrite").parquet(tmp),
    )
    salt_threshold = int(min(
        mt.get("salt_threshold", 1_000_000),
        mi.get("salt_threshold", 1_000_000),
    ))
    scale = max(
        float(mt.get("tfnorm_scale", 1.0))
        * max(1.0, avg_new / float(mt["avgdl"])),
        float(mi.get("tfnorm_scale", 1.0))
        * max(1.0, avg_new / float(mi["avgdl"])),
    )
    meta = {
        "n_buckets": nb,
        "n_docs": n_new,
        "avgdl": avg_new,
        "sum_doclen": s_new,
        "salt_threshold": salt_threshold,
        "salt_generation": gen_t + gen_i + 1,
    }
    if "stem" in mt:
        meta["stem"] = bool(mt["stem"])
    if scale != 1.0:
        meta["tfnorm_scale"] = scale
    write_json(pt.meta, meta)

    # 6. hot-term sketch from the merged dictionary
    hot = (
        spark.read.parquet(pt.dictionary)
        .filter(F.col("df") > salt_threshold)
        .select("term", "df")
    )
    _swap_rewrite(
        pt.hot_terms,
        lambda tmp: hot.coalesce(1).write.mode("overwrite").parquet(tmp),
    )

    # 7. manifest lineage for the touched buckets (metrics from the
    #    incoming side — offset-invariant)
    metrics = (
        spark.read.parquet(pi.postings)
        .groupBy("bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("n").cast("long").alias("n_postings"),
            F.count("*").cast("long").alias("n_segments"),
            F.sum("n_bytes").cast("long").alias("bytes"),
        )
        .collect()
    )
    wall = time.time() - t0
    import datetime as dt

    now = dt.datetime.now(dt.timezone.utc)
    Manifest(spark, t_dir).append(
        [
            (run_id, int(r.bucket), "done", int(r.n_terms),
             int(r.n_postings), int(r.n_segments), int(r.bytes),
             wall / max(len(metrics), 1), now)
            for r in metrics
        ]
    )
    return {"buckets_touched": len(metrics), "tfnorm_scale": scale}


def merge_into(
    spark: SparkSession,
    target_dir: str,
    incoming_dir: str,
    *,
    run_id: str | None = None,
    generations: bool | None = None,
) -> dict:
    """Fold a BUILT incoming index into the target IN PLACE —
    O(incoming + touched-term metadata), never a rebuild of the
    target's segments (module docstring).

    generations=None auto-enables the whole-index generation
    transaction when the target is generation-managed (True converts
    a legacy directory): the multi-table fold then runs against a
    clone and commits with one atomic symlink swap — concurrent
    readers see old-or-new, never mixed tables. In legacy mode the
    fold is not atomic: a crashed merge is recovered by re-running
    stage B from the (appended) flat — the flat table is written
    first and remains the source of truth."""
    from search_engine_spark.plans.publish import (
        begin_generation,
        is_generationed,
    )

    if generations is None:
        generations = is_generationed(target_dir)
    if generations:
        txn = begin_generation(target_dir)
        try:
            out = _merge_into_apply(spark, txn.work, incoming_dir,
                                    run_id=run_id)
        except BaseException:
            txn.abort()
            raise
        txn.commit()
        return out
    return _merge_into_apply(spark, target_dir, incoming_dir,
                             run_id=run_id)


def _merge_into_apply(
    spark: SparkSession,
    target_dir: str,
    incoming_dir: str,
    *,
    run_id: str | None = None,
) -> dict:
    run_id = run_id or uuid.uuid4().hex[:12]
    _check_compat(spark, target_dir, incoming_dir)
    offset = _max_allocated_id(spark, target_dir) + 1

    core = _merge_core(spark, target_dir, incoming_dir, offset, run_id)

    merged_fields = []
    for name in sorted(_field_names(target_dir)):
        _merge_core(
            spark,
            os.path.join(target_dir, "fields", name),
            os.path.join(incoming_dir, "fields", name),
            offset, run_id,
        )
        merged_fields.append(name)

    merged_positions = False
    t_pos = os.path.join(target_dir, "positions")
    if os.path.isdir(t_pos):
        rows = (
            spark.read.parquet(os.path.join(incoming_dir, "positions"))
            .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
        (
            rows.repartition("bucket")
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("append")
            .option("parquet.block.size", str(1024 * 1024))
            .partitionBy("bucket")
            .parquet(t_pos)
        )
        # content unchanged; rewritten for mtime-based cache busting
        write_json(os.path.join(target_dir, "positions_meta.json"),
                   _positions_meta(target_dir))
        merged_positions = True
    merged_bigrams = _merge_bigrams_into(
        spark, target_dir, incoming_dir, offset
    )

    def _append_side_table(name: str) -> bool:
        dst = os.path.join(target_dir, name)
        if not os.path.isdir(dst):
            return False
        db = (
            spark.read.parquet(os.path.join(incoming_dir, name))
            .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
        (
            db.sort("doc_id").write.mode("append")
            # keep the 1 MiB row groups the per-doc seek structure
            # needs (DocStore / urlmap footer-stat pruning)
            .option("parquet.block.size", str(1024 * 1024))
            .parquet(dst)
        )
        return True

    merged_urlmap = _append_side_table("urlmap")
    merged_docstore = _append_side_table("docstore")

    # static boosts (doc_id, boost) are per-doc data, NOT derived from
    # index statistics, so they merge like urlmap — an absent side
    # contributes nothing (absent doc_id == boost 0.0 at serving).
    # Asymmetric cases are legal: the incoming side's boosts land
    # offset whether or not the target had any.
    merged_boosts = False
    i_boosts = os.path.join(incoming_dir, "boosts")
    if os.path.isdir(i_boosts):
        t_boosts = os.path.join(target_dir, "boosts")
        db = (
            spark.read.parquet(i_boosts)
            .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
        db.sort("doc_id").write.mode("append").parquet(t_boosts)
        merged_boosts = True
    return {
        "run_id": run_id,
        "mode": "append",
        "doc_id_offset": int(offset),
        "buckets_touched": core["buckets_touched"],
        "tfnorm_scale": core["tfnorm_scale"],
        "urlmap_merged": merged_urlmap,
        "docstore_merged": merged_docstore,
        "positions_merged": merged_positions,
        "bigrams_merged": merged_bigrams,
        "boosts_merged": merged_boosts,
        "title_merged": "title" in merged_fields,
        "fields_merged": merged_fields,
        # the SymSpell suggest table derives from dictionary dfs, which
        # the merge just changed — re-derive it (index_admin.py
        # build-suggest) if the index serves suggestions
        "suggest_stale": os.path.isdir(os.path.join(target_dir, "suggest")),
    }


def _merge_rebuild(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    out_dir: str,
    *,
    segment_size: int,
    max_salts: int,
    run_id: str,
) -> dict:
    """Canonicalizing merge: union the flats, re-sort, re-run stage B
    over every bucket — O(total), fresh-build layout (tight bounds,
    packed segments, generation-0 salts). The periodic forceMerge-
    style pass; ``merge_into`` is the per-ingest path."""
    pa, pb = IndexPaths(a_dir), IndexPaths(b_dir)
    offset = _max_allocated_id(spark, a_dir) + 1

    def _rebuild_pair(src_a: IndexPaths, src_b: IndexPaths,
                      dst: IndexPaths) -> None:
        ma, mb = _read_meta(spark, src_a), _read_meta(spark, src_b)
        if int(ma["n_buckets"]) != int(mb["n_buckets"]):
            raise ValueError(
                f"n_buckets mismatch under {src_a.root} vs "
                f"{src_b.root} ({ma['n_buckets']} vs {mb['n_buckets']})"
            )
        nb = int(ma["n_buckets"])
        st = int(min(ma.get("salt_threshold", 1_000_000),
                     mb.get("salt_threshold", 1_000_000)))
        flat_a = spark.read.parquet(src_a.flat)
        flat_b = spark.read.parquet(src_b.flat).withColumn(
            "doc_id", F.col("doc_id") + F.lit(offset)
        )
        (
            flat_a.unionByName(flat_b)
            .repartition(nb, "bucket")
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("overwrite").parquet(dst.flat)
        )
        _stage_a_stats(
            spark, dst, n_buckets=nb, salt_threshold=st,
            stem=bool(ma.get("stem", True)),
        )
        _stage_b(
            spark, dst, list(range(nb)),
            segment_size=segment_size, salt_threshold=st,
            max_salts=max_salts, run_id=run_id,
        )

    out = IndexPaths(out_dir)
    _rebuild_pair(pa, pb, out)
    n_buckets = int(_read_meta(spark, pa)["n_buckets"])

    merged_fields = []
    for name in sorted(_field_names(a_dir)):
        _rebuild_pair(
            IndexPaths(os.path.join(a_dir, "fields", name)),
            IndexPaths(os.path.join(b_dir, "fields", name)),
            IndexPaths(os.path.join(out_dir, "fields", name)),
        )
        merged_fields.append(name)

    merged_positions = False
    if os.path.isdir(os.path.join(a_dir, "positions")):
        rows_a = spark.read.parquet(os.path.join(a_dir, "positions"))
        rows_b = (
            spark.read.parquet(os.path.join(b_dir, "positions"))
            .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
        (
            rows_a.unionByName(rows_b)
            .repartition("bucket")
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("overwrite")
            .option("parquet.block.size", str(1024 * 1024))
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, "positions"))
        )
        write_json(os.path.join(out_dir, "positions_meta.json"),
                   _positions_meta(a_dir))
        merged_positions = True
    merged_bigrams = _merge_bigrams_into(
        spark, a_dir, b_dir, offset, union=True, out_dir=out_dir
    )

    def _union_side_table(name: str) -> bool:
        ta, tb = (os.path.join(d, name) for d in (a_dir, b_dir))
        if not os.path.isdir(ta):
            return False
        da = spark.read.parquet(ta)
        db = spark.read.parquet(tb).withColumn(
            "doc_id", F.col("doc_id") + F.lit(offset)
        )
        (
            da.unionByName(db).sort("doc_id")
            .write.mode("overwrite")
            .option("parquet.block.size", str(1024 * 1024))
            .parquet(os.path.join(out_dir, name))
        )
        return True

    # static boosts: per-doc side data, asymmetric sides legal (absent
    # doc_id == boost 0.0) — union with the same offset
    merged_boosts = False
    b_frames = []
    if os.path.isdir(os.path.join(a_dir, "boosts")):
        b_frames.append(spark.read.parquet(os.path.join(a_dir, "boosts")))
    if os.path.isdir(os.path.join(b_dir, "boosts")):
        b_frames.append(
            spark.read.parquet(os.path.join(b_dir, "boosts"))
            .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
    if b_frames:
        u = b_frames[0]
        for extra in b_frames[1:]:
            u = u.unionByName(extra)
        u.sort("doc_id").write.mode("overwrite").parquet(
            os.path.join(out_dir, "boosts")
        )
        merged_boosts = True

    return {
        "run_id": run_id,
        "mode": "rebuild",
        "doc_id_offset": int(offset),
        "buckets_touched": n_buckets,
        "tfnorm_scale": 1.0,
        "urlmap_merged": _union_side_table("urlmap"),
        "docstore_merged": _union_side_table("docstore"),
        "positions_merged": merged_positions,
        "bigrams_merged": merged_bigrams,
        "boosts_merged": merged_boosts,
        "title_merged": "title" in merged_fields,
        "fields_merged": merged_fields,
        "suggest_stale": False,  # rebuild writes a fresh out_dir
    }


def merge_indexes(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    out_dir: str,
    *,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    max_salts: int = 32,
    run_id: str | None = None,
    rebuild: bool = False,
) -> dict:
    """Merge two built indexes into a fresh index at out_dir.

    Default: file-copy `a` (no Spark compute) then segment-append `b`
    via merge_into — O(copy + incoming). ``rebuild=True`` re-segments
    the whole union instead (canonical layout; O(total)) —
    segment_size/max_salts apply only there."""
    run_id = run_id or uuid.uuid4().hex[:12]
    _check_compat(spark, a_dir, b_dir)
    if rebuild:
        return _merge_rebuild(
            spark, a_dir, b_dir, out_dir,
            segment_size=segment_size, max_salts=max_salts, run_id=run_id,
        )
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    shutil.copytree(a_dir, out_dir)
    return merge_into(spark, out_dir, b_dir, run_id=run_id)
