"""Index integrity checker (fsck): decode-level invariants a healthy
index must satisfy, verified with the serving-side pyarrow reader
machinery — no Spark job.

Checks (each failure is one entry in the returned ``errors`` list):

  I1 df/cf-consistency — dictionary ``df`` equals the count of
     DISTINCT decoded doc ids for the term (with I2 and I3's
     per-segment ``n`` check, also the sum of its segments' ``n``);
     dictionary ``cf`` equals the sum of the decoded tfs and of the
     segments' ``tf_sum`` (each leg checked where the column exists).
     Serving (plans/wand.py) takes df/cf from those segment sums,
     while prefix/wildcard expansion and suggest read the dictionary,
     so the two must agree.
     Tombstones are deliberately NOT applied: df/cf are build-time
     constants frozen until compaction (plans/deletes.py contract),
     so logical deletes must not change this invariant.
  I2 no duplicate (term, doc_id) postings — the corruption class the
     round-1 extend-offset bug produced (doc-id ranges of two builds
     overlapping after an --extend).
  I3 segment order — within every (salt, seg) blob the decoded doc
     ids are strictly increasing and the blob length equals the
     stored ``n``.
  I4 bucket routing — the term's dictionary row lives in exactly the
     bucket ``functions.hashing.term_bucket`` routes it to (a routing
     mismatch silently makes the term unfindable at serving time).
  I5 tombstone referents — every tombstoned doc id exists in urlmap
     (only checked when the index was built from pages input).
  I6 stats sanity — n_docs > 0, avgdl > 0, and every decoded doclen
     positive.
  I7 positions agreement — when the positional table exists AND was
     built with the same analyzer (stem flag) as the index, the
     position count ``npos`` for a sampled (term, doc) equals the
     postings ``tf`` (positions are one offset per occurrence).
  I9 bigram agreement — when the phrase-acceleration bigram table
     (plans/bigrams.py) exists: every sampled bigram row's tf equals
     a positional adjacency recount, terms route to their stored
     bucket, and every pair touches a hot endpoint (the meta's frozen
     hot list). The DIRECT serving path answers 2-token phrases from
     these rows without consulting positions, so silent drift here
     mis-ranks phrases invisibly — exactly the corruption class fsck
     exists for. The distributed audit recounts adjacency for EVERY
     (pair, doc) by reconstructing token sequences from the
     positional table (offsets are a permutation of 0..doclen-1), so
     it also catches MISSING rows — a hot-adjacent pair absent from
     the table silently empties covered phrase queries.

Sampling: ``sample_terms`` terms are chosen deterministically
(seeded) from the dictionary, always including the highest-df terms
(most segments, salted — the richest invariant surface). The
dictionary is read in full here; at a 10^8-term vocabulary, sample
row groups via the parquet footer index instead (same pattern as
plans/wand.py) — the per-term checks are already O(term postings).
"""

from __future__ import annotations

import json
import os

import numpy as np

from search_engine_spark.functions.codec import decode_postings, decode_varints
from search_engine_spark.functions.hashing import term_bucket
from search_engine_spark.plans.deletes import load_tombstones


def _check_term(term: str, df: int, bucket: int, searcher, errors: list,
                n_buckets: int, cf: int | None = None) -> np.ndarray:
    """Run I1-I4 + I6(doclen) for one term; returns decoded doc ids.
    cf is the dictionary cf (None: a pre-cf dictionary)."""
    if term_bucket(term, n_buckets) != bucket:
        errors.append(
            f"I4 bucket routing: term {term!r} stored in bucket {bucket} "
            f"but routes to {term_bucket(term, n_buckets)}"
        )
    segs = searcher._segments(term)
    all_docs = []
    tf_total = 0
    prev_salt = prev_last = None
    # each salt's segments in seg order, salts ascending
    for r in np.lexsort((segs.seg, segs.salt)).tolist():
        salt, seg, n = int(segs.salt[r]), int(segs.seg[r]), int(segs.n[r])
        if salt != prev_salt:
            prev_salt, prev_last = salt, None
        docs, tfs = decode_postings(segs.doc_ids[r], segs.tfs[r])
        dls = decode_varints(segs.doclens[r])
        if not (len(docs) == len(tfs) == len(dls) == n):
            errors.append(
                f"I3 length: {term!r} salt={salt} seg={seg} "
                f"n={n} decoded={len(docs)}/{len(tfs)}/{len(dls)}"
            )
        if len(docs) and np.any(np.diff(docs) <= 0):
            errors.append(
                f"I3 order: {term!r} salt={salt} seg={seg} "
                "doc_ids not strictly increasing"
            )
        if prev_last is not None and len(docs) and docs[0] <= prev_last:
            errors.append(
                f"I3 order: {term!r} salt={salt} seg={seg} "
                "overlaps previous segment"
            )
        if len(docs):
            prev_last = int(docs[-1])
        tf_total += int(np.sum(tfs, dtype=np.int64))
        if np.any(dls <= 0):
            errors.append(
                f"I6 doclen: {term!r} salt={salt} seg={seg} "
                "non-positive doclen"
            )
        all_docs.append(docs)
    docs = np.concatenate(all_docs) if all_docs else np.empty(0, np.int64)
    uniq = np.unique(docs)
    if uniq.size != docs.size:
        errors.append(
            f"I2 duplicates: {term!r} has {docs.size - uniq.size} "
            "duplicate (term, doc_id) postings"
        )
    if uniq.size != df:
        errors.append(
            f"I1 df: {term!r} dictionary df={df} but postings hold "
            f"{uniq.size} distinct docs"
        )
    if cf is not None and cf != tf_total:
        errors.append(
            f"I1 cf: {term!r} dictionary cf={cf} but postings hold "
            f"tf sum {tf_total}"
        )
    if segs.tf_sum is not None and int(segs.tf_sum.sum()) != tf_total:
        errors.append(
            f"I1 cf: {term!r} segments' tf_sum sums to "
            f"{int(segs.tf_sum.sum())} but postings hold tf sum {tf_total}"
        )
    return docs


def _check_positions(index_dir: str, terms, searcher, errors: list) -> int:
    """I7 for the sampled terms that exist in the positional table."""
    import pyarrow.dataset as ds

    checked = 0
    dataset = ds.dataset(
        os.path.join(index_dir, "positions"), format="parquet",
        partitioning="hive",
    )
    for term in terms:
        tbl = dataset.to_table(
            columns=["term", "doc_id", "npos"],
            filter=ds.field("term") == term,
        )
        if tbl.num_rows == 0:
            continue
        checked += 1
        pos_n = dict(zip(tbl["doc_id"].to_pylist(), tbl["npos"].to_pylist()))
        segs = searcher._segments(term)
        for r in range(len(segs)):
            docs, tfs = decode_postings(segs.doc_ids[r], segs.tfs[r])
            for d, tf in zip(docs, tfs):
                got = pos_n.get(int(d))
                if got != int(tf):
                    errors.append(
                        f"I7 positions: {term!r} doc {int(d)} tf={int(tf)} "
                        f"but npos={got}"
                    )
    return checked


def fsck_distributed(spark, index_dir: str) -> dict:
    """Full-coverage cluster twin of fsck(): verifies EVERY term and
    EVERY posting in one Spark job (the sampled local fsck is the
    cheap ops probe; this is the audit you run after a migration or a
    suspect extend at 100 TB — it deliberately decodes the full
    posting volume once).

    I1/I2 — explode decoded (term, doc_id) -> per-term count vs
        count(DISTINCT doc_id) vs dictionary df (full outer join also
        catches terms present on only one side); the decoded tf sum vs
        dictionary cf and vs the segments' Σ tf_sum;
    I3/I6 — order violations, blob-length mismatches, and
        non-positive doclens counted inside the decode kernel;
    I4 — bucket routing for every dictionary row via the same JVM
        hash expression the build uses (pure codegen, no Python);
    I7 — positions agreement for EVERY (term, doc): npos == tf via a
        full-outer join of the decoded postings against the
        positional table (when it exists and shares the analyzer);
    field indexes (fields/*) are audited by recursion — one report
        per field rolled into the parent's.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    errors: list[str] = []
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    segs = postings.select("term", "n", "doc_ids", "tfs", "doclens")

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                docs, tfs = decode_postings(row.doc_ids, row.tfs)
                dls = decode_varints(row.doclens)
                n = len(docs)
                flags = pd.DataFrame(
                    {
                        "term": [row.term],
                        "doc_id": pd.array([None], dtype="Int64"),
                        "tf": pd.array([None], dtype="Int64"),
                        "bad_len": [int(not (n == len(tfs) == len(dls)
                                             == row.n))],
                        "bad_order": [int(n > 1 and bool(
                            np.any(np.diff(docs) <= 0)))],
                        "bad_dl": [int(bool(np.any(dls <= 0)))],
                    }
                )
                rows = pd.DataFrame(
                    {
                        "term": np.repeat(row.term, n),
                        "doc_id": docs,
                        "tf": tfs,
                        "bad_len": np.zeros(n, dtype=np.int32),
                        "bad_order": np.zeros(n, dtype=np.int32),
                        "bad_dl": np.zeros(n, dtype=np.int32),
                    }
                )
                yield pd.concat([flags, rows], ignore_index=True)

    decoded = segs.mapInPandas(
        kernel,
        "term string, doc_id long, tf long,"
        " bad_len int, bad_order int, bad_dl int",
    ).persist()  # several actions below — decode the postings ONCE
    seg_errs = decoded.filter(F.col("doc_id").isNull()).agg(
        F.sum("bad_len").alias("bad_len"),
        F.sum("bad_order").alias("bad_order"),
        F.sum("bad_dl").alias("bad_dl"),
    ).collect()[0]
    per_term = (
        decoded.filter(F.col("doc_id").isNotNull())
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("n_postings"),
            F.count_distinct(F.col("doc_id")).cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
        .persist()  # reused by the mismatch scans AND the totals
    )
    dic_all = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    dic = dic_all.select("term", "df", "bucket")
    joined = per_term.join(dic, "term", "full_outer")
    bad = joined.filter(
        F.col("df").isNull()
        | F.col("n_docs").isNull()
        | (F.col("n_docs") != F.col("df"))
        | (F.col("n_postings") != F.col("n_docs"))
    )
    n_bad_terms = bad.count()
    for r in bad.limit(20).collect():
        errors.append(
            f"I1/I2: term {r.term!r} dictionary df={r.df} decoded "
            f"distinct={r.n_docs} postings={r.n_postings}"
        )
    # I1 cf legs, each where its column exists: dictionary cf and
    # the segments' Σ tf_sum (null when any segment predates tf_sum)
    # against the decoded tf sum — serving takes cf from tf_sum
    cf_legs = []
    if "cf" in dic_all.columns:
        cf_legs.append(("dictionary cf",
                        dic_all.select("term", F.col("cf").alias("v"))))
    if "tf_sum" in postings.columns:
        cf_legs.append(("segments' tf_sum sum", postings.groupBy("term").agg(
            F.when(F.count("tf_sum") == F.count("*"), F.sum("tf_sum"))
            .alias("v"))))
    for name, side in cf_legs:
        drift = per_term.join(side, "term").filter(
            F.col("v").isNotNull() & (F.col("v") != F.col("tf_total")))
        for r in drift.limit(20).collect():
            errors.append(f"I1 cf: term {r.term!r} {name}={r.v} decoded "
                          f"tf sum={r.tf_total}")
    with open(os.path.join(index_dir, "index_meta.json")) as f:
        n_buckets = int(json.load(f)["n_buckets"])
    routing_bad = dic.filter(
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
        != F.col("bucket")
    ).count()
    if routing_bad:
        errors.append(f"I4: {routing_bad} dictionary rows mis-bucketed")
    for name in ("bad_len", "bad_order", "bad_dl"):
        v = int(seg_errs[name] or 0)
        if v:
            errors.append(f"I3/I6: {v} segments with {name}")
    totals = per_term.agg(
        F.count("*").alias("terms"), F.sum("n_postings").alias("postings")
    ).collect()[0]

    # I7 full coverage: EVERY (term, doc) must agree npos == tf when a
    # positional table with the same analyzer exists (the sampled
    # local fsck probes 20 terms; this is the audit pass)
    positions_checked = 0
    pos_dir = os.path.join(index_dir, "positions")
    pos_meta = os.path.join(index_dir, "positions_meta.json")
    idx_meta = os.path.join(index_dir, "index_meta.json")
    if (os.path.isdir(pos_dir) and os.path.exists(pos_meta)
            and os.path.exists(idx_meta)):
        with open(pos_meta) as f:
            pstem = json.load(f).get("stem")
        with open(idx_meta) as f:
            istem = json.load(f).get("stem")
        if istem is not None and pstem == istem:
            pos = spark.read.parquet(pos_dir).select(
                "term", "doc_id", F.col("npos").cast("long").alias("npos")
            )
            tf_rows = decoded.filter(F.col("doc_id").isNotNull()).select(
                "term", "doc_id", "tf"
            )
            mism = tf_rows.join(pos, ["term", "doc_id"], "full_outer").filter(
                F.col("tf").isNull()
                | F.col("npos").isNull()
                | (F.col("tf") != F.col("npos"))
            )
            n_mism = mism.count()
            positions_checked = int(totals["postings"] or 0)
            if n_mism:
                for r in mism.limit(20).collect():
                    errors.append(
                        f"I7 positions: {r.term!r} doc {r.doc_id} "
                        f"tf={r.tf} npos={r.npos}"
                    )
                if n_mism > 20:
                    errors.append(
                        f"I7 positions: {n_mism} (term, doc) mismatches total"
                    )

    decoded.unpersist()
    per_term.unpersist()

    # I9 full coverage: recount adjacency for EVERY (pair, doc) from
    # the positional table and full-outer join against the bigram
    # table — catches drifted tfs AND missing/phantom rows. The
    # groupBy(doc_id) shuffles the positional volume once; this is
    # the audit pass, same O(total positions) budget as I7.
    bigram_postings_checked = 0
    bg_dir = os.path.join(index_dir, "bigrams")
    bg_meta_path = os.path.join(index_dir, "bigrams_meta.json")
    if os.path.isdir(bg_dir) and os.path.exists(bg_meta_path):
        with open(bg_meta_path) as f:
            bmeta = json.load(f)
        hot = sorted(bmeta.get("hot", ()))
        bgn = int(bmeta["n_buckets"])
        big = spark.read.parquet(bg_dir).select(
            "term", "doc_id", F.col("tf").cast("long").alias("tf"),
            "bucket",
        )
        n_route = big.filter(
            F.pmod(F.xxhash64(F.col("term")), F.lit(bgn)).cast("int")
            != F.col("bucket")
        ).count()
        if n_route:
            errors.append(f"I9: {n_route} bigram rows mis-bucketed")
        w = F.split(F.col("term"), " ")
        n_malformed = big.filter(F.size(w) != 2).count()
        if n_malformed:
            errors.append(f"I9: {n_malformed} malformed bigram terms")
        if hot:
            n_uncov = big.filter(
                (F.size(w) == 2)
                & ~w.getItem(0).isin(hot)
                & ~w.getItem(1).isin(hot)
            ).count()
            if n_uncov:
                errors.append(
                    f"I9: {n_uncov} bigram rows with no hot endpoint"
                )
        bgagg = big.groupBy("term", "doc_id").agg(
            F.sum("tf").alias("tf"), F.count("*").alias("nrows")
        ).persist()
        n_dup = bgagg.filter(F.col("nrows") > 1).count()
        if n_dup:
            errors.append(
                f"I9: {n_dup} duplicate bigram (term, doc_id) rows"
            )
        bigram_postings_checked = bgagg.count()
        if os.path.isdir(pos_dir) and os.path.exists(pos_meta):
            with open(pos_meta) as f:
                pstem = json.load(f).get("stem")
            if bool(bmeta.get("stem")) == bool(pstem):
                from search_engine_spark.plans.positions import (
                    decode_positions,
                )

                hot_arr = np.asarray(hot, dtype=object)

                def recount(pdf: pd.DataFrame) -> pd.DataFrame:
                    res_t: list[str] = []
                    res_d: list[int] = []
                    res_c: list[int] = []
                    for did, grp in pdf.groupby("doc_id", sort=False):
                        pos_arrays = [
                            decode_positions(b) for b in grp["positions"]
                        ]
                        lens = [len(p) for p in pos_arrays]
                        total = int(sum(lens))
                        if total < 2:
                            continue
                        offsets = np.concatenate(pos_arrays)
                        # offsets are a permutation of 0..doclen-1, so
                        # scattering term names by offset reconstructs
                        # the token sequence exactly
                        seq = np.empty(int(offsets.max()) + 1,
                                       dtype=object)
                        seq[offsets] = np.repeat(
                            grp["term"].to_numpy(), lens
                        )
                        w1, w2 = seq[:-1], seq[1:]
                        mask = np.isin(w1, hot_arr) | np.isin(w2, hot_arr)
                        if not mask.any():
                            continue
                        vc = (
                            pd.Series(w1[mask]).str.cat(
                                pd.Series(w2[mask]), sep=" "
                            )
                        ).value_counts()
                        res_t.extend(vc.index.tolist())
                        res_d.extend([int(did)] * len(vc))
                        res_c.extend(vc.to_numpy().tolist())
                    return pd.DataFrame(
                        {
                            "term": pd.Series(res_t, dtype="object"),
                            "doc_id": np.asarray(res_d, dtype=np.int64),
                            "adj": np.asarray(res_c, dtype=np.int64),
                        }
                    )

                adj = (
                    spark.read.parquet(pos_dir)
                    .select("term", "doc_id", "positions")
                    .groupBy("doc_id")
                    .applyInPandas(
                        recount, "term string, doc_id long, adj long"
                    )
                )
                mism = (
                    bgagg.select("term", "doc_id", "tf")
                    .join(adj, ["term", "doc_id"], "full_outer")
                    .filter(
                        F.col("tf").isNull()
                        | F.col("adj").isNull()
                        | (F.col("tf") != F.col("adj"))
                    )
                )
                n_m = mism.count()
                if n_m:
                    for r in mism.limit(20).collect():
                        errors.append(
                            f"I9 bigram adjacency: {r.term!r} doc "
                            f"{r.doc_id} tf={r.tf} recount={r.adj}"
                        )
                    if n_m > 20:
                        errors.append(
                            f"I9 bigram adjacency: {n_m} "
                            "(pair, doc) mismatches total"
                        )
        bgagg.unpersist()

    # field indexes use the ordinary layout — full-coverage recursion
    field_reports = {}
    fields_dir = os.path.join(index_dir, "fields")
    if os.path.isdir(fields_dir):
        for name in sorted(os.listdir(fields_dir)):
            fdir = os.path.join(fields_dir, name)
            if os.path.isdir(os.path.join(fdir, "postings")):
                sub = fsck_distributed(spark, fdir)
                field_reports[name] = sub
                if not sub["ok"]:
                    errors.append(
                        f"field index '{name}': {sub['n_errors']} errors "
                        f"(first: {sub['errors'][0]})"
                    )

    return {
        "index_dir": index_dir,
        "mode": "distributed-full",
        "terms_checked": int(totals["terms"] or 0),
        "postings_checked": int(totals["postings"] or 0),
        "positions_checked": positions_checked,
        "bigram_postings_checked": bigram_postings_checked,
        "fields_checked": sorted(field_reports),
        "bad_terms": int(n_bad_terms),
        "n_errors": len(errors),
        "errors": errors[:50],
        "ok": not errors,
    }


def fsck(index_dir: str, *, sample_terms: int = 200, seed: int = 7) -> dict:
    """Run all integrity checks; returns a JSON-able summary with the
    (possibly empty) ``errors`` list. Never raises on corruption —
    callers branch on ``ok``."""
    import pyarrow.parquet as pq

    from search_engine_spark.plans.wand import LocalSearcher

    errors: list[str] = []
    # the searcher must not crash the audit when the boosts table is
    # the corrupt part — the I8 block below reports it instead
    searcher = LocalSearcher(index_dir, load_boosts=False)
    if searcher.n_docs <= 0:
        errors.append(f"I6 stats: n_docs={searcher.n_docs}")
    if not searcher.avgdl > 0:
        errors.append(f"I6 stats: avgdl={searcher.avgdl}")

    dic_path = os.path.join(index_dir, "dictionary")
    has_cf = "cf" in pq.ParquetDataset(dic_path).schema.names
    dic = pq.read_table(
        dic_path,
        columns=["term", "df", "bucket"] + (["cf"] if has_cf else []),
    ).to_pandas()
    head = dic.nlargest(min(10, len(dic)), "df")
    rng = np.random.default_rng(seed)
    rest = dic.drop(head.index)
    n_rand = min(max(sample_terms - len(head), 0), len(rest))
    sample = rest.iloc[rng.choice(len(rest), size=n_rand, replace=False)]
    import pandas as pd

    picked = pd.concat([head, sample])
    for row in picked.itertuples(index=False):
        cf = row.cf if has_cf and not pd.isna(row.cf) else None
        _check_term(row.term, int(row.df), int(row.bucket), searcher,
                    errors, searcher.n_buckets,
                    None if cf is None else int(cf))

    urlmap_path = os.path.join(index_dir, "urlmap")
    tombs = load_tombstones(index_dir)
    tombstones_checked = False
    if tombs.size and os.path.isdir(urlmap_path):
        ids = pq.read_table(urlmap_path, columns=["doc_id"])["doc_id"]
        known = np.sort(np.asarray(ids.to_pylist(), dtype=np.int64))
        pos = np.searchsorted(known, tombs)
        pos_c = np.minimum(pos, known.size - 1)
        missing = tombs[known[pos_c] != tombs] if known.size else tombs
        for d in missing[:20]:
            errors.append(f"I5 tombstone: deleted doc {int(d)} not in urlmap")
        tombstones_checked = True

    positions_checked = 0
    pos_meta = os.path.join(index_dir, "positions_meta.json")
    idx_meta = os.path.join(index_dir, "index_meta.json")
    if os.path.exists(pos_meta) and os.path.exists(idx_meta):
        with open(pos_meta) as f:
            pstem = json.load(f).get("stem")
        with open(idx_meta) as f:
            istem = json.load(f).get("stem")
        if istem is not None and pstem == istem:
            positions_checked = _check_positions(
                index_dir, list(picked.term[:20]), searcher, errors
            )

    # static boost table (I8): serving assumes boosts >= 0 (block-max
    # bound argument), unique doc_ids, and ids inside the allocated
    # space — a violating table would silently mis-rank every query
    boosts_checked = False
    boosts_path = os.path.join(index_dir, "boosts")
    if os.path.isdir(boosts_path):
        bt = pq.read_table(boosts_path, columns=["doc_id", "boost"])
        bd = np.asarray(bt["doc_id"].to_pylist(), dtype=np.int64)
        bv = np.asarray(bt["boost"].to_pylist(), dtype=np.float64)
        if bv.size and (~np.isfinite(bv)).any():
            errors.append("I8 boosts: non-finite boost value")
        if bv.size and (bv < 0).any():
            errors.append(
                f"I8 boosts: {int((bv < 0).sum())} negative boosts "
                "(block-max bounds assume >= 0)"
            )
        if bd.size != np.unique(bd).size:
            errors.append("I8 boosts: duplicate doc_id rows")
        if os.path.isdir(urlmap_path):
            ids = pq.read_table(urlmap_path, columns=["doc_id"])["doc_id"]
            known = np.sort(np.asarray(ids.to_pylist(), dtype=np.int64))
            pos = np.searchsorted(known, bd)
            pos_c = np.minimum(pos, max(known.size - 1, 0))
            bad = bd[known[pos_c] != bd] if known.size else bd
            for d in bad[:20]:
                errors.append(
                    f"I8 boosts: doc_id {int(d)} not in urlmap"
                )
        boosts_checked = True

    # phrase-acceleration bigram table (I9): sampled rows must agree
    # with a positional adjacency recount — the direct phrase path
    # serves straight from these rows
    bigrams_checked = 0
    bg_dir = os.path.join(index_dir, "bigrams")
    bg_meta_path = os.path.join(index_dir, "bigrams_meta.json")
    if os.path.isdir(bg_dir) and os.path.exists(bg_meta_path):
        import pyarrow.dataset as pds

        with open(bg_meta_path) as f:
            bmeta = json.load(f)
        hot = frozenset(bmeta.get("hot", ()))
        bg_buckets = int(bmeta["n_buckets"])
        # candidate terms: first/middle/last of up to three row groups
        # per fragment — exact values (footer stats can truncate
        # strings), ~1 MiB row groups so the probe stays cheap
        cand: dict[str, int] = {}
        for frag in pds.dataset(
            bg_dir, format="parquet", partitioning="hive"
        ).get_fragments():
            bucket = int(frag.path.split("bucket=")[1].split("/")[0])
            pf = pq.ParquetFile(frag.path)
            n_rg = pf.metadata.num_row_groups
            for rg in sorted({0, n_rg // 2, n_rg - 1}):
                vals = pf.read_row_group(rg, columns=["term"])[
                    "term"
                ].to_pylist()
                if vals:
                    for t in (vals[0], vals[len(vals) // 2], vals[-1]):
                        cand.setdefault(t, bucket)
        terms_sorted = sorted(cand)
        rng_bg = np.random.default_rng(seed + 1)
        n_pick = min(20, len(terms_sorted))
        picked_bg = [
            terms_sorted[i]
            for i in rng_bg.choice(
                len(terms_sorted), size=n_pick, replace=False
            )
        ]
        from search_engine_spark.plans.bigrams import BigramReader
        from search_engine_spark.plans.deletes import mask_deleted
        from search_engine_spark.plans.positions import PhraseSearcher

        br = BigramReader(index_dir)
        plain = None
        if os.path.isdir(os.path.join(index_dir, "positions")) and \
                os.path.exists(pos_meta):
            with open(pos_meta) as f:
                pstem = json.load(f).get("stem")
            if bool(bmeta.get("stem")) == bool(pstem):
                # positional recount twin with the bigram table OFF
                plain = PhraseSearcher(index_dir)
                plain._bigrams_loaded = True
                plain._bigrams = None
        for term in picked_bg:
            routed = term_bucket(term, bg_buckets)
            if routed != cand[term]:
                errors.append(
                    f"I9 bigram routing: {term!r} stored in bucket "
                    f"{cand[term]} but routes to {routed}"
                )
            parts = term.split(" ")
            if len(parts) != 2:
                errors.append(f"I9 bigram: malformed term {term!r}")
                continue
            if hot and parts[0] not in hot and parts[1] not in hot:
                errors.append(
                    f"I9 bigram coverage: {term!r} has no hot endpoint"
                )
            docs, tfs = br.rows(*parts)
            if docs.size > 1 and np.any(np.diff(docs) <= 0):
                errors.append(
                    f"I9 bigram order: {term!r} doc_ids not strictly "
                    "increasing"
                )
            if tfs.size and np.any(tfs <= 0):
                errors.append(f"I9 bigram: {term!r} non-positive tf")
            if plain is not None:
                if tombs.size:
                    docs, tfs = mask_deleted(tombs, docs, tfs)
                got = dict(zip(docs.tolist(), tfs.tolist()))
                want = dict(plain.phrase_counts(parts))
                if got != want:
                    errors.append(
                        f"I9 bigram adjacency: {term!r} table rows "
                        f"disagree with positional recount "
                        f"({len(got)} vs {len(want)} docs)"
                    )
            bigrams_checked += 1

    # field indexes (fields/<name>) use the ordinary layout — recurse
    # with a proportionally smaller sample so a corrupted title field
    # fails the same audit the body does
    field_reports = {}
    fields_dir = os.path.join(index_dir, "fields")
    if os.path.isdir(fields_dir):
        for name in sorted(os.listdir(fields_dir)):
            fdir = os.path.join(fields_dir, name)
            if os.path.isdir(os.path.join(fdir, "postings")):
                sub = fsck(fdir, sample_terms=max(sample_terms // 4, 20),
                           seed=seed)
                field_reports[name] = sub
                if not sub["ok"]:
                    errors.append(
                        f"I7 field index '{name}': {sub['n_errors']} "
                        f"errors (first: {sub['errors'][0]})"
                    )

    return {
        "index_dir": index_dir,
        "terms_checked": int(len(picked)),
        "positions_terms_checked": positions_checked,
        "tombstones_checked": tombstones_checked,
        "boosts_checked": boosts_checked,
        "bigrams_checked": bigrams_checked,
        "fields_checked": sorted(field_reports),
        "n_errors": len(errors),
        "errors": errors[:50],
        "ok": not errors,
    }
