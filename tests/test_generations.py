"""Whole-index generations (plans/publish.GenerationTxn): multi-table
mutations (compact, merge-into) commit with ONE atomic symlink swap,
so a concurrent reader sees either the entire old index or the entire
new one — never a mixed set of tables (the round-4 verdict's
cross-table skew window). Readers pin a generation at open
(open_pinned) and the previous generation is retained through the
next commit as their grace period."""

import json
import os
import threading

import pytest

from search_engine_spark.plans.build_index import build_index
from search_engine_spark.plans.deletes import compact_index, delete_docs
from search_engine_spark.plans.publish import (
    begin_generation,
    is_generationed,
    open_pinned,
    resolve_root,
    write_json,
)
from search_engine_spark.plans.wand import LocalSearcher


@pytest.fixture()
def idx(spark, documents, tmp_path):
    d = str(tmp_path / "gen_idx")
    build_index(spark, documents, d, n_buckets=4, segment_size=64,
                stem=False, salt_threshold=50, max_salts=4)
    return d


def test_open_pinned_retries_a_conversion_raced_open(tmp_path):
    """A plain-directory open that races the legacy-to-generation
    conversion is detected after open_fn returns and retried once, on
    the generation the conversion committed."""
    d = str(tmp_path / "plain")
    os.makedirs(d)
    roots = []

    def open_fn(root):
        if not roots:  # the conversion commits mid-open
            os.rename(d, d + ".g0")
            os.symlink("plain.g0", d)
        roots.append(root)
        return root

    assert open_pinned(d, open_fn).endswith(".g0")
    assert roots == [d, d + ".g0"]  # one retry


def test_convert_and_compact_generationed(spark, idx):
    pre = LocalSearcher(idx).search("spark join", k=10, stem=False)
    victims = [pre[0][0], pre[1][0]]
    delete_docs(spark, idx, victims)
    out = compact_index(spark, idx, segment_size=64, max_salts=4,
                        generations=True)
    assert out["tombstones_applied"] == 2
    # converted: live path is now a symlink to .g1, .g0 retained
    assert is_generationed(idx)
    assert resolve_root(idx).endswith(".g1")
    assert os.path.isdir(idx + ".g0")
    hits = LocalSearcher(idx).search("spark join", k=10, stem=False)
    assert all(d not in victims for d, _ in hits)
    # second mutation auto-detects generation mode; g0 is GC'd
    delete_docs(spark, idx, [hits[0][0]])
    compact_index(spark, idx, segment_size=64, max_salts=4)
    assert resolve_root(idx).endswith(".g2")
    assert not os.path.isdir(idx + ".g0")
    assert os.path.isdir(idx + ".g1")


def test_open_reader_keeps_its_snapshot(spark, idx):
    pre = LocalSearcher(idx).search("the", k=10, stem=False, mode="or")
    victims = [pre[0][0]]
    reader = LocalSearcher(idx)  # opened BEFORE the mutation
    delete_docs(spark, idx, victims)
    compact_index(spark, idx, segment_size=64, max_salts=4,
                  generations=True)
    # the pinned reader still serves the PRE-compaction snapshot
    # bit-exactly, including terms it has not decoded yet (lazy opens
    # stay inside the pinned generation)
    assert reader.search("the", k=10, stem=False, mode="or") == pre
    assert reader.search("window scan", k=5, stem=False, mode="or") \
        == LocalSearcher(idx + ".g0").search("window scan", k=5,
                                             stem=False, mode="or")
    # a fresh open sees the new generation
    post = LocalSearcher(idx).search("the", k=10, stem=False, mode="or")
    assert all(d != victims[0] for d, _ in post)
    assert post != pre


def test_hardlink_clone_does_not_corrupt_old_meta(spark, idx):
    with open(os.path.join(idx, "index_meta.json")) as f:
        old_meta = json.load(f)
    delete_docs(spark, idx, [0, 1])
    compact_index(spark, idx, segment_size=64, max_salts=4,
                  generations=True)
    # stage A rewrote the CLONE's meta; the old generation's copy must
    # be byte-independent (json files are copied, not hardlinked)
    with open(os.path.join(idx + ".g0", "index_meta.json")) as f:
        g0_meta = json.load(f)
    with open(os.path.join(idx, "index_meta.json")) as f:
        new_meta = json.load(f)
    assert g0_meta == old_meta
    assert new_meta["n_docs"] < old_meta["n_docs"]


def test_concurrent_reader_sees_one_generation(spark, idx):
    """The verdict-#5 property: while compact rewrites every table, a
    reader opening in a loop must observe results equal to EITHER the
    pre-mutation snapshot or the post-mutation one — never a mix
    (mixed tables would blend old postings with new collection stats
    and produce a third score set)."""
    q = ("spark join", 8)
    top = LocalSearcher(idx).search(q[0], k=q[1], stem=False)
    delete_docs(spark, idx, [top[0][0], top[2][0]])
    # the old generation as a mid-mutation reader sees it: tombstones
    # already mask, stats still pre-compaction
    pre = LocalSearcher(idx).search(q[0], k=q[1], stem=False)
    errors: list = []
    observed: list = []
    stop = threading.Event()

    def reader_loop():
        while not stop.is_set():
            try:
                s = LocalSearcher(idx)
                observed.append(s.search(q[0], k=q[1], stem=False))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader_loop, daemon=True)
    t.start()
    try:
        compact_index(spark, idx, segment_size=64, max_salts=4,
                      generations=True)
    finally:
        stop.set()
        t.join(timeout=30)
    post = LocalSearcher(idx).search(q[0], k=q[1], stem=False)
    assert errors == [], errors
    assert observed, "reader never completed a query"
    bad = [r for r in observed if r != pre and r != post]
    assert bad == [], f"mixed-generation results: {bad[:3]}"
    assert post != pre  # compaction moved the stats — the two
    # generations are genuinely distinguishable, so the bad==[] check
    # above had teeth (whether the loop caught a post-commit open is
    # a race; the fresh post-commit open above is the deterministic
    # visibility check)


def test_merge_into_generationed(spark, documents, tmp_path):
    from pyspark.sql import functions as F

    from search_engine_spark.plans.merge import merge_into

    t_dir = str(tmp_path / "target")
    i_dir = str(tmp_path / "incoming")
    full = str(tmp_path / "full")
    half = documents.filter(F.col("doc_id") < 250)
    rest = (documents.filter(F.col("doc_id") >= 250)
            .withColumn("doc_id", F.col("doc_id") - F.lit(250)))
    kw = dict(n_buckets=4, segment_size=64, stem=False,
              salt_threshold=50, max_salts=4)
    build_index(spark, half, t_dir, **kw)
    build_index(spark, rest, i_dir, **kw)
    build_index(spark, documents, full, **kw)

    pre = LocalSearcher(t_dir).search("spark", k=5, stem=False)
    reader = LocalSearcher(t_dir)
    offset_expected = merge_into(spark, t_dir, i_dir, generations=True)
    assert is_generationed(t_dir)
    # the pinned reader still serves the pre-merge target
    assert reader.search("spark", k=5, stem=False) == pre
    # a fresh open serves the merged index == fresh build ranking
    got = LocalSearcher(t_dir).search("spark join", k=15, stem=False)
    want = LocalSearcher(full).search("spark join", k=15, stem=False)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-12)
    assert offset_expected["buckets_touched"] > 0


def test_abort_leaves_live_untouched(spark, idx):
    pre = LocalSearcher(idx).search("the", k=5, stem=False, mode="or")
    txn = begin_generation(idx)
    # scribble over the clone, then abort
    import shutil

    shutil.rmtree(os.path.join(txn.work, "postings"))
    txn.abort()
    assert not os.path.isdir(txn.work)
    assert LocalSearcher(idx).search("the", k=5, stem=False,
                                     mode="or") == pre


def test_fresh_build_over_generationed_dir(spark, documents, idx):
    delete_docs(spark, idx, [0])
    compact_index(spark, idx, segment_size=64, max_salts=4,
                  generations=True)
    assert is_generationed(idx)
    build_index(spark, documents, idx, n_buckets=2, segment_size=64,
                stem=False, salt_threshold=50, max_salts=4)
    assert not is_generationed(idx)  # plain dir again
    assert not os.path.isdir(idx + ".g0")
    assert not os.path.isdir(idx + ".g1")
    assert LocalSearcher(idx).search("spark", k=3, stem=False)


def test_extend_generationed(spark, documents, idx):
    from pyspark.sql import functions as F

    from search_engine_spark.plans.build_index import extend_index

    # convert via a compaction first
    delete_docs(spark, idx, [0])
    compact_index(spark, idx, segment_size=64, max_salts=4,
                  generations=True)
    pre_gen = resolve_root(idx)
    reader = LocalSearcher(idx)
    pre = reader.search("spark", k=5, stem=False)
    new_docs = (documents.limit(40)
                .withColumn("doc_id", F.col("doc_id") + F.lit(100000)))
    out = extend_index(spark, new_docs, idx, stem=False,
                       segment_size=64, max_salts=4)
    assert out["buckets_rebuilt"] > 0
    assert resolve_root(idx) != pre_gen  # committed a new generation
    # pinned reader: pre-extend snapshot intact
    assert reader.search("spark", k=5, stem=False) == pre
    # fresh reader: extended corpus visible
    s2 = LocalSearcher(idx)
    assert s2.n_docs > reader.n_docs


def test_fold_generationed(spark, documents, idx, tmp_path):
    from pyspark.sql import functions as F

    from search_engine_spark.streaming.incremental import (
        merge_staged_epochs,
    )

    delete_docs(spark, idx, [1])
    compact_index(spark, idx, segment_size=64, max_salts=4,
                  generations=True)
    pre_gen = resolve_root(idx)
    # stage one epoch of flat-delta rows shaped like the index's flat
    from search_engine_spark.operators.aggregates import (
        postings_from_text,
    )
    from search_engine_spark.plans.build_index import _bucket_expr
    from pyspark.sql import functions as F2

    meta = json.load(open(os.path.join(resolve_root(idx),
                                       "index_meta.json")))
    staging = str(tmp_path / "staging")
    delta_src = (documents.limit(25)
                 .withColumn("doc_id", F.col("doc_id") + F.lit(200000)))
    delta = postings_from_text(delta_src, stem=False).withColumn(
        "bucket", _bucket_expr(F2.col("term"), int(meta["n_buckets"]))
    )
    delta.write.mode("overwrite").parquet(
        os.path.join(staging, "epoch=0"))
    reader = LocalSearcher(idx)
    out = merge_staged_epochs(spark, staging, idx, segment_size=64,
                              max_salts=4)
    assert out["epochs_merged"] == 1
    assert resolve_root(idx) != pre_gen
    assert LocalSearcher(idx).n_docs > reader.n_docs
    # consumed epochs are gone (post-commit)
    assert not os.path.isdir(os.path.join(staging, "epoch=0"))


def test_meta_write_is_atomic(tmp_path, monkeypatch):
    """index_meta.json is replaced, never truncated in place: a dump
    that fails midway leaves the previous file intact and readable,
    and no temp file behind."""
    path = str(tmp_path / "index_meta.json")
    write_json(path, {"n_buckets": 4, "n_docs": 10})

    def torn_dump(obj, f):
        f.write('{"n_buckets": 8, "n_d')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        write_json(path, {"n_buckets": 8, "n_docs": 20})
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f) == {"n_buckets": 4, "n_docs": 10}
    assert os.listdir(tmp_path) == ["index_meta.json"]
    write_json(path, {"n_buckets": 8})
    with open(path) as f:
        assert json.load(f) == {"n_buckets": 8}
