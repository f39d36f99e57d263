"""Repository benchmark: build, open-loop serving and writes beside reads.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 6 --trace 0

Run from the repository root. One run does this on inputs generated from
the seed:

1. set-up: Spark start and Python-worker warm-up, build of the servable
   index (build_index, build_positions, build_bigrams), conversion to a
   generation-managed index, searcher open and warm-up;
2. serving: a single-threaded open loop at two fixed rates over the
   op mix, each query timed from when it was due;
3. writes beside reads: extend (extend_index plus the positional and
   bigram appends), a separately built shard folded in with merge_into,
   delete_docs and compact_index, each followed by a freshly opened
   searcher that must see the write, fsck, and a short query stream at
   the low rate;
4. correctness checks, outside every timed window.

The workloads differ in the query stream: serve-hot repeats head terms
that fit the searcher caches, serve-cold uses every tail term once. An
untraced serve-hot run writes only extend and delete (see WRITES).
--seconds is the length of the serving window: two thirds at the low
rate, one third at the high rate. With --trace 1 the run records spans
around every call into a layer and prints the per-layer metrics instead
of the end-to-end ones. The last line of standard output is the result
JSON.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {"serve-hot": True, "serve-cold": False}  # hot query terms?
# the write sequence after serving. Every end-to-end metric is measured
# before it, so an untraced serve-hot run, whose writes only feed the
# correctness checks, skips merge and compact: together they cost about
# 20 s, which a full pass of runs cannot carry on both workloads.
WRITES = ("extend", "merge", "delete", "compact")
HOT_UNTRACED_WRITES = ("extend", "delete")
RATES = {"low": 20.0, "high": 30.0}  # queries/s, open loop
# share of the serving window at each rate; the gated low-rate median
# gets most of the samples
WINDOW_SHARE = {"low": 2 / 3, "high": 1 / 3}
ROUNDS = 4
K = 10
# untimed queries before the first timed one: enough for serve-hot's
# repeated terms to reach the decoded cache; serve-cold only warms code
WARMUP_QUERIES = {"serve-hot": 1000, "serve-cold": 60}
POST_COMMIT_QUERIES = 4  # per write, at the low rate
# fsck's sampled terms after the intermediate writes; the one after the
# last write samples fsck's default 200
FSCK_TERMS = 50
PROBE_QUERIES = 20  # traced run: first vs repeat call
# sampled queries re-run against an exhaustive reference, per op kind;
# lmd and phrase references are Spark jobs, so they get fewer
CHECKS = {"lmd": 1, "phrase": 1}
CHECKS_DEFAULT = 4
N_BUCKETS = 4
# searcher cache capacities at the commit that defined this benchmark
CACHE_CAPACITY = {"decoded_terms": 256, "dictionary_entries": 65536,
                  "phrase_terms": 512}

OP_LAYER = {"and": "wand.search", "or": "wand.search", "msm": "wand.search",
            "grouped": "wand.search_grouped", "lmd": "wand.search_lmd",
            "phrase": "positions.search_phrase",
            "mixed": "phraseq.search_mixed"}


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def memcpy_probe() -> float:
    """Host noise probe: p50 ms of seven 17 MB copies."""
    a = np.zeros(17_000_000, dtype=np.uint8)
    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        b = a.copy()
        samples.append((time.perf_counter() - t0) * 1000)
        del b
    return statistics.median(samples)


def files_by_inode(paths) -> dict:
    """(dev, inode) -> size of every regular file under paths; hardlinked
    files shared between generations count once."""
    out = {}
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                st = os.lstat(os.path.join(dirpath, n))
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def generations(index_dir: str) -> list[str]:
    return sorted(glob.glob(index_dir + ".g[0-9]*"))


class Run:
    """One run of one workload; execute() returns the result object."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, trace_dir: str):
        self.workload = workload
        self.hot = WORKLOADS[workload]
        self.writes = (HOT_UNTRACED_WRITES if self.hot and not trace
                       else WRITES)
        self.seed = seed
        self.seconds = seconds
        self.tr = Tracer(trace)
        self.work = work
        self.trace_dir = trace_dir
        self.idx = os.path.join(work, "index")
        self.attempted = 0
        self.failures: list[str] = []
        self.req = 0
        self.trace_cost = 0.0  # seconds spent recording query spans
        self.spark = None

    # -- bookkeeping -------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok

    # -- the op mix --------------------------------------------------
    def _call(self, s, ph, q):
        from search_engine_spark.plans.phraseq import search_mixed

        if q.kind == "and":
            return s.search(q.text, k=K)
        if q.kind == "or":
            return s.search(q.text, k=K, mode="or")
        if q.kind == "msm":
            return s.search(q.text, k=K, mode="or", msm=2)
        if q.kind == "grouped":
            return s.search_grouped(q.text, k=K)
        if q.kind == "lmd":
            return s.search_lmd(q.text, k=K, mode="or")
        if q.kind == "phrase":
            return ph.search_phrase(q.text, k=K)
        return search_mixed(s, ph, q.text, k=K)

    def serve(self, s, ph, queries, rate: float, label: str) -> list[dict]:
        """Open loop: query i is due at t0 + i/rate whatever happened to
        the queries before it; latency runs from the due time."""
        recs = []
        t0 = time.perf_counter() + 0.005
        prev_end = t0
        for i, q in enumerate(queries):
            due = t0 + i / rate
            # spin rather than sleep: waking an idle core adds jitter to
            # both the due time and the next query's service time
            while time.perf_counter() < due:
                pass
            self.attempted += 1
            start = time.perf_counter()
            try:
                res, err = self._call(s, ph, q), None
            except Exception as e:  # a failed query is a counted failure
                res, err = None, f"{q.kind} {q.text!r}: {e!r}"
            end = time.perf_counter()
            if self.tr.enabled:
                self.req += 1
                rid = self.tr.add("loadgen.request", due, end,
                                  request=self.req, op=q.kind, rate=label)
                self.tr.add(OP_LAYER[q.kind], start, end, parent=rid,
                            request=self.req, op=q.kind, rate=label)
                self.trace_cost += time.perf_counter() - end
            if err:
                self.check(False, err)
            recs.append({"q": q, "due": due, "start": start, "end": end,
                         "res": res, "ok": err is None,
                         "idle": prev_end <= due})
            prev_end = end
        return recs

    # -- phases ------------------------------------------------------
    def setup(self, corpus, pages_path):
        """Everything before the first timed query; returns build wall s."""
        from search_engine_spark.operators.aggregates import postings_from_text
        from search_engine_spark.plans.bigrams import build_bigrams
        from search_engine_spark.plans.build_index import build_index
        from search_engine_spark.plans.positions import build_positions
        from search_engine_spark.plans.publish import begin_generation
        from search_engine_spark.session import get_spark

        tr = self.tr
        cores = len(os.sched_getaffinity(0))
        with tr.span("session.get_spark", cores=cores):
            self.spark = get_spark("perfbench", cores=cores)
        spark = self.spark
        src = spark.read.parquet(pages_path)
        # the first Python UDF job starts the Python workers; run it on a
        # small slice so the timed build starts warm
        with tr.span("session.worker_warmup"):
            postings_from_text(src.limit(200), html_col="html").count()
        self.timings = {}
        t0 = time.perf_counter()
        with tr.span("build_index.build_index") as sp:
            build_index(spark, src, self.idx, n_buckets=N_BUCKETS,
                        html_col="html", timings=self.timings)
        if tr.enabled:
            # the build's own phase timings, laid end to end from the
            # call's start; the call's self time is then the rest
            at = sp["start"]
            for name in ("stage_a_flat_s", "stage_a_stats_s",
                         "stage_b_segments_s"):
                d = float(self.timings[name])
                tr.add("build_index." + name[:-2], at, at + d,
                       parent=sp["id"])
                at += d
        with tr.span("positions.build_positions"):
            build_positions(spark, src, self.idx, n_buckets=N_BUCKETS,
                            html_col="html")
        with tr.span("bigrams.build_bigrams"):
            build_bigrams(spark, src, self.idx, n_buckets=N_BUCKETS,
                          html_col="html")
        build_s = time.perf_counter() - t0
        self.index_bytes = sum(files_by_inode([self.idx]).values())
        self.flat_bytes = sum(files_by_inode(
            [os.path.join(self.idx, "postings_flat")]).values())
        self.postings_bytes = sum(files_by_inode(
            [os.path.join(self.idx, "postings")]).values())
        # writes run against a generation-managed index, so every timed
        # write is the steady-state kind
        with tr.span("publish.convert"):
            begin_generation(self.idx).commit()
        s, ph = self.open()
        for q in self.streams["warmup"]:
            self._call(s, ph, q)
        return build_s, s, ph

    def open(self):
        from search_engine_spark.plans.positions import PhraseSearcher
        from search_engine_spark.plans.wand import LocalSearcher

        with self.tr.span("wand.open"):
            s = LocalSearcher(self.idx)
        with self.tr.span("positions.open"):
            ph = PhraseSearcher(self.idx)
        return s, ph

    def check_build(self, corpus, s):
        """n_docs and a seeded sample of term df against counts taken
        from the generated corpus."""
        import pyarrow.dataset as ds

        self.attempted += 2
        self.check(s.n_docs == corpus.n_docs,
                   f"build: n_docs {s.n_docs} != {corpus.n_docs}")
        rng = np.random.default_rng([self.seed, 20])
        ranks = sorted(corpus.df)
        sample = [ranks[i] for i in rng.choice(len(ranks), 50, replace=False)]
        want = {corpus.words[r]: corpus.df[r] for r in sample}
        tbl = ds.dataset(os.path.join(self.idx, "dictionary"),
                         format="parquet", partitioning="hive").to_table(
            columns=["term", "df"],
            filter=ds.field("term").isin(list(want)))
        got = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
        self.check(got == want, f"build: df sample {got} != {want}")

    def check_queries(self, recs):
        """Re-run a seeded sample of the timed queries against the
        package's exhaustive references. In-process references must match
        bit for bit; the Spark references (LMD, phrase) must return the
        same ids, with LMD scores within 1e-9 relative."""
        from search_engine_spark.plans.phraseq import search_mixed
        from search_engine_spark.plans.positions import (
            PhraseSearcher,
            phrase_search_distributed,
        )
        from search_engine_spark.plans.scoring import lmd_exhaustive
        from search_engine_spark.plans.wand import LocalSearcher

        ref = LocalSearcher(self.idx)
        ref_ph = PhraseSearcher(self.idx)
        flat = self.spark.read.parquet(os.path.join(self.idx, "postings_flat"))
        rng = np.random.default_rng([self.seed, 21])
        by_kind: dict[str, list] = {}
        for r in recs:
            if r["ok"]:
                by_kind.setdefault(r["q"].kind, []).append(r)
        for kind, rs in sorted(by_kind.items()):
            n = min(CHECKS.get(kind, CHECKS_DEFAULT), len(rs))
            for i in rng.choice(len(rs), n, replace=False):
                q, got = rs[i]["q"], rs[i]["res"]
                if kind in ("and", "or", "msm"):
                    want = ref.search(q.text, k=K, prune=False, fast=False,
                                      mode="and" if kind == "and" else "or",
                                      msm=2 if kind == "msm" else 1)
                    ok = got == want
                elif kind == "grouped":
                    want = ref.search_grouped(q.text, k=K, prune=False,
                                              fast=False)
                    ok = got == want
                elif kind == "mixed":
                    want = search_mixed(ref, ref_ph, q.text, k=K,
                                        prune=False, fast=False)
                    ok = got == want
                elif kind == "lmd":
                    want = [(int(r.doc_id), float(r.score)) for r in
                            lmd_exhaustive(self.spark, flat, q.text, k=K,
                                           mode="or").collect()]
                    ok = [d for d, _ in got] == [d for d, _ in want] and all(
                        abs(a - b) <= 1e-9 * max(abs(b), 1e-300)
                        for (_, a), (_, b) in zip(got, want))
                else:
                    want = [(int(r.doc_id), int(r.phrase_tf)) for r in
                            phrase_search_distributed(
                                self.spark, self.idx, q.text, k=K).collect()]
                    ok = [tuple(x) for x in got] == want
                self.check(ok and len(got) > 0,
                           f"{kind} {q.text!r}: served {got} != reference "
                           f"{want}")

    def extend(self, src) -> None:
        """A user-level extend, as build_index.py --extend runs it: the
        core tables, then the positional and bigram appends."""
        from search_engine_spark.plans.bigrams import build_bigrams
        from search_engine_spark.plans.build_index import extend_index
        from search_engine_spark.plans.positions import build_positions

        with self.tr.span("build_index.extend_index"):
            extend_index(self.spark, src, self.idx, html_col="html")
        with self.tr.span("positions.build_positions", mode="append"):
            build_positions(self.spark, src, self.idx, n_buckets=N_BUCKETS,
                            html_col="html", mode="append")
        with self.tr.span("bigrams.build_bigrams", mode="append"):
            build_bigrams(self.spark, src, self.idx, n_buckets=N_BUCKETS,
                          html_col="html", mode="append")

    def merge(self, shard_src) -> None:
        """A shard built on its own, as a parallel ingest worker would,
        then folded into the serving index with merge_into."""
        from search_engine_spark.plans.bigrams import build_bigrams
        from search_engine_spark.plans.build_index import build_index
        from search_engine_spark.plans.merge import merge_into
        from search_engine_spark.plans.positions import build_positions

        spark, shard = self.spark, os.path.join(self.work, "shard")
        # which pairs the bigram table indexes must match for a merge
        with open(os.path.join(self.idx, "bigrams_meta.json")) as f:
            hot = json.load(f)["hot"]
        with self.tr.span("merge.shard_build"):
            build_index(spark, shard_src, shard, n_buckets=N_BUCKETS,
                        html_col="html")
            build_positions(spark, shard_src, shard, n_buckets=N_BUCKETS,
                            html_col="html")
            build_bigrams(spark, shard_src, shard, n_buckets=N_BUCKETS,
                          html_col="html", hot=hot)
        with self.tr.span("merge.merge_into"):
            merge_into(spark, self.idx, shard)

    def ingest(self, ext, shard, dels):
        """The workload's write sequence, in the order extend, shard
        build + merge_into, delete, compact. After each commit a freshly
        opened searcher must return exactly the live marker docs of both
        batches, fsck must pass (sampled, and in full after the last
        write), and the searcher serves a few queries at the low rate.
        Returns ({op: call s}, {op: visible s}, {op: bytes written})."""
        from search_engine_spark.plans.deletes import (
            compact_index,
            delete_docs,
        )
        from search_engine_spark.plans.fsck import fsck

        spark, tr = self.spark, self.tr
        ext_src = spark.read.parquet(self.ext_path)
        shard_src = (spark.read.parquet(self.shard_path)
                     if "merge" in self.writes else None)
        added = {int(d) for d in ext.doc_ids}
        # merge_into appends the shard after the highest allocated id
        offset = max(added) + 1
        merged = ({offset + int(d) for d in shard.doc_ids}
                  if "merge" in self.writes else set())
        live = added - set(dels)
        steps = [
            ("extend", lambda: self.extend(ext_src), added, set()),
            ("merge", lambda: self.merge(shard_src), added, merged),
            ("delete", lambda: delete_docs(spark, self.idx, dels), live,
             merged),
            ("compact", lambda: compact_index(spark, self.idx), live,
             merged),
        ]
        steps = [st for st in steps if st[0] in self.writes]
        times, visible, written = {}, {}, {}
        post = iter(self.streams["post"])
        for op, call, want_ext, want_shard in steps:
            before = files_by_inode(generations(self.idx))
            self.attempted += 1
            t0 = time.perf_counter()
            with tr.span("ingest." + op):
                call()
            times[op] = time.perf_counter() - t0
            # visible once a freshly opened searcher returns exactly the
            # live marker docs
            s, ph = self.open()
            got = {d for d, _ in s.search(ext.marker, k=1000)}
            got_shard = {d for d, _ in s.search(shard.marker, k=1000)}
            visible[op] = time.perf_counter() - t0
            self.check(got == want_ext and got_shard == want_shard,
                       f"{op}: marker docs {sorted(got)} + "
                       f"{sorted(got_shard)} != {sorted(want_ext)} + "
                       f"{sorted(want_shard)}")
            after = files_by_inode(generations(self.idx))
            written[op] = sum(v for k, v in after.items() if k not in before)
            self.attempted += 1
            rep = (fsck(self.idx) if op == self.writes[-1]
                   else fsck(self.idx, sample_terms=FSCK_TERMS))
            self.check(bool(rep.get("ok")),
                       f"fsck after {op}: {rep.get('errors')}")
            qs = [next(post) for _ in range(POST_COMMIT_QUERIES)]
            self.post_recs += self.serve(s, ph, qs, RATES["low"], "post")
        return times, visible, written

    def probe_first_repeat(self, s, ph):
        """Traced run only: each probe query called twice in a row."""
        for q in self.streams["probe"]:
            for name in ("wand.first_call", "wand.repeat_call"):
                with self.tr.span(name, op=q.kind):
                    self._call(s, ph, q)

    # -- the run -----------------------------------------------------
    def execute(self) -> dict:
        t_start = time.perf_counter()
        memcpy_ms = memcpy_probe()
        corpus = inputs.make_corpus(self.seed)
        ext = inputs.extend_batch(corpus)
        shard = inputs.shard_batch(corpus)
        dels = inputs.delete_ids(corpus, ext)
        # the serving window alternates low and high sub-windows, so a
        # burst of host noise hits both rates alike. Stream sizes do not
        # depend on --trace, so both modes serve the same timed queries.
        sizes = [WARMUP_QUERIES[self.workload],
                 len(WRITES) * POST_COMMIT_QUERIES, PROBE_QUERIES]
        sizes += [int(RATES[rate] * WINDOW_SHARE[rate] * self.seconds
                      / ROUNDS) for _ in range(ROUNDS) for rate in RATES]
        warm, post, probe, *windows = inputs.query_streams(
            corpus, self.hot, sizes)
        self.streams = {"warmup": warm, "post": post, "probe": probe}
        pages_path = inputs.write_parquet(
            corpus.pages, os.path.join(self.work, "in", "pages.parquet"))
        self.ext_path = inputs.write_parquet(
            ext.pages,
            os.path.join(self.work, "in", "extend.parquet"))
        self.shard_path = inputs.write_parquet(
            shard.pages, os.path.join(self.work, "in", "shard.parquet"))
        self.new_bytes = ext.text_bytes + (
            shard.text_bytes if "merge" in self.writes else 0)
        t_inputs = time.perf_counter() - t_start

        t0 = time.perf_counter()
        build_s, s, ph = self.setup(corpus, pages_path)
        setup_s = time.perf_counter() - t0
        self.check_build(corpus, s)

        rounds = [{rate: self.serve(s, ph, windows.pop(0), RATES[rate], rate)
                   for rate in RATES} for _ in range(ROUNDS)]
        recs = {rate: [r for rd in rounds for r in rd[rate]]
                for rate in RATES}
        timed = recs["low"] + recs["high"]
        text_rate = None
        if self.tr.enabled:
            self.probe_first_repeat(s, ph)
            text_rate = self.text_rate(corpus)
        self.check_queries(timed)
        self.post_recs = []
        times, visible, written = self.ingest(ext, shard, dels)

        ms = {rate: [(r["end"] - r["due"]) * 1000 for r in recs[rate]]
              for rate in RATES}
        e2e = {
            "setup_s": (setup_s, "s"),
            "build_s": (build_s, "s"),
            "index_bytes_per_doc": (self.index_bytes / corpus.n_docs,
                                    "B/doc"),
        }
        # only the low rate's median is gated: over four ten-seed sets it
        # spread at most 0.22 (IQR / median), while the high rate's median
        # and both p90s went above 0.25 in some set (perfbench/README.md)
        e2e["query_p50_ms.low"] = (pct(ms["low"], 50), "ms")
        pcts = {"loadgen.query_p50_ms.high": (pct(ms["high"], 50), "ms")}
        pcts |= {f"loadgen.query_p90_ms.{rate}": (pct(ms[rate], 90), "ms")
                 for rate in RATES}
        props = self.properties(corpus, warm, [r["q"] for r in timed])
        failed = len(self.failures)
        report = {
            "workload": self.workload, "seed": self.seed,
            "error_rate": failed / self.attempted,
            "failures": self.failures[:20],
            "samples": {k: len(v) for k, v in recs.items()},
            "rates_qps": RATES, "rounds": ROUNDS, "inputs_s": t_inputs,
            "write_s": times, "visible_s": visible,
            "written_bytes": written,
            "host.memcpy17mb_ms_p50": memcpy_ms,
            "workload_properties": props,
            "metrics": {k: v for k, (v, _) in (e2e | pcts).items()},
        }
        if self.tr.enabled:
            metrics = self.layer_metrics(recs, corpus, props, memcpy_ms,
                                         text_rate, times, visible,
                                         written) | pcts
            os.makedirs(self.trace_dir, exist_ok=True)
            self.tr.dump(os.path.join(
                self.trace_dir, f"{self.workload}-seed{self.seed}.json"))
        else:
            metrics = e2e
        print(json.dumps({"report": report}))
        return {"correct": failed == 0, "attempted": self.attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": u}
                            for k, (v, u) in metrics.items()}}

    def properties(self, corpus, warm, timed) -> dict:
        """Input properties a cache change depends on. A timed query
        repeats when every term is among the last 256 distinct terms
        seen, warm-up included."""
        recent: dict[str, None] = {}  # insertion order = recency
        repeats, distinct = 0, set()
        for i, q in enumerate(warm + timed):
            if i >= len(warm):
                repeats += all(t in recent for t in q.terms)
                distinct.update(q.terms)
            for t in q.terms:
                recent.pop(t, None)
                recent[t] = None
                if len(recent) > CACHE_CAPACITY["decoded_terms"]:
                    recent.pop(next(iter(recent)))
        return {
            "loadgen.distinct_terms": len(distinct),
            "loadgen.repeat_share": repeats / len(timed),
            "corpus.docs": corpus.n_docs,
            "corpus.vocabulary": len(corpus.df),
            "corpus.bytes": corpus.text_bytes,
            "cache_capacity": CACHE_CAPACITY,
        }

    def text_rate(self, corpus) -> float:
        """In-process extract + analyze throughput over a corpus sample."""
        from search_engine_spark.functions.text import (
            analyze_batch,
            extract_batch,
        )

        html = corpus.pages.column("html").to_pylist()[:500]
        with self.tr.span("text.extract_analyze") as sp:
            t0 = time.perf_counter()
            analyze_batch(extract_batch(html))
            sp["docs"] = len(html)
        return len(html) / (time.perf_counter() - t0)

    def layer_metrics(self, recs, corpus, props, memcpy_ms, text_rate,
                      times, visible, written) -> dict:
        tr = self.tr
        n = corpus.n_docs

        def one(name, scale=1.0):
            d = tr.durations(name)
            return statistics.median(d) * scale

        build = tr.named("build_index.build_index")[0]
        ext_s = tr.durations("build_index.extend_index")[0]
        m = {
            "session.spark_start_s": (one("session.get_spark"), "s"),
            "text.extract_analyze_docs_per_s": (text_rate, "docs/s"),
            "build_index.dictionary_s": (tr.self_time(build), "s"),
            "build_index.flat_bytes_per_doc": (self.flat_bytes / n, "B/doc"),
            "build_index.postings_bytes_per_doc": (self.postings_bytes / n,
                                                   "B/doc"),
            "build_index.extend_s": (ext_s, "s"),
            "build_index.extend_over_stage_b": (
                ext_s / float(self.timings["stage_b_segments_s"]), "ratio"),
            "positions.build_s": (tr.durations(
                "positions.build_positions")[0], "s"),
            "positions.open_ms": (one("positions.open", 1000), "ms"),
            "bigrams.build_s": (tr.durations("bigrams.build_bigrams")[0],
                                "s"),
            "wand.open_ms": (one("wand.open", 1000), "ms"),
        }
        for ph in ("stage_a_flat", "stage_a_stats", "stage_b_segments"):
            m[f"build_index.{ph}_s"] = (tr.durations(
                f"build_index.{ph}")[-1], "s")
        timed = [r for r in recs["low"] + recs["high"]]
        for kind, layer in OP_LAYER.items():
            ms = [d * 1000 for d in tr.durations(layer, op=kind)]
            prefix = {"phrase": "positions.phrase", "mixed": "phraseq.mixed"
                      }.get(kind, f"wand.{kind}")
            m[f"{prefix}_p50_ms"] = (pct(ms, 50), "ms")
            m[f"{prefix}_p90_ms"] = (pct(ms, 90), "ms")
        m["wand.lmd_over_or"] = (m["wand.lmd_p50_ms"][0]
                                 / m["wand.or_p50_ms"][0], "ratio")
        m["wand.first_call_p50_ms"] = (one("wand.first_call", 1000), "ms")
        m["wand.repeat_call_p50_ms"] = (one("wand.repeat_call", 1000), "ms")
        m["deletes.delete_docs_s"] = (times["delete"], "s")
        # time from the write call until a freshly opened searcher sees it;
        # too noisy on a shared 4-core host to gate as end-to-end metrics
        m["writes.extend_visible_s"] = (visible["extend"], "s")
        m["writes.delete_visible_s"] = (visible["delete"], "s")
        m["writes.merge_visible_s"] = (visible["merge"], "s")
        m["merge.shard_build_s"] = (tr.durations("merge.shard_build")[0],
                                    "s")
        m["merge.merge_into_s"] = (tr.durations("merge.merge_into")[0], "s")
        m["deletes.compact_s"] = (times["compact"], "s")
        m["deletes.compact_bytes_written"] = (written["compact"], "B")
        m["positions.append_s"] = (tr.durations(
            "positions.build_positions", mode="append")[0], "s")
        m["bigrams.append_s"] = (tr.durations(
            "bigrams.build_bigrams", mode="append")[0], "s")
        # the writes that add docs, over the text bytes of those docs
        m["publish.bytes_written_per_new_byte"] = (
            (written["extend"] + written["merge"]) / self.new_bytes,
            "ratio")
        m["publish.generations_retained"] = (len(generations(self.idx)),
                                             "count")
        late = [(r["start"] - r["due"]) * 1000 for r in timed if r["idle"]]
        wait = [(r["start"] - r["due"]) * 1000 for r in timed]
        m["loadgen.late_p90_ms"] = (pct(late or [0.0], 90), "ms")
        m["loadgen.queue_wait_p90_ms"] = (pct(wait, 90), "ms")
        m["loadgen.distinct_terms"] = (props["loadgen.distinct_terms"],
                                       "count")
        m["loadgen.repeat_share"] = (props["loadgen.repeat_share"], "ratio")
        m["loadgen.post_commit_p50_ms"] = (pct(
            [(r["end"] - r["due"]) * 1000 for r in self.post_recs], 50), "ms")
        m["corpus.docs"] = (props["corpus.docs"], "count")
        m["corpus.vocabulary"] = (props["corpus.vocabulary"], "count")
        m["corpus.bytes"] = (props["corpus.bytes"], "B")
        m["host.memcpy17mb_ms_p50"] = (memcpy_ms, "ms")
        # what recording spans adds to each query, against the mean
        # service time of the same queries
        svc = statistics.fmean(r["end"] - r["start"]
                               for r in timed + self.post_recs)
        m["trace.overhead_pct"] = (self.trace_cost / self.req / svc * 100,
                                   "%")
        return m


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "search_engine_spark")):
        print("perfbench: search_engine_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    out = os.path.join(root, ".perfbench")
    work = os.path.join(out, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, root)
    tempfile.tempdir = tmp

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              work, os.path.join(out, "traces"))
    try:
        result = run.execute()
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
