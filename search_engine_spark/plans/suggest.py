"""Spelling suggestions ("did you mean") over the index dictionary.

SymSpell-style symmetric-deletion lookup (public algorithm: Garbe's
SymSpell): at BUILD time every dictionary term emits its 0- and
1-character-deletion variants into a (variant, term, df) table sorted
by variant; at SERVING time a query term's own 0/1-deletion variants
are probed with row-group-pruned pyarrow reads (the footer row-group
index of plans/footer) and candidates are ranked by true
Damerau-Levenshtein distance, then df desc, then term asc.

Symmetric 1-deletes cover every Damerau-Levenshtein distance-1 edit
(substitution = one delete each side; transposition likewise) plus a
useful slice of distance 2; candidates beyond max_distance are
filtered by the exact DP check, so no false suggestions survive.

Scale: the variant table is ~(avg term length + 1) x vocabulary rows
— derived from the dictionary alone with one explode + one sort, no
corpus access; serving probes are O(term length) row-group reads.
Delete/compact do NOT touch it (it ranks by build-time df; rebuild
with index_admin.py build-suggest after heavy corpus churn — a
stale-df suggestion is still a valid dictionary word).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

SUGGEST_DIR = "suggest"


def _deletes(term: str) -> list[str]:
    """The term plus its 1-character-deletion variants (distinct)."""
    return list(dict.fromkeys(
        [term] + [term[:i] + term[i + 1:] for i in range(len(term))]
    ))


def damerau_levenshtein(a: str, b: str, *, cap: int = 3) -> int:
    """Exact (restricted) Damerau-Levenshtein distance with an early
    exit above cap (candidates are few; this runs on shortlists)."""
    if a == b:
        return 0
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev2: list[int] = []
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cost = 0 if ca == cb else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == cb):
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        if min(cur) > cap:
            return cap + 1
        prev2, prev = prev, cur
    return prev[len(b)]


def build_suggest(spark: SparkSession, index_dir: str) -> dict:
    """Derive the suggestion table from the index dictionary: explode
    each term's deletion variants, keep df for ranking, write sorted
    by variant (row-group statistics become the probe seek index)."""
    dic = spark.read.parquet(os.path.join(index_dir, "dictionary")).select(
        "term", "df"
    )
    # "delete char i" as a SQL higher-order function — whole-stage
    # codegen, no Python anywhere in the build
    variants = dic.selectExpr(
        "explode(array_distinct(concat("
        "  array(term),"
        "  transform(sequence(1, length(term)),"
        "            i -> concat(substring(term, 1, i - 1),"
        "                        substring(term, i + 1, length(term) - i)))"
        "))) AS variant",
        "term",
        "df",
    )
    out = os.path.join(index_dir, SUGGEST_DIR)
    from search_engine_spark.plans.publish import publish_dir

    publish_dir(
        out,
        # range-partition + sort => globally clustered variant ranges,
        # so every probe prunes to a handful of row groups; the write
        # itself stays parallel (one file per range); atomic publish so
        # a rebuild over a LIVE index never leaves suggestions missing
        lambda tmp: variants.repartitionByRange("variant")
        .sortWithinPartitions("variant", "term")
        .write.mode("overwrite")
        .option("parquet.block.size", str(1024 * 1024))
        .parquet(tmp),
        suffix=".rebuild",
    )
    n = spark.read.parquet(out).count()
    return {"suggest_rows": int(n)}


class Suggester:
    """Serving-side suggestion lookups — pyarrow only, no Spark job."""

    def __init__(self, index_dir: str):
        from search_engine_spark.plans.publish import open_pinned

        open_pinned(index_dir, self._open)

    def _open(self, index_dir: str) -> None:
        from search_engine_spark.plans.footer import footer_index

        path = os.path.join(index_dir, SUGGEST_DIR)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"{path} missing — build it with "
                "`python index_admin.py build-suggest --index-dir ...`"
            )
        self._files, groups = footer_index(path, "variant")
        self._rg = groups.get(None, [])

    def _probe(self, variants: list[str]) -> dict[str, int]:
        """{candidate term: df} for rows whose variant matches."""
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc

        want = sorted(set(variants))
        vset = pa.array(want, type=pa.string())
        out: dict[str, int] = {}
        for path, rg, lo, hi in self._rg:
            if lo is not None and hi is not None:
                # exact pruning: probed variants scatter across the
                # alphabet (first-char deletes), so test "any wanted
                # variant inside THIS row group's [lo, hi]" by bisect
                # rather than one global range
                i = bisect.bisect_left(want, lo)
                if i >= len(want) or want[i] > hi:
                    continue
            tbl = self._files[path].read_row_groups(
                [rg], columns=["variant", "term", "df"]
            )
            sel = tbl.filter(pc.is_in(tbl["variant"], value_set=vset))
            for t, d in zip(sel["term"].to_pylist(), sel["df"].to_pylist()):
                out[t] = int(d)
        return out

    def suggest(self, term: str, *, k: int = 3,
                max_distance: int = 2) -> list[tuple[str, int]]:
        """Top-k (term, df) suggestions, ranked by (edit distance asc,
        df desc, term asc). An exact dictionary term suggests itself
        first (distance 0)."""
        cands = self._probe(_deletes(term))
        scored = []
        for t, df in cands.items():
            d = damerau_levenshtein(term, t, cap=max_distance)
            if d <= max_distance:
                scored.append((d, -df, t))
        scored.sort()
        return [(t, -ndf) for _, ndf, t in scored[:k]]
