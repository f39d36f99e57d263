"""Footer row-group index: where a key's rows can be in a sorted table.

Every serving-side table (postings, dictionary, positions, bigrams,
docstore, suggest, docs, urlmap) is written sorted by its key column,
optionally hive-partitioned into ``bucket=N`` directories. Each
parquet row group's footer holds the (min, max) of that column, so a
per-row-group [lo, hi] range is a skip index built from metadata
alone: a reader opens the footers once and then touches only the row
groups whose range admits the key — the skip index of the columnar
inverted-index design (Columnar Formatted Inverted Index, ICDE 2025;
SURVEY.md 1.2). A row group without statistics has range
(None, None) and is always admitted.

footer_index — one walk over a table's footers:
               ({path: ParquetFile}, {bucket: [(path, rg, lo, hi)]}),
               bucket None for an unbucketed table;
admitted     — the row groups whose range admits a key (or meets a
               [key, hi] range);
key_rows     — one term's rows, run by run: consecutive [term, term]
               row groups of one file are PURE (every row is the
               term's) and are read in one call without the term
               column; a mixed row group is read with it and filtered
               with an Arrow equality.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

Groups = dict[int | None, list[tuple[str, int, object, object]]]


def footer_index(table_dir: str, key: str
                 ) -> tuple[dict[str, pq.ParquetFile], Groups]:
    """Open every parquet file under table_dir once and index each row
    group's (min, max) of column `key`, per hive bucket, in file and
    row-group order. Hidden and ``_``-prefixed files are skipped."""
    files: dict[str, pq.ParquetFile] = {}
    groups: Groups = {}
    for frag in ds.dataset(table_dir, format="parquet",
                           partitioning="hive").get_fragments():
        path = frag.path
        rel = os.path.relpath(path, table_dir)
        bucket = (int(rel.split("/")[0][len("bucket="):])
                  if rel.startswith("bucket=") else None)
        pf = files[path] = pq.ParquetFile(path)
        idx = pf.schema_arrow.get_field_index(key)
        md = pf.metadata
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            lo = st.min if st is not None else None
            hi = st.max if st is not None else None
            groups.setdefault(bucket, []).append((path, rg, lo, hi))
    return files, groups


def admitted(groups: Groups, key, bucket: int | None = None, hi=None
             ) -> list[tuple[str, int, object, object]]:
    """The (path, rg, lo, hi) entries of `bucket` whose range admits
    `key` — or, given `hi`, meets the range [key, hi] — in order."""
    top = key if hi is None else hi
    return [g for g in groups.get(bucket, ())
            if (g[2] is None or g[2] <= top) and (g[3] is None or key <= g[3])]


def key_rows(files: dict[str, pq.ParquetFile], groups: Groups, key: str,
             bucket: int | None, columns: list[str]) -> Iterator[pa.Table]:
    """Yield the non-empty row sets of `term` == key, `columns` only,
    in file and row-group order (see module docstring for pure and
    mixed runs)."""
    runs: list[tuple[str, list[int], bool]] = []  # (path, rgs, pure)
    for path, rg, lo, hi in admitted(groups, key, bucket):
        pure = lo == key and hi == key
        if runs and runs[-1][2] and pure and runs[-1][0] == path:
            runs[-1][1].append(rg)
        else:
            runs.append((path, [rg], pure))
    for path, rgs, pure in runs:
        if pure:
            sel = files[path].read_row_groups(rgs, columns=columns)
        else:
            tbl = files[path].read_row_groups(rgs, columns=["term", *columns])
            sel = tbl.filter(pc.equal(tbl["term"], key)).select(columns)
        if sel.num_rows:
            yield sel
