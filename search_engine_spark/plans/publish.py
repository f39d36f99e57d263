"""Atomic table publish for mutations against a LIVE index.

Any rewrite of a table a concurrent searcher may be reading goes
through ``publish_dir``: write the new contents to a sibling temp
directory, then swap it into place with Linux
``renameat2(RENAME_EXCHANGE)`` — one syscall, so the live path is
never missing and never half-written. Platforms without the syscall
fall back to the old rmtree→rename pair (a brief missing-path window),
which is also the documented behavior on non-Linux dev machines.

Scope note: ``publish_dir`` makes each TABLE's publish atomic. For
MULTI-table mutations (compaction, merge-into), whole-index
GENERATIONS close the remaining cross-table skew window:

* the live index path becomes a SYMLINK to an immutable generation
  directory ``<index>.g<N>``;
* a mutation clones the current generation into ``<index>.g<N+1>``
  (parquet files by hardlink — they are immutable by construction;
  ``*.json`` metadata by copy, because stage A rewrites those in
  place and a hardlinked rewrite would corrupt the old generation),
  runs ENTIRELY against the clone, and commits with ONE atomic
  symlink replace — so every table of the live path flips together;
* readers pin a generation by resolving the symlink ONCE at open
  (``open_pinned``, the one reader-side ``resolve_root`` call): every
  later open — including lazy side tables (docstore, bigrams,
  tombstones, boosts) — stays inside that immutable snapshot, and the
  same call runs the retry-once open every reader shares;
* the previous generation is retained through the next commit (an
  open reader's grace period), older ones are garbage-collected.

Small metadata JSONs (``index_meta.json``, ``positions_meta.json``,
``bigrams_meta.json``) are replaced with ``write_json`` — temp file
plus ``os.replace`` — so a reader never sees a truncated file.

At cluster scale the same contract is a table-format snapshot pointer
(Iceberg-style): one manifest swap names every table's files for a
generation; the hardlink clone is the single-node stand-in.
"""

from __future__ import annotations

import os
import shutil
import sys


def exchange_dirs(a: str, b: str) -> bool:
    """Atomically SWAP two paths via renameat2(RENAME_EXCHANGE)
    (Linux ≥3.15, same filesystem). Returns False when unavailable so
    callers can fall back."""
    import ctypes
    import ctypes.util

    if not sys.platform.startswith("linux"):
        return False
    libc_name = ctypes.util.find_library("c")
    if not libc_name:
        return False
    try:
        libc = ctypes.CDLL(libc_name, use_errno=True)
        AT_FDCWD = -100
        RENAME_EXCHANGE = 2
        rc = libc.renameat2(
            AT_FDCWD, os.fsencode(a), AT_FDCWD, os.fsencode(b),
            RENAME_EXCHANGE,
        )
        return rc == 0
    except (AttributeError, OSError):
        return False


def is_generationed(index_dir: str) -> bool:
    """True when the index path is a generation symlink (installed by
    the first generation-mode mutation)."""
    return os.path.islink(os.path.abspath(index_dir))


def resolve_root(index_dir: str) -> str:
    """Pin a generation: the real directory behind the index path. A
    plain directory resolves to itself. Readers pin through
    open_pinned, which calls this once per open attempt."""
    p = os.path.abspath(index_dir)
    return os.path.realpath(p) if os.path.islink(p) else p


def open_pinned(index_dir: str, open_fn):
    """Open a reader on one generation: resolve the root once and
    return ``open_fn(root)``; open_fn opens every table, eagerly or
    lazily, under that root.

    Retry-once: a reader that listed a directory and then opens a
    listed file after a publish swap sees it missing, and a plain
    directory opened while the one-time legacy-to-generation
    conversion committed may have mixed tables from both sides (it is
    detected by re-resolving after the open). Either way one re-open
    after 50 ms sees a consistent committed state; a second failure is
    real and propagates."""
    import time

    import pyarrow.lib

    for attempt in (0, 1):
        try:
            root = resolve_root(index_dir)
            out = open_fn(root)
            # an open that pinned a .gN directory needs no recheck:
            # that directory is immutable and kept through the next
            # commit
            if (root == os.path.abspath(index_dir)
                    and resolve_root(index_dir) != root):
                raise FileNotFoundError(
                    f"{index_dir}: generation committed during open")
            return out
        except (FileNotFoundError, OSError, pyarrow.lib.ArrowInvalid):
            if attempt:
                raise
            time.sleep(0.05)


def _clone_generation(src: str, dst: str) -> None:
    """Hardlink-clone one generation into the next: directories are
    recreated, parquet/data files hardlinked (immutable once written
    — Spark never modifies a committed file), ``*.json`` copied
    byte-wise (stage A rewrites meta JSONs with open('w'), which on a
    hardlink would truncate the shared inode and corrupt the OLD
    generation)."""
    os.makedirs(dst)
    for root, dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = dst if rel == "." else os.path.join(dst, rel)
        for d in dirs:
            os.makedirs(os.path.join(troot, d), exist_ok=True)
        for f in files:
            s, t = os.path.join(root, f), os.path.join(troot, f)
            if f.endswith(".json"):
                shutil.copy2(s, t)
            else:
                try:
                    os.link(s, t)
                except OSError:  # cross-device / FS without links
                    shutil.copy2(s, t)


class GenerationTxn:
    """One whole-index mutation transaction (module docstring).

    ``work`` is the next generation's real directory — run the entire
    mutation against it; ``commit()`` swaps the live symlink in one
    atomic rename and garbage-collects generations older than the
    previous one; ``abort()`` discards the clone. First use on a
    legacy plain-directory index converts it: the live dir is renamed
    to ``.g0`` and the symlink installed (a one-time sub-millisecond
    missing-path window — the same class of window the readers'
    retry-once open already covers)."""

    def __init__(self, index_dir: str):
        self.index_dir = os.path.abspath(index_dir)
        if os.path.islink(self.index_dir):
            cur = os.path.realpath(self.index_dir)
            base, dot, n = cur.rpartition(".g")
            if base != self.index_dir or not n.isdigit():
                raise ValueError(
                    f"{index_dir} -> {cur}: not a generation target "
                    "this module manages"
                )
            self._legacy = False
            self._cur = cur
            self.work = f"{self.index_dir}.g{int(n) + 1}"
        else:
            if not os.path.isdir(self.index_dir):
                raise FileNotFoundError(self.index_dir)
            self._legacy = True
            self._cur = self.index_dir
            self.work = self.index_dir + ".g1"
        if os.path.isdir(self.work):  # crashed prior attempt
            shutil.rmtree(self.work)
        _clone_generation(self._cur, self.work)

    def commit(self) -> None:
        link_tmp = self.index_dir + ".lnk"
        if os.path.lexists(link_tmp):
            os.unlink(link_tmp)
        # relative target: the link and its generations share a parent
        os.symlink(os.path.basename(self.work), link_tmp)
        if self._legacy:
            prev = self.index_dir + ".g0"
            os.rename(self.index_dir, prev)  # one-time conversion
            os.replace(link_tmp, self.index_dir)
            self._prev = prev
        else:
            os.replace(link_tmp, self.index_dir)
            self._prev = self._cur
        # GC: keep the new current + the previous (open-reader grace)
        import glob
        import re

        pat = re.compile(re.escape(self.index_dir) + r"\.g\d+$")
        for p in glob.glob(self.index_dir + ".g*"):
            if p not in (self.work, self._prev) and pat.match(p):
                shutil.rmtree(p, ignore_errors=True)

    def abort(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def begin_generation(index_dir: str) -> GenerationTxn:
    return GenerationTxn(index_dir)


def publish_dir(path: str, write_fn, *, suffix: str = ".publish") -> None:
    """Write a table rewrite to ``path + suffix`` via ``write_fn(tmp)``,
    then swap it into place atomically (fallback: rmtree + rename).
    A temp dir left by a crashed prior attempt is reclaimed first.
    If ``path`` does not exist yet (first install), the temp dir is
    simply renamed into place — also atomic."""
    tmp = path + suffix
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    write_fn(tmp)
    if not os.path.isdir(path):
        os.rename(tmp, path)
        return
    if exchange_dirs(tmp, path):
        shutil.rmtree(tmp)  # tmp now holds the OLD table
    else:
        shutil.rmtree(path)
        os.rename(tmp, path)


def write_json(path: str, obj) -> None:
    """Replace the JSON file at ``path`` atomically: dump to a temp
    file in the same directory, then ``os.replace`` it into place, so
    a reader opening ``path`` meanwhile sees the old contents or the
    new ones, never a truncated file. A failed dump leaves ``path``
    untouched and removes the temp file."""
    import json
    import uuid

    head, base = os.path.split(path)
    tmp = os.path.join(head, f".{base}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
