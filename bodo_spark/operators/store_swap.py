"""Whole-store guarded swaps with generation retention for the stored
serving artifacts (IVF-SQ / IVF-PQ / BM25 stores).

The stored-index compactions replace a multi-part store (index +
centroids/bounds/codebooks + stats) in ONE directory swap -- readers see
the old store or the new one, never a mix (the model artifacts and the
codes they decode are bound together). This module adds to that swap
the snapshot discipline the MoR tier already has
(operators/mor.py retain_history / mor_expire_snapshots): a compaction
or append can RETAIN the superseded store as a numbered generation under
``<store>/archive/gen-NNNN``, serving can ROLL BACK to any retained
generation after a bad compaction (wrong trainer, corrupt batch), and an
expiry bounds the archive. Snapshots are hardlink trees -- metadata
cost, no data movement -- safe because every store artifact is an
immutable parquet file; mutations only ever add or swap whole files.

The swap itself is merge.guarded_swap, the one guarded publish every
mutator shares; this module adds only the generation archive around it.
Between the swap's two renames a reader listing the store can find it
missing.

Reference parity: the reference leans on Iceberg snapshots for this
(rollback/expire_snapshots); plain-directory stores need it spelled out.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from typing import Callable

__all__ = ["guarded_store_swap", "store_generations",
           "restore_store_generation", "expire_store_generations",
           "snapshot_hardlink"]

_GEN_RE = re.compile(r"gen-(\d{4,})$")


def snapshot_hardlink(src: str, dst: str) -> None:
    """Hardlink-copy a directory tree: snapshot cost is metadata, not
    data movement (parquet files are immutable once written; publishes
    only move/unlink whole files). Falls back to a real copy where the
    filesystem refuses links. The archive/ subtree is skipped -- a
    generation never nests other generations."""
    for root, dirs, files in os.walk(src):
        if root == src and "archive" in dirs:
            dirs.remove("archive")
        rel = os.path.relpath(root, src)
        tdir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tdir, exist_ok=True)
        for fn in files:
            s, t = os.path.join(root, fn), os.path.join(tdir, fn)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def store_generations(path: str) -> list[int]:
    """Retained generation numbers, oldest first."""
    out = []
    for d in glob.glob(os.path.join(path, "archive", "gen-*")):
        m = _GEN_RE.search(os.path.basename(d))
        if m and os.path.isdir(d):
            out.append(int(m.group(1)))
    return sorted(out)


def guarded_store_swap(path: str, build: Callable[[str], object], *,
                       retain_history: bool = False) -> int | None:
    """Replace the store at ``path`` with what ``build(staging)`` writes,
    through merge.guarded_swap: the build runs under the store's publish
    lock, so a concurrent append or compaction raises
    ConcurrentWriteError instead of being swapped away. With
    ``retain_history`` the superseded store is kept as the next
    ``archive/gen-NNNN`` (its own archive of older generations is first
    folded into the new live store's archive, so history is linear,
    never nested); without it the old store is deleted. Returns the
    archived generation number, or None. Between the swap's two
    renames a reader listing ``path`` can find it missing."""
    from .merge import guarded_swap
    return guarded_swap(path, build, owner="store_swap",
                        retire=_archive_generation if retain_history
                        else None)


def _archive_generation(norm: str, backup: str) -> int:
    arch = os.path.join(norm, "archive")
    os.makedirs(arch, exist_ok=True)
    old_arch = os.path.join(backup, "archive")
    if os.path.isdir(old_arch):
        for d in sorted(os.listdir(old_arch)):
            dst = os.path.join(arch, d)
            if not os.path.exists(dst):
                shutil.move(os.path.join(old_arch, d), dst)
        shutil.rmtree(old_arch, ignore_errors=True)
    gens = store_generations(norm)
    g = (gens[-1] + 1) if gens else 0
    shutil.move(backup, os.path.join(arch, f"gen-{g:04d}"))
    return g


def restore_store_generation(path: str, gen: int) -> int:
    """Roll the live store back to a retained generation: the archived
    snapshot is hardlink-copied into the staging tree (the archive KEEPS
    its copy -- restoring twice works) and swapped in with
    ``retain_history=True``, so the rolled-back-FROM store becomes a
    new generation itself (rollback is undoable). Returns the
    generation number the superseded live store was retained as."""
    norm = path.rstrip("/")
    gsrc = os.path.join(norm, "archive", f"gen-{gen:04d}")
    if not os.path.isdir(gsrc):
        raise ValueError(
            f"no retained generation {gen} under {norm}/archive "
            f"(have {store_generations(norm)}) -- it was never "
            "retained or was expired")
    return guarded_store_swap(
        norm, lambda staging: snapshot_hardlink(gsrc, staging),
        retain_history=True)


def expire_store_generations(path: str, *, keep_last: int) -> dict:
    """Retention-horizon maintenance: keep only the newest
    ``keep_last`` generations (hardlinked snapshot files free when
    their last reference goes). Driver-local metadata work."""
    from .merge import publish_lock
    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    norm = path.rstrip("/")
    with publish_lock(norm, owner="store_expire"):
        gens = store_generations(norm)
        drop = gens[:max(0, len(gens) - keep_last)]
        for g in drop:
            shutil.rmtree(os.path.join(norm, "archive",
                                       f"gen-{g:04d}"),
                          ignore_errors=True)
        return {"expired": len(drop),
                "kept": gens[len(drop):]}
