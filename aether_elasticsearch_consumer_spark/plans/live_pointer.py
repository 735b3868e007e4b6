"""Cluster-portable live-index pointer — single-object JSON commit.

Reference parity: Elasticsearch aliases give the reference a stable query
name over swappable physical indices (es.indices.put_alias,
/root/reference/consumer/app/index_handler.py:170-171); this repo's
catalog mirrors that for snapshot tables (`sources/catalog.py`
``_aliases.json``). This module applies the SAME commit pattern to
inverted-index directories: the "live" index is a tiny JSON pointer file
naming the current committed index dir, re-bound atomically per batch.

Why not a symlink: ``os.replace`` of a symlink is atomic only on a POSIX
filesystem. A real cluster keeps indexes on object storage, which has no
symlinks — but a single-key overwrite (conditional PUT / put-if-match) is
every object store's native atomic primitive, and it is exactly what
Iceberg's catalog does with its metadata-location pointer. One small JSON
object is therefore the portable form of "atomic repoint": local runs get
atomicity from write-tmp + rename; an object-store deployment swaps the
two filesystem calls for a conditional PUT of the same bytes.

Readers resolve the pointer at open time (``IndexReader`` does this
automatically), so queries running against the old target are unaffected
by a concurrent repoint — committed index dirs are immutable.

Legacy layout: earlier rounds repointed a symlink; ``resolve_live`` still
resolves one (realpath), so existing on-disk indexes keep working.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

LIVE_POINTER_VERSION = 1


def resolve_live(path: str | Path) -> str | None:
    """Resolve a live-index location to the current committed index dir.

    Accepts any of: a pointer file (returns its target), a legacy symlink
    or plain directory (returns its realpath), or a missing path (returns
    None — no live index committed yet)."""
    p = Path(path)
    if p.is_symlink() or p.is_dir():
        return os.path.realpath(p)
    if p.is_file():
        meta = json.loads(p.read_text())
        return meta["index_dir"]
    return None


def commit_live_pointer(path: str | Path, target: str | Path) -> None:
    """Atomically (re)bind ``path`` → ``target``: write the JSON pointer
    beside it, then one rename. On object storage this maps to a single
    conditional PUT of the pointer key."""
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    payload = json.dumps(
        {"v": LIVE_POINTER_VERSION, "index_dir": str(Path(target).resolve())}
    )
    tmp = p.with_name(p.name + ".ptr.tmp")
    tmp.write_text(payload)
    # rename() operates on the link itself, never the target, so this one
    # call also atomically migrates a legacy symlink layout to a pointer
    os.replace(tmp, p)
