"""Crash-safe directory swap for parquet tables rewritten in place.

A rewrite writes the complete new table to a staging directory next to
the live one, then swaps: rename the live table aside to
``<path>.__old__``, rename the staging directory into place, delete the
backup. Each rename is atomic on a POSIX filesystem, so a crash leaves
one of three states, and :func:`recover_swap` resolves each:

- live table only (crash before the first rename, or after the
  delete): nothing to do; a stale staging directory is the caller's
  garbage.
- backup only (crash between the two renames): the backup is the
  authoritative table and is renamed back.
- both (crash after the swap, before the delete): the new table was
  fully written before any rename, so the stale backup is dropped.

An object-store deployment would commit through ``sources/txlog.py``
instead; renames are not atomic there.
"""

from __future__ import annotations

import os
import shutil


def _backup(path: str) -> str:
    return path.rstrip("/") + ".__old__"


def recover_swap(path: str) -> None:
    """Resolve a swap that a crash interrupted (see the module docstring)."""
    backup = _backup(path)
    if os.path.exists(backup):
        if os.path.exists(path):
            shutil.rmtree(backup)
        else:
            os.rename(backup, path)


def swap_in(staging: str, path: str) -> None:
    """Replace the table at ``path`` with the fully written ``staging``
    directory: rename aside, swap, delete. ``path`` may not exist yet."""
    recover_swap(path)
    backup = _backup(path)
    had_table = os.path.exists(path)
    if had_table:
        os.rename(path, backup)
    os.rename(staging, path)
    if had_table:
        shutil.rmtree(backup)
