"""The one commit protocol for in-place mutations (delete, upsert, ANN
forget): stage replacement dirs under ``<root>/<staging>``, then publish
them with ONE journaled swap — applied fully or not at all (SURVEY §4.3).

``swap`` writes the ``(live, staged | None)`` pairs to
``<staging>/journal.json`` (fsync + ``os.replace``) before the first
rename, parks each live dir at ``<staging>/.old/<relpath>`` (outside every
tree a reader lists), renames staged -> live, then drops ``.old/``, the
journal and the staging dir. Every step is idempotent, so recovery is the
same loop run again: taking the lock (``locked``) rolls a journaled swap
forward and wipes an unjournaled staging dir (nothing was published).
Local paths only (``require_local``): on s3:// a silent rmtree no-op
would resurrect deleted rows (ADVICE r4).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from urllib.parse import urlparse

JOURNAL = "journal.json"


class LockHeldError(RuntimeError):
    """Another mutation holds the exclusive lock (or it cannot be taken)."""


@contextlib.contextmanager
def exclusive_lock(path: str, owner: str, what: str = "mutation"):
    """O_EXCL lock file: the atomic driver-side mutex for in-place
    mutations (warehouse rewrite, index forget/append). A crash leaves
    the lock behind with its owner id; the loud failure tells the
    operator what held it."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, owner.encode())
        os.close(fd)
    except FileExistsError:
        try:
            holder = open(path).read().strip()
        except OSError:
            holder = "?"
        raise LockHeldError(
            f"another {what} holds {path} (job '{holder}'); if that job "
            "is dead, remove the lock file and retry"
        ) from None
    except OSError as e:
        raise LockHeldError(f"cannot create lock {path}: {e}") from e
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.unlink(path)


def require_local(path: str, what: str = "path") -> str:
    """Return the local filesystem path, or raise for remote URIs.

    Accepts plain paths and file:// URIs; rejects any other scheme
    (s3/hdfs/abfs/...) because the caller is about to mutate directories
    with os/shutil calls that silently no-op on URIs.
    """
    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        return parsed.path if parsed.scheme else path
    raise ValueError(
        f"{what} '{path}' is not a local filesystem path; in-place "
        "mutation (delete/upsert/forget) currently requires a local "
        "warehouse — copy it local or compact to a new local warehouse"
    )


def rmtree_checked(path: str) -> None:
    """Remove a directory tree and VERIFY it is gone (missing is fine)."""
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        raise OSError(f"failed to remove directory: {path}")


@contextlib.contextmanager
def locked(root: str, lock: str, staging: str, owner: str, what: str):
    """Hold ``{root}/{lock}`` after recovering ``{root}/{staging}``;
    yields the (absent) staging path."""
    with exclusive_lock(f"{root}/{lock}", owner, what):
        stage = f"{root}/{staging}"
        if os.path.exists(f"{stage}/{JOURNAL}"):
            _roll_forward(root, stage)
        rmtree_checked(stage)
        old_m = f"{root}/.manifests_old"  # a pre-journal rewrite's crash
        if os.path.isdir(old_m) and not os.path.exists(f"{root}/manifests"):
            os.rename(old_m, f"{root}/manifests")
        rmtree_checked(old_m)
        try:
            yield stage
        finally:  # unpublished staging (no journal) never outlives the lock
            if not os.path.exists(f"{stage}/{JOURNAL}"):
                rmtree_checked(stage)


def swap(root: str, staging: str, pairs: list[tuple[str, str | None]]) -> None:
    """Publish (live dir, staged dir) ``pairs`` under ``root``; a staged
    dir that is None or absent means the live dir just goes."""
    journal = f"{staging}/{JOURNAL}"
    with open(f"{journal}.tmp", "w") as f:
        json.dump([[os.path.relpath(live, root),
                    os.path.relpath(staged, root)
                    if staged and os.path.isdir(staged) else None]
                   for live, staged in pairs], f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(f"{journal}.tmp", journal)
    fd = os.open(staging, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    _roll_forward(root, staging)


def _roll_forward(root: str, staging: str) -> None:
    with open(f"{staging}/{JOURNAL}") as f:
        rel = json.load(f)
    for live_rel, staged_rel in rel:
        live = os.path.join(root, live_rel)
        staged = staged_rel and os.path.join(root, staged_rel)
        # once staged is gone, live already holds the new dir
        if staged and not os.path.isdir(staged):
            continue
        if os.path.isdir(live):
            parked = os.path.join(staging, ".old", live_rel)
            os.makedirs(os.path.dirname(parked), exist_ok=True)
            os.rename(live, parked)
        if staged:
            os.makedirs(os.path.dirname(live), exist_ok=True)
            os.rename(staged, live)
    rmtree_checked(f"{staging}/.old")
    os.unlink(f"{staging}/{JOURNAL}")
    rmtree_checked(staging)
