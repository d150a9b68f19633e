"""Scratch tier: the root dir for run-private state (streaming checkpoints,
state versions) and the one lifecycle of its shared caches (staged stream
inputs, persisted indexes).

Everything under the scratch root is recomputed from the parquet inputs —
it is working storage, not a result cache. Locally the root prefers a
RAM-backed filesystem when one exists: streaming micro-batches pay an
offset-log + commit-log + state-version fsync per batch, and on a
disk-backed /tmp that I/O tax is billed to every batch of every streaming
operator (measured: pipeline_stream_cdc_apply 8.8 s on ext4 /tmp vs 6.7 s
on /dev/shm, same code — guide §6's "file layout" cost, paid in fsyncs).

On a production cluster this root must be DURABLE, shared storage for
anything a restarted driver needs (streaming checkpoints, registry
versions): set ``SPARK_GRAFT_SCRATCH_DIR`` to that location — the env var
wins unconditionally. The RAM-disk default is for the single-box case
where a crash loses the whole run anyway, so durability of the scratch
tier buys nothing; :func:`warn_if_volatile` warns when a streaming checkpoint
lands there.

Every shared cache dir comes from :func:`cache_dir`, which gives it one
lifecycle:

- **tag**: ``librarian_<prefix>_<tag>``, the tag hashing the source dir,
  the mtime of each source table the cache copies and a layout salt, so a
  regenerated table or a changed layout constant never serves a stale copy;
- **keepalive**: an existing dir gets a fresh ``_keepalive`` file on every
  entry, because reads never refresh mtimes and the sweep judges age;
- **TTL sweep**: the same prefix's OTHER tags (and their ``.staging-*``
  leftovers) whose newest file is older than ``_RUN_DIR_TTL_S`` are
  deleted, so a changed tag does not strand a full input copy in RAM.

Per-run dirs inside a cache (uuid-named checkpoints and sinks) are swept by
:func:`sweep_stale` under the same TTL.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
import warnings
from typing import Callable

__all__ = ["scratch_root", "cache_dir", "sweep_stale", "warn_if_volatile"]

_ROOT: str | None = None
_RAM_ROOT = "/dev/shm"

_RUN_DIR_TTL_S = 1800  # sweep only dirs whose newest file is older than this


def scratch_root() -> str:
    """Resolve (once) the root dir for run-private scratch."""
    global _ROOT
    if _ROOT is None:
        env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
        if env:
            _ROOT = env.rstrip("/") or "/"
        elif os.path.isdir(_RAM_ROOT) and os.access(_RAM_ROOT, os.W_OK):
            _ROOT = _RAM_ROOT  # see warn_if_volatile
        else:
            _ROOT = "/tmp"  # noqa: S108 — bounded, uuid-tagged, swept
    return _ROOT


def warn_if_volatile(checkpoint: str) -> None:
    """Warn when the streaming checkpoint dir ``checkpoint`` lands on the
    RAM-backed default root (``SPARK_GRAFT_SCRATCH_DIR`` unset): offset and
    commit logs and state versions there do not survive a reboot. Right for
    a single test box (a reboot loses the run anyway), wrong for any
    deployment that needs a restarted driver to resume exactly-once state —
    there the variable must point at durable shared storage. A process that
    starts no streaming query stays silent, and the default warning filter
    shows the warning once per process."""
    if not os.environ.get("SPARK_GRAFT_SCRATCH_DIR") and (
        os.path.realpath(checkpoint) + os.sep
    ).startswith(os.path.realpath(_RAM_ROOT) + os.sep):
        warnings.warn(
            "SPARK_GRAFT_SCRATCH_DIR is unset; streaming checkpoints land on "
            f"RAM-backed {_RAM_ROOT} and will NOT survive a reboot. Set "
            "SPARK_GRAFT_SCRATCH_DIR to durable storage for any deployment "
            "that must resume exactly-once streaming state.",
            RuntimeWarning,
            stacklevel=2,
        )


def sweep_stale(base: str, doomed: Callable[[str], bool]) -> None:
    """Delete every entry of ``base`` whose name ``doomed`` accepts and
    whose newest file is older than the TTL.

    Age-scoped: a dir younger than the TTL may belong to a CONCURRENTLY
    running invocation (pytest and bench on the same sf) — an unconditional
    sweep would delete that run's live checkpoint or sink mid-drain.
    Trade-off: runs within one TTL window accumulate (best-of-N bench = N
    run footprints for 30 min) — bounded and preferable to deleting a
    concurrent run's live state.
    """
    if not os.path.isdir(base):
        return
    cutoff = time.time() - _RUN_DIR_TTL_S

    def newest_mtime(path: str) -> float:
        # a LIVE streaming checkpoint's top-level mtime freezes at creation
        # (progress lands in offsets/commits/ subdirs), so liveness must be
        # judged by the newest mtime anywhere under the dir — a drain longer
        # than the TTL keeps touching files and stays protected
        newest = os.path.getmtime(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, f)))
                except OSError:
                    pass
        return newest

    for d in os.listdir(base):
        path = os.path.join(base, d)
        try:
            if doomed(d) and newest_mtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:  # raced with another sweep — someone cleaned it
            pass


def cache_dir(prefix: str, sf: str, *tables: str, salt: str = "") -> str:
    """The shared cache dir ``<scratch>/librarian_<prefix>_<tag>`` of a
    (source tables, layout salt) identity; nothing is created on disk.

    The tag is ``md5("<sf>:<mtime of each table>:<salt>")[:10]``, a missing
    table counting as mtime 0. Builds stay the caller's: completion markers
    and staging renames live at each site. Before returning, an existing
    dir gets its keepalive and the prefix's stale tags are swept; the
    returned dir itself is never walked or swept, and a longer prefix
    (``ivf_incr`` next to ``ivf``) never matches.
    """
    root = scratch_root()
    mtimes = ":".join(
        str(int(os.path.getmtime(p)) if os.path.exists(p) else 0)
        for p in (os.path.join(sf, f"{t}.parquet") for t in tables)
    )
    tag = hashlib.md5(f"{sf}:{mtimes}:{salt}".encode()).hexdigest()[:10]
    name = f"librarian_{prefix}_{tag}"
    path = os.path.join(root, name)
    if os.path.isdir(path):
        try:
            with open(os.path.join(path, "_keepalive"), "w") as fh:
                fh.write("")
        except OSError:
            pass
    stale = re.compile(rf"librarian_{re.escape(prefix)}_[0-9a-f]{{10}}(\.staging-.*)?")
    sweep_stale(root, lambda d: d != name and stale.fullmatch(d) is not None)
    return path
