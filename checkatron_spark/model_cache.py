"""The fitted-model cache: one owner for every ANN model kept between calls.

The ANN operators fit deterministic models (PQ codebooks, coarse
quantizers, index assignments) that are pure functions of (corpus identity,
fit parameters), so a stored model IS the refit. Two tiers keep them:

- **Disk**, across processes. Entries live under one trusted root
  (:func:`root`), one directory per family (:data:`FAMILIES`). An entry's
  name is the md5 fingerprint of (corpus key, tag, params); the caller's
  corpus key must change when the corpus does. Entries publish atomically
  (:func:`publish`), so a reader sees a whole entry or none. A miss, a
  read error, or an entry the family's own validation rejects means a
  refit, never an error.
- **Memory**, within one process (:func:`remember`). Entries are scoped to
  the Spark application that built them, so a JVM-backed model never
  outlives its application.

:func:`clear` drops both tiers, so the next call pays the full fit.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import uuid
from collections.abc import Callable
from typing import Any

# Root override. ``None`` resolves ``$SPARK_GRAFT_SCRATCH``, then a
# per-user default; tests pin a tmp dir here.
ROOT: str | None = None

PQ_BOOKS = "pq_codebooks"  # JSON: flat-PQ, IVF-PQ coarse + residual books
IVF_QUANTIZER = "ivf_quantizer"  # MLlib KMeansModel directory
IVF_INDEX = "ivf_index"  # parquet (id, cell, _x) index store
FAMILIES = (PQ_BOOKS, IVF_QUANTIZER, IVF_INDEX)

_MEMORY: dict[tuple, Any] = {}


def root() -> str | None:
    """The disk tier's root if it can be TRUSTED, else ``None``, which
    disables the disk tier for the call.

    Resolution order: :data:`ROOT`, ``$SPARK_GRAFT_SCRATCH``, then
    ``/tmp/checkatron_spark_scratch-uid<uid>``. A missing root is
    created ``0o700``. An existing one must be a real directory (not a
    symlink) owned by the current uid with no group/other write bits:
    ``makedirs(mode=0o700)`` only applies to directories it creates, so a
    pre-created shared path would otherwise let anyone plant models."""
    path = (
        ROOT
        or os.environ.get("SPARK_GRAFT_SCRATCH")
        or f"/tmp/checkatron_spark_scratch-uid{os.getuid()}"
    )
    try:
        st = os.lstat(path)
    except FileNotFoundError:
        try:
            os.makedirs(path, mode=0o700, exist_ok=True)
            st = os.lstat(path)
        except OSError:
            return None
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return None  # symlink or file planted at the root path
    if st.st_uid != os.getuid():
        return None
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        return None
    return path


def entry(family: str, cache_key: str | None, tag: str,
          params: tuple) -> str | None:
    """Path of the entry for (corpus key, tag, params) in ``family``, or
    ``None`` when caching is off (no key, or no trusted root). The
    basename is the fingerprint, so a loader can check that an entry
    claims the exact key it is read for."""
    if cache_key is None:
        return None
    base = root()
    if base is None:
        return None
    fp = hashlib.md5(f"{cache_key}|{tag}|{params}".encode()).hexdigest()
    return os.path.join(base, family, fp)


def read(path: str | None, load: Callable[[str], Any]) -> Any:
    """``load(path)``, or ``None`` on a miss or any read error — a partial
    or foreign entry refits."""
    if path is None or not os.path.exists(path):
        return None
    try:
        return load(path)
    except Exception:  # noqa: BLE001 — unreadable entry: refit
        return None


def publish(path: str | None, write: Callable[[str], None]) -> None:
    """Best-effort atomic publish: ``write`` a fresh temp path beside the
    entry, then ``os.replace`` it in. Works for file and directory entries
    alike; an existing directory entry (one the loader rejected) is removed
    first, since a rename cannot replace a non-empty directory."""
    if path is None:
        return
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        os.makedirs(os.path.dirname(path), mode=0o700, exist_ok=True)
        write(tmp)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
    except Exception:  # noqa: BLE001 — the cache is best-effort
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(tmp):
            os.remove(tmp)


def remember(spark, key: tuple, build: Callable[[], Any]) -> Any:
    """Memory tier: ``build()`` once per (Spark application, ``key``)."""
    key = (spark.sparkContext.applicationId, *key)
    if key not in _MEMORY:
        _MEMORY[key] = build()
    return _MEMORY[key]


def clear() -> None:
    """Drop the memory tier and every disk family under the current root."""
    _MEMORY.clear()
    base = root()
    if base is not None:
        for family in FAMILIES:
            shutil.rmtree(os.path.join(base, family), ignore_errors=True)
