"""Build-once artifacts: the one lifecycle shared by every persisted
layout, index and demo table the engine writes (the reference's CREATE
INDEX / materialized-view analog — built once, then queried many times,
Iteration 3/Group No.6_Indexing_Partitioning.sql).

Contract of :func:`ensure`:

- Path. An artifact root is
  ``<repo>/.scratch/<kind>/<basename(sf_dir)>[/<name>]``
  (:func:`scratch_root`, gitignored). ``kind`` carries the recipe
  version (``silver_v1``, ``ann_index_v2``, ...): a builder whose output
  changes gets a new kind, so files from an older recipe are never read.
- Marker. ``_COMPLETE`` under the root, written after ``build`` returns
  and last, through a temp file and ``os.replace``. Its presence is the
  one definition of "built"; any process reuses a marked root.
- Torn root. A root without the marker — a crashed build, or one built
  before this marker existed — is wiped before ``build`` runs, so every
  build starts from an empty directory. A ``build`` that raises leaves
  no marker and the next call rebuilds.
- Memo. A ready root is remembered per session, keyed on
  ``(applicationId, root)``: later calls are one set lookup, with no
  filesystem or catalog access (``read_table`` calls this per query).
- Attach. ``attach(root)`` runs once per session after the root is
  ready, built here or reused from another process, for catalog state
  the files do not carry (bucketed tables re-registered by LOCATION).

State inside a complete root that records later changes (fold-generation
markers, layout manifests, the compaction bracket) belongs to the module
that owns the artifact. One writer per root: two processes building the
same root at once are not guarded against.

:func:`persisted` is the in-memory twin for frames that live only in
the session's cache (the persisted star, cleaned staging, tokenized
corpus, ...): ``build()`` returns the frame already persisted at its
own storage level, runs once per ``(applicationId, *key)`` and later
calls return the same DataFrame object.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

MARKER = "_COMPLETE"

#: (applicationId, root) pairs ready in this process
_READY: set[tuple[str, str]] = set()

#: (applicationId, *key) -> the frame :func:`persisted` built for it
_PERSISTED: dict[tuple, DataFrame] = {}


def scratch_root(kind: str, sf_dir: str, name: str | None = None) -> str:
    base = os.path.join(
        _REPO_ROOT, ".scratch", kind, os.path.basename(sf_dir.rstrip("/"))
    )
    return base if name is None else os.path.join(base, name)


def ensure(
    spark: SparkSession,
    root: str,
    build: Callable[[str], None],
    attach: Callable[[str], None] | None = None,
) -> str:
    """Return ``root`` once it holds a complete artifact, running
    ``build(root)`` first unless a marked build exists."""
    key = (spark.sparkContext.applicationId, root)
    if key in _READY:
        return root
    marker = os.path.join(root, MARKER)
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        build(root)
        os.makedirs(root, exist_ok=True)
        with open(marker + ".tmp", "w"):
            pass
        os.replace(marker + ".tmp", marker)
    if attach is not None:
        attach(root)
    _READY.add(key)
    return root


def discard(spark: SparkSession, root: str) -> None:
    """Delete ``root`` and forget it for this session: the next
    :func:`ensure` rebuilds it."""
    _READY.discard((spark.sparkContext.applicationId, root))
    shutil.rmtree(root, ignore_errors=True)


def persisted(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build()`` returns, built on the first call per
    session and ``key``; ``build`` persists it itself."""
    memo_key = (spark.sparkContext.applicationId, *key)
    df = _PERSISTED.get(memo_key)
    if df is None:
        df = _PERSISTED[memo_key] = build()
    return df
