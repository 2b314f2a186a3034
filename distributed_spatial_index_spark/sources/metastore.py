"""Atomic, versioned metadata commits for the landed layouts.

The layouts (sources/layout.py hive+manifest, plans/bucketing.py unified
bucketed) keep query-serving metadata next to the data: the per-file
manifest and, for point tables, the per-cell density summary.  Writing
those with ``mode("overwrite")`` in place has two failure windows the
table formats this layout stands in for do not:

* a crash mid-overwrite destroys the only copy (data intact, but every
  landed reader fails until a full re-manifest), and
* a CONCURRENT reader can tear — see a half-deleted parquet dir, or a
  fresh ``_manifest`` paired with a stale ``_density`` (the two were two
  separate overwrites).  streaming/land.py advertises exactly that
  concurrency: the landed table serves joins and knn_landed MID-STREAM
  while every micro-batch rewrites the metadata.

This module is the Iceberg version-hint analogue that closes both: each
commit writes a fresh IMMUTABLE version directory
``<path>/_meta/v{N}/<name>`` (all artifacts of the commit under ONE
version), then atomically swings the ``<path>/_meta_ptr`` pointer file
(temp-file + POSIX rename, the same pattern as streaming/land.py's
``_stream_commit``).  Readers resolve the pointer first, so they see the
previous consistent version or the new one — never a mixture, never a
torn directory.  A crash before the pointer swing leaves a garbage
version dir that the next commit simply overwrites (it re-derives the
same version number from the unmoved pointer).

Retention: old versions are KEPT (the snapshot-retire analogue — a
reader that resolved v(N) keeps a consistent view while v(N+1) commits);
``meta_vacuum`` deletes all but the newest ``keep`` when the caller
decides readers have drained.  Single concurrent WRITER assumed, as in
the table formats' default streaming-ingest topology (two racing
commits could both claim v(N+1)).

Artifacts are Spark DataFrames (written by a Spark job — the full-scan
manifest and the index stats, which come out of distributed aggregates)
or ``pyarrow.Table``s (written by the driver with no job — the incremental
repairs, whose few hundred rows are computed on the driver).  Both land
in the same version directory under the same protocol, and both read back
either way: ``meta_read`` as a DataFrame, ``meta_read_arrow`` as a
``pa.Table`` without a job.

Local-filesystem stand-in, like the stream-commit marker: on a real
deployment the table format's metadata layer replaces this file-pointer
protocol with its own atomic snapshot commit.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_META_DIR = "_meta"
_PTR_FILE = "_meta_ptr"


def _root(path: str) -> str:
    from distributed_spatial_index_spark.sources.layout import _local_root

    root = _local_root(path)
    if root is None:
        raise NotImplementedError(
            "the versioned-metadata pointer is the local-filesystem "
            "stand-in for a table format's atomic snapshot commit; keep "
            "non-local layouts through Iceberg/Delta metadata"
        )
    return root


def meta_version(path: str) -> int | None:
    """Committed metadata version of the layout at ``path`` (None = no
    commit yet)."""
    try:
        with open(os.path.join(_root(path), _PTR_FILE)) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        return None


def _version_dir(path: str, version: int) -> str:
    return os.path.join(_root(path), _META_DIR, f"v{version:06d}")


def meta_commit(path: str, dfs: dict[str, DataFrame | pa.Table]) -> int:
    """Commit ``{name: DataFrame | pa.Table}`` as the layout's metadata,
    atomically and as ONE unit: every artifact is written under the same
    new version directory before the pointer moves, so readers can never
    pair artifacts from different commits.  Returns the committed version.

    The artifact DataFrames may freely READ the previous version (the
    incremental-merge case): the write target is a brand-new directory,
    so read-what-you-overwrite is impossible by construction — no
    localCheckpoint materialization barrier needed."""
    version = (meta_version(path) or 0) + 1
    vdir = _version_dir(path, version)
    for name, art in dfs.items():
        # overwrite: a crash after a previous failed commit may have left
        # a garbage dir at this (never-committed) version number
        target = os.path.join(vdir, name)
        if isinstance(art, pa.Table):
            shutil.rmtree(target, ignore_errors=True)
            os.makedirs(target)
            pq.write_table(art, os.path.join(target, "part-00000.parquet"))
        else:
            art.write.mode("overwrite").parquet(target)
    target = os.path.join(_root(path), _PTR_FILE)
    tmp = f"{target}.tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "artifacts": sorted(dfs)}, f)
    os.replace(tmp, target)
    return version


def _artifact_dir(path: str, name: str, version: int | None) -> str:
    if version is None:
        version = meta_version(path)
    if version is None:
        raise ValueError(
            f"layout at {path} has no committed metadata (no "
            f"{_PTR_FILE}); run its manifest writer first"
        )
    return os.path.join(_version_dir(path, version), name)


def meta_read(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> DataFrame:
    """The artifact ``name`` of the layout's CURRENT committed version —
    or of an explicit ``version``, which is how a reader needing SEVERAL
    artifacts pins them all to one commit (resolve meta_version once,
    pass it to every read).  Raises ValueError when nothing was ever
    committed (callers turn that into their own actionable message)."""
    return spark.read.parquet(_artifact_dir(path, name, version))


def meta_read_arrow(
    path: str, name: str, version: int | None = None
) -> pa.Table:
    """``meta_read`` on the driver: the artifact as a ``pa.Table``, read
    with pyarrow — no Spark job, not even the schema-inference one a
    DataFrame read starts.  For the small metadata the landed writers
    repair and the freshness checks consult."""
    return pq.read_table(_artifact_dir(path, name, version))


def meta_vacuum(path: str, keep: int = 2) -> int:
    """Delete all version directories except the newest ``keep``
    (current version always survives).  Returns the number removed.
    Call when in-flight readers of old versions have drained — the same
    contract as a table format's snapshot expiration."""
    if keep < 1:
        raise ValueError("keep must be >= 1 (the current version)")
    current = meta_version(path)
    meta_root = os.path.join(_root(path), _META_DIR)
    if current is None or not os.path.isdir(meta_root):
        return 0
    removed = 0
    for d in sorted(os.listdir(meta_root)):
        if not d.startswith("v"):
            continue
        try:
            v = int(d[1:])
        except ValueError:
            continue
        if v <= current - keep:
            shutil.rmtree(os.path.join(meta_root, d))
            removed += 1
    return removed
