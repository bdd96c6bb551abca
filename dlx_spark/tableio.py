"""The table-commit seam: the single point through which the
incremental indexes (operators/dedup_index.py) and the ANN index
layouts (operators/bucketing.py) create, append, read, rewrite, and
drop their tables.

The engine's one backend is the manifest-committed
``tableio_versioned.VersionedTableBackend`` rooted at
``<warehouse>/_versioned``: one-commit rewrites, snapshot-isolated
readers and optimistically-concurrent appends on plain parquet.  A
table is written through two calls — ``write`` replaces it, ``append``
adds a segment and folds the table once it reaches the backend's
``AUTO_COMPACT_AT`` segments — each taking the layout (clustering key,
partition columns, sort column) as arguments.  The index
classes resolve the backend per call through ``get_backend()``, so a
table format with its own commit protocol (Delta, Iceberg) — or a test
double that records, races or crashes — slots in process-wide via
``set_backend`` without touching any operator call-site.
"""

from __future__ import annotations


class ConcurrentWriteError(RuntimeError):
    """A re-derive (a merge-on-read overwrite or geometry change, an
    index rebucket, an IVF refresh) found that the table's segment list
    changed after the snapshot it was derived from — publishing would
    discard or contradict the concurrent writes — or an append's rows
    were derived under table metadata a concurrent commit changed.
    Nothing was committed; re-derive and retry."""


_backend = None


def get_backend():
    """The process-wide table backend; a ``VersionedTableBackend`` over
    the active session's warehouse unless ``set_backend`` installed
    another."""
    global _backend
    if _backend is None:
        from dlx_spark.tableio_versioned import VersionedTableBackend
        _backend = VersionedTableBackend()
    return _backend


def set_backend(backend) -> None:
    """Install a process-wide table backend (e.g. a Delta/Iceberg
    implementation of the ``VersionedTableBackend`` interface)."""
    global _backend
    _backend = backend
