"""Round-5 hardening tests: the ADVICE findings (IVF rename-aside swap,
strict fsio.remove, legacy ledger-key acceptance) and the torn-marker
recovery claims (fsio.py module docstring) that previously had no test
behind them."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dlx_spark import fsio


# ---------------------------------------------------------------------------
# fsio.remove strict failure handling
# ---------------------------------------------------------------------------

def test_fsio_remove_raises_when_delete_fails_but_path_exists(spark, monkeypatch):
    """A filesystem whose delete() returns false while the path still
    exists (permission/lease failure) must raise, not report success."""

    class _StubFs:
        def delete(self, _p, _recursive):
            return False

        def exists(self, _p):
            return True

    monkeypatch.setattr(fsio, "_fs", lambda _s, _p: _StubFs())
    with pytest.raises(OSError):
        fsio.remove(spark, "/nonexistent/stub/marker", missing_ok=True)
    with pytest.raises(OSError):
        fsio.remove(spark, "/nonexistent/stub/marker", missing_ok=False)


def test_fsio_remove_missing_semantics_unchanged(spark, tmp_path):
    gone = str(tmp_path / "never_existed")
    assert fsio.remove(spark, gone, missing_ok=True) is False
    with pytest.raises(FileNotFoundError):
        fsio.remove(spark, gone, missing_ok=False)
    real = str(tmp_path / "real_marker")
    fsio.touch(spark, real)
    assert fsio.remove(spark, real) is True
    assert not fsio.exists(spark, real)


# ---------------------------------------------------------------------------
# IVF refresh publication through the backend's one-commit rewrite
# ---------------------------------------------------------------------------
#
# The IVF index is a partitioned table on the tableio backend, so a
# refresh publishes through ``rewrite``: one segment, one manifest
# commit.  A refresh that dies before that commit (or whose manifest
# never got past its ``.tmp-*`` file) has not happened; nothing is
# recovered on the next open.


def _be():
    from dlx_spark import tableio
    return tableio.get_backend()


def _write_idx(spark, table, ids):
    _be().write(
        spark.createDataFrame([(int(i), [float(i)], 0) for i in ids],
                              "id long, vec array<double>, list_id int"),
        table, partition_cols=["list_id"])


def _idx_ids(spark, table):
    return {r["id"] for r in _be().read(spark, table).select("id").collect()}


@pytest.fixture(autouse=True)
def _drop_ivf_tables(spark):
    yield
    for t in ("t_r6_ivf", "t_r6_ivf3", "t_r6_ivf5"):
        _be().drop(spark, t)


def test_recover_ivf_pre_publish_crash_keeps_live(spark, tmp_path):
    """A refresh killed before its manifest commit: the live index is
    untouched on the next read — there is nothing to recover."""
    from dlx_spark import tableio
    from dlx_spark.operators import bucketing, similarity
    from dlx_spark.tableio_versioned import VersionedTableBackend

    class KilledAtRewriteCommit(VersionedTableBackend):
        def _commit(self, spark, table, payload_fn):
            if getattr(self, "armed", False):
                raise RuntimeError("driver killed before the commit")
            return super()._commit(spark, table, payload_fn)

    rng = np.random.RandomState(4)
    rows = [(i, rng.standard_normal(6).tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(df, n_centroids=3, seed=4)
    prev = tableio.get_backend()
    be = KilledAtRewriteCommit(root=str(tmp_path / "vroot"))
    tableio.set_backend(be)
    try:
        bucketing.write_ivf_index(df, "t_r6_ivf", cents)
        be.armed = True
        with pytest.raises(RuntimeError, match="killed"):
            bucketing.refresh_ivf_index(spark, "t_r6_ivf", n_centroids=3,
                                        seed=5)
        reopened = VersionedTableBackend(root=be._root)
        assert {r["id"] for r in reopened.read(spark, "t_r6_ivf")
                .select("id").collect()} == set(range(30))
        assert reopened.versions(spark, "t_r6_ivf") == [1]
    finally:
        tableio.set_backend(prev)


def test_torn_staged_write_is_invisible_to_recovery(spark):
    """The commit point claim itself: a rewrite whose manifest never got
    past its ``.tmp-*`` file (segment written, rename not done) is not
    a version — the live index reads as before."""
    be = _be()
    _write_idx(spark, "t_r6_ivf3", [1, 2, 3])
    seg = be._write_segment(
        spark, spark.createDataFrame([(99, [9.0], 0)],
                                     "id long, vec array<double>, list_id int"),
        "t_r6_ivf3", None, ["list_id"])
    fsio.write_text(spark, fsio.join(be._table_dir(spark, "t_r6_ivf3"),
                                     ".tmp-torn.json"),
                    json.dumps({"segments": [seg]}))
    assert be.versions(spark, "t_r6_ivf3") == [1]
    assert _idx_ids(spark, "t_r6_ivf3") == {1, 2, 3}


def test_refresh_ivf_swap_leaves_no_residue(spark):
    """A clean refresh ends with exactly the live table: one segment,
    no side table, contents preserved."""
    from dlx_spark.operators import bucketing, similarity

    rng = np.random.RandomState(3)
    rows = [(i, (rng.standard_normal(8)).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(df, n_centroids=4, seed=3)
    bucketing.write_ivf_index(df, "t_r6_ivf5", cents)
    bucketing.refresh_ivf_index(spark, "t_r6_ivf5", n_centroids=4, seed=3)
    tables = fsio.listdir(spark, fsio.join(_be().root(spark), "tables"))
    assert [t for t in tables if t.startswith("t_r6_ivf5")] == ["t_r6_ivf5"]
    assert len(_be().snapshot_token(spark, "t_r6_ivf5")) == 1
    assert len(_idx_ids(spark, "t_r6_ivf5")) == 60


@pytest.mark.slow
def test_refresh_ivf_fails_clean_on_concurrent_append(spark, tmp_path):
    """An append_ivf_index racing the refresh (its rows assigned under the OLD centroids) must fail the
    refresh via the snapshot-token conflict and leave the live index
    exactly as the appender sees it — the upgrade over the old path
    protocol, which silently lost such appends."""
    from dlx_spark import tableio
    from dlx_spark.operators import bucketing, similarity
    from dlx_spark.tableio_versioned import VersionedTableBackend

    rng = np.random.RandomState(5)
    rows = [(i, (rng.standard_normal(6)).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    extra = spark.createDataFrame([(500, rows[0][1])],
                                  "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(df, n_centroids=3, seed=5)

    class RacingBackend(VersionedTableBackend):
        def _write_segment(self, *a, **kw):
            if getattr(self, "_armed", False) and not getattr(
                    self, "_raced", False):
                self._raced = True
                bucketing.append_ivf_index(extra, "t_v_ivf_race", cents)
            return super()._write_segment(*a, **kw)

    prev = tableio.get_backend()
    rb = RacingBackend(root=str(tmp_path / "vroot"))
    tableio.set_backend(rb)
    try:
        bucketing.write_ivf_index(df, "t_v_ivf_race", cents)
        rb._armed = True
        with pytest.raises(tableio.ConcurrentWriteError):
            bucketing.refresh_ivf_index(spark, "t_v_ivf_race",
                                        n_centroids=3, seed=5)
        assert rb._raced
        assert rb.read(spark, "t_v_ivf_race").count() == 41  # append kept
        # the re-run (no race) succeeds over the grown index
        bucketing.refresh_ivf_index(spark, "t_v_ivf_race",
                                    n_centroids=3, seed=5)
        assert rb.read(spark, "t_v_ivf_race").count() == 41
    finally:
        tableio.set_backend(prev)


def test_dedup_index_meta_garbage_raises_clearly(spark, tmp_path):
    """_read_meta over a corrupted params payload must raise a clear
    parse error, never act on garbage parameters."""
    from dlx_spark.operators import dedup_index

    name = "torn_meta_idx"
    _be().write(
        spark.createDataFrame([("{not json",)], "params string"),
        f"{name}/{name}_meta")
    try:
        with pytest.raises(ValueError):
            dedup_index._read_meta(spark, name)
    finally:
        _be().drop(spark, name)


@pytest.mark.slow
def test_streaming_sink_tolerates_torn_attempt_marker(spark, tmp_path):
    """Sink attempt/committed markers are presence-only (touch files) —
    their CONTENT is never parsed, so a torn write can at worst leave a
    valid-but-garbage-bytes marker, which must drive the normal replay
    path (replay_safe dedup), not crash or drop data."""
    from dlx_spark.operators.dedup_index import MinHashIndex
    from dlx_spark import streaming

    docs = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "totally different content with its own words here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    MinHashIndex.create(df.limit(0), "torn_sink_idx")
    out = str(tmp_path / "torn_out")
    try:
        fn = streaming.make_neardedup_batch_fn("torn_sink_idx", out)
        run_dir = out + "/run=default"
        fsio.mkdirs(spark, run_dir)
        # garbage-content attempt marker from a "crashed" prior attempt
        # of THIS run: presence → replay mode; content must not matter
        fsio.write_text(spark, run_dir + "/_attempt_batch_0",
                        '{"files": ["part-trunc')
        fn(df, 0)
        got = spark.read.parquet(out)
        assert got.count() == 2
        assert fsio.exists(spark, run_dir + "/_committed_batch_0")
        assert not fsio.exists(spark, run_dir + "/_attempt_batch_0")
    finally:
        MinHashIndex(spark, "torn_sink_idx").drop()


def test_reader_during_ivf_refresh(spark, tmp_path):
    """Reader contract around refresh_ivf_index's swap: a handle
    resolved BEFORE the refresh is a snapshot and still answers with the
    pre-refresh content (its segments are never touched until vacuum);
    a FRESH read after the swap sees the complete re-assigned index
    (same ids, same vectors, new list layout)."""
    from dlx_spark.operators import bucketing, similarity

    rng = np.random.RandomState(9)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = "t_r6_idx_reader"
    cents = similarity.ivf_centroids(df, n_centroids=4, seed=9)
    try:
        bucketing.write_ivf_index(df, path, cents)

        before = _be().read(spark, path)
        want = {r["id"] for r in before.select("id").collect()}
        assert want == set(range(80))

        bucketing.refresh_ivf_index(spark, path, n_centroids=4, seed=10)
        got_old = {r["id"] for r in before.select("id").collect()}
        assert got_old == want          # the snapshot still answers
        fresh = {r["id"] for r in
                 _be().read(spark, path).select("id").collect()}
        assert fresh == want
    finally:
        _be().drop(spark, path)


def test_table_backend_seam_routes_every_index_operation(spark):
    """The pluggable table-commit backend (dlx_spark.tableio): a
    recording subclass installed via set_backend must see EVERY table
    operation of an index create/probe/append/compact/drop cycle — no
    index call-site may reach the storage directly — and the results
    through the recording backend equal the plain run."""
    from dlx_spark import tableio
    from dlx_spark.operators.dedup_index import DigestIndex
    from dlx_spark.tableio_versioned import VersionedTableBackend

    class Recording(VersionedTableBackend):
        def __init__(self):
            super().__init__()
            self.calls = []

        def write(self, df, table, key=None, **kw):
            self.calls.append(("write", table))
            super().write(df, table, key, **kw)

        def append(self, df, table, key=None, **kw):
            self.calls.append(("append", table))
            return super().append(df, table, key, **kw)

        def read(self, spark, table):
            self.calls.append(("read", table))
            return super().read(spark, table)

        def rewrite(self, df, table, token, *a, **kw):
            # the seam's conflict-handling arguments (keep/exact/extra)
            # must pass through overriding backends
            self.calls.append(("rewrite", table))
            return super().rewrite(df, table, token, *a, **kw)

        def drop(self, spark, table):
            self.calls.append(("drop", table))
            super().drop(spark, table)

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta")],
        "doc_id long, text string")

    prev = tableio.get_backend()
    rec = Recording()
    tableio.set_backend(rec)
    try:
        idx = DigestIndex.create(docs, "t_seam_idx")
        clean = sorted(r["doc_id"] for r in
                       idx.dedup_batch(batch).collect())
        assert clean == [11]
        idx.compact()
        idx.drop()
    finally:
        tableio.set_backend(prev)

    ops = {op for op, _ in rec.calls}
    assert {"write", "append", "read", "rewrite", "drop"} <= ops
    tables = {t for _, t in rec.calls}
    assert {"t_seam_idx/t_seam_idx_digests",
            "t_seam_idx/t_seam_idx_meta"} <= tables


# ---------------------------------------------------------------------------
# Self-review fixes: legacy layouts
# ---------------------------------------------------------------------------

def test_embedding_index_legacy_layout_raises_clearly(spark):
    """Opening an EmbeddingIndex whose tables are in the per-table
    manifest layout of earlier releases must raise a clear rebuild
    error naming them, not read the index as empty."""
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    names = ("t_legacy_emb_vecs", "t_legacy_emb_meta")
    for t in names:
        fsio.write_text(
            spark, _be()._manifest_path(spark, t, 1),
            json.dumps({"segments": [], "key": None, "version": 1,
                        "schema": '{"type":"struct","fields":[]}'}))
    try:
        with pytest.raises(ValueError, match="(?i)rebuild") as err:
            EmbeddingIndex(spark, "t_legacy_emb")
        assert all(t in str(err.value) for t in names)
    finally:
        for t in names:
            _be().drop(spark, t)
