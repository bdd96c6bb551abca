"""VersionedTableBackend: manifest-committed parquet tables — atomic
single-rename commits, snapshot-isolated readers, optimistic-concurrency
appends, one-commit rewrites, time travel, vacuum.

This is the engine's table backend (``tableio.get_backend()``, the
Delta-protocol analog on plain parquet); every test here exercises the
backend either directly or through an unmodified index class from
operators/dedup_index.py.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dlx_spark import fsio, tableio
from dlx_spark.tableio_versioned import VersionedTableBackend


@pytest.fixture
def be(tmp_path):
    return VersionedTableBackend(root=str(tmp_path / "vroot"))


def _df(spark, rows, schema="id long, text string"):
    return spark.createDataFrame(rows, schema)


def test_write_read_roundtrip_and_clustered_segments(spark, be):
    df = _df(spark, [(i, f"doc {i}") for i in range(20)])
    be.write(df, "t1", "id")
    got = sorted(r["id"] for r in be.read(spark, "t1").collect())
    assert got == list(range(20))
    assert be.exists(spark, "t1")
    # exactly one committed manifest; the clustered segment is sized
    # to its rows: AQE coalesces 20 rows into one key-sorted file
    assert be.versions(spark, "t1") == [1]
    seg = be._read_manifest(spark, "t1", 1)["segments"][0]
    assert _part_ids(spark, be, seg) == [list(range(20))]


def _part_ids(spark, be, seg):
    """The ``id`` column of each data file of a segment, in file order."""
    import pyarrow.parquet as pq

    seg_dir = be._data_dir(spark, seg)
    return [pq.read_table(fsio.join(seg_dir, n))
            .column("id").to_pylist()
            for n in sorted(fsio.listdir(spark, seg_dir))
            if n.startswith("part-")]


def test_keyed_append_of_few_rows_writes_one_file(spark, be):
    """A small append is one data file, whatever the shuffle partition
    count: no fixed bucket count forces a file per bucket."""
    be.write(_df(spark, [(i, "base") for i in range(50)]), "t_small", "id")
    be.append(_df(spark, [(7, "c"), (3, "a"), (5, "b")]), "t_small", "id")
    seg = be.latest_manifest(spark, "t_small")["segments"][-1]
    assert _part_ids(spark, be, seg) == [[3, 5, 7]]


def test_keyed_write_splits_at_advisory_size_and_sorts_files(spark, be):
    """Segment sizing is AQE's, not a coalesce to one file: under a
    lowered advisory partition size a keyed write spreads over several
    files, each holding its own keys sorted."""
    confs = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
             "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        be.write(spark.range(5000).select(
            (F.col("id") * 7919 % 5000).alias("id"),
            F.repeat(F.lit("x"), 40).alias("text")), "t_split", "id")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    seg = be.latest_manifest(spark, "t_split")["segments"][0]
    files = _part_ids(spark, be, seg)
    assert len(files) > 1
    assert all(ids == sorted(ids) for ids in files)
    assert sorted(i for ids in files for i in ids) == list(range(5000))


def test_append_and_snapshot_isolation(spark, be):
    be.write(_df(spark, [(1, "a"), (2, "b")]), "t2", "id")
    snapshot = be.read(spark, "t2")        # resolved BEFORE the append
    be.append(_df(spark, [(3, "c")]), "t2", "id")
    # the old DataFrame is pinned to version-1 segments
    assert snapshot.count() == 2
    assert be.read(spark, "t2").count() == 3
    assert be.versions(spark, "t2") == [1, 2]


def test_overwrite_keeps_old_reader_valid_and_time_travel(spark, be):
    be.write(_df(spark, [(1, "old")]), "t3", "id")
    old_reader = be.read(spark, "t3")
    be.write(_df(spark, [(2, "new"), (3, "new")]), "t3", "id")
    # reader across the overwrite: still the old rows, no dead files
    assert [r["id"] for r in old_reader.collect()] == [1]
    assert old_reader.count() == 1
    assert be.read(spark, "t3").count() == 2
    # time travel re-opens version 1 exactly
    assert [r["id"] for r in
            be.read_version(spark, "t3", 1).collect()] == [1]
    with pytest.raises(FileNotFoundError):
        be.read_version(spark, "t3", 99)


def test_commit_retries_after_losing_version_race(spark, be):
    """Optimistic concurrency: a competing writer's manifest landing
    first makes the commit re-read the head and take the next number —
    for appends, re-merging the fresh head's segment list."""
    be.write(_df(spark, [(1, "a")]), "t4", "id")
    # simulate a concurrent append committing version 2 under us:
    # write its segment through the backend, then hand-commit a manifest
    other_seg = be._write_segment(spark, _df(spark, [(2, "b")]), "t4", "id")
    log = be._read_log(spark, "t4", 1)
    entry = dict(log["members"]["t4"])
    entry["segments"] = entry["segments"] + [other_seg]
    fsio.write_text(spark, be._manifest_path(spark, "t4", 2), json.dumps(
        {**log, "version": 2, "members": {"t4": entry}}))
    be.append(_df(spark, [(3, "c")]), "t4", "id")
    assert be.versions(spark, "t4") == [1, 2, 3]
    # the append merged onto the competing head: all three rows live
    assert sorted(r["id"] for r in be.read(spark, "t4").collect()) == [1, 2, 3]


def test_concurrent_appends_from_threads_lose_no_updates(spark, be):
    """The contract upgrade, exercised with REAL races: 8 threads
    appending to the same table concurrently (py4j releases the GIL on
    socket I/O, so commits genuinely interleave).  Optimistic retry
    must serialize them with no lost update: every thread's rows are in
    the final table and every commit got its own version."""
    import threading

    be.write(_df(spark, [(0, "base")]), "tc", "id")
    errors = []

    def appender(i):
        try:
            be.append(_df(spark, [(i, f"thread {i}")]), "tc", "id")
        except Exception as exc:  # surfaced after join
            errors.append((i, exc))

    threads = [threading.Thread(target=appender, args=(i,))
               for i in range(1, 9)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    got = sorted(r["id"] for r in be.read(spark, "tc").collect())
    assert got == list(range(9))
    assert be.versions(spark, "tc") == list(range(1, 10))


def test_torn_tmp_ignored_and_corrupt_manifest_raises(spark, be):
    be.write(_df(spark, [(1, "a")]), "t5", "id")
    # a crashed writer leaves only an invisible tmp — reads unaffected
    fsio.write_text(spark, fsio.join(be._table_dir(spark, "t5"),
                                     ".tmp-dead.json"), "{ torn")
    assert be.read(spark, "t5").count() == 1
    assert be.versions(spark, "t5") == [1]
    # a torn COMMITTED manifest can only be external corruption: loud
    fsio.write_text(spark, be._manifest_path(spark, "t5", 2), "{ torn")
    with pytest.raises(ValueError, match="corrupt manifest"):
        be.read(spark, "t5")


def test_replace_merges_concurrent_append_with_token(spark, be):
    """Compaction-class rewrite: an append landing between the caller's
    snapshot and the rewrite's commit must survive it (carried into the
    new version after the rewritten segment), not be silently
    dropped."""
    be.write(_df(spark, [(1, "a"), (2, "b")]), "tm", "id")
    token = be.snapshot_token(spark, "tm")
    snapshot = be.read(spark, "tm")        # the rewrite's source snapshot
    be.append(_df(spark, [(3, "concurrent")]), "tm", "id")  # races in
    assert be.rewrite(snapshot, "tm", token)
    assert sorted(r["id"] for r in be.read(spark, "tm").collect()) == [1, 2, 3]
    assert len(be.snapshot_token(spark, "tm")) == 2


def test_replace_fail_mode_raises_on_concurrent_append(spark, be):
    """A re-derive (``exact=True``) commits nothing when an append raced
    it, removes its orphan segment, and the merge-on-read re-derive on
    top of it raises ConcurrentWriteError."""
    from dlx_spark.tableio import ConcurrentWriteError
    from dlx_spark.tableio_mor import MergeOnReadTable

    be.write(_df(spark, [(1, "a")]), "tf", "id")
    token = be.snapshot_token(spark, "tf")
    snapshot = be.read(spark, "tf")
    be.append(_df(spark, [(2, "concurrent")]), "tf", "id")
    segs_before = set(fsio.listdir(spark, fsio.join(be._root, "data")))
    assert not be.rewrite(snapshot, "tf", token, exact=True)
    # table untouched by the failed rewrite, its segment removed
    assert sorted(r["id"] for r in be.read(spark, "tf").collect()) == [1, 2]
    assert set(fsio.listdir(spark, fsio.join(be._root, "data"))) \
        == segs_before

    t = MergeOnReadTable(be, "tf_mor", key="id", partition_cols=["pt"])
    t.overwrite(_df(spark, [(1, 0)], "id long, pt int"))

    def derive_while_a_commit_lands(resolved):
        t.upsert(rows=_df(spark, [(2, 0)], "id long, pt int"))
        return resolved.withColumn("pt", F.lit(1))

    with pytest.raises(ConcurrentWriteError):
        t.repartition_table(spark, derive_while_a_commit_lands,
                            extra={"n_buckets": 2})
    assert sorted((r["id"], r["pt"]) for r in t.read(spark).collect()) \
        == [(1, 0), (2, 0)]


def test_compaction_keeps_append_racing_the_stage_build(spark, be):
    """End-to-end through an index-style ``compact_segments``: an append
    that lands while the compacted segment is being written (injected
    via a backend hook on the segment write) is carried through the
    rewrite's commit."""
    class RacingBackend(VersionedTableBackend):
        def _write_segment(self, spark, df, table, key, *a, **kw):
            if getattr(self, "_armed", False) and not getattr(
                    self, "_raced", False):
                self._raced = True
                self.append(_df(spark, [(99, "raced")]), "tr", key)
            return super()._write_segment(spark, df, table, key, *a, **kw)

    rb = RacingBackend(root=be._root)
    rb.write(_df(spark, [(1, "a"), (2, "b")]), "tr", "id")
    rb.append(_df(spark, [(3, "c")]), "tr", "id")
    rb._armed = True
    assert rb.compact_segments(spark, "tr") == 2
    got = sorted(r["id"] for r in rb.read(spark, "tr").collect())
    assert got == [1, 2, 3, 99]   # folded AND the raced row kept
    assert rb._raced


def test_compaction_source_and_token_share_one_snapshot(spark, be):
    """An append committing right after compact_segments resolves the
    table's head must be carried through the rewrite exactly once: the
    fold reads the version its token names, so the raced rows are
    neither folded into the new segment nor carried a second time."""
    class RacingBackend(VersionedTableBackend):
        def _latest(self, spark, table):
            out = super()._latest(spark, table)
            if table == "tr2" and not getattr(self, "_raced", False):
                self._raced = True
                self.append(_df(spark, [(99, "raced")]), "tr2", "id")
            return out

    rb = RacingBackend(root=be._root)
    rb._raced = True        # unarmed while the append reads the head
    rb.write(_df(spark, [(1, "a")]), "tr2", "id")
    rb.append(_df(spark, [(2, "b")]), "tr2", "id")
    rb._raced = False
    assert rb.compact_segments(spark, "tr2") == 2
    assert rb._raced
    got = sorted(r["id"] for r in rb.read(spark, "tr2").collect())
    assert got == [1, 2, 99]


def test_overlapping_folds_of_one_table_keep_each_row_once(spark, be):
    """Two drivers folding the same 20-row, 2-segment table at once:
    the later commit finds its snapshot replaced by the earlier fold
    and publishes nothing, so every row is read exactly once (a
    stage-merge protocol carried the other fold's segment on top of its
    own and read 40)."""
    other_driver = VersionedTableBackend(root=be._root)

    class NestedFoldBackend(VersionedTableBackend):
        def _write_segment(self, *a, **kw):
            if not getattr(self, "_nested", False):
                self._nested = True
                assert other_driver.compact_segments(spark, "t_ovl") == 2
            return super()._write_segment(*a, **kw)

    nb = NestedFoldBackend(root=be._root)
    be.write(_df(spark, [(i, "a") for i in range(10)]), "t_ovl", "id")
    be.append(_df(spark, [(i, "b") for i in range(10, 20)]), "t_ovl", "id")
    folded = nb.compact_segments(spark, "t_ovl")
    got = sorted(r["id"] for r in be.read(spark, "t_ovl").collect())
    assert got == list(range(20))
    assert folded == 0
    assert len(be.snapshot_token(spark, "t_ovl")) == 1


@pytest.mark.slow
def test_rebucket_conflict_fails_clean_on_concurrent_append(spark, be):
    """Appends do NOT commute with rebucket (their keys are under the
    old geometry): a racing append must fail the rebucket, leave the
    live index exactly as the appender sees it, and leave no table
    beside the index's own."""
    import random

    from dlx_spark.operators.dedup_index import EmbeddingIndex
    from dlx_spark.tableio import ConcurrentWriteError
    from dlx_spark.tableio_versioned import VersionedTableBackend

    rng = random.Random(11)
    vecs = [[rng.gauss(0, 1) for _ in range(6)] for _ in range(20)]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    extra = spark.createDataFrame([(500, vecs[0])],
                                  "vec_id long, embedding array<double>")

    class RacingBackend(VersionedTableBackend):
        def _write_segment(self, spark, df, table, *a, **kw):
            if getattr(self, "_armed", False) and not getattr(
                    self, "_raced", False):
                self._raced = True
                EmbeddingIndex(spark, "t_rbc").append(extra)
            return super()._write_segment(spark, df, table, *a, **kw)

    rb = RacingBackend(root=be._root)
    prev = tableio.get_backend()
    tableio.set_backend(rb)
    try:
        idx = EmbeddingIndex.create(corpus, "t_rbc", n_planes=4, dim=6)
        rb._armed = True
        with pytest.raises(ConcurrentWriteError):
            idx.rebucket(n_planes=6)
        assert rb._raced
        # live geometry unchanged, raced append present, no side table
        assert sorted(fsio.listdir(spark, fsio.join(be._root, "tables"))) \
            == ["t_rbc"]
        reopened = EmbeddingIndex(spark, "t_rbc")
        assert reopened.params["n_planes"] == 4
        assert rb.read(spark, "t_rbc/t_rbc_vecs").count() == 21
        # the re-run (no race this time) succeeds
        reopened.rebucket(n_planes=6)
        assert EmbeddingIndex(spark, "t_rbc").params["n_planes"] == 6
        reopened.drop()
    finally:
        tableio.set_backend(prev)


def test_vacuum_reclaims_unreferenced_segments(spark, be):
    be.write(_df(spark, [(1, "v1")]), "t7", "id")
    be.write(_df(spark, [(2, "v2")]), "t7", "id")
    seg_v1 = be._read_manifest(spark, "t7", 1)["segments"][0]
    assert fsio.exists(spark, be._data_dir(spark, seg_v1))
    # min_age_seconds=0: the writers-quiesced fast path (the default
    # retention horizon would keep these seconds-old segments alive)
    deleted = be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert seg_v1 in deleted
    assert not fsio.exists(spark, be._data_dir(spark, seg_v1))
    # current version unaffected; vacuumed version now a clear error
    assert [r["id"] for r in be.read(spark, "t7").collect()] == [2]
    with pytest.raises(FileNotFoundError):
        be.read_version(spark, "t7", 1)


def test_vacuum_keeps_segments_shared_via_replace(spark, be):
    """A suffix rewrite (``keep=1``) references the base segment by id
    from both the old and the new version; vacuum keeping only the new
    one must keep that shared segment and reclaim the folded one."""
    be.write(_df(spark, [(1, "base")]), "t8", "id")
    be.append(_df(spark, [(2, "delta")]), "t8", "id")
    _, manifest = be._latest(spark, "t8")
    base, folded = manifest["segments"]
    # a one-segment suffix is folded only through the primitive itself
    assert be.rewrite(be.segment_df(spark, manifest, 1), "t8",
                      [base, folded], keep=1)
    deleted = be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert folded in deleted and base not in deleted
    assert sorted(r["id"] for r in be.read(spark, "t8").collect()) == [1, 2]


def test_empty_dataframe_roundtrip(spark, be):
    df = _df(spark, [], "id long, text string").limit(0)
    be.write(df, "t9")
    got = be.read(spark, "t9")
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "text"]


def test_drop_and_exists(spark, be):
    be.write(_df(spark, [(1, "a")]), "t10")
    assert be.exists(spark, "t10")
    be.drop(spark, "t10")
    assert not be.exists(spark, "t10")
    with pytest.raises(FileNotFoundError):
        be.read(spark, "t10")


@pytest.mark.slow
def test_minhash_index_end_to_end_on_versioned_backend(spark, be, tmp_path):
    """An unmodified MinHashIndex running entirely through the
    versioned backend — create, dedup_batch, append-on-survive, reopen,
    compact (exercises the rewrite seam) — must produce the same
    survivors as the default (warehouse-rooted) backend."""
    from dlx_spark.operators.dedup_index import MinHashIndex

    corpus = _df(spark, [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "an entirely different document about spark internals"),
    ], "doc_id long, text string")
    batch = _df(spark, [
        (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
        (11, "novel content that matches nothing in the corpus"),
    ], "doc_id long, text string")

    def run(name):
        idx = MinHashIndex.create(corpus, name)
        clean = sorted(r["doc_id"] for r in
                       idx.dedup_batch(batch, threshold=0.7).collect())
        idx.compact()
        reopened = MinHashIndex(spark, name)
        # survivor 11 was appended: probing it again finds it present
        again = sorted(r["doc_id"] for r in
                       reopened.dedup_batch(batch, threshold=0.7).collect())
        idx.drop()
        return clean, again

    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        versioned = run("t_v_mh")
    finally:
        tableio.set_backend(prev)
    plain = run("t_p_mh")
    assert versioned == plain == ([11], [])


@pytest.mark.slow
def test_embedding_index_rebucket_on_versioned_backend(spark, be):
    """The most protocol-heavy index path — EmbeddingIndex rebucket,
    keys and geometry in one rewrite commit — through the versioned
    backend: probe results match the default backend exactly, and a
    rebucket that fails before its commit leaves the committed
    geometry in place on reopen (nothing rolls forward)."""
    import random

    from dlx_spark.operators.dedup_index import EmbeddingIndex

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(40)]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(100 + i, [x + 0.01 for x in base[i]]) for i in range(10)],
        "vec_id long, embedding array<double>")

    def probe_set(idx):
        return {(r["corpus_id"], r["batch_id"], round(r["cosine"], 6))
                for r in idx.probe(batch, threshold=0.95).collect()}

    class Crash(RuntimeError):
        pass

    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        idx = EmbeddingIndex.create(corpus, "t_v_emb", n_planes=4, dim=8)
        got = probe_set(idx)
        idx.rebucket(n_planes=6, bands=2)
        assert idx.params["n_planes"] == 6 and idx.params["bands"] == 2
        rb = probe_set(EmbeddingIndex(spark, "t_v_emb"))
        assert rb >= got and len(got) >= 5  # banding only widens recall

        # a crash at the commit of a second rebucket: the reopened
        # index keeps the geometry that committed
        def crash(spark, table, payload_fn):
            raise Crash("simulated crash at the rebucket commit")

        be._commit = crash
        with pytest.raises(Crash):
            idx.rebucket(n_planes=4, bands=1)
        del be._commit
        reopened = EmbeddingIndex(spark, "t_v_emb")
        assert reopened.params["n_planes"] == 6
        assert reopened.params["bands"] == 2
        assert probe_set(reopened) == rb
        reopened.drop()
    finally:
        tableio.set_backend(prev)

    # cross-backend equivalence: same geometry, default backend
    idx_p = EmbeddingIndex.create(corpus, "t_p_emb", n_planes=4, dim=8)
    try:
        assert probe_set(idx_p) == got
    finally:
        idx_p.drop()


@pytest.mark.slow
def test_streaming_ingest_appends_through_versioned_backend(
        spark, be, tmp_path):
    """The exactly-once streaming ingest (foreachBatch ->
    MinHashIndex.dedup_batch) with the versioned backend installed:
    cross-batch dedup works, every micro-batch append lands as a
    manifest commit, and cross-session appends are visible WITHOUT any
    refresh (reads resolve the latest manifest each time)."""
    import json as jsonlib

    from dlx_spark.operators.dedup_index import MinHashIndex
    from dlx_spark.streaming import neardedup_ingest_stream

    corpus = _df(spark, [
        (i, f"corpus document number {i} " + " ".join(
            f"tok{i}_{j}" for j in range(20)))
        for i in range(20)
    ], "doc_id long, text string")

    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        MinHashIndex.create(corpus, "t_v_stream")
        v_before = be.versions(spark, "t_v_stream/t_v_stream_sigs")[-1]
        indir = tmp_path / "in"
        indir.mkdir()
        out = str(tmp_path / "clean")
        # batch 1: one clone of corpus doc 0 (dropped) + one new doc
        rows1 = [{"doc_id": 100, "text": corpus.collect()[0]["text"]},
                 {"doc_id": 101, "text": " ".join(
                     f"fresh{j}" for j in range(25))}]
        (indir / "b1.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in rows1))
        q = neardedup_ingest_stream(
            spark, str(indir), "t_v_stream", out,
            str(tmp_path / "ckpt"), threshold=0.7)
        q.awaitTermination(120)
        clean1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert clean1 == {101}
        # batch 2: a clone of batch-1's survivor — cross-BATCH state
        rows2 = [{"doc_id": 200, "text": rows1[1]["text"]}]
        (indir / "b2.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in rows2))
        q = neardedup_ingest_stream(
            spark, str(indir), "t_v_stream", out,
            str(tmp_path / "ckpt"), threshold=0.7)
        q.awaitTermination(120)
        clean2 = {r["doc_id"] for r in spark.read.parquet(out)
                  .filter(F.col("batch") == 1).collect()}
        assert clean2 == set()   # dropped against the appended survivor
        # each committed micro-batch appended exactly one version; no
        # refreshTable was ever issued (reads re-resolve manifests)
        assert be.versions(spark, "t_v_stream/t_v_stream_sigs")[-1] > v_before
        idx = MinHashIndex(spark, "t_v_stream")
        assert be.read(spark, "t_v_stream/t_v_stream_sigs").count() == 21  # 20 + 101
        idx.drop()
    finally:
        tableio.set_backend(prev)


def test_digest_index_recovery_path_on_versioned_backend(spark, be):
    """The recovery path is that there is nothing to recover: a
    DigestIndex compaction that fails before its commit leaves the
    index exactly as it was on the next open, its orphan segment is
    reclaimed by vacuum, and a normal compaction still works."""
    from dlx_spark.operators.dedup_index import DigestIndex

    corpus = _df(spark, [(1, "alpha beta"), (2, "gamma delta")],
                 "doc_id long, text string")
    batch = _df(spark, [(5, "alpha beta"), (6, "zeta")],
                "doc_id long, text string")
    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        idx = DigestIndex.create(corpus, "t_v_dg")
        idx.append(_df(spark, [(3, "eta theta")],
                       "doc_id long, text string"))
        head = be.snapshot_token(spark, "t_v_dg/t_v_dg_digests")

        def crash(spark, table, payload_fn):
            raise RuntimeError("simulated crash at the compaction commit")

        be._commit = crash
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.compact()
        del be._commit
        idx = DigestIndex(spark, "t_v_dg")
        assert be.snapshot_token(spark, "t_v_dg/t_v_dg_digests") == head
        be.vacuum(spark, keep_last=1, min_age_seconds=0)
        assert sorted(fsio.listdir(spark, fsio.join(be._root, "data"))) \
            == sorted(be.snapshot_token(spark, "t_v_dg/t_v_dg_digests")
                      + be.snapshot_token(spark, "t_v_dg/t_v_dg_meta"))
        clean = sorted(r["doc_id"] for r in idx.filter_new(batch).collect())
        assert clean == [6]
        # and a full normal compaction still works end-to-end
        idx.compact()
        assert len(be.snapshot_token(spark, "t_v_dg/t_v_dg_digests")) == 1
        assert sorted(r["doc_id"] for r in idx.filter_new(batch).collect()) \
            == [6]
        idx.drop()
    finally:
        tableio.set_backend(prev)


@pytest.mark.slow
def test_compact_segments_folds_append_history(spark, be):
    """The OPTIMIZE analog: appends accumulate one segment (and, for
    partitioned tables, one scan root) per commit; compact_segments
    folds them into one fresh segment in one rewrite commit, carrying
    any append that races the rewrite."""
    be.write(_df(spark, [(1, "a")], "id long, part string"),
             "t_cseg", partition_cols=["part"])
    for i in range(2, 5):
        be.append(_df(spark, [(i, "a" if i % 2 else "b")],
                      "id long, part string"),
                  "t_cseg", partition_cols=["part"])
    assert len(be.snapshot_token(spark, "t_cseg")) == 4
    folded = be.compact_segments(spark, "t_cseg")
    assert folded == 4
    assert len(be.snapshot_token(spark, "t_cseg")) == 1
    assert sorted(r["id"] for r in be.read(spark, "t_cseg").collect()) \
        == [1, 2, 3, 4]
    # idempotent: already compact -> no write, no new version
    v = be.versions(spark, "t_cseg")[-1]
    assert be.compact_segments(spark, "t_cseg") == 0
    assert be.versions(spark, "t_cseg")[-1] == v

    # racing append is carried through the rewrite (token carry)
    class RacingBackend(VersionedTableBackend):
        def _write_segment(self, spark, df, table, key, cols=None, **kw):
            if getattr(self, "_armed", False) and not getattr(
                    self, "_raced", False):
                self._raced = True
                self.append(
                    _df(spark, [(99, "c")], "id long, part string"),
                    "t_cseg2", partition_cols=cols)
            return super()._write_segment(spark, df, table, key, cols, **kw)

    rb = RacingBackend(root=be._root)
    rb.write(_df(spark, [(1, "a")], "id long, part string"),
             "t_cseg2", partition_cols=["part"])
    rb.append(_df(spark, [(2, "b")], "id long, part string"),
              "t_cseg2", partition_cols=["part"])
    rb._armed = True
    assert rb.compact_segments(spark, "t_cseg2") == 2
    assert rb._raced
    assert sorted(r["id"] for r in rb.read(spark, "t_cseg2").collect()) \
        == [1, 2, 99]


def test_partition_pruning_survives_versioned_segments(spark, be):
    """The ANN layouts' scale property on this backend: a filter on the
    partition column must reach every per-segment scan as a partition
    filter (no full-index read), across an append history."""
    from dlx_spark import tableio
    from dlx_spark.operators import bucketing, similarity

    import numpy as np
    rng = np.random.RandomState(17)
    rows = [(i, rng.standard_normal(6).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(df, n_centroids=4, seed=17)
    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        bucketing.write_ivf_index(df.limit(20), "t_v_prune", cents)
        bucketing.append_ivf_index(df, "t_v_prune", cents)
        probed = bucketing.probe_ivf_index(spark, "t_v_prune", cents,
                                           rows[0][1], k=3, nprobe=1)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # two segments -> two scans, each partition-filtered
        assert plan.count("PartitionFilters: [") >= 2
        assert "list_id" in plan.split("PartitionFilters")[1][:200]
        assert probed.count() > 0
    finally:
        tableio.set_backend(prev)


def test_vacuum_age_gates_superseded_manifests_and_dropped_members(
        spark, be):
    """Review fixes: (a) superseded manifests younger than the horizon
    survive vacuum — a concurrent committer that listed the old head
    must be able to read it and retry, not die on a vanished file;
    (b) a member dropped from its table group keeps its segments while
    any retained group version references them, and vacuum reclaims
    them once none does — the group's other members untouched."""
    be.write(_df(spark, [(1, "v1")]), "t_age", "id")
    be.write(_df(spark, [(2, "v2")]), "t_age", "id")
    be.vacuum(spark, keep_last=1)                 # default horizon
    # the superseded v1 manifest is young: still present and readable
    assert be.versions(spark, "t_age") == [1, 2]
    assert [r["id"] for r in be.read_version(spark, "t_age", 1)
            .collect()] == [1]
    # zero horizon: trimmed as before
    be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert be.versions(spark, "t_age") == [2]
    be.write(_df(spark, [(1, "a")]), "g_cs/keep", "id")
    be.write(_df(spark, [(2, "b")]), "g_cs/gone", "id")
    segs = be.snapshot_token(spark, "g_cs/gone")

    def present():
        return [fsio.exists(spark, be._data_dir(spark, s)) for s in segs]

    be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert all(present())                         # the head references them
    be.drop(spark, "g_cs/gone")
    assert not be.exists(spark, "g_cs/gone")
    be.vacuum(spark, keep_last=1)                 # young: version kept
    assert all(present())
    be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert not any(present())
    # the group's other member is untouched
    assert [r["id"] for r in be.read(spark, "g_cs/keep").collect()] == [1]


@pytest.mark.slow
def test_auto_compact_bounds_segment_count_on_append_heavy_ingest(
        spark, be, monkeypatch):
    """The inline fold: an append-heavy history can never leave more
    than ``AUTO_COMPACT_AT`` segments behind — each threshold-crossing
    append folds the table, and the fold is invisible to correctness
    (same rows, same layout kind)."""
    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 4)
    be.write(_df(spark, [(0, "seed")]), "t_ac", "id")
    seen = []
    for i in range(1, 11):
        be.append(_df(spark, [(i, f"row {i}")]), "t_ac", "id")
        seen.append(len(be.snapshot_token(spark, "t_ac")))
    assert max(seen) <= 3
    # a 1-row base never carries a suffix this large: full folds
    assert seen.count(1) >= 2
    assert sorted(r["id"] for r in be.read(spark, "t_ac").collect()) \
        == list(range(11))
    # partitioned layout: scan-root count is the read-amplification
    # axis there — same bound, layout preserved
    be.write(_df(spark, [(0, "a")], "id long, part string"),
             "t_acp", partition_cols=["part"])
    for i in range(1, 9):
        be.append(
            _df(spark, [(i, "a" if i % 2 else "b")],
                "id long, part string"), "t_acp", partition_cols=["part"])
        assert len(be.snapshot_token(spark, "t_acp")) <= 3
    manifest = be._read_manifest(spark, "t_acp",
                                 be.versions(spark, "t_acp")[-1])
    assert manifest["partition_cols"] == ["part"]
    assert sorted(r["id"] for r in be.read(spark, "t_acp").collect()) \
        == list(range(9))
    # fold=False (the merge-on-read opt-out) keeps accumulating
    n = len(be.snapshot_token(spark, "t_ac"))
    for i in range(11, 15):
        be.append(_df(spark, [(i, f"row {i}")]), "t_ac", "id", fold=False)
    assert len(be.snapshot_token(spark, "t_ac")) == n + 4


@pytest.mark.slow
def test_auto_compact_crash_between_stage_and_swap_loses_no_data(
        spark, be, monkeypatch):
    """A crash inside the auto-triggered compaction — after its segment
    is written, before its commit — must (a) keep the appended rows
    durable (the append committed first), (b) leave the live table
    readable on its un-compacted head, and (c) be fully repaired by the
    existing machinery: vacuum reclaims the orphan segment, and the
    next threshold-crossing append re-triggers a clean fold."""

    class Crash(RuntimeError):
        pass

    class CrashyBackend(VersionedTableBackend):
        def rewrite(self, *a, **kw):
            self._rewriting = True
            try:
                return super().rewrite(*a, **kw)
            finally:
                self._rewriting = False

        def _commit(self, spark, table, payload_fn):
            if getattr(self, "_rewriting", False) and not getattr(
                    self, "_crashed", False):
                self._crashed = True
                raise Crash("simulated crash between segment and commit")
            return super()._commit(spark, table, payload_fn)

    def data_segments():
        return set(fsio.listdir(spark, fsio.join(be._root, "data")))

    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    cb = CrashyBackend(root=be._root)
    cb.write(_df(spark, [(0, "seed")]), "t_acc", "id")
    cb.append(_df(spark, [(1, "one")]), "t_acc", "id")
    with pytest.raises(Crash):
        cb.append(_df(spark, [(2, "two")]), "t_acc", "id")
    # (a)+(b): the append that triggered the crash is durable; the
    # table reads fine on its 3-segment head; one orphan segment
    assert sorted(r["id"] for r in cb.read(spark, "t_acc").collect()) \
        == [0, 1, 2]
    head = cb.snapshot_token(spark, "t_acc")
    assert len(head) == 3
    assert len(data_segments() - set(head)) == 1
    # (c) vacuum reclaims the orphan...
    cb.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert data_segments() == set(head)
    # ...and the next threshold-crossing append re-triggers a clean fold
    cb.append(_df(spark, [(3, "three")]), "t_acc", "id")
    assert len(cb.snapshot_token(spark, "t_acc")) == 1
    assert sorted(r["id"] for r in cb.read(spark, "t_acc").collect()) \
        == [0, 1, 2, 3]


def test_multisegment_ann_probes_never_full_scan(spark, be, touched_buckets):
    """Scan pins for the ANN indexes on a ≥3-segment versioned index:

    - IVF probe (literal nprobe filter): every per-segment scan carries
      a non-empty list_id PartitionFilter — one pruned scan per
      segment, zero unfiltered branches; FAILS on a regression to a
      full-index scan;
    - EmbeddingIndex knn over a 3-segment index: the band grouping
      reads exactly the key rows of the buckets the probes touch, the
      vector table streams map-side into a broadcast join against the
      candidates (FAILS if it is shuffled or sort-merge joined), and
      the appended rows are probeable.
    """
    import numpy as np

    from dlx_spark.operators import bucketing, similarity
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    rng = np.random.RandomState(17)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        # ---- IVF: 1 write + 3 appends = 4 segments
        cents = similarity.ivf_centroids(df, n_centroids=4, seed=17)
        bucketing.write_ivf_index(df.limit(20), "t_ms_ivf", cents)
        for j in range(3):
            bucketing.append_ivf_index(
                df.withColumn("vec_id", F.col("vec_id") + (j + 1) * 1000),
                "t_ms_ivf", cents)
        n_seg = len(be.snapshot_token(spark, "t_ms_ivf"))
        assert n_seg == 4
        probed = bucketing.probe_ivf_index(
            spark, "t_ms_ivf", cents, rows[0][1], k=3, nprobe=1)
        assert probed.count() > 0
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # one partition-filtered scan per segment; a regression to a
        # full-index scan shows up as an EMPTY PartitionFilters list
        assert plan.count("PartitionFilters: [") == n_seg, plan[:1500]
        assert "PartitionFilters: []" not in plan
        for section in plan.split("PartitionFilters: [")[1:]:
            assert "list_id" in section[:200], section[:300]

        # ---- EmbeddingIndex: create + 2 appends = 3 segments per table
        idx = EmbeddingIndex.create(df.limit(20), "t_ms_emb", n_planes=6)
        for j in range(2):
            idx.append(df.withColumn("vec_id",
                                     F.col("vec_id") + (j + 1) * 1000))
        assert len(be.snapshot_token(spark, "t_ms_emb/t_ms_emb_vecs")) == 3
        assert len(be.snapshot_token(spark, "t_ms_emb/t_ms_emb_buckets")) == 3
        probes = df.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 9000).alias("vec_id"), "embedding")
        got = idx.knn(probes, k=3)
        grouped, brute = touched_buckets(idx, probes)
        assert grouped == brute
        assert 0 < len(brute) < be.read(spark, "t_ms_emb/t_ms_emb_buckets").count()
        # appended rows are probeable (same seeded hyperplane family):
        # compare against on-the-fly knn over the SAME corpus the index
        # holds — limit(20) of the write + the two appended replicas
        corpus = df.limit(20).unionByName(
            df.withColumn("vec_id", F.col("vec_id") + 1000)).unionByName(
            df.withColumn("vec_id", F.col("vec_id") + 2000))
        want = similarity.knn_join(probes, corpus, k=3, n_planes=6, dim=8)
        g = {(r["probe_id"], r["corpus_id"], r["rank"])
             for r in got.collect()}
        w = {(r["probe_id"], r["corpus_id"], r["rank"])
             for r in want.collect()}
        assert g == w and len(g) > 0
        # the vector table is read whole but never shuffled: each of its
        # scans feeds the streamed side of a BroadcastHashJoin whose
        # build side is the broadcast candidates, through row-wise
        # operators only
        joins = _scan_joins(got._jdf.queryExecution().executedPlan(),
                            "t_ms_emb_vecs")
        assert joins
        for between, join, build in joins:
            assert join == "BroadcastHashJoinExec", (join, between)
            assert set(between) <= {"ProjectExec", "FilterExec",
                                    "ColumnarToRowExec", "InputAdapter",
                                    "WholeStageCodegenExec"}, between
            assert build in ("BroadcastQueryStageExec",
                             "BroadcastExchangeExec"), build
    finally:
        tableio.set_backend(prev)


def _scan_joins(plan, table):
    """``[(between, join, build)]`` for every file scan of ``table`` in
    an executed plan (adaptive stages unwrapped): the node names from
    the scan up to its first join, that join's name, and the name of
    the join's other child when the scan is on its streamed side
    (``None`` when the scan is on its build side)."""
    name = lambda n: n.getClass().getSimpleName()

    def kids(n):
        if name(n) == "AdaptiveSparkPlanExec":
            return [n.executedPlan()]
        if name(n).endswith("QueryStageExec"):
            return [n.plan()]
        ch = n.children()
        return [ch.apply(i) for i in range(ch.size())]

    def walk(n, path):
        path = path + [n]
        if name(n) == "FileSourceScanExec" and any(
                f"/{table}-" in p for p in
                n.relation().location().rootPaths().toString().split(", ")):
            yield path
        for c in kids(n):
            yield from walk(c, path)

    out = []
    for path in walk(plan, []):
        up = path[::-1]
        j = next(i for i, n in enumerate(up) if name(n).endswith("JoinExec"))
        join, child = up[j], up[j - 1]
        build = None
        if name(join) == "BroadcastHashJoinExec":
            left = join.buildSide().toString() == "BuildLeft"
            build_child, stream_child = ((join.left(), join.right()) if left
                                         else (join.right(), join.left()))
            while name(build_child) == "InputAdapter":
                build_child = build_child.child()
            if stream_child.equals(child):
                build = name(build_child)
        out.append(([name(n) for n in up[1:j]], name(join), build))
    return out


def test_rewrites_leave_no_side_table(spark, be):
    """Compact, rebucket, IVF refresh and merge-on-read overwrite each
    publish in the table's own manifest: no other table appears under
    ``tables/`` (no stage is ever written)."""
    from dlx_spark.operators import bucketing, similarity
    from dlx_spark.operators.dedup_index import EmbeddingIndex
    from dlx_spark.tableio_mor import MergeOnReadTable

    def tables():
        return set(fsio.listdir(spark, fsio.join(be._root, "tables")))

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>")
    more = vecs.withColumn("vec_id", F.col("vec_id") + 100)
    prev = tableio.get_backend()
    tableio.set_backend(be)
    try:
        idx = EmbeddingIndex.create(vecs, "t_ns_emb", n_planes=3, dim=3)
        idx.append(more)
        cents = similarity.ivf_centroids(vecs, n_centroids=2, seed=1)
        bucketing.write_ivf_index(vecs, "t_ns_ivf", cents)
        bucketing.append_ivf_index(more, "t_ns_ivf", cents)
        t = MergeOnReadTable(be, "t_ns_mor", key="id", partition_cols=["pt"])
        t.overwrite(_df(spark, [(1, 0)], "id long, pt int"))
        t.upsert(rows=_df(spark, [(2, 0)], "id long, pt int"))
        created = tables()

        idx.compact()
        idx.rebucket(n_planes=4)
        bucketing.refresh_ivf_index(spark, "t_ns_ivf", n_centroids=2,
                                    seed=2)
        t.overwrite(t.read(spark))
        t.upsert(rows=_df(spark, [(3, 0)], "id long, pt int"))
        assert t.compact(spark) == 2
        assert tables() == created
        assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]
    finally:
        tableio.set_backend(prev)


def test_compact_segments_preserves_extra_metadata(spark, tmp_path):
    """Folding a partitioned table must carry its 'extra' metadata into
    the published manifest — dropping it silently disabled e.g. the
    history table's pt pruning after the first auto-compaction."""
    from pyspark.sql import functions as F

    be = VersionedTableBackend(root=str(tmp_path / "wh_extra"))
    rows = (spark.range(8).select(F.col("id").alias("k"))
            .withColumn("pt", F.pmod("k", F.lit(4)).cast("int")))
    be.append(rows, "t", partition_cols=["pt"], extra={"n_buckets": 4})
    be.append(rows, "t", partition_cols=["pt"])
    assert be.compact_segments(spark, "t") == 2
    assert (be.latest_manifest(spark, "t").get("extra") or {}) \
        == {"n_buckets": 4}


@pytest.mark.slow
def test_auto_compact_prefers_suffix_fold_on_large_base(spark, be,
                                                        monkeypatch):
    """An append-heavy table whose base dwarfs its recent appends (the
    history-log shape) must auto-maintain by folding ONLY the appended
    suffix — segment 0 survives by id, never read or rewritten — while
    keeping the same segment-count bound and content."""
    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    be.write(
        _df(spark, [(i, f"base {i}") for i in range(400)],
            "id long, part string").withColumn(
            "part", (F.col("id") % 2).cast("string")),
        "t_sfx", partition_cols=["part"], sort_col="id")
    base_seg = be.snapshot_token(spark, "t_sfx")[0]
    seen = []
    for i in range(400, 408):
        be.append(
            _df(spark, [(i, "a")], "id long, part string"),
            "t_sfx", partition_cols=["part"], sort_col="id")
        seen.append(len(be.snapshot_token(spark, "t_sfx")))
        assert be.snapshot_token(spark, "t_sfx")[0] == base_seg
    # every threshold crossing folded the suffix into one segment
    assert set(seen) == {2}
    assert sorted(r["id"] for r in be.read(spark, "t_sfx").collect()) \
        == list(range(408))
    # manifest still carries the advisory sort through suffix folds
    manifest = be._read_manifest(spark, "t_sfx",
                                 be.versions(spark, "t_sfx")[-1])
    assert manifest.get("sort_col") == "id"
    # the manual suffix fold squeezes the remainder to base + 1
    folded = be.compact_segment_suffix(spark, "t_sfx")
    assert folded >= 0 and len(be.snapshot_token(spark, "t_sfx")) <= 2
    assert be.snapshot_token(spark, "t_sfx")[0] == base_seg


def test_compact_segment_suffix_aborts_on_replaced_list(spark, be):
    """A raced full rewrite invalidates suffix surgery: the fold must
    abort, leaving the rewrite's result standing."""
    be.write(_df(spark, [(1, "a")]), "t_sfx_race")
    be.append(_df(spark, [(2, "b")]), "t_sfx_race", "id")
    be.append(_df(spark, [(3, "c")]), "t_sfx_race", "id")
    _, manifest = be._latest(spark, "t_sfx_race")
    token = list(manifest["segments"])
    df = be.segment_df(spark, manifest, 1).unionByName(
        be.segment_df(spark, manifest, 2))
    be.compact_segments(spark, "t_sfx_race")       # the raced rewrite
    assert not be.rewrite(df, "t_sfx_race", token, keep=1)
    assert len(be.snapshot_token(spark, "t_sfx_race")) == 1
    assert sorted(r["id"] for r in
                  be.read(spark, "t_sfx_race").collect()) == [1, 2, 3]
