"""Incremental dedup index tests.

The correctness anchor: probing a split corpus must produce EXACTLY the
cross-partition subset of the full-corpus results — the full-corpus
paths (minhash_near_duplicates, dedup_exact) are themselves
driver-oracled, so equality here chains incremental correctness to the
DuckDB oracle.  The plan tests assert the scale property: a probe never
reads corpus text and never shuffles index data.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dlx_spark import tableio
from dlx_spark.operators import dedup
from dlx_spark.operators.dedup_index import (DigestIndex, MinHashIndex,
                                             SimHashIndex)

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron",
         "pi", "rho", "sigma", "tau", "upsilon"]


def _corpus_rows(n=120, seed=11):
    """Docs with planted near-dup pairs and exact dups spanning the
    corpus/batch split (ids >= split are 'the new batch')."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(30)]
        rows.append((i, " ".join(words)))
    # exact dups across the split: batch doc 200+j repeats corpus doc j
    for j in range(5):
        rows.append((200 + j, rows[j][1]))
    # near dups across the split: one word changed
    for j in range(5, 12):
        words = rows[j][1].split()
        words[7] = "CHANGED"
        rows.append((210 + j, " ".join(words)))
    # fresh batch-only docs with no corpus relative
    fresh = []
    for j in range(10):
        words = [rng.choice(VOCAB) + "x" for _ in range(30)]
        fresh.append((240 + j, " ".join(words)))
    rows.extend(fresh)
    # an intra-batch-only near-dup pair: 261 ~ 260 (min-id 260 survives)
    words = fresh[0][1].split()
    base = [w for w in words]
    rows.append((260, " ".join(base)))
    mutated = list(base)
    mutated[3] = "MUTANT"
    rows.append((261, " ".join(mutated)))
    # an intra-batch exact duplicate for the digest index: 262 == 241
    rows.append((262, fresh[1][1]))
    return rows


@pytest.fixture(scope="module")
def split_corpus(spark):
    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") < 200)
    batch = df.filter(F.col("doc_id") >= 200)
    return df, corpus, batch


def _tbl(spark, name):
    """An index table's current content, through the table backend."""
    return tableio.get_backend().read(spark, name)


def _segments(spark, name):
    """Segments in an index table's latest manifest."""
    return len(tableio.get_backend().latest_manifest(spark, name)["segments"])


def test_minhash_probe_equals_full_cross_pairs(spark, split_corpus):
    full_df, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_idx")
    try:
        got = {(r["corpus_id"], r["batch_id"], round(r["est_jaccard"], 6))
               for r in idx.probe(batch, threshold=0.7).collect()}
        full = dedup.minhash_near_duplicates(full_df, threshold=0.7)
        want = {(r["id_a"], r["id_b"], round(r["est_jaccard"], 6))
                for r in full.collect()
                if r["id_a"] < 200 <= r["id_b"]}
        assert got == want
        assert len(want) >= 10   # the planted cross-split dups were found
    finally:
        idx.drop()


@pytest.mark.slow
def test_minhash_dedup_batch_matches_full_survivor_rule(spark, split_corpus):
    full_df, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_idx2")
    try:
        clean = idx.dedup_batch(batch, threshold=0.7)
        got = sorted(r["doc_id"] for r in clean.collect())

        # expected: drop batch docs linked to corpus; among the rest,
        # min-id per connected component of intra-batch pairs survives
        pairs = dedup.minhash_near_duplicates(full_df, threshold=0.7)
        cross_dups = {r["id_b"] for r in pairs.collect()
                      if r["id_a"] < 200 <= r["id_b"]}
        remaining = batch.filter(~F.col("doc_id").isin(list(cross_dups)))
        intra = dedup.minhash_near_duplicates(remaining, threshold=0.7)
        want = sorted(r["doc_id"]
                      for r in dedup.dedup_near(remaining, intra).collect())
        assert got == want
        assert len(got) >= 8   # the fresh batch-only docs survived
        assert 260 not in got or 240 not in got  # 240/260 exact pair deduped

        # the survivors were appended: probing one of them again hits
        one = clean.limit(1)
        reprobe = idx.probe(one.withColumn("doc_id", F.col("doc_id") + 100000),
                            threshold=0.99)
        assert reprobe.count() >= 1
    finally:
        idx.drop()


def test_minhash_dedup_batch_job_budget(spark, split_corpus, count_jobs):
    """One increment runs one band grouping: the corpus and batch links
    come out of one pinned pass whose observation answers every gate,
    so a batch without intra-batch near duplicates runs no connected
    components at all.  Its append writes one file per index table."""
    _, corpus, batch = split_corpus
    # 260-262 are the batch's intra-batch duplicates
    for name, rows, budget in (("t_mh_budget", batch, 45),
                               ("t_mh_budget2",
                                batch.filter(F.col("doc_id") < 260), 20)):
        idx = MinHashIndex.create(corpus, name)
        try:
            n, clean = count_jobs(lambda: idx.dedup_batch(rows))
            assert n <= budget, (name, n)
            assert clean.count() > 0
            be = tableio.get_backend()
            for t in (f"{name}/{name}_sigs", f"{name}/{name}_bands"):
                manifest = be.latest_manifest(spark, t)
                assert len(manifest["segments"]) == 2
                assert len(be.segment_df(spark, manifest, 1).inputFiles()) == 1
        finally:
            idx.drop()


def test_uncapped_dedup_batch_warns_on_an_overcap_bucket(spark):
    """``bucket_cap=None`` is exact but unbounded: an increment whose
    band grouping meets a bucket larger than the default cap says so
    once.  The default cap verifies that bucket as a chain, silently."""
    import warnings

    text = " ".join(f"w{i}" for i in range(25))
    corpus = spark.createDataFrame([(i, text) for i in range(1001)],
                                   "doc_id long, text string")
    idx = MinHashIndex.create(corpus, "t_mh_loud")
    try:
        one = lambda i: spark.createDataFrame([(i, text)],
                                              "doc_id long, text string")
        with pytest.warns(RuntimeWarning, match="uncapped"):
            assert idx.dedup_batch(one(5000), bucket_cap=None).count() == 0
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            assert idx.dedup_batch(one(5001)).count() == 0
    finally:
        idx.drop()


def test_minhash_probe_plan_never_touches_corpus_text(spark, split_corpus, tmp_path):
    _, corpus, batch = split_corpus
    corpus_path = str(tmp_path / "corpus_docs")
    corpus.write.parquet(corpus_path)
    stored = spark.read.parquet(corpus_path)
    idx = MinHashIndex.create(stored, "t_mh_idx3")
    try:
        probed = idx.probe(batch, threshold=0.7)
        probed.collect()
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # scale property 1: the corpus parquet (text) is not in the plan
        assert "corpus_docs" not in plan
        # scale property 2: the batch band keys are broadcast, so index
        # band data streams map-side through a BroadcastHashJoin
        assert "BroadcastHashJoin" in plan
    finally:
        idx.drop()


@pytest.mark.slow
def test_digest_index_matches_full_exact_dedup(spark, split_corpus):
    full_df, corpus, batch = split_corpus
    idx = DigestIndex.create(corpus, "t_dg_idx")
    try:
        clean = idx.dedup_batch(batch)
        got = sorted(r["doc_id"] for r in clean.collect())
        # expected: batch rows surviving a full-corpus exact dedup
        want = sorted(r["doc_id"]
                      for r in dedup.dedup_exact(full_df).collect()
                      if r["doc_id"] >= 200)
        assert got == want
        # the 5 exact clones of corpus docs were dropped
        assert not any(200 <= d < 205 for d in got)

        # append worked: an exact clone of a batch survivor is now caught
        clone = spark.createDataFrame(
            [(999_999, batch.filter(F.col("doc_id") == got[0])
              .first()["text"])], "doc_id long, text string")
        assert idx.filter_new(clone).count() == 0
    finally:
        idx.drop()


def test_digest_antijoin_broadcasts_index_side(spark, split_corpus):
    """Below the broadcast threshold the digest table is the broadcast
    side of the anti-join: the plan holds no shuffle Exchange at all,
    so no index row is shuffled."""
    _, corpus, batch = split_corpus
    idx = DigestIndex.create(corpus, "t_dg_idx2")
    try:
        fresh = idx._batch_digests(batch).join(
            _tbl(spark, "t_dg_idx2/t_dg_idx2_digests"), "digest", "left_anti")
        assert {r["doc_id"] for r in fresh.collect()} >= set(range(240, 250))
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert "BuildRight" in plan, plan
        n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange") \
            - plan.count("ReusedExchange")
        assert n_shuffles == 0, plan
    finally:
        idx.drop()


def test_digest_filter_new_scans_the_index_once(spark, split_corpus):
    """filter_new keeps the min-id rows per digest with one window over
    the fresh rows, so its plan broadcasts the digest table once."""
    _, corpus, batch = split_corpus
    idx = DigestIndex.create(corpus, "t_dg_once")
    try:
        fresh = idx.filter_new(batch)
        got = sorted(r["doc_id"] for r in fresh.collect())
        # 200-204 repeat corpus docs; 260 repeats 240, 262 repeats 241
        assert got == [*range(215, 222), *range(240, 250), 261]
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("BroadcastExchange") == 1, plan
    finally:
        idx.drop()


@pytest.mark.slow
def test_streaming_neardedup_ingest(spark, split_corpus, tmp_path):
    """End-to-end availableNow stream: batches flow through foreachBatch
    into the index; cross-batch dups are dropped; a replayed batch
    changes nothing (exactly-once by construction)."""
    import json as jsonlib

    from dlx_spark.streaming import make_neardedup_batch_fn, neardedup_ingest_stream

    _, corpus, batch = split_corpus
    MinHashIndex.create(corpus, "t_mh_stream")
    out = str(tmp_path / "clean")
    try:
        # micro-batch 1: the usual batch; micro-batch 2: clones of two
        # batch-1 survivors (must be dropped) + one brand-new doc
        indir = tmp_path / "in"
        indir.mkdir()
        rows1 = [{"doc_id": r["doc_id"], "text": r["text"]}
                 for r in batch.collect()]
        (indir / "b1.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in rows1))
        q = neardedup_ingest_stream(
            spark, str(indir), "t_mh_stream", out,
            str(tmp_path / "ckpt"), threshold=0.7)
        q.awaitTermination(120)

        def read_batch(n):
            return {r["doc_id"] for r in spark.read.parquet(out)
                    .filter(F.col("batch") == n).collect()}

        clean1 = read_batch(0)
        assert len(clean1) >= 8

        surv = sorted(clean1)[:2]
        surv_text = {r["doc_id"]: r["text"] for r in batch.collect()}
        rows2 = [{"doc_id": 500 + i, "text": surv_text[s]}
                 for i, s in enumerate(surv)]
        rows2.append({"doc_id": 600,
                      "text": " ".join(f"brandnew{i}" for i in range(30))})
        (indir / "b2.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in rows2))
        q = neardedup_ingest_stream(
            spark, str(indir), "t_mh_stream", out,
            str(tmp_path / "ckpt"), threshold=0.7)
        q.awaitTermination(120)

        clean2 = read_batch(1)
        assert clean2 == {600}, clean2

        # replay batch 1 through the raw fn (simulating a foreachBatch
        # redelivery): output identical, index unchanged
        n_sigs = _tbl(spark, "t_mh_stream/t_mh_stream_sigs").count()
        assert n_sigs > 120  # corpus + batch-0 survivors + doc 600
        # same checkpoint → same run id.  Committed-marker path: the
        # redelivery of the fully committed batch skips entirely.
        import glob
        import os
        fn = make_neardedup_batch_fn("t_mh_stream", out, threshold=0.7,
                                     checkpoint=str(tmp_path / "ckpt"))
        replay_df = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows1],
            "doc_id long, text string")
        fn(replay_df, 0)
        assert read_batch(0) == clean1
        assert _tbl(spark, "t_mh_stream/t_mh_stream_sigs").count() == n_sigs

        # crash-window path through the REAL sink: strip the committed
        # marker and plant the attempt marker (as a crashed first
        # attempt would leave them) — the redelivery must rebuild the
        # same output via replay_safe, not emit empty
        [rdir] = {os.path.dirname(p) for p in
                  glob.glob(out + "/run=*/_committed_batch_0")}
        os.remove(os.path.join(rdir, "_committed_batch_0"))
        open(os.path.join(rdir, "_attempt_batch_0"), "w").close()
        fn(replay_df, 0)
        assert read_batch(0) == clean1
        assert os.path.exists(os.path.join(rdir, "_committed_batch_0"))
        assert not os.path.exists(os.path.join(rdir, "_attempt_batch_0"))
        assert _tbl(spark, "t_mh_stream/t_mh_stream_sigs").count() == n_sigs

        # deleted-and-recreated checkpoint: batch ids restart at 0 but
        # land under a NEW run= directory — the old output is intact and
        # the re-sent (already indexed) docs dedup to nothing
        import shutil
        shutil.rmtree(str(tmp_path / "ckpt"))
        q = neardedup_ingest_stream(
            spark, str(indir), "t_mh_stream", out,
            str(tmp_path / "ckpt"), threshold=0.7)
        q.awaitTermination(120)
        run_dirs = [d for d in os.listdir(out) if d.startswith("run=")]
        assert len(run_dirs) >= 2  # new run id, old outputs untouched
        # the re-sent docs (identical ids, no attempt marker in the new
        # run) are recognized as already ingested and dropped — reading
        # ALL runs still yields exactly the original clean sets
        assert read_batch(0) == clean1 and read_batch(1) == {600}

        # foreign attempt marker (crash + checkpoint deletion): a fresh
        # run must refuse rather than silently drop indexed-but-
        # unemitted documents
        other = [d for d in run_dirs][0]
        foreign_marker = os.path.join(out, other, "_attempt_batch_9")
        open(foreign_marker, "w").close()
        fresh_fn = make_neardedup_batch_fn("t_mh_stream", out, threshold=0.7,
                                           checkpoint=None)
        with pytest.raises(RuntimeError, match="unresolved crashed"):
            fresh_fn(replay_df, 0)
        os.remove(foreign_marker)
    finally:
        MinHashIndex(spark, "t_mh_stream").drop()


@pytest.mark.slow
def test_streaming_neardedup_crash_window(spark, split_corpus, tmp_path):
    """Crash between the index append and the output write: the replay
    must still produce the full clean output (not an empty one), because
    replay_safe ignores the batch's own ids in the index."""
    from dlx_spark.streaming import make_neardedup_batch_fn

    import os

    _, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_crash")
    out = str(tmp_path / "clean")
    try:
        # first attempt: the sink writes its attempt marker, dedups and
        # appends (replay_safe=False — marker was absent), then
        # "crashes" before writing the output directory
        os.makedirs(out + "/run=default", exist_ok=True)
        open(out + "/run=default/_attempt_batch_0", "w").close()
        first = idx.dedup_batch(batch, threshold=0.7, replay_safe=False)
        want = {r["doc_id"] for r in first.collect()}
        assert want  # survivors exist

        # the redelivered micro-batch sees the marker and runs the full
        # sink in replay mode
        fn = make_neardedup_batch_fn("t_mh_crash", out, threshold=0.7)
        fn(batch, 0)
        got = {r["doc_id"] for r in
               spark.read.parquet(out + "/run=default/batch=0").collect()}
        assert got == want
        assert not os.path.exists(out + "/run=default/_attempt_batch_0")
        # and the index holds exactly one signature row per survivor
        dup_ids = (_tbl(spark, "t_mh_crash/t_mh_crash_sigs").groupBy("id").count()
                   .filter("count > 1").count())
        assert dup_ids == 0
    finally:
        idx.drop()


def test_append_after_failed_compaction_survives_reopen(spark, monkeypatch):
    """A DigestIndex compaction that fails before it publishes, then an
    acknowledged append, then a reopen: the appended digest must still
    be indexed.  (A staged-swap compaction left a stage that the reopen
    published over the append, so ``filter_new`` called the appended
    document new again.)"""
    from dlx_spark.tableio_versioned import VersionedTableBackend

    name = "t_dg_cfail"
    docs = spark.createDataFrame([(1, "alpha beta"), (2, "gamma delta")],
                                 "doc_id long, text string")
    idx = DigestIndex.create(docs, name)
    try:
        idx.append(spark.createDataFrame([(3, "epsilon zeta")],
                                         "doc_id long, text string"))
        commit = VersionedTableBackend._commit

        def fail_on_digests(self, spark, table, payload_fn):
            if table == f"{name}/{name}_digests":
                raise RuntimeError("simulated crash at the compaction commit")
            return commit(self, spark, table, payload_fn)

        monkeypatch.setattr(VersionedTableBackend, "_commit", fail_on_digests)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.compact()
        monkeypatch.undo()
        appended = spark.createDataFrame([(4, "eta theta iota")],
                                         "doc_id long, text string")
        idx.append(appended)
        reopened = DigestIndex(spark, name)
        assert reopened.filter_new(appended).count() == 0
        assert reopened.filter_new(docs).count() == 0
    finally:
        idx.drop()


@pytest.mark.slow
def test_compact_folds_appended_files(spark, split_corpus):
    """Repeated appends accrete segments; compact() folds each table to
    one segment holding fewer files than before, with identical probe
    results before and after a reopen."""
    _, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_cpt")
    try:
        for i in range(3):
            idx.append(batch.withColumn(
                "doc_id", F.col("doc_id") + (1000 * (i + 1))))
        tables = ("t_mh_cpt/t_mh_cpt_sigs", "t_mh_cpt/t_mh_cpt_bands")
        assert all(_segments(spark, t) == 4 for t in tables)
        before_files = {t: len(_tbl(spark, t).inputFiles()) for t in tables}
        clone = corpus.limit(1).withColumn("doc_id", F.lit(777_777).cast("long"))
        before = {(r["corpus_id"], r["batch_id"])
                  for r in idx.probe(clone, 0.99).collect()}

        idx.compact()
        for t in tables:
            assert _segments(spark, t) == 1
            assert len(_tbl(spark, t).inputFiles()) < before_files[t]
        after = {(r["corpus_id"], r["batch_id"])
                 for r in idx.probe(clone, 0.99).collect()}
        assert after == before and len(after) >= 1

        reopened = MinHashIndex(spark, "t_mh_cpt")
        again = {(r["corpus_id"], r["batch_id"])
                 for r in reopened.probe(clone, 0.99).collect()}
        assert again == before
    finally:
        idx.drop()


@pytest.mark.slow
def test_append_crash_between_band_and_sig_writes(spark, split_corpus,
                                                  monkeypatch):
    """An append's band keys and signatures publish in ONE commit of the
    index's table group: a crash at that publish leaves both tables as
    they were (no band rows without signatures, no duplicate band rows
    for a replay to fold), and the replayed append indexes the batch
    fully in one more commit."""
    from dlx_spark import fsio

    _, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_crash2")
    be = tableio.get_backend()
    try:
        tables = ("t_mh_crash2/t_mh_crash2_sigs",
                  "t_mh_crash2/t_mh_crash2_bands")
        before = {t: be.snapshot_token(spark, t) for t in tables}
        real = fsio.put_if_absent

        def boom(spark_, tmp, dest):
            if "/tables/t_mh_crash2/" in dest:
                raise RuntimeError("crash at the index publish")
            return real(spark_, tmp, dest)

        monkeypatch.setattr(fsio, "put_if_absent", boom)
        with pytest.raises(RuntimeError, match="index publish"):
            idx.append(batch)
        monkeypatch.undo()
        assert {t: be.snapshot_token(spark, t) for t in tables} == before

        # the replayed append indexes the batch fully, in one commit
        v0 = be.versions(spark, tables[0])[-1]
        idx.append(batch, if_absent=True)
        assert be.versions(spark, tables[0])[-1] == v0 + 1
        batch_ids = {r["doc_id"] for r in batch.collect()}
        assert batch_ids <= {r["id"] for r in _tbl(spark, tables[0]).collect()}
        bands = _tbl(spark, tables[1])
        assert bands.count() == bands.distinct().count()
    finally:
        idx.drop()


@pytest.mark.slow
def test_capped_output_is_fully_verified(spark):
    """The capped mode must emit ONLY pairs passing the verify rule —
    no unverified connectivity edges (the old min-id star let a single
    band collision link dissimilar docs, which dedup_near then deleted:
    a precision bug).  An impossible threshold therefore empties the
    capped output exactly like the uncapped one, and at a real
    threshold every emitted pair's est_jaccard clears it and appears in
    the uncapped (exact-w.r.t.-banding) pair set too."""
    from dlx_spark.operators import dedup

    text = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame([(i, text) for i in range(6)],
                               "doc_id long, text string")
    assert dedup.minhash_near_duplicates(df, threshold=1.5,
                                         bucket_cap=None).count() == 0
    assert dedup.minhash_near_duplicates(df, threshold=1.5,
                                         bucket_cap=2).count() == 0

    capped = dedup.minhash_near_duplicates(df, threshold=0.8, bucket_cap=2)
    rows = capped.collect()
    assert rows and all(r["est_jaccard"] >= 0.8 for r in rows)
    full = {(r["id_a"], r["id_b"]) for r in
            dedup.minhash_near_duplicates(df, threshold=0.8,
                                          bucket_cap=None).collect()}
    assert {(r["id_a"], r["id_b"]) for r in rows} <= full


def test_capped_mega_bucket_does_not_link_dissimilar_colliders(spark):
    """The advisor's precision scenario: a mega-bucket containing one
    true near-dup sub-cluster plus docs dissimilar to it must not link
    the dissimilar docs to anything.  Signatures are injected directly
    (forcing a shared band bucket between dissimilar docs is otherwise
    astronomically unlikely), exercising the chain-in-signature-order
    path below minhash_near_duplicates via lsh_candidate_pairs-free
    plumbing."""
    from dlx_spark.operators import dedup

    # 5 docs sharing band 0's slice (first 4 sig values) — a capped
    # bucket with cap 3.  Docs 0-2 are near-identical signatures (60/64
    # agree); docs 3-4 agree with nobody beyond the colliding band.
    base = list(range(100, 164))
    near = lambda k: base[:60] + [900 + 10 * k + j for j in range(4)]
    far = lambda k: base[:4] + [5000 + 100 * k + j for j in range(60)]
    sigs = [(0, near(0)), (1, near(1)), (2, near(2)),
            (3, far(0)), (4, far(1))]
    sdf = spark.createDataFrame(sigs, "id long, sig array<bigint>")

    # sanity: all five really do share the band-0 bucket
    b0 = dedup.band_buckets(sdf, bands=16).filter("band = 0")
    assert b0.select("bucket").distinct().count() == 1

    # drive the public operator's capped logic on the injected
    # signatures by patching the signature stage
    import unittest.mock as mock
    with mock.patch.object(dedup, "minhash_signatures", return_value=sdf):
        pairs = {(r["id_a"], r["id_b"]) for r in
                 dedup.minhash_near_duplicates(
                     spark.range(0), threshold=0.8, bucket_cap=3).collect()}
    # the true sub-cluster links; the dissimilar colliders link to nothing
    assert pairs and pairs <= {(0, 1), (0, 2), (1, 2)}
    assert not any(3 in p or 4 in p for p in pairs)


@pytest.mark.slow
def test_simhash_index_probe_equals_full_cross_pairs(spark, split_corpus):
    full_df, corpus, batch = split_corpus
    idx = SimHashIndex.create(corpus, "t_sh_idx")
    try:
        got = {(r["corpus_id"], r["batch_id"], r["hamming"])
               for r in idx.probe(batch, max_hamming=3).collect()}
        full = dedup.simhash_near_duplicates(full_df, max_hamming=3)
        want = {(r["id_a"], r["id_b"], r["hamming"])
                for r in full.collect()
                if r["id_a"] < 200 <= r["id_b"]}
        assert got == want
        assert len(want) >= 5   # the exact clones collide at hamming 0

        # dedup_batch: clean == full survivor rule restricted to batch
        clean = idx.dedup_batch(batch, max_hamming=3)
        cross = {b for (_, b, _) in want}
        remaining = batch.filter(~F.col("doc_id").isin(list(cross)))
        intra = dedup.simhash_near_duplicates(remaining, max_hamming=3)
        expected = sorted(r["doc_id"]
                          for r in dedup.dedup_near(remaining, intra).collect())
        assert sorted(r["doc_id"] for r in clean.collect()) == expected

        # appended: a clone of a survivor now collides at hamming 0
        one = clean.limit(1).withColumn("doc_id", F.lit(555_555).cast("long"))
        assert idx.probe(one, max_hamming=0).count() >= 1

        before_files = len(_tbl(spark, "t_sh_idx/t_sh_idx_fps").inputFiles())
        idx.compact()
        assert _segments(spark, "t_sh_idx/t_sh_idx_fps") == 1
        assert len(_tbl(spark, "t_sh_idx/t_sh_idx_fps").inputFiles()) < before_files

        # the 4-band pigeonhole cannot guarantee recall beyond hamming
        # 3: larger thresholds must refuse, not silently miss pairs
        with pytest.raises(ValueError, match="pigeonhole"):
            idx.probe(batch, max_hamming=4)
        with pytest.raises(ValueError, match="pigeonhole"):
            dedup.simhash_near_duplicates(full_df, max_hamming=4)
    finally:
        idx.drop()


@pytest.mark.slow
def test_meta_roundtrip_and_reopen(spark, split_corpus):
    _, corpus, batch = split_corpus
    MinHashIndex.create(corpus, "t_mh_idx4", num_hashes=32, bands=8,
                        shingle_n=2, seed=7)
    try:
        reopened = MinHashIndex(spark, "t_mh_idx4")
        assert reopened.params["num_hashes"] == 32
        assert reopened.params["bands"] == 8
        assert reopened.params["seed"] == 7
        # a probe through the reopened handle uses the persisted family:
        # an exact clone of a corpus doc must match with est_jaccard 1.0
        clone = corpus.limit(1).withColumn("doc_id", F.lit(888_888).cast("long"))
        hits = reopened.probe(clone, threshold=0.99).collect()
        assert any(r["est_jaccard"] == 1.0 for r in hits)
    finally:
        reopened.drop()


@pytest.mark.slow
def test_neardedup_sink_under_file_scheme_out_path(spark, split_corpus, tmp_path):
    """The near-dedup sink's attempt/committed marker protocol must hold
    with a ``file://``-scheme output path (markers via the Hadoop
    FileSystem API): commit, redeliver (skip), crash-window replay."""
    from dlx_spark import fsio
    from dlx_spark.streaming import make_neardedup_batch_fn

    _, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_uri")
    out = "file://" + str(tmp_path / "clean_uri")
    try:
        fn = make_neardedup_batch_fn("t_mh_uri", out, threshold=0.7)
        fn(batch, 0)
        got = {r["doc_id"] for r in
               spark.read.parquet(out + "/run=default/batch=0").collect()}
        assert got
        assert fsio.exists(spark, out + "/run=default/_committed_batch_0")

        # redelivery of the committed batch: early-return, output intact
        fn(batch, 0)
        assert {r["doc_id"] for r in
                spark.read.parquet(out + "/run=default/batch=0").collect()} == got

        # crash window: committed marker gone, attempt marker present —
        # the replay rebuilds identical output through replay_safe
        fsio.remove(spark, out + "/run=default/_committed_batch_0")
        fsio.touch(spark, out + "/run=default/_attempt_batch_0")
        fn(batch, 0)
        assert {r["doc_id"] for r in
                spark.read.parquet(out + "/run=default/batch=0").collect()} == got
        assert fsio.exists(spark, out + "/run=default/_committed_batch_0")
        assert not fsio.exists(spark, out + "/run=default/_attempt_batch_0")
    finally:
        MinHashIndex(spark, "t_mh_uri").drop()


def test_probe_broadcast_gate(spark, split_corpus):
    """The probe's batch-side broadcast is size-gated: band keys within
    the cap are FORCED to broadcast (zero shuffle of index data); above
    the cap the probe leaves the strategy to the planner (a real
    backfill's bands exceed autoBroadcastJoinThreshold, so it plans a
    plain equi-join).  Observed with auto-broadcast disabled — the
    explicit hint survives it, the ungated path doesn't — and the
    results are identical either way (VERDICT r3 item 2's contract)."""
    _, corpus, batch = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_gate")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # bucket_cap=None isolates the batch-side gate: the mega-bucket
        # cap path broadcasts its (tiny) over-cap bucket list by design,
        # which would satisfy the plan assertion for the wrong reason
        below = idx.probe(batch, threshold=0.7, bucket_cap=None)
        assert "BroadcastHashJoin" in \
            below._jdf.queryExecution().executedPlan().toString()
        above = idx.probe(batch, threshold=0.7, broadcast_row_cap=0,
                          bucket_cap=None)
        assert "BroadcastHashJoin" not in \
            above._jdf.queryExecution().executedPlan().toString()

        got_b = {(r["corpus_id"], r["batch_id"], round(r["est_jaccard"], 6))
                 for r in below.collect()}
        got_a = {(r["corpus_id"], r["batch_id"], round(r["est_jaccard"], 6))
                 for r in above.collect()}
        assert got_b and got_b == got_a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        idx.drop()


def test_simhash_probe_broadcast_gate(spark, split_corpus):
    _, corpus, batch = split_corpus
    idx = SimHashIndex.create(corpus, "t_sh_gate")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        below = idx.probe(batch, max_hamming=3, bucket_cap=None)
        above = idx.probe(batch, max_hamming=3, broadcast_row_cap=0,
                          bucket_cap=None)
        assert "BroadcastHashJoin" in \
            below._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in \
            above._jdf.queryExecution().executedPlan().toString()
        key = lambda df: {(r["corpus_id"], r["batch_id"], r["hamming"])
                          for r in df.collect()}
        assert key(below) == key(above)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        idx.drop()


def test_reader_during_compaction(spark, split_corpus):
    """The documented reader contract around maintenance: a handle
    resolved BEFORE compact() is a snapshot and still answers with the
    pre-compaction content (its segments stay until vacuum), and a FRESH
    resolution after compact() sees the complete, identical
    post-image."""
    _, corpus, _ = split_corpus
    idx = MinHashIndex.create(corpus, "t_mh_reader")
    try:
        before = _tbl(spark, "t_mh_reader/t_mh_reader_sigs")
        want = {r["id"] for r in before.select("id").collect()}
        idx.append(corpus.withColumn("doc_id", F.col("doc_id") + 5000))
        idx.compact()
        got_old = {r["id"] for r in before.select("id").collect()}
        assert got_old == want
        want |= {i + 5000 for i in want}
        fresh = {r["id"] for r in
                 _tbl(spark, "t_mh_reader/t_mh_reader_sigs").select("id").collect()}
        assert fresh == want
    finally:
        idx.drop()


@pytest.mark.slow
def test_digest_index_replay_safe(spark, split_corpus):
    """At-least-once replay of an exact-dedup increment: a crashed
    attempt's appended digests (keyed by the batch's own ids) must not
    make the replay drop the whole batch — replay_safe reproduces the
    first attempt's clean frame and leaves the index unchanged."""
    _, corpus, batch = split_corpus
    idx = DigestIndex.create(corpus, "t_dg_replay")
    try:
        first = idx.dedup_batch(batch, replay_safe=False)
        want = sorted(r["doc_id"] for r in first.collect())
        assert want
        n_rows = _tbl(spark, "t_dg_replay/t_dg_replay_digests").count()

        # naive replay (no replay_safe): everything looks ingested
        assert idx.filter_new(batch).count() == 0
        # replay_safe replay: identical output, no index growth, no dups
        again = idx.dedup_batch(batch, replay_safe=True)
        assert sorted(r["doc_id"] for r in again.collect()) == want
        assert _tbl(spark, "t_dg_replay/t_dg_replay_digests").count() == n_rows
        dups = (_tbl(spark, "t_dg_replay/t_dg_replay_digests").groupBy("digest").count()
                .filter("count > 1").count())
        assert dups == 0
    finally:
        idx.drop()


@pytest.mark.slow
def test_streaming_two_stage_exact_then_near_dedup(spark, split_corpus, tmp_path):
    """The composed sink: exact dedup vs all history first, then
    near-dedup — and a crash-window replay of the composed batch still
    reproduces identical output with both indexes unchanged."""
    from dlx_spark import fsio
    from dlx_spark.streaming import make_neardedup_batch_fn

    _, corpus, batch = split_corpus
    DigestIndex.create(corpus, "t_dg_two")
    MinHashIndex.create(corpus, "t_mh_two")
    out = str(tmp_path / "two_stage")
    try:
        fn = make_neardedup_batch_fn("t_mh_two", out, threshold=0.7,
                                     exact_index_name="t_dg_two")
        fn(batch, 0)
        got = {r["doc_id"] for r in
               spark.read.parquet(out + "/run=default/batch=0").collect()}
        # exact clones of corpus docs (200-204) die in stage 1; near
        # dups (215-221) die in stage 2; fresh docs survive
        assert got and not any(200 <= d < 205 for d in got)
        assert not any(215 <= d <= 221 for d in got)
        n_dg = _tbl(spark, "t_dg_two/t_dg_two_digests").count()
        n_mh = _tbl(spark, "t_mh_two/t_mh_two_sigs").count()

        # crash window: strip committed, plant attempt, replay
        fsio.remove(spark, out + "/run=default/_committed_batch_0")
        fsio.touch(spark, out + "/run=default/_attempt_batch_0")
        fn(batch, 0)
        assert {r["doc_id"] for r in
                spark.read.parquet(out + "/run=default/batch=0").collect()} == got
        assert _tbl(spark, "t_dg_two/t_dg_two_digests").count() == n_dg
        assert _tbl(spark, "t_mh_two/t_mh_two_sigs").count() == n_mh
    finally:
        DigestIndex(spark, "t_dg_two").drop()
        MinHashIndex(spark, "t_mh_two").drop()


# --- EmbeddingIndex ----------------------------------------------------------


def _emb_rows(n_clusters=6, per=20, dim=12, seed=5):
    """Clustered unit vectors: members of a cluster have pairwise cosine
    ~0.99; cross-cluster ~0.  Ids < 100 form the corpus, >= 100 the
    batch (each cluster contributes members to both sides)."""
    import math
    import random
    rng = random.Random(seed)
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            v = [0.0] * dim
            v[(2 * c) % dim] = 1.0
            v[(2 * c + 1) % dim] = 0.05 + 0.003 * j
            v[(2 * c + 2) % dim] = 0.001 * rng.randrange(10)
            nrm = math.sqrt(sum(x * x for x in v))
            vid = (c * per + j) if j < per // 2 else (100 + c * per + j)
            rows.append((vid, [x / nrm for x in v]))
    return rows


@pytest.fixture(scope="module")
def emb_split(spark):
    df = spark.createDataFrame(_emb_rows(),
                               "vec_id long, embedding array<double>")
    return df, df.filter("vec_id < 100"), df.filter("vec_id >= 100")


def test_embedding_probe_equals_full_cross_pairs(spark, emb_split):
    """EmbeddingIndex.probe == the cross-partition subset of the
    full-corpus cosine_near_duplicates run with the same hyperplane
    family — the same equivalence chain as the MinHash index."""
    from dlx_spark.operators import similarity
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    full_df, corpus, batch = emb_split
    idx = EmbeddingIndex.create(corpus, "t_emb_idx", n_planes=6)
    try:
        got = {(r["corpus_id"], r["batch_id"], round(r["cosine"], 6))
               for r in idx.probe(batch, threshold=0.9).collect()}
        full = similarity.cosine_near_duplicates(full_df, threshold=0.9,
                                                 n_planes=6)
        want = {(r["id_a"], r["id_b"], round(r["cosine"], 6))
                for r in full.collect()
                if r["id_a"] < 100 <= r["id_b"]}
        assert got == want and len(want) >= 20
    finally:
        idx.drop()


@pytest.mark.slow
def test_embedding_dedup_batch_and_replay(spark, emb_split):
    """dedup_batch drops batch vectors matching the corpus, dedups the
    remainder intra-batch (min-id survivor), appends survivors — and a
    replay_safe replay reproduces the identical clean frame with the
    index unchanged."""
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    _, corpus, batch = emb_split
    idx = EmbeddingIndex.create(corpus, "t_emb_idx2", n_planes=6)
    try:
        # expected rule, computed BEFORE dedup_batch mutates the index:
        # drop batch vectors probe-matching the corpus, then min-id
        # survivor per connected component of the intra-batch cosine
        # pairs under the SAME hyperplane family
        from dlx_spark.operators import dedup, similarity
        cross = {r["batch_id"]
                 for r in idx.probe(batch, threshold=0.9).collect()}

        clean = idx.dedup_batch(batch, threshold=0.9)
        got = sorted(r["vec_id"] for r in clean.collect())
        remaining = batch.filter(~F.col("vec_id").isin(list(cross)))
        intra = similarity.cosine_near_duplicates(remaining, threshold=0.9,
                                                  n_planes=6,
                                                  dim=len(_emb_rows()[0][1]))
        want = sorted(r["vec_id"] for r in
                      dedup.dedup_near(remaining, intra,
                                       id_col="vec_id").collect())
        assert got == want
        # clusters share members across the split, so MOST of the batch
        # is recognized as already ingested
        assert len(got) < batch.count() / 2
        n_rows = _tbl(spark, "t_emb_idx2/t_emb_idx2_vecs").count()

        # a genuinely new direction survives and is appended
        dim = len(_emb_rows()[0][1])
        v = [0.0] * dim
        v[dim - 1] = 1.0
        novel = spark.createDataFrame([(500, v)],
                                      "vec_id long, embedding array<double>")
        clean2 = idx.dedup_batch(novel, threshold=0.9)
        assert [r["vec_id"] for r in clean2.collect()] == [500]
        assert _tbl(spark, "t_emb_idx2/t_emb_idx2_vecs").count() == n_rows + 1

        # crash replay of the same batch: identical output, no growth
        replay = idx.dedup_batch(novel, threshold=0.9, replay_safe=True)
        assert [r["vec_id"] for r in replay.collect()] == [500]
        assert _tbl(spark, "t_emb_idx2/t_emb_idx2_vecs").count() == n_rows + 1
    finally:
        idx.drop()


@pytest.mark.slow
def test_embedding_multiprobe_widens_recall(spark, emb_split):
    """multiprobe_hamming > 0 can only ADD pairs (bit-flip neighborhoods
    are supersets), and every added pair still passes the exact-cosine
    verify."""
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    _, corpus, batch = emb_split
    idx = EmbeddingIndex.create(corpus, "t_emb_idx3", n_planes=6)
    try:
        base = {(r["corpus_id"], r["batch_id"])
                for r in idx.probe(batch, threshold=0.9).collect()}
        wide_rows = idx.probe(batch, threshold=0.9,
                              multiprobe_hamming=1).collect()
        wide = {(r["corpus_id"], r["batch_id"]) for r in wide_rows}
        assert base <= wide
        assert all(r["cosine"] >= 0.9 for r in wide_rows)
    finally:
        idx.drop()


@pytest.mark.slow
def test_embedding_ingest_stream_end_to_end(spark, emb_split, tmp_path):
    """availableNow embedding stream through the shared exactly-once
    sink: cross-batch vector dups dropped, committed batch redelivery
    skips, crash-window replay rebuilds identical output."""
    import json as jsonlib

    from dlx_spark import fsio
    from dlx_spark.operators.dedup_index import EmbeddingIndex
    from dlx_spark.streaming import (embedding_dedup_ingest_stream,
                                     make_embedding_dedup_batch_fn)

    _, corpus, batch = emb_split
    EmbeddingIndex.create(corpus, "t_emb_stream", n_planes=6)
    out = str(tmp_path / "emb_clean")
    try:
        indir = tmp_path / "emb_in"
        indir.mkdir()
        rows = [{"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                for r in batch.collect()]
        (indir / "b1.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in rows))
        q = embedding_dedup_ingest_stream(
            spark, str(indir), "t_emb_stream", out,
            str(tmp_path / "emb_ckpt"), threshold=0.9)
        q.awaitTermination(120)

        clean = {r["vec_id"] for r in spark.read.parquet(out)
                 .filter(F.col("batch") == 0).collect()}
        # most batch vectors duplicate corpus cluster members
        assert len(clean) < len(rows) / 2
        n_vecs = _tbl(spark, "t_emb_stream/t_emb_stream_vecs").count()

        # crash-window replay through the raw fn: identical output
        import glob as globmod
        import os
        fn = make_embedding_dedup_batch_fn(
            "t_emb_stream", out, threshold=0.9,
            checkpoint=str(tmp_path / "emb_ckpt"))
        [rdir] = {os.path.dirname(pth) for pth in
                  globmod.glob(out + "/run=*/_committed_batch_0")}
        os.remove(os.path.join(rdir, "_committed_batch_0"))
        open(os.path.join(rdir, "_attempt_batch_0"), "w").close()
        replay_df = spark.createDataFrame(
            [(r["vec_id"], r["embedding"]) for r in rows],
            "vec_id long, embedding array<double>")
        fn(replay_df, 0)
        assert {r["vec_id"] for r in spark.read.parquet(out)
                .filter(F.col("batch") == 0).collect()} == clean
        assert _tbl(spark, "t_emb_stream/t_emb_stream_vecs").count() == n_vecs
    finally:
        EmbeddingIndex(spark, "t_emb_stream").drop()


@pytest.mark.slow
def test_embedding_rebucket_regrows_plane_count(spark, emb_split):
    """EmbeddingIndex.rebucket: re-deriving the key table under a new
    hyperplane geometry must leave probe results equal to a FRESH index
    created with that geometry (same payload, same seed), and a rebucket
    that crashes before its one commit must leave the committed geometry
    answering on reopen."""
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    _, corpus, batch = emb_split
    dim = len(_emb_rows()[0][1])
    idx = EmbeddingIndex.create(corpus, "t_emb_rb", n_planes=4, dim=dim)
    fresh = EmbeddingIndex.create(corpus, "t_emb_rb_fresh", n_planes=8,
                                  bands=2, dim=dim)
    try:
        idx.rebucket(n_planes=8, bands=2)
        assert idx.params["n_planes"] == 8 and idx.params["bands"] == 2
        got = {(r["corpus_id"], r["batch_id"], round(r["cosine"], 6))
               for r in idx.probe(batch, threshold=0.9).collect()}
        want = {(r["corpus_id"], r["batch_id"], round(r["cosine"], 6))
                for r in fresh.probe(batch, threshold=0.9).collect()}
        assert got == want and len(want) >= 20
        # key table rewritten once per band, payload untouched
        assert (_tbl(spark, "t_emb_rb/t_emb_rb_buckets").count()
                == 2 * _tbl(spark, "t_emb_rb/t_emb_rb_vecs").count())

        # a crash at the commit of a second rebucket: nothing lands,
        # the committed geometry still answers identically on reopen
        be = tableio.get_backend()

        def crash(spark, table, payload_fn):
            raise RuntimeError("simulated crash at the rebucket commit")

        be._commit = crash
        try:
            with pytest.raises(RuntimeError, match="simulated crash"):
                idx.rebucket(n_planes=4, bands=1)
        finally:
            del be._commit
        reopened = EmbeddingIndex(spark, "t_emb_rb")
        assert reopened.params["n_planes"] == 8
        assert reopened.params["bands"] == 2
        again = {(r["corpus_id"], r["batch_id"], round(r["cosine"], 6))
                 for r in reopened.probe(batch, threshold=0.9).collect()}
        assert again == got
    finally:
        idx.drop()
        fresh.drop()


def test_minhash_probe_mega_bucket_cap_stays_linear(spark):
    """Adversarial corpus for the probe path: an index built over an
    UN-deduped corpus (40 near-identical docs) concentrates whole band
    buckets past the cap.  The capped probe must emit chain-verified
    candidates (linear, far fewer than the 40-per-batch-doc full
    expansion), still find a true match for a duplicate batch doc, and
    agree with the uncapped probe on the drop/keep decision."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(i, base) for i in range(40)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, base),
         (101, "completely unrelated novel content about spark internals")],
        "doc_id long, text string")
    idx = MinHashIndex.create(corpus, "t_mh_mega")
    try:
        capped = idx.probe(batch, threshold=0.8, bucket_cap=5)
        uncapped = idx.probe(batch, threshold=0.8, bucket_cap=None)
        capped_ids = {r["batch_id"] for r in capped.collect()}
        uncapped_ids = {r["batch_id"] for r in uncapped.collect()}
        assert capped_ids == uncapped_ids == {100}   # same decision
        assert uncapped.count() == 40                # full expansion
        assert 1 <= capped.count() < 40              # linear chain output
        # est_jaccard still exact on the emitted pairs
        assert all(r["est_jaccard"] == 1.0 for r in capped.collect())
        # dedup_batch through the capped probe: duplicate dropped,
        # novel doc survives and is appended
        clean = sorted(r["doc_id"] for r in
                       idx.dedup_batch(batch, threshold=0.8,
                                       bucket_cap=5).collect())
        assert clean == [101]
    finally:
        idx.drop()


def test_simhash_probe_mega_bucket_cap_stays_linear(spark):
    """Same adversarial shape for the SimHash index: 40 identical
    fingerprints co-bucket every band; the capped probe bounds the
    corpus-side join and keeps the decision."""
    from dlx_spark.operators.dedup_index import SimHashIndex

    base = " ".join(f"token{i} word{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(i, base) for i in range(40)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, base),
         (101, " ".join(f"other{i} thing{i}" for i in range(30)))],
        "doc_id long, text string")
    idx = SimHashIndex.create(corpus, "t_sh_mega")
    try:
        capped = idx.probe(batch, max_hamming=3, bucket_cap=5)
        uncapped = idx.probe(batch, max_hamming=3, bucket_cap=None)
        assert ({r["batch_id"] for r in capped.collect()}
                == {r["batch_id"] for r in uncapped.collect()} == {100})
        assert uncapped.count() == 40
        assert 1 <= capped.count() < 40
        assert all(r["hamming"] == 0 for r in capped.collect())
        clean = sorted(r["doc_id"] for r in
                       idx.dedup_batch(batch, max_hamming=3,
                                       bucket_cap=5).collect())
        assert clean == [101]
    finally:
        idx.drop()


@pytest.mark.slow
def test_rebucket_geometry_rides_the_key_table_manifest(spark):
    """EmbeddingIndex.rebucket commits its geometry in the key table's
    manifest, with the keys: a later append and a compaction keep it,
    an append that races a rebucket fails it and stays findable, and a
    reopen reads the committed geometry over the create-time meta."""
    import random

    from dlx_spark.operators.dedup_index import EmbeddingIndex

    rng = random.Random(23)
    vecs = [[rng.gauss(0, 1) for _ in range(6)] for _ in range(20)]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    extra = spark.createDataFrame([(500, [x + 0.001 for x in vecs[0]])],
                                  "vec_id long, embedding array<double>")
    probe = extra.withColumn("vec_id", F.col("vec_id") + 1)
    be = tableio.get_backend()
    idx = EmbeddingIndex.create(corpus, "t_rbg", n_planes=4, dim=6)
    try:
        assert "extra" not in be.latest_manifest(spark, "t_rbg/t_rbg_buckets")
        idx.rebucket(n_planes=5)
        assert (be.latest_manifest(spark, "t_rbg/t_rbg_buckets")["extra"]
                == {"n_planes": 5, "bands": 1})
        idx.append(extra)
        idx.compact()
        reopened = EmbeddingIndex(spark, "t_rbg")
        assert reopened.params["n_planes"] == 5
        hits = {(r["corpus_id"], r["batch_id"]) for r in
                reopened.probe(probe, threshold=0.99).collect()}
        assert (500, 501) in hits

        # an append racing the re-key (it reads the vectors after the
        # key table's snapshot) fails the rebucket; the append's keys
        # stay under the committed geometry, findable
        token = be.snapshot_token(spark, "t_rbg/t_rbg_buckets")
        read = be.read

        def read_then_append(spark, table):
            if table == "t_rbg/t_rbg_vecs":
                be.read = read
                reopened.append(extra.withColumn("vec_id", F.lit(600).cast("long")))
            return read(spark, table)

        be.read = read_then_append
        try:
            with pytest.raises(tableio.ConcurrentWriteError):
                reopened.rebucket(n_planes=7)
        finally:
            be.__dict__.pop("read", None)
        assert be.snapshot_token(spark, "t_rbg/t_rbg_buckets")[:len(token)] \
            == token
        again = EmbeddingIndex(spark, "t_rbg")
        assert again.params["n_planes"] == 5
        hits = {r["corpus_id"] for r in
                again.probe(probe, threshold=0.99).collect()}
        assert {500, 600} <= hits
    finally:
        idx.drop()


# ---------------------------------------------------------------------------
# SegmentIndex: incremental C4-style segment dedup
# ---------------------------------------------------------------------------

def _seg_rows(df):
    return sorted(tuple(r) for r in df.select(
        "doc_id", "n_segments", "n_kept", "cleaned_text",
        "n_words_kept").collect())


@pytest.mark.slow
def test_segment_index_sequential_batches_equal_full(spark, split_corpus):
    """Doc-id-ordered batches through dedup_batch reproduce the
    full-corpus spans.segment_dedup exactly."""
    from dlx_spark.operators.dedup_index import SegmentIndex
    from dlx_spark.operators import spans
    full_df, _, _ = split_corpus
    idx = SegmentIndex.create_empty(spark, "t_seg_seq", unit_words=10,
                                    normalize=False)
    try:
        parts = [full_df.filter(F.col("doc_id") < 100),
                 full_df.filter((F.col("doc_id") >= 100)
                                & (F.col("doc_id") < 220)),
                 full_df.filter(F.col("doc_id") >= 220)]
        got = []
        for p in parts:
            got.extend(_seg_rows(idx.dedup_batch(p)))
        want = _seg_rows(spans.segment_dedup(full_df, unit_words=10,
                                             normalize=False))
        assert sorted(got) == want
        # the planted exact clones (200..204 repeat 0..4) lost all segs
        cleaned = {d: t for d, _, _, t, _ in got}
        for clone in range(200, 205):
            assert cleaned[clone] == ""
    finally:
        idx.drop()


@pytest.mark.slow
def test_segment_index_create_from_corpus_then_batch(spark, split_corpus):
    from dlx_spark.operators.dedup_index import SegmentIndex
    from dlx_spark.operators import spans
    full_df, corpus, batch = split_corpus
    idx = SegmentIndex.create(corpus, "t_seg_crt", unit_words=10,
                              normalize=False)
    try:
        got = _seg_rows(idx.dedup_batch(batch))
        full = spans.segment_dedup(full_df, unit_words=10, normalize=False)
        want = _seg_rows(full.filter(F.col("doc_id") >= 200))
        assert got == want
    finally:
        idx.drop()


@pytest.mark.slow
def test_segment_index_replay_safe_idempotent(spark, split_corpus):
    from dlx_spark.operators.dedup_index import SegmentIndex
    _, corpus, batch = split_corpus
    idx = SegmentIndex.create(corpus, "t_seg_rpl", unit_words=10,
                              normalize=False)
    try:
        first = _seg_rows(idx.dedup_batch(batch, replay_safe=True))
        n_after_first = tableio.get_backend().read(
            spark, "t_seg_rpl/t_seg_rpl_segments").count()
        replay = _seg_rows(idx.dedup_batch(batch, replay_safe=True))
        assert replay == first
        n_after_replay = tableio.get_backend().read(
            spark, "t_seg_rpl/t_seg_rpl_segments").count()
        assert n_after_replay == n_after_first
    finally:
        idx.drop()


@pytest.mark.slow
def test_segment_index_compact_preserves_behavior(spark, split_corpus):
    from dlx_spark.operators.dedup_index import SegmentIndex
    _, corpus, batch = split_corpus
    idx = SegmentIndex.create(corpus, "t_seg_cpt", unit_words=10,
                              normalize=False)
    try:
        idx.dedup_batch(batch)
        idx.compact()
        # an exact clone of an indexed corpus doc is still fully cut
        clone = spark.createDataFrame(
            [(7_000_000, corpus.first()["text"])], "doc_id long, text string")
        row = idx.filter_new(clone).collect()[0]
        assert row["n_kept"] == 0 and row["cleaned_text"] == ""
    finally:
        idx.drop()


# ---------------------------------------------------------------------------
# SpanIndex: incremental keep-first duplicated-span cutting
# ---------------------------------------------------------------------------

def _cut_rows(df):
    return sorted(tuple(r) for r in df.select(
        "doc_id", "n_words", "n_words_cut", "cleaned_text").collect())


@pytest.mark.slow
def test_span_index_sequential_batches_equal_full(spark, split_corpus):
    from dlx_spark.operators.dedup_index import SpanIndex
    from dlx_spark.operators import spans
    full_df, _, _ = split_corpus
    idx = SpanIndex.create_empty(spark, "t_spn_seq", k=10, normalize=False)
    try:
        parts = [full_df.filter(F.col("doc_id") < 100),
                 full_df.filter((F.col("doc_id") >= 100)
                                & (F.col("doc_id") < 220)),
                 full_df.filter(F.col("doc_id") >= 220)]
        got = []
        for p in parts:
            got.extend(_cut_rows(idx.dedup_batch(p)))
        want = _cut_rows(spans.cut_duplicate_spans(
            full_df, k=10, min_docs=2, keep_first=True, normalize=False))
        assert sorted(got) == want
        # the planted exact clones (200..204 repeat 0..4) were fully cut
        cleaned = {d: t for d, _, _, t in got}
        for clone in range(200, 205):
            assert cleaned[clone] == ""
    finally:
        idx.drop()


@pytest.mark.slow
def test_span_index_create_from_corpus_then_batch(spark, split_corpus):
    from dlx_spark.operators.dedup_index import SpanIndex
    from dlx_spark.operators import spans
    full_df, corpus, batch = split_corpus
    idx = SpanIndex.create(corpus, "t_spn_crt", k=10, normalize=False)
    try:
        got = _cut_rows(idx.dedup_batch(batch))
        full = spans.cut_duplicate_spans(full_df, k=10, min_docs=2,
                                         keep_first=True, normalize=False)
        want = _cut_rows(full.filter(F.col("doc_id") >= 200))
        assert got == want
    finally:
        idx.drop()


@pytest.mark.slow
def test_span_index_future_occurrence_of_unique_window_is_cut(spark):
    """A window unique in batch 1 must still cut a batch-2 twin —
    fresh digests append even when nothing was cut."""
    from dlx_spark.operators.dedup_index import SpanIndex
    idx = SpanIndex.create_empty(spark, "t_spn_fut", k=3, normalize=False)
    try:
        b1 = spark.createDataFrame([(1, "a b c d")],
                                   "doc_id long, text string")
        out1 = _cut_rows(idx.dedup_batch(b1))
        assert out1[0][3] == "a b c d"          # nothing duplicated yet
        b2 = spark.createDataFrame([(2, "a b c z")],
                                   "doc_id long, text string")
        out2 = _cut_rows(idx.dedup_batch(b2))
        assert out2[0][3] == "z"                # "a b c" cut vs batch 1
    finally:
        idx.drop()


@pytest.mark.slow
def test_span_index_replay_safe_idempotent(spark, split_corpus):
    from dlx_spark.operators.dedup_index import SpanIndex
    _, corpus, batch = split_corpus
    idx = SpanIndex.create(corpus, "t_spn_rpl", k=10, normalize=False)
    try:
        first = _cut_rows(idx.dedup_batch(batch, replay_safe=True))
        n1 = tableio.get_backend().read(
            spark, "t_spn_rpl/t_spn_rpl_windows").count()
        replay = _cut_rows(idx.dedup_batch(batch, replay_safe=True))
        assert replay == first
        n2 = tableio.get_backend().read(
            spark, "t_spn_rpl/t_spn_rpl_windows").count()
        assert n2 == n1
    finally:
        idx.drop()


def test_index_lifecycle_registers_no_catalog_tables(spark, split_corpus,
                                                     emb_split):
    """Index tables live in the table backend, not the Spark catalog: a
    create → dedup_batch → compact → drop cycle of every index family,
    and of an IVF index (write → semdedup_append → refresh → drop),
    leaves ``spark.catalog.listTables()`` unchanged at every step."""
    from dlx_spark.operators import bucketing, similarity
    from dlx_spark.operators.dedup_index import (EmbeddingIndex,
                                                 SegmentIndex, SpanIndex)

    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    _, corpus, batch = split_corpus
    corpus, batch = corpus.limit(20), batch.limit(10)
    _, vcorpus, vbatch = emb_split
    before = tables()
    text_families = [
        (DigestIndex, {}), (MinHashIndex, {}), (SimHashIndex, {}),
        (SegmentIndex, {"unit_words": 5}), (SpanIndex, {"k": 5}),
    ]
    for cls, kw in text_families:
        idx = cls.create(corpus, f"t_nocat_{cls.__name__.lower()}", **kw)
        assert tables() == before, cls.__name__
        idx.dedup_batch(batch).collect()
        idx.compact()
        assert tables() == before, cls.__name__
        idx.drop()
    emb = EmbeddingIndex.create(vcorpus, "t_nocat_emb", n_planes=4)
    emb.dedup_batch(vbatch).collect()
    emb.compact()
    assert tables() == before
    emb.drop()

    cents = similarity.ivf_centroids(vcorpus, n_centroids=3, seed=3)
    bucketing.write_ivf_index(vcorpus, "t_nocat_ivf", cents)
    bucketing.semdedup_append(spark, "t_nocat_ivf", vbatch, cents,
                              threshold=0.99).collect()
    bucketing.refresh_ivf_index(spark, "t_nocat_ivf", n_centroids=3, seed=4)
    assert tables() == before
    tableio.get_backend().drop(spark, "t_nocat_ivf")
    assert tables() == before
