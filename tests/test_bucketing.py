"""Vector-index tests: the written IVF index prunes partitions at the
scan, ``EmbeddingIndex``'s top-k probes equal the on-the-fly
``knn_join`` while reading only the buckets the probes touch, and
SemDeDup runs over the IVF layout.  The IVF tests assert the PLAN (the
scale property), not just the result values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dlx_spark import tableio
from dlx_spark.operators import bucketing, similarity
from dlx_spark.operators.dedup_index import BUCKET_CAP, EmbeddingIndex


@pytest.fixture(autouse=True)
def _drop_ann_tables(spark):
    yield
    be = tableio.get_backend()
    be.drop(spark, "t_ivf_idx")
    for name in ("t_emb_idx", "t_emb_single", "t_emb_banded",
                 "t_emb_overcap"):
        for sfx in ("_vecs", "_buckets", "_meta"):
            be.drop(spark, name + sfx)


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange") - plan.count("BroadcastExchange") \
        - plan.count("ReusedExchange")


def test_unbucketed_join_does_shuffle(spark):
    """A sort-merge join of two unbucketed frames shuffles both sides
    (the engine's tables are path-based, with no bucket spec to elide
    an exchange)."""
    left = spark.range(0, 10_000).select(F.col("id").alias("k"))
    right = spark.range(0, 10_000).select(F.col("id").alias("k"))
    joined = left.hint("merge").join(right, "k")
    joined.count()
    assert _exchanges(joined) >= 2


def _vectors(spark):
    import math
    rows = []
    for c in range(4):
        for j in range(25):
            v = [0.0] * 8
            v[2 * c] = 1.0
            v[2 * c + 1] = 0.05 + 0.002 * j
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * 25 + j, [x / n for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_index_topk_matches_exact(spark):
    """The single-query probe: near-exact top-k on clustered data, and
    an indexed copy of the query ranks first (a query has no id, so no
    self-match filter applies)."""
    vecs = _vectors(spark)
    idx = EmbeddingIndex.create(vecs, "t_emb_idx", n_planes=6)
    qvec = [r["embedding"] for r in vecs.filter(F.col("vec_id") == 0).collect()][0]

    got = idx.topk(qvec, k=5, multiprobe_hamming=1).collect()
    assert got[0]["id"] == 0 and got[0]["cosine"] == pytest.approx(1.0)
    assert [r["cosine"] for r in got] == sorted(
        (r["cosine"] for r in got), reverse=True)
    exact = [r["id"] for r in similarity.cosine_topk(vecs, qvec, k=5).collect()]
    assert len({r["id"] for r in got} & set(exact)) >= 4   # near-exact
    with pytest.raises(ValueError, match="dimensions"):
        idx.topk(qvec[:4])


def test_embedding_index_knn_matches_onthefly_and_prunes(spark,
                                                         touched_buckets):
    """Batch probe against the index equals the on-the-fly knn_join at
    hamming 0 (same planes and seed) for fresh probes and for re-probed
    indexed rows (no row ranks as its own neighbor), and its band
    grouping reads exactly the key rows of the buckets the probes
    touch."""
    vecs = _vectors(spark)
    idx = EmbeddingIndex.create(vecs, "t_emb_idx", n_planes=6)

    probes = vecs.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    for batch in (probes, vecs.filter(F.col("vec_id") % 10 == 0)):
        got = idx.knn(batch, k=3)
        want = similarity.knn_join(batch, vecs, k=3, n_planes=6, dim=8)
        g = {(r["probe_id"], r["corpus_id"], r["rank"]) for r in got.collect()}
        w = {(r["probe_id"], r["corpus_id"], r["rank"])
             for r in want.collect()}
        assert g == w and len(g) > 0

    # one cluster's probes (all ten touch every occupied bucket)
    grouped, brute = touched_buckets(idx, probes.filter(F.col("vec_id") < 1025))
    assert grouped == brute
    assert 0 < len(brute) < vecs.count()

    # multiprobe recall: hamming-1 probe must contain the exact best
    # neighbor for most probes (clustered data)
    got1 = idx.knn(probes, k=3, multiprobe_hamming=1).collect()
    corpus = vecs.collect()       # unit vectors: the dot is the cosine
    hits = 0
    probes_rows = probes.collect()
    for r in probes_rows:
        exact = max(corpus, key=lambda c: (
            sum(a * b for a, b in zip(r["embedding"], c["embedding"])),
            -c["vec_id"]))["vec_id"]
        mine = [x["corpus_id"] for x in got1 if x["probe_id"] == r["vec_id"]]
        hits += int(exact in mine)
    assert hits >= len(probes_rows) - 1


def test_embedding_index_ranks_an_over_cap_bucket_whole(spark):
    """A probed bucket holding more than BUCKET_CAP indexed rows is
    ranked whole, not by its ordering chain: knn equals the uncapped
    on-the-fly knn_join, and topk agrees with it."""
    import random

    rnd = random.Random(5)
    vec = lambda: [1.0] + [rnd.uniform(-0.01, 0.01) for _ in range(7)]
    n = BUCKET_CAP + 200
    corpus = spark.createDataFrame([(i, vec()) for i in range(n)],
                                   "vec_id long, embedding array<double>")
    probes = spark.createDataFrame([(100_000 + i, vec()) for i in range(8)],
                                   "vec_id long, embedding array<double>")
    idx = EmbeddingIndex.create(corpus, "t_emb_overcap", n_planes=2, dim=8)
    largest = (tableio.get_backend().read(spark, "t_emb_overcap_buckets")
               .groupBy("bucket").count().agg(F.max("count")).first()[0])
    assert largest > BUCKET_CAP

    got = {(r["probe_id"], r["corpus_id"], r["rank"])
           for r in idx.knn(probes, k=3).collect()}
    want = {(r["probe_id"], r["corpus_id"], r["rank"])
            for r in similarity.knn_join(probes, corpus, k=3, n_planes=2,
                                         dim=8).collect()}
    assert got == want and len(got) == 8 * 3
    q = probes.first()
    top = [r["id"] for r in idx.topk(q["embedding"], k=3).collect()]
    assert top == [c for _, c in sorted(
        (rank, c) for p, c, rank in want if p == q["vec_id"])]


def test_ivf_index_prunes_partitions_and_matches_exact(spark, tmp_path):
    vecs = _vectors(spark)
    path = "t_ivf_idx"
    cents = similarity.ivf_centroids(vecs, n_centroids=4, seed=7)
    bucketing.write_ivf_index(vecs, path, cents)
    qvec = [r["embedding"] for r in vecs.filter(F.col("vec_id") == 0).collect()][0]

    probed = bucketing.probe_ivf_index(spark, path, cents, qvec, k=5, nprobe=1)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got = [r["id"] for r in probed.collect()]
    exact = [r["id"] for r in similarity.cosine_topk(vecs, qvec, k=5).collect()]
    assert len(set(got) & set(exact)) >= 4


def test_banded_embedding_index_layout_and_recall(spark):
    """Banded EmbeddingIndex: each vector is stored once and keyed once
    per band, probes OR one bucket per band, and banded recall on the
    diffuse-twin fixture beats a single band of the same planes."""
    import math
    import random

    rng = random.Random(31)
    dim = 24

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows, twins = [], {}
    for i in range(120):
        base = unit()
        noise = unit()
        d = sum(a * b for a, b in zip(base, noise))
        orth = [b - d * a for a, b in zip(base, noise)]
        n = math.sqrt(sum(x * x for x in orth))
        twin = [0.9 * a + math.sqrt(1 - 0.81) * o / n
                for a, o in zip(base, orth)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, twin))
        twins[2 * i] = 2 * i + 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    single = EmbeddingIndex.create(vecs, "t_emb_single", n_planes=7)
    banded = EmbeddingIndex.create(vecs, "t_emb_banded", n_planes=7, bands=4)

    # storage: vectors once, one key row per band
    be = tableio.get_backend()
    for name, keys in (("t_emb_single", 240), ("t_emb_banded", 4 * 240)):
        assert be.read(spark, f"{name}_vecs").count() == 240
        assert be.read(spark, f"{name}_buckets").count() == keys

    # an indexed copy of the probe ranks first, so k=2 finds the twin
    # iff SOME band put it in a probed bucket
    by_id = dict(rows)
    pids = range(0, 80, 2)
    probes = spark.createDataFrame(
        [(pid + 10_000, by_id[pid]) for pid in pids],
        "vec_id long, embedding array<double>")
    found = {idx: {(r["probe_id"] - 10_000, r["corpus_id"])
                   for r in idx.knn(probes, k=2).collect()}
             for idx in (single, banded)}
    hits_s, hits_b = (sum((pid, twins[pid]) in found[idx] for pid in pids)
                      for idx in (single, banded))
    assert hits_b > hits_s            # banding buys recall
    assert hits_b >= 0.6 * len(pids)
    # the single-query form ranks the same candidates
    assert {r["id"] for r in banded.topk(by_id[0], k=2).collect()} \
        == {c for p, c in found[banded] if p == 0}
    # the two recall levers are exclusive: bands refuse multiprobe
    with pytest.raises(ValueError, match="multiprobe"):
        banded.knn(probes, multiprobe_hamming=1)

    # batch probe against the banded index: candidates deduped across
    # bands (one rank row per (probe, corpus) pair), every probe answered
    probes = vecs.filter(F.col("vec_id") % 2 == 0).limit(20).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    got = banded.knn(probes, k=3).collect()
    per_probe = {}
    for r in got:
        per_probe.setdefault(r["probe_id"], []).append(r["corpus_id"])
    assert all(len(v) == len(set(v)) for v in per_probe.values())
    assert len(per_probe) >= 18       # nearly every probe found candidates


@pytest.mark.slow
def test_ann_index_ops_route_through_backend_seam(spark):
    """Round-6 port: every IVF index operation must go through the
    tableio backend (no direct path I/O, no bespoke swap protocol), so
    a transactional backend upgrades them without touching call sites —
    the same recording-backend pin the dedup indexes have."""
    import numpy as np

    from dlx_spark.tableio_versioned import VersionedTableBackend

    class Recording(VersionedTableBackend):
        def __init__(self):
            super().__init__()
            self.calls = []

        def write(self, df, table, key=None, **kw):
            self.calls.append(("write", table,
                               tuple(kw.get("partition_cols") or ())))
            super().write(df, table, key, **kw)

        def append(self, df, table, key=None, **kw):
            self.calls.append(("append", table,
                               tuple(kw.get("partition_cols") or ())))
            return super().append(df, table, key, **kw)

        def read(self, spark, table):
            self.calls.append(("read", table))
            return super().read(spark, table)

        def rewrite(self, df, table, token, keep=0, **kw):
            self.calls.append(("rewrite", table, keep, kw.get("exact")))
            return super().rewrite(df, table, token, keep, **kw)

    rng = np.random.RandomState(11)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    prev = tableio.get_backend()
    rec = Recording()
    tableio.set_backend(rec)
    try:
        cents = similarity.ivf_centroids(df, n_centroids=3, seed=11)
        bucketing.write_ivf_index(df.limit(20), "t_seam_ivf", cents)
        bucketing.append_ivf_index(df, "t_seam_ivf", cents)
        bucketing.refresh_ivf_index(spark, "t_seam_ivf", n_centroids=3,
                                    seed=11)
        bucketing.probe_ivf_index(spark, "t_seam_ivf", cents, rows[0][1],
                                  k=3, nprobe=1).collect()
        ops = {c[0] for c in rec.calls}
        assert ops >= {"write", "append", "read", "rewrite"}
        # the refresh publishes conflict-checked, through the seam
        assert ("rewrite", "t_seam_ivf", 0, True) in rec.calls
        assert ("write", "t_seam_ivf", ("list_id",)) in rec.calls
        assert ("append", "t_seam_ivf", ("list_id",)) in rec.calls
        # path-spelled names are refused with a migration pointer
        with pytest.raises(ValueError, match="tableio"):
            bucketing.write_ivf_index(df, "/tmp/not/a/table", cents)
    finally:
        tableio.set_backend(prev)
        rec.drop(spark, "t_seam_ivf")


def test_semdedup_index_equals_onthefly_and_prunes_at_probe(spark):
    """SemDeDup over the persisted IVF index ≡ on-the-fly semdedup with
    the same trained centroids (the clustering pass costs nothing at
    prune time), and the index read is the partitioned layout (list_id
    in the scan's partition schema)."""
    vecs = _vectors(spark)
    name = "t_semdedup_ivf"
    cents = similarity.ivf_centroids(vecs, n_centroids=4, seed=7)
    bucketing.write_ivf_index(vecs, name, cents)
    try:
        from_index = sorted(
            (r["vec_id"], r["cluster"]) for r in
            bucketing.semdedup_index(spark, name, threshold=0.95).collect())
        on_the_fly = sorted(
            (r["vec_id"], r["cluster"]) for r in
            similarity.semdedup(vecs, threshold=0.95, method="kmeans",
                                centroids=cents).collect())
        assert from_index == on_the_fly
        assert 0 < len(from_index) < vecs.count()
    finally:
        tableio.get_backend().drop(spark, name)


@pytest.mark.slow
def test_semdedup_append_online_ingest(spark):
    """Online SemDeDup: batch-2 vectors within τ of an INDEX member (or
    of a lower-id batch-2 survivor) are dropped, survivors land in the
    index; with a prune-free history the online result coincides with
    batch SemDeDup over the union corpus (leader ≡ batch when nothing
    was ever pruned before the new batch)."""
    import math
    name = "t_semdedup_append"

    def vec(c, eps=0.0):
        v = [0.0] * 8
        v[c] = 1.0
        v[(c + 1) % 8] = eps
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base_rows = [(i, vec(i)) for i in range(4)]          # 4 orthogonal
    base = spark.createDataFrame(base_rows,
                                 "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(base, n_centroids=4, seed=3)
    bucketing.write_ivf_index(base, name, cents)
    try:
        # batch 2: near-dup of base vec 0, a twin pair, and a fresh dir
        batch_rows = [(10, vec(0, 0.05)),                # ~ index member 0
                      (11, vec(6, 0.04)), (12, vec(6, 0.05)),  # twin pair
                      (13, vec(5))]                      # genuinely new
        batch = spark.createDataFrame(batch_rows,
                                      "vec_id long, embedding array<double>")
        got = sorted(r["vec_id"] for r in bucketing.semdedup_append(
            spark, name, batch, cents, threshold=0.9).collect())
        # 10 pruned by index member, 12 pruned by lower-id twin 11
        assert got == [11, 13]
        # survivors are IN the index now: re-appending the same batch
        # prunes everything (11,13 now index members; 10,12 near them)
        again = bucketing.semdedup_append(spark, name, batch, cents,
                                          threshold=0.9).count()
        assert again == 0

        # prune-free history ⇒ online == batch-over-union for the batch
        union = base.unionByName(batch)
        batch_mode = sorted(
            r["vec_id"] for r in similarity.semdedup(
                union, threshold=0.9, method="kmeans",
                centroids=cents).collect()
            if r["vec_id"] >= 10)
        assert batch_mode == [11, 13]
    finally:
        tableio.get_backend().drop(spark, name)


def test_semdedup_append_releases_cache_when_append_fails(spark, monkeypatch):
    """A micro-batch whose append raises (a lost commit race) leaves no
    cached relation behind: the per-batch assignment cache is released
    on every exit, not only on success."""
    vecs = _vectors(spark)
    name = "t_semdedup_fail"
    cents = similarity.ivf_centroids(vecs, n_centroids=4, seed=7)
    be = tableio.get_backend()
    bucketing.write_ivf_index(vecs.filter(F.col("vec_id") < 50), name, cents)
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData
    try:
        before = cached().size()

        def lost_race(*args, **kwargs):
            raise tableio.ConcurrentWriteError("lost the commit race")

        monkeypatch.setattr(be, "append", lost_race)
        with pytest.raises(tableio.ConcurrentWriteError):
            bucketing.semdedup_append(
                spark, name, vecs.filter(F.col("vec_id") >= 50), cents)
        assert cached().size() <= before
    finally:
        monkeypatch.undo()
        be.drop(spark, name)
