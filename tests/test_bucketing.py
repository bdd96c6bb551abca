"""Storage-layout tests: catalog-bucketed joins must plan WITHOUT a
shuffle on the bucketed sides, and written ANN indexes must prune
partitions at the scan.  These assert the PLAN (the scale property), not just the
result values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dlx_spark import tableio
from dlx_spark.operators import bucketing, similarity


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    # saveAsTable needs a writable warehouse; the session fixture already
    # set one up under the test run's tmp dir via derby defaults
    return spark


@pytest.fixture(autouse=True)
def _drop_ann_tables(spark):
    yield
    for t in ("t_lsh_idx", "t_lsh_idx_b", "t_ivf_idx",
              "t_lsh_single", "t_lsh_banded"):
        tableio.get_backend().drop(spark, t)


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


def test_lsh_index_prunes_partitions_and_matches_exact(spark, tmp_path):
    vecs = _vectors(spark)
    path = "t_lsh_idx"
    bucketing.write_lsh_index(vecs, path, n_planes=6, dim=8)
    qvec = [r["embedding"] for r in vecs.filter(F.col("vec_id") == 0).collect()][0]

    probed = bucketing.probe_lsh_index(spark, path, qvec, k=5, n_planes=6,
                                       multiprobe_hamming=1)
    # partition pruning: the scan's partition filters mention bucket
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan.replace("\n", " ") or \
           "bucket#" in plan.split("PartitionFilters")[1][:200]
    got = [r["id"] for r in probed.collect()]
    exact = [r["id"] for r in similarity.cosine_topk(vecs, qvec, k=5).collect()]
    assert len(set(got) & set(exact)) >= 4   # clustered data: near-exact


@pytest.mark.slow
def test_knn_join_lsh_index_matches_onthefly_and_prunes(spark, tmp_path):
    """Batch probe against the written index must equal the on-the-fly
    knn_join at hamming 0 (same planes), and its scan must be pruned by
    dynamic partition pruning from the broadcast probe side."""
    vecs = _vectors(spark)
    path = "t_lsh_idx_b"
    bucketing.write_lsh_index(vecs, path, n_planes=6, dim=8)

    probes = vecs.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding")

    got = bucketing.knn_join_lsh_index(
        spark, path, probes, k=3, n_planes=6, multiprobe_hamming=0, dim=8)
    want = similarity.knn_join(probes, vecs, k=3, n_planes=6, dim=8)
    g = {(r["probe_id"], r["corpus_id"], r["rank"]) for r in got.collect()}
    w = {(r["probe_id"], r["corpus_id"], r["rank"]) for r in want.collect()}
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    # multiprobe recall: hamming-1 probe must contain the exact best
    # neighbor for most probes (clustered data)
    got1 = bucketing.knn_join_lsh_index(
        spark, path, probes, k=3, n_planes=6, multiprobe_hamming=1, dim=8)
    hits = 0
    probes_rows = probes.collect()
    for r in probes_rows:
        exact = [x["id"] for x in similarity.cosine_topk(
            vecs, r["embedding"], k=1).collect()]
        mine = [x["corpus_id"] for x in got1.filter(
            F.col("probe_id") == r["vec_id"]).collect()]
        hits += int(exact[0] in mine)
    assert hits >= len(probes_rows) - 1


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


@pytest.mark.slow
def test_banded_lsh_index_layout_and_recall(spark, tmp_path):
    """Banded persisted LSH index (LSH-forest layout): each vector is
    stored once per band, probes OR one pruned (band, bucket) partition
    per band, and banded recall on the diffuse-twin fixture beats the
    single-band layout at the same planes-per-band."""
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

    single = "t_lsh_single"
    banded = "t_lsh_banded"
    bucketing.write_lsh_index(vecs, single, n_planes=7, dim=dim)
    bucketing.write_lsh_index(vecs, banded, n_planes=7, bands=4, dim=dim)

    # storage: one copy per band
    n_single = tableio.get_backend().read(spark, single).count()
    n_banded = tableio.get_backend().read(spark, banded).count()
    assert n_single == 240 and n_banded == 4 * 240

    # single-query probe finds the twin through SOME band
    hits_s = hits_b = 0
    probe_ids = [2 * i for i in range(0, 40)]
    by_id = dict(rows)
    for pid in probe_ids:
        q = by_id[pid]
        got_s = {r["id"] for r in bucketing.probe_lsh_index(
            spark, single, q, k=2, n_planes=7,
            multiprobe_hamming=0).collect()}
        got_b = {r["id"] for r in bucketing.probe_lsh_index(
            spark, banded, q, k=2, n_planes=7, bands=4,
            multiprobe_hamming=0).collect()}
        hits_s += int(twins[pid] in got_s)
        hits_b += int(twins[pid] in got_b)
    assert hits_b > hits_s            # banding buys recall
    assert hits_b >= 0.6 * len(probe_ids)

    # batch probe against the banded layout: candidates deduped across
    # bands (one rank row per (probe, corpus) pair), every probe answered
    probes = vecs.filter(F.col("vec_id") % 2 == 0).limit(20).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    got = bucketing.knn_join_lsh_index(
        spark, banded, probes, k=3, n_planes=7, bands=4,
        multiprobe_hamming=0, dim=dim).collect()
    per_probe = {}
    for r in got:
        per_probe.setdefault(r["probe_id"], []).append(r["corpus_id"])
    assert all(len(v) == len(set(v)) for v in per_probe.values())
    assert len(per_probe) >= 18       # nearly every probe found candidates


@pytest.mark.slow
def test_ann_index_ops_route_through_backend_seam(spark):
    """Round-6 port: every LSH/IVF index operation must go through the
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
        bucketing.write_lsh_index(df, "t_seam_lsh", n_planes=5, dim=8)
        bucketing.probe_lsh_index(spark, "t_seam_lsh", rows[0][1], k=3,
                                  n_planes=5).collect()
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
        assert ("write", "t_seam_lsh", ("band", "bucket")) in rec.calls
        assert ("write", "t_seam_ivf", ("list_id",)) in rec.calls
        assert ("append", "t_seam_ivf", ("list_id",)) in rec.calls
        # path-spelled names are refused with a migration pointer
        with pytest.raises(ValueError, match="tableio"):
            bucketing.write_lsh_index(df, "/tmp/not/a/table", n_planes=5,
                                      dim=8)
    finally:
        tableio.set_backend(prev)
        for t in ("t_seam_lsh", "t_seam_ivf"):
            rec.drop(spark, t)


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
