"""Recall-quality gates for the PRUNED approximate-ANN paths.

The driver oracle now hash-checks the exhaustive paths (lsh_topk's
bucketing via plane literals, ivf_topk_exhaustive at nprobe=n, the full
minhash/simhash pipelines).  What it cannot check is that the pruned
configurations stay USEFUL — on clustered data, pruning must keep most
of the true neighbors.  The driver's synthetic embeddings are near-
uniform random (LSH's adversarial worst case, recall is meaningless
there), so these tests plant deterministic clusters and assert recall
bounds against the exact brute force.
"""

from __future__ import annotations

import math

import pytest

from dlx_spark.operators import similarity, textstats


N_CLUSTERS = 5
PER_CLUSTER = 40
DIM = 16


def _clustered_vectors():
    """Deterministic clustered embeddings: cluster c's center is axis
    pair (2c, 2c+1); members are small fixed perturbations, so same-
    cluster cosine ~0.99 and cross-cluster ~0."""
    rows = []
    for c in range(N_CLUSTERS):
        for j in range(PER_CLUSTER):
            v = [0.0] * DIM
            v[(2 * c) % DIM] = 1.0
            v[(2 * c + 1) % DIM] = 0.05 + 0.002 * j   # deterministic jitter
            v[(2 * c + 3) % DIM] += 0.001 * ((j * 7) % 11)
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * PER_CLUSTER + j, [x / n for x in v], c))
    return rows


@pytest.fixture(scope="module")
def clustered(spark):
    return spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int")


def _query_vec():
    return _clustered_vectors()[0][1]          # member of cluster 0


def _exact_ids(clustered, k=10):
    return [r["id"] for r in
            similarity.cosine_topk(clustered, _query_vec(), k=k).collect()]


@pytest.mark.slow
def test_lsh_topk_recall_on_clusters(clustered):
    exact = set(_exact_ids(clustered))
    got = {r["id"] for r in similarity.lsh_topk(
        clustered, _query_vec(), k=10, n_planes=8, multiprobe_hamming=1).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"lsh_topk recall {recall} on clustered data"


@pytest.mark.slow
def test_ivf_topk_pruned_recall_on_clusters(clustered):
    exact = set(_exact_ids(clustered))
    got = {r["id"] for r in similarity.ivf_topk(
        clustered, _query_vec(), k=10, n_centroids=N_CLUSTERS, nprobe=2).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"ivf_topk (nprobe=2) recall {recall} on clustered data"


@pytest.mark.slow
def test_knn_join_recall_on_clusters(spark, clustered):
    from pyspark.sql import Window, functions as F

    probes = clustered.filter(F.col("vec_id") < 10)
    got = {(r["probe_id"], r["corpus_id"]) for r in
           similarity.knn_join(probes, clustered, k=3, n_planes=4).collect()}

    l = probes.select(F.col("vec_id").alias("p"), F.col("embedding").alias("pv"))
    r_ = clustered.select(F.col("vec_id").alias("c"), F.col("embedding").alias("cv"))
    dot = ("aggregate(zip_with(pv, cv, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
           " (a, v) -> a + v)")
    j = (l.crossJoin(r_).filter(F.col("p") != F.col("c"))
         .withColumn("cos", F.expr(dot)))     # unit vectors: dot == cosine
    w = Window.partitionBy("p").orderBy(F.desc("cos"), F.asc("c"))
    exact = {(r["p"], r["c"]) for r in
             j.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= 3).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"knn_join recall {recall} on clustered data"


def test_winnowing_density_guarantee(spark):
    """Winnowing property: one fingerprint per window position means the
    sketch can never be empty and is bounded by the number of windows;
    identical texts must sketch identically (md5 hashing is seedless)."""
    text = " ".join(f"tok{i % 13}x{(i * 5) % 7}" for i in range(200))
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    rows = {r["id"]: list(r["fingerprint"])
            for r in textstats.fingerprint(df, window=8).collect()}
    assert rows[1] == rows[2]
    n_windows = 200 - 8 + 1
    assert 1 <= len(rows[1]) <= n_windows
    # density: winnowing with window w keeps ~2/(w+1) of positions;
    # dedup can only shrink it further — sanity-bound it loosely
    assert len(rows[1]) <= n_windows // 2


@pytest.mark.slow
def test_ivf_drift_and_refresh_cycle(spark, tmp_path):
    """IVF index maintenance: vectors APPENDED with stale centroids
    (fast ingest) quantize a drifted distribution badly; a
    ``refresh_ivf_index`` retrain-and-rewrite restores pruned-probe
    recall, and a refresh that crashes before its commit leaves the
    refreshed index it would have replaced."""
    from dlx_spark import tableio
    from dlx_spark.operators import bucketing

    be = tableio.get_backend()
    rows = _clustered_vectors()
    initial = spark.createDataFrame(
        [r for r in rows if r[2] < 3],
        "vec_id long, embedding array<double>, label int")
    drifted = spark.createDataFrame(
        [r for r in rows if r[2] >= 3],
        "vec_id long, embedding array<double>, label int")
    combined = initial.unionByName(drifted)

    path = "t_ann_ivf_drift"
    cents0 = similarity.ivf_centroids(initial, n_centroids=3, seed=7)
    try:
        bucketing.write_ivf_index(initial, path, cents0)
        # drift: clusters 3-4 arrive, appended under the OLD quantizer
        bucketing.append_ivf_index(drifted, path, cents0)
        assert be.read(spark, path).count() == combined.count()

        q = rows[4 * PER_CLUSTER][1]           # member of drifted cluster 4
        exact = {r["id"] for r in
                 similarity.cosine_topk(combined, q, k=10).collect()}

        # refresh: retrain on the current contents, one list per cluster
        cents1 = bucketing.refresh_ivf_index(spark, path, n_centroids=5,
                                             seed=7)
        got = {r["id"] for r in bucketing.probe_ivf_index(
            spark, path, cents1, q, k=10, nprobe=1).collect()}
        assert len(got & exact) / len(exact) >= 0.9
        # nothing lost in the rewrite
        assert be.read(spark, path).count() == combined.count()

        # crash at the commit of a second refresh: the index keeps the
        # first refresh's lists, so probes with its centroids still hit
        head = be.snapshot_token(spark, path)

        def crash(spark, table, payload_fn):
            raise RuntimeError("simulated crash at the refresh commit")

        be._commit = crash
        try:
            with pytest.raises(RuntimeError, match="simulated crash"):
                bucketing.refresh_ivf_index(spark, path, n_centroids=4,
                                            seed=8)
        finally:
            del be._commit
        assert be.snapshot_token(spark, path) == head
        assert be.read(spark, path).count() == combined.count()
        got2 = {r["id"] for r in bucketing.probe_ivf_index(
            spark, path, cents1, q, k=10, nprobe=1).collect()}
        assert got2 == got
    finally:
        be.drop(spark, path)


@pytest.mark.slow
def test_cosine_near_duplicates_recall_on_clusters(clustered):
    """The LSH-blocked embedding pair operator vs exact all-pairs brute
    force: precision is exact by construction (every emitted pair is
    cosine-verified); recall on clustered data must stay high, and
    multiprobe must only widen it."""
    from pyspark.sql import functions as F

    got = similarity.cosine_near_duplicates(clustered, threshold=0.9,
                                            n_planes=6, dim=DIM)
    rows = got.collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert all(r["cosine"] >= 0.9 for r in rows)

    l = clustered.select(F.col("vec_id").alias("id_a"),
                         F.col("embedding").alias("pvec"))
    r = clustered.select(F.col("vec_id").alias("id_b"),
                         F.col("embedding").alias("cvec"))
    exact = {(x["id_a"], x["id_b"]) for x in
             (l.crossJoin(r).filter(F.col("id_a") < F.col("id_b"))
              .withColumn("cosine", similarity.pairwise_cosine_expr())
              .filter(F.col("cosine") >= 0.9)).collect()}
    assert pairs <= exact                      # exact precision
    assert len(pairs) / len(exact) >= 0.8      # high recall on clusters

    wide = {(r2["id_a"], r2["id_b"]) for r2 in
            similarity.cosine_near_duplicates(
                clustered, threshold=0.9, n_planes=6, dim=DIM,
                multiprobe_hamming=1).collect()}
    assert pairs <= wide <= exact
    assert len(wide) >= len(pairs)


# ---------------------------------------------------------------------------
# Round-5: mega-bucket caps + banded amplification for the embedding family
# ---------------------------------------------------------------------------

def _dense_plus_diffuse(spark, dense_n=80, diffuse_n=40, dim=12, seed=11):
    """A dense near-duplicate region (the mega-bucket generator: all
    ``dense_n`` vectors pairwise-cosine ~1) plus diffuse random
    vectors."""
    import random
    rng = random.Random(seed)
    rows = []
    for j in range(dense_n):
        v = [1.0] + [0.001 * rng.randrange(5) for _ in range(dim - 1)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((j, [x / n for x in v]))
    for j in range(diffuse_n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((1000 + j, [x / n for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.slow
def test_capped_cosine_pairs_preserve_components(spark):
    """The mega-bucket chain cap: capped pairs are a verified SUBSET of
    the uncapped run, linear in bucket size, and connect exactly the
    same components (the chain through a dense cluster keeps every
    member linked) — the embedding port of the minhash verified-chain
    property."""
    from dlx_spark.operators import dedup

    df = _dense_plus_diffuse(spark)
    dim = 12
    kw = dict(threshold=0.9, n_planes=6, dim=dim)
    uncapped = similarity.cosine_near_duplicates(df, bucket_cap=None, **kw)
    capped = similarity.cosine_near_duplicates(df, bucket_cap=10,
                                               auto_bypass_bytes=0, **kw)
    u = {(r["id_a"], r["id_b"]): r["cosine"] for r in uncapped.collect()}
    c = {(r["id_a"], r["id_b"]): r["cosine"] for r in capped.collect()}
    assert set(c) <= set(u)                    # subset, same cosines
    assert all(abs(u[p] - c[p]) < 1e-9 for p in c)
    assert all(v >= 0.9 for v in c.values())   # every chain edge verified
    # linear worst case: the 80-member cluster contributes ~79 chain
    # edges, not 80*79/2
    assert len(c) < 3 * 80
    assert len(u) >= 80 * 79 / 2               # uncapped is quadratic there

    def comps(pairs_df):
        cc = dedup.connected_components(pairs_df.select("id_a", "id_b"))
        groups = {}
        for r in cc.collect():
            groups.setdefault(r["component"], set()).add(r["id"])
        return {frozenset(g) for g in groups.values()}

    assert comps(capped) == comps(uncapped)


def _diffuse_twins(spark, n_pairs=200, dim=24, seed=13, target_cos=0.9):
    """Diffuse corpus of random unit vectors, each with a twin at cosine
    ~``target_cos`` — LSH's hard case (no cluster structure to lean on),
    the fixture for recall-vs-candidate-budget comparisons."""
    import random
    rng = random.Random(seed)

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    alpha = target_cos
    beta = math.sqrt(1 - alpha * alpha)
    rows, truth = [], set()
    for i in range(n_pairs):
        base = unit()
        noise = unit()
        # orthogonalize the noise against base, renormalize
        d = sum(a * b for a, b in zip(base, noise))
        orth = [b - d * a for a, b in zip(base, noise)]
        n = math.sqrt(sum(x * x for x in orth))
        orth = [x / n for x in orth]
        twin = [alpha * a + beta * o for a, o in zip(base, orth)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, twin))
        truth.add((2 * i, 2 * i + 1))
    return (spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            truth)


@pytest.mark.slow
def test_banded_beats_multiprobe_at_equal_candidate_budget(spark):
    """Banded amplification (b bands × r planes, OR-of-ANDs) is the
    scale-correct recall lever: on the diffuse-twin fixture it reaches
    HIGHER recall than combinatorial multiprobe while generating no
    more candidate pairs — and its cost is one linear equi-join per
    band instead of a sum(C(n,h)) bucket explosion."""
    df, truth = _diffuse_twins(spark)
    dim = 24

    def run(**kw):
        # threshold below -1 keeps every candidate => candidate count;
        # emitted pairs at the real threshold => recall
        cands = similarity.cosine_near_duplicates(
            df, threshold=-2.0, dim=dim, bucket_cap=None, **kw)
        n_cands = cands.count()
        hits = {(r["id_a"], r["id_b"])
                for r in similarity.cosine_near_duplicates(
                    df, threshold=0.85, dim=dim, bucket_cap=None, **kw)
                .collect()}
        recall = len(hits & truth) / len(truth)
        return n_cands, recall

    multi_cands, multi_recall = run(n_planes=8, multiprobe_hamming=1)
    band_cands, band_recall = run(n_planes=7, bands=4)
    assert band_cands <= multi_cands, (band_cands, multi_cands)
    assert band_recall >= multi_recall, (band_recall, multi_recall)
    assert band_recall >= 0.7


@pytest.mark.slow
def test_embedding_probe_bucket_cap_preserves_drop_decision(spark):
    """A batch of near-duplicates of a dense (mega-bucket) corpus
    region: with a small bucket_cap the probe output is LINEAR, yet
    every batch vector that near-duplicates the corpus still gets at
    least one verified corpus match — the drop/keep decision of
    dedup_batch is preserved under the cap."""
    import random
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    rng = random.Random(17)
    dim = 12

    def dense_vec():
        v = [1.0] + [0.001 * rng.randrange(5) for _ in range(dim - 1)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    corpus = spark.createDataFrame(
        [(i, dense_vec()) for i in range(60)],
        "vec_id long, embedding array<double>")
    batch_rows = [(100 + i, dense_vec()) for i in range(20)] + \
        [(200, [0.0] * (dim - 1) + [1.0])]      # one genuinely novel vector
    batch = spark.createDataFrame(batch_rows,
                                  "vec_id long, embedding array<double>")

    idx = EmbeddingIndex.create(corpus, "t_emb_cap", n_planes=6)
    try:
        capped = idx.probe(batch, threshold=0.9, bucket_cap=10)
        rows = capped.collect()
        matched = {r["batch_id"] for r in rows}
        assert all(r["cosine"] >= 0.9 for r in rows)
        # every dense batch vector matched; the novel one did not
        assert matched == {100 + i for i in range(20)}
        # linear output: nearest-in-order chain window (≤ 2·CHAIN_WINDOW
        # + 2 candidates per batch vector), not 60×20 pairs
        assert len(rows) <= (2 * similarity.CHAIN_WINDOW + 2) * 21
        uncapped_matched = {r["batch_id"] for r in
                            idx.probe(batch, threshold=0.9,
                                      bucket_cap=None).collect()}
        assert matched == uncapped_matched
        # dedup_batch under the cap keeps only the novel vector
        clean = idx.dedup_batch(batch, threshold=0.9, bucket_cap=10)
        assert [r["vec_id"] for r in clean.collect()] == [200]
    finally:
        idx.drop()


@pytest.mark.slow
def test_embedding_index_bands_equivalence(spark):
    """A bands>1 index probe equals the cross-partition subset of the
    full-corpus banded cosine_near_duplicates run — the same
    equivalence chain the single-band index is locked to."""
    from pyspark.sql import functions as F

    from dlx_spark.operators.dedup_index import EmbeddingIndex

    df, _ = _diffuse_twins(spark, n_pairs=60)
    dim = 24
    corpus = df.filter(F.col("vec_id") % 2 == 0)
    batch = df.filter(F.col("vec_id") % 2 == 1)

    idx = EmbeddingIndex.create(corpus, "t_emb_banded", n_planes=7, bands=4)
    try:
        got = {(r["corpus_id"], r["batch_id"], round(r["cosine"], 6))
               for r in idx.probe(batch, threshold=0.85).collect()}
        full_rows = similarity.cosine_near_duplicates(
            df, threshold=0.85, n_planes=7, bands=4, dim=dim).collect()
        want = {(r["id_a"], r["id_b"], round(r["cosine"], 6))
                for r in full_rows
                if r["id_a"] % 2 == 0 and r["id_b"] % 2 == 1}
        want |= {(r["id_b"], r["id_a"], round(r["cosine"], 6))
                 for r in full_rows
                 if r["id_a"] % 2 == 1 and r["id_b"] % 2 == 0}
        assert got == want
        assert len(want) >= 30        # banded recall on diffuse twins
    finally:
        idx.drop()


def test_knn_join_bucket_budget_bounds_candidates_keeps_recall(spark, clustered):
    """The per-bucket candidate budget on knn_join: with a cap well
    above k the top-k quality on clustered data stays high (each
    cluster's bucket keeps enough sampled members), while a tiny cap
    provably bounds the per-bucket candidate contribution."""
    from pyspark.sql import functions as F

    probes = clustered.filter(F.col("vec_id") < 10)
    exact = similarity.knn_join(probes, clustered, k=3, n_planes=4,
                                dim=DIM).collect()
    budgeted = similarity.knn_join(probes, clustered, k=3, n_planes=4,
                                   dim=DIM, bucket_cap=25).collect()
    # same probes answered, k results each
    assert ({r["probe_id"] for r in budgeted}
            == {r["probe_id"] for r in exact})
    # quality metric, not identity: a tight cluster's members are nearly
    # equidistant, so the budget may return DIFFERENT members — but they
    # must be same-cluster and essentially as close as the exact top-k
    assert all(r["corpus_id"] // PER_CLUSTER == r["probe_id"] // PER_CLUSTER
               for r in budgeted)
    mean = lambda rows: sum(r["cosine"] for r in rows) / len(rows)
    assert mean(budgeted) >= mean(exact) - 0.005

    # hard bound: with bucket_cap=c, no probe can see more than c
    # candidates per bucket — verify via the capped-member helper
    capped = similarity.cap_bucket_members(
        similarity.lsh_buckets(clustered, n_planes=4, dim=DIM)
        .select(F.col("id").alias("corpus_id"), "bucket"),
        ["bucket"], "corpus_id", 25)
    sizes = [r["n"] for r in capped.groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert sizes and max(sizes) <= 25


# --------------------------------------------------------------------------
# SemDeDup (similarity.semdedup / semdedup_prune)
# --------------------------------------------------------------------------

def _leader_survivors_numpy(rows, tau):
    """Unclustered leader dedup in numpy: id survives iff no lower-id
    vector sits at cosine >= tau — the 1-cluster reference."""
    import numpy as np
    ids = [r[0] for r in rows]
    m = np.asarray([r[1] for r in rows], dtype=np.float64)
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cos = mn @ mn.T
    order = np.argsort(ids)
    out = []
    for pos_i, i in enumerate(order):
        if not any(cos[order[j], i] >= tau for j in range(pos_i)):
            out.append(ids[i])
    return sorted(out)


def test_semdedup_one_cluster_equals_unclustered_leader(clustered):
    """With a single k-means cluster the prune degenerates to global
    leader dedup — pinned against an independent numpy reference."""
    rows = [(r["vec_id"], list(r["embedding"]))
            for r in clustered.select("vec_id", "embedding").collect()]
    want = _leader_survivors_numpy(rows, tau=0.95)
    got = sorted(r["vec_id"] for r in similarity.semdedup(
        clustered, threshold=0.95, method="kmeans", n_clusters=1).collect())
    assert got == want and len(got) < len(rows)


def test_semdedup_leader_rule_properties(clustered):
    """Survivors and pruned partition the input; every pruned id has a
    lower-id same-cluster neighbor at cosine >= tau, every survivor has
    none — checked per cluster against numpy."""
    import numpy as np
    tau = 0.95
    out = similarity.semdedup(clustered, threshold=tau, method="kmeans",
                              n_clusters=4, seed=7)
    surv = {r["vec_id"]: r["cluster"] for r in out.collect()}
    all_ids = [r["vec_id"] for r in clustered.select("vec_id").collect()]
    assert set(surv) <= set(all_ids)

    cents = similarity.ivf_centroids(clustered, n_centroids=4, seed=7)
    assigned = {r["id"]: r["list_id"] for r in similarity.ivf_assign(
        clustered, cents).select("id", "list_id").collect()}
    rows = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in clustered.collect()}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / max(na * nb, 1e-12))

    for v in all_ids:
        leaders = [u for u in all_ids
                   if u < v and assigned[u] == assigned[v]
                   and cos(rows[u], rows[v]) >= tau]
        assert (v in surv) == (not leaders), v
    for v, c in surv.items():
        assert c == assigned[v]


def test_semdedup_hyperplane_deterministic_and_cap_monotone(clustered):
    """The oracle-checked hyperplane variant is run-to-run
    deterministic, and capping the leader side can only ADD survivors
    (fewer leaders => fewer prune opportunities, never different
    ones)."""
    a = sorted(r["vec_id"] for r in similarity.semdedup(
        clustered, threshold=0.9, method="hyperplane",
        n_clusters=8).collect())
    b = sorted(r["vec_id"] for r in similarity.semdedup(
        clustered, threshold=0.9, method="hyperplane",
        n_clusters=8).collect())
    assert a == b
    capped = sorted(r["vec_id"] for r in similarity.semdedup(
        clustered, threshold=0.9, method="hyperplane", n_clusters=8,
        cluster_cap=1).collect())
    assert set(a) <= set(capped)


def test_semdedup_unknown_method_raises(clustered):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="method"):
        similarity.semdedup(clustered, method="dbscan")
