"""Storage-layout operators: partition-pruned ANN indexes.

The 100 TB playbook the rest of the engine assumes:

- ``write_lsh_index`` / ``probe_lsh_index`` — materialize the
  hyperplane-LSH bucket assignment partitioned BY BUCKET, so a top-k
  probe prunes to the multiprobe bucket set at the file listing (the
  scan never opens non-matching partitions).
- ``write_ivf_index`` / ``probe_ivf_index`` — same for IVF inverted
  lists: partitioned by ``list_id``, probes read nprobe/n_centroids of
  the data.

All index storage routes through the tableio backend (the same one the
incremental dedup indexes use): indexes are named partitioned tables,
not raw paths, so ``refresh_ivf_index``'s full-index rewrite is one
backend ``rewrite`` — one manifest commit, readers hold snapshots
across it, and a concurrent ``append_ivf_index`` (whose rows were
assigned under the OLD centroids) fails the refresh instead of being
silently lost.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from dlx_spark import tableio
from dlx_spark.tableio import get_backend
from dlx_spark.operators import similarity


def _check_name(name: str) -> None:
    if "/" in name or ":" in name:
        raise ValueError(
            f"{name!r} looks like a filesystem path; the ANN index layouts "
            "are tables routed through the tableio backend "
            "(pass a table name — see README 'Notable behavior changes')")


def write_lsh_index(df: DataFrame, name: str, n_planes: int = 8,
                    seed: int = 42, vec_col: str = "embedding",
                    id_col: str = "vec_id", dim: int | None = None,
                    bands: int = 1) -> None:
    """Materialize the LSH bucket table (catalog table ``name``, via the
    tableio backend) partitioned by (band, bucket): a probe filtering
    on the partition columns prunes at the listing — at 2^n_planes
    buckets per band, a single-bucket probe reads 1/2^n_planes of one
    band's copy.

    ``bands`` > 1 writes the banded (OR-of-ANDs) layout: each vector is
    stored once PER BAND (the classic LSH-forest storage trade — bands×
    bytes for banded recall at probe time, each band still
    partition-pruned).  Keep ``bands=1`` when multiprobe recall
    suffices; use bands when the corpus is diffuse and multiprobe's
    combinatorial bucket fan-out gets too wide."""
    _check_name(name)
    dim = _infer_dim(df, vec_col, dim)
    # band keys and payload in ONE per-row projection (posexplode of the
    # band signature array) — joining slim keys back to the vectors
    # would pay a corpus-sized shuffle for rows a projection produces
    rows = _lsh_rows(df, n_planes, seed, vec_col, id_col, dim, bands)
    get_backend().write(rows, name, partition_cols=["band", "bucket"])


def _lsh_rows(df: DataFrame, n_planes: int, seed: int, vec_col: str,
              id_col: str, dim: int, bands: int) -> DataFrame:
    """The LSH bucket-table projection shared by write and append:
    band keys and payload in ONE per-row projection (posexplode of the
    band signature array) — joining slim keys back to the vectors
    would pay a corpus-sized shuffle for rows a projection produces."""
    planes = similarity.hyperplanes(dim, bands * n_planes, seed)
    sigs = [similarity._signature_expr(
        vec_col, planes[b * n_planes:(b + 1) * n_planes])
        for b in range(bands)]
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                     F.posexplode(F.array(*sigs)).alias("band", "bucket"))


def append_lsh_index(df: DataFrame, name: str, n_planes: int = 8,
                     seed: int = 42, vec_col: str = "embedding",
                     id_col: str = "vec_id", dim: int | None = None,
                     bands: int = 1) -> None:
    """Incrementally add vectors to a written LSH index (the fast
    ingest path, the analog of ``append_ivf_index``).  The hyperplane
    family is a pure function of (seed, dim, bands × n_planes), so new
    rows bucket identically to the original write — pass the SAME
    geometry arguments or the index becomes silently unprobeable.
    Unlike IVF there is no trained quantizer to drift, so LSH appends
    never need a refresh; each append adds a scan root until a fold
    merges them (the backend's appends fold at ``AUTO_COMPACT_AT``
    segments)."""
    _check_name(name)
    dim = _infer_dim(df, vec_col, dim)
    rows = _lsh_rows(df, n_planes, seed, vec_col, id_col, dim, bands)
    get_backend().append(rows, name, partition_cols=["band", "bucket"])


def _infer_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality: the caller's value, else the first row's
    — shared by the write and append index paths so a fix to the
    inference can never apply to one and silently drift the other."""
    if dim is not None:
        return dim
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("df is empty (or its first vector is NULL) and "
                         "dim was not provided")
    return len(head[0])


def _resolve_multiprobe(multiprobe_hamming: int | None, bands: int) -> int:
    """``None`` (the probe defaults) resolves to hamming-1 for
    single-band layouts and 0 for banded layouts — the two recall
    levers are mutually exclusive, and a banded call must not trip over
    the single-band convenience default."""
    if multiprobe_hamming is None:
        return 1 if bands == 1 else 0
    if bands > 1 and multiprobe_hamming:
        raise ValueError("multiprobe applies to single-band indexes; "
                         "use bands for recall")
    return multiprobe_hamming


def _query_band_buckets(query, n_planes: int, seed: int, bands: int,
                        multiprobe_hamming: int | None) -> list[tuple[int, int]]:
    """Driver-side (band, bucket) probe set for a query vector — the
    planes are seeded, so this is pure arithmetic, no Spark job."""
    multiprobe_hamming = _resolve_multiprobe(multiprobe_hamming, bands)
    q = np.asarray(query, dtype=np.float64)
    planes = similarity.hyperplanes(len(q), bands * n_planes, seed)
    out = []
    for b in range(bands):
        sig = 0
        for i, plane in enumerate(planes[b * n_planes:(b + 1) * n_planes]):
            if float(plane @ q) > 0:
                sig |= 1 << i
        probe = {sig}
        for _ in range(multiprobe_hamming):
            probe |= {s ^ (1 << i) for s in list(probe)
                      for i in range(n_planes)}
        out.extend((b, p) for p in sorted(probe))
    return out


def probe_lsh_index(spark: SparkSession, name: str, query: list[float],
                    k: int = 10, n_planes: int = 8, seed: int = 42,
                    multiprobe_hamming: int | None = None,
                    bands: int = 1) -> DataFrame:
    """Top-k over a written LSH index: compute the probe (band, bucket)
    set driver-side (hyperplanes are seeded), filter on the PARTITION
    columns so only matching directories are scanned, exact-rerank the
    survivors.  ``bands`` must match the written layout;
    ``multiprobe_hamming`` defaults to 1 on single-band layouts and 0
    on banded ones (the levers are mutually exclusive).  Indexes
    written by the pre-banding layout (no ``band`` partition column)
    are read as band 0."""
    _check_name(name)
    pairs = _query_band_buckets(query, n_planes, seed, bands,
                                multiprobe_hamming)
    idx = get_backend().read(spark, name)
    if "band" not in idx.columns:       # pre-banding layout
        if bands > 1:
            raise ValueError(f"index {name} has no band column "
                             "(pre-banding layout) — rewrite it with "
                             "write_lsh_index(bands=...) to probe banded")
        idx = idx.withColumn("band", F.lit(0))
    cond = None
    for b, p in pairs:
        leg = (F.col("band") == b) & (F.col("bucket") == p)
        cond = leg if cond is None else (cond | leg)
    idx = idx.filter(cond)
    if bands > 1:
        # a vector can surface through several bands; fold before rerank
        idx = idx.select("id", "vec").dropDuplicates(["id"])
    q = [float(x) for x in query]
    return (idx.select("id", similarity._cosine_expr("vec", q).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(k))


def knn_join_lsh_index(spark: SparkSession, name: str, probes: DataFrame,
                       k: int = 5, n_planes: int = 8, seed: int = 42,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       multiprobe_hamming: int | None = None,
                       dim: int | None = None,
                       bucket_cap: int | None = None,
                       bands: int = 1) -> DataFrame:
    """k nearest INDEXED rows for every probe row — the batch/incremental
    form of ``probe_lsh_index``, against a ``write_lsh_index`` layout.

    Each probe's bucket (plus every bucket within ``multiprobe_hamming``
    bit flips) is computed map-side and exploded; the (small) probe side
    is broadcast into a join on the index's PARTITION column, so Spark's
    dynamic partition pruning skips non-matching bucket directories at
    the file scan — the per-batch cost tracks the probe set's bucket
    coverage, not the index size.  Exact cosine rerank per candidate,
    top-k per probe.

    This is the embedding-side analog of the MinHash incremental dedup
    probe (operators/dedup_index.py): index once, probe each increment.

    Recall tracks how clustered the data is: on near-uniform random
    embeddings a tight bucket grid misses true neighbors (measured on
    the driver's synthetic embeddings: recall@1 of 0 / 0.4 / 0.7 at
    hamming 0/1/2 with 4 planes) — use fewer planes and a wider
    multiprobe there, more planes on clustered real-world embeddings.
    """
    from itertools import combinations
    from math import comb

    _check_name(name)
    multiprobe_hamming = _resolve_multiprobe(multiprobe_hamming, bands)
    n_masks = sum(comb(n_planes, i) for i in range(multiprobe_hamming + 1))
    if n_masks > 4096:
        raise ValueError(
            f"multiprobe expansion of {n_masks} buckets per probe is "
            "degenerate — lower multiprobe_hamming or n_planes")
    masks = [sum(1 << b for b in bits)
             for h in range(multiprobe_hamming + 1)
             for bits in combinations(range(n_planes), h)]

    if dim is None:
        head = probes.select(vec_col).first()
        if head is None:
            raise ValueError("probes is empty and dim was not provided")
        dim = len(head[0])
    planes = similarity.hyperplanes(dim, bands * n_planes, seed)
    sigs = [similarity._signature_expr(
        vec_col, planes[b * n_planes:(b + 1) * n_planes])
        for b in range(bands)]

    p = probes.select(F.col(id_col).alias("probe_id"),
                      F.col(vec_col).alias("pvec"),
                      F.posexplode(F.array(*sigs)).alias("band", "b0"))
    if multiprobe_hamming:
        p = (p.withColumn("bucket", F.explode(F.array(
            *[F.col("b0").bitwiseXOR(F.lit(m)) for m in masks])))
            .drop("b0"))
    else:
        p = p.withColumnRenamed("b0", "bucket")

    idx = get_backend().read(spark, name)
    if "band" not in idx.columns:       # pre-banding layout
        if bands > 1:
            raise ValueError(f"index {name} has no band column "
                             "(pre-banding layout) — rewrite it with "
                             "write_lsh_index(bands=...) to probe banded")
        idx = idx.withColumn("band", F.lit(0))
    idx = idx.select(F.col("id").alias("corpus_id"),
                     F.col("vec").alias("cvec"), "band", "bucket")
    # ``bucket_cap``: per-bucket candidate budget against dense regions
    # (see similarity.knn_join) — bounds the probe-set × mega-bucket
    # intermediate at the cost of possible recall, so off by default.
    # Applied AFTER pruning to the probed buckets (semi-join on the
    # broadcast probe keys preserves partition pruning): the rank order
    # within a bucket is a pure function of its members, so capping the
    # surviving buckets equals capping everything — without a
    # full-index window shuffle
    if bucket_cap is not None:
        idx = idx.join(F.broadcast(p.select("band", "bucket").distinct()),
                       ["band", "bucket"], "left_semi")
        idx = similarity.cap_bucket_members(idx, ["band", "bucket"],
                                            "corpus_id", bucket_cap)
    # same self-match rule as knn_join (its pytest oracle): re-probing an
    # already-indexed row must not spend a result slot on itself
    joined = (idx.join(F.broadcast(p), ["band", "bucket"])
              .filter(F.col("probe_id") != F.col("corpus_id")))
    if bands > 1:
        # a candidate can surface through several bands; fold before the
        # rank window (duplicate rows would occupy duplicate ranks)
        joined = joined.dropDuplicates(["probe_id", "corpus_id"])
    return similarity.topk_per_probe(joined, k)


def write_ivf_index(df: DataFrame, name: str, centroids: np.ndarray,
                    vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Materialize the IVF assignment partitioned by inverted list
    (catalog table ``name`` via the tableio backend)."""
    _check_name(name)
    assigned = similarity.ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    get_backend().write(assigned, name, partition_cols=["list_id"])


def append_ivf_index(df: DataFrame, name: str, centroids: np.ndarray,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Incrementally add vectors to a written IVF index using the
    EXISTING centroids (an Arrow-batched assignment + partitioned
    append; no retraining, no rewrite of existing lists).

    This is the fast ingest path, and it is exactly how an IVF layout
    drifts: centroids trained on last month's distribution quantize a
    shifted corpus badly (new-region vectors pile into whichever old
    lists are least-wrong, so probes either miss them or must raise
    nprobe).  Run ``refresh_ivf_index`` on a maintenance cadence — the
    OPTIMIZE analog for the ANN layer."""
    _check_name(name)
    assigned = similarity.ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    get_backend().append(assigned, name, partition_cols=["list_id"])


def refresh_ivf_index(spark: SparkSession, name: str, n_centroids: int = 16,
                      iters: int = 5, seed: int = 42,
                      sample_cap: int = 20_000) -> np.ndarray:
    """Re-train the coarse quantizer on a fresh sample of the CURRENT
    index contents and rewrite the assignment partitioned by the new
    lists; returns the new centroids (probes need them — persist
    alongside the index).

    One full-index backend ``rewrite`` — the same one-commit rewrite
    every index fold and re-derive in the engine uses (compaction,
    rebucket): readers hold snapshots across it, and a crash before its
    manifest commit leaves the index as it was (the orphan segment is
    vacuum's).  A concurrent ``append_ivf_index`` does NOT commute with
    re-quantization (its rows were assigned under the old centroids and
    would be silently unfindable), so the commit requires the index to
    be exactly the snapshot the assignment was derived from and raises
    ``tableio.ConcurrentWriteError`` otherwise — the caller re-runs over
    the grown index (same rule as ``EmbeddingIndex.rebucket``)."""
    _check_name(name)
    be = get_backend()
    token = be.snapshot_token(spark, name)
    cur = be.read(spark, name).select(F.col("id").alias("vec_id"),
                                      F.col("vec").alias("embedding"))
    cents = similarity.ivf_centroids(cur, n_centroids=n_centroids, iters=iters,
                                     seed=seed, vec_col="embedding",
                                     sample_cap=sample_cap)
    assigned = similarity.ivf_assign(cur, cents, vec_col="embedding",
                                     id_col="vec_id")
    if not be.rewrite(assigned, name, token, exact=True):
        raise tableio.ConcurrentWriteError(
            f"refresh_ivf_index({name}): the index was appended to while "
            f"re-quantizing — re-run the refresh")
    return cents


def probe_ivf_index(spark: SparkSession, name: str, centroids: np.ndarray,
                    query: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
    """Top-k over a written IVF index: rank centroids driver-side (a few
    KB), scan only the nprobe nearest list partitions, exact-rerank."""
    _check_name(name)
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probe = [int(i) for i in np.argsort(-(cn @ qn))[:nprobe]]

    idx = get_backend().read(spark, name).filter(F.col("list_id").isin(probe))
    return (idx.select("id", similarity._cosine_expr("vec", [float(x) for x in q])
                       .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(k))


def semdedup_index(spark: SparkSession, name: str,
                   threshold: float = 0.7,
                   cluster_cap: int | None = None) -> DataFrame:
    """SemDeDup over a WRITTEN IVF index — the deployment shape at
    100 TB: the quantizer is trained once, the assignment table is
    persisted partitioned by ``list_id``, and the prune
    (``similarity.semdedup_prune``: drop a vector iff a lower-id
    vector in the same inverted list sits at cosine ≥ ``threshold``)
    runs as ONE list-keyed equi-join over the index — the clustering
    pass costs nothing at prune time (no re-assignment, no UDF), and
    the join's both sides scan list-partitioned parquet, so the
    shuffle is by an already-materialized partition key.  Returns the
    surviving (vec_id, cluster) rows — identical to
    ``similarity.semdedup`` with the same centroids by construction
    (pytest-pinned)."""
    _check_name(name)
    assigned = get_backend().read(spark, name).select(
        "id", F.col("list_id").alias("cluster"), "vec")
    out = similarity.semdedup_prune(assigned, threshold=threshold,
                                    cluster_cap=cluster_cap)
    return out.select(F.col("id").alias("vec_id"), "cluster")


def semdedup_append(spark: SparkSession, name: str, batch: DataFrame,
                    centroids: np.ndarray, threshold: float = 0.7,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    replay_safe: bool = False) -> DataFrame:
    """ONLINE SemDeDup ingest over a written IVF index: assign the
    batch with the EXISTING centroids (no retraining — exactly
    ``append_ivf_index``'s drift trade), prune each new vector that
    sits at cosine ≥ ``threshold`` to (a) any index member in its
    inverted list or (b) a lower-id batch row in the same list, append
    only the survivors, and return them as (``id_col``, cluster,
    ``vec_col``).

    This is leader/online clustering semantics — every KEPT vector is
    a leader and new arrivals within τ of a leader are dropped — which
    differs from batch SemDeDup over the union corpus: the batch rule
    tests against ALL points (pruned ones included), the online rule
    only against what the index kept.  When an ingest's history had no
    prunes the two coincide (pytest-pinned); per-batch cost is one
    list-keyed equi-join against list-partitioned parquet + the
    batch-internal prune — the corpus is never re-scanned unpartitioned
    and never re-assigned.

    ``replay_safe=True`` is the at-least-once stream mode (the
    ``dedup_batch`` contract the streaming sinks require): index rows
    whose id is one of this batch's own are ignored (a crashed prior
    attempt may have appended this very batch — pruning against its
    own survivors would wrongly empty the replay), and the append
    skips ids already indexed, so a replay returns the first attempt's
    survivors and leaves the index unchanged.  Requires ids unique
    across the stream's lifetime, like ``MinHashIndex.dedup_batch``."""
    _check_name(name)
    assigned = similarity.ivf_assign(batch, centroids, vec_col=vec_col,
                                     id_col=id_col).withColumnRenamed(
                                         "list_id", "cluster").cache()
    existing = get_backend().read(spark, name)
    if replay_safe:
        existing = existing.join(assigned.select("id"), "id", "left_anti")
    near_existing = (assigned.join(
        existing.select(F.col("list_id").alias("cluster"),
                        F.col("vec").alias("_sd_lvec")), "cluster")
        .filter(similarity.pairwise_cosine_expr(
            "_sd_lvec", "vec") >= float(threshold))
        .select("id").distinct())
    batch_kept = similarity.semdedup_prune(assigned,
                                           threshold=threshold)
    survivors = (batch_kept.join(near_existing, "id", "left_anti")
                 .join(assigned.select("id", "vec"), "id"))
    # PIN the survivor set before the append: the replay_safe
    # idempotence read below resolves the index again, and a lazy
    # survivors plan must not be re-evaluated once its own rows are in
    # the index
    survivors = survivors.localCheckpoint(eager=True)
    to_append = survivors.select("id", F.col("cluster").alias("list_id"),
                                 "vec")
    if replay_safe:
        # idempotent append: a crashed attempt's rows stay, nothing doubles
        indexed = get_backend().read(spark, name).select("id")
        to_append = to_append.join(indexed, "id", "left_anti")
    get_backend().append(to_append, name, partition_cols=["list_id"])
    # the survivors checkpoint is the only thing the returned frame
    # depends on: release the per-batch assignment cache so a
    # long-lived streaming ingest does not accumulate one pinned
    # relation per micro-batch
    assigned.unpersist()
    return survivors.select(F.col("id").alias(id_col), "cluster",
                            F.col("vec").alias(vec_col))
