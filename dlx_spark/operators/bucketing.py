"""Storage-layout operators: the partition-pruned IVF index.

``write_ivf_index`` / ``probe_ivf_index`` materialize the IVF
inverted lists partitioned by ``list_id``, so a probe reads
nprobe/n_centroids of the data (the scan never opens the other
lists).  ``semdedup_index`` / ``semdedup_append`` run SemDeDup over
that layout.  Hyperplane-LSH top-k over persisted vectors is
``dedup_index.EmbeddingIndex.knn`` / ``topk``.

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
    # the survivors checkpoint is the only thing the returned frame
    # depends on: release the per-batch assignment cache on every
    # exit, so a long-lived streaming ingest does not accumulate one
    # pinned relation per micro-batch (a failed append included)
    try:
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
        # survivors plan must not be re-evaluated once its own rows are
        # in the index
        survivors = survivors.localCheckpoint(eager=True)
        to_append = survivors.select("id", F.col("cluster").alias("list_id"),
                                     "vec")
        if replay_safe:
            # idempotent append: a crashed attempt's rows stay, nothing
            # doubles
            indexed = get_backend().read(spark, name).select("id")
            to_append = to_append.join(indexed, "id", "left_anti")
        get_backend().append(to_append, name, partition_cols=["list_id"])
    finally:
        assigned.unpersist()
    return survivors.select(F.col("id").alias(id_col), "cluster",
                            F.col("vec").alias(vec_col))
