"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      — brute-force exact top-k: a broadcast of the query
                         vector, JVM-side dot products via fused
                         ``aggregate(zip_with(...))``, and a global top-k
                         that aggregates per-partition heaps (orderBy+limit
                         is optimized by Spark into TakeOrdered — no full
                         sort shuffle).
- ``lsh_buckets`` /
  ``lsh_topk``         — random-hyperplane LSH: sign-bit signatures as a
                         bucket key; probes search only matching buckets.
                         This is the 100 TB path: the scan prunes to
                         matching buckets (partition the table by bucket
                         at write time to get partition pruning).
- ``knn_join``         — k nearest neighbors for EVERY row of a probe set
                         (bucketed equi-join + per-group top-k window).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from dlx_spark.operators.common import cached_expr, spread_for_compute


def _cosine_expr(vec_col: str, query: list[float]):
    """Cosine similarity between a column and a literal query vector,
    entirely in JVM expressions (no UDF)."""
    q = np.asarray(query, dtype=np.float64)
    qnorm = float(np.linalg.norm(q))
    qlit = "array(" + ",".join(f"CAST({x} AS DOUBLE)" for x in q.tolist()) + ")"
    dot = f"aggregate(zip_with({vec_col}, {qlit}, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    vnorm = f"sqrt(aggregate({vec_col}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    return cached_expr(f"{dot} / (greatest({vnorm}, 1e-12) * {qnorm if qnorm > 0 else 1e-12})")


def cosine_topk(df: DataFrame, query: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query``.
    Returns (id, cosine) ordered best-first."""
    return (
        spread_for_compute(df)
        .select(F.col(id_col).alias("id"), _cosine_expr(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def cosine_topk_from_row(df: DataFrame, query_row: DataFrame, k: int = 10,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         query_vec_col: str = "_qv") -> DataFrame:
    """``cosine_topk`` with the query vector attached IN-PLAN: a
    broadcast cross join of the one-row ``query_row`` frame
    (``query_vec_col`` holds the vector) instead of a driver-side
    ``collect`` of the vector followed by a literal-array plan.

    Same arithmetic as ``_cosine_expr`` (sequential zip_with dot /
    norms with the 1e-12 floor), so the cosine values are identical;
    the difference is purely operational — one Spark query instead of
    a fetch job plus the top-k job, which matters for latency-bound
    point lookups and keeps the query a single self-contained plan."""
    q = F.broadcast(query_row.select(F.col(query_vec_col).alias("_qv")))
    dot = (f"aggregate(zip_with({vec_col}, _qv, (x, y) -> CAST(x AS DOUBLE)"
           " * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    vnorm = (f"sqrt(aggregate({vec_col}, CAST(0.0 AS DOUBLE),"
             " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    qnorm = ("sqrt(aggregate(_qv, CAST(0.0 AS DOUBLE),"
             " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    cos = cached_expr(f"{dot} / (greatest({vnorm}, 1e-12)"
                 f" * greatest({qnorm}, 1e-12))")
    return (
        spread_for_compute(df)
        .crossJoin(q)
        .select(F.col(id_col).alias("id"), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal(size=(n_planes, dim))


# Chain-ordering key for capped mega-buckets: the dot product with one
# fixed seed-derived random direction, as a CONTINUOUS double.  Two
# near-duplicate vectors differ in projection by at most ||v1 - v2||
# (Cauchy-Schwarz against a unit direction), so they sort within an
# ε-interval with NO discrete cliff — a sign-bit ordering key can throw
# a cluster member far away on a single high-order bit flip, splitting
# the verified chain.  Foreign bucket members whose projections land
# inside a cluster's ε-interval can still interleave; the chain
# therefore links each row to its CHAIN_WINDOW nearest predecessors
# (sorted-neighborhood style), so a split needs CHAIN_WINDOW
# consecutive interleavers — rare, and band redundancy amplifies
# further.  Output stays linear: ≤ CHAIN_WINDOW pairs per row.
# Seed offset keeps the direction independent of the bucketing planes
# while staying deterministic from the caller's seed.
_ORDER_SEED_OFFSET = 7919
CHAIN_WINDOW = 3


def order_planes(dim: int, seed: int = 42) -> np.ndarray:
    """One unit-normalized ordering direction (kept as a 2-D (1, dim)
    array for symmetry with the bucketing plane family)."""
    p = hyperplanes(dim, 1, seed + _ORDER_SEED_OFFSET)
    return p / np.maximum(np.linalg.norm(p, axis=1, keepdims=True), 1e-12)


def _order_sig_expr(vec_col: str, oplanes: np.ndarray):
    """The chain-ordering projection ``<vec, direction>`` as a pure JVM
    DOUBLE expression."""
    plane = oplanes[0]
    plit = "array(" + ",".join(f"CAST({x} AS DOUBLE)" for x in plane.tolist()) + ")"
    return cached_expr(
        f"aggregate(zip_with({vec_col}, {plit}, (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def infer_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """Vector dimensionality: ``dim`` when given, else the length of the
    first row's vector (one ``first()`` job).  Raises ``ValueError``
    when that cannot be read: an empty frame or a NULL first vector."""
    if dim is not None:
        return dim
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError(f"cannot infer the dimension of {vec_col!r}: the "
                         "frame is empty or its first vector is NULL — "
                         "pass dim")
    return len(head[0])


def banded_lsh_keys(df: DataFrame, bands: int, n_planes: int, seed: int,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    dim: int | None = None) -> DataFrame:
    """(id, band, bucket) — banded random-hyperplane LSH keys, the
    embedding analog of minhash ``band_buckets``: ``bands`` independent
    bands of ``n_planes`` planes each (bands × n_planes planes total,
    one seeded family).  Two vectors are candidates when they agree on
    ALL planes of AT LEAST ONE band (OR-of-ANDs): ``n_planes`` per band
    sets precision (random-pair collision ≈ 2^-n_planes per band),
    ``bands`` sets recall — the scale-correct recall lever, costing one
    linear equi-join per band instead of multiprobe's combinatorial
    bucket explosion.  Pure per-row projection (posexplode of the band
    signature array); the only shuffles are whatever the consumer joins
    on."""
    dim = infer_dim(df, vec_col, dim)
    planes = hyperplanes(dim, bands * n_planes, seed)
    sigs = [_signature_expr(vec_col, planes[b * n_planes:(b + 1) * n_planes])
            for b in range(bands)]
    return df.select(F.col(id_col).alias("id"),
                     F.posexplode(F.array(*sigs)).alias("band", "bucket"))


def _signature_expr(vec_col: str, planes: np.ndarray):
    """Sign-bit signature of a vector column vs fixed hyperplanes, as one
    integer bucket key — pure JVM expressions."""
    bits = []
    for i, plane in enumerate(planes):
        plit = "array(" + ",".join(f"CAST({x} AS DOUBLE)" for x in plane.tolist()) + ")"
        dot = f"aggregate(zip_with({vec_col}, {plit}, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i}L ELSE 0L END)")
    return cached_expr(" + ".join(bits))


def lsh_buckets(df: DataFrame, n_planes: int = 16, seed: int = 42,
                vec_col: str = "embedding", id_col: str = "vec_id",
                dim: int | None = None) -> DataFrame:
    """Assign each vector a random-hyperplane bucket (id, bucket, vec).
    At scale, write this out partitioned/bucketed by ``bucket`` so probe
    queries prune partitions.

    Pass ``dim`` to keep plan construction action-free; the ``first()``
    probe is only a convenience fallback."""
    dim = infer_dim(df, vec_col, dim)
    planes = hyperplanes(dim, n_planes, seed)
    return spread_for_compute(df).select(F.col(id_col).alias("id"),
                     _signature_expr(vec_col, planes).alias("bucket"),
                     F.col(vec_col).alias("vec"))


def lsh_topk(df: DataFrame, query: list[float], k: int = 10, n_planes: int = 8,
             seed: int = 42, vec_col: str = "embedding", id_col: str = "vec_id",
             multiprobe_hamming: int = 1) -> DataFrame:
    """Approximate top-k: search only buckets within ``multiprobe_hamming``
    bit flips of the query's bucket.  With 8 planes and hamming 1 this
    scans ~9/256 of the data."""
    q = np.asarray(query, dtype=np.float64)
    planes = hyperplanes(len(q), n_planes, seed)
    qsig = 0
    for i, plane in enumerate(planes):
        if float(plane @ q) > 0:
            qsig |= 1 << i
    probe = {qsig}
    for h in range(multiprobe_hamming):
        probe |= {s ^ (1 << i) for s in list(probe) for i in range(n_planes)}

    bucketed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                         _signature_expr(vec_col, planes).alias("bucket"))
    return (
        bucketed.filter(F.col("bucket").isin(sorted(probe)))
        .select("id", _cosine_expr("vec", query.tolist() if hasattr(query, "tolist") else list(query)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def ivf_centroids(df: DataFrame, n_centroids: int = 16, iters: int = 5,
                  seed: int = 42, vec_col: str = "embedding",
                  sample_cap: int = 20_000) -> np.ndarray:
    """Train IVF coarse centroids: deterministic Lloyd's k-means on a
    bounded sample.

    Scale note (100 TB): k-means for a coarse quantizer only needs a
    representative sample, not the full table — ``sample_cap`` rows are
    pulled to the driver (a few MB for 64-dim vectors) and iterated in
    numpy.  The full-table pass happens once, in ``ivf_assign``, as an
    Arrow-batched map with the centroids broadcast.
    """
    n = df.count()
    frac = min(1.0, sample_cap / max(n, 1))
    sample = (df if frac >= 1.0 else df.sample(fraction=frac, seed=seed))
    vecs = np.asarray(
        [r[0] for r in sample.select(vec_col).limit(sample_cap).collect()],
        dtype=np.float64)
    if len(vecs) < n_centroids:
        raise ValueError(f"need >= {n_centroids} vectors to train, got {len(vecs)}")
    rng = np.random.RandomState(seed)
    cent = vecs[rng.choice(len(vecs), size=n_centroids, replace=False)]
    # assign: cosine distance == euclidean on normalized vectors
    vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(vn @ cn.T, axis=1)
        for c in range(n_centroids):
            members = vecs[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def _nearest_centroid_udf(centroids: np.ndarray, vec_col: str):
    """Arrow-batched nearest-centroid assignment (one numpy matmul per
    batch; centroids ride along in the serialized closure — a few KB)."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mn @ cn.T, axis=1).astype("int32"))

    return nearest(F.col(vec_col))


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Assign every vector its inverted-list id → (id, list_id, vec).

    At scale, write the result partitioned by ``list_id`` so a probe with
    nprobe lists prunes to nprobe/n_centroids of the data at the scan."""
    return spread_for_compute(df).select(F.col(id_col).alias("id"),
                     _nearest_centroid_udf(centroids, vec_col).alias("list_id"),
                     F.col(vec_col).alias("vec"))


def ivf_topk(df: DataFrame, query: list[float], k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, iters: int = 5,
             seed: int = 42, vec_col: str = "embedding",
             id_col: str = "vec_id",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k: rank only vectors in the ``nprobe``
    inverted lists nearest the query.  Pass precomputed ``centroids``
    (from ``ivf_centroids``) to skip training — at 100 TB the index is
    trained once and the assignment table is written out partitioned by
    list, so this becomes filter-pruned-scan + exact rerank."""
    if centroids is None:
        centroids = ivf_centroids(df, n_centroids=n_centroids, iters=iters,
                                  seed=seed, vec_col=vec_col)
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probe = [int(i) for i in np.argsort(-(cn @ qn))[:nprobe]]

    assigned = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    return (
        assigned.filter(F.col("list_id").isin(probe))
        .select("id", _cosine_expr("vec", [float(x) for x in q]).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def pairwise_cosine_expr(pvec: str = "pvec", cvec: str = "cvec") -> F.Column:
    """Cosine between two vector COLUMNS as a pure JVM expression (the
    shared rerank kernel of ``knn_join`` and the persisted-index probes,
    ``dedup_index.EmbeddingIndex.knn`` among them)."""
    dot = (f"aggregate(zip_with({pvec}, {cvec}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
           " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    norm = lambda v: (f"sqrt(aggregate({v}, CAST(0.0 AS DOUBLE),"
                      " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    return cached_expr(f"{dot} / (greatest({norm(pvec)}, 1e-12)"
                  f" * greatest({norm(cvec)}, 1e-12))")


def topk_per_probe(candidates: DataFrame, k: int) -> DataFrame:
    """Rerank candidate (probe_id, corpus_id, pvec, cvec) rows: exact
    cosine, row_number window per probe, keep the top k."""
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("corpus_id"))
    return (candidates.withColumn("cosine", pairwise_cosine_expr())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "corpus_id", "cosine", "rank"))


def multiprobe_masks(n_planes: int, hamming: int) -> list[int]:
    """All XOR masks within ``hamming`` bit flips of zero (including
    zero).  Combinatorial in ``hamming`` — the legacy recall knob for
    the single-band form; banding (``banded_lsh_keys``) is the
    scale-correct lever (linear cost per band)."""
    from itertools import combinations

    return [sum(1 << b for b in bits)
            for h in range(hamming + 1)
            for bits in combinations(range(n_planes), h)]


def cosine_pairs_from_keys(bb: DataFrame, vecs: DataFrame, threshold: float,
                           bucket_cap: int | None = 1000,
                           probe_masks: list[int] | None = None) -> DataFrame:
    """Verified cosine near-dup pairs from precomputed LSH state — the
    shared kernel of ``cosine_near_duplicates`` and the EmbeddingIndex
    intra-batch dedup.

    ``bb``:   (id, band, bucket) slim keys (``banded_lsh_keys``).
    ``vecs``: (id, vec, osig) — the vectors plus their chain-ordering
              signature (``_order_sig_expr`` over ``order_planes``).
              Referenced by several plan branches: pass a MATERIALIZED
              relation or the projection re-runs per branch.

    Returns (id_a, id_b, cosine), id_a < id_b, every pair verified by
    the exact cosine.  ``bucket_cap`` bounds mega-bucket expansion the
    same way ``minhash_pairs_from_signatures`` does: buckets up to the
    cap expand to all member pairs (in-expression, one groupBy shuffle);
    larger buckets emit a CHAIN of consecutive pairs in
    (order-signature, id) order, verified inline — near-identical
    vectors agree on ~all ordering sign bits, so each true near-dup
    sub-cluster forms a verified sub-chain while worst-case output and
    compute stay linear in the bucket size.  ``None`` = uncapped
    (exact w.r.t. the banding; the oracle-parity mode).

    ``probe_masks`` (single-band legacy multiprobe): nonzero XOR masks
    explode one side into neighboring buckets; those extra candidates
    flow through the small-bucket path only (a multiprobe edge INTO a
    mega-bucket is dropped — the chain already covers the bucket's own
    cohesion, and m × probe-row expansion is the exact blow-up the cap
    exists to prevent)."""
    if bucket_cap is None:
        big = None
        small = bb
    else:
        # ONE window shuffle sizes every bucket AND materializes the
        # (map-side expensive) signature projection once; the small-path
        # groupBy below reuses the (band, bucket) partitioning — the
        # agg+broadcast+anti formulation computed bb three times
        sized = bb.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket")))
        small = sized.filter(F.col("_n") <= int(bucket_cap)).drop("_n")
        big = sized.filter(F.col("_n") > int(bucket_cap)).drop("_n")

    a = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("pvec"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("cvec"))

    # small buckets: all member pairs via in-expression expansion (one
    # groupBy shuffle, output bounded by cap × rows), vectors joined
    # back by id for the verify
    grouped = (small.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("id")).alias("ids"))
               .filter(F.size("ids") > 1))
    expand = cached_expr("""
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids) - i - 1),
                    y -> named_struct('id_a', x, 'id_b', y))))""")
    cand = (grouped.select(F.explode(expand).alias("p"))
            .select("p.id_a", "p.id_b"))

    if probe_masks:
        # legacy multiprobe (single-band): explode one side into the
        # nonzero-XOR neighbor buckets, join against small buckets only
        nz = [m for m in probe_masks if m]
        l = bb.select(F.col("id").alias("id_a"), "band",
                      F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m))
                                          for m in nz])).alias("bucket"))
        r = small.select(F.col("id").alias("id_b"), "band", "bucket")
        cross = (l.join(r, ["band", "bucket"])
                 .filter(F.col("id_a") != F.col("id_b"))
                 .select(F.least("id_a", "id_b").alias("id_a"),
                         F.greatest("id_a", "id_b").alias("id_b")))
        cand = cand.unionByName(cross)

    small_pairs = (cand.distinct()
                   .join(a, "id_a").join(b, "id_b")
                   .withColumn("cosine", pairwise_cosine_expr())
                   .filter(F.col("cosine") >= threshold)
                   .select("id_a", "id_b", "cosine"))
    if big is None:
        return (small_pairs.groupBy("id_a", "id_b")
                .agg(F.max("cosine").alias("cosine")))

    # mega-buckets: each row pairs with its CHAIN_WINDOW predecessors in
    # (osig, id) order via lag() — no collect_list of the mega
    # membership, one window sort per bucket, verification inline (both
    # vectors already on the row), output ≤ CHAIN_WINDOW × bucket size
    mega = big
    w = Window.partitionBy("band", "bucket").orderBy("osig", "id")
    prevs = F.array(*[F.struct(F.lag("id", k).over(w).alias("pid"),
                               F.lag("vec", k).over(w).alias("pv"))
                      for k in range(1, CHAIN_WINDOW + 1)])
    chain_pairs = (
        mega.join(vecs, "id")
        .withColumn("_prevs", prevs)
        .select("id", "vec", F.explode("_prevs").alias("p"))
        .filter(F.col("p.pid").isNotNull())
        .select(F.least("p.pid", "id").alias("id_a"),
                F.greatest("p.pid", "id").alias("id_b"),
                F.col("p.pv").alias("pvec"), F.col("vec").alias("cvec"))
        .withColumn("cosine", pairwise_cosine_expr())
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine"))

    # a pair can surface through both paths (small bucket in one band,
    # capped in another) or several multiprobe buckets; cosine is a pure
    # function of the two vectors, so max() just deduplicates
    return (small_pairs.unionByName(chain_pairs)
            .groupBy("id_a", "id_b")
            .agg(F.max("cosine").alias("cosine")))


def cosine_near_duplicates(df: DataFrame, threshold: float = 0.9,
                           n_planes: int = 8, seed: int = 42,
                           vec_col: str = "embedding", id_col: str = "vec_id",
                           multiprobe_hamming: int = 0,
                           dim: int | None = None, bands: int = 1,
                           bucket_cap: int | None = 1000,
                           eager: bool = False,
                           auto_bypass_bytes: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine ≥ ``threshold`` among hyperplane-LSH candidates.  The
    embedding-side analog of ``minhash_near_duplicates``: candidate
    generation is a banded bucket equi-join (linear), verification is
    the exact cosine on the joined rows — every emitted pair is
    verified.

    Recall levers, in order of preference:

    - ``bands`` (OR-of-ANDs amplification, ``banded_lsh_keys``): b
      independent bands of ``n_planes`` planes — linear cost per band,
      tunable recall, the 100 TB path.
    - ``multiprobe_hamming`` (single-band only; raises with bands > 1):
      explodes candidates combinatorially — kept for parity with
      ``lsh_topk``'s probe semantics at small scale.

    ``bucket_cap`` (default 1000; ``None`` = uncapped, exact w.r.t. the
    banding) bounds mega-bucket expansion with inline-verified chain
    pairs in ordering-signature order — see ``cosine_pairs_from_keys``.
    With only 2^n_planes distinct buckets per band, a dense embedding
    region (boilerplate docs, near-constant vectors) WILL concentrate
    in one bucket; the cap keeps worst-case candidate output linear.

    Shares its hyperplane family with ``lsh_topk``/``knn_join``/
    ``EmbeddingIndex`` (same ``seed``; ``bands=1`` reproduces the
    single-signature family exactly).

    ``eager=True`` materializes the vector relation via an eager
    ``localCheckpoint`` instead of ``cache()`` — blocks are reclaimed on
    GC rather than pinned for the session, which matters for long-lived
    callers looping over corpora (same contract as
    ``minhash_near_duplicates(eager=)``).  ``auto_bypass_bytes``: the
    cap's small-input bypass horizon (``common.bypass_cap``); None =
    default, 0 = always cap."""
    from dlx_spark.operators.common import bypass_cap

    if bands > 1 and multiprobe_hamming:
        raise ValueError("multiprobe applies to the single-band form; "
                         "use bands for recall amplification instead")
    bucket_cap = bypass_cap(df, bucket_cap, auto_bypass_bytes)
    dim = infer_dim(df, vec_col, dim)
    bb = banded_lsh_keys(df, bands, n_planes, seed, vec_col, id_col, dim)
    # the kernel references vecs from several plan branches; the (lazy)
    # cache keeps the scan + osig projection from re-running per branch
    # without firing a job at plan-construction time
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                     _order_sig_expr(vec_col, order_planes(dim, seed)).alias("osig"))
    vecs = vecs.localCheckpoint(eager=True) if eager else vecs.cache()
    masks = (multiprobe_masks(n_planes, multiprobe_hamming)
             if multiprobe_hamming else None)
    return cosine_pairs_from_keys(bb, vecs, threshold, bucket_cap, masks)


def cap_bucket_members(df: DataFrame, bucket_cols: list[str], id_col: str,
                       cap: int) -> DataFrame:
    """Candidate-budget cap for top-k probe joins: keep at most ``cap``
    members per bucket, chosen in deterministic hash order (an unbiased
    fixed sample — FAISS-style list truncation).  Unlike the near-dup
    chain cap this DROPS candidates, trading bounded recall loss for a
    hard bound on the probe-set × mega-bucket join blow-up: the
    intermediate join output per bucket falls from |bucket| × |probes|
    to cap × |probes|.  One window sort per over-cap bucket, O(m log m)."""
    w = Window.partitionBy(*bucket_cols).orderBy(F.xxhash64(F.col(id_col)),
                                                 F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(cap)).drop("_rn"))


def knn_join(probes: DataFrame, corpus: DataFrame, k: int = 5,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 6, seed: int = 42,
             dim: int | None = None,
             bucket_cap: int | None = None) -> DataFrame:
    """For every probe row, its k nearest corpus rows by cosine.

    Bucketed equi-join on hyperplane signatures (both sides computed
    map-side) + per-probe top-k window.  Approximate: only same-bucket
    candidates are ranked; raise n_planes for precision/speed trade.

    ``bucket_cap`` bounds the candidate join against dense (mega)
    corpus buckets via ``cap_bucket_members`` — a per-bucket candidate
    BUDGET, not the near-dup chain (top-k needs the best candidates,
    not connectivity).  Off by default: capping can drop true
    neighbors, and the default contract is exact-w.r.t.-bucketing (the
    driver oracle).  At 100 TB, set it to a few × k × expected bucket
    occupancy so one boilerplate-dense region cannot quadratically
    dominate the probe join.

    Pass ``dim`` to keep plan construction action-free; the ``first()``
    probe is only a convenience fallback."""
    dim = infer_dim(corpus, vec_col, dim)
    planes = hyperplanes(dim, n_planes, seed)

    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pvec"),
                      _signature_expr(vec_col, planes).alias("bucket"))
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"),
                      _signature_expr(vec_col, planes).alias("bucket"))
    if bucket_cap is not None:
        c = cap_bucket_members(c, ["bucket"], "corpus_id", bucket_cap)
    joined = (p.join(c, "bucket")
              .filter(F.col("probe_id") != F.col("corpus_id")))
    return topk_per_probe(joined, k)


def semdedup_prune(assigned: DataFrame, threshold: float = 0.7,
                   id_col: str = "id", cluster_col: str = "cluster",
                   vec_col: str = "vec",
                   cluster_cap: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped to clusters.  A row is PRUNED iff a LOWER-id
    row in the SAME cluster has cosine ≥ ``threshold`` with it — the
    leader rule, a deterministic instance of the paper's
    keep-one-per-duplicate-ball choice (the test is against all cluster
    members, not just survivors, so the decision for each row is
    independent and the output is order-free).  Returns the SURVIVORS
    with their cluster ids.

    ``assigned`` is (id, cluster, vec) from either clustering the
    method is used with:

    - ``ivf_assign`` (seeded k-means coarse quantizer) — the paper's
      clustering; equivalence of the 1-cluster case to unclustered
      leader dedup is pytest-pinned.
    - ``lsh_buckets`` (seeded hyperplane signatures) — fully
      oracle-checkable (planes bake into SQL as literals), the
      driver-contract entry.

    100 TB shape: ONE cluster-keyed equi-join (both sides shuffle on
    the cluster id once); all-pairs work is bounded per cluster by the
    quantizer's cluster sizes — the entire point of SemDeDup vs global
    all-pairs.  A degenerate mega-cluster (boilerplate embeddings)
    still blows up quadratically: ``cluster_cap`` bounds the LEADER
    side per cluster via ``cap_bucket_members`` (deterministic hash
    sample — prune decisions then miss leaders beyond the cap, a
    bounded-recall trade exactly like ``knn_join``'s), or re-train
    with more centroids."""
    # three plan branches reference the assignment (leader side,
    # candidate side, anti-join left); the lazy cache keeps the
    # clustering — an Arrow-batched UDF for the k-means quantizer —
    # from re-running per branch (same contract as
    # cosine_near_duplicates' vector relation)
    assigned = assigned.cache()
    a = assigned.select(F.col(id_col).alias("_sd_lead"),
                        F.col(cluster_col).alias(cluster_col),
                        F.col(vec_col).alias("_sd_lvec"))
    if cluster_cap is not None:
        a = cap_bucket_members(a, [cluster_col], "_sd_lead", cluster_cap)
    b = assigned.select(F.col(id_col).alias(id_col),
                        F.col(cluster_col).alias(cluster_col),
                        F.col(vec_col).alias("_sd_vvec"))
    pruned = (a.join(b, cluster_col)
              .filter(F.col("_sd_lead") < F.col(id_col))
              .filter(pairwise_cosine_expr("_sd_lvec", "_sd_vvec")
                      >= float(threshold))
              .select(id_col).distinct())
    return (assigned.join(pruned, id_col, "left_anti")
            .select(id_col, cluster_col))


def semdedup(df: DataFrame, threshold: float = 0.7,
             method: str = "kmeans", n_clusters: int = 16,
             seed: int = 42, iters: int = 5,
             vec_col: str = "embedding", id_col: str = "vec_id",
             dim: int | None = None,
             centroids: "np.ndarray | None" = None,
             cluster_cap: int | None = None) -> DataFrame:
    """End-to-end SemDeDup over an embedding table: cluster, then prune
    within clusters at cosine ≥ ``threshold`` (``semdedup_prune``).
    Returns surviving (``id_col``, cluster) rows.

    ``method="kmeans"`` trains a seeded coarse quantizer on a capped
    driver sample (``ivf_centroids`` — pass ``centroids`` to reuse a
    trained family, the 100 TB path where the index is trained once)
    and assigns via one Arrow-batched map; ``method="hyperplane"``
    clusters by the seeded sign-bit signature (``lsh_buckets``,
    ``n_clusters`` rounded up to the next power of two) — pure JVM
    exprs, no Python, and the family the DuckDB oracle replays."""
    if method == "kmeans":
        if centroids is None:
            centroids = ivf_centroids(df, n_centroids=n_clusters,
                                      iters=iters, seed=seed,
                                      vec_col=vec_col)
        assigned = ivf_assign(df, centroids, vec_col=vec_col,
                              id_col=id_col)
        assigned = assigned.withColumnRenamed("list_id", "cluster")
    elif method == "hyperplane":
        n_planes = max(1, int(np.ceil(np.log2(max(n_clusters, 2)))))
        assigned = (lsh_buckets(df, n_planes=n_planes, seed=seed,
                                vec_col=vec_col, id_col=id_col, dim=dim)
                    .withColumnRenamed("bucket", "cluster"))
    else:
        raise ValueError(f"unknown semdedup method: {method!r}")
    out = semdedup_prune(assigned, threshold=threshold,
                         cluster_cap=cluster_cap)
    return out.withColumnRenamed("id", id_col)
