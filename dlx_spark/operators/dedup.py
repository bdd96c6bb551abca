"""Deduplication operators.

Four families, each designed for 100 TB-scale execution:

- exact            — hash-groupBy on a content digest (one shuffle on the
                     digest; partial aggregation keeps it light)
- minhash + LSH    — shingle → minhash signature (pure map, all JVM-side
                     expressions) → banded bucket join (shuffle only on
                     (band, bucket-hash) keys, so candidate generation is
                     linear, never O(n²))
- simhash          — per-row fingerprint as a pure JVM expression tree
                     (no shuffle and no Python worker for fingerprinting;
                     hamming-join by rotating band keys for candidates)
- n-gram Jaccard   — blocked self-join on cheap keys, exact Jaccard on
                     token sets for verification

All operators take/return DataFrames and never collect to the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from dlx_spark.functions.tokenizer import PUNCT_CLASS_JAVA
from dlx_spark.operators.common import (bypass_cap, cached_expr, observed,
                                        spread_for_compute, sql_over)

# a large 32-bit prime for the minhash permutation family
_MERSENNE = (1 << 31) - 1


def _require_col_name(name, value) -> None:
    """Column-name params must be strings: a positional mix-up (e.g.
    ``simhash_near_duplicates(df, 3)`` putting max_hamming into
    text_col) otherwise constant-folds ``lower(3)`` into the SAME
    fingerprint/signature for every row — silent garbage (every pair
    becomes a 'duplicate') instead of an error."""
    if not isinstance(value, str):
        raise TypeError(
            f"{name} must be a column name (str), got {value!r} — "
            "check positional arguments")


def normalized_text(col):
    """lower + collapse punctuation/whitespace — the canonical form used
    by every dedup family so they agree on what 'same content' means."""
    if not isinstance(col, (str, F.Column)):
        _require_col_name("text_col", col)
    return F.trim(F.regexp_replace(F.lower(col), PUNCT_CLASS_JAVA + "+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates by md5 of normalized text.

    Returns (digest, n_dups, keep_id, dup_ids): one row per duplicated
    digest; ``keep_id`` = min id (the canonical survivor).
    Single shuffle on the digest key; md5 is computed JVM-side.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.md5(normalized_text(F.col(text_col))).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.min("id").alias("keep_id"),
             F.sort_array(F.collect_list("id")).alias("dup_ids"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct normalized text: the
    hash-groupBy dedup. Implemented as a window-free min-id semi-join so
    partial aggregation applies."""
    keep = (
        df.select(F.col(id_col).alias("_kid"), F.md5(normalized_text(F.col(text_col))).alias("_digest"))
        .groupBy("_digest").agg(F.min("_kid").alias("_kid"))
    )
    return df.join(keep, on=F.col(id_col) == F.col("_kid"), how="leftsemi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _toks_sql(text_sql: str, normalize: bool) -> str:
    """SQL text for the canonical token array over a text expression —
    the exact SQL form of ``split(normalized_text(col), ' ')`` (the
    punctuation class is embedded with doubled backslashes so the SQL
    string literal hands the Java regex engine the same ``\\uXXXX``
    escapes the Column form does)."""
    if not normalize:
        return f"split({text_sql}, ' ')"
    punct = PUNCT_CLASS_JAVA.replace("\\", "\\\\")
    return (f"split(trim(regexp_replace(lower({text_sql}), '{punct}+', ' ')),"
            " ' ')")


def _shingle_sql(n: int) -> str:
    """SQL text for the shingle-hash array over a bound ``toks`` column.
    Shingle hash = first 32 bits of md5 (via conv), not Spark's murmur
    hash(): md5 exists identically in every engine, which makes the
    downstream minhash signatures oracle-checkable cross-engine."""
    return (f"array_distinct(transform("
            f"sequence(0, greatest(size(toks) - {n}, 0)), "
            f"i -> cast(conv(substring(md5(array_join(slice(toks, i + 1, {n}), ' ')), "
            f"1, 8), 16, 10) as bigint)))")


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3,
                  normalize: bool = True) -> DataFrame:
    """(id, sh: array<int>) — word n-gram shingles as 32-bit hashes.
    Pure projection (JVM expressions only).  ``normalize=False`` splits
    on plain spaces (engine-parity mode for oracle checks)."""
    _require_col_name("text_col", text_col)
    _require_col_name("id_col", id_col)
    return sql_over(df, f"""
        SELECT id, {_shingle_sql(n)} AS sh
        FROM (SELECT `{id_col}` AS id,
                     {_toks_sql(f'`{text_col}`', normalize)} AS toks
              FROM {{src}})""")


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 64, shingle_n: int = 3, seed: int = 42,
                       normalize: bool = True) -> DataFrame:
    """(id, sig: array<long>) — minhash signature per row.

    The permutation family h_i(x) = (a_i·x + b_i) mod p is generated
    deterministically from ``seed``; each signature element is an
    ``array_min`` over the shingle hashes — a pure per-row projection in
    whole-stage codegen.  (An explode + groupBy(id) formulation computes
    the same minima but pays a shuffle on id; at cluster scale that
    shuffle is the whole cost.)  The only exchange this stage can emit
    is spread_for_compute's round-robin widening of a narrow local scan.
    """
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes).tolist()
    b = rng.randint(0, _MERSENNE, size=num_hashes).tolist()

    # the whole signature as ONE zip_with over the (a, b) literal arrays
    # instead of num_hashes separate column expressions: the per-row
    # arithmetic is identical (each position i is still
    # min over xs of (a_i·x + b_i) mod p), but the expression tree
    # shrinks from 64 projection columns to one — and the shingle/xs
    # input appears exactly once, so no projection collapse can ever
    # duplicate the md5 pass
    a_lit = "array(" + ",".join(f"{ai}L" for ai in a) + ")"
    b_lit = "array(" + ",".join(f"{bi}L" for bi in b) + ")"
    # the staged subqueries below are the SQL form of the previous
    # word_shingles → xs → sig op chain, analyzed in one pass
    # (sql_over); each stage still materializes its column once per row
    # exactly as the op chain did.  Notes carried over:
    # - word_shingles always yields ≥1 element (NULL text hashes as one
    #   NULL shingle), but guard NULL/empty anyway: array_min over an
    #   empty array would silently produce an all-NULL signature if the
    #   shingling ever changed
    # - reduce x mod p ONCE in xs, not inside each of the 64 min-exprs:
    #   a < 2^31 times an unreduced x < 2^32 sits right at the signed-64
    #   edge (ANSI overflow); a * (x mod p) stays <= 2^62 in every engine
    return sql_over(spread_for_compute(df), f"""
        SELECT id, zip_with({a_lit}, {b_lit},
                 (a, b) -> array_min(transform(xs, x -> pmod(a * x + b, {_MERSENNE}L)))) AS sig
        FROM (SELECT id,
                     transform(CASE WHEN sh IS NULL OR size(sh) = 0 THEN array(0L) ELSE sh END,
                               x -> pmod(coalesce(x & 4294967295, 0), {_MERSENNE}L)) AS xs
              FROM (SELECT id, {_shingle_sql(shingle_n)} AS sh
                    FROM (SELECT `{id_col}` AS id,
                                 {_toks_sql(f'`{text_col}`', normalize)} AS toks
                          FROM {{src}})))""")


def band_buckets(signatures: DataFrame, bands: int = 16) -> DataFrame:
    """(id, band, bucket) — the banded LSH keys for each signature: the
    signature is cut into ``bands`` equal slices and each slice is
    hashed to one bucket key.  Pure flat-map (posexplode of a per-row
    transform); the shared primitive behind ``lsh_candidate_pairs`` and
    the persisted incremental index (operators/dedup_index.py)."""
    return signatures.select(
        "id",
        F.posexplode(_band_hash_expr("sig", bands)).alias("band", "bucket"),
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16,
                        bucket_cap: int | None = None,
                        mark_capped: bool = False) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` slices, bucket-join
    on (band_idx, slice-hash).  Returns candidate (id_a, id_b) pairs
    (id_a < id_b), deduplicated.

    The only shuffle keys are the band buckets — identical rows collide,
    unrelated rows almost never do, so this stays near-linear at 100 TB
    with one caveat: a MEGA-BUCKET (m near-identical docs sharing a band
    slice) expands to m²/2 pairs, and AQE skew splitting does NOT save
    it — skew detection looks at the join's INPUT partition sizes, and a
    mega-bucket's input rows are kilobytes; the blow-up is in the output.
    ``bucket_cap`` is the scale lever: buckets larger than the cap emit a
    STAR (min-id representative ↔ each member, m−1 pairs) instead of the
    full m²/2 expansion.  For transitive-closure consumers
    (connected_components / dedup_clusters / dedup_near) the star is
    exactly equivalent — every bucket member stays connected — while the
    worst-case output drops from quadratic to linear.  Pair-level
    consumers that re-verify similarity see member↔representative pairs
    for capped buckets rather than all member↔member pairs —
    ``mark_capped=True`` adds a ``capped`` column (true when the pair's
    only evidence is a capped bucket's star) so consumers can tell
    connectivity edges from genuine co-bucket pairs.  NOTE: exempting
    capped edges from similarity verification links dissimilar docs that
    merely collide on one band slice — ``minhash_near_duplicates``
    therefore does NOT use this star for its capped mode; it emits
    verified chain edges in signature order instead.  The star here is
    for candidate-level/connectivity-only consumers (e.g. bucket-size
    probes) where no verification follows.
    """
    banded = band_buckets(signatures, bands)
    if bucket_cap is None:
        left = banded.alias("l")
        right = banded.alias("r")
        out = (
            left.join(right, on=[F.col("l.band") == F.col("r.band"),
                                 F.col("l.bucket") == F.col("r.bucket"),
                                 F.col("l.id") < F.col("r.id")])
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
        return out.withColumn("capped", F.lit(False)) if mark_capped else out

    # capped mode trades the self-join for ONE groupBy shuffle: each
    # bucket's sorted member list expands in-expression — all pairs when
    # small, the min-id star when over the cap.  (A bucket's list row is
    # linear in its membership; the quadratic blow-up never materializes.)
    grouped = (banded.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("id")).alias("ids"))
               .filter(F.size("ids") > 1))
    pairs = cached_expr(f"""
        CASE WHEN size(ids) <= {int(bucket_cap)} THEN
          flatten(transform(ids, (x, i) ->
            transform(slice(ids, i + 2, size(ids) - i - 1),
                      y -> named_struct('id_a', x, 'id_b', y, 'capped', false))))
        ELSE
          transform(slice(ids, 2, size(ids) - 1),
                    y -> named_struct('id_a', element_at(ids, 1), 'id_b', y,
                                      'capped', true))
        END""")
    exploded = (grouped.select(F.explode(pairs).alias("p"))
                .select("p.id_a", "p.id_b", "p.capped"))
    if not mark_capped:
        return exploded.select("id_a", "id_b").distinct()
    # a pair seen in any small bucket is genuinely verifiable; it is a
    # pure connectivity edge only when EVERY sighting was a capped star
    return (exploded.groupBy("id_a", "id_b")
            .agg(F.min("capped").alias("capped")))


def lsh_verified_pairs(signatures: DataFrame, bands: int = 16,
                       min_match: int | None = None) -> DataFrame:
    """Banded LSH candidates with the signature-match verification
    INLINE — the one-shuffle formulation of
    ``lsh_candidate_pairs + distinct + join-back-to-signatures``.

    The structural win over that three-stage pipeline: the cross-band
    duplicate a pair produces (one row per colliding band) is
    eliminated WITHOUT a ``distinct`` exchange — once both signatures
    sit in the joined row, each side's band hashes are recomputable
    in-expression, so the pair is kept only in its FIRST colliding
    band: exact dedup as a filter.  The signatures reach the joined
    row through a slim (id, band, bucket) band self-join and a plain
    join back to the signature relation, which Catalyst broadcasts
    below the autoBroadcast threshold: ONE exchange total (the
    band-bucket partitioning, reused across both sides).  Carrying the
    full signature through the band explode instead duplicates it
    ``bands``× (~8 KB/doc) and measured 92–99 s against 37.5 s for
    this form at 20× corpus scale (plans/r12/bench_evidence.md); past
    the broadcast threshold the join-back degrades to an ordinary
    shuffle join, not a cliff.

    Same mega-bucket caveat as the uncapped ``lsh_candidate_pairs``;
    use that function's ``bucket_cap`` star for connectivity-only
    consumers on adversarial corpora.

    Output: (id_a, id_b, n_match) with id_a < id_b, one row per pair;
    ``min_match`` filters on the matching-position count (e.g. 32 of
    64 ≈ Jaccard 0.5)."""
    # NOTE: this stays an op chain, NOT sql_over — ``signatures`` is
    # normally a cached relation, and routing a cached frame through a
    # temp view blocks CacheManager substitution (the signature pipeline
    # would silently recompute per reference; measured on the plan:
    # 3 exchanges and no InMemoryTableScan)
    #
    # the PROBE side carries its signature through the band join for
    # free (no broadcast, no shuffle — the rows just keep the column),
    # so only id_b needs a join back to the signature relation: one
    # broadcast build per run instead of two
    probe = signatures.select(
        "id", "sig",
        F.posexplode(_band_hash_expr("sig", bands)).alias("band", "bucket"))
    slim = band_buckets(signatures, bands)
    cands = (probe.alias("l")
             .join(slim.alias("r"),
                   on=[F.col("l.band") == F.col("r.band"),
                       F.col("l.bucket") == F.col("r.bucket"),
                       F.col("l.id") < F.col("r.id")])
             .select(F.col("l.id").alias("id_a"),
                     F.col("r.id").alias("id_b"),
                     F.col("l.sig").alias("sig_a"),
                     F.col("l.band").alias("band")))
    joined = cands.join(
        signatures.select(F.col("id").alias("id_b"),
                          F.col("sig").alias("sig_b")),
        "id_b")
    first_band = cached_expr(f"""
        element_at(filter(sequence(0, {bands - 1}),
                          b -> {_SLICE_HASH.format(sig='sig_a', bands=bands)}
                             = {_SLICE_HASH.format(sig='sig_b', bands=bands)}),
                   1)""")
    # tail fused to filter+select (r11): every intermediate Dataset hop
    # re-analyzes the whole plan prefix through py4j; the n_match
    # expression appearing in both the filter and the projection is
    # collapsed by whole-stage codegen's subexpression elimination, so
    # the executed work is identical to the withColumn form
    n_match = cached_expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
        "v -> v))").cast("long")
    keep = F.col("band") == first_band
    if min_match is not None:
        keep = keep & (n_match >= int(min_match))
    return joined.filter(keep).select("id_a", "id_b",
                                      n_match.alias("n_match"))


#: one band-slice hash: parameterized by the signature column and band
#: count so band_buckets and the inline first-band dedup stay one
#: expression (b is the lambda variable in scope where this is spliced)
_SLICE_HASH = ("hash(slice({sig}, b * (size({sig}) div {bands}) + 1, "
               "size({sig}) div {bands}))")


def _band_hash_expr(sig_col: str, bands: int):
    return cached_expr(f"""
        transform(sequence(0, {bands - 1}),
                  b -> {_SLICE_HASH.format(sig=sig_col, bands=bands)})""")


def est_jaccard_expr(sig_a: str = "sig_a", sig_b: str = "sig_b"):
    """Estimated Jaccard of two signature columns: the fraction of
    agreeing components."""
    return cached_expr(f"size(filter(zip_with({sig_a}, {sig_b}, "
                       f"(x, y) -> x = y), v -> v)) / size({sig_a})")


def minhash_near_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                            num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
                            threshold: float = 0.8, seed: int = 42,
                            bucket_cap: int | None = 1000,
                            eager: bool = False,
                            auto_bypass_bytes: int | None = None) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by estimated Jaccard
    (fraction of agreeing signature components ≥ threshold).
    Returns (id_a, id_b, est_jaccard) — EVERY emitted pair passes the
    verify rule; no unverified connectivity edges (a capped bucket's
    min-id star previously rode through unverified, which let a single
    band collision link genuinely dissimilar docs and delete them
    downstream — a precision bug, not a trade-off).

    ``bucket_cap`` (default 1000; ``None`` = uncapped, the oracle-parity
    mode) bounds mega-bucket expansion: buckets up to the cap expand to
    all member pairs; larger buckets emit a CHAIN of consecutive pairs
    in full-signature order instead of the m²/2 expansion.  Sorting by
    the whole signature puts near-identical docs adjacent, so each true
    near-dup sub-cluster inside a mega-bucket forms a verified sub-chain
    (its boundary edges to dissimilar colliders fail verification and
    split the bucket correctly).  Worst-case output and compute stay
    linear in the bucket size.  Recall caveat: a mega-bucket member pair
    that is near-dup but NOT chain-adjacent relies on the intermediate
    chain members verifying; an adversarial ordering can split one
    cluster into two (the same approximation class as blocking — the
    uncapped mode is exact w.r.t. banding).

    ``eager=True`` materializes the signature relation via an eager
    ``localCheckpoint`` instead of ``cache()`` — blocks are reclaimed on
    GC rather than pinned until an explicit unpersist, which matters for
    long-lived callers (the streaming ingest sink runs this once per
    micro-batch).

    ``auto_bypass_bytes``: the cap's small-input bypass horizon (see
    ``common.bypass_cap`` — the capped plan's fixed stage overhead
    dominates at scales where a mega-bucket is impossible; output is
    equivalent either way).  None = default horizon, 0 = always cap."""
    # the signature relation feeds several plan branches (banding + both
    # sides of the verify join + the chain path): materialize it so the
    # 64-hash projection runs once
    bucket_cap = bypass_cap(df, bucket_cap, auto_bypass_bytes)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, seed)
    sigs = sigs.localCheckpoint(eager=True) if eager else sigs.cache()
    return minhash_pairs_from_signatures(sigs, bands, threshold, bucket_cap,
                                         auto_bypass_bytes=0)


def minhash_pairs_from_signatures(sigs: DataFrame, bands: int = 16,
                                  threshold: float = 0.8,
                                  bucket_cap: int | None = 1000,
                                  auto_bypass_bytes: int | None = None) -> DataFrame:
    """``minhash_near_duplicates`` from a PRECOMPUTED ``(id, sig)``
    relation (``MinHashIndex.dedup_batch`` runs it over a batch larger
    than its cap).  ``sigs`` feeds several plan branches: pass a
    MATERIALIZED relation, or the signature projection re-runs per
    branch."""
    bucket_cap = bypass_cap(sigs, bucket_cap, auto_bypass_bytes)
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))

    # est_jaccard tails fused to filter+select (r11): fewer Dataset hops
    # per construction; codegen CSE keeps the expression single-eval
    est = est_jaccard_expr()
    if bucket_cap is None:
        cands = lsh_candidate_pairs(sigs, bands)
        return (cands.join(a, "id_a").join(b, "id_b")
                .filter(est >= threshold)
                .select("id_a", "id_b", est.alias("est_jaccard")))

    banded = band_buckets(sigs, bands)
    # mega-buckets are rare by construction (they need m docs agreeing on
    # one band slice), so the over-cap bucket list is small: broadcast it
    # to split the banded rows without shuffling them
    big = (banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > int(bucket_cap)).select("band", "bucket"))
    small = banded.join(F.broadcast(big), ["band", "bucket"], "left_anti")
    mega = banded.join(F.broadcast(big), ["band", "bucket"], "left_semi")

    # small buckets: all member pairs (in-expression expansion — one
    # groupBy shuffle, never quadratic past the cap), verified via the
    # signature join
    grouped = (small.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("id")).alias("ids"))
               .filter(F.size("ids") > 1))
    pairs = cached_expr("""
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids) - i - 1),
                    y -> named_struct('id_a', x, 'id_b', y))))""")
    small_pairs = (grouped.select(F.explode(pairs).alias("p"))
                   .select("p.id_a", "p.id_b").distinct()
                   .join(a, "id_a").join(b, "id_b")
                   .filter(est >= threshold)
                   .select("id_a", "id_b", est.alias("est_jaccard")))

    # mega-buckets: consecutive pairs in (sig, id) order via lag() — no
    # collect_list (a 10M-member bucket would put 64 longs × 10M in one
    # aggregate row), one window sort per bucket, verification inline
    # since both signatures are already on the row
    from pyspark.sql import Window
    w = Window.partitionBy("band", "bucket").orderBy("sig", "id")
    chain_pairs = (
        mega.join(sigs, "id")
        .withColumn("_pid", F.lag("id").over(w))
        .withColumn("_psig", F.lag("sig").over(w))
        .filter(F.col("_pid").isNotNull())
        .select(F.least("_pid", "id").alias("id_a"),
                F.greatest("_pid", "id").alias("id_b"),
                F.col("_psig").alias("sig_a"), F.col("sig").alias("sig_b"))
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard"))

    # a pair can surface in both paths (small bucket in one band, capped
    # in another); est_jaccard is a pure function of the two signatures,
    # so max() over duplicates is just deduplication
    return (small_pairs.unionByName(chain_pairs)
            .groupBy("id_a", "id_b")
            .agg(F.max("est_jaccard").alias("est_jaccard")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _token_hash64(tok: str) -> int:
    """First 64 bits of md5 — chosen over a faster non-cryptographic
    hash because md5 is available identically in every engine (Spark,
    DuckDB, Python), which makes the whole simhash fingerprint
    oracle-checkable cross-engine.  This Python form is the reference
    for the hash contract (property-tested against DuckDB); the hot
    path is the pure JVM expression in ``simhash64_expr``."""
    import hashlib
    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16)


def simhash64_expr(text_col: str) -> F.Column:
    """64-bit SimHash as a pure JVM expression — no Python worker in the
    fingerprint stage (the round-2 verdict's last hot-path UDF).

    Token hash = first 64 bits of md5 (engine-portable, same contract as
    ``_token_hash64``), assembled as a signed long from two 32-bit
    halves so the >2^63 range never overflows a cast.  One aggregate
    pass over the token array maintains all 64 ±1 majority counters via
    ``zip_with`` — each token is md5-hashed exactly once even after
    Catalyst collapses projections, because the token array appears only
    as the single aggregate input.  Bit i of the result is set iff more
    token hashes have bit i set than cleared; the signed/unsigned
    difference is bit-pattern-free (the oracle's UBIGINT and this LONG
    xor/bit_count identically)."""
    # SWAR majority count: accumulator k (k < 16) packs FOUR 16-bit
    # set-bit counters for bit positions {k, k+16, k+32, k+48}, so each
    # token costs 16 mask-and-adds instead of 64 (mask
    # 0x0001000100010001 pulls those four bits into the counters' low
    # bits in one AND); element 17 counts tokens.  The FINISH lambda of
    # aggregate() binds the accumulator array once (no re-evaluation of
    # the md5 pass, no re-tokenization) and unpacks: bit p is set iff
    # 2*count_p > n_tokens.  Counters are exact up to 65535 tokens per
    # document; beyond that a field would silently wrap, so the
    # expression raises instead (chunk first — corpus prep always does).
    _require_col_name("text_col", text_col)
    mask = 0x0001000100010001
    toks = f"filter(split(lower({text_col}), ' '), t -> t != '')"
    return F.coalesce(cached_expr(f"""
        aggregate(
          transform({toks},
                    t -> shiftleft(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), 32)
                         + CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)),
          array_repeat(CAST(0 AS BIGINT), 17),
          (acc, h) -> zip_with(acc, sequence(0, 16),
                               (a, k) -> a + CASE WHEN k = 16 THEN 1
                                             ELSE shiftright(h, k) & {mask} END),
          acc -> CASE WHEN element_at(acc, 17) > 65535 THEN
                   CAST(raise_error('simhash64_expr: document exceeds 65535 tokens; chunk before fingerprinting') AS BIGINT)
                 ELSE
                   aggregate(
                     zip_with(slice(acc, 1, 16), sequence(0, 15),
                       (a, k) -> aggregate(
                         transform(sequence(0, 3),
                           j -> CASE WHEN 2 * (shiftright(a, 16 * j) & 65535)
                                     > element_at(acc, 17)
                                THEN shiftleft(CAST(1 AS BIGINT), k + 16 * j)
                                ELSE CAST(0 AS BIGINT) END),
                         CAST(0 AS BIGINT), (x, y) -> x + y)),
                     CAST(0 AS BIGINT), (x, y) -> x + y)
                 END)
    """), F.lit(0).cast("long"))


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return spread_for_compute(df).select(
        F.col(id_col).alias("id"), simhash64_expr(text_col).alias("simhash"))


SIMHASH_BANDS = 4


def simhash_band_keys(fps: DataFrame) -> DataFrame:
    """(id, simhash, band, key) — the 4×16-bit pigeonhole band keys of a
    (id, simhash) frame.  Shared by the self-join candidate generation
    below and the persisted incremental index (dedup_index.SimHashIndex)
    so the two paths can never disagree on the candidate rule."""
    return fps.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(SIMHASH_BANDS)
        ])).alias("band", "key"),
    )


def check_simhash_hamming(max_hamming: int) -> None:
    """The 4-band pigeonhole guarantees a shared band only for pairs
    within hamming ``SIMHASH_BANDS - 1``; a larger threshold would
    silently miss pairs (e.g. hamming 4 spread one bit per band), so
    refuse it instead."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds what {SIMHASH_BANDS}-band "
            f"pigeonhole banding can guarantee (<= {SIMHASH_BANDS - 1}); "
            "pairs beyond that would be silently missed")


def simhash_near_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                            max_hamming: int = 3, eager: bool = False,
                            bucket_cap: int | None = 1000,
                            auto_bypass_bytes: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation: 4 × 16-bit band keys — two fingerprints within
    hamming 3 must agree on at least one band (pigeonhole), so the join
    is an equi-join on (band, 16-bit slice), never a cross join.
    ``bucket_cap`` (default 1000; ``None`` = uncapped, the oracle-parity
    mode) bounds mega-bucket expansion with verified CHAIN edges the
    same way the minhash/embedding families do — a raw corpus with m
    near-identical docs co-buckets them in every band, and the m²/2
    true-pair output is itself the blow-up; see
    ``simhash_pairs_from_fingerprints``.
    ``eager=True``: materialize via eager localCheckpoint instead of
    cache() (GC-reclaimed — for per-micro-batch callers).
    ``auto_bypass_bytes``: the cap's small-input bypass horizon (see
    ``common.bypass_cap``); None = default, 0 = always cap."""
    check_simhash_hamming(max_hamming)
    bucket_cap = bypass_cap(df, bucket_cap, auto_bypass_bytes)
    # the fingerprint relation feeds both sides of the candidate join:
    # materialize it so the (pure JVM) aggregate pass runs once
    fps = simhash_fingerprints(df, text_col, id_col)
    fps = fps.localCheckpoint(eager=True) if eager else fps.cache()
    return simhash_pairs_from_fingerprints(fps, max_hamming, bucket_cap,
                                           auto_bypass_bytes=0)


def simhash_pairs_from_fingerprints(fps: DataFrame,
                                    max_hamming: int = 3,
                                    bucket_cap: int | None = 1000,
                                    auto_bypass_bytes: int | None = None) -> DataFrame:
    """``simhash_near_duplicates`` from a PRECOMPUTED ``(id, simhash)``
    relation (band keys are a cheap projection of the fingerprint, so
    only the text→fingerprint aggregate is worth reusing).  Pass a
    materialized relation — it feeds both sides of the self-join.

    ``bucket_cap`` bounds mega-buckets: a (band, key) group over the cap
    emits hamming-verified chain edges in (simhash, id) order instead of
    the full m²/2 expansion — identical/near-identical fingerprints sort
    adjacent, so each true sub-cluster stays connected while worst-case
    output is linear (``CHAIN_WINDOW`` links per row absorb occasional
    interleavers; a high-order fingerprint bit flip can still split a
    chain — the same approximation class as the minhash chain)."""
    check_simhash_hamming(max_hamming)
    bucket_cap = bypass_cap(fps, bucket_cap, auto_bypass_bytes)

    banded = simhash_band_keys(fps)

    # NOTE: op chain, not sql_over — ``fps`` is normally a cached
    # relation feeding both self-join sides, and a temp-view wrapper
    # would defeat CacheManager substitution so the fingerprint
    # aggregate would silently run once per side (see the matching
    # caveat on lsh_verified_pairs / common.sql_over)
    def pairs_over(rel, all_bands_present: bool = False) -> DataFrame:
        l, r = rel.alias("l"), rel.alias("r")
        joined = (
            l.join(r, on=[F.col("l.band") == F.col("r.band"),
                          F.col("l.key") == F.col("r.key"),
                          F.col("l.id") < F.col("r.id")])
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                    F.col("l.simhash").alias("fp_a"),
                    F.col("r.simhash").alias("fp_b"),
                    F.col("l.band").alias("band")))
        # tail fused to filter+select (r11, same rationale as
        # lsh_verified_pairs): fewer Dataset hops = fewer eager
        # re-analyses per construction; codegen subexpression
        # elimination keeps the hamming expression single-evaluation
        hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        if all_bands_present:
            # cross-band duplicate elimination WITHOUT a distinct
            # exchange: both fingerprints are on the row, so each pair's
            # set of colliding bands is recomputable in-expression —
            # keep the pair only in its FIRST shared band.  Valid only
            # when every band row of both members is in ``rel`` (the
            # uncapped path); the capped path's ``small`` relation may
            # be missing a mega-bucket band, where this filter would
            # drop the pair entirely — it keeps the distinct.
            first_shared = cached_expr(f"""
                element_at(filter(sequence(0, {SIMHASH_BANDS - 1}),
                    b -> (shiftright(fp_a, 16 * b) & 65535)
                       = (shiftright(fp_b, 16 * b) & 65535)), 1)""")
            return (joined
                    .filter((F.col("band") == first_shared)
                            & (hamming <= max_hamming))
                    .select("id_a", "id_b", hamming.alias("hamming")))
        deduped = joined.drop("band").distinct()
        return (deduped.filter(hamming <= max_hamming)
                .select("id_a", "id_b", hamming.alias("hamming")))

    if bucket_cap is None:
        return pairs_over(banded, all_bands_present=True)

    from pyspark.sql import Window

    from dlx_spark.operators.similarity import CHAIN_WINDOW

    # ONE window shuffle sizes every bucket; the small-side self-join
    # then reuses that (band, key) partitioning, so the cap costs no
    # extra scan branches (the agg+broadcast+anti formulation computed
    # the banded relation three times)
    sized = banded.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "key")))
    small = sized.filter(F.col("_n") <= int(bucket_cap)).drop("_n")
    mega = sized.filter(F.col("_n") > int(bucket_cap)).drop("_n")
    verified = pairs_over(small)

    w = Window.partitionBy("band", "key").orderBy("simhash", "id")
    prevs = F.array(*[F.struct(F.lag("id", k).over(w).alias("pid"),
                               F.lag("simhash", k).over(w).alias("pfp"))
                      for k in range(1, CHAIN_WINDOW + 1)])
    chain = (
        mega.withColumn("_prevs", prevs)
        .select("id", "simhash", F.explode("_prevs").alias("p"))
        .filter(F.col("p.pid").isNotNull())
        .select(F.least("p.pid", "id").alias("id_a"),
                F.greatest("p.pid", "id").alias("id_b"),
                F.bit_count(F.col("p.pfp").bitwiseXOR(F.col("simhash")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming))
    # a pair can surface through both paths / several bands; hamming is
    # a pure function of the two fingerprints, so min() just dedups
    return (verified.unionByName(chain)
            .groupBy("id_a", "id_b").agg(F.min("hamming").alias("hamming")))


# ---------------------------------------------------------------------------
# Cross-corpus contamination (benchmark decontamination)
# ---------------------------------------------------------------------------

def word_shingle_strings(df: DataFrame, text_col: str, id_col: str, n: int,
                         normalize: bool = True) -> DataFrame:
    """(id, sh: string) — distinct word n-grams as STRINGS, exploded.
    Documents shorter than ``n`` tokens contribute their whole text as
    one shingle (mirroring word_shingles' hashed variant).  String keys
    keep the operator engine-portable (hash() is engine-specific); at
    extreme scale swap the join key for a hash, trading oracle parity."""
    _require_col_name("text_col", text_col)
    _require_col_name("id_col", id_col)
    toks = (normalized_text(F.col(text_col)) if normalize else F.col(text_col))
    return (
        df.select(F.col(id_col).alias("id"), F.split(toks, " ").alias("t"))
        .select("id", F.explode(cached_expr(f"""
            array_distinct(transform(
                sequence(0, greatest(size(t) - {n}, 0)),
                i -> array_join(slice(t, i + 1, {n}), ' ')))
        """)).alias("sh"))
    )


def cross_corpus_overlap(corpus: DataFrame, benchmark: DataFrame,
                         n: int = 8, min_shared: int = 1,
                         text_col: str = "text", id_col: str = "doc_id",
                         normalize: bool = True) -> DataFrame:
    """Benchmark-contamination check: (corpus_id, bench_id, n_shared)
    for every corpus/benchmark document pair sharing ≥ ``min_shared``
    distinct word ``n``-grams.

    Shingle both sides (flat map), equi-join on the shingle, one
    partial-agg groupBy per pair.  The benchmark side is typically tiny
    (eval sets), so Catalyst/AQE broadcasts it and the corpus is never
    shuffled; a 100 TB corpus streams through map-side.
    ``normalize=False``: plain space split for engine parity."""
    c = word_shingle_strings(corpus, text_col, id_col, n, normalize)
    b = word_shingle_strings(benchmark, text_col, id_col, n, normalize)
    return (
        c.join(b.select(F.col("id").alias("bench_id"), "sh"), "sh")
        .groupBy(F.col("id").alias("corpus_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iter: int = 50, reliable: bool = False,
                         stats: dict | None = None,
                         on_nonconverge: str = "raise") -> DataFrame:
    """(id, component): transitive closure over near-duplicate pairs,
    labeling every node with the SMALLEST id reachable from it — the
    canonical-survivor rule dedup needs (pairwise output alone splits a
    3-doc cluster {A~B, B~C} into two overlapping pairs).

    Min-label propagation with pointer jumping: each round every node
    takes the min of its own label and its neighbors' labels (one
    shuffle join + one partial-agg groupBy), then shortcuts through its
    representative — ``comp := comp(comp)`` (one more join on the label
    relation).  The jump step makes the propagated distance roughly
    DOUBLE per round, so convergence is O(log diameter) rounds instead
    of O(diameter) — the difference between 6 rounds and 10M rounds on
    a 10M-node chain (which capped mega-bucket chains can legitimately
    produce).  Labels are checkpointed each round so the plan/lineage
    stays O(1) deep, and the per-round state is one row per distinct
    node in ``pairs`` — tiny relative to the corpus even at 100 TB.

    ``reliable=False`` (default) uses ``localCheckpoint``: blocks live on
    executors, so an executor loss mid-propagation fails the job (fast,
    fine for short interactive runs).  ``reliable=True`` uses
    ``checkpoint()`` against the session's checkpoint dir
    (``spark.sparkContext.setCheckpointDir`` — required, raises if
    unset): per-round state lands on the reliable store (HDFS/S3), so a
    lost executor recomputes from the last round instead of failing the
    whole run — the right trade for long iterative jobs on preemptible
    clusters, at the cost of one round-trip write per round.

    ``stats`` (optional caller-supplied dict) receives convergence
    telemetry — ``{"rounds": r, "converged": bool}`` — so scale probes
    and operational monitoring can watch rounds-to-converge instead of
    guessing (each round is a full Spark job; at 100 TB a diameter
    regression shows up here first).  ``on_nonconverge`` is the
    max_iter guard: ``"raise"`` (default) fails LOUDLY — partially
    propagated labels would silently split clusters and elect extra
    survivors downstream; ``"warn"`` restores the old warn-and-return
    behavior for exploratory use.  With pointer jumping the propagated
    distance doubles per round, so the default ``max_iter=50`` covers a
    diameter of ~2^50 — hitting the guard means the input is
    pathological (or max_iter was lowered), never a tuning matter.
    """
    if on_nonconverge not in ("raise", "warn"):
        raise ValueError(f"on_nonconverge must be 'raise' or 'warn', "
                         f"got {on_nonconverge!r}")
    if reliable:
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable=True needs a checkpoint dir: call "
                "spark.sparkContext.setCheckpointDir(<reliable path>) first")

    def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
        return df.checkpoint(eager=eager) if reliable \
            else df.localCheckpoint(eager=eager)

    e = pairs.select(F.col(id_a).cast("long").alias("a"),
                     F.col(id_b).cast("long").alias("b"))
    edges, seen = observed(e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct(),
        n=F.count(F.lit(1)))
    edges = _ckpt(edges, eager=True)
    n_edges = seen()
    if not (n_edges["n"] if n_edges is not None else edges.count()):
        if stats is not None:
            stats.update(rounds=0, converged=True)
        return pairs.sparkSession.createDataFrame([], "id long, component long")
    labels = _ckpt(edges.select(F.col("a").alias("id")).distinct()
                   .withColumn("comp", F.col("id")), eager=False)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh = (edges.join(labels, edges["b"] == labels["id"])
                 .groupBy("a").agg(F.min("comp").alias("ncomp")))
        stepped = (labels.join(neigh, labels["id"] == neigh["a"], "left")
                   .select("id", "comp",
                           F.least(F.col("comp"),
                                   F.coalesce(F.col("ncomp"), F.col("comp")))
                           .alias("_c1")))
        # pointer jump: every label value is itself a node id (labels
        # start as ids and only take min() over other labels), so one
        # join against the label relation resolves comp(comp) — the
        # shortcut that makes convergence O(log diameter).  The
        # convergence flag folds into the same pass: the round's one
        # action, the eager checkpoint, also observes how many labels
        # moved — no count job, no extra comparison join.
        rep = labels.select(F.col("id").alias("_c1"),
                            F.col("comp").alias("_c2"))
        jumped = F.least(F.col("_c1"), F.coalesce(F.col("_c2"), F.col("_c1")))
        new, moved = observed(
            stepped.join(rep, "_c1", "left")
            .select("id", jumped.alias("_comp"),
                    (jumped < F.col("comp")).alias("_changed"))
            .withColumnRenamed("_comp", "comp"),
            changed=F.sum(F.col("_changed").cast("long")))
        labels = _ckpt(new.drop("_changed"), eager=True)
        moved = moved()
        changed = ((moved["changed"] or 0) if moved is not None
                   else new.filter(F.col("_changed")).count())
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        msg = (f"connected_components did not converge in {max_iter} "
               f"rounds (with pointer jumping that covers a diameter of "
               f"~2^{max_iter}); labels are only partially propagated — "
               f"downstream dedup would silently split clusters and keep "
               f"extra survivors.  Raise max_iter, or pass "
               f"on_nonconverge='warn' to accept partial labels.")
        if on_nonconverge == "raise":
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, RuntimeWarning)
    return labels.select("id", F.col("comp").alias("component"))


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   components: DataFrame | None = None) -> DataFrame:
    """(id, component, is_survivor): cluster assignment for every doc
    that appears in a near-dup pair; the minimum id of each component
    survives, the rest are the rows to drop.

    ``components``: an optional PRECOMPUTED ``connected_components(pairs)``
    result — pure reuse for callers that consume the same labels several
    ways (the propagation loop fires one Spark job per round, so a
    caller invoking three cluster consumers over one pair set would
    otherwise run the whole iteration three times)."""
    comp = (components if components is not None
            else connected_components(pairs, id_a, id_b))
    return comp.withColumn("is_survivor", F.col("id") == F.col("component"))


def dedup_near(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
               id_a: str = "id_a", id_b: str = "id_b",
               components: DataFrame | None = None) -> DataFrame:
    """The end-to-end near-dedup: given the corpus and its near-dup
    pairs (from minhash/simhash/jaccard), drop every non-survivor —
    each cluster keeps only its minimum id.  Docs in no pair pass
    through untouched.  One anti-join against the (tiny) loser set,
    which broadcasts at scale; the corpus itself never shuffles.
    ``components``: optional precomputed labels (see dedup_clusters)."""
    losers = (dedup_clusters(pairs, id_a, id_b, components=components)
              .filter(~F.col("is_survivor")).select(F.col("id").alias("_loser")))
    return df.join(losers, F.col(id_col) == F.col("_loser"), "left_anti")


def dedup_near_by_priority(df: DataFrame, pairs: DataFrame,
                           priority_col: str, id_col: str = "doc_id",
                           id_a: str = "id_a", id_b: str = "id_b",
                           components: DataFrame | None = None) -> DataFrame:
    """``dedup_near`` with a QUALITY survivor rule: each cluster keeps
    its highest-``priority_col`` document (ties -> minimum id; NULL
    priority loses to any non-NULL) instead of its minimum id — the
    curation-pipeline shape where near-dup resolution should keep the
    best copy (longest, highest quality score, most recent crawl), not
    the arbitrarily-first one.

    Same scale posture as ``dedup_near``: the component walk and the
    winner choice run over only the docs that appear in a pair, and
    the corpus meets the loser set in one anti-join (no forced
    broadcast — the duplicate set scales with corpus redundancy).
    ``components``: optional precomputed labels (see dedup_clusters)."""
    _require_col_name("priority_col", priority_col)
    comp = (components if components is not None
            else connected_components(pairs, id_a, id_b))
    prio = (df.select(F.col(id_col).alias("id"),
                      F.coalesce(F.col(priority_col).cast("double"),
                                 F.lit(float("-inf"))).alias("_p"))
            .join(comp, "id"))
    winners = prio.groupBy("component").agg(
        F.max(F.struct(F.col("_p"), (-F.col("id")).alias("_negid")))
         .alias("_best"))
    losers = (prio.join(winners, "component")
              .filter(F.col("id") != -F.col("_best._negid"))
              .select(F.col("id").alias("_loser")))
    return df.join(losers, F.col(id_col) == F.col("_loser"), "left_anti")


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

_JACCARD_LR = ("size(array_intersect(l_toks, r_toks))"
               " / size(array_union(l_toks, r_toks))")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.5, block_on_lang: str | None = "lang",
                        block_cap: int | None = 1000,
                        auto_bypass_bytes: int | None = None) -> DataFrame:
    """Exact word-set Jaccard over a blocked self-join.

    Blocking key: (language, length bucket, first token) — cheap,
    high-precision blocking that keeps the join linear-ish.  Exact
    Jaccard via array_intersect/array_union on distinct token arrays.
    Returns (id_a, id_b, jaccard ≥ threshold).

    ``block_cap`` (default 1000; ``None`` = uncapped, the oracle-parity
    mode) bounds mega-block expansion the same way the minhash /
    simhash / embedding families do: a block with m near-identical
    members would pay m²/2 exact-Jaccard evaluations AND emit a
    quadratic true-pair set; over-cap blocks instead emit
    Jaccard-verified CHAIN edges in sorted-token-array order (identical
    token sets sort adjacent; ``CHAIN_WINDOW`` links per row absorb
    interleavers) — linear output and compute.

    Recall is bounded by the blocking, not the Jaccard math: a near-dup
    pair whose FIRST token differs (or whose lengths straddle a log2
    bucket edge) never meets in a block.  Measured on a seeded corpus
    where half the planted pairs differ in their first token, recall is
    ~0.5 with exact precision; the minhash/LSH path (which blocks on
    signature bands, not surface tokens) recovers ≥90% of those misses
    (tests/test_property.py::test_blocked_jaccard_recall_measured)."""
    _require_col_name("text_col", text_col)
    _require_col_name("id_col", id_col)
    block_cap = bypass_cap(df, block_cap, auto_bypass_bytes)
    toks = F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))
    prepared = spread_for_compute(df).select(
        F.col(id_col).alias("id"), toks.alias("toks"),
        (F.col(block_on_lang) if block_on_lang else F.lit("x")).alias("blk_lang"),
        F.floor(F.log2(F.size(toks) + 1)).alias("blk_len"),
        F.element_at(toks, 1).alias("blk_tok"),
    )
    blk = ["blk_lang", "blk_len", "blk_tok"]

    def pairs_over(rel) -> DataFrame:
        l, r = rel.alias("l"), rel.alias("r")
        return (
            l.join(r, on=[F.col(f"l.{c}") == F.col(f"r.{c}") for c in blk]
                   + [F.col("l.id") < F.col("r.id")])
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                    (F.size(F.array_intersect(F.col("l.toks"), F.col("r.toks"))) /
                     F.size(F.array_union(F.col("l.toks"), F.col("r.toks")))).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))

    if block_cap is None:
        return pairs_over(prepared)

    from pyspark.sql import Window

    from dlx_spark.operators.similarity import CHAIN_WINDOW

    # ONE window shuffle sizes every block; the small-side self-join
    # reuses that partitioning (see simhash_pairs_from_fingerprints)
    sized = prepared.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*blk)))
    small = sized.filter(F.col("_n") <= int(block_cap)).drop("_n")
    pairs = pairs_over(small)

    # mega-blocks: chain edges in sorted-token-array order (a doc
    # belongs to exactly ONE block, so the two paths never emit the
    # same pair — plain union, no dedupe needed)
    mega = (sized.filter(F.col("_n") > int(block_cap)).drop("_n")
            .withColumn("osort", F.sort_array("toks")))
    w = Window.partitionBy(*blk).orderBy("osort", "id")
    prevs = F.array(*[F.struct(F.lag("id", k).over(w).alias("pid"),
                               F.lag("toks", k).over(w).alias("ptoks"))
                      for k in range(1, CHAIN_WINDOW + 1)])
    chain = (
        mega.withColumn("_prevs", prevs)
        .select("id", "toks", F.explode("_prevs").alias("p"))
        .filter(F.col("p.pid").isNotNull())
        .select(F.least("p.pid", "id").alias("id_a"),
                F.greatest("p.pid", "id").alias("id_b"),
                F.col("p.ptoks").alias("l_toks"), F.col("toks").alias("r_toks"))
        .withColumn("jaccard", cached_expr(_JACCARD_LR))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))
    return pairs.unionByName(chain)
