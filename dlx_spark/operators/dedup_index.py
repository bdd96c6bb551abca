"""Incremental dedup indexes: dedup a NEW batch against a persisted
corpus WITHOUT recomputing or rescanning the corpus text.

The 100 TB workflow this enables: a training corpus is built in daily
increments.  Re-running full-corpus dedup per increment re-shingles and
re-hashes everything ever ingested — O(corpus) compute per day.  These
indexes persist the corpus's dedup STATE instead:

- ``DigestIndex``     — one md5 digest per ingested document, stored
                        clustered by digest.  Exact dedup of a batch is
                        one anti-join against the slim digest table
                        (broadcast while it fits); the corpus text is
                        never touched.
- ``SimHashIndex``    — the 64-bit fingerprints plus their 4×16-bit
                        pigeonhole band keys, persisted the same way;
                        probes find hamming-≤3 neighbors of a batch
                        against all history.
- ``MinHashIndex``    — the banded LSH keys (band, bucket, id) plus the
                        64-hash signatures (id, sig), both persisted.
                        Probing a batch computes signatures for the
                        BATCH ONLY (a map-only projection), broadcasts
                        its band keys into a map-side join against the
                        band table, and verifies candidates against the
                        signature table.  Per-increment cost: one
                        broadcast-join scan of the compact index tables
                        (signatures + bands are ~1-2 % of corpus text
                        bytes) with ZERO shuffle of index data, plus
                        work proportional to the batch.
- ``EmbeddingIndex``  — vectors with hyperplane-LSH bucket keys; probes
                        find cosine-≥threshold neighbors of a batch
                        against all history with exact-cosine
                        verification (the embedding-side analog of the
                        MinHash index).

All indexes are append-only: after a batch is deduped, its survivors'
state is appended (one segment per append, clustered by the table's key
and sized to its rows — a few-hundred-doc increment writes one file per
table — and folded by ``compact``, one backend ``compact_segments``
commit per table), so tomorrow's batch sees today's survivors.  The
three near-dup families (MinHash, SimHash, Embedding) run one increment
body, ``_dedup_increment``: the corpus probe runs
once per ``dedup_batch``, its batch-sized drop set pinned before the
intra-batch pass and the survivor rule read it.  Index
parameters (hash family seed, bands, shingle width...) are persisted in
a ``*_meta`` table at create time and re-read at probe/append time — a
probe with mismatched parameters would silently find nothing, so they
are never re-specified by callers.  The one geometry that changes after
create, ``EmbeddingIndex.rebucket``'s, is committed in the key table's
own manifest together with the keys.

The reference has no incremental machinery (its dedup is the per-commit
signature check, /root/reference/dlx/marc/__init__.py:2181-2182); this
is part of the engine's scale surface.  Correctness is anchored by
pytest equivalence: probing split corpora must produce exactly the
cross-partition subset of the (driver-oracled) full-corpus
``minhash_near_duplicates`` / ``dedup_exact`` results.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from dlx_spark import tableio
from dlx_spark.tableio import get_backend
from dlx_spark.operators import common, dedup


# Probe-side broadcast gate: a daily-increment batch's band keys are a
# few MB and belong in a broadcast (zero shuffle of index data), but a
# backfill-sized batch would blow the driver/executor broadcast memory.
# Above this many band-key rows (~50-100 MB serialized) the probe falls
# back to a plain shuffle equi-join on (band, bucket): both sides are
# hash-exchanged on the join key (the index tables are path-based, so
# no catalog bucket spec lets Spark elide the index-side exchange).
PROBE_BROADCAST_ROW_CAP = 2_000_000


def _split_overcap(idx_rows: DataFrame, group_cols: list[str],
                   bucket_cap: int | None):
    """(small, big): the index key rows outside over-cap groups, and
    the broadcast over-cap group list (None when uncapped).  Over-cap
    groups are rare by construction, so ``big`` is tiny and the split
    costs one map-side-combined aggregate scan of the slim key table —
    the price of bounding the worst case.  That scan is the same cost
    class as the probe's candidate join (which also streams the full
    key table), so the cap roughly doubles the slim-table scan per
    probe rather than changing its asymptotics; callers probing a
    known-deduped index on a latency budget can pass
    ``bucket_cap=None`` to skip it."""
    if bucket_cap is None:
        return idx_rows, None
    big = F.broadcast(
        idx_rows.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > int(bucket_cap))
        .select(*group_cols))
    return idx_rows.join(big, group_cols, "left_anti"), big


def _chain_probe_pairs(mega_corpus: DataFrame, mega_batch: DataFrame,
                       group_cols: list[str], order: str = "pay") -> DataFrame:
    """Linear-output candidate pairs for OVER-CAP probe groups — the
    corpus-side analog of the intra-batch mega-bucket chains
    (dedup.minhash_pairs_from_signatures / simhash_pairs_from_fingerprints)
    and the same shape as ``EmbeddingIndex``'s mega path: sort corpus
    and batch members of each over-cap group together in (pay, id)
    order and verify each batch row against the nearest corpus row on
    each side (however far — the ignorenulls scans skip interleaved
    batch rows) plus any corpus rows within CHAIN_WINDOW positions.
    Output is O(batch members × window), never
    O(|corpus group| × |batch group|).

    Inputs carry ``group_cols + (id, pay)`` where ``pay`` is the
    verification payload, and the ``order`` column (by default the
    payload itself: minhash signature array / simhash fingerprint;
    the embedding index orders vectors by their ordering signature) —
    near-identical payloads sort adjacent, the property the chain
    relies on; same approximation class as the intra-batch chains.
    Returns ``(corpus_id, batch_id, pay_a, pay_b)`` pairs for the
    caller's verify expression."""
    from pyspark.sql import Window

    from dlx_spark.operators.similarity import CHAIN_WINDOW

    u = (mega_corpus.withColumn("is_corpus", F.lit(True))
         .unionByName(mega_batch.withColumn("is_corpus", F.lit(False))))
    w = Window.partitionBy(*group_cols).orderBy(order, "id", "is_corpus")
    cstruct = F.when(F.col("is_corpus"),
                     F.struct(F.col("id").alias("cid"),
                              F.col("pay").alias("cpay")))
    neighbors = [
        F.last(cstruct, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
        F.first(cstruct, ignorenulls=True).over(
            w.rowsBetween(1, Window.unboundedFollowing)),
    ] + [F.lag(cstruct, k).over(w) for k in range(1, CHAIN_WINDOW + 1)] \
      + [F.lead(cstruct, k).over(w) for k in range(1, CHAIN_WINDOW + 1)]
    return (
        u.withColumn("_cands", F.array_compact(F.array(*neighbors)))
        .filter(~F.col("is_corpus"))
        .select(F.col("id").alias("batch_id"),
                F.col("pay").alias("pay_b"),
                F.explode("_cands").alias("_c"))
        .select(F.col("_c.cid").alias("corpus_id"), "batch_id",
                F.col("_c.cpay").alias("pay_a"), "pay_b")
        .distinct())


def _dedup_increment(batch: DataFrame, id_col: str, payload: DataFrame,
                     vs_corpus: DataFrame, intra_pairs,
                     replay_safe: bool) -> tuple[DataFrame, DataFrame]:
    """The near-dup increment the MinHash, SimHash and Embedding indexes
    share: drop batch docs the probe linked to the corpus (corpus always
    wins), dedup the remainder against itself (min-id survivor per
    connected component), and return ``(clean, kept)`` — the clean batch
    rows, materialized, and the ``payload`` rows of exactly those docs
    for the family's append.

    ``payload`` is the family's materialized per-doc state keyed by
    ``id`` (signatures, banded fingerprints, vectors); ``vs_corpus`` its
    lazy probe over that payload, with ``(corpus_id, batch_id)``;
    ``intra_pairs(rows)`` its ``(id_a, id_b)`` pairs among payload
    rows.  The drop set is pinned with one eager checkpoint: it is
    batch-sized, and both the remainder's payload and its rows read it,
    so the probe (band join plus over-cap aggregate) runs once.

    ``replay_safe``: links whose corpus side is one of this batch's own
    ids are ignored (a crashed prior attempt may have appended this very
    batch)."""
    if replay_safe:
        own = batch.select(F.col(id_col).alias("corpus_id"))
        vs_corpus = vs_corpus.join(own, "corpus_id", "left_anti")
    drop = (vs_corpus.select(F.col("batch_id").alias("id")).distinct()
            .localCheckpoint(eager=True))
    remaining = batch.join(drop.withColumnRenamed("id", "_dup"),
                           F.col(id_col) == F.col("_dup"), "left_anti")
    intra = intra_pairs(payload.join(drop, "id", "left_anti"))
    clean = dedup.dedup_near(remaining, intra, id_col) \
                 .localCheckpoint(eager=True)
    kept = payload.join(clean.select(F.col(id_col).alias("id")), "id",
                        "left_semi")
    return clean, kept


def _write_meta(spark: SparkSession, name: str, params: dict) -> None:
    get_backend().write(
        spark.createDataFrame([(json.dumps(params),)], "params string"),
        f"{name}_meta")


def _read_meta(spark: SparkSession, name: str) -> dict:
    meta = get_backend().read(spark, f"{name}_meta")
    return json.loads(meta.first()["params"])


class DigestIndex:
    """Exact-dedup state: the distinct content digests of every ingested
    document, clustered by digest.  The per-batch anti-join broadcasts
    the digest table while it is under the broadcast threshold (no
    shuffle of index rows); above it, both sides shuffle on digest."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.params = _read_meta(spark, name)

    def compact(self) -> None:
        get_backend().compact_segments(self.spark, f"{self.name}_digests")

    @classmethod
    def create(cls, df: DataFrame, name: str, text_col: str = "text",
               id_col: str = "doc_id") -> "DigestIndex":
        spark = df.sparkSession
        digests = (
            df.select(F.md5(dedup.normalized_text(F.col(text_col))).alias("digest"),
                      F.col(id_col).alias("id"))
            .groupBy("digest").agg(F.min("id").alias("keep_id"))
        )
        get_backend().write(digests, f"{name}_digests", "digest")
        _write_meta(spark, name, {"text_col": text_col, "id_col": id_col})
        return cls(spark, name)

    def _batch_digests(self, batch: DataFrame) -> DataFrame:
        p = self.params
        return batch.withColumn(
            "digest", F.md5(dedup.normalized_text(F.col(p["text_col"]))))

    def filter_new(self, batch: DataFrame,
                   replay_safe: bool = False) -> DataFrame:
        """Batch rows whose content has never been ingested: drops rows
        matching the index (anti-join on digest — a broadcast of the
        digest table below the broadcast threshold, a shuffle join on
        digest above it), then keeps the min-id row per digest WITHIN
        the batch (same survivor rule as dedup_exact).

        ``replay_safe=True`` is the at-least-once stream mode: index
        rows whose ``keep_id`` IS one of this batch's own ids are
        ignored (a crashed prior attempt may have appended this very
        batch — matching against its own digests would wrongly empty
        the replay).  Requires doc ids unique across the stream's
        lifetime, like ``MinHashIndex.dedup_batch``."""
        p = self.params
        idx = get_backend().read(self.spark, f"{self.name}_digests")
        if replay_safe:
            own = batch.select(F.col(p["id_col"]).alias("keep_id"))
            idx = idx.join(own, "keep_id", "left_anti")
        fresh = self._batch_digests(batch).join(idx, "digest", "left_anti")
        keep = (fresh.groupBy("digest")
                .agg(F.min(F.col(p["id_col"])).alias("_kid")))
        return (fresh.join(keep, on=F.col(p["id_col"]) == F.col("_kid"), how="leftsemi")
                .drop("digest"))

    def append(self, batch_survivors: DataFrame,
               if_absent: bool = False) -> None:
        """Record a deduped batch's digests (one clustered segment).
        ``if_absent=True`` makes the append idempotent (digests already
        indexed are skipped) — required for at-least-once replays."""
        p = self.params
        digests = (self._batch_digests(batch_survivors)
                   .select("digest", F.col(p["id_col"]).alias("keep_id"))
                   .groupBy("digest").agg(F.min("keep_id").alias("keep_id")))
        if if_absent:
            existing = get_backend().read(
                self.spark, f"{self.name}_digests").select("digest")
            digests = digests.join(existing, "digest", "left_anti") \
                             .localCheckpoint(eager=True)
        get_backend().append(digests, f"{self.name}_digests", "digest")

    def dedup_batch(self, batch: DataFrame,
                    replay_safe: bool = False) -> DataFrame:
        """filter_new + append of the survivors, returning the clean
        batch.  (Materializes the survivors before appending so the
        returned frame does not re-run the anti-join against the
        just-appended state.)  ``replay_safe``: see ``filter_new`` —
        a replayed batch produces the SAME clean frame as its first
        attempt and leaves the index unchanged."""
        clean = self.filter_new(batch, replay_safe=replay_safe) \
                    .localCheckpoint(eager=True)
        self.append(clean, if_absent=replay_safe)
        return clean

    def drop(self) -> None:
        get_backend().drop(self.spark, f"{self.name}_digests")
        get_backend().drop(self.spark, f"{self.name}_meta")


class MinHashIndex:
    """Near-dedup state: persisted banded LSH keys + signatures.

    Tables:
      {name}_bands  (band int, bucket int, id long)  clustered by bucket
      {name}_sigs   (id long, sig array<long>)       clustered by id
      {name}_meta   (params json)

    Probe plan shape (the scale property, plan-asserted in
    tests/test_dedup_index.py): the batch's band keys are explicitly
    broadcast, so the band table streams map-side — no Exchange touches
    index data; the verify step joins only the (small) candidate id set
    against the signature table.  Corpus text is never read.
    """

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.params = _read_meta(spark, name)

    def compact(self) -> None:
        """Fold each index table to one segment (run after every
        N appended batches — same cadence logic as the streaming commit
        ledger's self-compaction).  Band rows are deduplicated here: a
        crash between append()'s two writes can leave duplicate band
        keys (harmless to probe correctness, see append)."""
        be = get_backend()
        be.compact_segments(self.spark, f"{self.name}_sigs")
        be.compact_segments(self.spark, f"{self.name}_bands", distinct=True)

    # -- construction -------------------------------------------------

    @classmethod
    def create(cls, df: DataFrame, name: str, text_col: str = "text",
               id_col: str = "doc_id", num_hashes: int = 64, bands: int = 16,
               shingle_n: int = 3, seed: int = 42) -> "MinHashIndex":
        spark = df.sparkSession
        params = {"text_col": text_col, "id_col": id_col,
                  "num_hashes": num_hashes, "bands": bands,
                  "shingle_n": shingle_n, "seed": seed}
        sigs = dedup.minhash_signatures(df, text_col, id_col, num_hashes,
                                        shingle_n, seed)
        # one pass computes signatures; bands derive from the stored sigs
        # (a cheap re-read of the compact table, not a re-shingle)
        get_backend().write(sigs, f"{name}_sigs", "id")
        stored = get_backend().read(spark, f"{name}_sigs")
        get_backend().write(dedup.band_buckets(stored, bands), f"{name}_bands",
                            "bucket")
        _write_meta(spark, name, params)
        return cls(spark, name)

    # -- read paths ----------------------------------------------------

    def _batch_sigs(self, batch: DataFrame) -> DataFrame:
        p = self.params
        return dedup.minhash_signatures(batch, p["text_col"], p["id_col"],
                                        p["num_hashes"], p["shingle_n"], p["seed"])

    def probe(self, batch: DataFrame, threshold: float = 0.8,
              broadcast_row_cap: int | None = None,
              bucket_cap: int | None = 1000) -> DataFrame:
        """(corpus_id, batch_id, est_jaccard): near-duplicate links from
        each batch document to already-ingested documents.

        Exactly the cross-partition subset of what a full-corpus
        ``minhash_near_duplicates`` run would emit (same signatures,
        same banding, same verify rule) — pytest-locked equivalence.

        The batch's band keys broadcast only while they fit
        (``broadcast_row_cap`` rows, default PROBE_BROADCAST_ROW_CAP);
        a backfill-sized batch instead shuffle-joins on (band, bucket)
        against the band table.
        Batch signatures are materialized via eager localCheckpoint
        (blocks reclaimed on GC — a per-micro-batch cache() here would
        accumulate for the stream's lifetime).

        ``bucket_cap`` (default 1000, ``None`` = uncapped) bounds the
        corpus×batch candidate join against over-cap index buckets,
        exactly like every other family path: the index normally holds
        dedup SURVIVORS (band buckets live in a ~2^64 key space, so
        concentration needs near-identical signature slices, which
        dedup removes), but an index built over an UN-deduped corpus,
        or probed below the threshold it was deduped at, can hold mega
        buckets — without the cap those make the candidate join
        O(|corpus bucket| × |batch bucket|).  Over-cap buckets emit
        chain-verified candidates in signature order instead
        (``_chain_probe_pairs``): linear output, and a true near-dup
        still finds its match because near-identical signatures sort
        adjacent."""
        bsigs = self._batch_sigs(batch).localCheckpoint(eager=True)
        return self._probe_with_sigs(bsigs, threshold, broadcast_row_cap,
                                     bucket_cap)

    def _probe_with_sigs(self, bsigs: DataFrame, threshold: float,
                         broadcast_row_cap: int | None = None,
                         bucket_cap: int | None = 1000) -> DataFrame:
        """Probe core over MATERIALIZED batch signatures — the reuse
        point for ``dedup_batch``, which computes the batch signatures
        once and feeds probe, intra-batch dedup, and the append from
        the same frame."""
        p = self.params
        cap = PROBE_BROADCAST_ROW_CAP if broadcast_row_cap is None \
            else broadcast_row_cap
        bbands = (dedup.band_buckets(bsigs, p["bands"])
                  .withColumnRenamed("id", "batch_id"))
        probe_keys = bbands
        if bsigs.count() * p["bands"] <= cap:
            probe_keys = F.broadcast(probe_keys)
        ibands = get_backend().read(self.spark, f"{self.name}_bands")
        isigs = get_backend().read(self.spark, f"{self.name}_sigs")
        small_ibands, big = _split_overcap(ibands, ["band", "bucket"],
                                           bucket_cap)

        cands = (small_ibands.join(probe_keys, ["band", "bucket"])
                 .select(F.col("id").alias("corpus_id"), "batch_id")
                 .distinct())
        verified = (
            cands
            .join(isigs.select(F.col("id").alias("corpus_id"),
                               F.col("sig").alias("sig_a")), "corpus_id")
            .join(bsigs.select(F.col("id").alias("batch_id"),
                               F.col("sig").alias("sig_b")), "batch_id")
            .withColumn("est_jaccard", common.cached_expr(dedup._EST_JACCARD))
            .filter(F.col("est_jaccard") >= threshold)
            .select("corpus_id", "batch_id", "est_jaccard")
        )
        if big is None:
            return verified
        mega_c = (ibands.join(big, ["band", "bucket"], "left_semi")
                  .join(isigs, "id")
                  .select("band", "bucket", "id",
                          F.col("sig").alias("pay")))
        mega_b = (bbands.join(big, ["band", "bucket"], "left_semi")
                  .join(bsigs.select(F.col("id").alias("batch_id"), "sig"),
                        "batch_id")
                  .select("band", "bucket",
                          F.col("batch_id").alias("id"),
                          F.col("sig").alias("pay")))
        chain = (
            _chain_probe_pairs(mega_c, mega_b, ["band", "bucket"])
            .select("corpus_id", "batch_id",
                    F.col("pay_a").alias("sig_a"),
                    F.col("pay_b").alias("sig_b"))
            .withColumn("est_jaccard", common.cached_expr(dedup._EST_JACCARD))
            .filter(F.col("est_jaccard") >= threshold)
            .select("corpus_id", "batch_id", "est_jaccard"))
        # a pair can surface on both paths (small bucket in one band,
        # over-cap in another); est_jaccard is a pure function of the
        # two signatures, so max() is just deduplication
        return (verified.unionByName(chain)
                .groupBy("corpus_id", "batch_id")
                .agg(F.max("est_jaccard").alias("est_jaccard")))

    # -- write paths ---------------------------------------------------

    def append(self, batch_survivors: DataFrame, if_absent: bool = False,
               sigs: DataFrame | None = None) -> None:
        """Append a deduped batch's signatures and band keys so later
        batches dedup against it (one clustered segment per table).
        ``sigs``: precomputed signatures of EXACTLY the survivor rows
        (skips re-shingling — ``dedup_batch`` passes them).

        ``if_absent=True`` makes the append idempotent (only ids not
        already indexed are added) — required for at-least-once stream
        sinks, where a crashed micro-batch replays its append.  The
        batch signatures are checkpointed before the first write so the
        anti-join is not re-evaluated against the just-updated table
        (which would silently empty the second write).

        Crash-safety across the two table writes: bands are written
        FIRST and the replay guard keys on the LAST-written table
        (_sigs).  A crash between the writes leaves band keys without
        signatures; the replay's anti-join still sees those ids as
        absent, so both writes re-run — at worst duplicating band rows,
        which probe() dedups (candidates pass through distinct()) and
        compact() physically drops.  The reverse order would lose the
        batch's band keys forever (the guard would see the sigs and
        skip), silently disabling dedup against those documents."""
        p = self.params
        if sigs is None:
            sigs = self._batch_sigs(batch_survivors)
        if if_absent:
            existing = get_backend().read(self.spark,
                                          f"{self.name}_sigs").select("id")
            sigs = sigs.join(existing, "id", "left_anti")
        sigs = sigs.localCheckpoint(eager=True)
        get_backend().append(dedup.band_buckets(sigs, p["bands"]),
                             f"{self.name}_bands", "bucket")
        get_backend().append(sigs, f"{self.name}_sigs", "id")

    def dedup_batch(self, batch: DataFrame, threshold: float = 0.8,
                    bucket_cap: int | None = 1000,
                    replay_safe: bool = False) -> DataFrame:
        """The per-increment near-dedup: drop batch docs near-duplicating
        the corpus (corpus always wins — it was ingested first), then
        near-dedup the remainder against ITSELF (min-id survivor per
        connected component, same rule as the full-corpus path), append
        the survivors' state, and return the clean batch.

        Greedy-prefix semantics: a batch doc is dropped only if it
        near-matches an appended SURVIVOR or a same-batch doc.  A
        full-corpus run's transitive closure can additionally drop docs
        linked only through earlier-DROPPED intermediates (chain-shaped
        clusters: A~B dropped, B~C but C!~A — C survives here, not
        there).  For star-shaped clusters (members all matching the
        survivor — the common shape for crawl dups) the two agree
        exactly; the pytest equivalence suite locks that case.

        ``replay_safe=True`` is the at-least-once stream mode: matches
        whose corpus side IS one of this batch's own ids are ignored (a
        crashed prior attempt may have appended this very batch), and
        the append is ``if_absent`` — so a replayed batch produces the
        SAME clean frame as its first attempt and leaves the index
        unchanged.

        ``bucket_cap`` defaults to 1000 (linear worst-case intra-batch
        pair expansion, all pairs verified — see
        ``minhash_near_duplicates``); pass ``None`` for the uncapped
        exact-w.r.t.-banding mode."""
        p = self.params
        # ONE signature pass for the whole increment: probe, intra-batch
        # dedup, and the index append all reuse this materialized frame
        # (signatures are the dominant per-batch map cost — md5 over
        # every shingle × num_hashes; re-deriving a subset is a cheap
        # join against the checkpointed blocks)
        bsigs = self._batch_sigs(batch).localCheckpoint(eager=True)
        clean, sigs = _dedup_increment(
            batch, p["id_col"], bsigs,
            self._probe_with_sigs(bsigs, threshold, bucket_cap=bucket_cap),
            lambda rows: dedup.minhash_pairs_from_signatures(
                rows, p["bands"], threshold, bucket_cap),
            replay_safe)
        self.append(clean, if_absent=replay_safe, sigs=sigs)
        return clean

    def drop(self) -> None:
        for suffix in ("_bands", "_sigs", "_meta"):
            get_backend().drop(self.spark, f"{self.name}{suffix}")


class SimHashIndex:
    """Hamming-near-dup state: persisted 64-bit fingerprints plus their
    4×16-bit pigeonhole band keys (two fingerprints within hamming 3
    must agree on at least one band — dedup.simhash_near_duplicates'
    candidate rule, applied incrementally).

    Tables:
      {name}_fps    (id long, simhash long, band int, key long) clustered by key
      {name}_meta   (params json)

    One table (the fingerprint rides along with each band row — 4×8
    bytes of duplication buys the verify step a join-free plan): a probe
    computes the batch's fingerprints (pure JVM expression), broadcasts
    its band keys, and evaluates hamming distance directly on the
    joined rows.  Probe results are pytest-locked to equal the
    cross-partition subset of the full-corpus (oracle-green)
    ``simhash_near_duplicates``.
    """

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.params = _read_meta(spark, name)

    def compact(self) -> None:
        get_backend().compact_segments(self.spark, f"{self.name}_fps",
                                       distinct=True)

    @classmethod
    def create(cls, df: DataFrame, name: str, text_col: str = "text",
               id_col: str = "doc_id") -> "SimHashIndex":
        spark = df.sparkSession
        get_backend().write(cls._banded_fps(df, text_col, id_col),
                            f"{name}_fps", "key")
        _write_meta(spark, name, {"text_col": text_col, "id_col": id_col})
        return cls(spark, name)

    @classmethod
    def _banded_fps(cls, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        # dedup.simhash_band_keys is the single source of the candidate
        # rule, shared with the full-corpus self-join path
        return dedup.simhash_band_keys(
            dedup.simhash_fingerprints(df, text_col, id_col))

    def probe(self, batch: DataFrame, max_hamming: int = 3,
              broadcast_row_cap: int | None = None,
              bucket_cap: int | None = 1000) -> DataFrame:
        """(corpus_id, batch_id, hamming): every batch doc within
        ``max_hamming`` of an already-ingested fingerprint.  Broadcast
        gating and eager materialization as in ``MinHashIndex.probe``;
        ``bucket_cap`` bounds over-cap corpus band buckets with
        chain-verified candidates in fingerprint order (see
        ``MinHashIndex.probe`` — same rationale, same kernel;
        ``None`` = uncapped)."""
        p = self.params
        bfps = (self._banded_fps(batch, p["text_col"], p["id_col"])
                .localCheckpoint(eager=True))
        return self._probe_with_fps(bfps, max_hamming, broadcast_row_cap,
                                    bucket_cap)

    def _probe_with_fps(self, bfps: DataFrame, max_hamming: int,
                        broadcast_row_cap: int | None = None,
                        bucket_cap: int | None = 1000) -> DataFrame:
        """Probe core over MATERIALIZED banded batch fingerprints."""
        dedup.check_simhash_hamming(max_hamming)
        cap = PROBE_BROADCAST_ROW_CAP if broadcast_row_cap is None \
            else broadcast_row_cap
        b = bfps.select(F.col("id").alias("batch_id"),
                        F.col("simhash").alias("fp_b"), "band", "key")
        probe_keys = b
        if bfps.count() <= cap:
            probe_keys = F.broadcast(probe_keys)
        idx = get_backend().read(self.spark, f"{self.name}_fps")
        small_idx, big = _split_overcap(idx, ["band", "key"], bucket_cap)

        hamming = F.bit_count(F.col("simhash").bitwiseXOR(F.col("fp_b")))
        verified = (
            small_idx.join(probe_keys, ["band", "key"])
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("id").alias("corpus_id"), "batch_id", "hamming")
            .distinct()
        )
        if big is None:
            return verified
        mega_c = (idx.join(big, ["band", "key"], "left_semi")
                  .select("band", "key", "id",
                          F.col("simhash").alias("pay")))
        mega_b = (b.join(big, ["band", "key"], "left_semi")
                  .select("band", "key",
                          F.col("batch_id").alias("id"),
                          F.col("fp_b").alias("pay")))
        chain = (
            _chain_probe_pairs(mega_c, mega_b, ["band", "key"])
            .withColumn("hamming", F.bit_count(
                F.col("pay_a").bitwiseXOR(F.col("pay_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("corpus_id", "batch_id", "hamming"))
        return (verified.unionByName(chain)
                .groupBy("corpus_id", "batch_id")
                .agg(F.min("hamming").alias("hamming")))

    def append(self, batch_survivors: DataFrame, if_absent: bool = False,
               banded_fps: DataFrame | None = None) -> None:
        """``banded_fps``: precomputed banded fingerprint rows of EXACTLY
        the survivor rows (skips the text aggregate — ``dedup_batch``
        passes them)."""
        p = self.params
        rows = (banded_fps if banded_fps is not None
                else self._banded_fps(batch_survivors, p["text_col"], p["id_col"]))
        if if_absent:
            existing = (get_backend().read(self.spark, f"{self.name}_fps")
                        .select("id").distinct())
            rows = rows.join(existing, "id", "left_anti")
        get_backend().append(rows, f"{self.name}_fps", "key")

    def dedup_batch(self, batch: DataFrame, max_hamming: int = 3,
                    replay_safe: bool = False,
                    bucket_cap: int | None = 1000) -> DataFrame:
        """Drop batch docs within ``max_hamming`` of the corpus, then
        hamming-dedup the remainder against itself (min-id survivor per
        connected component), append survivors, return the clean batch.
        Greedy-prefix semantics vs a full-corpus run: see
        ``MinHashIndex.dedup_batch``.  ``bucket_cap`` bounds intra-batch
        mega-bucket expansion with verified chain edges (see
        ``simhash_pairs_from_fingerprints``); ``None`` = uncapped."""
        p = self.params
        # ONE fingerprint pass for the whole increment (see
        # MinHashIndex.dedup_batch — same reuse rationale)
        bfps = (self._banded_fps(batch, p["text_col"], p["id_col"])
                .localCheckpoint(eager=True))
        clean, kept = _dedup_increment(
            batch, p["id_col"], bfps,
            self._probe_with_fps(bfps, max_hamming, bucket_cap=bucket_cap),
            lambda rows: dedup.simhash_pairs_from_fingerprints(
                rows.select("id", "simhash").distinct(), max_hamming,
                bucket_cap),
            replay_safe)
        self.append(clean, if_absent=replay_safe, banded_fps=kept)
        return clean

    def drop(self) -> None:
        for suffix in ("_fps", "_meta"):
            get_backend().drop(self.spark, f"{self.name}{suffix}")


class EmbeddingIndex:
    """Embedding-cosine near-dup state: persisted vectors with their
    banded hyperplane-LSH keys — the embedding-side member of the
    incremental index family (digest / minhash / simhash / embedding),
    laid out like ``MinHashIndex`` (slim key table + payload table, so
    vectors are stored ONCE regardless of the band count).

    Tables:
      {name}_vecs     (id long, vec array<...>, osig long)  clustered by id
      {name}_buckets  (band int, bucket long, id long)      clustered by bucket;
                      a rebucket's n_planes/bands ride in its manifest
      {name}_meta     (params json incl. the hyperplane family: n_planes,
                       bands, seed, dim — the planes themselves are
                       deterministic from these, never persisted; the
                       chain-ordering family derives from the same seed)

    A probe computes the batch's band keys map-side (pure JVM sign-bit
    expressions), broadcasts the batch side while it fits (size-gated
    like ``MinHashIndex.probe``), joins the slim bucket table, and
    verifies candidates with the exact cosine on the vectors joined
    back by id.  ``bucket_cap`` bounds mega-bucket candidate output:
    with only 2^n_planes buckets per band a dense embedding region
    concentrates in one bucket, and an uncapped corpus×batch join there
    is O(|corpus_bucket| × |batch_bucket|); over-cap buckets instead
    verify each batch vector against its nearest corpus neighbors in
    chain-ordering-signature order — linear output, and a true
    near-duplicate still finds a verified corpus match because
    near-identical vectors sort adjacent.  Probe results are
    pytest-locked to equal the cross-partition subset of the
    full-corpus ``similarity.cosine_near_duplicates`` run with the same
    family (exact equality below the cap; the capped path preserves the
    drop/keep decision).
    """

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        be = get_backend()
        try:
            buckets = be.latest_manifest(spark, f"{name}_buckets")
        except FileNotFoundError:
            if be.exists(spark, f"{name}_vecs"):
                raise RuntimeError(
                    f"index {name!r} uses the pre-round single-table layout "
                    "((id, vec, bucket), no _buckets table) — rebuild it "
                    "with EmbeddingIndex.create from the source vectors "
                    "(the old layout stored no ordering signature, so it "
                    "cannot be migrated in place)") from None
            buckets = {}
        self.params = _read_meta(spark, name)
        # meta written before the banded layout carries no bands key
        self.params.setdefault("bands", 1)
        # the key geometry a rebucket committed rides in the buckets
        # manifest, so keys and planes flip in one commit; an index
        # never rebucketed keeps its create-time geometry in the meta
        self.params.update(buckets.get("extra") or {})

    def compact(self) -> None:
        be = get_backend()
        be.compact_segments(self.spark, f"{self.name}_vecs")
        be.compact_segments(self.spark, f"{self.name}_buckets", distinct=True)

    def rebucket(self, n_planes: int | None = None,
                 bands: int | None = None) -> None:
        """Re-derive the band-key table from the stored vectors under a
        new hyperplane geometry — the maintenance op that keeps
        per-increment probe cost flat as the corpus grows.

        Per-batch probe candidates grow ∝ corpus / 2^n_planes (there
        are only that many buckets per band), so an index created for
        last quarter's corpus size gradually loses its pruning power.
        This rewrites ONLY the slim key table (the vectors are the
        payload table and are untouched) in one backend ``rewrite``:
        the new keys and their geometry (``n_planes``, ``bands``, kept
        in the key table's manifest metadata) publish in ONE manifest
        commit, so probes never see mismatched planes-vs-keys, and a
        crash before it leaves the old geometry fully in place.

        A concurrent append lands keys under the OLD geometry; unlike
        compaction those rows cannot be carried through the rewrite
        (they would be silently unfindable under the new planes), so
        the commit requires the key table to be exactly the snapshot
        the keys were derived from and raises ConcurrentWriteError
        otherwise — the caller re-runs rebucket over the grown
        corpus."""
        from dlx_spark.operators import similarity

        p = dict(self.params)
        geometry = {"n_planes": int(n_planes or p["n_planes"]),
                    "bands": int(bands or p["bands"])}
        p.update(geometry)
        be = get_backend()
        token = be.snapshot_token(self.spark, f"{self.name}_buckets")
        vecs = be.read(self.spark, f"{self.name}_vecs")
        keys = similarity.banded_lsh_keys(vecs, p["bands"], p["n_planes"],
                                          p["seed"], vec_col="vec",
                                          id_col="id", dim=p["dim"])
        if not be.rewrite(keys, f"{self.name}_buckets", token, exact=True,
                          extra=geometry):
            raise tableio.ConcurrentWriteError(
                f"rebucket({self.name}): index was appended to while "
                f"re-keying — re-run rebucket")
        self.params = p

    @classmethod
    def create(cls, df: DataFrame, name: str, vec_col: str = "embedding",
               id_col: str = "vec_id", n_planes: int = 8, bands: int = 1,
               seed: int = 42,
               dim: int | None = None) -> "EmbeddingIndex":
        from dlx_spark.operators import similarity

        spark = df.sparkSession
        if dim is None:
            head = df.select(vec_col).first()
            if head is None:
                raise ValueError("cannot infer dim from an empty frame — pass dim")
            dim = len(head[0])
        params = {"vec_col": vec_col, "id_col": id_col, "n_planes": n_planes,
                  "bands": bands, "seed": seed, "dim": dim}
        oplanes = similarity.order_planes(dim, seed)
        vrows = df.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("vec"),
                          similarity._order_sig_expr(vec_col, oplanes)
                          .alias("osig"))
        be = get_backend()
        be.write(vrows, f"{name}_vecs", "id")
        # band keys derive from the stored vectors (a cheap columnar
        # re-read, not a second pass over the source)
        stored = be.read(spark, f"{name}_vecs")
        be.write(similarity.banded_lsh_keys(stored, bands, n_planes, seed,
                                            vec_col="vec", id_col="id",
                                            dim=dim),
                 f"{name}_buckets", "bucket")
        _write_meta(spark, name, params)
        return cls(spark, name)

    def _batch_vecs(self, batch: DataFrame) -> DataFrame:
        """(id, vec, osig) rows of a batch — the ONE per-increment
        projection that probe, intra dedup, and append all reuse."""
        from dlx_spark.operators import similarity

        p = self.params
        oplanes = similarity.order_planes(p["dim"], p["seed"])
        return batch.select(F.col(p["id_col"]).alias("id"),
                            F.col(p["vec_col"]).alias("vec"),
                            similarity._order_sig_expr(p["vec_col"], oplanes)
                            .alias("osig"))

    def _band_keys(self, vecs: DataFrame) -> DataFrame:
        from dlx_spark.operators import similarity

        p = self.params
        return similarity.banded_lsh_keys(vecs, p["bands"], p["n_planes"],
                                          p["seed"], vec_col="vec",
                                          id_col="id", dim=p["dim"])

    def probe(self, batch: DataFrame, threshold: float = 0.9,
              multiprobe_hamming: int = 0,
              broadcast_row_cap: int | None = None,
              bucket_cap: int | None = 1000) -> DataFrame:
        """(corpus_id, batch_id, cosine): every batch vector whose exact
        cosine to an already-ingested vector clears ``threshold``, among
        LSH candidates.  Recall levers as in
        ``similarity.cosine_near_duplicates``: the index's ``bands``
        (fixed at create time) are the scale path;
        ``multiprobe_hamming`` is the single-band legacy knob.
        ``bucket_cap`` (default 1000, ``None`` = uncapped) bounds
        mega-bucket candidates via the nearest-in-order chain."""
        bvecs = self._batch_vecs(batch).localCheckpoint(eager=True)
        return self._probe_with_vecs(bvecs, threshold, multiprobe_hamming,
                                     broadcast_row_cap, bucket_cap)

    def _probe_with_vecs(self, bvecs: DataFrame, threshold: float,
                         multiprobe_hamming: int = 0,
                         broadcast_row_cap: int | None = None,
                         bucket_cap: int | None = 1000) -> DataFrame:
        from dlx_spark.operators import similarity

        p = self.params
        cap = PROBE_BROADCAST_ROW_CAP if broadcast_row_cap is None \
            else broadcast_row_cap
        if p["bands"] > 1 and multiprobe_hamming:
            raise ValueError("multiprobe applies to single-band indexes; "
                             "this index uses bands for recall")
        bb = self._band_keys(bvecs)
        n_masks = 1
        probe_keys = bb.withColumnRenamed("id", "batch_id")
        if multiprobe_hamming:
            masks = similarity.multiprobe_masks(p["n_planes"],
                                                multiprobe_hamming)
            n_masks = len(masks)
            probe_keys = probe_keys.select(
                "batch_id", "band",
                F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m))
                                    for m in masks])).alias("bucket"))
        if bvecs.count() * p["bands"] * n_masks <= cap:
            probe_keys = F.broadcast(probe_keys)

        idxb = get_backend().read(self.spark, f"{self.name}_buckets")
        idxv = get_backend().read(self.spark, f"{self.name}_vecs")
        small_idxb, big = _split_overcap(idxb, ["band", "bucket"],
                                         bucket_cap)

        cands = (small_idxb.join(probe_keys, ["band", "bucket"])
                 .select(F.col("id").alias("corpus_id"), "batch_id")
                 .distinct())
        verified = (
            cands
            .join(idxv.select(F.col("id").alias("corpus_id"),
                              F.col("vec").alias("cvec")), "corpus_id")
            .join(bvecs.select(F.col("id").alias("batch_id"),
                               F.col("vec").alias("pvec")), "batch_id")
            .withColumn("cosine", similarity.pairwise_cosine_expr())
            .filter(F.col("cosine") >= threshold)
            .select("corpus_id", "batch_id", "cosine"))

        if big is not None:
            # mega-buckets: each batch vector is verified against its
            # nearest corpus neighbors in ordering-signature order
            # (``_chain_probe_pairs``) — linear output; a true near-dup
            # sorts within ε of its match on the continuous projection.
            # (Multiprobe edges INTO a mega-bucket are dropped — the
            # m × probe-row expansion is the blow-up the cap prevents.)
            mega_c = (idxb.join(big, ["band", "bucket"], "left_semi")
                      .join(idxv, "id")
                      .select("band", "bucket", "id", "osig",
                              F.col("vec").alias("pay")))
            mega_b = (bb.join(big, ["band", "bucket"], "left_semi")
                      .join(bvecs, "id")
                      .select("band", "bucket", "id", "osig",
                              F.col("vec").alias("pay")))
            chain = (
                _chain_probe_pairs(mega_c, mega_b, ["band", "bucket"],
                                   order="osig")
                .select("corpus_id", "batch_id",
                        F.col("pay_a").alias("cvec"),
                        F.col("pay_b").alias("pvec"))
                .withColumn("cosine", similarity.pairwise_cosine_expr())
                .filter(F.col("cosine") >= threshold)
                .select("corpus_id", "batch_id", "cosine"))
            verified = verified.unionByName(chain)

        return (verified.groupBy("corpus_id", "batch_id")
                .agg(F.max("cosine").alias("cosine")))

    def append(self, batch_survivors: DataFrame, if_absent: bool = False,
               vecs: DataFrame | None = None) -> None:
        """``vecs``: precomputed (id, vec, osig) rows of EXACTLY the
        survivor rows (``dedup_batch`` passes them).

        Crash-safety across the two table writes mirrors
        ``MinHashIndex.append``: band keys are written FIRST and the
        replay guard keys on the LAST-written table (_vecs), so a crash
        between the writes at worst duplicates band rows (probe dedups
        candidates; compact physically drops them)."""
        rows = vecs if vecs is not None else self._batch_vecs(batch_survivors)
        if if_absent:
            existing = get_backend().read(self.spark,
                                          f"{self.name}_vecs").select("id")
            rows = rows.join(existing, "id", "left_anti")
        rows = rows.localCheckpoint(eager=True)
        get_backend().append(self._band_keys(rows), f"{self.name}_buckets",
                             "bucket")
        get_backend().append(rows, f"{self.name}_vecs", "id")

    def dedup_batch(self, batch: DataFrame, threshold: float = 0.9,
                    multiprobe_hamming: int = 0,
                    replay_safe: bool = False,
                    bucket_cap: int | None = 1000) -> DataFrame:
        """Drop batch vectors near-duplicating the corpus (corpus wins),
        cosine-dedup the remainder against itself (min-id survivor per
        connected component), append survivors, return the clean batch.
        Greedy-prefix semantics and ``replay_safe`` contract as in
        ``MinHashIndex.dedup_batch``.  The intra-batch dedup runs the
        SAME candidate rule as the probe — bands, multiprobe neighbor
        expansion, and the mega-bucket cap all apply to both sides."""
        from dlx_spark.operators import similarity

        p = self.params
        masks = (similarity.multiprobe_masks(p["n_planes"],
                                             multiprobe_hamming)
                 if multiprobe_hamming else None)
        # ONE vector/ordering pass feeds probe, intra dedup, and append
        bvecs = self._batch_vecs(batch).localCheckpoint(eager=True)
        clean, vecs = _dedup_increment(
            batch, p["id_col"], bvecs,
            self._probe_with_vecs(bvecs, threshold, multiprobe_hamming,
                                  bucket_cap=bucket_cap),
            lambda rows: similarity.cosine_pairs_from_keys(
                self._band_keys(rows), rows, threshold, bucket_cap, masks)
            .select("id_a", "id_b"),
            replay_safe)
        self.append(clean, if_absent=replay_safe, vecs=vecs)
        return clean

    def drop(self) -> None:
        for suffix in ("_vecs", "_buckets", "_meta"):
            get_backend().drop(self.spark, f"{self.name}{suffix}")


class SegmentIndex:
    """Incremental corpus-level SEGMENT dedup state (the C4-style
    repeated-unit rule of ``spans.segment_dedup``, batched): the digest
    of every segment ever KEPT, clustered by digest.

    Per-batch cost: segment the batch (map-only), one anti-join against
    the digest table (broadcast while it fits), a batch-internal
    first-occurrence pick, and an append of the batch's kept
    digests.  The corpus text is never rescanned.

    Sequential equivalence anchor (pytest): feeding doc-id-ordered
    batches through ``dedup_batch`` produces exactly the full-corpus
    ``spans.segment_dedup`` output, because the global first-occurrence
    order (doc_id, seg_idx) is the batch arrival order."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.params = _read_meta(spark, name)

    def compact(self) -> None:
        get_backend().compact_segments(self.spark, f"{self.name}_segments")

    @classmethod
    def create_empty(cls, spark: SparkSession, name: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     unit_words: int = 10,
                     normalize: bool = True) -> "SegmentIndex":
        """An empty index: the stream-ingest shape, where every corpus
        batch (including the first) flows through ``dedup_batch``."""
        if unit_words < 1:
            raise ValueError("unit_words must be >= 1")
        empty = spark.createDataFrame(
            [], "digest string, keep_id long")
        get_backend().write(empty, f"{name}_segments", "digest")
        _write_meta(spark, name, {
            "text_col": text_col, "id_col": id_col,
            "unit_words": unit_words, "normalize": normalize})
        return cls(spark, name)

    @classmethod
    def create(cls, df: DataFrame, name: str, text_col: str = "text",
               id_col: str = "doc_id", unit_words: int = 10,
               normalize: bool = True) -> "SegmentIndex":
        """Index an existing corpus: every distinct segment digest with
        the id of the document whose copy was kept."""
        idx = cls.create_empty(df.sparkSession, name, text_col, id_col,
                               unit_words, normalize)
        from dlx_spark.operators import spans as _spans
        segs = _spans.word_segments(df, text_col, id_col, unit_words,
                                    normalize)
        digests = (segs
                   .select(F.md5("seg_text").alias("digest"),
                           F.col("doc_id").cast("long").alias("keep_id"))
                   .groupBy("digest").agg(F.min("keep_id").alias("keep_id")))
        get_backend().append(digests, f"{name}_segments", "digest")
        return idx

    def _batch_segments(self, batch: DataFrame) -> DataFrame:
        from dlx_spark.operators import spans as _spans
        p = self.params
        return _spans.word_segments(batch, p["text_col"], p["id_col"],
                                    p["unit_words"], p["normalize"]) \
                     .withColumn("digest", F.md5("seg_text"))

    def _kept_and_rebuilt(self, batch: DataFrame,
                          replay_safe: bool) -> tuple[DataFrame, DataFrame]:
        from dlx_spark.operators import spans as _spans
        from pyspark.sql import Window
        p = self.params
        idx = get_backend().read(self.spark, f"{self.name}_segments")
        if replay_safe:
            own = batch.select(F.col(p["id_col"]).cast("long")
                               .alias("keep_id"))
            idx = idx.join(own, "keep_id", "left_anti")
        segs = self._batch_segments(batch)
        fresh = segs.join(idx.select("digest"), "digest", "left_anti")
        w = Window.partitionBy("digest").orderBy("doc_id", "seg_idx")
        kept = (fresh.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("doc_id", "seg_idx", "seg_text", "digest"))
        totals = _spans.segment_totals(batch, p["text_col"], p["id_col"],
                                       p["unit_words"], p["normalize"])
        return kept, _spans.rebuild_documents(
            kept.select("doc_id", "seg_idx", "seg_text"), totals)

    def filter_new(self, batch: DataFrame,
                   replay_safe: bool = False) -> DataFrame:
        """Rebuilt batch documents with every segment already in the
        index (or duplicated earlier in the batch) removed — same
        output schema as ``spans.segment_dedup``.  ``replay_safe``:
        index rows kept FROM this batch's own doc ids are ignored, so
        an at-least-once replay reproduces its first attempt."""
        _, rebuilt = self._kept_and_rebuilt(batch, replay_safe)
        return rebuilt

    def append_kept(self, kept_segments: DataFrame,
                    if_absent: bool = False) -> None:
        """Record kept segments' digests.  ``if_absent=True`` makes the
        append idempotent for at-least-once replays."""
        digests = (kept_segments
                   .select("digest",
                           F.col("doc_id").cast("long").alias("keep_id"))
                   .groupBy("digest").agg(F.min("keep_id").alias("keep_id")))
        if if_absent:
            existing = get_backend().read(
                self.spark, f"{self.name}_segments").select("digest")
            digests = digests.join(existing, "digest", "left_anti") \
                             .localCheckpoint(eager=True)
        get_backend().append(digests, f"{self.name}_segments", "digest")

    def dedup_batch(self, batch: DataFrame,
                    replay_safe: bool = False) -> DataFrame:
        """filter_new + append of the batch's kept segment digests.
        The kept set is pinned (localCheckpoint) BEFORE the append so
        neither returned frame re-runs its anti-join against the
        just-appended state; the digests are appended from the kept
        SEGMENTS, never re-derived from the rebuilt text (re-splitting
        a rebuilt document would shift window alignment whenever a
        mid-document segment was cut)."""
        kept, rebuilt = self._kept_and_rebuilt(batch, replay_safe)
        kept = kept.localCheckpoint(eager=True)
        rebuilt = rebuilt.localCheckpoint(eager=True)
        self.append_kept(kept, if_absent=replay_safe)
        return rebuilt

    def drop(self) -> None:
        get_backend().drop(self.spark, f"{self.name}_segments")
        get_backend().drop(self.spark, f"{self.name}_meta")


class SpanIndex:
    """Incremental duplicated-SPAN cutting (the keep-first rule of
    ``spans.cut_duplicate_spans``, batched): the digest of every
    stride-1 k-word window ever seen, with its first (doc, pos)
    occurrence, clustered by digest.

    Per-batch semantics (min_docs=2, keep_first — the Lee-et-al
    setting; other configurations have no incremental form because
    they need global distinct-doc counts):

    - a batch window whose digest is in the index is CUT (the first
      occurrence kept its copy in an earlier batch);
    - among fresh digests, a window content in >=2 distinct batch docs
      keeps only its (doc, pos)-first occurrence;
    - all fresh digests append with their first occurrence, so a
      FUTURE batch occurrence is cut even when today's was unique.

    Sequential equivalence (pytest): doc-id-ordered batches through
    ``dedup_batch`` emit exactly what a full-corpus
    ``cut_duplicate_spans(keep_first=True)`` would emit for those docs,
    because a window's global first occurrence is its first arrival.
    """

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.params = _read_meta(spark, name)

    def compact(self) -> None:
        get_backend().compact_segments(self.spark, f"{self.name}_windows")

    @classmethod
    def create_empty(cls, spark: SparkSession, name: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     k: int = 15, normalize: bool = True) -> "SpanIndex":
        if k < 1:
            raise ValueError("k must be >= 1")
        empty = spark.createDataFrame(
            [], "digest string, keep_id long, keep_pos long")
        get_backend().write(empty, f"{name}_windows", "digest")
        _write_meta(spark, name, {
            "text_col": text_col, "id_col": id_col, "k": k,
            "normalize": normalize})
        return cls(spark, name)

    @classmethod
    def create(cls, df: DataFrame, name: str, text_col: str = "text",
               id_col: str = "doc_id", k: int = 15,
               normalize: bool = True) -> "SpanIndex":
        """Index an existing corpus's windows (first occurrences)."""
        idx = cls.create_empty(df.sparkSession, name, text_col, id_col,
                               k, normalize)
        from dlx_spark.operators import spans as _spans
        wins = _spans.word_windows(df, text_col, id_col, k, normalize)
        firsts = (wins.groupBy("digest")
                  .agg(F.min(F.struct("doc_id", "pos")).alias("_f"))
                  .select("digest",
                          F.col("_f.doc_id").cast("long").alias("keep_id"),
                          F.col("_f.pos").cast("long").alias("keep_pos")))
        get_backend().append(firsts, f"{name}_windows", "digest")
        return idx

    def _cut_and_fresh(self, batch: DataFrame,
                       replay_safe: bool) -> tuple[DataFrame, DataFrame,
                                                   DataFrame, DataFrame]:
        from dlx_spark.operators import spans as _spans
        p = self.params
        idx = get_backend().read(self.spark, f"{self.name}_windows")
        if replay_safe:
            own = batch.select(F.col(p["id_col"]).cast("long")
                               .alias("keep_id"))
            idx = idx.join(own, "keep_id", "left_anti")
        base = _spans._doc_tokens(batch, p["text_col"], p["id_col"],
                                  p["normalize"])
        wins = _spans._windows_of(base, p["k"]).cache()

        hist_cut = wins.join(idx.select("digest"), "digest", "left_semi") \
                       .select("doc_id", "pos")
        fresh = wins.join(idx.select("digest"), "digest", "left_anti")
        grp = fresh.groupBy("digest").agg(
            F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"),
            F.min(F.struct("doc_id", "pos")).alias("_first"))
        intra_dup = grp.filter(F.col("_lo") != F.col("_hi")) \
                       .select("digest", "_first")
        intra_cut = (fresh.join(intra_dup, "digest")
                     .filter((F.col("doc_id") != F.col("_first.doc_id"))
                             | (F.col("pos") != F.col("_first.pos")))
                     .select("doc_id", "pos"))
        firsts = grp.select(
            "digest", F.col("_first.doc_id").cast("long").alias("keep_id"),
            F.col("_first.pos").cast("long").alias("keep_pos"))
        return base, hist_cut.unionByName(intra_cut), firsts, wins

    def filter_new(self, batch: DataFrame,
                   replay_safe: bool = False) -> DataFrame:
        """Batch docs with every historically- or batch-duplicated
        window cut (keep-first) — same output schema as
        ``spans.cut_duplicate_spans``.  Does not mutate the index."""
        from dlx_spark.operators import spans as _spans
        base, cuts, _, _wins = self._cut_and_fresh(batch, replay_safe)
        # the cache stays live here: the returned frame is lazy and
        # both its cut branches re-read the windows when materialized
        return _spans.apply_window_cuts(base, cuts, self.params["k"])

    def append_firsts(self, firsts: DataFrame,
                      if_absent: bool = False) -> None:
        """Record a batch's fresh window digests (first occurrences).
        ``if_absent=True`` makes replays idempotent."""
        if if_absent:
            existing = get_backend().read(
                self.spark, f"{self.name}_windows").select("digest")
            firsts = firsts.join(existing, "digest", "left_anti") \
                           .localCheckpoint(eager=True)
        get_backend().append(firsts, f"{self.name}_windows", "digest")

    def dedup_batch(self, batch: DataFrame,
                    replay_safe: bool = False) -> DataFrame:
        """filter_new + append of the batch's fresh window digests,
        both pinned before the append so neither re-runs against the
        just-appended state."""
        from dlx_spark.operators import spans as _spans
        base, cuts, firsts, wins = self._cut_and_fresh(batch, replay_safe)
        firsts = firsts.localCheckpoint(eager=True)
        cleaned = _spans.apply_window_cuts(base, cuts, self.params["k"]) \
                        .localCheckpoint(eager=True)
        # both consumers are pinned — release the per-batch window cache
        # so a long-running ingest stream does not accumulate one cached
        # relation per micro-batch (the SemDeDup-append lesson)
        wins.unpersist()
        self.append_firsts(firsts, if_absent=replay_safe)
        return cleaned

    def drop(self) -> None:
        get_backend().drop(self.spark, f"{self.name}_windows")
        get_backend().drop(self.spark, f"{self.name}_meta")
