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
                        its band keys into a map-side semi-join against
                        the band table, and verifies candidates against
                        the signature table.  Per-increment cost: one
                        broadcast-join scan of the compact index tables
                        (signatures + bands are ~1-2 % of corpus text
                        bytes); only the rows of the buckets the batch
                        touches are shuffled, plus work proportional to
                        the batch.
- ``EmbeddingIndex``  — vectors with hyperplane-LSH bucket keys; probes
                        find cosine-≥threshold neighbors of a batch
                        against all history with exact-cosine
                        verification (the embedding-side analog of the
                        MinHash index).  ``knn`` (a probe frame) and
                        ``topk`` (one query vector) answer top-k
                        nearest neighbors from the same persisted
                        state: every candidate ranked by exact cosine.

All indexes are append-only: after a batch is deduped, its survivors'
state is appended (one segment per append, clustered by the table's key
and sized to its rows — a few-hundred-doc increment writes one file per
table — and folded by ``compact``, one backend ``compact_segments``
commit per table), so tomorrow's batch sees today's survivors.

The near-dup families (MinHash, SimHash, Embedding) share one candidate
kernel, ``_Grouping``, and one increment body, ``_dedup_increment``.
One band grouping holds the index key rows of every bucket the batch
touches plus the batch's key rows; a bucket yields corpus×batch pairs
while its corpus side is within ``bucket_cap`` (the rule of the deleted
full-index ``_split_overcap`` aggregate, read off the touched buckets)
and batch×batch pairs while its batch side is; ``probe()`` omits the
latter.  The pins observe, in the same actions, what every gate needs:
the corpus chain runs only for a bucket over the cap on its corpus
side, the capped intra-batch pass only for one over it on its batch
side (a batch larger than the cap), connected components only when
batch links exist, and the payload pin counts the broadcast gate's rows
— no ``count()`` job.  An uncapped increment warns on an over-cap
bucket.

Index parameters (hash family seed, bands, shingle width...) are persisted in
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
import warnings

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dlx_spark import tableio
from dlx_spark.tableio import get_backend
from dlx_spark.operators import common, dedup, similarity


# Probe-side broadcast gate: a daily-increment batch's band keys are a
# few MB and belong in a broadcast (zero shuffle of index data), but a
# backfill-sized batch would blow the driver/executor broadcast memory.
# Above this many band-key rows (~50-100 MB serialized) the probe falls
# back to a plain shuffle equi-join on (band, bucket): both sides are
# hash-exchanged on the join key (the index tables are path-based, so
# no catalog bucket spec lets Spark elide the index-side exchange).
PROBE_BROADCAST_ROW_CAP = 2_000_000

#: the default ``bucket_cap`` of the near-dup families: a band bucket
#: with more index rows than this is verified as a chain, not expanded
#: into all pairs.  An uncapped increment warns past it.
BUCKET_CAP = 1000


def _pinned(rows: DataFrame) -> tuple[DataFrame, int]:
    """``rows`` pinned by one eager localCheckpoint, with the row count
    that checkpoint observed (the broadcast gate's input)."""
    rows, seen = common.observed(rows, n=F.count(F.lit(1)))
    rows = rows.localCheckpoint(eager=True)
    seen = seen()
    return rows, ((seen["n"] or 0) if seen is not None else rows.count())


def _pairs_expr(intra: bool):
    """A bucket's candidate pairs ``array<struct<a, b, intra>>``: corpus
    × batch ids, and with ``intra`` the eligible batch pairs (a < b)."""
    corpus = ("flatten(transform(cids, x -> transform(concat(bids, pids), "
              "y -> named_struct('a', x, 'b', y, 'intra', false))))")
    if not intra:
        return common.cached_expr(corpus)
    pair = "named_struct('a', least(x, y), 'b', greatest(x, y), 'intra', true)"
    return common.cached_expr(
        f"concat({corpus}, "
        f"flatten(transform(ibids, (x, i) -> transform("
        f"slice(ibids, i + 2, size(ibids) - i - 1), y -> {pair}))), "
        f"flatten(transform(pids, x -> transform("
        f"filter(ibids, y -> y != x), y -> {pair}))))")


class _Grouping:
    """One band grouping of a pinned batch against an index: the
    candidate kernel of every near-dup ``probe`` and ``dedup_batch``.

    Its rows are the index key rows of every bucket the batch touches
    (the key table semi-joined to the broadcast batch keys keeps every
    row of a touched bucket, so a bucket's corpus side is the whole
    index bucket), the batch's key rows and, for multiprobe, its probe
    rows; one window sizes each bucket's corpus and batch side.  A
    bucket yields corpus×batch pairs while its corpus side is within
    ``bucket_cap`` (``chain`` covers the rest) and batch×batch pairs
    while its batch side is; ``score`` (a Column over ``pay_a`` and
    ``pay_b``) verifies them on the payloads joined back by id, and
    ``keep`` (a Column over ``score``) filters them.

    Keys are (band, bucket, id); payloads are (id, pay) plus the chain's
    ``order`` column.  Batch-sized relations are forced to broadcast
    while ``key_rows`` is within ``broadcast_row_cap``."""

    def __init__(self, index_keys, corpus_pay, batch_keys, batch_pay,
                 score, keep, key_rows, bucket_cap, broadcast_row_cap=None,
                 probe_keys=None, order="pay"):
        self.row_cap = PROBE_BROADCAST_ROW_CAP if broadcast_row_cap is None \
            else broadcast_row_cap
        self.hint = self._hint(key_rows)
        self.corpus_pay, self.batch_pay = corpus_pay, batch_pay
        self.score, self.keep, self.order = score, keep, order
        self.bucket_cap = bucket_cap
        keys = batch_keys.select("band", "bucket", "id", F.lit(1).alias("_side"))
        if probe_keys is not None:
            keys = keys.unionByName(probe_keys.select(
                "band", "bucket", "id", F.lit(2).alias("_side")))
        corpus = (index_keys.join(self.hint(keys.select("band", "bucket")),
                                  ["band", "bucket"], "left_semi")
                  .select("band", "bucket", "id", F.lit(0).alias("_side")))
        w = Window.partitionBy("band", "bucket")
        n = lambda side: F.sum((F.col("_side") == side).cast("int")).over(w)
        self.rows = corpus.unionByName(keys).select(
            "*", n(0).alias("_nc"), n(1).alias("_nb"),
            F.count(F.lit(1)).over(w).alias("_n"))

    def _hint(self, rows: int):
        return F.broadcast if rows <= self.row_cap else (lambda df: df)

    @staticmethod
    def _side(pay: DataFrame, side: str, *intra: bool):
        return pay.select(F.col("id").alias(side),
                          F.col("pay").alias(f"pay_{side}"),
                          *[F.lit(i).alias("intra") for i in intra])

    def over(self, seen: dict | None, side: str) -> bool:
        """A bucket over the cap on ``side``?  Unknown counts as yes."""
        return self.bucket_cap is not None and (
            seen is None or seen[side] > self.bucket_cap)

    def links(self, intra: bool, pin: bool = False):
        """``(links, seen)``: verified links ``(a, b, intra, score)`` —
        corpus links (a the corpus id) and, with ``intra``, batch links
        (a < b).  The grouping's rows are pinned by one eager checkpoint
        observing (at its root: ``common.observed``) the largest
        ``corpus_max``/``batch_max`` side and ``largest`` bucket and the
        candidate ``pairs`` bound (their broadcast gate) as ``seen``;
        ``pin`` pins the links too, observing the batch links ``intra``."""
        side = F.col("_side")
        small_c = small = F.lit(True)
        if self.bucket_cap is not None:
            small_c = F.col("_nc") <= self.bucket_cap
            small = F.col("_nb") <= self.bucket_cap
        # ``pairs`` bounds the candidates: a listed corpus row pairs with
        # its bucket's batch rows, a batch row with at most its batch side
        rows, sizes = common.observed(
            self.rows, corpus_max=F.max("_nc"), batch_max=F.max("_nb"),
            largest=F.max(F.col("_nc") + F.col("_nb")),
            pairs=F.sum(F.when((side == 0) & small_c,
                               F.col("_n") - F.col("_nc"))
                        .when((side != 0) & small, F.col("_nb"))))
        self.rows = rows = rows.localCheckpoint(eager=True)
        seen = sizes()
        ids = lambda cond, name: F.collect_list(
            F.when(cond, F.col("id"))).alias(name)
        lists = [ids(side == 0, "cids"), ids(side == 1, "bids"),
                 ids(side == 2, "pids")]
        if intra:
            lists.append(ids((side == 1) & small, "ibids"))
        cands = (rows.filter((side != 0) | small_c)
                 .groupBy("band", "bucket").agg(*lists)
                 .select(F.explode(_pairs_expr(intra)).alias("p"))
                 .select("p.a", "p.b", "p.intra"))
        # candidates within the broadcast cap broadcast, so the index
        # payload streams map-side; an intra pair's ``a`` is a batch row
        pay_a = self._side(self.corpus_pay, "a", False)
        if intra:
            pay_a = pay_a.unionByName(self._side(self.batch_pay, "a", True))
        if seen is not None:
            seen = {k: v or 0 for k, v in seen.items()}
            cands = self._hint(seen["pairs"])(cands)
        links = (cands.join(pay_a, ["a", "intra"])
                 .join(self.hint(self._side(self.batch_pay, "b")), "b")
                 .select("a", "b", "intra", self.score.alias("score"))
                 .filter(self.keep))
        if not pin:
            return links, seen
        links, n_intra = common.observed(
            links, intra=F.sum(F.col("intra").cast("long")))
        links = links.localCheckpoint(eager=True)
        n_intra = n_intra()
        if seen is None or n_intra is None:
            return links, None
        return links, {**seen, "intra": n_intra["intra"] or 0}

    def chain(self) -> DataFrame:
        """Verified corpus links of the buckets over the cap on their
        corpus side, linear in size: a bucket's rows sort in (order, id)
        order, and each batch row is verified against the nearest corpus
        row on each side plus the corpus rows within CHAIN_WINDOW.
        Near-identical payloads sort adjacent (the approximation class
        of the intra-batch chains)."""
        from dlx_spark.operators.similarity import CHAIN_WINDOW

        tag = lambda pay, side: pay.withColumn("_side", F.lit(side))
        rows = (self.rows.filter(F.col("_nc") > self.bucket_cap)
                .join(tag(self.corpus_pay, 0)
                      .unionByName(tag(self.batch_pay, 1)), ["id", "_side"]))
        w = (Window.partitionBy("band", "bucket")
             .orderBy(self.order, "id", F.desc("_side")))
        corpus = F.when(F.col("_side") == 0, F.struct(
            F.col("id").alias("a"), F.col("pay").alias("pay_a")))
        near = [F.last(corpus, ignorenulls=True).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)),
                F.first(corpus, ignorenulls=True).over(
                    w.rowsBetween(1, Window.unboundedFollowing))] + \
            [f(corpus, k).over(w) for f in (F.lag, F.lead)
             for k in range(1, CHAIN_WINDOW + 1)]
        return (rows.withColumn("_near", F.array_compact(F.array(*near)))
                .filter(F.col("_side") == 1)
                .select(F.col("id").alias("b"), F.col("pay").alias("pay_b"),
                        F.explode("_near").alias("_c"))
                .select("_c.a", "b", "_c.pay_a", "pay_b")
                .select("a", "b", F.lit(False).alias("intra"),
                        self.score.alias("score"))
                .filter(self.keep))

    def probe(self, score_name: str) -> DataFrame:
        """(corpus_id, batch_id, <score_name>): the corpus links, lazy
        over the pinned grouping."""
        links, seen = self.links(intra=False)
        if self.over(seen, "corpus_max"):
            links = links.unionByName(self.chain())
        # a pair can surface in several bands and on both paths; its
        # score is a pure function of the two payloads, so max() dedups
        return (links.groupBy(F.col("a").alias("corpus_id"),
                              F.col("b").alias("batch_id"))
                .agg(F.max("score").alias(score_name)))


def _dedup_increment(g: _Grouping, batch: DataFrame, id_col: str,
                     payload: DataFrame, intra_pairs,
                     replay_safe: bool) -> tuple[DataFrame, DataFrame]:
    """The near-dup increment of the MinHash, SimHash and Embedding
    indexes: drop batch docs linked to the corpus (corpus always wins),
    dedup the remainder against itself (min-id survivor per connected
    component), and return ``(clean, kept)`` — the clean batch rows,
    materialized, and the ``payload`` rows of exactly those docs for the
    family's append.

    ``g`` pins the corpus and batch links and observes what every gate
    needs: the corpus chain runs only for a touched bucket over the cap
    on its corpus side; the family's capped intra-batch pass
    (``intra_pairs(rows)``: ``(id_a, id_b)`` among payload rows) over
    the remainder only for one over it on its batch side; connected
    components only when batch links exist.  Otherwise the batch links
    not touching a dropped doc are exactly that pass's pairs.
    ``replay_safe``: corpus links to this batch's own ids are ignored (a
    crashed prior attempt may have appended this very batch)."""
    links, seen = g.links(intra=True, pin=True)
    if g.bucket_cap is None and seen is not None \
            and seen["largest"] > BUCKET_CAP:
        warnings.warn(
            f"uncapped dedup_batch met a band bucket of {seen['largest']} "
            f"rows (over {BUCKET_CAP}): its candidate pairs grow with the "
            f"product of its sides; pass bucket_cap to bound them",
            RuntimeWarning, stacklevel=3)
    corpus = links.filter(~F.col("intra"))
    if g.over(seen, "corpus_max"):
        corpus = corpus.unionByName(g.chain())
    if replay_safe:
        corpus = corpus.join(g.hint(payload.select(F.col("id").alias("a"))),
                             "a", "left_anti")
    drop = g.hint(corpus.select(F.col("b").alias("id")))
    remaining = batch.join(drop.withColumnRenamed("id", "_dup"),
                           F.col(id_col) == F.col("_dup"), "left_anti")
    intra = None
    if g.over(seen, "batch_max"):
        intra = intra_pairs(payload.join(drop, "id", "left_anti"))
    elif seen is None or seen["intra"]:
        intra = (links.filter(F.col("intra"))
                 .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
                 .join(drop.withColumnRenamed("id", "id_a"), "id_a", "left_anti")
                 .join(drop.withColumnRenamed("id", "id_b"), "id_b", "left_anti"))
    clean = remaining if intra is None \
        else dedup.dedup_near(remaining, intra, id_col)
    clean = clean.localCheckpoint(eager=True)
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


class _Index:
    """What every index shares: ``{name}_meta`` parameters read on open,
    and ``_TABLES`` (suffix → whether ``compact`` drops duplicate rows,
    which a crash between an append's two writes can leave in a key
    table).  ``compact`` folds each table to one segment, one backend
    commit each (run it every N appended batches)."""

    _TABLES: dict[str, bool] = {}

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.params = _read_meta(spark, name)

    def compact(self) -> None:
        for suffix, distinct in self._TABLES.items():
            get_backend().compact_segments(self.spark, f"{self.name}{suffix}",
                                           distinct=distinct)

    def drop(self) -> None:
        for suffix in (*self._TABLES, "_meta"):
            get_backend().drop(self.spark, f"{self.name}{suffix}")

    def _absent(self, rows: DataFrame, suffix: str, col: str) -> DataFrame:
        """``rows`` whose ``col`` is not in the ``suffix`` table yet,
        pinned: the anti-join must not re-run against the grown table."""
        existing = get_backend().read(self.spark, f"{self.name}{suffix}")
        return rows.join(existing.select(col), col, "left_anti") \
                   .localCheckpoint(eager=True)


class DigestIndex(_Index):
    """Exact-dedup state: the distinct content digests of every ingested
    document, clustered by digest.  The per-batch anti-join broadcasts
    the digest table while it is under the broadcast threshold (no
    shuffle of index rows); above it, both sides shuffle on digest."""

    _TABLES = {"_digests": False}

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
        # min-id rows per digest (rank keeps ties): one digest broadcast
        kid = F.col(p["id_col"])
        first = F.rank().over(Window.partitionBy("digest")
                              .orderBy(kid.asc_nulls_last()))
        return (fresh.withColumn("_r", first)
                .filter((F.col("_r") == 1) & kid.isNotNull())
                .drop("_r", "digest"))

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
            digests = self._absent(digests, "_digests", "digest")
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


class MinHashIndex(_Index):
    """Near-dedup state: persisted banded LSH keys + signatures.

    Tables:
      {name}_bands  (band int, bucket int, id long)  clustered by bucket
      {name}_sigs   (id long, sig array<long>)       clustered by id
      {name}_meta   (params json)

    Probe plan shape (the scale property, plan-asserted in
    tests/test_dedup_index.py): the batch's band keys are explicitly
    broadcast into a semi-join, so the band table streams map-side and
    only the rows of the buckets the batch touches reach the grouping's
    shuffle; the candidates broadcast (gated) into the verify join, so
    the signature table streams map-side too.  Corpus text is
    never read.
    """

    _TABLES = {"_sigs": False, "_bands": True}

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
              bucket_cap: int | None = BUCKET_CAP) -> DataFrame:
        """(corpus_id, batch_id, est_jaccard): near-duplicate links from
        each batch document to already-ingested documents.

        Exactly the cross-partition subset of what a full-corpus
        ``minhash_near_duplicates`` run would emit (same signatures,
        same banding, same verify rule) — pytest-locked equivalence.

        The batch's band keys broadcast only while they fit
        (``broadcast_row_cap`` rows, default PROBE_BROADCAST_ROW_CAP);
        a backfill-sized batch instead shuffle-joins on (band, bucket)
        against the band table.  Batch signatures are materialized via
        eager localCheckpoint (GC-reclaimed, unlike a per-micro-batch
        cache()).

        ``bucket_cap`` (``None`` = uncapped) bounds the corpus×batch
        candidates of over-cap index buckets: the index normally holds
        dedup SURVIVORS, but one built over an UN-deduped corpus, or
        probed below the threshold it was deduped at, can hold mega
        buckets, which would make the candidates O(|corpus bucket| ×
        |batch bucket|).  Over-cap buckets emit chain-verified
        candidates in signature order instead (``_Grouping.chain``):
        linear output, and a true near-dup still finds its match
        because near-identical signatures sort adjacent."""
        _, g = self._grouping(batch, threshold, bucket_cap,
                              broadcast_row_cap)
        return g.probe("est_jaccard")

    def _grouping(self, batch: DataFrame, threshold: float,
                  bucket_cap: int | None,
                  broadcast_row_cap: int | None = None):
        """The batch signatures, pinned (the probe, intra dedup and
        append reuse them), and their band grouping."""
        p = self.params
        bsigs, n = _pinned(self._batch_sigs(batch))
        be = get_backend()
        return bsigs, _Grouping(
            be.read(self.spark, f"{self.name}_bands"),
            be.read(self.spark, f"{self.name}_sigs")
            .withColumnRenamed("sig", "pay"),
            dedup.band_buckets(bsigs, p["bands"]),
            bsigs.withColumnRenamed("sig", "pay"),
            dedup.est_jaccard_expr("pay_a", "pay_b"),
            F.col("score") >= threshold, n * p["bands"], bucket_cap,
            broadcast_row_cap)

    # -- write paths ---------------------------------------------------

    def append(self, batch_survivors: DataFrame, if_absent: bool = False,
               sigs: DataFrame | None = None) -> None:
        """Append a deduped batch's signatures and band keys so later
        batches dedup against it (one clustered segment per table).
        ``sigs``: precomputed, materialized signatures of EXACTLY the
        survivor rows (skips re-shingling and, unless ``if_absent``, the
        checkpoint — ``dedup_batch`` passes them).

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
        which probe() dedups (one row per pair) and compact()
        physically drops.  The reverse order would lose the
        batch's band keys forever (the guard would see the sigs and
        skip), silently disabling dedup against those documents."""
        p = self.params
        if sigs is None:
            sigs = self._batch_sigs(batch_survivors).localCheckpoint(eager=True)
        if if_absent:
            sigs = self._absent(sigs, "_sigs", "id")
        get_backend().append(dedup.band_buckets(sigs, p["bands"]),
                             f"{self.name}_bands", "bucket")
        get_backend().append(sigs, f"{self.name}_sigs", "id")

    def dedup_batch(self, batch: DataFrame, threshold: float = 0.8,
                    bucket_cap: int | None = BUCKET_CAP,
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

        ``bucket_cap`` bounds candidate expansion in both directions
        (linear worst case, all pairs verified — see ``probe`` and
        ``minhash_near_duplicates``); ``None`` is the uncapped
        exact-w.r.t.-banding mode, which warns on a bucket over
        BUCKET_CAP."""
        p = self.params
        bsigs, g = self._grouping(batch, threshold, bucket_cap)
        clean, sigs = _dedup_increment(
            g, batch, p["id_col"], bsigs,
            lambda rows: dedup.minhash_pairs_from_signatures(
                rows, p["bands"], threshold, bucket_cap),
            replay_safe)
        self.append(clean, if_absent=replay_safe, sigs=sigs)
        return clean


class SimHashIndex(_Index):
    """Hamming-near-dup state: persisted 64-bit fingerprints plus their
    4×16-bit pigeonhole band keys (two fingerprints within hamming 3
    must agree on at least one band — dedup.simhash_near_duplicates'
    candidate rule, applied incrementally).

    Tables:
      {name}_fps    (id long, simhash long, band int, key long) clustered by key
      {name}_meta   (params json)

    One table (the fingerprint rides along with each band row, so band
    0's rows double as the payload): a probe computes the batch's
    fingerprints (pure JVM expression), broadcasts its band keys into
    the band grouping, and verifies hamming distance against band 0's
    fingerprints.  Probe results are pytest-locked to equal the
    cross-partition subset of the full-corpus (oracle-green)
    ``simhash_near_duplicates``.
    """

    _TABLES = {"_fps": True}

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
              bucket_cap: int | None = BUCKET_CAP) -> DataFrame:
        """(corpus_id, batch_id, hamming): every batch doc within
        ``max_hamming`` of an already-ingested fingerprint.  Broadcast
        gating and eager materialization as in ``MinHashIndex.probe``;
        ``bucket_cap`` bounds over-cap corpus band buckets with
        chain-verified candidates in fingerprint order (see
        ``MinHashIndex.probe`` — same rationale, same kernel;
        ``None`` = uncapped)."""
        _, g = self._grouping(batch, max_hamming, bucket_cap,
                              broadcast_row_cap)
        return g.probe("hamming")

    def _grouping(self, batch: DataFrame, max_hamming: int,
                  bucket_cap: int | None,
                  broadcast_row_cap: int | None = None):
        """The batch's banded fingerprints, pinned, and their band
        grouping (band 0's rows carry the payload)."""
        dedup.check_simhash_hamming(max_hamming)
        p = self.params
        bfps, n = _pinned(self._banded_fps(batch, p["text_col"], p["id_col"]))
        idx = get_backend().read(self.spark, f"{self.name}_fps")
        keys = lambda df: df.select("band", F.col("key").alias("bucket"), "id")
        pay = lambda df: (df.filter(F.col("band") == 0)
                          .select("id", F.col("simhash").alias("pay")))
        return bfps, _Grouping(
            keys(idx), pay(idx), keys(bfps), pay(bfps),
            F.bit_count(F.col("pay_a").bitwiseXOR(F.col("pay_b"))),
            F.col("score") <= max_hamming, n, bucket_cap, broadcast_row_cap)

    def append(self, batch_survivors: DataFrame, if_absent: bool = False,
               banded_fps: DataFrame | None = None) -> None:
        """``banded_fps``: precomputed banded fingerprint rows of EXACTLY
        the survivor rows (skips the text aggregate — ``dedup_batch``
        passes them)."""
        p = self.params
        rows = (banded_fps if banded_fps is not None
                else self._banded_fps(batch_survivors, p["text_col"], p["id_col"]))
        if if_absent:
            rows = self._absent(rows, "_fps", "id")
        get_backend().append(rows, f"{self.name}_fps", "key")

    def dedup_batch(self, batch: DataFrame, max_hamming: int = 3,
                    replay_safe: bool = False,
                    bucket_cap: int | None = BUCKET_CAP) -> DataFrame:
        """Drop batch docs within ``max_hamming`` of the corpus, then
        hamming-dedup the remainder against itself (min-id survivor per
        connected component), append survivors, return the clean batch.
        Greedy-prefix semantics vs a full-corpus run: see
        ``MinHashIndex.dedup_batch``.  ``bucket_cap`` bounds intra-batch
        mega-bucket expansion with verified chain edges (see
        ``simhash_pairs_from_fingerprints``); ``None`` = uncapped."""
        p = self.params
        bfps, g = self._grouping(batch, max_hamming, bucket_cap)
        clean, kept = _dedup_increment(
            g, batch, p["id_col"], bfps,
            lambda rows: dedup.simhash_pairs_from_fingerprints(
                rows.select("id", "simhash").distinct(), max_hamming,
                bucket_cap),
            replay_safe)
        self.append(clean, if_absent=replay_safe, banded_fps=kept)
        return clean


class EmbeddingIndex(_Index):
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
    expressions) and verifies the shared band grouping's candidates
    (``_Grouping``) with the exact cosine; over-cap buckets (a dense
    region concentrates in one of the 2^n_planes buckets of a band)
    chain in ordering-signature order.  Probe results are pytest-locked
    to equal the cross-partition subset of the full-corpus
    ``similarity.cosine_near_duplicates`` run with the same family
    (exact below the cap; the capped path keeps the drop/keep
    decision).

    ``knn`` and ``topk`` are the top-k probes over the same grouping
    with no threshold: every candidate is ranked by exact cosine, and
    the geometry is the index's own (callers pass none).  ``knn`` is
    pytest-locked to equal ``similarity.knn_join`` with the same
    planes and seed.
    """

    _TABLES = {"_vecs": False, "_buckets": True}

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
        spark = df.sparkSession
        dim = similarity.infer_dim(df, vec_col, dim)
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
        p = self.params
        oplanes = similarity.order_planes(p["dim"], p["seed"])
        return batch.select(F.col(p["id_col"]).alias("id"),
                            F.col(p["vec_col"]).alias("vec"),
                            similarity._order_sig_expr(p["vec_col"], oplanes)
                            .alias("osig"))

    def _band_keys(self, vecs: DataFrame) -> DataFrame:
        p = self.params
        return similarity.banded_lsh_keys(vecs, p["bands"], p["n_planes"],
                                          p["seed"], vec_col="vec",
                                          id_col="id", dim=p["dim"])

    def probe(self, batch: DataFrame, threshold: float = 0.9,
              multiprobe_hamming: int = 0,
              broadcast_row_cap: int | None = None,
              bucket_cap: int | None = BUCKET_CAP) -> DataFrame:
        """(corpus_id, batch_id, cosine): every batch vector whose exact
        cosine to an already-ingested vector clears ``threshold``, among
        LSH candidates.  Recall levers as in
        ``similarity.cosine_near_duplicates``: the index's ``bands``
        (fixed at create time) are the scale path;
        ``multiprobe_hamming`` is the single-band legacy knob.
        ``bucket_cap`` (default 1000, ``None`` = uncapped) bounds
        mega-bucket candidates via the nearest-in-order chain."""
        _, g = self._grouping(batch, threshold, multiprobe_hamming,
                              bucket_cap, broadcast_row_cap)
        return g.probe("cosine")

    def knn(self, probes: DataFrame, k: int = 5,
            multiprobe_hamming: int = 0) -> DataFrame:
        """(probe_id, corpus_id, cosine, rank): the ``k`` nearest indexed
        vectors of every probe row by exact cosine, among the band
        grouping's candidates (no threshold, no bucket cap: every row of
        a probed bucket is ranked), ranked per probe by (cosine desc,
        corpus_id asc) — the schema and ranking of
        ``similarity.knn_join``, which it equals under the same
        ``n_planes`` and seed at hamming 0.  As in ``knn_join``, an
        indexed row never ranks as its own neighbor (``corpus_id ==
        probe_id`` is dropped), so re-probing indexed rows spends no
        slot on themselves."""
        w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                                   F.asc("corpus_id"))
        # uncapped: an over-cap bucket is ranked whole, not by its chain
        _, g = self._grouping(probes, None, multiprobe_hamming, None)
        return (g.probe("cosine")
                .filter(F.col("corpus_id") != F.col("batch_id"))
                .select(F.col("batch_id").alias("probe_id"), "corpus_id",
                        "cosine")
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))

    def topk(self, query, k: int = 10,
             multiprobe_hamming: int = 0) -> DataFrame:
        """(id, cosine), best first: the ``k`` nearest indexed vectors of
        one query vector — ``knn``'s candidates for a one-row batch.  A
        query has no id, so an indexed copy of it is returned."""
        p = self.params
        q = [float(x) for x in query]
        if len(q) != p["dim"]:
            raise ValueError(f"query has {len(q)} dimensions; index "
                             f"{self.name!r} holds {p['dim']}")
        one = self.spark.createDataFrame(
            [(0, q)], f"`{p['id_col']}` long, `{p['vec_col']}` array<double>")
        _, g = self._grouping(one, None, multiprobe_hamming, None)
        return (g.probe("cosine").select(F.col("corpus_id").alias("id"),
                                         "cosine")
                .orderBy(F.desc("cosine"), F.asc("id")).limit(k))

    def _grouping(self, batch: DataFrame, threshold: float | None,
                  multiprobe_hamming: int, bucket_cap: int | None,
                  broadcast_row_cap: int | None = None):
        """The batch's (id, vec, osig) rows, pinned, and their band
        grouping; multiprobe adds the nonzero-mask neighbor keys as
        probe rows (none reaches an over-cap bucket's chain).  With no
        ``threshold`` every candidate is kept (the top-k probes)."""
        p = self.params
        if p["bands"] > 1 and multiprobe_hamming:
            raise ValueError("multiprobe applies to single-band indexes; "
                             "this index uses bands for recall")
        bvecs, n = _pinned(self._batch_vecs(batch))
        bb = self._band_keys(bvecs)
        masks = [m for m in similarity.multiprobe_masks(
            p["n_planes"], multiprobe_hamming) if m]
        probe_keys = bb.select("band", "id", F.explode(F.array(*[
            F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]))
            .alias("bucket")) if masks else None
        be = get_backend()
        pay = lambda df: df.select("id", F.col("vec").alias("pay"), "osig")
        return bvecs, _Grouping(
            be.read(self.spark, f"{self.name}_buckets"),
            pay(be.read(self.spark, f"{self.name}_vecs")), bb, pay(bvecs),
            similarity.pairwise_cosine_expr("pay_b", "pay_a"),
            F.lit(True) if threshold is None else F.col("score") >= threshold,
            n * p["bands"] * (len(masks) + 1), bucket_cap, broadcast_row_cap,
            probe_keys=probe_keys, order="osig")

    def append(self, batch_survivors: DataFrame, if_absent: bool = False,
               vecs: DataFrame | None = None) -> None:
        """``vecs``: precomputed, materialized (id, vec, osig) rows of
        EXACTLY the survivor rows (``dedup_batch`` passes them; they are
        written without a second checkpoint unless ``if_absent``).

        Crash-safety across the two table writes mirrors
        ``MinHashIndex.append``: band keys are written FIRST and the
        replay guard keys on the LAST-written table (_vecs), so a crash
        between the writes at worst duplicates band rows (probe dedups
        candidates; compact physically drops them)."""
        rows = vecs if vecs is not None else \
            self._batch_vecs(batch_survivors).localCheckpoint(eager=True)
        if if_absent:
            rows = self._absent(rows, "_vecs", "id")
        get_backend().append(self._band_keys(rows), f"{self.name}_buckets",
                             "bucket")
        get_backend().append(rows, f"{self.name}_vecs", "id")

    def dedup_batch(self, batch: DataFrame, threshold: float = 0.9,
                    multiprobe_hamming: int = 0,
                    replay_safe: bool = False,
                    bucket_cap: int | None = BUCKET_CAP) -> DataFrame:
        """Drop batch vectors near-duplicating the corpus (corpus wins),
        cosine-dedup the remainder against itself (min-id survivor per
        connected component), append survivors, return the clean batch.
        Greedy-prefix semantics and ``replay_safe`` contract as in
        ``MinHashIndex.dedup_batch``.  The intra-batch dedup runs the
        SAME candidate rule as the probe — bands, multiprobe neighbor
        expansion, and the mega-bucket cap all apply to both sides."""
        p = self.params
        masks = (similarity.multiprobe_masks(p["n_planes"],
                                             multiprobe_hamming)
                 if multiprobe_hamming else None)
        bvecs, g = self._grouping(batch, threshold, multiprobe_hamming,
                                  bucket_cap)
        clean, vecs = _dedup_increment(
            g, batch, p["id_col"], bvecs,
            lambda rows: similarity.cosine_pairs_from_keys(
                self._band_keys(rows), rows, threshold, bucket_cap, masks)
            .select("id_a", "id_b"),
            replay_safe)
        self.append(clean, if_absent=replay_safe, vecs=vecs)
        return clean


class SegmentIndex(_Index):
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

    _TABLES = {"_segments": False}

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
            digests = self._absent(digests, "_segments", "digest")
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


class SpanIndex(_Index):
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

    _TABLES = {"_windows": False}

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
            firsts = self._absent(firsts, "_windows", "digest")
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

