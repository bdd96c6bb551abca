"""corpus_dedup: incremental dedup of document batches.

Setup writes a generated corpus and indexes it (``DigestIndex`` for
exact and ``MinHashIndex`` for near duplicates).  The timed phase feeds
a fixed number of seeded batches (``--seconds`` sets how many, never
the clock) through ``DigestIndex.filter_new`` (drop what was seen byte
for byte), ``MinHashIndex.dedup_batch`` (drop near duplicates of the
corpus and of each other, append the survivors) and
``DigestIndex.append`` (record the survivors' digests), then checks with
two more ``filter_new`` reads that the survivors are now known to the
exact index and that only the near duplicates of the batch are still
new.  After each batch come ``LOOKUPS`` small probes of the exact index,
so the read median stands on more than one op of a kind.  Nothing
compacts in the timed phase; a traced run compacts both indexes
afterwards.  No ``marc.*`` code runs here.
"""

from __future__ import annotations

import os
import time

import analytics
import gen
from harness import FAILED

SIZES = {
    # corpus docs indexed in setup, docs per batch
    "normal": {"corpus": 1200, "batch": 300, "lookup": 40},
    "tiny": {"corpus": 150, "batch": 40, "lookup": 10},
}

#: exact-index lookups after each batch: small probes, half of them
#: copies of ingested docs and half new text
LOOKUPS = 4

#: corpus documents in the analytics probe's ``documents`` table
ANALYTICS_DOCS = 500

#: nominal seconds of one batch on a 4-core machine: a run feeds
#: ``max(1, round(seconds / BATCH_S))`` batches
BATCH_S = 20

LAYER = "operators.dedup_index"


class Dedup:
    def __init__(self, run):
        from dlx_spark.operators import dedup_index

        self.run = run
        self.spark = run.spark
        self.di = dedup_index
        self.size = SIZES[run.size]
        self.corpus = gen.Corpus(run.rng, self.size["corpus"])
        self.text_bytes = 0
        self.n_files = 0
        self.n_batches = 0
        self.docs_in = 0
        self.batch_s = 0.0
        self.near_planted = 0
        self.near_dropped = 0
        self.tag = f"pb{os.getpid()}"

    def _df(self, docs: list[tuple[int, str]]):
        """The docs as a parquet file (written with pyarrow, as a feed of
        batch files would arrive) read back as a DataFrame."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.n_files += 1
        path = os.path.join(self.run.work, "in", f"{self.n_files:04d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ids, texts = zip(*docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), path)
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        corpus = self._df(self.corpus.docs)
        self.text_bytes += _bytes(self.corpus.docs)
        with self.run.tracer.span("index.create", LAYER):
            self.exact = self.di.DigestIndex.create(corpus, f"{self.tag}_exact")
            self.near = self.di.MinHashIndex.create(corpus, f"{self.tag}_near")

    def timed(self) -> None:
        for _ in range(max(1, round(self.run.seconds / BATCH_S))):
            self.step()
            for _ in range(LOOKUPS):
                self.lookup()

    def step(self) -> None:
        """One increment: exact filter, near dedup and digest append, then
        a read that checks the survivors are now known."""
        run = self.run
        b = self.corpus.batch(self.size["batch"])
        batch = self._df(b.docs)
        self.text_bytes += _bytes(b.docs)
        text = dict(b.docs)
        self.n_batches += 1
        t0 = time.perf_counter()

        def filter_new():
            return {r["doc_id"] for r in
                    self.exact.filter_new(batch).select("doc_id").collect()}

        survivors = run.op("index.filter_new", "read", LAYER, filter_new)
        if survivors is FAILED:
            return
        run.check(not (survivors & b.exact),
                  f"batch {self.n_batches}: exact clones kept "
                  f"{sorted(survivors & b.exact)[:5]}")
        fresh_df = batch.filter(batch["doc_id"].isin(sorted(survivors)))

        def increment():
            """Near dedup against the corpus and within the batch, then
            the survivors' digests into the exact index."""
            with run.tracer.span("index.dedup_batch", LAYER):
                clean = self.near.dedup_batch(fresh_df)
                kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
            with run.tracer.span("index.append", LAYER):
                self.exact.append(clean)
            return clean, kept

        out = run.op("increment", "write", LAYER, increment)
        if out is FAILED:
            return
        clean_df, kept = out
        run.check(b.fresh <= kept,
                  f"batch {self.n_batches}: fresh docs dropped "
                  f"{sorted(b.fresh - kept)[:5]}")
        for k, d in b.intra:
            run.check((k in kept) and (d not in kept),
                      f"batch {self.n_batches}: intra-batch pair {k},{d} kept "
                      f"{[x for x in (k, d) if x in kept]}")
        self.near_planted += len(b.near)
        self.near_dropped += len(b.near - kept)

        left = run.op("index.filter_new", "read", LAYER,
                      lambda: self.exact.filter_new(clean_df).count())
        run.check(left == 0, f"batch {self.n_batches}: {left} appended docs "
                             f"still unknown to the exact index")
        # the whole batch again: of the first read's survivors (one per
        # digest), exactly those the near dedup dropped are still new
        again = run.op("index.filter_new", "read", LAYER, filter_new)
        run.check(again is not FAILED and again == survivors - kept,
                  f"batch {self.n_batches}: filter_new after the append kept "
                  f"{len(again) if again is not FAILED else '-'} docs, "
                  f"expected {len(survivors - kept)}")
        self.corpus.ingest([(i, text[i]) for i in kept])
        self.docs_in += len(b.docs)
        self.batch_s += time.perf_counter() - t0

    def lookup(self) -> None:
        """One read of the exact index: which docs of a small probe are
        new.  Exactly the probe's new-text docs must be."""
        b = self.corpus.batch(self.size["lookup"], exact=0.5, near=0,
                              intra=0)
        probe = self._df(b.docs)
        new = self.run.op(
            "index.lookup", "read", LAYER,
            lambda: {r["doc_id"] for r in
                     self.exact.filter_new(probe).select("doc_id").collect()})
        self.run.check(new is not FAILED and new == b.fresh,
                       f"lookup: {len(new) if new is not FAILED else '-'} "
                       f"docs new, expected {len(b.fresh)}")

    # -- figures and layer probes --------------------------------------------

    def disk(self) -> tuple[int, int]:
        """(bytes, files) the index tables hold on disk."""
        size = files = 0
        base = os.path.join(self.run.work, "warehouse")
        for dirpath, _, names in os.walk(base):
            if self.tag not in dirpath:
                continue
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
        return size, files

    def figures(self) -> dict:
        return {"rows_per_s": self.docs_in / self.batch_s,
                "space_amp": self.disk()[0] / self.text_bytes,
                "batches": self.n_batches,
                "near_clones_dropped": [self.near_dropped, self.near_planted]}

    def probes(self) -> dict:
        """Traced run only, after the timed phase: signatures on their
        own, a read-only probe of one more batch for its links, a
        compaction of both indexes, and the ``contract`` layer's headline
        queries (``analytics.probe``) over the first corpus documents."""
        from pyspark.sql import functions as F
        from dlx_spark.operators import dedup

        tracer = self.run.tracer
        b = self.corpus.batch(self.size["batch"])
        batch = self._df(b.docs)
        batch.count()
        with tracer.span("probe.signatures", "operators.dedup") as sp:
            sigs = dedup.minhash_signatures(batch)
            sigs.agg(F.bit_xor(F.xxhash64(*sigs.columns))).collect()
        sig_s = sp["end"] - sp["start"]
        with tracer.span("index.probe", LAYER) as sp:
            links = self.near.probe(batch).count()
        with tracer.span("index.compact", LAYER):
            self.exact.compact()
            self.near.compact()
        out = {
            "dedup.signature_dps": (len(b.docs) / sig_s, "docs/s"),
            "index.probe_s": (sp["end"] - sp["start"], "s"),
            "index.links_per_doc": (links / len(b.docs), "ratio"),
            "index.files": (self.disk()[1], "count"),
        }
        out.update(analytics.probe(self.run, self.corpus.docs[:ANALYTICS_DOCS]))
        return out


def _bytes(docs: list[tuple[int, str]]) -> int:
    return sum(len(t.encode()) for _, t in docs)
