"""Incremental training-corpus pipeline — runnable as-is:

    python examples/incremental_pipeline.py [sf_dir]

The 100 TB daily-ingest workflow in miniature:

1. day 0: build the corpus dedup state once (DigestIndex + MinHashIndex)
2. day 1: a new batch arrives as a JSONL file stream — near-dedup it
   against ALL history via the streaming foreachBatch sink (exact-once
   replays, survivors appended to the index)
3. day 2: another increment, this time through the batch API
4. embeddings: the same incremental pattern on the vector side
   (EmbeddingIndex — banded hyperplane LSH, cosine-verified)
5. maintenance: compact the append-accreted index files
No step ever recomputes or rescans previously ingested text.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from dlx_spark import get_spark, tableio
    from dlx_spark.operators.dedup_index import DigestIndex, MinHashIndex
    from dlx_spark.streaming import neardedup_ingest_stream

    spark = get_spark("incremental_pipeline", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="dlx_incr_demo_")

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    day0 = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1)  # fresh + some near-dups
    day2 = docs.filter(F.col("doc_id") % 3 == 2)

    try:
        # ---- day 0: index the existing corpus once -------------------
        mh = MinHashIndex.create(day0, "demo_mh")
        dg = DigestIndex.create(day0, "demo_dg")
        print(f"day0: indexed {day0.count()} docs")

        # ---- day 1: streaming ingest with cross-batch near-dedup -----
        indir = os.path.join(work, "incoming")
        os.makedirs(indir)
        with open(os.path.join(indir, "day1.json"), "w") as fh:
            for r in day1.collect():
                fh.write(json.dumps({"doc_id": r["doc_id"],
                                     "text": r["text"]}) + "\n")
            # plus five exact clones of day-0 docs: must be dropped
            for i, r in enumerate(day0.limit(5).collect()):
                fh.write(json.dumps({"doc_id": 9_000_000 + i,
                                     "text": r["text"]}) + "\n")
        # two-stage sink: exact dedup (DigestIndex) first, then
        # near-dedup (MinHashIndex) — both stages replay-safe
        q = neardedup_ingest_stream(
            spark, indir, "demo_mh", os.path.join(work, "clean"),
            os.path.join(work, "ckpt"), threshold=0.8,
            exact_index_name="demo_dg")
        q.awaitTermination(120)
        clean1 = (spark.read.parquet(os.path.join(work, "clean"))
                  .filter(F.col("batch") == 0))
        print(f"day1 (stream): {day1.count() + 5} arrived, "
              f"{clean1.count()} survived exact+near dedup vs all history")

        # ---- day 2: batch API, exact dedup first, then near-dedup ----
        exact_new = dg.dedup_batch(day2)
        clean2 = mh.dedup_batch(exact_new, threshold=0.8)
        print(f"day2 (batch): {day2.count()} arrived, "
              f"{exact_new.count()} after exact dedup, "
              f"{clean2.count()} after near-dedup")

        # ---- embeddings: the same pattern on the vector side ---------
        from dlx_spark.operators.dedup_index import EmbeddingIndex

        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .select("vec_id", "embedding"))
        emb_day0 = emb.filter(F.col("vec_id") % 2 == 0)
        # day-1 vectors: the odd half plus three exact clones of day-0
        # vectors under fresh ids — the clones must be dropped
        clones = (emb_day0.limit(3)
                  .select((F.col("vec_id") + 9_000_000).alias("vec_id"),
                          "embedding"))
        emb_day1 = emb.filter(F.col("vec_id") % 2 == 1).unionByName(clones)
        ei = EmbeddingIndex.create(emb_day0, "demo_emb", n_planes=8, dim=64)
        clean_vecs = ei.dedup_batch(emb_day1, threshold=0.98)
        print(f"embeddings: {emb_day1.count()} arrived, "
              f"{clean_vecs.count()} survived cosine near-dedup vs history")

        # ---- maintenance: fold appended files ------------------------
        be = tableio.get_backend()
        before = len(be.read(spark, "demo_mh_sigs").inputFiles())
        mh.compact()
        ei.compact()
        after = len(be.read(spark, "demo_mh_sigs").inputFiles())
        print(f"compaction: signature table {before} -> {after} files")

        # ---- the production posture, in one stanza --------------------
        # The index tables above are already manifest commits (safe
        # under concurrent appends, atomic swaps, snapshot readers).  An
        # object store additionally installs a CAS commit scheme once,
        # and a maintenance cadence reclaims superseded segments:
        #
        #   from dlx_spark import fsio, tableio
        #   fsio.set_commit_scheme(fsio.SingleDriverCASScheme())  # s3a
        #   be = tableio.get_backend()
        #   be.compact_segments(spark, "demo_mh_sigs")   # fold appends
        #   be.vacuum(spark, keep_last=2)                # retention-gated
        #
        # tests/test_commit_schemes.py runs this composition end-to-end.
    finally:
        # guard the drops so a setup failure (bad sf_dir) surfaces its
        # own error instead of a TABLE_OR_VIEW_NOT_FOUND from cleanup
        from dlx_spark.operators.dedup_index import EmbeddingIndex
        for cls, name in ((MinHashIndex, "demo_mh"), (DigestIndex, "demo_dg"),
                          (EmbeddingIndex, "demo_emb")):
            if tableio.get_backend().exists(spark, f"{name}_meta"):
                cls(spark, name).drop()
        shutil.rmtree(work, ignore_errors=True)
    print("done")


if __name__ == "__main__":
    main()
