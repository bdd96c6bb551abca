"""End-to-end tour of the engine — runnable as-is:

    python examples/end_to_end.py [workdir]

1. ingest MARC records from MRK text (auth control resolving $0/values)
2. commit to a warehouse (audit, history, derived search columns)
3. query with the search DSL (stemmed, collated, boolean)
4. serialize back out (MRK / MARCXML / table)
5. run the training-data-pipeline operators over the synthetic
   documents/embeddings tables (dedup, ANN, quality)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MRK = """=001  1
=245  10$aReports of the Security Council$bannual coverage
=269  \\\\$a1999-12-31
=650  \\\\$aPeacekeeping operations$01

=001  2
=245  00$aRésolution adoptée par l'Assemblée générale
=650  \\\\$aPeacekeeping operations$01
"""

AUTH_MRK = """=001  1
=150  \\\\$aPeacekeeping operations
"""


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="dlx_spark_demo_")
    shutil.rmtree(f"{workdir}/wh", ignore_errors=True)

    from dlx_spark import get_spark
    from dlx_spark.marc import AuthSet, BibSet
    from dlx_spark.marc import dataframe as mdf
    from dlx_spark.marc.parser import QueryContext, execute_query, parse_query_string
    from dlx_spark.marc.store import MarcStore

    spark = get_spark("end-to-end-demo", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    # 1-2. ingest + commit
    store = MarcStore(spark, f"{workdir}/wh")
    store.commit(list(AuthSet.from_mrk(AUTH_MRK, auth_index=store.auth_index())), user="demo")
    idx = store.auth_index()
    store.commit(list(BibSet.from_mrk(MRK, auth_index=idx)), user="demo")
    print(f"committed: {store.bibs().count()} bibs, {store.auths().count()} auths -> {workdir}/wh")

    # 3. search DSL over the warehouse (stemming, diacritics, boolean)
    ctx = QueryContext(store.bibs(), "bib", auth_index=idx, headings=store.headings())
    for qs in ["245__a:reporting", "650:'Peacekeeping operations'",
               "resolution", "245__a:r* AND NOT 269__a:*"]:
        query = parse_query_string(qs, record_type="bib", auth_index=idx)
        ids = sorted(r._id for r in execute_query(query, ctx).select("_id").collect())
        print(f"  {qs!r:45} -> {ids}")

    # 4. serialize
    recs = BibSet.from_df(store.bibs(), auth_index=idx)
    print("--- MRK round trip ---")
    print(store.get("bib", 1).to_mrk())
    print("--- table header ---")
    print(recs.to_csv().splitlines()[0])

    # 5. pipeline operators on the synthetic tables
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    from pyspark.sql import functions as F
    from dlx_spark.operators import chunking, dedup, redact, sampling, similarity, textstats
    n_near = dedup.minhash_near_duplicates(docs, threshold=0.5).count()
    qvec = [float(x) for x in emb.first()["embedding"]]
    nn = similarity.cosine_topk(emb, qvec, k=3).collect()
    ivf = similarity.ivf_topk(emb, qvec, k=3, n_centroids=8, nprobe=2).collect()
    quality = textstats.quality_score(docs).agg({"quality": "avg"}).first()[0]
    n_sampled = sampling.deterministic_sample(docs, 0.1).count()
    n_chunks = chunking.chunk_documents(docs, chunk_tokens=64, overlap=8).count()
    n_redacted = redact.redact_pii(docs).filter("n_email + n_ssn + n_ip + n_phone > 0").count()
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    n_survivors = dedup.dedup_near(docs, pairs).count()
    n_semdedup = similarity.semdedup(emb, threshold=0.35,
                                     n_clusters=8).count()
    oov = (textstats.oov_rate(docs, vocab_size=16)
           .agg(F.avg(F.col("n_oov") / F.col("n_tokens"))).first()[0])
    print(f"near-dup pairs: {n_near}; top-3 neighbors of vec 0: "
          f"{[(r.id, round(r.cosine, 3)) for r in nn]} (IVF agrees on top-1: "
          f"{ivf[0].id == nn[0].id}); avg quality: {quality:.3f}; "
          f"stable 10% sample: {n_sampled} docs; {n_chunks} chunks; "
          f"{n_redacted} docs with PII hits; {n_survivors} dedup survivors; "
          f"{n_semdedup} SemDeDup survivors; avg OOV share {oov:.3f}")

    # 5b. sub-document dedup + deterministic export (r11): cut repeated
    # segments corpus-wide, profile duplicated spans, ship reproducible
    # shards with a content-certifying manifest
    from dlx_spark.operators import export, spans
    seg = spans.segment_dedup(docs, unit_words=10, normalize=False)
    n_cut_segs = seg.agg(F.sum(F.col("n_segments") - F.col("n_kept"))).first()[0]
    prof = spans.duplicate_spans(docs, k=15, normalize=False)
    n_dup_docs = prof.filter("n_dup_spans > 0").count()
    manifest = export.shard_manifest(export.assign_shards(docs, 8),
                                     ("doc_id", "text"))
    n_shards = manifest.count()
    print(f"segment dedup cut {n_cut_segs} repeated segments; "
          f"{n_dup_docs} docs carry duplicated 15-word spans; "
          f"export manifest certifies {n_shards} shards")

    # 6. persisted state: an embedding index answers top-k from its
    # stored vectors and LSH keys; bulk ingest commits a DataFrame
    # end-to-end with no record rows on the driver
    from dlx_spark.operators.dedup_index import EmbeddingIndex
    from dlx_spark.marc.store import MarcStore
    from dlx_spark.sources import marc_io

    with tempfile.TemporaryDirectory() as tmp:
        idx = EmbeddingIndex.create(emb, "example_emb_idx", n_planes=6, dim=64)
        probed = idx.topk(qvec, k=3, multiprobe_hamming=1).collect()
        idx.drop()
        print(f"LSH index top-k (EmbeddingIndex): "
              f"{[(r.id, round(r.cosine, 3)) for r in probed]}")

        store = MarcStore(spark, f"{tmp}/wh")
        jsonl = f"{tmp}/in.jsonl"
        with open(jsonl, "w") as fh:
            for rec in list(recs)[:2]:
                fh.write(rec.to_json() + "\n")
        n = store.commit_frame(marc_io.read_jmarc_jsonl(spark, jsonl),
                               record_type="bib", auth_check=False)
        print(f"bulk commit_frame ingested {n} records; "
              f"store now holds {store.bibs().count()} bibs")

    spark.stop()
    print("demo complete")


if __name__ == "__main__":
    main()
