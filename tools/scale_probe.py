"""Scale probe: replicate the sf0.1 documents corpus N× (default 20×,
~100k docs) into a temp parquet directory and time the heavy pipeline
operators on it.  Prints one JSON line.

This is the linearity check behind the README throughput numbers: the
per-doc rates should hold (or improve, as fixed costs amortize) as the
corpus multiplier grows, because every stage is a partition-parallel
map or a key-bucketed join with no driver-side state.

Usage: python tools/scale_probe.py [multiplier]
       python tools/scale_probe.py --skew [n_clones]
       python tools/scale_probe.py --incremental [multiplier]
       python tools/scale_probe.py --embedding [multiplier]
       python tools/scale_probe.py --spans [steps]
       python tools/scale_probe.py --contention [appends_per_thread]
       python tools/scale_probe.py --casgrowth [n_cycles]
       python tools/scale_probe.py --headline [multiplier] [cpus_hi,cpus_lo]

``--headline`` (r12) is the per-query SCALING evidence the sf0.1 bench
cannot produce: at sf0.1 every table is one parquet row group, so scan
parallelism is physically 1 task and an 8-vs-32-core ratio measures
fixed overhead, not the operators.  This mode replicates EVERY input
table ``multiplier``× into a temp dir (join keys shifted per replica so
join fan-out stays 1; the written copies have many row groups, so scans
genuinely parallelize), then times the 19 headline query shapes — plus
the CAPPED dedup formulations (``auto_bypass_bytes=0``), the plans a
100 TB corpus would actually run — once per core count, in separate
Spark sessions over the same files.  Reports per-query seconds at each
core count and the hi/lo ratio, with the fixed-work cpu probe bracketing
every query so throttle windows are self-identifying.

``--embedding`` is the per-increment trend for the EmbeddingIndex (the
4th index modality): the persisted index grows by one sf worth of
vectors per step (appended, not rebuilt) and a FIXED batch is probed
after each step.  The probe's cost must track the batch (a broadcast of
its band keys against the slim bucket table plus a verify join sized by
the candidates), not the corpus — the printed trend slope vs the corpus
growth factor is the measured form of that claim.

``--incremental`` measures the point of the persisted dedup index
(operators/dedup_index.py): dedup one fixed-size daily batch against a
corpus ``multiplier``× the sf size, comparing the index probe against
what a full re-run of minhash LSH over corpus+batch would cost.  The
probe's cost should track the BATCH (plus a map-side scan of the
compact index), not the corpus — the gap widens linearly with corpus
size, which is exactly the 100 TB argument.

``--skew`` is the mega-bucket stress: it plants ``n_clones`` (default
3000) identical documents in the sf corpus — every clone collides in
every LSH band, the worst-case skew for candidate generation — and
times ``lsh_candidate_pairs`` with full quadratic expansion vs the
``bucket_cap`` star path.  AQE skew splitting cannot help here (the
skew is in the join's OUTPUT, its input partitions are kilobytes); the
cap is what keeps the stage linear, and this probe measures by how much.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def skew_main() -> None:
    n_clones = int(sys.argv[2]) if len(sys.argv) > 2 else 3000

    import time as _t

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators import dedup

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("lsh_skew_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    clone_text = docs.orderBy("doc_id").first()["text"]
    clones = (spark.range(n_clones)
              .select((F.col("id") + 10_000_000).alias("doc_id"),
                      F.lit(clone_text).alias("text")))
    corpus = docs.unionByName(clones)

    workdir = tempfile.mkdtemp(prefix="dlx_spark_skew_")
    try:
        corpus.repartition(cpus).write.parquet(os.path.join(workdir, "docs"))
        corpus = spark.read.parquet(os.path.join(workdir, "docs"))
        sigs = dedup.minhash_signatures(corpus)
        sigs.write.parquet(os.path.join(workdir, "sigs"))
        sigs = spark.read.parquet(os.path.join(workdir, "sigs"))

        t0 = _t.time()
        n_full = dedup.lsh_candidate_pairs(sigs).count()
        t_full = round(_t.time() - t0, 2)
        t0 = _t.time()
        n_capped = dedup.lsh_candidate_pairs(sigs, bucket_cap=64).count()
        t_capped = round(_t.time() - t0, 2)

        # the PUBLIC capped operator: signature-order chain edges with
        # inline verification (every emitted pair really passes the
        # threshold) — the full end-to-end cost including signatures,
        # the bucket-size split, the mega-bucket window sort, and the
        # small-bucket verify join
        t0 = _t.time()
        verified = dedup.minhash_near_duplicates(
            corpus, threshold=0.8, bucket_cap=64,
            auto_bypass_bytes=0).cache()
        n_verified = verified.count()
        t_verified = round(_t.time() - t0, 2)

        # connected components over the capped CHAIN edges — the
        # adversarial long-diameter graph (bucket_cap turns the
        # n_clones-document mega-bucket into one n_clones-long chain):
        # rounds-to-converge telemetry proves pointer jumping holds
        # O(log diameter) on the planted worst case, so an O(diameter)
        # regression shows up here as a rounds blow-up, not a prose
        # promise
        cc_stats: dict = {}
        t0 = _t.time()
        comp = dedup.connected_components(verified, stats=cc_stats)
        n_components = comp.select("component").distinct().count()
        t_cc = round(_t.time() - t0, 2)
        verified.unpersist()

        print(json.dumps({
            "metric": "lsh_skew_probe",
            "n_docs": corpus.count(),
            "n_clones": n_clones,
            "full_pairs": n_full,
            "full_sec": t_full,
            "capped_pairs": n_capped,
            "capped_sec": t_capped,
            "speedup": round(t_full / t_capped, 1) if t_capped else None,
            "verified_chain_pairs": n_verified,
            "verified_chain_sec": t_verified,
            "cc_rounds": cc_stats.get("rounds"),
            "cc_converged": cc_stats.get("converged"),
            "cc_components": n_components,
            "cc_sec": t_cc,
        }))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


def capfamilies_main() -> None:
    """Capped-vs-uncapped A/B for the three round-5 chain caps (simhash,
    n-gram Jaccard, embedding cosine) on a planted dense cluster — the
    measured counterpart of --skew's minhash numbers."""
    n_clones = int(sys.argv[2]) if len(sys.argv) > 2 else 3000

    import time as _t

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators import dedup, similarity

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capfamilies_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "lang"))
    clone = docs.orderBy("doc_id").first()
    clones = (spark.range(n_clones)
              .select((F.col("id") + 10_000_000).alias("doc_id"),
                      F.lit(clone["text"]).alias("text"),
                      F.lit(clone["lang"]).alias("lang")))
    corpus = docs.unionByName(clones)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    evec = emb.orderBy("vec_id").first()["embedding"]
    eclones = (spark.range(n_clones)
               .select((F.col("id") + 10_000_000).alias("vec_id"),
                       F.lit(list(evec)).cast("array<double>")
                       .alias("embedding")))
    ecorpus = emb.unionByName(eclones)

    workdir = tempfile.mkdtemp(prefix="dlx_spark_capf_")
    try:
        corpus.repartition(cpus).write.parquet(os.path.join(workdir, "docs"))
        corpus = spark.read.parquet(os.path.join(workdir, "docs"))
        ecorpus.repartition(cpus).write.parquet(os.path.join(workdir, "vecs"))
        ecorpus = spark.read.parquet(os.path.join(workdir, "vecs"))

        out = {"metric": "cap_families_probe", "n_clones": n_clones,
               "n_docs": corpus.count(), "n_vecs": ecorpus.count()}

        def ab(family, run):
            t0 = _t.time(); n_u = run(None).count(); tu = _t.time() - t0
            t0 = _t.time(); n_c = run(64).count(); tc = _t.time() - t0
            out[family] = {"uncapped_pairs": n_u,
                           "uncapped_sec": round(tu, 2),
                           "capped_pairs": n_c, "capped_sec": round(tc, 2),
                           "speedup": round(tu / tc, 1) if tc else None}

        # auto_bypass_bytes=0: this probe MEASURES the cap machinery —
        # the small-input bypass must not silently run the uncapped
        # plan on both legs
        ab("simhash", lambda cap: dedup.simhash_near_duplicates(
            corpus, max_hamming=3, bucket_cap=cap, auto_bypass_bytes=0))
        ab("ngram_jaccard", lambda cap: dedup.ngram_jaccard_pairs(
            corpus, threshold=0.9, block_cap=cap, auto_bypass_bytes=0))
        ab("cosine", lambda cap: similarity.cosine_near_duplicates(
            ecorpus, threshold=0.95, n_planes=8, dim=64, bucket_cap=cap,
            auto_bypass_bytes=0))
        print(json.dumps(out))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


def _disjoint_corpus_and_batch(spark, docs, mult, cpus, workdir):
    """Corpus = ``mult`` shingle-disjoint replicas of ``docs`` (every
    token salted per replica — an unsalted replication is mult-fold
    duplicated and the probes drown in the quadratic pair output
    instead of measuring the machinery), parquet-materialized under
    ``workdir``.  Batch = one replica with fresh ids, every doc an
    exact clone of a corpus doc (full verify load, clean links).
    Returns (corpus, batch) as re-read DataFrames."""
    from pyspark.sql import functions as F

    def salted(df, i):
        return df.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.array_join(
                F.transform(F.split(F.col("text"), " "),
                            lambda t: F.concat(t, F.lit(f"_{i}"))),
                " ").alias("text"))

    big = None
    for i in range(mult):
        d = salted(docs, i)
        big = d if big is None else big.unionByName(d)
    big.repartition(cpus).write.parquet(os.path.join(workdir, "corpus"))
    batch = salted(docs, 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(900_000_000))
    batch.write.parquet(os.path.join(workdir, "batch"))
    return (spark.read.parquet(os.path.join(workdir, "corpus")),
            spark.read.parquet(os.path.join(workdir, "batch")))


def incremental_main() -> None:
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators import dedup
    from dlx_spark.operators.dedup_index import MinHashIndex

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("incremental_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    workdir = tempfile.mkdtemp(prefix="dlx_spark_incr_")
    try:
        corpus, batch = _disjoint_corpus_and_batch(
            spark, docs, mult, cpus, workdir)
        n_corpus = corpus.count()
        n_batch = batch.count()

        t0 = time.time()
        idx = MinHashIndex.create(corpus, "probe_incr_idx")
        t_index = round(time.time() - t0, 2)
        try:
            t0 = time.time()
            n_links = idx.probe(batch, threshold=0.8).count()
            t_probe = round(time.time() - t0, 2)

            # the full increment op (probe + intra dedup + append),
            # which since round 4 runs ONE signature pass for all three
            t0 = time.time()
            n_clean = idx.dedup_batch(
                batch.withColumn("doc_id", F.col("doc_id") + 1),
                threshold=0.8).count()
            t_dedup_batch = round(time.time() - t0, 2)

            # the alternative the index replaces: full re-run over
            # corpus ∪ batch (re-shingles and re-hashes ALL history)
            t0 = time.time()
            n_full = (dedup.minhash_near_duplicates(corpus.unionByName(batch))
                      .count())
            t_full = round(time.time() - t0, 2)
        finally:
            idx.drop()

        print(json.dumps({
            "metric": "incremental_dedup_probe",
            "n_corpus": n_corpus,
            "n_batch": n_batch,
            "multiplier": mult,
            "index_build_sec": t_index,
            "probe_sec": t_probe,
            "probe_links": n_links,
            "dedup_batch_sec": t_dedup_batch,
            "dedup_batch_survivors": n_clean,
            "full_rerun_sec": t_full,
            "full_rerun_pairs": n_full,
            "probe_speedup": round(t_full / t_probe, 1) if t_probe else None,
        }))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


def spans_main() -> None:
    """Per-increment trend for the sub-document indexes (SegmentIndex /
    SpanIndex): the persisted index grows by one sf worth of documents
    per step (appended, never rebuilt) and a FIXED batch is deduped
    after each step.  The per-batch cost must track the BATCH (an
    anti-join against the digest-bucketed index + map-only window
    generation), not the corpus — the printed trend slope vs corpus
    growth is the measured form of that claim, and the cost of the
    alternative (full cut_duplicate_spans over corpus ∪ batch) is
    re-measured at the final size for the gap."""
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators import spans
    from dlx_spark.operators.dedup_index import SegmentIndex, SpanIndex

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("spans_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .select("doc_id", "text")
    n_sf = docs.count()
    batch = docs.withColumn("doc_id", F.col("doc_id") + 900_000_000)

    seg = SegmentIndex.create_empty(spark, "probe_seg_idx",
                                    unit_words=10, normalize=False)
    spn = SpanIndex.create_empty(spark, "probe_spn_idx",
                                 k=15, normalize=False)
    trend = []
    try:
        union = None
        for step in range(1, mult + 1):
            inc = docs.withColumn("doc_id",
                                  F.col("doc_id") + F.lit(step * 1_000_000))
            union = inc if union is None else union.unionByName(inc)
            seg.dedup_batch(inc)
            spn.dedup_batch(inc)
            t0 = time.time()
            seg.filter_new(batch).agg(F.sum("n_kept")).collect()
            t_seg = round(time.time() - t0, 2)
            t0 = time.time()
            spn.filter_new(batch).agg(F.sum("n_words_cut")).collect()
            t_spn = round(time.time() - t0, 2)
            trend.append({"corpus_docs": step * n_sf,
                          "segment_filter_sec": t_seg,
                          "span_filter_sec": t_spn})

        t0 = time.time()
        spans.cut_duplicate_spans(union.unionByName(batch), k=15,
                                  normalize=False) \
             .agg(F.sum("n_words_cut")).collect()
        t_full = round(time.time() - t0, 2)
    finally:
        seg.drop()
        spn.drop()

    print(json.dumps({
        "metric": "spans_incremental_probe",
        "n_batch": n_sf,
        "steps": mult,
        "trend": trend,
        "full_rerun_at_final_size_sec": t_full,
        "span_filter_speedup_final": (round(
            t_full / trend[-1]["span_filter_sec"], 1)
            if trend[-1]["span_filter_sec"] else None),
    }))
    spark.stop()


def embedding_main() -> None:
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("embedding_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dim = 64

    # replica i circular-shifts every vector by i positions: replicas of
    # the same base vector are ~uncorrelated (shifted random vectors),
    # so the corpus grows without creating cross-replica near-dups —
    # the probe then measures corpus-size cost, not link-count cost
    def shifted(df, i):
        s = i % dim
        vec = (F.col("embedding") if s == 0 else
               F.concat(F.slice("embedding", s + 1, dim - s),
                        F.slice("embedding", 1, s)))
        return df.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            vec.alias("embedding"))

    workdir = tempfile.mkdtemp(prefix="dlx_spark_embp_")
    try:
        # fixed batch: exact clones of replica 0 under fresh ids — every
        # batch vector carries a cosine-1.0 corpus link (full verify load)
        shifted(emb, 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(900_000_000)) \
            .write.parquet(os.path.join(workdir, "batch"))
        batch = spark.read.parquet(os.path.join(workdir, "batch"))
        n_batch = batch.count()

        trend = []
        idx = None
        try:
            for i in range(mult):
                replica = shifted(emb, i)
                t0 = time.time()
                if idx is None:
                    idx = EmbeddingIndex.create(replica, "probe_emb_idx",
                                                n_planes=8, dim=dim)
                else:
                    idx.append(replica)
                t_grow = round(time.time() - t0, 2)
                t0 = time.time()
                n_links = idx.probe(batch, threshold=0.95).count()
                t_probe = round(time.time() - t0, 2)
                trend.append({"corpus_mult": i + 1,
                              "grow_sec": t_grow,
                              "probe_sec": t_probe,
                              "links": n_links})

            t0 = time.time()
            n_clean = idx.dedup_batch(batch, threshold=0.95).count()
            t_dedup_batch = round(time.time() - t0, 2)
        finally:
            if idx is not None:
                idx.drop()

        # slope from the SECOND step when possible: the first probe pays
        # JVM/codegen warmup and would flatter the trend
        base_i = 1 if len(trend) > 2 else 0
        base, last = trend[base_i]["probe_sec"], trend[-1]["probe_sec"]
        slope = round(last / base, 2) if base else None
        growth = round(trend[-1]["corpus_mult"] / trend[base_i]["corpus_mult"], 2)
        print(json.dumps({
            "metric": "embedding_incremental_probe",
            "n_batch": n_batch,
            "multiplier": mult,
            "trend": trend,
            # probe-cost growth vs corpus growth over the same steps:
            # well below corpus_growth = the per-increment cost tracks
            # the batch, not the corpus (the 100 TB claim, measured)
            "probe_cost_growth": slope,
            "corpus_growth": growth,
            "dedup_batch_sec": t_dedup_batch,
            "dedup_batch_survivors": n_clean,
        }))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


def casgrowth_main() -> None:
    """--casgrowth [n_cycles]: external-CAS claim-store growth bound.
    The ExternalCASScheme docstring promises claims are released with
    their published files (``forget`` on vacuum/drop), so the claim
    store stays O(live versions), not O(commit history) — this probe
    MEASURES that: n append cycles against one table through
    ``ExternalCASScheme(FileExternalCAS)``, a ``vacuum(keep_last=1)``
    every 50 appends, recording the claim-file count at each vacuum.
    Asserted: the post-vacuum claim count never grows with the cycle
    number (flat curve), and the final count is within a small constant
    of the live version count."""
    import glob as _glob

    from dlx_spark import fsio, get_spark
    from dlx_spark.tableio_versioned import VersionedTableBackend

    n_cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("casgrowth_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    workdir = tempfile.mkdtemp(prefix="dlx_spark_casgrowth_")
    cas_dir = os.path.join(workdir, "cas")

    def n_claims() -> int:
        return len(_glob.glob(os.path.join(cas_dir, "*.json")))

    out = {"metric": "casgrowth_probe", "n_cycles": n_cycles, "curve": []}
    old_scheme = fsio.get_commit_scheme()
    try:
        fsio.set_commit_scheme(
            fsio.ExternalCASScheme(fsio.FileExternalCAS(cas_dir)))
        be = VersionedTableBackend(root=os.path.join(workdir, "vroot"))
        be.write(spark.createDataFrame([(0, -1)], "id long, v long"),
                 "growth", "id")
        t0 = time.time()
        post_vacuum_counts = []
        for i in range(1, n_cycles + 1):
            be.append(spark.createDataFrame([(i, i)], "id long, v long"),
                      "growth", "id")
            if i % 50 == 0:
                be.vacuum(spark, keep_last=1, min_age_seconds=0)
                c = n_claims()
                post_vacuum_counts.append(c)
                out["curve"].append({"cycle": i, "claims": c})
        be.vacuum(spark, keep_last=1, min_age_seconds=0)
        wall = round(time.time() - t0, 2)
        final = n_claims()
        live_versions = len(be.versions(spark, "growth"))
        # flat curve: the last checkpoint must not exceed the first by
        # more than a small constant (the appends' inline folds commit
        # between checkpoints)
        assert final <= live_versions + 8, (final, live_versions)
        assert post_vacuum_counts[-1] <= post_vacuum_counts[0] + 8, \
            post_vacuum_counts
        out.update({
            "wall_sec": wall,
            "appends_per_sec": round(n_cycles / wall, 2),
            "final_claims": final,
            "live_versions": live_versions,
            "rows": be.read(spark, "growth").count(),
        })
        print(json.dumps(out))
    finally:
        fsio.set_commit_scheme(old_scheme)
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


def contention_main() -> None:
    """--contention [appends_per_thread]: the versioned backend's
    optimistic-concurrency claim as a measured curve — N concurrent
    appender threads against ONE table, for N in 1,2,4,8, reporting
    wall time, commit throughput, and version races lost/retried.
    Sanity-asserted: every append lands (no lost update) and the
    version chain is gapless."""
    import threading

    from dlx_spark import get_spark, tableio
    from dlx_spark.tableio_versioned import VersionedTableBackend

    per_thread = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("contention_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    workdir = tempfile.mkdtemp(prefix="dlx_spark_cont_")
    out = {"metric": "contention_probe", "appends_per_thread": per_thread,
           "curve": {}}
    try:
        for n_threads in (1, 2, 4, 8):
            be = VersionedTableBackend(
                root=os.path.join(workdir, f"vroot_{n_threads}"))
            table = "cont_probe"
            be.write(spark.createDataFrame([(0, -1)], "id long, w long"),
                     table, "id")
            errors = []

            def appender(w):
                try:
                    for j in range(per_thread):
                        be.append(spark.createDataFrame(
                            [(w * 10_000 + j, w)], "id long, w long"),
                            table, "id")
                except Exception as exc:
                    errors.append((w, repr(exc)))

            threads = [threading.Thread(target=appender, args=(w,))
                       for w in range(n_threads)]
            t0 = time.time()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.time() - t0
            n_commits = n_threads * per_thread
            rows = be.read(spark, table).count()
            versions = be.versions(spark, table)
            assert errors == [], errors
            # no lost update: every append landed; gapless version chain
            assert rows == 1 + n_commits, (rows, n_commits)
            assert versions == list(range(1, n_commits + 2)), versions[-5:]
            out["curve"][n_threads] = {
                "wall_sec": round(wall, 2),
                "commits_per_sec": round(n_commits / wall, 2),
                "races_lost": be.races_lost,
                "races_per_commit": round(be.races_lost / n_commits, 3),
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _probe_ms() -> float:
    """Fixed-work single-core spin (ms) — same throttle telemetry as
    bench.py's cpu probe; comparable across runs on one interpreter."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return round((time.perf_counter() - t0) * 1000.0, 1)


#: per-table key columns shifted per replica so every join stays within
#: its own replica (fan-out 1).  nation/region are tiny dimensions —
#: copied unreplicated, and the nation/region keys referencing them are
#: deliberately NOT shifted.
_HEADLINE_TABLES = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_HEADLINE_DIMS = ["nation", "region"]


def _replicate_headline_tables(spark, sf_dir: str, mult: int,
                               workdir: str) -> None:
    from pyspark.sql import functions as F
    shift = 10_000_000
    for name, keys in _HEADLINE_TABLES.items():
        src = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        big = None
        for i in range(mult):
            d = src
            for k in keys:
                d = d.withColumn(k, (F.col(k) + F.lit(i * shift))
                                 .cast(dict(src.dtypes)[k]))
            big = d if big is None else big.unionByName(d)
        # many output files -> many row groups -> real scan parallelism
        (big.repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
         .write.mode("overwrite")
         .parquet(os.path.join(workdir, f"{name}.parquet")))
    for name in _HEADLINE_DIMS:
        (spark.read.parquet(f"{sf_dir}/{name}.parquet")
         .write.mode("overwrite")
         .parquet(os.path.join(workdir, f"{name}.parquet")))


def headline_main() -> None:
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    cpu_list = [int(c) for c in (sys.argv[3] if len(sys.argv) > 3
                                 else "32,8").split(",")]

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators import dedup

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    workdir = tempfile.mkdtemp(prefix="dlx_spark_headline_")
    out = {"metric": "headline_scale_probe", "multiplier": mult,
           "cpus": cpu_list, "runs": {}}
    try:
        gen = get_spark("headline_probe_gen",
                        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        gen.sparkContext.setLogLevel("ERROR")
        t0 = time.time()
        _replicate_headline_tables(gen, sf_dir, mult, workdir)
        out["generate_sec"] = round(time.time() - t0, 1)
        gen.stop()

        # the capped dedup formulations (auto_bypass_bytes=0) — the
        # plans a 100 TB corpus runs; the headline entries exercise the
        # uncapped oracle-parity forms
        def capped_minhash(spark, wd):
            docs = spark.read.parquet(os.path.join(wd, "documents.parquet"))
            return dedup.minhash_near_duplicates(docs, auto_bypass_bytes=0)

        def capped_simhash(spark, wd):
            docs = spark.read.parquet(os.path.join(wd, "documents.parquet"))
            return dedup.simhash_near_duplicates(docs, auto_bypass_bytes=0)

        def capped_ngram(spark, wd):
            docs = spark.read.parquet(os.path.join(wd, "documents.parquet"))
            return dedup.ngram_jaccard_pairs(docs, auto_bypass_bytes=0)

        extras = {"minhash_capped": capped_minhash,
                  "simhash_capped": capped_simhash,
                  "ngram_jaccard_capped": capped_ngram}

        for cpus in cpu_list:
            from bench import HEADLINE
            from dlx_spark import contract
            spark = get_spark(f"headline_probe_{cpus}", cpus=cpus)
            spark.sparkContext.setLogLevel("ERROR")
            run = {"queries": {}, "probe_ms": {}, "errors": {}}
            for name in HEADLINE + list(extras):
                fn = extras.get(name) or (
                    lambda s, wd, q=name: contract.BENCH[q](s, wd))
                try:
                    samples = []
                    for _ in range(3):           # 1 warmup + 2 timed
                        t0 = time.time()
                        df = fn(spark, workdir)
                        df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()
                        samples.append(time.time() - t0)
                    run["queries"][name] = round(min(samples[1:]), 2)
                    run["probe_ms"][name] = _probe_ms()
                except Exception as exc:  # noqa: BLE001 — isolate
                    run["errors"][name] = f"{type(exc).__name__}: {exc}"[:200]
            run["total"] = round(sum(run["queries"].values()), 2)
            if not run["errors"]:
                del run["errors"]
            out["runs"][str(cpus)] = run
            spark.stop()

        if len(cpu_list) == 2:
            hi, lo = (out["runs"][str(c)]["queries"] for c in cpu_list)
            out["lo_over_hi_ratio"] = {
                q: round(lo[q] / hi[q], 2) for q in hi if q in lo and hi[q]}
        print(json.dumps(out))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        skew_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--incremental":
        incremental_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--embedding":
        embedding_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--spans":
        spans_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--capfamilies":
        capfamilies_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--contention":
        contention_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--casgrowth":
        casgrowth_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--headline":
        headline_main()
        return
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20

    from pyspark.sql import functions as F

    from dlx_spark import get_spark
    from dlx_spark.operators import chunking, dedup, export, spans, textstats

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = None
    for i in range(mult):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        big = d if big is None else big.unionByName(d)

    workdir = tempfile.mkdtemp(prefix="dlx_spark_scale_")
    corpus_path = os.path.join(workdir, "docs")
    try:
        big.repartition(cpus).write.mode("overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        n = corpus.count()

        timings: dict[str, float] = {}

        t0 = time.time()
        dedup.minhash_signatures(corpus).agg(F.sum(F.expr("sig[0]"))).collect()
        timings["minhash_signatures"] = round(time.time() - t0, 2)

        t0 = time.time()
        # bit_xor, not sum: ANSI mode overflows summing 64-bit values
        dedup.simhash_fingerprints(corpus).agg(F.bit_xor("simhash")).collect()
        timings["simhash_fingerprints"] = round(time.time() - t0, 2)

        t0 = time.time()
        n_pairs = dedup.minhash_near_duplicates(corpus).count()
        timings["minhash_lsh_full"] = round(time.time() - t0, 2)

        t0 = time.time()
        chunks = chunking.chunk_documents(corpus, 128, 16)
        # force the chunk_text slice/join to actually run — a bare
        # count() would prune the projection and time only the explode
        agg = chunks.agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.length("chunk_text"))).collect()[0]
        n_chunks = agg["n"]
        timings["chunking"] = round(time.time() - t0, 2)

        t0 = time.time()
        textstats.quality_score(corpus).agg(F.avg("quality")).collect()
        timings["quality_score"] = round(time.time() - t0, 2)

        # sub-document dedup (r11).  NOTE the replicated corpus is the
        # WORST case for both: every document has mult-1 exact clones,
        # so segment dedup cuts ~(1-1/mult) of all segments and the
        # span profile marks ~every window duplicated — the timings
        # below price full-duplication workloads, not the typical tail.
        t0 = time.time()
        (spans.segment_dedup(corpus, unit_words=10, normalize=False)
         .agg(F.sum("n_kept"), F.bit_xor(F.xxhash64("cleaned_text")))
         .collect())
        timings["segment_dedup"] = round(time.time() - t0, 2)

        t0 = time.time()
        (spans.duplicate_spans(corpus, k=15, normalize=False)
         .agg(F.sum("dup_words"), F.avg("dup_fraction")).collect())
        timings["duplicate_spans"] = round(time.time() - t0, 2)

        t0 = time.time()
        (export.shard_manifest(export.assign_shards(corpus, 256),
                               ("doc_id", "text"))
         .agg(F.sum("n_rows"), F.bit_xor("content_xor")).collect())
        timings["shard_manifest"] = round(time.time() - t0, 2)

        print(json.dumps({
            "metric": "scale_probe",
            "n_docs": n,
            "multiplier": mult,
            "near_dup_pairs": n_pairs,
            "n_chunks": n_chunks,
            "sig_docs_per_sec": round(n / timings["minhash_signatures"]),
            "timings_sec": timings,
        }))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
