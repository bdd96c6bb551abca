"""Regenerate PLANS.md: the physical plan of every bench headline query
plus a one-line summary (shuffles / broadcasts / pushed filters), as
evidence that each operator compiles to the plan we want at scale.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from bench import HEADLINE
    from dlx_spark import contract, plans
    from dlx_spark.session import get_spark

    spark = get_spark("dump_plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the bench headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`.  For each query:",
        "shuffle count, broadcast-join count, filters pushed to the parquet",
        "scan, then the full `formatted`-mode plan.  Plan-shape regressions",
        "are enforced programmatically in `tests/test_plans.py`; this file",
        "is the same evidence in human-readable form.",
        "",
    ]
    # plan evidence for post-r10 operators that are NOT bench headline
    # entries (the headline set stays frozen for round-over-round
    # comparability): same summary + formatted plan as the headliners
    extras = ["semdedup_survivors", "oov_rate", "segment_dedup_stats",
              "dup_span_profile", "span_cut_profile", "export_shard_stats"]

    for name in HEADLINE + extras:
        df = contract.BENCH[name](spark, sf_dir)
        plan = plans.simple_plan(df)
        n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_bcast = len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan))
        pushed = plans.pushed_filters(df)
        out.append(f"## {name}")
        out.append("")
        out.append(f"- shuffles: {n_shuffle}; broadcast joins: {n_bcast}; "
                   f"pushed filters: {pushed if pushed else 'none'}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")

    out.extend(_incremental_plans(spark, sf_dir))
    out.extend(_marc_commit_plans(spark))
    out.extend(_marc_query_plans(spark))

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(HEADLINE)} queries + incremental probes)")
    spark.stop()


def _incremental_plans(spark, sf_dir: str) -> list[str]:
    """Plans of the incremental-index probes (round-3 scale layer):
    built against throwaway indexes on the sf documents/embeddings so
    the dossier shows the probe-side shapes (no corpus-text scan, batch
    band keys broadcast, digest anti-join, the embedding top-k)."""
    import re
    import tempfile

    from pyspark.sql import functions as F

    from dlx_spark import plans
    from dlx_spark.operators.dedup_index import (DigestIndex, EmbeddingIndex,
                                                 MinHashIndex)

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    out = ["## Incremental-index probes (rounds 3-4 layer)", ""]

    def add(name, df, note):
        df.collect()
        plan = plans.simple_plan(df)
        # count tree operators in the FINAL adaptive plan only — the
        # Initial Plan section repeats them and would double every
        # number (tree lines are "Exchange (12)"; the detail section's
        # "(12) Exchange" lines are excluded by the anchored format)
        final = plan.split("== Initial Plan ==")[0]
        n_shuffle = len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange \(\d+\)",
                                   final))
        n_bcast = len(re.findall(r"BroadcastHashJoin[^\n(]*\(\d+\)", final))
        # DPP's runtime subquery only renders in the executed plan's
        # toString, not in formatted mode — surface it as a flag
        executed = df._jdf.queryExecution().executedPlan().toString()
        dpp = "dynamicpruning" in executed.lower()
        out.append(f"### {name}")
        out.append("")
        out.append(f"- shuffles: {n_shuffle}; broadcast joins: {n_bcast}; "
                   f"dynamic partition pruning in executed plan: {dpp}; {note}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")

    mh = MinHashIndex.create(corpus, "plans_mh")
    dg = DigestIndex.create(corpus, "plans_dg")
    with tempfile.TemporaryDirectory() as tmp:
        try:
            add("minhash_index_probe", mh.probe(batch, 0.8),
                "batch band keys broadcast; index tables stream map-side; "
                "corpus text absent from every scan")
            add("digest_index_filter_new", dg.filter_new(batch),
                "anti-join against the digest table bucketed by digest")
            ei = EmbeddingIndex.create(emb, "plans_knn", n_planes=6, dim=dim)
            probes = emb.filter(F.col("vec_id") % 100 == 0).select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
            try:
                add("embedding_index_knn", ei.knn(probes, k=5),
                    "candidates of the pinned band grouping broadcast; "
                    "the vector table streams map-side against them; "
                    "per-probe rank window")
            finally:
                ei.drop()
            ei = EmbeddingIndex.create(emb.filter(F.col("vec_id") % 2 == 0),
                                       "plans_emb", n_planes=6, dim=dim)
            try:
                add("embedding_index_probe",
                    ei.probe(emb.filter(F.col("vec_id") % 2 == 1),
                             threshold=0.35),
                    "batch bucket keys computed map-side and broadcast; "
                    "exact-cosine verify inline on the joined rows")
            finally:
                ei.drop()
            from dlx_spark.operators import similarity
            add("cosine_near_duplicates_banded_capped",
                similarity.cosine_near_duplicates(
                    emb, threshold=0.35, n_planes=6, bands=2, dim=dim,
                    bucket_cap=64, auto_bypass_bytes=0),
                "banded candidate generation (one groupBy expansion for "
                "small buckets, broadcast over-cap list, verified chain "
                "window for mega buckets) — worst-case output linear")
        finally:
            mh.drop()
            dg.drop()
    return out


def _marc_commit_plans(spark) -> list[str]:
    """Plan dossier for the MARC store's hottest production path (the
    reference's ≈15-minute logical-fields rebuild): the derivation
    core of ``commit_frame`` — linked-value resolution via the
    headings join + text/words + logical fields — over a small live
    store, so the dossier shows the commit job's shape (headings
    BROADCAST to every derive task, no record-row collect, exploded
    views never shuffled back)."""
    import re
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dlx_spark import plans
    from dlx_spark.marc import dataframe as mdf
    from dlx_spark.marc.store import MarcStore

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from marc_bench import synth_auths_df, synth_records_df

    out = ["## MARC store commit pipeline (the reference's hottest "
           "production path)", "",
           "Throughput at 1M records: tools/marc_bench.py --store "
           "(README table).", ""]
    root = tempfile.mkdtemp(prefix="dlx_plans_marc_")
    try:
        store = MarcStore(spark, root)
        # 1000 auths: the bib generator's 650 xrefs span pmod(_id,1000)+1
        store.commit_frame(synth_auths_df(spark, 1000), record_type="auth")
        store.commit_frame(synth_records_df(spark, 500), record_type="bib")

        # the commit job's derivation core, exactly as commit_frame
        # builds it (store.py): headings join -> text/words -> logical
        # fields.  This is the plan every bulk ingest and every
        # heading-change propagation executes per batch.
        derived = mdf.derive_logical_fields(
            mdf.derive_text_words(store.bibs().drop("pt"),
                                  headings=store.headings()),
            "bib", headings=None)
        derived.count()
        plan = plans.simple_plan(derived)
        final = plan.split("== Initial Plan ==")[0]
        n_shuffle = len(re.findall(
            r"(?<!Broadcast)(?<!Reused)Exchange \(\d+\)", final))
        n_bcast = len(re.findall(r"BroadcastHashJoin[^\n(]*\(\d+\)", final))
        out.append("### commit_frame derivation core")
        out.append("")
        out.append(f"- shuffles: {n_shuffle}; broadcast joins: {n_bcast}; "
                   f"headings joined BROADCAST (auth headings are slim: "
                   f"id, tag, value); the record-keyed exchanges are the "
                   f"linked-value re-nest (explode subfields -> broadcast "
                   f"headings join -> collect back to nested datafields, "
                   f"all hash-partitioned on record_id) — fully "
                   f"data-parallel, no driver collect anywhere in the "
                   f"commit job")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _marc_query_plans(spark) -> list[str]:
    """Plan dossier for the query DSL read path (``MarcStore.search``):
    the physical evidence behind the README's 1M-record query table —
    point-id terms reach the scan as a ``PartitionFilters`` pt entry
    (1/16 of the store's files listed and read), logical-field terms
    are one codegen'd predicate pass (no shuffle, no Python), fielded
    text runs a semi-join against the cached tokenized view."""
    import re
    import shutil
    import tempfile

    from dlx_spark import plans
    from dlx_spark.marc.store import MarcStore

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from marc_bench import synth_auths_df, synth_records_df

    out = ["## MARC query DSL (MarcStore.search — the reference's "
           "primary user-facing read path)", "",
           "Wall numbers at 1M records: tools/marc_bench.py --query "
           "(README table).  Plan pins: tests/test_marc_query_scale.py.",
           ""]
    root = tempfile.mkdtemp(prefix="dlx_plans_marcq_")
    try:
        store = MarcStore(spark, root)
        store.commit_frame(synth_auths_df(spark, 1000), record_type="auth")
        store.commit_frame(synth_records_df(spark, 500), record_type="bib")
        cases = [
            ("id:250 (point read)", "id:250",
             "the IdSearch term adds pt = id % 16 BEFORE the scan — "
             "PartitionFilters below proves the pruning reaches the "
             "file listing, the reference's _id-index analog"),
            ("title:climate (logical field)", "title:climate",
             "one codegen'd predicate pass over the stored derived "
             "column: no shuffle, no Python, no join"),
            ("245__a:climate (fielded text)", "245__a:climate",
             "semi-join of the pruned base against ids from the cached "
             "tokenized subfield view (built once per record type, "
             "invalidated on mutation)"),
        ]
        post_index = [
            ("245__a:climate (fielded text, PERSISTED index)",
             "245__a:climate",
             "after build_search_index: the tokens come from the "
             "bibs_tokens table maintained O(batch) on commit — the "
             "stemming pandas UDF leaves the query plan entirely "
             "(no ArrowEvalPython below), and the TAG partition of the "
             "index prunes the scan to the queried tag's files"),
            ("climate (bare free text, PERSISTED index)", "climate",
             "bare stemmed-word containment DELIBERATELY stays a "
             "single pruned-column words predicate even over an "
             "indexed store — measured both ways at 1M (0.24 s words "
             "vs 1.19 s index-join warm: the result join must scan "
             "the base anyway and a whole-record term has no tag to "
             "prune on); the derived words column IS the reference's "
             "all-fields index (dlx/marc/query.py:698-751), stored "
             "row-aligned"),
        ]
        def dump(title, qs, note):
            df = store.search("bib", qs)
            plan = plans.simple_plan(df)
            pf = [line.strip() for line in plan.splitlines()
                  if "PartitionFilters" in line and "pt#" in line]
            n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
            out.append(f"### {title}")
            out.append("")
            out.append(f"- {note}")
            out.append(f"- shuffles: {n_shuffle}"
                       + (f"; partition filters: {pf[0][:120]}" if pf else ""))
            out.append("")
            out.append("```")
            out.append(plan.rstrip())
            out.append("```")
            out.append("")

        for title, qs, note in cases:
            dump(title, qs, note)
        store.build_search_index("bib")
        store._invalidate_query_contexts()
        for title, qs, note in post_index:
            dump(title, qs, note)

        # deleted-records summary: the sweep over the O(deleted set)
        # table instead of the full history log
        store.delete("bib", 1)
        store.build_deleted_summary("bib")
        df = store.find_deleted("bib")
        plan = plans.simple_plan(df)
        out.append("### find_deleted (PERSISTED deleted-records summary)")
        out.append("")
        out.append("- after build_deleted_summary: the deleted-by-date "
                   "sweep reads one row per currently-deleted record "
                   "(maintained O(batch) at the history-append choke "
                   "point under a write-ahead marker) instead of "
                   "aggregating every version of every record — the "
                   "scan source below is bib_deleted, not bib_history "
                   "(reference History.find_deleted, "
                   "dlx/marc/__init__.py:2345-2384)")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


if __name__ == "__main__":
    main()
