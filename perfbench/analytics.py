"""The ``contract`` layer probe: the 19 headline queries of
``dlx_spark.contract.BENCH`` over tables the benchmark generates.

A traced ``corpus_dedup`` run calls ``probe`` after its timed phase.  It
writes the generated tables (``gen.analytics_tables``; the documents are
the run's corpus) as parquet, then runs every query twice.  Each run
builds the DataFrame (``construct``) and materialises it with
``bit_xor(xxhash64(*cols))``, so no column can be pruned away.  The
first pass warms the JVM; the figures come from the second.  Every
query must return, and its digest must be the same in both passes.
"""

from __future__ import annotations

import os

import gen

#: the headline queries, by their names in ``contract.BENCH``
QUERIES = (
    "agg_summary", "multiway_join", "lookup_join", "latest_by_key",
    "topk_per_group", "sessionization", "asof_join", "range_join",
    "windowed_agg", "dedup_exact", "ngram_jaccard", "minhash_lsh", "simhash",
    "cosine_topk", "token_count", "quality_score", "multimodal_decode",
    "chunk_documents", "redact_pii",
)

LAYER = "contract"

#: column types that differ from what pyarrow infers from Python values
_TYPES = {"r_regionkey": "int32", "n_nationkey": "int32",
          "n_regionkey": "int32", "c_nationkey": "int32", "p_size": "int32",
          "l_linenumber": "int32", "label": "int32",
          "embedding": "list<float>"}


def write_tables(rng, docs, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int32": pa.int32(), "list<float>": pa.list_(pa.float32())}
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in gen.analytics_tables(rng, docs).items():
        arrays = {c: pa.array(v, types.get(_TYPES.get(c)))
                  for c, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir,
                                                      f"{name}.parquet"))


def probe(run, docs) -> dict:
    """Run the headline queries twice; returns the per-layer metrics
    ``contract.<query>.{s,construct_s,jobs,shuffle_bytes}``."""
    from pyspark.sql import functions as F
    from dlx_spark import contract

    import tracing

    sf = os.path.join(run.work, "analytics")
    write_tables(run.rng, docs, sf)
    tracer = run.tracer
    digests: dict[str, list] = {q: [] for q in QUERIES}
    last: dict[str, tuple] = {}
    for _ in range(2):
        for q in QUERIES:
            def do(q=q):
                with tracer.span("contract.construct", LAYER) as c:
                    df = contract.BENCH[q](run.spark, sf)
                with tracer.span(f"contract.{q}.execute", LAYER):
                    row = df.agg(F.bit_xor(F.xxhash64(*df.columns))
                                 .alias("d")).collect()[0]
                return c, row["d"]

            with tracer.span(f"contract.{q}", LAYER) as sp:
                try:
                    c, d = do()
                except Exception as exc:  # noqa: BLE001 - reported as a check
                    run.check(False, f"headline query {q} raised {exc!r}")
                    continue
            digests[q].append(d)
            last[q] = (sp, c)
    for q, ds in digests.items():
        run.check(len(ds) == 2 and ds[0] == ds[1],
                  f"headline query {q}: digests across passes {ds}")
    out = {}
    for q in QUERIES:
        if q not in last:
            continue
        sp, c = last[q]
        counts = tracing.total(tracer.spans, sp)
        out[f"contract.{q}.s"] = (sp["end"] - sp["start"], "s")
        out[f"contract.{q}.construct_s"] = (c["end"] - c["start"], "s")
        out[f"contract.{q}.jobs"] = (counts["jobs"], "count")
        out[f"contract.{q}.shuffle_bytes"] = (counts["shuffle_write_bytes"],
                                              "B")
    return out
