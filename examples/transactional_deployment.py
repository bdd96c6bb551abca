"""Transactional-warehouse deployment recipes — runnable as-is:

    python examples/transactional_deployment.py [workdir]

Shows how a deployment picks its durability story through the two
seams (``tableio.set_backend`` + ``fsio.set_commit_scheme``) without
touching any operator code:

1. local/HDFS, single app   -> VersionedTableBackend on the default
   rename scheme (atomic manifest commits, snapshot readers)
2. append-heavy ingest      -> appends fold the table at
   AUTO_COMPACT_AT segments: read amplification bounded with zero
   configuration or manual maintenance
3. object store, one driver -> SingleDriverCASScheme
4. object store, MANY drivers with no atomic primitives at all
                            -> ExternalCASScheme + an external
   conditional-put service (FileExternalCAS stands in; production
   implements the same 5-method interface on DynamoDB / S3
   conditional PUT)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from dlx_spark import fsio, get_spark, tableio
    from dlx_spark.operators.dedup_index import MinHashIndex
    from dlx_spark.tableio_versioned import VersionedTableBackend

    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="dlx_txn_demo_")
    spark = get_spark("transactional_demo", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared tokens alpha beta")
         for i in range(50)], "doc_id long, text string")

    default_be = tableio.get_backend()
    try:
        # ---- 1. versioned backend: atomic commits, snapshot readers
        be = VersionedTableBackend(root=os.path.join(workdir, "vroot"))
        tableio.set_backend(be)
        idx = MinHashIndex.create(docs, "demo_idx")
        snapshot = be.read(spark, "demo_idx_sigs")   # pinned snapshot
        idx.append(docs.withColumn("doc_id", F.col("doc_id") + 1000))
        print(f"snapshot still v1: {snapshot.count()} rows; "
              f"head: {be.read(spark, 'demo_idx_sigs').count()} rows")
        idx.drop()

        # ---- 2. append-heavy ingest: the appends fold themselves
        ab = VersionedTableBackend(root=os.path.join(workdir, "vroot_ac"))
        n_days = ab.AUTO_COMPACT_AT + 4
        for day in range(n_days):
            ab.append(docs.withColumn("doc_id", F.col("doc_id") + day * 100),
                      "daily_feed", "doc_id")
        print(f"{n_days} appends, fold at {ab.AUTO_COMPACT_AT} segments -> "
              f"{len(ab.snapshot_token(spark, 'daily_feed'))} segment(s), "
              f"{ab.read(spark, 'daily_feed').count()} rows")

        # ---- 3. object store, single driver
        fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
        be3 = VersionedTableBackend(root=os.path.join(workdir, "vroot_s3"))
        be3.write(docs, "single_driver_table", "doc_id")
        print(f"single-driver CAS commit: "
              f"v{be3.versions(spark, 'single_driver_table')[-1]}")

        # ---- 4. object store, multi-driver: external CAS
        cas = fsio.FileExternalCAS(os.path.join(workdir, "cas_service"))
        fsio.set_commit_scheme(fsio.ExternalCASScheme(cas))
        be4 = VersionedTableBackend(root=os.path.join(workdir, "vroot_mp"))
        be4.write(docs, "multi_driver_table", "doc_id")
        be4.append(docs.withColumn("doc_id", F.col("doc_id") + 9000),
                   "multi_driver_table", "doc_id")
        print(f"external-CAS commits: versions "
              f"{be4.versions(spark, 'multi_driver_table')} "
              f"(every publish recoverable from the claim record)")
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())
    finally:
        tableio.set_backend(default_be)
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())
        if len(sys.argv) <= 1:
            shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
