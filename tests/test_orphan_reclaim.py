"""Crash remnants: a driver killed mid-commit leaves files that no
committed manifest references — a data segment written before its
manifest commit, and a ``.tmp-*`` manifest written before its rename.
Neither is visible to readers, so every create path must succeed over
them (the round-6 reproduced defect: stale warehouse dirs from a killed
run bricked `DigestIndex.create`), and ``vacuum`` reclaims them.

One test per index family plants the remnants for every table the
family creates, then asserts create + read-back is green.  A rewrite
(compaction, rebucket, refresh) that dies before its manifest commit
leaves the same kind of remnant: one unreferenced data segment.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from dlx_spark import fsio, tableio
from dlx_spark.operators import bucketing
from dlx_spark.operators.dedup_index import (DigestIndex, EmbeddingIndex,
                                             MinHashIndex, SimHashIndex)


def _plant_orphan(spark, be, table: str) -> tuple[str, str]:
    """Simulate a killed run on ``table``: a segment directory no
    manifest references and a torn ``.tmp-*`` manifest beside the
    (absent) committed versions."""
    seg = fsio.join(be.root(spark), "data", f"{table}-{uuid.uuid4().hex}")
    fsio.mkdirs(spark, seg)
    fsio.write_text(spark, fsio.join(seg, "part-00000.parquet"),
                    "torn remnant of a killed write")
    tdir = fsio.join(be.root(spark), "tables", table)
    fsio.mkdirs(spark, tdir)
    tmp = fsio.join(tdir, f".tmp-{uuid.uuid4().hex}.json")
    fsio.write_text(spark, tmp, '{"segments": [')
    assert not be.exists(spark, table)
    return seg, tmp


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"doc number {i} with shared words alpha beta gamma "
                f"delta epsilon zeta token{i}") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
            for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_reclaim_unit(spark, tmp_path):
    """Direct contract: vacuum removes both remnants of a killed
    commit; a live table beside them keeps its segment and reads
    unchanged."""
    from dlx_spark.tableio_versioned import VersionedTableBackend

    be = VersionedTableBackend(root=str(tmp_path / "vroot"))
    seg, tmp = _plant_orphan(spark, be, "t_orph_unit")
    be.write(spark.range(3).select(F.col("id").alias("k")),
             "t_orph_live", "k")
    live_seg = be.latest_manifest(spark, "t_orph_live")["segments"][0]
    deleted = be.vacuum(spark, min_age_seconds=0)
    assert deleted == [seg.rsplit("/", 1)[-1]]
    assert not fsio.exists(spark, seg) and not fsio.exists(spark, tmp)
    assert live_seg not in deleted
    assert be.read(spark, "t_orph_live").count() == 3
    assert not be.exists(spark, "t_orph_unit")


@pytest.mark.parametrize("family,suffixes", [
    ("digest", ["_digests", "_meta"]),
    ("minhash", ["_sigs", "_bands", "_meta"]),
    ("simhash", ["_fps", "_meta"]),
    ("embedding", ["_vecs", "_buckets", "_meta"]),
])
def test_index_create_reclaims_orphans(spark, docs, vecs, family, suffixes):
    be = tableio.get_backend()
    name = f"t_orph_{family}"
    for sfx in suffixes:
        _plant_orphan(spark, be, name + sfx)
    try:
        if family == "digest":
            idx = DigestIndex.create(docs, name)
            assert be.read(spark, f"{name}_digests").count() > 0
        elif family == "minhash":
            idx = MinHashIndex.create(docs, name)
            assert be.read(spark, f"{name}_sigs").count() == 40
        elif family == "simhash":
            idx = SimHashIndex.create(docs, name)
            assert be.read(spark, f"{name}_fps").count() > 0
        else:
            idx = EmbeddingIndex.create(vecs, name)
            assert be.read(spark, f"{name}_vecs").count() == 40
        idx  # created green over every planted remnant
    finally:
        for sfx in suffixes:
            be.drop(spark, name + sfx)


def test_ivf_create_reclaims_orphans(spark, vecs):
    be = tableio.get_backend()
    _plant_orphan(spark, be, "t_orph_ivf")
    try:
        centroids = np.array([[1.0] * 8, [5.0] * 8, [9.0] * 8])
        bucketing.write_ivf_index(vecs, "t_orph_ivf", centroids)
        assert be.read(spark, "t_orph_ivf").count() == 40
    finally:
        be.drop(spark, "t_orph_ivf")


def test_append_creates_over_orphan(spark):
    """An append against an absent table CREATES it, so it meets the
    same remnants — they neither block it nor leak into its reads."""
    be = tableio.get_backend()
    _plant_orphan(spark, be, "t_orph_app")
    try:
        be.append(spark.range(10).select(F.col("id").alias("k")),
                  "t_orph_app", "k")
        assert be.read(spark, "t_orph_app").count() == 10
        # and a SECOND append onto the now-committed table appends
        be.append(spark.range(10).select(F.col("id").alias("k")),
                  "t_orph_app", "k")
        assert be.read(spark, "t_orph_app").count() == 20
    finally:
        be.drop(spark, "t_orph_app")
