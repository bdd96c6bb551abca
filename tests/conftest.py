"""Shared fixtures: a session-scoped local SparkSession and the canonical
2-bib/2-auth record set described in FIXTURES.md (the reference's
universal test fixture, re-created from its documented shape)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from dlx_spark.session import get_spark
    # keep local test parallelism modest; shuffle partitions low for tiny data
    spark = get_spark("dlx_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    _sweep_stale_warehouse(spark)
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: (the Spark jobs ``fn`` ran, its result),
    counted through a job group."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out
    return run


@pytest.fixture
def touched_buckets():
    """``touched_buckets(idx, probes)``: ``(grouped, brute)``, both
    sorted (band, bucket, id) lists — the corpus rows of an
    ``EmbeddingIndex``'s band grouping for ``probes``, and by brute
    force the index key rows of the buckets the probes touch (the whole
    key table joined on the probes' band keys)."""
    from pyspark.sql import functions as F

    from dlx_spark.tableio import get_backend
    from dlx_spark.operators import similarity

    def run(idx, probes):
        _, g = idx._grouping(probes, None, 0, None)
        grouped = g.rows.filter(F.col("_side") == 0)
        p = idx.params
        keys = similarity.banded_lsh_keys(
            probes, p["bands"], p["n_planes"], p["seed"], p["vec_col"],
            p["id_col"], p["dim"]).select("band", "bucket").distinct()
        brute = get_backend().read(idx.spark, f"{idx.name}_buckets") \
            .join(keys, ["band", "bucket"])
        return tuple(sorted(tuple(r) for r in df.select(
            "band", "bucket", "id").collect()) for df in (grouped, brute))
    return run


def _sweep_stale_warehouse(spark):
    """Make the suite immune to killed predecessors: every test table
    lives under the warehouse (the index tables in the versioned root
    ``_versioned``, the few catalog tables beside it in the in-memory
    catalog), so at session START every directory there is a leftover
    of a prior (possibly kill -9'd) run.  Sweeping it means no test
    inherits another run's manifests, segments or a catalog
    LOCATION_ALREADY_EXISTS from a run that died mid-write.

    SINGLE-PROCESS ASSUMPTION: the sweep is only sound when this run is
    the warehouse's sole user.  Under pytest-xdist (or two concurrent
    runs in one checkout) a later-starting worker would delete the live
    tables of an in-flight sibling sharing cwd/spark-warehouse — so the
    sweep is skipped there; tests then rely on their own teardown
    drops."""
    if os.environ.get("PYTEST_XDIST_WORKER"):
        return
    from dlx_spark import fsio
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for name in fsio.listdir(spark, wh):
        fsio.rmtree(spark, fsio.join(wh, name))


@pytest.fixture
def bib_docs():
    return [
        {
            "_id": 1,
            "000": ["leader"],
            "008": ["controlfield"],
            "245": [{"indicators": [" ", " "],
                     "subfields": [{"code": "a", "value": "This"},
                                   {"code": "b", "value": "is the"},
                                   {"code": "c", "value": "title"}]}],
            "520": [{"indicators": [" ", " "],
                     "subfields": [{"code": "a", "value": "Description"}]},
                    {"indicators": [" ", " "],
                     "subfields": [{"code": "a", "value": "Another description"},
                                   {"code": "a", "value": "Repeated subfield"}]}],
            "650": [{"indicators": [" ", " "],
                     "subfields": [{"code": "a", "xref": 1}]}],
            "710": [{"indicators": [" ", " "],
                     "subfields": [{"code": "a", "xref": 2}]}],
        },
        {
            "_id": 2,
            "000": ["leader"],
            "245": [{"indicators": [" ", " "],
                     "subfields": [{"code": "a", "value": "Another"},
                                   {"code": "b", "value": "is the"},
                                   {"code": "c", "value": "title"}]}],
            "650": [{"indicators": [" ", " "],
                     "subfields": [{"code": "a", "xref": 1}]}],
        },
    ]


@pytest.fixture
def auth_docs():
    return [
        {"_id": 1,
         "150": [{"indicators": [" ", " "],
                  "subfields": [{"code": "a", "value": "Header"}]}]},
        {"_id": 2,
         "110": [{"indicators": [" ", " "],
                  "subfields": [{"code": "a", "value": "Another header"}]}]},
    ]


@pytest.fixture
def auth_index(auth_docs):
    from dlx_spark.marc import AuthSet
    return AuthSet.from_dicts(auth_docs).build_index()


@pytest.fixture
def bibs(bib_docs, auth_index):
    from dlx_spark.marc import BibSet
    return BibSet.from_dicts(bib_docs, auth_index=auth_index)


@pytest.fixture
def auths(auth_docs):
    from dlx_spark.marc import AuthSet
    return AuthSet.from_dicts(auth_docs)


@pytest.fixture
def bibs_df(spark, bibs):
    return bibs.to_df(spark)


@pytest.fixture
def auths_df(spark, auths):
    return auths.to_df(spark)
