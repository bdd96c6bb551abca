"""The tableio backend CONTRACT: the observable semantics the index
classes (dedup_index/bucketing) rely on, parameterized over backend
implementations.  The engine ships one, the manifest-versioned backend;
a table format plugged in through ``tableio.set_backend`` (Delta,
Iceberg) adds its constructor to ``BACKENDS`` / ``MOR_IMPLS`` and must
pass the same suite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dlx_spark import tableio


def _versioned_backend(spark, tmp_path):
    from dlx_spark.tableio_versioned import VersionedTableBackend
    return VersionedTableBackend(root=str(tmp_path / "vroot"))


BACKENDS = {
    "versioned": _versioned_backend,
}


@pytest.fixture(params=sorted(BACKENDS))
def be(request, spark, tmp_path):
    return BACKENDS[request.param](spark, tmp_path)


def _df(spark, rows, schema="id long, text string"):
    return spark.createDataFrame(rows, schema)


def test_contract_write_read_append_exists_drop(spark, be):
    df = _df(spark, [(1, "a"), (2, "b")])
    assert not be.exists(spark, "c_t1")
    be.write(df, "c_t1", "id")
    assert be.exists(spark, "c_t1")
    assert sorted(r["id"] for r in be.read(spark, "c_t1").collect()) == [1, 2]
    be.append(_df(spark, [(3, "c")]), "c_t1", "id")
    assert sorted(r["id"] for r in be.read(spark, "c_t1").collect()) \
        == [1, 2, 3]
    # overwrite replaces, not merges
    be.write(_df(spark, [(9, "z")]), "c_t1", "id")
    assert [r["id"] for r in be.read(spark, "c_t1").collect()] == [9]
    be.drop(spark, "c_t1")
    assert not be.exists(spark, "c_t1")


def test_contract_partitioned_roundtrip_and_pruned_scan(spark, be):
    df = _df(spark, [(i, "a" if i % 2 else "b") for i in range(8)],
             "id long, part string")
    be.write_partitioned(df, "c_t2", ["part"])
    be.append_partitioned(_df(spark, [(100, "c")], "id long, part string"),
                          "c_t2", ["part"])
    got = be.read(spark, "c_t2")
    assert got.count() == 9
    probe = got.filter(F.col("part") == "c")
    assert [r["id"] for r in probe.collect()] == [100]
    # the partition filter must reach the scan (pruning, not post-filter
    # only)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "part" in plan.split("PartitionFilters")[1][:200]


def test_contract_write_plain_and_schema_change(spark, be):
    be.write_plain(_df(spark, [(1, "a")]), "c_t3")
    assert be.read(spark, "c_t3").columns == ["id", "text"]
    # full overwrite may change the schema (index metadata tables do)
    be.write_plain(spark.createDataFrame([(1, 2.5)], "k long, v double"),
                   "c_t3")
    assert be.read(spark, "c_t3").columns == ["k", "v"]


def test_contract_replace_publishes_stage_and_consumes_it(spark, be):
    be.write(_df(spark, [(1, "old")]), "c_t4", "id")
    be.write(_df(spark, [(2, "new"), (3, "new")]), "c_t4__stage", "id")
    be.replace(spark, "c_t4", "c_t4__stage")
    assert sorted(r["id"] for r in be.read(spark, "c_t4").collect()) \
        == [2, 3]
    assert not be.exists(spark, "c_t4__stage")
    # recovery on a clean state is a no-op
    be.recover_replace(spark, "c_t4", "c_t4__stage")
    assert sorted(r["id"] for r in be.read(spark, "c_t4").collect()) \
        == [2, 3]


@pytest.mark.slow
def test_contract_replace_fail_detects_raced_commit(spark, be):
    be.write(_df(spark, [(1, "base")]), "c_t5", "id")
    token = be.snapshot_token(spark, "c_t5")
    be.write(be.read(spark, "c_t5"), "c_t5__stage", "id")
    # a commit lands after the token was captured
    be.append(_df(spark, [(2, "raced")]), "c_t5", "id")
    with pytest.raises(tableio.ConcurrentWriteError):
        be.replace(spark, "c_t5", "c_t5__stage", token=token,
                   on_conflict="fail")
    # target untouched by the refused swap
    assert sorted(r["id"] for r in be.read(spark, "c_t5").collect()) \
        == [1, 2]
    be.drop(spark, "c_t5__stage")


@pytest.mark.slow
def test_contract_replace_rejects_bad_on_conflict(spark, be):
    be.write(_df(spark, [(1, "x")]), "c_t6", "id")
    be.write(_df(spark, [(1, "x")]), "c_t6__stage", "id")
    with pytest.raises(ValueError, match="on_conflict"):
        be.replace(spark, "c_t6", "c_t6__stage", on_conflict="clobber")
    be.drop(spark, "c_t6__stage")


def test_contract_snapshot_token_none_for_missing_table(spark, be):
    assert be.snapshot_token(spark, "c_never_created") is None


@pytest.mark.slow
def test_contract_replace_merge_carries_raced_append(spark, be):
    """Merge-on-conflict: appends that land between the token capture
    and the swap survive the rewrite (the compaction contract)."""
    be.write(_df(spark, [(1, "a"), (1, "a")]), "c_t7", "id")
    token = be.snapshot_token(spark, "c_t7")
    # the 'rewrite': dedup of the snapshot the token describes
    be.write(be.read(spark, "c_t7").distinct(), "c_t7__stage", "id")
    be.append(_df(spark, [(2, "raced")]), "c_t7", "id")
    be.replace(spark, "c_t7", "c_t7__stage", token=token,
               on_conflict="merge")
    assert sorted((r["id"], r["text"]) for r in
                  be.read(spark, "c_t7").collect()) \
        == [(1, "a"), (2, "raced")]


# ---------------------------------------------------------------------------
# The keyed-upsert (merge-on-read) CONTRACT: MergeOnReadTable on the
# versioned backend; another table format's keyed-upsert table joins
# MOR_IMPLS.  Unique-key shape (the store's live / deleted-summary
# tables).
# ---------------------------------------------------------------------------


def _mor_versioned(spark, tmp_path):
    from dlx_spark.tableio_mor import MergeOnReadTable
    from dlx_spark.tableio_versioned import VersionedTableBackend
    be = VersionedTableBackend(root=str(tmp_path / "mor_vroot"))

    def make(name, key, pcols):
        return MergeOnReadTable(be, name, key=key, partition_cols=pcols)

    return make


MOR_IMPLS = {"versioned": _mor_versioned}


@pytest.fixture(params=sorted(MOR_IMPLS))
def mor(request, spark, tmp_path):
    return MOR_IMPLS[request.param](spark, tmp_path)


def _kv(spark, rows):
    df = spark.createDataFrame(rows, "k long, v string")
    return df.withColumn("pt", (F.col("k") % 2).cast("int"))


def _kv_sorted(t, spark):
    return sorted((r["k"], r["v"]) for r in
                  t.read(spark).select("k", "v").collect())


@pytest.mark.slow
def test_mor_contract_upsert_tombstone_roundtrip(spark, mor):
    t = mor("mc_rt", "k", ["pt"])
    t.overwrite(_kv(spark, [(i, f"v{i}") for i in range(6)]))
    # upsert: replace 1, insert 6; tombstone: delete 2
    t.upsert(rows=_kv(spark, [(1, "V1"), (6, "v6")]),
             tombstone_keys=_kv(spark, [(2, ""), (1, "")]))
    # key 1 is in BOTH rows and tombstones -> the ROW wins (MOR's
    # same-segment rule; the store's callers tombstone every touched
    # key and re-append survivors, relying on exactly this)
    assert _kv_sorted(t, spark) == [
        (0, "v0"), (1, "V1"), (3, "v3"), (4, "v4"), (5, "v5"), (6, "v6")]


@pytest.mark.slow
def test_mor_contract_tombstone_only_batch(spark, mor):
    t = mor("mc_del", "k", ["pt"])
    t.overwrite(_kv(spark, [(i, f"v{i}") for i in range(4)]))
    t.upsert(tombstone_keys=_kv(spark, [(0, ""), (3, "")]))
    assert _kv_sorted(t, spark) == [(1, "v1"), (2, "v2")]
    # deletes against a table that never existed are a no-op
    t2 = mor("mc_missing", "k", ["pt"])
    t2.upsert(tombstone_keys=_kv(spark, [(0, "")]))
    assert not t2.exists(spark)


def test_mor_contract_upsert_creates_missing_table(spark, mor):
    t = mor("mc_create", "k", ["pt"])
    assert not t.exists(spark)
    t.upsert(rows=_kv(spark, [(1, "a"), (2, "b")]))
    assert t.exists(spark)
    assert _kv_sorted(t, spark) == [(1, "a"), (2, "b")]


@pytest.mark.slow
def test_mor_contract_compact_preserves_content(spark, mor):
    t = mor("mc_compact", "k", ["pt"])
    t.overwrite(_kv(spark, [(i, f"v{i}") for i in range(5)]))
    for i in range(3):
        t.upsert(rows=_kv(spark, [(i, f"u{i}")]),
                 tombstone_keys=_kv(spark, [(i, "")]))
    before = _kv_sorted(t, spark)
    t.compact(spark)
    assert _kv_sorted(t, spark) == before
    assert before == [(0, "u0"), (1, "u1"), (2, "u2"),
                      (3, "v3"), (4, "v4")]


@pytest.mark.slow
def test_mor_contract_minor_compact_preserves_content(spark, mor):
    """The tiered fold (compact_deltas) resolves identically to the
    full fold — including a tombstoned key staying dead through it —
    and composes with a later full compact."""
    t = mor("mc_minor", "k", ["pt"])
    t.overwrite(_kv(spark, [(i, f"v{i}") for i in range(5)]))
    t.upsert(rows=_kv(spark, [(0, "u0")]), tombstone_keys=_kv(spark, [(0, "")]))
    t.upsert(tombstone_keys=_kv(spark, [(3, "")]))
    t.upsert(rows=_kv(spark, [(9, "new")]))
    before = _kv_sorted(t, spark)
    t.compact_deltas(spark)
    assert _kv_sorted(t, spark) == before
    assert before == [(0, "u0"), (1, "v1"), (2, "v2"), (4, "v4"),
                      (9, "new")]
    t.compact(spark)
    assert _kv_sorted(t, spark) == before
