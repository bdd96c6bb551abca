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
    be.write(df, "c_t2", partition_cols=["part"])
    be.append(_df(spark, [(100, "c")], "id long, part string"),
              "c_t2", partition_cols=["part"])
    got = be.read(spark, "c_t2")
    assert got.count() == 9
    probe = got.filter(F.col("part") == "c")
    assert [r["id"] for r in probe.collect()] == [100]
    # the partition filter must reach the scan (pruning, not post-filter
    # only)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "part" in plan.split("PartitionFilters")[1][:200]


def test_contract_unkeyed_write_and_schema_change(spark, be):
    be.write(_df(spark, [(1, "a")]), "c_t3")
    assert be.read(spark, "c_t3").columns == ["id", "text"]
    # full overwrite may change the schema (index metadata tables do)
    be.write(spark.createDataFrame([(1, 2.5)], "k long, v double"),
             "c_t3")
    assert be.read(spark, "c_t3").columns == ["k", "v"]


def test_contract_append_keeps_the_head_schema(spark, be):
    """An append is conformed to the table's schema: a keyed append of
    an int column onto a long one must neither retype the table nor
    leave a segment the table's readers cannot decode."""
    be.write(_df(spark, [(1, "a")]), "c_t4", "id")
    be.append(spark.range(1).select(F.lit(600).alias("id"),
                                    F.lit("b").alias("text")),
              "c_t4", "id")
    got = be.read(spark, "c_t4")
    assert got.schema["id"].dataType.typeName() == "long"
    assert sorted(r["id"] for r in got.collect()) == [1, 600]


def test_contract_rewrite_carries_raced_append(spark, be):
    """A rewrite publishes its content as one segment in one commit;
    appends that land between the snapshot and the commit survive it
    (the compaction contract)."""
    be.write(_df(spark, [(1, "a"), (1, "a")]), "c_t4", "id")
    token = be.snapshot_token(spark, "c_t4")
    # the 'rewrite': dedup of the snapshot the token describes
    folded = be.read(spark, "c_t4").distinct()
    be.append(_df(spark, [(2, "raced")]), "c_t4", "id")
    assert be.rewrite(folded, "c_t4", token)
    assert sorted((r["id"], r["text"]) for r in
                  be.read(spark, "c_t4").collect()) \
        == [(1, "a"), (2, "raced")]
    assert len(be.snapshot_token(spark, "c_t4")) == 2


def test_contract_rewrite_fail_mode_refuses_raced_append(spark, be):
    be.write(_df(spark, [(1, "base")]), "c_t5", "id")
    token = be.snapshot_token(spark, "c_t5")
    snapshot = be.read(spark, "c_t5")
    # a commit lands after the token was captured
    be.append(_df(spark, [(2, "raced")]), "c_t5", "id")
    assert not be.rewrite(snapshot, "c_t5", token, exact=True)
    # target untouched by the refused rewrite
    assert sorted(r["id"] for r in be.read(spark, "c_t5").collect()) \
        == [1, 2]
    # with no race the same re-derive commits
    token = be.snapshot_token(spark, "c_t5")
    assert be.rewrite(be.read(spark, "c_t5").filter("id = 2"), "c_t5",
                      token, exact=True)
    assert [r["id"] for r in be.read(spark, "c_t5").collect()] == [2]


def test_contract_rewrite_aborts_on_replaced_list(spark, be):
    """A rewrite derived from a list another rewrite replaced commits
    nothing: carrying the other's segment would count rows twice."""
    be.write(_df(spark, [(1, "a")]), "c_t6", "id")
    be.append(_df(spark, [(2, "b")]), "c_t6", "id")
    token = be.snapshot_token(spark, "c_t6")
    stale = be.read(spark, "c_t6")
    assert be.rewrite(be.read(spark, "c_t6"), "c_t6", token)   # the race
    head = be.snapshot_token(spark, "c_t6")
    assert not be.rewrite(stale, "c_t6", token)
    assert be.snapshot_token(spark, "c_t6") == head
    assert sorted(r["id"] for r in be.read(spark, "c_t6").collect()) \
        == [1, 2]


def test_contract_snapshot_token_none_for_missing_table(spark, be):
    assert be.snapshot_token(spark, "c_never_created") is None


def test_contract_rewrite_failure_before_commit_leaves_only_a_segment(
        spark, be, monkeypatch):
    """A rewrite is unpublished until its one commit: a failure there
    leaves the table as it was, and its segment is garbage that
    ``vacuum(min_age_seconds=0)`` reclaims."""
    be.write(_df(spark, [(1, "a")]), "c_t7", "id")
    token = be.snapshot_token(spark, "c_t7")

    def crash(spark, table, payload_fn):
        raise RuntimeError("simulated crash at the rewrite commit")

    monkeypatch.setattr(be, "_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        be.rewrite(_df(spark, [(9, "never")]), "c_t7", token)
    monkeypatch.undo()
    assert be.snapshot_token(spark, "c_t7") == token
    assert [r["id"] for r in be.read(spark, "c_t7").collect()] == [1]
    deleted = be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert len(deleted) == 1 and deleted[0] not in token
    assert [r["id"] for r in be.read(spark, "c_t7").collect()] == [1]


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
