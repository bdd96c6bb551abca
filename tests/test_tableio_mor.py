"""MergeOnReadTable contract: O(batch) upserts, segment-order key
precedence, tombstones, compaction, geometry metadata, and the plan
shapes that make resolution scale (base never shuffled, delta key set
broadcast, partition filters pruning base AND delta scans)."""

import pytest
from pyspark.sql import functions as F

from dlx_spark import fsio, plans
from dlx_spark.tableio_mor import MergeOnReadTable
from dlx_spark.tableio_versioned import VersionedTableBackend


@pytest.fixture
def be(tmp_path):
    return VersionedTableBackend(root=str(tmp_path / "wh_mor"))


def _rows(spark, pairs, n_buckets=4):
    return (spark.createDataFrame(pairs, "k long, v string")
            .withColumn("pt", F.pmod("k", F.lit(n_buckets)).cast("int")))


def _read_sorted(t, spark):
    return sorted((r["k"], r["v"]) for r in t.read(spark).collect())


@pytest.mark.slow
def test_upsert_overrides_and_tombstones_delete(spark, be):
    t = MergeOnReadTable(be, "t1", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a"), (2, "b"), (3, "c")]))
    assert _read_sorted(t, spark) == [(1, "a"), (2, "b"), (3, "c")]

    t.upsert(rows=_rows(spark, [(2, "B"), (4, "d")]))
    assert _read_sorted(t, spark) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]

    t.upsert(tombstone_keys=_rows(spark, [(1, None), (4, None)])
             .select("k", "pt"))
    assert _read_sorted(t, spark) == [(2, "B"), (3, "c")]

    # later segment wins over earlier delta, not just over base
    t.upsert(rows=_rows(spark, [(2, "B2")]))
    assert _read_sorted(t, spark) == [(2, "B2"), (3, "c")]

    # a deleted key can come back
    t.upsert(rows=_rows(spark, [(1, "a2")]))
    assert _read_sorted(t, spark) == [(1, "a2"), (2, "B2"), (3, "c")]


def test_first_write_may_be_an_upsert(spark, be):
    t = MergeOnReadTable(be, "t2", key="k", partition_cols=["pt"])
    assert not t.exists(spark)
    t.upsert(rows=_rows(spark, [(1, "a")]), extra={"n_buckets": 4})
    assert _read_sorted(t, spark) == [(1, "a")]
    assert t.meta(spark) == {"n_buckets": 4}
    # tombstones against a never-created table are a no-op
    t2 = MergeOnReadTable(be, "t2_none", key="k")
    t2.upsert(tombstone_keys=_rows(spark, [(9, None)]).select("k", "pt"))
    assert not t2.exists(spark)


@pytest.mark.slow
def test_multi_row_per_key_replaces_row_set(spark, be):
    """Index-table shape: several rows per key; a batch tombstones every
    touched key and writes the fresh row set (possibly empty)."""
    t = MergeOnReadTable(be, "idx", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "x"), (1, "y"), (2, "p"), (2, "q")]))
    # key 1 shrinks to one row; key 2's set becomes empty (tombstone only)
    batch = _rows(spark, [(1, "z")])
    stones = _rows(spark, [(1, None), (2, None)]).select("k", "pt")
    t.upsert(rows=batch, tombstone_keys=stones)
    assert _read_sorted(t, spark) == [(1, "z")]
    # same-segment tombstone+rows resolved to the rows (mention rule)
    t.upsert(rows=_rows(spark, [(2, "p2"), (2, "q2")]),
             tombstone_keys=_rows(spark, [(2, None)]).select("k", "pt"))
    assert _read_sorted(t, spark) == [(1, "z"), (2, "p2"), (2, "q2")]


@pytest.mark.slow
def test_upsert_is_o_batch_and_compact_folds(spark, be):
    """A small upsert must append ONE segment and leave every existing
    data file untouched (the write-amplification contract); compact
    folds all segments into one with identical content."""
    t = MergeOnReadTable(be, "t3", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(32)]))
    data_dir = fsio.join(be.root(spark), "data")

    def file_set():
        out = set()
        for seg in fsio.listdir(spark, data_dir):
            for leaf in fsio.glob(spark, fsio.join(data_dir, seg, "pt=*/*")):
                out.add(leaf)
        return out

    before = file_set()
    assert len(t.segments(spark)) == 1
    t.upsert(rows=_rows(spark, [(1, "V1")]))
    after = file_set()
    assert before <= after                      # nothing rewritten
    assert len(t.segments(spark)) == 2
    added_segs = {p.split("/data/")[1].split("/")[0]
                  for p in (after - before)}
    assert len(added_segs) == 1                 # one new segment only

    want = _read_sorted(t, spark)
    assert t.compact(spark) == 2
    assert len(t.segments(spark)) == 1
    assert _read_sorted(t, spark) == want


@pytest.mark.slow
def test_auto_compact_bounds_segments(spark, be, monkeypatch):
    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    t = MergeOnReadTable(be, "t4", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a")]))
    for i in range(5):
        t.upsert(rows=_rows(spark, [(10 + i, f"n{i}")]))
    assert len(t.segments(spark)) < 3
    assert t.auto_compactions >= 1
    assert _read_sorted(t, spark) == [(1, "a")] + [
        (10 + i, f"n{i}") for i in range(5)]


def test_inline_fold_keeps_one_row_per_key(spark, be, monkeypatch):
    """Past the fold threshold a key upserted many times still resolves
    to its latest row and a tombstoned key stays gone: the fold that
    runs inline is the precedence-aware one, never the backend's
    concatenating fold (which would keep every superseded row of the
    key in one segment)."""
    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    t = MergeOnReadTable(be, "t_fold", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "v0"), (2, "b")]))
    for i in range(1, 5):
        t.upsert(rows=_rows(spark, [(1, f"v{i}")]))
    t.upsert(tombstone_keys=_rows(spark, [(2, None)]).select("k", "pt"))
    assert len(t.segments(spark)) < 3
    assert _read_sorted(t, spark) == [(1, "v4")]


def test_resolution_plan_base_not_shuffled_and_keys_broadcast(spark, be):
    """The 100 TB contract: resolving base-vs-delta must broadcast the
    delta key set (never shuffle/sort the base side) and keep partition
    filters pruning BOTH scans."""
    t = MergeOnReadTable(be, "t5", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(64)]))
    t.upsert(rows=_rows(spark, [(1, "V")]))
    df = t.read(spark).filter(F.col("pt") == 1)
    plan = plans.simple_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    pruned = [ln for ln in pf if "pt" in ln.split("PartitionFilters")[1][:80]]
    assert len(pruned) >= 2, plan               # base AND delta scans pruned
    assert sorted(r["k"] for r in df.collect()) == [
        i for i in range(64) if i % 4 == 1]
    assert [r["v"] for r in df.collect() if r["k"] == 1] == ["V"]


@pytest.mark.slow
def test_meta_survives_appends_and_compact(spark, be):
    t = MergeOnReadTable(be, "t6", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a")]), extra={"n_buckets": 4})
    t.upsert(rows=_rows(spark, [(2, "b")]))
    assert t.meta(spark) == {"n_buckets": 4}
    t.compact(spark)
    assert t.meta(spark) == {"n_buckets": 4}


@pytest.mark.slow
def test_repartition_table_changes_geometry_atomically(spark, be):
    t = MergeOnReadTable(be, "t7", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(16)], n_buckets=4),
                extra={"n_buckets": 4})
    t.repartition_table(
        spark,
        lambda resolved: resolved.withColumn(
            "pt", F.pmod("k", F.lit(8)).cast("int")),
        extra={"n_buckets": 8})
    assert t.meta(spark) == {"n_buckets": 8}
    assert len(t.segments(spark)) == 1
    got = {r["k"]: r["pt"] for r in t.read(spark).collect()}
    assert got == {i: i % 8 for i in range(16)}


@pytest.mark.slow
def test_read_segments_since_identifies_crashed_batch(spark, be):
    """The recovery primitive: a snapshot of segments() taken before a
    batch brackets exactly that batch's rows (tombstones included)."""
    t = MergeOnReadTable(be, "t8", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a"), (2, "b")]))
    snap = t.segments(spark)
    assert t.read_segments_since(spark, snap) is None
    t.upsert(rows=_rows(spark, [(3, "c")]),
             tombstone_keys=_rows(spark, [(2, None)]).select("k", "pt"))
    batch = t.read_segments_since(spark, snap)
    got = sorted((r["k"], r["v"], r["_mor_deleted"]) for r in batch.collect())
    assert got == [(2, None, True), (3, "c", False)]


@pytest.mark.slow
def test_snapshot_reader_survives_compaction(spark, be):
    """Snapshot isolation is inherited: a DataFrame resolved before a
    compact still collects after it (segments are immutable until
    vacuum)."""
    t = MergeOnReadTable(be, "t9", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a")]))
    t.upsert(rows=_rows(spark, [(2, "b")]))
    snap = t.read(spark)
    t.compact(spark)
    t.upsert(rows=_rows(spark, [(1, "A")]))
    assert sorted((r["k"], r["v"]) for r in snap.collect()) == [
        (1, "a"), (2, "b")]


@pytest.mark.slow
def test_huge_delta_disables_forced_broadcast(spark, be):
    """The forced broadcast of the delta key set assumes batch-sized
    deltas; a bulk-ingest delta above BROADCAST_MAX_DELTA_ROWS must
    resolve UNHINTED (Catalyst/AQE picks — shuffling the base once is
    correct, collecting 10^8 keys to the driver is not), with identical
    results."""
    t = MergeOnReadTable(be, "t10", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(8)]))
    t.upsert(rows=_rows(spark, [(1, "V"), (2, "W")]))

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "Hint" in analyzed(t.read(spark))      # small delta: forced
    t.BROADCAST_MAX_DELTA_ROWS = 1                # now "too big"
    assert "Hint" not in analyzed(t.read(spark))
    expect = [(1, "V"), (2, "W")] + [
        (i, f"v{i}") for i in range(8) if i not in (1, 2)]
    assert _read_sorted(t, spark) == sorted(expect)
    # the guard's count is memoized per segment list: a new commit
    # invalidates it, and a delta back under the ceiling re-broadcasts
    t.BROADCAST_MAX_DELTA_ROWS = MergeOnReadTable.BROADCAST_MAX_DELTA_ROWS
    t.compact(spark)
    t.upsert(rows=_rows(spark, [(3, "X")]))
    assert "Hint" in analyzed(t.read(spark))
    assert (3, "X") in _read_sorted(t, spark)


@pytest.mark.slow
def test_extra_merge_survives_stale_compaction(spark, be):
    """A compaction derived from an old manifest snapshot must not roll
    back metadata a raced commit advanced: with extra_merge, the
    rewrite folds its extra onto the HEAD's (monotonic max for the
    hint), and the raced segment's rows are carried."""
    def merge(new, head):
        out = dict(head or {})
        out.update(new or {})
        hints = [int(d["max_id"]) for d in (new or {}, head or {})
                 if d.get("max_id") is not None]
        if hints:
            out["max_id"] = max(hints)
        return out

    t = MergeOnReadTable(be, "t11", key="k", partition_cols=["pt"],
                         extra_merge=merge)
    t.overwrite(_rows(spark, [(1, "a"), (2, "b")]), extra={"max_id": 2})
    t.upsert(rows=_rows(spark, [(3, "c")]), extra={"max_id": 3})
    stale = t.manifest(spark)              # fold-start snapshot
    t.upsert(rows=_rows(spark, [(9, "z")]), extra={"max_id": 9})
    assert t.meta(spark)["max_id"] == 9

    # run the fold as if it had started before the max_id=9 commit
    orig = t.manifest
    t.manifest = lambda s: stale
    try:
        t.compact(spark)
    finally:
        t.manifest = orig
    assert t.meta(spark)["max_id"] == 9    # not rolled back to 3
    assert _read_sorted(t, spark) == [(1, "a"), (2, "b"), (3, "c"),
                                      (9, "z")]  # raced rows carried


def test_extra_merge_applies_on_appends(spark, be):
    """Appends with extra_merge update head metadata per commit (the
    default behavior — head preserved verbatim — only holds without a
    merge fn)."""
    merge = lambda new, head: {**(head or {}), **(new or {})}
    t = MergeOnReadTable(be, "t12", key="k", partition_cols=["pt"],
                         extra_merge=merge)
    t.overwrite(_rows(spark, [(1, "a")]), extra={"n_buckets": 4})
    t.upsert(rows=_rows(spark, [(2, "b")]), extra={"watermark": 7})
    assert t.meta(spark) == {"n_buckets": 4, "watermark": 7}


# ---------------------------------------------------- minor compaction

def _file_set(spark, be):
    data_dir = fsio.join(be.root(spark), "data")
    out = set()
    for seg in fsio.listdir(spark, data_dir):
        for leaf in fsio.glob(spark, fsio.join(data_dir, seg, "pt=*/*")):
            out.add(leaf)
    return out


@pytest.mark.slow
def test_compact_deltas_folds_suffix_base_untouched(spark, be):
    """Minor compaction: deltas (upserts, tombstones, multi-row keys)
    collapse to ONE merged segment, the base segment is referenced by
    id — no base file rewritten — and the resolved content is
    byte-identical.  Tombstones survive the fold (a later full compact
    and reads both still see the deletion)."""
    t = MergeOnReadTable(be, "mc1", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(64)]))
    base_seg = t.segments(spark)[0]
    base_files = _file_set(spark, be)
    t.upsert(rows=_rows(spark, [(1, "V1"), (100, "new")]))
    t.upsert(tombstone_keys=_rows(spark, [(2, None)]).select("k", "pt"))
    # multi-row key replaces its row set across two delta generations
    t.upsert(rows=_rows(spark, [(3, "x"), (3, "y")]),
             tombstone_keys=_rows(spark, [(3, None)]).select("k", "pt"))
    t.upsert(rows=_rows(spark, [(1, "V2")]))       # later delta wins
    want = _read_sorted(t, spark)
    assert (1, "V2") in want and (2, "v2") not in want

    assert t.compact_deltas(spark) == 4
    assert t.segments(spark) == [base_seg, t.segments(spark)[1]]
    assert len(t.segments(spark)) == 2
    assert base_files <= _file_set(spark, be)      # base never rewritten
    assert _read_sorted(t, spark) == want
    # the fold is idempotent maintenance: nothing left to fold
    assert t.compact_deltas(spark) == 0
    # and a later FULL fold still resolves identically
    assert t.compact(spark) == 2
    assert _read_sorted(t, spark) == want


@pytest.mark.slow
def test_compact_deltas_carries_raced_appends(spark, be):
    """A batch that lands between the fold's snapshot and its commit is
    carried AFTER the merged delta, so its precedence is preserved."""
    t = MergeOnReadTable(be, "mc2", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a"), (2, "b")]))
    t.upsert(rows=_rows(spark, [(1, "d1")]))
    t.upsert(rows=_rows(spark, [(2, "d2")]))
    stale = t.manifest(spark)
    token = list(stale["segments"])
    merged = be._conform(t._merged_deltas(spark, stale), t._schema(stale))
    # the race: another writer updates key 1 past the fold's snapshot
    t.upsert(rows=_rows(spark, [(1, "RACED")]))
    assert t.backend.rewrite(merged, "mc2", token, keep=1)
    assert len(t.segments(spark)) == 3             # base, merged, raced
    assert _read_sorted(t, spark) == [(1, "RACED"), (2, "d2")]


@pytest.mark.slow
def test_compact_deltas_aborts_on_replaced_list(spark, be):
    """A raced FULL rewrite (compact/rebucket) replaces the segment
    list; suffix surgery derived from the superseded list must abort
    without committing."""
    t = MergeOnReadTable(be, "mc3", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a"), (2, "b")]))
    t.upsert(rows=_rows(spark, [(1, "A")]))
    t.upsert(rows=_rows(spark, [(3, "c")]))
    stale = t.manifest(spark)
    token = list(stale["segments"])
    merged = be._conform(t._merged_deltas(spark, stale), t._schema(stale))
    assert t.compact(spark) == 3                   # the raced full fold
    want = _read_sorted(t, spark)
    assert not t.backend.rewrite(merged, "mc3", token, keep=1)
    assert len(t.segments(spark)) == 1             # nothing committed
    assert _read_sorted(t, spark) == want
    # compact_deltas itself reports 0 via the same abort
    assert t.compact_deltas(spark) == 0


@pytest.mark.slow
def test_auto_compact_prefers_minor_on_large_base(spark, be,
                                                  monkeypatch):
    """The upsert-triggered compaction folds only the deltas while they
    are a small fraction of the base — the base segment survives the
    whole run unrewritten (O(batch) maintenance, not O(store))."""
    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    t = MergeOnReadTable(be, "mc4", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(500)]))
    base_seg = t.segments(spark)[0]
    for i in range(6):
        t.upsert(rows=_rows(spark, [(i, f"up{i}")]))
    assert t.auto_compactions_minor >= 1
    assert t.segments(spark)[0] == base_seg        # base never refolded
    assert len(t.segments(spark)) <= 3
    got = dict(_read_sorted(t, spark))
    assert all(got[i] == f"up{i}" for i in range(6))
    assert got[499] == "v499"


@pytest.mark.slow
def test_auto_compact_falls_back_to_full_when_deltas_large(spark, be,
                                                          monkeypatch):
    """Deltas past MINOR_FOLD_MAX_FRACTION of the base make
    the trigger do the full fold (delta-resolution has outgrown the
    fast path)."""
    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    t = MergeOnReadTable(be, "mc5", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(1, "a")]))
    for i in range(4):
        t.upsert(rows=_rows(spark, [(10 + i, f"n{i}")]))
    assert t.auto_compactions >= 1
    assert t.auto_compactions_minor == 0
    assert len(t.segments(spark)) <= 2


@pytest.mark.slow
def test_segments_cluster_rows_by_key_within_buckets(spark, be):
    """Every segment write clusters rows by the table key within each
    partition dir (sort_col recorded in the manifest and preserved by
    minor AND full folds), so parquet row-group min/max stats on the
    key stay tight and a pushed key-equality filter skips row groups —
    the scan-level point-read optimization that matters once buckets
    span many row groups (measured 39% faster at 4M rows with
    row-group-sized files)."""
    t = MergeOnReadTable(be, "sc1", key="k", partition_cols=["pt"])
    # deliberately unsorted input
    t.overwrite(_rows(spark, [(i * 37 % 64, f"v{i}") for i in range(64)]))
    t.upsert(rows=_rows(spark, [(50 - i, f"u{i}") for i in range(20)]))
    t.upsert(rows=_rows(spark, [(5, "a"), (3, "b"), (1, "c")]))

    def assert_clustered():
        data_dir = fsio.join(be.root(spark), "data")
        for seg in t.segments(spark):
            for leaf in fsio.glob(spark, fsio.join(data_dir, seg,
                                                   "pt=*/*.parquet")):
                ks = [r["k"] for r in spark.read.parquet(leaf)
                      .select("k").collect()]
                assert ks == sorted(ks), (seg, leaf, ks)

    assert_clustered()
    assert t.manifest(spark).get("sort_col") == "k"
    want = _read_sorted(t, spark)
    assert t.compact_deltas(spark) == 2
    assert_clustered()                      # minor fold re-clusters
    assert t.manifest(spark).get("sort_col") == "k"
    assert t.compact(spark) == 2
    assert_clustered()                      # full fold re-clusters
    assert t.manifest(spark).get("sort_col") == "k"
    assert _read_sorted(t, spark) == want


@pytest.mark.slow
def test_custom_sort_col_clusters_by_that_column(spark, be):
    """A table whose hot filter is not its key (the token index) may
    cluster by a different scalar; the manifest records it and folds
    preserve it."""
    t = MergeOnReadTable(be, "sc2", key="k", partition_cols=["pt"],
                         sort_col="v")
    t.overwrite(_rows(spark, [(i, f"v{(i * 31) % 40:02d}")
                              for i in range(40)]))
    t.upsert(rows=_rows(spark, [(i, f"u{(9 - i) % 7}") for i in range(7)]))
    assert t.manifest(spark).get("sort_col") == "v"
    data_dir = fsio.join(be.root(spark), "data")
    for seg in t.segments(spark):
        for leaf in fsio.glob(spark, fsio.join(data_dir, seg,
                                               "pt=*/*.parquet")):
            vs = [r["v"] for r in spark.read.parquet(leaf)
                  .select("v").collect()]
            assert vs == sorted(vs), (seg, leaf, vs)
    want = _read_sorted(t, spark)
    t.upsert(rows=_rows(spark, [(1, "zz")]))
    assert t.compact_deltas(spark) == 2
    assert t.manifest(spark).get("sort_col") == "v"
    assert t.compact(spark) == 2
    assert t.manifest(spark).get("sort_col") == "v"
    got = dict(_read_sorted(t, spark))
    assert got[1] == "zz" and len(got) == len(dict(want))


@pytest.mark.slow
def test_compact_deltas_above_broadcast_gate_unhinted(spark, be, monkeypatch):
    """A merged delta past BROADCAST_MAX_DELTA_ROWS must still fold
    correctly — the latest-mention resolution just runs unhinted (same
    size gate as the read path, same rationale: never force-broadcast
    a bulk-sized key set)."""
    t = MergeOnReadTable(be, "mc6", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(8)]))
    t.upsert(rows=_rows(spark, [(1, "A"), (9, "w")]))
    t.upsert(rows=_rows(spark, [(1, "B")]),
             tombstone_keys=_rows(spark, [(2, None)]).select("k", "pt"))
    want = _read_sorted(t, spark)
    monkeypatch.setattr(MergeOnReadTable, "BROADCAST_MAX_DELTA_ROWS", 1)
    assert t.compact_deltas(spark) == 2
    assert len(t.segments(spark)) == 2
    assert _read_sorted(t, spark) == want
    assert (1, "B") in want and all(k != 2 for k, _ in want)


@pytest.mark.slow
def test_vacuum_reclaims_minor_folded_deltas(spark, be):
    """The delta segments a minor fold superseded are unreferenced by
    the retained manifest and must be reclaimed by vacuum; the base and
    the merged delta survive."""
    t = MergeOnReadTable(be, "mc7", key="k", partition_cols=["pt"])
    t.overwrite(_rows(spark, [(i, f"v{i}") for i in range(16)]))
    for i in range(3):
        t.upsert(rows=_rows(spark, [(i, f"u{i}")]))
    folded = t.segments(spark)[1:]
    assert t.compact_deltas(spark) == 3
    keep = set(t.segments(spark))
    want = _read_sorted(t, spark)
    reclaimed = set(be.vacuum(spark, keep_last=1, min_age_seconds=0))
    assert set(folded) <= reclaimed
    assert not keep & reclaimed
    assert _read_sorted(t, spark) == want
