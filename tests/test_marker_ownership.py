"""Owner-aware write-ahead-marker settlement (r11).

These pin the three concurrency holes the r10 review found in the
marker protocol shared by the token index and the deleted summary:

1. cross-writer premature settle — a replay that merely observes NEW
   segments past a foreign marker's base must not remove it: the
   segments may all be OTHER writers' commits while the marker's own
   batch is still a segment-upload in flight.  Settlement needs the
   owner's post-CAS ``committed`` stamp (or grace expiry).
2. the same rule after full rebuilds, via the settlement SNAPSHOT
   taken before the derivation read (``_settleable_markers`` — covered
   by test_store.test_full_rebuild_keeps_markers_* and the
   stamp-lands-mid-build test below).
3. the build-vs-append TOCTOU — a writer whose existence re-check ran
   before a concurrent build's overwrite landed writes no fold of its
   own; the build's derivation read may predate the writer's append.
   The r11 closer: markers are written unconditionally and builds fold
   the tail of segments that landed between their derivation read and
   their overwrite.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dlx_spark import schemas
from dlx_spark.marc import Auth, Bib
from dlx_spark.marc import dataframe as mdf
from dlx_spark.marc.store import MarcStore


def _names(markers):
    import os
    return {os.path.basename(m) for m in markers}


def _base(path):
    import os
    return os.path.basename(path)

T0 = datetime(2026, 1, 1, 12, 0, 0)
T1 = datetime(2026, 1, 2, 12, 0, 0)


@pytest.fixture
def store(spark, tmp_path, auth_docs, bib_docs):
    st = MarcStore(spark, str(tmp_path / "warehouse"))
    st.commit([Auth(d) for d in auth_docs], user="seeder", now=T0)
    idx = st.auth_index()
    st.commit([Bib(d, auth_index=idx) for d in bib_docs],
              user="seeder", now=T0)
    return st


def _history_delete_rows(store, rid: int, version: int):
    """The history rows a ``delete(rid)`` would append — used to land a
    'foreign writer's' batch directly at the backend, simulating a
    writer that crashed between its history CAS and its summary fold."""
    action = {"type": "delete", "user": "crashed", "time": T1}
    rows = [{
        "record_id": rid, "version": version, "doc": None,
        "created_user": None, "created_time": None,
        "deleted_user": "crashed", "deleted_time": T1,
        "restored_user": None, "restored_time": None,
        "actions": [action], "merged_into": None, "merged_time": None,
    }]
    manifest = store.backend.latest_manifest(store.spark, "bib_history")
    mod = int((manifest.get("extra") or {}).get("n_buckets")
              or store.HISTORY_BUCKETS)
    return (store.spark.createDataFrame(rows, schema=schemas.HISTORY)
            .withColumn("pt", F.pmod(F.col("record_id"),
                                     F.lit(mod)).cast("int")), mod)


@pytest.mark.slow
def test_foreign_summary_marker_survives_concurrent_writers_replay(store):
    """r10 ADVICE (high): writer B's marker, written before B's history
    append lands, must survive writer A's inline replay even though A's
    own segment landed past B's base — and B's batch must still reach
    the summary after B crashes post-CAS."""
    store.build_deleted_summary("bib")
    base_b = list(store.backend.latest_manifest(
        store.spark, "bib_history")["segments"])
    # B: marker down, append still in flight
    m_b = store._write_marker_for("bib_deleted", {"base_segments": base_b})

    # A: a complete delete — history append + inline replay at the
    # choke point every history write passes through
    store.delete("bib", 2, user="a", now=T1)
    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]
    # the pre-r11 rule settled B's marker here (gap = A's segment);
    # B's batch would then be lost if B crashed after its CAS
    assert _base(m_b) in _names(store._markers_for("bib_deleted"))

    # B's append lands; B stamps committed, then dies before its fold
    hist, mod = _history_delete_rows(store, rid=1, version=2)
    store.backend.append(hist, "bib_history", partition_cols=["pt"],
                         extra={"n_buckets": mod})
    store._mark_marker_committed(m_b)

    # the next read replays B's marker: folds B's batch, settles it
    got = sorted(r.record_id for r in store.find_deleted("bib").collect())
    assert got == [1, 2]
    assert _base(m_b) not in _names(store._markers_for("bib_deleted"))


@pytest.mark.slow
def test_foreign_token_marker_survives_concurrent_commit(store):
    """Same hole in the token index: a search-triggered replay racing
    writer B's in-flight commit must not settle B's marker on the
    strength of writer A's segment — and must fold B's batch once B's
    CAS provably landed (B crashed before its own refresh)."""
    store.build_search_index("bib")
    live = store._live("bib")
    base_b = live.segments(store.spark)
    m_b = store._write_dirty_marker("bib", {"base_segments": base_b})

    # A: a full commit (its own marker dance settles A's marker)
    rec = store.get("bib", 2)
    rec.set("245", "a", "Rewritten by A", auth_control=False)
    store.commit([rec], user="a", now=T1)

    # a search replays pending markers; B's must survive (uncommitted)
    assert [r["_id"] for r in
            store.search("bib", "245__a:rewritten").collect()] == [2]
    assert _base(m_b) in _names(store._markers_for("bibs_tokens"))

    # B's commit lands as a tombstone of bib 1; committed stamp; crash
    # before B's index refresh
    n = store.n_buckets("bib")
    live.upsert(tombstone_keys=store.spark.createDataFrame(
        [(1, 1 % n)], "_id long, pt int"))
    store._mark_marker_committed(m_b)
    store._invalidate_query_contexts()

    # replay folds B's tombstone into the index and settles the marker:
    # bib 1's old title must no longer match
    assert store.search("bib", "245__a:this").count() == 0
    assert _base(m_b) not in _names(store._markers_for("bibs_tokens"))


def test_summary_build_race_covers_append_via_tail_fold(store):
    """r10 ADVICE (medium, TOCTOU): a writer whose summary-existence
    re-check ran before the build's overwrite landed folds nothing; if
    the build's history read predates the writer's append, the batch
    used to vanish with no marker to replay.  The build's post-overwrite
    tail fold now covers it.  This replicates build_deleted_summary's
    body with a derivation read forced stale."""
    # builder: settlement snapshot, then derivation read (manifest +
    # aggregate input pinned here) — build_deleted_summary's opening
    hist_name = "bib_history"
    settleable = store._settleable_markers("bib_deleted")
    derived_from = list(store.backend.latest_manifest(
        store.spark, hist_name)["segments"])
    stale_hist = store.history_df("bib")        # manifest pinned eagerly

    # writer: full delete; NO summary exists at its re-check, so it
    # folds nothing and settles its own marker
    store.delete("bib", 2, user="w", now=T1)
    assert not store._markers_for("bib_deleted")

    # builder resumes: overwrite from the stale read, then the r11 tail
    # fold + snapshot-settled clearing — exactly build_deleted_summary's
    # tail
    store._deleted_summary("bib").overwrite(
        store._currently_deleted(store._latest_action(stale_hist)))
    store._fold_history_tail("bib", derived_from)
    store._remove_markers(settleable)

    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]


@pytest.mark.slow
def test_token_build_race_covers_commit_via_tail_fold(store):
    """Token-index variant of the build TOCTOU: a commit that lands
    between the build's derivation read and its overwrite re-checks
    index existence BEFORE the overwrite commits, so it skips its own
    refresh — the build's tail fold must cover the batch."""
    live = store._live("bib")
    settleable = store._settleable_markers("bibs_tokens")
    derived_from = live.segments(store.spark)
    stale_rows = mdf.subfield_token_rows(store.table("bib"), "bib",
                                         headings=store.headings())

    # writer: commits while the build is 'running'; no index exists at
    # its post-CAS re-check, so it refreshes nothing and settles itself
    rec = store.get("bib", 1)
    rec.set("245", "a", "Freshly committed title", auth_control=False)
    store.commit([rec], user="w", now=T1)
    assert not store._markers_for("bibs_tokens")

    # builder resumes with the stale derivation — build_search_index's
    # body: overwrite, tail fold, snapshot-settled clear
    store._tokens("bib").overwrite(stale_rows)
    store._fold_token_tail("bib", derived_from)
    store._remove_markers(settleable)
    store._invalidate_query_contexts()

    assert [r["_id"] for r in
            store.search("bib", "245__a:freshly").collect()] == [1]
    assert store.search("bib", "245__a:this").count() == 0


@pytest.mark.slow
def test_stamp_landing_mid_build_does_not_settle_marker(store, monkeypatch):
    """r11.2: writer B's commit + ``committed`` stamp land BETWEEN the
    build's tail fold and its marker settlement.  A settle-time stamp
    check would remove B's marker even though neither the build's
    derivation nor its tail fold saw B's segment — B crashing before
    its own refresh then leaves the index silently stale.  The
    settlement snapshot (taken before the derivation read) must keep
    B's marker, and the next replay must fold B's batch."""
    store.build_search_index("bib")
    live = store._live("bib")
    m_b = store._write_dirty_marker(
        "bib", {"base_segments": live.segments(store.spark)})

    orig_fold = MarcStore._fold_token_tail
    n = store.n_buckets("bib")

    def fold_then_b_lands(self, record_type, base_segments):
        orig_fold(self, record_type, base_segments)
        # B's CAS lands as a tombstone of bib 1 AFTER the fold's
        # manifest read; B stamps committed, then crashes before its
        # own index refresh
        live.upsert(tombstone_keys=store.spark.createDataFrame(
            [(1, 1 % n)], "_id long, pt int"))
        store._mark_marker_committed(m_b)
        monkeypatch.setattr(MarcStore, "_fold_token_tail", orig_fold)

    monkeypatch.setattr(MarcStore, "_fold_token_tail", fold_then_b_lands)
    store.build_search_index("bib")
    # B's marker must survive: its batch is NOT in the rebuilt index
    assert _base(m_b) in _names(store._markers_for("bibs_tokens"))
    store._invalidate_query_contexts()

    # the next search replays B's marker (committed as of the scan):
    # folds the tombstone, settles the marker, serves correct results
    assert store.search("bib", "245__a:this").count() == 0
    assert _base(m_b) not in _names(store._markers_for("bibs_tokens"))


@pytest.mark.slow
def test_heading_staleness_marker_settled_by_rebuild(store):
    """A ``full`` heading-staleness marker is stamped committed once
    its auth commit lands, so the search-triggered rebuild both serves
    fresh results AND settles the flag (an uncommitted flag — auth
    commit still in flight — would survive for the next replay)."""
    store.build_search_index("bib")
    a = store.get("auth", 1)
    a.set("100", "a", "Renamed heading")
    store.commit([a], user="e", now=T1, update_attached=False)
    markers = store._dirty_markers("bib")
    assert markers, "heading change without propagation must flag the index"
    # the flag was stamped committed right after the auth upsert
    import json
    from dlx_spark import fsio
    payload = json.loads(fsio.read_text(store.spark, markers[0]))
    assert payload.get("committed") is True
    # the next search rebuilds AND settles the flag
    assert sorted(r["_id"] for r in
                  store.search("bib", "650__a:renamed").collect()) == [1, 2]
    assert store._dirty_markers("bib") == []


def test_grace_period_constructor_override(spark, tmp_path):
    st = MarcStore(spark, str(tmp_path / "w"), marker_grace_seconds=7200.0)
    assert st.MARKER_INFLIGHT_GRACE_SECONDS == 7200.0
    # class default untouched
    assert MarcStore.MARKER_INFLIGHT_GRACE_SECONDS == 3600.0


@pytest.mark.slow
def test_heading_marker_is_targeted_not_full(store, monkeypatch):
    """r11 (VERDICT task 3): a non-propagating heading change writes a
    TARGETED marker (the changed auth ids) and replay refreshes only
    the attached records — the wholesale rebuild (pre-r11 ``full``
    marker) must not run.  Pinned by making build_search_index raise:
    the search below succeeds only through the targeted path."""
    import json

    from dlx_spark import fsio

    store.build_search_index("bib")
    a = store.get("auth", 1)
    a.set("150", "a", "Precise rename", auth_control=False)
    store.commit([a], user="e", now=T1, update_attached=False)

    markers = store._dirty_markers("bib")
    assert markers
    payload = json.loads(fsio.read_text(store.spark, markers[0]))
    assert payload.get("heading_xrefs") == [1]
    assert "full" not in payload
    assert payload.get("committed") is True

    def boom(self, record_type):
        raise AssertionError("targeted replay must not rebuild wholesale")

    monkeypatch.setattr(MarcStore, "build_search_index", boom)
    assert sorted(r["_id"] for r in
                  store.search("bib", "650__a:precise").collect()) == [1, 2]
    assert store.search("bib", "650__a:header").count() == 0
    assert store._dirty_markers("bib") == []


@pytest.mark.slow
def test_heading_marker_over_cap_degrades_to_full(store):
    """Past HEADING_MARKER_MAX_XREFS the changed-id list would bloat
    the marker and the targeted refresh approaches a rebuild anyway —
    the payload degrades to ``full`` (replay rebuilds wholesale)."""
    import json

    from dlx_spark import fsio

    store.build_search_index("bib")
    store.HEADING_MARKER_MAX_XREFS = 0
    a = store.get("auth", 1)
    a.set("150", "a", "Bulk-scale rename", auth_control=False)
    store.commit([a], user="e", now=T1, update_attached=False)
    markers = store._dirty_markers("bib")
    assert markers
    payload = json.loads(fsio.read_text(store.spark, markers[0]))
    assert payload.get("full") is True
    assert sorted(r["_id"] for r in
                  store.search("bib", "650__a:bulk").collect()) == [1, 2]
    assert store._dirty_markers("bib") == []


@pytest.mark.slow
def test_failed_auth_upsert_settles_heading_flags(store, monkeypatch):
    """A heading-staleness flag whose auth upsert RAISED must not haunt
    every subsequent search until grace expiry: the commit path stamps
    it committed (correct whether or not the CAS actually landed — see
    commit()'s rationale), so the next replay refreshes once (a no-op
    when the change never landed) and settles it."""
    store.build_search_index("bib")
    a = store.get("auth", 1)
    a.set("150", "a", "Doomed rename", auth_control=False)

    orig = MarcStore._upsert

    def boom(self, record_type, rows=None, removed_ids=(), *, batch_max):
        raise RuntimeError("injected upsert failure")

    monkeypatch.setattr(MarcStore, "_upsert", boom)
    with pytest.raises(RuntimeError, match="injected"):
        store.commit([a], user="e", now=T1, update_attached=False)
    monkeypatch.setattr(MarcStore, "_upsert", orig)

    markers = store._dirty_markers("bib")
    assert markers     # flag written before the failed upsert
    # one search settles it (refresh is a no-op: headings unchanged)
    assert store.search("bib", "650__a:header").count() == 2
    assert store._dirty_markers("bib") == []
    # and the failed rename is NOT searchable (it never landed)
    assert store.search("bib", "650__a:doomed").count() == 0
