"""Write-path tests: commit/history/delete/restore/merge/propagation
(reference tests/test_marc.py:79-242, 977-1053 patterns)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dlx_spark.marc import Auth, AuthInUse, Bib
from dlx_spark.marc.store import MarcStore

T0 = datetime(2026, 1, 1, 12, 0, 0)
T1 = datetime(2026, 1, 2, 12, 0, 0)
T2 = datetime(2026, 1, 3, 12, 0, 0)


@pytest.fixture
def store(spark, tmp_path, auth_docs, bib_docs):
    st = MarcStore(spark, str(tmp_path / "warehouse"))
    auths = [Auth(d) for d in auth_docs]
    st.commit(auths, user="seeder", now=T0)
    idx = st.auth_index()
    bibs = [Bib(d, auth_index=idx) for d in bib_docs]
    st.commit(bibs, user="seeder", now=T0)
    return st


def test_commit_and_read_back(store):
    assert store.bibs().count() == 2
    assert store.auths().count() == 2
    bib1 = store.get("bib", 1)
    assert bib1.get_value("245", "a") == "This"
    assert bib1.get_value("650", "a") == "Header"
    assert bib1.created == T0 and bib1.created_user == "seeder"
    # derived columns persisted
    row = store.bibs().filter(F.col("_id") == 1).first()
    assert "titl" in row["words"]
    assert list(row["main_title"]) == ["This"]


@pytest.mark.slow
def test_id_assignment(store):
    rec = Bib().set("245", "a", "New record", auth_control=False)
    ids = store.commit([rec], user="u2", now=T1)
    assert ids == [3]  # max(_id)=2 -> 3
    rec2 = Bib().set("245", "a", "Another new", auth_control=False)
    assert store.commit([rec2], now=T1) == [4]


@pytest.mark.slow
def test_audit_preserved_on_update(store):
    bib1 = store.get("bib", 1)
    bib1.set("245", "a", "Changed title", auth_control=False)
    store.commit([bib1], user="editor", now=T1)
    back = store.get("bib", 1)
    assert back.get_value("245", "a") == "Changed title"
    assert back.created == T0 and back.created_user == "seeder"
    assert back.updated == T1 and back.user == "editor"
    # untouched records unaffected by the bucketed rewrite
    assert store.get("bib", 2).get_value("245", "a") == "Another"


def test_history_versions(store):
    bib1 = store.get("bib", 1)
    bib1.set("245", "a", "v2", auth_control=False)
    store.commit([bib1], user="editor", now=T1)
    versions = store.history("bib", 1)
    assert len(versions) == 2
    assert versions[0].get_value("245", "a") == "This"
    assert versions[1].get_value("245", "a") == "v2"


def test_auth_validation(store):
    idx = store.auth_index()
    bad = Bib(auth_index=idx)
    bad.fields.append(
        __import__("dlx_spark.marc.record", fromlist=["Datafield"]).Datafield(
            "650", " ", " ",
            [__import__("dlx_spark.marc.record", fromlist=["Linked"]).Linked("a", 99)],
            "bib"))
    with pytest.raises(Exception, match="xref"):
        store.commit([bad], now=T1)


@pytest.mark.slow
def test_delete_restore(store):
    store.delete("bib", 2, user="deleter", now=T1)
    assert store.bibs().count() == 1
    assert store.get("bib", 2) is None
    deleted = store.find_deleted("bib").collect()
    assert [r.record_id for r in deleted] == [2]

    restored = store.restore("bib", 2, user="restorer", now=T2)
    assert restored.get_value("245", "a") == "Another"
    assert store.bibs().count() == 2
    assert store.find_deleted("bib").count() == 0


def test_auth_in_use_guard(store):
    with pytest.raises(AuthInUse):
        store.delete("auth", 1, now=T1)  # referenced by both bibs


@pytest.mark.slow
def test_new_id_not_reused_after_delete(store):
    store.delete("bib", 2, user="u", now=T1)
    rec = Bib().set("245", "a", "Fresh", auth_control=False)
    # id 2 lives in history -> next id is 3, not 2
    assert store.commit([rec], now=T2) == [3]


@pytest.mark.slow
def test_merge(store):
    # make auth 3 with same-ish heading, attach to bib 1 via 651
    a3 = Auth({"_id": 3, "151": [{"indicators": [" ", " "],
                                  "subfields": [{"code": "a", "value": "Place name"}]}]})
    store.commit([a3], now=T0)
    a4 = Auth({"_id": 4, "151": [{"indicators": [" ", " "],
                                  "subfields": [{"code": "a", "value": "Place name variant"}]}]})
    store.commit([a4], now=T0)
    idx = store.auth_index()
    bib1 = store.get("bib", 1)
    bib1.set("651", "a", 4)
    store.commit([bib1], now=T1)

    store.merge(gaining_id=3, losing_id=4, user="merger", now=T2)
    back = store.get("bib", 1)
    assert back.get_xref("651", "a") == 3
    assert store.get("auth", 4) is None
    assert store.get("auth", 3) is not None


@pytest.mark.slow
def test_heading_change_propagation(store):
    # change auth 1's heading; bibs 1+2 reference it via 650
    a1 = store.get("auth", 1)
    a1.set("150", "a", "Renamed header", auth_control=False)
    store.commit([a1], user="editor", now=T1)

    bib1 = store.get("bib", 1)
    assert bib1.get_value("650", "a") == "Renamed header"
    # cached value in the stored row is refreshed too
    row = store.bibs().filter(F.col("_id") == 1).first()
    sub = [s for f in row["datafields"] if f["tag"] == "650" for s in f["subfields"]][0]
    assert sub["value"] == "Renamed header"
    # derived search/logical columns refreshed
    assert "renam" in list(row["words"])
    assert list(row["subject"]) == ["Renamed header"]
    # propagation stamped the attached record
    assert row["updated"] == T1


@pytest.mark.slow
def test_auth_cycle_propagation_terminates(store):
    """Auth→auth heading propagation with a CYCLE (A 550→B, B 550→A):
    one heading edit recommits the attached auth exactly once and
    terminates — the engine's structural analog of the reference's
    feedback guard (dlx/marc/__init__.py:1162-1165; here commit_frame
    never propagates, so recursion cannot occur by construction).
    Depth-2 stop: a bib attached to the MID auth is NOT recommitted —
    its cached 650 value denormalizes the mid's own heading, which did
    not change.  Measured at 100k attached records by
    tools/marc_bench.py --cascade."""
    from dlx_spark.marc.record import Datafield, Linked, Literal
    from dlx_spark.marc import Auth as _Auth, Bib as _Bib
    a3 = _Auth().set("150", "a", "Topic three", auth_control=False)
    a4 = _Auth().set("150", "a", "Topic four", auth_control=False)
    store.commit([a3, a4], user="seeder", now=T1)
    a3, a4 = store.get("auth", 3), store.get("auth", 4)
    a3.fields.append(Datafield("550", " ", " ", [Linked("a", 4)], "auth"))
    a4.fields.append(Datafield("550", " ", " ", [Linked("a", 3)], "auth"))
    store.commit([a3, a4], user="seeder", now=T1)
    b = _Bib()
    b.fields.append(Datafield("245", " ", " ",
                              [Literal("a", "Mid-linked bib")], "bib"))
    b.fields.append(Datafield("650", " ", " ", [Linked("a", 4)], "bib"))
    bib_id = store.commit([b], user="seeder", now=T1)[0]

    a3 = store.get("auth", 3)
    a3.set("150", "a", "Topic three renamed", auth_control=False)
    store.commit([a3], user="editor", now=T2)   # must terminate

    a4 = store.get("auth", 4)
    assert a4.get_value("550", "a") == "Topic three renamed"
    assert a4.get_value("150", "a") == "Topic four"     # heading untouched
    a3 = store.get("auth", 3)
    assert a3.get_value("550", "a") == "Topic four"     # cycle edge intact
    # depth-2 stop: the bib hanging off the mid auth was not recommitted
    row = store.bibs().filter(F.col("_id") == bib_id).first()
    assert row["updated"] == T1
    assert len(store.history(("bib"), bib_id)) == 1


@pytest.mark.slow
def test_commit_frame_bulk_ingest_distributed(spark, tmp_path):
    """Bulk-ingest scale check (VERDICT r01 #7): a 10k-record frame
    commits end-to-end through commit_frame — id assignment, audit
    stamps, derive, history, upsert — with no record rows materialized
    on the driver (the only collects inside are per-partition counts and
    scalar maxima).  Also covers upsert-over-existing in a second wave."""
    from pyspark.sql import functions as F

    from dlx_spark import schemas
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_bulk"))
    n = 10_000

    # build the frame distributed: no driver-side record list
    base = spark.range(n).select(
        F.lit(None).cast("long").alias("_id"),
        F.lit(None).cast("string").alias("leader"),
        F.lit(None).cast(schemas.MARC["controlfields"].dataType).alias("controlfields"),
        F.array(F.struct(
            F.lit("245").alias("tag"), F.lit(" ").alias("ind1"), F.lit(" ").alias("ind2"),
            F.array(F.struct(F.lit("a").alias("code"),
                             F.concat(F.lit("Bulk title "), F.col("id")).alias("value"),
                             F.lit(None).cast("long").alias("xref"))).alias("subfields"),
        )).alias("datafields"),
        F.lit(None).cast("timestamp").alias("created"),
        F.lit(None).cast("string").alias("created_user"),
        F.lit(None).cast("timestamp").alias("updated"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("string").alias("basket"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast(schemas.MARC["words"].dataType).alias("words"),
    )
    assert store.commit_frame(base, record_type="bib", user="bulk",
                              auth_check=False) == n
    bibs = store.bibs()
    assert bibs.count() == n
    assert bibs.agg(F.min("_id"), F.max("_id")).first() == (1, n)
    assert bibs.filter(F.col("text").contains("bulk title")).count() == n
    assert store.history_df("bib").count() == n

    # second wave: re-commit 1k of them (upsert) plus 500 new
    wave2 = (bibs.filter(F.col("_id") <= 1000)
             .unionByName(base.limit(500), allowMissingColumns=True))
    assert store.commit_frame(wave2, record_type="bib", user="bulk2",
                              auth_check=False) == 1500
    assert store.bibs().count() == n + 500
    hist = store.history_df("bib")
    assert hist.count() == n + 1500
    assert hist.filter(F.col("version") == 2).count() == 1000


def test_get_record_serializes_without_copying_the_session(store):
    """``store.get`` hands records the LAZY auth-index proxy; the
    deep copy inside serialization (``to_mrk``/``to_mrc``) must treat
    the proxy as a shared lookup service — walking it into the store
    drags the SparkSession through deepcopy (SPARK-5063).  The over-cap
    OnDemandAuthIndex path was covered; this pins the UNDER-cap path
    (plain driver AuthIndex behind the proxy), where the deepcopy probe
    previously fell through to a full structural copy."""
    import copy

    rec = store.get("bib", 1)
    out = rec.to_mrk()
    assert "=001  1" in out
    clone = copy.deepcopy(rec)
    assert clone.id == rec.id

    def proxies(r):
        return [s._auth_index for f in r.datafields
                for s in getattr(f, "subfields", [])
                if getattr(s, "_auth_index", None) is not None]

    # the proxy is shared, not copied (lookup service, not record state)
    assert proxies(rec), "fixture must carry a linked subfield"
    for a, b in zip(proxies(rec), proxies(clone)):
        assert a is b


def test_get_prunes_to_one_bucket(store):
    """Point reads must filter on the pt partition column so the scan
    prunes to 1/N of the table's partition directories — through the
    merge-on-read resolution (base AND delta scans pruned)."""
    rec = store.get("bib", 1)
    assert rec is not None and rec.id == 1
    # plan-level: the partition filter must appear in a pruned read
    from pyspark.sql import functions as F
    df = (store._raw("bib")
          .filter((F.col("pt") == 1 % store.n_buckets("bib"))
                  & (F.col("_id") == 1)))
    plan = df._jdf.queryExecution().executedPlan().toString().replace("\n", " ")
    assert "PartitionFilters" in plan and "pt" in plan.split("PartitionFilters")[1][:80]


@pytest.mark.slow
def test_compact_folds_segments(spark, tmp_path):
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_compact"))
    # several commits -> several merge-on-read delta segments
    for wave in range(3):
        recs = [Bib({"245": [{"indicators": [" ", " "],
                              "subfields": [{"code": "a", "value": f"w{wave} r{i}"}]}]})
                for i in range(8)]
        store.commit(recs, auth_check=False)
    before = len(store._live("bib").segments(spark))
    assert before == 3
    n_before = store.bibs().count()
    store.compact("bib")
    assert len(store._live("bib").segments(spark)) == 1
    assert store.bibs().count() == n_before == 24
    # content unchanged
    assert store.get("bib", 1).get_value("245", "a") == "w0 r0"
    # history folded too (one segment per commit before the fold)
    assert len(store.backend.latest_manifest(spark,
                                             "bib_history")["segments"]) == 1
    assert store.history_df("bib").count() == 24


@pytest.mark.slow
def test_compact_minor_folds_deltas_only(spark, tmp_path):
    """``compact(minor=True)``: the live table's delta segments fold
    into one merged delta while the base segment survives by id —
    O(batches) maintenance, never a rewrite of the store — with search,
    point reads, and deletions (tombstones survive the fold) intact."""
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_minor"))
    for wave in range(3):
        recs = [Bib({"245": [{"indicators": [" ", " "],
                              "subfields": [{"code": "a",
                                             "value": f"w{wave} r{i}"}]}]})
                for i in range(8)]
        store.commit(recs, auth_check=False)
    store.delete("bib", 1, user="gc")
    base_seg = store._live("bib").segments(spark)[0]
    assert len(store._live("bib").segments(spark)) >= 4
    n_before = store.bibs().count()
    store.compact("bib", minor=True)
    segs = store._live("bib").segments(spark)
    assert len(segs) == 2 and segs[0] == base_seg
    assert store.bibs().count() == n_before == 23
    assert store.get("bib", 1) is None             # tombstone survived
    assert store.get("bib", 2).get_value("245", "a") == "w0 r1"
    # a later full fold still resolves to the same store
    store.compact("bib")
    assert len(store._live("bib").segments(spark)) == 1
    assert store.bibs().count() == 23


@pytest.mark.slow
def test_commit_frame_distributed_auth_check(spark, tmp_path, auth_docs):
    """commit_frame's join-based auth validation: a frame with an xref
    that no auth satisfies must raise InvalidAuthXref; valid xrefs pass
    and resolve their heading values at derive time."""
    from dlx_spark.marc.record import InvalidAuthXref
    from dlx_spark.marc import Auth

    store = MarcStore(spark, str(tmp_path / "wh_authchk"))
    store.commit([Auth(d) for d in auth_docs], user="seed", now=T0)

    def frame(xref):
        return spark.createDataFrame([{
            "_id": None,
            "datafields": [{"tag": "650", "ind1": " ", "ind2": " ",
                            "subfields": [{"code": "a", "value": None, "xref": xref}]}],
        }], schema=__import__("dlx_spark.schemas", fromlist=["MARC_INGEST"]).MARC_INGEST)

    with pytest.raises(InvalidAuthXref):
        store.commit_frame(frame(99), record_type="bib", user="u")

    assert store.commit_frame(frame(1), record_type="bib", user="u") == 1
    row = store.bibs().first()    # bib ids count separately from auths -> id 1
    sub = [s for f in row["datafields"] if f["tag"] == "650" for s in f["subfields"]][0]
    assert sub["value"] == "Header" and sub["xref"] == 1


def test_history_log_takes_the_suffix_fold(spark, tmp_path, monkeypatch):
    """The history log only grows (one segment per commit), and its
    first segment is the bulk of it: the inline fold must rewrite only
    the appended suffix, keeping segment 0 by id, under the same
    segment bound and with per-record history unchanged."""
    from dlx_spark import schemas
    from dlx_spark.tableio_versioned import VersionedTableBackend

    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    store = MarcStore(spark, str(tmp_path / "wh_hist_fold"))
    frame = spark.range(50).select(
        F.lit(None).cast("long").alias("_id"),
        F.lit(None).cast("string").alias("leader"),
        F.lit(None).cast(schemas.MARC["controlfields"].dataType)
        .alias("controlfields"),
        F.array(F.struct(
            F.lit("245").alias("tag"), F.lit(" ").alias("ind1"),
            F.lit(" ").alias("ind2"),
            F.array(F.struct(
                F.lit("a").alias("code"),
                F.concat(F.lit("Title "), F.col("id")).alias("value"),
                F.lit(None).cast("long").alias("xref"))).alias("subfields"),
        )).alias("datafields"),
        *[F.lit(None).cast(schemas.MARC[c].dataType).alias(c)
          for c in ("created", "created_user", "updated", "user",
                    "basket", "text", "words")])
    assert store.commit_frame(frame, record_type="bib", user="bulk",
                              auth_check=False, now=T0) == 50

    def segments():
        return store.backend.latest_manifest(spark, "bib_history")["segments"]

    base = segments()[0]
    before = [v.get_value("245", "a") for v in store.history("bib", 7)]
    counts = []
    for i in range(3):
        rec = Bib().set("245", "a", f"one {i}", auth_control=False)
        store.commit([rec], user="u", now=T1)
        counts.append(len(segments()))
        assert segments()[0] == base
    # without a fold the log would hold 4 segments by now
    assert max(counts) <= 3 and counts[-1] == 2
    assert [v.get_value("245", "a")
            for v in store.history("bib", 7)] == before
    assert store.history_df("bib").count() == 53


@pytest.mark.slow
def test_commit_frame_small_batch_is_o_batch(spark, tmp_path):
    """A small commit_frame batch must land as ONE appended delta
    segment, leaving every existing live-table data file untouched —
    the merge-on-read contract that keeps a 1% batch O(batch), not
    O(store) (the old bucket-rewrite layout made a 10k upsert into a 1M
    store rewrite every bucket)."""
    import glob
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_buckets"))
    recs = [Bib({"_id": i, "245": [{"indicators": [" ", " "],
                                    "subfields": [{"code": "a", "value": f"r{i}"}]}]})
            for i in range(1, 33)]          # covers every bucket
    store.commit(recs, auth_check=False)

    def live_files():
        out = set()
        for seg in store._live("bib").segments(spark):
            out.update(glob.glob(str(
                tmp_path / "wh_buckets" / "_v" / "data" / seg / "**" /
                "*.parquet"), recursive=True))
        return out

    before = live_files()
    segs_before = store._live("bib").segments(spark)
    # touch only _id=1 through the frame path
    one = store.bibs().filter(F.col("_id") == 1)
    assert store.commit_frame(one, record_type="bib", user="u2",
                              auth_check=False) == 1
    after = live_files()
    segs_after = store._live("bib").segments(spark)
    assert before <= after, "existing live files were rewritten"
    assert len(segs_after) == len(segs_before) + 1   # one delta segment
    assert store.bibs().count() == 32
    # and the batch's row won (merge-on-read precedence)
    assert store.get("bib", 1).updated is not None


def test_auth_index_degrades_gracefully_above_cap(store, monkeypatch):
    """Above AUTH_INDEX_MAX_ROWS the driver-side facade cache must not
    materialize a multi-GB dict (round-2 verdict item #3) — and since
    r11 it degrades to on-demand Spark lookups with a warning instead
    of refusing record-API reads outright (VERDICT r10 task 4)."""
    from dlx_spark.marc.store import OnDemandAuthIndex

    store._invalidate_auth_index()
    # force the fallback on the real (2-row) store: cap below it
    monkeypatch.setattr(MarcStore, "AUTH_INDEX_MAX_ROWS", 1)
    with pytest.warns(UserWarning, match="on-demand"):
        idx = store.auth_index()
    assert isinstance(idx, OnDemandAuthIndex)
    assert idx is store.auth_index()     # memoized (no repeat warning)
    # the full record-API surface works through it, uncached:
    assert idx.lookup(1, "a") == "Header"
    assert idx.exists(1) and not idx.exists(999)
    assert idx.xlookup("150", "a", "Header") == [1]
    assert idx.xlookup_multi("150", [("a", "Header")]) == [1]
    # get + serialization (xref resolution) without a driver cache
    rec = store.get("bib", 1)
    assert rec.get_value("650", "a") == "Header"
    assert "Header" in rec.to_mrk()
    # enumerating the whole dimension is still refused (that IS the cliff)
    with pytest.raises(RuntimeError, match="O\\(dimension\\)"):
        idx.ids()

    # under the cap the memoized driver build still works, with the
    # capped probe (not a full count)
    monkeypatch.undo()
    store._invalidate_auth_index()
    big = MarcStore.AUTH_INDEX_MAX_ROWS + 1

    class FakeAuths:
        def limit(self, n):
            assert n == MarcStore.AUTH_INDEX_MAX_ROWS + 1
            return self

        def count(self):
            return big

        def toLocalIterator(self):  # pragma: no cover - must not be reached
            raise AssertionError("oversized dimension was materialized")

    monkeypatch.setattr(store, "auths", lambda: FakeAuths())
    with pytest.warns(UserWarning, match="on-demand"):
        assert isinstance(store.auth_index(), OnDemandAuthIndex)
    monkeypatch.undo()
    store._invalidate_auth_index()
    idx = store.auth_index()
    assert idx is store.auth_index()    # memoized
    assert not isinstance(idx, OnDemandAuthIndex)


@pytest.mark.slow
def test_commit_frame_accepts_intra_frame_auth_xrefs(spark, tmp_path):
    """An auth import whose records see-also-reference other auths in
    the SAME frame (5xx xrefs, the standard authority-file shape) must
    validate — the reference's sequential commit accepts these.  Xrefs
    to ids absent from both the store and the frame still raise."""
    from dlx_spark.marc.record import InvalidAuthXref
    from dlx_spark.schemas import MARC_INGEST

    store = MarcStore(spark, str(tmp_path / "wh_intrafile"))

    def auth_row(rid, heading, see_also_xref=None):
        fields = [{"tag": "100", "ind1": " ", "ind2": " ",
                   "subfields": [{"code": "a", "value": heading}]}]
        if see_also_xref is not None:
            fields.append({"tag": "500", "ind1": " ", "ind2": " ",
                           "subfields": [{"code": "a", "value": None,
                                          "xref": see_also_xref}]})
        return {"_id": rid, "datafields": fields}

    frame = spark.createDataFrame(
        [auth_row(1, "Alpha", see_also_xref=2),
         auth_row(2, "Beta", see_also_xref=1)], schema=MARC_INGEST)
    assert store.commit_frame(frame, record_type="auth", user="u") == 2
    assert store.auths().count() == 2

    dangling = spark.createDataFrame(
        [auth_row(3, "Gamma", see_also_xref=99)], schema=MARC_INGEST)
    with pytest.raises(InvalidAuthXref):
        store.commit_frame(dangling, record_type="auth", user="u")


# --- crash safety on the merge-on-read layout ---------------------------------


def _seed_plain(spark, tmp_path, name, n=8):
    st = MarcStore(spark, str(tmp_path / name))
    recs = [Bib().set("245", "a", f"Doc {i}", auth_control=False)
            for i in range(n)]
    st.commit(recs, user="u", now=T0)
    return st


@pytest.mark.slow
def test_crash_before_live_commit_leaves_store_untouched(
        spark, tmp_path, monkeypatch):
    """The commit point is ONE manifest publish: a crash anywhere before
    it leaves the live table exactly as it was (no torn buckets to
    repair — segments are immutable and invisible until committed), and
    re-running the commit succeeds."""
    from dlx_spark.tableio_versioned import VersionedTableBackend

    st = _seed_plain(spark, tmp_path, "wh_crash1")
    real = VersionedTableBackend._commit

    def boom(self, spark_, table, payload_fn):
        if table == "bibs":
            raise RuntimeError("crash before manifest publish")
        return real(self, spark_, table, payload_fn)
    monkeypatch.setattr(VersionedTableBackend, "_commit", boom)
    rec = st.get("bib", 1)
    rec.set("245", "a", "Changed title", auth_control=False)
    with pytest.raises(RuntimeError):
        st.commit([rec], user="u2", now=T1)
    monkeypatch.undo()

    st2 = MarcStore(spark, st.root)
    assert st2.bibs().count() == 8
    assert st2.get("bib", 1).get_value("245", "a") == "Doc 0"   # untouched
    rec = st2.get("bib", 1)
    rec.set("245", "a", "Changed title", auth_control=False)
    st2.commit([rec], user="u2", now=T1)                        # re-run lands
    assert st2.get("bib", 1).get_value("245", "a") == "Changed title"


def test_commit_after_failed_rebucket_survives_reopen(
        spark, tmp_path, monkeypatch):
    """A rebucket that fails before it publishes, then an acknowledged
    one-record commit, then a reopen: the commit is kept and the
    modulus stays the committed one.  (A staged-swap rebucket left a
    stage that the reopen published over the commit: 8 bibs, modulus
    32.)"""
    from dlx_spark.tableio_versioned import VersionedTableBackend

    st = _seed_plain(spark, tmp_path, "wh_rb_fail")
    real = VersionedTableBackend._commit

    def boom(self, spark_, table, payload_fn):
        if table == "bibs":
            raise RuntimeError("crash at the rebucket commit")
        return real(self, spark_, table, payload_fn)
    monkeypatch.setattr(VersionedTableBackend, "_commit", boom)
    with pytest.raises(RuntimeError, match="crash at the rebucket"):
        st.rebucket("bib", 32)
    monkeypatch.undo()
    st.commit([Bib().set("245", "a", "After", auth_control=False)],
              user="u", now=T1)

    st2 = MarcStore(spark, st.root)
    assert st2.bibs().count() == 9
    assert st2.n_buckets("bib") == 16


@pytest.mark.slow
def test_crash_mid_rebucket_leaves_store_untouched(spark, tmp_path,
                                                   monkeypatch):
    """A rebucket that crashes after writing its segment but before its
    one manifest commit has not happened: the next open finds the old
    modulus and data, and a re-run lands both together."""
    from dlx_spark.tableio_versioned import VersionedTableBackend

    st = _seed_plain(spark, tmp_path, "wh_crash2", n=16)
    assert st.n_buckets("bib") == 16
    real = VersionedTableBackend._commit

    def boom(self, spark_, table, payload_fn):
        if table == "bibs":
            raise RuntimeError("crash before the rewrite commit")
        return real(self, spark_, table, payload_fn)
    monkeypatch.setattr(VersionedTableBackend, "_commit", boom)
    with pytest.raises(RuntimeError):
        st.rebucket("bib", 32)
    monkeypatch.undo()

    st2 = MarcStore(spark, st.root)
    assert st2.bibs().count() == 16
    assert st2.n_buckets("bib") == 16         # nothing rolled forward
    st2.rebucket("bib", 32)
    assert st2.n_buckets("bib") == 32
    assert st2.get("bib", 1).get_value("245", "a") == "Doc 0"
    # point reads prune on the NEW modulus
    raw = st2._raw("bib").filter((F.col("pt") == 1 % 32) & (F.col("_id") == 1))
    assert raw.count() == 1


@pytest.mark.slow
def test_upsert_tombstones_ids(spark, tmp_path):
    """Multi-id removal through the live-commit step lands as
    tombstones in one delta segment; the resolved table never shows the
    ids again (including after a compaction folds the tombstones
    away)."""
    st = _seed_plain(spark, tmp_path, "wh_rm", n=32)
    st._upsert("bib", removed_ids=[1, 17, 2], batch_max=0)
    ids = sorted(r["_id"] for r in st.bibs().select("_id").collect())
    assert ids == sorted(set(range(1, 33)) - {1, 17, 2})
    st.compact("bib")
    ids = sorted(r["_id"] for r in st.bibs().select("_id").collect())
    assert ids == sorted(set(range(1, 33)) - {1, 17, 2})


@pytest.mark.slow
def test_warehouse_under_file_scheme_uri(spark, tmp_path, monkeypatch):
    """The whole store lifecycle — seed, upsert, index-marker recovery —
    must work when ``root`` is a ``file://``-scheme Hadoop URI rather
    than a driver-local path: every marker/manifest/segment operation
    goes through the Hadoop FileSystem API (dlx_spark.fsio / the
    versioned backend), not os/shutil (which would silently look at the
    driver's disk on hdfs:// or s3a:// roots)."""
    from dlx_spark import fsio

    root = "file://" + str(tmp_path / "wh_uri")
    st = MarcStore(spark, root)
    recs = [Bib().set("245", "a", f"Doc {i}", auth_control=False)
            for i in range(8)]
    st.commit(recs, user="u", now=T0)
    assert st.bibs().count() == 8
    st.build_search_index("bib")

    # crash between the live commit and the index refresh: the
    # write-ahead marker lands on the URI filesystem; the commit is
    # durable ('committed, index pending') and the reopen replays it
    def boom(self, record_type, new_df=None, removed_ids=None):
        raise RuntimeError("crash before index refresh")
    monkeypatch.setattr(MarcStore, "_refresh_tokens_for_batch", boom)
    rec = st.get("bib", 1)
    rec.set("245", "a", "Changed via URI", auth_control=False)
    with pytest.warns(UserWarning, match="index"):
        st.commit([rec], user="u2", now=T1)
    monkeypatch.undo()
    assert st._has_dirty_marker("bib")

    st2 = MarcStore(spark, root)              # recovery replays the marker
    assert st2.get("bib", 1).get_value("245", "a") == "Changed via URI"
    assert st2.bibs().count() == 8
    assert not st2._has_dirty_marker("bib")
    assert [r["_id"] for r in
            st2.search("bib", "245__a:changed").collect()] == [1]

    # and the plain-path spelling of the same directory sees the data
    st3 = MarcStore(spark, str(tmp_path / "wh_uri"))
    assert st3.bibs().count() == 8


@pytest.mark.slow
def test_deleted_summary_serves_find_deleted(store):
    """With build_deleted_summary, find_deleted reads the O(deleted set)
    summary table (plan-pinned: no history scan) and every transition —
    delete, restore, re-delete, straight recommit of a deleted id — is
    maintained O(batch) at the history choke point."""
    from dlx_spark import plans

    store.build_deleted_summary("bib")
    store.delete("bib", 2, user="d", now=T1)
    df = store.find_deleted("bib")
    plan = plans.simple_plan(df)
    assert "bib_deleted" in plan and "bib_history" not in plan, plan
    assert [(r.record_id, r.deleted_time) for r in df.collect()] == [(2, T1)]
    assert store.find_deleted("bib", date_from=T2).count() == 0
    assert store.find_deleted("bib", date_from=T0, date_to=T2).count() == 1
    assert list(store.deleted_by_date("bib", date_from=T0)) == [2]

    store.restore("bib", 2, user="r", now=T2)
    assert store.find_deleted("bib").count() == 0

    store.delete("bib", 2, user="d", now=T2)
    assert store.find_deleted("bib").count() == 1
    # recommitting the deleted id (no restore) also clears it: the
    # latest history action is then a plain commit
    rec = Bib().set("245", "a", "Back again", auth_control=False)
    rec.id = 2
    store.commit([rec], now=T2, auth_check=False)
    assert store.find_deleted("bib").count() == 0
    assert not store._markers_for("bib_deleted")   # all settled inline


@pytest.mark.slow
def test_deleted_summary_crash_replay_and_reopen(spark, tmp_path, store,
                                                 monkeypatch):
    """A refresh failure after the durable history append leaves the
    marker; the same in-process store replays it lazily on the next
    find_deleted, and a fresh store open replays it in _recover."""
    store.build_deleted_summary("bib")
    orig = MarcStore._refresh_deleted_summary
    monkeypatch.setattr(
        MarcStore, "_refresh_deleted_summary",
        lambda self, rt, rows: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.warns(UserWarning, match="deleted-summary refresh failed"):
        store.delete("bib", 2, user="d", now=T1)
    assert store._markers_for("bib_deleted")
    monkeypatch.setattr(MarcStore, "_refresh_deleted_summary", orig)
    # lazy in-process replay: find_deleted never serves the stale summary
    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]
    assert not store._markers_for("bib_deleted")

    # crash again, then recover via store open instead
    monkeypatch.setattr(
        MarcStore, "_refresh_deleted_summary",
        lambda self, rt, rows: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.warns(UserWarning, match="deleted-summary refresh failed"):
        store.restore("bib", 2, user="r", now=T2)
    assert store._markers_for("bib_deleted")
    monkeypatch.setattr(MarcStore, "_refresh_deleted_summary", orig)
    reopened = MarcStore(spark, store.root)
    assert not reopened._markers_for("bib_deleted")
    assert reopened.find_deleted("bib").count() == 0


@pytest.mark.slow
def test_deleted_summary_rebuilds_when_batch_unidentifiable(store):
    """A marker whose snapshot segments vanished (history compaction
    folded them) cannot identify its batch: replay rebuilds the summary
    wholesale from history — always safe.  An UNCOMMITTED such marker
    survives the rebuild (its owner's append may still be in flight —
    r11 owner-aware settlement) and is swept once the in-flight grace
    expires; a COMMITTED one is settled by the rebuild immediately."""
    store.build_deleted_summary("bib")
    store.delete("bib", 2, user="d", now=T1)
    m = store._write_marker_for("bib_deleted", {"base_segments": ["gone"]})
    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]
    # uncommitted + unexpired: the rebuild served correct results but
    # the marker stays (nothing proves its owner's batch landed)
    import os as _os
    assert [_os.path.basename(x)
            for x in store._markers_for("bib_deleted")] \
        == [_os.path.basename(m)]
    # once the owner's commit provably landed, the rebuild settles it
    store._mark_marker_committed(m)
    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]
    assert not store._markers_for("bib_deleted")
    # and a dead owner's marker is swept at grace expiry
    store._write_marker_for("bib_deleted", {"base_segments": ["gone"]})
    store.MARKER_INFLIGHT_GRACE_SECONDS = -1.0
    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]
    assert not store._markers_for("bib_deleted")


@pytest.mark.slow
def test_store_vacuum_reclaims_superseded_segments(store):
    """Commit → compact leaves superseded delta segments and manifest
    versions on disk; store.vacuum reclaims them while every read
    surface (live, history, search index, deleted summary) stays
    intact."""
    store.build_search_index("bib")
    store.build_deleted_summary("bib")
    for i in range(3):
        rec = store.get("bib", 1)
        rec.set("245", "a", f"Rewrite {i}")
        store.commit([rec], now=T1)
    store.delete("bib", 2, user="d", now=T1)
    store.compact("bib")
    reclaimed = store.vacuum(min_age_seconds=0)
    assert reclaimed                       # superseded segments existed
    assert store.get("bib", 1).get_value("245", "a") == "Rewrite 2"
    assert [r.record_id for r in store.find_deleted("bib").collect()] == [2]
    assert len(store.history("bib", 1)) == 4
    assert [r["_id"] for r in
            store.search("bib", "245__a:rewrite").collect()] == [1]


@pytest.mark.slow
def test_max_id_served_from_manifest_hint(store, tmp_path):
    """Id assignment reads the live manifest's monotonic max_id hint
    (O(1) metadata) instead of scanning live ∪ history; the hint never
    understates — explicit low-id upserts keep it, deletes keep it,
    and a pre-hint (legacy) manifest seeds it from the scan once."""
    live = store._live("bib")
    assert live.meta(store.spark).get("max_id") == 2
    assert store.max_id("bib") == 2

    rec = Bib().set("245", "a", "Third", auth_control=False)
    assert store.commit([rec], now=T1) == [3]
    assert live.meta(store.spark)["max_id"] == 3

    # explicit-id upsert BELOW the max must not lower the hint
    low = Bib().set("245", "a", "Low rewrite", auth_control=False)
    low.id = 1
    store.commit([low], now=T1)
    assert live.meta(store.spark)["max_id"] == 3
    store.delete("bib", 3, user="d", now=T1)
    assert store.max_id("bib") == 3        # deleted id still reserved

    # legacy manifest (no hint): strip it, next commit re-seeds from
    # the live ∪ history scan — never from the batch max alone
    import glob as _glob
    import json as _json
    import os as _os
    mdir = _os.path.join(store.root, "_v", "tables", "bibs")
    def _vnum(path):
        return int(_os.path.basename(path).split(".")[0].lstrip("v"))
    latest = max(_glob.glob(_os.path.join(mdir, "*.json")), key=_vnum)
    doc = _json.loads(open(latest).read())
    doc["extra"].pop("max_id")
    nxt_name = _os.path.basename(latest).replace(
        f"{_vnum(latest):010d}", f"{_vnum(latest) + 1:010d}")
    with open(_os.path.join(mdir, nxt_name), "w") as fh:
        fh.write(_json.dumps(doc))
    assert live.meta(store.spark).get("max_id") is None
    assert store.max_id("bib") == 3        # scan fallback
    low2 = Bib().set("245", "a", "Low again", auth_control=False)
    low2.id = 2
    store.commit([low2], now=T2)           # batch max 2 < store max 3
    assert live.meta(store.spark)["max_id"] == 3   # seeded from scan
    nxt = Bib().set("245", "a", "Fourth", auth_control=False)
    assert store.commit([nxt], now=T2) == [4]


@pytest.mark.slow
def test_all_new_append_skips_store_reads_and_stamps_correctly(store):
    """A NULL-id frame is a pure insert: the fast path must stamp
    created=now/user, write history version 1, advance the hint — and
    a later UPDATE of those records still preserves created (proving
    the skipped joins weren't needed)."""
    from pyspark.sql import functions as F

    fresh = (store.table("bib").limit(1)
             .withColumn("_id", F.lit(None).cast("long")))
    n0 = store.max_id("bib")
    assert store.commit_frame(fresh, record_type="bib", user="bulk",
                              now=T1, auth_check=False) == 1
    rid = store.max_id("bib")
    assert rid == n0 + 1
    rec_row = store.table("bib").filter(F.col("_id") == rid).collect()[0]
    assert rec_row["created"] == T1 and rec_row["created_user"] == "bulk"
    hist = store._history_for("bib", rid).collect()
    assert [(h["version"], h["created_user"]) for h in hist] == [(1, "bulk")]

    # update via the non-all_new path: created preserved from T1
    upd = (store.table("bib").filter(F.col("_id") == rid)
           .withColumn("user", F.lit("x")))
    store.commit_frame(upd, record_type="bib", user="editor", now=T2,
                       auth_check=False)
    rec_row = store.table("bib").filter(F.col("_id") == rid).collect()[0]
    assert rec_row["created"] == T1 and rec_row["created_user"] == "bulk"
    assert rec_row["updated"] == T2 and rec_row["user"] == "editor"
    versions = sorted(h["version"] for h in
                      store._history_for("bib", rid).collect())
    assert versions == [1, 2]


@pytest.mark.slow
def test_commit_racing_rebucket_rebuckets_and_retries(store, spark):
    """A commit whose rows were bucketed under a modulus superseded by
    a concurrent rebucket (second driver) must NOT publish: the
    in-commit geometry expectation rejects it, and the store re-reads
    the modulus, re-buckets, and retries — without the guard the
    mis-partitioned delta rows would be invisible to pruned point
    reads.  Simulated with two store instances on one root (instance
    A's cached modulus goes stale when B rebuckets)."""
    a = store
    assert a.n_buckets("bib") == 16     # memoized on A

    b = MarcStore(spark, a.root)
    b.rebucket("bib", 32)               # A's cache is now stale

    rec = Bib().set("245", "a", "Raced commit", auth_control=False)
    rec.id = 20                         # 20 % 16 = 4 but 20 % 32 = 20 —
    rid = a.commit([rec], now=T1)[0]    # a stale-modulus publish would
    assert rid == 20                    # land in the WRONG partition

    c = MarcStore(spark, a.root)        # fresh reader
    assert c.n_buckets("bib") == 32
    row = (c._raw("bib").filter(F.col("_id") == rid)
           .select("pt").collect())
    assert [r["pt"] for r in row] == [rid % 32]   # NEW-geometry bucket
    assert c.get("bib", rid).get_value("245", "a") == "Raced commit"

    # the delete path carries the same guard
    b2 = MarcStore(spark, a.root)
    b2.rebucket("bib", 64)
    a.delete("bib", rid, user="d", now=T2)        # stale modulus again
    assert MarcStore(spark, a.root).get("bib", rid) is None


@pytest.mark.slow
def test_lost_creation_race_rederives_geometry(spark, tmp_path,
                                               monkeypatch):
    """A writer that observed the live table ABSENT must not publish
    its creation-time geometry after another writer's creation won the
    race: the in-commit expect_create check rejects it, and the retry
    re-derives modulus and metadata from the winner's manifest.
    Without the guard the loser's rows (bucketed under ITS default
    modulus) and its n_buckets would stamp over the winner's —
    mis-pruning every read forever."""
    root = str(tmp_path / "wh_create_race")
    winner = MarcStore(spark, root, n_buckets=16)
    winner.commit([Bib().set("245", "a", "Winner", auth_control=False)],
                  now=T0)

    loser = MarcStore(spark, root, n_buckets=8)
    live = loser._live("bib")
    real_exists = type(live).exists
    state = {"faked": False}

    def exists_absent_once(self, s):
        if self is live and not state["faked"]:
            state["faked"] = True
            return False          # the loser's stale observation
        return real_exists(self, s)

    monkeypatch.setattr(type(live), "exists", exists_absent_once)
    rec = Bib().set("245", "a", "Loser retried", auth_control=False)
    rec.id = 20                   # 20 % 8 = 4 but 20 % 16 = 4... use 24
    rec.id = 24                   # 24 % 8 = 0, 24 % 16 = 8 — distinct
    loser.commit([rec], now=T1, auth_check=False)
    monkeypatch.undo()

    reader = MarcStore(spark, root)
    assert reader.n_buckets("bib") == 16          # winner's geometry kept
    row = (reader._raw("bib").filter(F.col("_id") == 24)
           .select("pt").collect())
    assert [r["pt"] for r in row] == [24 % 16]
    assert reader.get("bib", 24).get_value("245", "a") == "Loser retried"


@pytest.mark.slow
def test_auth_heading_change_marks_auth_token_index_too(store):
    """Auth→auth 5xx see-also links denormalize the linked heading into
    the AUTH token index as well: a heading change without propagation
    must mark it dirty (not just the bib index), or indexed auth
    searches keep matching the old heading."""
    from dlx_spark.marc.record import Datafield, Linked

    a3 = Auth().set("150", "a", "Topic three", auth_control=False)
    store.commit([a3], now=T0)
    a4 = Auth().set("150", "a", "Linker", auth_control=False)
    store.commit([a4], now=T0)
    a4 = store.get("auth", 4)
    a4.fields.append(Datafield("550", " ", " ", [Linked("a", 3)], "auth"))
    store.commit([a4], now=T0)

    store.build_search_index("auth")
    assert [r["_id"] for r in
            store.search("auth", "550__a:three").collect()] == [4]

    a3 = store.get("auth", 3)
    a3.set("150", "a", "Topic renamed", auth_control=False)
    store.commit([a3], now=T1, update_attached=False)   # NO propagation

    # the marker forces a rebuild: new heading matches, old one doesn't
    assert [r["_id"] for r in
            store.search("auth", "550__a:renamed").collect()] == [4]
    assert store.search("auth", "550__a:three").count() == 0


def test_full_rebuild_keeps_markers_for_commits_it_did_not_see(store):
    """Settlement-snapshot semantics (r11 owner-aware, r11.2 snapshot
    ordering): (a) a marker whose OWNER provably committed (post-CAS
    ``committed`` stamp) BEFORE the settlement snapshot is removed —
    its batch landed before the derivation read, so the rebuild covers
    it; (a') an uncommitted marker is kept even when other writers'
    segments are visible past its base — those may all be foreign
    commits while this marker's own batch is still in flight (the
    pre-r11 gap-nonempty rule settled here and lost the batch when its
    owner crashed after its CAS); (b) a stamp that lands AFTER the
    snapshot is ignored — the owner's segment may postdate the
    derivation read, and removing its marker would drop that crashed
    batch (the r11.2 hole: a settle-time stamp check removed it); (c)
    an uncommitted marker is swept once the in-flight grace expires
    (owner presumed dead; the rebuild covered everything current)."""
    store.build_search_index("bib")
    live = store._live("bib")
    current = live.segments(store.spark)

    import os as _os

    def names():
        return {_os.path.basename(m)
                for m in store._markers_for("bibs_tokens")}

    settled_path = store._write_marker_for(
        "bibs_tokens", {"base_segments": current[:-1]})
    store._mark_marker_committed(settled_path)
    settled = _os.path.basename(settled_path)
    uncommitted = _os.path.basename(store._write_marker_for(
        "bibs_tokens", {"base_segments": current[:-1]}))
    inflight = _os.path.basename(store._write_marker_for(
        "bibs_tokens", {"base_segments": current}))
    settleable = store._settleable_markers("bibs_tokens")
    assert {_os.path.basename(m) for m in settleable} == {settled}
    store._remove_markers(settleable)
    assert settled not in names()       # (a) committed pre-snapshot
    assert uncommitted in names()       # (a') no proof -> kept
    assert inflight in names()          # may still commit

    # (b) the stamp lands AFTER the settlement snapshot: the owner's
    # segment may postdate the derivation read — its marker survives
    late_path = store._write_marker_for(
        "bibs_tokens", {"base_segments": current})
    snapshot = store._settleable_markers("bibs_tokens")
    store._mark_marker_committed(late_path)       # stamp after snapshot
    late = _os.path.basename(late_path)
    assert late not in {_os.path.basename(m) for m in snapshot}
    store._remove_markers(snapshot)
    assert late in names()

    # (c) grace expiry: uncommitted markers are swept once the horizon
    # passes (the next rebuild's derivation covers everything a dead
    # owner ever landed); the (b) marker goes with them
    store.MARKER_INFLIGHT_GRACE_SECONDS = -1.0
    store._remove_markers(store._settleable_markers("bibs_tokens"))
    assert store._markers_for("bibs_tokens") == []


@pytest.mark.slow
def test_keyset_pagination_after_id(store):
    """r11 (VERDICT task 6): ``after_id`` keyset cursor — pages are
    disjoint, ordered, union-complete, equivalent to skip paging, and
    the cursor predicate reaches the parquet scan (O(page) per page
    instead of skip's O(offset))."""
    recs = [Bib().set("245", "a", f"Keyset doc {i}", auth_control=False)
            for i in range(10)]
    store.commit(recs, user="p", now=T1, auth_check=False)

    def ids(df):
        return [r["_id"] for r in df.select("_id").collect()]

    want = ids(store.search("bib", "245__a:keyset", sort=["_id"]))
    assert len(want) == 10 and want == sorted(want)

    pages, cursor = [], 0
    while True:
        page = ids(store.search("bib", "245__a:keyset",
                                limit=3, after_id=cursor))
        if not page:
            break
        assert page == sorted(page)
        pages.append(page)
        cursor = page[-1]
    assert [i for p in pages for i in p] == want
    assert [len(p) for p in pages] == [3, 3, 3, 1]

    # equivalent to skip paging
    skip_page = ids(store.search("bib", "245__a:keyset",
                                 sort=["_id"], skip=3, limit=3))
    assert skip_page == pages[1]

    # the cursor predicate reaches the scan (row-group skipping on the
    # key-sorted segments is what makes deep pages O(page))
    plan = (store.search("bib", "245__a:keyset", limit=3,
                         after_id=want[5])
            ._jdf.queryExecution().executedPlan().toString())
    assert "GreaterThan(_id" in plan

    # keyset and offset paging are mutually exclusive
    with pytest.raises(ValueError, match="keyset"):
        store.search("bib", "245__a:keyset", skip=2, after_id=1)
    with pytest.raises(ValueError, match="keyset"):
        store.search("bib", "245__a:keyset", sort=["updated"], after_id=1)


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn`` runs, counted through a job
    group (job counts do not move with machine load)."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_record_commit_job_budget(store):
    """A one-record commit: the record head plus the shared publish
    tail, which takes the batch's max id from the head (no aggregate
    over the staged batch)."""
    bib1 = store.get("bib", 1)
    bib1.set("245", "a", "Budgeted", auth_control=False)
    n = _jobs(store.spark, lambda: store.commit([bib1], now=T1))
    assert store.get("bib", 1).get_value("245", "a") == "Budgeted"
    assert n <= 11, n


def test_commit_frame_upsert_job_budget(store):
    """A commit_frame upsert of existing rows: its shape probe answers
    the returned row count and the batch's max id (no count or
    aggregate over the staged batch)."""
    frame = store.bibs().withColumn(
        "datafields", F.expr("filter(datafields, f -> f.tag != '520')"))
    out = []
    n = _jobs(store.spark,
              lambda: out.append(store.commit_frame(frame, now=T1)))
    assert out == [2]
    assert n <= 30, n


def test_delete_job_budget(store):
    """A delete reaches the live table through the same live-commit
    step as a commit, as one tombstone."""
    n = _jobs(store.spark, lambda: store.delete("bib", 2, now=T1))
    assert store.get("bib", 2) is None
    assert n <= 7, n


def test_failed_record_commit_leaves_no_scratch(store, monkeypatch):
    """The publish tail removes the commit scratch on failure too."""
    from dlx_spark import fsio

    def boom(self, *args, **kwargs):
        raise RuntimeError("injected upsert failure")

    monkeypatch.setattr(MarcStore, "_upsert", boom)
    bib1 = store.get("bib", 1)
    bib1.set("245", "a", "Never lands", auth_control=False)
    with pytest.raises(RuntimeError, match="injected"):
        store.commit([bib1], now=T1)
    for prefix in ("stage_*", "_stage_*"):
        assert fsio.glob(store.spark, fsio.join(store.root, prefix)) == []


def test_vacuum_reclaims_aged_old_prefix_scratch(store):
    """Scratch stages named ``_stage_*`` (the name earlier releases
    used) are swept by vacuum once aged, like ``stage_*`` ones."""
    import os
    import time

    from dlx_spark import fsio

    old = os.path.join(store.root, "_stage_commit_bibs.deadbeef")
    os.makedirs(old)
    with open(os.path.join(old, "part-0.parquet"), "wb") as fh:
        fh.write(b"orphan")
    aged = time.time() - 7200
    os.utime(os.path.join(old, "part-0.parquet"), (aged, aged))
    os.utime(old, (aged, aged))
    store.vacuum()
    assert not os.path.exists(old)
    assert fsio.glob(store.spark, fsio.join(store.root, "_stage_*")) == []


def test_propagated_heading_change_leaves_no_markers(store):
    """Propagation supersedes the heading flags the publish tail wrote:
    the record head removes them, leaving no marker on either type."""
    store.build_search_index("bib")
    a1 = store.get("auth", 1)
    a1.set("150", "a", "Propagated header", auth_control=False)
    store.commit([a1], user="editor", now=T1)
    assert store._dirty_markers("bib") == []
    assert store._dirty_markers("auth") == []
    assert sorted(r["_id"] for r in
                  store.search("bib", "650__a:propagated").collect()) == [1, 2]


def test_rebuild_derived_script_refreshes_linked_values(store):
    """``python -m dlx_spark.scripts.rebuild_derived`` re-derives linked
    values and search columns through the live-commit step, without a
    history version."""
    from dlx_spark.scripts import rebuild_derived

    a1 = store.get("auth", 1)
    a1.set("150", "a", "Rebuilt heading", auth_control=False)
    store.commit([a1], user="editor", now=T1, update_attached=False)
    n_versions = store.history_df("bib").count()
    assert rebuild_derived.run(["--store", store.root, "--type", "bib"]) == 0
    for row in store.bibs().collect():
        sub = [s for f in row["datafields"] if f["tag"] == "650"
               for s in f["subfields"]][0]
        assert sub["value"] == "Rebuilt heading"
        assert "rebuilt" in list(row["words"])
    assert store.history_df("bib").count() == n_versions
