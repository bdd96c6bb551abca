"""One commit across tables: a MARC store's tables (live, history,
token index, deleted summary) and an index's tables share one manifest
log, so each logical write publishes ONE group version — all of it, or
on a crash at that publish, none of it.  Also the format check that
keeps a root in the earlier per-table layout from reading as empty."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dlx_spark import fsio, tableio
from dlx_spark.marc import Auth, Bib
from dlx_spark.marc.store import MarcStore
from dlx_spark.operators.dedup_index import EmbeddingIndex, MinHashIndex

T0 = datetime(2026, 1, 1, 12, 0, 0)
T1 = datetime(2026, 1, 2, 12, 0, 0)

MEMBERS = ("bibs", "auths", "bibs_tokens", "auths_tokens", "bib_history",
           "auth_history", "bib_deleted", "auth_deleted")


@pytest.fixture
def store(spark, tmp_path, auth_docs, bib_docs):
    """A store with both token indexes and the bib deleted summary."""
    st = MarcStore(spark, str(tmp_path / "warehouse"))
    st.commit([Auth(d) for d in auth_docs], user="seeder", now=T0)
    idx = st.auth_index()
    st.commit([Bib(d, auth_index=idx) for d in bib_docs],
              user="seeder", now=T0)
    st.build_search_index("bib")
    st.build_search_index("auth")
    st.build_deleted_summary("bib")
    return st


def _state(st):
    """Every member's segment list and metadata at the group head."""
    out = {}
    for m in MEMBERS:
        table = st._t(m)
        if st.backend.exists(st.spark, table):
            entry = st.backend.latest_manifest(st.spark, table)
            out[m] = (entry["segments"], entry.get("extra"))
    return out


def _version(st):
    return st.backend.versions(st.spark, st._t("bibs"))[-1]


def _crash_at_publish(monkeypatch, group: str):
    real = fsio.put_if_absent

    def boom(spark_, tmp, dest):
        if f"/tables/{group}/" in dest:
            raise RuntimeError("crash at the group publish")
        return real(spark_, tmp, dest)
    monkeypatch.setattr(fsio, "put_if_absent", boom)


def _edited(st, rid, title):
    rec = st.get("bib", rid)
    rec.set("245", "a", title, auth_control=False)
    return rec


def _rename_auth(st):
    a1 = st.get("auth", 1)
    a1.set("150", "a", "Crash renamed", auth_control=False)
    st.commit([a1], now=T1, update_attached=False)


#: each write, and the members its one commit must change
WRITES = [
    ("commit", lambda st: st.commit([_edited(st, 1, "Crashed title")],
                                    now=T1),
     ("bibs", "bib_history", "bibs_tokens", "bib_deleted")),
    ("commit_frame", lambda st: st.commit_frame(
        st.bibs().filter(F.col("_id") == 2), now=T1),
     ("bibs", "bib_history", "bibs_tokens", "bib_deleted")),
    ("delete", lambda st: st.delete("bib", 2, user="d", now=T1),
     ("bibs", "bib_history", "bibs_tokens", "bib_deleted")),
    ("auth heading change", _rename_auth,
     ("auths", "auth_history", "auths_tokens", "bibs_tokens")),
]


def test_store_writes_are_all_or_nothing_and_one_commit(spark, store,
                                                        monkeypatch):
    """A crash at the group publish of a record commit, a commit_frame,
    a delete or an auth heading change (no propagation) leaves every
    member — live, history, token indexes and their heading flags,
    deleted summary — as it was, after a reopen too.  The re-run then
    publishes exactly one version that changes every member the write
    touches; the heading change flags both token indexes in it."""
    st = store
    for name, write, members in WRITES:
        before, v0 = _state(st), _version(st)
        _crash_at_publish(monkeypatch, "marc")
        with pytest.raises(RuntimeError, match="group publish"):
            write(st)
        monkeypatch.undo()
        st = MarcStore(spark, st.root)
        assert _state(st) == before, name
        assert _version(st) == v0, name
        write(st)
        assert _version(st) == v0 + 1, name
        after = _state(st)
        assert [m for m in members if after[m] == before[m]] == [], name
    for rt in ("bib", "auth"):
        assert st._tokens(rt).meta(spark)[MarcStore.STALE_HEADINGS] == [1]
    # bib 2 was deleted above; bib 1 links the renamed heading
    assert [r["_id"] for r in st.search(
        "bib", "650__a:renamed").collect()] == [1]


def _index_crash(spark, monkeypatch, idx, name, batch):
    be = tableio.get_backend()
    tables = [idx._t(s) for s in idx._TABLES]
    before = {t: be.snapshot_token(spark, t) for t in tables}
    v0 = be.versions(spark, name)[-1]
    _crash_at_publish(monkeypatch, name)
    with pytest.raises(RuntimeError, match="group publish"):
        idx.append(batch)
    monkeypatch.undo()
    assert {t: be.snapshot_token(spark, t) for t in tables} == before
    type(idx)(spark, name).append(batch)
    assert be.versions(spark, name)[-1] == v0 + 1
    after = {t: be.snapshot_token(spark, t) for t in tables}
    assert all(len(after[t]) == len(before[t]) + 1 for t in tables)


def test_minhash_append_is_one_commit(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(i, f"document {i} alpha beta gamma") for i in range(6)],
        "doc_id long, text string")
    batch = spark.createDataFrame([(100, "a fresh document delta")],
                                  "doc_id long, text string")
    idx = MinHashIndex.create(docs, "t_gc_mh")
    try:
        _index_crash(spark, monkeypatch, idx, "t_gc_mh", batch)
    finally:
        idx.drop()


def test_embedding_append_is_one_commit(spark, monkeypatch):
    rows = [(i, [float(i), 1.0, -float(i)]) for i in range(6)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    batch = spark.createDataFrame([(100, [0.5, -1.0, 2.0])],
                                  "vec_id long, embedding array<double>")
    idx = EmbeddingIndex.create(corpus, "t_gc_emb", n_planes=4, dim=3)
    try:
        _index_crash(spark, monkeypatch, idx, "t_gc_emb", batch)
    finally:
        idx.drop()


def _pre_group_table(spark, root: str, name: str) -> None:
    """A table log as earlier releases wrote it: manifests per table,
    segments at the manifest's top level, no format field."""
    fsio.write_text(spark, fsio.join(root, "tables", name,
                                     "v0000000001.json"),
                    json.dumps({"segments": [], "key": None, "version": 1,
                                "id": "x", "schema": '{"type":"struct",'
                                                     '"fields":[]}'}))


def test_pre_group_roots_raise_on_open(spark, tmp_path):
    """A store root and an index root in the per-table layout of earlier
    releases raise a ValueError on open naming the tables found and the
    way to rebuild — never read as empty."""
    root = str(tmp_path / "old_store")
    for name in ("bibs", "bib_history"):
        _pre_group_table(spark, fsio.join(root, "_v"), name)
    with pytest.raises(ValueError, match="marc_import") as err:
        MarcStore(spark, root)
    assert "bibs" in str(err.value) and "bib_history" in str(err.value)

    be = tableio.get_backend()
    for name in ("t_gc_old_sigs", "t_gc_old_bands", "t_gc_old_meta"):
        _pre_group_table(spark, be.root(spark), name)
    try:
        with pytest.raises(ValueError, match="MinHashIndex.create") as err:
            MinHashIndex(spark, "t_gc_old")
        assert "t_gc_old_sigs" in str(err.value)
    finally:
        for name in ("t_gc_old_sigs", "t_gc_old_bands", "t_gc_old_meta"):
            be.drop(spark, name)
