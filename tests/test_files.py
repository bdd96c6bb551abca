"""File store tests (reference tests/test_file.py patterns)."""

from datetime import datetime

import pytest

from dlx_spark.files import (
    FileExists,
    FileExistsIdentifierConflict,
    FileExistsLanguageConflict,
    FileStore,
    Identifier,
    encode_fn,
)

T0 = datetime(2026, 1, 1)
T1 = datetime(2026, 1, 2)


@pytest.fixture
def fstore(spark, tmp_path):
    return FileStore(spark, str(tmp_path / "files"))


def test_import_and_identity(fstore):
    row = fstore.import_from_binary(
        b"some data", identifiers=[Identifier("isbn", "x")],
        languages=["EN"], mimetype="text/plain", source="test", now=T0)
    assert row["_id"] == __import__("hashlib").md5(b"some data").hexdigest()
    assert row["size"] == 9
    assert fstore.from_id(row["_id"])["source"] == "test"


def test_conflict_rules(fstore):
    fstore.import_from_binary(b"same content", identifiers=[Identifier("isbn", "x")],
                              languages=["EN"], mimetype="text/plain",
                              source="test", now=T0)
    # exact repeat
    with pytest.raises(FileExists):
        fstore.import_from_binary(b"same content", identifiers=[Identifier("isbn", "x")],
                                  languages=["EN"], mimetype="text/plain",
                                  source="test", now=T1)
    # new identifier for same checksum
    with pytest.raises(FileExistsIdentifierConflict):
        fstore.import_from_binary(b"same content", identifiers=[Identifier("isbn", "y")],
                                  languages=["EN"], mimetype="text/plain",
                                  source="test", now=T1)
    # different language set
    with pytest.raises(FileExistsLanguageConflict):
        fstore.import_from_binary(b"same content", identifiers=[Identifier("isbn", "x")],
                                  languages=["EN", "FR"], mimetype="text/plain",
                                  source="test", now=T1)
    # overwrite bypasses the checks
    fstore.import_from_binary(b"same content", identifiers=[Identifier("isbn", "y")],
                              languages=["FR"], mimetype="text/plain",
                              source="test", overwrite=True, now=T1)
    assert fstore.df().count() == 1


def test_find_by_identifier_case_insensitive(fstore):
    fstore.import_from_binary(b"doc1", identifiers=[Identifier("symbol", "A/RES/1")],
                              languages=["EN"], mimetype="text/plain",
                              source="test", now=T0)
    out = fstore.find_by_identifier(Identifier("symbol", "a/res/1")).collect()
    assert len(out) == 1
    assert fstore.find_by_identifier(Identifier("symbol", "a/res/1"),
                                     case_insensitive=False).count() == 0


def test_latest_by_identifier_language(fstore):
    fstore.import_from_binary(b"v1", identifiers=[Identifier("symbol", "A/1")],
                              languages=["EN"], mimetype="t", source="s", now=T0)
    fstore.import_from_binary(b"v2", identifiers=[Identifier("symbol", "A/1")],
                              languages=["EN"], mimetype="t", source="s", now=T1)
    latest = fstore.latest_by_identifier_language(Identifier("symbol", "A/1"), "EN")
    assert latest["timestamp"] == T1

    per_key = fstore.latest_per_identifier_language().collect()
    assert len(per_key) == 1
    assert per_key[0]["timestamp"] == T1


def test_find_by_date(fstore):
    fstore.import_from_binary(b"old", identifiers=[Identifier("i", "1")],
                              languages=["EN"], mimetype="t", source="s", now=T0)
    fstore.import_from_binary(b"new", identifiers=[Identifier("i", "2")],
                              languages=["EN"], mimetype="t", source="s", now=T1)
    assert fstore.find_by_date(T0, T1).count() == 1
    assert fstore.find_by_date(T0).count() == 2


def test_import_commits_through_the_backend_and_leaves_no_stage(fstore):
    """Each import is one upsert on the files table's manifest: no
    staging directory is left beside it, and an overwrite supersedes
    the file's row by key."""
    import os

    fstore.import_from_binary(b"doc", identifiers=[Identifier("isbn", "x")],
                              languages=["EN"], mimetype="t", source="s",
                              now=T0)
    fstore.import_batch([
        {"data": b"doc2", "identifiers": [Identifier("isbn", "y")],
         "languages": ["EN"], "mimetype": "t", "source": "s"}], now=T0)
    fstore.import_from_binary(b"doc", identifiers=[Identifier("isbn", "z")],
                              languages=["FR"], mimetype="t", source="s2",
                              overwrite=True, now=T1)
    assert sorted(os.listdir(fstore.root)) == ["_v"]
    rows = {r["_id"]: r for r in fstore.df().collect()}
    assert len(rows) == 2
    checksum = __import__("hashlib").md5(b"doc").hexdigest()
    assert rows[checksum]["source"] == "s2"
    assert list(rows[checksum]["languages"]) == ["FR"]


def test_failed_import_commit_leaves_earlier_rows(fstore, monkeypatch):
    """An import whose commit fails leaves the rows committed before it
    readable (an in-place overwrite of the table lost them all)."""
    from dlx_spark.tableio_versioned import VersionedTableBackend

    fstore.import_from_binary(b"kept", identifiers=[Identifier("isbn", "k")],
                              languages=["EN"], mimetype="t", source="s",
                              now=T0)

    def boom(self, spark, table, payload_fn):
        raise RuntimeError("crash at the import commit")

    monkeypatch.setattr(VersionedTableBackend, "_commit", boom)
    with pytest.raises(RuntimeError, match="crash at the import"):
        fstore.import_from_binary(b"lost", identifiers=[Identifier("isbn", "l")],
                                  languages=["EN"], mimetype="t", source="s",
                                  now=T1)
    monkeypatch.undo()
    assert [r["source"] for r in fstore.df().collect()] == ["s"]


def test_encode_fn():
    assert encode_fn(["A/RES/1"], ["en"], "pdf") == "A_RES_1-EN.pdf"
    assert encode_fn("S [2020]*x:y;z", "fr", "txt") == "S_^2020^!x#y%z-FR.txt"
    with pytest.raises(AssertionError):
        encode_fn(["x"], ["zz"], "pdf")


# --- S3 surface (reference dlx/file/s3.py:8-44) ---------------------------

class _FakeS3Client:
    """Records upload_fileobj calls; used in place of boto3."""
    store: dict = {}

    def upload_fileobj(self, handle, bucket, key, ExtraArgs=None):
        _FakeS3Client.store[(bucket, key)] = (handle.read(), ExtraArgs)


def test_s3_connect_upload_reference_parity():
    import io
    from dlx_spark.files.s3 import S3

    _FakeS3Client.store.clear()
    S3.connected = False
    try:
        S3.upload(io.BytesIO(b"x"), "k", "text/plain")
        assert False, "should raise when not connected"
    except Exception as e:
        assert "Not connected" in str(e)

    S3.connect(bucket="b", client=_FakeS3Client())
    assert S3.upload(io.BytesIO(b"hello"), "key1", "text/plain") is True
    data, extra = _FakeS3Client.store[("b", "key1")]
    assert data == b"hello"
    assert extra == {"ContentType": "text/plain", "ContentDisposition": "inline"}


def test_s3_uploader_filestore_hook(spark, tmp_path):
    from dlx_spark.files import FileStore, Identifier
    from dlx_spark.files.s3 import s3_uploader

    _FakeS3Client.store.clear()
    fs = FileStore(spark, str(tmp_path / "files"),
                   uploader=s3_uploader("bkt", client=_FakeS3Client()))
    rec = fs.import_from_binary(
        b"content-bytes", identifiers=[Identifier("isbn", "x1")],
        filename="f.txt", languages=["en"], mimetype="text/plain",
        source="test")
    data, extra = _FakeS3Client.store[("bkt", rec["_id"])]
    assert data == b"content-bytes"
    assert extra["ContentType"] == "text/plain"


def test_s3_upload_frame_executor_side(spark, tmp_path):
    from dlx_spark.files.s3 import upload_frame

    out = str(tmp_path / "uploads")
    import os
    os.makedirs(out, exist_ok=True)

    # defined inside the test so cloudpickle ships it by value — executor
    # python workers can't import the test module.  Uploads land on the
    # shared local filesystem, asserted from the driver.
    class FsFakeClient:
        def upload_fileobj(self, handle, bucket, key, ExtraArgs=None):
            with open(os.path.join(out, f"{bucket}__{key}"), "wb") as f:
                f.write(handle.read())
            with open(os.path.join(out, f"{bucket}__{key}.meta"), "w") as f:
                f.write(ExtraArgs["ContentType"])

    df = spark.createDataFrame(
        [("a1", bytearray(b"p1"), "image/png"), ("a2", bytearray(b"p2"), None)],
        "_id string, payload binary, mimetype string")
    upload_frame(df, "media", client_factory=FsFakeClient)
    with open(os.path.join(out, "media__a1"), "rb") as f:
        assert f.read() == b"p1"
    with open(os.path.join(out, "media__a2.meta")) as f:
        assert f.read() == "application/octet-stream"
