"""Structured Streaming tests: watermark windows and the incremental
commit stream, run with availableNow file sources."""

import json
import time

import pytest
from pyspark.sql import functions as F

from dlx_spark import streaming


@pytest.fixture
def events_dir(tmp_path):
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:05:00", "user_id": 1, "event_type": "click", "value": 3.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T00:20:00", "user_id": 2, "event_type": "view", "value": 4.0, "props": "{}"},
    ]
    p = tmp_path / "events"
    p.mkdir()
    (p / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def run_available_now(df, tmp_path, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
         .trigger(availableNow=True).start())
    # awaitTermination returns False on timeout (it does not raise) —
    # assert it, or a slow batch asserts against a half-filled table
    assert q.awaitTermination(120), "stream did not finish in 120s"
    return q


def test_hourly_counts_stream(spark, events_dir, tmp_path):
    events = streaming.read_events_stream(spark, events_dir)
    agg = streaming.hourly_counts(events)
    run_available_now(agg, tmp_path, "hourly")
    rows = {(str(r.hour), r.event_type): (r.n, r.sum_value)
            for r in spark.sql("select * from hourly").collect()}
    assert rows[("2024-01-01 00:00:00", "view")] == (3, 7.0)
    assert rows[("2024-01-01 01:00:00", "click")] == (1, 3.0)


def test_dedup_stream_stateful(spark, tmp_path):
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_dedup")
    schema = "doc_id long, text string"

    out_dir = str(tmp_path / "deduped")

    def run_batch(rows, batch_name):
        (docs_dir / f"{batch_name}.json").write_text(
            "\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema(schema).json(str(docs_dir))
        out = streaming.dedup_stream(stream)
        q = (out.writeStream.format("json").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return sorted(r.id for r in
                      spark.read.schema("digest string, id long")
                      .json(out_dir).collect())

    # batch 1: 1 and 2 are duplicates — only min id survives
    assert run_batch([
        {"doc_id": 1, "text": "same content here"},
        {"doc_id": 2, "text": "same content here"},
        {"doc_id": 3, "text": "different content"},
    ], "b1") == [1, 3]

    # batch 2 (same checkpoint → state restored): a repeat of batch-1
    # content is dropped by the state store; new content passes
    assert run_batch([
        {"doc_id": 4, "text": "same content here"},
        {"doc_id": 5, "text": "brand new content"},
    ], "b2") == [1, 3, 5]


def test_sessionize_stream(spark, events_dir, tmp_path):
    events = streaming.read_events_stream(spark, events_dir)
    sess = streaming.sessionize(events, gap="30 minutes")
    run_available_now(sess, tmp_path, "sessions")
    rows = spark.sql("select * from sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    # user 1: events at 00:05/00:10 in one session, 01:05 in another
    assert len(by_user[1]) == 2
    assert len(by_user[2]) == 1
    first = sorted(by_user[1], key=lambda r: r.session_start)[0]
    assert first.n_events == 2


@pytest.mark.slow
def test_incremental_commit_stream(spark, tmp_path):
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh"))
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    docs = [
        {"_id": 1, "245": [{"indicators": [" ", " "],
                            "subfields": [{"code": "a", "value": "Streamed record"}]}]},
        {"_id": 2, "245": [{"indicators": [" ", " "],
                            "subfields": [{"code": "a", "value": "Second streamed"}]}]},
    ]
    (inbox / "b1.jsonl").write_text("\n".join(json.dumps(d) for d in docs))

    q = streaming.incremental_commit_stream(spark, str(inbox), store)
    assert q.awaitTermination(120)

    assert store.bibs().count() == 2
    rec = store.get("bib", 1)
    assert rec.get_value("245", "a") == "Streamed record"
    # derived columns maintained incrementally
    row = store.bibs().filter(F.col("_id") == 1).first()
    assert "stream" in list(row["words"])
    assert len(store.history("bib", 1)) == 1


def test_stateless_operators_compose_with_streams(spark, tmp_path):
    """The per-row pipeline operators (redaction, chunking, quality) are
    pure projections/flat-maps, so the SAME functions must run on a
    streaming DataFrame unchanged — the batch/streaming unification the
    engine promises."""
    import json as _json
    from dlx_spark.operators.chunking import chunk_documents
    from dlx_spark.operators.redact import redact_pii
    from dlx_spark.operators.textstats import quality_score

    p = tmp_path / "docs"
    p.mkdir()
    rows = [
        {"doc_id": 1, "text": "mail a@b.co " + "interesting tokens here " * 30},
        {"doc_id": 2, "text": "plain document with no pii at all"},
    ]
    (p / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = (spark.readStream.schema("doc_id long, text string")
              .json(str(p)))
    assert stream.isStreaming

    out = redact_pii(stream)
    q = (out.writeStream.format("memory").queryName("redact_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_redact"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r.id: r for r in spark.sql("select * from redact_stream").collect()}
    assert got[1].n_email == 1 and "<EMAIL>" in got[1].clean_text
    assert got[2].n_email == 0

    chunks = chunk_documents(stream, chunk_tokens=16, overlap=4)
    q2 = (chunks.writeStream.format("memory").queryName("chunk_stream")
          .outputMode("append")
          .option("checkpointLocation", str(tmp_path / "ck_chunk"))
          .trigger(availableNow=True).start())
    assert q2.awaitTermination(120)
    n_chunks = spark.sql("select count(*) n from chunk_stream").first().n
    assert n_chunks > 5                       # doc 1 fans out to many windows

    scored = quality_score(stream)
    assert scored.isStreaming


@pytest.mark.slow
def test_incremental_commit_stream_large_batch_distributed(spark, tmp_path):
    """Batch-size robustness for the streaming ingest sink: a 2k-record
    micro-batch (mixed new/id-less rows) commits through the distributed
    commit_frame path — ids assigned as a dense max+seq sequence, history
    versioned, no record rows on the driver (the sink parses executor-
    side; there is no collect() of raw lines to funnel through)."""
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_big"))
    inbox = tmp_path / "inbox_big"
    inbox.mkdir()
    n = 2000
    lines = []
    for i in range(n):
        doc = {"245": [{"indicators": [" ", " "],
                        "subfields": [{"code": "a", "value": f"Doc number {i}"}]}]}
        if i % 2 == 0:
            doc["_id"] = i + 1           # half carry explicit ids
        lines.append(json.dumps(doc))
    (inbox / "big.jsonl").write_text("\n".join(lines))

    q = streaming.incremental_commit_stream(spark, str(inbox), store)
    assert q.awaitTermination(300)

    bibs = store.bibs()
    assert bibs.count() == n
    # explicit (odd) ids kept; id-less rows got a dense max+seq block
    # starting above the batch max (1999 -> 2000..2999)
    ids = sorted(r["_id"] for r in bibs.select("_id").collect())
    assert ids == sorted(list(range(1, n, 2)) + list(range(n, n + n // 2)))
    assert store.history_df("bib").count() == n


@pytest.mark.slow
def test_incremental_commit_stream_batch_ledger_idempotent(spark, tmp_path):
    """Replay semantics of the ingest sink, exercised on the foreachBatch
    function directly: a crash-replay (same stream instance, same
    batch_id) is swallowed by the ledger; a NEW stream instance (fresh
    checkpoint, batch ids restarting at 0) is NOT skipped."""
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_ledger"))
    doc = {"245": [{"indicators": [" ", " "],
                    "subfields": [{"code": "a", "value": "Ledger doc"}]}]}
    batch = spark.createDataFrame([(json.dumps(doc),)], "value string")

    fn = streaming.make_commit_batch_fn(store, "bib", str(tmp_path / "ck_a"))
    fn(batch, 0)
    assert store.bibs().count() == 1
    # crash-replay: same stream, same batch id -> swallowed
    fn(batch, 0)
    assert store.bibs().count() == 1
    assert store.history_df("bib").count() == 1
    # next batch of the same stream commits
    fn(batch, 1)
    assert store.bibs().count() == 2

    # a NEW stream instance restarts at batch 0 — must NOT be skipped
    fn2 = streaming.make_commit_batch_fn(store, "bib", str(tmp_path / "ck_b"))
    fn2(batch, 0)
    assert store.bibs().count() == 3


def test_enrich_stream_static_join(spark, tmp_path):
    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], "user_id long, tier string")
    events_dir = tmp_path / "enrich_events"
    events_dir.mkdir()
    rows = [{"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T00:06:00", "user_id": 3,
             "event_type": "view", "value": 2.0, "props": "{}"}]
    (events_dir / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    ev = streaming.read_events_stream(spark, str(events_dir))
    out = streaming.enrich_stream(ev, dim)
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_enrich"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r.event_id: r.tier for r in spark.sql("select * from enriched").collect()}
    assert got == {1: "gold", 2: None}


def test_enrich_stream_broadcast_gate(spark, tmp_path, monkeypatch):
    """The forced broadcast is size-gated: a dimension past
    ENRICH_BROADCAST_MAX_ROWS joins unhinted (identical results) —
    mirror of the merge-on-read delta and heading-dimension gates."""
    dim = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "user_id long, tier string")
    events_dir = tmp_path / "enrich_events_gate"
    events_dir.mkdir()
    rows = [{"event_id": i, "ts": "2024-01-01T00:05:00", "user_id": i,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for i in range(4)]
    (events_dir / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    monkeypatch.setattr(streaming, "ENRICH_BROADCAST_MAX_ROWS", 2)
    ev = streaming.read_events_stream(spark, str(events_dir))
    out = streaming.enrich_stream(ev, dim)
    q = (out.writeStream.format("memory").queryName("enriched_gate")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_enrich_gate"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r.event_id: r.tier
           for r in spark.sql("select * from enriched_gate").collect()}
    assert got == {i: f"t{i}" for i in range(4)}


@pytest.mark.slow
def test_stream_replay_after_crash_between_commit_and_ledger(spark, tmp_path, monkeypatch):
    """The advisor's crash window: the data commit lands but the process
    dies before the ledger row is appended.  The replay must NOT
    duplicate — the intent marker routes it through recovery (undo the
    crashed attempt's history files, re-run the now-idempotent commit)."""
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_cw"))
    docs = [{"245": [{"indicators": [" ", " "],
                      "subfields": [{"code": "a", "value": f"Crash doc {i}"}]}]}
            for i in range(3)]
    batch = spark.createDataFrame([(json.dumps(d),) for d in docs],
                                  "value string")
    fn = streaming.make_commit_batch_fn(store, "bib", str(tmp_path / "ck_cw"))

    real = MarcStore.commit_frame

    def commit_then_die(self, *a, **k):
        real(self, *a, **k)
        raise RuntimeError("crash after commit, before ledger")
    monkeypatch.setattr(MarcStore, "commit_frame", commit_then_die)
    with pytest.raises(RuntimeError):
        fn(batch, 0)
    monkeypatch.undo()
    assert store.bibs().count() == 3          # data landed, ledger did not

    fn(batch, 0)                              # crash-replay
    assert store.bibs().count() == 3          # no duplicates
    hist = store.history_df("bib")
    assert hist.count() == 3                  # exactly one version each
    assert [r["version"] for r in hist.collect()] == [1, 1, 1]
    # replayed ids identical to a clean run: dense 1..3
    assert sorted(r["_id"] for r in store.bibs().select("_id").collect()) == [1, 2, 3]


@pytest.mark.slow
def test_stream_replay_after_crash_mid_commit(spark, tmp_path, monkeypatch):
    """Crash inside commit_frame before its one group commit: nothing of
    the batch is published, and the replay re-runs from the
    deterministic stage — final state matches a clean single run
    exactly."""
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_mc"))
    docs = [{"245": [{"indicators": [" ", " "],
                      "subfields": [{"code": "a", "value": f"Mid doc {i}"}]}]}
            for i in range(4)]
    batch = spark.createDataFrame([(json.dumps(d),) for d in docs],
                                  "value string")
    fn = streaming.make_commit_batch_fn(store, "bib", str(tmp_path / "ck_mc"))

    real_write = MarcStore._write
    state = {"raised": False}

    def write_boom(self, *a, **k):
        if not state["raised"]:
            state["raised"] = True
            raise RuntimeError("crash mid-commit")
        return real_write(self, *a, **k)
    monkeypatch.setattr(MarcStore, "_write", write_boom)
    with pytest.raises(RuntimeError):
        fn(batch, 0)
    # neither history nor live: the commit is all-or-nothing
    assert store.history_df("bib").count() == 0
    assert store.bibs().count() == 0

    fn(batch, 0)                              # crash-replay -> recovery
    assert store.bibs().count() == 4
    hist = store.history_df("bib")
    assert hist.count() == 4
    assert sorted(r["version"] for r in hist.collect()) == [1, 1, 1, 1]
    assert all(r["created_user"] is not None for r in hist.collect())
    assert sorted(r["_id"] for r in store.bibs().select("_id").collect()) == [1, 2, 3, 4]


@pytest.mark.slow
def test_stream_recreated_checkpoint_is_new_stream(spark, tmp_path):
    """A checkpoint deleted and recreated at the SAME path restarts batch
    ids at 0 — the run id Spark writes into {checkpoint}/metadata keys
    the ledger, so the new stream's batch 0 must commit, not be skipped
    as a replay."""
    import shutil
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_nonce"))
    doc = {"245": [{"indicators": [" ", " "],
                    "subfields": [{"code": "a", "value": "Nonce doc"}]}]}
    batch = spark.createDataFrame([(json.dumps(doc),)], "value string")

    ck = tmp_path / "ck_nonce"
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "run-aaaa"}))
    fn = streaming.make_commit_batch_fn(store, "bib", str(ck))
    fn(batch, 0)
    fn(batch, 0)                              # same run: replay, skipped
    assert store.bibs().count() == 1

    shutil.rmtree(ck)                         # user deletes the checkpoint
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "run-bbbb"}))
    fn2 = streaming.make_commit_batch_fn(store, "bib", str(ck))
    fn2(batch, 0)                             # new run id -> NOT a replay
    assert store.bibs().count() == 2


@pytest.mark.slow
def test_stream_ledger_compaction_bounded(spark, tmp_path, monkeypatch):
    """Long-lived stream: the per-batch ledger files are folded together
    every LEDGER_COMPACT_EVERY batches, so the file count stays bounded
    while replay detection keeps working across the compactions."""
    import os
    from dlx_spark.marc.store import MarcStore

    monkeypatch.setattr(streaming, "LEDGER_COMPACT_EVERY", 10)
    store = MarcStore(spark, str(tmp_path / "wh_compact"))
    doc = {"245": [{"indicators": [" ", " "],
                    "subfields": [{"code": "a", "value": "Compact doc"}]}]}
    real_batch = spark.createDataFrame([(json.dumps(doc),)], "value string")
    empty = spark.createDataFrame([], "value string")
    fn = streaming.make_commit_batch_fn(store, "bib", str(tmp_path / "ck_compact"))

    fn(real_batch, 0)
    for b in range(1, 31):                    # 30 empty batches
        fn(empty, b)

    ledger = os.path.join(store.root, "_stream_commits_bib")
    files = [f for f in os.listdir(ledger) if f.endswith(".parquet")]
    assert len(files) <= 12                   # bounded, not 31
    rows = spark.read.parquet(ledger)
    assert rows.select("batch_id").distinct().count() == 31
    fn(real_batch, 0)                         # replay across compaction
    fn(empty, 15)
    assert store.bibs().count() == 1


@pytest.mark.slow
def test_commit_stream_under_file_scheme_root(spark, tmp_path):
    """The streaming commit sink's ledger/intent-marker/stage protocol
    must hold when the store root (and hence the ledger directory and
    default checkpoint) is a ``file://``-scheme URI: all marker I/O goes
    through the Hadoop FileSystem API, and the replay guard still
    recognizes a redelivered batch."""
    from dlx_spark import fsio
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, "file://" + str(tmp_path / "wh_uri_stream"))
    inbox = tmp_path / "inbox_uri"
    inbox.mkdir()
    docs = [{"_id": None, "245": [{"indicators": [" ", " "],
                                   "subfields": [{"code": "a",
                                                  "value": f"Uri doc {i}"}]}]}
            for i in range(3)]
    (inbox / "b1.jsonl").write_text("\n".join(json.dumps(d) for d in docs))

    q = streaming.incremental_commit_stream(spark, str(inbox), store)
    assert q.awaitTermination(120)
    assert store.bibs().count() == 3
    ledger = store.root + "/_stream_commits_bib"
    assert any(f.endswith(".parquet") for f in fsio.listdir(spark, ledger))

    # redeliver batch 0 through the raw fn with the same checkpoint:
    # the ledger row makes it a no-op (no duplicate commit)
    ck = store.root + "/_checkpoints/bib"
    fn = streaming.make_commit_batch_fn(store, "bib", ck)
    batch = spark.createDataFrame(
        [(json.dumps(d),) for d in docs], "value string")
    fn(batch, 0)
    assert store.bibs().count() == 3
    assert len(store.history("bib", 1)) == 1


@pytest.mark.slow
def test_incremental_commit_stream_mrk_and_xml_formats(spark, tmp_path):
    """The commit stream ingests .mrk and MARCXML files with the SAME
    chunk parsers as the batch readers (sources/marc_io.py), so a dump
    streamed in and the same dump batch-ingested produce identical
    records — the reference's real file→store workflow as a stream."""
    from dlx_spark.marc import Bib
    from dlx_spark.marc.store import MarcStore

    store = MarcStore(spark, str(tmp_path / "wh_fmt"))
    b1 = Bib({"_id": 1}).set("245", "a", "Streamed mrk one",
                             auth_control=False)
    b2 = Bib({"_id": 2}).set("245", "a", "Streamed mrk two",
                             auth_control=False)

    mrk_inbox = tmp_path / "inbox_mrk"
    mrk_inbox.mkdir()
    (mrk_inbox / "dump.mrk").write_text(b1.to_mrk() + "\n\n" + b2.to_mrk())
    q = streaming.incremental_commit_stream(
        spark, str(mrk_inbox), store, fmt="mrk",
        checkpoint=str(tmp_path / "ckpt_mrk"))
    assert q.awaitTermination(120)
    assert store.bibs().count() == 2
    assert store.get("bib", 1).get_value("245", "a") == "Streamed mrk one"

    b3 = Bib({"_id": 3}).set("245", "a", "Streamed xml three",
                             auth_control=False)
    xml_inbox = tmp_path / "inbox_xml"
    xml_inbox.mkdir()
    (xml_inbox / "dump.xml").write_text(
        "<collection>" + b3.to_xml() + "</collection>")
    q = streaming.incremental_commit_stream(
        spark, str(xml_inbox), store, fmt="xml",
        checkpoint=str(tmp_path / "ckpt_xml"))
    assert q.awaitTermination(120)
    assert store.bibs().count() == 3
    assert store.get("bib", 3).get_value("245", "a") == "Streamed xml three"

    with pytest.raises(ValueError, match="fmt must be"):
        streaming.incremental_commit_stream(spark, str(mrk_inbox), store,
                                            fmt="mrc")


@pytest.mark.slow
def test_semdedup_ingest_stream_cross_batch_leaders(spark, tmp_path):
    """Streaming online SemDeDup: batch-2 vectors within τ of a KEPT
    batch-1/corpus vector are dropped (cross-batch leader state through
    the written IVF index), survivors land in out_path under the
    exactly-once marker protocol."""
    import json as jsonlib
    import math

    from dlx_spark.operators import bucketing, similarity
    from dlx_spark.streaming import semdedup_ingest_stream

    def vec(c, eps=0.0):
        v = [0.0] * 8
        v[c] = 1.0
        v[(c + 1) % 8] = eps
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    corpus = spark.createDataFrame([(i, vec(i)) for i in range(4)],
                                   "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(corpus, n_centroids=4, seed=3)
    name = "t_semdedup_stream"
    bucketing.write_ivf_index(corpus, name, cents)
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        out = str(tmp_path / "clean")
        b1 = [{"vec_id": 10, "embedding": vec(0, 0.05)},   # ~ corpus 0
              {"vec_id": 11, "embedding": vec(6)}]          # new leader
        (indir / "b1.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in b1))
        q = semdedup_ingest_stream(spark, str(indir), name, cents, out,
                                   str(tmp_path / "ckpt"), threshold=0.9)
        q.awaitTermination(120)
        got = {r["vec_id"] for r in spark.read.parquet(out).collect()}
        assert got == {11}

        # batch 2: a twin of batch 1's survivor must be dropped —
        # cross-batch leader state lives in the index
        b2 = [{"vec_id": 20, "embedding": vec(6, 0.04)},
              {"vec_id": 21, "embedding": vec(5)}]
        (indir / "b2.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in b2))
        q = semdedup_ingest_stream(spark, str(indir), name, cents, out,
                                   str(tmp_path / "ckpt"), threshold=0.9)
        q.awaitTermination(120)
        got = {r["vec_id"] for r in spark.read.parquet(out).collect()}
        assert got == {11, 21}
    finally:
        from dlx_spark import tableio
        tableio.get_backend().drop(spark, name)


@pytest.mark.slow
def test_segment_dedup_ingest_stream_cross_batch_and_replay(spark, tmp_path):
    """Streaming segment dedup: a batch-2 document repeating a segment
    kept in batch 1 (or in the pre-indexed corpus) loses it; a
    crash-replay of a batch reproduces its first attempt without
    double-appending index state."""
    import json as jsonlib

    from dlx_spark.operators.dedup_index import SegmentIndex
    from dlx_spark import tableio
    from dlx_spark.streaming import (make_segment_dedup_batch_fn,
                                     segment_dedup_ingest_stream)

    corpus = spark.createDataFrame(
        [(1, "a b c x y z")], "doc_id long, text string")
    name = "t_seg_stream"
    SegmentIndex.create(corpus, name, unit_words=3, normalize=False)
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        out = str(tmp_path / "clean")
        b1 = [{"doc_id": 10, "text": "a b c p q r"},    # "a b c" indexed
              {"doc_id": 11, "text": "p q r s t u"}]    # "p q r" dup of 10
        (indir / "b1.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in b1))
        q = segment_dedup_ingest_stream(spark, str(indir), name, out,
                                        str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        got = {r["doc_id"]: r["cleaned_text"]
               for r in spark.read.parquet(out).collect()}
        assert got[10] == "p q r"            # corpus segment cut
        assert got[11] == "s t u"            # batch-internal dup cut

        # batch 2 sees batch 1's kept segments through the index
        b2 = [{"doc_id": 20, "text": "s t u m n o"}]
        (indir / "b2.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in b2))
        q = segment_dedup_ingest_stream(spark, str(indir), name, out,
                                        str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        got = {r["doc_id"]: r["cleaned_text"]
               for r in spark.read.parquet(out).collect()}
        assert got[20] == "m n o"

        # crash-replay: calling the batch fn again with an already-
        # committed batch id must reproduce the output and leave the
        # index row count unchanged
        n_before = tableio.get_backend().read(
            spark, f"{name}/{name}_segments").count()
        fn = make_segment_dedup_batch_fn(name, out,
                                         checkpoint=str(tmp_path / "ckpt"))
        replay_df = spark.createDataFrame(
            [(20, "s t u m n o")], "doc_id long, text string")
        fn(replay_df, 1)                      # batch id 1 == b2, replay
        got = {r["doc_id"]: r["cleaned_text"]
               for r in spark.read.parquet(out).collect()}
        assert got[20] == "m n o"
        n_after = tableio.get_backend().read(
            spark, f"{name}/{name}_segments").count()
        assert n_after == n_before
    finally:
        SegmentIndex(spark, name).drop()


@pytest.mark.slow
def test_span_cut_ingest_stream_cross_batch(spark, tmp_path):
    """Streaming span cut: batch 2 loses windows first seen in batch 1
    through the persisted SpanIndex."""
    import json as jsonlib

    from dlx_spark.operators.dedup_index import SpanIndex
    from dlx_spark.streaming import span_cut_ingest_stream

    name = "t_spn_stream"
    SpanIndex.create_empty(spark, name, k=3, normalize=False)
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        out = str(tmp_path / "clean")
        (indir / "b1.json").write_text(jsonlib.dumps(
            {"doc_id": 1, "text": "a b c d"}))
        q = span_cut_ingest_stream(spark, str(indir), name, out,
                                   str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        got = {r["doc_id"]: r["cleaned_text"]
               for r in spark.read.parquet(out).collect()}
        assert got[1] == "a b c d"
        (indir / "b2.json").write_text(jsonlib.dumps(
            {"doc_id": 2, "text": "a b c z"}))
        q = span_cut_ingest_stream(spark, str(indir), name, out,
                                   str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        got = {r["doc_id"]: r["cleaned_text"]
               for r in spark.read.parquet(out).collect()}
        assert got[2] == "z"
    finally:
        SpanIndex(spark, name).drop()
