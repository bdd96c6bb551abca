"""Structured Streaming surface.

The reference has NO streaming operators (SURVEY §2.7) — its incremental
machinery is commit-time maintenance of derived state on Python threads.
Here that becomes:

- ``incremental_commit_stream``: a file-source stream of JMARC JSONL
  batches driven through ``foreachBatch`` into a MarcStore commit — the
  deterministic replacement for the reference's thread families, and the
  natural shape for a change feed at scale (swap the file source for
  Kafka without touching the sink).
- event-time aggregations with watermarks (``hourly_counts``,
  ``sessionize``) over the generic events shape (ts, user_id, ...) —
  the streaming equivalents of the batch contract queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_events_stream(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """File-source stream of event JSONL (one JSON object per line)."""
    schema = schema or "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    return spark.readStream.schema(schema).json(path)


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time window with late-data watermark: the
    streaming form of the batch ``windowed_agg`` contract query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "sum_value")
    )


def sessionize(events: DataFrame, gap: str = "30 minutes",
               watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based) — the streaming form of the
    batch lag/cumsum sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                "user_id", "n_events", "sum_value")
    )


def dedup_stream(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each
    content digest ever seen on the stream — a custom stateful operator
    via ``applyInPandasWithState``.

    State is one (first_id, n_seen) pair per digest, held in the state
    store (enable the RocksDB provider at 100 TB so state spills off
    heap); duplicates arriving in any later micro-batch are dropped and
    counted.  The batch-side equivalent is ``operators.dedup.
    dedup_exact``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from dlx_spark.operators.dedup import normalized_text

    keyed = docs.select(F.col(id_col).alias("id"),
                        F.md5(normalized_text(F.col(text_col))).alias("digest"))

    def keep_first(key, pdfs, state):
        min_id, count = None, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            count += len(pdf)
            m = int(pdf["id"].min())
            min_id = m if min_id is None or m < min_id else min_id
        if state.exists:
            first_id, n_seen = state.get
            state.update((first_id, n_seen + count))
        elif min_id is not None:
            state.update((min_id, count))
            yield pd.DataFrame({"digest": [key[0]], "id": [min_id]})

    return keyed.groupBy("digest").applyInPandasWithState(
        keep_first,
        outputStructType="digest string, id long",
        stateStructType="first_id long, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def make_exactly_once_dedup_sink(run_batch, out_path: str,
                                 checkpoint: str | None = None):
    """The marker protocol shared by every streaming dedup-ingest sink:
    wraps ``run_batch(session, batch_df, replay) -> DataFrame`` (the
    index-specific dedup step, which must honor the ``replay_safe``
    contract) in the attempt/committed marker machinery, writing each
    micro-batch's survivors to ``out_path/run=<id>/batch=<id>/``.
    Used by ``make_neardedup_batch_fn`` (MinHash, optional digest
    pre-stage) and ``make_embedding_dedup_batch_fn`` (EmbeddingIndex);
    any future index that implements ``dedup_batch(..., replay_safe=)``
    plugs in the same way.

    Exactly-once by construction under foreachBatch's at-least-once
    contract, with no ledger: a replayed batch (same batch_id) runs in
    ``replay_safe`` mode — index matches against the batch's own ids
    (appended by the crashed attempt) are ignored, so the clean frame
    is identical to the first attempt's; the index append is
    ``if_absent`` (a no-op on replay); and the output directory is
    keyed by batch_id and overwritten, so re-writing it is idempotent.
    Requires doc ids unique across the stream's lifetime (standard for
    ingest pipelines; collisions would be mistaken for replays).

    The ``run=`` level guards the deleted-and-recreated-checkpoint
    case: batch ids restart at 0 there, and without the run key the new
    stream's batch 0 would silently OVERWRITE the old output.  The run
    id comes from the checkpoint's Spark-written metadata (same scheme
    as the commit sink's stream key).  ``run=``/``batch=`` are
    hive-style, so ``spark.read.parquet(out_path)`` discovers both as
    partition columns.

    The replay-vs-resend ambiguity (a re-sent identical doc id looks
    exactly like a crash replay to the index) is resolved by two
    sink-owned markers per (run, batch): a COMMITTED marker written
    after the output lands (a redelivered committed batch skips — no
    reliance on parquet's _SUCCESS, which object-store configs often
    disable), and an ATTEMPT marker written before the dedup: attempt
    marker present → this run already attempted this batch_id, so
    index matches against the batch's own ids are its crashed append
    and must be ignored (``replay_safe``); absent → first sight in
    this run, so a doc whose id is already indexed (a previous run
    ingested it) is a genuine duplicate and is DROPPED rather than
    re-emitted.  An attempt marker left behind by ANOTHER run (crash +
    checkpoint deletion) makes the sink refuse to start — those
    documents are indexed but unemitted, and proceeding would drop
    them forever.  Markers, metadata reads, and output all go through
    the Hadoop FileSystem API (dlx_spark.fsio), so checkpoint/out_path
    may live on file://, hdfs://, or an object store — atomicity
    assumptions per scheme are documented in fsio.

    Exposed separately from the stream starters so tests can drive
    crash/replay sequences directly."""
    import json

    from dlx_spark import fsio

    _rid: dict[str, str] = {}

    def run_id(session: SparkSession) -> str:
        # constant for the stream's lifetime — read the checkpoint
        # metadata once, not per micro-batch.  All marker/metadata I/O
        # goes through fsio (Hadoop FileSystem), so checkpoint and
        # out_path may live on any scheme, not just the driver's disk.
        if "v" not in _rid:
            rid = ""
            if checkpoint:
                try:
                    rid = json.loads(fsio.read_text(
                        session, fsio.join(checkpoint, "metadata"))).get("id", "")
                except Exception as exc:
                    # NEVER fall back to the shared "default" run here: a
                    # recreated stream landing in run=default could find
                    # an older run=default committed marker for its
                    # batch_id and silently skip emitting the batch.
                    # "default" is reserved for checkpoint=None (direct-
                    # driven tests).
                    raise RuntimeError(
                        f"checkpoint {checkpoint!r} was provided but its "
                        "metadata is unreadable — refusing to guess a run "
                        "id (a wrong one can silently skip batches); has "
                        "the stream started and written "
                        f"{checkpoint}/metadata?") from exc
            _rid["v"] = rid or "default"
        return _rid["v"]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        rid = run_id(session)
        rdir = fsio.join(out_path, f"run={rid}")
        final = fsio.join(rdir, f"batch={batch_id}")
        # completion is tracked by our own marker, not parquet's
        # _SUCCESS file (which is disabled on many object-store
        # configs): a redelivered committed batch must skip, never
        # overwrite good output with a now-all-duplicates empty frame
        committed = fsio.join(rdir, f"_committed_batch_{batch_id}")
        marker = fsio.join(rdir, f"_attempt_batch_{batch_id}")
        if fsio.exists(session, committed):
            # a crash between writing the committed marker and removing
            # the attempt marker leaves a stale attempt marker behind a
            # fully committed batch — clean it up here, or every future
            # run's foreign-marker scan would refuse to start over a
            # batch that needs no recovery
            fsio.remove(session, marker)
            return
        # an attempt marker left by ANOTHER run means a batch crashed
        # mid-append and its checkpoint was then deleted: those
        # documents are in the index but in no run's output, and this
        # run would wrongly drop them as 'already ingested'.  Refuse and
        # tell the operator to restore the original checkpoint so the
        # crashed batch replays in its own run.  Attempt markers whose
        # sibling committed marker exists are the stale-cleanup case
        # above, not a crash window — skip them.  (Globbed paths come
        # back scheme-qualified, so runs are compared by their run=
        # directory NAME, never by string prefix.)
        def _is_stale(m: str) -> bool:
            bid = fsio.basename(m)[len("_attempt_batch_"):]
            return fsio.exists(
                session, fsio.join(fsio.parent(m), f"_committed_batch_{bid}"))

        foreign = [m for m in fsio.glob(
            session, fsio.join(out_path, "run=*", "_attempt_batch_*"))
            if fsio.basename(fsio.parent(m)) != f"run={rid}"
            and not _is_stale(m)]
        if foreign:
            raise RuntimeError(
                "unresolved crashed micro-batch(es) from a previous run: "
                f"{foreign}. Their documents are indexed but were never "
                "emitted; restore that run's checkpoint so the batch "
                "replays (or remove the marker after manual recovery) "
                "before starting a new run.")
        replay = fsio.exists(session, marker)
        fsio.mkdirs(session, rdir)
        fsio.touch(session, marker)
        clean = run_batch(session, batch_df, replay)
        clean.write.mode("overwrite").parquet(final)
        fsio.touch(session, committed)
        fsio.remove(session, marker)

    return process_batch


def make_neardedup_batch_fn(index_name: str, out_path: str,
                            threshold: float = 0.8,
                            checkpoint: str | None = None,
                            exact_index_name: str | None = None):
    """foreachBatch function for streaming near-dedup ingest: each
    micro-batch is deduped against EVERY previously ingested document
    via the persisted MinHashIndex (operators/dedup_index.py) under the
    ``make_exactly_once_dedup_sink`` marker protocol.

    ``exact_index_name`` prepends an exact-dedup stage: each batch is
    first filtered through the named ``DigestIndex`` (hash-identical
    docs vs ALL history and within the batch), then near-deduped — the
    standard two-stage corpus-prep pipeline, with both stages
    replay-safe under the same marker protocol."""
    from dlx_spark.operators.dedup_index import DigestIndex, MinHashIndex

    def run_batch(session, batch_df, replay):
        src = batch_df
        if exact_index_name:
            src = DigestIndex(session, exact_index_name).dedup_batch(
                src, replay_safe=replay)
        return MinHashIndex(session, index_name).dedup_batch(
            src, threshold, replay_safe=replay)

    return make_exactly_once_dedup_sink(run_batch, out_path, checkpoint)


def make_embedding_dedup_batch_fn(index_name: str, out_path: str,
                                  threshold: float = 0.9,
                                  multiprobe_hamming: int = 0,
                                  checkpoint: str | None = None):
    """foreachBatch function for streaming embedding near-dedup ingest:
    each micro-batch of vectors is deduped against every previously
    ingested vector via the persisted EmbeddingIndex, under the same
    exactly-once marker protocol as the text sinks."""
    from dlx_spark.operators.dedup_index import EmbeddingIndex

    def run_batch(session, batch_df, replay):
        return EmbeddingIndex(session, index_name).dedup_batch(
            batch_df, threshold, multiprobe_hamming=multiprobe_hamming,
            replay_safe=replay)

    return make_exactly_once_dedup_sink(run_batch, out_path, checkpoint)


def neardedup_ingest_stream(spark: SparkSession, input_path: str,
                            index_name: str, out_path: str, checkpoint: str,
                            threshold: float = 0.8,
                            schema: str = "doc_id long, text string",
                            exact_index_name: str | None = None):
    """Streaming corpus ingest with cross-batch near-dedup: a JSONL file
    stream driven through ``foreachBatch`` into ``MinHashIndex.
    dedup_batch`` — the streaming form of the batch incremental-dedup
    workflow (create the index on the existing corpus first with
    ``MinHashIndex.create``).  Swap the file source for Kafka without
    touching the sink.  Returns the StreamingQuery; caller stops it."""
    docs = spark.readStream.schema(schema).json(input_path)
    fn = make_neardedup_batch_fn(index_name, out_path, threshold,
                                 checkpoint=checkpoint,
                                 exact_index_name=exact_index_name)
    return (docs.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def make_semdedup_batch_fn(index_name: str, centroids, out_path: str,
                           threshold: float = 0.7,
                           checkpoint: str | None = None):
    """foreachBatch function for streaming ONLINE SemDeDup ingest: each
    micro-batch of vectors is assigned to the written IVF index's
    inverted lists with the FROZEN centroids and pruned against the
    index's kept members (leader semantics —
    ``bucketing.semdedup_append``), under the same exactly-once marker
    protocol as the other dedup sinks.  Retrain drift away on a
    maintenance cadence with ``bucketing.refresh_ivf_index`` while the
    stream is stopped (re-quantization does not commute with
    concurrent appends — the backend raises on that race)."""
    from dlx_spark.operators import bucketing

    def run_batch(session, batch_df, replay):
        return bucketing.semdedup_append(session, index_name, batch_df,
                                         centroids, threshold=threshold,
                                         replay_safe=replay)

    return make_exactly_once_dedup_sink(run_batch, out_path, checkpoint)


def semdedup_ingest_stream(spark: SparkSession, input_path: str,
                           index_name: str, centroids, out_path: str,
                           checkpoint: str, threshold: float = 0.7,
                           schema: str = "vec_id long, embedding array<double>"):
    """Streaming embedding ingest with cross-batch SemDeDup (cluster-
    scoped leader dedup over the written IVF index — create it from
    the existing corpus with ``bucketing.write_ivf_index`` first).
    The IVF form of ``embedding_dedup_ingest_stream``; returns the
    StreamingQuery, caller stops it."""
    vecs = spark.readStream.schema(schema).json(input_path)
    fn = make_semdedup_batch_fn(index_name, centroids, out_path,
                                threshold=threshold, checkpoint=checkpoint)
    return (vecs.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def make_span_cut_batch_fn(index_name: str, out_path: str,
                           checkpoint: str | None = None):
    """foreachBatch function for streaming duplicated-span cutting
    (keep-first, Lee-et-al): each micro-batch's windows are cut against
    every window ever seen (persisted ``SpanIndex``) and the cleaned
    documents land under the exactly-once marker protocol.  Emitted
    rows carry (doc_id, n_words, n_words_cut, cleaned_text)."""
    from dlx_spark.operators.dedup_index import SpanIndex

    def run_batch(session, batch_df, replay):
        return SpanIndex(session, index_name).dedup_batch(
            batch_df, replay_safe=replay)

    return make_exactly_once_dedup_sink(run_batch, out_path, checkpoint)


def span_cut_ingest_stream(spark: SparkSession, input_path: str,
                           index_name: str, out_path: str,
                           checkpoint: str,
                           schema: str = "doc_id long, text string"):
    """Streaming corpus ingest with cross-batch duplicated-span cutting
    — the window-granularity companion of ``segment_dedup_ingest_stream``
    (create the index first with ``SpanIndex.create`` /
    ``SpanIndex.create_empty``).  Returns the StreamingQuery."""
    docs = spark.readStream.schema(schema).json(input_path)
    fn = make_span_cut_batch_fn(index_name, out_path,
                                checkpoint=checkpoint)
    return (docs.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def make_segment_dedup_batch_fn(index_name: str, out_path: str,
                                checkpoint: str | None = None):
    """foreachBatch function for streaming SEGMENT dedup ingest (the
    C4 repeated-unit rule, sub-document granularity): each micro-batch
    is segmented, cut against every segment ever kept (persisted
    ``SegmentIndex``), rebuilt, and the cleaned documents land under
    the same exactly-once marker protocol as the other dedup sinks.
    The emitted rows carry the rebuilt-document schema
    (doc_id, n_segments, n_kept, cleaned_text, n_words_kept)."""
    from dlx_spark.operators.dedup_index import SegmentIndex

    def run_batch(session, batch_df, replay):
        return SegmentIndex(session, index_name).dedup_batch(
            batch_df, replay_safe=replay)

    return make_exactly_once_dedup_sink(run_batch, out_path, checkpoint)


def segment_dedup_ingest_stream(spark: SparkSession, input_path: str,
                                index_name: str, out_path: str,
                                checkpoint: str,
                                schema: str = "doc_id long, text string"):
    """Streaming corpus ingest with cross-batch repeated-segment
    removal — the sub-document companion of ``neardedup_ingest_stream``
    (create the index first: ``SegmentIndex.create`` on the existing
    corpus, or ``SegmentIndex.create_empty`` for a fresh stream).
    Returns the StreamingQuery; caller stops it."""
    docs = spark.readStream.schema(schema).json(input_path)
    fn = make_segment_dedup_batch_fn(index_name, out_path,
                                     checkpoint=checkpoint)
    return (docs.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def embedding_dedup_ingest_stream(spark: SparkSession, input_path: str,
                                  index_name: str, out_path: str,
                                  checkpoint: str, threshold: float = 0.9,
                                  multiprobe_hamming: int = 0,
                                  schema: str = "vec_id long, embedding array<double>"):
    """Streaming embedding ingest with cross-batch cosine near-dedup —
    the EmbeddingIndex form of ``neardedup_ingest_stream`` (create the
    index on the existing vectors first with ``EmbeddingIndex.create``).
    Returns the StreamingQuery; caller stops it."""
    vecs = spark.readStream.schema(schema).json(input_path)
    fn = make_embedding_dedup_batch_fn(index_name, out_path, threshold,
                                       multiprobe_hamming,
                                       checkpoint=checkpoint)
    return (vecs.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


#: above this many dimension rows ``enrich_stream`` drops its forced
#: broadcast and lets Spark's size-based planning decide — the same
#: ceiling rationale as ``MergeOnReadTable.BROADCAST_MAX_DELTA_ROWS``
#: and the store's heading-dimension gate: a forced broadcast of an
#: unbounded caller-provided dimension is a driver OOM at scale, not a
#: hint.
ENRICH_BROADCAST_MAX_ROWS = 4_000_000


def enrich_stream(events: DataFrame, dim: DataFrame, on: str = "user_id",
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream.  The static side re-resolves per micro-batch (so a refreshed
    dimension table is picked up).  The broadcast hint is size-gated
    (one setup-time count, not per batch): under
    ``ENRICH_BROADCAST_MAX_ROWS`` the dimension is pinned broadcast —
    the standard shape for decorating an event stream with
    slowly-changing reference data; above it the join runs unhinted
    and Spark's size-based planning picks the strategy (a shuffled
    stream-static join is the correct plan for a huge dimension, a
    forced driver-side broadcast is not)."""
    if dim.count() <= ENRICH_BROADCAST_MAX_ROWS:
        dim = F.broadcast(dim)
    return events.join(dim, on, how)


def incremental_commit_stream(spark: SparkSession, input_path: str, store,
                              record_type: str = "bib",
                              checkpoint: str | None = None,
                              fmt: str = "jsonl"):
    """Stream record FILES into a MarcStore: each micro-batch is one
    deterministic commit (id assignment, validation, derived refresh,
    history append) — the reference's 4 commit-time thread families as a
    single exactly-once-per-batch pipeline.

    ``fmt`` selects the wire format and the streaming record framing:

    - ``"jsonl"`` — one JMARC JSON document per line (default);
    - ``"mrk"`` — records separated by blank lines (the text source's
      ``lineSep`` makes each streamed row one whole record chunk, the
      same framing the batch reader gets from the Hadoop delimiter);
    - ``"xml"`` — MARCXML split on ``</record>``.

    All three parse executor-side with the SAME chunk parsers as the
    batch readers (sources/marc_io.py), so a dump ingested as a stream
    and the same dump ingested with ``read_mrk → commit_frame`` produce
    identical stores.

    Returns the StreamingQuery; caller stops it."""
    checkpoint = checkpoint or f"{store.root}/_checkpoints/{record_type}"
    reader = spark.readStream.schema("value string")
    if fmt == "mrk":
        reader = reader.option("lineSep", "\n\n")
    elif fmt == "xml":
        reader = reader.option("lineSep", "</record>")
    elif fmt != "jsonl":
        raise ValueError(f"fmt must be jsonl|mrk|xml, got {fmt!r}")
    raw = reader.text(input_path)
    process_batch = make_commit_batch_fn(store, record_type, checkpoint,
                                         fmt=fmt)
    writer = (raw.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint)
              .trigger(availableNow=True))
    return writer.start()


LEDGER_COMPACT_EVERY = 64


def make_commit_batch_fn(store, record_type: str, checkpoint: str,
                         fmt: str = "jsonl"):
    """The foreachBatch function behind ``incremental_commit_stream``,
    exposed for direct testing of its replay semantics.

    foreachBatch is at-least-once: after a crash the last micro-batch
    replays with the SAME batch_id, and a naive replayed commit would
    duplicate records (fresh ids for id-less rows) and double-append
    history.  This sink makes the replay EXACTLY-ONCE by making the
    batch itself deterministic and every crash window recoverable:

    1. The batch is parsed executor-side and STAGED to parquet with ids
       pre-assigned deterministically (``max_id`` + row_number over a
       content-hash order) and a snapshot of which ids pre-existed in
       the live table; a replay reuses the stage, so ids and history
       created-stamps cannot drift between attempts.
    2. An INTENT marker (atomic rename) records, before the commit, the
       batch timestamp and the history table's manifest VERSION; a
       replay that finds the marker first rolls the history table back
       to that version (``restore_version`` — the crashed attempt's
       appended segments become unreferenced, valid even if a
       compaction folded them in between), then re-runs the commit
       from the stage — which is now idempotent (explicit ids, fixed
       ``now``, snapshot ``prev_ids``; the live re-append supersedes
       the crashed attempt's identical rows by merge-on-read
       precedence).
    3. The (stream-instance, batch_id) LEDGER row is appended only after
       the commit lands; the marker is removed last.  A crash between
       commit and ledger replays into the recovery path above, not into
       a duplicate commit.

    The stream instance is the checkpoint path PLUS the run id Spark
    writes into ``{checkpoint}/metadata`` at stream start, so a deleted
    and recreated checkpoint (batch ids restarting at 0) is a new stream,
    never mistaken for a replay.  The ledger self-compacts every
    ``LEDGER_COMPACT_EVERY`` batches (ledger rows are idempotent facts,
    so compaction needs no atomic swap: add the merged file, then drop
    the old ones)."""
    import hashlib
    import json
    from datetime import datetime, timezone

    from dlx_spark import fsio, schemas
    from dlx_spark.marc.record import Auth, Bib

    cls = Bib if record_type == "bib" else Auth
    commits_log = fsio.join(store.root, f"_stream_commits_{record_type}")
    hist_table = store._history_name(record_type)
    _key_cache: dict[str, str] = {}

    def stream_key(session) -> str:
        if "k" not in _key_cache:
            run_id = ""
            meta = fsio.join(checkpoint, "metadata")
            try:
                run_id = json.loads(
                    fsio.read_text(session, meta)).get("id", "")
            except Exception:
                pass  # direct-driven tests / pre-start probes: path-only key
            # the canonical scheme-qualified spelling, so /x, file:/x and
            # file:///x derive the SAME persisted ledger key
            raw = f"{fsio.qualified(session, checkpoint)}:{run_id}"
            _key_cache["k"] = hashlib.md5(raw.encode()).hexdigest()[:16]
        return _key_cache["k"]

    def ledger_has(session, key: str, batch_id: int) -> bool:
        if not any(f.endswith(".parquet")
                   for f in fsio.listdir(session, commits_log)):
            return False
        return bool(session.read.parquet(commits_log)
                    .filter((F.col("stream") == key)
                            & (F.col("batch_id") == batch_id))
                    .limit(1).count())

    def ledger_append(session, key: str, batch_id: int) -> None:
        (session.createDataFrame([(key, int(batch_id))],
                                 "stream string, batch_id long")
         .write.mode("append").parquet(commits_log))
        files = [f for f in fsio.listdir(session, commits_log)
                 if f.endswith(".parquet")]
        if len(files) > LEDGER_COMPACT_EVERY:
            tmp = commits_log + "__compact_tmp"
            (session.read.parquet(commits_log).distinct().coalesce(1)
             .write.mode("overwrite").parquet(tmp))
            part = next(f for f in fsio.listdir(session, tmp)
                        if f.endswith(".parquet"))
            fsio.rename(session, fsio.join(tmp, part),
                        fsio.join(commits_log,
                                  f"compact-{key}-{batch_id}.parquet"),
                        overwrite=True)
            fsio.rmtree(session, tmp)
            for f in files:  # pre-compaction list only; new rows are safe
                fsio.remove(session, fsio.join(commits_log, f))

    def marc_to_iso(dt: datetime) -> str:
        return dt.isoformat()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        key = stream_key(session)
        fsio.mkdirs(session, commits_log)
        marker_path = fsio.join(commits_log, f"_intent_{key}_{batch_id}.json")
        stage_path = fsio.join(commits_log, f"_batch_{key}_{batch_id}")

        if ledger_has(session, key, batch_id):
            # crash landed between ledger append and cleanup: finish it
            fsio.remove(session, marker_path)
            fsio.rmtree(session, stage_path)
            return

        if fsio.exists(session, marker_path):
            # crashed attempt: roll the history table back to the
            # pre-commit manifest version (the attempt's appended
            # segments become unreferenced — valid even if compaction
            # folded them, since restored manifests reference the
            # original immutable segments), then fall through to the
            # idempotent re-run
            marker = json.loads(fsio.read_text(session, marker_path))
            hv = marker["history_version"]
            if hv is None:
                if store.backend.exists(session, hist_table):
                    store.backend.drop(session, hist_table)
            else:
                store.backend.restore_version(session, hist_table, hv)
        else:
            # fresh attempt: parse executor-side with the SAME chunk
            # parser as the corresponding batch reader — the batch never
            # funnels raw lines or record rows through the driver, so
            # micro-batch size is bounded by the cluster, not driver
            # memory

            if fmt == "mrk":
                from dlx_spark.sources.marc_io import mrk_chunk_parser
                parse = mrk_chunk_parser(record_type)
            elif fmt == "xml":
                from dlx_spark.sources.marc_io import marcxml_chunk_parser
                parse = marcxml_chunk_parser(record_type)
            else:
                def parse(line):
                    line = (line or "").strip()
                    if not line:
                        return []
                    return [cls(json.loads(line)).to_row()]

            rows = batch_df.rdd.flatMap(lambda r: parse(r["value"]))
            if rows.isEmpty():
                ledger_append(session, key, batch_id)
                return
            nested = session.createDataFrame(rows, schema=schemas.MARC_INGEST)

            # deterministic id pre-assignment: max_id + row_number over a
            # content-hash order, so a replay derives the SAME ids.  The
            # global window is one single-task shuffle over ONE bounded
            # micro-batch — not a scale concern.
            from pyspark.sql import Window
            frame_max = nested.agg(F.max("_id")).first()[0] or 0
            base = max(store.max_id(record_type), int(frame_max))
            ordkey = F.xxhash64(F.to_json(F.struct(*nested.columns)))
            wn = Window.orderBy(ordkey)
            assigned = (nested.filter(F.col("_id").isNull())
                        .withColumn("_id", (F.lit(base)
                                            + F.row_number().over(wn)).cast("long")))
            nested = (nested.filter(F.col("_id").isNotNull())
                      .unionByName(assigned))

            # snapshot which ids pre-exist live, baked into the stage so
            # replayed history created-stamps match the first attempt
            live_ids = (store.table(record_type)
                        .select(F.col("_id"), F.lit(True).alias("_existed")))
            (nested.join(live_ids, "_id", "left")
             .withColumn("_existed", F.coalesce("_existed", F.lit(False)))
             .write.mode("overwrite").parquet(stage_path))

            pre_version = (store.backend.latest_manifest(
                session, hist_table)["version"]
                if store.backend.exists(session, hist_table) else None)
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            marker = {"now": marc_to_iso(now), "history_version": pre_version}
            fsio.write_text_atomic(session, marker_path, json.dumps(marker))

        staged = session.read.parquet(stage_path)
        store.commit_frame(staged.drop("_existed"), record_type=record_type,
                           user=f"stream:{key}:{batch_id}",
                           now=datetime.fromisoformat(marker["now"]),
                           auth_check=False,
                           prev_ids=staged.filter(F.col("_existed"))
                                          .select(F.col("_id").alias("record_id")))
        ledger_append(session, key, batch_id)
        fsio.remove(session, marker_path)
        fsio.rmtree(session, stage_path)

    return process_batch
