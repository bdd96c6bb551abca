"""Merge-on-read tables: O(batch) upserts on the versioned backend.

A ``MergeOnReadTable`` gives a keyed table Delta/Hudi/Iceberg
merge-ON-READ semantics (re-derived from the published designs — the
same segment-log idea as ``tableio_versioned``, plus key-level
precedence) using only that backend's primitives:

- **A commit appends one immutable delta segment** holding the batch's
  rows plus one tombstone row per deleted key — never a rewrite of any
  existing file.  Commit I/O is O(batch) regardless of table size: this
  is the write-amplification fix for upsert-heavy stores, where a
  rewrite-the-bucket layout made a 1% batch cost ~35% of a full rebuild
  (measured: tools/marc_bench.py --store).
- **The manifest's segment ORDER is key precedence.**  ``read()``
  resolves: for every key, the rows from the HIGHEST segment that
  mentions the key win (a mention is any row — real or tombstone).
  Segment 0 — the last compaction's output, the overwhelming bulk — is
  never shuffled: it is anti-joined against the (small, explicitly
  broadcast) set of keys the delta segments mention.  Later segments
  are batch-sized by construction, so their latest-mention resolution
  shuffles only deltas.
- **Compaction is tiered.**  ``compact_deltas()`` (MINOR) folds only
  the delta suffix into one merged segment — latest-mention precedence
  applied among the deltas, tombstones preserved, the store-sized base
  referenced by id and never read — so steady maintenance is
  O(accumulated batches); ``compact()`` (FULL) folds the resolved
  table into one fresh segment.  Each fold is one backend ``rewrite``
  (one segment, one manifest commit): appends racing it are carried
  with precedence preserved, and a fold whose segment list a raced
  rewrite replaced commits nothing.
  ``upsert`` folds inline at the backend's ``AUTO_COMPACT_AT``
  segments — bounding how many deltas a read ever pays for — minor
  while the backend's ``prefers_minor_fold`` rule holds (and the
  deltas stay under the broadcast gate), full otherwise.  Its appends
  skip the backend's own fold: a concatenating fold would resurrect
  superseded rows.
- **Crash safety and multi-writer are inherited**, not re-implemented:
  the commit point is the backend's manifest CAS (atomic rename /
  external CAS service), readers are snapshot-isolated, ``vacuum``
  reclaims superseded segments and the orphan segment of a rewrite
  that crashed before its commit.

Tombstones ride as rows with ``_mor_deleted = true`` and NULL payload
columns, so one uniform resolution covers upsert, delete, and
replace-the-key's-row-set (a segment carrying both a tombstone and
fresh rows for a key resolves to the fresh rows — the winning segment's
non-deleted rows).  Keys may have MANY rows per segment (index tables:
one row per token), in which case a batch must carry a tombstone for
every touched key so stale rows die even when the new row set is empty.

Reference analog: the MARC store's live/history/token collections
(dlx/marc/__init__.py:856-1234) are updated per-record in MongoDB; this
module is the batch-engine equivalent of those per-record in-place
updates, sized for 100 TB (a one-record commit writes one tiny segment,
not 1/N of the store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dlx_spark.tableio import ConcurrentWriteError
from dlx_spark.tableio_versioned import VersionedTableBackend

#: internal columns (never visible through read())
DELETED = "_mor_deleted"
_SEG = "_mor_seg"
_LS = "_mor_ls"


class MergeOnReadTable:
    """Keyed merge-on-read table over ``VersionedTableBackend`` (see
    module docstring).  ``partition_cols`` become hive partition dirs
    of every segment, so partition-pruning filters (a bucket column, a
    tag) prune base AND delta scans at the listing level."""

    #: above this many total delta rows the resolver stops FORCING a
    #: broadcast of the delta key set and lets Catalyst/AQE pick the
    #: join strategy instead.  The forced broadcast assumes deltas are
    #: batch-sized; a bulk ingest (commit_frame of the whole corpus
    #: onto an existing table) can append a delta with 10^8+ keys,
    #: and force-broadcasting that set would collect it to the driver
    #: and OOM — at that size a shuffle of the base is the CORRECT
    #: plan, not a failure mode.  Checked per manifest version with a
    #: footer-only count (zero-column parquet scan), memoized so warm
    #: readers pay nothing.
    BROADCAST_MAX_DELTA_ROWS = 4_000_000

    def __init__(self, backend: VersionedTableBackend, table: str,
                 key: str, partition_cols: list[str] | None = None,
                 extra_merge=None, sort_col: str | None = None):
        self.backend = backend
        self.table = table
        self.key = key
        self.partition_cols = list(partition_cols or [])
        #: within-partition clustering column for every segment write
        #: (advisory — parquet row-group min/max pruning).  Defaults to
        #: the key (point-read shape); tables whose hot filter is a
        #: DIFFERENT scalar pass it here (the token index clusters by
        #: value_norm: exact-value predicates skip row groups, while
        #: its key only ever feeds hash joins that gain nothing from
        #: sortedness).
        self.sort_col = sort_col or key
        #: ``extra_merge(new_extra, head_extra) -> dict`` — when set,
        #: EVERY publish of this table (upsert append, compact /
        #: overwrite / rebucket rewrite) folds its metadata onto the
        #: committed head's inside the commit, instead of taking one
        #: side verbatim.  Required for metadata that must survive
        #: races: a write derived from an old snapshot must not roll
        #: back e.g. a monotonic max-assigned-id hint a raced commit
        #: had advanced.
        self.extra_merge = extra_merge
        #: compactions triggered inline by upsert (probe observable);
        #: ``auto_compactions_minor`` counts the subset that folded
        #: only the delta suffix (see ``_should_minor_compact``)
        self.auto_compactions = 0
        self.auto_compactions_minor = 0
        # (segments tuple) -> total delta rows, for the broadcast guard
        self._delta_rows_memo: tuple[tuple[str, ...], int] | None = None

    # ------------------------------------------------------------ meta

    def exists(self, spark: SparkSession) -> bool:
        return self.backend.exists(spark, self.table)

    def manifest(self, spark: SparkSession) -> dict:
        return self.backend.latest_manifest(spark, self.table)

    def meta(self, spark: SparkSession) -> dict:
        """Caller-owned table metadata (committed atomically with the
        data it describes — e.g. the bucket modulus behind a partition
        column)."""
        return dict(self.manifest(spark).get("extra") or {})

    def segments(self, spark: SparkSession) -> list[str]:
        """Current segment ids in precedence order ([] for no table) —
        callers snapshot this before a multi-table commit so recovery
        can identify exactly the segments a crashed batch added."""
        if not self.exists(spark):
            return []
        return list(self.manifest(spark)["segments"])

    def _schema(self, manifest: dict) -> T.StructType:
        import json
        return T.StructType.fromJson(json.loads(manifest["schema"]))

    # ----------------------------------------------------------- write

    def overwrite(self, df: DataFrame, extra: dict | None = None) -> None:
        """Replace the whole table with ``df`` (the bulk-load / rebuild
        path — one clustered segment, no read-side resolution work).
        ``df`` must carry the key and partition columns.  Deltas that
        race the rewrite are re-applied ON TOP of the new content
        (correct for a rebuild-from-live); a raced rewrite that
        replaced the segment list raises ConcurrentWriteError."""
        spark = df.sparkSession
        out = df.withColumn(DELETED, F.lit(False))
        if self.exists(spark):
            token = list(self.manifest(spark)["segments"])
            self._rewrite(out, token, extra=extra)
        else:
            self.backend.write(
                out, self.table, partition_cols=self.partition_cols,
                extra=extra, sort_col=self.sort_col)

    def upsert(self, rows: DataFrame | None = None,
               tombstone_keys: DataFrame | None = None,
               extra: dict | None = None,
               expect_meta: dict | None = None,
               expect_create: bool = False) -> None:
        """Commit one batch: ``rows`` replace each touched key's row
        set; ``tombstone_keys`` (key + partition columns, one row per
        key) delete keys.  For multi-row-per-key tables the caller must
        tombstone every touched key (rows alone only SUPERSEDE a key's
        previous rows because the tombstone marks the mention — see
        module docstring).  O(batch) I/O; appends one segment.
        ``expect_meta`` asserts the table metadata the batch's
        partition values were derived under (e.g. the bucket modulus)
        inside the commit — raising ConcurrentWriteError instead of
        publishing mis-partitioned rows when a geometry change raced
        this batch."""
        if rows is None and tombstone_keys is None:
            raise ValueError("upsert needs rows and/or tombstone_keys")
        spark = (rows if rows is not None else tombstone_keys).sparkSession
        if self.exists(spark):
            schema = self._schema(self.manifest(spark))
        elif rows is None:
            return      # deletes against a table that never existed
        else:
            schema = rows.withColumn(DELETED, F.lit(False)).schema
        parts = []
        if rows is not None:
            parts.append(self.backend._conform(
                rows.withColumn(DELETED, F.lit(False)), schema))
        if tombstone_keys is not None:
            parts.append(self.backend._conform(
                tombstone_keys.withColumn(DELETED, F.lit(True)), schema))
        delta = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        n_after = self.backend.append(
            delta, self.table, partition_cols=self.partition_cols,
            extra=extra, extra_merge=self.extra_merge,
            expect_extra=expect_meta, expect_create=expect_create,
            sort_col=self.sort_col, fold=False)
        if n_after >= self.backend.AUTO_COMPACT_AT:
            self.auto_compactions += 1
            manifest = self.manifest(spark)
            if self._should_minor_compact(spark, manifest):
                self.auto_compactions_minor += 1
                self.compact_deltas(spark)
            else:
                self.compact(spark)

    # ------------------------------------------------------------ read

    def read(self, spark: SparkSession) -> DataFrame:
        """The resolved table (internal columns dropped).  Partition /
        key filters applied by the caller push into base and delta
        scans; the key sets joined against are delta-sized and
        explicitly broadcast, so the base is NEVER shuffled by
        resolution."""
        return self._resolve(spark, self.manifest(spark), hint=True)

    def _resolve(self, spark: SparkSession, manifest: dict,
                 hint: bool) -> DataFrame:
        segs = manifest["segments"]
        base = (self.backend.segment_df(spark, manifest, 0)
                .filter(~F.col(DELETED)))
        if len(segs) == 1:
            return base.drop(DELETED)
        deltas = None
        for i in range(1, len(segs)):
            part = (self.backend.segment_df(spark, manifest, i)
                    .withColumn(_SEG, F.lit(i)))
            deltas = part if deltas is None else deltas.unionByName(part)
        latest = deltas.groupBy(self.key).agg(F.max(_SEG).alias(_LS))
        touched = latest.select(self.key)
        if hint and self._delta_rows(spark, manifest) \
                > self.BROADCAST_MAX_DELTA_ROWS:
            # a delta this size (a bulk ingest landed as one segment)
            # would OOM the driver if force-broadcast; shuffling the
            # base once is the correct plan until compact() folds it
            hint = False
        if hint:
            # deltas are batch-sized by construction (AUTO_COMPACT_AT
            # bounds how many batches accumulate), and Catalyst's
            # post-aggregate size estimate can silently promote this to
            # a shuffle of the full base — force the broadcast.  Bulk
            # rewrites that would break the assumption belong in
            # overwrite()/compact() (which resolves unhinted).
            latest, touched = F.broadcast(latest), F.broadcast(touched)
        base_live = base.join(touched, self.key, "left_anti")
        delta_live = (deltas.join(latest, self.key)
                      .filter((F.col(_SEG) == F.col(_LS))
                              & ~F.col(DELETED))
                      .drop(_SEG, _LS))
        return base_live.drop(DELETED).unionByName(delta_live.drop(DELETED))

    def _delta_rows(self, spark: SparkSession, manifest: dict) -> int:
        """Total rows across the delta segments (tombstones included) —
        the broadcast-guard input.  A zero-column count over parquet is
        answered from file footers, and the result is memoized per
        segment list, so steady-state reads (same manifest) pay no job
        at all."""
        segs = tuple(manifest["segments"])
        if self._delta_rows_memo and self._delta_rows_memo[0] == segs:
            return self._delta_rows_memo[1]
        n = 0
        for i in range(1, len(segs)):
            n += self.backend.segment_df(spark, manifest, i).count()
        self._delta_rows_memo = (segs, n)
        return n

    def row_estimate(self, spark: SparkSession) -> int:
        """Footer-only UPPER bound on live rows: total rows across ALL
        segments (tombstones and superseded mentions included).  Cheap
        — zero-column counts are answered from parquet footers — and
        conservative in the safe direction for broadcast gating (an
        over-estimate drops a forced broadcast early, never late).
        Memoized per segment list alongside the delta-row guard."""
        manifest = self.manifest(spark)
        base = (self.backend.segment_df(spark, manifest, 0).count()
                if manifest["segments"] else 0)
        return base + self._delta_rows(spark, manifest)

    def read_segments_since(self, spark: SparkSession,
                            base_segments: list[str]) -> DataFrame | None:
        """The rows (tombstones included, ``_mor_deleted`` exposed) of
        every segment NOT in ``base_segments`` — i.e. the batches
        committed since a caller's ``segments()`` snapshot.  This is
        the recovery primitive: a crashed multi-table protocol replays
        exactly the batch content its marker brackets, O(batch).
        Returns None when nothing was added."""
        manifest = self.manifest(spark)
        known = set(base_segments)
        out = None
        for i, seg in enumerate(manifest["segments"]):
            if seg in known:
                continue
            part = self.backend.segment_df(spark, manifest, i)
            out = part if out is None else out.unionByName(part)
        return out

    # ----------------------------------------------------- maintenance

    def _should_minor_compact(self, spark: SparkSession,
                              manifest: dict) -> bool:
        """True when folding only the deltas keeps the read fast path:
        the folded delta (upper-bounded by the footer-count of delta
        rows — merging only shrinks) stays under the broadcast gate AND
        the backend's ``prefers_minor_fold`` rule holds.  Past either
        the table has outgrown delta-resolution and the full fold is
        the right maintenance."""
        d = self._delta_rows(spark, manifest)
        if d > self.BROADCAST_MAX_DELTA_ROWS:
            return False
        base = self.backend.segment_df(spark, manifest, 0).count()
        return self.backend.prefers_minor_fold(
            len(manifest["segments"]), base, d)

    def compact_deltas(self, spark: SparkSession) -> int:
        """MINOR compaction: fold the delta segments (everything past
        base segment 0) into ONE merged delta, leaving the base
        untouched — O(deltas) I/O, the scheduled-maintenance path for
        store-sized tables where ``compact()``'s full fold is a rewrite
        of the world.  Latest-mention precedence is applied AMONG the
        deltas (per key, the highest delta's rows win); tombstones
        SURVIVE the merge, since they still shadow base rows — so reads,
        crash-replay over ``read_segments_since``, and a later full
        ``compact()`` all see exactly the same resolved content, with
        segment-list length back to 2.

        Returns the number of delta segments folded (0 when there is
        at most one delta, or when a raced full rewrite replaced the
        segment list — the backend's ``rewrite`` commits nothing then,
        and the raced rewrite already did the maintenance)."""
        try:
            manifest = self.manifest(spark)
        except FileNotFoundError:
            return 0
        token = list(manifest["segments"])
        if len(token) <= 2:
            return 0
        merged = self.backend._conform(self._merged_deltas(spark, manifest),
                                       self._schema(manifest))
        ok = self.backend.rewrite(merged, self.table, token, keep=1,
                                  sort_col=self.sort_col)
        if ok:
            self._delta_rows_memo = None
        return len(token) - 1 if ok else 0

    def _merged_deltas(self, spark: SparkSession,
                       manifest: dict) -> DataFrame:
        """The delta segments collapsed to each key's winning mention
        (highest segment wins; that segment's rows — real AND tombstone
        — are kept verbatim).  Internal ``_mor_deleted`` retained."""
        segs = manifest["segments"]
        deltas = None
        for i in range(1, len(segs)):
            part = (self.backend.segment_df(spark, manifest, i)
                    .withColumn(_SEG, F.lit(i)))
            deltas = part if deltas is None else deltas.unionByName(part)
        latest = deltas.groupBy(self.key).agg(F.max(_SEG).alias(_LS))
        if self._delta_rows(spark, manifest) \
                <= self.BROADCAST_MAX_DELTA_ROWS:
            latest = F.broadcast(latest)
        return (deltas.join(latest, self.key)
                .filter(F.col(_SEG) == F.col(_LS))
                .drop(_SEG, _LS))

    def compact(self, spark: SparkSession) -> int:
        """Fold the resolved table into one segment (precedence applied
        and discarded).  Returns the number of segments folded, 0 if
        already compact or a raced rewrite replaced the segment list.
        Raced appends are carried unfolded."""
        try:
            manifest = self.manifest(spark)
        except FileNotFoundError:
            return 0
        token = list(manifest["segments"])
        if len(token) <= 1:
            return 0
        resolved = (self._resolve(spark, manifest, hint=False)
                    .withColumn(DELETED, F.lit(False)))
        ok = self.backend.rewrite(resolved, self.table, token,
                                  extra_merge=self.extra_merge,
                                  sort_col=self.sort_col)
        return len(token) if ok else 0

    def repartition_table(self, spark: SparkSession, derive,
                          extra: dict) -> None:
        """Atomic geometry change (REBUCKET): publish ``derive(resolved)``
        — the resolved table with RECOMPUTED partition columns —
        together with the ``extra`` metadata describing the new
        geometry, as one manifest commit.  The commit requires the
        segment list to be exactly the one ``resolved`` was read from:
        a commit that raced the rewrite carries OLD-geometry partition
        values, which would silently mis-prune after it, so
        ConcurrentWriteError is raised and the caller re-derives."""
        manifest = self.manifest(spark)
        df = derive(self._resolve(spark, manifest, hint=False))
        self._rewrite(df.withColumn(DELETED, F.lit(False)),
                      list(manifest["segments"]), exact=True, extra=extra)

    def _rewrite(self, df: DataFrame, token: list[str], **kw) -> None:
        """A re-derive's rewrite: one backend ``rewrite`` whose conflict
        raises instead of returning."""
        if not self.backend.rewrite(df, self.table, token,
                                    extra_merge=self.extra_merge,
                                    sort_col=self.sort_col, **kw):
            raise ConcurrentWriteError(
                f"{self.table}: the segment list changed while the "
                f"rewrite was derived — re-derive and retry")

    def drop(self, spark: SparkSession) -> None:
        self.backend.drop(spark, self.table)
