"""Manifest-committed versioned tables: the engine's table backend
(``tableio.get_backend()``), a transactional commit protocol on plain
parquet re-derived from the published Delta Lake design (Armbrust et
al., "Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020):

- **Data files are immutable.**  Every write/append produces a fresh
  segment directory ``<root>/data/<table>-<uuid>/`` that is never
  modified (the table name makes executed plans and disk usage
  attributable; the uuid makes the name unique).
- **Two write calls.**  ``write`` replaces a table with one segment;
  ``append`` adds one, conformed to the head's schema.  Both take the
  layout as arguments (a clustering ``key``, hive ``partition_cols``,
  a within-partition ``sort_col``) and caller-owned ``extra`` metadata.
- **One manifest log per table group.**  ``"<group>/<member>"`` names
  a member of a group (a MARC store's tables; an index's); a plain name
  is a group of one.  A group version is one JSON manifest
  ``<root>/tables/<group>/v<NNNNNNNNNN>.json`` holding every member's
  entry (segments, layout, schema, caller ``extra``) — Delta keeps one
  log per table; this widens it to the tables one write touches.
- **The commit point is one file rename.**  A write is staged
  (``stage_*``: the segment is written, nothing published), then
  ``publish`` commits every staged member of one group as ONE version.
  A commit writes the manifest to a ``.tmp-*`` sibling and renames it
  to its version-numbered name.  Hadoop's rename never overwrites, so two
  writers racing for the same version number produce exactly one
  winner; the loser re-reads the new latest and retries with the next
  number — optimistic concurrency, which makes concurrent APPENDS to
  the same table safe (each retry re-merges its segment list onto the
  fresh head).  A crash before the rename leaves only an invisible tmp
  file and unreferenced segments: members land all-or-nothing.
- **Readers are snapshot-isolated.**  ``read`` resolves the latest
  manifest at call time and pins its segment paths into the plan; later
  commits add new manifests and segments but never touch resolved
  files, so a DataFrame stays valid across any number of overwrites
  until ``vacuum`` reclaims unreferenced segments.
- **A rewrite is one commit.**  Every fold and re-derive (compaction,
  a merge-on-read overwrite, a rebucket, an IVF refresh) goes through
  ``rewrite``: it writes one fresh segment and publishes it in one
  manifest commit that is checked against the caller's snapshot of the
  segment list — the way Delta's OPTIMIZE is one log commit.  Appends
  that raced the rewrite are carried; a raced rewrite that replaced the
  list makes this one commit nothing.  Until that commit the rewrite is
  unpublished: a crash leaves only an unreferenced segment for
  ``vacuum``, and nothing is re-published when the table is next
  opened.
- **Appends fold themselves.**  An append whose commit leaves
  ``AUTO_COMPACT_AT`` segments folds the table with one such rewrite:
  only the appended suffix while it is small next to segment 0
  (``MINOR_FOLD_MAX_FRACTION``), the whole table otherwise — the way
  Delta treats compaction as an ordinary table commit rather than a
  per-caller policy.  Merge-on-read tables, whose segment order is key
  precedence, opt out and fold with their own resolution.

Scheme contract (TESTED, not just documented — tests/test_commit_schemes.py):
the manifest publish routes through fsio's pluggable commit scheme, the
analog of Delta's LogStore abstraction.  On atomic-rename filesystems
(local, HDFS — the default ``HadoopRenameScheme``) the rename IS the
CAS.  On object stores, where a plain rename is copy+delete and two
racers can both "succeed", the backend REFUSES to commit through a
scheme that does not declare ``atomic_put_if_absent`` (clear error at
the first commit), and runs correctly through a CAS-capable scheme —
``fsio.SingleDriverCASScheme`` (the S3SingleDriverLogStore analog:
single-driver deployments) or ``fsio.ExternalCASScheme`` (multi-driver:
the commit point moves into an external CAS service — S3 conditional
PUT / DynamoDB — and torn manifests become reader-repairable from the
commit record; proven across two driver processes in
tests/test_multiprocess_commit.py).  Under a
scheme whose publish can TEAR the destination (``atomic_publish=False``)
a torn manifest is provably an unacknowledged crash remnant — its
writer never got success — so readers SKIP it and resolve the latest
parseable version, writers allocate version numbers above it, and
vacuum clears remnants once a later commit exists.  Under an
atomic-publish scheme the same state can only be external corruption
and stays a loud error.

Layout: a keyed segment is written clustered — hash-repartitioned by
its key with no fixed partition count, so AQE coalesces the shuffle to
the data's size (a few-hundred-row append is one file per table, a
large write splits at ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
— and sorted by key within each file for row-group pruning.  The tables
are path-based, so there is no catalog bucketing metadata and a join
against an index table that is too big to broadcast shuffles both
sides.  (Delta/Iceberg recover the clustering benefit with their own
mechanisms — Z-ordering, sorted manifests.)

Every group manifest carries ``"format": FORMAT``.  A log without it
is in the per-table layout of earlier releases: reading it raises
``LayoutError`` (a ``ValueError``), and ``check_format`` raises it up
front for a caller's tables, so an old root never reads as empty.

``vacuum`` is safe to run concurrently with writers under its default
retention horizon (``min_age_seconds``): in-flight commits — a data
segment not yet referenced by a manifest, a ``.tmp-*`` manifest not yet
renamed — are younger than the horizon and left alone, the same
retention contract as Delta's VACUUM.  ``min_age_seconds=0`` restores
the writers-quiesced fast path.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dlx_spark import fsio
from dlx_spark.tableio import ConcurrentWriteError

_MANIFEST_WIDTH = 10
_MAX_COMMIT_RETRIES = 20
#: the manifest format: one log per table group (the per-table layout
#: of earlier releases, format 1, carries no format field)
FORMAT = 2


class LayoutError(ValueError):
    """A table log in the per-table manifest layout of earlier
    releases (see the module docstring)."""


def _split(table: str) -> tuple[str, str]:
    """``"<group>/<member>"`` -> (group, member); a plain name is a
    group of one."""
    group, sep, member = table.partition("/")
    return (group, member) if sep else (table, table)


class Staged:
    """One member's part of a group commit: its written ``segment`` and
    ``payload``, mapping the member's head entry (None: absent) to the
    entry to publish (None: absent), re-applied on each CAS retry;
    ``entry`` is what committed, ``fold`` runs once it holds
    ``AUTO_COMPACT_AT`` segments."""

    def __init__(self, table: str, payload, segment: str | None = None,
                 fold=None):
        self.table, self.payload = table, payload
        self.segment, self.fold = segment, fold
        self.entry: dict | None = None


class VersionedTableBackend:
    """Snapshot-isolated, optimistically-concurrent table commits on
    plain parquet (see module docstring)."""

    def __init__(self, root: str | None = None):
        # root resolved lazily against the active session's warehouse
        # dir when not given (the session may not exist at import time)
        self._root = root
        #: version races lost (and retried) across this instance's
        #: lifetime — the observable the contention probe reports
        #: (tools/scale_probe.py --contention); advisory, not synchronized
        self.races_lost = 0
        self._local_root: str | None = None

    # ---------------------------------------------------------- paths

    def root(self, spark: SparkSession) -> str:
        if self._root is None:
            self._root = fsio.join(
                spark.conf.get("spark.sql.warehouse.dir"), "_versioned")
        return self._root

    def _table_dir(self, spark: SparkSession, table: str) -> str:
        """The directory of ``table``'s group log."""
        return fsio.join(self.root(spark), "tables", _split(table)[0])

    def _data_dir(self, spark: SparkSession, segment: str) -> str:
        return fsio.join(self.root(spark), "data", segment)

    def _manifest_path(self, spark: SparkSession, table: str,
                       version: int) -> str:
        return fsio.join(self._table_dir(spark, table),
                         f"v{version:0{_MANIFEST_WIDTH}d}.json")

    def _local(self, spark: SparkSession, path: str) -> str | None:
        """``path`` (under the root) as a local path when the root is on
        the driver's local filesystem, else None: every read lists and
        reads its table's head, which through the JVM costs a round trip
        per listed file and tens of ms per manifest."""
        if self._local_root is None:
            self._local_root = fsio.local_path(spark, self.root(spark)) or ""
        if not self._local_root:
            return None
        return os.path.join(self._local_root,
                            path[len(self.root(spark)):].lstrip("/"))

    # ------------------------------------------------------ manifests

    def versions(self, spark: SparkSession, table: str) -> list[int]:
        """Committed version numbers of ``table``'s group log, ascending
        ([] for no log).  The listing first settles any commit whose
        destination file never materialized (crash right after an
        external-CAS acquire: committed, but invisible to a plain
        listing until completed from the commit record) — a no-op on
        rename-commit schemes."""
        table_dir = self._table_dir(spark, table)
        fsio.get_commit_scheme().settle_pending(spark, table_dir)
        local = self._local(spark, table_dir)
        if local is None:
            names = fsio.listdir(spark, table_dir)
        else:
            names = os.listdir(local) if os.path.isdir(local) else []
        out = []
        for name in names:
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-len(".json")]))
                except ValueError:
                    raise ValueError(
                        f"unparseable manifest name {name!r} in versioned "
                        f"table {table!r}") from None
        return sorted(out)

    def _read_log(self, spark: SparkSession, table: str,
                  version: int) -> dict:
        """One group version of ``table``'s log, as committed."""
        path = self._manifest_path(spark, table, version)
        try:
            local = self._local(spark, path)
            if local is None:
                text = fsio.read_text(spark, path)
            else:
                with open(local, encoding="utf-8") as fh:
                    text = fh.read()
            doc = json.loads(text)
        except Exception as exc:
            # a committed manifest can only be torn by external
            # corruption (the rename publishes all-or-nothing) — never
            # mask that by treating the table as absent
            raise ValueError(
                f"corrupt manifest {path}: {exc}") from exc
        if isinstance(doc, dict) and doc.get("format") != FORMAT \
                and ("format" in doc or "segments" in doc):
            raise LayoutError(f"{path} is in manifest format "
                              f"{doc.get('format', 1)}, not {FORMAT}")
        if not isinstance(doc, dict) or not isinstance(
                doc.get("members"), dict):
            raise ValueError(f"corrupt manifest {path}: missing members")
        return doc

    def _log_or_none(self, spark: SparkSession, table: str,
                     version: int) -> dict | None:
        """``_read_log``, with the scheme-dependent torn-file rule:
        under a non-atomic-publish commit scheme an unparseable manifest
        is first offered to the scheme's ``read_repair`` — schemes whose
        commit point lives OUTSIDE the store (``fsio.ExternalCASScheme``)
        recover the authoritative content from the commit record, so a
        manifest torn by a crashed (or in-flight) copy still reads as
        its committed self; with no repair record it is provably an
        UNACKNOWLEDGED crash remnant (the publisher only returns success
        after the full copy), so it reads as None and resolution falls
        back/skips.  Under an atomic-publish scheme a torn file can only
        be external corruption and stays a loud ValueError."""
        try:
            return self._read_log(spark, table, version)
        except LayoutError:
            raise
        except ValueError:
            scheme = fsio.get_commit_scheme()
            if scheme.atomic_publish:
                raise
            path = self._manifest_path(spark, table, version)
            text = scheme.read_repair(spark, path)
            if text is None:
                return None
            doc = json.loads(text)
            if not isinstance(doc, dict) or "members" not in doc:
                raise ValueError(
                    f"corrupt manifest {path}: repaired content is "
                    f"missing members")
            return doc

    def _head(self, spark: SparkSession, table: str) -> tuple[int, dict]:
        """The latest readable version of ``table``'s group log."""
        vs = self.versions(spark, table)
        for v in reversed(vs):
            doc = self._log_or_none(spark, table, v)
            if doc is not None:
                return v, doc
        raise FileNotFoundError(f"versioned table {table} not found "
                                f"under {self.root(spark)}")

    @staticmethod
    def _member(doc: dict, table: str) -> dict | None:
        """``table``'s entry in group version ``doc``, stamped with the
        version's number and id (None when the member is absent)."""
        entry = doc["members"].get(_split(table)[1])
        if entry is None:
            return None
        return {**entry, "version": doc["version"], "id": doc["id"]}

    def _latest(self, spark: SparkSession, table: str) -> tuple[int, dict]:
        v, doc = self._head(spark, table)
        entry = self._member(doc, table)
        if entry is None:
            raise FileNotFoundError(f"versioned table {table} not found "
                                    f"under {self.root(spark)}")
        return v, entry

    def check_format(self, spark: SparkSession, tables: list[str],
                     rebuild: str) -> None:
        """Raise ``LayoutError`` naming those of ``tables`` (plain
        names) whose log is in the per-table layout of earlier releases
        (a group log under another name would read past them as
        empty), with ``rebuild``, the way back."""
        present = set(fsio.listdir(spark, fsio.join(self.root(spark),
                                                     "tables")))
        old = []
        for name in sorted(present & set(tables)):
            vs = self.versions(spark, name)
            try:
                if vs:
                    self._read_log(spark, name, vs[-1])
            except LayoutError:
                old.append(name)
        if old:
            raise LayoutError(
                f"{self.root(spark)} holds {', '.join(old)} in the "
                f"per-table manifest layout of earlier releases, which "
                f"this release (format {FORMAT}) cannot read.  {rebuild}")

    def _commit(self, spark: SparkSession, table: str, payload_fn) -> int:
        """Commit the next version of ``table``'s group log.
        ``payload_fn(members)`` receives the head version's member
        entries ({} for a new log) and returns the member entries to
        publish; it is re-invoked on every retry so appends re-merge
        onto the fresh head after losing a race.

        The publish is ``fsio.put_if_absent`` — a compare-and-swap on
        the version-numbered name.  A scheme that cannot provide the CAS
        (raw object-store rename: two racers can both "succeed",
        silently losing one commit) is refused up front rather than
        risking a lost update."""
        scheme = fsio.get_commit_scheme()
        if not scheme.atomic_put_if_absent:
            raise RuntimeError(
                f"versioned commit on {table}: the active commit scheme "
                f"({type(scheme).__name__}) has no atomic put-if-absent, "
                f"so two writers could both publish the same version and "
                f"silently lose one commit.  Install a CAS-capable scheme "
                f"(fsio.SingleDriverCASScheme for single-driver object-"
                f"store deployments, or an external-CAS LogStore analog "
                f"for multi-driver) via fsio.set_commit_scheme.")
        fsio.warn_local_fs_multidriver(spark, scheme, self.root(spark))
        for _ in range(_MAX_COMMIT_RETRIES):
            # one whole attempt (read head -> publish) runs inside the
            # scheme's commit section: under a tearable publish, reading
            # the head while another writer is mid-copy would misread a
            # LIVE commit as a crash remnant and commit past it — the
            # critical section makes that state unobservable to other
            # committers (a no-op on atomic-publish schemes, where the
            # optimistic retry below is all the coordination needed)
            with scheme.commit_section():
                vs = self.versions(spark, table)
                latest = None
                for v in reversed(vs):
                    latest = self._log_or_none(spark, table, v)
                    if latest is not None:
                        break
                # new versions are allocated above ALL existing names,
                # torn remnants included — a remnant's number is never
                # reused, so a reader can never confuse it with a live
                # commit
                version = (vs[-1] if vs else 0) + 1
                members = payload_fn(dict(latest["members"])
                                     if latest else {})
                # globally-unique commit identity: version numbers
                # restart at 1 whenever a group is dropped and rebuilt
                doc = {"format": FORMAT, "version": version,
                       "id": uuid.uuid4().hex, "members": members}
                dest = self._manifest_path(spark, table, version)
                tmp = fsio.join(self._table_dir(spark, table),
                                f".tmp-{uuid.uuid4().hex}.json")
                fsio.write_text(spark, tmp, json.dumps(doc))
                if fsio.put_if_absent(spark, tmp, dest):
                    return version
            # lost the version race — retry on the new head
            self.races_lost += 1
        raise RuntimeError(
            f"versioned commit on {table}: lost {_MAX_COMMIT_RETRIES} "
            f"version races — contention too high")

    def publish(self, spark: SparkSession, staged: list) -> int:
        """Publish the staged member changes (``None`` skipped) as ONE
        version of their group's log: all of them or, on a crash or a
        failed check (ConcurrentWriteError; the segments stay for
        ``vacuum``), none.  Changes apply in order, so two to one member
        compose; then the due ``fold``s run.  Returns the version."""
        staged = [s for s in staged if s is not None]
        groups = {_split(s.table)[0] for s in staged}
        if len(groups) != 1:
            raise ValueError(f"one commit publishes one group, got "
                             f"{sorted(groups)}")

        def payload(members: dict) -> dict:
            for s in staged:
                member = _split(s.table)[1]
                s.entry = s.payload(members.get(member))
                if s.entry is None:
                    members.pop(member, None)
                else:
                    members[member] = s.entry
            return members

        version = self._commit(spark, staged[0].table, payload)
        for s in staged:
            if s.fold is not None and s.entry is not None \
                    and len(s.entry["segments"]) >= self.AUTO_COMPACT_AT:
                s.fold()
        return version

    # ---------------------------------------------------- segment I/O

    def _write_segment(self, spark: SparkSession, df: DataFrame,
                       table: str, key: str | None,
                       partition_cols: list[str] | None = None,
                       sort_col: str | None = None) -> str:
        # the table name keeps segment directories legible (executed
        # plans and disk usage are attributable to their table — plan
        # tests pin "bibs_tokens" in scan paths); uniqueness comes from
        # the uuid.  A group member's segments carry the member name
        seg = f"{_split(table)[1]}-{uuid.uuid4().hex}"
        if partition_cols:
            # hive-partitioned segment dirs: readers resolving the
            # manifest get listing-time partition pruning per segment.
            # With a sort_col (the table's logical key) rows are
            # additionally clustered within each partition dir, so
            # every parquet row group covers a tight key range and a
            # pushed key-equality filter skips all but ~one row group
            # per file — at 100 TB (many row groups per bucket) this is
            # the scan-level analog of the clustered layout's sorted
            # files; measured 39% faster point reads at 4M rows with
            # row-group-sized files (tools: /tmp sort probe, r11)
            out = df.repartition(*[F.col(c) for c in partition_cols])
            if sort_col is not None and sort_col in df.columns:
                out = out.sortWithinPartitions(*partition_cols, sort_col)
            (out.write.partitionBy(*partition_cols)
             .parquet(self._data_dir(spark, seg)))
            return seg
        if key is not None:
            # clustered layout: hash-clustered by key and sorted, with
            # no partition count, so AQE sizes the files to the data
            # (see the module docstring)
            df = df.repartition(F.col(key)).sortWithinPartitions(key)
        df.write.parquet(self._data_dir(spark, seg))
        return seg

    @staticmethod
    def _layout(df: DataFrame, key: str | None, segments: list[str],
                partition_cols: list[str] | None = None,
                extra: dict | None = None,
                sort_col: str | None = None) -> dict:
        doc = {"segments": segments, "key": key, "schema": df.schema.json()}
        if partition_cols:
            doc["partition_cols"] = list(partition_cols)
        if sort_col:
            # advisory within-partition clustering column, recorded so
            # maintenance rewrites (compact_segments, suffix folds)
            # preserve the row-group-pruning layout the writers chose
            doc["sort_col"] = sort_col
        if extra:
            # caller-owned table metadata (e.g. a merge-on-read store's
            # bucket modulus), carried on every subsequent append/rewrite
            # so it flips ATOMICALLY with the data it describes
            doc["extra"] = dict(extra)
        return doc

    # ------------------------------------------- tableio interface

    def stage_write(self, df: DataFrame, table: str, key: str | None = None,
                    *, partition_cols: list[str] | None = None,
                    sort_col: str | None = None,
                    extra: dict | None = None) -> Staged:
        """Stage ``write``: the segment is written, the replacement of
        the table is ``publish``'s."""
        spark = df.sparkSession
        seg = self._write_segment(spark, df, table, key, partition_cols,
                                  sort_col=sort_col)
        return Staged(table, lambda latest: self._layout(
            df, key, [seg], partition_cols, extra, sort_col=sort_col), seg)

    def write(self, df: DataFrame, table: str, key: str | None = None, *,
              partition_cols: list[str] | None = None,
              sort_col: str | None = None,
              extra: dict | None = None) -> None:
        """Replace the table with ``df`` as one segment: clustered by
        ``key`` when given, hive-partitioned by ``partition_cols`` (and
        sorted by ``sort_col`` within each partition) when given, plain
        otherwise.  ``extra`` is the new version's table metadata."""
        self.publish(df.sparkSession, [self.stage_write(
            df, table, key, partition_cols=partition_cols,
            sort_col=sort_col, extra=extra)])

    def stage_append(self, df: DataFrame, table: str,
                     key: str | None = None, *,
                     partition_cols: list[str] | None = None,
                     sort_col: str | None = None,
                     extra: dict | None = None,
                     extra_merge=None,
                     expect_extra: dict | None = None,
                     expect_create: bool = False,
                     fold: bool = True) -> Staged:
        """Stage ``append`` (see there): the conformed segment is
        written, the checks and the metadata merge run inside
        ``publish``'s commit."""
        spark = df.sparkSession
        try:
            _, head = self._latest(spark, table)
        except FileNotFoundError:
            head = None
        if head is not None and head["segments"]:
            df = self._conform(df, T.StructType.fromJson(
                json.loads(head["schema"])))
        seg = self._write_segment(spark, df, table, key, partition_cols,
                                  sort_col=sort_col)

        def payload(latest):
            segs = (latest["segments"] if latest else []) + [seg]
            head = (latest.get("extra") if latest else None) or {}
            if expect_create and latest is not None:
                # the caller derived its rows (and metadata) believing
                # it was CREATING the table; another writer's creation
                # won the race — publishing now would stamp the loser's
                # geometry over the winner's while the rows carry
                # whichever bucketing the loser computed
                raise ConcurrentWriteError(
                    f"append({table}): the table was created by a "
                    f"concurrent writer after this caller observed it "
                    f"absent; re-derive against the committed metadata "
                    f"and retry")
            if expect_extra and latest is not None:
                for k, v in expect_extra.items():
                    if head.get(k) != v:
                        raise ConcurrentWriteError(
                            f"append({table}): rows were derived under "
                            f"{k}={v!r} but the table's head now has "
                            f"{k}={head.get(k)!r} — a concurrent "
                            f"geometry change landed; re-derive the "
                            f"rows and retry")
            if extra_merge is not None:
                keep = extra_merge(extra, dict(head))
            else:
                keep = latest.get("extra") if latest else extra
            sc = sort_col or (latest.get("sort_col") if latest else None)
            return self._layout(df, key, segs, partition_cols,
                                keep, sort_col=sc)

        return Staged(table, payload, seg, fold=(
            (lambda: self._fold(spark, table)) if fold else None))

    def append(self, df: DataFrame, table: str, key: str | None = None, *,
               partition_cols: list[str] | None = None,
               sort_col: str | None = None,
               extra: dict | None = None,
               extra_merge=None,
               expect_extra: dict | None = None,
               expect_create: bool = False,
               fold: bool = True) -> int:
        """Append one segment in ``write``'s layout; returns the
        committed manifest's segment count.  ``df`` is first conformed
        to the head's schema (``_conform``), so an append never changes
        the table's column types.  ``extra`` seeds table metadata only
        when this append CREATES the table; on an existing table the
        head's metadata is preserved (appends never change table
        geometry) — unless ``extra_merge(new, head)`` is given, which
        folds this call's ``extra`` onto the HEAD's metadata inside the
        commit (re-invoked on every CAS retry, so two racing writers
        both land their updates — the hook monotonic counters like a
        max-assigned-id hint need).

        ``expect_extra`` asserts metadata the appended ROWS were
        derived under, checked against the head INSIDE the commit: a
        mismatch raises ConcurrentWriteError instead of publishing.
        This is the guard against appending rows partitioned under a
        superseded geometry — a rebucket that lands between a writer's
        metadata read and its append would otherwise accept delta rows
        whose partition values are wrong under the new modulus, making
        partition-pruned reads silently MISS them.  The orphaned
        segment file is reclaimed by vacuum, like a failed rewrite's.

        ``fold`` runs the inline fold (``_fold``) once the commit
        leaves ``AUTO_COMPACT_AT`` segments; a layered table whose
        segment order carries precedence (merge-on-read) passes False
        and folds with its own resolution."""
        staged = self.stage_append(
            df, table, key, partition_cols=partition_cols,
            sort_col=sort_col, extra=extra, extra_merge=extra_merge,
            expect_extra=expect_extra, expect_create=expect_create,
            fold=fold)
        self.publish(df.sparkSession, [staged])
        return len(staged.entry["segments"])

    @staticmethod
    def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
        """Align ``df`` to ``schema``: columns cast by name, missing
        columns become typed NULLs (tombstone padding), order
        normalized, columns the schema lacks dropped."""
        have = set(df.columns)
        return df.select(*[
            F.col(f.name).cast(f.dataType) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields])

    #: the package's one inline-fold threshold: an append whose commit
    #: leaves this many segments folds the table (merge-on-read tables
    #: apply the same threshold to their precedence-aware fold)
    AUTO_COMPACT_AT = 16
    #: the one minor-vs-full rule: while the rows past segment 0 are at
    #: most this fraction of segment 0's, a fold rewrites only that
    #: suffix (the base — store-sized for the history log — is kept by
    #: id); past it the table is rewritten whole, which also merges the
    #: base's small files
    MINOR_FOLD_MAX_FRACTION = 0.10

    @classmethod
    def prefers_minor_fold(cls, n_segments: int, base_rows: int,
                           suffix_rows: int) -> bool:
        """The minor-vs-full rule (see ``MINOR_FOLD_MAX_FRACTION``);
        with two segments there is no suffix of more than one to fold."""
        return n_segments > 2 and suffix_rows <= max(
            1, int(base_rows * cls.MINOR_FOLD_MAX_FRACTION))

    def _fold(self, spark: SparkSession, table: str) -> None:
        """The inline fold (Delta's OPTIMIZE as an ordinary table
        commit): the suffix fold while ``prefers_minor_fold``, else the
        full ``compact_segments``.  Without it, append-heavy ingest (a
        streaming sink's micro-batches, an ANN index's increments, the
        store's history log) accumulates segments without bound and
        every read pays the amplification.

        It runs AFTER the append's own commit (``publish`` calls it), so
        the appended rows are durable before any fold work starts — a crash mid-fold loses
        only an unreferenced segment (vacuum reclaims it), and the next
        threshold-crossing append re-folds.  The fold is the same
        one-commit ``rewrite`` as manual compaction, so appends racing
        it are carried; two writers crossing the threshold together
        both fold, and the later commit finds the list replaced and
        publishes nothing."""
        try:
            _, manifest = self._latest(spark, table)
        except FileNotFoundError:
            return
        segs = manifest["segments"]
        if len(segs) < 2:
            return
        # footer-only zero-column counts: the base, and the whole
        # suffix in one scan
        base = self.segment_df(spark, manifest, 0).count()
        suffix = self._read_manifest_df(
            spark, {**manifest, "segments": segs[1:]}).count()
        if self.prefers_minor_fold(len(segs), base, suffix):
            self.compact_segment_suffix(spark, table)
        else:
            self.compact_segments(spark, table)

    def compact_segment_suffix(self, spark: SparkSession, table: str,
                               keep: int = 1) -> int:
        """Fold ``segments[keep:]`` into ONE segment, leaving the
        prefix untouched — the MINOR-compaction analog for plain and
        partitioned append tables, whose reads union segments with no
        precedence semantics (so the fold is a pure concatenation and
        content-preserving by construction).  O(folded suffix) I/O;
        bounds scan-root amplification exactly like the full
        ``compact_segments`` while never rewriting the table-sized
        base.  One ``rewrite(keep=...)``.  Returns the number of
        segments folded (0 when there is nothing to fold or a raced
        full rewrite replaced the list — the abort leaves the raced
        rewrite's result standing)."""
        try:
            _, manifest = self._latest(spark, table)
        except FileNotFoundError:
            return 0
        # the token MUST be the segment list of the very manifest the
        # fold reads: a fresher list could include an append that
        # committed between the two lookups, whose rows would then be
        # both folded AND carried as a raced segment — duplicated
        token = list(manifest["segments"])
        if len(token) - keep <= 1:
            return 0
        df = self._read_manifest_df(spark,
                                    {**manifest, "segments": token[keep:]})
        ok = self.rewrite(df, table, token, keep)
        return len(token) - keep if ok else 0

    def stage_extra(self, table: str, fn, create: bool = True) -> Staged:
        """Stage a metadata-only change: the member's ``extra`` becomes
        ``fn(head_extra_or_None)``, re-invoked on every CAS retry so the
        read-modify-write is serialized by the CAS.  A missing member is
        created as a zero-segment metadata carrier when ``create``,
        else left absent."""
        def payload(latest):
            if latest is None and not create:
                return None
            extra = dict(fn(latest.get("extra") if latest else None))
            if latest is not None:
                return {**latest, "extra": extra}
            return {"segments": [], "key": None,
                    "schema": T.StructType([]).json(), "extra": extra}

        return Staged(table, payload)

    def stage_check(self, table: str, segments: list[str] | None) -> Staged:
        """A check, not a change: the commit raises ConcurrentWriteError
        unless the member's segment list equals ``segments`` (None:
        absent) — a derivation publishing only against its source's
        snapshot."""
        def payload(latest):
            if (None if latest is None else list(latest["segments"])) \
                    != segments:
                raise ConcurrentWriteError(
                    f"{table} changed after the caller's snapshot — "
                    f"re-derive and retry")
            return latest

        return Staged(table, payload)

    def update_extra(self, spark: SparkSession, table: str, fn) -> dict:
        """Metadata-only commit (``stage_extra``, published alone): the
        atomic counter a multi-driver id allocator needs (racing bumps
        each see the other's on retry).  Returns the committed extra."""
        staged = self.stage_extra(table, fn)
        self.publish(spark, [staged])
        return staged.entry["extra"]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        _, manifest = self._latest(spark, table)
        return self._read_manifest_df(spark, manifest)

    def latest_manifest(self, spark: SparkSession, table: str) -> dict:
        """The latest committed manifest (segment list, layout, schema,
        caller ``extra`` metadata).  Raises FileNotFoundError for a
        missing table.  Layered stores (merge-on-read) resolve segment
        PRECEDENCE from the list order, so this is a public accessor."""
        _, manifest = self._latest(spark, table)
        return manifest

    def segment_df(self, spark: SparkSession, manifest: dict,
                   index: int) -> DataFrame:
        """One segment of ``manifest`` as its own scan (manifest schema
        applied, hive partition discovery rooted at the segment dir)."""
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        path = self._data_dir(spark, manifest["segments"][index])
        return spark.read.schema(schema).parquet(path)

    def read_version(self, spark: SparkSession, table: str,
                     version: int) -> DataFrame:
        """Time travel: the table exactly as committed at ``version``.
        Raises FileNotFoundError if that version was vacuumed."""
        return self._read_manifest_df(
            spark, self._read_manifest(spark, table, version))

    def _read_manifest(self, spark: SparkSession, table: str,
                       version: int) -> dict:
        """``table``'s entry at ``version``, or FileNotFoundError when
        that version was vacuumed, is a torn remnant, or lacks the
        member."""
        if version not in self.versions(spark, table):
            raise FileNotFoundError(
                f"version {version} of {table} does not exist "
                f"(vacuumed or never committed)")
        doc = self._log_or_none(spark, table, version)
        entry = None if doc is None else self._member(doc, table)
        if entry is None:
            raise FileNotFoundError(
                f"version {version} of {table} is unreadable: a torn "
                f"crash remnant, or the table is absent there")
        return entry

    def _read_manifest_df(self, spark: SparkSession,
                          manifest: dict) -> DataFrame:
        from functools import reduce

        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        paths = [self._data_dir(spark, s) for s in manifest["segments"]]
        if not paths:
            return spark.createDataFrame([], schema)
        if manifest.get("partition_cols"):
            # hive-partitioned segments: partition discovery needs one
            # root per scan (multiple roots have no common basePath —
            # CONFLICTING_DIRECTORY_STRUCTURES), so union per-segment
            # scans; partition-pruning filters push into each scan
            return reduce(DataFrame.unionByName,
                          [spark.read.schema(schema).parquet(p)
                           for p in paths])
        # explicit schema: no inference pass, and zero-row segments read
        return spark.read.schema(schema).parquet(*paths)

    def restore_version(self, spark: SparkSession, table: str,
                        version: int) -> None:
        """Roll the table's HEAD back to ``version``'s exact content by
        publishing that entry's segment list as the next group version
        (the group's other members are untouched) — the undo primitive
        for a caller that appended and then needs its own
        unacknowledged appends gone (e.g. a streaming sink replaying a
        crashed batch).  Works even if a compaction folded the table in
        between: the restored entry references the ORIGINAL segments,
        which stay in the data pool until vacuum (so keep the vacuum
        retention horizon above the longest plausible replay window,
        the same contract as Delta's).  Appends committed by OTHER
        writers after ``version`` are dropped too —
        single-logical-writer per table, by contract."""
        entry = {k: v for k, v in self._read_manifest(
            spark, table, version).items() if k not in ("version", "id")}
        self.publish(spark, [Staged(table, lambda latest: dict(entry))])

    def exists(self, spark: SparkSession, table: str) -> bool:
        try:
            self._latest(spark, table)
            return True
        except FileNotFoundError:
            return False

    def drop(self, spark: SparkSession, table: str) -> None:
        """Remove a member from its group in one commit, or — for a
        plain name — the whole group log.  Segments stay in the data
        pool until vacuum.
        Any external commit records for a removed log are dropped too —
        a recreated group restarts at version 1, and a stale
        acknowledged claim for the OLD v1 would make every new
        external-CAS acquire lose forever (the recreate livelock;
        regression-tested in test_commit_schemes.py).  Claims go FIRST:
        a crash between the two steps must leave orphan FILES (which
        the version allocator already tolerates and a re-run of drop
        clears), never orphan CLAIMS (which would reintroduce the
        livelock the release exists to prevent)."""
        if "/" in table:
            if self.exists(spark, table):
                self.publish(spark, [Staged(table, lambda latest: None)])
            return
        fsio.get_commit_scheme().forget_prefix(
            spark, self._table_dir(spark, table))
        fsio.rmtree(spark, self._table_dir(spark, table))

    def snapshot_token(self, spark: SparkSession, table: str):
        """The table's current segment list (None for a new table) —
        capture BEFORE reading the snapshot a rewrite derives from, and
        hand it to ``rewrite`` as its ``token`` so the commit can check
        what landed in between."""
        try:
            _, manifest = self._latest(spark, table)
        except FileNotFoundError:
            return None
        return list(manifest["segments"])

    # --------------------------------------------------- maintenance

    def compact_segments(self, spark: SparkSession, table: str) -> int:
        """Fold a multi-segment table into ONE fresh segment (the
        OPTIMIZE analog for this backend): ``compact_segment_suffix``
        with ``keep=0``.  Matters most for partitioned tables, whose
        reads union one partition-discovered scan per segment: a long
        append history (e.g. daily ``append_ivf_index`` increments)
        accumulates scan roots until a rewrite folds them — exactly
        what table formats schedule as OPTIMIZE.  Appends racing the
        fold are carried (their segments are simply not compacted yet),
        and a raced rewrite that replaced the list wins — this fold then
        commits nothing.  Returns the number of segments folded (0 =
        already compact, or a raced rewrite already did the work)."""
        return self.compact_segment_suffix(spark, table, keep=0)

    def rewrite(self, df: DataFrame, table: str, token: list[str],
                keep: int = 0, *, exact: bool = False,
                extra: dict | None = None, extra_merge=None,
                sort_col: str | None = None) -> bool:
        """The one rewrite primitive (``stage_rewrite``, published
        alone): every fold and re-derive publishes
        through it.  Writes ``df`` as ONE segment in the head's layout
        (key / partition_cols / sort_col) and makes ONE manifest commit
        of ``token[:keep] + [seg] + gained``, where ``token`` is the
        segment list of the very manifest ``df`` was derived from and
        ``gained`` is whatever the head appended past it (carried in
        order, so raced batches keep their precedence over the
        rewritten content).  ``keep`` > 0 is the MINOR fold: the
        prefix — at 100 TB the store-sized base — is referenced by id,
        never rewritten, so the I/O is O(folded suffix).

        The commit happens only while the head's list still STARTS
        WITH ``token``; ``exact=True`` (re-derives that TRANSFORM
        content under a new geometry, whose rows a raced append would
        silently contradict) requires the head to EQUAL it.  On a
        conflict nothing is committed, the orphan segment is removed
        best-effort, and the call returns False: a fold returns 0 (the
        raced rewrite already did the work), a re-derive raises
        ``ConcurrentWriteError``.

        A rewrite is unpublished until that single commit: a crash
        before it leaves only an unreferenced segment, which
        ``vacuum``'s age-gated sweep reclaims.  Nothing is recovered
        when the table is next opened — a rewrite that never returned
        has not happened.

        Metadata flips in the same commit as the data: the published
        ``extra`` is ``extra_merge(extra, head_extra)`` when a merge is
        given, else ``extra`` when given, else the head's.  The schema
        is ``df``'s for a whole-table rewrite (``keep=0``) and the
        head's otherwise."""
        staged = self.stage_rewrite(df, table, token, keep, exact=exact,
                                    extra=extra, extra_merge=extra_merge,
                                    sort_col=sort_col)
        try:
            self.publish(df.sparkSession, [staged])
            return True
        except ConcurrentWriteError:
            try:
                fsio.rmtree(df.sparkSession,
                            self._data_dir(df.sparkSession, staged.segment))
            except Exception:   # pragma: no cover - best-effort cleanup
                pass            # vacuum reclaims unreferenced segments
            return False

    def stage_rewrite(self, df: DataFrame, table: str, token: list[str],
                      keep: int = 0, *, exact: bool = False,
                      extra: dict | None = None, extra_merge=None,
                      sort_col: str | None = None) -> Staged:
        """Stage ``rewrite``: the segment is written; the token check
        raises ConcurrentWriteError inside ``publish``'s commit."""
        if not 0 <= keep < len(token):
            raise ValueError(f"keep must be in [0, {len(token)}), "
                             f"got {keep}")
        spark = df.sparkSession
        _, manifest = self._latest(spark, table)
        seg = self._write_segment(spark, df, table, manifest.get("key"),
                                  manifest.get("partition_cols"),
                                  sort_col=sort_col
                                  or manifest.get("sort_col"))

        def payload(latest):
            head = list(latest["segments"]) if latest else []
            if head[:len(token)] != token or (exact and head != token):
                raise ConcurrentWriteError(
                    f"rewrite({table}): the segment list changed after "
                    f"the caller's snapshot — re-derive and retry")
            doc = {k: latest[k] for k in ("key", "schema")}
            for opt in ("partition_cols", "sort_col"):
                if opt in latest:
                    doc[opt] = latest[opt]
            doc["segments"] = token[:keep] + [seg] + head[len(token):]
            if keep == 0:
                doc["schema"] = df.schema.json()
            head_extra = latest.get("extra")
            if extra_merge is not None:
                merged = extra_merge(extra, dict(head_extra or {}))
            else:
                merged = extra if extra is not None else head_extra
            if merged:
                doc["extra"] = dict(merged)
            return doc

        return Staged(table, payload, seg)

    def vacuum(self, spark: SparkSession, keep_last: int = 1,
               min_age_seconds: float = 3600.0) -> list[str]:
        """Reclaim space: retain only the last ``keep_last`` committed
        versions of every group log, then delete data segments
        referenced by no member of a retained version.  Returns the
        deleted segment ids.

        ``min_age_seconds`` is the retention guard that makes vacuum
        safe to run CONCURRENTLY with writers: an in-flight commit is
        exactly (a) a data segment not yet referenced by any manifest
        and (b) a ``.tmp-*`` manifest not yet renamed — both look like
        garbage to a naive sweep.  Anything younger than the horizon is
        left alone, so a vacuum can only reclaim state from commits that
        have either completed (superseded versions) or been dead longer
        than any plausible write (the same retention contract as Delta's
        VACUUM).  Setting it to 0 restores the writers-quiesced fast
        path.  Readers holding snapshots older than ``keep_last``
        versions can still lose their files — retention bounds WRITER
        safety; snapshot lifetime is bounded by vacuum policy.

        CLOCK-SKEW ASSUMPTION: the horizon compares the driver's wall
        clock to STORAGE mtimes.  On an object store whose service
        clock drifts ahead of the driver's, fresh garbage reads as
        younger than it is (safe — retained longer); a driver clock
        ahead of storage erodes the guard by the skew, so keep
        ``min_age_seconds`` comfortably above write duration + plausible
        skew (the default 1h mirrors Delta's guidance).  A vacuum that
        reclaims NOTHING solely because every candidate was younger
        than the horizon warns — quiesced-writer maintenance jobs that
        expect reclamation should pass ``min_age_seconds=0`` rather
        than silently retaining garbage forever."""
        import warnings

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        horizon = time.time() - min_age_seconds
        age_skipped = 0
        # counts EVERY reclamation kind (superseded manifests, torn
        # remnants, stale .tmp files), not just data
        # segments: a run that cleaned real garbage but no segments
        # must not warn that nothing was reclaimed
        other_reclaimed = 0

        def old_enough(path: str, recursive: bool = False) -> bool:
            nonlocal age_skipped
            try:
                ts = (fsio.newest_mtime(spark, path) if recursive
                      else fsio.mtime(spark, path))
                if ts > horizon:
                    age_skipped += 1
                return ts <= horizon
            except Exception:
                # a path that vanished under us is someone else's
                # completed move — skip it; a path that still exists
                # had a HARD stat failure (permissions, object-store
                # errors), and swallowing that would silently disable
                # reclamation forever while vacuum() returns [] as if
                # nothing needed deleting
                if fsio.exists(spark, path):
                    raise
                return False

        def segments(doc: dict) -> set[str]:
            return {s for entry in doc["members"].values()
                    for s in entry["segments"]}

        tables_dir = fsio.join(self.root(spark), "tables")
        # ONE manifest read per (group, version) for the whole vacuum:
        # head resolution and retention logic both reuse this map (each
        # read is a driver round-trip)
        manifests_by_table: dict[str, dict[int, dict | None]] = {
            table: {v: self._log_or_none(spark, table, v)
                    for v in self.versions(spark, table)}
            for table in fsio.listdir(spark, tables_dir)
        }
        referenced: set[str] = set()
        for table, manifests in manifests_by_table.items():
            vs = sorted(manifests)
            live = [v for v in vs if manifests[v] is not None]
            for v in live[:-keep_last]:
                # age-gated like everything else: a concurrent
                # committer/reader may have LISTED an old head just
                # before a new commit landed — deleting a manifest
                # younger than the horizon could yank it mid-read and
                # turn its retry into a spurious corrupt-manifest error
                if old_enough(self._manifest_path(spark, table, v)):
                    fsio.remove(spark, self._manifest_path(spark, table, v))
                    fsio.get_commit_scheme().forget(
                        spark, self._manifest_path(spark, table, v))
                    other_reclaimed += 1
            for v in live[-keep_last:]:
                referenced.update(segments(manifests[v]))
            # manifests retained only by the age gate still pin their
            # segments — reclaiming a superseded-but-young version's
            # files while its manifest stays readable would be worse
            for v in live[:-keep_last]:
                if fsio.exists(spark,
                               self._manifest_path(spark, table, v)):
                    referenced.update(segments(manifests[v]))
            for v in vs:
                # torn remnants below the committed head can never be
                # read or re-targeted; age-gated like tmp files because
                # under a live-writer vacuum a "torn" file may be a
                # publish in progress
                if (manifests[v] is None and live and v < live[-1]
                        and old_enough(self._manifest_path(spark, table, v))):
                    fsio.remove(spark, self._manifest_path(spark, table, v))
                    fsio.get_commit_scheme().forget(
                        spark, self._manifest_path(spark, table, v))
                    other_reclaimed += 1
            claimed = fsio.get_commit_scheme().claimed_tmps(
                spark, self._table_dir(spark, table))
            for name in fsio.listdir(spark, self._table_dir(spark, table)):
                path = fsio.join(self._table_dir(spark, table), name)
                if name.startswith(".tmp-") and old_enough(path):
                    record = claimed.get(fsio.qualified(spark, path))
                    if record is not None and record.get("complete"):
                        # an acknowledged claim's tmp is the claim's
                        # durable repair authority — it lives exactly as
                        # long as the claim (forget releases both when
                        # the published manifest is itself reclaimed)
                        continue
                    if record is not None:
                        # aged UNACKNOWLEDGED claim: the writer is dead
                        # and never saw success — release claim and tmp
                        # TOGETHER (tmps live exactly as long as their
                        # claim); the allocated version is dropped
                        fsio.get_commit_scheme().forget(
                            spark, record["key"])
                        other_reclaimed += 1
                        continue
                    fsio.remove(spark, path)
                    other_reclaimed += 1
        deleted = []
        data_dir = fsio.join(self.root(spark), "data")
        for seg in fsio.listdir(spark, data_dir):
            seg_dir = fsio.join(data_dir, seg)
            # recursive=True: the age of a segment is the age of its
            # newest FILE — object-store directory prefixes report no
            # usable mtime, and gating on the directory entry alone
            # would reclaim an in-flight segment mid-commit there
            if seg not in referenced and old_enough(seg_dir, recursive=True):
                fsio.rmtree(spark, seg_dir)
                deleted.append(seg)
        if not deleted and not other_reclaimed and age_skipped:
            warnings.warn(
                f"vacuum reclaimed nothing: {age_skipped} candidate(s) "
                f"were younger than the {min_age_seconds:.0f}s retention "
                f"horizon.  If writers are quiesced, pass "
                f"min_age_seconds=0; otherwise re-run after the horizon "
                f"elapses.")
        return deleted
