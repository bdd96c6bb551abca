"""Marker/ledger I/O through the Hadoop FileSystem API.

The engine's crash-safety protocols — the store's write-ahead bucket-swap
markers (marc/store.py), the streaming commit ledger and intent markers,
and the near-dedup sink's attempt/committed markers (streaming/) — need
a handful of tiny filesystem operations: touch a marker, atomically
publish a small JSON file, list/glob/remove.  Routing them through
``org.apache.hadoop.fs.FileSystem`` (resolved per-path from the active
session's Hadoop configuration) makes every protocol work on whatever
filesystem the warehouse actually lives on — local POSIX, ``file://``
URIs, HDFS, or an object store — instead of silently operating on the
driver's local disk while the data lives elsewhere (the failure mode of
``os.path``/``shutil`` calls at cluster scale).

Atomicity assumptions, per scheme:

- ``file://`` / bare local paths (RawLocalFileSystem) and ``hdfs://``:
  ``rename`` of a file is atomic, so ``write_text_atomic`` (write to a
  ``.tmp`` sibling, rename into place) publishes all-or-nothing.
  Hadoop's rename does NOT overwrite an existing destination; when a
  destination exists it is deleted first, opening a marker-absent window
  of one round-trip — all marker protocols here treat a missing marker
  as "no pending work", which is safe on both sides of that window
  (the old marker's work was already complete or the new marker's write
  will re-run).
- ``s3a://``: rename is copy+delete (non-atomic, duration proportional
  to size).  Markers here are zero-to-few-hundred-byte files, so the
  window is milliseconds, and a torn marker is unparseable JSON — the
  recovery paths treat that as "marker absent" rather than acting on
  garbage.  For hard transactional guarantees on object stores, put the
  warehouse behind a table format with a real commit protocol
  (Delta/Iceberg), which these protocols are the plain-parquet stand-in
  for.

Those assumptions are not just documented — they are a SEAM.  Every
publish in the package (marker files, the versioned backend's manifest
commits) routes through a pluggable *commit scheme*
(``set_commit_scheme``), the analog of Delta's LogStore abstraction:

- ``HadoopRenameScheme`` (default) — plain Hadoop rename.  Correct on
  atomic-rename filesystems (local, ``file://``, HDFS).
- ``NonAtomicRenameScheme`` — rename as copy+delete, the object-store
  semantic.  Declares ``atomic_publish=False`` (a crash can leave a TORN
  destination) and ``atomic_put_if_absent=False`` (two racers can both
  "succeed" — the lost-update hazard).  Consumers that need a real
  commit point refuse this scheme loudly; marker protocols tolerate it
  (a torn marker reads as garbage → "absent").  Carries fault-injection
  hooks so the crash states are TESTABLE (tests/test_commit_schemes.py).
- ``SingleDriverCASScheme`` — the copy+delete semantic plus a
  driver-local mutex making ``put_if_absent`` atomic *within one
  driver* — the S3SingleDriverLogStore analog, sufficient for a
  single-driver deployment writing an object store.
- ``ExternalCASScheme`` — the multi-driver story for stores without
  atomic rename: the commit point moves into an external CAS service
  (S3 conditional PUT / a DynamoDB-style conditional put — the
  S3DynamoDBLogStore design), claims record the staged file so ANY
  process can finish a crashed publish, and readers recover torn
  destinations from the claim (``read_repair``).  ``FileExternalCAS``
  is the shipped service stand-in (atomic via ``os.link``), proven
  across two driver processes in tests/test_multiprocess_commit.py.

All functions take the SparkSession first: the FileSystem instance comes
from ``Path.getFileSystem(hadoopConfiguration)`` (cached by Hadoop per
scheme+authority, so per-call resolution is cheap).
"""

from __future__ import annotations

import json
import posixpath
import threading
import time as _time

from pyspark.sql import SparkSession


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    return _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def join(*parts: str) -> str:
    """Join path segments with forward slashes (URI-safe: ``file:///a``
    + ``b`` must never become ``file:///a\\b`` on any platform)."""
    return posixpath.join(*parts)


def basename(path: str) -> str:
    return _strip_trailing(path).rsplit("/", 1)[-1]


def parent(path: str) -> str:
    return _strip_trailing(path).rsplit("/", 1)[0]


def _strip_trailing(path: str) -> str:
    return path[:-1] if path.endswith("/") and not path.endswith("://") else path


def exists(spark: SparkSession, path: str) -> bool:
    return _fs(spark, path).exists(_jpath(spark, path))


def mtime(spark: SparkSession, path: str) -> float:
    """Modification time in epoch seconds (for directories: of the
    directory entry itself — local/HDFS update it when children are
    created, so a freshly-written segment directory reads as fresh).
    NOT a reliable age signal for directories on object stores, whose
    "directory" prefixes report 0/undefined times — use
    ``newest_mtime`` for those."""
    fs = _fs(spark, path)
    return fs.getFileStatus(_jpath(spark, path)).getModificationTime() / 1000.0


def newest_mtime(spark: SparkSession, path: str) -> float:
    """Newest modification time (epoch seconds) among ``path`` and
    every FILE under it, recursively.  The honest age signal for a
    directory tree on any scheme: object stores report 0/undefined
    mtimes for directory prefixes, so a retention check gating on the
    directory entry alone would treat a freshly-written segment as
    ancient and reclaim it mid-commit."""
    fs, p = _fs(spark, path), _jpath(spark, path)
    newest = fs.getFileStatus(p).getModificationTime()
    if fs.getFileStatus(p).isDirectory():
        it = fs.listFiles(p, True)
        while it.hasNext():
            newest = max(newest, it.next().getModificationTime())
    return newest / 1000.0


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path), _jpath(spark, path)
    return fs.exists(p) and fs.getFileStatus(p).isDirectory()


def mkdirs(spark: SparkSession, path: str) -> None:
    _fs(spark, path).mkdirs(_jpath(spark, path))


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty file (parents included), overwriting any
    existing one — the marker primitive."""
    _fs(spark, path).create(_jpath(spark, path), True).close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    out = _fs(spark, path).create(_jpath(spark, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Publish a small file all-or-nothing: write a ``.tmp`` sibling,
    then publish it through the active commit scheme (a single rename on
    the default scheme — atomic where the filesystem's rename is; see
    module docstring).  An existing destination is replaced."""
    tmp = path + ".tmp"
    write_text(spark, tmp, text)
    get_commit_scheme().publish_overwrite(spark, tmp, path)


def put_if_absent(spark: SparkSession, tmp: str, dest: str) -> bool:
    """Publish ``tmp`` as ``dest`` iff ``dest`` does not exist, through
    the active commit scheme.  Returns True when this caller won (dest
    is now its content), False when dest already existed (``tmp`` is
    cleaned up either way).  Atomic only when the scheme declares
    ``atomic_put_if_absent`` — callers that rely on it for a commit
    point must check the flag and refuse (tableio_versioned does)."""
    return get_commit_scheme().put_if_absent(spark, tmp, dest)


def read_text(spark: SparkSession, path: str) -> str:
    ins = _fs(spark, path).open(_jpath(spark, path))
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(ins, "UTF-8")
    finally:
        ins.close()


def remove(spark: SparkSession, path: str, missing_ok: bool = True) -> bool:
    """Delete a file (non-recursive).  Returns whether anything was
    deleted; raises FileNotFoundError when missing and not
    ``missing_ok``.  A delete that FAILS while the path still exists
    (permission / lease errors surface as ``delete() == false`` on some
    filesystems rather than an exception) always raises — mirroring
    ``rename``'s failure handling — so no caller can mistake a failed
    delete for success."""
    deleted = _fs(spark, path).delete(_jpath(spark, path), False)
    if not deleted:
        if exists(spark, path):
            raise OSError(f"delete {path} failed (path still exists)")
        if not missing_ok:
            raise FileNotFoundError(path)
    return bool(deleted)


def rmtree(spark: SparkSession, path: str) -> None:
    """Recursive delete; missing path is a no-op (shutil.rmtree
    ignore_errors analog)."""
    _fs(spark, path).delete(_jpath(spark, path), True)


def rename(spark: SparkSession, src: str, dst: str,
           overwrite: bool = False) -> None:
    fs = _fs(spark, src)
    if overwrite:
        d = _jpath(spark, dst)
        if fs.exists(d):
            fs.delete(d, False)
    if not fs.rename(_jpath(spark, src), _jpath(spark, dst)):
        raise OSError(f"rename {src} -> {dst} failed")


def rename_no_overwrite(spark: SparkSession, src: str, dst: str) -> None:
    """Rename that FAILS (FileExistsError) when ``dst`` exists — the
    compare-and-swap primitive, via ``FileContext.rename(src, dst,
    Options.Rename.NONE)``.  Unlike ``FileSystem.rename``, whose
    dest-exists behavior the Hadoop FS spec leaves filesystem-dependent,
    the FileContext API makes no-overwrite the REQUESTED semantic on
    every filesystem.  How hard that request is honored varies: HDFS
    implements it server-side as one atomic namespace operation (this
    is what Delta's HDFSLogStore commits through); the local filesystem
    falls back to AbstractFileSystem's default — a dest-exists check
    followed by a POSIX rename that would clobber — so cross-PROCESS
    racers on local FS keep a residual microsecond check-then-act
    window (same caveat as Delta's HDFSLogStore on ``file://``;
    single-machine multi-driver deployments that need a hard guarantee
    should use an external-CAS scheme).  Still strictly stronger than
    ``FileSystem.rename``, whose local behavior deletes-then-renames.
    Raises FileNotFoundError when ``src`` is missing, FileExistsError
    when ``dst`` exists, and OSError otherwise — including when the
    path's scheme has no AbstractFileSystem binding (e.g. ``s3a``
    without ``fs.AbstractFileSystem.s3a.impl``): such filesystems
    cannot provide this CAS at all, and the error says to install a
    CAS-capable commit scheme instead."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    fs = _fs(spark, dst)
    opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    try:
        # getFileContext inside the try: a scheme with no
        # AbstractFileSystem binding throws UnsupportedFileSystemException
        # HERE, and it must surface as the documented OSError (so callers
        # like put_if_absent clean up their tmp file), not a raw Py4J error
        ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), spark._jsc.hadoopConfiguration())
        ctx.rename(fs.makeQualified(_jpath(spark, src)),
                   fs.makeQualified(_jpath(spark, dst)), opts)
    except Exception as exc:
        names = _java_exception_chain(exc)
        if any("UnsupportedFileSystem" in n for n in names):
            raise OSError(
                f"rename {src} -> {dst}: no AbstractFileSystem binding "
                f"for this path's scheme, so the FileContext CAS rename "
                f"is unavailable — install a CAS-capable commit scheme "
                f"for this filesystem (fsio.SingleDriverCASScheme or an "
                f"external-CAS scheme) via fsio.set_commit_scheme") from exc
        if any("AlreadyExists" in n for n in names):
            raise FileExistsError(dst) from None
        if any("FileNotFound" in n for n in names):
            raise FileNotFoundError(src) from None
        raise OSError(f"rename {src} -> {dst} failed: {exc}") from exc


def _java_exception_chain(exc: Exception) -> list[str]:
    """Class names of a Py4J error's Java cause chain ([] for a plain
    Python exception)."""
    java = getattr(exc, "java_exception", None)
    names = []
    while java is not None:
        names.append(java.getClass().getName())
        java = java.getCause()
    return names


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child NAMES of a directory; [] when the path doesn't exist."""
    fs, p = _fs(spark, path), _jpath(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """Full (scheme-qualified) path strings matching a Hadoop glob
    pattern; [] when nothing matches.  NOTE: returned paths are
    canonicalized by the filesystem (``file:///x`` comes back as
    ``file:/x``), so compare them by ``basename``/``parent`` segments,
    never by string prefix against the caller's spelling."""
    sts = _fs(spark, pattern).globStatus(_jpath(spark, pattern))
    if sts is None:
        return []
    return [st.getPath().toString() for st in sts]


def qualified(spark: SparkSession, path: str) -> str:
    """The canonical scheme-qualified absolute form of a path — the
    stable spelling to derive persisted keys from (``/x``, ``file:/x``
    and ``file:///x`` all qualify to the same string)."""
    fs = _fs(spark, path)
    return fs.makeQualified(_jpath(spark, path)).toString()


# --------------------------------------------------- commit schemes
#
# The LogStore-style seam: how a staged file BECOMES the published file.
# See the module docstring for the scheme matrix.


class HadoopRenameScheme:
    """Default: publish = one Hadoop rename.  Atomic on local
    filesystems and HDFS.  ``put_if_absent`` goes through
    ``rename_no_overwrite`` (FileContext + ``Options.Rename.NONE``):
    a hard atomic CAS on HDFS (server-side atomic rename-with-
    overwrite-flag), and on local FS a dest-exists check + POSIX
    rename that NARROWS but does not close the cross-process
    check-then-act window (see ``rename_no_overwrite``; publishes from
    threads of one process are serialized by a lock) — the same
    caveat Delta documents for HDFSLogStore on ``file://``.  Scheme
    contract: correctness of the CAS still requires the underlying
    rename to be atomic (local/HDFS yes; object-store "filesystems"
    emulating rename as copy+delete must use a CAS-capable scheme —
    ``SingleDriverCASScheme`` or ``ExternalCASScheme`` — instead)."""

    #: a crash during publish can never leave a torn destination
    atomic_publish = True
    #: two racers publishing the same dest get exactly one winner
    atomic_put_if_absent = True

    def commit_section(self):
        """Context manager a commit protocol wraps around one whole
        read-head→publish attempt.  Atomic-publish schemes need no
        critical section (readers can never observe a half-published
        file, so optimistic concurrency alone is sound): a no-op here.
        Schemes whose publish can TEAR the destination serialize
        commits through this instead — otherwise a concurrent
        committer reading the head mid-copy would mistake a LIVE
        commit for a crash remnant and commit past it (a lost update,
        caught by the thread-race test in tests/test_commit_schemes.py
        before this hook existed)."""
        import contextlib
        return contextlib.nullcontext()

    def publish_overwrite(self, spark: SparkSession, tmp: str,
                          dest: str) -> None:
        """Replace ``dest`` with ``tmp``'s content.  Hadoop rename never
        overwrites, so an existing dest is deleted first — opening the
        one-round-trip marker-absent window the module docstring
        documents (safe: all marker protocols treat absent as 'no
        pending work')."""
        rename(spark, tmp, dest, overwrite=True)

    def read_repair(self, spark: SparkSession, dest: str) -> str | None:
        """Authoritative content of a published file whose on-store
        bytes read as torn/missing — or None when the scheme keeps no
        side record of the publish (then the caller's own torn-file
        rule applies: remnant under non-atomic publish, corruption
        under atomic).  Schemes that move the commit point outside the
        store (``ExternalCASScheme``) override this to recover the
        content from the commit record, making torn destinations
        self-healing for readers."""
        return None

    def settle_pending(self, spark: SparkSession, prefix: str) -> None:
        """Finish any crashed-but-committed publishes under ``prefix``
        before a caller trusts a directory LISTING (the
        S3DynamoDBLogStore fixup-on-list behavior): schemes whose
        commit point is outside the store can have a committed version
        whose destination file never materialized — invisible to a
        plain listing until completed from the commit record.  No-op
        here: with the commit point IN the store (the rename), a listed
        name is the only form a commit can take."""

    def forget(self, spark: SparkSession, dest: str) -> None:
        """Drop any commit record for ``dest`` — called when the
        published file itself is RECLAIMED (vacuum trimming a
        superseded manifest).  Safe because version allocation only
        ever goes above the LIVE head, so a reclaimed name is never
        re-acquired; without this, external-CAS claims would grow
        without bound on long-lived tables.  No-op here (rename-commit
        schemes keep no records)."""

    def forget_prefix(self, spark: SparkSession, prefix: str) -> None:
        """Drop every commit record under ``prefix`` — called when a
        whole TABLE directory is removed (drop).  Load-bearing for
        external-CAS schemes: a recreated table restarts at version 1,
        and a stale acknowledged claim for the old v1 would make every
        new acquire lose forever (the recreate livelock).  No-op
        here."""

    def claimed_tmps(self, spark: SparkSession, prefix: str) -> dict:
        """Qualified staged-tmp path → claim record, for every claim
        under the DIRECTORY ``prefix``.  Vacuum's loose-tmp sweep
        consults this so it never mistakes a claim's retained tmp — the
        claim's durable repair authority, kept alive exactly as long as
        the claim — for a crash remnant.  Empty for schemes that keep
        no commit records (their tmps really are all remnants once
        aged)."""
        return {}

    #: serializes this process's put-if-absent publishes: on ``file://``
    #: the no-overwrite rename is a dest-exists check, then a clobbering
    #: rename of the data file and another of its ``.crc``, so two
    #: threads could both pass the check and leave one racer's bytes
    #: under another's checksum.  Cross-process racers keep the window.
    _publish_lock = threading.Lock()

    def put_if_absent(self, spark: SparkSession, tmp: str,
                      dest: str) -> bool:
        try:
            with self._publish_lock:
                rename_no_overwrite(spark, tmp, dest)
        except FileExistsError:
            remove(spark, tmp, missing_ok=True)
            return False             # lost the race — dest is the winner's
        except OSError:
            remove(spark, tmp, missing_ok=True)
            if exists(spark, dest):
                return False         # racer won between attempt and check
            raise
        return True


class NonAtomicRenameScheme(HadoopRenameScheme):
    """Object-store rename semantics: publish = copy + delete, two
    separate operations with no atomicity between OR within them.  A
    crash mid-copy leaves a TORN destination; a crash between copy and
    delete leaves both files (complete dest + stale tmp); two
    ``put_if_absent`` racers can both pass the existence check and both
    "succeed", the second silently overwriting the first.

    ``fault`` is the crash-injection hook: ``fault(event, path)`` is
    invoked at every protocol point (``"pre_copy"``, ``"mid_copy"``,
    ``"post_copy"``, ``"post_delete"``, and ``"checked_absent"`` on the
    put-if-absent path) and crashes the operation by raising.  Tests
    drive every torn state through it (tests/test_commit_schemes.py).
    """

    atomic_publish = False
    atomic_put_if_absent = False

    def __init__(self, fault=None):
        self.fault = fault or (lambda event, path: None)

    def _copy_delete(self, spark: SparkSession, tmp: str,
                     dest: str) -> None:
        text = read_text(spark, tmp)
        self.fault("pre_copy", dest)
        # the copy becomes visible progressively: a reader (or a crash)
        # between these writes sees a torn destination, exactly the
        # object-store hazard being simulated
        write_text(spark, dest, text[: max(1, len(text) // 2)])
        self.fault("mid_copy", dest)
        write_text(spark, dest, text)
        self.fault("post_copy", dest)
        remove(spark, tmp, missing_ok=True)
        self.fault("post_delete", dest)

    def publish_overwrite(self, spark: SparkSession, tmp: str,
                          dest: str) -> None:
        self._copy_delete(spark, tmp, dest)

    def put_if_absent(self, spark: SparkSession, tmp: str,
                      dest: str) -> bool:
        if exists(spark, dest):
            remove(spark, tmp, missing_ok=True)
            return False
        # the check-then-copy window: another racer can land here too
        self.fault("checked_absent", dest)
        self._copy_delete(spark, tmp, dest)
        return True


class SingleDriverCASScheme(NonAtomicRenameScheme):
    """Copy+delete publish plus a driver-local mutex around
    ``put_if_absent`` — the check and the copy become atomic *within
    one driver process*, which is exactly Delta's S3SingleDriverLogStore
    contract: safe for any number of writer THREADS on one driver (the
    local[...] / single-application deployment), NOT for concurrent
    drivers.  Publish is still non-atomic (a crash can tear the
    destination), so consumers must keep their torn-file handling on —
    the versioned backend quarantines torn manifests under this scheme
    (tableio_versioned)."""

    atomic_put_if_absent = True

    def __init__(self, fault=None):
        super().__init__(fault)
        # reentrant: commit_section holds it across a whole commit
        # attempt, whose publish re-enters through put_if_absent
        self._lock = threading.RLock()

    def commit_section(self):
        """Serialize whole commit attempts: with a tearable publish, a
        committer must never read the table head while another writer
        is mid-copy on it (it would misread the live commit as a crash
        remnant and commit past it).  Same mutex as ``put_if_absent``,
        so the mid-copy state is unobservable to other committers —
        the S3SingleDriverLogStore behavior (log writes serialize
        within the driver)."""
        return self._lock

    def put_if_absent(self, spark: SparkSession, tmp: str,
                      dest: str) -> bool:
        with self._lock:
            return super().put_if_absent(spark, tmp, dest)


class FileExternalCAS:
    """Stand-in for the EXTERNAL compare-and-swap service a multi-driver
    object-store deployment brings (DynamoDB conditional put / S3
    conditional PUT — the coordination half of Delta's
    S3DynamoDBLogStore design): a shared POSIX directory where
    ``acquire`` is made atomic by ``os.link(2)`` — an atomic
    create-if-absent that publishes the record's full content in the
    same syscall (an ``O_EXCL`` create would let a racer read the claim
    file before its content lands).  Real deployments implement the
    same four methods against their CAS service; every method is safe
    to call from any process sharing the directory (NFS with proper
    link semantics, or one machine running several drivers).

    Records are tiny JSON dicts keyed by the qualified destination
    path; ``complete`` is a sibling marker file so acknowledging a
    publish is idempotent and never rewrites the claim."""

    def __init__(self, directory: str):
        import os
        self._os = os
        self.directory = directory
        os.makedirs(directory, exist_ok=True)

    def _path(self, key: str) -> str:
        import hashlib
        return self._os.path.join(
            self.directory,
            hashlib.sha256(key.encode("utf-8")).hexdigest() + ".json")

    def acquire(self, key: str, record: dict) -> dict | None:
        """Atomically register ``record`` under ``key`` iff absent —
        the conditional-put primitive.  Returns None when this caller
        WON (its record is now the claim), else the existing record.

        The lose path must return the claim that beat us, and that
        claim can be RELEASED between our failed link and our read
        (another loser clearing a dead claim): returning None there
        would tell the caller it won while its record was never
        installed — two writers would both publish the same key, the
        exact lost update this service exists to prevent.  A vanished
        claim therefore retries the link instead."""
        import uuid as _uuid
        path = self._path(key)
        claim = f"{path}.claim-{_uuid.uuid4().hex}"
        try:
            # inside the try: a failed write (disk full, interrupt,
            # unserializable record) must not leak the temp file into
            # the scanned CAS directory
            with open(claim, "w", encoding="utf-8") as f:
                json.dump(dict(record, key=key), f)
            for _ in range(10):
                try:
                    self._os.link(claim, path)   # atomic create-if-absent
                    return None
                except FileExistsError:
                    existing = self.get(key)
                    if existing is not None:
                        return existing
                    # the blocking claim was released mid-race — retry
            raise OSError(f"acquire({key}): claim kept vanishing between "
                          f"link failure and read — release storm")
        finally:
            try:
                self._os.unlink(claim)
            except FileNotFoundError:
                pass       # open() itself failed — nothing was created

    def get(self, key: str) -> dict | None:
        """The claim under ``key`` (with its ``complete`` flag), or
        None.  Claims are published atomically by ``acquire``'s link,
        so a present file is always whole."""
        try:
            with open(self._path(key), encoding="utf-8") as f:
                record = json.load(f)
        except FileNotFoundError:
            return None
        record["complete"] = self._os.path.exists(
            self._path(key) + ".complete")
        return record

    def mark_complete(self, key: str) -> None:
        """Acknowledge the publish under ``key`` (idempotent)."""
        with open(self._path(key) + ".complete", "w"):
            pass

    def release(self, key: str, claim_id: str | None = None) -> bool:
        """Delete a DEAD claim (publish unfinishable: its recorded tmp
        was reclaimed with the publish unacknowledged) so the key can
        be re-acquired.  Only sound under the same retention contract
        as vacuum: a claim whose tmp aged out of retention belongs to
        a writer that is long dead.

        With ``claim_id`` this is a CONDITIONAL delete (the
        DynamoDB-style conditional-delete primitive): the claim is
        removed only while it still IS the claim the caller observed.
        Without it, a finisher that observed a dead claim, then stalled
        while another finisher released it and a new writer re-acquired
        the key, would wake and delete the LIVE successor claim —
        letting a third writer acquire the same key and silently
        overwrite the successor's commit (the lost update the service
        exists to prevent).  Releasers serialize on a per-key lock file
        so the read-compare-delete is atomic against other releasers;
        ``acquire`` needs no lock (its ``os.link`` either lands before
        the locked read — the compare then refuses — or after the
        delete).  Returns whether the claim was removed."""
        import fcntl
        path = self._path(key)
        lock_path = path + ".lock"
        while True:
            lock = open(lock_path, "a")
            try:
                fcntl.flock(lock, fcntl.LOCK_EX)
                # the lock file may have been swept (unconditional
                # release removes it) between our open and the flock —
                # a lock on a deleted inode excludes nobody; re-open
                try:
                    if (self._os.stat(lock_path).st_ino
                            != self._os.fstat(lock.fileno()).st_ino):
                        continue
                except FileNotFoundError:
                    continue
                if claim_id is not None:
                    current = self.get(key)
                    if current is None:
                        return False          # already released
                    if current.get("claim_id") != claim_id:
                        return False          # superseding live claim
                for suffix in (".complete", ""):
                    try:
                        self._os.unlink(self._path(key) + suffix)
                    except FileNotFoundError:
                        pass
                # a successful release of EITHER kind drops the lock
                # file too: the acquire/release/re-acquire cycle would
                # otherwise leave one .lock per key forever, growing the
                # CAS directory and slowing every _scan listdir.  The
                # inode re-check above covers a waiting racer (it sees
                # the unlinked inode and re-opens a fresh lock file).
                try:
                    self._os.unlink(lock_path)
                except FileNotFoundError:
                    pass
                return True
            finally:
                lock.close()

    def pending(self, prefix: str) -> list[dict]:
        """Unacknowledged claims whose key starts with ``prefix`` — the
        'incomplete entries for this table' query a listing consults to
        finish crashed publishes (DynamoDB: a keyed query; here: scan
        the claim files, skipping acknowledged ones by their sibling
        marker).  Claim volume is bounded: acknowledged claims are
        released when their published file is vacuumed or its table
        dropped (``ExternalCASScheme.forget``/``forget_prefix``), so
        the scan stays proportional to live versions × tables; a real
        service would additionally index by table path."""
        return self._scan(prefix, include_complete=False)

    def claims(self, prefix: str) -> list[dict]:
        """ALL claims (acknowledged included) under ``prefix`` — the
        bulk-release query ``forget_prefix`` uses when a table is
        dropped."""
        return self._scan(prefix, include_complete=True)

    def _scan(self, prefix: str, include_complete: bool) -> list[dict]:
        out = []
        for name in self._os.listdir(self.directory):
            if not name.endswith(".json"):
                continue
            complete = self._os.path.exists(
                self._os.path.join(self.directory, name) + ".complete")
            if complete and not include_complete:
                continue
            try:
                with open(self._os.path.join(self.directory, name),
                          encoding="utf-8") as f:
                    record = json.load(f)
            except (FileNotFoundError, ValueError):
                continue    # settled or mid-acquire — not ours to read
            if record.get("key", "").startswith(prefix):
                record["complete"] = complete
                out.append(record)
        return out


class ExternalCASScheme(NonAtomicRenameScheme):
    """Multi-driver commits on a store with NO atomic primitives at
    all, by moving the commit point into an external CAS service — the
    S3DynamoDBLogStore design, re-derived from Delta's published
    LogStore contract.  The store's rename is copy+delete and its
    put-if-absent is check-then-act, so neither can be a commit point;
    ``cas.acquire`` (conditional put) is.

    ``put_if_absent(tmp, dest)``:

    1. ``cas.acquire(dest, {tmp})`` — THE commit point.  Won: copy
       ``tmp`` → ``dest`` (this writer owns the name exclusively; the
       copy can tear, but is self-healing — see below), acknowledge
       with ``mark_complete``, return True.  The claim's tmp is
       RETAINED after the acknowledgment, as the claim's durable
       authority: a writer that stalls mid-copy while a finisher
       completes the publish, then wakes (or crashes) mid-rewrite,
       leaves a torn destination behind an ACKNOWLEDGED claim — only
       the immutable tmp can repair that state.  Tmps live exactly as
       long as their claim (``forget`` removes both when vacuum/drop
       reclaims the published file), so they are bounded the same way
       manifests are.
    2. Lost: FINISH the winner's publish if still pending — the claim
       records the winner's tmp path, whose content is immutable and
       complete by construction (written fully before acquire), so any
       process can complete the copy, acknowledge, and then return
       False.  A claim whose tmp is gone while unacknowledged is a
       DEAD writer's (tmp files outlive any live publish under the
       vacuum retention contract): release it and re-acquire.

    Readers: a torn or missing ``dest`` with a live claim is recovered
    through ``read_repair`` — the claim's tmp is the authoritative
    content, so a crash at ANY point after the acquire still yields a
    readable commit; a crash before the acquire leaves only the loose
    tmp (no claim, no commit) — exactly the invariant the versioned
    backend's torn-manifest rule needs, now with multi-driver teeth.
    The versioned vacuum's ``.tmp-*`` sweep upholds the tmps-live-as-
    long-as-their-claim invariant via ``claimed_tmps``: an acknowledged
    claim's tmp is skipped (released together with the claim by
    ``forget`` when the published manifest is reclaimed), and an aged
    UNACKNOWLEDGED claim is released together with its tmp — dropping
    the allocated version, which is sound only because the dead writer
    never saw success.  Residual hazard, documented: if an EXTERNAL
    sweep (outside vacuum) reclaims an acknowledged claim's tmp, a
    writer that had stalled since before the retention horizon and
    wakes to tear the destination leaves a state only distinguishable
    from external corruption — read_repair raises loudly there rather
    than guessing.

    Publish-overwrite (marker files) stays the base copy+delete:
    markers tolerate torn states by design and need no CAS."""

    atomic_put_if_absent = True
    # dest bytes can still tear mid-copy; read_repair makes that state
    # recoverable, which is strictly stronger than atomic_publish=False
    # alone but keeps consumers' torn-file handling ON (correct: a
    # remnant with NO claim is still possible — crash before acquire)
    atomic_publish = False

    def __init__(self, cas, fault=None):
        super().__init__(fault)
        self.cas = cas

    def _key(self, spark: SparkSession, dest: str) -> str:
        # qualified: /x, file:/x and file:///x must map to one claim
        return qualified(spark, dest)

    def put_if_absent(self, spark: SparkSession, tmp: str,
                      dest: str) -> bool:
        key = self._key(spark, dest)
        # read the staged content BEFORE the acquire: the instant the
        # claim is visible, any concurrent lister (settle_pending) or
        # loser may FINISH this publish and delete the tmp out from
        # under us — the copy below must not depend on it surviving
        text = read_text(spark, tmp)
        import uuid as _uuid
        for _ in range(3):
            # claim_id: per-claim identity for conditional release — a
            # finisher that observed THIS claim dead can never delete a
            # successor claim re-acquired under the same key (_finish)
            existing = self.cas.acquire(
                key, {"tmp": qualified(spark, tmp),
                      "claim_id": _uuid.uuid4().hex})
            if existing is None:
                self.fault("cas_acquired", dest)
                self.fault("pre_copy", dest)
                # progressive visibility: the simulated object-store
                # hazard (same as the base scheme's publish)
                write_text(spark, dest, text[: max(1, len(text) // 2)])
                self.fault("mid_copy", dest)
                write_text(spark, dest, text)
                self.fault("post_copy", dest)
                self.cas.mark_complete(key)
                self.fault("post_complete", dest)
                # tmp retained: it is the claim's durable authority
                # (class docstring) — released with the claim by forget
                return True
            if self._finish(spark, key, dest, existing):
                remove(spark, tmp, missing_ok=True)
                return False
            # dead claim released — re-acquire
        raise OSError(f"put_if_absent {dest}: could not settle the CAS "
                      f"claim after 3 attempts")

    @staticmethod
    def _same_claim(a: dict | None, b: dict | None) -> bool:
        """Whether two claim fetches observed the SAME claim (per-claim
        ``claim_id`` when both carry one; recorded tmp as the fallback
        for records written before claim ids existed)."""
        if a is None or b is None:
            return False
        ida, idb = a.get("claim_id"), b.get("claim_id")
        if ida is not None and idb is not None:
            return ida == idb
        return a.get("tmp") == b.get("tmp")

    def _finish(self, spark: SparkSession, key: str, dest: str,
                entry: dict) -> bool:
        """Complete a pending publish from its claim (idempotent, any
        process).  True = ``dest`` is (now) published; False = the
        claim was dead and has been released (the key is free).

        Releasing is gated on claim IDENTITY, twice: the dead claim we
        observed may have been released by another finisher and the key
        re-acquired by a live writer between any two steps here, so (1)
        a fresh fetch that is a DIFFERENT claim is re-evaluated from
        scratch instead of released, and (2) the release itself is the
        CAS service's conditional delete keyed on the observed
        ``claim_id`` — without both, a stale finisher deletes the live
        successor's claim, a third writer re-acquires the same key, and
        two writers return True for one version path (lost update)."""
        for _ in range(10):
            if entry is None or entry.get("complete"):
                # released (published name reclaimed) or acknowledged —
                # either way the key holds no pending work
                return True
            wtmp = entry["tmp"]
            if exists(spark, wtmp):
                try:
                    text = read_text(spark, wtmp)
                except Exception:
                    # tmp vanished between the check and the read: the
                    # claim was released (or swept) concurrently —
                    # re-evaluate from a fresh fetch
                    entry = self.cas.get(key)
                    continue
                write_text(spark, dest, text)
                self.cas.mark_complete(key)
                # tmp retained (class docstring): released with the claim
                return True
            fresh = self.cas.get(key)
            if fresh is None or fresh.get("complete"):
                # the winner (or another finisher) acknowledged, or the
                # claim was released, in between
                return True
            if not self._same_claim(fresh, entry):
                # a successor writer re-acquired the key under us: that
                # claim is NOT ours to judge dead — re-evaluate it
                entry = fresh
                continue
            # same claim, tmp reclaimed, unacknowledged: a dead writer's.
            # Conditional delete — a successor acquired between the fetch
            # above and this delete survives (we then re-evaluate it)
            released = self.cas.release(key, claim_id=entry.get("claim_id"))
            if released is False:       # None = legacy unconditional CAS
                entry = self.cas.get(key)
                continue
            return False
        raise OSError(f"_finish {dest}: claim kept changing under "
                      f"re-evaluation — release storm")

    def settle_pending(self, spark: SparkSession, prefix: str) -> None:
        """Fixup-on-list (the S3DynamoDBLogStore behavior): a commit
        crashed right after its acquire has NO destination file yet, so
        a plain listing would not see the committed version — finish
        every unacknowledged claim under ``prefix`` from its recorded
        tmp before the caller trusts the listing.  Dead claims (tmp
        reclaimed, unacknowledged) are released here too, freeing their
        keys."""
        # trailing slash: the prefix is a DIRECTORY — without it,
        # 'tables/t' would also settle (and complete) 'tables/t2's claims
        for record in self.cas.pending(
                _strip_trailing(qualified(spark, prefix)) + "/"):
            self._finish(spark, record["key"], record["key"], record)

    def forget(self, spark: SparkSession, dest: str) -> None:
        self._release_with_tmp(spark, self.cas.get(self._key(spark, dest)),
                               self._key(spark, dest))

    def forget_prefix(self, spark: SparkSession, prefix: str) -> None:
        for record in self.cas.claims(
                _strip_trailing(qualified(spark, prefix)) + "/"):
            self._release_with_tmp(spark, record, record["key"])

    def claimed_tmps(self, spark: SparkSession, prefix: str) -> dict:
        return {r["tmp"]: r for r in self.cas.claims(
            _strip_trailing(qualified(spark, prefix)) + "/")}

    def _release_with_tmp(self, spark: SparkSession, record: dict | None,
                          key: str) -> None:
        """Release a claim together with its retained tmp (the claim's
        durable authority — kept alive exactly as long as the claim,
        see class docstring)."""
        if record is None:
            return
        try:
            remove(spark, record["tmp"], missing_ok=True)
        except Exception:
            pass       # tmp already swept/inaccessible — claim still goes
        self.cas.release(key)

    def read_repair(self, spark: SparkSession, dest: str) -> str | None:
        """Recover the committed content behind a torn/missing ``dest``
        (see class docstring).  The claim's tmp is immutable-complete,
        so it is always authoritative; once the tmp is gone the publish
        was acknowledged and ``dest``'s terminal bytes are whole — the
        bounded retry below only rides out the transient window while
        some finisher is still mid-copy (every concurrent finisher's
        LAST write is the full content)."""
        key = self._key(spark, dest)
        for attempt in range(5):
            entry = self.cas.get(key)
            if entry is None:
                return None                      # no claim: true remnant
            wtmp = entry["tmp"]
            if exists(spark, wtmp):
                try:
                    text = read_text(spark, wtmp)
                except Exception:
                    # tmp vanished mid-read — re-evaluate from a fresh
                    # claim fetch on the next iteration
                    continue
                try:     # best-effort completion so listings converge
                    write_text(spark, dest, text)
                    self.cas.mark_complete(key)
                except Exception:
                    pass
                return text
            if entry.get("complete"):
                try:
                    text = read_text(spark, dest)
                    json.loads(text)             # whole yet?
                    return text
                except Exception:
                    _time.sleep(0.05 * (attempt + 1))
                    continue
            # tmp gone with an INCOMPLETE flag: the flag may be stale —
            # the winner marks complete BEFORE any tmp could legally
            # vanish, so a fresh fetch showing complete means a live
            # publish raced us (loop back into the complete branch);
            # the SAME claim still incomplete on the fresh fetch =
            # genuinely dead; a DIFFERENT claim means a successor writer
            # re-acquired the key — re-evaluate it (its tmp may be live)
            fresh = self.cas.get(key)
            if fresh is None:
                return None                      # released: true remnant
            if fresh.get("complete") or not self._same_claim(fresh, entry):
                continue
            return None                          # dead claim — unreadable
        raise OSError(
            f"read_repair {dest}: claim acknowledged but the destination "
            f"never became readable — external corruption")


class LocalFSMultiDriverWarning(UserWarning):
    """Versioned commits are running through the default rename scheme
    on a ``file://`` root, where ``put_if_absent`` keeps a residual
    cross-PROCESS check-then-act window (see ``rename_no_overwrite``) —
    the same caveat Delta documents for HDFSLogStore on ``file://``.
    Harmless for a single driver; concurrent drivers on one machine
    should install ``ExternalCASScheme(FileExternalCAS(dir))``."""


_local_cas_warned = False


def warn_local_fs_multidriver(spark: SparkSession, scheme, root: str) -> None:
    """One-time (per process) ``LocalFSMultiDriverWarning`` when a
    versioned commit runs through the DEFAULT rename scheme on a
    ``file://`` root.  The default scheme declares
    ``atomic_put_if_absent=True`` because it IS hard CAS on HDFS
    (FileContext rename, server-side atomic), but on local FS the same
    call falls back to a dest-exists check + POSIX rename — a
    microsecond cross-process lost-update window that no test can
    disprove (tests/test_multiprocess_commit.py says so explicitly).
    Single-driver local use — every test here — is unaffected; the
    warning names the remedy for the multi-driver case."""
    global _local_cas_warned
    if _local_cas_warned or type(scheme) is not HadoopRenameScheme:
        return
    if not qualified(spark, root).startswith("file:"):
        return
    _local_cas_warned = True
    import warnings
    warnings.warn(
        f"versioned commits on {root} use the default rename scheme on "
        f"the LOCAL filesystem, whose put-if-absent keeps a residual "
        f"cross-process check-then-act window (Delta's HDFSLogStore-on-"
        f"file:// caveat).  Safe for a single driver; for concurrent "
        f"driver processes install fsio.ExternalCASScheme("
        f"FileExternalCAS(dir)) via fsio.set_commit_scheme.",
        LocalFSMultiDriverWarning, stacklevel=3)


_commit_scheme: HadoopRenameScheme = HadoopRenameScheme()


def get_commit_scheme() -> HadoopRenameScheme:
    return _commit_scheme


def set_commit_scheme(scheme) -> None:
    """Install a process-wide commit scheme (see module docstring).
    Deployments whose warehouse lives on an object store install
    ``SingleDriverCASScheme`` (single driver) or an external-CAS
    implementation of the same interface (multi-driver)."""
    global _commit_scheme
    _commit_scheme = scheme
