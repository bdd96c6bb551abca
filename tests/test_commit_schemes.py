"""The commit-scheme seam (fsio): rename-as-commit protocols proved on a
simulated NON-atomic-rename (object-store) filesystem, not just on
local/HDFS.

``NonAtomicRenameScheme`` implements publish as copy+delete with
fault-injection hooks, reproducing the three object-store hazards the
docs previously only described:

- a crash mid-copy leaves a TORN destination;
- a crash between copy and delete leaves a complete destination plus a
  stale tmp;
- two put-if-absent racers can both pass the existence check and both
  "succeed" (the lost-update hazard).

The tests here pin what each consumer does about them: marker protocols
read torn markers as absent; the versioned backend REFUSES to commit
without an atomic put-if-absent, runs its full lifecycle (incl. real
thread races) through ``SingleDriverCASScheme`` (the
S3SingleDriverLogStore analog), skips torn manifests as unacknowledged
remnants, and never reuses their version numbers.  Vacuum's retention
horizon is proved to protect an IN-FLIGHT commit from a concurrent
vacuum (and the zero-horizon fast path is shown to be the unsafe one).
"""

from __future__ import annotations

import json
import threading

import pytest

from dlx_spark import fsio, tableio
from dlx_spark.tableio_versioned import VersionedTableBackend


class SimulatedCrash(Exception):
    pass


@pytest.fixture(autouse=True)
def restore_scheme():
    prev = tableio.get_backend()
    yield
    fsio.set_commit_scheme(fsio.HadoopRenameScheme())
    tableio.set_backend(prev)


@pytest.fixture
def be(tmp_path):
    return VersionedTableBackend(root=str(tmp_path / "vroot"))


def _df(spark, rows, schema="id long, text string"):
    return spark.createDataFrame(rows, schema)


def crash_at(*events):
    hits = []

    def fault(event, path):
        hits.append((event, path))
        if event in events:
            raise SimulatedCrash(f"{event} @ {path}")

    fault.hits = hits
    return fault


# ------------------------------------------------------ marker protocols


def test_publish_roundtrip_and_overwrite_on_nonatomic_scheme(
        spark, tmp_path):
    fsio.set_commit_scheme(fsio.NonAtomicRenameScheme())
    p = str(tmp_path / "m.json")
    fsio.write_text_atomic(spark, p, '{"v": 1}')
    assert json.loads(fsio.read_text(spark, p)) == {"v": 1}
    fsio.write_text_atomic(spark, p, '{"v": 2}')      # overwrite path
    assert json.loads(fsio.read_text(spark, p)) == {"v": 2}
    assert not fsio.exists(spark, p + ".tmp")         # tmp consumed


def test_crash_between_copy_and_delete_leaves_complete_marker(
        spark, tmp_path):
    """The benign window: dest is already complete when the delete is
    lost, so the marker is fully readable and only a stale tmp remains
    (overwritten by the next publish)."""
    fsio.set_commit_scheme(fsio.NonAtomicRenameScheme(
        fault=crash_at("post_copy")))
    p = str(tmp_path / "m.json")
    with pytest.raises(SimulatedCrash):
        fsio.write_text_atomic(spark, p, '{"stage": "s1"}')
    assert json.loads(fsio.read_text(spark, p)) == {"stage": "s1"}
    assert fsio.exists(spark, p + ".tmp")
    # recovery = simply publishing again: tmp is overwritten, not leaked
    fsio.set_commit_scheme(fsio.NonAtomicRenameScheme())
    fsio.write_text_atomic(spark, p, '{"stage": "s2"}')
    assert json.loads(fsio.read_text(spark, p)) == {"stage": "s2"}
    assert not fsio.exists(spark, p + ".tmp")


@pytest.mark.slow
def test_torn_marker_from_midcopy_crash_reads_as_safe(spark, tmp_path):
    """The harsh window: a crash mid-copy tears the destination.  The
    store's open-time recovery — a REAL marker consumer — must treat a
    torn token-index dirty marker as 'rebuild wholesale' (always safe),
    never act on the garbage payload, now produced by the simulated
    scheme instead of hand-written garbage."""
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    root = str(tmp_path / "wh")
    st = MarcStore(spark, root)               # clean open, no markers
    st.commit(Bib({"_id": 3, "245": [{"indicators": [" ", " "],
                                      "subfields": [{"code": "a",
                                                     "value": "Torn probe"}]}]}))
    st.build_search_index("bib")
    fsio.set_commit_scheme(fsio.NonAtomicRenameScheme(
        fault=crash_at("mid_copy")))
    marker = fsio.join(st.root, "_dirty_bibs_tokens.json")
    with pytest.raises(SimulatedCrash):
        fsio.write_text_atomic(spark, marker,
                               json.dumps({"base_segments": ["x" * 64]}))
    torn = fsio.read_text(spark, marker)
    with pytest.raises(ValueError):
        json.loads(torn)                      # genuinely torn JSON
    fsio.set_commit_scheme(fsio.HadoopRenameScheme())
    st2 = MarcStore(spark, root)              # recovery runs on open
    assert not fsio.exists(spark, marker)     # settled, not acted on
    assert st2.bibs().count() == 1
    assert [r["_id"] for r in
            st2.search("bib", "245__a:torn").collect()] == [3]


# ------------------------------------------- versioned backend + schemes


def test_same_process_put_if_absent_race_has_one_winner(spark, tmp_path):
    """The default scheme on ``file://``: threads of one process racing
    put-if-absent of their own tmp files onto one destination.  Every
    round has exactly one winner, and the destination reads back whole
    with a valid checksum (the local filesystem renames the data file
    and its ``.crc`` separately, so two interleaved renames could pair
    one racer's bytes with another's checksum)."""
    import sys

    fsio.set_commit_scheme(fsio.HadoopRenameScheme())
    base = "file://" + str(tmp_path)
    n = 8
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for rnd in range(50):
            dest = f"{base}/v{rnd:03d}.json"
            tmps = [f"{base}/v{rnd:03d}.json.{i}.tmp" for i in range(n)]
            for i, tmp in enumerate(tmps):
                fsio.write_text(spark, tmp, f"racer {i} " + "x" * (64 + i))
            go = threading.Barrier(n)
            won = [None] * n

            def race(i):
                go.wait(timeout=60)
                won[i] = fsio.put_if_absent(spark, tmps[i], dest)

            threads = [threading.Thread(target=race, args=(i,))
                       for i in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert won.count(True) == 1, (rnd, won)
            winner = won.index(True)
            assert fsio.read_text(spark, dest) == \
                f"racer {winner} " + "x" * (64 + winner)
    finally:
        sys.setswitchinterval(interval)


def test_versioned_backend_refuses_scheme_without_cas(spark, be):
    """Raw object-store rename has no atomic put-if-absent: two racers
    could both publish the same version and silently lose one commit.
    The backend must refuse loudly at the first commit, not corrupt."""
    fsio.set_commit_scheme(fsio.NonAtomicRenameScheme())
    with pytest.raises(RuntimeError, match="put-if-absent"):
        be.write(_df(spark, [(1, "a")]), "t_refuse", "id")
    assert not be.exists(spark, "t_refuse")


def test_lost_update_without_cas_and_exactly_one_winner_with(
        spark, tmp_path):
    """The hazard itself, reproduced: two put_if_absent racers held at
    the check-then-copy window both 'succeed' on the raw scheme (the
    second overwrites the first — a lost update).  The CAS scheme's
    driver-local mutex yields exactly one winner."""

    def race(scheme, tag):
        fsio.set_commit_scheme(scheme)
        dest = str(tmp_path / f"{tag}.json")
        results = []

        def racer(i):
            tmp = str(tmp_path / f"r{i}-{tag}.tmp")
            fsio.write_text(spark, tmp, json.dumps({"writer": i}))
            results.append(fsio.put_if_absent(spark, tmp, dest))

        ts = [threading.Thread(target=racer, args=(i,)) for i in (1, 2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return sorted(results)

    # raw scheme, both racers held at the check-then-copy window: both
    # pass the exists check, both copy, both report success — the
    # second's content silently overwrote the first's (lost update)
    barrier = threading.Barrier(2, timeout=30)
    raw = fsio.NonAtomicRenameScheme(
        fault=lambda event, path:
            barrier.wait() if event == "checked_absent" else None)
    assert race(raw, "raw") == [True, True]
    # the CAS mutex serializes the whole check+copy: exactly one winner
    assert race(fsio.SingleDriverCASScheme(), "cas") == [False, True]


def test_versioned_lifecycle_on_cas_scheme_over_object_store(spark, be):
    """The full versioned-table lifecycle — write, append, snapshot
    isolation, rewrite (carried and refused races), time travel — on
    copy+delete rename with the driver-local CAS installed."""
    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
    be.write(_df(spark, [(1, "a"), (2, "b")]), "t_cas", "id")
    snap = be.read(spark, "t_cas")
    be.append(_df(spark, [(3, "c")]), "t_cas", "id")
    assert snap.count() == 2
    assert be.read(spark, "t_cas").count() == 3
    assert [r["id"] for r in be.read_version(spark, "t_cas", 1)
            .orderBy("id").collect()] == [1, 2]
    # rewrites, all through copy+delete publishes: a raced append is
    # carried, and a re-derive from a stale snapshot is refused
    token = be.snapshot_token(spark, "t_cas")
    be.append(_df(spark, [(10, "raced")]), "t_cas", "id")
    assert be.rewrite(_df(spark, [(9, "rewritten")]), "t_cas", token)
    assert sorted(r["id"] for r in be.read(spark, "t_cas").collect()) \
        == [9, 10]
    assert not be.rewrite(_df(spark, [(11, "stale")]), "t_cas", token,
                          exact=True)
    assert sorted(r["id"] for r in be.read(spark, "t_cas").collect()) \
        == [9, 10]


def test_concurrent_appends_race_through_cas_scheme(spark, be):
    """The 8-thread optimistic-concurrency test, re-run where it
    actually matters: on the simulated object store.  The CAS mutex
    plus commit retries must serialize every append with no lost
    update — the exact scenario the raw scheme loses."""
    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
    be.write(_df(spark, [(0, "base")]), "t_casrace", "id")
    errors = []

    def appender(i):
        try:
            be.append(_df(spark, [(i, f"t{i}")]), "t_casrace", "id")
        except Exception as exc:
            errors.append((i, exc))

    threads = [threading.Thread(target=appender, args=(i,))
               for i in range(1, 9)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    got = sorted(r["id"] for r in be.read(spark, "t_casrace").collect())
    assert got == list(range(9))
    assert be.versions(spark, "t_casrace") == list(range(1, 10))


def test_torn_manifest_skipped_and_number_never_reused(spark, be):
    """A commit crashed mid-copy leaves a TORN version-numbered
    manifest.  Its writer never got success, so: readers fall back to
    the latest parseable version; the next commit allocates ABOVE the
    torn name (never reusing it — a reader could otherwise confuse the
    remnant with a live commit); time travel to it errors clearly; and
    vacuum clears it once aged."""
    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
    be.write(_df(spark, [(1, "v1")]), "t_torn", "id")

    # crash the NEXT commit mid-copy of its manifest publish
    fsio.set_commit_scheme(fsio.SingleDriverCASScheme(
        fault=crash_at("mid_copy")))
    with pytest.raises(SimulatedCrash):
        be.append(_df(spark, [(2, "v2")]), "t_torn", "id")
    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())

    assert be.versions(spark, "t_torn") == [1, 2]       # remnant listed
    with pytest.raises(ValueError):
        be._read_manifest(spark, "t_torn", 2)           # genuinely torn
    # reader never sees the torn manifest — resolves v1
    assert [r["id"] for r in be.read(spark, "t_torn").collect()] == [1]
    with pytest.raises(FileNotFoundError, match="torn"):
        be.read_version(spark, "t_torn", 2)
    # the writer's retry lands ABOVE the remnant and merges the v1 head
    be.append(_df(spark, [(2, "v2")]), "t_torn", "id")
    assert be.versions(spark, "t_torn") == [1, 2, 3]
    assert sorted(r["id"] for r in be.read(spark, "t_torn").collect()) \
        == [1, 2]
    # vacuum clears the aged remnant but keeps live manifests
    be.vacuum(spark, keep_last=2, min_age_seconds=0)
    assert be.versions(spark, "t_torn") == [1, 3]
    assert sorted(r["id"] for r in be.read(spark, "t_torn").collect()) \
        == [1, 2]


def test_torn_manifest_stays_loud_on_atomic_scheme(spark, be):
    """Under the default atomic-rename scheme a torn committed manifest
    can only be EXTERNAL corruption — skipping it would silently roll
    the table back, so it must keep raising (the round-5 contract)."""
    be.write(_df(spark, [(1, "a")]), "t_loud", "id")
    fsio.write_text(spark, be._manifest_path(spark, "t_loud", 2), "{ torn")
    with pytest.raises(ValueError, match="corrupt manifest"):
        be.read(spark, "t_loud")


@pytest.mark.slow
def test_index_end_to_end_on_cas_scheme(spark, be):
    """An unmodified MinHashIndex through BOTH seams at once: the
    versioned backend over the simulated object-store scheme — create,
    dedup_batch, append, compact (replace), reopen."""
    from dlx_spark.operators.dedup_index import MinHashIndex

    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
    tableio.set_backend(be)
    corpus = _df(spark, [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "an entirely different document about spark internals"),
    ], "doc_id long, text string")
    batch = _df(spark, [
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "novel content that matches nothing in the corpus"),
    ], "doc_id long, text string")
    idx = MinHashIndex.create(corpus, "t_cas_mh")
    clean = sorted(r["doc_id"] for r in
                   idx.dedup_batch(batch, threshold=0.7).collect())
    assert clean == [11]
    idx.compact()
    again = sorted(r["doc_id"] for r in
                   MinHashIndex(spark, "t_cas_mh")
                   .dedup_batch(batch, threshold=0.7).collect())
    assert again == []          # survivor 11 was appended and persists
    idx.drop()


# -------------------------------------------------- vacuum vs writers


def test_vacuum_retention_protects_inflight_commit(spark, be):
    """An in-flight commit is a data segment not yet referenced by any
    manifest.  A concurrent zero-horizon vacuum reclaims it — the
    committed manifest then points at deleted files (the data-loss race
    the retention guard exists for).  The default horizon leaves young
    segments alone, so the same race is harmless."""
    paused = threading.Event()
    resume = threading.Event()

    class PausingBackend(VersionedTableBackend):
        def _write_segment(self, spark, df, table, key, *a, **kw):
            seg = super()._write_segment(spark, df, table, key, *a, **kw)
            if getattr(self, "_pause_once", False):
                self._pause_once = False
                paused.set()
                assert resume.wait(timeout=60)
            return seg

    def run_race(min_age):
        pb = PausingBackend(root=be._root)
        table = f"t_vac_{int(min_age)}"
        pb.write(_df(spark, [(1, "base")]), table, "id")
        paused.clear()
        resume.clear()
        pb._pause_once = True
        err = []

        def appender():
            try:
                pb.append(_df(spark, [(2, "inflight")]), table, "id")
            except Exception as exc:
                err.append(exc)

        t = threading.Thread(target=appender)
        t.start()
        assert paused.wait(timeout=60)
        deleted = pb.vacuum(spark, keep_last=1, min_age_seconds=min_age)
        resume.set()
        t.join()
        assert err == []
        return deleted, pb, table

    # zero horizon: the in-flight segment is eaten; the committed
    # manifest points at deleted files — the table is broken
    deleted, pb, table = run_race(0)
    assert deleted                      # it reclaimed the young segment
    with pytest.raises(Exception):
        pb.read(spark, table).collect()
    # default horizon: young segment survives, commit lands intact
    _, pb, table = run_race(3600)
    assert sorted(r["id"] for r in
                  pb.read(spark, table).collect()) == [1, 2]


def test_vacuum_retention_keeps_young_tmp_manifests(spark, be):
    """A writer's not-yet-renamed .tmp manifest must survive a
    concurrent vacuum under the default horizon (zero horizon clears
    it — the quiesced-maintenance fast path)."""
    be.write(_df(spark, [(1, "a")]), "t_tmp", "id")
    tmp = fsio.join(be._table_dir(spark, "t_tmp"), ".tmp-live.json")
    fsio.write_text(spark, tmp, '{"half": ')
    be.vacuum(spark, keep_last=1)                       # default horizon
    assert fsio.exists(spark, tmp)
    be.vacuum(spark, keep_last=1, min_age_seconds=0)
    assert not fsio.exists(spark, tmp)


@pytest.mark.slow
def test_streaming_ingest_composes_all_three_seams(spark, be, tmp_path):
    """The full stack on the simulated object store: exactly-once
    near-dedup streaming ingest (marker protocol via the commit
    scheme) writing through the versioned backend (manifest commits
    via the CAS put-if-absent) — cross-batch dedup state, per-batch
    manifest versions, and replay idempotence all hold."""
    import json as jsonlib

    from pyspark.sql import functions as F

    from dlx_spark.operators.dedup_index import MinHashIndex
    from dlx_spark.streaming import neardedup_ingest_stream

    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
    tableio.set_backend(be)
    corpus = _df(spark, [
        (i, f"corpus document number {i} " + " ".join(
            f"tok{i}_{j}" for j in range(20)))
        for i in range(20)
    ], "doc_id long, text string")
    MinHashIndex.create(corpus, "t_cas_stream")
    v0 = be.versions(spark, "t_cas_stream_sigs")[-1]

    indir = tmp_path / "in"
    indir.mkdir()
    out = str(tmp_path / "clean")
    rows1 = [{"doc_id": 100, "text": corpus.collect()[0]["text"]},
             {"doc_id": 101, "text": " ".join(
                 f"fresh{j}" for j in range(25))}]
    (indir / "b1.json").write_text(
        "\n".join(jsonlib.dumps(r) for r in rows1))
    q = neardedup_ingest_stream(
        spark, str(indir), "t_cas_stream", out,
        str(tmp_path / "ckpt"), threshold=0.7)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {101}
    assert be.versions(spark, "t_cas_stream_sigs")[-1] > v0

    # batch 2 near-dups batch 1's survivor: cross-batch state holds,
    # and the dedup decision came through CAS-committed manifests
    rows2 = [{"doc_id": 200, "text": rows1[1]["text"]}]
    (indir / "b2.json").write_text(
        "\n".join(jsonlib.dumps(r) for r in rows2))
    q = neardedup_ingest_stream(
        spark, str(indir), "t_cas_stream", out,
        str(tmp_path / "ckpt"), threshold=0.7)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(out)
            .filter(F.col("batch") == 1).collect()} == set()
    assert be.read(spark, "t_cas_stream_sigs").count() == 21
    MinHashIndex(spark, "t_cas_stream").drop()


def test_newest_mtime_sees_fresh_files_under_stale_directories(
        spark, tmp_path):
    """The vacuum retention guard's age signal: a directory whose entry
    mtime is ancient (object stores report 0/undefined for prefixes)
    but that contains a freshly-written file must read as FRESH —
    gating on the directory entry alone would reclaim an in-flight
    segment mid-commit."""
    import os
    import time

    seg = tmp_path / "seg"
    sub = seg / "list_id=0"
    sub.mkdir(parents=True)
    (sub / "part-0.parquet").write_text("data")
    old = time.time() - 864_000
    os.utime(sub, (old, old))
    os.utime(seg, (old, old))                  # simulate a 0/stale prefix
    assert fsio.mtime(spark, str(seg)) < time.time() - 700_000
    assert fsio.newest_mtime(spark, str(seg)) > time.time() - 3600
    # and for a plain file the two agree
    f = tmp_path / "plain"
    f.write_text("x")
    assert abs(fsio.newest_mtime(spark, str(f))
               - fsio.mtime(spark, str(f))) < 1


@pytest.mark.slow
def test_versioned_protocol_randomized_crash_fuzz(spark, be):
    """Protocol fuzz on the simulated object store: a random sequence
    of appends — each crashing at a random point of its manifest
    publish (or not at all) — interleaved with recoveries, zero-horizon
    vacuums, and segment compactions.  Invariants after EVERY step:

    - every ACKNOWLEDGED append is readable (no lost update, through
      any number of crashes/vacuums/compactions);
    - reads never raise and never return rows of an append that
      neither completed nor was acknowledged (torn publishes read as
      absent; a crash after the copy completed may legally surface —
      durable-but-unacknowledged, like any database);
    - committed version numbers are strictly increasing.

    The per-case scripts are seeded, so a failure reproduces exactly."""
    fault_plan = {"event": None}

    def fault(event, path):
        if event == fault_plan["event"]:
            fault_plan["event"] = None      # crash once, then "restart"
            raise SimulatedCrash(event)

    fsio.set_commit_scheme(fsio.SingleDriverCASScheme(fault=fault))
    import random

    events = [None, None, None, "checked_absent", "pre_copy",
              "mid_copy", "post_copy", "post_delete"]
    for seed in range(4):
        rng = random.Random(seed)
        table = f"t_fuzz_{seed}"
        acknowledged: set[int] = set()
        may_surface: set[int] = set()       # durable-but-unacknowledged
        next_id = 0
        be.write(_df(spark, [(next_id, "base")]), table, "id")
        acknowledged.add(next_id)
        last_version = be.versions(spark, table)[-1]
        for _ in range(10):
            op = rng.choice(["append", "append", "append",
                             "vacuum", "compact"])
            if op == "append":
                next_id += 1
                fault_plan["event"] = rng.choice(events)
                try:
                    be.append(_df(spark, [(next_id, f"row {next_id}")]),
                              table, "id")
                    acknowledged.add(next_id)
                except SimulatedCrash as exc:
                    # post-copy crashes leave a COMPLETE manifest: the
                    # commit is durable even though never acknowledged
                    if str(exc) in ("post_copy", "post_delete"):
                        may_surface.add(next_id)
                finally:
                    fault_plan["event"] = None
            elif op == "vacuum":
                be.vacuum(spark, keep_last=1, min_age_seconds=0)
            else:
                be.compact_segments(spark, table)
            got = {r["id"] for r in be.read(spark, table).collect()}
            assert acknowledged <= got, (seed, acknowledged - got)
            assert got <= acknowledged | may_surface, \
                (seed, got - acknowledged - may_surface)
            vs = be.versions(spark, table)
            assert vs == sorted(vs)
            head = vs[-1]
            assert head >= last_version
            last_version = head
        be.drop(spark, table)


# --------------------------------------------------- external-CAS scheme


@pytest.fixture
def ecas(tmp_path):
    return fsio.FileExternalCAS(str(tmp_path / "cas"))


def test_external_cas_acquire_is_exclusive_and_idempotent(ecas):
    assert ecas.acquire("k1", {"tmp": "/a"}) is None          # won
    lost = ecas.acquire("k1", {"tmp": "/b"})                  # lost
    assert lost["tmp"] == "/a" and lost["complete"] is False
    ecas.mark_complete("k1")
    ecas.mark_complete("k1")                                  # idempotent
    assert ecas.get("k1")["complete"] is True
    ecas.release("k1")
    assert ecas.get("k1") is None
    assert ecas.acquire("k1", {"tmp": "/c"}) is None          # reusable


@pytest.mark.slow
def test_external_cas_commit_crash_states_all_recoverable(spark, be, ecas):
    """Crash injection at every protocol point AFTER the acquire: the
    acquire IS the commit point, so the commit must be readable at
    every one of them — either directly (post_copy and later) or via
    read_repair from the claim's immutable tmp (earlier).  A crash
    BEFORE the acquire leaves no claim and no commit."""
    for event in ("cas_acquired", "pre_copy", "mid_copy",
                  "post_copy", "post_complete"):
        root = f"{be._root}/{event}"
        b = VersionedTableBackend(root=root)
        scheme = fsio.ExternalCASScheme(ecas, fault=crash_at(event))
        fsio.set_commit_scheme(scheme)
        try:
            with pytest.raises(SimulatedCrash):
                b.write(_df(spark, [(1, event)]), "t_ecas", "id")
            # the acquire happened -> the commit is visible and whole
            scheme.fault = lambda e, p: None
            assert [r["text"] for r in b.read(spark, "t_ecas").collect()] \
                == [event]
            assert b.versions(spark, "t_ecas") == [1]
            # and the table keeps accepting commits afterwards
            b.append(_df(spark, [(2, "after")]), "t_ecas", "id")
            assert b.read(spark, "t_ecas").count() == 2
        finally:
            fsio.set_commit_scheme(fsio.HadoopRenameScheme())


def test_external_cas_loser_finishes_winners_publish(spark, tmp_path, ecas):
    """The lost-acquire path completes the pending publish from the
    claim's recorded tmp (any process can), so a winner that crashed
    mid-copy never wedges the version number."""
    scheme = fsio.ExternalCASScheme(ecas, fault=crash_at("mid_copy"))
    fsio.set_commit_scheme(scheme)
    dest = str(tmp_path / "pub" / "v1.json")
    tmp1 = str(tmp_path / "pub" / ".tmp-1")
    fsio.write_text(spark, tmp1, json.dumps({"who": "winner"}))
    with pytest.raises(SimulatedCrash):
        fsio.put_if_absent(spark, tmp1, dest)
    # dest is torn, claim pending, winner's tmp still there
    with pytest.raises(Exception):
        json.loads(fsio.read_text(spark, dest))
    scheme.fault = lambda e, p: None
    tmp2 = str(tmp_path / "pub" / ".tmp-2")
    fsio.write_text(spark, tmp2, json.dumps({"who": "loser"}))
    assert fsio.put_if_absent(spark, tmp2, dest) is False
    # the loser finished the WINNER's content, acknowledged the claim,
    # and cleaned its OWN tmp; the winner's tmp is RETAINED as the
    # claim's durable authority (torn-rewrite repair) until the claim
    # is released (forget on vacuum/drop)
    assert json.loads(fsio.read_text(spark, dest)) == {"who": "winner"}
    assert scheme.cas.get(fsio.qualified(spark, dest))["complete"] is True
    assert fsio.exists(spark, tmp1) and not fsio.exists(spark, tmp2)
    scheme.forget(spark, dest)
    assert not fsio.exists(spark, tmp1)       # released with the claim
    assert scheme.cas.get(fsio.qualified(spark, dest)) is None


def test_external_cas_dead_claim_released_and_reacquired(
        spark, tmp_path, ecas):
    """A claim whose tmp vanished while unacknowledged belongs to a
    dead writer (tmps outlive live publishes under the retention
    contract): the next put_if_absent releases it and wins cleanly."""
    scheme = fsio.ExternalCASScheme(ecas)
    fsio.set_commit_scheme(scheme)
    dest = str(tmp_path / "pub2" / "v1.json")
    ghost = str(tmp_path / "pub2" / ".tmp-ghost")
    assert ecas.acquire(fsio.qualified(spark, dest),
                        {"tmp": fsio.qualified(spark, ghost)}) is None
    # ghost tmp never materialized on the store (aged out / lost)
    tmp2 = str(tmp_path / "pub2" / ".tmp-2")
    fsio.write_text(spark, tmp2, "{\"who\": \"second\"}")
    assert fsio.put_if_absent(spark, tmp2, dest) is True
    assert json.loads(fsio.read_text(spark, dest)) == {"who": "second"}


@pytest.mark.slow
def test_versioned_lifecycle_and_thread_race_on_external_cas(
        spark, tmp_path, ecas):
    """The backend's full lifecycle plus a real thread race through
    ExternalCASScheme: every commit lands, version chain gapless —
    the same guarantees the SingleDriverCASScheme tests pin, now on
    the scheme whose contract extends to multiple drivers."""
    fsio.set_commit_scheme(fsio.ExternalCASScheme(ecas))
    be = VersionedTableBackend(root=str(tmp_path / "vroot_ecas"))
    be.write(_df(spark, [(0, "seed")]), "t_race", "id")
    errors = []

    def appender(i):
        try:
            for j in range(3):
                be.append(_df(spark, [(i * 100 + j, f"w{i}")]),
                          "t_race", "id")
        except Exception as exc:   # noqa: BLE001
            errors.append(repr(exc))

    threads = [threading.Thread(target=appender, args=(i,))
               for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert be.read(spark, "t_race").count() == 1 + 12
    assert be.versions(spark, "t_race") == list(range(1, 14))


@pytest.mark.slow
def test_streaming_ingest_auto_compaction_bounds_segments(
        spark, tmp_path, monkeypatch):
    """The round-7 verdict's standing scale hazard, closed end-to-end:
    streaming near-dedup ingest appends one segment per micro-batch to
    every index table, so a long-running stream would accumulate
    segments without bound — the backend's own inline fold holds the
    bound on a default-constructed backend with ZERO sink changes (the
    fold lives behind the tableio seam).  Eight micro-batches,
    threshold 3: segment count stays ≤ 3 on every index table, dedup
    decisions and output unchanged."""
    import json as jsonlib

    from dlx_spark.operators.dedup_index import MinHashIndex
    from dlx_spark.streaming import neardedup_ingest_stream

    monkeypatch.setattr(VersionedTableBackend, "AUTO_COMPACT_AT", 3)
    be = VersionedTableBackend(root=str(tmp_path / "vroot_ac"))
    tableio.set_backend(be)
    corpus = _df(spark, [
        (i, f"seed document number {i} " + " ".join(
            f"tok{i}_{j}" for j in range(20)))
        for i in range(10)
    ], "doc_id long, text string")
    MinHashIndex.create(corpus, "t_ac_stream")

    indir = tmp_path / "in"
    indir.mkdir()
    out = str(tmp_path / "clean")
    seed_text = corpus.collect()[0]["text"]
    # 8 micro-batches: each holds one near-dup of the seed (dropped)
    # and one fresh doc (kept, appended to the index)
    for b in range(8):
        rows = [{"doc_id": 1000 + b, "text": seed_text},
                {"doc_id": 2000 + b, "text": " ".join(
                    f"fresh{b}_{j}" for j in range(25))}]
        (indir / f"b{b}.json").write_text(
            "\n".join(jsonlib.dumps(r) for r in rows))
        q = neardedup_ingest_stream(
            spark, str(indir), "t_ac_stream", out,
            str(tmp_path / "ckpt"), threshold=0.7)
        q.awaitTermination(180)

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {2000 + b for b in range(8)}
    # the bound: 1 create + 8 appends would be 9 segments unbounded —
    # the inline fold kept every index table under the threshold
    for t in ("t_ac_stream_sigs", "t_ac_stream_bands"):
        assert be.exists(spark, t), t
        n_seg = len(be.snapshot_token(spark, t))
        assert n_seg < 3, (t, n_seg)
    assert be.read(spark, "t_ac_stream_sigs").count() == 10 + 8
    MinHashIndex(spark, "t_ac_stream").drop()


def test_external_cas_claims_released_on_vacuum_and_drop(
        spark, tmp_path, ecas):
    """Claim lifecycle: external commit records must not grow without
    bound — vacuum releases the claims of the manifests it trims, and
    DROP releases every claim under the table (without which a
    recreated table livelocks: it restarts at version 1 and the stale
    acknowledged v1 claim makes every new acquire lose forever)."""
    import os as _os

    fsio.set_commit_scheme(fsio.ExternalCASScheme(ecas))
    be = VersionedTableBackend(root=str(tmp_path / "vroot_claims"))
    be.write(_df(spark, [(1, "v1")]), "t_claims", "id")
    be.append(_df(spark, [(2, "v2")]), "t_claims", "id")
    be.append(_df(spark, [(3, "v3")]), "t_claims", "id")

    def n_claims():
        return sum(1 for f in _os.listdir(ecas.directory)
                   if f.endswith(".json"))

    assert n_claims() == 3
    be.vacuum(spark, keep_last=1, min_age_seconds=0)
    # v1/v2 manifests trimmed -> their claims released
    assert be.versions(spark, "t_claims") == [3]
    assert n_claims() == 1

    # the recreate-livelock regression: drop, then write the SAME name
    be.drop(spark, "t_claims")
    assert n_claims() == 0
    be.write(_df(spark, [(9, "fresh")]), "t_claims", "id")
    assert [r["id"] for r in be.read(spark, "t_claims").collect()] == [9]
    assert be.versions(spark, "t_claims") == [1]


@pytest.mark.slow
def test_external_cas_protocol_randomized_crash_fuzz(spark, tmp_path, ecas):
    """The randomized protocol fuzz, re-run under ExternalCASScheme.
    The commit point is the external acquire, so the invariants shift:
    EVERY crash after the acquire (cas_acquired / pre_copy / mid_copy /
    post_copy / post_complete) leaves a committed-and-recoverable
    version — durable-but-unacknowledged, surfaced by the next listing
    via settle_pending — and reads must never raise through any
    interleaving of crashes, zero-horizon vacuums, and compactions."""
    import random

    fault_plan = {"event": None}

    def fault(event, path):
        if event == fault_plan["event"]:
            fault_plan["event"] = None
            raise SimulatedCrash(event)

    fsio.set_commit_scheme(fsio.ExternalCASScheme(ecas, fault=fault))
    be = VersionedTableBackend(root=str(tmp_path / "vroot_ecfuzz"))
    events = [None, None, None, "cas_acquired", "pre_copy",
              "mid_copy", "post_copy", "post_complete"]
    for seed in range(3):
        rng = random.Random(1000 + seed)
        table = f"t_ecfuzz_{seed}"
        acknowledged: set[int] = set()
        will_surface: set[int] = set()
        next_id = 0
        be.write(_df(spark, [(next_id, "base")]), table, "id")
        acknowledged.add(next_id)
        last_version = be.versions(spark, table)[-1]
        for _ in range(8):
            op = rng.choice(["append", "append", "append",
                             "vacuum", "compact"])
            if op == "append":
                next_id += 1
                fault_plan["event"] = rng.choice(events)
                try:
                    be.append(_df(spark, [(next_id, f"row {next_id}")]),
                              table, "id")
                    acknowledged.add(next_id)
                except SimulatedCrash:
                    # the acquire preceded every injectable event: the
                    # commit is durable and WILL surface on listing
                    will_surface.add(next_id)
                finally:
                    fault_plan["event"] = None
            elif op == "vacuum":
                be.vacuum(spark, keep_last=1, min_age_seconds=0)
            else:
                be.compact_segments(spark, table)
            got = {r["id"] for r in be.read(spark, table).collect()}
            assert acknowledged <= got, (seed, acknowledged - got)
            assert got <= acknowledged | will_surface, \
                (seed, got - acknowledged - will_surface)
            vs = be.versions(spark, table)
            assert vs == sorted(vs)
            assert vs[-1] >= last_version
            last_version = vs[-1]
        be.drop(spark, table)


def test_external_cas_acquire_retries_when_losing_claim_vanishes(
        spark, tmp_path, ecas):
    """Review fix: acquire's lose path re-reads the claim that beat it,
    and that claim can be RELEASED in between (another loser clearing a
    dead claim).  Returning None there would tell the caller it won
    while its record was never installed — two 'winners'.  The fixed
    acquire retries the link, so a None return ALWAYS means the
    caller's own record is the installed claim."""
    key = "contended-key"
    assert ecas.acquire(key, {"tmp": "/dead-writer-tmp"}) is None

    class VanishingGet(type(ecas)):
        calls = 0

        def get(self, k):
            VanishingGet.calls += 1
            if VanishingGet.calls == 1:
                # simulate a concurrent loser releasing the dead claim
                # between our failed link and our read
                self.release(k)
                return None
            return super().get(k)

    racer = VanishingGet(ecas.directory)
    assert racer.acquire(key, {"tmp": "/racer-tmp"}) is None   # won
    # and the INSTALLED claim is the racer's own record, not a ghost
    assert ecas.get(key)["tmp"] == "/racer-tmp"


def test_external_cas_read_repair_refetches_before_declaring_dead(
        spark, tmp_path, ecas):
    """Review fix: read_repair observed (tmp gone, complete=False) from
    a STALE entry — the winner marks complete before its tmp can
    legally vanish, so the state must be re-fetched before declaring
    the claim dead.  Without the re-fetch, a committed acknowledged
    version read as a crash remnant and a concurrent committer would
    build past it (lost rows)."""
    dest = str(tmp_path / "rr" / "v1.json")
    scheme = fsio.ExternalCASScheme(ecas)
    fsio.set_commit_scheme(scheme)
    # publish for real (claim acknowledged, dest whole, tmp retained)
    tmp = str(tmp_path / "rr" / ".tmp-1")
    fsio.write_text(spark, tmp, '{"v": 1}')
    assert fsio.put_if_absent(spark, tmp, dest) is True

    class StaleFirstGet(type(ecas)):
        calls = 0

        def get(self, k):
            record = super().get(k)
            StaleFirstGet.calls += 1
            if StaleFirstGet.calls == 1 and record is not None:
                # first observation: stale flag + tmp 'already gone'
                return dict(record, complete=False,
                            tmp=str(tmp_path / "rr" / ".tmp-ghost"))
            return record

    scheme.cas = StaleFirstGet(ecas.directory)
    got = scheme.read_repair(spark, dest)
    assert got is not None and json.loads(got) == {"v": 1}


def test_external_cas_conditional_release_refuses_superseding_claim(ecas):
    """Review fix (r9): release keyed on claim identity — a stale
    finisher holding a DEAD claim's identity must not delete the LIVE
    successor claim that was released-and-re-acquired under it."""
    assert ecas.acquire("k", {"tmp": "/a", "claim_id": "A"}) is None
    assert ecas.release("k", claim_id="A") is True
    assert ecas.acquire("k", {"tmp": "/b", "claim_id": "B"}) is None
    # the stale finisher wakes with A's identity: refused
    assert ecas.release("k", claim_id="A") is False
    assert ecas.get("k")["claim_id"] == "B"
    # matching identity still releases; releasing a gone claim is False
    assert ecas.release("k", claim_id="B") is True
    assert ecas.get("k") is None
    assert ecas.release("k", claim_id="B") is False
    # unconditional release (the forget path) needs no identity
    assert ecas.acquire("k", {"tmp": "/c", "claim_id": "C"}) is None
    assert ecas.release("k") is True
    assert ecas.get("k") is None


def test_external_cas_stale_finisher_cannot_kill_live_successor(
        spark, tmp_path, ecas):
    """Review fix (r9, the _finish lost-update race): finisher A
    observes a dead claim (tmp gone, unacknowledged); before A acts,
    another finisher releases it and writer C re-acquires the key with
    a LIVE claim.  A's re-evaluation must recognize the successor as a
    different claim and FINISH its publish instead of releasing it —
    releasing would free the key for a third writer and silently
    overwrite C's commit."""
    scheme = fsio.ExternalCASScheme(ecas)
    dest = str(tmp_path / "pub3" / "v1.json")
    key = fsio.qualified(spark, dest)
    ghost = fsio.qualified(spark, str(tmp_path / "pub3" / ".tmp-ghost"))
    assert ecas.acquire(key, {"tmp": ghost, "claim_id": "dead"}) is None
    stale_entry = ecas.get(key)              # what finisher A observed
    # another finisher settles the dead claim; writer C re-acquires
    assert ecas.release(key, claim_id="dead") is True
    tmp_live = str(tmp_path / "pub3" / ".tmp-live")
    fsio.write_text(spark, tmp_live, '{"who": "successor"}')
    assert ecas.acquire(key, {"tmp": fsio.qualified(spark, tmp_live),
                              "claim_id": "live"}) is None
    # stale finisher A wakes: must not release the successor
    assert scheme._finish(spark, key, dest, stale_entry) is True
    current = ecas.get(key)
    assert current is not None and current["claim_id"] == "live"
    assert current["complete"] is True
    assert json.loads(fsio.read_text(spark, dest)) == {"who": "successor"}


def test_external_cas_concurrent_finishers_preserve_successor(
        spark, tmp_path, ecas):
    """Thread fuzz of the same race: several finishers contend on one
    dead claim while a writer re-acquires the key.  The writer's commit
    must survive with its claim acknowledged, no finisher may error,
    and the key must never end up free."""
    scheme = fsio.ExternalCASScheme(ecas)
    dest = str(tmp_path / "pub4" / "v1.json")
    key = fsio.qualified(spark, dest)
    ghost = fsio.qualified(spark, str(tmp_path / "pub4" / ".tmp-ghost"))
    assert ecas.acquire(key, {"tmp": ghost, "claim_id": "dead"}) is None
    stale = dict(ecas.get(key))
    tmp_w = str(tmp_path / "pub4" / ".tmp-w")
    fsio.write_text(spark, tmp_w, '{"who": "w"}')
    errors = []
    barrier = threading.Barrier(5)

    def finisher():
        barrier.wait()
        try:
            scheme._finish(spark, key, dest, dict(stale))
        except Exception as exc:    # noqa: BLE001
            errors.append(repr(exc))

    def writer():
        barrier.wait()
        try:
            # retries internally until the dead claim is settled
            assert scheme.put_if_absent(spark, tmp_w, dest) is True
        except Exception as exc:    # noqa: BLE001
            errors.append(repr(exc))

    threads = [threading.Thread(target=finisher) for _ in range(4)]
    threads.append(threading.Thread(target=writer))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    current = ecas.get(key)
    assert current is not None and current["claim_id"] != "dead"
    assert current["complete"] is True
    assert json.loads(fsio.read_text(spark, dest)) == {"who": "w"}


def test_external_cas_conditional_release_drops_lock_file(ecas):
    """Review fix (r10): the acquire/release/re-acquire cycle must not
    leave one .lock file per key forever — a long-lived store cycling
    through versions would grow the CAS directory without bound and
    slow every _scan listdir.  Both release kinds sweep the lock; a
    racing releaser survives via the inode re-check."""
    import os

    def lock_files():
        return [n for n in os.listdir(ecas.directory)
                if n.endswith(".lock")]

    for cycle in range(3):
        assert ecas.acquire("k", {"tmp": "/a", "claim_id": f"c{cycle}"}) is None
        assert ecas.release("k", claim_id=f"c{cycle}") is True
        assert lock_files() == [], f"cycle {cycle} leaked {lock_files()}"
    # a refused conditional release (live successor) may leave the lock
    # behind — but the successor's own release sweeps it
    assert ecas.acquire("k", {"tmp": "/b", "claim_id": "live"}) is None
    assert ecas.release("k", claim_id="stale") is False
    assert ecas.release("k", claim_id="live") is True
    assert lock_files() == []


def test_external_cas_acquire_never_leaks_claim_tempfile(ecas):
    """Review fix (r9): a failed claim-record write (unserializable
    record standing in for disk-full/interrupt) must not leak the
    .claim-* temp file into the scanned CAS directory."""
    import os
    with pytest.raises(TypeError):
        ecas.acquire("k", {"tmp": object()})
    assert [n for n in os.listdir(ecas.directory)
            if ".claim-" in n] == []
    # nothing was half-registered: the key is still acquirable
    assert ecas.acquire("k", {"tmp": "/a", "claim_id": "A"}) is None


def test_vacuum_tmp_sweep_upholds_claim_tmp_invariant(
        spark, tmp_path, ecas):
    """Review fix (r9): vacuum's .tmp-* sweep must uphold 'tmps live
    exactly as long as their claim'.  An acknowledged claim's retained
    tmp is SKIPPED (it is the claim's durable repair authority); an
    aged unacknowledged claim is released TOGETHER with its tmp; a
    claimless tmp stays a plain remnant and is removed."""
    scheme = fsio.ExternalCASScheme(ecas)
    fsio.set_commit_scheme(scheme)
    be = VersionedTableBackend(root=str(tmp_path / "vroot_inv"))
    be.write(_df(spark, [(1, "a")]), "t_inv", "id")
    tdir = be._table_dir(spark, "t_inv")
    retained = [n for n in fsio.listdir(spark, tdir)
                if n.startswith(".tmp-")]
    assert retained, "commit should retain the claim's tmp"
    key_v1 = fsio.qualified(spark, be._manifest_path(spark, "t_inv", 1))
    assert ecas.get(key_v1)["complete"] is True
    # acknowledged claim's tmp survives an aggressive vacuum
    be.vacuum(spark, min_age_seconds=0)
    assert [n for n in fsio.listdir(spark, tdir)
            if n.startswith(".tmp-")] == retained
    assert ecas.get(key_v1)["complete"] is True

    # aged UNACKNOWLEDGED claim: released together with its tmp.
    # settle_pending would normally finish it from the live tmp first;
    # simulate a settle that keeps failing so the sweep is the backstop
    dead_tmp = fsio.join(tdir, ".tmp-deadwriter")
    fsio.write_text(spark, dead_tmp, '{"version": 99}')
    key_v99 = fsio.qualified(spark, be._manifest_path(spark, "t_inv", 99))
    assert ecas.acquire(key_v99, {"tmp": fsio.qualified(spark, dead_tmp),
                                  "claim_id": "deadwriter"}) is None
    scheme.settle_pending = lambda *a, **k: None
    # plus a claimless remnant
    orphan = fsio.join(tdir, ".tmp-orphan")
    fsio.write_text(spark, orphan, "garbage")
    be.vacuum(spark, min_age_seconds=0)
    assert not fsio.exists(spark, dead_tmp)      # released with claim
    assert ecas.get(key_v99) is None
    assert not fsio.exists(spark, orphan)        # plain remnant removed
    names = [n for n in fsio.listdir(spark, tdir)
             if n.startswith(".tmp-")]
    assert names == retained                     # invariant tmp intact


def test_local_fs_default_scheme_warns_once(spark, tmp_path):
    """Review fix (r9): the default rename scheme on a file:// root
    keeps a residual cross-process put-if-absent window (Delta's
    HDFSLogStore-on-file:// caveat) — versioned commits emit ONE
    process-wide warning naming the external-CAS remedy; CAS-capable
    schemes never warn."""
    import warnings as w
    fsio._local_cas_warned = False
    be = VersionedTableBackend(root=str(tmp_path / "vroot_warn"))
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        be.write(_df(spark, [(1, "a")]), "t_warn", "id")
        be.append(_df(spark, [(2, "b")]), "t_warn", "id")
    hits = [r for r in rec
            if issubclass(r.category, fsio.LocalFSMultiDriverWarning)]
    assert len(hits) == 1
    assert "ExternalCASScheme" in str(hits[0].message)
    # CAS-capable schemes: silent even with the flag re-armed
    fsio._local_cas_warned = False
    fsio.set_commit_scheme(fsio.SingleDriverCASScheme())
    with w.catch_warnings(record=True) as rec2:
        w.simplefilter("always")
        be.append(_df(spark, [(3, "c")]), "t_warn", "id")
    assert [r for r in rec2
            if issubclass(r.category, fsio.LocalFSMultiDriverWarning)] == []


_CAS_HAMMER = r"""
import random
import sys
import time
import uuid

from dlx_spark.fsio import FileExternalCAS

cas = FileExternalCAS(sys.argv[1])
KEY = "contended-key"
stale_ids = []
wins = 0
deadline = time.time() + 10
while time.time() < deadline and wins < 50:
    cid = uuid.uuid4().hex
    existing = cas.acquire(KEY, {"tmp": "/none", "claim_id": cid})
    if existing is None:
        wins += 1
        cur = cas.get(KEY)
        if cur is None or cur.get("claim_id") != cid:
            print("VIOLATION: claim stolen while held", flush=True)
            break
        # a stale-identity release must never free the live claim
        if stale_ids and cas.release(KEY,
                                     claim_id=random.choice(stale_ids)):
            print("VIOLATION: stale release freed the live claim",
                  flush=True)
            break
        cur = cas.get(KEY)
        if cur is None or cur.get("claim_id") != cid:
            print("VIOLATION: claim gone after stale release attempt",
                  flush=True)
            break
        if cas.release(KEY, claim_id=cid) is not True:
            print("VIOLATION: own conditional release refused", flush=True)
            break
        stale_ids.append(cid)
    else:
        # loser path: a stale finisher firing at someone else's claim
        if stale_ids and cas.release(KEY,
                                     claim_id=random.choice(stale_ids)):
            print("VIOLATION: stale release freed a foreign claim",
                  flush=True)
            break
print(f"OK wins={wins}", flush=True)
"""


def test_external_cas_conditional_release_across_processes(tmp_path):
    """The conditional-release guarantee proven where it matters:
    across OS PROCESSES (the per-key flock is a cross-process lock —
    thread mutexes prove nothing here).  Three processes hammer one
    claim key; every winner must observe its own claim intact for its
    whole hold, its own conditional release must succeed, and a
    release keyed on ANY stale identity must never free a live claim —
    the exact primitive that makes a stale finisher harmless in
    ExternalCASScheme._finish."""
    import os
    import subprocess
    import sys as _sys

    cas_dir = str(tmp_path / "cas_mp")
    worker = tmp_path / "cas_hammer.py"
    worker.write_text(_CAS_HAMMER)
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    procs = [subprocess.Popen(
        [_sys.executable, str(worker), cas_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env)
        for _ in range(3)]
    outs = [p.communicate(timeout=120)[0].decode() for p in procs]
    total_wins = 0
    for o in outs:
        assert "VIOLATION" not in o, o
        assert "OK wins=" in o, o
        total_wins += int(o.rsplit("OK wins=", 1)[1].split()[0])
    # contention really happened: the key changed hands many times
    assert total_wins >= 10, (total_wins, outs)
