"""Cross-PROCESS commit contention on the versioned backend.

`SingleDriverCASScheme` only serializes threads within one driver; the
default `HadoopRenameScheme`'s put-if-absent is a FileContext
no-overwrite rename — a hard atomic CAS on HDFS, and on local FS a
dest-exists check + POSIX rename whose residual cross-process window
is microseconds (fsio.rename_no_overwrite documents the distinction).
This test exercises it the only way that counts: a SECOND driver
process (its own JVM, its own SparkSession) appends to the same
versioned table concurrently with this one, and every commit from both
writers must survive — the lost-update hazard is two processes
publishing the same version number and one silently winning.  (It
cannot DISPROVE the microsecond local-FS window — a hard multi-driver
guarantee on non-HDFS stores is ExternalCASScheme's job, proven in
test_two_driver_processes_external_cas below.)

The versioned backend is path-based (no catalog), so the two sessions
share nothing but the root directory — no metastore to collide on.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from dlx_spark import fsio
from dlx_spark.tableio_versioned import VersionedTableBackend

N_EACH = 4          # appends per writer
TABLE = "contended"

_WORKER = r"""
import sys
root, n = sys.argv[1], int(sys.argv[2])
from dlx_spark.session import get_spark
from dlx_spark import fsio
from dlx_spark.tableio_versioned import VersionedTableBackend

spark = get_spark("mp_commit_worker", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "2")
be = VersionedTableBackend(root=root)

# barrier: announce readiness, then wait for the main process's go
fsio.touch(spark, root + "/_worker_ready")
for _ in range(1200):
    if fsio.exists(spark, root + "/_go"):
        break
    import time; time.sleep(0.1)
else:
    raise SystemExit("main process never said go")

from pyspark.sql import functions as F
for i in range(n):
    df = spark.range(1).select(
        F.lit("worker").alias("writer"), F.lit(i).alias("seq"))
    be.append(df, "%s", "writer")
print("WORKER_DONE races_lost=%%d" %% be.races_lost, flush=True)
""" % TABLE


@pytest.mark.slow
def test_two_driver_processes_no_lost_update(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "vroot_mp")
    be = VersionedTableBackend(root=root)
    seed = spark.range(1).select(F.lit("main").alias("writer"),
                                 F.lit(-1).alias("seq"))
    be.write(seed, TABLE, "writer")          # version 1

    script = tmp_path / "worker.py"
    script.write_text(_WORKER)
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    env.pop("PYSPARK_GATEWAY_PORT", None)       # fresh JVM, not ours
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    proc = subprocess.Popen(
        [sys.executable, str(script), root, str(N_EACH)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, env=env, cwd=repo)
    try:
        deadline = time.time() + 180
        while not fsio.exists(spark, root + "/_worker_ready"):
            if proc.poll() is not None or time.time() > deadline:
                out = proc.communicate()[0]
                pytest.fail(f"worker never came up:\n{out[-3000:]}")
            time.sleep(0.2)
        fsio.touch(spark, root + "/_go")
        # both processes now append concurrently
        for i in range(N_EACH):
            df = spark.range(1).select(F.lit("main").alias("writer"),
                                       F.lit(i).alias("seq"))
            be.append(df, TABLE, "writer")
        out, _ = proc.communicate(timeout=240)
        assert proc.returncode == 0, f"worker failed:\n{out[-3000:]}"
        assert "WORKER_DONE" in out
    finally:
        if proc.poll() is None:
            proc.kill()

    # no lost update: every commit from both writers is in the head
    rows = be.read(spark, TABLE).groupBy("writer").count().collect()
    counts = {r["writer"]: r["count"] for r in rows}
    assert counts == {"main": N_EACH + 1, "worker": N_EACH}
    # and every commit allocated its own version: 1 create + 2n appends
    assert len(be.versions(spark, TABLE)) == 1 + 2 * N_EACH


_WORKER_ECAS = r"""
import sys
root, casdir, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
from dlx_spark.session import get_spark
from dlx_spark import fsio
from dlx_spark.tableio_versioned import VersionedTableBackend

spark = get_spark("mp_ecas_worker", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "2")
fsio.set_commit_scheme(fsio.ExternalCASScheme(fsio.FileExternalCAS(casdir)))
be = VersionedTableBackend(root=root)

fsio.touch(spark, root + "/_worker_ready")
for _ in range(1200):
    if fsio.exists(spark, root + "/_go"):
        break
    import time; time.sleep(0.1)
else:
    raise SystemExit("main process never said go")

from pyspark.sql import functions as F
for i in range(n):
    df = spark.range(1).select(
        F.lit("worker").alias("writer"), F.lit(i).alias("seq"))
    be.append(df, "%s", "writer")
print("WORKER_DONE races_lost=%%d" %% be.races_lost, flush=True)
""" % TABLE


@pytest.mark.slow
def test_two_driver_processes_external_cas_no_lost_update(spark, tmp_path):
    """The multi-driver guarantee for stores with NO atomic rename:
    both drivers publish through ExternalCASScheme — every store-side
    publish is a tearable copy+delete, and the only atomic primitive
    anywhere is the shared external CAS (FileExternalCAS, the
    DynamoDB/conditional-PUT stand-in).  Every commit from both
    processes must survive with a gapless version chain."""
    from pyspark.sql import functions as F

    from dlx_spark.fsio import ExternalCASScheme, FileExternalCAS

    root = str(tmp_path / "vroot_ecas_mp")
    casdir = str(tmp_path / "cas_mp")
    fsio.set_commit_scheme(ExternalCASScheme(FileExternalCAS(casdir)))
    try:
        be = VersionedTableBackend(root=root)
        seed = spark.range(1).select(F.lit("main").alias("writer"),
                                     F.lit(-1).alias("seq"))
        be.write(seed, TABLE, "writer")      # version 1

        script = tmp_path / "worker_ecas.py"
        script.write_text(_WORKER_ECAS)
        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        proc = subprocess.Popen(
            [sys.executable, str(script), root, casdir, str(N_EACH)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env, cwd=repo)
        try:
            deadline = time.time() + 180
            while not fsio.exists(spark, root + "/_worker_ready"):
                if proc.poll() is not None or time.time() > deadline:
                    out = proc.communicate()[0]
                    pytest.fail(f"worker never came up:\n{out[-3000:]}")
                time.sleep(0.2)
            fsio.touch(spark, root + "/_go")
            for i in range(N_EACH):
                df = spark.range(1).select(F.lit("main").alias("writer"),
                                           F.lit(i).alias("seq"))
                be.append(df, TABLE, "writer")
            out, _ = proc.communicate(timeout=240)
            assert proc.returncode == 0, f"worker failed:\n{out[-3000:]}"
            assert "WORKER_DONE" in out
        finally:
            if proc.poll() is None:
                proc.kill()

        rows = be.read(spark, TABLE).groupBy("writer").count().collect()
        counts = {r["writer"]: r["count"] for r in rows}
        assert counts == {"main": N_EACH + 1, "worker": N_EACH}
        assert len(be.versions(spark, TABLE)) == 1 + 2 * N_EACH
        # every claim settled: nothing pending anywhere under the root
        cas = FileExternalCAS(casdir)
        assert cas.pending("") == []
    finally:
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())


_WORKER_STORE = r"""
import os
import sys
root, casdir = sys.argv[1], sys.argv[2]
from dlx_spark.session import get_spark
from dlx_spark import fsio

fsio.set_commit_scheme(fsio.ExternalCASScheme(fsio.FileExternalCAS(casdir)))
spark = get_spark("mp_store_worker", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "2")

from dlx_spark.marc.store import MarcStore
from dlx_spark.marc.record import Bib

store = MarcStore(spark, root)

fsio.touch(spark, root + "/_worker_ready")
for _ in range(1200):
    if fsio.exists(spark, root + "/_go"):
        break
    import time; time.sleep(0.1)
else:
    raise SystemExit("main process never said go")

# die BETWEEN the live commit and the token-index refresh — a real
# process death (os._exit: no unwind, no warning path, no cleanup)
MarcStore._refresh_tokens_for_batch = (
    lambda self, rt, new_df=None, removed_ids=None: os._exit(42))
rec = Bib({"_id": 501, "245": [{"indicators": [" ", " "],
                                "subfields": [{"code": "a",
                                               "value": "Worker orphan"}]}]})
store.commit([rec], auth_check=False)
raise SystemExit("unreachable: commit should have exited the process")
"""


@pytest.mark.slow
def test_token_index_reconverges_after_crashed_writer_under_contention(
        spark, tmp_path):
    """The token-index marker protocol composed with the multi-driver
    commit scheme (VERDICT r9 item 7): two OS processes commit to ONE
    indexed MarcStore through ExternalCASScheme; the second driver dies
    (os._exit) between its live commit and its index refresh while the
    first keeps committing.  Requirements proven:

    - no lost update on the live table (both batches present — the
      manifest CAS serialized the contending appends);
    - the dead writer's PER-COMMIT dirty marker survives the survivor's
      own successful marker dance (a single shared marker file would
      have been cleared by the survivor, going silently stale);
    - the next search re-converges the index from the marker — the
      orphan batch becomes searchable with no manual repair."""
    from dlx_spark.fsio import ExternalCASScheme, FileExternalCAS
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    root = str(tmp_path / "wh_mp_store")
    casdir = str(tmp_path / "cas_store")
    fsio.set_commit_scheme(ExternalCASScheme(FileExternalCAS(casdir)))
    try:
        store = MarcStore(spark, root)
        seed = [Bib({"_id": i, "245": [{"indicators": [" ", " "],
                                        "subfields": [{"code": "a",
                                                       "value": f"Seed {i}"}]}]})
                for i in range(1, 9)]
        store.commit(seed, user="seeder")
        store.build_search_index("bib")

        script = tmp_path / "worker_store.py"
        script.write_text(_WORKER_STORE)
        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        proc = subprocess.Popen(
            [sys.executable, str(script), root, casdir],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env, cwd=repo)
        try:
            deadline = time.time() + 180
            while not fsio.exists(spark, root + "/_worker_ready"):
                if proc.poll() is not None or time.time() > deadline:
                    out = proc.communicate()[0]
                    pytest.fail(f"worker never came up:\n{out[-3000:]}")
                time.sleep(0.2)
            fsio.touch(spark, root + "/_go")
            # the survivor commits CONCURRENTLY with the dying writer —
            # its own marker dance must not settle the victim's marker
            rec = Bib({"_id": 601,
                       "245": [{"indicators": [" ", " "],
                                "subfields": [{"code": "a",
                                               "value": "Main survivor"}]}]})
            store.commit([rec], user="main")
            out, _ = proc.communicate(timeout=240)
            assert proc.returncode == 42, f"worker did not die at the " \
                f"injected point:\n{out[-3000:]}"
        finally:
            if proc.poll() is None:
                proc.kill()

        # the dead writer's live commit survived the contention...
        reader = MarcStore(spark, root)
        ids = sorted(r["_id"] for r in reader.bibs().select("_id").collect())
        assert 501 in ids and 601 in ids and len(ids) == 10
        # ...and the index re-converged from its surviving marker: the
        # orphan batch is searchable, with no stale leftovers
        assert [r["_id"] for r in
                reader.search("bib", "245__a:orphan").collect()] == [501]
        assert [r["_id"] for r in
                reader.search("bib", "245__a:survivor").collect()] == [601]
        assert not reader._has_dirty_marker("bib")
        # every CAS claim settled — no pending commits anywhere
        assert FileExternalCAS(casdir).pending("") == []
    finally:
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())


_WORKER_SUMMARY = r"""
import os
import sys
root, casdir = sys.argv[1], sys.argv[2]
from dlx_spark.session import get_spark
from dlx_spark import fsio

fsio.set_commit_scheme(fsio.ExternalCASScheme(fsio.FileExternalCAS(casdir)))
spark = get_spark("mp_summary_worker", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "2")

from dlx_spark.marc.store import MarcStore
from dlx_spark.marc.record import Bib

store = MarcStore(spark, root)

fsio.touch(spark, root + "/_worker_ready")
for _ in range(1200):
    if fsio.exists(spark, root + "/_go"):
        break
    import time; time.sleep(0.1)
else:
    raise SystemExit("main process never said go")

# die BETWEEN the durable history append and the deleted-summary
# refresh (os._exit: no unwind, no warning path, no cleanup) while
# recommitting a previously-deleted id — the transition the summary
# must tombstone
MarcStore._refresh_deleted_summary = (
    lambda self, rt, rows: os._exit(42))
rec = Bib({"_id": 3, "245": [{"indicators": [" ", " "],
                              "subfields": [{"code": "a",
                                             "value": "Back from the dead"}]}]})
store.commit([rec], auth_check=False)
raise SystemExit("unreachable: commit should have exited the process")
"""


@pytest.mark.slow
def test_deleted_summary_reconverges_after_crashed_writer_under_contention(
        spark, tmp_path):
    """The deleted-summary marker protocol composed with the
    multi-driver commit scheme, mirroring the token-index proof: two OS
    processes write to ONE summarized store through ExternalCASScheme.
    The victim recommits a deleted id and dies (os._exit) between its
    durable history append and its summary refresh; the survivor
    deletes another record concurrently.  Proven: the victim's
    PER-COMMIT marker survives the survivor's own successful marker
    dance, and the next store open replays it — the recommitted id
    leaves the summary, the survivor's delete is in it, no markers or
    pending CAS claims remain."""
    from dlx_spark.fsio import ExternalCASScheme, FileExternalCAS
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    root = str(tmp_path / "wh_mp_summary")
    casdir = str(tmp_path / "cas_summary")
    fsio.set_commit_scheme(ExternalCASScheme(FileExternalCAS(casdir)))
    try:
        store = MarcStore(spark, root)
        seed = [Bib({"_id": i, "245": [{"indicators": [" ", " "],
                                        "subfields": [{"code": "a",
                                                       "value": f"Seed {i}"}]}]})
                for i in range(1, 9)]
        store.commit(seed, user="seeder")
        store.delete("bib", 3, user="seeder")
        store.build_deleted_summary("bib")
        assert [r["record_id"] for r in
                store.find_deleted("bib").collect()] == [3]

        script = tmp_path / "worker_summary.py"
        script.write_text(_WORKER_SUMMARY)
        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        proc = subprocess.Popen(
            [sys.executable, str(script), root, casdir],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env, cwd=repo)
        try:
            deadline = time.time() + 180
            while not fsio.exists(spark, root + "/_worker_ready"):
                if proc.poll() is not None or time.time() > deadline:
                    out = proc.communicate()[0]
                    pytest.fail(f"worker never came up:\n{out[-3000:]}")
                time.sleep(0.2)
            fsio.touch(spark, root + "/_go")
            # survivor deletes CONCURRENTLY with the dying writer — its
            # successful dance must not settle the victim's marker
            store.delete("bib", 4, user="main")
            out, _ = proc.communicate(timeout=240)
            assert proc.returncode == 42, f"worker did not die at the " \
                f"injected point:\n{out[-3000:]}"
        finally:
            if proc.poll() is None:
                proc.kill()

        # fresh open replays the victim's surviving marker in _recover
        reader = MarcStore(spark, root)
        assert not reader._markers_for("bib_deleted")
        got = sorted(r["record_id"] for r in
                     reader.find_deleted("bib").collect())
        # id 3's latest history action is the victim's (durable) plain
        # recommit -> out of the summary; id 4 is the survivor's delete
        assert got == [4], got
        assert FileExternalCAS(casdir).pending("") == []
    finally:
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())


_WORKER_IDALLOC = r"""
import sys
root, casdir = sys.argv[1], sys.argv[2]
from dlx_spark.session import get_spark
from dlx_spark import fsio

fsio.set_commit_scheme(fsio.ExternalCASScheme(fsio.FileExternalCAS(casdir)))
spark = get_spark("mp_idalloc_worker", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "2")

from dlx_spark.marc.store import MarcStore
from dlx_spark.marc.record import Bib

store = MarcStore(spark, root)

fsio.touch(spark, root + "/_worker_ready")
for _ in range(1200):
    if fsio.exists(spark, root + "/_go"):
        break
    import time; time.sleep(0.1)
else:
    raise SystemExit("main process never said go")

ids = []
for i in range(3):
    recs = [Bib().set("245", "a", "Worker batch %d rec %d" % (i, j),
                      auth_control=False)
            for j in range(2)]
    ids += store.commit(recs, user="worker", auth_check=False)
print("WORKER_IDS=" + ",".join(str(i) for i in sorted(ids)), flush=True)
"""


@pytest.mark.slow
def test_two_driver_processes_disjoint_ids(spark, tmp_path):
    """CAS-serialized id allocation across OS processes (r11, ADVICE
    low): two drivers commit all-NEW records to one store concurrently.
    Before the ``_idalloc`` counter, both read the same ``max_id`` hint
    and stamped duplicate _ids; now each allocation reserves its range
    inside the backend's commit CAS, so the twelve fresh records must
    land with twelve DISTINCT ids and the store's row count must equal
    the id count (no silent upsert-merge of colliding ids)."""
    from dlx_spark.fsio import ExternalCASScheme, FileExternalCAS
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    root = str(tmp_path / "wh_mp_ids")
    casdir = str(tmp_path / "cas_ids")
    fsio.set_commit_scheme(ExternalCASScheme(FileExternalCAS(casdir)))
    try:
        store = MarcStore(spark, root)
        seed = [Bib({"_id": i, "245": [{"indicators": [" ", " "],
                                        "subfields": [{"code": "a",
                                                       "value": f"Seed {i}"}]}]})
                for i in range(1, 3)]
        store.commit(seed, user="seeder")

        script = tmp_path / "worker_ids.py"
        script.write_text(_WORKER_IDALLOC)
        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        proc = subprocess.Popen(
            [sys.executable, str(script), root, casdir],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env, cwd=repo)
        main_ids = []
        try:
            deadline = time.time() + 180
            while not fsio.exists(spark, root + "/_worker_ready"):
                if proc.poll() is not None or time.time() > deadline:
                    out = proc.communicate()[0]
                    pytest.fail(f"worker never came up:\n{out[-3000:]}")
                time.sleep(0.2)
            fsio.touch(spark, root + "/_go")
            for i in range(3):
                recs = [Bib().set("245", "a", f"Main batch {i} rec {j}",
                                  auth_control=False)
                        for j in range(2)]
                main_ids += store.commit(recs, user="main",
                                         auth_check=False)
            out, _ = proc.communicate(timeout=240)
            assert proc.returncode == 0, f"worker failed:\n{out[-3000:]}"
        finally:
            if proc.poll() is None:
                proc.kill()

        worker_ids = []
        for line in out.splitlines():
            if line.startswith("WORKER_IDS="):
                worker_ids = [int(x) for x in
                              line.split("=", 1)[1].split(",") if x]
        assert len(worker_ids) == 6, out[-3000:]
        assert len(main_ids) == 6
        allocated = sorted(worker_ids + main_ids)
        # disjoint ranges: no id assigned twice, none colliding with seeds
        assert len(set(allocated)) == 12
        assert min(allocated) >= 3
        reader = MarcStore(spark, root)
        got = sorted(r["_id"] for r in
                     reader.bibs().select("_id").collect())
        assert got == sorted([1, 2] + allocated)
        assert FileExternalCAS(casdir).pending("") == []
    finally:
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())


_WORKER_MAINT = r"""
import sys
root, casdir = sys.argv[1], sys.argv[2]
from dlx_spark.session import get_spark
from dlx_spark import fsio

fsio.set_commit_scheme(fsio.ExternalCASScheme(fsio.FileExternalCAS(casdir)))
spark = get_spark("mp_maint_worker", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "2")

from dlx_spark.marc.store import MarcStore
from dlx_spark.marc.record import Bib

store = MarcStore(spark, root)

fsio.touch(spark, root + "/_worker_ready")
for _ in range(1200):
    if fsio.exists(spark, root + "/_go"):
        break
    import time; time.sleep(0.1)
else:
    raise SystemExit("main process never said go")

ids = []
for i in range(4):
    recs = [Bib().set("245", "a", "Maint batch %d rec %d" % (i, j),
                      auth_control=False)
            for j in range(2)]
    ids += store.commit(recs, user="worker", auth_check=False)
store.delete("bib", ids[0], user="worker")
print("WORKER_IDS=" + ",".join(str(i) for i in sorted(ids)), flush=True)
"""


@pytest.mark.parametrize("minor", [False, True],
                         ids=["full_compact", "minor_compact"])
@pytest.mark.slow
def test_maintenance_races_concurrent_commits(spark, tmp_path, minor):
    """Store-level maintenance (compact + retention-guarded vacuum)
    composed with a concurrent writer across two OS processes (r11,
    VERDICT task 7): the backend's snapshot-token merge must carry
    every raced append through each compaction, the vacuum horizon
    must never reclaim the writer's in-flight state, and every read
    surface (live, search index, deleted summary, history) must be
    intact afterwards with no pending markers or CAS claims.

    Parametrized over the maintenance mode: the MINOR fold
    (compact_deltas — suffix-only surgery, base untouched) must uphold
    the same invariants under the same contention, including aborting
    cleanly when a raced append invalidates nothing but a raced full
    rewrite would."""
    from dlx_spark.fsio import ExternalCASScheme, FileExternalCAS
    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    root = str(tmp_path / "wh_mp_maint")
    casdir = str(tmp_path / "cas_maint")
    fsio.set_commit_scheme(ExternalCASScheme(FileExternalCAS(casdir)))
    try:
        store = MarcStore(spark, root)
        seed = [Bib({"_id": i, "245": [{"indicators": [" ", " "],
                                        "subfields": [{"code": "a",
                                                       "value": f"Seed {i}"}]}]})
                for i in range(1, 9)]
        store.commit(seed, user="seeder")
        store.build_search_index("bib")
        store.build_deleted_summary("bib")

        script = tmp_path / "worker_maint.py"
        script.write_text(_WORKER_MAINT)
        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.pop("PYSPARK_GATEWAY_SECRET", None)
        proc = subprocess.Popen(
            [sys.executable, str(script), root, casdir],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env, cwd=repo)
        try:
            deadline = time.time() + 180
            while not fsio.exists(spark, root + "/_worker_ready"):
                if proc.poll() is not None or time.time() > deadline:
                    out = proc.communicate()[0]
                    pytest.fail(f"worker never came up:\n{out[-3000:]}")
                time.sleep(0.2)
            fsio.touch(spark, root + "/_go")
            # maintenance cadence racing the live writer: repeated
            # compactions (live + index + history + summary) and a
            # retention-guarded vacuum (the 1h horizon must leave the
            # writer's young segments and in-flight markers alone)
            for _ in range(3):
                store.compact("bib", minor=minor)
            store.vacuum()
            out, _ = proc.communicate(timeout=300)
            assert proc.returncode == 0, f"worker failed:\n{out[-3000:]}"
        finally:
            if proc.poll() is None:
                proc.kill()

        worker_ids = []
        for line in out.splitlines():
            if line.startswith("WORKER_IDS="):
                worker_ids = [int(x) for x in
                              line.split("=", 1)[1].split(",") if x]
        assert len(worker_ids) == 8, out[-3000:]

        # a final quiesced vacuum reclaims superseded state for real
        store.vacuum(min_age_seconds=0)

        reader = MarcStore(spark, root)
        live = sorted(r["_id"] for r in reader.bibs().select("_id").collect())
        # every raced append was carried through every compaction;
        # the worker's delete removed its first id
        assert live == sorted(set(range(1, 9))
                              | set(worker_ids) - {worker_ids[0]})
        # search index consistent after compactions + raced refreshes
        assert reader.search("bib", "245__a:seed").count() == 8
        assert reader.search(
            "bib", "245__a:maint").count() == len(worker_ids) - 1
        # deleted summary agrees with the worker's delete
        assert [r.record_id for r in
                reader.find_deleted("bib").collect()] == [worker_ids[0]]
        # history intact: seeds + worker batches + the delete action
        assert reader.history_df("bib").count() == 8 + 8 + 1
        # nothing pending anywhere
        assert not reader._markers_for("bibs_tokens")
        assert not reader._markers_for("bib_deleted")
        assert FileExternalCAS(casdir).pending("") == []
    finally:
        fsio.set_commit_scheme(fsio.HadoopRenameScheme())
