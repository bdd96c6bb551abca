"""catalog_churn: writes beside reads on a MARC store.

Setup creates a store and commits the generated authority file with
``commit_frame``: the process's first write, which pays the JVM's cold
start, so the timed ops that follow run warm.  The timed phase is
a fixed sequence of cycles, the same in every run.  Each cycle makes one
write, then a ``get`` that checks the write is visible, then a block of
seeded reads (``gen.read_block``).  The writes are, in order: an ingest
of a bib file made from ``--seed`` (``read_mrk -> commit_frame``), then
two record-API ``commit``s, each of new versions of recent bibs, so the
write median is the middle of three writes, not the mean of two.
``--seconds`` sets how many times the sequence runs, never the clock.
Nothing compacts explicitly: reads pay for the delta segments the
writes leave.  A traced run also edits a heading, which the store
propagates to every linked bib, and reads a keyset page.
"""

from __future__ import annotations

import glob
import json
import os

import gen
from harness import FAILED

SIZES = {
    # auths, bibs in the ingest file, records per commit() batch
    "normal": {"auths": 300, "ingest": 300, "batch": 20},
    "tiny": {"auths": 25, "ingest": 40, "batch": 4},
}

#: nominal seconds of one write sequence on a 4-core machine: a run
#: makes ``max(1, round(seconds / ROUND_S))`` sequences
ROUND_S = 45

#: record-API commits after the ingest in one write sequence
BATCHES = 2

READ = "marc.store.read"
WRITE = "marc.store.write"


class Churn:
    def __init__(self, run):
        from dlx_spark.marc.store import MarcStore
        from dlx_spark.sources import marc_io

        self.run = run
        self.spark = run.spark
        self.marc_io = marc_io
        self.size = SIZES[run.size]
        self.cat = gen.Catalog(run.rng, self.size["auths"])
        self.topical = sorted(a for a, x in self.cat.auths.items()
                              if x.tag == "150")
        self.root = os.path.join(run.work, "store")
        self.store = MarcStore(self.spark, self.root)
        self.mrk_bytes = 0
        self.n_files = 0
        self.epoch = 0                 # bumped by every write
        self.seen: dict[str, tuple[int, int]] = {}
        self.segments: dict[str, int] = {}
        self.max_segments = 0
        self.auto_compactions = 0

    # -- inputs ----------------------------------------------------------

    def _file(self, name: str, text: str) -> str:
        self.n_files += 1
        path = os.path.join(self.run.work, "in",
                            f"{self.n_files:04d}-{name}.mrk")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)
        self.mrk_bytes += len(text.encode())
        return path

    def _frame(self, path: str, record_type: str = "bib"):
        with self.run.tracer.span("marc_io.read_mrk", "sources.marc_io"):
            return self.marc_io.read_mrk(self.spark, path, record_type)

    def _commit_frame(self, path: str, n_rows: int, record_type: str = "bib"):
        df = self._frame(path, record_type)
        with self.run.tracer.span("store.commit_frame", WRITE):
            n = self.store.commit_frame(df, record_type=record_type)
        self.run.check(n == n_rows, f"commit_frame wrote {n} of {n_rows}")

    # -- setup and timed phase ---------------------------------------------

    def setup(self) -> None:
        cat = self.cat
        self._commit_frame(self._file("auths", cat.auth_file()),
                           len(cat.auths), "auth")
        self._observe_tables()

    def timed(self) -> None:
        writes = [self.bulk_ingest] + [self.batch] * BATCHES
        self.cycles = max(1, round(self.run.seconds / ROUND_S)) * len(writes)
        self.rows_written = 0
        for cycle in range(self.cycles):
            writes[cycle % len(writes)]()
            for op in gen.read_block(self.cat, cycle):
                self.read(op)

    # -- writes ------------------------------------------------------------

    def _wrote(self) -> None:
        self.epoch += 1
        self._observe_tables()

    def _versions(self, ids) -> dict:
        """New versions of existing bibs, keeping their 191 symbol."""
        new = {b: self.cat.new_bib() for b in ids}
        for b in ids:
            new[b].symbol = self.cat.bibs[b].symbol
        return new

    def bulk_ingest(self) -> None:
        ingest = self.cat.add_bibs(self.size["ingest"])
        path = self._file("ingest", self.cat.bib_file(ingest))
        self.bib_file = path
        if self.run.op("ingest", "write", WRITE, self._commit_frame,
                       path, len(ingest)) is not FAILED:
            self.cat.commit(ingest)
        self.rows_written += len(ingest)
        self._wrote()
        self._check_get(max(ingest))

    def batch(self) -> None:
        """Record API: one ``commit`` of new versions of recent bibs."""
        from dlx_spark.marc import Bib

        run, cat = self.run, self.cat
        new = self._versions(sorted({cat.recent_id()
                                     for _ in range(self.size["batch"])}))

        def do():
            idx = self.store.auth_index()
            recs = [Bib.from_mrk(gen.bib_mrk(b, x, cat.auths), auth_index=idx)
                    for b, x in new.items()]
            with run.tracer.span("store.commit", WRITE):
                self.store.commit(recs)

        if run.op("batch", "write", WRITE, do) is not FAILED:
            cat.commit(new)
        self.rows_written += len(new)
        self._wrote()
        self._check_get(max(new))

    def heading(self) -> None:
        """Edit one authority heading; the store propagates it to every
        linked bib.  Checked by searching the new heading."""
        run, cat = self.run, self.cat
        aid = run.rng.choice(self.topical)
        new = cat.text(1, 3) + " " + cat.auths[aid].heading.split()[-1]

        def do():
            rec = self._get("auth", aid)
            rec.set("150", "a", new)
            with run.tracer.span("store.propagate", WRITE):
                self.store.commit([rec])

        if run.op("heading", "write", WRITE, do) is not FAILED:
            cat.auths[aid].heading = new
        self._wrote()
        self._check_heading(aid)

    # -- reads -------------------------------------------------------------

    def _get(self, record_type: str, rid: int):
        with self.run.tracer.span("store.get", READ):
            return self.store.get(record_type, rid)

    def _check_get(self, rid: int) -> None:
        rec = self.run.op("get", "read", READ, self._get, "bib", rid)
        want = self.cat.bibs[rid]
        self.run.check(
            rec not in (None, FAILED) and rec.get_value("245", "a") == want.title
            and rec.get_value("191", "a") == want.symbol,
            f"get bib {rid} does not show its last write")

    def _check_heading(self, aid: int) -> None:
        heading = self.cat.auths[aid].heading
        n = self._search(f"650__a:'{heading}'")
        want = sum(aid in x.subjects for x in self.cat.bibs.values())
        self.run.check(n == want, f"650__a:'{heading}' hit {n}, expected {want}")

    def _search(self, q: str, after_id: int | None = None):
        """One search op: the first 20-record page and the hit count (for
        a keyset page, the page alone).  Construction and execution are
        child spans."""
        tracer = self.run.tracer
        out = {}

        def do():
            with tracer.span("query.construct", "marc.query"):
                df = self.store.search("bib", q, after_id=after_id,
                                       limit=20 if after_id is not None else 0)
            with tracer.span("query.execute", READ):
                out["page"] = [r["_id"] for r in df.limit(20).collect()]
                if after_id is None:
                    out["n"] = df.count()

        kind = "search" if after_id is None else "keyset"
        if self.run.op(kind, "read", READ, do) is FAILED:
            return None
        if after_id is not None:
            return out["page"]
        prev = self.seen.get(q)
        if prev is not None and prev[0] == self.epoch:
            self.run.check(prev[1] == out["n"],
                           f"repeat of {q!r} hit {out['n']}, before {prev[1]}")
        self.seen[q] = (self.epoch, out["n"])
        return out["n"]

    def read(self, op: dict) -> None:
        run, cat = self.run, self.cat
        kind, pick = op["kind"], op["pick"]
        ids = cat.ids()
        rid = ids[int(pick * len(ids))]
        aid = self.topical[int(pick * len(self.topical))]
        if kind == "id":
            n = self._search(f"id:{rid}")
            run.check(n == 1, f"id:{rid} hit {n}")
        elif kind == "xref":
            n = self._search(f"xref:{aid}")
            want = len(cat.linked(aid))
            run.check(n == want, f"xref:{aid} hit {n}, expected {want}")
        elif kind == "heading":
            self._check_heading(aid)
        elif kind == "keyset":
            after = ids[int(pick * len(ids) * 0.9)]
            page = self._search(op["q"], after_id=after)
            run.check(page is not None and page == sorted(page)
                      and len(page) <= 20 and all(p > after for p in page),
                      f"keyset page after {after}: {page}")
        elif kind == "history":
            hist = run.op("history", "read", READ, self.store.history,
                          "bib", rid)
            want = cat.bibs[rid].versions
            got = "-" if hist is FAILED else len(hist)
            run.check(got == want, f"history of {rid}: {got} versions, "
                                   f"expected {want}")
        else:                               # text and its repeat
            self._search(op["q"])

    # -- figures and layer probes --------------------------------------------

    def figures(self) -> dict:
        write_s = sum(self.run.lat["write"])
        return {"rows_per_s": self.rows_written / write_s if write_s else 0,
                "space_amp": self.disk()[0] / self.mrk_bytes,
                "segments": self.segments,
                "auto_compactions": self.auto_compactions,
                "cycles": self.cycles, "bibs": len(self.cat.bibs)}

    def probes(self) -> dict:
        """Traced run only, after the timed phase: a heading edit with its
        propagation, a keyset page on the fragmented store, then the MRK
        parser and the derive step on their own, each over the last
        ingest file."""
        from pyspark.sql import functions as F
        from dlx_spark.marc import dataframe as mdf

        def materialize(df):
            df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()

        tracer = self.run.tracer
        self.heading()
        self.read({"kind": "keyset", "pick": self.run.rng.random(),
                   "q": f"245__a:{self.cat.zipf.one(self.run.rng)}"})
        with tracer.span("probe.parse", "sources.marc_io") as sp:
            materialize(self.marc_io.read_mrk(self.spark, self.bib_file))
        parse_s = sp["end"] - sp["start"]
        parsed = self.marc_io.read_mrk(self.spark, self.bib_file).cache()
        parsed.count()
        headings = self.store.headings()
        with tracer.span("probe.derive", "marc.dataframe") as sp:
            materialize(mdf.derive_logical_fields(
                mdf.derive_text_words(parsed, headings=headings), "bib"))
        parsed.unpersist()
        return {
            "marc_io.parse_rps": (self.size["ingest"] / parse_s, "rows/s"),
            "dataframe.derive_s": (sp["end"] - sp["start"], "s"),
            "store.keyset.s": (tracer.median("keyset"), "s"),
            "tableio.segments": (self.max_segments, "count"),
            "tableio.auto_compactions": (self.auto_compactions, "count"),
        }

    # -- on-disk observation of the versioned tables ------------------------

    def _observe_tables(self) -> None:
        """Segments per table from each table's latest manifest; a drop
        with no explicit compact is an inline (auto) compaction."""
        for path in glob.glob(os.path.join(self.root, "_v", "tables", "*")):
            versions = sorted(glob.glob(os.path.join(path, "v*.json")))
            if not versions:
                continue
            with open(versions[-1]) as fh:
                n = len(json.load(fh).get("segments", []))
            name = os.path.basename(path)
            if n < self.segments.get(name, 0):
                self.auto_compactions += 1
            self.segments[name] = n
            self.max_segments = max(self.max_segments, n)

    def disk(self) -> tuple[int, int]:
        """(bytes, files) the store holds on disk."""
        size = files = 0
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
        return size, files

