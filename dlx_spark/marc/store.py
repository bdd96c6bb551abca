"""Record warehouse with the reference's write-side semantics
re-expressed as deterministic batch jobs (SURVEY §3.2), stored as
MERGE-ON-READ tables on the transactional versioned backend.

Layout under ``root``::

    _v/                     versioned backend (manifest-committed,
                            snapshot-isolated — tableio_versioned)
      tables/marc           ONE manifest log for the store's table
                            group, so every write is one commit:
        bibs, auths              live records: merge-on-read, hive-
                                 partitioned by pt = _id % n_buckets
                                 (the modulus rides in the manifest
                                 ``extra`` and is REBUCKETABLE)
        {bibs,auths}_tokens      persisted search index: merge-on-read,
                                 partitioned by TAG (the engine's
                                 analog of the reference's per-tag
                                 ``_index_{tag}`` collections,
                                 dlx/marc/query.py:112-148); its
                                 ``extra`` carries the heading flag
        {bib,auth}_history       append-only version log (one segment
                                 per commit, folded by compaction)
        {bib,auth}_deleted       deleted-records summary (optional)
      tables/{bibs,auths}_idalloc  id counters, outside the group
    merge_log/              auth merge audit rows
    stage_*/                scratch parquet for pipeline materialization
                            (no leading underscore: Spark treats
                            ``_``-prefixed paths as hidden)

Per-commit pipeline (replacing the reference's per-record round-trips
and 4 thread families, dlx/marc/__init__.py:856-1234):

1. id assignment — a CAS-reserved range from the ``_idalloc`` metadata
   table (the reference's atomic Mongo incrementer re-expressed as a
   manifest-CAS counter, seeded from ``max(_id over live ∪ history)``)
   plus ``row_number`` within the batch — concurrent drivers receive
   disjoint ranges;
2. validation + auth validation against the broadcast-sized AuthIndex;
3. audit stamps — ``created`` preserved from the previous version;
4. derived columns (text/words, logical fields) recomputed for the
   touched records as one DataFrame job;
5. staging — the history rows (the full new doc becomes the next
   version), the merge-on-read live delta (the batch as ONE delta
   segment plus tombstones: commit I/O is O(batch) regardless of store
   size — the rewrite-the-bucket layout this replaces made a 1% batch
   cost ~35% of a full rebuild at 1M records), and, where a token index
   or deleted summary exists, the batch's rows for it, each written as
   an unpublished segment;
6. one group commit publishes all of them, with the heading flags of an
   auth heading change, as one version of the ``marc`` log — a crash
   before it leaves every table as it was (as the reference's
   ``Marc.commit`` maintains history and the ``_index_{tag}``
   collections in one step);
7. inline folds of any table the commit left at ``AUTO_COMPACT_AT``
   segments;
8. heading-change propagation — attached records are recommitted as one
   follow-up batch (cached linked values refresh; feedback-loop guarded
   by ``update_attached=False`` on the recursive call, mirroring the
   reference's guard at 1162-1165).

Multi-writer posture: the commit POINT (every manifest publish) is the
backend's CAS — safe across driver processes under an atomic-rename or
external-CAS scheme.  Fresh-id assignment is CAS-serialized through the
``_idalloc`` counter (disjoint ranges across drivers); history VERSION
numbering for the SAME record stays single-logical-writer by contract —
two drivers updating one record concurrently can stamp the same version
number, like two reference workers racing its per-record version read.
"""

from __future__ import annotations

import warnings
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from dlx_spark import config, fsio, schemas
from dlx_spark.marc import dataframe as mdf
from dlx_spark.marc import query as q
from dlx_spark.marc.record import (
    Auth,
    AuthIndex,
    AuthInUse,
    Bib,
    Datafield,
    InvalidAuthXref,
    Linked,
    Marc,
)
from dlx_spark.tableio import ConcurrentWriteError
from dlx_spark.tableio_mor import DELETED as _MOR_DELETED
from dlx_spark.tableio_mor import MergeOnReadTable
from dlx_spark.tableio_versioned import VersionedTableBackend


class InvalidAuthField(Exception):
    def __init__(self, rtype, tag, code):
        super().__init__(f"{tag}${code} must be authority-controlled")


class InvalidNonAuthField(Exception):
    def __init__(self, rtype, tag, code):
        super().__init__(f"{tag}${code} is not authority-controlled but has an xref")


_RECORD_CLASS = {"bib": Bib, "auth": Auth}


class _LazyAuthIndex:
    """Build-on-first-touch stand-in for AuthIndex (see
    MarcStore._lazy_auth_index).  Delegates every attribute to the
    freshly-resolved memoized index, so invalidation is respected."""

    def __init__(self, build):
        self._build = build

    def __getattr__(self, name):
        return getattr(self._build(), name)

    def __deepcopy__(self, memo):
        # records deep-copied for serialization (to_mrk/to_mrc/to_xml)
        # carry this proxy as their auth_index: it is a lookup SERVICE
        # over the store, not record state — copying it would walk
        # ``_build`` into the store and drag the SparkSession through
        # deepcopy (SPARK-5063), and the deepcopy PROBE for
        # ``__deepcopy__`` alone would otherwise force the index build
        # through ``__getattr__``
        return self

    def __copy__(self):
        return self


class OnDemandAuthIndex:
    """Join-backed fallback for the ``AuthIndex`` surface when the
    auths table exceeds ``AUTH_INDEX_MAX_ROWS`` (r11, VERDICT task 4):
    instead of refusing record-API reads outright, every lookup runs as
    a targeted Spark query — pt-pruned point reads for id lookups,
    heading-dimension filters for value lookups — with a bounded
    per-id memo so repeated resolutions of the same xref (the common
    serialization shape) pay one read.  Slow-but-correct: the
    reference's ``Auth.build_cache`` has the same driver-memory cliff
    (dlx/marc/__init__.py:1841-1874) and simply OOMs past it; set-scale
    paths (commit_frame, resolve_values) never touch this class."""

    MEMO_MAX = 100_000

    def __init__(self, store: "MarcStore"):
        self._store = store
        self._memo: dict[int, "Auth | None"] = {}

    def __deepcopy__(self, memo):
        # records deep-copied for serialization (to_mrk/to_mrc) share
        # the index: it is a lookup SERVICE over the store, not record
        # state — copying it would drag the SparkSession through
        # deepcopy (SPARK-5063)
        return self

    def __copy__(self):
        return self

    # --- id-keyed surface (pt-pruned point reads) ---------------------

    def _remember(self, xref: int, auth) -> None:
        if len(self._memo) >= self.MEMO_MAX:
            self._memo.clear()      # crude but bounded; refill on demand
        self._memo[int(xref)] = auth

    def get(self, xref):
        xref = int(xref)
        if xref not in self._memo:
            rows = (self._store._raw("auth")
                    .filter((F.col("pt")
                             == xref % self._store.n_buckets("auth"))
                            & (F.col("_id") == xref))
                    .drop("pt").collect())
            self._remember(
                xref, Auth.from_row(rows[0], auth_index=self)
                if rows else None)
        return self._memo[xref]

    def exists(self, xref: int) -> bool:
        return self.get(xref) is not None

    def lookup(self, xref: int, code: str, language: str | None = None):
        auth = self.get(xref)
        if auth is None:
            return None
        if language:
            return auth.heading_value(code, language)
        hf = auth.heading_field
        return None if hf is None else hf.get_value(code)

    # --- value-keyed surface (heading-dimension filters) ---------------

    def _heading_rows(self):
        return self._store.headings()

    def _ids(self, df) -> list[int]:
        return sorted(int(r["auth_id"]) for r in
                      df.select("auth_id").distinct().collect())

    def xlookup(self, heading_tag: str, code: str, value: str) -> list[int]:
        from dlx_spark.functions.tokenizer import scrub
        h = self._heading_rows()
        return self._ids(h.filter(
            F.col("lang").isNull() & (F.col("tag") == heading_tag)
            & (F.col("code") == code)
            & (F.col("norm") == scrub(value or ""))))

    def xlookup_any_code(self, heading_tag: str, value: str) -> list[int]:
        from dlx_spark.functions.tokenizer import scrub
        h = self._heading_rows()
        return self._ids(h.filter(
            F.col("lang").isNull() & (F.col("tag") == heading_tag)
            & (F.col("norm") == scrub(value or ""))))

    def xlookup_regex(self, heading_tag: str, code: str, pattern: str,
                      flags: int = 0) -> list[int]:
        import re as _re
        rx = (("(?i)" if flags & _re.IGNORECASE else "") + pattern)
        h = self._heading_rows()
        return self._ids(h.filter(
            F.col("lang").isNull() & (F.col("tag") == heading_tag)
            & (F.col("code") == code) & F.col("value").rlike(rx)))

    def xlookup_multi(self, heading_tag: str,
                      pairs: list[tuple[str, str]]) -> list[int]:
        out: set[int] | None = None
        for code, value in pairs:
            ids = set(self.xlookup(heading_tag, code, value))
            out = ids if out is None else out & ids
        return sorted(out or [])

    def resolve_ambiguous(self, record_type: str, tag: str,
                          subfields: list):
        pairs = [(s.code, s.value or "") for s in subfields]
        heading_tag = config.authority_source_tag(record_type, tag,
                                                  pairs[0][0])
        if heading_tag is None:
            return None
        matches = self.xlookup_multi(heading_tag, pairs)
        if len(matches) == 1:
            return matches[0]
        if len(matches) > 1:
            candidates = []
            for auth_id in matches:
                hf = self.get(auth_id).heading_field
                if hf is not None \
                        and pairs == [(s.code, s.value)
                                      for s in hf.subfields]:
                    candidates.append(auth_id)
            if len(candidates) == 1:
                return candidates[0]
        return None

    # --- mutation hooks (the commit pipeline keeps the cache in step) --

    def add(self, auth) -> None:
        if auth.id is not None:
            self._remember(int(auth.id), auth)

    def remove(self, auth_id: int) -> None:
        self._memo.pop(int(auth_id), None)

    def ids(self):
        raise RuntimeError(
            "OnDemandAuthIndex.ids(): enumerating every auth id is an "
            "O(dimension) driver materialization — the exact cliff this "
            "fallback exists to avoid.  Use the distributed headings() "
            "dimension instead.")


class MarcStore:
    #: default bucket modulus for NEW stores — existing stores read
    #: theirs from the live table's manifest (``n_buckets``), and
    #: ``rebucket`` changes it in place as the store grows
    N_BUCKETS = 16

    #: the backend table group of the store's tables (live, history,
    #: token index, deleted summary): one manifest log, so every write
    #: is one commit.  The ``*_idalloc`` counters stay outside it, so
    #: id allocation never contends with commits.
    GROUP = "marc"

    #: the per-table logs earlier releases wrote under ``_v/tables``
    _PRE_GROUP_TABLES = ("bibs", "auths", "bibs_tokens", "auths_tokens",
                         "bib_history", "auth_history", "bib_deleted",
                         "auth_deleted")

    def __init__(self, spark: SparkSession, root: str,
                 n_buckets: int | None = None):
        self.spark = spark
        self.root = root
        import uuid as _uuid
        # per-instance scratch suffix — see _stage for why concurrent
        # driver processes must never share a staging path
        self._scratch = _uuid.uuid4().hex[:12]
        # heading-dimension broadcast gate memo (see headings_hint)
        self._headings_hint_memo: bool | None = None
        self._auth_index: AuthIndex | None = None
        self._query_ctxs: dict = {}
        self._default_n_buckets = int(n_buckets or self.N_BUCKETS)
        self.backend = VersionedTableBackend(root=fsio.join(root, "_v"))
        self._mor: dict[str, MergeOnReadTable] = {}
        fsio.mkdirs(spark, root)
        self.backend.check_format(
            spark, list(self._PRE_GROUP_TABLES),
            "Export the records with the release that wrote the store "
            "and import them into a fresh root (scripts/marc_import.py); "
            "derived tables rebuild with build_search_index / "
            "build_deleted_summary.")

    # --- paths / raw IO -----------------------------------------------------

    def _path(self, name: str) -> str:
        return fsio.join(self.root, name)

    def _t(self, name: str) -> str:
        """Table ``name`` of the store's backend group."""
        return f"{self.GROUP}/{name}"

    def _history_name(self, record_type: str) -> str:
        return self._t(f"{record_type}_history")

    def _live_name(self, record_type: str) -> str:
        return "bibs" if record_type == "bib" else "auths"

    @staticmethod
    def _live_extra_merge(new: dict | None, head: dict | None) -> dict:
        """Manifest-metadata merge for the live tables: new keys win
        (rebucket changes n_buckets on purpose), EXCEPT the
        max-assigned-id hint, which is monotonic — a compaction staged
        from an old snapshot must not roll back the hint a raced commit
        advanced (id reuse would corrupt history and break the
        never-reuse-after-delete contract)."""
        out = dict(head or {})
        out.update(new or {})
        hints = [int(d["max_id"]) for d in (new or {}, head or {})
                 if d.get("max_id") is not None]
        if hints:
            out["max_id"] = max(hints)
        return out

    def _live(self, record_type: str) -> MergeOnReadTable:
        name = self._t(self._live_name(record_type))
        if name not in self._mor:
            self._mor[name] = MergeOnReadTable(
                self.backend, name, key="_id", partition_cols=["pt"],
                extra_merge=self._live_extra_merge)
        return self._mor[name]

    def _tokens(self, record_type: str) -> MergeOnReadTable:
        name = self._t(self._tokens_name(record_type))
        if name not in self._mor:
            # cluster by value_norm, not the key: the index's hot
            # filters are exact-value predicates on value_norm (scalar
            # — row-group min/max prunes) and array_contains on toks
            # (no stats either way); record_id only feeds hash joins,
            # which gain nothing from sortedness
            self._mor[name] = MergeOnReadTable(
                self.backend, name, key="record_id",
                partition_cols=["tag"], sort_col="value_norm")
        return self._mor[name]

    def n_buckets(self, record_type: str = "bib") -> int:
        """The live table's bucket modulus (pt = _id % n_buckets) —
        read from the table's CURRENT manifest on every call, never
        memoized: a cached modulus would outlive another driver's
        ``rebucket`` and make this instance's pruned point reads and
        searches filter on the wrong pt, silently missing live records
        (writes are additionally guarded in-commit by
        ``expect_meta``)."""
        live = self._live(record_type)
        if not live.exists(self.spark):
            return self._default_n_buckets
        return int(live.meta(self.spark).get(
            "n_buckets", self._default_n_buckets))

    def _empty(self, schema) -> DataFrame:
        return self.spark.createDataFrame([], schema=schema)

    def table(self, record_type: str) -> DataFrame:
        live = self._live(record_type)
        if not live.exists(self.spark):
            return self._empty(schemas.MARC)
        return live.read(self.spark).drop("pt")

    def _raw(self, record_type: str) -> DataFrame:
        """The resolved live table WITH its ``pt`` partition column —
        the scan point-id terms prune at the partition level."""
        return self._live(record_type).read(self.spark)

    def bibs(self) -> DataFrame:
        return self.table("bib")

    def auths(self) -> DataFrame:
        return self.table("auth")

    def history_df(self, record_type: str) -> DataFrame:
        name = self._history_name(record_type)
        if not self.backend.exists(self.spark, name):
            return self._empty(schemas.HISTORY)
        return self.backend.read(self.spark, name).drop("pt")

    def _history_for(self, record_type: str, rid: int) -> DataFrame:
        """One record's history, pruned to its ``pt`` partition (the
        modulus is the HISTORY table's own, fixed at creation — live
        rebuckets never touch it)."""
        name = self._history_name(record_type)
        if not self.backend.exists(self.spark, name):
            return self._empty(schemas.HISTORY)
        manifest = self.backend.latest_manifest(self.spark, name)
        mod = int((manifest.get("extra") or {}).get("n_buckets") or 0)
        out = self.backend.read(self.spark, name)
        if mod:
            out = out.filter(F.col("pt") == int(rid) % mod)
        return out.drop("pt").filter(F.col("record_id") == rid)

    def headings(self) -> DataFrame:
        return mdf.auth_headings(self.auths())

    #: above this many AUTH records the heading-dimension joins
    #: (linked-value resolution, token-view overlay) stop FORCING a
    #: broadcast and let Catalyst/AQE pick the strategy.  Translations
    #: multiply the dimension (rows per heading subfield × language),
    #: so a dimension the AUTH_INDEX_MAX_ROWS guard admits can still be
    #: multi-GB — force-broadcasting it would OOM the driver, the same
    #: cliff MergeOnReadTable.BROADCAST_MAX_DELTA_ROWS gates on the
    #: delta side.  Above the ceiling a shuffle is the CORRECT plan,
    #: not a failure mode.
    HEADINGS_BROADCAST_MAX_AUTHS = 2_000_000

    def headings_hint(self) -> bool:
        """Whether heading-dimension joins may force a broadcast —
        decided from a footer-only row estimate of the auths table
        (upper bound: tombstones/superseded mentions included, so the
        gate errs toward dropping the hint).  Memoized per store,
        invalidated by every auth write."""
        if self._headings_hint_memo is None:
            live = self._live("auth")
            if not live.exists(self.spark):
                self._headings_hint_memo = True
            else:
                self._headings_hint_memo = (
                    live.row_estimate(self.spark)
                    <= self.HEADINGS_BROADCAST_MAX_AUTHS)
        return self._headings_hint_memo

    # Above this many auth records the driver-side cache stops being
    # "broadcast-sized" and becomes a multi-GB driver structure; the
    # distributed paths (commit_frame's headings join, resolve_values)
    # don't need it, so refuse instead of silently degrading.
    AUTH_INDEX_MAX_ROWS = 5_000_000

    def auth_index(self) -> AuthIndex:
        """The in-process authority dimension (broadcast-sized by the
        same argument as the reference's Auth.build_cache).  Memoized
        per store and invalidated by every auth write, so repeated
        reads/commits don't rescan the auths table.

        Guarded: past ``AUTH_INDEX_MAX_ROWS`` the driver cache would be
        multi-GB, so the record-API degrades GRACEFULLY to an
        ``OnDemandAuthIndex`` (targeted per-call Spark lookups, bounded
        memo) with a warning, instead of refusing reads outright (r11;
        the reference's Auth.build_cache simply OOMs there).  Set-scale
        paths (``commit_frame``'s headings join,
        ``MarcDataFrame.resolve_values``) never consult this cache."""
        if self._auth_index is None:
            # cap probe stops scanning at cap+1 rows instead of a full
            # count() pass (the index rebuilds after every auth write,
            # so a whole-table pre-count would double rebuild I/O)
            n = self.auths().limit(self.AUTH_INDEX_MAX_ROWS + 1).count()
            if n > self.AUTH_INDEX_MAX_ROWS:
                warnings.warn(
                    f"auth_index(): auths table exceeds the driver-cache "
                    f"cap of {self.AUTH_INDEX_MAX_ROWS:,} rows — serving "
                    f"record-API lookups through on-demand Spark queries "
                    f"(slower per call, no driver materialization).  "
                    f"Prefer the distributed paths at this scale "
                    f"(commit_frame for bulk writes, resolve_values for "
                    f"linked-value reads).")
                self._auth_index = OnDemandAuthIndex(self)
                return self._auth_index
            idx = AuthIndex()
            for row in self.auths().toLocalIterator():
                idx.add(Auth.from_row(row, auth_index=idx))
            self._auth_index = idx
        return self._auth_index

    def _invalidate_auth_index(self) -> None:
        self._auth_index = None
        self._headings_hint_memo = None

    def _lazy_auth_index(self):
        """A proxy that builds the memoized auth index only when a
        caller actually touches it.  Read paths (search, get) hand this
        to the parser and record constructors: most query shapes —
        point ids, fielded text on non-controlled tags, logical fields
        — never consult the dimension, and a fresh session should not
        pay the build for them (measured ~1.5 s of a 3 s fresh-session
        fielded query at 1M records).  No caching in the proxy itself:
        every access re-reads the store's memo, so auth-write
        invalidation keeps working."""
        return _LazyAuthIndex(self.auth_index)

    # --- reads ---------------------------------------------------------------

    def get(self, record_type: str, rid: int) -> Marc | None:
        # prune to the one pt bucket holding this id (pt = _id % N) so a
        # point read lists/scans 1/N of the table's files — the filter
        # pushes into the merge-on-read base AND delta scans
        if not self._live(record_type).exists(self.spark):
            return None
        rows = (self._raw(record_type)
                .filter((F.col("pt") == int(rid) % self.n_buckets(record_type))
                        & (F.col("_id") == rid))
                .drop("pt").collect())
        if not rows:
            return None
        return _RECORD_CLASS[record_type].from_row(
            rows[0], auth_index=self._lazy_auth_index())

    def search(self, record_type: str, query_string: str,
               sort=None, skip: int = 0, limit: int = 0,
               after_id: int | None = None) -> DataFrame:
        """Parse and execute a query-DSL string against the LIVE table —
        the reference's ``MarcSet.from_query(Query.from_string(...))``
        read path (dlx/marc/query.py:112-346) as one call, with the
        store's physical layout exploited:

        - point-id terms (``id:n`` / ``001:n``) prune the scan to the
          pt bucket holding the id (pt = _id % N_BUCKETS) at the
          PARTITION level, so 1/N of the store's files are listed and
          read — the plan analog of the reference's ``_id`` index
          (asserted at the executed-plan level in
          tests/test_marc_query_scale.py);
        - fielded text terms run through one cached tokenized subfield
          view per record type (a long-lived QueryContext, invalidated
          on any mutation) — the session-level analog of the
          reference's persistent ``_index_{tag}`` collections: the
          first text query pays the index build, every later one
          reuses it;
        - everything else (logical fields, audit dates, xref
          containment) is a single codegen'd predicate pass over the
          stored derived columns: no shuffle, no Python.

        ``after_id`` is the KEYSET cursor (r11): resume a
        ``_id``-ordered page sequence from ``_id > after_id`` instead
        of ``skip=N``.  The reference pages with cursor skip
        (dlx/marc/__init__.py:538-540), which is O(offset) per page —
        at 100× a deep page re-sorts and discards millions of rows;
        the keyset predicate pushes into the parquet scan (the live
        segments are written key-sorted, so ``_id`` min/max row-group
        stats skip everything below the cursor) and each page costs
        the same as the first.  Implies sort by ``_id``; mutually
        exclusive with ``sort``/``skip``.

        Returns the matching records as a DataFrame (canonical nested
        schema, no ``pt``)."""
        from dlx_spark.marc import parser as mparser
        if after_id is not None and (sort is not None or skip):
            raise ValueError(
                "after_id is a keyset cursor: it implies sort by _id "
                "and replaces skip — pass one paging style, not both")
        query = q.Query.from_string(query_string, record_type=record_type,
                                    auth_index=self._lazy_auth_index())
        if not self._live(record_type).exists(self.spark):
            return self._empty(schemas.MARC)
        raw = self._raw(record_type)
        if after_id is not None:
            # applied to the RAW scan so the predicate reaches the
            # parquet readers of base and delta segments alike
            raw = raw.filter(F.col("_id") > int(after_id))
        for cond in query.conditions:
            buckets = self._id_buckets(cond, record_type)
            if buckets is not None:
                raw = raw.filter(
                    F.col("pt").isin(sorted(buckets)))
        out = mparser.execute_query(query, self._query_context(record_type),
                                    df=raw.drop("pt"))
        # sort/skip/limit: the find()-cursor modifiers of the
        # reference's from_query path (same semantics as
        # MarcSet.from_query).  Sort before skip/limit, as a cursor does
        if after_id is not None:
            out = out.orderBy("_id")
        elif sort is not None:
            out = out.orderBy(*sort)
        if skip:
            out = out.offset(skip)
        if limit:
            out = out.limit(limit)
        return out

    def _query_context(self, record_type: str):
        """The long-lived query context for ``record_type`` — its
        tokenized subfield view is cached across searches (the
        reference's persistent index-collection analog) and dropped by
        ``_invalidate_query_contexts`` on any table mutation."""
        from dlx_spark.marc import parser as mparser
        ctx = self._query_ctxs.get(record_type)
        if ctx is None:
            ctx = mparser.QueryContext(self.table(record_type), record_type,
                                       auth_index=self._lazy_auth_index(),
                                       headings=self.headings(),
                                       tokens=self._search_index_df(
                                           record_type),
                                       headings_hint=self.headings_hint())
            self._query_ctxs[record_type] = ctx
        return ctx

    def _invalidate_query_contexts(self) -> None:
        """Drop every cached query context (unpersisting its tokenized
        view).  Called on ANY mutation of either table: bib edits
        change the bib tokens, auth edits change the heading values the
        token view denormalizes into BOTH record types."""
        for rt in list(self._query_ctxs):
            ctx = self._query_ctxs.pop(rt)
            try:
                ctx.close()
            except Exception:
                pass

    # --- persisted search index -----------------------------------------------
    #
    # The engine's analog of the reference's persistent per-tag
    # ``_index_{tag}`` collections (dlx/marc/query.py:112-148): one
    # merge-on-read table per record type, hive-partitioned by TAG so a
    # fielded term (``245__a:...``) prunes to its tag's files at the
    # listing level, maintained O(batch) by every write in the same
    # group commit as the live delta it indexes.  What a batch cannot
    # refresh itself — records OTHER than the batch's that denormalize
    # a heading it changed — is named by the token table's heading
    # flag, a manifest ``extra`` field committed with the auth change
    # and cleared by the commit that refreshes those records.

    def _tokens_name(self, record_type: str) -> str:
        return ("bibs" if record_type == "bib" else "auths") + "_tokens"

    #: the token tables' heading-staleness flag (a manifest ``extra``
    #: key): the auth ids whose heading changed since the token rows of
    #: the records linking to them were derived, or ``"full"``
    STALE_HEADINGS = "stale_headings"

    #: the heading flag names the CHANGED auth ids up to this many, so
    #: the search-time refresh re-derives only the records linking to
    #: them (O(batch + attached) — one xref semi-join on the token
    #: table) instead of rebuilding the whole index.  Past the cap the
    #: id list would bloat every manifest and the targeted refresh
    #: approaches a rebuild anyway, so the flag degrades to ``full``.
    HEADING_FLAG_MAX_XREFS = 10_000

    def _flagged(self, head: dict | None, add=(), covered=None) -> dict:
        """Token-table metadata ``head`` with its heading flag updated:
        the ids a refresh covered removed (``covered="full"``: all),
        then ``add`` added (``full`` past the cap).  Flags other
        writers added meanwhile survive: only auth commits add flags,
        and every refresh publishes against an auths snapshot."""
        out = dict(head or {})
        flag = out.pop(self.STALE_HEADINGS, None)
        if covered == "full":
            flag = None
        elif covered and isinstance(flag, list):
            flag = sorted(set(flag) - set(covered)) or None
        if add and flag != "full":
            flag = sorted(set(flag or ()) | {int(i) for i in add})
            if len(flag) > self.HEADING_FLAG_MAX_XREFS:
                flag = "full"
        if flag:
            out[self.STALE_HEADINGS] = flag
        return out

    def _stage_flag(self, record_type: str, add=(), covered=None):
        """The metadata-only change of a token table's heading flag."""
        return self.backend.stage_extra(
            self._tokens(record_type).table,
            lambda head: self._flagged(head, add, covered), create=False)

    def _token_sources(self, record_type: str) -> list[str]:
        """The live tables a token table derives from: its own records,
        and the auths whose headings it overlays."""
        return sorted({self._live(record_type).table,
                       self._live("auth").table})

    def _snapshot(self, tables: list[str]) -> dict:
        return {t: self.backend.snapshot_token(self.spark, t)
                for t in tables}

    #: how many times a derivation (index build, heading refresh)
    #: folds the commits that raced it and publishes again
    DERIVE_ATTEMPTS = 8

    def _publish_against(self, snap: dict, staged: list, gap) -> None:
        """Publish a derivation only against ``snap`` ({member: segment
        list or None}), the snapshot of its sources, checked in the
        commit.  On a raced commit ``gap(old, new)`` stages what the
        commits between the snapshots add, and it publishes again."""
        for _ in range(self.DERIVE_ATTEMPTS):
            try:
                self.backend.publish(self.spark, staged + [
                    self.backend.stage_check(t, segs)
                    for t, segs in snap.items()])
                return
            except ConcurrentWriteError:
                new = self._snapshot(list(snap))
                if new == snap:
                    raise       # a raced rewrite of the derived table
                staged = staged + gap(snap, new)
                snap = new
        raise ConcurrentWriteError(
            f"commits kept landing while deriving from {sorted(snap)} — "
            f"re-run when the store is quieter")

    def _token_delta(self, record_type: str, batch: DataFrame | None,
                     removed_ids: DataFrame | None):
        """The staged token delta of a batch: a tombstone per touched
        record_id (stale and deleted rows die) plus fresh token rows."""
        fresh, stones = None, removed_ids
        if batch is not None:
            fresh = mdf.subfield_token_rows(batch, record_type,
                                            headings=self.headings(),
                                            hint=self.headings_hint())
            touched = batch.select(F.col("_id").alias("record_id"))
            stones = touched if stones is None \
                else stones.unionByName(touched)
        return self._tokens(record_type).stage_upsert(
            rows=fresh, tombstone_keys=stones)

    def _token_gap(self, record_type: str, old: dict, new: dict) -> list:
        """What the commits between snapshots ``old`` and ``new`` owe a
        token derivation: their live batches' token deltas, and a flag
        naming every auth they wrote (a superset of changed headings)."""
        live, auth = self._live(record_type), self._live("auth")
        out = []
        if new[live.table] is not None:
            batch = live.read_segments_since(self.spark,
                                             old[live.table] or [])
            if batch is not None:
                alive = batch.filter(~F.col(_MOR_DELETED))
                out.append(self._token_delta(
                    record_type, alive.drop(_MOR_DELETED, "pt"),
                    batch.select(F.col("_id").alias("record_id"))))
        if new[auth.table] is not None \
                and new[auth.table] != old[auth.table]:
            written = auth.read_segments_since(self.spark,
                                               old[auth.table] or [])
            ids = [] if written is None else [
                r["_id"] for r in written.select("_id").distinct()
                .limit(self.HEADING_FLAG_MAX_XREFS + 1).collect()]
            if ids:
                out.append(self._stage_flag(record_type, add=ids))
        return out

    def build_search_index(self, record_type: str) -> None:
        """Materialize the tokenized subfield view as a PERSISTED,
        tag-partitioned merge-on-read table — the reference's
        ``_index_{tag}`` collections as one table whose TAG partition
        plays the per-collection role.  ``search`` then reads the index
        instead of building a per-session tokenized cache: the cold
        fielded-text query drops from an O(store) tokenize (pandas-UDF
        stemming over every subfield — 18.6 s at 1M records) to a
        tag-pruned parquet scan, and the stemming UDF leaves the QUERY
        plan entirely — across sessions, which is what matters at
        100 TB where a per-session rebuild would be hours.  Maintenance
        afterwards is O(batch): each write commits the batch's token
        rows plus per-record tombstones (see ``_write``).  The rebuild
        clears the heading flag and publishes against the live snapshot
        it derived from, folding raced commits (``_publish_against``)."""
        live = self._live(record_type)
        if not live.exists(self.spark):
            return
        tokens = self._tokens(record_type)
        snap = self._snapshot(self._token_sources(record_type))
        token = tokens.segments(self.spark) \
            if tokens.exists(self.spark) else None
        rows = mdf.subfield_token_rows(self.table(record_type), record_type,
                                       headings=self.headings(),
                                       hint=self.headings_hint())
        self._publish_against(
            snap, [tokens.stage_overwrite(
                rows, token,
                extra_merge=lambda new, head: self._flagged(
                    head, covered="full"))],
            lambda old, new: self._token_gap(record_type, old, new))
        self._invalidate_query_contexts()

    #: affected-record sets up to this size are collected to the driver
    #: and pushed into the live scan as an ``_id IN (...)`` predicate
    #: plus pt-bucket partition pruning — a semi-join alone cannot
    #: reach the scan, so without this the repair reads every record's
    #: nested datafields (measured 22.4 s at 1M for ~1000 attached).
    #: 100k longs ≈ 1 MB on the driver; past the cap the repair keeps
    #: the join formulation (scan-heavy but never driver-unsafe).
    XREF_REPAIR_ISIN_MAX = 100_000

    def _refresh_tokens_for_xrefs(self, record_type: str,
                                  xrefs: list[int]) -> None:
        """Refresh the token rows of every record LINKING to the given
        auth ids — the targeted repair a heading flag asks for — and
        clear those ids from the flag in the same commit.  The affected
        set comes from the token table's own ``xref`` column (xrefs
        never change with heading VALUES — a 2-column pruned scan);
        those records re-derive from live with CURRENT headings, their
        ids pushed into the live scan as an IN predicate with pt-bucket
        pruning, so the nested datafields column is read only for the
        attached records: O(batch + attached)."""
        tokens = self._tokens(record_type)
        live = self._live(record_type)
        if not tokens.exists(self.spark) or not live.exists(self.spark):
            return
        snap = self._snapshot(self._token_sources(record_type))
        xdf = self.spark.createDataFrame(
            [(int(x),) for x in xrefs], "x long")
        affected = (tokens.read(self.spark)
                    .filter(F.col("xref").isNotNull())
                    .join(F.broadcast(xdf), F.col("xref") == F.col("x"),
                          "leftsemi")
                    .select(F.col("record_id").alias("_id")).distinct())
        cap = self.XREF_REPAIR_ISIN_MAX
        head = affected.limit(cap + 1).collect()
        delta = None
        if len(head) <= cap:
            ids = sorted(int(r["_id"]) for r in head)
            if ids:
                n = self.n_buckets(record_type)
                batch = (self._raw(record_type)
                         .filter(F.col("pt").isin(sorted({i % n for i in ids}))
                                 & F.col("_id").isin(ids))
                         .drop("pt"))
                delta = self._token_delta(
                    record_type, batch, self.spark.createDataFrame(
                        [(i,) for i in ids], "record_id long"))
        else:
            delta = self._token_delta(
                record_type,
                self.table(record_type).join(affected, "_id", "leftsemi"),
                affected.withColumnRenamed("_id", "record_id"))
        self._publish_against(
            snap, [delta, self._stage_flag(record_type, covered=xrefs)],
            lambda old, new: self._token_gap(record_type, old, new))

    def _search_index_df(self, record_type: str) -> DataFrame | None:
        tokens = self._tokens(record_type)
        if not tokens.exists(self.spark):
            return None
        flag = tokens.meta(self.spark).get(self.STALE_HEADINGS)
        if flag:
            # refresh what the flag names before serving the index; on
            # failure serve the derived view (slower, never wrong)
            try:
                if flag == "full":
                    self.build_search_index(record_type)
                else:
                    self._refresh_tokens_for_xrefs(record_type, flag)
                self._invalidate_query_contexts()
            except Exception as exc:       # pragma: no cover - env-dependent
                warnings.warn(
                    f"search index refresh for {record_type} failed "
                    f"({exc}); serving tokenized view derived from live "
                    f"until it succeeds")
                return None
        return tokens.read(self.spark)

    def _id_buckets(self, cond, record_type: str) -> set[int] | None:
        """pt buckets implied by a point-id condition: {n % N} for an
        IdSearch, their union for an Or made solely of IdSearches, None
        (no pruning) otherwise.  Top-level conditions AND together, so
        each non-None set becomes its own partition filter."""
        n = self.n_buckets(record_type)
        if isinstance(cond, q.IdSearch):
            return {cond.id % n}
        if isinstance(cond, q.Or) and cond.conditions and all(
                isinstance(c, q.IdSearch) for c in cond.conditions):
            return {c.id % n for c in cond.conditions}
        return None

    def max_id(self, record_type: str) -> int:
        """max _id over live ∪ history (reference Marc.max_id,
        dlx/marc/__init__.py:474-483).

        Served from the live manifest's monotonic ``max_id`` hint when
        present — every id-assigning write folds its batch max into
        the hint inside the manifest commit (``_live_extra_merge``
        keeps it from rolling back under raced compactions), so id
        assignment is O(1) metadata instead of a max over live ∪
        history — at 100 TB those are full column scans of the store
        and its (larger) version log, paid per commit batch.  Only a
        store with no live table yet scans (its history may hold
        deletes of ids that never lived)."""
        live = self._live(record_type)
        if live.exists(self.spark):
            hint = live.meta(self.spark).get("max_id")
            if hint is not None:
                return int(hint)
        scanned = self.table(record_type).select(
            F.max("_id").alias("m")).first()["m"] or 0
        hist = self.history_df(record_type).select(
            F.max("record_id").alias("m")).first()["m"] or 0
        return max(scanned, hist)

    def _allocate_ids(self, record_type: str, n: int,
                      floor: int = 0) -> int:
        """CAS-serialized allocation of ``n`` fresh ids: returns
        ``base`` such that ``base+1 .. base+n`` are this caller's,
        disjoint from every other driver's allocation.  The reference
        keeps an atomic Mongo incrementer per collection
        (dlx/db/__init__.py, the ``_incr`` counters init_indexes seeds);
        this is its manifest analog — a zero-segment metadata table
        whose ``next_id`` is bumped inside the backend's commit CAS, so
        two drivers allocating concurrently each observe the other's
        committed bump on retry and receive disjoint ranges.  Before
        r11, both drivers could read the same ``max_id`` hint and stamp
        duplicate _ids onto all-new batches.

        ``floor`` raises the base past ids the caller already knows
        (explicit ids carried in the same frame, the store's max_id
        hint), so allocation never collides with them; the counter is
        monotonic and never reuses ids (deletes included), matching
        the store's never-reuse contract.  One tiny metadata commit
        per id-assigning batch — O(1), no segment I/O.  A concurrent
        EXPLICIT-id commit above the counter remains the caller's
        responsibility, as in the reference (its incrementer has the
        same blind spot)."""
        name = ("bibs" if record_type == "bib" else "auths") + "_idalloc"
        base = 0

        def fn(head_extra: dict | None) -> dict:
            nonlocal base
            nxt = (head_extra or {}).get("next_id")
            if nxt is None:
                # first allocation on this store: seed past everything
                # ever assigned (live ∪ history via the max_id hint)
                nxt = self.max_id(record_type) + 1
            base = max(int(nxt) - 1, int(floor))
            return {"next_id": base + n + 1}

        self.backend.update_extra(self.spark, name, fn)
        return base

    # --- write pipeline -------------------------------------------------------

    def commit(self, records: list[Marc], user: str = "admin", now: datetime | None = None,
               auth_check: bool = True, update_attached: bool = True) -> list[int]:
        if isinstance(records, Marc):
            records = [records]
        if not records:
            return []
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)

        # commit auths before bibs so same-batch xrefs resolve
        auths = [r for r in records if r.record_type == "auth"]
        bibs = [r for r in records if r.record_type == "bib"]
        out: list[int] = []
        if auths and bibs:
            out += self.commit(auths, user=user, now=now, auth_check=auth_check,
                               update_attached=update_attached)
            out += self.commit(bibs, user=user, now=now, auth_check=auth_check,
                               update_attached=update_attached)
            return out

        return self._commit_records(records, records[0].record_type, user,
                                    now, auth_check, update_attached)

    def _commit_records(self, records: list[Marc], record_type: str,
                        user: str, now: datetime, auth_check: bool,
                        update_attached: bool,
                        history: DataFrame | None = None) -> list[int]:
        """``commit`` of one record type; extra ``history`` rows (the
        restore action) ride in the batch's commit."""
        try:
            return self._commit_batch(records, record_type, user, now,
                                      auth_check, update_attached, history)
        except Exception:
            # the memoized auth index is mutated in step with the commit;
            # a failed commit leaves it desynchronized — drop it
            if record_type == "auth":
                self._invalidate_auth_index()
            raise

    def _commit_batch(self, records: list[Marc], record_type: str, user: str,
                      now: datetime, auth_check: bool, update_attached: bool,
                      history: DataFrame | None) -> list[int]:
        idx = self.auth_index()
        if record_type == "auth":
            # heading changes detected against the pre-commit state
            prev_headings = {r.id: self._heading_signature(idx.get(r.id))
                             for r in records if r.id is not None}
            for rec in records:
                if rec.id is not None:
                    idx.remove(rec.id)

        # 1. id assignment — a CAS-serialized range from the allocator
        # (the reference's atomic incrementer analog), so concurrent
        # drivers can never stamp the same fresh id
        n_new = sum(1 for r in records if r.id is None)
        if n_new:
            explicit_max = max((r.id for r in records
                                if r.id is not None), default=0)
            next_id = self._allocate_ids(
                record_type, n_new,
                floor=max(self.max_id(record_type), explicit_max)) + 1
            for rec in records:
                if rec.id is None:
                    rec.id = next_id
                    next_id += 1

        # previous states for audit/history
        ids = [r.id for r in records]
        prev_rows = {row["_id"]: row for row in
                     self.table(record_type).filter(F.col("_id").isin(ids)).collect()}

        for rec in records:
            if record_type == "auth":
                idx.add(rec)

        # 2. validation
        for rec in records:
            rec.validate()
            if auth_check:
                self._auth_validate(rec, idx)

        # 3. audit stamps (created preserved, dlx/marc/__init__.py:867-888)
        for rec in records:
            rec.updated = now
            rec.user = user
            prev = prev_rows.get(rec.id)
            if prev is not None:
                rec.created = prev["created"]
                rec.created_user = prev["created_user"]
            else:
                rec.created = now
                rec.created_user = user

        # 4. derived columns as one DataFrame job over the new rows.
        # to_row() already resolved linked values through the in-process
        # auth index (they ride as caches in the nested rows), so the
        # whole derivation is a map-only projection — zero shuffles.
        # Materialize ONCE to a scratch parquet (distributed) instead of
        # the old collect()/createDataFrame driver round-trip, so bulk
        # batches never funnel record rows through the driver.
        name = self._live_name(record_type)
        new_df = self.spark.createDataFrame([r.to_row() for r in records],
                                            schema=schemas.MARC)
        derived = mdf.derive_text_words(new_df, headings=None)
        derived = mdf.derive_logical_fields(derived, record_type, headings=None)
        prev_id_df = self.spark.createDataFrame(
            [(int(i),) for i in prev_rows], "record_id long")
        changed_ids = []
        if record_type == "auth":
            changed_ids = [r.id for r in records
                           if prev_headings.get(r.id) is not None
                           and prev_headings[r.id] != self._heading_signature(r)]

        # 5. history, live delta, token rows, heading flags: one commit
        staged = self._stage(derived, f"stage_commit_{name}")
        self._publish(record_type, staged, prev_id_df, user, now,
                      all_new=False, small=True, batch_max=max(ids),
                      changed_ids=changed_ids, history=history)

        # 6. heading-change propagation (reference 1154-1232): its
        # commits refresh the attached records and clear the flags the
        # heading commit wrote
        if changed_ids and update_attached:
            self._propagate_heading_changes(changed_ids, user, now)
        return ids

    #: the commit heads' scratch stages (suffixed by live table name)
    _SCRATCH = ("stage_ingest", "stage_ingest_ids", "stage_prevlive",
                "stage_commit")

    def _unstage_commit_scratch(self, name: str) -> None:
        for scratch in self._SCRATCH:
            self._unstage(f"{scratch}_{name}")

    def _publish(self, record_type: str, staged: DataFrame,
                 prev_id_df: DataFrame, user: str, now: datetime, *,
                 all_new: bool, small: bool, batch_max: int,
                 changed_ids: list[int], refreshed=(),
                 history: DataFrame | None = None) -> None:
        """The publish tail both commit heads share: the batch's
        history rows (plus ``history``) and the batch itself land
        through ``_write`` as one group commit.  The heads' scratch
        stages are removed on every exit, success or failure.

        ``staged`` is the head's derived, staged batch; ``prev_id_df``
        (one ``record_id`` column) the ids that existed pre-commit;
        ``batch_max`` the batch's exact max id; ``changed_ids`` the
        pre-existing auth ids whose heading the batch changes;
        ``refreshed`` the auth ids whose attached records the batch
        re-derives (a propagation)."""
        try:
            hist = self._history_frame(record_type, staged, user, now,
                                       prev_id_df=prev_id_df,
                                       all_new=all_new, small=small)
            if history is not None:
                hist = hist.unionByName(history)
            self._write(record_type, rows=staged, hist=hist,
                        batch_max=batch_max, changed_ids=changed_ids,
                        refreshed=refreshed)
        finally:
            self._unstage_commit_scratch(self._live_name(record_type))

    def commit_frame(self, df: DataFrame, record_type: str = "bib",
                     user: str = "admin", now: datetime | None = None,
                     auth_check: bool = True,
                     prev_ids: DataFrame | None = None,
                     _refreshed: list[int] = ()) -> int:
        """Bulk-ingest commit, the frame head of the store's one write
        protocol.  Id assignment, auth validation, audit stamps and
        derived columns (linked values resolved by a headings join) run
        as distributed jobs over a MARC-schema DataFrame — record rows
        never materialize on the driver — and then the publish tail
        the record API's ``commit`` shares (``_publish``: history, the
        live delta, token rows and heading flags in one group commit,
        scratch cleanup) lands the batch.  This is the 100 TB path
        used by ``scripts/marc_import.py`` and the streaming ingest
        sink.  ``commit`` keeps its own driver-side head (validation
        and derive over ``Marc`` objects, no headings join), which at a
        few records runs about half the Spark jobs of this head, and
        only ``commit`` propagates heading changes.

        Input ``_id`` may be NULL (new records get ``max_id + seq``);
        non-null ids upsert.  Ids must be unique within the frame.
        Linked subfield values are resolved via the headings join (the
        distributed analog of the reference's auth cache).  For auth
        frames, validation accepts xrefs to auths carried (with explicit
        ids) in the SAME frame — the intra-file see-also case — though
        their linked VALUES still resolve on the next derive; xrefs to
        rows whose ids are assigned inside this call (NULL ``_id``)
        cannot be referenced intra-frame.  Returns the number of
        records committed.

        ``prev_ids`` (a DataFrame with one ``record_id`` column) fixes
        which ids count as pre-existing for history created-stamps;
        when omitted it is derived from the live table.  A replaying
        caller (the streaming sink) passes the snapshot it took before
        its first attempt so a re-run stamps history identically.
        ``_refreshed`` is propagation's: the changed auth ids whose
        attached records this frame re-derives.
        """
        from pyspark.sql import Window

        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        name = self._live_name(record_type)
        src = self._stage(df, f"stage_ingest_{name}")
        try:
            # ONE single-column aggregate over the staged batch answers
            # every shape probe the pipeline needs (r12): row count,
            # non-null-id count, and the frame's max id.  The previous
            # form fired five separate jobs for the same facts (three
            # limit(1) probes, a max() agg, and a batch-size count) —
            # per COMMIT, which the streaming sink pays per
            # micro-batch; at bulk scale the fused agg reads one column
            # of the staged parquet instead of five passes.
            shape = src.agg(F.count(F.lit(1)).alias("n"),
                            F.count("_id").alias("n_ids"),
                            F.max("_id").alias("mx")).first()
            n_rows, n_with_id = int(shape["n"]), int(shape["n_ids"])
            frame_max = int(shape["mx"] or 0)
            if n_rows == 0:
                self._unstage_commit_scratch(name)
                return 0
            # a frame of only NULL ids is a pure insert: every id is
            # assigned fresh above max_id, so nothing can pre-exist —
            # the created-stamp join, prev-id intersection, and history
            # version-base scan are all provably empty and skipped
            # outright (the dominant 100 TB ingest shape: appending new
            # documents to a big store would otherwise pay three
            # resolved passes over it per batch)
            all_new = prev_ids is None and n_with_id == 0
            # distributed auth validation: every xref must exist in auths —
            # or, for an auth frame, in the frame itself: authority files
            # commonly carry intra-file see-also (5xx) xrefs between
            # records of the same import, which the reference's
            # sequential commit accepts because earlier records land
            # before later ones validate
            if auth_check:
                known = self.auths().select(F.col("_id").alias("xref"))
                if record_type == "auth":
                    known = known.unionByName(
                        src.filter(F.col("_id").isNotNull())
                           .select(F.col("_id").alias("xref")))
                bad = (mdf.explode_subfields(src, record_type)
                       .filter(F.col("xref").isNotNull())
                       .join(known, "xref", "left_anti")
                       .select("tag", "code", "xref").limit(1).collect())
                if bad:
                    raise InvalidAuthXref(record_type, bad[0]["tag"],
                                          bad[0]["code"], bad[0]["xref"])

            # id assignment for NULL-_id rows: max_id + dense sequence via
            # per-partition offsets — the only driver data is one count per
            # partition, never record rows.  (seq base = max over store
            # AND the frame's explicit ids — frame_max from the shape
            # probe — so same-frame upserts can't collide)
            if n_with_id < n_rows:
                tmp = self._stage(
                    src.withColumn("_pid", F.spark_partition_id())
                       .withColumn("_mid", F.monotonically_increasing_id()),
                    f"stage_ingest_ids_{name}")
                counts = (tmp.filter(F.col("_id").isNull())
                          .groupBy("_pid").count().collect())
                offsets, acc = {}, 0
                for row in sorted(counts, key=lambda r: r["_pid"]):
                    offsets[row["_pid"]] = acc
                    acc += row["count"]
                # the whole range is CAS-reserved up front so two
                # drivers ingesting all-new frames concurrently get
                # disjoint id ranges (both merged their batch max into
                # the hint before r11 — and both read the SAME hint)
                base_id = self._allocate_ids(
                    record_type, acc,
                    floor=max(self.max_id(record_type), int(frame_max)))
                omap = F.create_map(
                    *[F.lit(x) for k, v in offsets.items() for x in (k, v)])
                wn = Window.partitionBy("_pid").orderBy("_mid")
                assigned = (tmp.filter(F.col("_id").isNull())
                            .withColumn("_id", (F.lit(base_id) + omap[F.col("_pid")]
                                                + F.row_number().over(wn)).cast("long")))
                src = (tmp.filter(F.col("_id").isNotNull())
                       .unionByName(assigned).drop("_pid", "_mid"))
                # assigned ids are the dense range (base_id, base_id+acc]
                frame_max = max(frame_max, base_id + acc)

            # audit stamps: created preserved from the live row when
            # present.  For broadcast-sized batches the live table is
            # pruned to the batch's ids with a map-side broadcast
            # semi-join FIRST — a direct left join would put the whole
            # store on the shuffle side of a sort-merge (the batch is
            # too small to stream a left outer, the store too big to
            # broadcast), costing an O(store) shuffle per commit batch.
            small = False
            pruned = None
            if all_new:
                stamped = (src.drop("updated", "user", "created",
                                    "created_user")
                           .withColumn("updated", F.lit(now))
                           .withColumn("user", F.lit(user))
                           .withColumn("created", F.lit(now))
                           .withColumn("created_user", F.lit(user))
                           .select(*[f.name for f in schemas.MARC.fields]))
            else:
                small = n_rows <= self.SMALL_BATCH_MAX_ROWS
                live = self.table(record_type).select(
                    "_id", F.col("created").alias("_pc"),
                    F.col("created_user").alias("_pcu"))
                if small:
                    # ONE resolved pass over the store: the batch-sized
                    # (batch ids ∩ live) frame is staged and reused by
                    # BOTH the created-stamp join and the prev-id set
                    # below — computing them independently would stream
                    # the resolved store twice per commit batch
                    pruned = self._stage(
                        live.join(F.broadcast(src.select("_id")),
                                  "_id", "left_semi"),
                        f"stage_prevlive_{name}")
                    stamped = self._with_audit_stamps(
                        src, F.broadcast(pruned), user, now, small=False)
                else:
                    stamped = self._with_audit_stamps(src, live, user,
                                                      now, small=False)

            # derived columns with linked values baked in via headings join
            derived = mdf.derive_text_words(stamped, headings=self.headings(),
                                            hint=self.headings_hint())
            derived = mdf.derive_logical_fields(derived, record_type, headings=None)
            staged = self._stage(derived, f"stage_commit_{name}")

            # prev-id set for history created-stamps, computed as a join
            # (lazily — the history write runs before the upsert
            # overwrites the live table it reads)
            if all_new:
                prev_id_df = self.spark.createDataFrame(
                    [], "record_id long")
            elif prev_ids is None and pruned is not None:
                prev_id_df = pruned.select(F.col("_id").alias("record_id"))
            else:
                prev_source = (prev_ids if prev_ids is not None
                               else self.table(record_type)
                                    .select(F.col("_id").alias("record_id")))
                prev_id_df = self._prev_id_frame(staged, prev_source,
                                                 small=small)
            # commit_frame NEVER propagates heading changes (structural
            # recursion guard), so the commit flags the token indexes an
            # auth frame's heading changes leave stale.  The diff is
            # O(batch): the staged frame joined to the pre-commit live
            # rows on _id, heading signatures compared
            changed_ids: list[int] = []
            if (record_type == "auth"
                    and not all_new        # fresh ids: nothing changed
                    and (self._tokens("bib").exists(self.spark)
                         or self._tokens("auth").exists(self.spark))):
                changed_ids = self._frame_changed_heading_ids(staged)
        except BaseException:
            # the publish tail, which removes the scratch, never ran
            self._unstage_commit_scratch(name)
            raise
        try:
            self._publish(record_type, staged, prev_id_df, user, now,
                          all_new=all_new, small=small, batch_max=frame_max,
                          changed_ids=changed_ids, refreshed=_refreshed)
        finally:
            if record_type == "auth":
                self._invalidate_auth_index()
        return n_rows

    def _frame_changed_heading_ids(self, staged: DataFrame) -> list[int]:
        """The PRE-EXISTING auth ids whose heading (first 1xx field)
        this frame changes, up to ``HEADING_FLAG_MAX_XREFS + 1`` of
        them.  One O(batch) join: staged ids against the pre-commit
        live rows (a merge-on-read snapshot — still readable after the
        upsert), signatures compared as JSON of (tag, code, value)
        triples.  Linked-subfield cached values are baked by the derive
        on both sides, so false positives are limited to
        resolution-order artifacts — and a false positive only costs an
        unneeded refresh, never staleness."""
        hsig = F.to_json(F.expr(
            "named_struct("
            " 'tag', filter(datafields, f -> f.tag like '1%')[0].tag,"
            " 'subs', transform("
            "   filter(datafields, f -> f.tag like '1%')[0].subfields,"
            "   s -> named_struct('code', s.code, 'value', s.value)))"))
        old = self.auths().select("_id", hsig.alias("_h0"))
        new = staged.select("_id", hsig.alias("_h1"))
        rows = (new.join(old, "_id")
                .filter(~F.col("_h0").eqNullSafe(F.col("_h1")))
                .select("_id")
                .limit(self.HEADING_FLAG_MAX_XREFS + 1).collect())
        return [int(r["_id"]) for r in rows]

    @staticmethod
    def _heading_signature(rec: Marc | None):
        if rec is None:
            return None
        hf = rec.heading_field if isinstance(rec, Auth) else None
        if hf is None:
            return None
        return (hf.tag, tuple((s.code, s.value) for s in hf.subfields))

    def _auth_validate(self, rec: Marc, idx: AuthIndex) -> None:
        """Reference auth_validate (dlx/marc/__init__.py:890-904)."""
        for field in rec.fields:
            if not isinstance(field, Datafield):
                continue
            for sub in field.subfields:
                controlled = config.is_authority_controlled(rec.record_type, field.tag, sub.code)
                if controlled:
                    if not isinstance(sub, Linked):
                        raise InvalidAuthField(rec.record_type, field.tag, sub.code)
                    if idx.lookup(sub.xref, sub.code) is None:
                        raise InvalidAuthXref(rec.record_type, field.tag, sub.code, sub.xref)
                elif isinstance(sub, Linked):
                    raise InvalidNonAuthField(rec.record_type, field.tag, sub.code)

    def _with_bucket(self, df: DataFrame, record_type: str) -> DataFrame:
        key = "_id" if "_id" in df.columns else "record_id"
        return df.withColumn(
            "pt", F.pmod(F.col(key),
                         F.lit(self.n_buckets(record_type))).cast("int"))

    def _write(self, record_type: str, *, rows: DataFrame | None = None,
               removed_ids: list[int] = (), hist: DataFrame | None = None,
               batch_max: int, changed_ids=(), refreshed=()) -> None:
        """The one store write (both commit heads, ``delete``,
        ``restore``, ``scripts/rebuild_derived.py``): ONE version of
        the store's table group holding ``hist`` (history rows, and
        their deleted-summary rows when a summary exists), the live
        delta (``rows`` replace their ids' records, ``removed_ids``
        become tombstones — one merge-on-read segment, O(batch) at any
        store size) with its token rows when a token index exists, and
        the token indexes' heading flags (``changed_ids``: auth ids
        whose heading the batch changes, added; ``refreshed``: auth
        ids whose attached records the batch re-derives, cleared).  A
        crash before the commit leaves every table as it was.
        ``batch_max`` folds into the live manifest's monotonic
        ``max_id`` hint (a tombstone-only batch passes 0).  A derived
        table absent at staging is checked absent in the commit, so a
        build racing the write either sees the batch or makes it
        re-stage."""
        hist_stage = summary_rows = None
        if hist is not None:
            hist_stage, summary_rows = self._stage_history(record_type, hist)
        stones = None
        if removed_ids:
            stones = self.spark.createDataFrame(
                [(int(i),) for i in removed_ids], "record_id long")
        for attempt in (0, 1):
            # existence, modulus and metadata are ALL re-derived per
            # attempt: a lost creation race, a raced rebucket or a raced
            # index build changes them, and reusing a stale extra would
            # stamp this writer's geometry over the winner's
            staged = [hist_stage]
            if summary_rows is not None:
                staged.append(self._derived_stage(
                    self._deleted_summary(record_type),
                    lambda: self._summary_delta(record_type, summary_rows)))
            if rows is not None or removed_ids:
                staged.append(self._stage_live(record_type, rows,
                                               removed_ids, batch_max))
                staged.append(self._derived_stage(
                    self._tokens(record_type),
                    lambda: self._token_delta(record_type, rows, stones)))
            if changed_ids:
                # heading changes affect the token indexes through
                # values they denormalize (bibs through 6xx/7xx links,
                # auths through 5xx see-also links): flag both in the
                # auth change's own version
                for rt in ("bib", "auth"):
                    staged.append(self._derived_stage(
                        self._tokens(rt),
                        lambda rt=rt: self._stage_flag(rt, add=changed_ids)))
            if refreshed:
                staged.append(self._stage_flag(record_type,
                                               covered=list(refreshed)))
            try:
                self.backend.publish(self.spark, staged)
                break
            except ConcurrentWriteError:
                if attempt:
                    raise
        if record_type == "auth":
            # the auths table grew/changed: the broadcast-gate estimate
            # must re-derive (record-API commits never rebuild the auth
            # index, so _invalidate_auth_index does not run here)
            self._headings_hint_memo = None
        self._invalidate_query_contexts()

    def _derived_stage(self, table: MergeOnReadTable, stage):
        """``stage()`` if the derived ``table`` exists, else a check
        that it is still absent at the commit."""
        if table.exists(self.spark):
            return stage()
        return self.backend.stage_check(table.table, None)

    def _stage_live(self, record_type: str, rows: DataFrame | None,
                    removed_ids: list[int], batch_max: int):
        """The live delta, checked in the commit against the modulus
        its pt values were derived under (a raced rebucket would
        otherwise publish rows pruned reads silently miss)."""
        live = self._live(record_type)
        exists = live.exists(self.spark)
        nb = self.n_buckets(record_type)
        # appends claim ONLY the hint: re-asserting n_buckets on an
        # existing table would let a commit racing a rebucket roll the
        # new geometry's modulus back in the merge
        extra = ({"max_id": batch_max} if exists
                 else {"n_buckets": nb, "max_id": batch_max})
        stones = (self.spark.createDataFrame(
            [(int(i), int(i) % nb) for i in removed_ids],
            "_id long, pt int") if removed_ids else None)
        return live.stage_upsert(
            rows=(self._with_bucket(rows, record_type)
                  if rows is not None else None),
            tombstone_keys=stones, extra=extra,
            expect_meta={"n_buckets": nb} if exists else None,
            expect_create=not exists)

    def compact(self, record_type: str, minor: bool = False) -> None:
        """Fold each table's delta segments into one — the maintenance
        job any upsert-heavy layout needs (the Delta/Iceberg OPTIMIZE
        analog), also run inline by every table's own appends at the
        backend's ``AUTO_COMPACT_AT`` segments.  One distributed
        rewrite per table; no rows touch the driver.

        ``minor=True`` folds only each merge-on-read table's DELTA
        suffix (``compact_deltas`` — O(accumulated batches), the
        store-sized base never rewritten): the maintenance to schedule
        FREQUENTLY at 100 TB, where the default full fold is a rewrite
        of the world reserved for occasional deep-cleans.  Results are
        identical either way (tombstones survive a minor fold).  The
        append-only history table is skipped in minor mode — the
        backend's inline suffix fold bounds it."""
        if minor:
            self._live(record_type).compact_deltas(self.spark)
            if self._tokens(record_type).exists(self.spark):
                self._tokens(record_type).compact_deltas(self.spark)
            if self._deleted_summary(record_type).exists(self.spark):
                self._deleted_summary(record_type).compact_deltas(self.spark)
            self._invalidate_query_contexts()
            return
        self._live(record_type).compact(self.spark)
        if self._tokens(record_type).exists(self.spark):
            self._tokens(record_type).compact(self.spark)
        hname = self._history_name(record_type)
        if self.backend.exists(self.spark, hname):
            self.backend.compact_segments(self.spark, hname)
        if self._deleted_summary(record_type).exists(self.spark):
            self._deleted_summary(record_type).compact(self.spark)
        self._invalidate_query_contexts()

    def vacuum(self, keep_last: int = 1,
               min_age_seconds: float = 3600.0) -> list[str]:
        """Reclaim superseded segments and manifests across ALL the
        store's tables (live, token indexes, history, deleted summary)
        — the maintenance step that bounds disk growth on an
        upsert-heavy store: every commit appends a delta segment plus a
        manifest version, ``compact`` folds them, and the superseded
        files stay on disk until vacuumed.  Delegates to the versioned
        backend's retention-guarded vacuum (default 1 h horizon — safe
        to run concurrently with writers; pass ``min_age_seconds=0``
        only with writers quiesced).  Also sweeps aged ``stage_*``
        scratch directories orphaned by crashed drivers (scratch names
        are per-store-instance unique, so a dead driver's staging is
        never reclaimed by a live one's ``_unstage``; the same age
        horizon protects in-flight commits).  Returns the reclaimed
        segment ids."""
        import time as _time
        horizon = _time.time() - min_age_seconds
        for p in fsio.glob(self.spark, fsio.join(self.root, "stage_*")):
            try:
                if fsio.newest_mtime(self.spark, p) <= horizon:
                    fsio.rmtree(self.spark, p)
            except Exception:      # pragma: no cover - fs-dependent
                pass               # vanished under us or unstat-able: skip
        return self.backend.vacuum(self.spark, keep_last=keep_last,
                                   min_age_seconds=min_age_seconds)

    def rebucket(self, record_type: str, n_buckets: int) -> None:
        """Change the live table's bucket modulus IN PLACE — one
        backend rewrite, one manifest commit (pt recomputed, new modulus
        committed with the data it describes, so readers can never
        mis-prune); a commit that races it raises ConcurrentWriteError
        and leaves the table as it was.  The knob a growing store owns: 16 buckets at 100 TB
        would be ~6 TB per bucket — too coarse for point-read pruning —
        and the reference's Mongo ``_id`` index has no such choice to
        make, so this is engine-specific surface.  Token tables
        partition by TAG and history keeps its own creation-time
        modulus: neither is touched."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        live = self._live(record_type)
        if not live.exists(self.spark):
            self._default_n_buckets = int(n_buckets)
            return
        live.repartition_table(
            self.spark,
            lambda resolved: resolved.drop("pt").withColumn(
                "pt", F.pmod(F.col("_id"), F.lit(int(n_buckets))).cast("int")),
            extra={"n_buckets": int(n_buckets)})
        self._invalidate_query_contexts()

    def _stage(self, df: DataFrame, name: str) -> DataFrame:
        # scratch paths carry a per-STORE-INSTANCE suffix: two driver
        # processes committing to the same store concurrently would
        # otherwise stage at the SAME path, and one driver's overwrite
        # or _unstage rmtree clobbers the other's staged frame
        # mid-pipeline — observed as a silently lost live row under
        # cross-process contention (the upsert re-reads the staged
        # parquet the other driver just deleted).  Orphans from crashed
        # drivers are swept by vacuum's aged-scratch pass.
        p = self._path(f"{name}.{self._scratch}")
        df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def _unstage(self, name: str) -> None:
        fsio.rmtree(self.spark, self._path(f"{name}.{self._scratch}"))

    #: batches at or under this many rows broadcast their id set into
    #: the store-side joins of the commit pipeline (audit stamps,
    #: prev-id, history version bases), keeping the live/history tables
    #: off every shuffle; larger (bulk-ingest) batches fall back to the
    #: unhinted plan, where shuffling the store against a
    #: comparable-size batch is the correct strategy.  Mirrors
    #: MergeOnReadTable.BROADCAST_MAX_DELTA_ROWS.
    SMALL_BATCH_MAX_ROWS = 4_000_000

    def _with_audit_stamps(self, src: DataFrame, live: DataFrame,
                           user: str, now: datetime, *,
                           small: bool) -> DataFrame:
        """created/updated stamps for a commit batch, preserving the
        live row's created/created_user when the id pre-exists.  With
        ``small``, ``live`` (``_id``, ``_pc``, ``_pcu``) is first
        pruned to the batch's ids by a broadcast LeftSemi (one map-side
        pass over the store, NO store-side shuffle — plan-pinned in
        tests/test_plans.py) and the batch-sized remainder broadcasts
        into the left join; without it, the straight left join lets
        Catalyst plan the bulk shapes."""
        if small:
            batch_ids = src.select("_id")
            live = F.broadcast(live.join(F.broadcast(batch_ids),
                                         "_id", "left_semi"))
        return (src.drop("updated", "user", "created", "created_user")
                .join(live, "_id", "left")
                .withColumn("updated", F.lit(now))
                .withColumn("user", F.lit(user))
                .withColumn("created", F.coalesce("_pc", F.lit(now)))
                .withColumn("created_user", F.coalesce("_pcu", F.lit(user)))
                .drop("_pc", "_pcu")
                .select(*[f.name for f in schemas.MARC.fields]))

    def _prev_id_frame(self, staged: DataFrame, prev_source: DataFrame,
                       *, small: bool) -> DataFrame:
        """Ids of the batch that existed pre-commit (staged ∩ prev).
        With ``small`` the intersection is computed by streaming
        ``prev_source`` (the store's id column) against the BROADCAST
        batch ids — the naive direction (batch LeftSemi store) puts the
        store on the shuffle side of a sort-merge because a semi-join
        can only broadcast its right."""
        ids = staged.select(F.col("_id").alias("record_id"))
        if small:
            return prev_source.join(F.broadcast(ids), "record_id",
                                    "left_semi")
        return ids.join(prev_source, "record_id", "left_semi")

    def _history_frame(self, record_type: str, df: DataFrame,
                       user: str, now: datetime,
                       prev_id_df: DataFrame, *, all_new: bool,
                       small: bool) -> DataFrame:
        """The history rows of a committed frame, ONE distributed job
        when staged: per-id version bases come from a semi-join-filtered
        aggregate of the existing history, new-vs-update from a left
        join against ``prev_id_df`` (ids that existed pre-commit).  No
        record rows touch the driver; for broadcast-sized batches the
        id set is explicitly broadcast so the history log never
        shuffles, and ``all_new`` (freshly-assigned ids — nothing can
        have history) skips the version-base scan entirely."""
        doc = F.struct(*[F.col(f.name) for f in schemas.MARC.fields]).alias("doc")
        if all_new:
            small = False
            base = (df.select(F.col("_id").alias("record_id"), doc)
                    .withColumn("_vbase", F.lit(None).cast("int")))
        else:
            existing = self.history_df(record_type)
            ids_df = df.select(F.col("_id").alias("record_id"))
            if small:
                ids_df = F.broadcast(ids_df)
            vbase = (existing.join(ids_df, "record_id", "left_semi")
                     .groupBy("record_id")
                     .agg(F.max("version").alias("_vbase")))
            base = df.select(F.col("_id").alias("record_id"), doc) \
                     .join(vbase, "record_id", "left")
        prev = prev_id_df.select("record_id", F.lit(True).alias("_prev"))
        if small:
            prev = F.broadcast(prev)
        base = base.join(prev, "record_id", "left")
        is_new = F.col("_prev").isNull()
        actions_t = schemas.HISTORY["actions"].dataType.simpleString()
        hist = base.select(
            "record_id",
            (F.coalesce(F.col("_vbase"), F.lit(0)) + 1).cast("int").alias("version"),
            "doc",
            F.when(is_new, F.lit(user)).alias("created_user"),
            F.when(is_new, F.lit(now)).alias("created_time"),
            F.lit(None).cast("string").alias("deleted_user"),
            F.lit(None).cast("timestamp").alias("deleted_time"),
            F.lit(None).cast("string").alias("restored_user"),
            F.lit(None).cast("timestamp").alias("restored_time"),
            F.expr(f"cast(array() as {actions_t})").alias("actions"),
            F.lit(None).cast("long").alias("merged_into"),
            F.lit(None).cast("timestamp").alias("merged_time"),
        )
        return hist

    #: bucket modulus of NEW history tables (fixed at creation in the
    #: table's own manifest; per-record history reads prune on it —
    #: independent of the live table's rebucketable modulus)
    HISTORY_BUCKETS = 16

    def _stage_history(self, record_type: str, hist: DataFrame):
        """Stage version rows as one history segment, partitioned by
        pt = record_id % HISTORY_BUCKETS so per-record reads prune and
        folded at ``AUTO_COMPACT_AT`` segments (segment 0 kept).
        Returns the staged append and its rows read back (what the
        deleted summary derives from, not a second run of ``hist``)."""
        name = self._history_name(record_type)
        mod = self.HISTORY_BUCKETS
        if self.backend.exists(self.spark, name):
            mod = int((self.backend.latest_manifest(self.spark, name)
                       .get("extra") or {}).get("n_buckets") or mod)
        out = hist.withColumn(
            "pt", F.pmod(F.col("record_id"), F.lit(mod)).cast("int"))
        staged = self.backend.stage_append(
            out, name, partition_cols=["pt"], extra={"n_buckets": mod},
            sort_col="record_id")
        return staged, self.backend.segment_df(
            self.spark, {"segments": [staged.segment],
                         "schema": out.schema.json()}, 0)

    # --- deleted-records summary ----------------------------------------------
    #
    # ``find_deleted``/``deleted_by_date`` need, per record, the LATEST
    # history action — a full-log aggregate that is O(history) per call
    # (at 100 TB the history table dwarfs the live store: every version
    # of every record).  The summary is a tiny merge-on-read table
    # holding ONE row per currently-deleted record (deleted, not since
    # restored or recommitted), maintained O(batch) in the same commit
    # as every history write, so the sweep reads O(deleted set)
    # instead.  Optional, like the search index: built once with
    # ``build_deleted_summary``.

    def _deleted_summary(self, record_type: str) -> MergeOnReadTable:
        name = self._t(f"{record_type}_deleted")
        if name not in self._mor:
            self._mor[name] = MergeOnReadTable(
                self.backend, name, key="record_id", partition_cols=[])
        return self._mor[name]

    @staticmethod
    def _latest_action(h: DataFrame) -> DataFrame:
        """Per-record latest history action (versions are monotonic per
        record, so max over the version-led struct is the newest
        row)."""
        s = F.max(F.struct("version", "deleted_time", "restored_time",
                           "deleted_user")).alias("s")
        return (h.groupBy("record_id").agg(s)
                .select("record_id",
                        F.col("s.version").alias("version"),
                        F.col("s.deleted_time").alias("deleted_time"),
                        F.col("s.restored_time").alias("restored_time"),
                        F.col("s.deleted_user").alias("deleted_user")))

    @staticmethod
    def _currently_deleted(latest: DataFrame) -> DataFrame:
        return (latest.filter(F.col("deleted_time").isNotNull()
                              & F.col("restored_time").isNull())
                .select("record_id", "version", "deleted_time",
                        "deleted_user"))

    def build_deleted_summary(self, record_type: str) -> None:
        """Materialize the deleted-records summary from the full
        history log (one O(history) aggregate — the same job a single
        un-summarized ``find_deleted`` runs), published against the
        history snapshot it derived from; appends that race it are
        folded in as its gap."""
        hname = self._history_name(record_type)
        summary = self._deleted_summary(record_type)
        snap = self._snapshot([hname])
        token = summary.segments(self.spark) \
            if summary.exists(self.spark) else None
        latest = self._latest_action(self.history_df(record_type))

        def gap(old: dict, new: dict) -> list:
            manifest = (self.backend.latest_manifest(self.spark, hname)
                        if new[hname] is not None else {"segments": []})
            parts = [self.backend.segment_df(self.spark, manifest, i)
                     for i, seg in enumerate(manifest["segments"])
                     if seg not in set(old[hname] or ())]
            return [self._summary_delta(record_type, reduce(
                DataFrame.unionByName, parts))] if parts else []

        self._publish_against(
            snap, [summary.stage_overwrite(self._currently_deleted(latest),
                                           token)], gap)

    def _summary_delta(self, record_type: str, new_rows: DataFrame):
        """O(batch) maintenance, staged: every record the new history
        rows touch gets its summary row replaced — upserted when its
        latest action is an unrestored delete, tombstoned otherwise
        (versions are monotonic, so the batch's rows decide each
        touched record)."""
        latest = self._latest_action(new_rows)
        return self._deleted_summary(record_type).stage_upsert(
            rows=self._currently_deleted(latest),
            tombstone_keys=latest.select("record_id"))

    # --- delete / restore / history -------------------------------------------

    def delete(self, record_type: str, rid: int, user: str = "admin",
               now: datetime | None = None) -> None:
        """Guarded delete with history 'deleted' action (reference
        dlx/marc/__init__.py:1236-1310): the history row and the live
        tombstone land in one commit (the reference's two Mongo
        operations, without the window between them)."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        if record_type == "auth":
            if mdf.in_use(self.bibs(), rid).limit(1).count() > 0 \
               or mdf.in_use(self.auths(), rid).limit(1).count() > 0:
                raise AuthInUse()

        row = self.table(record_type).filter(F.col("_id") == rid).collect()
        version_base = (self._history_for(record_type, rid)
                        .agg(F.max("version")).first()[0] or 0)
        action = {"type": "delete", "user": user, "time": now}
        hist_rows = [{
            "record_id": rid,
            "version": version_base + 1 if row else version_base,
            "doc": {f.name: row[0][f.name] for f in schemas.MARC.fields} if row else None,
            "created_user": None, "created_time": None,
            "deleted_user": user, "deleted_time": now,
            "restored_user": None, "restored_time": None,
            "actions": [action],
            "merged_into": None, "merged_time": None,
        }]
        self._write(record_type, removed_ids=[rid], batch_max=0,
                    hist=self.spark.createDataFrame(hist_rows,
                                                    schema=schemas.HISTORY))
        if record_type == "auth":
            # the memoized index tracks commits incrementally (commit
            # mutates it in step with the upsert); deletes drop the whole
            # cache — cheap relative to their frequency
            self._invalidate_auth_index()

    def restore(self, record_type: str, rid: int, user: str = "admin",
                now: datetime | None = None) -> Marc:
        """Restore the last version of a deleted record; fails if a live
        record exists (reference History.restore, 2285-2343)."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        if self.table(record_type).filter(F.col("_id") == rid).limit(1).count():
            raise Exception(f"{record_type} {rid} is not deleted")
        versions = (self._history_for(record_type, rid)
                    .filter(F.col("doc").isNotNull())
                    .orderBy(F.desc("version")).limit(1).collect())
        if not versions:
            raise Exception(f"no history for {record_type} {rid}")
        doc = versions[0]["doc"]
        rec = _RECORD_CLASS[record_type].from_row(doc)
        action = {"type": "restore", "user": user, "time": now}
        hist_rows = [{
            "record_id": rid, "version": versions[0]["version"] + 1, "doc": None,
            "created_user": None, "created_time": None,
            "deleted_user": None, "deleted_time": None,
            "restored_user": user, "restored_time": now,
            "actions": [action], "merged_into": None, "merged_time": None,
        }]
        # the restored version and the restore action: one commit
        self._commit_records(
            [rec], record_type, user, now, auth_check=False,
            update_attached=False,
            history=self.spark.createDataFrame(hist_rows,
                                               schema=schemas.HISTORY))
        return rec

    def revert(self, record_type: str, rid: int, version: int,
               user: str = "admin", now: datetime | None = None) -> Marc:
        """Reset a live record to history version N, 1-based (reference
        Marc.revert, dlx/marc/__init__.py:1349-1366) — the revert itself
        commits and becomes the newest version."""
        versions = self.history(record_type, rid)
        if not 1 <= version <= len(versions):
            raise Exception(f"no version {version} for {record_type} {rid}")
        rec = versions[version - 1]
        rec.id = rid
        self.commit([rec], user=user, now=now, auth_check=False,
                    update_attached=False)
        return rec

    def history(self, record_type: str, rid: int) -> list[Marc]:
        rows = (self._history_for(record_type, rid)
                .filter(F.col("doc").isNotNull())
                .orderBy("version").collect())
        return [_RECORD_CLASS[record_type].from_row(r["doc"]) for r in rows]

    def find_deleted(self, record_type: str,
                     date_from: datetime | None = None,
                     date_to: datetime | None = None) -> DataFrame:
        """Deleted-not-restored record ids by latest action time
        (reference History.find_deleted / deleted_by_date,
        dlx/marc/__init__.py:2345-2384).

        Over a store with a built ``build_deleted_summary``, the sweep
        reads the O(deleted set) summary table instead of aggregating
        the full history log."""
        if self._deleted_summary(record_type).exists(self.spark):
            out = (self._deleted_summary(record_type).read(self.spark)
                   .select("record_id", "deleted_time"))
        else:
            h = self.history_df(record_type)
            latest = (h.groupBy("record_id")
                      .agg(F.max(F.struct("version", "deleted_time",
                                          "restored_time")).alias("s")))
            out = (latest.filter(F.col("s.deleted_time").isNotNull()
                                 & F.col("s.restored_time").isNull())
                   .select("record_id",
                           F.col("s.deleted_time").alias("deleted_time")))
        if date_from is not None:
            out = out.filter(F.col("deleted_time") >= date_from)
        if date_to is not None:
            out = out.filter(F.col("deleted_time") < date_to)
        return out

    def deleted_by_date(self, record_type: str, date_from: datetime,
                        date_to: datetime | None = None):
        """Yield ids of records deleted (and not restored) in the window
        (reference History.deleted_by_date, dlx/marc/__init__.py:2372-2384)."""
        out = self.find_deleted(record_type, date_from=date_from, date_to=date_to)
        for row in out.orderBy("record_id").collect():
            yield row["record_id"]

    # --- auth merge -----------------------------------------------------------

    def merge(self, gaining_id: int, losing_id: int, user: str = "admin",
              now: datetime | None = None) -> None:
        """Rewrite all referencing records losing→gaining, drop duplicate
        fields, delete the losing auth (reference Auth.merge,
        dlx/marc/__init__.py:2143-2233 — one deterministic batch, no
        polling)."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        idx = self.auth_index()
        if idx.get(gaining_id) is None or idx.get(losing_id) is None:
            raise Exception("both auths must exist")

        # losing→gaining rewrite + post-rewrite field dedup as pure array
        # expressions, committed through the distributed commit_frame —
        # an auth attached to 100k bibs rewrites with cluster
        # parallelism, no record rows on the driver.  The rewritten
        # subfield's cached value is NULLed; commit_frame's derive
        # re-resolves it from the gaining auth's heading.
        rewrite = f"""transform(datafields, f -> struct(
            f.tag as tag, f.ind1 as ind1, f.ind2 as ind2,
            transform(f.subfields, s -> IF(s.xref = {losing_id}L,
                named_struct('code', s.code, 'value', CAST(NULL AS STRING),
                             'xref', {gaining_id}L),
                s)) as subfields))"""
        # duplicate-field signature parity with Datafield.signature():
        # tag, indicators, and per-subfield (code, xref-or-value) — the
        # cached value of a LINKED subfield must not distinguish fields
        sig = lambda v: (
            f"struct({v}.tag, {v}.ind1, {v}.ind2, "
            f"transform({v}.subfields, s -> struct(s.code, "
            f"IF(s.xref IS NOT NULL, CAST(NULL AS STRING), s.value), s.xref)))")
        dedup_fields = (f"filter(_dfrw, (f, i) -> NOT exists(slice(_dfrw, 1, i), "
                        f"g -> {sig('g')} <=> {sig('f')}))")

        for rtype in ("bib", "auth"):
            attached = mdf.in_use(self.table(rtype), losing_id)
            if attached.limit(1).count() == 0:
                continue
            rewritten = (attached
                         .withColumn("_dfrw", F.expr(rewrite))
                         .withColumn("datafields", F.expr(dedup_fields))
                         .drop("_dfrw"))
            self.commit_frame(rewritten, record_type=rtype, user=user, now=now,
                              auth_check=False)

        self.delete("auth", losing_id, user=user, now=now)
        log_row = [{"gaining": gaining_id, "losing": losing_id, "user": user, "time": now}]
        (self.spark.createDataFrame(log_row, "gaining long, losing long, user string, time timestamp")
         .write.mode("append").parquet(self._path("merge_log")))

    def update_auth_use_counts(self) -> DataFrame:
        """Compute per-auth bib_use_count (reference calculate_auth_use,
        build_logical_fields.py:218-252) and return the counts joined to
        the auth ids; one light shuffle (partial aggregation)."""
        counts = mdf.auth_use_counts(self.bibs())
        return (self.auths().select(F.col("_id").alias("auth_id"))
                .join(counts, F.col("auth_id") == counts["xref"], "left")
                .select("auth_id", F.coalesce("bib_use_count", F.lit(0)).alias("bib_use_count")))

    # --- heading-change propagation --------------------------------------------

    def _propagate_heading_changes(self, changed_ids: list[int], user: str,
                                   now: datetime) -> None:
        """Recommit every record attached to a changed auth so cached
        linked values, text/words and logical fields refresh.  One
        DISTRIBUTED commit_frame batch per record type (the derive step
        re-resolves linked values from the just-committed headings) —
        attached sets of any size propagate without a driver collect.
        Recursion is structural: commit_frame never propagates."""

        def linked_to(aid: int):
            def field_pred(f):
                return F.exists(f["subfields"], lambda s: s["xref"] == aid)
            return F.exists("datafields", field_pred)

        for rtype in ("bib", "auth"):
            pred = None
            for aid in changed_ids:
                p = linked_to(aid)
                pred = p if pred is None else (pred | p)
            if pred is None:
                continue
            attached = self.table(rtype).filter(pred)
            if rtype == "auth":
                attached = attached.filter(~F.col("_id").isin(changed_ids))
            if attached.limit(1).count() == 0:
                tokens = self._tokens(rtype)
                if tokens.exists(self.spark) and tokens.meta(
                        self.spark).get(self.STALE_HEADINGS):
                    self.backend.publish(self.spark, [self._stage_flag(
                        rtype, covered=changed_ids)])
                continue
            self.commit_frame(attached, record_type=rtype, user=user, now=now,
                              auth_check=False, _refreshed=changed_ids)
