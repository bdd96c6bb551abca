"""Shared helpers for the set-scale operators."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Observation, functions as F


#: parsed-expression memo: SQL text -> Column.  ``F.expr`` pays one py4j
#: round trip plus a JVM parse per call — ~90 ms for the big literal-array
#: expressions (minhash's 64-permutation zip_with) — and the hot operators
#: re-parse identical strings on every query construction.  A Column is an
#: immutable UNRESOLVED expression tree (analysis copies it into each
#: plan), so reuse across frames and sessions in one JVM is safe; the
#: strings cached here are plain function-call expressions whose parse is
#: configuration-independent.  This caches no data and no results — only
#: the parsed form of constant expression text.
_EXPR_CACHE: dict[str, Column] = {}


#: growth bound for ``_EXPR_CACHE``: some call sites embed caller values
#: in the text (e.g. a cosine query-vector literal), so a long-lived
#: process doing many distinct point lookups would otherwise grow the
#: memo without bound.  Past the cap, parse without caching.
_EXPR_CACHE_MAX = 4096


#: the py4j gateway the cached Columns belong to.  A cached Column holds
#: a ``_jc`` reference INTO the gateway JVM, so if the gateway is torn
#: down and relaunched inside one Python process every cached Column is
#: a stale JVM handle (r11 verdict).  Normal lifecycle is one gateway
#: per process, so the guard is a single identity compare per lookup.
#: Every memo holding py4j-backed objects registers itself in
#: ``_PY4J_CACHES`` so one guard clears ALL of them together — a shared
#: token with per-caller clearing would let whichever memo checks first
#: reset the token and leave the others stale.
_CACHE_GATEWAY = None
_PY4J_CACHES: list[dict] = [_EXPR_CACHE]


def register_py4j_cache(cache: dict) -> dict:
    """Register a memo of py4j-backed objects (Columns) for clearing on
    a gateway restart; returns ``cache`` for inline use."""
    _PY4J_CACHES.append(cache)
    return cache


def check_gateway() -> None:
    """Clear every registered py4j-backed memo if the active gateway
    changed since the last call.  Call before serving any such memo;
    memos of plain Python values (ints, strings) don't need it."""
    global _CACHE_GATEWAY
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is not _CACHE_GATEWAY:
        for c in _PY4J_CACHES:
            c.clear()
        _CACHE_GATEWAY = gw


def cached_expr(text: str) -> Column:
    """``F.expr(text)`` parsed once per gateway (see ``_EXPR_CACHE``)."""
    check_gateway()
    col = _EXPR_CACHE.get(text)
    if col is None:
        col = F.expr(text)
        if len(_EXPR_CACHE) < _EXPR_CACHE_MAX:
            _EXPR_CACHE[text] = col
    return col


def epoch_seconds(col: Column | str) -> Column:
    """Seconds-since-epoch as BIGINT for any temporal column.

    Spark 4 forbids a direct ``TIMESTAMP_NTZ -> BIGINT`` cast
    (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION), which is exactly what
    the driver's ``events.ts`` parquet column is.  A TIMESTAMP_NTZ
    input is measured as pure wall-clock seconds from the NTZ epoch
    (``timestampdiff`` on NTZ operands) — NOT routed through
    ``cast("timestamp")``, which would re-interpret the wall time in
    the session timezone and skew gap/tolerance/bucket arithmetic by an
    hour across DST transitions in non-UTC sessions.  TIMESTAMP keeps
    instant semantics; DATE/STRING take the standard session-tz cast.
    The ``typeof`` dispatch is constant-folded per plan, so there is no
    per-row branch.  Every piece of time arithmetic (sessionization
    gaps, as-of tolerance, range-join bucketing) goes through this one
    expression so neither case can regress in a single call site.
    """
    if isinstance(col, str):
        # plain column name: the whole dispatch parses as ONE memoized
        # SQL expression (r11 — the Column form below builds ~8 py4j
        # calls per use and the temporal operators re-build it on every
        # query construction).  Exact SQL form of the Column expression:
        # same typeof dispatch, same NTZ wall-clock diff, same
        # session-tz cast on the other branch.
        return cached_expr(
            f"CASE WHEN typeof(`{col}`) = 'timestamp_ntz' THEN "
            f"timestampdiff(SECOND, "
            f"CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), "
            f"CAST(`{col}` AS TIMESTAMP_NTZ)) "
            f"ELSE CAST(CAST(`{col}` AS TIMESTAMP) AS BIGINT) END")
    c = col
    wall = F.timestamp_diff(
        "SECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"))
    return (F.when(F.typeof(c) == "timestamp_ntz", wall)
            .otherwise(c.cast("timestamp").cast("long")))

def sql_over(df: DataFrame, sql_text: str) -> DataFrame:
    """Build a multi-stage pipeline over ``df`` as ONE ``spark.sql`` call:
    ``{src}`` in ``sql_text`` is bound to a uniquely-named temp view of
    ``df``, and the view is dropped as soon as the returned frame's plan
    is resolved (the frame keeps the analyzed plan; the name is gone).

    Construction-only optimization, identical logical plan: a chain of
    DataFrame ops eagerly re-analyzes the growing plan prefix on every
    intermediate Dataset (~15-25 ms per step through py4j on a deep
    pipeline), while one SQL text is parsed and analyzed in a single
    JVM pass.  Execution is byte-identical — the nested subqueries
    produce the same staged Projects the op chain did.

    The view name is DETERMINISTIC per (thread, input plan): the name
    survives in the resolved plan's ``View`` node, and a random name
    would make two constructions of the same pipeline canonically
    unequal — silently defeating ``.cache()`` reuse of the returned
    frame across constructions.  Per-thread naming also makes the
    create→sql→drop sequence race-free without locking.

    CAVEAT: do NOT route a frame that is itself ``.cache()``d through
    ``sql_over`` — the ``View`` wrapper blocks CacheManager's fragment
    substitution for the INPUT (measured: a cached signature relation
    referenced through a view recomputes instead of hitting its cache).
    Use it only where the input is an uncached scan/projection.
    """
    import threading

    name = (f"_sqlover_{threading.get_ident():x}_"
            f"{df.semanticHash() & 0xFFFFFFFF:08x}")
    df.createOrReplaceTempView(name)
    try:
        return df.sparkSession.sql(sql_text.replace("{src}", name))
    finally:
        df.sparkSession.catalog.dropTempView(name)


# logical-plan nodes that imply an exchange somewhere upstream; frames
# containing them are already as wide as spark.sql.shuffle.partitions,
# and (under AQE) converting them to an RDD would eagerly execute their
# shuffle stages — so spreading is both unnecessary and unsafe there
_WIDE_NODE = re.compile(
    r"(?m)^[\s:+-]*(?:Join|Aggregate|Window|Sort|Distinct|Deduplicate|"
    r"Repartition|RepartitionByExpression|Except|Intersect|GlobalLimit)\b")


#: spread-decision memo: analyzed-plan text -> scan partition count.
#: ``df.rdd.getNumPartitions()`` forces physical planning plus an RDD
#: conversion chain (tens of ms of py4j traffic) on every call; the hot
#: operators re-ask it for the SAME scan-rooted frame each query
#: construction (the memoized readers make the plan text stable — a
#: FRESH ``spark.read`` of the same path mints new expression ids and
#: therefore misses, which is why the memo is size-capped below).  The
#: count is a pure function of the file layout named in the plan, and a
#: stale hit after an overwrite of the same path could only mis-decide
#: whether to spread — a performance choice, never a correctness one.
_NPARTS_CACHE: dict[str, int] = {}


#: growth bound for ``_NPARTS_CACHE``: un-memoized reads miss forever
#: (fresh expression ids per read), so a long-lived process re-reading
#: paths directly would otherwise grow the memo without bound.  Past the
#: cap, compute without caching.
_NPARTS_CACHE_MAX = 4096


def _narrow_scan_partitions(df: DataFrame) -> int | None:
    """Partition count if ``df`` is scan-rooted (projections / filters /
    unions over file sources), else None.

    ``df.rdd`` under AQE calls ``getFinalPhysicalPlan()``, which submits
    and awaits every exchange stage in the plan — double-executing the
    upstream pipeline when the real action later runs.  A pure scan has
    no exchange stages, so for scan-rooted plans the conversion stays
    lazy and the partition count is free to read.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    if _WIDE_NODE.search(plan):
        return None
    nparts = _NPARTS_CACHE.get(plan)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        if len(_NPARTS_CACHE) < _NPARTS_CACHE_MAX:
            _NPARTS_CACHE[plan] = nparts
    return nparts


def spread_for_compute(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Widen partitioning before a CPU-heavy per-row stage.

    Parquet splits by byte ranges, so a file smaller than
    ``spark.sql.files.maxPartitionBytes`` arrives as ONE partition no
    matter how many cores the cluster has — and an expensive projection
    (minhash, simhash, feature extraction) then runs single-threaded.
    Round-robin repartition ONLY when the input is a file scan narrower
    than the session's default parallelism.  At real scale (many
    row-groups / many files) the scan is already wide, and post-shuffle
    frames are already ``spark.sql.shuffle.partitions`` wide — neither
    pays the extra shuffle.
    """
    # streaming frames have no RDD to inspect and re-partition per
    # micro-batch anyway — pass them through untouched (the stateless
    # operators compose with readStream sources)
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * min_factor
    nparts = _narrow_scan_partitions(df)
    if nparts is not None and nparts < target:
        return df.repartition(target)
    return df


# Mega-bucket caps are pure PERFORMANCE devices: a capped run and an
# uncapped run are equivalent for every consumer (connected components
# identical; pair-level output differs only in WHICH verified edges
# represent an over-cap cluster).  The capped plan, however, carries
# ~0.5-1 s of fixed stage overhead (sizing window/aggregate, branch
# union, final dedupe) that dominates at test/bench scale where a mega
# bucket is impossible anyway.  The bypass horizon: when the
# optimizer's size ESTIMATE of the pair-generation input is under this
# many bytes (≈15-20k compressed short documents at parquet scan
# sizes), the capped operators plan the uncapped formulation instead —
# no Spark job is fired for the decision (plan construction stays
# action-free; the number comes from Catalyst statistics), correctness
# is unaffected either way, and the worst case re-admitted below the
# horizon is bounded (~10^8 verified pairs if every row were
# identical).  Inputs with UNKNOWN statistics (e.g. driver-local
# relations report Long.MaxValue) never bypass — unknown size keeps
# the cap, the safe direction.  Callers pin capped behavior for
# property tests with ``auto_bypass_bytes=0``.
CAP_AUTO_BYPASS_BYTES = 2 << 20


#: size-estimate memo: analyzed-plan text -> Catalyst sizeInBytes.
#: ``optimizedPlan().stats()`` runs the full optimizer through py4j
#: (~10-40 ms), and every construction of a capped operator re-asks it
#: for the same frame.  The estimate is a pure function of the plan and
#: the file sizes it names; a stale hit (file overwritten in place, or
#: a cached relation whose stats sharpen after materialization) can
#: only flip a cap/bypass decision — both sides are equivalent by
#: contract (performance, never correctness), and a frozen decision is
#: strictly more plan-stable across reconstructions.  Size-capped like
#: the other construction memos.
_SIZE_CACHE: dict[str, int] = {}
_SIZE_CACHE_MAX = 4096


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df`` (bytes) — file sizes at the
    scan, heuristic propagation above it.  Driver-side metadata only:
    never fires a job.  Memoized per analyzed-plan text (see
    ``_SIZE_CACHE``)."""
    try:
        key = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        key = None
    if key is not None:
        hit = _SIZE_CACHE.get(key)
        if hit is not None:
            return hit
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if key is not None and len(_SIZE_CACHE) < _SIZE_CACHE_MAX:
        _SIZE_CACHE[key] = size
    return size


def bypass_cap(df: DataFrame, cap, auto_bypass_bytes: int | None):
    """The cap actually in force for a pair-generation input: ``None``
    (uncapped plan) when the input's estimate is under the bypass
    horizon, else ``cap`` unchanged.  ``auto_bypass_bytes``: None =
    the default horizon, 0 = never bypass (pins capped behavior for
    tests), any other value = explicit horizon."""
    if cap is None:
        return None
    horizon = CAP_AUTO_BYPASS_BYTES if auto_bypass_bytes is None \
        else auto_bypass_bytes
    if not horizon:
        return cap
    try:
        small = estimated_bytes(df) <= int(horizon)
    except Exception:
        return cap
    return None if small else cap


def observed(df: DataFrame, **metrics: Column):
    """``df`` with the named aggregate ``metrics`` attached, and a reader
    for them: called after the first action on the returned frame (an
    eager checkpoint, say), it gives ``{name: value}`` at no extra job.
    An observed node the optimizer drops over an input it proved empty
    (also at run time, under AQE) reads as None values, as over no rows
    — true only of the frame the action runs on, since AQE also drops a
    node BELOW a join it proves empty: observe the frame you pin.  The
    reader never blocks: it returns None if the action reported
    nothing."""
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])

    def read() -> dict | None:
        done = obs._jo.future().isCompleted
        if not done():
            # the metrics arrive through the listener bus
            df.sparkSession.sparkContext._jsc.sc().listenerBus() \
                .waitUntilEmpty()
            if not done():
                return None
        if obs._jo.getRow().length() == 0:
            return dict.fromkeys(metrics)
        return obs.get
    return out, read
