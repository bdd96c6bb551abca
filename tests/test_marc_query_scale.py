"""Store-level query-DSL scale contract (``MarcStore.search``): the
reference's primary user-facing read path — ``MarcSet.from_query(
Query.from_string(...))``, dlx/marc/query.py:112-346 — executed against
the store's physical layout.  These tests pin the PLAN SHAPES that make
the path survive a 100 TB store, measured at 1M records by
``tools/marc_bench.py --query`` (README table):

- ``id:``/``001:`` point terms prune the scan to ONE pt bucket at the
  partition level (pt = _id % N_BUCKETS) — the plan analog of the
  reference's ``_id`` index; a regression to a full-store scan fails
  here, not in a prose promise;
- logical-field and xref terms compile to one codegen'd predicate pass:
  zero shuffles, zero Python evaluation in the plan;
- results stay consistent with the set-level ``MarcSet.from_query``
  path over the same table.
"""

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dlx_spark import plans
from dlx_spark.marc import Auth, Bib
from dlx_spark.marc.store import MarcStore

T1 = datetime(2026, 2, 1, 12, 0, 0)
T2 = datetime(2026, 2, 2, 12, 0, 0)


@pytest.fixture
def store(spark, tmp_path, auth_docs, bib_docs):
    st = MarcStore(spark, str(tmp_path / "qscale"))
    st.commit([Auth(d) for d in auth_docs], user="seeder")
    idx = st.auth_index()
    st.commit([Bib(d, auth_index=idx) for d in bib_docs], user="seeder")
    return st


def _scan_partition_filters(df) -> str:
    """The PartitionFilters lines of the physical plan's file scans."""
    plan = plans.simple_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines()
                     if "PartitionFilters" in line)


def test_search_id_point_prunes_to_one_bucket(store):
    df = store.search("bib", "id:1")
    pf = _scan_partition_filters(df)
    assert re.search(rf"pt#\d+ = {1 % MarcStore.N_BUCKETS}\)", pf), pf
    rows = df.collect()
    assert [r["_id"] for r in rows] == [1]
    assert "pt" not in df.columns


def test_search_001_prunes_like_id(store):
    df = store.search("bib", "001:2")
    pf = _scan_partition_filters(df)
    assert re.search(rf"pt#\d+ = {2 % MarcStore.N_BUCKETS}\)", pf), pf
    assert [r["_id"] for r in df.collect()] == [2]


def test_search_or_of_ids_prunes_to_bucket_union(store):
    df = store.search("bib", "id:1 OR id:2")
    pf = _scan_partition_filters(df)
    assert re.search(r"pt#\d+ IN \(1,2\)", pf), pf
    assert sorted(r["_id"] for r in df.collect()) == [1, 2]


def test_search_id_and_text_still_prunes(store):
    """A point id ANDed with a non-prunable term keeps the partition
    filter: the text semi-join runs against the already-pruned base."""
    df = store.search("bib", "id:1 AND title:this")
    pf = _scan_partition_filters(df)
    assert re.search(rf"pt#\d+ = {1 % MarcStore.N_BUCKETS}\)", pf), pf
    assert [r["_id"] for r in df.collect()] == [1]


def test_search_logical_field_single_pass_no_python(store):
    df = store.search("bib", "title:this")
    assert plans.shuffle_count(df) == 0
    plan = plans.simple_plan(df)
    assert "EvalPython" not in plan        # Batch- and Arrow-
    assert "CartesianProduct" not in plan
    assert [r["_id"] for r in df.collect()] == [1]


def test_search_xref_single_pass_no_python(store):
    df = store.search("bib", "xref:1")
    assert plans.shuffle_count(df) == 0
    plan = plans.simple_plan(df)
    assert "EvalPython" not in plan
    assert df.count() >= 1


def test_search_consistent_with_set_level_from_query(store):
    """search() and the set-level from_query path agree on the same
    table (the store path only adds layout exploitation, never
    different semantics)."""
    from dlx_spark.marc import parser as mparser
    from dlx_spark.marc import query as q
    got = sorted(r["_id"] for r in
                 store.search("bib", "245__a:this").collect())
    query = q.Query.from_string("245__a:this", record_type="bib",
                                auth_index=store.auth_index())
    ctx = mparser.QueryContext(store.bibs(), "bib",
                               auth_index=store.auth_index(),
                               headings=store.headings())
    want = sorted(r["_id"] for r in
                  mparser.execute_query(query, ctx).collect())
    ctx.close()
    assert got == want and got == [1]


def test_search_empty_store_returns_empty(spark, tmp_path):
    st = MarcStore(spark, str(tmp_path / "empty_qscale"))
    assert st.search("bib", "id:1").count() == 0


@pytest.mark.slow
def test_search_context_reused_and_invalidated_on_mutation(store):
    """The tokenized view is built once per record type and reused
    across searches (the reference's persistent-index analog) — and any
    live-table mutation drops it, so a search never reads stale
    tokens."""
    assert store.search("bib", "245__a:this").count() == 1
    ctx1 = store._query_ctxs.get("bib")
    assert ctx1 is not None
    store.search("bib", "245__a:another").count()
    assert store._query_ctxs.get("bib") is ctx1          # reused
    rec = store.get("bib", 1)
    rec.set("245", "a", "Fresh title", auth_control=False)
    store.commit([rec])
    assert store._query_ctxs.get("bib") is not ctx1      # invalidated
    assert store.search("bib", "245__a:fresh").count() == 1
    assert store.search("bib", "245__a:this").count() == 0


@pytest.mark.slow
def test_persisted_index_identical_results_and_no_udf_in_plan(store):
    """build_search_index materializes the tokenized view (the
    reference's persistent _index_{tag} analog): search results are
    provably identical (shared derivation,
    mdf.subfield_token_rows), and the stemming pandas UDF leaves the
    QUERY plan entirely — the tokens are a parquet scan."""
    before = sorted(r["_id"] for r in
                    store.search("bib", "245__a:this").collect())
    store.build_search_index("bib")
    store._invalidate_query_contexts()
    after = sorted(r["_id"] for r in
                   store.search("bib", "245__a:this").collect())
    assert before == after == [1]
    plan = plans.simple_plan(store.search("bib", "245__a:this"))
    assert "EvalPython" not in plan
    assert "bibs_tokens" in plan          # the persisted index IS the source


@pytest.mark.slow
def test_persisted_index_refreshes_incrementally(store):
    """Commits and deletes re-derive only the touched buckets; the
    index never serves stale tokens."""
    store.build_search_index("bib")
    rec = store.get("bib", 1)
    rec.set("245", "a", "Zebra unique", auth_control=False)
    store.commit([rec], user="editor", now=T1)
    assert [r["_id"] for r in
            store.search("bib", "245__a:zebra").collect()] == [1]
    assert store.search("bib", "245__a:this").count() == 0   # old tokens gone
    store.delete("bib", 1, user="editor", now=T2)
    assert store.search("bib", "245__a:zebra").count() == 0  # delete removes


@pytest.mark.slow
def test_persisted_index_heading_change_propagates(store):
    """An auth heading edit refreshes the attached records' token rows
    through the same propagation batch (index maintenance piggybacks on
    the recommit)."""
    store.build_search_index("bib")
    a1 = store.get("auth", 1)
    a1.set("150", "a", "Quixotic heading", auth_control=False)
    store.commit([a1], user="editor", now=T1)
    assert store.search("bib", "650__a:quixotic").count() == 2


@pytest.mark.slow
def test_persisted_index_crash_recovery_reconverges(spark, store):
    """A crash at the commit point — the store's one group publish, with
    the live and token segments already staged — leaves the live table
    and the persisted index exactly as they were: the same in-process
    store and a fresh open both serve the pre-crash record from the
    index, and re-running the commit lands it in both."""
    from dlx_spark import fsio

    store.build_search_index("bib")
    real = fsio.put_if_absent

    def boom(spark_, tmp, dest):
        if "/tables/marc/" in dest:
            raise RuntimeError("simulated crash")
        return real(spark_, tmp, dest)
    rec = store.get("bib", 2)
    rec.set("245", "a", "Crashed edit", auth_control=False)
    fsio.put_if_absent = boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.commit([rec], user="editor", now=T1)
    finally:
        fsio.put_if_absent = real
    assert store.get("bib", 2).get_value("245", "a") != "Crashed edit"
    assert store.search("bib", "245__a:crashed").count() == 0
    assert [r["_id"] for r in
            store.search("bib", "245__a:another").collect()] == [2]
    reopened = MarcStore(spark, store.root)       # and reopen agrees
    assert reopened.search("bib", "245__a:crashed").count() == 0
    reopened.commit([rec], user="editor", now=T1)
    assert [r["_id"] for r in
            reopened.search("bib", "245__a:crashed").collect()] == [2]
    assert reopened.search("bib", "245__a:another").count() == 0


@pytest.mark.slow
def test_nonpropagating_auth_writes_mark_bib_index_dirty(spark, store):
    """An auth write that changes a heading WITHOUT propagation
    (commit_frame for auths; commit(update_attached=False)) must not
    leave the persisted bib token index serving the OLD denormalized
    heading values while the derived view overlays current ones: the
    write flags the changed headings in the bib index's manifest and
    the next bib search refreshes the records linking to them."""
    store.build_search_index("bib")
    assert store.search("bib", "650__a:header").count() == 2

    # bulk path: commit_frame never propagates
    a1 = store.auths().filter(F.col("_id") == 1)
    edited = a1.withColumn("datafields", F.expr("""
        transform(datafields, f -> IF(f.tag = '150',
            named_struct('tag', f.tag, 'ind1', f.ind1, 'ind2', f.ind2,
                'subfields', transform(f.subfields, s ->
                    named_struct('code', s.code, 'value', 'Bulk renamed',
                                 'xref', s.xref))),
            f))"""))
    store.commit_frame(edited, record_type="auth", user="bulk",
                       auth_check=False)
    # the persisted index must answer with the CURRENT heading overlay
    assert store.search("bib", "650__a:bulk").count() == 2
    assert store.search("bib", "650__a:header").count() == 0

    # record API with update_attached=False
    a1 = store.get("auth", 1)
    a1.set("150", "a", "Quiet rename", auth_control=False)
    store.commit([a1], user="editor", now=T2, update_attached=False)
    assert store.search("bib", "650__a:quiet").count() == 2
    assert store.search("bib", "650__a:bulk").count() == 0


@pytest.mark.slow
def test_unchanged_auth_bulk_write_skips_bib_rebuild(spark, store):
    """The cross-type heading flag is written only when a heading
    actually changed — re-ingesting identical auths must not force a
    bib index refresh."""
    store.build_search_index("bib")
    same = store.auths().filter(F.col("_id") == 1)
    store.commit_frame(same, record_type="auth", user="bulk",
                       auth_check=False)
    assert MarcStore.STALE_HEADINGS not in store._tokens("bib").meta(
        store.spark)


@pytest.mark.slow
def test_search_auth_record_type_with_and_without_index(store):
    """search() serves auths the same way it serves bibs — including
    the persisted-index path (the machinery is record-type-generic)."""
    assert [r["_id"] for r in
            store.search("auth", "150__a:header").collect()] == [1]
    assert store.search("auth", "id:2").count() == 1
    store.build_search_index("auth")
    store._invalidate_query_contexts()
    assert [r["_id"] for r in
            store.search("auth", "150__a:header").collect()] == [1]
    plan = plans.simple_plan(store.search("auth", "150__a:header"))
    assert "auths_tokens" in plan and "EvalPython" not in plan


def test_search_sort_skip_limit_cursor_modifiers(store):
    """The find()-cursor modifiers of the reference's from_query path,
    applied after the query (sort before skip/limit)."""
    both = store.search("bib", "650__a:'Header'", sort=[F.col("_id").desc()])
    assert [r["_id"] for r in both.collect()] == [2, 1]
    assert [r["_id"] for r in store.search(
        "bib", "650__a:'Header'", sort=["_id"], skip=1).collect()] == [2]
    assert [r["_id"] for r in store.search(
        "bib", "650__a:'Header'", sort=["_id"], limit=1).collect()] == [1]


def test_search_mixed_or_group_unions_id_and_text(store):
    """An Or mixing a point id with a fielded text term cannot prune
    (correct: _id_buckets only prunes pure-id groups) and unions the id
    sets through execute_query's Or path."""
    df = store.search("bib", "id:1 OR 245__a:another")
    assert not re.search(r"pt#\d+ (=|IN)",
                         _scan_partition_filters(df))  # no pruning, by design
    assert sorted(r["_id"] for r in df.collect()) == [1, 2]


def test_fielded_text_semijoin_broadcasts_at_runtime(store):
    """The matched-id side of a fielded-text semi-join is selective in
    the common case; the EXECUTED (AQE-final) plan must resolve it as a
    broadcast LeftSemi, never a sort-merge of the base (measured at 1M
    by marc_bench --query, which records the same verdict as
    fielded_semi_join_broadcast_post_aqe)."""
    store.build_search_index("bib")
    store._invalidate_query_contexts()
    executed = plans.final_plan(store.search("bib", "245__a:this"))
    assert "BroadcastHashJoin" in executed and "LeftSemi" in executed, executed
    assert "SortMergeJoin" not in executed, executed


@pytest.mark.slow
def test_bare_text_stays_on_words_column_even_when_indexed(store):
    """A bare free-text term deliberately stays a ``words``-column
    predicate even over an INDEXED store: the predicate reads exactly
    one pruned column inside codegen, while an index formulation's
    result join must scan the base anyway (measured 0.21 s vs 1.19 s
    warm at 1M, marc_bench --query — rationale in parser.py).  Pinned:
    no join and no token-table scan in the plan, results identical
    before/after the index exists, negation + multi-subfield AND +
    phrase semantics intact."""
    without = sorted(r["_id"] for r in store.search("bib", "this").collect())
    store.build_search_index("bib")
    store._invalidate_query_contexts()
    with_idx = sorted(r["_id"] for r in store.search("bib", "this").collect())
    assert without == with_idx == [1]
    plan = plans.simple_plan(store.search("bib", "this"))
    assert "bibs_tokens" not in plan    # words predicate, not index joins
    assert "EvalPython" not in plan
    assert sorted(r["_id"] for r in
                  store.search("bib", "header -this").collect()) == [2]
    # multi-word AND semantics (words from DIFFERENT subfields)
    assert [r["_id"] for r in store.search("bib", "this title").collect()] == [1]
    assert store.search("bib", "this zebraless").count() == 0
    # phrase terms on the padded-text column
    assert [r["_id"] for r in
            store.search("bib", '"this is"').collect()] == [1]


@pytest.mark.slow
def test_xref_search_uses_persisted_index_when_present(store):
    """xref containment over an indexed store becomes an index lookup
    (semi-join on the token table's xref column) with identical results
    to the nested-array scan — including the NOT modifier and the
    controlled-tag restriction."""
    without = sorted(r["_id"] for r in store.search("bib", "xref:1").collect())
    store.build_search_index("bib")
    store._invalidate_query_contexts()
    with_idx = sorted(r["_id"] for r in
                      store.search("bib", "xref:1").collect())
    assert without == with_idx == [1, 2]
    plan = plans.simple_plan(store.search("bib", "xref:1"))
    assert "bibs_tokens" in plan        # index lookup, not a nested scan
    # NOT modifier through the index path
    neg = sorted(r["_id"] for r in store.search(
        "bib", "245:* AND NOT xref:1").collect())
    assert neg == []
    # an xref nobody links
    assert store.search("bib", "xref:999").count() == 0
