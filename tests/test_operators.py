"""LLM-pipeline operator tests: planted duplicates/neighbors with known
expected results."""

import pytest
from pyspark.sql import functions as F

from dlx_spark.operators import dedup, multimodal, similarity, textstats
from dlx_spark.operators.dedup_index import EmbeddingIndex


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight")
    near = base.replace("tonight", "today")          # 1-word edit
    other = "completely different content about spark query engines and shuffles"
    rows = [
        (1, base, "en", "s1", len(base)),
        (2, base, "en", "s2", len(base)),            # exact dup of 1
        (3, near, "en", "s3", len(near)),            # near dup of 1
        (4, other, "en", "s4", len(other)),
        (5, "short text", "en", "s5", 10),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1
    assert groups[0]["dup_ids"] == [1, 2]

    kept = dedup.dedup_exact(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]


def test_minhash_near_duplicates(spark, docs):
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # identical docs
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5   # near dup
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_simhash_near_duplicates(spark, docs):
    # doc 3's one-word edit lands at hamming 4 — beyond what the 4-band
    # pigeonhole guarantees, so the operator now REFUSES max_hamming=6
    # (it used to silently return partial recall there) and doc 6's
    # closer edit (hamming 3) is the in-contract near-dup case
    base = docs.filter(F.col("doc_id") == 1).first()["text"]
    extra = spark.createDataFrame(
        [(6, base.replace("tonight", "nightly"), "en", "s6", len(base))],
        docs.schema)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_near_duplicates(
                 docs.unionByName(extra), max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 6) in pairs and pairs[(1, 6)] <= 3
    assert (1, 3) not in pairs                  # hamming 4: out of contract
    assert not any({a, b} == {1, 4} for a, b in pairs)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_duplicates(docs, max_hamming=6)


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.8


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05, 0.0], 1),  # close to 2
        (4, [-1.0, 0.0, 0.0, 0.0], 2),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk(spark, vectors):
    out = similarity.cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r.id for r in out] == [0, 1, 2]
    assert out[0].cosine == pytest.approx(1.0)
    assert out[1].cosine == pytest.approx(0.9 / (0.81 + 0.01) ** 0.5, rel=1e-6)


def test_lsh_topk_contains_exact_best(spark, vectors):
    out = similarity.lsh_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=2,
                              n_planes=4, multiprobe_hamming=2)
    ids = [r.id for r in out.collect()]
    assert ids[0] == 0


@pytest.mark.parametrize("call", [
    lambda df: similarity.banded_lsh_keys(df, 2, 4, 42),
    lambda df: similarity.lsh_buckets(df),
    lambda df: similarity.cosine_near_duplicates(df),
    lambda df: similarity.knn_join(df, df),
    lambda df: EmbeddingIndex.create(df, "t_dim_emb"),
], ids=["banded_lsh_keys", "lsh_buckets", "cosine_near_duplicates",
        "knn_join", "EmbeddingIndex.create"])
@pytest.mark.parametrize("rows", [[], [(1, None), (2, [1.0, 0.0])]],
                         ids=["empty", "null_first"])
def test_dim_inference_raises_value_error(spark, call, rows):
    """Without ``dim``, a frame whose first vector cannot be read is a
    clear ValueError asking for ``dim`` at every inferring site."""
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="pass dim"):
        call(df)


def test_ivf_topk(spark, vectors):
    # nprobe == n_centroids probes every inverted list → exact result
    cents = similarity.ivf_centroids(vectors, n_centroids=2, seed=7)
    assert cents.shape == (2, 4)
    exact = [r.id for r in similarity.cosine_topk(
        vectors, [1.0, 0.0, 0.0, 0.0], k=3).collect()]
    full = [r.id for r in similarity.ivf_topk(
        vectors, [1.0, 0.0, 0.0, 0.0], k=3, n_centroids=2, nprobe=2,
        seed=7, centroids=cents).collect()]
    assert full == exact
    # nprobe=1 prunes to the query's own list but still finds the best hit
    pruned = similarity.ivf_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=2,
                                 n_centroids=2, nprobe=1, seed=7,
                                 centroids=cents).collect()
    assert pruned[0].id == 0


def test_ivf_assign_partitions_all_rows(spark, vectors):
    cents = similarity.ivf_centroids(vectors, n_centroids=2, seed=7)
    assigned = similarity.ivf_assign(vectors, cents).collect()
    assert len(assigned) == 5
    assert {r.list_id for r in assigned} <= {0, 1}


def test_knn_join(spark, vectors):
    out = similarity.knn_join(vectors, vectors, k=2, n_planes=2).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r.corpus_id)
    # vector 1's nearest same-bucket neighbor must include 0
    assert 0 in by_probe.get(1, [])


@pytest.fixture(scope="module")
def timeline(spark):
    rows = [
        # (event_id, user, ts, kind, value)
        (1, 1, "2024-01-01 00:00:00", "view", 10.0),
        (2, 1, "2024-01-01 00:05:00", "view", 20.0),
        (3, 1, "2024-01-01 00:07:00", "click", 0.0),
        (4, 1, "2024-01-01 00:05:00", "click", 0.0),   # tie with view 2
        (5, 2, "2024-01-01 00:30:00", "click", 0.0),   # no prior view
        (6, 2, "2024-01-01 01:00:00", "view", 30.0),
        (7, 2, "2024-01-01 01:30:00", "click", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, kind string, value double")
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_asof_join(spark, timeline):
    from dlx_spark.operators.asof import asof_join
    clicks = timeline.filter("kind = 'click'").select("event_id", "user_id", "ts")
    views = timeline.filter("kind = 'view'").select("user_id", "ts", "value")
    out = {r.event_id: (r.ts_matched, r.value)
           for r in asof_join(clicks, views).collect()}
    assert out[3][1] == 20.0          # latest view at 00:05
    assert out[4][1] == 20.0          # equal timestamps match (inclusive)
    assert out[5] == (None, None)     # left join: no prior view
    assert out[7][1] == 30.0


def test_asof_join_null_keys_never_match(spark, timeline):
    from dlx_spark.operators.asof import asof_join
    clicks = timeline.filter("kind = 'click'").select(
        "event_id", F.lit(None).cast("long").alias("user_id"), "ts")
    views = timeline.filter("kind = 'view'").select(
        "user_id", "ts", "value").union(
        timeline.filter("kind = 'view'").select(
            F.lit(None).cast("long").alias("user_id"), "ts", "value"))
    out = asof_join(clicks, views).collect()
    # null-key probes survive (left join) but match nothing, even
    # against null-key right rows — SQL equality semantics
    assert len(out) == clicks.count()
    assert all(r.value is None for r in out)


def test_asof_join_null_timestamp_right_rows_never_match(spark, timeline):
    from dlx_spark.operators.asof import asof_join
    clicks = timeline.filter("kind = 'click'").select("event_id", "user_id", "ts")
    # every view's timestamp nulled out: right.ts <= left.ts is NULL for
    # all pairs, so no probe may match (SQL comparison semantics)
    views = timeline.filter("kind = 'view'").select(
        "user_id", F.lit(None).cast("timestamp").alias("ts"), "value")
    out = asof_join(clicks, views).collect()
    assert len(out) == clicks.count()
    assert all(r.value is None for r in out)


def test_funnel_counts(spark):
    from dlx_spark.operators.asof import funnel_counts
    rows = [
        # user 1 completes view -> click -> buy in order
        (1, "2024-01-01 00:00:00", "view"), (1, "2024-01-01 00:01:00", "click"),
        (1, "2024-01-01 00:02:00", "buy"),
        # user 2 clicks BEFORE viewing: click must not count
        (2, "2024-01-01 00:01:00", "click"), (2, "2024-01-01 00:02:00", "view"),
        # user 3 views only
        (3, "2024-01-01 00:00:00", "view"),
        # user 4 never views: drops at step 1
        (4, "2024-01-01 00:00:00", "click"), (4, "2024-01-01 00:01:00", "buy"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, event_type string") \
              .withColumn("ts", F.to_timestamp("ts"))
    out = {r.step: (r.step_name, r.n_users)
           for r in funnel_counts(ev, ["view", "click", "buy"]).collect()}
    assert out[1] == ("view", 3)          # users 1, 2, 3
    assert out[2] == ("click", 1)         # only user 1 clicked after viewing
    assert out[3] == ("buy", 1)


def test_asof_join_tolerance(spark, timeline):
    from dlx_spark.operators.asof import asof_join
    clicks = timeline.filter("kind = 'click'").select("event_id", "user_id", "ts")
    views = timeline.filter("kind = 'view'").select("user_id", "ts", "value")
    out = {r.event_id: r.value
           for r in asof_join(clicks, views, tolerance_seconds=60).collect()}
    assert out[3] is None             # 00:05 view is 120s before the 00:07 click
    assert out[4] == 20.0             # 0s gap within tolerance


def test_range_join(spark, timeline):
    from dlx_spark.operators.asof import range_join
    ranges = spark.createDataFrame(
        [(100, "2024-01-01 00:00:00", "2024-01-01 00:06:00"),
         (200, "2024-01-01 00:06:00", "2024-01-01 02:00:00")],
        "range_id long, lo string, hi string") \
        .withColumn("lo", F.to_timestamp("lo")).withColumn("hi", F.to_timestamp("hi"))
    out = {r.event_id: r.range_id
           for r in range_join(timeline, ranges, bucket_seconds=300).collect()}
    assert out[1] == 100 and out[2] == 100       # [lo, hi) half-open
    assert out[3] == 200 and out[7] == 200

    # left join keeps points outside every range, null-extended
    far = timeline.withColumn("ts", F.col("ts") + F.expr("INTERVAL 100 DAYS"))
    left = range_join(far, ranges, bucket_seconds=300, how="left").collect()
    assert len(left) == far.count()
    assert all(r.range_id is None for r in left)


def test_token_count(spark, docs):
    rows = {r.id: (r.n_tokens, r.n_chars) for r in textstats.token_count(docs).collect()}
    assert rows[5] == (2, 10)
    assert rows[1][0] == len(docs.filter("doc_id=1").first()["text"].split())


def test_repetition_ratio(spark, docs):
    rows = {r.id: r.rep_ratio for r in textstats.repetition_ratio(docs).collect()}
    base = docs.filter("doc_id=1").first()["text"].split()
    expected = round(1 - len(set(base)) / len(base), 4)
    assert rows[1] == pytest.approx(expected)
    assert rows[5] == 0.0                          # 'short text': no repeats


def test_idf_table(spark, docs):
    out = {r.token: (r.df, r.idf) for r in textstats.idf_table(docs).collect()}
    # 'the' appears in docs 1, 2, 3 (not 4, 5) → df=3, idf=ln(5/3)
    assert out["the"][0] == 3
    assert out["the"][1] == pytest.approx(round(__import__("math").log(5 / 3), 4))
    assert out["spark"][0] == 1


def test_tfidf_topk(spark, docs):
    out = textstats.tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # doc 4's distinctive terms score above corpus-common words: 'and'
    # appears in doc 4 but also in most other docs (low idf), so it must
    # lose the top-k slots to doc-4-specific vocabulary
    top4 = [r.token for r in sorted(by_doc[4], key=lambda r: r.rk)]
    assert "and" not in top4
    # ranks ordered by descending score
    for rows in by_doc.values():
        rows = sorted(rows, key=lambda r: r.rk)
        assert all(rows[i].tfidf >= rows[i + 1].tfidf for i in range(len(rows) - 1))


def test_redact_pii_idempotent(spark):
    """A second redaction pass finds nothing and changes nothing —
    placeholders contain no digits/@, and no pattern can span one."""
    import random
    from dlx_spark.operators.redact import redact_pii
    rng = random.Random(7)
    frags = ["a@b.co", "123-45-6789", "10.0.0.1", "+1 (555) 123-4567",
             "word", "42", ".", "-", "x y", "", "a.b@c.d.ee"]
    rows = [(i, " ".join(rng.choice(frags) for _ in range(rng.randint(0, 12))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = redact_pii(df).select(F.col("id").alias("doc_id"),
                                 F.col("clean_text").alias("text"))
    twice = redact_pii(once)
    assert twice.filter("n_email + n_ssn + n_ip + n_phone > 0").count() == 0
    a = {r.id: r.clean_text for r in redact_pii(df).collect()}
    b = {r.id: r.clean_text for r in twice.collect()}
    assert a == b


@pytest.mark.slow
def test_null_text_never_crashes_operators(spark):
    """Every text operator must map NULL text to NULL/empty, not crash
    (probed with a (id, NULL) row per the library's UDF contract)."""
    from dlx_spark.operators.redact import redact_pii
    df = spark.createDataFrame([(1, None), (2, "some real text here")],
                               "doc_id long, text string")
    assert textstats.token_count(df).count() == 2
    assert textstats.quality_score(df).count() == 2
    assert textstats.language_id(df).count() == 2
    assert textstats.repetition_ratio(df).count() == 2
    assert textstats.fingerprint(df).count() == 2
    assert textstats.normalize_unicode(df).count() == 2
    assert redact_pii(df).count() == 2
    assert dedup.minhash_signatures(df).count() == 2
    assert dedup.simhash_fingerprints(df).count() == 2
    # idf/tfidf drop nothing silently either
    assert textstats.idf_table(df).count() >= 1
    assert textstats.tfidf_topk(df).count() >= 1


def test_normalize_unicode(spark):
    decomposed = "cafe\u0301"            # e + combining acute
    df = spark.createDataFrame([(1, decomposed), (2, "plain"), (3, None)],
                               "doc_id long, text string")
    out = {r.id: r.norm_text for r in
           textstats.normalize_unicode(df).collect()}
    assert out[1] == "caf\u00e9"            # composed e-acute
    assert len(out[1]) == len(decomposed) - 1
    assert out[2] == "plain"
    assert out[3] is None


def test_mix_corpora(spark, docs):
    from dlx_spark.operators import sampling
    en = docs.filter("lang = 'en'")
    mixed = sampling.mix_corpora([(en, 1.0), (en, 0.0)])
    # keep-all + keep-none over the same source = the source, once
    assert sorted(r.doc_id for r in mixed.collect()) == [1, 2, 3, 4, 5]
    # keep-all passes NULL-keyed rows through (no hash filter)
    with_null = en.union(spark.createDataFrame(
        [(None, "t", "en", "s", 1)], en.schema))
    assert sampling.mix_corpora([(with_null, 1.0)]).count() == 6
    # reproducible under repartitioning
    a = sorted(r.doc_id for r in sampling.mix_corpora([(en, 0.5)]).collect())
    b = sorted(r.doc_id for r in
               sampling.mix_corpora([(en.repartition(7), 0.5)]).collect())
    assert a == b
    with pytest.raises(ValueError):
        sampling.mix_corpora([])


def test_leakage_safe_split(spark):
    from dlx_spark.operators import sampling
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 41)], "doc_id long, text string")
    # clusters: {1..4}, {10,11}; the rest unpaired
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    out = sampling.leakage_safe_split(corpus, pairs, holdout=0.5).collect()
    side = {r.doc_id: r.is_holdout for r in out}
    assert len(side) == 40
    # every cluster lands wholly on one side — no near-dup leakage
    assert len({side[i] for i in (1, 2, 3, 4)}) == 1
    assert side[10] == side[11]
    # both sides non-empty at 50%
    assert 0 < sum(side.values()) < 40


def test_quantile_band(spark):
    from dlx_spark.operators import sampling
    df = spark.createDataFrame([(i, i * 10) for i in range(11)],
                               "doc_id long, metric long")
    kept = sorted(r.doc_id for r in
                  sampling.quantile_band(df, "metric", 0.2, 0.8).collect())
    # percent_rank of row i is i/10 → keep 2..8 inclusive
    assert kept == [2, 3, 4, 5, 6, 7, 8]
    # stratified: each group ranked independently
    df2 = spark.createDataFrame(
        [(i, g, v) for g in ("a", "b") for i, v in enumerate(range(5))],
        "doc_id long, grp string, metric long")
    kept2 = sampling.quantile_band(df2, "metric", 0.0, 0.5, by="grp").collect()
    assert len(kept2) == 6                      # 3 of 5 per group (pr 0,.25,.5)


def test_cross_corpus_overlap(spark):
    from dlx_spark.operators.dedup import cross_corpus_overlap
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),
         (2, "totally unrelated words in this document here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "x alpha beta gamma delta epsilon y")],
        "doc_id long, text string")
    out = cross_corpus_overlap(corpus, bench, n=5, min_shared=1).collect()
    # doc 1 shares exactly one distinct 5-gram with the benchmark doc
    assert [(r.corpus_id, r.bench_id, r.n_shared) for r in out] == [(1, 100, 1)]
    assert cross_corpus_overlap(corpus, bench, n=5, min_shared=2).count() == 0


def test_connected_components(spark):
    from dlx_spark.operators.dedup import connected_components, dedup_clusters
    # chain 1-2-3-4 (transitive closure must merge it), isolated pair 10-11
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    surv = {r.id: r.is_survivor for r in dedup_clusters(pairs).collect()}
    assert surv == {1: True, 2: False, 3: False, 4: False, 10: True, 11: False}


def test_connected_components_chain_converges_log_rounds(spark):
    """Round-9 guard: a 64-node chain (the adversarial long-diameter
    graph capped mega-buckets legitimately produce) must converge in
    O(log diameter) rounds via pointer jumping — and rounds-to-converge
    telemetry is exposed so probes can watch for a diameter
    regression."""
    from dlx_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 64)],
                                  "id_a long, id_b long")
    stats: dict = {}
    out = connected_components(pairs, stats=stats)
    comps = {r.component for r in out.collect()}
    assert comps == {1}
    assert stats["converged"] is True
    # diameter 63; pointer jumping needs ~log2(63)+slack, never O(n)
    assert stats["rounds"] <= 10, stats


def test_connected_components_round_runs_one_action(spark, count_jobs):
    """Each propagation round's eager checkpoint also observes how many
    labels moved, so a round runs one action, not a checkpoint plus a
    count.  A 3-round chain ran 35 jobs with the per-round count (8
    shuffle partitions, as this session sets)."""
    from dlx_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    stats: dict = {}
    n, out = count_jobs(lambda: connected_components(pairs, stats=stats))
    assert stats == {"rounds": 3, "converged": True}
    assert n < 35, n
    assert {(r.id, r.component) for r in out.collect()} == \
        {(1, 1), (2, 1), (3, 1)}


def test_connected_components_empty_pairs_return_at_once(spark, count_jobs):
    """An empty edge set is seen by the edge pin itself: an empty label
    frame comes back with no propagation round."""
    from dlx_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    stats: dict = {}
    n, out = count_jobs(lambda: connected_components(pairs, stats=stats))
    assert stats == {"rounds": 0, "converged": True}
    assert n <= 1, n
    assert out.collect() == []


def test_connected_components_nonconvergence_raises_loudly(spark):
    """Partial labels silently split clusters downstream, so hitting
    max_iter is an ERROR by default; on_nonconverge='warn' restores the
    old exploratory behavior."""
    import pytest as _pytest
    from dlx_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 32)],
                                  "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)
    stats: dict = {}
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(pairs, max_iter=2, on_nonconverge="warn",
                             stats=stats).collect()
    assert stats["converged"] is False and stats["rounds"] == 2


def test_dedup_near(spark):
    from dlx_spark.operators.dedup import dedup_near
    corpus = spark.createDataFrame([(i, f"doc {i}") for i in (1, 2, 3, 4, 10, 11, 99)],
                                   "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in dedup_near(corpus, pairs).collect())
    # cluster {1,2,3,4} keeps 1; {10,11} keeps 10; 99 untouched (no pair)
    assert kept == [1, 10, 99]


def test_chunk_documents(spark):
    from dlx_spark.operators.chunking import chunk_documents
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(130))), (2, "a b c")],
        "doc_id int, text string")
    out = chunk_documents(df, chunk_tokens=128, overlap=16, normalize=False).collect()
    by = {(r.id, r.chunk_id): r for r in out}
    assert len(out) == 3                             # doc 1 → 2 chunks, doc 2 → 1
    assert by[(1, 0)].n_tokens == 128
    assert by[(1, 1)].n_tokens == 18
    # consecutive chunks share exactly `overlap` tokens
    assert by[(1, 0)].chunk_text.split()[-16:] == by[(1, 1)].chunk_text.split()[:16]
    assert by[(2, 0)].chunk_text == "a b c"
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_chunk_documents_reconstruction(spark):
    """Chunks losslessly tile the document: chunk 0 plus every later
    chunk minus its overlap prefix re-concatenates to the original
    token stream, across size/parameter combinations in one job."""
    from dlx_spark.operators.chunking import chunk_documents
    sizes = [0, 1, 7, 16, 17, 63, 64, 65, 128, 129, 255]
    rows = [(i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for chunk, overlap in [(64, 8), (64, 0), (16, 8)]:
        out = chunk_documents(df, chunk_tokens=chunk, overlap=overlap,
                              normalize=False).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.id, {})[r.chunk_id] = r.chunk_text.split(" ")
        for i, n in enumerate(sizes):
            if n == 0:
                assert i not in by_doc          # empty docs emit no chunks
                continue
            chunks = [by_doc[i][k] for k in sorted(by_doc[i])]
            rebuilt = chunks[0] + [t for c in chunks[1:] for t in c[overlap:]]
            assert rebuilt == rows[i][1].split(" "), (n, chunk, overlap)


def test_pack_sequences(spark):
    from dlx_spark.operators.chunking import pack_sequences
    rows = [(i, 0, n) for i, n in enumerate([100, 90, 60, 50, 40, 10, 200])]
    df = spark.createDataFrame(rows, "id long, chunk_id long, n_tokens long")
    out = pack_sequences(df, budget=150, n_shards=1).collect()
    packs = {}
    for r in out:
        packs.setdefault((r.shard, r.pack_id), []).append(r.n_tokens)
    # every pack within budget unless it is a single oversized row
    for members in packs.values():
        assert sum(members) <= 150 or members == [200]
    # first-fit-decreasing on these lengths gives 4 packs: {200} {100,50} {90,60} {40,10}
    assert sorted(sorted(m) for m in packs.values()) == \
        [[10, 40], [50, 100], [60, 90], [200]]
    # deterministic under repartitioning (sharding is a value property)
    out2 = pack_sequences(df.repartition(5), budget=150, n_shards=1).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_redact_pii(spark):
    from dlx_spark.operators.redact import redact_pii
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@ex.co.uk ip 192.168.0.1 ssn 123-45-6789 tel +1 (555) 123-4567"),
         (2, "clean text only")],
        "doc_id int, text string")
    out = {r.id: r for r in redact_pii(df).collect()}
    assert out[1].clean_text == "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE>"
    assert (out[1].n_email, out[1].n_ssn, out[1].n_ip, out[1].n_phone) == (1, 1, 1, 1)
    assert out[2].clean_text == "clean text only"
    assert (out[2].n_email, out[2].n_ssn, out[2].n_ip, out[2].n_phone) == (0, 0, 0, 0)


def test_spread_for_compute_skips_post_shuffle_frames(spark, docs):
    from dlx_spark.operators import common
    # frames with an upstream shuffle are already wide, and .rdd on them
    # would eagerly execute stages under AQE — must pass through untouched
    agg = docs.groupBy("lang").count()
    assert common._narrow_scan_partitions(agg) is None
    assert common.spread_for_compute(agg) is agg
    joined = docs.alias("a").join(docs.alias("b"), "doc_id")
    assert common._narrow_scan_partitions(joined) is None
    # scan-like frames report a real partition count
    n = common._narrow_scan_partitions(docs.select("doc_id", "text"))
    assert isinstance(n, int) and n >= 1


def test_deterministic_sample_stable(spark, docs):
    from dlx_spark.operators import sampling
    a = sorted(r.doc_id for r in sampling.deterministic_sample(docs, 0.5).collect())
    b = sorted(r.doc_id for r in
               sampling.deterministic_sample(docs.repartition(7), 0.5).collect())
    assert a == b                                  # partitioning-independent
    assert sorted(r.doc_id for r in
                  sampling.deterministic_sample(docs, 1.0).collect()) == [1, 2, 3, 4, 5]
    assert sampling.deterministic_sample(docs, 0.0).count() == 0
    # disjoint salts draw independent samples
    s1 = {r.doc_id for r in sampling.deterministic_sample(docs, 0.5, salt="a").collect()}
    s2 = {r.doc_id for r in sampling.deterministic_sample(docs, 0.5, salt="b").collect()}
    assert s1 != s2 or len(s1) <= 5


def test_stratified_sample(spark, docs):
    from dlx_spark.operators import sampling
    out = sampling.stratified_sample(
        docs.withColumn("lang", F.when(F.col("doc_id") <= 2, "en").otherwise("fr")),
        {"en": 1.0}, strata_col="lang")
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]  # fr stratum dropped


def test_language_id(spark, docs):
    rows = {r.id: r.lang_pred for r in textstats.language_id(docs).collect()}
    assert rows[1] == "en"  # 'the', 'and' markers present
    assert rows[5] == "und"  # no markers


def test_quality_score(spark, docs):
    rows = {r.id: r for r in textstats.quality_score(docs).collect()}
    assert 0.0 <= rows[1].quality <= 1.0
    assert rows[1].stop_ratio > 0
    assert rows[1].alpha_ratio > 0.7


def test_fingerprint(spark, docs):
    rows = {r.id: list(r.fingerprint) for r in textstats.fingerprint(docs, window=4).collect()}
    assert rows[1] == sorted(set(rows[1]))  # distinct sorted sketch
    # identical docs -> identical sketches; near dup -> high overlap
    assert rows[1] == rows[2]
    common = set(rows[1]) & set(rows[3])
    assert len(common) / len(set(rows[1]) | set(rows[3])) > 0.5


def test_multimodal_pipeline(spark, docs):
    media = multimodal.synthetic_media(spark, docs)
    meta = {r.doc_id: r for r in multimodal.decode_metadata(media).collect()}
    text1 = docs.filter("doc_id=1").first()["text"]
    assert meta[1].n_bytes == len(text1.encode())
    assert meta[1].width == 64 + meta[1].n_bytes % 1984
    assert meta[1].digest == __import__("hashlib").md5(text1.encode()).hexdigest()

    feats = multimodal.extract_features(media, dim=8).collect()
    assert all(len(r.features) == 8 for r in feats)
    by_id = {r.doc_id: list(r.features) for r in feats}
    assert by_id[1] == by_id[2]  # deterministic: same payload, same features

    frames = multimodal.sample_frames(media, every_ms=500)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in per_doc)


def test_multimodal_features_feed_similarity(spark, docs):
    """The extract_features output composes directly with the ANN
    operators (the docstring's claim): media → features → knn_join,
    and exact duplicates must be each other's nearest neighbor."""
    media = multimodal.synthetic_media(spark, docs)
    feats = (multimodal.extract_features(media, dim=16)
             .select(F.col("doc_id").alias("vec_id"),
                     F.col("features").alias("embedding")))
    out = similarity.knn_join(feats, feats, k=2, n_planes=2).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append((r.corpus_id, r.cosine))
    # docs 1 and 2 share a payload → identical fake features → cosine 1
    assert any(c == 2 and pytest.approx(1.0) == cos for c, cos in by_probe[1])


def test_multimodal_strict_mode(spark, docs):
    media = multimodal.synthetic_media(spark, docs)
    with pytest.raises(Exception):  # NotImplementedError inside executor
        multimodal.decode_metadata(media, strict=True).collect()


def test_char_entropy(spark):
    import math
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd")], "doc_id long, text string")
    out = {r.id: r.char_entropy for r in textstats.char_entropy(df).collect()}
    assert out[1] == 0.0                                  # single symbol
    assert out[2] == pytest.approx(1.0)                   # two equal symbols
    assert out[3] == pytest.approx(round(math.log2(4), 4))


def test_corpus_top_ngrams(spark, docs):
    out = textstats.corpus_top_ngrams(docs, n=3, k=5, normalize=False).collect()
    by_rank = [(r.ngram, r.n_docs) for r in sorted(out, key=lambda r: r.rk)]
    # docs 1 and 2 are identical, doc 3 nearly so: their shared 3-grams
    # dominate; every returned n-gram must clear min_docs
    assert by_rank[0][1] == 3
    assert all(n >= 2 for _, n in by_rank)
    assert len(by_rank) <= 5


def test_epoch_seconds_ntz_is_timezone_stable(spark):
    """TIMESTAMP_NTZ arithmetic must be pure wall-clock: in a non-UTC
    session, routing NTZ through cast('timestamp') skews gaps by an
    hour across DST transitions (advice item r2).  epoch_seconds must
    return the same values whatever the session timezone, and plain
    TIMESTAMP must keep instant semantics."""
    from pyspark.sql import functions as F
    from dlx_spark.operators.common import epoch_seconds

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        # spring-forward 2026-03-08 02:00 America/New_York
        df = spark.sql("""
            SELECT TIMESTAMP_NTZ'2026-03-08 01:30:00' AS a,
                   TIMESTAMP_NTZ'2026-03-08 03:30:00' AS b,
                   TIMESTAMP'2026-03-08 01:30:00' AS ta,
                   TIMESTAMP'2026-03-08 03:30:00' AS tb
        """)
        gaps = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            row = df.select(
                (epoch_seconds("b") - epoch_seconds("a")).alias("ntz_gap"),
                (epoch_seconds("tb") - epoch_seconds("ta")).alias("tz_gap"),
                epoch_seconds("a").alias("a_abs"),
            ).collect()[0]
            gaps[tz] = row
        # NTZ: wall-clock 2h in every session timezone
        assert gaps["UTC"].ntz_gap == 7200
        assert gaps["America/New_York"].ntz_gap == 7200
        # and the absolute NTZ epoch is timezone-independent too
        assert gaps["UTC"].a_abs == gaps["America/New_York"].a_abs
        # TIMESTAMP columns are fixed instants (parsed once at analysis
        # time): their gap is the same in every session timezone
        assert gaps["UTC"].tz_gap == gaps["America/New_York"].tz_gap == 7200
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.slow
def test_lsh_verified_pairs_matches_reference_pipeline(spark):
    """lsh_verified_pairs (round 8, the one-shuffle candidates+verify)
    must equal the three-stage reference pipeline (lsh_candidate_pairs
    -> distinct -> join-back verify) pair-for-pair."""
    from pyspark.sql import functions as F

    from dlx_spark.operators import dedup

    rows = [(i, f"alpha beta gamma delta epsilon zeta doc {i % 7} "
                f"eta theta iota kappa") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs).cache()

    cands = dedup.lsh_candidate_pairs(sigs, bands=16)
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    want = {(r["id_a"], r["id_b"], r["n_match"]) for r in
            (cands.join(a, "id_a").join(b, "id_b")
             .withColumn("n_match", F.expr(
                 "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
                 "v -> v))").cast("long"))
             .select("id_a", "id_b", "n_match").collect())}
    assert want

    got = {(r["id_a"], r["id_b"], r["n_match"]) for r in
           dedup.lsh_verified_pairs(sigs, bands=16).collect()}
    assert got == want
    # exactly one row per pair (the first-band dedup is exact)
    assert dedup.lsh_verified_pairs(sigs, bands=16).count() == len(want)

    # min_match filter parity
    got32 = {(r["id_a"], r["id_b"]) for r in dedup.lsh_verified_pairs(
        sigs, bands=16, min_match=32).collect()}
    assert got32 == {(x, y) for x, y, m in want if m >= 32}
    sigs.unpersist()


@pytest.mark.slow
def test_decontaminate_ngram_overlap_rule(spark):
    """Benchmark decontamination (sampling.decontaminate): a corpus doc
    containing ANY benchmark word n-gram is removed; near-miss overlap
    (n-1 shared words) survives; short benchmark prompts (< n tokens)
    still catch their exact matches; mark_only flags instead of drops."""
    from dlx_spark.operators import sampling

    bench_q = "what is the capital of the ancient kingdom of lydia"
    corpus = spark.createDataFrame([
        # quotes the benchmark question verbatim inside a longer doc
        (1, "intro text here " + bench_q + " trailing discussion words"),
        # shares only 9 of the 10 benchmark words in sequence
        (2, "what is the capital of the ancient kingdom of phrygia and more"),
        (3, "entirely unrelated document about spark partitioning"),
        # exact match of a SHORT benchmark prompt (< n tokens)
        (4, "tiny prompt"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(bench_q,), ("tiny prompt",)], "text string")

    clean = sampling.decontaminate(corpus, bench, n=10)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]

    bad = sampling.contaminated_ids(corpus, bench, n=10)
    assert sorted(r["doc_id"] for r in bad.collect()) == [1, 4]

    marked = sampling.decontaminate(corpus, bench, n=10, mark_only=True)
    got = {r["doc_id"]: r["contaminated"] for r in marked.collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}
    assert marked.count() == 4

    # normalization: case/punct differences still match under the
    # default normalize=True (same folding as the dedup shinglers)
    shouty = spark.createDataFrame(
        [(9, "Intro: WHAT is the Capital of the ancient KINGDOM of Lydia?")],
        "doc_id long, text string")
    assert sampling.decontaminate(shouty, bench, n=10).count() == 0


# --------------------------------------------------------------------------
# out-of-vocabulary profile (textstats.corpus_vocabulary / oov_rate)
# --------------------------------------------------------------------------

def test_oov_rate_hand_corpus(spark):
    """Known corpus: vocabulary of size 2 is {'the' (4), 'cat' (3)}
    (count-desc, token-asc tiebreak); everything else is OOV."""
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the cat"), (3, "the cat dog dog")],
        "doc_id long, text string")
    vocab = textstats.corpus_vocabulary(docs, vocab_size=2)
    assert [(r["tok"], r["n"]) for r in vocab.collect()] \
        == [("the", 4), ("cat", 3)]
    got = {r["id"]: (r["n_tokens"], r["n_oov"])
           for r in textstats.oov_rate(docs, vocab_size=2).collect()}
    assert got == {1: (3, 1), 2: (3, 0), 3: (4, 2)}


def test_oov_rate_vocab_tiebreak_total_order(spark):
    """Boundary ties resolve by token ascending — the vocabulary (and
    every OOV count) is deterministic even when counts tie at the
    cutoff."""
    docs = spark.createDataFrame(
        [(1, "b a b a z")], "doc_id long, text string")
    vocab = [r["tok"] for r in
             textstats.corpus_vocabulary(docs, vocab_size=1).collect()]
    assert vocab == ["a"]      # a and b both count 2; 'a' < 'b'
    got = textstats.oov_rate(docs, vocab_size=1).collect()[0]
    assert (got["n_tokens"], got["n_oov"]) == (5, 3)


def test_oov_rate_persisted_vocabulary_path(spark):
    """The 100 TB path: a persisted vocabulary reused across calls
    yields the same profile as the inline corpus pass, and a vocabulary
    trained on ANOTHER corpus is honored verbatim."""
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x x q")], "doc_id long, text string")
    inline = {r["id"]: (r["n_tokens"], r["n_oov"])
              for r in textstats.oov_rate(docs, vocab_size=1).collect()}
    vocab = textstats.corpus_vocabulary(docs, vocab_size=1)
    reused = {r["id"]: (r["n_tokens"], r["n_oov"])
              for r in textstats.oov_rate(docs, vocabulary=vocab).collect()}
    assert inline == reused
    foreign = spark.createDataFrame([("q",)], "tok string")
    got = {r["id"]: r["n_oov"] for r in
           textstats.oov_rate(docs, vocabulary=foreign).collect()}
    assert got == {1: 3, 2: 2}


def test_oov_rate_empty_tokens_ignored(spark):
    docs = spark.createDataFrame(
        [(1, "  a  b ")], "doc_id long, text string")
    got = textstats.oov_rate(docs, vocab_size=10).collect()[0]
    assert got["n_tokens"] == 2 and got["n_oov"] == 0
