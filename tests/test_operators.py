"""Unit tests for operators without DuckDB oracles + reference edge
cases (FIXTURES.md section 4 micro-fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_service_spark.operators import (
    dedup,
    multimodal,
    pipeline,
    routing,
    similarity,
)


# ---- routing fallbacks (PartitionKeyExtractor.java:31-56) ----

def _routing_df(spark):
    rows = [
        # (tenant_id, user_key, correlation_id, priority, event_key, event_class)
        ("t1", "u1", "c1", "PRIORITY_HIGH", "e1", "TenantCreatedEvent"),
        ("", "u2", "", None, "e2", "UserLoginEvent"),
        (None, "", "c3", "", "e3", "NotificationSentEvent"),
        ("", "", "", None, "e4", "SystemErrorEvent"),
    ]
    return spark.createDataFrame(
        rows, "tenant_id string, user_key string, correlation_id string, "
              "priority string, event_key string, event_class string")


def test_routing_fallback_defaults(spark):
    df = _routing_df(spark)
    got = df.select(
        routing.tenant_based().alias("t"),
        routing.user_based().alias("u"),
        routing.correlation_based().alias("c"),
        routing.priority_based().alias("p"),
        routing.composite().alias("comp"),
        routing.custom().alias("cust"),
    ).collect()
    assert [r.t for r in got] == ["t1", "default-tenant", "default-tenant",
                                  "default-tenant"]
    assert got[1].u == "u2"
    assert got[2].u == "default-tenant"  # empty user -> tenant fallback chain
    assert got[1].c == "e2"              # empty correlation -> event key
    assert [r.p for r in got] == ["PRIORITY_HIGH", "PRIORITY_MEDIUM",
                                  "PRIORITY_MEDIUM", "PRIORITY_MEDIUM"]
    assert got[3].comp == "default:system"
    assert got[0].cust == "t1"           # Tenant* -> tenant key
    assert got[1].cust == "default:u2"   # User* -> composite
    assert got[2].cust == "default-user" # Notification* + empty user
    assert got[3].cust == "e4"           # else -> correlation fallback


def test_production_hash_partition_stable_and_bounded(spark):
    df = _routing_df(spark)
    key = routing.tenant_based()
    a = df.select(routing.partition_for(key, 6).alias("p")).collect()
    b = df.select(routing.partition_for(key, 6).alias("p")).collect()
    assert a == b
    assert all(0 <= r.p < 6 for r in a)


# ---- validation / retry / DLQ edges (BaseEventConsumer.java) ----

def test_validation_missing_id_and_stale(spark):
    rows = [("e1", "2024-01-30 00:00:00"), ("", "2024-01-30 00:00:00"),
            (None, "2024-01-30 00:00:00"), ("e4", "2024-01-01 00:00:00")]
    df = spark.createDataFrame(rows, "event_key string, ts_s string") \
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
    now = F.lit("2024-01-31 00:00:00").cast("timestamp")
    valid, invalid = pipeline.split_valid_invalid(df, "event_key", "ts", now)
    assert valid.count() == 1
    reasons = {r.event_key: r.reject_reason for r in invalid.collect()}
    assert reasons[""] == "missing_event_id"
    assert reasons[None] == "missing_event_id"
    assert reasons["e4"] == "stale_event"


def test_retry_dlq_cutover_at_3(spark):
    df = spark.createDataFrame([(n,) for n in range(5)], "retry_count int") \
        .withColumn("topic", F.lit("nnipa.events.tenant"))
    got = df.select("retry_count",
                    pipeline.retry_route(F.col("topic"),
                                         F.col("retry_count")).alias("r"),
                    pipeline.backoff_ms(F.col("retry_count")).alias("b")).collect()
    by_n = {r.retry_count: r for r in got}
    assert by_n[0].r == "nnipa.events.tenant.retry.1"
    assert by_n[2].r == "nnipa.events.tenant.retry.3"
    assert by_n[3].r == "nnipa.dlq.tenant"      # cutover at MAX_RETRIES=3
    assert by_n[4].r == "nnipa.dlq.tenant"
    assert by_n[1].b == 1000.0                  # 1000 * 2^0
    assert by_n[4].b == 8000.0                  # 1000 * 2^3
    big = spark.createDataFrame([(10,)], "retry_count int")
    assert big.select(pipeline.backoff_ms(F.col("retry_count")).alias("b")) \
        .first().b == 60000.0                   # capped


# ---- simhash invariants ----

def test_simhash_identity_and_locality(spark):
    base = "spark join merge sort window hash table scan filter group"
    near = base + " extra"
    far = "completely different words entirely unrelated corpus text here"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string")
    sims = {r.doc_id: r.simhash for r in dedup.simhash63(df).collect()}
    assert sims[1] == sims[2]  # identical text -> identical fingerprint
    d_near = bin(sims[1] ^ sims[3]).count("1")
    d_far = bin(sims[1] ^ sims[4]).count("1")
    assert d_near < d_far
    assert d_near <= 16


def test_hamming_distance_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
    assert df.select(dedup.hamming_distance(F.col("a"), F.col("b"))
                     .alias("d")).first().d == 1


# ---- ANN recall vs brute force ----

def test_ann_lsh_recall(spark, sf_oracle):
    from event_streaming_service_spark.sources import tables

    emb = tables.load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(queries, emb, 5)
    approx = similarity.ann_cosine_topk(queries, emb, 5, 64, n_planes=4)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 hyperplanes -> 16 buckets over 500 unclustered vectors: modest
    # but nonzero recall is the correctness bar for the plan shape
    assert recall >= 0.2, f"ANN recall too low: {recall}"
    assert all(r.rank <= 5 for r in approx.collect())


# ---- multimodal plumbing ----

def test_multimodal_features_and_stub(spark, sf_smoke):
    from event_streaming_service_spark.sources import tables

    media = multimodal.attach_payload(
        tables.load_table(spark, sf_smoke, "documents"))
    feats = multimodal.extract_features(media)
    rows = feats.limit(5).collect()
    assert {c for c in feats.columns} == {
        "doc_id", "n_bytes", "head_byte", "byte_sum_mod", "width", "height"}
    assert all(r.n_bytes > 0 for r in rows)


def _reencoded_len(codec, payload, target_w, target_h):
    """Length of the codec re-encoding of a nearest-neighbor resized
    decode, resized with the documented map src = (dst*size)//target."""
    import numpy as np

    from event_streaming_service_spark.functions import (
        gif_codec,
        jpeg_codec,
        png_codec,
    )

    if codec == "gif":
        frames, pal = gif_codec.decode_gif(payload)
        img = frames[0]
    else:
        img = (jpeg_codec.decode_jpeg(payload) if codec == "jpeg"
               else png_codec.decode_png(payload))
    h, w = img.shape[:2]
    sx = (np.arange(target_w) * w) // target_w
    sy = (np.arange(target_h) * h) // target_h
    small = img[sy][:, sx]
    if codec == "gif":
        return len(gif_codec.encode_gif(small, pal))
    if codec == "jpeg":
        return len(jpeg_codec.encode_jpeg(small))
    return len(png_codec.encode_png(small))


@pytest.mark.parametrize("codec", ["png", "jpeg", "gif"])
def test_resize_out_bytes_is_the_reencoded_length(spark, codec):
    # the registered resize queries drop out_bytes (an entropy-coded
    # length is not SQL-expressible), so it is pinned here instead
    attach, resize = {
        "png": (multimodal.attach_png_payload, multimodal.resize_png),
        "jpeg": (multimodal.attach_jpeg_payload, multimodal.resize_jpeg),
        "gif": (multimodal.attach_gif_payload, multimodal.resize_gif),
    }[codec]
    docs = spark.createDataFrame([(0,), (17,), (39,)], "doc_id bigint")
    media = attach(docs)
    payloads = {r.doc_id: bytes(r.payload) for r in media.collect()}
    for target_w, target_h in ((24, 24), (16, 40)):
        out = {r.doc_id: r.out_bytes
               for r in resize(media, target_w, target_h).collect()}
        assert out == {
            d: _reencoded_len(codec, p, target_w, target_h)
            for d, p in payloads.items()}


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("kappa", "kappa2")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "totally other words " * 5)],
        "doc_id long, text string")
    pairs = dedup.minhash_near_dups(df, 0.5).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}


def test_repetition_stats_ratios(spark):
    from event_streaming_service_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a a a a"),          # 3 bigrams all "a a" -> dup2 = 2/3
         (2, "a b c d"),          # all distinct
         (3, "x"),                # shorter than any gram
         (4, "")],                # empty
        "doc_id long, text string")
    rows = {r.doc_id: r for r in T.repetition_stats(df).collect()}
    assert rows[1].n_tokens == 4
    assert abs(rows[1].dup_2gram_ratio - 2 / 3) < 1e-6
    assert rows[1].top_token_ratio == 1.0
    assert rows[2].dup_2gram_ratio == 0.0
    assert rows[2].top_token_ratio == 0.25
    assert rows[3].n_tokens == 1 and rows[3].dup_2gram_ratio == 0.0
    assert rows[4].n_tokens == 0 and rows[4].top_token_ratio == 0.0


def test_contamination_flags_ngram_overlap(spark):
    eval_docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over lazy dogs")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, "he saw the quick brown fox run away fast"),  # shares 2 trigrams
         (11, "completely unrelated sentence with other words here")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            dedup.contamination_flags(corpus, eval_docs).collect()}
    assert rows[10].contaminated and rows[10].n_contaminated_ngrams == 2
    assert not rows[11].contaminated and rows[11].n_contaminated_ngrams == 0


def test_minhash_bucket_cap_skips_boilerplate_cluster(spark):
    """A boilerplate family (identical docs) floods one band bucket
    with d docs -> d*(d-1)/2 candidate rows; with bucket_cap below d
    the bucket is skipped entirely while genuinely-near pairs in small
    buckets survive."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("kappa", "kappa2")
    boiler = [(100 + i, "copyright footer terms privacy contact " * 4)
              for i in range(8)]
    df = spark.createDataFrame([(1, base), (2, near)] + boiler,
                               "doc_id long, text string")
    uncapped = {(p.doc_a, p.doc_b)
                for p in dedup.minhash_candidate_pairs(df).collect()}
    capped = {(p.doc_a, p.doc_b)
              for p in dedup.minhash_candidate_pairs(
                  df, bucket_cap=4).collect()}
    assert (1, 2) in uncapped and (1, 2) in capped
    # all 28 boilerplate pairs generated uncapped, none after the cap
    assert {p for p in uncapped if p[0] >= 100} == {
        (a, b) for a in range(100, 108) for b in range(a + 1, 108)}
    assert not {p for p in capped if p[0] >= 100}
    # the boilerplate family is exact-dup territory: the hash-aggregate
    # path collapses it without any pair join
    canon = dedup.exact_canonical(df).filter("doc_id >= 100").collect()
    assert all(r.canonical_id == 100 for r in canon)


def test_ivf_recall_vs_brute_force(spark, sf_oracle):
    from event_streaming_service_spark.sources import tables

    emb = tables.load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(queries, emb, 5)
    approx = similarity.ivf_cosine_topk(queries, emb, 5,
                                        n_cells=16, n_probe=6)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # with one Lloyd refinement round the observed recall is ~0.9;
    # 0.6 leaves margin for fixture regeneration
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_rule_fanout_branches(spark):
    from event_streaming_service_spark.operators import rules

    df = spark.createDataFrame(
        [(1, "purchase", 500.0, "t1", ""), (2, "view", 500.0, "t1", ""),
         (3, "purchase", 10.0, "t1", "")],
        "event_id long, event_type string, value double, "
        "tenant_id string, user_key string")
    out = rules.fan_out_rules(df, [
        rules.EventRoutingRule("src", "hi", "value > 100", "TENANT_BASED"),
        rules.EventRoutingRule("src", "views", "event_type = 'view'", "NONE"),
    ])
    assert sorted(r.event_id for r in out["hi"].collect()) == [1, 2]
    assert [r.event_id for r in out["views"].collect()] == [2]
    assert out["hi"].first().key == "t1"
    assert "key" not in out["views"].columns


def test_approx_distinct_within_bounds(spark, sf_oracle):
    from event_streaming_service_spark.queries import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["approx_distinct_users"].builder(spark, sf_oracle).collect()
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(3, 0.05 * r.exact_users)


def test_jaccard_hot_shingle_cap_bounds_fanout(spark):
    """One boilerplate shingle shared by every doc must not create
    all-pairs join rows once capped. Docs: unique bodies + one shared
    trigram; only the planted near-dup pair is genuinely similar."""
    boiler = "terms of service apply"
    docs = []
    for i in range(40):
        docs.append((i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d"))
    # planted near-dup pair 100/101: same body, one token differs
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs += [(100, f"{boiler} {body}"), (101, f"{boiler} {body.replace('iota', 'iota2')}")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = dedup.jaccard_pairs(df, 0.0).collect()
    capped = dedup.jaccard_pairs(df, 0.0, hot_shingle_cap=10).collect()
    # boilerplate links every doc pair without the cap...
    assert len(uncapped) == 42 * 41 // 2
    # ...and only genuinely-overlapping pairs with it
    assert len(capped) < len(uncapped) / 10
    top = {(p.doc_a, p.doc_b) for p in capped if p.jaccard >= 0.5}
    assert top == {(100, 101)}


def test_jaccard_cap_noop_when_no_hot_shingles(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five"), (2, "one two three four six"),
         (3, "seven eight nine ten eleven")],
        "doc_id long, text string")
    a = sorted(map(tuple, dedup.jaccard_pairs(df, 0.0).collect()))
    b = sorted(map(tuple, dedup.jaccard_pairs(df, 0.0, hot_shingle_cap=100).collect()))
    assert a == b


def test_cosine_topk_tiled_equals_broadcast(spark, sf_oracle):
    """Forcing the corpus over the broadcast bound must switch to the
    distributed tiled path and return the IDENTICAL exact top-k."""
    from event_streaming_service_spark.sources import tables

    emb = tables.load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    single = sorted(map(tuple, similarity.cosine_topk(queries, emb, 5).collect()))
    tiled = sorted(map(tuple, similarity.cosine_topk(
        queries, emb, 5, max_broadcast_rows=150).collect()))
    assert len(single) == 40
    assert tiled == single


def test_cosine_near_dup_tiled_equals_broadcast(spark, sf_oracle):
    from event_streaming_service_spark.sources import tables

    emb = tables.load_table(spark, sf_oracle, "embeddings")
    single = sorted(map(tuple, similarity.cosine_near_dup_pairs(emb, 0.35).collect()))
    tiled = sorted(map(tuple, similarity.cosine_near_dup_pairs(
        emb, 0.35, max_broadcast_rows=150).collect()))
    assert len(single) > 0
    assert tiled == single


# ---- latency percentiles: approx scale path (A7) ----

def test_latency_percentiles_approx_sandwich(spark):
    """percentile_approx at accuracy=10000 must land within the value
    range of the exact percentile's neighbors for a deterministic
    distribution (the 100 TB path returns sane quantiles)."""
    from event_streaming_service_spark.operators import stats

    df = spark.createDataFrame(
        [("t", float(i % 1000)) for i in range(10_000)],
        "topic string, value double")
    exact = stats.latency_percentiles(df).first()
    approx = stats.latency_percentiles(df, approx=True).first()
    for col in ("p50", "p95", "p99"):
        assert abs(approx[col] - exact[col]) <= 2.0, (
            col, approx[col], exact[col])


# ---- connected components / near-dup clusters ----

def test_connected_components_chain_and_merge(spark):
    """A 6-node path graph needs several propagation rounds (diameter
    5); labels must converge to the smallest reachable id. Separate
    components must not merge."""
    from event_streaming_service_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "doc_a long, doc_b long")
    got = {r.node: r.component
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_connected_components_reversed_edge_direction(spark):
    """Min label propagates regardless of which side of the pair the
    smaller id is on (edges symmetrized)."""
    from event_streaming_service_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(9, 3), (3, 7), (8, 7)], "doc_a long, doc_b long")
    got = {r.node: r.component
           for r in dedup.connected_components(pairs).collect()}
    assert got == {3: 3, 7: 3, 8: 3, 9: 3}


def test_near_dup_clusters_partition_invariants(spark):
    """Cluster assignment is a partition of the corpus: every doc
    appears once, every cluster has exactly one canonical doc (= its
    min id), sizes agree with membership counts."""
    from event_streaming_service_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + (
            "" if i % 3 else "epsilon")) for i in range(9)]
        + [(100, "completely unrelated text about spark engines and "
                 "distributed joins")],
        "doc_id long, text string")
    rows = dedup.near_dup_clusters(docs, 0.5).collect()
    assert len(rows) == 10
    assert {r.doc_id for r in rows} == set(range(9)) | {100}
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert sum(m.is_canonical for m in members) == 1
        assert all(m.cluster_size == len(members) for m in members)
    # the planted near-dups must actually cluster together
    assert not all(r.cluster_size == 1 for r in rows)


# ---- deterministic sampling ----

def test_deterministic_sample_stable_under_repartition(spark):
    """The same rows are selected no matter how the input is
    partitioned — the property DataFrame.sample cannot provide."""
    from event_streaming_service_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in sampling.deterministic_sample(df, 0.3).collect()}
    b = {r.doc_id for r in sampling.deterministic_sample(
        df.repartition(13), 0.3).collect()}
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.4


def test_stratified_sample_rates_and_default(spark):
    from event_streaming_service_spark.operators import sampling
    from pyspark.sql import functions as F

    df = (spark.range(0, 3000).withColumnRenamed("id", "doc_id")
          .withColumn("lang", F.when(F.col("doc_id") % 3 == 0, "en")
                      .when(F.col("doc_id") % 3 == 1, "fr")
                      .otherwise("zh")))
    out = sampling.stratified_sample(
        df, {"en": 1.0, "fr": 0.0}, "lang", default_rate=0.5).toPandas()
    by_lang = out.groupby("lang").size().to_dict()
    assert by_lang.get("en") == 1000        # rate 1.0 keeps everything
    assert "fr" not in by_lang              # rate 0.0 keeps nothing
    assert 300 < by_lang.get("zh", 0) < 700  # default 0.5


def test_quota_sample_exact_counts_and_determinism(spark):
    from event_streaming_service_spark.operators import sampling
    from pyspark.sql import functions as F

    df = (spark.range(0, 500).withColumnRenamed("id", "doc_id")
          .withColumn("source",
                      F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"))))
    out = sampling.quota_sample(
        df, {"s0": 10, "s1": 500}, "source", default_quota=2).toPandas()
    sizes = out.groupby("source").size().to_dict()
    # s1 has 125 rows < quota 500 -> all kept; default quota 2 for s2/s3
    assert sizes == {"s0": 10, "s1": 125, "s2": 2, "s3": 2}
    again = sampling.quota_sample(
        df.repartition(7), {"s0": 10, "s1": 500}, "source",
        default_quota=2).toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)


def test_quota_sample_two_phase_equals_one_phase(spark):
    """The mega-stratum scale path (threshold pre-filter + exact rank
    on survivors) must select the identical rows as the one-phase rank
    — including when the over-selection threshold undershoots and the
    per-stratum fallback kicks in (forced here with safety < 1)."""
    from event_streaming_service_spark.operators import sampling
    from pyspark.sql import functions as F

    df = (spark.range(0, 2000).withColumnRenamed("id", "doc_id")
          .withColumn("source",
                      F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string"))))
    quotas = {"s0": 25, "s1": 2000}
    one = sampling.quota_sample(df, quotas, "source", default_quota=5)
    for safety in (2.0, 0.2):  # fast path / forced-undershoot fallback
        two = sampling.quota_sample(df, quotas, "source", default_quota=5,
                                    two_phase=True, safety=safety)
        assert (sorted(r.doc_id for r in one.collect())
                == sorted(r.doc_id for r in two.collect())), safety


def test_quota_sample_two_phase_null_stratum(spark):
    """Rows whose stratum is NULL are a real group (missing metadata):
    both phases must give them default_quota, not crash the driver-side
    count sort or silently drop them through a null isin filter."""
    from event_streaming_service_spark.operators import sampling
    from pyspark.sql import functions as F

    df = (spark.range(0, 300).withColumnRenamed("id", "doc_id")
          .withColumn("source",
                      F.when(F.col("doc_id") % 3 == 0, F.lit(None))
                      .otherwise(F.concat(
                          F.lit("s"), (F.col("doc_id") % 2).cast("string")))))
    one = sampling.quota_sample(df, {"s0": 7}, "source", default_quota=4)
    for safety in (2.0, 0.2):
        two = sampling.quota_sample(df, {"s0": 7}, "source", default_quota=4,
                                    two_phase=True, safety=safety)
        assert (sorted(r.doc_id for r in one.collect())
                == sorted(r.doc_id for r in two.collect())), safety
    null_rows = [r for r in one.collect() if r.source is None]
    assert len(null_rows) == 4  # default_quota applied to the NULL group


# ---- PII scrubbing ----

def test_scrub_pii_redacts_and_counts(spark):
    from event_streaming_service_spark.operators import text as T
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "mail a.b+c@foo.co.uk or visit https://u:p@x.io/q?a=1 "
             "call +44 20 7946 0958 from 192.168.0.1 done"),
         (2, "no pii here at all")],
        "doc_id long, text string")
    counts = T.pii_counts(F.col("text"))
    out = df.select(
        "doc_id", T.scrub_pii(F.col("text")).alias("clean"),
        *[v.alias(k) for k, v in counts.items()]).collect()
    r1 = next(r for r in out if r.doc_id == 1)
    assert r1.n_url == 1 and r1.n_email == 1
    assert r1.n_phone == 1 and r1.n_ipv4 == 1
    assert r1.clean == ("mail <EMAIL> or visit <URL> "
                        "call <PHONE> from <IPV4> done")
    r2 = next(r for r in out if r.doc_id == 2)
    assert (r2.n_url, r2.n_email, r2.n_phone, r2.n_ipv4) == (0, 0, 0, 0)
    assert r2.clean == "no pii here at all"


def test_scrub_pii_url_pass_consumes_embedded_email(spark):
    """A credentialed URL must be consumed whole by the URL pass, not
    half-eaten by the email pass (pass-order contract)."""
    from event_streaming_service_spark.operators import text as T
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "x https://user@example.com/path y")], "doc_id long, text string")
    row = df.select(T.scrub_pii(F.col("text")).alias("c"),
                    *[v.alias(k)
                      for k, v in T.pii_counts(F.col("text")).items()]
                    ).first()
    assert row.c == "x <URL> y"
    assert row.n_url == 1 and row.n_email == 0


# ---- sequence packing ----

def test_pack_sequences_invariants(spark):
    """No bin over budget (except a lone oversize doc), bins dense per
    shard, fill maximal (next doc in shard would not have fit in the
    previous bin), assignment deterministic under repartition."""
    from event_streaming_service_spark.operators import packing
    from pyspark.sql import functions as F

    budget = 100
    df = spark.createDataFrame(
        [(i, "tok " * (7 * i % 140)) for i in range(1, 200)],
        "doc_id long, text string")
    out = packing.pack_sequences(df, budget, n_shards=4).toPandas()
    assert len(out) == 199
    for (shard, bin_id), grp in out.groupby(["shard", "bin_id"]):
        total = grp.n_tokens.sum()
        assert total <= budget or (len(grp) == 1 and grp.oversize.all())
    for shard, grp in out.groupby("shard"):
        bins = sorted(grp.bin_id.unique())
        assert bins == list(range(len(bins)))  # dense
        grp = grp.sort_values("doc_id")
        fills = grp.groupby("bin_id").n_tokens.sum()
        firsts = grp.drop_duplicates("bin_id", keep="first")
        for b in bins[1:]:
            opener = firsts[firsts.bin_id == b].n_tokens.iloc[0]
            assert fills[b - 1] + opener > budget  # greedy: had to split
    again = packing.pack_sequences(
        df.repartition(11), budget, n_shards=4).toPandas()
    merged = out.merge(again, on="doc_id", suffixes=("", "_2"))
    assert (merged.bin_id == merged.bin_id_2).all()


def test_pack_sequences_oversize_isolated(spark):
    from event_streaming_service_spark.operators import packing

    df = spark.createDataFrame(
        [(1, "a " * 10), (2, "b " * 500), (3, "c " * 10)],
        "doc_id long, text string")
    out = packing.pack_sequences(df, 100, n_shards=1).toPandas()
    big = out[out.doc_id == 2]
    assert big.oversize.all()
    assert (out.groupby("bin_id").size()[big.bin_id.iloc[0]] == 1)


def test_gapfill_locf_carries_last_value(spark):
    from event_streaming_service_spark.operators import windows
    from pyspark.sql import functions as F

    agg = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 5, 1.5),
         ("a", "2024-01-01 03:00:00", 2, 0.5),   # 2 missing hours before
         ("b", "2024-01-01 01:00:00", 7, 9.0)],  # single bucket, no gaps
        "k string, bucket string, n long, v double") \
        .withColumn("bucket", F.col("bucket").cast("timestamp"))
    out = windows.gapfill_locf(agg, "k", "bucket", 3_600_000, ["n", "v"])
    rows = {(r.k, str(r.bucket)): r for r in out.collect()}
    assert len(rows) == 5  # a: 4 hourly buckets, b: 1
    gap1 = rows[("a", "2024-01-01 01:00:00")]
    gap2 = rows[("a", "2024-01-01 02:00:00")]
    assert gap1.is_gap and gap2.is_gap
    assert gap1.n == 5 and gap1.v == 1.5  # carried forward
    assert not rows[("a", "2024-01-01 03:00:00")].is_gap
    assert rows[("a", "2024-01-01 03:00:00")].n == 2
    assert not rows[("b", "2024-01-01 01:00:00")].is_gap


def test_weighted_sample_prefers_heavy_rows_and_is_stable(spark):
    from event_streaming_service_spark.operators import sampling
    from pyspark.sql import functions as F

    # 500 light rows (w=1) vs 500 heavy rows (w=50): the heavy half
    # must dominate the sample, and the set must be repartition-stable
    df = (spark.range(0, 1000).withColumnRenamed("id", "doc_id")
          .withColumn("w", F.when(F.col("doc_id") < 500, 1).otherwise(50)))
    out = sampling.weighted_sample(df, 100, "w")
    rows = out.collect()
    assert len(rows) == 100
    heavy = sum(1 for r in rows if r.doc_id >= 500)
    assert heavy > 80  # w=50 rows ~50x as likely
    again = {r.doc_id for r in
             sampling.weighted_sample(df.repartition(13), 100, "w").collect()}
    assert {r.doc_id for r in rows} == again


def test_gapfill_observed_null_value_is_not_a_gap(spark):
    # ADVICE r3: an observed bucket whose FIRST value column is
    # legitimately NULL (e.g. SUM over all-NULL inputs) must not be
    # flagged as a gap — presence is marked explicitly now.
    from event_streaming_service_spark.operators import windows

    agg = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 3.0),
         ("a", "2024-01-01 01:00:00", None),   # observed, NULL value
         ("a", "2024-01-01 03:00:00", 7.0)],   # hour 2 is a real gap
        "k string, bucket string, v double") \
        .withColumn("bucket", F.col("bucket").cast("timestamp"))
    out = windows.gapfill_locf(agg, "k", "bucket", 3_600_000, ["v"])
    rows = {str(r.bucket): r for r in out.collect()}
    assert len(rows) == 4
    assert not rows["2024-01-01 01:00:00"].is_gap   # observed
    assert rows["2024-01-01 02:00:00"].is_gap       # synthesized
    # locf semantics still carry across the NULL observation
    assert rows["2024-01-01 02:00:00"].v == 3.0
    assert "__present" not in out.columns


def test_weighted_sample_rejects_nonpositive_or_null_weights(spark):
    import pytest

    from event_streaming_service_spark.operators import sampling

    df = (spark.range(0, 10).withColumnRenamed("id", "doc_id")
          .withColumn("w", F.when(F.col("doc_id") == 3, 0).otherwise(5)))
    with pytest.raises(Exception, match="must be > 0"):
        sampling.weighted_sample(df, 5, "w").collect()
    df_null = (spark.range(0, 10).withColumnRenamed("id", "doc_id")
               .withColumn("w", F.when(F.col("doc_id") == 3, None)
                           .otherwise(F.lit(5))))
    with pytest.raises(Exception, match="must be > 0"):
        sampling.weighted_sample(df_null, 5, "w").collect()


def test_weighted_sample_plans_as_take_ordered(spark):
    from event_streaming_service_spark.operators import sampling

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id") \
        .withColumn("w", F.lit(2))
    plan = sampling.weighted_sample(df, 5, "w") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_quota_sample_caller_provided_counts_skip_phase1(spark):
    """Two-phase quota sampling with caller-provided stratum counts must
    equal the one-phase result even when the counts are stale (too low /
    too high) or omit a stratum entirely — staleness may cost speed but
    never rows."""
    from event_streaming_service_spark.operators import sampling

    df = (spark.range(0, 1200).withColumnRenamed("id", "doc_id")
          .withColumn("source",
                      F.when(F.col("doc_id") % 4 == 0, F.lit(None))
                      .otherwise(F.concat(
                          F.lit("s"), (F.col("doc_id") % 3).cast("string")))))
    quotas = {"s0": 10, "s1": 500}
    one = sampling.quota_sample(df, quotas, "source", default_quota=6)
    expected = sorted(r.doc_id for r in one.collect())
    for counts in (
        {"s0": 300, "s1": 300, "s2": 300, None: 300},   # exact-ish
        {"s0": 50, "s1": 5, "s2": 2, None: 1},          # badly stale low
        {"s0": 10_000, "s1": 10_000},                   # high + missing strata
        {},                                             # everything missing
    ):
        two = sampling.quota_sample(
            df, quotas, "source", default_quota=6, two_phase=True,
            stratum_counts=counts)
        assert sorted(r.doc_id for r in two.collect()) == expected, counts


def test_ewma_keeps_null_key_group(spark):
    """NULL is a real group (SQL PARTITION BY semantics): the sharded
    pandas kernel must pass dropna=False or null-key rows silently get
    ewma=NULL (pandas' groupby default drops NaN keys)."""
    import pandas as pd
    from pyspark.sql import types as T

    from event_streaming_service_spark.operators import windows

    pdf = pd.DataFrame({
        "k": ["a", "a", None, None],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02",
                              "2024-01-01", "2024-01-02"]),
        "v": [1.0, 2.0, 10.0, 20.0]})
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType())])
    df = spark.createDataFrame(pdf, schema)
    out = windows.ewma(df, "k", "ts", "v", alpha=0.5)
    rows = {(r["k"], r["v"]): r["ewma"] for r in out.collect()}
    assert rows[("a", 2.0)] == 1.5
    assert rows[(None, 10.0)] == 10.0
    assert rows[(None, 20.0)] == 15.0


def test_inverted_index_cap_and_min_df(spark):
    from event_streaming_service_spark.operators import text
    docs = spark.createDataFrame(
        [(i, "common word" + (" rare" if i == 3 else ""))
         for i in range(5)] + [(99, "common common common")],
        "doc_id bigint, text string")
    out = {r["term"]: r for r in
           text.inverted_index(docs, min_df=2, postings_cap=3).collect()}
    assert "rare" not in out                       # df 1 < min_df
    assert out["common"]["df"] == 6
    assert out["common"]["cf"] == 8                # doc 99 has tf 3
    assert out["common"]["postings"] == "0,1,2"    # capped, id-ordered
    assert out["word"]["postings"] == "0,1,2"


def test_ewma_segmented_matches_one_pass(spark):
    """The segmented-scan fallback must agree with the sequential
    one-pass form to 1e-6 on every row (the affine composition
    reassociates float ops; both round to 6dp), across multiple keys,
    segment boundaries, and same-timestamp tiebreaks."""
    import random
    from datetime import datetime, timedelta

    from event_streaming_service_spark.operators.windows import (
        ewma,
        ewma_segmented,
    )
    rng = random.Random(5)
    base = datetime(2024, 3, 1)
    rows = []
    for i in range(3000):
        rows.append((i, i % 7, base + timedelta(minutes=i // 7),
                     rng.uniform(-50, 50)))
    # duplicate-timestamp pair disambiguated by event_id
    rows.append((9001, 1, base, 42.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    one = {(r["user_id"], r["ts"], r["value"]): r["ewma"]
           for r in ewma(df, "user_id", "ts", "value", 0.3,
                         order_tiebreak="event_id").collect()}
    segd = {(r["user_id"], r["ts"], r["value"]): r["ewma"]
            for r in ewma_segmented(df, "user_id", "ts", "value", 0.3,
                                    order_tiebreak="event_id",
                                    n_segments=8).collect()}
    assert set(one) == set(segd)
    worst = max(abs(one[k] - segd[k]) for k in one)
    assert worst <= 1e-6, worst


def test_ewma_segmented_single_row_and_instant_keys(spark):
    from datetime import datetime

    from event_streaming_service_spark.operators.windows import (
        ewma_segmented,
    )
    t = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, 10, t, 5.0), (2, 20, t, 3.0), (3, 20, t, 9.0)],
        "event_id long, user_id long, ts timestamp, value double")
    rows = ewma_segmented(df, "user_id", "ts", "value", 0.5,
                          order_tiebreak="event_id").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["user_id"], []).append((r["value"], r["ewma"]))
    assert by_key[10] == [(5.0, 5.0)]
    # key 20: s_1 = 3.0, s_2 = 0.5*3 + 0.5*9 = 6.0 (event_id order)
    assert sorted(by_key[20]) == [(3.0, 3.0), (9.0, 6.0)]


def test_sessionize_segmented_is_bit_identical(spark):
    """n_segments session labeling must equal the single-window form
    EXACTLY — boundary flags across segment borders, prefix-sum
    session numbers, and per-session aggregates all integer."""
    import random
    from datetime import datetime, timedelta

    from event_streaming_service_spark.operators.windows import sessionize
    rng = random.Random(23)
    base = datetime(2024, 2, 1)
    rows = [(i, i % 4, base + timedelta(seconds=rng.randrange(50_000)))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    gap = 120_000  # 2 min: plenty of genuine session breaks
    plain = {(r["user_id"], r["session_seq"]):
             (r["session_start"], r["session_end"], r["n_events"])
             for r in sessionize(df, "user_id", "ts", gap,
                                 "event_id").collect()}
    seg = {(r["user_id"], r["session_seq"]):
           (r["session_start"], r["session_end"], r["n_events"])
           for r in sessionize(df, "user_id", "ts", gap, "event_id",
                               n_segments=9).collect()}
    assert plain == seg


def test_per_key_order_segmented_is_bit_identical(spark):
    import random
    from datetime import datetime, timedelta

    from event_streaming_service_spark.operators.windows import (
        per_key_order,
    )
    rng = random.Random(31)
    base = datetime(2024, 4, 1)
    rows = [(i, i % 3, base + timedelta(seconds=rng.randrange(40_000)))
            for i in range(2500)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    plain = {(r["user_id"], r["event_id"]): (r["seq"], r["prev_event_id"])
             for r in per_key_order(df, "user_id", "ts",
                                    "event_id").collect()}
    seg = {(r["user_id"], r["event_id"]): (r["seq"], r["prev_event_id"])
           for r in per_key_order(df, "user_id", "ts", "event_id",
                                  n_segments=11).collect()}
    assert plain == seg


def test_segmented_paths_respect_sub_millisecond_order(spark):
    """Two events 400us apart share a millisecond (the segment clock)
    but not a timestamp; the segmented decompositions must order by
    FULL-precision ts exactly like the single-window forms — an
    ms-truncated sort key would flip the pair when the tiebreak
    disagrees with the time order."""
    from datetime import datetime, timedelta

    from event_streaming_service_spark.operators.analytics import (
        transition_matrix,
    )
    from event_streaming_service_spark.operators.windows import (
        per_key_order,
    )
    t0 = datetime(2024, 5, 1)
    rows = [
        # event_id order CONTRADICTS time order inside one millisecond
        (9, 1, t0 + timedelta(microseconds=500), "a"),
        (1, 1, t0 + timedelta(microseconds=900), "b"),
        (5, 1, t0 + timedelta(seconds=2), "c"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    plain_o = {r["event_id"]: (r["seq"], r["prev_event_id"])
               for r in per_key_order(df, "user_id", "ts",
                                      "event_id").collect()}
    seg_o = {r["event_id"]: (r["seq"], r["prev_event_id"])
             for r in per_key_order(df, "user_id", "ts", "event_id",
                                    n_segments=4).collect()}
    assert plain_o == seg_o
    assert plain_o[9] == (1, None) and plain_o[1] == (2, 9)

    plain_t = {(r["prev_type"], r["next_type"]): r["n_transitions"]
               for r in transition_matrix(df, "user_id", "ts",
                                          "event_type",
                                          order_tiebreak="event_id")
               .collect()}
    seg_t = {(r["prev_type"], r["next_type"]): r["n_transitions"]
             for r in transition_matrix(df, "user_id", "ts", "event_type",
                                        order_tiebreak="event_id",
                                        n_segments=4).collect()}
    assert plain_t == seg_t == {("a", "b"): 1, ("b", "c"): 1}


def test_topic_dashboard_null_ids_match_oracle(spark):
    """COUNT(DISTINCT event_id) skips NULL ids: t1's ids {1, 1, NULL, 2}
    give distinct 2 and duplicates 2; t2's ids are all NULL (distinct
    0, duplicates 2, the topic still reported); a NULL topic is one
    group of its own. Checked against the dashboard's oracle SQL over
    the same rows."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from event_streaming_service_spark.operators import stats
    from event_streaming_service_spark.query_defs.stats_queries import (
        TOPIC_DASHBOARD_SQL)
    from tests.parity import compare

    t0 = dt.datetime(2024, 1, 1)
    rows = [("t1", 1, "ok", 10.0), ("t1", 1, "ok", 20.0),
            ("t1", None, "error", 30.0), ("t1", 2, "ok", 40.0),
            ("t2", None, "ok", 5.0), ("t2", None, "error", 7.0),
            (None, 3, "ok", 1.0), (None, 3, "ok", 2.0)]
    rows = [(tp, eid, et, v, t0 + dt.timedelta(minutes=i))
            for i, (tp, eid, et, v) in enumerate(rows)]
    cols = ["topic", "event_id", "event_type", "value", "ts"]
    ec = spark.createDataFrame(
        rows, "topic string, event_id bigint, event_type string,"
              " value double, ts timestamp")
    out = stats.topic_dashboard(ec)
    got = {r["topic"]: (r["distinct_events"], r["duplicates"])
           for r in out.collect()}
    assert got == {"t1": (2, 2), "t2": (0, 2), None: (1, 1)}

    pdf = pd.DataFrame(rows, columns=cols).astype({"event_id": "Int64"})
    con = duckdb.connect()
    try:
        con.register("events_coords", pdf)
        want = con.execute(TOPIC_DASHBOARD_SQL).df()
    finally:
        con.close()
    compare(out, want, "topic_dashboard")
