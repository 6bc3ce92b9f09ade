"""Round-11 operators: full-vector integer-Lloyd k-means, logistic
train->apply cell scoring, paragraph-grain exact dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_service_spark.operators import dedup, kmeans


# ---- k-means over embeddings --------------------------------------


def test_kmeans_separates_planted_clusters(spark):
    """Two tight planted blobs, k=2: seeds are the first 2 vectors by
    id (one from each blob by construction), every vector must land
    with its blob, and the report's member counts and exact inertia
    must match the hand computation on the SQ8 representation.

    With dim-wise min=0 / max=100 the SQ8 code is
    floor((v - 0) * 254 / 100 + 0.5) - 127: v=0 -> -127, v=100 -> 127,
    v=2 -> -122, v=98 -> 122. Blob A = {(0,0), (2,2)} (ids 0, 2),
    blob B = {(100,100), (98,98)} (ids 1, 3)."""
    rows = [(0, [0.0, 0.0]), (1, [100.0, 100.0]),
            (2, [2.0, 2.0]), (3, [98.0, 98.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = {r["cluster_id"]: r
           for r in kmeans.kmeans_cluster_report(
               emb, n_clusters=2, rounds=2).collect()}
    assert set(rep) == {0, 1}
    assert rep[0]["n_members"] == 2 and rep[1]["n_members"] == 2
    assert rep[0]["share_ppm"] == 500_000
    # round 1: members of cluster 0 are qv {(-127,-127), (-122,-122)}
    # -> centroid floor-mean (-125, -125) (floor((-127-122)//2));
    # cluster 1 {(127,127), (122,122)} -> (124, 124) ((127+122)//2).
    # round 2: assignment unchanged, centroids unchanged.
    # inertia cluster 0: 2*((-127+125)^2) + 2*((-122+125)^2) = 8+18=26
    assert rep[0]["inertia"] == 26
    assert rep[1]["inertia"] == 2 * (127 - 124) ** 2 + 2 * (122 - 124) ** 2
    assert rep[0]["mean_point_inertia"] == 13


def test_kmeans_empty_cluster_keeps_seed(spark):
    """k=3 over 2 distinct points duplicated: the third seed equals an
    earlier one component-wise? No — seeds are the FIRST 3 vectors by
    id, so seed 2 duplicates seed 0's position and can never win an
    argmin tie (tiebreak smallest cluster id). It stays empty and must
    keep its centroid without NULLing the report (absent from the
    member report is the correct semantics)."""
    rows = [(0, [0.0, 0.0]), (1, [100.0, 100.0]),
            (2, [0.0, 0.0]), (3, [100.0, 100.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = {r["cluster_id"]: r["n_members"]
           for r in kmeans.kmeans_cluster_report(
               emb, n_clusters=3, rounds=1).collect()}
    # cluster 2 (duplicate of cluster 0's seed) loses every tiebreak
    assert rep == {0: 2, 1: 2}


def test_semdedup_finds_planted_duplicate(spark):
    """A duplicated vector inside one cluster must pair at cosine
    exactly 1.0; the orthogonal vector lives in its own cluster and
    pairs with nothing. SQ8 over dim envelopes [0,10]: 10 -> 127,
    0 -> -127, so ids 0 and 2 quantize identically."""
    rows = [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [10.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans.semdedup_pairs(emb, n_clusters=2, rounds=1,
                                threshold_ppb=990_000_000).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["vec_a"], r["vec_b"]) == (0, 2)
    assert r["cosine_9dp"] == 1.0


def test_semdedup_pairs_matches_oracle(spark, tmp_path):
    """The Gram kernel against semdedup_pairs' own oracle SQL on a
    low-threshold fixture where every within-cluster pair survives,
    so the comparison covers the full pair grid."""
    import random

    from event_streaming_service_spark.query_defs.kmeans_queries import (
        _semdedup_oracle)
    from tests.parity import check_embeddings_oracle, write_embeddings

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(60)]
    emb = write_embeddings(spark, tmp_path, rows)
    out = kmeans.semdedup_pairs(emb, n_clusters=4, rounds=1,
                                threshold_ppb=-2_000_000_000)
    assert out.count() > 100
    check_embeddings_oracle(
        out, _semdedup_oracle(4, 1, 8, -2_000_000_000), tmp_path,
        "semdedup_pairs")


def test_ivf_trained_probes_right_cells(spark):
    """Two tight blobs, k=2 cells, probe=1: a query in blob A must
    rerank ONLY blob-A members (blob B is never probed), ranked by
    exact integer dot product. Query = id 0 (10,0); blob A = ids
    0,2,4 near (10,0); blob B = ids 1,3 near (0,10)."""
    rows = [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [10.0, 1.0]),
            (3, [1.0, 10.0]), (4, [9.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans.ivf_trained_topk(emb, k=10, n_cells=2, n_probe=1,
                                  rounds=1, query_mod=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # every vector is a query (query_mod=1); blob-A queries see only
    # blob-A neighbors and vice versa
    assert sorted(by_q[0]) == [2, 4]
    assert sorted(by_q[2]) == [0, 4]
    assert sorted(by_q[4]) == [0, 2]
    assert sorted(by_q[1]) == [3]
    assert sorted(by_q[3]) == [1]


# ---- paragraph-grain exact dedup ----------------------------------


def test_paragraph_dedup_counts(spark):
    """para_len=2 hand case: doc 1 = 'a b a b c' segments to
    ['a b', 'a b', 'c'] (intra-doc repeat + short tail), doc 2 =
    'a b x y' segments to ['a b', 'x y']. Corpus counts: 'a b' -> 3,
    'c' -> 1, 'x y' -> 1."""
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x y")], "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in dedup.paragraph_dedup_stats(
               docs, para_len=2).collect()}
    assert out[1]["n_paragraphs"] == 3
    assert out[1]["n_distinct_paragraphs"] == 2
    assert out[1]["n_dup_paragraphs"] == 2          # the two 'a b'
    assert out[1]["dup_ppm"] == 2 * 1_000_000 // 3
    assert out[2]["n_paragraphs"] == 2
    assert out[2]["n_distinct_paragraphs"] == 2
    assert out[2]["n_dup_paragraphs"] == 1          # its 'a b'
    assert out[2]["dup_ppm"] == 500_000


def test_paragraph_dedup_skips_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "   ")], "doc_id long, text string")
    out = dedup.paragraph_dedup_stats(docs, para_len=2).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_hard_negative_excludes_same_label(spark):
    """The most-similar SAME-label vector must never appear: anchor 0
    (label 0) sits next to id 1 (label 0, near-identical) but its
    hard negatives are drawn from labels != 0 only — the nearest is
    the label-1 vector pointing almost the same way."""
    from event_streaming_service_spark.operators import similarity

    rows = [(0, 0, [10.0, 0.0]), (1, 0, [10.0, 0.1]),
            (2, 1, [9.0, 1.0]), (3, 1, [0.0, 10.0])]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    out = similarity.hard_negative_topk(emb, k=2, query_mod=1).collect()
    mine = sorted([(r["neighbor_id"], r["rank"]) for r in out
                   if r["query_id"] == 0])
    assert mine == [(2, 1), (3, 2)]       # id 1 (same label) excluded
    assert all(r["neighbor_label"] != r["query_label"] for r in out)


def test_split_leakage_matrix_counts_planted_pair(spark):
    """One planted near-dup pair (identical long docs) must land in
    exactly the sorted-(split, split) cell of the leak matrix, the
    splits computed independently from the content-hash assignment;
    the unrelated third doc contributes nothing."""
    from event_streaming_service_spark.operators.curation import (
        split_assign)
    from event_streaming_service_spark.query_defs.dedup_queries import (
        JACCARD_THRESHOLD)

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text),
         (3, "totally different words nothing shared here at all")],
        "doc_id long, text string")
    pairs = dedup.minhash_near_dups(docs, JACCARD_THRESHOLD)
    assert {(r["doc_a"], r["doc_b"])
            for r in pairs.collect()} == {(1, 2)}
    sp_frame = docs.select("doc_id",
                           split_assign(F.col("doc_id")).alias("split"))
    sp = {r["doc_id"]: r["split"] for r in sp_frame.collect()}
    want = tuple(sorted((sp[1], sp[2])))
    matrix = (pairs
              .join(sp_frame.select(F.col("doc_id").alias("doc_a"),
                                    F.col("split").alias("__sa")),
                    "doc_a")
              .join(sp_frame.select(F.col("doc_id").alias("doc_b"),
                                    F.col("split").alias("__sb")),
                    "doc_b")
              .select(F.least("__sa", "__sb").alias("lo"),
                      F.greatest("__sa", "__sb").alias("hi"))
              .groupBy("lo", "hi").count().collect())
    assert [(r["lo"], r["hi"], r["count"]) for r in matrix] \
        == [(want[0], want[1], 1)]


# ---- logistic train->apply calibration grid ------------------------


def test_ols2_kfold_recovers_exact_linear_model(spark):
    """Noise-free planted plane y = 3 + 2*x1 + 5*x2: every fold's
    complement-moment fit must recover the cent-scaled betas
    (300, 200, 500) exactly and score zero held-out error. Features
    derive from id%7 and id//7 so no fold can be collinear."""
    from event_streaming_service_spark.operators import analytics

    rows = [(i, i % 7, (i // 7) % 5,
             float(3 + 2 * (i % 7) + 5 * ((i // 7) % 5)))
            for i in range(700)]
    df = spark.createDataFrame(
        rows, "event_id long, x1 long, x2 long, value double")
    out = analytics.ols2_kfold_cv(df, "x1", "x2", "value",
                                  "event_id", k=5).collect()
    assert len(out) == 5
    assert sum(r["n_test"] for r in out) == 700
    for r in out:
        assert r["n_train"] + r["n_test"] == 700
        assert (r["beta0"], r["beta_x1"], r["beta_x2"]) \
            == (300.0, 200.0, 500.0)
        assert r["mae_cents"] == 0 and r["mse_cents2"] == 0


def test_logreg2_cell_scores_balanced_grid(spark):
    """On a perfectly balanced 2x2 design (every cell 50% positive)
    Newton stays at beta=0, so the model scores every cell
    sigmoid(0) = 0.5 -> 500000000 nano, and the observed rate is
    500000000 too: every delta is exactly zero. Features derive from
    id//2 and id//4 so the label (id%2) is independent of both (the
    parity-confound rule)."""
    from event_streaming_service_spark.operators import analytics

    rows = [(i % 2, (i // 2) % 2, (i // 4) % 2) for i in range(16)]
    df = spark.createDataFrame(rows, "y int, x1 long, x2 long")
    model = analytics.logistic2_newton(
        df, F.col("y") == 1, "x1", "x2", rounds=3)
    beta = model.select(F.col("b0_micro").alias("b0"),
                        F.col("b1_micro").alias("b1"),
                        F.col("b2_micro").alias("b2"))
    cells = (df.groupBy("x1", "x2")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                  F.sum("y").cast("bigint").alias("n_purchases")))
    out = (cells.crossJoin(F.broadcast(beta))
           .withColumn("model_p_nano",
                       F.expr(analytics.LOGIT_P_NANO_SQL))
           .withColumn("obs_p_nano",
                       F.expr("n_purchases * 1000000000 DIV n_events"))
           .collect())
    assert len(out) == 4
    for r in out:
        assert r["model_p_nano"] == 500_000_000
        assert r["obs_p_nano"] == 500_000_000


# u . v = 8 and |u|^2 = |v|^2 = 1024, so cos(u, v) = 1/128 exactly and
# cosine * 1e6 = 7812.5: 6 dp half away from zero (DuckDB ROUND) gives
# 0.007813, half to even would give 0.007812.
_U = [31.0, 7.0, 3.0, 2.0, 1.0]
_V = [-7.0, 25.0, 5.0, 10.0, 15.0]


def test_hard_negative_topk_matches_oracle(spark, tmp_path):
    """The broadcast-anchor kernel against hard_negative_topk's own
    oracle SQL: a random fixture (the in-kernel label filter must not
    change recall) and the u/v pair whose cosine sits on a 6 dp
    half-microunit boundary."""
    import random

    from event_streaming_service_spark.operators import similarity
    from event_streaming_service_spark.query_defs.similarity_queries import (
        _hard_negative_oracle)
    from tests.parity import check_embeddings_oracle, write_embeddings

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(60)]
    emb = write_embeddings(spark, tmp_path, rows,
                           {i: i % 3 for i in range(60)})
    out = similarity.hard_negative_topk(emb, k=3, query_mod=10)
    assert out.count() == 6 * 3
    check_embeddings_oracle(out, _hard_negative_oracle(10, 3), tmp_path,
                            "hard_negative_topk")

    # anchors 0 (u) and 10 (v), each the other's only negative
    pair_dir = tmp_path / "uv"
    pair_dir.mkdir()
    emb = write_embeddings(spark, pair_dir, [(0, _U), (10, _V)],
                           {0: 0, 10: 1})
    out = similarity.hard_negative_topk(emb, k=3, query_mod=10)
    assert [r["cosine"] for r in out.collect()] == [0.007813, 0.007813]
    check_embeddings_oracle(out, _hard_negative_oracle(10, 3), pair_dir,
                            "hard_negative_topk")


@pytest.mark.parametrize("max_broadcast_rows", [1, None],
                         ids=["tiled", "broadcast"])
def test_cosine_kernels_round_half_up(spark, max_broadcast_rows):
    """The u/v pair on both cosine_topk paths and both
    cosine_near_dup_pairs paths: 6 dp half away from zero, as the
    oracles' DuckDB ROUND."""
    from event_streaming_service_spark.operators import similarity

    emb = spark.createDataFrame([(0, _U), (1, _V)],
                                "vec_id long, embedding array<float>")
    kw = ({} if max_broadcast_rows is None
          else {"max_broadcast_rows": max_broadcast_rows})
    top = sorted(tuple(r) for r in
                 similarity.cosine_topk(emb, emb, 1, **kw).collect())
    assert top == [(0, 1, 0.007813, 1), (1, 0, 0.007813, 1)]
    pairs = [tuple(r) for r in similarity.cosine_near_dup_pairs(
        emb, 0.007813, **kw).collect()]
    assert pairs == [(0, 1, 0.007813)]


def test_semdedup_rounding_boundary_parity(spark, tmp_path):
    """The Gram kernel pins with sign(C)*floor(abs(C)*1e9+0.5)/1e9 in
    binary doubles while the oracle uses DuckDB ROUND(x, 9) — values
    landing EXACTLY on a .5 boundary are where they could diverge.
    Constructed SQ8 vectors u=[31,7,3,2,1], v=[-7,31,2,-3,1]:
    daa=dbb=1024 (dyadic perfect square, so sqrt and the quotient are
    exact in doubles), dab=1, cosine = 1/1024 -> cosine*1e9 =
    976562.5 EXACTLY. Both engines must round it up (away from zero)
    to 0.000976563 and agree on every pair. Envelope rows 0/254 pin
    the per-dim quantizer so each integer vector is q = value - 127
    exactly."""
    from event_streaming_service_spark.query_defs.kmeans_queries import (
        _semdedup_oracle)
    from tests.parity import check_embeddings_oracle, write_embeddings

    rows = [
        (0, [0.0] * 5),                              # qv = [-127]*5
        (1, [254.0] * 5),                            # qv = [+127]*5
        (2, [158.0, 134.0, 130.0, 129.0, 128.0]),    # qv = u
        (3, [120.0, 158.0, 129.0, 124.0, 128.0]),    # qv = v
    ]
    emb = write_embeddings(spark, tmp_path, rows)
    out = kmeans.semdedup_pairs(emb, n_clusters=1, rounds=1,
                                threshold_ppb=-2_000_000_000)
    a = {(r["vec_a"], r["vec_b"]): r["cosine_9dp"] for r in out.collect()}
    assert len(a) == 6
    assert a[(2, 3)] == 0.000976563      # the .5 boundary, rounded up
    assert a[(0, 1)] == -1.0
    check_embeddings_oracle(
        out, _semdedup_oracle(1, 1, 5, -2_000_000_000), tmp_path,
        "semdedup_pairs")
