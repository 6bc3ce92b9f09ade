"""Round-13 size-gated broadcast hints (operators/hints.py).

VERDICT r12 item #1: unconditional F.broadcast hints on
corpus-proportional frames OOM at the 100 TB design point. The gate
must (a) keep the exact BroadcastHashJoin shape when the estimate
fits (sf0.1 plan parity), (b) take the NON-broadcast path above it,
and (c) never change results either way.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from event_streaming_service_spark.operators import dedup
from event_streaming_service_spark.operators.hints import (
    gated_broadcast, gated_broadcast_rows, plan_bytes)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _frames(spark):
    big = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    small = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("w"))
    return big, small


def test_gate_below_cap_broadcasts(spark):
    big, small = _frames(spark)
    joined = big.join(gated_broadcast(small, est_bytes=1024), "k")
    assert "BroadcastHashJoin" in _plan(joined)


def test_gate_above_cap_takes_shuffle_path(spark):
    big, small = _frames(spark)
    joined = big.join(
        gated_broadcast(small, est_bytes=1 << 40), "k")
    plan = _plan(joined)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_gate_unknown_rows_is_conservative(spark):
    big, small = _frames(spark)
    joined = big.join(
        gated_broadcast_rows(small, est_rows=None,
                             row_payload_bytes=16), "k")
    assert "BroadcastHashJoin" not in _plan(joined)


def test_gate_known_rows_broadcasts(spark):
    big, small = _frames(spark)
    joined = big.join(
        gated_broadcast_rows(small, est_rows=10,
                             row_payload_bytes=16), "k")
    assert "BroadcastHashJoin" in _plan(joined)


def test_gate_results_identical_both_sides(spark):
    big, small = _frames(spark)
    lo = big.join(gated_broadcast(small, est_bytes=1), "k")
    hi = big.join(gated_broadcast(small, est_bytes=1 << 40), "k")
    assert sorted(map(tuple, lo.collect())) \
        == sorted(map(tuple, hi.collect()))


def test_plan_bytes_parquet_scan_matches_file_size(spark, sf_smoke):
    import os
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    est = plan_bytes(emb)
    actual = os.path.getsize(f"{sf_smoke}/embeddings.parquet")
    # Catalyst charges the on-disk size (maybe x compression factor);
    # same order of magnitude is all the gate needs
    assert 0 < est <= actual * 8
    assert est >= actual / 8


def test_connected_components_stats_out(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a bigint, doc_b bigint")
    stats: dict = {}
    labels = dedup.connected_components(pairs, stats_out=stats)
    rows = {r["node"]: r["component"] for r in labels.collect()}
    # both paths report the exact node count
    assert len(rows) == 9
    assert stats["n_nodes_max"] == 9
    assert rows[3] == 1 and rows[11] == 10 and rows[23] == 20
    spark.conf.set("spark.graft.cc.localMaxPairs", "0")
    try:
        stats_loop: dict = {}
        dedup.connected_components(
            pairs, stats_out=stats_loop).collect()
    finally:
        spark.conf.unset("spark.graft.cc.localMaxPairs")
    assert stats_loop["n_nodes_max"] == 9


def test_semdedup_round9_halfup_matches_jvm_round(spark):
    """ADVICE r11 / VERDICT r12 residual: the Arrow kernels pin
    cosines with sign(c) * floor(|c| * 1e9 + 0.5) / 1e9 and claim
    F.round(c, 9) parity. Assert it on a DETERMINISTIC dense sweep of
    integer-vector cosines (the exact float pipeline the semdedup /
    contamination kernels run), not just a random fixture — any
    divergence at a .5e-9 boundary would silently split the oracle."""
    import math

    import numpy as np

    vals = []
    refs = [(1, 0), (1, 1), (3, 4), (7, 24), (12, 5), (5, 12)]
    for a in range(-25, 26):
        for b in range(-25, 26):
            if a == 0 and b == 0:
                continue
            for c, d in refs:
                g = a * c + b * d
                den = (math.sqrt(float(a * a + b * b))
                       * math.sqrt(float(c * c + d * d)))
                vals.append(float(g) / den)
    arr = np.asarray(vals, dtype=np.float64)
    kernel = np.sign(arr) * (np.floor(np.abs(arr) * 1e9 + 0.5) / 1e9)
    df = spark.createDataFrame([(float(v),) for v in vals], "c double")
    jvm = [r["r"] for r in
           df.select(F.round("c", 9).alias("r")).collect()]
    assert np.array_equal(np.asarray(jvm, dtype=np.float64), kernel)


def test_cc_union_find_and_loop_agree(spark):
    # chain + star + triangle + singletons-by-absence: exercises path
    # compression, min-label selection and multi-batch unions
    edges = ([(i, i + 1) for i in range(100, 140)]          # chain
             + [(500, x) for x in range(501, 520)]          # star
             + [(7, 8), (8, 9), (7, 9)]                     # triangle
             + [(1000, 999)])                               # reversed pair
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    uf = {(r["node"], r["component"])
          for r in dedup.connected_components(pairs).collect()}
    spark.conf.set("spark.graft.cc.localMaxPairs", "0")
    try:
        loop = {(r["node"], r["component"])
                for r in dedup.connected_components(pairs).collect()}
    finally:
        spark.conf.unset("spark.graft.cc.localMaxPairs")
    assert uf == loop
    comp = dict(uf)
    assert comp[139] == 100 and comp[519] == 500 and comp[9] == 7
    assert comp[1000] == 999


def test_cluster_survivors_gate_parity(spark):
    clusters = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 2), (3, 3, 1), (4, 4, 3), (5, 4, 3),
         (6, 4, 3)],
        "doc_id bigint, cluster_id bigint, cluster_size bigint")
    quality = spark.createDataFrame(
        [(i, 10 * i) for i in range(1, 7)], "doc_id bigint, q bigint")
    gated = dedup.cluster_survivors(clusters, quality, "q",
                                    n_members=5)
    ungated = dedup.cluster_survivors(clusters, quality, "q",
                                      n_members=None)
    assert sorted(map(tuple, gated.collect())) \
        == sorted(map(tuple, ungated.collect()))
    surv = {r["doc_id"]: r["is_survivor"] for r in gated.collect()}
    assert surv == {1: False, 2: True, 3: True, 4: False, 5: False,
                    6: True}
