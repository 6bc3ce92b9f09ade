"""Product-quantization tests (operators/pq.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from event_streaming_service_spark.operators import pq
from event_streaming_service_spark.operators.quantize import quantize_codes


def _emb(spark, n=40, dim=16, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_seed_vectors_code_to_themselves(spark):
    """A codebook seed's subvector distance to its own centroid is 0,
    so (with the smallest-k tiebreak) seed k's code in every subspace
    is at most k — and exactly k when seed subvectors are distinct."""
    emb = _emb(spark)
    out = pq.pq_topk(emb, k=5, m_sub=4, n_codes=8, query_mod=39)
    rows = out.collect()
    # queries: vec_id 0 and 39; each gets exactly 5 ranked neighbors
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 39}
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] \
            == [1, 2, 3, 4, 5]
        # scores non-increasing with rank, ids excluded self
        ordered = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(ordered, ordered[1:]):
            assert (a["adc_score"], -a["neighbor_id"]) \
                >= (b["adc_score"], -b["neighbor_id"])
        assert all(r["neighbor_id"] != q for r in rs)


def test_adc_score_is_exact_for_seed_neighbors(spark):
    """For a neighbor that IS a codebook seed, its PQ reconstruction
    is itself, so the ADC score must equal the exact integer dot of
    the two int8 code vectors — the zero-quantization-error case that
    pins the ADC arithmetic."""
    emb = _emb(spark, n=12, dim=8)
    # n_codes=12 makes EVERY vector a seed
    out = pq.pq_topk(emb, k=11, m_sub=4, n_codes=12, query_mod=11)
    qv = {r["vec_id"]: list(r["qv"])
          for r in quantize_codes(emb).collect()}
    for r in out.where(F.col("query_id") == 0).collect():
        exact = sum(a * b for a, b in
                    zip(qv[0], qv[r["neighbor_id"]]))
        assert r["adc_score"] == exact


def test_ivfpq_is_subset_of_pq_scores(spark):
    """IVF probing only PRUNES candidates: every (query, neighbor)
    pair IVF+PQ returns must carry exactly the same integer ADC score
    the full PQ scan assigns, and the candidate set is a subset of
    the full scan's."""
    emb = _emb(spark, n=60, dim=16, seed=11)
    full = {(r["query_id"], r["neighbor_id"]): r["adc_score"]
            for r in pq.pq_topk(emb, k=59, m_sub=4, n_codes=8,
                                query_mod=29).collect()}
    pruned = pq.ivf_pq_topk(emb, k=10, n_cells=8, n_probe=3,
                            m_sub=4, n_codes=8, query_mod=29).collect()
    assert pruned, "IVF+PQ returned nothing"
    for r in pruned:
        key = (r["query_id"], r["neighbor_id"])
        assert key in full and full[key] == r["adc_score"], key


def test_train_codebook_deterministic_and_reduces_distortion(spark):
    """Integer Lloyd: two runs produce identical codebooks (pure
    integer function of the data) and refined codebooks do not
    increase total quantization distortion vs the sampled init."""
    import numpy as np

    emb = _emb(spark, n=120, dim=16, seed=13)
    qdf = quantize_codes(emb)
    m_sub, n_codes = 4, 8
    trained1 = pq.train_codebook(qdf, m_sub, n_codes, lloyd_rounds=2)
    trained2 = pq.train_codebook(qdf, m_sub, n_codes, lloyd_rounds=2)
    assert trained1 == trained2

    init = [list(map(int, r["qv"]))
            for r in qdf.orderBy("vec_id").limit(n_codes).collect()]
    x = np.array([r["qv"] for r in qdf.orderBy("vec_id").collect()],
                 dtype=np.int64).reshape(-1, m_sub, 4)

    def distortion(seeds):
        cb = np.array(seeds, dtype=np.int64).reshape(
            n_codes, m_sub, 4).transpose(1, 0, 2)
        d = ((x[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        return int(d.min(axis=2).sum())

    assert distortion(trained1) <= distortion(init)


def test_pq_topk_accepts_trained_codebook(spark):
    emb = _emb(spark, n=60, dim=16, seed=17)
    qdf = quantize_codes(emb)
    trained = pq.train_codebook(qdf, 4, 8, lloyd_rounds=1)
    out = pq.pq_topk(emb, k=5, m_sub=4, n_codes=8, query_mod=29,
                     codebook=trained).collect()
    assert out and all(1 <= r["rank"] <= 5 for r in out)
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_train_codebook_floor_division_matches_oracle_on_negatives(spark):
    """ADVICE r5 #2: the centroid update is PYTHON floor division
    (-7 // 2 == -4), while DuckDB's integer // truncates toward zero
    (-7 // 2 == -3). The pq_trained_topk oracle therefore emulates the
    floor as (s - pmod(s, n)) // n; this pins (a) that the emulation
    equals Python floor for negative sums, and (b) that a trained
    centroid from negative-valued members is the floored mean."""
    import duckdb

    for s in range(-17, 18):
        for n in (1, 2, 3, 5):
            got = duckdb.sql(
                f"SELECT ({s} - (({s} % {n} + {n}) % {n})) // {n}"
            ).fetchone()[0]
            assert got == s // n, (s, n, got)

    # all-negative cluster: 4 vectors quantized into one dominant code;
    # every trained component must be the Python-floored mean of
    # integer member values (never the toward-zero truncation)
    rows = [(i, [-1.0 + 0.1 * ((i + j) % 3) for j in range(8)])
            for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = quantize_codes(emb)
    member = {r["vec_id"]: list(r["qv"]) for r in qdf.collect()}
    trained = pq.train_codebook(qdf, m_sub=2, n_codes=2, lloyd_rounds=1)
    # reproduce the round in pure python as the spec
    seeds = [member[0], member[1]]
    d_sub = 4

    def code(vec, m):
        best = None
        for k, cv in enumerate(seeds):
            d = sum((vec[m * d_sub + i] - cv[m * d_sub + i]) ** 2
                    for i in range(d_sub))
            if best is None or d < best[0]:
                best = (d, k)
        return best[1]

    expect = [list(s) for s in seeds]
    for m in range(2):
        sums = {}
        for vec in member.values():
            k = code(vec, m)
            for i in range(d_sub):
                s, n = sums.get((k, i), (0, 0))
                sums[(k, i)] = (s + vec[m * d_sub + i], n + 1)
        for (k, i), (s, n) in sums.items():
            expect[k][m * d_sub + i] = s // n
    assert trained == expect


def _emb_rows(n, dim, seed):
    rng = random.Random(seed)
    return [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)]


def test_pq_topk_matches_oracle(spark, tmp_path):
    """pq_topk against pq_cosine_topk's own oracle SQL at this
    fixture's shape (4 subspaces of 4 dims, 8 codes, 3 queries)."""
    from event_streaming_service_spark.query_defs.pq_queries import (
        _pq_oracle)
    from tests.parity import check_embeddings_oracle, write_embeddings

    emb = write_embeddings(spark, tmp_path, _emb_rows(50, 16, 23))
    out = pq.pq_topk(emb, k=7, m_sub=4, n_codes=8, query_mod=17)
    assert out.count() == 3 * 7
    check_embeddings_oracle(
        out, _pq_oracle(k=7, m_sub=4, d_sub=4, n_codes=8, query_mod=17),
        tmp_path, "pq_topk")


def test_ivf_cosine_topk_matches_oracle(spark, tmp_path):
    """ivf_cosine_topk (one Lloyd round, 8 cells, 3 probes) against
    ivf_cosine_topk's own oracle SQL at this fixture's shape."""
    from event_streaming_service_spark.operators import similarity
    from event_streaming_service_spark.query_defs.similarity_queries import (
        _ivf_oracle)
    from tests.parity import check_embeddings_oracle, write_embeddings

    emb = write_embeddings(spark, tmp_path, _emb_rows(60, 16, 29))
    out = similarity.ivf_cosine_topk(emb.filter("vec_id < 6"), emb, 5,
                                     n_cells=8, n_probe=3)
    assert out.count() > 0
    check_embeddings_oracle(
        out, _ivf_oracle(n_cells=8, n_probe=3, k=5, dim=16, n_query=6),
        tmp_path, "ivf_cosine_topk")


def test_pq_topk_rejects_codebook_of_wrong_width(spark):
    """One entry per code, all one width, but not the corpus dim: the
    count and equal-width checks pass, so the width check must fail
    the query with a "codebook width" error instead of scoring
    truncated codes."""
    import pytest

    emb = _emb(spark, n=40, dim=16, seed=31)
    bad = [[0] * 12 for _ in range(8)]
    with pytest.raises(Exception, match="codebook width"):
        pq.pq_topk(emb, k=5, m_sub=4, n_codes=8, query_mod=13,
                   codebook=bad).collect()
