"""Product-quantization ANN query (operators/pq.py): the full PQ
pipeline — SQ8 int codes, per-subspace sampled codebook, integer
argmin code assignment, integer ADC top-k — mirrored literally in
DuckDB SQL. Every step downstream of the (already oracle-proven) SQ8
quantization is integer arithmetic, so even this 'approximate' index
is hash-exact cross-engine."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from event_streaming_service_spark.operators import pq
from event_streaming_service_spark.queries import register
from event_streaming_service_spark.sources import tables

_K = 10
_M = 8        # subspaces
_DSUB = 8     # dims per subspace (64-dim fixture vectors)
_NCODES = 16  # codebook size per subspace
_QMOD = 125   # queries: vec_id % _QMOD == 0


def _pq_oracle(k: int = _K, m_sub: int = _M, d_sub: int = _DSUB,
               n_codes: int = _NCODES, query_mod: int = _QMOD) -> str:
    """pq_topk end to end in SQL: SQ8 codes, the first n_codes vectors
    as the sampled codebook, per-subspace integer argmin assignment,
    integer ADC scores and the rank window. The defaults are the
    registered query's; tests pass their fixture's shape."""
    return f"""
    WITH dims AS (
        SELECT pos, MIN(CAST(val AS DOUBLE)) AS mn,
               MAX(CAST(val AS DOUBLE)) AS mx
        FROM (SELECT unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY pos),
    stats AS (
        SELECT list(mn ORDER BY pos) AS mns,
               list(mx ORDER BY pos) AS mxs
        FROM dims),
    q AS (
        SELECT vec_id,
               list_transform(range(1, len(embedding) + 1), i ->
                   CASE WHEN mxs[i] > mns[i]
                        THEN CAST(FLOOR((CAST(embedding[i] AS DOUBLE)
                                         - mns[i]) * 254.0
                                        / (mxs[i] - mns[i]) + 0.5)
                                  AS INTEGER) - 127
                        ELSE 0 END) AS qv
        FROM embeddings, stats),
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, qv AS cv
        FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {n_codes})),
    subs AS (SELECT unnest(range(0, {m_sub})) AS m),
    dist AS (
        SELECT q.vec_id, s.k, subs.m,
               CAST(list_sum(list_transform(range(1, {d_sub} + 1), i ->
                   CAST(q.qv[subs.m * {d_sub} + i]
                        - s.cv[subs.m * {d_sub} + i] AS BIGINT)
                   * (q.qv[subs.m * {d_sub} + i]
                      - s.cv[subs.m * {d_sub} + i]))) AS BIGINT) AS d
        FROM q, seeds s, subs),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, k) AS rn
            FROM dist) WHERE rn = 1),
    queries AS (
        SELECT vec_id AS query_id, qv AS qqv
        FROM q WHERE vec_id % {query_mod} = 0),
    scores AS (
        SELECT qu.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(list_sum(list_transform(
                   range(1, {d_sub} + 1), i ->
                       CAST(qu.qqv[c.m * {d_sub} + i] AS BIGINT)
                       * s.cv[c.m * {d_sub} + i])) AS BIGINT))
                    AS BIGINT) AS adc_score
        FROM queries qu
        CROSS JOIN codes c
        JOIN seeds s ON s.k = c.k
        WHERE c.vec_id <> qu.query_id
        GROUP BY qu.query_id, c.vec_id)
    SELECT query_id, neighbor_id, adc_score, rank FROM (
        SELECT query_id, neighbor_id, adc_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_score DESC,
                                                neighbor_id)
                    AS INTEGER) AS rank
        FROM scores
    ) WHERE rank <= {k}
    """


@register(
    "pq_cosine_topk",
    oracle=_pq_oracle(),
    tags=("similarity", "ann-pq", "quantize", "embedding"),
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-10 self-search over the embeddings
    fixture: 8 subspaces x 16-centroid sampled codebook over the SQ8
    int representation; code assignment is one tensor argmin per
    Arrow batch (no join, no shuffle over the corpus) and the ADC scan
    gathers each of the 4 queries' lookup tables."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return pq.pq_topk(emb, k=_K, m_sub=_M, n_codes=_NCODES,
                      query_mod=_QMOD)


# Shared SQ8-quantization prefix (identical to the proven CTEs in
# pq_cosine_topk above — kept verbatim so the quantized representation
# is the same object in every PQ oracle).
_QUANT = f"""
    dims AS (
        SELECT pos, MIN(CAST(val AS DOUBLE)) AS mn,
               MAX(CAST(val AS DOUBLE)) AS mx
        FROM (SELECT unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY pos),
    stats AS (
        SELECT list(mn ORDER BY pos) AS mns,
               list(mx ORDER BY pos) AS mxs
        FROM dims),
    q AS (
        SELECT vec_id,
               list_transform(range(1, len(embedding) + 1), i ->
                   CASE WHEN mxs[i] > mns[i]
                        THEN CAST(FLOOR((CAST(embedding[i] AS DOUBLE)
                                         - mns[i]) * 254.0
                                        / (mxs[i] - mns[i]) + 0.5)
                                  AS INTEGER) - 127
                        ELSE 0 END) AS qv
        FROM embeddings, stats)"""


@register(
    "pq_trained_topk",
    oracle=f"""
    WITH {_QUANT},
    seeds0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, qv AS cv
        FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {_NCODES})),
    subs AS (SELECT unnest(range(0, {_M})) AS m),
    pos AS (SELECT unnest(range(1, {_DSUB} + 1)) AS i),
    dist0 AS (
        SELECT q.vec_id, s.k, subs.m,
               CAST(list_sum(list_transform(range(1, {_DSUB} + 1), i ->
                   CAST(q.qv[subs.m * {_DSUB} + i]
                        - s.cv[subs.m * {_DSUB} + i] AS BIGINT)
                   * (q.qv[subs.m * {_DSUB} + i]
                      - s.cv[subs.m * {_DSUB} + i]))) AS BIGINT) AS d
        FROM q, seeds0 s, subs),
    codes0 AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, k) AS rn
            FROM dist0) WHERE rn = 1),
    -- integer Lloyd round: per (subspace, code, component) exact
    -- member sums; centroid update is PYTHON floor division, which
    -- DuckDB's truncating // must emulate as (s - pmod(s, n)) // n
    -- (ADVICE r5 #2: -7 // 2 is -3 in DuckDB but -4 in Python)
    upd AS (
        SELECT c.m, c.k, pos.i,
               CAST(SUM(CAST(q.qv[c.m * {_DSUB} + pos.i] AS BIGINT))
                    AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM codes0 c JOIN q USING (vec_id), pos
        GROUP BY c.m, c.k, pos.i),
    seed_pos AS (
        SELECT s.k, subs.m, pos.i,
               s.cv[subs.m * {_DSUB} + pos.i] AS old_val
        FROM seeds0 s, subs, pos),
    new_vals AS (
        SELECT sp.k, sp.m, sp.i,
               COALESCE(
                   CAST((u.s - ((u.s % u.n + u.n) % u.n)) // u.n
                        AS INTEGER),
                   sp.old_val) AS val
        FROM seed_pos sp
        LEFT JOIN upd u ON u.m = sp.m AND u.k = sp.k AND u.i = sp.i),
    seeds AS (
        SELECT k, list(val ORDER BY m, i) AS cv
        FROM new_vals GROUP BY k),
    dist AS (
        SELECT q.vec_id, s.k, subs.m,
               CAST(list_sum(list_transform(range(1, {_DSUB} + 1), i ->
                   CAST(q.qv[subs.m * {_DSUB} + i]
                        - s.cv[subs.m * {_DSUB} + i] AS BIGINT)
                   * (q.qv[subs.m * {_DSUB} + i]
                      - s.cv[subs.m * {_DSUB} + i]))) AS BIGINT) AS d
        FROM q, seeds s, subs),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, k) AS rn
            FROM dist) WHERE rn = 1),
    queries AS (
        SELECT vec_id AS query_id, qv AS qqv
        FROM q WHERE vec_id % {_QMOD} = 0),
    scores AS (
        SELECT qu.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(list_sum(list_transform(
                   range(1, {_DSUB} + 1), i ->
                       CAST(qu.qqv[c.m * {_DSUB} + i] AS BIGINT)
                       * s.cv[c.m * {_DSUB} + i])) AS BIGINT))
                    AS BIGINT) AS adc_score
        FROM queries qu
        CROSS JOIN codes c
        JOIN seeds s ON s.k = c.k
        WHERE c.vec_id <> qu.query_id
        GROUP BY qu.query_id, c.vec_id)
    SELECT query_id, neighbor_id, adc_score, rank FROM (
        SELECT query_id, neighbor_id, adc_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_score DESC,
                                                neighbor_id)
                    AS INTEGER) AS rank
        FROM scores
    ) WHERE rank <= {_K}
    """,
    tags=("similarity", "ann-pq", "quantize", "lloyd"),
)
def q_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 with a TRAINED codebook: one integer Lloyd round
    (operators/pq.py:train_codebook — Arrow code assignment, exact
    per-component member sums, floor-divided centroid update, empty
    cells keep their seed) refines the sampled seeds, then the standard
    literal-codebook assignment + integer ADC runs against the refined
    centroids. The oracle unrolls the round in SQL; the centroid
    update reproduces Python floor division via (s - pmod(s, n)) // n
    since DuckDB's // truncates toward zero."""
    from event_streaming_service_spark.operators.quantize import (
        quantize_codes)
    emb = tables.load_table(spark, sf_dir, "embeddings")
    q = quantize_codes(emb, "embedding", "vec_id")
    trained = pq.train_codebook(q, m_sub=_M, n_codes=_NCODES,
                                lloyd_rounds=1)
    return pq.pq_topk(emb, k=_K, m_sub=_M, n_codes=_NCODES,
                      query_mod=_QMOD, codebook=trained)


_COS = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})))")
_SIM_VC = "ROUND(" + _COS.format(a="v.vec", b="c.centroid") + ", 9)"
_NCELLS = 16
_NPROBE = 4


@register(
    "ivfpq_cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings),
    cells AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cell, vec AS centroid
        FROM (SELECT vec_id, vec FROM v ORDER BY vec_id
              LIMIT {_NCELLS})),
    c_cells AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_SIM_VC} DESC, c.cell) AS rnk
            FROM v, cells c) WHERE rnk = 1),
    q_cells AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_SIM_VC} DESC, c.cell) AS rnk
            FROM v, cells c WHERE v.vec_id % {_QMOD} = 0)
        WHERE rnk <= {_NPROBE}),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id
        FROM q_cells JOIN c_cells USING (cell)
        WHERE query_id <> neighbor_id),
    dims AS (
        SELECT pos, MIN(CAST(val AS DOUBLE)) AS mn,
               MAX(CAST(val AS DOUBLE)) AS mx
        FROM (SELECT unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY pos),
    stats AS (
        SELECT list(mn ORDER BY pos) AS mns,
               list(mx ORDER BY pos) AS mxs
        FROM dims),
    qv_tbl AS (
        SELECT vec_id,
               list_transform(range(1, len(embedding) + 1), i ->
                   CASE WHEN mxs[i] > mns[i]
                        THEN CAST(FLOOR((CAST(embedding[i] AS DOUBLE)
                                         - mns[i]) * 254.0
                                        / (mxs[i] - mns[i]) + 0.5)
                                  AS INTEGER) - 127
                        ELSE 0 END) AS qv
        FROM embeddings, stats),
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, qv AS cv
        FROM (SELECT vec_id, qv FROM qv_tbl ORDER BY vec_id
              LIMIT {_NCODES})),
    subs AS (SELECT unnest(range(0, {_M})) AS m),
    dist AS (
        SELECT t.vec_id, s.k, subs.m,
               CAST(list_sum(list_transform(range(1, {_DSUB} + 1), i ->
                   CAST(t.qv[subs.m * {_DSUB} + i]
                        - s.cv[subs.m * {_DSUB} + i] AS BIGINT)
                   * (t.qv[subs.m * {_DSUB} + i]
                      - s.cv[subs.m * {_DSUB} + i]))) AS BIGINT) AS d
        FROM qv_tbl t, seeds s, subs),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, k) AS rn
            FROM dist) WHERE rn = 1),
    qq AS (
        SELECT vec_id AS query_id, qv AS qqv
        FROM qv_tbl WHERE vec_id % {_QMOD} = 0),
    scores AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(CAST(list_sum(list_transform(
                   range(1, {_DSUB} + 1), i ->
                       CAST(qq.qqv[c.m * {_DSUB} + i] AS BIGINT)
                       * s.cv[c.m * {_DSUB} + i])) AS BIGINT))
                    AS BIGINT) AS adc_score
        FROM cand
        JOIN codes c ON c.vec_id = cand.neighbor_id
        JOIN seeds s ON s.k = c.k
        JOIN qq ON qq.query_id = cand.query_id
        GROUP BY cand.query_id, cand.neighbor_id)
    SELECT query_id, neighbor_id, adc_score, rank FROM (
        SELECT query_id, neighbor_id, adc_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_score DESC,
                                                neighbor_id)
                    AS INTEGER) AS rank
        FROM scores
    ) WHERE rank <= {_K}
    """,
    tags=("similarity", "ann-pq", "ann-ivf", "quantize"),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ, the production ANN composition: probe the 4 nearest
    of 16 seed cells (9dp-pinned cosine argmax), then integer PQ-ADC
    rerank over ONLY the probed candidates — candidates ride an
    equi-join on the cell id, scores touch 8 one-byte codes per pair.
    Runs BLAS cell assignment, tensor code assignment and LUT-gather
    ADC; the whole two-stage pipeline is deterministic, and its oracle
    reproduces it in SQL."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return pq.ivf_pq_topk(emb, k=_K, n_cells=_NCELLS, n_probe=_NPROBE,
                          m_sub=_M, n_codes=_NCODES, query_mod=_QMOD)
