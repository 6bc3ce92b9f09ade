"""Similarity-search queries over `embeddings` (SURVEY.md section 2.12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_service_spark.operators import similarity
from event_streaming_service_spark.queries import REGISTRY, register
from event_streaming_service_spark.sources import tables

K = 5
N_QUERY_VECS = 8
EMBEDDING_DIM = 64

_COS = ("list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv))"
        " * sqrt(list_dot_product(cv, cv)))")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load_table(spark, sf_dir, "embeddings")


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         scored AS (
            SELECT query_id, neighbor_id, ROUND({_COS}, 6) AS cosine
            FROM q, c WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {K}
    """,
    tags=("similarity", "ann-baseline"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact baseline every ANN variant is
    measured against (cosine rounded to 6dp before ranking). The corpus
    path is threaded through so broadcast-vs-tiled dispatch and the
    broadcast-matrix build are metadata/Arrow reads, not Spark jobs."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.cosine_topk(
        queries, emb, K, corpus_path=f"{sf_dir}/embeddings.parquet")


def _ann_lsh_oracle(n_planes: int = 8) -> str:
    """The hyperplane lattice is deterministic trigonometry
    (similarity._hyperplanes), so the WHOLE approximate pipeline —
    bucket assignment, Hamming-1 multiprobe, candidate join, exact
    rerank — has an exact SQL twin: the plane vectors are embedded as
    double literals (repr = shortest round-trip, parses to the
    identical IEEE value), making this 'approximate' operator
    oracle-checked end to end (VERDICT r2 item #5)."""
    planes = similarity._hyperplanes(EMBEDDING_DIM, n_planes)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vec, [{', '.join(map(repr, p))}]) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    flips = ", ".join(f"({0 if i == 0 else 1 << (i - 1)})"
                      for i in range(n_planes + 1))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings),
    b AS (SELECT vec_id, {bucket} AS bucket FROM v),
    qp AS (SELECT vec_id AS query_id, xor(bucket, flip) AS bucket
           FROM b, (VALUES {flips}) AS probes(flip)
           WHERE vec_id < {N_QUERY_VECS}),
    cand AS (SELECT DISTINCT query_id, c.vec_id AS neighbor_id
             FROM qp JOIN b c USING (bucket)
             WHERE query_id <> c.vec_id),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(a.vec, n.vec)
                     / (sqrt(list_dot_product(a.vec, a.vec))
                        * sqrt(list_dot_product(n.vec, n.vec))), 6) AS cosine
        FROM cand
        JOIN v a ON a.vec_id = cand.query_id
        JOIN v n ON n.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {K}
    """


@register(
    "ann_lsh_cosine",
    oracle=_ann_lsh_oracle(),
    tags=("similarity", "ann-lsh"),
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the scale path: equi-join on
    sign-pattern bucket instead of a cross join). Recall vs brute force
    is pytest-checked; the deterministic hyperplanes additionally give
    the full pipeline an exact SQL oracle (see _ann_lsh_oracle)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.ann_cosine_topk(queries, emb, K, EMBEDDING_DIM)


SEMDEDUP_THRESHOLD = 0.35


def _semantic_dedup_oracle(n_planes: int = 8) -> str:
    """Same determinism argument as _ann_lsh_oracle: the hyperplane
    lattice is closed-form, so bucket assignment, the within-bucket
    pair join, the 6dp-rounded cosine filter, and the transitive
    closure all have exact SQL twins."""
    planes = similarity._hyperplanes(EMBEDDING_DIM, n_planes)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vec, [{', '.join(map(repr, p))}]) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    cos = ("list_dot_product(va.vec, vc.vec)"
           " / (sqrt(list_dot_product(va.vec, va.vec))"
           " * sqrt(list_dot_product(vc.vec, vc.vec)))")
    return f"""
    WITH RECURSIVE v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    b AS (SELECT vec_id, {bucket} AS bucket FROM v),
    pairs AS (
        SELECT a.vec_id AS id_a, c.vec_id AS id_b
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vc ON vc.vec_id = c.vec_id
        WHERE ROUND({cos}, 6) >= {SEMDEDUP_THRESHOLD}),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
    walk(node, reach) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
    comp AS (
        SELECT node, LEAST(node, MIN(reach)) AS component
        FROM walk GROUP BY node),
    assigned AS (
        SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS cluster_id
        FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node)
    SELECT vec_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           vec_id = cluster_id AS is_canonical
    FROM assigned
    """


@register(
    "semantic_dedup_clusters",
    oracle=_semantic_dedup_oracle(),
    tags=("similarity", "dedup-embedding", "dedup-clusters"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup endgame (SemDeDup-style): LSH-bucket
    candidate pairs -> exact 6dp cosine >= threshold -> connected
    components -> canonical survivor per cluster, one row per vector.
    The oracle rebuilds the identical pipeline in SQL including the
    transitive closure. See similarity.semantic_dedup_clusters for the
    corpus-never-shuffled scale shape."""
    return similarity.semantic_dedup_clusters(
        _emb(spark, sf_dir), SEMDEDUP_THRESHOLD, EMBEDDING_DIM)


@register(
    "embedding_norms_by_label",
    oracle="""
    SELECT label, COUNT(*) AS n,
           ROUND(MIN(sqrt(list_dot_product(v, v))), 6) AS min_norm,
           ROUND(MAX(sqrt(list_dot_product(v, v))), 6) AS max_norm
    FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    GROUP BY label
    """,
    tags=("similarity", "stats"),
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column statistics per label (min/max L2 norm — order-
    independent aggregates, so no float-summation drift)."""
    emb = _emb(spark, sf_dir)
    v = similarity.as_double(F.col("embedding"))
    return (emb.select("label", similarity.l2_norm(v).alias("norm"))
            .groupBy("label")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("norm"), 6).alias("min_norm"),
                 F.round(F.max("norm"), 6).alias("max_norm")))


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.vec, b.vec)
                 / (sqrt(list_dot_product(a.vec, a.vec))
                    * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
    FROM v a, v b
    WHERE a.vec_id < b.vec_id
      AND ROUND(list_dot_product(a.vec, b.vec)
                / (sqrt(list_dot_product(a.vec, a.vec))
                   * sqrt(list_dot_product(b.vec, b.vec))), 6) >= 0.35
    """,
    tags=("similarity", "dedup-embedding"),
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.35) — the embedding
    leg of the dedup family, brute-force exactness baseline."""
    return similarity.cosine_near_dup_pairs(
        _emb(spark, sf_dir), 0.35,
        corpus_path=f"{sf_dir}/embeddings.parquet")


IVF_CELLS = 16
IVF_PROBE = 4


def _ivf_oracle(n_cells: int = IVF_CELLS, n_probe: int = IVF_PROBE,
                k: int = K, dim: int = EMBEDDING_DIM,
                n_query: int = N_QUERY_VECS) -> str:
    """IVF end to end in SQL: same seed cells (rank by vec_id), one
    Lloyd refinement (argmax assign on 9dp-rounded cosine, per-dim
    means rounded to 9dp), same probing and 6dp rerank. Possible
    because the operator pins every data-dependent float (see
    similarity.ivf_cosine_topk docstring). The defaults are the
    registered query's; queries are the vectors with id < n_query."""
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    sim_vc = "ROUND(" + cos.format(a="v.vec", b="c.centroid") + ", 9)"
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings),
    cents0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cell, vec AS centroid
        FROM v ORDER BY vec_id LIMIT {n_cells}),
    assign0 AS (
        SELECT vec_id, cell, vec FROM (
            SELECT v.vec_id, c.cell, v.vec,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {sim_vc} DESC, c.cell) AS rnk
            FROM v, cents0 c) WHERE rnk = 1),
    per_dim AS (
        SELECT cell, pos, ROUND(AVG(vec[pos]), 9) AS m
        FROM assign0, range(1, {dim + 1}) AS r(pos)
        GROUP BY cell, pos),
    cents AS (
        SELECT cell, list(m ORDER BY pos) AS centroid
        FROM per_dim GROUP BY cell),
    c_cells AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {sim_vc} DESC, c.cell) AS rnk
            FROM v, cents c) WHERE rnk = 1),
    q_cells AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {sim_vc} DESC, c.cell) AS rnk
            FROM v, cents c WHERE v.vec_id < {n_query})
        WHERE rnk <= {n_probe}),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id
        FROM q_cells JOIN c_cells USING (cell)
        WHERE query_id <> neighbor_id),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({cos.format(a="a.vec", b="n.vec")}, 6) AS cosine
        FROM cand
        JOIN v a ON a.vec_id = cand.query_id
        JOIN v n ON n.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register("ivf_cosine_topk", oracle=_ivf_oracle(),
          tags=("similarity", "ann-ivf"))
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (probe nearest cells after one Lloyd
    refinement, exact rerank inside); recall vs brute force is
    pytest-checked, and the deterministic float pinning gives the full
    pipeline an exact SQL oracle (see _ivf_oracle)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.ivf_cosine_topk(queries, emb, K, n_cells=IVF_CELLS,
                                      n_probe=IVF_PROBE)


KNN_K = 10


@register(
    "knn_label_vote",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS neighbor_id, label,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, label, ROUND({_COS}, 6) AS cosine
        FROM q, c WHERE query_id <> neighbor_id),
    top AS (
        SELECT query_id, neighbor_id, label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= {KNN_K}),
    votes AS (SELECT query_id, label, COUNT(*) AS votes
              FROM top GROUP BY 1, 2),
    pred AS (
        SELECT query_id, label AS predicted_label, votes FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY votes DESC, label) AS rn
            FROM votes) WHERE rn = 1)
    SELECT p.query_id, e.label AS true_label, p.predicted_label,
           CAST(p.votes AS BIGINT) AS votes,
           p.predicted_label = e.label AS correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
    """,
    tags=("similarity", "ann-baseline", "knn", "classification"),
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification over exact cosine neighbors
    (k=10, majority vote, smallest-label tiebreak) — accuracy audit
    of the embedding space against its own labels."""
    emb = _emb(spark, sf_dir)
    return similarity.knn_label_vote(
        emb, k=KNN_K, n_query=N_QUERY_VECS,
        corpus_path=f"{sf_dir}/embeddings.parquet")


# Reuse the two registered oracles verbatim as derived tables: the
# recall report is DEFINED as exact-vs-approx over those two pipelines.
_EXACT_ORACLE = REGISTRY["cosine_topk_bruteforce"].oracle
_APPROX_ORACLE = REGISTRY["ann_lsh_cosine"].oracle


@register(
    "ann_recall_report",
    oracle=f"""
    WITH hit AS (
        SELECT e.query_id,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM ({_EXACT_ORACLE}) e
        LEFT JOIN ({_APPROX_ORACLE}) a
          ON a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id)
    SELECT query_id, n_hit, CAST({K} AS BIGINT) AS k,
           CAST(n_hit * 1000000 // {K} AS BIGINT) AS recall_ppm,
           CAST(SUM(n_hit * 1000000 // {K}) OVER ()
                // COUNT(*) OVER () AS BIGINT) AS mean_recall_ppm
    FROM hit
    """,
    tags=("similarity", "ann-lsh", "ml-eval"),
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH approximate top-k against the exact
    brute-force top-k, per query and macro-averaged — the
    quality-vs-speed report every ANN deployment gates on before
    swapping the exact scan out. Composes the two registered
    pipelines (operators/similarity.py:cosine_topk / ann_cosine_topk)
    with one (query, neighbor) equi-join; recall is truncating-DIV
    ppm, the macro mean one more DIV, both engine-exact. The exact
    side is the handicap at 100 TB — in production the report runs on
    a sampled query set exactly like the N_QUERY_VECS slice here."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = similarity.cosine_topk(
        queries, emb, K, corpus_path=f"{sf_dir}/embeddings.parquet")
    approx = similarity.ann_cosine_topk(queries, emb, K, EMBEDDING_DIM)
    hit = (exact.select("query_id", "neighbor_id")
           .join(approx.select("query_id", "neighbor_id",
                               F.lit(1).alias("__hit")),
                 ["query_id", "neighbor_id"], "left")
           .groupBy("query_id")
           .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long").alias("n_hit")))
    from pyspark.sql import Window
    wall = Window.partitionBy()
    recall = F.expr(f"n_hit * 1000000 DIV {K}")
    return (hit
            .withColumn("k", F.lit(K).cast("long"))
            .withColumn("recall_ppm", recall.cast("long"))
            .withColumn("mean_recall_ppm", F.expr(
                f"CAST(SUM(n_hit * 1000000 DIV {K}) OVER ()"
                " DIV COUNT(1) OVER () AS BIGINT)"))
            .select("query_id", "n_hit", "k", "recall_ppm",
                    "mean_recall_ppm"))


BEAM_M = 8       # proximity-graph degree
BEAM_B = 8       # beam width
BEAM_HOPS = 3


def _beam_oracle(k: int, n_query: int, m: int, b: int,
                 hops: int) -> str:
    """Unrolled beam search as chained CTEs (the kcore/pagerank
    device): the graph CTE is the exact per-node top-m (6dp-rounded
    cosine, id tiebreak), each hop is candidates = beam u neighbors,
    beam = per-query top-b, and the answer ranks every visited node."""
    def cos(a_vec: str, b_vec: str) -> str:
        return (f"ROUND(list_dot_product({a_vec}, {b_vec})"
                f" / (sqrt(list_dot_product({a_vec}, {a_vec}))"
                f" * sqrt(list_dot_product({b_vec}, {b_vec}))), 6)")

    ctes = [
        """v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings)""",
        f"""g AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY {cos('a.vec', 'b.vec')} DESC,
                                b.vec_id) AS r
            FROM v a, v b WHERE a.vec_id <> b.vec_id)
        WHERE r <= {m})""",
        f"""q AS MATERIALIZED (
        SELECT vec_id AS query_id, vec AS qv FROM v
        WHERE vec_id < {n_query})""",
        "e AS (SELECT MIN(vec_id) AS node FROM v)",
        "beam0 AS MATERIALIZED (SELECT query_id, node FROM q, e)",
    ]
    for t in range(1, hops + 1):
        ctes.append(f"""cand{t} AS MATERIALIZED (
        SELECT DISTINCT query_id, node FROM (
            SELECT query_id, node FROM beam{t - 1}
            UNION ALL
            SELECT bm.query_id, g.dst AS node
            FROM beam{t - 1} bm JOIN g ON g.src = bm.node))""")
        ctes.append(f"""beam{t} AS MATERIALIZED (
        SELECT query_id, node FROM (
            SELECT c.query_id, c.node,
                   ROW_NUMBER() OVER (PARTITION BY c.query_id
                       ORDER BY {cos('q.qv', 'n.vec')} DESC,
                                c.node) AS r
            FROM cand{t} c
            JOIN v n ON n.vec_id = c.node
            JOIN q ON q.query_id = c.query_id)
        WHERE r <= {b})""")
    unions = " UNION ALL ".join(
        ["SELECT query_id, node FROM beam0"]
        + [f"SELECT query_id, node FROM cand{t}"
           for t in range(1, hops + 1)])
    ctes.append(
        f"vis AS (SELECT DISTINCT query_id, node FROM ({unions}))")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT s.query_id, s.node AS neighbor_id, s.c6 AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
                        ORDER BY s.c6 DESC, s.node) AS INTEGER) AS rank
        FROM (SELECT c.query_id, c.node, {cos('q.qv', 'n.vec')} AS c6
              FROM vis c
              JOIN v n ON n.vec_id = c.node
              JOIN q ON q.query_id = c.query_id
              WHERE c.node <> c.query_id) s)
    WHERE rank <= {k}
    """


@register(
    "ann_beam_graph_topk",
    oracle=_beam_oracle(K, N_QUERY_VECS, BEAM_M, BEAM_B, BEAM_HOPS),
    tags=("similarity", "ann-graph", "iterative"),
)
def q_ann_beam_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-navigable ANN: exact top-8 proximity graph + 3-hop
    synchronized beam search from a fixed entry node
    (operators/similarity.py:beam_search_topk) — the HNSW idea made
    deterministic so the whole search (graph build, every hop, the
    visited-set answer) unrolls into an exact SQL twin. Completes the
    ANN family: brute force, LSH, IVF, PQ, IVFPQ, trained PQ, and now
    the navigable-graph shape whose query cost scales with
    hops x beam x degree instead of corpus size."""
    emb = _emb(spark, sf_dir)
    return similarity.beam_search_topk(
        emb, k=K, n_query=N_QUERY_VECS, graph_m=BEAM_M,
        beam_width=BEAM_B, hops=BEAM_HOPS,
        corpus_path=f"{sf_dir}/embeddings.parquet")


_IVF_ORACLE = REGISTRY["ivf_cosine_topk"].oracle


@register(
    "ivf_recall_report",
    oracle=f"""
    WITH hit AS (
        SELECT e.query_id,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM ({_EXACT_ORACLE}) e
        LEFT JOIN ({_IVF_ORACLE}) a
          ON a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id)
    SELECT query_id, n_hit, CAST({K} AS BIGINT) AS k,
           CAST(n_hit * 1000000 // {K} AS BIGINT) AS recall_ppm,
           CAST(SUM(n_hit * 1000000 // {K}) OVER ()
                // COUNT(*) OVER () AS BIGINT) AS mean_recall_ppm
    FROM hit
    """,
    tags=("similarity", "ann-ivf", "ml-eval"),
)
def q_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF cell-probe top-k against the exact brute
    force, per query and macro-averaged — the same audit
    ann_recall_report runs for the LSH family, over the OTHER
    production ANN shape (coarse quantizer + probed cells). Composes
    the two registered pipelines with one (query, neighbor)
    equi-join; integer-ppm recall both engines truncate
    identically."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = similarity.cosine_topk(
        queries, emb, K, corpus_path=f"{sf_dir}/embeddings.parquet")
    approx = similarity.ivf_cosine_topk(queries, emb, K,
                                        n_cells=IVF_CELLS,
                                        n_probe=IVF_PROBE)
    hit = (exact.select("query_id", "neighbor_id")
           .join(approx.select("query_id", "neighbor_id",
                               F.lit(1).alias("__hit")),
                 ["query_id", "neighbor_id"], "left")
           .groupBy("query_id")
           .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long").alias("n_hit")))
    return (hit
            .withColumn("k", F.lit(K).cast("long"))
            .withColumn("recall_ppm",
                        F.expr(f"n_hit * 1000000 DIV {K}").cast("long"))
            .withColumn("mean_recall_ppm", F.expr(
                f"CAST(SUM(n_hit * 1000000 DIV {K}) OVER ()"
                " DIV COUNT(1) OVER () AS BIGINT)"))
            .select("query_id", "n_hit", "k", "recall_ppm",
                    "mean_recall_ppm"))


@register(
    "mutual_knn_pairs",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings),
         c AS (SELECT vec_id AS neighbor_id,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         scored AS (
            SELECT query_id, neighbor_id, ROUND({_COS}, 6) AS cosine
            FROM q, c WHERE query_id <> neighbor_id),
         top1 AS (
            SELECT query_id, neighbor_id, cosine FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rn
                FROM scored)
            WHERE rn = 1)
    SELECT x.query_id AS id_a, y.query_id AS id_b,
           x.cosine AS cosine
    FROM top1 x JOIN top1 y
      ON x.neighbor_id = y.query_id
     AND y.neighbor_id = x.query_id
     AND x.query_id < y.query_id
    """,
    tags=("similarity", "mutual-nn", "dedup", "ann-baseline"),
)
def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs: (a, b) where b is a's top-1
    cosine neighbor AND a is b's — the reciprocal-best-match criterion
    used for high-precision duplicate pairing and cross-corpus
    alignment (far stricter than a one-directional threshold: a hub
    vector that is everyone's neighbor almost never reciprocates).
    Composes the exact top-1 of cosine_topk (broadcast/tiled BLAS
    kernel, 6 dp pinned cosine, id tiebreak) with one self-join on the
    node-grain top-1 frame; the a < b guard emits each pair once. At
    ANN scale the same join applies verbatim on the IVF or LSH top-1
    instead of the exact one."""
    emb = _emb(spark, sf_dir)
    top1 = (similarity.cosine_topk(
                emb, emb, 1,
                corpus_path=f"{sf_dir}/embeddings.parquet")
            .select("query_id", "neighbor_id", "cosine")
            # consumed twice by the reciprocity self-join: pin the
            # node-grain top-1 frame or the BLAS top-k runs twice
            .persist())
    x, y = top1.alias("x"), top1.alias("y")
    return (x.join(y, (F.col("x.neighbor_id") == F.col("y.query_id"))
                   & (F.col("y.neighbor_id") == F.col("x.query_id"))
                   & (F.col("x.query_id") < F.col("y.query_id")))
            .select(F.col("x.query_id").alias("id_a"),
                    F.col("y.query_id").alias("id_b"),
                    F.col("x.cosine").alias("cosine")))


def _hard_negative_oracle(query_mod: int = 125, k: int = K) -> str:
    """hard_negative_topk in SQL: anchors are the ids divisible by
    query_mod, neighbors of a different label ranked by 6dp cosine.
    The defaults are the registered query's."""
    return f"""
    WITH v AS (SELECT vec_id, label,
                      CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS query_label,
                 vec AS qv
          FROM v WHERE vec_id % {query_mod} = 0),
    scored AS (
        SELECT query_id, query_label, c.vec_id AS neighbor_id,
               c.label AS neighbor_label,
               ROUND(list_dot_product(qv, c.vec)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(c.vec, c.vec))), 6)
                   AS cosine
        FROM q, v c
        WHERE c.label <> query_label AND c.vec_id <> query_id)
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id)
                  AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "hard_negative_topk",
    oracle=_hard_negative_oracle(),
    tags=("similarity", "ann-baseline", "ml-eval", "embedding"),
)
def q_hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:
    hard_negative_topk): per anchor vector, the top-5 most-similar
    vectors of a DIFFERENT label — the contrastive-training negatives
    random sampling can't produce. Label filter BEFORE ranking,
    cosine 6dp-pinned, anchors broadcast, corpus scanned once."""
    emb = _emb(spark, sf_dir)
    return similarity.hard_negative_topk(emb, k=K, query_mod=125)
