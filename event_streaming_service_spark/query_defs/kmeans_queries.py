"""Semantic-clustering queries over `embeddings` (SemDeDup-style
full-vector k-means — operators/kmeans.py). The oracle unrolls the
fixed integer-Lloyd rounds in SQL exactly like pq_trained_topk does
for its one per-subspace round: every round is seeds -> integer-L2
argmin assignment -> exact member sums -> floor-divided centroid
update, all over the shared SQ8 quantization prefix."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from event_streaming_service_spark.operators import kmeans
from event_streaming_service_spark.operators.hints import (
    gated_broadcast_rows)
from event_streaming_service_spark.queries import register
from event_streaming_service_spark.query_defs.pq_queries import _QUANT
from event_streaming_service_spark.sources import tables

_KM_K = 8       # clusters
_KM_ROUNDS = 2  # integer Lloyd rounds
_DIM = 64       # fixture embedding width


def _kmeans_chain(n_clusters: int, rounds: int, dim: int,
                  src: str = "q", src_cte: str = "") -> str:
    """Unrolled fixed-round k-means CTE chain (the pq_trained_topk
    device, full-vector), ending in asgF (vec_id, k, d) — the final
    assignment with its exact squared-L2. DuckDB reproduces Python
    floor division as (s - pmod(s, n)) // n; empty clusters COALESCE
    to their previous centroid. Shared by the report, the SemDeDup
    pair oracle, and (with `src` = a filtered view of q) the
    split-contamination oracle, which trains and assigns over the
    TRAIN split only."""
    l2 = (f"CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
          f"CAST({src}.qv[i] - s.cv[i] AS BIGINT)"
          f" * ({src}.qv[i] - s.cv[i]))) AS BIGINT)")
    parts = [
        f"""seeds0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, qv AS cv
        FROM (SELECT vec_id, qv FROM {src} ORDER BY vec_id
              LIMIT {n_clusters}))""",
        f"pos AS (SELECT unnest(range(1, {dim} + 1)) AS i)",
    ]
    for r in range(rounds):
        parts += [
            f"""dist{r} AS (
            SELECT {src}.vec_id, s.k, {l2} AS d FROM {src}, seeds{r} s)""",
            f"""asg{r} AS (
            SELECT vec_id, k FROM (
                SELECT vec_id, k,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d, k) AS rn
                FROM dist{r}) WHERE rn = 1)""",
            f"""upd{r} AS (
            SELECT a.k, pos.i,
                   CAST(SUM(CAST({src}.qv[pos.i] AS BIGINT)) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM asg{r} a JOIN {src} USING (vec_id), pos
            GROUP BY a.k, pos.i)""",
            f"""newv{r} AS (
            SELECT sp.k, sp.i,
                   COALESCE(CAST((u.s - ((u.s % u.n + u.n) % u.n)) // u.n
                                 AS INTEGER),
                            sp.old_val) AS val
            FROM (SELECT s.k, pos.i, s.cv[pos.i] AS old_val
                  FROM seeds{r} s, pos) sp
            LEFT JOIN upd{r} u ON u.k = sp.k AND u.i = sp.i)""",
            f"""seeds{r + 1} AS (
            SELECT k, list(val ORDER BY i) AS cv
            FROM newv{r} GROUP BY k)""",
        ]
    parts += [
        f"""distF AS (
        SELECT {src}.vec_id, s.k, {l2} AS d
        FROM {src}, seeds{rounds} s)""",
        """asgF AS (
        SELECT vec_id, k, d FROM (
            SELECT vec_id, k, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, k) AS rn
            FROM distF) WHERE rn = 1)""",
    ]
    body = ",\n    ".join(parts)
    src_part = f"{src_cte},\n    " if src_cte else ""
    return f"""WITH {_QUANT},
    {src_part}{body}"""


def _kmeans_oracle(n_clusters: int, rounds: int, dim: int) -> str:
    """Per-cluster balance/inertia report over the shared chain."""
    return f"""
    {_kmeans_chain(n_clusters, rounds, dim)},
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM asgF)
    SELECT CAST(k AS INTEGER) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) * 1000000 // MAX(n_total) AS BIGINT)
               AS share_ppm,
           CAST(SUM(d) AS BIGINT) AS inertia,
           CAST(SUM(d) // COUNT(*) AS BIGINT) AS mean_point_inertia
    FROM asgF, tot GROUP BY k ORDER BY cluster_id
    """


def _semdedup_oracle(n_clusters: int, rounds: int, dim: int,
                     threshold_ppb: int) -> str:
    """SemDeDup second stage over the shared chain: within-cluster
    pairs (vec_a < vec_b), exact BIGINT dot products, ONE pinned 9dp
    cosine, integer-ppb threshold spelled as the same double on both
    engines."""
    dot = ("CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
           "CAST({a}[i] AS BIGINT) * {b}[i])) AS BIGINT)")
    dab = dot.format(dim=dim, a="a.qv", b="b.qv")
    daa = dot.format(dim=dim, a="a.qv", b="a.qv")
    dbb = dot.format(dim=dim, a="b.qv", b="b.qv")
    return f"""
    {_kmeans_chain(n_clusters, rounds, dim)},
    m AS (SELECT asgF.vec_id, asgF.k, q.qv
          FROM asgF JOIN q USING (vec_id)),
    pairs AS (
        SELECT a.k AS cluster_id, a.vec_id AS vec_a,
               b.vec_id AS vec_b,
               ROUND(CAST({dab} AS DOUBLE)
                     / (SQRT(CAST({daa} AS DOUBLE))
                        * SQRT(CAST({dbb} AS DOUBLE))), 9)
                   AS cosine_9dp
        FROM m a JOIN m b ON a.k = b.k AND a.vec_id < b.vec_id)
    SELECT CAST(cluster_id AS INTEGER) AS cluster_id, vec_a, vec_b,
           cosine_9dp
    FROM pairs
    WHERE cosine_9dp >= {threshold_ppb} / 1000000000.0
    ORDER BY cluster_id, vec_a, vec_b
    """


@register(
    "kmeans_embedding_clusters",
    oracle=_kmeans_oracle(_KM_K, _KM_ROUNDS, _DIM),
    tags=("similarity", "quantize", "lloyd", "embedding", "clustering"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic clustering: 2 full-vector integer Lloyd
    rounds over the SQ8 embeddings (operators/kmeans.py — pq.py's
    train_codebook at m_sub=1), then a per-cluster balance/inertia
    report: member count, exact-ppm corpus share, exact BIGINT
    inertia, floor-divided mean point inertia. The report is what a
    within-cluster dedup stage gates its fan-out on."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return kmeans.kmeans_cluster_report(emb, n_clusters=_KM_K,
                                        rounds=_KM_ROUNDS)


_SD_T_PPB = 400_000_000  # the fixture corpus' top ~1% within-cluster


@register(
    "semdedup_pairs",
    oracle=_semdedup_oracle(_KM_K, _KM_ROUNDS, _DIM, _SD_T_PPB),
    tags=("similarity", "dedup-embedding", "embedding", "clustering"),
)
def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup second stage (operators/kmeans.py:semdedup_pairs):
    within each of the 8 trained clusters, vector pairs whose
    9dp-pinned SQ8 cosine clears the 0.4 threshold — the semantic
    near-dup detector whose quadratic fan-out the cluster granularity
    bounds (and whose hot-cluster risk kmeans_embedding_clusters'
    balance report gates)."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return kmeans.semdedup_pairs(emb, n_clusters=_KM_K,
                                 rounds=_KM_ROUNDS,
                                 threshold_ppb=_SD_T_PPB)


_IVF_K = 10
_IVF_CELLS = 16
_IVF_PROBE = 4
_IVF_QMOD = 125


def _ivf_trained_oracle(n_cells: int, n_probe: int, k: int,
                        query_mod: int, dim: int) -> str:
    """IVF over trained cells: the shared 1-round Lloyd chain gives
    seeds1 (trained centroids) and asgF (every vector's cell); each
    query ranks the centroids by the same integer L2, probes n_probe
    cells, and candidates rerank by the exact BIGINT dot product.
    Zero float operations end to end."""
    l2q = (f"CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
           f"CAST(qq.qv[i] - s.cv[i] AS BIGINT)"
           f" * (qq.qv[i] - s.cv[i]))) AS BIGINT)")
    dot = (f"CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
           f"CAST(qq.qv[i] AS BIGINT) * nv.qv[i])) AS BIGINT)")
    return f"""
    {_kmeans_chain(n_cells, 1, dim)},
    qq AS (SELECT vec_id AS query_id, qv FROM q
           WHERE vec_id % {query_mod} = 0),
    qcells AS (
        SELECT query_id, cell FROM (
            SELECT qq.query_id, s.k AS cell,
                   ROW_NUMBER() OVER (PARTITION BY qq.query_id
                                      ORDER BY {l2q}, s.k) AS rn
            FROM qq, seeds1 s) WHERE rn <= {n_probe}),
    cand AS (
        SELECT DISTINCT query_id, a.vec_id AS neighbor_id
        FROM qcells JOIN asgF a ON a.k = qcells.cell
        WHERE a.vec_id <> query_id),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id, {dot} AS dot_score
        FROM cand
        JOIN qq ON qq.query_id = cand.query_id
        JOIN q nv ON nv.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, dot_score, rank FROM (
        SELECT query_id, neighbor_id, dot_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY dot_score DESC,
                                                neighbor_id)
                    AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "ivf_trained_topk",
    oracle=_ivf_trained_oracle(_IVF_CELLS, _IVF_PROBE, _IVF_K,
                               _IVF_QMOD, _DIM),
    tags=("similarity", "ann-ivf", "quantize", "lloyd"),
)
def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over TRAINED cells (operators/kmeans.py:ivf_trained_topk):
    one integer-Lloyd round refines the coarse quantizer (the FAISS
    training step ivf_cosine_topk's sampled cells skip), vectors
    Arrow-assign by integer L2, queries probe their 4 nearest trained
    centroids, candidates rerank by the exact BIGINT dot product —
    an ANN pipeline with no float op anywhere."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return kmeans.ivf_trained_topk(emb, k=_IVF_K, n_cells=_IVF_CELLS,
                                   n_probe=_IVF_PROBE, rounds=1,
                                   query_mod=_IVF_QMOD)


def _semdedup_survivors_oracle(n_clusters: int, rounds: int, dim: int,
                               threshold_ppb: int) -> str:
    """Survivorship over the SemDeDup pair graph: the shared chain's
    verified within-cluster pairs -> recursive transitive closure
    (the near_dup_clusters component device) -> argmax-quality
    survivor per semantic dup group (quality = the document's n_chars,
    ties -> smallest id), one row per corpus vector."""
    dot = ("CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
           "CAST({a}[i] AS BIGINT) * {b}[i])) AS BIGINT)")
    dab = dot.format(dim=dim, a="a.qv", b="b.qv")
    daa = dot.format(dim=dim, a="a.qv", b="a.qv")
    dbb = dot.format(dim=dim, a="b.qv", b="b.qv")
    chain = _kmeans_chain(n_clusters, rounds, dim).replace(
        "WITH ", "WITH RECURSIVE ", 1)
    return f"""
    {chain},
    m AS (SELECT asgF.vec_id, asgF.k, q.qv
          FROM asgF JOIN q USING (vec_id)),
    sd_pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM m a JOIN m b ON a.k = b.k AND a.vec_id < b.vec_id
        WHERE ROUND(CAST({dab} AS DOUBLE)
                    / (SQRT(CAST({daa} AS DOUBLE))
                       * SQRT(CAST({dbb} AS DOUBLE))), 9)
              >= {threshold_ppb} / 1000000000.0),
    edges AS (
        SELECT vec_a AS a, vec_b AS b FROM sd_pairs
        UNION ALL SELECT vec_b, vec_a FROM sd_pairs),
    walk(node, reach) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
    comp AS (
        SELECT node, LEAST(node, MIN(reach)) AS component
        FROM walk GROUP BY node),
    assigned AS (
        SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS group_id
        FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node),
    sized AS (
        SELECT vec_id, group_id,
               COUNT(*) OVER (PARTITION BY group_id) AS group_size
        FROM assigned),
    wq AS (
        SELECT s.vec_id, s.group_id,
               CAST(s.group_size AS BIGINT) AS group_size,
               CAST(d.n_chars AS BIGINT) AS quality
        FROM sized s JOIN documents d ON d.doc_id = s.vec_id),
    winners AS (
        SELECT group_id, quality AS best_quality,
               vec_id AS best_vec_id FROM (
            SELECT group_id, quality, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY group_id
                                      ORDER BY quality DESC, vec_id)
                       AS rn
            FROM wq WHERE group_size > 1) WHERE rn = 1)
    SELECT wq.vec_id, wq.group_id, wq.group_size, wq.quality,
           COALESCE(w.best_quality, wq.quality) AS best_quality,
           COALESCE(w.best_vec_id, wq.vec_id) AS best_vec_id,
           COALESCE(w.best_vec_id, wq.vec_id) = wq.vec_id
               AS is_survivor
    FROM wq LEFT JOIN winners w USING (group_id)
    """


@register(
    "semdedup_survivors",
    oracle=_semdedup_survivors_oracle(_KM_K, _KM_ROUNDS, _DIM,
                                      _SD_T_PPB),
    tags=("similarity", "dedup-embedding", "embedding", "clustering"),
)
def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup ENDGAME — what the pair list exists for (Abbas et
    al. 2023 keep one member per semantic-duplicate group): verified
    within-cluster cosine pairs (kmeans.semdedup_pairs) -> connected
    components (dedup.connected_components, min-label propagation) ->
    quality-argmax survivor per group, quality = the sidecar
    document's n_chars (keep the longest copy — the
    cluster_survivors policy applied to SEMANTIC groups). One row per
    corpus vector: group id/size, own + winning quality, is_survivor.

    Scale shape: pairs are cluster-bounded (never all-pairs); the
    pinned pair list is tiny, so components iterate over it alone and
    the corpus-sized frames only see one broadcast left join each —
    exactly near_dup_clusters' shape with embeddings instead of
    shingles."""
    from pyspark.sql import functions as F

    from event_streaming_service_spark.operators import dedup

    emb = tables.load_table(spark, sf_dir, "embeddings")
    docs = tables.load_table(spark, sf_dir, "documents")
    # connected_components eager-pins its pair input itself (it is
    # structurally a two-consumer union), so no caller checkpoint here
    pairs = (kmeans.semdedup_pairs(emb, n_clusters=_KM_K,
                                   rounds=_KM_ROUNDS,
                                   threshold_ppb=_SD_T_PPB)
             .select("vec_a", "vec_b"))
    cc_stats: dict = {}
    comp = dedup.connected_components(pairs, a_col="vec_a",
                                      b_col="vec_b",
                                      stats_out=cc_stats)
    n_members = cc_stats.get("n_nodes_max")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("__gs"))
    quality = docs.select(F.col("doc_id").alias("vec_id"),
                          F.col("n_chars").cast("bigint")
                          .alias("quality"))
    # Winners come from the component membership (every comp node
    # sits in a >=2-member group by construction — it has a pair), so
    # quality attaches to it with one membership join; the former
    # filter-the-corpus-frame shape consumed the unpinned corpus-sized
    # `base` twice, doubling the emb scan and the corpus quality join
    # (r12, guide §2.4). Membership is duplicate-fraction-proportional,
    # so every broadcast of it below is row-count-gated on the CC
    # loop's free node count (VERDICT r12 item #3).
    winners = (quality
               .join(gated_broadcast_rows(
                         comp.withColumnRenamed("node", "vec_id"),
                         n_members, 16),
                     "vec_id")
               .groupBy(F.col("component").alias("group_id"))
               .agg(F.max(F.struct(F.col("quality"),
                                   (-F.col("vec_id")).alias("__ni")))
                    .alias("__w"))
               .select("group_id",
                       F.col("__w.quality").alias("best_quality"),
                       (-F.col("__w.__ni")).alias("best_vec_id")))
    base = (emb.select("vec_id")
            .join(gated_broadcast_rows(
                comp.withColumnRenamed("node", "vec_id"),
                n_members, 16),
                "vec_id", "left")
            .withColumn("group_id",
                        F.coalesce("component", F.col("vec_id")))
            .join(gated_broadcast_rows(
                sizes.withColumnRenamed("component", "group_id"),
                n_members, 16),
                "group_id", "left")
            .withColumn("group_size",
                        F.coalesce("__gs", F.lit(1)).cast("bigint"))
            .join(quality, "vec_id"))
    return (base.join(gated_broadcast_rows(winners, n_members, 24),
                      "group_id", "left")
            .select("vec_id", "group_id", "group_size", "quality",
                    F.coalesce("best_quality", F.col("quality"))
                    .alias("best_quality"),
                    F.coalesce("best_vec_id", F.col("vec_id"))
                    .alias("best_vec_id"),
                    (F.coalesce("best_vec_id", F.col("vec_id"))
                     == F.col("vec_id")).alias("is_survivor")))


_CT_CELLS = 16
_CT_PROBE = 4
_CT_T_PPB = 500_000_000


def _contamination_oracle(n_cells: int, n_probe: int,
                          threshold_ppb: int, dim: int,
                          split_sql: str | None = None) -> str:
    """Held-out anchors vs the TRAIN-split trained-IVF index: the
    shared chain runs over qc (train rows only); each eval row ranks
    the trained centroids by integer L2, probes n_probe cells, and
    its top-1 train neighbor by pinned 9dp cosine carries the
    threshold flag. `split_sql` is the split expression over vec_id
    (default: the registered query's curation.split_assign)."""
    from event_streaming_service_spark.operators.curation import (
        split_assign_sql,
    )
    sp = split_sql or split_assign_sql("vec_id")
    l2q = (f"CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
           f"CAST(qe.qv[i] - s.cv[i] AS BIGINT)"
           f" * (qe.qv[i] - s.cv[i]))) AS BIGINT)")
    dot = ("CAST(list_sum(list_transform(range(1, {dim} + 1), i -> "
           "CAST({a}.qv[i] AS BIGINT) * {b}.qv[i])) AS BIGINT)")
    dab = dot.format(dim=dim, a="qe", b="nv")
    daa = dot.format(dim=dim, a="qe", b="qe")
    dbb = dot.format(dim=dim, a="nv", b="nv")
    chain = _kmeans_chain(
        n_cells, 1, dim, src="qc",
        src_cte=f"""qc AS (
        SELECT vec_id, qv FROM q WHERE {sp} = 'train')""")
    return f"""
    {chain},
    qe AS (SELECT vec_id AS query_id, {sp} AS query_split, qv
           FROM q WHERE {sp} <> 'train'),
    qcells AS (
        SELECT query_id, cell FROM (
            SELECT qe.query_id, s.k AS cell,
                   ROW_NUMBER() OVER (PARTITION BY qe.query_id
                                      ORDER BY {l2q}, s.k) AS rn
            FROM qe, seeds1 s) WHERE rn <= {n_probe}),
    cand AS (
        SELECT DISTINCT query_id, a.vec_id AS neighbor_id
        FROM qcells JOIN asgF a ON a.k = qcells.cell),
    scored AS (
        SELECT cand.query_id, qe.query_split, cand.neighbor_id,
               ROUND(CAST({dab} AS DOUBLE)
                     / (SQRT(CAST({daa} AS DOUBLE))
                        * SQRT(CAST({dbb} AS DOUBLE))), 9)
                   AS cosine_9dp
        FROM cand
        JOIN qe ON qe.query_id = cand.query_id
        JOIN qc nv ON nv.vec_id = cand.neighbor_id)
    SELECT query_id, query_split, neighbor_id, cosine_9dp,
           cosine_9dp >= {threshold_ppb} / 1000000000.0
               AS contaminated
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_9dp DESC,
                                              neighbor_id) AS rk
        FROM scored
    ) WHERE rk = 1
    """


@register(
    "embedding_split_contamination",
    oracle=_contamination_oracle(_CT_CELLS, _CT_PROBE, _CT_T_PPB,
                                 _DIM),
    tags=("similarity", "ann-ivf", "ml-eval", "sampling"),
)
def q_embedding_split_contamination(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Embedding-space contamination audit (operators/kmeans.py:
    ivf_split_contamination) — the SEMANTIC analog of
    split_leakage_near_dup: every held-out (val/test) vector probes a
    trained-IVF index built over the TRAIN split only, and its top-1
    train neighbor's 9dp-pinned SQ8 cosine against the 0.5 threshold
    flags the eval rows whose semantic twin sits in training (the
    leak a lexical near-dup check misses for paraphrases). Composes
    the two r11 operators (trained IVF + the hash split) verbatim."""
    from event_streaming_service_spark.operators.curation import (
        split_assign,
    )
    from pyspark.sql import functions as F

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return kmeans.ivf_split_contamination(
        emb, split_assign(F.col("vec_id")), n_cells=_CT_CELLS,
        n_probe=_CT_PROBE, rounds=1, threshold_ppb=_CT_T_PPB)
