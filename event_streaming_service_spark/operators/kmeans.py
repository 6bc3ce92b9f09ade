"""Full-vector integer-Lloyd k-means over embedding columns — the
SemDeDup-style semantic-clustering core (Abbas et al. 2023 cluster the
corpus with k-means, then deduplicate within clusters by cosine; the
clustering stage is this operator). Generalizes the per-subspace Lloyd
trainer the PQ index already ships (operators/pq.py:train_codebook):
with m_sub=1 the "subspace" is the whole vector, so codebook training
IS k-means and code assignment IS cluster assignment — one code path
(the pq_codes_arrow tensor kernel) for both.

Exactness devices (the repo conventions): clustering runs on the
oracle-proven SQ8 integer representation; seeds are the first
n_clusters vectors by id; assignment is integer argmin of squared L2
with a smallest-cluster tiebreak; centroid updates are Python
floor-divided exact integer member sums (empty clusters keep their
previous centroid); inertia is an exact BIGINT sum — so a fixed-round
run is a pure integer function of the data and the oracle unrolls the
same rounds in SQL.

Scale shape: per Lloyd round one Arrow assignment pass over the corpus
plus one bounded (cluster, component)-grain aggregate (n_clusters *
dim rows, collected — the codebook convention); the final
assignment + inertia is ONE more Arrow pass (no join, no shuffle over
the corpus) feeding an n_clusters-row aggregate. Reference parity: the
reference has no clustering surface; this extends SURVEY.md section
2.12's LLM-data-pipeline mandate (dedup/similarity families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from event_streaming_service_spark.operators.hints import (
    gated_broadcast, plan_bytes)
from event_streaming_service_spark.operators.pq import (
    _dot, _l2, pq_codes_arrow, train_codebook)
from event_streaming_service_spark.operators.quantize import quantize_codes


def kmeans_assign(emb: DataFrame, n_clusters: int = 8,
                  rounds: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  emit_qv: bool = False) -> DataFrame:
    """(id, cluster_id, point_inertia[, qv]): train `rounds` integer
    Lloyd rounds (train_codebook with m_sub=1 — full-vector k-means),
    then assign every vector to its nearest final centroid and report
    the exact squared-L2 point inertia, both from the pq_codes_arrow
    tensor kernel's single pass (`emit_dist`). The centroid grid is
    n_clusters * dim ints (512 at the 8x64 default) — the bounded
    codebook-collect convention. `emit_qv=True` passes the SQ8 vector
    through for downstream within-cluster scoring (semdedup_pairs).

    The quantized frame persists ONCE and feeds both training and the
    assignment pass: each quantize_codes call re-runs dim_stats, a
    corpus-wide per-dimension min/max aggregate."""
    q = quantize_codes(emb, vec_col, id_col).persist()
    seeds = train_codebook(q, m_sub=1, n_codes=n_clusters,
                           lloyd_rounds=rounds, id_col=id_col)
    coded = pq_codes_arrow(q, seeds, 1, id_col=id_col,
                           emit_dist=True, emit_qv=emit_qv)
    out = [F.col(id_col),
           F.element_at("codes", 1).cast("int").alias("cluster_id"),
           F.col("dist").alias("point_inertia")]
    if emit_qv:
        out.append(F.col("qv"))
    return coded.select(*out)


def kmeans_cluster_report(emb: DataFrame, n_clusters: int = 8,
                          rounds: int = 2, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Per-cluster balance/inertia report over kmeans_assign: member
    count, corpus share in exact ppm, exact BIGINT inertia, and the
    floor-divided mean point inertia — the readout a SemDeDup-style
    pipeline gates its per-cluster dedup fan-out on (a skewed cluster
    is the hot key of the downstream within-cluster pair join).

    The n_clusters-row `rep` frame is eagerly pinned (localCheckpoint
    — the ols2_kfold_cv foldm device): it has two consumers (the
    total aggregate and the join), and without the pin each re-runs
    the corpus-wide Arrow assignment pass."""
    pt = kmeans_assign(emb, n_clusters, rounds, id_col, vec_col)
    rep = (pt.groupBy("cluster_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"),
                F.sum("point_inertia").cast("bigint").alias("inertia"))
           .localCheckpoint())
    tot = rep.agg(F.sum("n_members").cast("bigint").alias("__n_total"))
    return (rep.crossJoin(F.broadcast(tot))
            .select("cluster_id", "n_members",
                    F.expr("n_members * 1000000 DIV __n_total")
                    .cast("bigint").alias("share_ppm"),
                    "inertia",
                    F.expr("inertia DIV n_members").cast("bigint")
                    .alias("mean_point_inertia"))
            .orderBy("cluster_id"))


def semdedup_pairs(emb: DataFrame, n_clusters: int = 8,
                   rounds: int = 2, threshold_ppb: int = 990_000_000,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """The SemDeDup second stage (Abbas et al. 2023): within each
    k-means cluster, flag vector pairs whose cosine exceeds the
    threshold — semantic near-duplicates the cheaper lexical passes
    miss (a paraphrase shares no shingles but sits on the same point
    of embedding space). Pairs are scored ONLY inside a cluster:
    cluster granularity is the quadratic fan-out bound exactly as the
    LSH band is for MinHash (at corpus scale n_clusters grows
    ~sqrt(N), keeping per-cluster membership — and so the pair count
    — bounded; the kmeans_cluster_report balance readout is the gate
    that catches a hot cluster BEFORE this stage).

    Each cluster is scored by ONE BLAS Gram kernel per group
    (applyInPandas): exact int64 V @ V.T dot products, then the
    oracle's float steps in its order — double quotient over the two
    square-rooted norms, pinned to 9dp half away from zero (DuckDB
    ROUND) — compared against the integer ppb threshold as a double.
    Pairs emit once (id_a < id_b); directed survivorship is the
    caller's argmax. Output: cluster_id, vec_a, vec_b, cosine_9dp.
    Per-group memory is one cluster's members — exactly the bound
    SemDeDup's clustering exists to enforce."""
    asg = kmeans_assign(emb, n_clusters, rounds, id_col, vec_col,
                        emit_qv=True).persist()
    thr = threshold_ppb / 1_000_000_000.0

    def per_cluster(key, pdf):
        import numpy as np
        import pandas as pd
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.stack(pdf["qv"].to_numpy()).astype(np.int64)[order]
        G = V @ V.T  # exact: |qv_i| <= 127, dims <= 1e4 << 2^63
        nrm = np.sqrt(np.diag(G).astype(np.float64))
        C = G.astype(np.float64) / (nrm[:, None] * nrm[None, :])
        R = np.sign(C) * (np.floor(np.abs(C) * 1e9 + 0.5) / 1e9)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = R[iu, ju] >= thr
        return pd.DataFrame({
            "cluster_id": np.full(int(keep.sum()), key[0],
                                  dtype="int32"),
            "vec_a": ids[iu[keep]], "vec_b": ids[ju[keep]],
            "cosine_9dp": R[iu, ju][keep]})

    return asg.groupBy("cluster_id").applyInPandas(
        per_cluster,
        "cluster_id int, vec_a bigint, vec_b bigint, cosine_9dp double")


def ivf_trained_topk(emb: DataFrame, k: int = 10, n_cells: int = 16,
                     n_probe: int = 4, rounds: int = 1,
                     query_mod: int = 125, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """IVF over TRAINED cells — the missing third corner of the
    index-training story (pq_trained_topk trains the PQ codebook,
    ivf_cosine_topk probes sampled cells; production FAISS trains the
    coarse quantizer with k-means, which is exactly this operator):
    `rounds` integer-Lloyd iterations refine the first-n_cells seeds,
    every vector Arrow-assigns to its nearest trained centroid by
    integer L2 (smallest-cell tiebreak), each query probes its
    n_probe nearest cells, and candidates rerank by the EXACT BIGINT
    dot product — an ANN pipeline with zero float operations
    anywhere, so the oracle is integer-for-integer.

    Scale shape: training is the bounded Lloyd loop (one Arrow pass +
    one n_cells*dim-row aggregate per round); assignment is one Arrow
    tensor pass; the probe ranks a query against the n_cells-row
    broadcast centroid frame; candidates ride an equi-join on the
    cell id and only probed cells' members score. The quantized frame
    persists ONCE and feeds training, assignment, and the query slice
    (three quantize_codes calls would be three corpus-wide dim_stats
    aggregates for one envelope)."""
    q = quantize_codes(emb, vec_col, id_col).persist()
    seeds = train_codebook(q, m_sub=1, n_codes=n_cells,
                           lloyd_rounds=rounds, id_col=id_col)
    spark = emb.sparkSession
    cells = spark.createDataFrame(
        [(kk, list(map(int, cv))) for kk, cv in enumerate(seeds)],
        "cell int, cv array<int>")

    assigned = (pq_codes_arrow(q, seeds, 1, id_col=id_col,
                               emit_qv=True)
                .select(F.col(id_col).alias("__nid"),
                        F.element_at("codes", 1).cast("int")
                        .alias("cell"),
                        F.col("qv").alias("__nqv")))
    queries = (q
               .filter(F.col(id_col) % query_mod == 0)
               .select(F.col(id_col).alias("query_id"),
                       F.col("qv").alias("__qqv")))
    probed = (queries.crossJoin(F.broadcast(cells))
              .withColumn("__d", _l2(F.col("__qqv"), F.col("cv")))
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("query_id")
                  .orderBy(F.col("__d"), F.col("cell"))))
              .filter(F.col("__rn") <= n_probe)
              .select("query_id", "__qqv", "cell"))
    # Pin the PROBED side as the build side explicitly — without a
    # hint the planner broadcasts the CORPUS side (the post-window
    # probed estimate is opaque). probed is queries x n_probe =
    # corpus/query_mod x n_probe WITH vectors — corpus-PROPORTIONAL,
    # so the broadcast is size-gated on the base scan's stats (zero
    # jobs) and degrades to SHUFFLE_HASH above the cap instead of
    # OOMing the executors.
    probed_est = plan_bytes(emb) * n_probe / query_mod
    cand = (gated_broadcast(probed, probed_est).join(assigned, "cell")
            .filter(F.col("query_id") != F.col("__nid")))
    scored = cand.select(
        "query_id", F.col("__nid").alias("neighbor_id"),
        _dot(F.col("__qqv"), F.col("__nqv")).alias("dot_score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_score").desc(), F.col("neighbor_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dot_score", "rank"))


def ivf_split_contamination(emb: DataFrame, split_expr,
                            n_cells: int = 16, n_probe: int = 4,
                            rounds: int = 1,
                            threshold_ppb: int = 990_000_000,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            train_value: str = "train") -> DataFrame:
    """Embedding-space CONTAMINATION audit — the semantic analog of
    the lexical split-leakage check (split_leakage_near_dup flags
    near-dup TEXT straddling a train/eval split; a paraphrase shares
    no shingles but sits on the same point of embedding space, and
    this operator catches exactly that): every held-out vector (split
    != `train_value` under `split_expr`, a pure function of the id)
    probes a trained-IVF index built over the TRAIN split ONLY, and
    its top-1 train neighbor's pinned 9dp SQ8 cosine is compared to
    the integer-ppb threshold — a hit means the eval example has a
    semantic twin in training and its eval score is leaked.

    Exactness: shared SQ8 quantization over the FULL corpus (one
    envelope — the production shape: the quantizer is trained once,
    splits share it); Lloyd training, cell assignment and the probe
    are the ivf_trained_topk integer path restricted to the train
    split; the cosine is exact BIGINT dots into ONE 9dp half-up pin
    (the semdedup_pairs spelling).

    Scale shape: identical to ivf_trained_topk (bounded Lloyd loop,
    one Arrow assignment pass over the train split, n_cells-row
    broadcast centroid probe) — the eval set is the small side by
    construction (5-10% of the corpus) and never joins the full train
    split. Each probed cell is scored by ONE BLAS kernel per (cell x
    its probing anchors) cogroup — exact int64 Q @ V.T — which emits
    only the per-cell best per anchor, so the global rerank window
    sees n_probe rows per anchor instead of every candidate."""
    q = (quantize_codes(emb, vec_col, id_col)
         .withColumn("__split", split_expr)
         .persist())
    corpus = q.filter(F.col("__split") == train_value)
    seeds = train_codebook(corpus, m_sub=1, n_codes=n_cells,
                           lloyd_rounds=rounds, id_col=id_col)
    spark = emb.sparkSession
    cells = spark.createDataFrame(
        [(kk, list(map(int, cv))) for kk, cv in enumerate(seeds)],
        "cell int, cv array<int>")
    assigned = (pq_codes_arrow(corpus, seeds, 1, id_col=id_col,
                               emit_qv=True)
                .select(F.col(id_col).alias("__nid"),
                        F.element_at("codes", 1).cast("int")
                        .alias("cell"),
                        F.col("qv").alias("__nqv")))
    queries = (q.filter(F.col("__split") != train_value)
               .select(F.col(id_col).alias("query_id"),
                       F.col("__split").alias("query_split"),
                       F.col("qv").alias("__qqv")))
    probed = (queries.crossJoin(F.broadcast(cells))
              .withColumn("__d", _l2(F.col("__qqv"), F.col("cv")))
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("query_id")
                  .orderBy(F.col("__d"), F.col("cell"))))
              .filter(F.col("__rn") <= n_probe)
              .select("query_id", "query_split", "__qqv", "cell"))

    def per_cell(cpdf, qpdf):
        import numpy as np
        import pandas as pd
        empty = pd.DataFrame({
            "query_id": pd.Series(dtype="int64"),
            "query_split": pd.Series(dtype="object"),
            "neighbor_id": pd.Series(dtype="int64"),
            "cosine_9dp": pd.Series(dtype="float64")})
        if not len(cpdf) or not len(qpdf):
            return empty
        nid = cpdf["__nid"].to_numpy().astype(np.int64)
        V = np.stack(cpdf["__nqv"].to_numpy()).astype(np.int64)
        Q = np.stack(qpdf["__qqv"].to_numpy()).astype(np.int64)
        G = Q @ V.T          # exact: |qv| <= 127, dims bounded
        daa = (Q * Q).sum(axis=1).astype(np.float64)
        dbb = (V * V).sum(axis=1).astype(np.float64)
        C = G.astype(np.float64) / (np.sqrt(daa)[:, None]
                                    * np.sqrt(dbb)[None, :])
        R = np.sign(C) * (np.floor(np.abs(C) * 1e9 + 0.5) / 1e9)
        best = np.lexsort((np.broadcast_to(nid, R.shape), -R),
                          axis=1)[:, 0]
        rows = np.arange(len(Q))
        return pd.DataFrame({
            "query_id": qpdf["query_id"].to_numpy(),
            "query_split": qpdf["query_split"].to_numpy(),
            "neighbor_id": nid[best],
            "cosine_9dp": R[rows, best]})

    locals_ = (assigned.groupBy("cell")
               .cogroup(probed.groupBy("cell"))
               .applyInPandas(
                   per_cell,
                   "query_id long, query_split string,"
                   " neighbor_id long, cosine_9dp double"))
    wl = Window.partitionBy("query_id").orderBy(
        F.col("cosine_9dp").desc(), F.col("neighbor_id"))
    thr = threshold_ppb / 1_000_000_000.0
    return (locals_
            .withColumn("__rk", F.row_number().over(wl))
            .filter(F.col("__rk") == 1)
            .select("query_id", "query_split", "neighbor_id",
                    "cosine_9dp",
                    (F.col("cosine_9dp") >= thr).alias("contaminated")))
