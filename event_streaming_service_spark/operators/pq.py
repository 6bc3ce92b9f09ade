"""Product quantization (PQ) for approximate nearest neighbor — the
vector-compression refinement of scalar quantization (Jegou, Douze,
Schmid, TPAMI 2011): split each vector into M subvectors, quantize
every subvector against a per-subspace codebook of K centroids, and
score candidates by asymmetric distance computation (ADC) — the query
stays full-width, each candidate collapses to M one-byte codes.

Composes the two pieces already in the engine: operators/quantize.py
supplies the int8 vector representation and IVF cell probing (the
same 9dp-pinned cosine argmax as similarity.ivf_cosine_topk) supplies
the front end PQ reranks behind at production scale.

Exactness device: everything downstream of the (oracle-proven) SQ8
step is INTEGER — codebooks are the int8 subvectors of the first K
corpus vectors by id (deterministic sampled codebook; train_codebook
refines it with integer Lloyd rounds), assignment is integer argmin
of squared L2 with a code-index tiebreak, and the ADC score is an
integer dot product — so codes, scores, and the top-k boundary are
all bit-exact in ANSI SQL.

Scale design: the codebook is M*K subvectors (8*16 here) — collected
once (bounded, the same <=16-centroid convention as IVF) and shipped
inside the Arrow kernels' closures, so code assignment is one
(batch, m, k) tensor argmin per Arrow chunk with NO join and NO
shuffle over the corpus; ADC is a per-query lookup table (m_sub x K
integer dots, precomputed once) gathered per candidate — M LUT adds
per pair instead of a full-width dot. The only shuffle is the
per-query top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from event_streaming_service_spark.operators.hints import (
    gated_broadcast, gated_broadcast_rows, plan_bytes)
from event_streaming_service_spark.operators.quantize import quantize_codes


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def pq_topk(emb: DataFrame, k: int = 10, m_sub: int = 8,
            n_codes: int = 16, query_mod: int = 125,
            id_col: str = "vec_id",
            vec_col: str = "embedding",
            codebook: list[list[int]] | None = None) -> DataFrame:
    """PQ-ADC top-k self-search: queries are the vectors whose id is
    divisible by `query_mod`; every other vector is scored by the
    integer ADC dot product of the query's full int8 vector against
    the candidate's per-subspace codebook centroids. Output:
    query_id, neighbor_id, adc_score (exact bigint), rank (1..k by
    score desc, neighbor_id asc).

    `codebook` overrides the sampled seeds with a pre-trained one
    (full-dim int vectors, e.g. from train_codebook's integer Lloyd);
    a codebook whose width is not the corpus dim raises "codebook
    width" (adc_scores_lut checks the collected queries,
    pq_codes_arrow every batch).

    Execution: tensor code assignment (pq_codes_arrow) and LUT-gather
    ADC (adc_scores_lut), both integer-in/integer-out.

    Cache lifecycle: the quantized-code frame persists for the
    query's lifetime (lazy result; spark.catalog.clearCache() or
    session end reclaims it — bench and drive_contract clear per
    query)."""
    q = quantize_codes(emb, vec_col, id_col).persist()

    if codebook is not None:
        if len(codebook) != n_codes:
            raise ValueError(
                f"codebook has {len(codebook)} entries, want {n_codes}")
        seeds = [list(map(int, c)) for c in codebook]
        widths = {len(c) for c in seeds}
        if len(widths) != 1:
            raise ValueError(f"codebook entry widths differ: {sorted(widths)}")
    else:
        # bounded collect: the K codebook seeds (<=16 rows), the same
        # convention as IVF's centroids
        seed_rows = q.orderBy(id_col).limit(n_codes).collect()
        seeds = [list(r["qv"]) for r in seed_rows]
    dim = len(seeds[0])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")

    # the query set is n / query_mod rows: collecting it keeps the
    # broadcast-small bound and buys the per-query LUT precompute
    query_qvs = {
        int(r[id_col]): [int(x) for x in r["qv"]]
        for r in q.where(F.pmod(F.col(id_col),
                                F.lit(query_mod)) == 0)
                  .select(id_col, "qv").collect()}
    coded = (pq_codes_arrow(q, seeds, m_sub, id_col=id_col)
             .withColumnRenamed(id_col, "neighbor_id"))
    qdf = emb.sparkSession.createDataFrame(
        [(qid,) for qid in sorted(query_qvs)], "query_id bigint")
    # query-id fan-out frame: the exact row count is in hand from
    # the collect above, so the broadcast is row-count-gated (a
    # cross join has no shuffle-hash form — above the cap the
    # planner's cartesian handles it)
    cand = (coded.crossJoin(gated_broadcast_rows(
                qdf, len(query_qvs), 8, fallback="none"))
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "codes"))
    scored = adc_scores_lut(cand, query_qvs, seeds, m_sub)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_score", "rank"))


def pq_codes_arrow(qdf: DataFrame, seeds: list[list[int]],
                   m_sub: int, id_col: str = "vec_id",
                   emit_dist: bool = False,
                   emit_qv: bool = False) -> DataFrame:
    """PQ code assignment, codes[m] = argmin_k ||sub(qv, m) -
    CENT[m][k]||^2 with the smallest-k tiebreak: each Arrow chunk
    becomes one (n, m, k) squared-distance tensor and argmins it
    (Spark's higher-order lambdas evaluate interpreted per element,
    ~40x slower). Integer in, integer out. Raises on a batch whose
    vector width is not the codebook width.
    Input: (id, qv int array); output: (id, codes int array).

    `emit_dist=True` adds `dist`, the exact BIGINT sum over subspaces
    of the winning centroid's squared L2 — for m_sub=1 this is the
    k-means point inertia, computed in the same tensor pass instead
    of a second scan or a join back. `emit_qv=True` passes the input
    vector through (the ivf_cells_arrow convention) for downstream
    within-cluster scoring."""
    import numpy as np
    import pandas as pd

    dim = len(seeds[0])
    d_sub = dim // m_sub
    # (m, k, d_sub) codebook tensor
    cb = np.array(seeds, dtype=np.int64).reshape(
        len(seeds), m_sub, d_sub).transpose(1, 0, 2)

    def batches(it):
        for pdf in it:
            x = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            if x.shape[1] != dim:
                raise ValueError(
                    f"codebook width {dim} != corpus dim {x.shape[1]}")
            x = x.reshape(len(pdf), m_sub, d_sub)
            # dists[n, m, k] = ||x[n, m] - cb[m, k]||^2
            diff = x[:, :, None, :] - cb[None, :, :, :]
            dists = (diff * diff).sum(axis=3)
            codes = dists.argmin(axis=2)  # ties -> smallest k (argmin)
            out = {
                id_col: pdf[id_col],
                "codes": [row.astype("int32").tolist() for row in codes],
            }
            if emit_dist:
                out["dist"] = np.take_along_axis(
                    dists, codes[:, :, None], axis=2)[:, :, 0].sum(axis=1)
            if emit_qv:
                out["qv"] = pdf["qv"]
            yield pd.DataFrame(out)

    schema = f"{id_col} bigint, codes array<int>"
    if emit_dist:
        schema += ", dist bigint"
    if emit_qv:
        schema += ", qv array<int>"
    return qdf.mapInPandas(batches, schema)


def train_codebook(qdf: DataFrame, m_sub: int, n_codes: int,
                   lloyd_rounds: int = 2,
                   id_col: str = "vec_id") -> list[list[int]]:
    """INTEGER Lloyd refinement of the PQ codebook — real PQ training
    (k-means per subspace) kept deterministic and SQL-reproducible:
    centroid components update to the FLOOR-DIVIDED mean of exact
    integer member sums (Python //, which the SQL oracle reproduces as
    floor division), so every round is a pure integer function of the
    data — no float means, no tie races (assignment tiebreaks on the
    smallest code, empty cells keep their previous centroid, exactly
    like ivf_cosine_topk keeps its plan shape).

    Per round: one Arrow code-assignment pass over the corpus + one
    (m, k, i)-grain integer aggregate whose output is m_sub * n_codes
    * d_sub rows — collected (bounded: 1024 values at the 8x16x8
    default). Returns the refined seeds as nested Python lists, ready
    for `pq_topk(codebook=...)`; pq_trained_topk's oracle unrolls the
    round in SQL."""
    # qdf feeds one Arrow assignment scan PER ROUND plus the seed
    # collect — persist once so the quantization upstream (parquet
    # scan + int rounding) runs once, not lloyd_rounds + 1 times.
    # Manage the cache ONLY when the caller has not: unpersisting the
    # CALLER's pin on exit would make every post-training consumer
    # (assignment pass, query slice) re-run quantize_codes'
    # corpus-wide dim_stats aggregate from scratch.
    sl = qdf.storageLevel
    managed = not (sl.useMemory or sl.useDisk or sl.useOffHeap)
    if managed:
        qdf = qdf.persist()
    try:
        rows = qdf.orderBy(id_col).limit(n_codes).collect()
        seeds = [list(map(int, r["qv"])) for r in rows]
        dim = len(seeds[0])
        if dim % m_sub != 0:
            raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
        d_sub = dim // m_sub

        for _ in range(lloyd_rounds):
            # emit_qv threads the quantized vector through the SAME
            # Arrow assignment pass — the former coded.join(qdf, id)
            # shuffled the whole corpus on both sides once per Lloyd
            # round just to reattach a column the kernel already had
            # in hand (guide §2.4: remove shuffles outright). Member
            # sums are exact integers, so the result is bit-identical.
            coded = pq_codes_arrow(qdf, seeds, m_sub, id_col=id_col,
                                   emit_qv=True)
            member = (coded
                      .select(F.explode(F.sequence(F.lit(0),
                                                   F.lit(m_sub - 1)))
                              .alias("m"), "codes", "qv")
                      .select("m",
                              F.element_at("codes",
                                           F.col("m") + 1).alias("k"),
                              F.posexplode(F.slice("qv",
                                                   F.col("m") * d_sub + 1,
                                                   d_sub))
                              .alias("i", "val")))
            agg = (member.groupBy("m", "k", "i")
                   .agg(F.sum("val").cast("bigint").alias("s"),
                        F.count(F.lit(1)).alias("n"))
                   .collect())
            new_seeds = [list(s) for s in seeds]
            for r in agg:
                m, k, i = int(r["m"]), int(r["k"]), int(r["i"])
                new_seeds[k][m * d_sub + i] = int(r["s"]) // int(r["n"])
            seeds = new_seeds
        return seeds
    finally:
        if managed:
            qdf.unpersist()


def ivf_cells_arrow(v: DataFrame, cents: list[list[float]],
                    n_keep: int, id_col: str = "__vid",
                    vec_col: str = "__v",
                    cell_ids: list[int] | None = None,
                    emit_vec: bool = False) -> DataFrame:
    """IVF cell assignment: one (batch x cells) BLAS cosine matrix
    per Arrow chunk, each vector keeping its `n_keep` most similar
    cells. Similarities pin to 9 dp half away from zero (DuckDB's
    ROUND); ties break on the smaller cell (stable argsort — requires
    `cents` ordered by ascending cell id). Output: one row per kept
    (id, cell).

    `cell_ids` maps list positions to persistent cell labels (a Lloyd
    round can empty a cell, which then DROPS while the survivors keep
    their ids — positions alone would silently renumber). `emit_vec=True` passes the input vector through, which
    is what the Lloyd member-mean aggregate consumes without a join
    back onto the corpus."""
    import numpy as np
    import pandas as pd  # noqa: F401

    C = np.array(cents, dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    labels = np.array(cell_ids if cell_ids is not None
                      else range(len(cents)), dtype=np.int64)
    if cell_ids is not None and not np.all(np.diff(labels) > 0):
        raise ValueError("cell_ids must be strictly ascending (the "
                         "stable-argsort tiebreak rides on it)")

    def batches(it):
        import pandas as pd

        for pdf in it:
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = (V @ C.T) / (np.linalg.norm(V, axis=1)[:, None]
                                * Cn[None, :])
            r = np.sign(sims) * (np.floor(np.abs(sims) * 1e9 + 0.5)
                                 / 1e9)
            order = np.argsort(-r, axis=1, kind="stable")
            top = labels[order[:, :n_keep]]
            ids = pdf[id_col].to_numpy()
            out = {
                id_col: np.repeat(ids, n_keep),
                "cell": top.reshape(-1).astype("int64")}
            if emit_vec:
                out[vec_col] = np.repeat(pdf[vec_col].to_numpy(),
                                         n_keep)
            yield pd.DataFrame(out)

    schema = f"{id_col} bigint, cell bigint"
    if emit_vec:
        schema += f", {vec_col} array<double>"
    return v.mapInPandas(batches, schema)


def adc_scores_lut(cand_codes: DataFrame,
                   query_qvs: dict[int, list[int]],
                   seeds: list[list[int]], m_sub: int) -> DataFrame:
    """The textbook PQ-ADC lookup-table scorer: per query, an
    (m_sub x n_codes) integer table LUT[m][k] = dot(query subvector m,
    centroid k of subspace m) is precomputed ONCE; each candidate's
    score is then m_sub table gathers + adds instead of m_sub
    full-width dot products per pair. Integer in, integer out. Input:
    (query_id, neighbor_id, codes); output adds exact adc_score."""
    import numpy as np
    import pandas as pd  # noqa: F401

    dim = len(seeds[0])
    d_sub = dim // m_sub
    for qv in query_qvs.values():
        if len(qv) != dim:
            raise ValueError(
                f"codebook width {dim} != corpus dim {len(qv)}")
    cb = (np.array(seeds, dtype=np.int64)
          .reshape(len(seeds), m_sub, d_sub).transpose(1, 0, 2))
    luts = {int(qid): np.einsum(
                "mkd,md->mk", cb,
                np.array(qv, dtype=np.int64).reshape(m_sub, d_sub))
            for qid, qv in query_qvs.items()}
    marange = np.arange(m_sub)

    def batches(it):
        import pandas as pd

        for pdf in it:
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qids = pdf["query_id"].to_numpy()
            scores = np.zeros(len(pdf), dtype=np.int64)
            for qid in np.unique(qids):
                mask = qids == qid
                scores[mask] = luts[int(qid)][
                    marange[None, :], codes[mask]].sum(axis=1)
            yield pd.DataFrame({
                "query_id": qids,
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "adc_score": scores})

    return cand_codes.mapInPandas(
        batches, "query_id bigint, neighbor_id bigint, adc_score bigint")


def ivf_pq_topk(emb: DataFrame, k: int = 10, n_cells: int = 16,
                n_probe: int = 4, m_sub: int = 8, n_codes: int = 16,
                query_mod: int = 125, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """The production ANN composition: IVF cell probing prunes the
    candidate set to n_probe/n_cells of the corpus, then PQ-ADC scores
    only the probed candidates — at 100 TB the scan touches M one-byte
    codes per candidate instead of a full-width vector, and the
    candidate list rides an equi-join on the cell id, never a cross
    product.

    Determinism: cell centroids are the raw float vectors of the first
    n_cells corpus vectors (no Lloyd refinement here — the refined
    variant is ivf_cosine_topk's loop and composes identically), cell
    similarity pins to 9 dp before the argmax, and everything PQ-side
    is integer — so the whole two-stage pipeline has an exact SQL
    oracle. Every per-row kernel is vectorized: BLAS cell assignment
    (ivf_cells_arrow), tensor code assignment (pq_codes_arrow),
    LUT-gather ADC (adc_scores_lut). Output: query_id, neighbor_id,
    adc_score, rank (ADC desc, id asc). Cache lifecycle: same as
    pq_topk (quantized codes persist until the caller clears the
    cache)."""
    from event_streaming_service_spark.operators.similarity import (
        as_double)

    v = emb.select(F.col(id_col).alias("__vid"),
                   as_double(F.col(vec_col)).alias("__v"))
    cents = [list(map(float, r["__v"])) for r in
             v.orderBy("__vid").limit(n_cells).collect()]
    c_cells = (ivf_cells_arrow(v, cents, 1)
               .withColumnRenamed("__vid", "neighbor_id"))
    q_cells = (ivf_cells_arrow(
                   v.where(F.pmod("__vid", F.lit(query_mod)) == 0),
                   cents, n_probe)
               .withColumnRenamed("__vid", "query_id"))
    # probed query cells = corpus/query_mod x n_probe (narrow rows,
    # but corpus-proportional): size-gate the hint, degrade to
    # shuffle-hash above the cap
    cand = (gated_broadcast(q_cells,
                            plan_bytes(emb) * n_probe / query_mod)
            .join(c_cells, "cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id").distinct())

    q = quantize_codes(emb, vec_col, id_col).persist()
    seeds = [list(r["qv"]) for r in
             q.orderBy(id_col).limit(n_codes).collect()]
    if len(seeds[0]) % m_sub != 0:
        raise ValueError(
            f"dim {len(seeds[0])} not divisible by m_sub {m_sub}")
    coded = (pq_codes_arrow(q, seeds, m_sub, id_col=id_col)
             .withColumnRenamed(id_col, "neighbor_id"))
    query_qvs = {int(r[id_col]): list(r["qv"]) for r in
                 q.where(F.pmod(F.col(id_col),
                                F.lit(query_mod)) == 0).collect()}
    scored = adc_scores_lut(cand.join(coded, "neighbor_id"),
                            query_qvs, seeds, m_sub)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_score", "rank"))
