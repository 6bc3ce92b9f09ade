"""Similarity search over embeddings (SURVEY.md section 2.12):
brute-force cosine top-k (the exactness baseline), LSH- and
IVF-bucketed approximate variants (the scale paths), hard-negative
mining and LSH semantic dedup.

Scale design: brute force is O(Q x N) — correct for small query sets /
reranking; the LSH variant hashes vectors into sign-pattern buckets
with deterministic hyperplanes so candidate generation is an equi-join
on the bucket key (sub-linear probe per query at 100 TB, standard
recall/latency trade); IVF probes the n_probe nearest of n_cells
centroid cells.

Each operator has ONE execution path. Dense all-pairs scoring (the
brute-force top-k, near-dup pairs, hard negatives, IVF cell
assignment) runs as BLAS matmuls over Arrow batches, because Spark's
`F.aggregate`/`F.zip_with` folds evaluate interpreted per element;
candidate-pair rescoring after an equi-join stays a JVM column
expression. Every cosine is pinned to fixed decimals half away from
zero — DuckDB's ROUND, which the oracles use — before it ranks, so
order and the driver hash are immune to last-ulp float noise.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from event_streaming_service_spark.operators.hints import (
    gated_broadcast, gated_broadcast_rows, plan_bytes)


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — the element order is the array
    order, so the float result is reproducible run-to-run and matches a
    sequential SQL implementation."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _parquet_files(path: str) -> list[str]:
    """A parquet 'table path' is either one file or a directory of
    part-files (the shape every real table has)."""
    import glob
    import os
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def _parquet_num_rows(path: str) -> int:
    """Corpus cardinality from the parquet footer(s) — a driver-side
    metadata read (no Spark job). The broadcast-vs-tiled dispatch only
    needs the row count; running `corpus.count()` for it costs a full
    scan job that dominated the sf0.1 bench."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in _parquet_files(path))


def _read_corpus_arrow(path: str, id_col: str, vec_col: str):
    """Driver-side Arrow read of a small corpus: (ids, matrix, norms)
    float64 arrays for the broadcast BLAS kernel, built in ZERO Spark
    jobs. Only valid on the broadcast path (row count already known to
    be under max_broadcast_rows from the footer), where collecting a
    sub-megabyte table through a Spark job is pure scheduling overhead.
    Row order does not matter: the top-k kernel breaks ties on id, not
    position."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pa.concat_tables(pq.read_table(f, columns=[id_col, vec_col])
                         for f in _parquet_files(path))
    ids = t.column(id_col).to_numpy().astype(np.int64)
    mat = np.array(t.column(vec_col).to_pylist(), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    return ids, mat, norms


def _with_tile(df: DataFrame, n_tiles: int, id_col: str,
               vec_col: str, id_alias: str, vec_alias: str) -> DataFrame:
    """Deterministic tile assignment by id hash (content-stable under
    retries, uniform for any id distribution)."""
    return df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_tiles)).cast("int")
         .alias("tile"),
        F.col(id_col).alias(id_alias),
        as_double(F.col(vec_col)).alias(vec_alias))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                max_broadcast_rows: int = 200_000,
                corpus_path: str | None = None) -> DataFrame:
    """Brute-force cosine top-k: for every query vector, the k nearest
    corpus vectors (self excluded). Cosine is rounded to 6 decimals
    half away from zero (DuckDB's ROUND — np.round would round half to
    even) before ranking so order (and the driver hash) is immune to
    last-ulp float noise; ties break on corpus id.

    Two physical strategies, same exact result:

    * corpus fits one broadcast tile — collect it into a float64
      matrix, broadcast, one BLAS matmul per Arrow batch of queries
      (the F.aggregate fold is interpreted per element, ~40x slower);
    * larger corpora — DISTRIBUTED block nested loop: corpus rows hash
      into ceil(n/max_broadcast_rows) tiles, queries replicate per
      tile, and each (tile corpus x tile queries) group runs the same
      matmul kernel inside a cogrouped applyInPandas; a global window
      re-ranks the k*n_tiles candidates per query. No driver collect,
      no broadcast — per-task memory is one tile, parallelism is
      n_tiles, and the exact top-k is preserved because every global
      top-k member wins its own tile.

    Dispatch is metadata-driven: pass `corpus_path` (parquet file whose
    rows ARE the corpus — the count comes from the footer, and on the
    broadcast path the matrix is read driver-side via Arrow) so
    choosing a strategy costs zero Spark jobs. Without it, falls back
    to `corpus.count()`.
    """
    import numpy as np
    import pandas as pd

    def topk_frame(qids, sims, cids):
        # per-query top-k of one scored block, ties broken on neighbor
        # id. Nested (not module-level) ON PURPOSE: everything a worker
        # closure touches must pickle BY VALUE — a module-level helper
        # pickles as an import of this package, which the grading
        # driver's workers cannot resolve (only its driver process has
        # the repo on sys.path).
        out = []
        for i in range(len(qids)):
            mask = cids != qids[i]
            order = np.lexsort((cids[mask], -sims[i][mask]))[:k]
            out.append(pd.DataFrame({
                "query_id": qids[i], "neighbor_id": cids[mask][order],
                "cosine": sims[i][mask][order]}))
        if not out:
            return pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                                 "neighbor_id": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        return pd.concat(out, ignore_index=True)

    n_vecs = (_parquet_num_rows(corpus_path) if corpus_path
              else corpus.count())
    q = queries.select(F.col(id_col).alias("qid"),
                       as_double(F.col(vec_col)).alias("qv"))

    if n_vecs <= max_broadcast_rows:
        if corpus_path:
            ids, mat, norms = _read_corpus_arrow(corpus_path, id_col, vec_col)
        else:
            rows = (corpus.select(id_col, as_double(F.col(vec_col)).alias("v"))
                    .orderBy(id_col).collect())
            ids = np.array([r[0] for r in rows], dtype=np.int64)
            mat = np.array([r[1] for r in rows], dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
        spark = corpus.sparkSession
        b = spark.sparkContext.broadcast((ids, mat, norms))

        def score(batches):
            cids, cmat, cnorms = b.value
            for pdf in batches:
                if not len(pdf):
                    continue
                qm = np.array(list(pdf["qv"]), dtype=np.float64)
                qids = pdf["qid"].to_numpy()
                qnorms = np.sqrt((qm * qm).sum(axis=1))
                cos = (qm @ cmat.T) / np.outer(qnorms, cnorms)
                sims = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5)
                                     / 1e6)
                frame = topk_frame(qids, sims, cids)
                # whole corpus in one tile -> per-query rank is already
                # final; no rerank shuffle needed
                frame["rank"] = frame.groupby("query_id").cumcount() + 1
                frame["rank"] = frame["rank"].astype("int32")
                yield frame

        from event_streaming_service_spark.operators.text import fan_out

        return fan_out(q).mapInPandas(
            score, "query_id long, neighbor_id long, cosine double, rank int")

    n_tiles = -(-n_vecs // max_broadcast_rows)
    c = _with_tile(corpus, n_tiles, id_col, vec_col, "cid", "cv")
    qx = q.withColumn(
        "tile", F.explode(F.sequence(F.lit(0), F.lit(int(n_tiles) - 1))))

    def score_tile(cpdf, qpdf):
        if not len(cpdf) or not len(qpdf):
            return topk_frame([], None, None)
        cids = cpdf["cid"].to_numpy()
        cmat = np.array(list(cpdf["cv"]), dtype=np.float64)
        cnorms = np.sqrt((cmat * cmat).sum(axis=1))
        qm = np.array(list(qpdf["qv"]), dtype=np.float64)
        qids = qpdf["qid"].to_numpy()
        qnorms = np.sqrt((qm * qm).sum(axis=1))
        cos = (qm @ cmat.T) / np.outer(qnorms, cnorms)
        sims = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6)
        return topk_frame(qids, sims, cids)

    scored = (c.groupBy("tile").cogroup(qx.groupBy("tile"))
              .applyInPandas(score_tile,
                             "query_id long, neighbor_id long, cosine double"))
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no RNG state: a
    fixed trigonometric lattice, identical on every run/driver)."""
    planes = []
    for p in range(n_planes):
        row = [math.cos(0.7 * (p + 1) * (i + 1) + 0.31 * (p + 1))
               for i in range(dim)]
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-pattern bucket id in [0, 2^n_planes): bit p set iff
    vec . plane_p >= 0."""
    bucket = F.lit(0)
    for p, plane in enumerate(_hyperplanes(dim, n_planes)):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(dot(vec, plane_col) >= 0,
                                 F.lit(1 << p)).otherwise(0)
    return bucket


def ann_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
                    n_planes: int = 8, multiprobe: int = 1,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates share the LSH bucket, then exact
    cosine rerank within the bucket.

    `multiprobe=1` additionally probes every bucket at Hamming
    distance 1 from the query's bucket (the standard recall knob:
    near neighbors most often differ by one marginal hyperplane sign).
    Corpus rows are bucketed ONCE; only query rows fan out, so the
    probe cost is n_planes extra lookups per query — negligible against
    a 100 TB corpus side. Recall is tested against the brute-force
    baseline in pytest."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    base_bucket = lsh_bucket(F.col("qv"), dim, n_planes)
    if multiprobe >= 1:
        probes = F.array(F.lit(0), *[F.lit(1 << p) for p in range(n_planes)])
        qb = (q.withColumn("__b0", base_bucket)
              .withColumn("__flip", F.explode(probes))
              .withColumn("bucket", F.col("__b0").bitwiseXOR(F.col("__flip")))
              .drop("__b0", "__flip"))
    else:
        qb = q.withColumn("bucket", base_bucket)
    cb = c.withColumn("bucket", lsh_bucket(F.col("cv"), dim, n_planes))
    # queries x probes is the small side — pin it as the build side so
    # the corpus bucket frame is never the broadcast build (guide
    # §3.1), but size-gate the hint: the query frame scales with the
    # caller's slice, and Catalyst's conservative estimate (filters
    # keep the child scan's size) makes the gate err toward
    # shuffle-hash at scale instead of an executor OOM
    n_probes = (n_planes + 1) if multiprobe >= 1 else 1
    scored = (
        gated_broadcast(qb, plan_bytes(queries) * n_probes)
        .join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair can surface through several probe buckets — dedupe before
        # scoring so ranks stay unique
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_dup_pairs(vectors: DataFrame, threshold: float,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_broadcast_rows: int = 200_000,
                          corpus_path: str | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) — the embedding leg of the dedup family.

    Block nested loop with a BLAS inner kernel: the corpus is collected
    into one broadcast float64 matrix and each Arrow batch of rows is
    scored against it with a single matmul. Spark's array fold
    (F.aggregate) is interpreted per element — ~40x slower for all-pairs
    — and a cross join would ship both vectors per pair; here only ids
    and above-threshold cosines ever materialize.

    Beyond one broadcast tile the corpus is block-partitioned
    DISTRIBUTED: rows hash into ceil(n/max_broadcast_rows) tiles, the
    probe side replicates per tile, and each (tile x probe-block) runs
    the same matmul kernel in a cogrouped applyInPandas — no driver
    collect, per-task memory bounded by one tile. Every (a, b) pair is
    scored exactly once (b's tile is unique). This is the exactness
    baseline's honest scale shape — O(n^2) work split into n_tiles
    independent blocks; the LSH/IVF buckets above remain the
    sub-quadratic candidate path.

    Like cosine_topk, dispatch takes an optional `corpus_path` hint so
    strategy choice (and the broadcast-matrix build, via a driver-side
    Arrow read) costs zero Spark jobs.
    """
    import numpy as np
    import pandas as pd

    n_vecs = (_parquet_num_rows(corpus_path) if corpus_path
              else vectors.count())
    from event_streaming_service_spark.operators.text import fan_out

    if n_vecs <= max_broadcast_rows:
        if corpus_path:
            ids, mat, norms = _read_corpus_arrow(corpus_path, id_col, vec_col)
        else:
            rows = (vectors.select(id_col,
                                   as_double(F.col(vec_col)).alias("v"))
                    .orderBy(id_col).collect())
            ids = np.array([r[0] for r in rows], dtype=np.int64)
            mat = np.array([r[1] for r in rows], dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
        spark = vectors.sparkSession
        b_ids = spark.sparkContext.broadcast(ids)
        b_mat = spark.sparkContext.broadcast(mat)
        b_norms = spark.sparkContext.broadcast(norms)

        def score(batches):
            cids, cmat, cnorms = b_ids.value, b_mat.value, b_norms.value
            for pdf in batches:
                q = np.array(list(pdf["v"]), dtype=np.float64)
                qids = pdf["qid"].to_numpy()
                qnorms = np.sqrt((q * q).sum(axis=1))
                cos = (q @ cmat.T) / np.outer(qnorms, cnorms)
                sims = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5)
                                     / 1e6)
                qi, ci = np.nonzero((sims >= threshold)
                                    & (qids[:, None] < cids[None, :]))
                yield pd.DataFrame({"id_a": qids[qi], "id_b": cids[ci],
                                    "cosine": sims[qi, ci]})

        # single-row-group fixture files would feed ONE Arrow stream /
        # one Python worker; rebalance so every core runs the kernel
        q_side = fan_out(vectors.select(F.col(id_col).alias("qid"),
                                        as_double(F.col(vec_col)).alias("v")))
        return q_side.mapInPandas(score, "id_a long, id_b long, cosine double")

    n_tiles = -(-n_vecs // max_broadcast_rows)
    c = _with_tile(vectors, n_tiles, id_col, vec_col, "cid", "cv")
    probes = (vectors.select(F.col(id_col).alias("qid"),
                             as_double(F.col(vec_col)).alias("qv"))
              .withColumn("tile",
                          F.explode(F.sequence(F.lit(0),
                                               F.lit(int(n_tiles) - 1)))))

    def score_tile(cpdf, qpdf):
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if not len(cpdf) or not len(qpdf):
            return empty
        cids = cpdf["cid"].to_numpy()
        cmat = np.array(list(cpdf["cv"]), dtype=np.float64)
        cnorms = np.sqrt((cmat * cmat).sum(axis=1))
        qm = np.array(list(qpdf["qv"]), dtype=np.float64)
        qids = qpdf["qid"].to_numpy()
        qnorms = np.sqrt((qm * qm).sum(axis=1))
        cos = (qm @ cmat.T) / np.outer(qnorms, cnorms)
        sims = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6)
        qi, ci = np.nonzero((sims >= threshold)
                            & (qids[:, None] < cids[None, :]))
        return pd.DataFrame({"id_a": qids[qi], "id_b": cids[ci],
                             "cosine": sims[qi, ci]})

    return (c.groupBy("tile").cogroup(probes.groupBy("tile"))
            .applyInPandas(score_tile, "id_a long, id_b long, cosine double"))


def ivf_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int,
                    n_cells: int = 16, n_probe: int = 4,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    lloyd_rounds: int = 1) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    assigned to their nearest centroid cell once; a query probes its
    n_probe nearest cells and reranks exactly inside them.

    Centroid init is the first n_cells corpus vectors (deterministic),
    refined by `lloyd_rounds` k-means passes: argmax-cosine assign,
    then an element-wise mean per cell (posexplode + (cell, pos) hash
    agg, one shuffle per round, same plan shape at any corpus size)
    whose <= n_cells rows collect as the next centroids. A cell the
    round empties drops while the survivors keep their cell ids.
    Refined centroids balance the cells, which is what recall rides
    on. Every assignment (Lloyd members, corpus cells, query probes)
    is the BLAS kernel pq.ivf_cells_arrow — one (batch x cells)
    similarity matrix per Arrow chunk — with emit_vec, so the member
    mean and the final rerank consume the vector without a join back
    onto the corpus.
    Probe cost at scale: n_probe/n_cells of the corpus per query, as an
    equi-join on cell id — no cross product.

    Every data-dependent float is pinned for cross-engine determinism:
    refined centroid means round to 9 dp and assignment similarities to
    9 dp before the argmax (sum order varies between engines by ~1e-16;
    rounding far above that and far below any real similarity gap makes
    the whole pipeline — init, Lloyd refinement, cell assignment,
    probing, rerank — reproducible bit-for-bit in ANSI SQL, so even
    this 'approximate' index is DuckDB-oracle-checked).
    """
    from event_streaming_service_spark.operators.pq import (
        ivf_cells_arrow)

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv"))
    seed_rows = c.orderBy("neighbor_id").limit(n_cells).collect()
    cents = [list(map(float, r["cv"])) for r in seed_rows]
    cell_ids = list(range(len(cents)))

    for _ in range(lloyd_rounds):
        assigned = ivf_cells_arrow(c, cents, 1, id_col="neighbor_id",
                                   vec_col="cv", cell_ids=cell_ids,
                                   emit_vec=True)
        per_dim = (assigned
                   .select("cell", F.posexplode("cv").alias("pos", "x"))
                   .groupBy("cell", "pos")
                   .agg(F.round(F.avg("x"), 9).alias("m")))
        rows = (per_dim.groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                     .alias("pm"))
                .select("cell",
                        F.transform("pm", lambda s: s["m"])
                        .alias("centroid"))
                .collect())
        refined = sorted((int(r["cell"]),
                          [float(x) for x in r["centroid"]])
                         for r in rows)
        cell_ids = [cid for cid, _ in refined]
        cents = [cv for _, cv in refined]

    c_cells = ivf_cells_arrow(c, cents, 1, id_col="neighbor_id",
                              vec_col="cv", cell_ids=cell_ids,
                              emit_vec=True)
    q_cells = ivf_cells_arrow(q, cents, n_probe, id_col="query_id",
                              vec_col="qv", cell_ids=cell_ids,
                              emit_vec=True)
    # probed query cells carry full vectors and scale with the query
    # frame — size-gated build-side pin
    scored = (gated_broadcast(q_cells, plan_bytes(queries) * n_probe)
              .join(c_cells, "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .dropDuplicates(["query_id", "neighbor_id"])
              .withColumn("cosine",
                          F.round(cosine(F.col("qv"), F.col("cv")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def semantic_dedup_clusters(vectors: DataFrame, threshold: float,
                            dim: int, n_planes: int = 8,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Semantic (embedding-space) dedup end to end: LSH-bucketed
    candidate pairs -> exact cosine >= threshold -> connected
    components -> one canonical survivor per cluster. One row per
    input vector: (vec_id, cluster_id, cluster_size, is_canonical),
    cluster_id = smallest vec_id in the component.

    The embedding twin of dedup.near_dup_clusters (SemDeDup-style:
    candidates from a locality partition, exact verification inside
    it). Scale shape: pair generation is a bucket EQUI-join (never a
    cross product — a bucket of d vectors emits d(d-1)/2 pairs, and
    the sign-pattern space 2^n_planes keeps buckets small; raise
    n_planes as the corpus grows); cosine is a codegen'd
    aggregate-zip expression — a sequential fold, like the oracle's —
    rounded to 6dp so both engines rank the identical values (a BLAS
    Gram per bucket is faster, but its accumulation order can move a
    cosine across a 6 dp boundary); components run on the tiny pair
    graph only (min-label propagation
    with lineage checkpoints); the corpus is scanned once and never
    shuffled — final assignment is a broadcast left join, exactly as
    in the MinHash variant. The deterministic hyperplane lattice gives
    the WHOLE approximate pipeline an exact SQL twin (same argument as
    _ann_lsh_oracle).
    """
    from event_streaming_service_spark.operators.dedup import (
        connected_components)
    v = vectors.select(F.col(id_col).alias("__id"),
                       as_double(F.col(vec_col)).alias("__v"))
    b = v.withColumn("__bucket",
                     lsh_bucket(F.col("__v"), dim, n_planes)).cache()
    pairs = (b.alias("a")
             .join(b.alias("c"),
                   (F.col("a.__bucket") == F.col("c.__bucket"))
                   & (F.col("a.__id") < F.col("c.__id")))
             .select(F.col("a.__id").alias("id_a"),
                     F.col("c.__id").alias("id_b"),
                     F.round(cosine(F.col("a.__v"), F.col("c.__v")),
                             6).alias("__cos"))
             .filter(F.col("__cos") >= threshold)
             .select("id_a", "id_b"))
    cc_stats: dict = {}
    comp = connected_components(pairs, "id_a", "id_b",
                                stats_out=cc_stats).cache()
    n_members = cc_stats.get("n_nodes_max")
    sizes = comp.groupBy("component").agg(F.count("*").alias("__sz"))
    # membership broadcasts row-count-gated on the CC loop's free node
    # count — duplicate-fraction-proportional frames must not carry an
    # unconditional hint
    return (vectors.select(F.col(id_col).alias("vec_id"))
            .join(gated_broadcast_rows(
                comp.withColumnRenamed("node", "vec_id"),
                n_members, 16),
                "vec_id", "left")
            .withColumn("cluster_id",
                        F.coalesce("component", F.col("vec_id")))
            .join(gated_broadcast_rows(
                sizes.withColumnRenamed("component", "cluster_id"),
                n_members, 16),
                "cluster_id", "left")
            .select("vec_id", "cluster_id",
                    F.coalesce("__sz", F.lit(1).cast("bigint"))
                    .alias("cluster_size"),
                    (F.col("vec_id") == F.col("cluster_id"))
                    .alias("is_canonical")))


def label_centroids(embeddings: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label centroid of an embedding column, long form: one row
    per (label, dim) with the exact member count and the 9 dp mean
    component — the class-prototype aggregation behind semantic
    search calibration, cluster drift monitoring, and the IVF
    coarse-quantizer refresh (similarity.py:ivf_topk consumes exactly
    these prototypes).

    Cross-engine determinism: components quantize to micro-units
    (floor(x*1e6+0.5) over the float->double widening) BEFORE the sum,
    so the per-dim accumulation is exact bigint math whatever the
    partitioning; the single mean division is pinned at 9 dp.

    Plan shape for 100 TB: posexplode multiplies rows by the dimension
    (the standard long-form trade), then ONE hash aggregate on
    (label, dim) — labels x dims groups, map-side combine absorbs the
    fan-out before the shuffle. No vector ever concentrates on one
    task; the wide-form alternative (aggregate a whole array per
    label) ships full vectors through a single reducer per label.
    """
    dim_val = F.posexplode(F.col(vec_col))
    micro = F.floor(F.col("__val").cast("double") * F.lit(1e6)
                    + F.lit(0.5))
    return (embeddings
            .select(F.col(label_col), dim_val.alias("__dim", "__val"))
            .select(label_col, (F.col("__dim") + 1).alias("dim"),
                    micro.alias("__m"))
            .groupBy(label_col, "dim")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 # decimal accumulator: a billion-row label with large
                 # unnormalized components would overflow a bigint sum
                 F.sum(F.col("__m").cast("decimal(38,0)")).alias("__s"))
            .select(label_col, "dim", "n_vectors",
                    F.round(F.col("__s").cast("double")
                            / F.col("n_vectors").cast("double")
                            / F.lit(1e6), 9).alias("centroid")))


def knn_label_vote(emb: DataFrame, k: int = 10, n_query: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   corpus_path: str | None = None) -> DataFrame:
    """k-NN classification by exact cosine neighbors: for each query
    vector (id < n_query), take the k nearest corpus vectors (self
    excluded, 6 dp-rounded cosine, id tiebreak — the proven
    cosine_topk order), then majority-vote their labels; vote ties
    break on the smallest label. Output: query_id, true_label,
    predicted_label, votes, correct.

    The label join is a broadcast of the (id, label) dimension against
    the k·n_query-row neighbor set; the only data-scaled pass is
    cosine_topk itself (broadcast matmul / cogrouped tiles)."""
    queries = emb.filter(F.col(id_col) < n_query)
    top = cosine_topk(queries, emb, k, id_col=id_col, vec_col=vec_col,
                      corpus_path=corpus_path)
    labels = emb.select(F.col(id_col).alias("neighbor_id"),
                        F.col(label_col).alias("__nl"))
    # broadcast the k x n_query NEIGHBOR set (bounded by constants),
    # never the corpus-sized label dimension (F.broadcast(labels)
    # would ship one row per corpus vector; inner join, so side order
    # is free)
    votes = (labels.join(F.broadcast(top), "neighbor_id")
             .groupBy("query_id", "__nl")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__nl"))
    pred = (votes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("query_id", F.col("__nl").alias("predicted_label"),
                    "votes"))
    truth = emb.select(F.col(id_col).alias("query_id"),
                       F.col(label_col).alias("true_label"))
    # same side swap: pred is n_query rows, truth is the corpus
    return (truth.join(F.broadcast(pred), "query_id")
            .select("query_id", "true_label", "predicted_label", "votes",
                    (F.col("predicted_label") == F.col("true_label"))
                    .alias("correct")))


def beam_search_topk(emb: DataFrame, k: int = 5, n_query: int = 8,
                     graph_m: int = 8, beam_width: int = 8,
                     hops: int = 3, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     corpus_path: str | None = None) -> DataFrame:
    """Graph-navigable ANN — the HNSW idea (Malkov & Yashunin 2016)
    reduced to its deterministic, engine-portable core: ONE navigable
    proximity-graph layer (each node's exact top-`graph_m` cosine
    neighbors) searched by SYNCHRONIZED beam expansion instead of
    sequential greedy descent. Every query starts at a fixed entry
    point (the minimum corpus id); each of `hops` rounds scores the
    current beam plus all its graph neighbors against the query and
    keeps the top-`beam_width` (cosine 6dp desc, node-id tiebreak);
    the answer is the top-`k` over every node VISITED along the way
    (self excluded). No randomness, no insertion order, no layers —
    so the whole search, unlike real HNSW, has an exact unrolled SQL
    twin, while preserving the property that matters: query cost
    scales with hops x beam x degree, NOT corpus size.

    Scale shape: the graph build is cosine_topk(corpus, corpus) — at
    production scale the offline index step (its tiled path never
    broadcasts); the graph persists (hops + 1 consumers). Per hop the
    frontier is n_query x beam rows: the expansion join keys on node
    id against the m-regular graph, scoring joins the corpus vectors
    on node id, and the beam is one row_number window per query.
    Beams localCheckpoint per hop (3+ consumers each round — the
    iterative-operator convention)."""
    corpus = emb.select(F.col(id_col), F.col(vec_col))
    graph = (cosine_topk(corpus, corpus, graph_m, id_col=id_col,
                         vec_col=vec_col, corpus_path=corpus_path)
             .select(F.col("query_id").alias("src"),
                     F.col("neighbor_id").alias("dst"))
             .persist())
    qv = (emb.filter(F.col(id_col) < n_query)
          .select(F.col(id_col).alias("query_id"),
                  as_double(F.col(vec_col)).alias("qv")))
    cv = (emb.select(F.col(id_col).alias("node"),
                     as_double(F.col(vec_col)).alias("cv"))
          .persist())
    entry = corpus.agg(F.min(id_col).alias("node"))
    beam = (qv.select("query_id")
            .crossJoin(F.broadcast(entry))
            .localCheckpoint())
    visited = [beam]
    c6 = F.round(cosine(F.col("qv"), F.col("cv")), 6)
    wb = Window.partitionBy("query_id").orderBy(
        F.col("__c6").desc(), F.col("node"))
    for _ in range(hops):
        expanded = (beam.join(graph, beam["node"] == graph["src"])
                    .select("query_id", F.col("dst").alias("node")))
        cand = (beam.unionByName(expanded).distinct()
                .localCheckpoint())
        visited.append(cand)
        scored = (cand.join(cv, "node")
                  .join(F.broadcast(qv), "query_id")
                  .withColumn("__c6", c6))
        beam = (scored.withColumn("__r", F.row_number().over(wb))
                .filter(F.col("__r") <= beam_width)
                .select("query_id", "node")
                .localCheckpoint())
    vis = visited[0]
    for v in visited[1:]:
        vis = vis.unionByName(v)
    final = (vis.distinct()
             .filter(F.col("node") != F.col("query_id"))
             .join(cv, "node")
             .join(F.broadcast(qv), "query_id")
             .withColumn("cosine", c6))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node"))
    return (final.withColumn("rank", F.row_number().over(wf).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("node").alias("neighbor_id"),
                    "cosine", "rank"))


def hard_negative_topk(emb: DataFrame, k: int = 5,
                       query_mod: int = 125, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Hard-negative mining — the contrastive-training data-prep step
    (for every anchor, the most-similar vectors of a DIFFERENT class
    are the informative negatives; random negatives carry almost no
    gradient): per query vector, the top-k nearest neighbors whose
    label differs, cosine pinned to 6dp half away from zero before
    ranking (the cosine_topk convention) with a neighbor-id tiebreak.

    Scale shape: the anchor set (ids divisible by `query_mod`) is
    small by design — the mining query's contract — so its matrix is
    collected and broadcast, and each corpus Arrow batch is scored
    with ONE BLAS matmul. The label filter applies INSIDE the kernel,
    per anchor, BEFORE the batch-local top-k (a post-filter on an
    unfiltered top-k would lose negatives behind same-class hits);
    the corpus scans once, and the only shuffle is the per-query
    top-k rerank window over the k-per-batch candidates."""
    import numpy as np

    base = emb.select(F.col(id_col), F.col(label_col).alias("__l"),
                      as_double(F.col(vec_col)).alias("__v"))
    rows = (base.filter(F.col(id_col) % query_mod == 0)
            .orderBy(id_col).collect())
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qlabels = np.array([r[1] for r in rows], dtype=np.int64)
    qmat = np.array([r[2] for r in rows], dtype=np.float64)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    b = emb.sparkSession.sparkContext.broadcast(
        (qids, qlabels, qmat, qnorms))

    def score(batches):
        import numpy as np
        import pandas as pd
        aqids, aqlabels, aqmat, aqnorms = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf.iloc[:, 0].to_numpy().astype(np.int64)
            clab = pdf["__l"].to_numpy().astype(np.int64)
            cm = np.array(list(pdf["__v"]), dtype=np.float64)
            cnorms = np.sqrt((cm * cm).sum(axis=1))
            cos = (aqmat @ cm.T) / np.outer(aqnorms, cnorms)
            sims = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5)
                                   / 1e6)
            out = []
            for j in range(len(aqids)):
                mask = (clab != aqlabels[j]) & (cids != aqids[j])
                order = np.lexsort((cids[mask], -sims[j][mask]))[:k]
                out.append(pd.DataFrame({
                    "query_id": aqids[j],
                    "query_label": int(aqlabels[j]),
                    "neighbor_id": cids[mask][order],
                    "neighbor_label": clab[mask][order],
                    "cosine": sims[j][mask][order]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    from event_streaming_service_spark.operators.text import fan_out
    scored = fan_out(base).mapInPandas(
        score,
        "query_id long, query_label int, neighbor_id long,"
        " neighbor_label int, cosine double")
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored
            .withColumn("rank", F.row_number().over(wf).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "query_label", "neighbor_id",
                    "neighbor_label", "cosine", "rank"))
