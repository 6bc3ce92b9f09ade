"""Round-12 operators: embedding-split contamination audit, SemDeDup
survivorship, and the multimodal image x text dup-pair curation."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_streaming_service_spark.operators import kmeans, multimodal


def test_contamination_flags_planted_twin(spark):
    """A held-out vector IDENTICAL to a train vector must flag
    contaminated at cosine exactly 1.0; a held-out vector orthogonal
    to everything in training must not. Split: ids 100/101 are the
    eval side, the rest train. Envelope rows 0/1 pin the quantizer."""
    rows = [
        (0, [10.0, 0.0, 0.0]),      # train
        (1, [0.0, 10.0, 0.0]),      # train
        (2, [10.0, 0.1, 0.0]),      # train (near id 0)
        (100, [10.0, 0.0, 0.0]),    # eval — exact twin of train id 0
        (101, [0.0, 0.0, 10.0]),    # eval — orthogonal to training
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    split = F.when(F.col("vec_id") >= 100, F.lit("test")) \
             .otherwise(F.lit("train"))
    out = {r["query_id"]: r for r in kmeans.ivf_split_contamination(
        emb, split, n_cells=2, n_probe=2, rounds=1,
        threshold_ppb=990_000_000).collect()}
    assert set(out) == {100, 101}
    assert out[100]["contaminated"] and out[100]["cosine_9dp"] == 1.0
    assert out[100]["neighbor_id"] == 0
    assert not out[101]["contaminated"]
    # neighbors must come from the TRAIN split only
    assert all(r["neighbor_id"] < 100 for r in out.values())


def test_contamination_neighbors_exclude_eval_rows(spark):
    """Two near-identical EVAL vectors must not report each other —
    the index is train-only by construction."""
    rows = [(i, [float(i % 3 + 1), float(i % 5)]) for i in range(12)]
    rows += [(100, [9.0, 1.0]), (101, [9.0, 1.0])]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    split = F.when(F.col("vec_id") >= 100, F.lit("val")) \
             .otherwise(F.lit("train"))
    out = kmeans.ivf_split_contamination(
        emb, split, n_cells=2, n_probe=2, rounds=1).collect()
    assert {r["query_id"] for r in out} == {100, 101}
    assert all(r["neighbor_id"] < 100 for r in out)
    assert all(r["query_split"] == "val" for r in out)


def test_image_text_dup_pairs_planted_group(spark):
    """The synthetic PNG is a pure function of doc_id mod
    lcm(64, 48, 128) = 384, so ids 0/384/768 carry identical images
    and form one perceptual group (3 pairs); ids 0 and 384 share the
    exact text (same_text, jaccard 1e6 ppm) while 768's caption is
    disjoint (jaccard 0). The lone id 5 pairs with nothing."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"),
         (384, "alpha beta gamma delta"),
         (768, "zig zag zebra zoo"),
         (5, "other text entirely here")],
        "doc_id long, text string")
    media = multimodal.attach_png_payload(docs)
    out = {(r["doc_a"], r["doc_b"]): r
           for r in multimodal.image_text_dup_pairs(
               media, docs).collect()}
    assert set(out) == {(0, 384), (0, 768), (384, 768)}
    assert out[(0, 384)]["same_text"]
    assert out[(0, 384)]["jaccard_ppm"] == 1_000_000
    assert out[(0, 384)]["inter"] == 2       # 2 distinct trigrams
    assert not out[(0, 768)]["same_text"]
    assert out[(0, 768)]["jaccard_ppm"] == 0
    assert not out[(384, 768)]["same_text"]


def test_semdedup_survivors_invariants(spark):
    """Registered-query invariants on the sf0.001 fixture: one row
    per corpus vector; exactly one survivor per group; the survivor
    carries the group's max quality (smallest id on ties); singletons
    survive by construction."""
    from event_streaming_service_spark.queries import REGISTRY, _load_all

    _load_all()
    out = (REGISTRY["semdedup_survivors"]
           .builder(spark, "/root/testdata/sf0.001").toPandas())
    n_vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").count()
    assert len(out) == n_vecs
    assert out["vec_id"].nunique() == n_vecs
    for gid, grp in out.groupby("group_id"):
        assert grp["is_survivor"].sum() == 1
        win = grp[grp["is_survivor"]].iloc[0]
        assert win["quality"] == grp["quality"].max()
        ties = grp[grp["quality"] == win["quality"]]
        assert win["vec_id"] == ties["vec_id"].min()
        assert (grp["group_size"] == len(grp)).all()
        assert (grp["best_vec_id"] == win["vec_id"]).all()


def test_contamination_matches_oracle(spark, tmp_path):
    """The per-cell BLAS cogroup kernel against
    embedding_split_contamination's own oracle SQL (with this
    fixture's split) on a random fixture where every anchor probes
    multiple non-trivial cells: same neighbor, bit-equal pinned
    cosine, same flag."""
    import random

    from event_streaming_service_spark.query_defs.kmeans_queries import (
        _contamination_oracle)
    from tests.parity import check_embeddings_oracle, write_embeddings

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(80)]
    emb = write_embeddings(spark, tmp_path, rows)
    split = F.when(F.col("vec_id") % 7 == 0, F.lit("test")) \
             .otherwise(F.lit("train"))
    out = kmeans.ivf_split_contamination(
        emb, split, n_cells=4, n_probe=3, rounds=1,
        threshold_ppb=500_000_000)
    assert out.count() == 12
    check_embeddings_oracle(
        out, _contamination_oracle(
            4, 3, 500_000_000, 8,
            split_sql="CASE WHEN vec_id % 7 = 0 THEN 'test'"
                      " ELSE 'train' END"),
        tmp_path, "embedding_split_contamination")
