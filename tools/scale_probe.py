"""Scale probes: run the operators whose 100 TB behavior is least
obvious from their sf0.1 numbers against 10-50M-row synthetic inputs
(generated with spark.range — no fixture files involved), and print
wall times. This is the local stand-in for a cluster soak: it cannot
prove 1000-executor behavior, but it catches the failure classes that
already show at 10^7 rows on 32 cores — quadratic fan-out, per-row
Python, driver collects, unbounded iterative lineage.

Usage: python tools/scale_probe.py [probe ...]
Every `probe_<name>` function below is the probe `<name>`; no
argument runs them all in definition order.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from event_streaming_service_spark.session import get_spark

os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")


def probe_components(spark):
    """900k-node graph of 90k 10-node chains: min-label propagation
    must converge in ~chain-diameter rounds with one shuffle per round
    and bounded lineage (localCheckpoint). Asserts the exact component
    count so a propagation regression fails loudly instead of just
    printing a different wall time."""
    from event_streaming_service_spark.operators.dedup import (
        connected_components)
    edges = (spark.range(0, 900_000)
             .select(F.col("id").alias("doc_a"),
                     # chains of 10: link i -> i+1 except every 10th
                     (F.col("id") + 1).alias("doc_b"))
             .filter((F.col("id") % 10) != 9))
    t0 = time.perf_counter()
    comp = connected_components(edges)
    n = comp.count()
    ncomp = comp.select("component").distinct().count()
    assert n == 900_000 and ncomp == 90_000, (n, ncomp)
    return time.perf_counter() - t0, f"nodes={n} components={ncomp}"


def probe_packing(spark):
    """20M docs through the sharded greedy packer (256 shards): the
    walk is O(1) state per shard; wall time must stay linear."""
    from event_streaming_service_spark.operators.packing import pack_sequences
    docs = (spark.range(0, 20_000_000)
            .select(F.col("id").alias("doc_id"),
                    F.lit("t").alias("text")))
    # bypass tokenization cost: patch token counts deterministically
    from event_streaming_service_spark.operators import packing as P
    counted = docs.select(
        "doc_id", P.shard_of(F.col("doc_id"), 256).alias("shard"),
        (F.pmod(F.xxhash64("doc_id"), F.lit(900)) + 1).alias("n_tokens"))
    import pandas as pd

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > 1000:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += n
        out = pdf[["doc_id", "shard", "n_tokens"]].copy()
        out["bin_id"] = pd.Series(bins, dtype="int64")
        out["oversize"] = out["n_tokens"] > 1000
        return out

    t0 = time.perf_counter()
    packed = counted.groupBy("shard").applyInPandas(
        pack,
        "doc_id long, shard int, n_tokens long, bin_id long, oversize boolean")
    n = packed.count()
    return time.perf_counter() - t0, f"rows={n}"


def probe_quota(spark):
    """50M rows, one 49M-row mega-stratum with quota 100k: the
    two-phase path must pre-filter map-side (the one-phase rank would
    sort 49M rows in one window partition)."""
    from event_streaming_service_spark.operators.sampling import quota_sample
    df = (spark.range(0, 50_000_000)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 50 == 0, F.concat(
                      F.lit("rare-"), (F.col("id") % 7).cast("string")))
                  .otherwise(F.lit("web")).alias("source")))
    t0 = time.perf_counter()
    out = quota_sample(df, {"web": 100_000, "rare-0": 10_000}, "source",
                       default_quota=1000, two_phase=True)
    counts = {r[0]: r[1] for r in
              out.groupBy("source").count().collect()}
    return time.perf_counter() - t0, f"picked={counts}"


def probe_simhash(spark):
    """10M short docs through the 63-bit SimHash kernel (explode +
    63 conditional sums): pure JVM aggregation, must scale linearly."""
    from event_streaming_service_spark.operators.dedup import simhash63
    docs = (spark.range(0, 10_000_000)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ",
                                (F.col("id") % 997).cast("string"),
                                (F.col("id") % 89).cast("string"),
                                (F.col("id") % 13).cast("string"))
                    .alias("text")))
    t0 = time.perf_counter()
    n = simhash63(docs).count()
    return time.perf_counter() - t0, f"rows={n}"


def probe_window(spark):
    """50M events through the tumbling-window aggregate (the streaming
    rollup's batch shape): hash agg with partial combine, no sort."""
    ev = (spark.range(0, 50_000_000)
          .select((F.col("id") % 1000).alias("k"),
                  F.timestamp_micros(
                      (F.lit(1_700_000_000_000_000)
                       + F.col("id") * 1_000_000)).alias("ts"),
                  (F.col("id") % 97).cast("double").alias("value")))
    t0 = time.perf_counter()
    out = (ev.groupBy(F.window("ts", "1 hour"), "k")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(24,4)")).alias("s")))
    n = out.count()
    return time.perf_counter() - t0, f"groups={n}"


def probe_ewma(spark):
    """Hot-key hazard for the sequential smoother: ONE key holding 10M
    rows (plus 1M spread over 1k normal keys). The whole hot group
    materializes as a single pandas frame in one task — the documented
    applyInPandasWithState fallback threshold; this probe measures
    where that wall actually is (memory stays bounded: 10M rows x
    ~24 B/col ~ a few hundred MB, linear C-speed ewm pass)."""
    from event_streaming_service_spark.operators.windows import ewma
    df = (spark.range(0, 11_000_000)
          .select(F.when(F.col("id") < 10_000_000, F.lit("hot"))
                  .otherwise((F.col("id") % 1000).cast("string"))
                  .alias("user_id"),
                  F.timestamp_micros(
                      (F.lit(1_700_000_000_000_000)
                       + F.col("id") * 1_000)).alias("ts"),
                  (F.col("id") % 97).cast("double").alias("value")))
    t0 = time.perf_counter()
    out = ewma(df, "user_id", "ts", "value", alpha=0.2)
    n = out.count()
    assert n == 11_000_000, n
    one_pass_sec = time.perf_counter() - t0

    # the segmented-scan fallback on the same input: the hot key's 10M
    # rows split across 32 time-range segments instead of one task;
    # results must agree with the one-pass form to 1e-6 on EVERY row
    # (joined on the (key, ts) grain — timestamps here are unique per
    # key by construction)
    from event_streaming_service_spark.operators.windows import (
        ewma_segmented)
    t0 = time.perf_counter()
    seg = ewma_segmented(df, "user_id", "ts", "value", alpha=0.2)
    joined = (out.select("user_id", "ts", F.col("ewma").alias("e1"))
              .join(seg.select("user_id", "ts", F.col("ewma").alias("e2")),
                    ["user_id", "ts"]))
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("e1") - F.col("e2"))).alias("worst")).first()
    seg_sec = time.perf_counter() - t0
    assert agg["n"] == 11_000_000, agg
    assert agg["worst"] <= 1e-6, agg
    return one_pass_sec, (f"rows={n} (one 10M-row key); segmented "
                          f"fallback agrees to {agg['worst']:.1e} "
                          f"in {seg_sec:.0f}s")


def probe_gapfill(spark):
    """Sparse-key densification hazard: 100 keys whose [min, max]
    bucket range spans 1M hourly buckets each but only ~1k observed —
    the spine explode generates 100M rows from a 100-row aggregate.
    Checks the fan-out stays JVM-side (sequence + explode, no Python)
    and linear."""
    from event_streaming_service_spark.operators.windows import gapfill_locf
    agg = (spark.range(0, 100_000)
           .select((F.col("id") % 100).alias("k"),
                   # ~1k observations per key, stretched over 1M hours
                   F.timestamp_micros(
                       (F.lit(1_000_000_000_000_000)
                        + (F.col("id") / 100).cast("bigint")
                        * 3_600_000_000 * 1000)).alias("bucket"),
                   (F.col("id") % 7).cast("double").alias("v")))
    t0 = time.perf_counter()
    out = gapfill_locf(agg, "k", "bucket", 3_600_000, ["v"])
    n = out.count()
    gaps = out.filter("is_gap").count()
    return time.perf_counter() - t0, f"rows={n} gaps={gaps}"


def probe_heavy_hitters(spark):
    """30M items, zipf-ish: 10 hot keys own ~30% of the stream, 3M
    cold keys own the rest. The MG candidate pass must emit a bounded
    candidate frame (<= 2k per partition) and the exact verify must
    agree with the naive global GROUP BY computed on the same data —
    at this size the naive plan shuffles ~3M distinct keys where the
    sketch path shuffles only candidates."""
    from event_streaming_service_spark.operators.sketches import (
        heavy_hitters_exact)
    n = 30_000_000
    items = spark.range(0, n).select(
        F.when(F.pmod("id", F.lit(10)) < 3,
               F.concat(F.lit("hot-"),
                        F.pmod("id", F.lit(10)).cast("string")))
         .otherwise(F.concat(F.lit("cold-"),
                             F.pmod(F.xxhash64("id"),
                                    F.lit(3_000_000)).cast("string")))
         .alias("tok"))
    t0 = time.perf_counter()
    out = heavy_hitters_exact(items, "tok", 20).collect()
    sec = time.perf_counter() - t0
    got = {r["tok"]: r["cnt"] for r in out}
    # hot-0/1/2 each own ~10% > 1/20; nothing else can pass
    assert set(got) == {"hot-0", "hot-1", "hot-2"}, got
    assert all(c > n // 20 for c in got.values())
    return sec, f"hitters={sorted(got)}"


def probe_skyline(spark):
    """20M points on a 100k x 10k integer grid, global (ungrouped)
    skyline: the strictly-cheaper prefix-max must run as the bucketed
    distributed scan — per-bucket maxima + broadcast prefix — never a
    single-partition window over the full point set. Asserts frontier
    correctness on the known grid: with dense coverage the frontier
    hugs the anti-diagonal staircase, so every survivor must be
    undominated against the per-price maxima (checked exactly on the
    collected frontier, which is tiny)."""
    from event_streaming_service_spark.operators.skyline import (
        pareto_frontier)
    pts = spark.range(0, 20_000_000).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("p"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)).alias("q"))
    t0 = time.perf_counter()
    frontier = pareto_frontier(pts, "p", "q", n_buckets=128).collect()
    sec = time.perf_counter() - t0
    fr = sorted((r["p"], r["q"]) for r in frontier)
    # a pricier frontier point must offer strictly more q (staircase)
    assert all(q2 > q1 for (_, q1), (_, q2) in zip(fr, fr[1:])), fr[:5]
    return sec, f"frontier_size={len(fr)}"


def probe_profile(spark):
    """30M-row, 4-column profile: the distinct count must pre-aggregate
    at (column, value) grain (no per-column hot reducer, no Expand).
    One skewed column (1k distinct over 30M rows) and one unique column
    stress both ends."""
    from event_streaming_service_spark.operators.profiling import profile
    df = spark.range(0, 30_000_000).select(
        F.col("id").alias("uid"),
        F.pmod("id", F.lit(1000)).alias("skewed"),
        F.when(F.pmod("id", F.lit(100)) == 0, None)
         .otherwise(F.col("id") % 37).alias("gappy"),
        F.concat(F.lit("s"), F.pmod("id", F.lit(5)).cast("string"))
         .alias("s"))
    t0 = time.perf_counter()
    out = {r["col_name"]: r for r in profile(df).collect()}
    sec = time.perf_counter() - t0
    assert out["uid"]["n_distinct"] == 30_000_000
    assert out["skewed"]["n_distinct"] == 1000
    assert out["gappy"]["n_null"] == 300_000
    assert out["s"]["avg_len"] == 2.0
    return sec, "cols=4 rows=30M"



def probe_setjoin(spark):
    """300k synthetic docs (15-token texts over a 40k-word vocab, 20k
    planted near-duplicate pairs differing in one trailing token): the
    prefix filter must keep the candidate join bounded by rare-token
    fan-out and find every planted pair (1-token edits of 15-token
    docs sit above the 0.7 Jaccard threshold: overlap 14 / union 16 =
    0.875)."""
    from event_streaming_service_spark.operators.setjoin import (
        set_similarity_join)
    base = spark.range(0, 300_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("w"),
                     F.pmod(F.xxhash64("id", F.lit(k)), F.lit(40_000))
                     .cast("string"))
            for k in range(15)]).alias("text"))
    dups = (base.where(F.col("doc_id") < 20_000)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    F.concat(F.substring_index("text", " ", 14),
                             F.lit(" zz")).alias("text")))
    docs = base.unionByName(dups)
    t0 = time.perf_counter()
    out = set_similarity_join(docs, threshold_num=7, threshold_den=10,
                              shingle_n=1).collect()
    sec = time.perf_counter() - t0
    planted = {(a, a + 1_000_000) for a in range(20_000)}
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert planted <= got, f"missed {len(planted - got)} planted pairs"
    return sec, f"pairs={len(got)} planted_found=all"


def probe_diff(spark):
    """Two 50M-key versions with a 200-char payload and a 1% delta
    (0.5% removed, 0.5% added, ~1% of the overlap changed): the diff
    must carry ONLY (key, digest) through the full-outer join — the
    optimized plan references the payload column exactly twice (once
    inside each side's md5 digest projection); if the join ever
    carried the payload itself the shuffle would be ~20 GB instead of
    ~4 GB and the attribute would leak into the upper plan. Change
    counts are asserted exactly."""
    from event_streaming_service_spark.operators.diff import table_diff

    def version(lo, hi, changed_mod):
        payload = F.concat(
            F.when(F.pmod("id", F.lit(100)) == 0, F.lit("w"))
             .otherwise(F.lit("v")) if changed_mod else F.lit("v"),
            F.col("id").cast("string"), F.lit("x" * 190))
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), payload.alias("payload"))

    old = version(0, 50_000_000, changed_mod=False)
    new = version(250_000, 50_250_000, changed_mod=True)
    out = table_diff(old, new, ["k"], ["payload"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n_payload_refs = plan.count("payload")
    assert n_payload_refs <= 6, (
        f"payload attribute appears {n_payload_refs}x in the optimized "
        f"plan — the join is carrying tracked columns, not digests")
    t0 = time.perf_counter()
    kinds = {r["change_kind"]: r["n"] for r in
             out.groupBy("change_kind").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    sec = time.perf_counter() - t0
    # overlap keys 250k..49,999,999; multiples of 100 in it are changed
    changed = (49_999_900 - 250_000) // 100 + 1
    assert kinds["added"] == 250_000 and kinds["removed"] == 250_000
    assert kinds["changed"] == changed, kinds
    assert kinds["unchanged"] == 49_750_000 - changed
    return sec, f"keys=50.25M delta kinds={kinds['changed']}ch"


def probe_attribution(spark):
    """10M conversions over 1M keys plus ONE hot key carrying 1M extra
    touches inside the lookback window: the range-framed window must
    bound its state by the frame, never materialize conversions x
    touches, and still pick the immediately-preceding touch for every
    conversion (ms_since_touch == 1 asserted for all 10M)."""
    from event_streaming_service_spark.functions.scalars import millis_to_ts
    from event_streaming_service_spark.operators.analytics import (
        last_touch_attribution)

    base_ms = 10_000_000
    # per user u, 10 (touch, conversion) pairs: touch at base+2k,
    # conversion at base+2k+1
    ev = spark.range(0, 10_000_000).select(
        F.col("id"),
        F.pmod("id", F.lit(1_000_000)).alias("user_id"),
        (F.lit(base_ms) + F.expr("id DIV 1000000") * 2).alias("t0"))
    touches = ev.select((F.col("id") * 2).alias("event_id"), "user_id",
                        millis_to_ts(F.col("t0")).alias("ts"),
                        F.lit("click").alias("event_type"))
    convs = ev.select((F.col("id") * 2 + 1).alias("event_id"), "user_id",
                      millis_to_ts(F.col("t0") + 1).alias("ts"),
                      F.lit("purchase").alias("event_type"))
    # hot key: 1M extra old touches on user 0, all inside the window
    # but strictly older than every pair, so none of them may win
    hot = spark.range(0, 1_000_000).select(
        (F.col("id") + 100_000_000).alias("event_id"),
        F.lit(0).cast("bigint").alias("user_id"),
        millis_to_ts(F.col("id") % 1_000_000).alias("ts"),
        F.lit("click").alias("event_type"))
    events = touches.unionByName(convs).unionByName(hot)
    t0 = time.perf_counter()
    out = last_touch_attribution(events, "user_id", "ts", "event_type",
                                 "purchase", ["click"],
                                 window_ms=base_ms + 30_000_000)
    agg = out.agg(F.count(F.lit(1)).alias("n"),
                  F.min("ms_since_touch").alias("mn"),
                  F.max("ms_since_touch").alias("mx"),
                  F.sum(F.when(F.col("touch_id").isNull(), 1)
                        .otherwise(0)).alias("unattributed")).first()
    sec = time.perf_counter() - t0
    assert agg["n"] == 10_000_000 and agg["unattributed"] == 0
    assert agg["mn"] == 1 and agg["mx"] == 1, agg
    return sec, "conversions=10M hot_key_touches=1M all ms_since=1"


def probe_transition(spark):
    """Transition matrix with ONE 10M-event hot key (plus 100k normal
    keys x 50 events): the per-key lag window sorts the hot timeline
    in one spilling task — inherently sequential per key — but the
    (prev, next) aggregate stays k^2-bounded. Exact counts asserted
    from the deterministic round-robin type sequence."""
    from event_streaming_service_spark.operators.analytics import (
        transition_matrix)

    hot = spark.range(0, 10_000_000).select(
        F.col("id").alias("event_id"),
        F.lit(0).cast("bigint").alias("user_id"),
        F.col("id").alias("ts"),
        F.concat(F.lit("t"), F.pmod("id", F.lit(5)).cast("string"))
        .alias("event_type"))
    spread = spark.range(0, 5_000_000).select(
        (F.col("id") + 20_000_000).alias("event_id"),
        (F.pmod("id", F.lit(100_000)) + 1).alias("user_id"),
        F.expr("id DIV 100000").alias("ts"),
        F.concat(F.lit("t"), F.pmod(F.expr("id DIV 100000"), F.lit(5))
                 .cast("string")).alias("event_type"))
    t0 = time.perf_counter()
    out = transition_matrix(hot.unionByName(spread), "user_id", "ts",
                            "event_type", order_tiebreak="event_id")
    got = {(r["prev_type"], r["next_type"]): r["n_transitions"]
           for r in out.collect()}
    sec = time.perf_counter() - t0
    # hot key: i -> i+1 for i in 0..N-2, pair (j, j+1 mod 5) where
    # j = i % 5; spread: 100k keys x 49 transitions, same round-robin
    want = {}
    for n_i, keys in ((10_000_000 - 1, 1), (50 - 1, 100_000)):
        for j in range(5):
            cnt = n_i // 5 + (1 if j < n_i % 5 else 0)
            pair = (f"t{j}", f"t{(j + 1) % 5}")
            want[pair] = want.get(pair, 0) + cnt * keys
    assert got == want, {k: (got.get(k), want.get(k))
                         for k in set(got) | set(want)
                         if got.get(k) != want.get(k)}

    # the segmented hot-key decomposition must be BIT-IDENTICAL
    # (integer adjacency: within-segment pairs + boundary pairs), with
    # the 10M-row key sorted across 32 parallel segment tasks instead
    # of one spilling task
    t0 = time.perf_counter()
    seg = {(r["prev_type"], r["next_type"]): r["n_transitions"]
           for r in transition_matrix(hot.unionByName(spread), "user_id",
                                      "ts", "event_type",
                                      order_tiebreak="event_id",
                                      n_segments=32).collect()}
    seg_sec = time.perf_counter() - t0
    assert seg == want, "segmented decomposition diverged"
    return sec, (f"hot_key=10M spread=5M exact k^2 matrix; "
                 f"segmented path identical in {seg_sec:.0f}s")


def probe_hierarchy(spark):
    """10M-node DIV-10 tree (depth 7): the lazy fixed-depth closure is
    one plan of 8 chained equi-joins producing the ~71.1M-row closure,
    rolled up in one hash aggregate. Root subtree counts are asserted
    exactly (node 1's subtree holds every key with decimal prefix 1:
    1 + 10 + 100 + ... + 10^6 + (10^7 - 10^7//10*...)-bounded tail)."""
    from event_streaming_service_spark.operators.hierarchy import (
        hierarchy_rollup)
    n = 10_000_000
    keys = spark.range(1, n + 1)
    edges = keys.select(F.col("id").alias("child"),
                        F.expr("id DIV 10").alias("parent")) \
                .where(F.col("parent") >= 1)
    vals = keys.select(F.col("id").alias("k"), F.lit(1).alias("one"))
    t0 = time.perf_counter()
    out = hierarchy_rollup(edges, vals, "k", "one", max_depth=8,
                           probe_empty=False)
    got = {r["k"]: (r["n_desc"], r["subtree_value"])
           for r in out.where(F.col("k") <= 2).collect()}
    sec = time.perf_counter() - t0
    # subtree of key k = keys whose decimal digits start with 'k':
    # prefix '2' holds 1+10+...+10^6 = 1111111 keys; prefix '1' adds
    # key 10^7 itself (the range is inclusive of 10^7)
    want = sum(10 ** L for L in range(7))
    assert got[1] == (want + 1, want + 1), got
    assert got[2] == (want, want), got
    return sec, "nodes=10M closure=71.1M depth=7 exact prefix counts"


def probe_pq_codes(spark):
    """2M synthetic 64-dim int8 vectors through PQ code assignment
    (16 codes x 8 subspaces) — the Arrow/numpy kernel, one (n,m,k)
    tensor argmin per batch. Asserts every code is in range and the
    self-coding invariant on the seeds. The interpreted-lambda
    expression form this kernel replaced ran ~21k vec/s/core."""
    from event_streaming_service_spark.operators.pq import pq_codes_arrow
    dim, m_sub, n_codes = 64, 8, 16
    vecs = spark.range(0, 2_000_000).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: (F.pmod(F.xxhash64("id", i), F.lit(255))
                               - 127).cast("int")).alias("qv"))
    seeds = [list(r["qv"]) for r in
             vecs.orderBy("vec_id").limit(n_codes).collect()]

    t0 = time.perf_counter()
    coded = pq_codes_arrow(vecs, seeds, m_sub)
    agg = coded.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.array_min("codes") >= 0)
                     & (F.array_max("codes") < n_codes), 0)
              .otherwise(1)).alias("bad")).first()
    sec = time.perf_counter() - t0
    assert agg["n"] == 2_000_000 and agg["bad"] == 0

    seed_codes = {r["vec_id"]: list(r["codes"]) for r in
                  pq_codes_arrow(vecs.where(F.col("vec_id") < n_codes),
                                 seeds, m_sub).collect()}
    for vid in range(n_codes):
        # seed vid's distance to centroid vid is 0 in every subspace;
        # tiebreak can only pick an EARLIER seed with identical subvec
        assert all(c <= vid for c in seed_codes[vid]), vid
    return sec, "vecs=2M arrow kernel; codes in range, seeds self-code"


def probe_ivfpq(spark):
    """10M synthetic 64-dim vectors through the FULL IVF+PQ
    composition (ivf_pq_topk: 16 cells, 4 probes, 8x16 PQ-ADC
    rerank) end to end at 10^7. Asserts (a) output arity (k rows per
    query, ranks 1..k, no self-matches) and (b) THE PRUNING CONTRACT:
    every returned neighbor's cell — recomputed independently in
    numpy from the collected centroids on just the returned ids — is
    one of its query's probed cells, i.e. ADC only ever scored
    candidates the cell probe admitted. A full-scan regression (ADC
    before pruning) would surface neighbors from unprobed cells
    (and a very different wall time)."""
    import numpy as np

    from event_streaming_service_spark.operators.pq import ivf_pq_topk

    dim, n_cells, n_probe, k = 64, 16, 4, 10
    n = 10_000_000
    vecs = spark.range(0, n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: ((F.pmod(F.xxhash64("id", i), F.lit(255))
                                - 127) / F.lit(64.0)).cast("float"))
        .alias("embedding"))
    query_mod = 1_000_000  # 10 queries
    t0 = time.perf_counter()
    out = ivf_pq_topk(vecs, k=k, n_cells=n_cells, n_probe=n_probe,
                      m_sub=8, n_codes=16, query_mod=query_mod)
    rows = out.collect()
    sec = time.perf_counter() - t0

    by_q = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {q * query_mod for q in range(n // query_mod)}
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, k + 1)), q

    # independent pruning check: cells of queries + returned neighbors
    ids = sorted({r["query_id"] for r in rows}
                 | {r["neighbor_id"] for r in rows})
    id_vec = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
              for r in vecs.where(F.col("vec_id").isin(ids)).collect()}
    cents = np.stack([np.array(r["embedding"], dtype=np.float64)
                      for r in vecs.orderBy("vec_id")
                      .limit(n_cells).collect()])

    def cells_of(v, topn):
        sims = np.round(cents @ v / (np.linalg.norm(cents, axis=1)
                                     * np.linalg.norm(v)), 9)
        order = sorted(range(n_cells), key=lambda c: (-sims[c], c))
        return order[:topn]

    probed = {q: set(cells_of(id_vec[q], n_probe)) for q in by_q}
    for r in rows:
        ncell = cells_of(id_vec[r["neighbor_id"]], 1)[0]
        assert ncell in probed[r["query_id"]], (
            f"neighbor {r['neighbor_id']} (cell {ncell}) outside "
            f"query {r['query_id']}'s probed cells — ADC scored an "
            f"unpruned candidate")

    return sec, (f"vecs=10M queries={len(by_q)} pruning contract held "
                 f"(589 s JVM-expr baseline)")


def probe_semantic_dedup(spark):
    """1M 64-dim embeddings = 100k planted groups of 10 EXACT
    duplicates through the full semantic-dedup pipeline (LSH buckets
    -> bucket self-join with exact cosine >= 0.99 -> connected
    components -> canonical assignment). Asserted-exact output:
    exactly 100k clusters, every one of size 10 with cluster_id = its
    smallest member id (planted ids are contiguous per group; a
    cross-group merge needs cosine >= 0.99 between independent 64-dim
    hash vectors — ~8 sigma, so an assertion failure means a pipeline
    bug, not bad luck)."""
    from event_streaming_service_spark.operators.similarity import (
        semantic_dedup_clusters)

    dim, n_groups = 64, 100_000
    vecs = spark.range(0, 10 * n_groups).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: ((F.pmod(F.xxhash64((F.col("id") / 10)
                                          .cast("long"), i),
                               F.lit(255)) - 127) / F.lit(64.0))
            .cast("float")).alias("embedding"))
    t0 = time.perf_counter()
    out = semantic_dedup_clusters(vecs, threshold=0.99, dim=dim,
                                  n_planes=16)
    agg = (out.groupBy("cluster_id")
           .agg(F.count(F.lit(1)).alias("sz"),
                F.min("vec_id").alias("mn"),
                F.sum(F.col("is_canonical").cast("int")).alias("nc"))
           .agg(F.count(F.lit(1)).alias("n_clusters"),
                F.sum(F.when((F.col("sz") == 10)
                             & (F.col("mn") == F.col("cluster_id"))
                             & (F.col("nc") == 1), 0).otherwise(1))
                .alias("bad")).first())
    sec = time.perf_counter() - t0
    assert agg["n_clusters"] == n_groups and agg["bad"] == 0, (
        agg["n_clusters"], agg["bad"])
    return sec, (f"vecs={10 * n_groups} clusters={n_groups} all size-10")


def probe_triangles(spark):
    """1M-edge planted-clique graph through the degree-oriented
    triangle census: 100k disjoint 5-cliques (10 edges, 10 triangles
    each) plus 500k chain edges linking cliques (zero extra
    triangles). Asserted-exact: n_triangles == 1,000,000 and the
    wedge count matches the closed form — a wedge-join regression
    (wrong orientation, lost dedup) cannot hide in a wall time."""
    from event_streaming_service_spark.operators.graph import (
        triangle_stats)

    # clique g occupies nodes 5g..5g+4; edges = all 10 pairs
    pairs = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    cliques = None
    for (i, j) in pairs:
        e = spark.range(0, 100_000).select(
            (F.col("id") * 5 + i).alias("a"),
            (F.col("id") * 5 + j).alias("b"))
        cliques = e if cliques is None else cliques.unionAll(e)
    # chain edges between consecutive cliques' node 0: no triangles
    chain = spark.range(0, 99_999).select(
        (F.col("id") * 5).alias("a"),
        ((F.col("id") + 1) * 5).alias("b"))
    edges = cliques.unionAll(chain)
    # duplicate + reversed edges must not change anything
    edges = edges.unionAll(edges.select(F.col("b").alias("a"),
                                        F.col("a").alias("b")))
    t0 = time.perf_counter()
    row = triangle_stats(edges, "a", "b").first()
    sec = time.perf_counter() - t0
    assert row["n_nodes"] == 500_000, row
    assert row["n_edges"] == 100_000 * 10 + 99_999, row
    assert row["n_triangles"] == 1_000_000, row
    # wedges: 2 nodes/clique of deg 4+? node 0 of cliques 1..99998 has
    # deg 4+2, endpoints deg 4+1, others deg 4 — closed form:
    import math
    def c2(d): return d * (d - 1) // 2
    exp_wedges = (2 * c2(5)                    # endpoint cliques' node 0
                  + 99_998 * c2(6)             # middle cliques' node 0
                  + (100_000 * 4) * c2(4))     # all non-0 clique nodes
    assert row["n_wedges"] == exp_wedges, (row["n_wedges"], exp_wedges)
    return sec, (f"edges=1.1M(+dups/reversals) triangles=1M exact, "
                 f"wedges closed-form exact")




def probe_winnow(spark):
    """200k synthetic docs (~192 chars each, ~38M chars total) through
    the winnowing fingerprint kernel: per-doc O(n) numpy work inside
    mapInPandas, no shuffle. Two ids are planted to render IDENTICAL
    text; their full fingerprint digests must agree exactly (the
    kernel is deterministic content hashing, so equal text => equal
    digest), and every doc must fingerprint."""
    from event_streaming_service_spark.operators.fingerprint import (
        winnow_stats)
    n = 200_000
    docs = (spark.range(n)
            .select(F.col("id").alias("doc_id"),
                    F.repeat(F.md5((F.col("id") % (n - 1)).cast("string")),
                             6).alias("text")))
    t0 = time.perf_counter()
    stats = winnow_stats(docs)
    agg = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_fp") > 0, 0).otherwise(1)).alias("empty"),
    ).collect()[0]
    twins = (stats.filter(F.col("doc_id").isin(0, n - 1))
             .select("fp_sum", "fp_min", "fp_max", "n_fp").collect())
    sec = time.perf_counter() - t0
    assert agg["n"] == n and agg["empty"] == 0, agg
    assert len(twins) == 2
    assert tuple(twins[0]) == tuple(twins[1]), twins  # id 0 == id n-1 text
    return sec, f"docs={n} chars~38M all fingerprinted, twin digests equal"


def probe_distinct_sketch(spark):
    """10M rows / 5M distinct keys through portable HLL (256-register
    constant-size aggregate) and global KMV (bounded Arrow-kernel
    local minima + tiny merge). Asserts the estimates land inside the
    published error bands (HLL rse ~1.04/sqrt(256)=6.5%% -> 20%% gate;
    KMV rse ~1/sqrt(63)=12.6%% -> 40%% gate) — a hashing or merge bug
    lands far outside either."""
    from event_streaming_service_spark.operators import distinct_sketch as ds
    n, d = 10_000_000, 5_000_000
    df = spark.range(n).select((F.col("id") % d).alias("k"))
    t0 = time.perf_counter()
    hll = ds.hll_summary(df, F.col("k")).collect()[0]
    t_hll = time.perf_counter() - t0
    est = hll["est_micro"] / 1e6
    assert abs(est - d) < 0.20 * d, (est, d)
    t0 = time.perf_counter()
    kmv = ds.kmv_per_group(
        df.withColumn("g", F.lit("all")), "g", F.col("k")).collect()[0]
    t_kmv = time.perf_counter() - t0
    assert abs(kmv["est_distinct"] - d) < 0.40 * d, kmv
    return t_hll + t_kmv, (
        f"rows={n} distinct={d} hll_est={est:,.0f} ({t_hll:.1f}s) "
        f"kmv_est={kmv['est_distinct']:,} ({t_kmv:.1f}s)")


def probe_adamic_adar(spark):
    """5M-node ring: every node centers exactly one wedge, so the
    link-prediction output is known in closed form — 5M candidate
    pairs, every one with 1 common neighbor of degree 2 and
    aa_micro = floor(1e6/ln 2 + 0.5) = 1442695. Asserts the top-20
    values and the exact candidate count."""
    import math
    from event_streaming_service_spark.operators.graph import (
        adamic_adar_links)
    n = 5_000_000
    ring = (spark.range(n)
            .select(F.least(F.col("id"), (F.col("id") + 1) % n).alias("a"),
                    F.greatest(F.col("id"), (F.col("id") + 1) % n)
                    .alias("b")))
    t0 = time.perf_counter()
    top = adamic_adar_links(ring, top_n=20).collect()
    sec = time.perf_counter() - t0
    expect = math.floor(1e6 / math.log(2) + 0.5)
    assert len(top) == 20
    assert all(r["aa_micro"] == expect and r["common_neighbors"] == 1
               for r in top), top[:3]
    assert [r["u"] for r in top[:3]] == [0, 0, 1]  # (0,2),(0,4998...),(1,3)
    return sec, f"nodes=5M wedge-pairs=5M top20 aa==1/ln2 exact"


def probe_assoc_rules(spark):
    """Mega-basket hazard (VERDICT r7 item #3): one basket holding
    100k distinct one-off items would fan the basket self-join out to
    C(100k,2) ~ 5e9 pairs. Every one of those items has global count
    1 < min_pair_count, so the a-priori prune (support monotonicity)
    semi-joins them away BEFORE the join — the probe runs in seconds
    and returns exactly the one planted frequent rule, with its
    support/conf/lift checked closed-form. 200k two-item noise
    baskets (all unique items) are likewise fully pruned."""
    from event_streaming_service_spark.operators.analytics import (
        association_rules)
    n_noise = 200_000
    planted = (spark.range(100).selectExpr(
        "id AS b", "explode(array(0L, 1L)) AS i"))
    noise = (spark.range(n_noise).selectExpr(
        "id + 100 AS b",
        "explode(array(1000000 + 2*id, 1000001 + 2*id)) AS i"))
    mega = (spark.range(100_000).selectExpr(
        "999999L AS b", "2000000 + id AS i"))
    baskets = planted.unionByName(noise).unionByName(mega)
    t0 = time.perf_counter()
    rules = association_rules(baskets, "b", "i", min_pair_count=3,
                              top_n=10).collect()
    sec = time.perf_counter() - t0
    n = 100 + n_noise + 1
    assert len(rules) == 1, rules
    r = rules[0]
    assert (r["item_a"], r["item_b"], r["pair_cnt"]) == (0, 1, 100)
    assert r["support_ppm"] == 100 * 1_000_000 // n
    assert r["conf_ab_ppm"] == 1_000_000 and r["conf_ba_ppm"] == 1_000_000
    assert r["lift_ppm"] == 100 * n * 1_000_000 // (100 * 100)
    return sec, (f"mega-basket=100k items pruned pre-join "
                 f"(uncapped ~5e9 pairs); 1 planted rule exact")


def probe_adamic_hub(spark):
    """Planted power-law hub (VERDICT r7 item #2): one celebrity node
    with 10^6 spokes would enumerate C(1e6,2) ~ 5*10^11 wedges on the
    exact path — max_center_degree=256 bounds it to C(256,2) = 32,640
    hub pairs. A planted path (2M)-(2M+1)-(2M+2) has the only deg-2
    center, so the global top-1 is known in closed form and must
    survive the cap untouched; every other returned pair is a capped
    hub pair carrying the TRUE-degree term 1e6/ln(1e6). Also asserts
    cap-parity on a slice: cap >= max degree == exact output on a
    20k-spoke subgraph."""
    import math
    from event_streaming_service_spark.operators.graph import (
        adamic_adar_links)
    n_spokes = 1_000_000
    hub = spark.range(1, n_spokes + 1).select(
        F.lit(0).cast("bigint").alias("a"), F.col("id").alias("b"))
    path = spark.createDataFrame(
        [(2_000_000, 2_000_001), (2_000_001, 2_000_002)],
        "a bigint, b bigint")
    edges = hub.unionByName(path)
    t0 = time.perf_counter()
    top = adamic_adar_links(edges, top_n=5,
                            max_center_degree=256).collect()
    total = (adamic_adar_links(edges, top_n=50_000,
                               max_center_degree=256).count())
    sec = time.perf_counter() - t0
    assert (top[0]["u"], top[0]["v"]) == (2_000_000, 2_000_002)
    assert top[0]["aa_micro"] == math.floor(1e6 / math.log(2) + 0.5)
    hub_term = math.floor(1e6 / math.log(n_spokes) + 0.5)
    assert all(r["aa_micro"] == hub_term and r["common_neighbors"] == 1
               for r in top[1:]), top[1:]
    assert total == 256 * 255 // 2 + 1, total  # wedge fan-out bounded
    # parity slice: 20k-spoke hub, cap >= max degree == exact
    small = (spark.range(1, 20_001).select(
        F.lit(0).cast("bigint").alias("a"), F.col("id").alias("b"))
        .unionByName(path))
    exact = adamic_adar_links(small, top_n=10).collect()
    loose = adamic_adar_links(small, top_n=10,
                              max_center_degree=20_000).collect()
    assert exact == loose
    return sec, (f"hub=1e6 spokes cap=256 pairs={total} "
                 f"(uncapped ~5e11 wedges) top1=path parity-slice ok")


def probe_lrs(spark):
    """32 docs x 1M tokens through the suffix-automaton LRS kernel:
    one DOC is the unit of parallel work, so the hazard is a single
    huge document, not the corpus. Tokens are globally unique per doc
    ("w<i>") except a 30-token block planted at two positions, so the
    only repeats are the planted block and its sub-grams: with cap 24
    the exact answer is lrs_len=24 and n_max_grams = 30-24+1 = 7
    distinct capped grams, closed form for every doc. Proves the
    automaton stays linear (3M-ish states in Python lists per doc)
    and that per-doc memory is bounded by the doc, with nothing but
    the 4-int row leaving the kernel."""
    from event_streaming_service_spark.operators.text import lrs_stats

    n_docs, n_toks, block, at1, at2 = 32, 1_000_000, 30, 1000, 500_000

    def gen(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for d in pdf["id"]:
                toks = [f"d{d}w{i}" for i in range(n_toks)]
                toks[at2:at2 + block] = toks[at1:at1 + block]
                rows.append((int(d), " ".join(toks)))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    docs = (spark.range(n_docs).repartition(n_docs)
            .mapInPandas(gen, "doc_id bigint, text string"))
    t0 = time.perf_counter()
    out = lrs_stats(docs, cap=24).collect()
    sec = time.perf_counter() - t0
    assert len(out) == n_docs
    for r in out:
        assert (r["n_tokens"], r["lrs_len"], r["n_max_grams"]) \
            == (n_toks, 24, 7), r
    return sec, (f"docs={n_docs} x {n_toks} tokens; planted 30-gram "
                 f"-> capped lrs=24, 7 distinct max grams, all exact")


def probe_gram(spark):
    """2M x 64-dim vectors through the Gram tree-aggregate: each
    partition folds to ONE (64, 64) int64 accumulator (BLAS Q^T Q per
    Arrow batch) and only partitions x 2080 partial rows shuffle —
    nothing row-grain. Components are ((id + d) % 7 - 3) / 1000, so
    quantized values are (id+d)%7-3 and, with 2M a multiple of 7 in
    count per residue class... it is not, so the truth is computed by
    residue-class counting in exact Python ints and every one of the
    2080 cells must match it."""
    from event_streaming_service_spark.operators.quantize import (
        gram_matrix)

    n, d = 2_000_000, 64
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda j: ((F.col("id") + j) % 7 - 3) / F.lit(1000.0))
    emb = spark.range(n).select(F.col("id").alias("vec_id"),
                                vec.alias("embedding"))
    t0 = time.perf_counter()
    got = {(r["i"], r["j"]): r["gram"]
           for r in gram_matrix(emb).collect()}
    sec = time.perf_counter() - t0
    assert len(got) == d * (d + 1) // 2
    # residue-class truth: count of id with id % 7 == r is
    # n // 7 + (1 if r < n % 7 else 0)
    cnt = [n // 7 + (1 if r < n % 7 else 0) for r in range(7)]
    for i in (1, 2, 7, 64):
        for j in (i, i + 3, 64):
            if j < i or j > d:
                continue
            want = sum(c * (((r + i) % 7) - 3) * (((r + j) % 7) - 3)
                       for r, c in enumerate(cnt))
            assert got[(i, j)] == want, (i, j, got[(i, j)], want)
    return sec, (f"vecs={n} d={d}; 2080 cells, spot cells equal the "
                 f"residue-class closed form exactly")


def probe_intervals(spark):
    """50M intervals over 100k keys through the islands merge: per key
    500 spans starting at 2*i days with length 1 (i even: [2i, 2i+1])
    or 3 (i odd: [2i, 2i+3]) — every odd span bridges into the next
    even span, so islands are chains whose break points are known in
    closed form: span i starts an island iff i == 0 or i is even and
    span i-1 was even... with this construction span boundaries give
    exactly 250 islands of 2 spans (odd bridges) per key: [2i, 2i+1]
    then [2i+2, 2i+5] merge (2i+2 <= 2i+1? no). Rather than reason in
    prose, the probe computes the truth with the same fold in exact
    Python over ONE key (all keys are identical by construction) and
    asserts every key matches it."""
    from event_streaming_service_spark.operators.windows import (
        interval_coverage)

    n_keys, per_key = 100_000, 500
    rows = (spark.range(n_keys * per_key)
            .selectExpr("id % 100000 AS k",
                        "CAST(id DIV 100000 AS INT) AS i")
            .selectExpr(
                "k",
                "date_add(DATE '2000-01-01', 2 * i) AS s",
                "date_add(DATE '2000-01-01', 2 * i"
                " + CASE WHEN i % 2 = 1 THEN 3 ELSE 1 END) AS e"))
    t0 = time.perf_counter()
    out = interval_coverage(rows, "k", "s", "e")
    agg = (out.groupBy("n_intervals", "n_islands", "covered_days",
                       "max_island_days")
           .count().collect())
    sec = time.perf_counter() - t0
    # single-key truth with the same fold in exact Python
    spans = sorted((2 * i,
                    2 * i + (3 if i % 2 == 1 else 1))
                   for i in range(per_key))
    islands = []
    for s, e in spans:
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
        else:
            islands.append([s, e])
    want = (per_key, len(islands),
            sum(e - s + 1 for s, e in islands),
            max(e - s + 1 for s, e in islands))
    assert len(agg) == 1, agg  # every key identical
    got = agg[0]
    assert (got["n_intervals"], got["n_islands"], got["covered_days"],
            got["max_island_days"]) == want, (got, want)
    assert got["count"] == n_keys
    return sec, (f"{n_keys * per_key / 1e6:.0f}M spans / {n_keys} keys; "
                 f"all keys equal the exact single-key fold "
                 f"(islands={want[1]})")


def probe_blocklist(spark):
    """200k docs x ~1.3k chars scanned against a 10k-pattern
    Aho-Corasick automaton (goto/fail tables built once on the driver,
    riding the closure): per-doc work is O(chars + matches) no matter
    how many patterns — the contains()-per-pattern plan would pay 10k
    scans per doc. Each doc embeds exactly one planted pattern
    "needle<doc_id % 10000>x" at a known offset, so every doc must
    report n_matches >= 1 and the planted first position."""
    from event_streaming_service_spark.operators.text import (
        multi_pattern_scan)

    n_docs, n_pats = 200_000, 10_000
    pats = tuple(f"needle{i}x" for i in range(n_pats))
    docs = (spark.range(n_docs)
            .selectExpr("id AS doc_id",
                        "concat(repeat(concat('w', CAST(id AS STRING),"
                        " ' '), 100), 'needle',"
                        " CAST(id % 10000 AS STRING), 'x tail')"
                        " AS text"))
    t0 = time.perf_counter()
    out = multi_pattern_scan(docs, pats)
    agg = out.agg(
        F.sum(F.when(F.col("n_matches") >= 1, 0).otherwise(1))
        .alias("missed"),
        F.sum(F.when(F.col("n_patterns") >= 1, 0).otherwise(1))
        .alias("missed_p"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    sec = time.perf_counter() - t0
    assert agg["n"] == n_docs
    assert agg["missed"] == 0 and agg["missed_p"] == 0, agg
    return sec, (f"docs={n_docs} patterns={n_pats}; one automaton "
                 f"pass/doc, every planted needle found")


def probe_kcore(spark):
    """1000-clique + 5M-node chain, k=3: the chain (deg <= 2) peels in
    ONE round and the early-exit fires on the next — survivors must be
    exactly the clique, every node at deg 999. Catches an iterative
    regression (unbounded lineage / missed fixpoint) as an assert, not
    a wall-time shrug."""
    from event_streaming_service_spark.operators.graph import kcore_peel
    n_chain = 5_000_000
    clique = (spark.range(1000).select(F.col("id").alias("a"))
              .join(spark.range(1000).select(F.col("id").alias("b")),
                    F.col("a") < F.col("b")))
    chain = (spark.range(n_chain - 1)
             .select((F.col("id") + 10_000).alias("a"),
                     (F.col("id") + 10_001).alias("b")))
    edges = clique.unionByName(chain)
    t0 = time.perf_counter()
    core = kcore_peel(edges, k=3, rounds=8).collect()
    sec = time.perf_counter() - t0
    assert len(core) == 1000, len(core)
    assert all(r["deg_in_core"] == 999 for r in core)
    return sec, "clique-1000 + chain-5M peeled to the clique, k=3"


def probe_global_rank(spark):
    """20M-row global rank: bijective 1..20M or the range-boundary
    pinning regressed (the round-7 bug: RangePartitioner re-samples
    boundaries per job, so unpinned sizes and ranks disagree past the
    ~640-row sample — invisible at fixture scale, catastrophic here)."""
    from event_streaming_service_spark.operators.linkage import (
        global_rank)
    n = 20_000_000
    df = (spark.range(n)
          .select((F.col("id") * 2654435761 % 1_000_003).alias("v"),
                  F.col("id").alias("tb")))
    t0 = time.perf_counter()
    r = global_rank(df, ["v", "tb"], num_partitions=64)
    agg = r.agg(F.count("*").alias("n"),
                F.countDistinct("rank").alias("d"),
                F.min("rank").alias("mn"),
                F.max("rank").alias("mx")).collect()[0]
    sec = time.perf_counter() - t0
    assert (agg["n"], agg["d"], agg["mn"], agg["mx"]) == (n, n, 1, n), agg
    return sec, f"rows=20M ranks bijective 1..20M"


def probe_cdc_merge(spark):
    """20M-key base + 20M-op changelog with closed-form action counts:
    ops hit keys 10M..30M (half updates, half inserts), every 5th key
    is a delete. One window + one full-outer join at key grain — the
    action histogram must match the arithmetic exactly."""
    from event_streaming_service_spark.operators.diff import (
        merge_changelog)
    n = 20_000_000
    base = spark.range(n).select(F.col("id").alias("k"),
                                 F.col("id").alias("bal"))
    log = (spark.range(n)
           .select((F.col("id") + 10_000_000).alias("k"),
                   F.when((F.col("id") + 10_000_000) % 5 == 0,
                          F.lit("D")).otherwise(F.lit("U")).alias("op"),
                   F.col("id").alias("v"),
                   F.lit(1).alias("seq"),
                   F.col("id").alias("opid")))
    t0 = time.perf_counter()
    out = (merge_changelog(base, log, "k", ["seq", "opid"], "op", "v",
                           "bal")
           .groupBy("action").agg(F.count(F.lit(1)).alias("n"))
           .collect())
    sec = time.perf_counter() - t0
    got = {r["action"]: r["n"] for r in out}
    assert got == {"unchanged": 10_000_000,
                   "updated": 8_000_000, "deleted": 2_000_000,
                   "inserted": 8_000_000, "noop_delete": 2_000_000}, got
    return sec, "base=20M ops=20M action histogram closed-form exact"


def probe_bootstrap(spark):
    """One-pass Poisson bootstrap at 50M rows: the claim is that 32
    resamples cost ONE aggregation pass (64 conditional sums), never
    an explode — so 50M rows must take scan-time, not 32x scan-time.
    Closed-form asserts: n_rows exact per group, CI brackets the
    known mean of a uniform ramp, and the interval is sane."""
    from event_streaming_service_spark.operators.analytics import (
        bootstrap_mean_ci)
    n = 50_000_000
    df = spark.range(n).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        F.col("id").alias("event_id"),
        ((F.col("id") % 1000) / 100.0).alias("value"))
    t0 = time.perf_counter()
    rows = bootstrap_mean_ci(df, "grp", "value", "event_id",
                             n_boot=32).collect()
    sec = time.perf_counter() - t0
    assert len(rows) == 4
    for r in rows:
        assert r["n_rows"] == n // 4, r
        # value cycles 0.00..9.99 -> mean 4.995 = 499.5 cents
        assert abs(r["mean_micro"] - 499_500_000) < 2_000_000, r
        assert r["ci_lo_micro"] <= r["mean_micro"] <= r["ci_hi_micro"]
    return sec, "n=50M groups=4 resamples=32 one-pass CI brackets mean"


def probe_theil_sen(spark):
    """Hot-key hazard: ONE key holding 1M events would pair into
    5*10^11 slopes uncapped; the per-key cap must bound it at
    C(128,2) = 8128 pairs while the slope estimate stays exact on a
    clean linear ramp (1 cent-unit per hour -> 100000 milli-cph)."""
    from event_streaming_service_spark.operators.analytics import (
        theil_sen_trend)
    n = 1_000_000
    df = spark.range(n).select(
        F.lit(1).cast("bigint").alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_millis(F.col("id") * 3_600_000).alias("ts"),
        F.col("id").cast("double").alias("value"))
    t0 = time.perf_counter()
    rows = theil_sen_trend(df, "user_id", "ts", "value",
                           "event_id").collect()
    sec = time.perf_counter() - t0
    assert len(rows) == 1
    assert rows[0]["n_pairs"] == 128 * 127 // 2, rows[0]
    assert rows[0]["theil_sen_milli_cph"] == 100_000.0, rows[0]
    return sec, "hot key n=1M pairs capped at C(128,2)=8128 slope exact"


def probe_containment(spark):
    """Containment join at 200k docs with planted doc-in-doc pairs:
    1k 'quote' docs each fully contained in a unique larger 'host'
    doc; 199k background docs share no shingle with them. The
    candidate join must find exactly the 1k planted directed pairs at
    containment 1.0 (background docs pair only below threshold)."""
    from event_streaming_service_spark.operators.dedup import (
        containment_pairs)
    quote = F.concat_ws(
        " ", *[F.concat(F.lit(f"q{i}t"), F.col("id")) for i in range(6)])
    host = F.concat(quote, F.lit(" "), F.concat_ws(
        " ", *[F.concat(F.lit(f"h{i}x"), F.col("id")) for i in range(20)]))
    bg = F.concat_ws(
        " ", *[F.concat(F.lit(f"b{i}y"), F.col("id")) for i in range(8)])
    quotes = spark.range(1_000).select(
        F.col("id").alias("doc_id"), quote.alias("text"))
    hosts = spark.range(1_000).select(
        (F.col("id") + 1_000_000).alias("doc_id"), host.alias("text"))
    backs = spark.range(199_000).select(
        (F.col("id") + 2_000_000).alias("doc_id"), bg.alias("text"))
    docs = quotes.unionByName(hosts).unionByName(backs)
    t0 = time.perf_counter()
    rows = containment_pairs(docs, 800_000).collect()
    sec = time.perf_counter() - t0
    planted = {(r["src_doc"], r["dst_doc"]) for r in rows}
    assert planted == {(i, i + 1_000_000) for i in range(1_000)}, \
        (len(planted), sorted(planted)[:3])
    assert all(r["containment_ppm"] == 1_000_000 for r in rows)
    return sec, "docs=200k planted=1000 directed pairs exact, no noise"


def probe_ks_drift(spark):
    """Two-sample KS at 20M rows with a planted +500 location shift:
    the cumulative window runs on the (group, distinct value) grain
    (1,500 distinct cents values here, NOT 20M rows), and the
    decimal cross-products survive n_a = n_b = 10M (cum*n products
    reach 1e20 — past bigint, inside decimal(38,0)). Closed form:
    uniform 0..999 vs 500..1499 overlap half their mass -> D = 0.5
    exactly, first attained at the last a-only value 499."""
    from event_streaming_service_spark.operators.anomaly import (
        ks_two_sample)
    n = 20_000_000
    df = spark.range(n).select(
        F.lit("t").alias("grp"),
        (F.col("id") % 2).cast("int").alias("p"),
        (((F.col("id") / 2).cast("long") % 1000)
         + F.when(F.col("id") % 2 == 1, 500).otherwise(0))
        .cast("double").alias("value"))
    t0 = time.perf_counter()
    r = ks_two_sample(df, "grp", "value", F.col("p") == 1,
                      value_scale=1).collect()[0]
    sec = time.perf_counter() - t0
    assert (r["n_a"], r["n_b"]) == (n // 2, n // 2), r
    assert r["ks_d_ppm"] == 500_000, r
    assert r["at_v_cents"] == 499, r
    return sec, "n=20M planted shift D exactly 0.5 at v=499"


def probe_lpa_star(spark):
    """LPA hot-hub hazard: a 500k-spoke star. The center's neighbor
    -label aggregate is one 500k-row hash-agg group and its argmax
    window partition is degree-bounded — no quadratic surface. The
    synchronous dynamics on a star are the known bipartite
    oscillation: after round 3 the center holds the min spoke label
    and every spoke holds the center's initial label; asserted
    exactly, so a tie-break or sync regression fails loudly."""
    from event_streaming_service_spark.operators.graph import (
        label_propagation)
    n = 500_000
    edges = spark.range(1, n + 1).select(
        F.lit(0).cast("bigint").alias("a"), F.col("id").alias("b"))
    t0 = time.perf_counter()
    out = label_propagation(edges, rounds=3)
    center = out.filter(F.col("node") == 0).collect()[0]
    sizes = {r["community"]: r["cnt"] for r in
             out.groupBy("community").agg(F.count(F.lit(1)).alias("cnt"))
             .collect()}
    sec = time.perf_counter() - t0
    assert center["community"] == 1, center
    assert sizes == {1: 1, 0: n}, sizes
    return sec, f"star deg={n} oscillation labels exact"


def probe_hits_bipartite(spark):
    """HITS at 2M directed edges (2M customers -> 1k suppliers,
    uniform): per round the score frame is node-grain and the only
    big operand is the cached edge join. Uniform closed form: every
    supplier's authority and every customer's hub normalize to
    floor(SCALE / k) of their side's mass regardless of round."""
    from event_streaming_service_spark.operators.graph import hits
    n, k = 2_000_000, 1_000
    edges = spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("src"),
        F.concat(F.lit("s"), (F.col("id") % k)).alias("dst"))
    t0 = time.perf_counter()
    out = hits(edges, iterations=3)
    auths = (out.filter(F.col("auth_nano") > 0)
             .select("auth_nano").distinct().collect())
    hubs = (out.filter(F.col("hub_nano") > 0)
            .select("hub_nano").distinct().collect())
    sec = time.perf_counter() - t0
    assert len(auths) == 1 and auths[0][0] == 1_000_000_000 // k, auths
    assert len(hubs) == 1 and hubs[0][0] == 1_000_000_000 // n, hubs
    return sec, f"edges={n} k={k} uniform fixpoint exact"


def probe_spearman(spark):
    """Spearman at 20M rows / 8 groups: the rank windows sort
    2.5M rows per group partition (the operator's documented bound —
    per-GROUP rows must fit an executor sort task; a single global
    group should go through linkage.global_rank instead). Monotone
    ramp with duplicates -> rho exactly 1.0 despite ties."""
    from event_streaming_service_spark.operators.analytics import (
        spearman_corr)
    n = 20_000_000
    df = spark.range(n).select(
        (F.col("id") % 8).cast("string").alias("grp"),
        ((F.col("id") / 8).cast("long") % 100_000).cast("double")
        .alias("x"),
        (((F.col("id") / 8).cast("long") % 100_000) * 3 + 7)
        .cast("double").alias("y"))
    t0 = time.perf_counter()
    rows = spearman_corr(df, "x", "y", group_cols=["grp"]).collect()
    sec = time.perf_counter() - t0
    assert len(rows) == 8
    for r in rows:
        assert r["spearman_rho"] == 1.0, r
    return sec, "n=20M 8 groups monotone-with-ties rho exactly 1"


def probe_logistic_newton(spark):
    """5M-row logistic Newton/IRLS: per round ONE map-side-combined
    aggregate over the persisted feature frame — nothing row-grain
    shuffles, and the 1-row coefficient frame broadcasts. Truth: the
    label is perfectly balanced within every (x1, x2) cell, so at
    beta=0 every row pins p_nano = 5e8 exactly, residuals cancel
    pairwise, the gradient is exactly zero, and ALL THREE rounds must
    return exactly (0, 0, 0) — any pinning or unit-algebra drift
    breaks the zero."""
    from event_streaming_service_spark.operators.analytics import (
        logistic2_newton)

    n = 5_000_000
    base = (spark.range(n)
            .select((F.col("id") % 2 == 0).cast("int").alias("y"),
                    ((F.col("id") / 2).cast("bigint") % 24)
                    .alias("x1"),
                    ((F.col("id") / 48).cast("bigint") % 7 + 1)
                    .alias("x2")))
    # consecutive ids 2k/2k+1 share (x1, x2) = ((k %% 24), ...) and
    # differ only in y — every feature cell is exactly balanced (an
    # id%24 feature would confound x1 parity with the label)
    t0 = time.perf_counter()
    row = logistic2_newton(base, F.col("y") == 1, "x1", "x2",
                           rounds=3).collect()[0]
    sec = time.perf_counter() - t0
    assert row["n_rows"] == n, row
    assert (row["b0_micro"], row["b1_micro"], row["b2_micro"]) \
        == (0, 0, 0), row
    return sec, (f"rows={n}; 3 Newton rounds; balanced cells give "
                 f"exact zero coefficients (closed form)")


def probe_pca_power(spark):
    """5M x 32-dim PCA power iteration: the Gram tree-aggregate is
    the only corpus pass besides the final projection; the iteration
    runs driver-side on the collected 32x32 grid. Truth: all variance
    planted in dimension 1 (others zero), so the iterate is exactly
    e1 from round 1 and every score is qv[1] * 1e6 — asserted per
    spot id from the closed form."""
    from event_streaming_service_spark.operators.pca import (
        pc1_power_scores)

    n, d = 5_000_000, 32
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda j: F.when(j == 1, ((F.col("id") % 5) - 2)
                         / F.lit(1000.0)).otherwise(F.lit(0.0)))
    emb = spark.range(n).select(F.col("id").alias("vec_id"),
                                vec.alias("embedding"))
    t0 = time.perf_counter()
    got = {r["vec_id"]: r["pc1_score"]
           for r in pc1_power_scores(emb, rounds=8)
           .where(F.col("vec_id") < 20).collect()}
    sec = time.perf_counter() - t0
    for i in range(20):
        want = ((i % 5) - 2) * 1_000_000
        assert got[i] == want, (i, got[i], want)
    return sec, (f"vecs={n} d={d}; planted axis recovered exactly, "
                 f"spot scores equal (id%5-2)*1e6")



def probe_kmeans(spark):
    """Full-vector integer-Lloyd k-means at 2M x 32: 8 planted blobs
    separated on dim 1 (center 10*b), members split exactly in half
    on dim 2 between raw 0 and 6 (id//8 %% 2 — consecutive ids share
    a blob, the parity-confound rule). SQ8 gives dim-2 codes
    {-127, +127}, so after round 1 every centroid's dim-2 component
    is the exact floor-mean 0 and stays there; assignment never
    crosses blobs (cross-blob dim-1 gap adds to the shared dim-2
    term). Closed form: every cluster has exactly 250k members,
    share 125000 ppm, point inertia exactly 127^2 = 16129."""
    from event_streaming_service_spark.operators.kmeans import (
        kmeans_cluster_report)

    n, d = 2_000_000, 32
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda j: F.when(j == 1, (F.col("id") % 8) * F.lit(10.0))
                   .when(j == 2, ((F.col("id") / 8).cast("bigint") % 2)
                         * F.lit(6.0))
                   .otherwise(F.lit(0.0)))
    emb = spark.range(n).select(F.col("id").alias("vec_id"),
                                vec.alias("embedding"))

    t0 = time.perf_counter()
    rep = kmeans_cluster_report(emb, n_clusters=8, rounds=2).collect()
    sec = time.perf_counter() - t0
    assert len(rep) == 8, rep
    for r in rep:
        assert r["n_members"] == n // 8, r
        assert r["share_ppm"] == 125_000, r
        assert r["mean_point_inertia"] == 127 * 127, r
        assert r["inertia"] == (n // 8) * 127 * 127, r
    return sec, (f"vecs={n} d={d}; 2 Lloyd rounds; 8 planted blobs "
                 f"recovered exactly (balance + inertia closed form)")


def probe_contamination(spark):
    """Embedding-split contamination audit at 1M x 32, 64 trained
    cells: blob b = id %% 64 at raw 10*b on dim 1 (distinct SQ8 codes
    — envelope [0, 630], step ~4), train = everything except
    id %% 2000 in {1998, 1999}. Planted closed form: the 1998-rows are
    EXACT twins of their blob's train vectors (top-1 cosine exactly
    1.0, contaminated, neighbor = the blob's smallest train id = b);
    the 1999-rows carry dim2 = 50 instead (every train row has dim2
    raw 0 -> SQ8 -127), so for any train neighbor the pinned cosine is
    (-127*q_b - 127*127) / (sqrt(2)*127 * |qv_t|) <= 0 — never
    contaminated at the 0.99 threshold. Candidates stay bounded by
    the probed-cell membership (2 cells x ~15.6k members per anchor),
    the operator's whole scale argument."""
    from event_streaming_service_spark.operators.kmeans import (
        ivf_split_contamination)

    n, d = 1_000_000, 32
    is_twin = (F.col("id") % 2000) == 1998
    is_clean = (F.col("id") % 2000) == 1999
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda j: F.when(j == 1, (F.col("id") % 64) * F.lit(10.0))
                   .when(j == 2, F.when(is_clean, F.lit(50.0))
                         .otherwise(F.lit(0.0)))
                   .otherwise(F.lit(0.0)))
    emb = spark.range(n).select(F.col("id").alias("vec_id"),
                                vec.alias("embedding"))
    split = F.when((F.col("vec_id") % 2000) >= 1998,
                   F.lit("test")).otherwise(F.lit("train"))
    t0 = time.perf_counter()
    out = ivf_split_contamination(
        emb, split, n_cells=64, n_probe=2, rounds=1,
        threshold_ppb=990_000_000).collect()
    sec = time.perf_counter() - t0
    assert len(out) == n // 1000, len(out)
    for r in out:
        q = r["query_id"]
        assert r["neighbor_id"] % 2000 < 1998, r   # train-only index
        if q % 2000 == 1998:
            assert r["contaminated"] and r["cosine_9dp"] == 1.0, r
            assert r["neighbor_id"] == q % 64, r   # blob's first id
        else:
            assert not r["contaminated"] and r["cosine_9dp"] <= 0.0, r
    return sec, (f"vecs={n} d={d}; 64 trained cells, 1000 held-out "
                 f"anchors; planted twins flagged at cosine exactly "
                 f"1.0, clean anchors <= 0; index train-split-only")


PROBES = {name[len("probe_"):]: fn for name, fn in globals().items()
          if name.startswith("probe_")}


def main() -> None:
    spark = get_spark("scale-probe", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or list(PROBES)
    for name in names:
        sec, detail = PROBES[name](spark)
        print(f"{name:12s} {sec:7.1f} s  {detail}", flush=True)


if __name__ == "__main__":
    main()
