"""Iterative graph analytics: exact-integer PageRank and HITS,
deterministic label propagation, k-core peeling and WL roles, plus the
triangle and Adamic-Adar motif statistics.

Exactness device: ranks live as integer NANO-units. One update is

    r'(v) = floor(0.15 * 1e9) + sum over in-edges (u, v) of
            floor(d_num * r(u) / (d_den * outdeg(u)))

— every term an integer, every division floored, so the k-th iterate
is a pure integer function of the graph: the SQL oracle (the same k
updates unrolled as chained CTEs) matches bit-for-bit, which a
float PageRank never would (per-node in-edge sums fold in partition
order). At the default width the quotient r*d_num stays below 2^53,
so the floored double division both engines evaluate is exact; for
corpus-scale graphs pass decimal=True and every term widens to
decimal(38,0) with the floored quotient computed as
(a - pmod(a, b)) / b — exact at any realistic rank magnitude (the
division result is integer-valued, so the engine's scale-6 decimal
quotient is representable exactly).

Broadcasts: every fixpoint counts its pinned node (or adjacency)
frame once and joins its node-grain frames through
`hints.gated_broadcast_rows` with that count — one size gate, no
per-call flag. Below `hints.local_max_pairs`, k-core, WL and
dedup.py's connected components run all their rounds in one task
through `run_local`.

Pins: a frame whose numbers a fixpoint reads is pinned by `pin`, whose
one aggregate reads them and materializes the lazy checkpoint; any other
round frame is an eager `localCheckpoint()`. No round frame persists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from event_streaming_service_spark.operators.hints import (
    gated_broadcast_rows, local_max_pairs)

# Packed-pair radix: (u, v) pairs ride hash aggregates / anti-joins /
# top-k as ONE bigint u * _PACK + v. Ids must stay below 2^31 so the
# packed value fits BIGINT (u * 2^32 + v < 2^63).
_PACK = 1 << 32
_PACK_MAX_ID = 1 << 31

TELEPORT_NANO = 150_000_000      # floor(0.15 * 1e9)
INIT_NANO = 1_000_000_000        # unnormalized start mass per node

# Gate payload per row of a node-grain frame: a short string id plus a
# bigint or decimal(38,0) score.
_NODE_PAYLOAD = 48


def pagerank(edges: DataFrame, iterations: int = 5,
             damping_num: int = 85, damping_den: int = 100,
             src_col: str = "src", dst_col: str = "dst",
             decimal: bool = False,
             seeds: list | None = None) -> DataFrame:
    """Integer-exact PageRank over a directed edge list (callers union
    reversed edges for the undirected form). Returns (node, rank_nano)
    after `iterations` updates from a uniform INIT_NANO start. Nodes
    are the edge endpoints (an edge list has no isolated nodes).

    decimal=True widens rank_nano and the per-edge floored quotient to
    decimal(38,0) for graphs whose rank mass can cross 2^53 (VERDICT
    r4 item #4); results equal the default path wherever both are in
    range, and the column type is the only schema difference.

    Caching lifecycle: the edge+degree operand and the node list are
    cached and — because the result is lazy — stay cached until the
    caller drops them (spark.catalog.clearCache(), session end). The
    node count taken on the cache gates the per-iteration rank table
    and contribution aggregate onto the broadcast side of their joins,
    so the edge table never re-shuffles while the node set fits.

    seeds=[...] switches to PERSONALIZED PageRank: start mass and the
    per-update teleport land only on the seed node literals instead of
    uniformly — ranks then measure proximity to the seed set (the
    related-items / trust-propagation shape). Same integer-nano
    exactness; non-seed leaves simply decay toward 0."""
    # the graph is static across iterations — cache it WITH the
    # out-degree pre-joined, or iteration k re-derives the edge list k
    # times through the growing rank lineage and pays two joins per
    # round instead of one (measured 8.5 s -> 4.4 s -> 3.6 s at sf0.1
    # for the trade-graph query)
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct())
    deg_w = Window.partitionBy("src")
    e = e.withColumn("__deg", F.count(F.lit(1)).over(deg_w)).cache()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().cache())
    n_nodes = nodes.count()
    rank_t = "decimal(38,0)" if decimal else "bigint"
    if seeds is None:
        teleport = F.lit(TELEPORT_NANO)
        init = F.lit(INIT_NANO)
    else:
        is_seed = F.col("node").isin(list(seeds))
        teleport = F.when(is_seed, F.lit(TELEPORT_NANO)).otherwise(F.lit(0))
        init = F.when(is_seed, F.lit(INIT_NANO)).otherwise(F.lit(0))
    ranks = nodes.withColumn("rank_nano", init.cast(rank_t))
    for _ in range(iterations):
        if decimal:
            # exact floored quotient in decimal: a, b >= 0 integers =>
            # floor(a/b) = (a - pmod(a,b)) / b, and that division is
            # integer-valued so the engine's fixed-scale decimal
            # quotient represents it exactly (never floor a raw
            # decimal division — its scale-6 rounding can cross an
            # integer boundary)
            a = (F.col("rank_nano") * F.lit(damping_num)) \
                .cast("decimal(38,0)")
            b = (F.lit(damping_den) * F.col("__deg")) \
                .cast("decimal(38,0)")
            quot = ((a - F.pmod(a, b)) / b).cast(rank_t)
        else:
            quot = F.floor(F.col("rank_nano") * F.lit(damping_num)
                           / (F.lit(damping_den) * F.col("__deg")))
        ranks = (_propagate(nodes, e, ranks, n_nodes, "src", "dst",
                            quot, rank_t)
                 .select("node", (teleport + F.col("__in"))
                         .cast(rank_t).alias("rank_nano")))
    return ranks


def _propagate(nodes: DataFrame, e: DataFrame, scores: DataFrame,
               n_nodes: int, on: str, to: str, term, t: str) -> DataFrame:
    """One propagation step of PageRank and HITS: join each edge of `e`
    to the `scores` row of its `on` endpoint, sum `term` per `to`
    endpoint as type `t`, and return (node, __in) over every node of
    `nodes`, 0 where nothing arrives. Both node-grain sides join under
    the row gate with `n_nodes`."""
    s = gated_broadcast_rows(scores, n_nodes, _NODE_PAYLOAD)
    arrived = gated_broadcast_rows(
        e.join(s, e[on] == s.node)
        .groupBy(F.col(to).alias("node"))
        .agg(F.sum(term).cast(t).alias("__in")),
        n_nodes, _NODE_PAYLOAD)
    return nodes.join(arrived, "node", "left").select(
        "node", F.coalesce(F.col("__in"), F.lit(0).cast(t)).alias("__in"))


def triangle_stats(edges: DataFrame, a_col: str = "a",
                   b_col: str = "b") -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected simple graph — the motif statistic behind community
    detection and spam/bot-graph screening.

    Scale design: the classic DEGREE ORIENTATION (node-iterator++,
    Chiba-Nishizeki): orient every undirected edge from its
    (degree, id)-smaller endpoint to the larger, so each node's
    out-degree is bounded by O(sqrt(m)) on any graph (arboricity
    bound) — then triangles are wedges (u->v, u->w), v<w in the same
    order, closed by an oriented edge (v->w). The wedge join fans out
    by the ORIENTED degree, never the raw degree: a celebrity node
    with 10^6 neighbors contributes nothing to the join fan-out
    because its edges all point INTO it. Two equi-joins, one exact
    aggregate; no windows, no iteration.

    Returns one row: n_nodes, n_edges (undirected), n_wedges (open +
    closed, from raw degrees: sum deg*(deg-1)/2), n_triangles, and
    clustering_ppm = 3 * triangles * 1e6 DIV wedges (0 when no
    wedges). All exact bigints / truncating division."""
    und = (edges
           .select(F.least(F.col(a_col), F.col(b_col)).alias("x"),
                   F.greatest(F.col(a_col), F.col(b_col)).alias("y"))
           .where(F.col("x") != F.col("y"))
           .distinct())
    deg = (und.select(F.col("x").alias("n"))
           .unionAll(und.select(F.col("y").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    # deg is node-grain (two BIGINTs per node — orders of magnitude
    # smaller than the edge set on any real graph): broadcast both
    # degree lookups explicitly. AQE keeps these SMJ at runtime (the
    # union+agg subtree defeats its size estimate), and the two
    # edge-set sort+shuffle legs they force are ~20% of the query
    # (measured interleaved best-of-4: 7.72 -> 6.22 s at sf0.1).
    dx = F.broadcast(
        deg.select(F.col("n").alias("x"), F.col("deg").alias("dx")))
    dy = F.broadcast(
        deg.select(F.col("n").alias("y"), F.col("deg").alias("dy")))
    # orient: src = endpoint with (smaller degree, then smaller id)
    withd = und.join(dx, "x").join(dy, "y")
    fwd = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    oriented = withd.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("dst"))
    # wedge (u->v, u->w) pairs dedup by dst ID; the closing edge is
    # oriented by the (degree, id) order, which need NOT match the id
    # order — so close against the UNDIRECTED id-ordered edge set
    # (checking the oriented form here silently dropped every triangle
    # whose closing edge points id-backwards; caught by the planted
    # 1M-triangle scale probe, which knows the true count)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    closing = und.select(F.col("x").alias("__cx"),
                         F.col("y").alias("__cy"))
    tri = (e1.join(e2, (F.col("e1.src") == F.col("e2.src"))
                   & (F.col("e1.dst") < F.col("e2.dst")))
           .join(closing, (F.col("__cx") == F.col("e1.dst"))
                 & (F.col("__cy") == F.col("e2.dst")))
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("bigint")
        .alias("n_wedges"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (nodes.crossJoin(counts).crossJoin(wedges).crossJoin(tri)
            .withColumn(
                "clustering_ppm",
                F.when(F.col("n_wedges") > 0,
                       F.expr("3 * n_triangles * 1000000"
                              " DIV n_wedges"))
                .otherwise(F.lit(0)).cast("bigint"))
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    "clustering_ppm"))


def adamic_adar_links(edges: DataFrame, top_n: int = 20,
                      a_col: str = "a", b_col: str = "b",
                      max_center_degree: int | None = None) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge set
    (a < b distinct pairs): for every NON-adjacent 2-hop pair (u, v),
    AA(u, v) = sum over common neighbors w of 1 / ln(deg(w)),
    plus the raw common-neighbor count. Returns the top_n by score.

    Per-neighbor terms are pinned to integer micro-units
    (floor(1e6 / ln(deg) + 0.5)) BEFORE the cross-row sum — the
    repo-wide rule that keeps a float-log pipeline hash-exact across
    engines (common neighbors have deg >= 2, so ln > 0 always).

    Scale shape: wedges are enumerated through the center node w —
    one self-join of the adjacency list on w, cost sum_w deg(w)^2.
    A hub node dominates that sum (one 10^6-degree celebrity alone is
    5*10^11 wedges), so `max_center_degree=C` bounds the expansion per
    center: each center's adjacency is truncated to its C smallest
    neighbor ids (a rank window on the SAME w-partitioning the wedge
    self-join shuffles on, so the exchange is reused) BEFORE the
    self-join, capping the fan-out at sum_w min(deg(w), C)^2 — the
    posting-cap device from text.inverted_index. Truncation is
    deterministic (neighbor-id order) and only ever DROPS wedges, so
    capped scores/counts are lower bounds; AA terms still use the TRUE
    degree. With C >= max degree the capped path is bit-identical to
    the exact default (asserted in tests + tools/scale_probe.py
    adamic_hub); the exact path stays the oracle-gated default.
    The final anti-join against the edge set removes already-linked
    pairs, and TakeOrderedAndProject folds to top_n without a global
    sort.

    The (u, v) pair rides the post-wedge pipeline PACKED into one
    BIGINT (u * 2^32 + v): the sum-deg^2-sized hash aggregate, the
    anti-join, and the top-k all key on a single 8-byte column
    instead of two, measured 1.6x faster end-to-end at sf0.1 (148M
    wedges). Node ids must fit in [0, 2^31); a node-count-grain check
    raises before any wedge is enumerated if one does not."""
    # The edge set feeds SIX consumers (adjacency twice per side, the
    # degree count, the final anti-join): without a persist Catalyst
    # re-derives the upstream edge pipeline (often a fact-table
    # self-join) once per consumer. Cache lifecycle: query lifetime
    # (lazy result; session end or clearCache reclaims — the pq.py
    # convention).
    und = (edges.select(F.col(a_col).alias("x"),
                        F.col(b_col).alias("y")).distinct().persist())
    adj = (und.select(F.col("x").alias("w"), F.col("y").alias("n"))
           .union(und.select(F.col("y").alias("w"),
                             F.col("x").alias("n")))).persist()
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    # ANSI evaluates every row: guard deg-1 leaves so ln(1) = 0 never divides
    term = F.when(
        F.col("deg") >= 2,
        F.floor(F.lit(1_000_000.0)
                / F.log(F.col("deg").cast("double"))
                + F.lit(0.5)).cast("bigint"))
    # Pack-id guard at node grain (cheap: one row per node, evaluated
    # on the same pass that computes the degree terms): assert_true is
    # NULL when the id fits, raises before any wedge is enumerated if
    # not, and `term + coalesce(NULL, 0)` keeps leaf terms NULL.
    guard = F.assert_true(
        (F.col("w") >= 0) & (F.col("w") < F.lit(_PACK_MAX_ID)),
        F.lit("adamic_adar_links: node id outside [0, 2^31) — "
              "packed-pair fast path would overflow BIGINT"))
    centers = deg.withColumn(
        "term_micro", term + F.coalesce(guard.cast("bigint"), F.lit(0)))
    # Wedge stream joins centers AFTER enumeration on purpose: centers
    # is node-count-sized, so AQE broadcasts it and the |wedges| =
    # sum deg(w)^2 stream pays one hash probe per row. (Folding the
    # term into an adjacency leg BEFORE the self-join was measured
    # 1.6-2.4x SLOWER at sf0.1: the extra column rides through the
    # sort-merge wedge join's sort buffers, which costs more than the
    # broadcast probe it saves.)
    if max_center_degree is not None:
        # per-center top-C expansion: deterministic smallest-id
        # truncation, applied to HUB CENTERS ONLY (deg > C). Windowing
        # the whole adjacency was measured 1.4x slower end-to-end at
        # sf0.1 where the copurchase graph has NO hubs (max degree 222
        # vs C=1024 — the sort bought nothing); splitting on the
        # already-computed degree makes the capped path cost one
        # broadcast anti-join when the cap never binds (the hub list
        # is empty) while still bounding the hub term of sum deg(w)^2
        # at min(deg, C)^2 on power-law graphs. The hub adjacency
        # (only rows whose center exceeds C) persists: it feeds both
        # wedge legs and its window must not run twice.
        from pyspark.sql import Window

        hubs = (deg.filter(F.col("deg") > max_center_degree)
                .select("w"))
        wcap = Window.partitionBy("w").orderBy("n")
        capped_hub = (adj.join(F.broadcast(hubs), "w")
                      .withColumn("__r", F.row_number().over(wcap))
                      .filter(F.col("__r") <= max_center_degree)
                      .drop("__r")).persist()
        wedge_adj = (adj.join(F.broadcast(hubs), "w", "left_anti")
                     .unionByName(capped_hub))
    else:
        wedge_adj = adj
    l = wedge_adj.select(F.col("w"), F.col("n").alias("u"))
    r = wedge_adj.select(F.col("w"), F.col("n").alias("v"))
    wedges = (l.join(r, "w").filter(F.col("u") < F.col("v"))
              .select((F.col("u") * F.lit(_PACK) + F.col("v")).alias("pk"),
                      F.col("w")))
    # The pair aggregate's keys are nearly distinct (101M distinct of
    # 148M wedges at sf0.1), so map-side partial aggregation dedups
    # almost nothing while building giant spilling hash maps sized by
    # the whole wedge stream. Repartitioning on pk FIRST makes the
    # partial agg run post-shuffle (effectively single-phase) and 4x
    # the shuffle-partition count bounds each final hash map; measured
    # 19.0 -> 12.2 s for the aggregate stage at sf0.1 (repartition
    # 32/128/256: 14.9/12.2/12.6; a numpy mapInArrow sort kernel on
    # the same stream lost to the JVM agg, 16.5 vs 13.9). The count is
    # derived from session parallelism, not a local constant, and an
    # explicit repartition is exempt from AQE coalescing.
    sess = edges.sparkSession
    nagg = 4 * max(int(sess.conf.get("spark.sql.shuffle.partitions")),
                   sess.sparkContext.defaultParallelism)
    scored = (wedges.join(centers.select("w", "term_micro"), "w")
              .repartition(nagg, "pk")
              .groupBy("pk")
              .agg(F.count(F.lit(1)).alias("common_neighbors"),
                   F.sum("term_micro").alias("aa_micro")))
    # The anti-join keys on the UNPACKED (u, v) pair on purpose: a
    # single-bigint join key routes the broadcast build through
    # LongHashedRelation, whose map degrades pathologically on sparse
    # u*2^32+v keys (observed: a 5M-edge build burned 16 min on one
    # thread; the generic two-column UnsafeHashedRelation builds the
    # same side in seconds). The aggregate above keeps the packed key
    # — hash aggs don't take that code path.
    unpacked = scored.select(
        # integer unpack — float division would round above 2^53
        F.shiftright(F.col("pk"), 32).alias("u"),
        (F.col("pk") % F.lit(_PACK)).alias("v"),
        F.col("common_neighbors"), F.col("aa_micro"))
    # no hint on `und`: a broadcast pushes the anti-join below the pair agg
    non_adj = unpacked.join(
        und, (unpacked["u"] == und["x"]) & (unpacked["v"] == und["y"]),
        "left_anti")
    return (non_adj
            .orderBy(F.col("aa_micro").desc(), F.col("u"), F.col("v"))
            .limit(top_n))


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 6,
               a_col: str = "a", b_col: str = "b") -> DataFrame:
    """k-core membership by EXACTLY `rounds` peeling rounds: each
    round drops nodes of degree < k and the edges touching them.
    Peeling is monotone, so once a round changes nothing every later
    round is a no-op — running a fixed count is semantically the
    true k-core whenever the graph stabilizes within `rounds`, and
    (crucially for the oracle) a deterministic, engine-portable
    function of the input either way: the SQL twin unrolls the same
    `rounds` CTE stages, so both engines compute the identical set
    even on adversarial inputs that need more rounds.

    Returns (node, deg_in_core) for surviving nodes.

    Plan shape: the symmetrized adjacency (w, n) is pinned by `pin`,
    whose count picks the path. At most `hints.local_max_pairs` pairs
    (count / 2): all rounds run in ONE task (`_kcore_local`,
    coalesce(1) + numpy degree peeling in mapInPandas, no driver
    collect), because on a small graph the per-round barrier jobs, not
    the data, are the cost. Above the gate, one action per round: a
    degree aggregate and two semi-joins on the shrinking adjacency,
    pinned by `pin` with the round's edge count (adj feeds three
    consumers per round, so an unpinned plan re-derives every level
    3x). The survivor set joins as the broadcast side under the row
    gate, the adjacency count bounding the node count.
    Both paths stop at the fixpoint: a round that drops no edge
    leaves every later round a no-op."""
    und = (edges.select(F.col(a_col).alias("x"),
                        F.col(b_col).alias("y")).distinct())
    adj, (n_edges,) = pin(
        und.select(F.col("x").alias("w"), F.col("y").alias("n"))
        .union(und.select(F.col("y").alias("w"), F.col("x").alias("n"))))
    # rounds=0 keeps the loop: its one aggregate also reports a NULL node
    if rounds > 0 and n_edges // 2 <= local_max_pairs(adj.sparkSession):
        return _kcore_local(adj, k, rounds)
    for _ in range(rounds):
        keep = (adj.groupBy("w")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("w"))
        keep = gated_broadcast_rows(keep, n_edges, 8)
        adj, (n_next,) = pin(
            adj.join(keep, "w", "left_semi")
            .join(keep.select(F.col("w").alias("n")), "n", "left_semi"))
        if n_next == n_edges:
            break
        n_edges = n_next
    return (adj.groupBy(F.col("w").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg_in_core")))


def pin(df: DataFrame, *aggs):
    """Pin `df` with a lazy localCheckpoint that ONE aggregate
    materializes: returns (pinned frame, Row(row count, *aggs))."""
    df = df.localCheckpoint(eager=False)
    return df, df.agg(F.count(F.lit(1)), *aggs).first()


def run_local(adj: DataFrame, key: str, other: str, kernel,
              schema: str) -> DataFrame:
    """Run `kernel(src, dst, ids, dead) -> pandas.DataFrame` once over
    a small pinned adjacency (key, other) in ONE task (coalesce(1) +
    mapInPandas, no driver collect). src/dst are dense codes into the
    `ids` array. Rows with a NULL `key` go (the loop's key-grained
    joins never match them); a NULL `other` becomes the row's own key
    with `dead` set, so pandas keeps integer ids and the row can still
    count toward the key's degree without being a neighbour. Worker
    closures stay self-contained: nothing here is pickled by
    reference."""
    def run(batches):
        import numpy as np
        import pandas as pd

        frames = list(batches)
        pdf = pd.concat(frames, ignore_index=True) if frames else None
        if pdf is None or pdf.empty:
            return
        codes, ids = pd.factorize(np.concatenate(
            [pdf[key].to_numpy(), pdf[other].to_numpy()]))
        m = len(pdf)
        yield kernel(codes[:m], codes[m:], ids, pdf["dead"].to_numpy())

    return (adj.filter(F.col(key).isNotNull())
            .select(key, F.coalesce(other, key).alias(other),
                    F.col(other).isNull().alias("dead"))
            .coalesce(1)
            .mapInPandas(run, schema))


def _kcore_local(adj: DataFrame, k: int, rounds: int) -> DataFrame:
    """`kcore_peel`'s rounds over a small pinned adjacency (w, n) in
    one task, row for row the loop's result."""
    def peel(w, n, ids, dead):
        import numpy as np
        import pandas as pd

        live = ~dead
        for _ in range(rounds):
            keep = np.bincount(w, minlength=len(ids)) >= k
            nxt = keep[w] & keep[n] & live
            if nxt.all():
                break
            w, n, live = w[nxt], n[nxt], live[nxt]
        deg = np.bincount(w, minlength=len(ids))
        alive = np.flatnonzero(deg)
        return pd.DataFrame({"node": ids[alive], "deg_in_core": deg[alive]})

    id_t = adj.schema["w"].dataType.simpleString()
    return run_local(adj, "w", "n", peel,
                     f"node {id_t}, deg_in_core bigint")


def wl_roles(edges: DataFrame, rounds: int = 2,
             a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Weisfeiler-Leman node role hashing (the 1-WL color refinement
    behind graph-isomorphism tests and WL graph kernels,
    Weisfeiler & Leman 1968; Shervashidze et al., JMLR 2011): start
    every node at a canonical label of its degree, then for `rounds`
    iterations relabel each node with
        h'(v) = md5( h(v) || ':' || join(sorted [h(u) for u ~ v]) )
    Nodes sharing a role hash after k rounds have isomorphic
    k-neighborhood label trees — structural roles (leaf, hub spoke,
    bridge, clique member) fall out without any training.

    Engine-portable by construction: md5 and binary-lexicographic
    string sorts exist identically in Spark and DuckDB (degree labels
    are zero-padded so the string sort is also the numeric sort).

    Returns (node, deg, wl_role) with node named after a_col.

    Plan shape: the symmetrized adjacency is pinned by `pin`, whose
    count picks the path. At most `hints.local_max_pairs` pairs
    (count / 2): all rounds run in ONE task (`_wl_local`, coalesce(1)
    + pandas/hashlib in mapInPandas, no driver collect). Above the
    gate, one shuffle per round: join the neighbour's current hash onto
    the adjacency and re-aggregate the sorted list per node; both hash
    on the node key, so the exchange is reused. The node-grain hash
    frame joins as the broadcast side under the row gate (the adjacency
    count bounds the node count) and each round's is an eager
    localCheckpoint, since it feeds both the neighbour-list build and
    the relabel join. The collect_list per node is degree-bounded — a
    1e6-degree hub makes a 32 MB label list, the hub hazard
    adamic_adar_links caps."""
    fwd = edges.select(F.col(a_col).alias("n"), F.col(b_col).alias("m"))
    adj, (n_adj,) = pin(fwd.unionByName(
        fwd.select(F.col("m").alias("n"), F.col("n").alias("m"))))
    if n_adj // 2 <= local_max_pairs(adj.sparkSession):
        return _wl_local(adj, rounds, a_col)
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    h = deg.select("n", F.lpad(F.col("deg").cast("string"), 8, "0")
                   .alias("h"))
    for _ in range(rounds):
        hb = gated_broadcast_rows(h, n_adj, 48)
        nb = (adj.join(hb.select(F.col("n").alias("m"),
                                 F.col("h").alias("hm")), "m")
              .groupBy("n")
              .agg(F.concat_ws(
                  ",", F.sort_array(F.collect_list("hm"))).alias("nbs")))
        h = (hb.join(nb, "n")
             .select("n", F.md5(F.concat_ws(":", "h", "nbs")).alias("h"))
             .localCheckpoint())
    return (deg.join(h, "n")
            .select(F.col("n").alias(a_col),
                    F.col("deg").cast("bigint").alias("deg"),
                    F.col("h").alias("wl_role")))


def _wl_local(adj: DataFrame, rounds: int, a_col: str) -> DataFrame:
    """`wl_roles`' rounds over a small pinned adjacency (n, m) in one
    task, row for row the loop's result: a NULL neighbour counts in
    the degree but not in the label list, and a node whose only
    neighbours are NULL leaves the result after the first round, as
    the loop's inner joins drop it."""
    def refine(n, m, ids, dead):
        import hashlib

        import numpy as np
        import pandas as pd

        deg = np.bincount(n, minlength=len(ids))
        h = np.array([f"{d:08d}"[:8] for d in deg], dtype=object)
        n, m = n[~dead], m[~dead]
        out = np.arange(len(ids))
        for _ in range(rounds):
            nbs = (pd.DataFrame({"n": n, "hm": h[m]})
                   .sort_values(["n", "hm"])
                   .groupby("n")["hm"].agg(",".join))
            out = nbs.index.to_numpy()
            h = h.copy()
            h[out] = [hashlib.md5(f"{a}:{b}".encode()).hexdigest()
                      for a, b in zip(h[out], nbs.to_numpy())]
        return pd.DataFrame({a_col: ids[out], "deg": deg[out],
                             "wl_role": h[out]})

    id_t = adj.schema["n"].dataType.simpleString()
    return run_local(adj, "n", "m", refine,
                     f"{a_col} {id_t}, deg bigint, wl_role string")


HITS_SCALE = 1_000_000_000


def hits(edges: DataFrame, iterations: int = 3,
         src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Integer-exact HITS (Kleinberg hubs & authorities) over a
    directed edge list: hub score = how much good authority a node
    points AT, authority score = how much good hub mass points at IT
    — the directed complement of PageRank's single centrality (a
    customer buying from every top supplier is a hub; a supplier every
    big buyer touches is an authority).

    Each half-round is the textbook update followed by L1
    normalization to HITS_SCALE total (the usual L2 norm needs a
    sqrt; L1 keeps the fixpoint's direction and stays in integers):
        auth_raw(i) = sum_{j->i} hub(j);  auth = auth_raw * S DIV tot
    and symmetrically for hubs from the fresh authorities. The DIV is
    truncating in both engines, every intermediate is decimal(38,0),
    so the unrolled oracle hash-matches exactly.

    Scale shape: per half-round, one equi-join of the cached edge list
    against the node-grain score frame + one hash agg (`_propagate`),
    pinned by the aggregate that reads its total; node-only rows keep 0
    via left joins. The score frames and contribution aggregates are
    node-grain: they join under the row gate with the cached node
    count, so the edge list never re-shuffles while the node set fits."""
    dec = "decimal(38,0)"
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct().cache())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().cache())
    n_nodes = nodes.count()

    def half(scores, on, to):
        raw, (_, tot) = pin(
            _propagate(nodes, e, scores, n_nodes, on, to, "s", dec),
            F.sum("__in").cast(dec))
        a, d = F.col("__in") * HITS_SCALE, F.lit(tot).cast(dec)
        return raw.select("node",
                          ((a - F.pmod(a, d)) / d).cast(dec).alias("s"))

    hubs = nodes.withColumn("s", F.lit(HITS_SCALE).cast(dec))
    for _ in range(iterations):
        auths = half(hubs, "src", "dst")
        hubs = half(auths, "dst", "src")
    return (hubs.withColumnRenamed("s", "__h")
            .join(gated_broadcast_rows(auths.withColumnRenamed("s", "__a"),
                                       n_nodes, _NODE_PAYLOAD), "node")
            .select("node",
                    F.col("__h").cast("bigint").alias("hub_nano"),
                    F.col("__a").cast("bigint").alias("auth_nano")))


def label_propagation(edges: DataFrame, rounds: int = 3,
                      a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected edge list (RAGHAVAN et al.'s near-linear LPA, made
    fully deterministic): every node starts as its own label; each
    round every node adopts the label that is MOST FREQUENT among its
    neighbors, ties broken by the SMALLEST label — the (count desc,
    label asc) ranking, so the classic random tie-flip disappears and
    the fixed round count has an exact unrolled SQL twin. Communities
    after k rounds are k-hop label basins: denser regions collapse
    onto their minimum id, bridges keep their sides apart (contrast
    with the near-dup min-label propagation, which computes CONNECTED
    COMPONENTS — LPA splits a connected graph into cohesive parts).

    Scale shape per round: one equi-join of the cached undirected
    edge list against the node-grain label frame, a hash agg to the
    (node, neighbor-label) grain, and one per-node argmax window
    whose partition is bounded by degree. Labels pin via eager
    localCheckpoint per round (node-grain rows; keeps the iterated
    lineage flat) and join under the row gate with the initial label
    frame's count from `pin`, so the cached edge list never
    re-shuffles while the node set fits."""
    und = (edges.select(F.col(a_col).alias("n"), F.col(b_col).alias("m"))
           .unionByName(
               edges.select(F.col(b_col).alias("n"),
                            F.col(a_col).alias("m")))
           .distinct().cache())
    labels, (n_nodes,) = pin(und.select(F.col("n").alias("node"))
                             .distinct().withColumn("lab", F.col("node")))
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), F.col("lab"))
    for _ in range(rounds):
        r = gated_broadcast_rows(labels, n_nodes, _NODE_PAYLOAD)
        counts = (und.join(r, und.m == r.node)
                  .groupBy("n", "lab")
                  .agg(F.count(F.lit(1)).alias("c")))
        labels = (counts
                  .withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .select(F.col("n").alias("node"), "lab")
                  .localCheckpoint())
    wlab = Window.partitionBy("lab")
    return labels.select(
        "node", F.col("lab").alias("community"),
        F.count(F.lit(1)).over(wlab).cast("bigint")
        .alias("community_size"))
