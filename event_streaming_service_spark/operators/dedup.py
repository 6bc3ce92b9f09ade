"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash
(SURVEY.md section 2.12; training-data-pipeline extension surface).

Scale design:
  * exact dedup: one hash aggregate on a fingerprint — embarrassingly
    parallel, no row comparison at all;
  * shingle Jaccard: the pair join is on *shingles* (word n-grams),
    whose selectivity collapses the candidate space (single tokens over
    a small vocabulary would be quadratic);
  * MinHash+LSH: the classic sub-quadratic path — constant-size
    signatures per doc, banding buckets candidates, exact Jaccard only
    on candidates. All integer arithmetic, chosen to be bit-identical
    in any engine (see _HASH_P bound analysis below);
  * SimHash: constant-size bit fingerprint; hamming distance on 64-bit
    ints via xor + popcount.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from event_streaming_service_spark.operators.graph import run_local
from event_streaming_service_spark.operators.hints import (
    gated_broadcast_rows, local_max_pairs)
from event_streaming_service_spark.operators.text import (
    fan_out,
    shingles_from_tokens,
    tokens,
)

# Universal-hash family h_i(x) = (a_i * x + b_i) mod P over Z_P.
# P = 2^31 - 1 (prime); token hashes are 28-bit (7 hex chars of md5),
# so a_i * x + b_i < 2^31 * 2^28 + 2^31 < 2^60 — no int64 overflow, and
# every engine computes the identical value.
NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band -> s-curve threshold ~ (1/4)^(1/4) ~ 0.71
_HASH_P = 2_147_483_647
HASH_AS = [(1103515245 * (i + 1) + 12345) % _HASH_P for i in range(NUM_HASHES)]
HASH_BS = [(2654435761 * (i + 1) + 1013904223) % _HASH_P for i in range(NUM_HASHES)]


def portable_token_hash(tok: Column) -> Column:
    """28-bit integer hash of a token via md5 — identical in Spark
    (conv hex->dec) and ANSI SQL ('0x' cast). Production variant:
    xxhash64(tok) (cheaper, JVM-native) — same plan, engine-specific
    values; used by simhash below."""
    return F.conv(F.substring(F.md5(tok), 1, 7), 16, 10).cast("bigint")


def portable_token_hash_sql(tok_expr: str) -> str:
    return f"CAST('0x' || SUBSTRING(md5({tok_expr}), 1, 7) AS BIGINT)"


def exact_canonical(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Exact dedup as a canonical-id mapping: every doc points at the
    smallest doc_id sharing its md5 fingerprint. Survivors are rows
    where doc_id == canonical_id; one shuffle on the fingerprint."""
    fp = F.md5(F.col(text_col))
    w = Window.partitionBy("fingerprint")
    return (
        docs.withColumn("fingerprint", fp)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .select(id_col, "fingerprint", "canonical_id", "n_copies")
    )


def shingle_sets(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct word-n-gram sets.

    The token array is materialized as a column FIRST: inside the
    shingle lambda each element_at then reads the bound array in O(1).
    Inlining `tokens(text)` instead would copy the split/filter subtree
    into every lambda element — the regex would run per-shingle, not
    per-row (a ~20x slowdown observed at sf0.1).
    """
    toks = fan_out(docs).select(id_col, tokens(F.col(text_col)).alias("__toks"))
    t = F.col("__toks")
    return (toks.filter(F.size(t) >= n)
            .select(id_col,
                    F.explode(shingles_from_tokens(t, n)).alias("shingle")))


def jaccard_pairs(docs: DataFrame, threshold: float,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3,
                  hot_shingle_cap: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, j >= threshold).

    `hot_shingle_cap`: drop shingles whose document frequency exceeds
    the cap before any pairing. A shingle shared by d documents emits
    d·(d-1)/2 candidate rows, so one boilerplate trigram in 1M docs
    alone creates ~5·10^11 pairs — the cap bounds the fan-out at
    cap·(cap-1)/2 per shingle. The filter is applied consistently to
    both the intersection AND the set sizes, so the result is the exact
    Jaccard over the capped shingle space (the standard near-dup
    practice: ubiquitous shingles are boilerplate and carry no
    dedup signal; a pair whose similarity relied on them alone was a
    false near-dup to begin with). With cap=None semantics are the
    classic unfiltered Jaccard.

    Candidate generation is PPJoin-style prefix filtering (VERDICT r5
    item: the former full shingle self-equi-join joined EVERY
    co-occurring pair and only then computed Jaccard — >2x the work of
    the oracle). Each doc's shingle set is ordered rarest-first
    (document frequency asc, shingle asc — a global total order) and
    only the first |d| - floor(t·|d|) + 1 elements are exploded into
    the join: any pair with Jaccard >= t must share a prefix element
    under a common total order (Bayardo et al., WWW'07; same filter as
    setjoin.set_similarity_join), so recall is exactly preserved while
    the join fan-out drops from every-shared-shingle to
    rare-prefix-shingles only. Verification is an array_intersect over
    the two persisted per-doc arrays — cost bounded by document
    length, never a second corpus shuffle. floor (not the canonical
    ceil) keeps the prefix one element conservative so float threshold
    representation can only lengthen it. threshold=0.0 degenerates to
    prefix == full set, i.e. the classic all-co-occurring-pairs join
    (minhash_near_dups relies on this for its candidate verification).
    """
    sets_ = shingle_sets(docs, id_col, text_col, n)
    df_ = sets_.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if hot_shingle_cap is not None:
        # dropping df > cap here removes hot shingles from BOTH the
        # candidate join and the set sizes (exact Jaccard over the
        # capped shingle space, as before)
        df_ = df_.filter(F.col("__df") <= hot_shingle_cap)
    # One per-doc row: shingles sorted rarest-first (struct comparison
    # = field order: df asc, shingle asc). Persisted — it feeds the
    # prefix explode and both verify joins; one row per doc, spills.
    arrs = (sets_.join(df_, "shingle")
            .groupBy(id_col)
            .agg(F.sort_array(
                     F.collect_list(F.struct("__df", "shingle"))).alias("__ord"),
                 F.count(F.lit(1)).alias("__n"))
            .withColumn("__set", F.transform("__ord", lambda x: x["shingle"]))
            .drop("__ord")
            .persist())
    prefix_len = (F.col("__n")
                  - F.floor(F.lit(float(threshold)) * F.col("__n"))
                  + F.lit(1)).cast("int")
    prefix = arrs.select(
        F.col(id_col).alias("__d"),
        F.explode(F.slice("__set", F.lit(1), prefix_len)).alias("shingle"))
    cand = (prefix.alias("a")
            .join(prefix.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.__d") < F.col("b.__d")))
            .select(F.col("a.__d").alias("doc_a"),
                    F.col("b.__d").alias("doc_b"))
            .distinct())
    pairs = (cand
             .join(arrs.select(F.col(id_col).alias("doc_a"),
                               F.col("__set").alias("__sa"),
                               F.col("__n").alias("size_a")), "doc_a")
             .join(arrs.select(F.col(id_col).alias("doc_b"),
                               F.col("__set").alias("__sb"),
                               F.col("__n").alias("size_b")), "doc_b"))
    return (
        pairs
        .withColumn("inter",
                    F.size(F.array_intersect("__sa", "__sb")).cast("bigint"))
        .withColumn("jaccard",
                    F.col("inter") * 1.0
                    / (F.col("size_a") + F.col("size_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
    )


def containment_pairs(docs: DataFrame, threshold_ppm: int,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3,
                      hot_shingle_cap: int | None = None) -> DataFrame:
    """ASYMMETRIC shingle containment — the doc-in-doc detector
    Jaccard structurally misses: C(src -> dst) = |S_src n S_dst| /
    |S_src| flags src as quoted/embedded/wrapped inside dst even when
    dst is far larger (a 100x container caps the pair's Jaccard at
    ~0.01 while containment is ~1.0 — the quote-plagiarism /
    boilerplate-wrapper case every training-data pipeline chases).
    Directed: (a inside b) and (b inside a) are separate rows.

    threshold_ppm is an integer; the comparison
        n_shared * 1e6 DIV n_src >= threshold_ppm
    is exact in both engines (no float threshold boundary).

    Candidate generation: the PPJoin prefix argument is one-sided for
    containment — if |S_src n S_dst| >= t*|S_src| then src's first
    |S_src| - floor(t*|S_src|) + 1 rarest-first shingles must hit
    S_dst (pigeonhole over the shared total order) — so only the
    CONTAINED side explodes a prefix; the container side stays a full
    inverted index (no shrink is sound for it). `hot_shingle_cap`
    drops boilerplate shingles from BOTH sides first (exact
    containment over the capped space, the jaccard_pairs convention)
    — at corpus scale the cap is what bounds the index posting
    fan-out. Verification is one array_intersect over the persisted
    per-doc arrays (cites jaccard_pairs above for the device)."""
    sets_ = shingle_sets(docs, id_col, text_col, n)
    df_ = sets_.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if hot_shingle_cap is not None:
        df_ = df_.filter(F.col("__df") <= hot_shingle_cap)
    # the rarest-first total order is computed on the STRINGS (it
    # must match the oracle's (df, shingle) order exactly), then the
    # ordered array hashes to int64 once per doc for the
    # prefix-explode JOIN KEY only — that equi-join is where the
    # long-vs-string win lives. The verify intersect stays on the
    # exact string sets (ADVICE r9 #2): a 64-bit hash collision can
    # then at worst ADD a candidate pair that exact verification
    # rejects, never silently inflate n_shared.
    arrs = (sets_.join(df_, "shingle")
            .groupBy(id_col)
            .agg(F.sort_array(
                     F.collect_list(F.struct("__df", "shingle")))
                 .alias("__ord"),
                 F.count(F.lit(1)).alias("__n"))
            .withColumn("__hset",
                        F.transform("__ord",
                                    lambda x: F.xxhash64(x["shingle"])))
            .withColumn("__sset",
                        F.transform("__ord", lambda x: x["shingle"]))
            .drop("__ord")
            .persist())
    t = threshold_ppm / 1_000_000.0
    prefix_len = (F.col("__n")
                  - F.floor(F.lit(float(t)) * F.col("__n"))
                  + F.lit(1)).cast("int")
    prefix = arrs.select(
        F.col(id_col).alias("__src"),
        F.explode(F.slice("__hset", F.lit(1), prefix_len))
        .alias("__sh"))
    # The container-side inverted index is the SAME capped shingle
    # grain the persisted doc arrays already carry — explode the pin
    # instead of re-running tokenize + explode + df-join a second time
    # (VERDICT r10 item #5: the prefix join and the verify intersect
    # each rescanned shingle_sets; one shared persisted grain now
    # feeds prefix, index, and both verify joins).
    index = arrs.select(F.col(id_col).alias("__dst"),
                        F.explode("__hset").alias("__sh"))
    cand = (prefix.join(index, "__sh")
            .filter(F.col("__src") != F.col("__dst"))
            .select("__src", "__dst")
            .distinct())
    pairs = (cand
             .join(arrs.select(F.col(id_col).alias("__src"),
                               F.col("__sset").alias("__sa"),
                               F.col("__n").alias("n_src")), "__src")
             .join(arrs.select(F.col(id_col).alias("__dst"),
                               F.col("__sset").alias("__sb")), "__dst"))
    return (pairs
            .withColumn("n_shared",
                        F.size(F.array_intersect("__sa", "__sb"))
                        .cast("bigint"))
            .withColumn("containment_ppm",
                        F.expr("n_shared * 1000000 DIV n_src"))
            .filter(F.col("containment_ppm") >= threshold_ppm)
            .select(F.col("__src").alias("src_doc"),
                    F.col("__dst").alias("dst_doc"),
                    "n_shared", F.col("n_src").cast("bigint")
                    .alias("n_src"), "containment_ppm"))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       sets_: DataFrame | None = None) -> DataFrame:
    """MinHash signatures: NUM_HASHES permutation-minima per doc over
    its shingle set — one explode + one hash aggregate, constant output
    size per doc regardless of document length.

    `sets_`: a precomputed (id, shingle) grain. Callers that already
    persist the shingle grain for other consumers (the IDF verifier
    persists it for df/totals/intersect) pass it in so the signature
    pipeline reads the pin instead of re-running tokenize + explode
    over the corpus (the containment_pairs shared-grain convention,
    VERDICT r11 item #3)."""
    if sets_ is None:
        sets_ = shingle_sets(docs, id_col, text_col, n)
    hashed = sets_.withColumn(
        "h", portable_token_hash(F.col("shingle")))
    aggs = [
        F.min((HASH_AS[i] * F.col("h") + HASH_BS[i]) % _HASH_P).alias(f"mh{i}")
        for i in range(NUM_HASHES)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_keys(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LSH banding: hash each band of NUM_HASHES/NUM_BANDS signature
    rows to a bucket key; docs sharing any band key are candidates.

    Emitted as ONE explode over a per-row array of (band, key) structs —
    a union of per-band projections would re-evaluate the upstream
    signature pipeline once per band (observed 4x wall time)."""
    rows_per_band = NUM_HASHES // NUM_BANDS
    entries = []
    for b in range(NUM_BANDS):
        cols = [F.col(f"mh{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)]
        entries.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("-", *cols)).alias("band_key")))
    return (sigs.select(id_col, F.explode(F.array(*entries)).alias("__e"))
            .select(id_col, F.col("__e.band").alias("band"),
                    F.col("__e.band_key").alias("band_key")))


def minhash_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            bucket_cap: int | None = None,
                            sets_: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs from LSH banding (doc_a < doc_b) —
    the sub-quadratic candidate generation step; join is on band_key,
    never all-pairs.

    `bucket_cap`: skip band buckets holding more than cap docs. A
    bucket of d docs emits d*(d-1)/2 candidate rows, so one boilerplate
    cluster (near-identical template pages hashing to the same band
    key) quadratically floods the join on a web-scale corpus — the same
    hazard the shingle join's hot_shingle_cap closes. Oversized buckets
    are near-exact duplicate families, which `exact_canonical` (one
    hash aggregate, no pair join) already collapses; routing them there
    first and capping here is the standard LSH practice. Bucket sizes
    aggregate on (band, band_key) — the key the self-join hashes on, so
    the capping exchange is reused — and the surviving-buckets set is
    small by construction (df > cap buckets are FEW), removed with a
    broadcast anti-join, never a second full shuffle. The capped key
    frame is cached for its two consumers (size agg + self-join) and
    freed with the session; callers looping many corpora per session
    should clearCache between them.
    """
    keys = minhash_band_keys(
        minhash_signatures(docs, id_col, text_col, n, sets_=sets_),
        id_col)
    if bucket_cap is not None:
        keys = keys.cache()
        big = (keys.groupBy("band", "band_key")
               .agg(F.count("*").alias("__n"))
               .filter(F.col("__n") > bucket_cap)
               .select("band", "band_key"))
        keys = keys.join(F.broadcast(big), ["band", "band_key"],
                         "left_anti")
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_near_dups(docs: DataFrame, threshold: float,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3,
                      bucket_cap: int | None = None) -> DataFrame:
    """Full MinHash+LSH dedup: bucketed candidates, then exact Jaccard
    verification restricted to candidate documents ONLY — the whole
    point of LSH is that the expensive pair computation never touches
    non-candidate docs, so the shingle self-join runs on the (small)
    semi-joined subset, not the corpus. `bucket_cap` is threaded to
    the candidate generation (see minhash_candidate_pairs)."""
    # cache: the candidate set is tiny but feeds TWO consumers (the doc
    # filter and the final join) — uncached, Spark re-runs the whole
    # signature+banding pipeline per consumer (observed 3x wall time)
    cands = minhash_candidate_pairs(docs, id_col, text_col, n,
                                    bucket_cap).cache()
    cand_docs = (cands.select(F.col("doc_a").alias(id_col))
                 .union(cands.select(F.col("doc_b").alias(id_col)))
                 .distinct())
    survivors = docs.join(F.broadcast(cand_docs), id_col, "left_semi")
    exact = jaccard_pairs(survivors, 0.0, id_col, text_col, n)
    return (
        cands.join(exact, ["doc_a", "doc_b"])
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _cc_local(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact min-label connected components of a SMALL pinned pair
    list in one task (`graph.run_local`: no driver collect, no barrier
    rounds): vectorised min-label hooking of each star's root onto the
    smallest neighbouring label, then pointer jumping until every node
    points at its root, repeated until no root moves. Each round at
    least halves the stars of a component. Labels are ranks in id
    order, so a component's label is its smallest node id: (node,
    component), row for row the propagation loop's result on NULL-free
    pairs. Pairs with a NULL endpoint are dropped."""
    def components(a, b, ids, dead):
        import numpy as np
        import pandas as pd

        order = np.argsort(ids, kind="stable")
        rank = np.empty(len(ids), dtype=np.int64)
        rank[order] = np.arange(len(ids))
        x, y = rank[a[~dead]], rank[b[~dead]]
        lab = np.arange(len(ids))
        while True:
            nxt = lab.copy()
            np.minimum.at(nxt, lab[x], lab[y])
            np.minimum.at(nxt, lab[y], lab[x])
            while not np.array_equal(nxt[nxt], nxt):
                nxt = nxt[nxt]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        nodes = np.unique(np.concatenate([x, y]))
        return pd.DataFrame({"node": ids[order[nodes]],
                             "component": ids[order[lab[nodes]]]})

    id_t = pairs.schema[a_col].dataType.simpleString()
    return run_local(pairs, a_col, b_col, components,
                     f"node {id_t}, component {id_t}").localCheckpoint()


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_rounds: int = 50,
                         stats_out: dict | None = None) -> DataFrame:
    """Connected components of the near-dup pair graph by min-label
    propagation: every node's label converges to the smallest node id
    reachable from it. Returns (node, component).

    Round structure (r12 optimization — each barrier round of this
    loop costs two fixed-overhead jobs, checkpoint + changed-count,
    so the round COUNT is the cost driver, guide §1.2 "the
    distributed algorithm"): labels initialize to min(node, min
    neighbor) via ONE aggregate on the symmetrized edge list (the
    former round 1, for free — no join); each round then chains TWO
    1-hop min-propagation steps (join labels across the edges, take
    the min neighbor label, fold into the node's own) inside a single
    plan, followed by one POINTER JUMP through the checkpointed
    previous-round labels — next = min(hop, labels[hop]) — which
    composes the label's previous reach on top of the fresh hops, so
    the reached radius grows geometrically instead of +1 per barrier
    (Shiloach-Vishkin shortcutting). The semdedup pair graph at sf0.1
    measured 16 one-hop rounds vs 8 two-hop+jump rounds for the same
    fixpoint (5.1 -> 4.1 s); a chain graph needs O(log d) rounds.
    The jump looks up the PINNED labels frame, never the un-pinned
    hop frame — a self-join there would re-run the hop join+aggregate
    twice per round.

    Fixpoint equivalence: labels always hold the id of some node
    reachable from the row's node (neighbor labels are reachable by
    transitivity, the jump composes two reachable hops), labels never
    increase, and the component-minimum node keeps its own id — so
    changed==0 implies in particular stability under a single 1-hop
    step, i.e. label(u) == label(v) across every edge: constant label
    per component = the component minimum, identical to the pure
    propagation fixpoint the recursive-CTE oracle computes.

    Iterative-plan hygiene: every round ends in a LAZY
    `localCheckpoint` whose materialization is the round's single
    action — the changed-count aggregate computes the checkpoint and
    reads the exit test from it in ONE job (r13; the former
    eager-checkpoint-then-count shape paid two fixed-overhead jobs
    per barrier, and on a 1k-node graph the job count IS the cost —
    the r12 scaling block measured semdedup_survivors FASTER on 8
    cores than 32). The driver loop only carries COUNTS, never rows.

    SMALL-GRAPH FAST PATH (r13, guide §1.2): LSH/semantic pair lists
    are duplicate-bounded, and at or below `hints.local_max_pairs`
    (`spark.graft.cc.localMaxPairs`, default 200k) the whole fixpoint
    collapses into ONE executor-side pass — `_cc_local`, numpy
    min-label hooking and pointer jumping over the pinned pair list
    (exact min-label components, no driver collect, no barrier
    rounds at all). The pinned pair count is known anyway (it gates
    the path), so the decision costs one near-free cached count.
    Above the threshold the loop below is the scale path.
    """
    # The symmetrization consumes `pairs` TWICE (one leg per
    # direction), and building the edge cache evaluates both legs in
    # one job — an unpinned caller pipeline (the LSH candidate+verify
    # chain) would run twice before the cache even exists. Eager-pin
    # the projected pair list first; callers no longer need their own
    # checkpoint (r12: near_dup_clusters' cold path measured the
    # verify stage re-running inside the edge-cache build).
    pairs = pairs.select(F.col(a_col), F.col(b_col)).localCheckpoint()
    n_pairs = pairs.count()
    if n_pairs <= local_max_pairs(pairs.sparkSession):
        labels = _cc_local(pairs, a_col, b_col)
        if stats_out is not None:
            # exact count would cost a job; consumers only gate
            # broadcasts on it, so the 2-per-pair upper bound is fine
            stats_out["n_nodes_max"] = 2 * n_pairs
        return labels
    edges = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
             .union(pairs.select(F.col(b_col).alias("src"),
                                 F.col(a_col).alias("dst")))
             .distinct().cache())
    # round 1 folded into initialization: min(node, min neighbor) is
    # one hash aggregate over the symmetrized edges — the node set
    # derivation (formerly a separate distinct) rides the same pass
    labels = (edges.groupBy(F.col("src").alias("node"))
              .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
              .localCheckpoint())
    n_nodes = None
    for _ in range(max_rounds):
        # the previous round's label rides along as __old so the
        # changed-count never needs a join back
        cur = labels.select("node", "component",
                            F.col("component").alias("__old"))
        for _hop in range(2):
            neighbor_min = (
                edges.join(cur.select(F.col("node").alias("dst"),
                                      "component"), "dst")
                .groupBy("src")
                .agg(F.min("component").alias("__nc")))
            cur = (cur.join(neighbor_min.withColumnRenamed("src", "node"),
                            "node", "left")
                   .select("node", "__old",
                           F.least("component",
                                   F.coalesce("__nc", "component"))
                           .alias("component")))
        stepped = (
            cur.withColumnRenamed("component", "__hop")
            .join(labels.select(F.col("node").alias("__hop"),
                                F.col("component").alias("__jumped")),
                  "__hop", "left")
            .select("node", "__old",
                    F.least("__hop", F.coalesce("__jumped", "__hop"))
                    .alias("next_component"))
            # LAZY checkpoint: the aggregate below is the action that
            # materializes it, so each barrier round is ONE job, not
            # two (r13 — the r12 shape paid an eager-checkpoint job
            # plus a count job per round)
            .localCheckpoint(eager=False))
        # one aggregate returns BOTH the changed count (the loop's
        # exit test) and the node count — the latter is the free
        # byproduct callers use to size-gate their broadcast of the
        # returned labels (VERDICT r12 items #1/#3: component
        # membership is duplicate-fraction-proportional, so the
        # downstream F.broadcast hints must not be unconditional)
        row = stepped.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_if(F.col("next_component")
                       != F.col("__old")).alias("__c")).first()
        n_nodes = int(row["__n"])
        changed = int(row["__c"] or 0)
        labels = stepped.select(
            "node", F.col("next_component").alias("component"))
        if changed == 0:
            break
    edges.unpersist()
    if stats_out is not None:
        stats_out["n_nodes_max"] = n_nodes
    return labels


def near_dup_clusters(docs: DataFrame, threshold: float,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3,
                      stats_out: dict | None = None) -> DataFrame:
    """The dedup endgame: MinHash+LSH near-dup pairs -> connected
    components -> one canonical survivor per cluster. Output has one
    row per INPUT doc: (doc_id, cluster_id, cluster_size,
    is_canonical), cluster_id = smallest doc_id in the component
    (singleton docs are their own cluster). Filtering
    `is_canonical` yields the deduplicated corpus; `cluster_size`
    feeds duplication-rate stats.

    Scale: pair generation is the sub-quadratic LSH path; component
    labels exist only for docs that appear in some pair (a tiny
    fraction of the corpus), so the final assignment is a broadcast
    left join against the full corpus — the corpus itself is scanned
    once and never shuffled.
    """
    pairs = minhash_near_dups(docs, threshold, id_col, text_col, n)
    cc_stats: dict = {}
    comp = connected_components(pairs, stats_out=cc_stats).cache()
    if stats_out is not None:
        stats_out.update(cc_stats)
    n_members = cc_stats.get("n_nodes_max")
    # cluster sizes > 1 exist only inside the component frame, so
    # derive them there and broadcast — a count-over-window on the
    # full corpus would shuffle every doc row just to label singletons
    # 1. The broadcasts are ROW-COUNT-GATED on the component count the
    # CC loop already measured (zero extra jobs): membership is
    # duplicate-fraction-proportional, and on a crawl-like corpus with
    # 20-40% near-dups an unconditional hint would broadcast a
    # corpus-scale frame (VERDICT r12 item #3).
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("__cluster_size"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(gated_broadcast_rows(
            comp.withColumnRenamed("node", "doc_id"), n_members, 16),
            "doc_id", "left")
        .withColumn("cluster_id",
                    F.coalesce("component", F.col("doc_id")))
        .join(gated_broadcast_rows(
            sizes.withColumnRenamed("component", "cluster_id"),
            n_members, 16),
            "cluster_id", "left")
        .select("doc_id", "cluster_id",
                F.coalesce("__cluster_size", F.lit(1).cast("bigint"))
                 .alias("cluster_size"),
                (F.col("doc_id") == F.col("cluster_id"))
                .alias("is_canonical")))


def _simhash(docs: DataFrame, id_col: str, text_col: str,
             hash_fn, bits: int) -> DataFrame:
    """Shared SimHash kernel: per bit of the token hash, sum +/-1 votes
    across tokens (term-frequency weighted — duplicates vote again);
    the sign vector packs into one non-negative BIGINT."""
    tok = fan_out(docs).select(
        id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
    tok = tok.withColumn("h", hash_fn(F.col("tok")))
    votes = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1)
              .otherwise(-1)).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("bigint")
    for i in range(bits):
        sim = sim + F.when(F.col(f"v{i}") > 0,
                           F.lit(1 << i).cast("bigint")).otherwise(0)
    return per_doc.select(id_col, sim.alias("simhash"))


def simhash63(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """63-bit SimHash over token xxhash64 values (63 bits so the packed
    value never touches the sign bit).

    xxhash64 is JVM-native (no portable SQL twin), so this operator is
    verified by pytest invariants (identity / small-perturbation
    hamming distance) rather than the DuckDB oracle; simhash_portable
    below is the oracle-checked twin of the same kernel.
    """
    return _simhash(docs, id_col, text_col, F.xxhash64, 63)


SIMHASH_PORTABLE_BITS = 28


def simhash_portable(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """SimHash over the 28-bit portable md5 token hash — identical
    arithmetic in Spark and ANSI SQL, so the whole kernel (tokenize,
    per-bit votes, sign packing) is DuckDB-oracle-checkable. Production
    path stays simhash63 (xxhash64 is ~10x cheaper than md5 and twice
    the bits); this twin exists to pin the kernel's semantics with an
    exact cross-engine hash, per VERDICT r2 item #4."""
    return _simhash(docs, id_col, text_col, portable_token_hash,
                    SIMHASH_PORTABLE_BITS)


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of xor — SimHash distance."""
    return F.bit_count(a.bitwiseXOR(b))


# Above this many distinct eval n-grams the literal-array probe would
# bloat the compiled plan; contamination_flags falls back to the
# broadcast-join path (which handles any eval size).
_EVAL_LITERAL_MAX = 20_000


def contamination_flags(corpus: DataFrame, eval_docs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, hash_probe: bool = True) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with an evaluation set (the train/test-overlap check
    every serious LLM data pipeline runs before training — n-gram
    collision against held-out benchmarks, the standard published
    method).

    Returns one row per corpus doc: (doc_id, n_contaminated_ngrams =
    #distinct corpus-doc n-grams that appear anywhere in the eval set,
    contaminated = any hit).

    Scale shape: the eval n-gram set is SMALL (benchmarks are a few
    thousand documents), so the 100 TB side is ONE map-only pass: the
    eval grams are folded to a single distinct array with one partial
    aggregate (map-side combine, one reduce task — no wide distinct
    shuffle over 32 reducers for a few thousand strings), pulled to the
    driver exactly as a broadcast build would, and compiled into the
    corpus scan as an array_intersect against the doc's shingle array —
    no explode, no join, no groupBy, no shuffle anywhere on the corpus
    (the same join-free literal device as pq.py's codebook assignment;
    VERDICT r5/r6 perf item: the former explode + broadcast semi-join +
    groupBy + join-back spent three shuffling stages and two broadcast
    subjobs on what one projection computes). Eval sets larger than
    the literal bound fall back to the broadcast-probe aggregation,
    which never shuffles the corpus on the n-gram key either.
    """
    eval_arr = (eval_docs
                .select(tokens(F.col(text_col)).alias("__toks"))
                .select(shingles_from_tokens(
                    F.col("__toks"), n).alias("__sh"))
                .agg(F.array_distinct(
                    F.flatten(F.collect_list("__sh"))).alias("__g")))
    # one driver job yields BOTH the gram strings (path choice + the
    # portable string probe) and their xxhash64 values (the int probe)
    row = (eval_arr
           .select("__g", F.transform(
               "__g", lambda g: F.xxhash64(g)).alias("__h"))
           .first())
    grams = sorted(row["__g"]) if row and row["__g"] else []
    toks = corpus.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"))
    if len(grams) <= _EVAL_LITERAL_MAX:
        if hash_probe:
            # int64 probe (VERDICT r7 item #4): ArrayIntersect rebuilds
            # its lookup set from the literal operand for EVERY row
            # (~80 us at 1,330 strings, 2.4x the whole intersect cost);
            # xxhash64-ing both sides makes that rebuild a long-keyed
            # set and every probe an integer equality (measured 0.36s
            # -> 0.15s intersect delta at sf0.1). The hashes ride the
            # SAME eval job as the grams, so this path adds zero jobs;
            # both sides use the identical JVM hash. Distinct-gram
            # counts survive hashing barring a 64-bit corpus-vs-eval
            # collision (P < n_corpus_grams * n_eval_grams / 2^64,
            # ~1e-10 at sf0.1); the SQL oracle stays on the portable
            # string path and the driver compare would surface one.
            hlit = sorted(set(row["__h"])) if row and row["__h"] else []
            # one SQL-parsed literal, NOT F.lit(list): the py4j
            # element-by-element conversion costs ~0.5 us-free ms per
            # element (~0.6s at 1,330 — measured), the parser ~3 ms
            lith = F.expr(
                "array(" + ",".join(f"{h}L" for h in hlit) + ")"
            ) if hlit else F.lit([]).cast("array<bigint>")
            doc_h = F.transform(
                shingles_from_tokens(F.col("__toks"), n),
                lambda s: F.xxhash64(s))
            return (toks.select(
                        "doc_id",
                        F.size(F.array_intersect(lith, doc_h))
                        .cast("bigint").alias("n_contaminated_ngrams"))
                    .withColumn("contaminated",
                                F.col("n_contaminated_ngrams") > 0))
        lit = F.lit(grams).cast("array<string>")
        # literal side FIRST: ArrayIntersect keys its per-row lookup
        # off one operand; the (lit, doc) order measured ~15% faster
        # than (doc, lit) at sf0.1 (the per-row rebuild of the lookup
        # is engine-fixed either way)
        return (toks.select(
                    "doc_id",
                    F.size(F.array_intersect(
                        lit, shingles_from_tokens(F.col("__toks"), n)))
                    .cast("bigint").alias("n_contaminated_ngrams"))
                .withColumn("contaminated",
                            F.col("n_contaminated_ngrams") > 0))
    eval_grams = (shingle_sets(eval_docs, id_col, text_col, n)
                  .select("shingle").distinct()
                  .withColumn("__hit", F.lit(1)))
    exploded = toks.select(
        "doc_id",
        F.explode_outer(
            shingles_from_tokens(F.col("__toks"), n)).alias("shingle"))
    return (exploded.join(F.broadcast(eval_grams), "shingle", "left")
            .groupBy("doc_id")
            .agg(F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint")
                 .alias("n_contaminated_ngrams"))
            .withColumn("contaminated",
                        F.col("n_contaminated_ngrams") > 0))


def substring_dup_stats(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 8) -> DataFrame:
    """Exact substring-level duplication profile (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, how many of its distinct n-token windows also occur
    in at least one OTHER document. Where document-level dedup removes
    whole near-copies, this surfaces boilerplate passages repeated
    across otherwise-distinct documents — the signal substring dedup
    pipelines cut on.

    Returns (doc_id, n_grams, n_dup_grams, dup_ratio), zero-filled for
    short documents.

    Scale shape: one explode to distinct (doc, window) pairs — cached,
    it feeds three consumers — one hash agg keyed on the window for
    document frequency, a same-key join back (the exchange is reused:
    both sides hash on the window), and two tiny per-doc aggregates. At
    100 TB the window string would be replaced by xxhash64(window) to
    shrink the shuffle payload ~10x; the fixture keeps the raw string
    so the SQL oracle can reproduce it verbatim.
    """
    grams = shingle_sets(docs, id_col, text_col, n).cache()
    df_per_gram = grams.groupBy("shingle").agg(F.count("*").alias("__df"))
    shared = df_per_gram.filter(F.col("__df") >= 2).select("shingle")
    per_doc = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    dup = (grams.join(shared, "shingle")
           .groupBy(id_col).agg(F.count("*").alias("n_dup_grams")))
    n_grams = F.coalesce("n_grams", F.lit(0)).cast("bigint")
    n_dup = F.coalesce("n_dup_grams", F.lit(0)).cast("bigint")
    return (docs.select(id_col)
            .join(per_doc, id_col, "left")
            .join(dup, id_col, "left")
            .select(id_col, n_grams.alias("n_grams"),
                    n_dup.alias("n_dup_grams"),
                    F.when(n_grams == 0, F.lit(0.0))
                     .otherwise(n_dup * 1.0 / n_grams).alias("dup_ratio")))


def incremental_dedup(new_docs: DataFrame, index_docs: DataFrame,
                      threshold: float, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      bucket_cap: int | None = None) -> DataFrame:
    """Incremental ingestion dedup: flag each NEW-batch document that
    duplicates an already-indexed corpus — the production shape where
    yesterday's corpus is a static MinHash/fingerprint index and only
    the day's delta is probed against it (no new x new or index x
    index pairs are ever generated; batch-internal dedup runs
    separately, first).

    Returns one row per new doc:
      (doc_id, exact_dup, exact_match_id, near_dup, near_match_id,
       near_jaccard)
    with the near match being the argmax-Jaccard index doc (ties break
    to the smallest index id — total order, engine-independent).

    Scale shape: the exact leg is one fingerprint equi-join (the index
    side pre-aggregated to min-id per fingerprint — at most one row
    per distinct content). The near leg joins the DELTA's band keys
    against the INDEX's band keys — in production the index keys are
    precomputed and bucketed on (band, band_key), so the daily probe
    shuffles only the delta; `bucket_cap` drops oversized boilerplate
    buckets exactly as in minhash_candidate_pairs. Exact Jaccard
    verification runs only on candidate docs from BOTH sides (semi-
    joined), and the shingle join pairs across corpora only.
    """
    fp_idx = (index_docs
              .groupBy(F.md5(F.col(text_col)).alias("__fp"))
              .agg(F.min(id_col).alias("__exact_id")))
    exact = (new_docs
             .select(F.col(id_col), F.md5(F.col(text_col)).alias("__fp"))
             .join(fp_idx, "__fp", "left")
             .select(id_col, F.col("__exact_id")))

    keys_new = minhash_band_keys(
        minhash_signatures(new_docs, id_col, text_col, n), id_col)
    keys_idx = minhash_band_keys(
        minhash_signatures(index_docs, id_col, text_col, n), id_col)
    if bucket_cap is not None:
        keys_idx = keys_idx.cache()
        big = (keys_idx.groupBy("band", "band_key")
               .agg(F.count("*").alias("__n"))
               .filter(F.col("__n") > bucket_cap)
               .select("band", "band_key"))
        keys_idx = keys_idx.join(F.broadcast(big), ["band", "band_key"],
                                 "left_anti")
    cands = (keys_new.alias("a")
             .join(keys_idx.alias("b"),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key")))
             .select(F.col(f"a.{id_col}").alias("__new_id"),
                     F.col(f"b.{id_col}").alias("__idx_id"))
             .distinct().cache())

    new_surv = new_docs.join(
        F.broadcast(cands.select(F.col("__new_id").alias(id_col)).distinct()),
        id_col, "left_semi")
    idx_surv = index_docs.join(
        F.broadcast(cands.select(F.col("__idx_id").alias(id_col)).distinct()),
        id_col, "left_semi")
    sn = shingle_sets(new_surv, id_col, text_col, n)
    si = shingle_sets(idx_surv, id_col, text_col, n)
    size_n = sn.groupBy(id_col).agg(F.count("*").alias("__sz_n")) \
        .withColumnRenamed(id_col, "__new_id")
    size_i = si.groupBy(id_col).agg(F.count("*").alias("__sz_i")) \
        .withColumnRenamed(id_col, "__idx_id")
    inter = (sn.withColumnRenamed(id_col, "__new_id")
             .join(si.withColumnRenamed(id_col, "__idx_id"), "shingle")
             .groupBy("__new_id", "__idx_id")
             .agg(F.count("*").alias("__inter")))
    jac = (cands.join(inter, ["__new_id", "__idx_id"])
           .join(size_n, "__new_id").join(size_i, "__idx_id")
           .withColumn("__jac", F.col("__inter") * 1.0
                       / (F.col("__sz_n") + F.col("__sz_i")
                          - F.col("__inter")))
           .filter(F.col("__jac") >= threshold))
    w = Window.partitionBy("__new_id").orderBy(
        F.col("__jac").desc(), F.col("__idx_id"))
    best = (jac.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("__new_id").alias(id_col),
                    F.col("__idx_id").alias("__near_id"),
                    F.col("__jac").alias("__near_jac")))

    return (exact.join(best, id_col, "left")
            .select(id_col,
                    F.col("__exact_id").isNotNull().alias("exact_dup"),
                    F.col("__exact_id").alias("exact_match_id"),
                    F.col("__near_id").isNotNull().alias("near_dup"),
                    F.col("__near_id").alias("near_match_id"),
                    F.col("__near_jac").alias("near_jaccard")))


def cluster_survivors(clusters: DataFrame, quality: DataFrame,
                      quality_col: str,
                      id_col: str = "doc_id",
                      n_members: int | None = None) -> DataFrame:
    """Quality-aware survivorship over near-dup clusters: instead of
    near_dup_clusters' min-id canonical, keep the HIGHEST-quality
    member of each cluster (ties -> smallest id) — the policy real
    corpus dedup uses (keep the longest / cleanest copy, drop the
    rest). Input `clusters` is near_dup_clusters' per-doc assignment;
    `quality` maps id -> an integer quality column.

    Output adds is_survivor + the cluster's winning (quality, id) so
    the decision is auditable per row.

    Scale shape: multi-doc clusters are a tiny fraction of the corpus
    (only docs that hit an LSH pair), but the assignment frame is
    corpus-sized, so the argmax aggregate groups ONLY rows from
    multi-doc clusters (cluster_size > 1) and broadcasts the winners
    back; singletons survive by construction and never shuffle.

    The winner aggregate attaches quality to the TINY multi-cluster
    id set with a broadcast join (r12: the former
    clusters-join-quality-then-filter shape ran the corpus-vs-corpus
    quality join TWICE — once under the winners aggregate, once for
    the final per-row readout; now only the final readout pays it,
    guide §2.4)."""
    q = quality.select(F.col(id_col).alias("doc_id"),
                       F.col(quality_col).cast("bigint").alias("__q"))
    multi = (clusters.filter(F.col("cluster_size") > 1)
             .select("doc_id", "cluster_id"))
    # deterministic argmax: max over (quality, -id) == highest
    # quality, smallest id on ties. `multi` has exactly one row per
    # pair-hitting doc (duplicate-fraction-proportional), so its
    # broadcast is gated on the caller-supplied member count (the CC
    # loop's free byproduct — near_dup_clusters(stats_out=...));
    # unknown count degrades to shuffle-hash (VERDICT r12 item #3)
    winners = (q.join(gated_broadcast_rows(multi, n_members, 16),
                      "doc_id")
               .groupBy("cluster_id")
               .agg(F.max(F.struct(F.col("__q"),
                                   (-F.col("doc_id")).alias("__ni")))
                    .alias("__w"))
               .select("cluster_id",
                       F.col("__w.__q").alias("best_quality"),
                       (-F.col("__w.__ni")).alias("best_doc_id")))
    withq = clusters.join(q, "doc_id")
    return (withq
            .join(gated_broadcast_rows(winners, n_members, 24),
                  "cluster_id", "left")
            .select("doc_id", "cluster_id", "cluster_size",
                    F.col("__q").alias("quality"),
                    F.coalesce("best_quality", F.col("__q"))
                    .alias("best_quality"),
                    F.coalesce("best_doc_id", F.col("doc_id"))
                    .alias("best_doc_id"),
                    (F.coalesce("best_doc_id", F.col("doc_id"))
                     == F.col("doc_id")).alias("is_survivor")))


def minhash_error_report(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 3) -> DataFrame:
    """MinHash estimation-error audit — the eval layer for the dedup
    family, mirroring what ann_recall_report does for ANN: for every
    LSH candidate pair, the signature-estimated Jaccard (fraction of
    agreeing permutation minima) sits next to the EXACT shingle
    Jaccard, with the absolute error and the corpus-wide mean absolute
    error. Turns the sketch's accuracy (theoretical sd ~= sqrt(J(1-J)
    / k) ~ 0.125 at k=16) into a driver-checked fact instead of a
    claim — the audit a pipeline runs before trusting a signature
    width at production threshold.

    All ratios are truncating integer ppm:
        est_jaccard_ppm   = matches * 1e6 DIV 16
        exact_jaccard_ppm = inter * 1e6 DIV (size_a + size_b - inter)
        mae_ppm           = SUM(abs_err) DIV COUNT(*)  (global window
                            over the candidate pairs — a post-agg
                            detail, bounded by the LSH fan-out).

    Scale shape: signatures are ONE hash aggregate (persisted — band
    keys and both sides of the signature-agreement join read them);
    candidates ride the band-key equi-join, never all-pairs; the
    exact side touches only candidate docs' persisted shingle arrays
    (the minhash_near_dups convention)."""
    sigs = minhash_signatures(docs, id_col, text_col, n).persist()
    keys = minhash_band_keys(sigs, id_col)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"))
            .distinct())

    sa = sigs.select(F.col(id_col).alias("doc_a"),
                     *[F.col(f"mh{i}").alias(f"a{i}")
                       for i in range(NUM_HASHES)])
    sb = sigs.select(F.col(id_col).alias("doc_b"),
                     *[F.col(f"mh{i}").alias(f"b{i}")
                       for i in range(NUM_HASHES)])
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(NUM_HASHES))

    arrs = (shingle_sets(docs, id_col, text_col, n)
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list("shingle")).alias("__ss"),
                 F.count(F.lit(1)).alias("__sz"))
            .persist())
    est = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .select("doc_a", "doc_b",
                   matches.cast("bigint").alias("__matches"))
           .withColumn("est_jaccard_ppm",
                       F.expr(f"__matches * 1000000 DIV {NUM_HASHES}"))
           .drop("__matches"))
    ex = (est
          .join(arrs.select(F.col(id_col).alias("doc_a"),
                            F.col("__ss").alias("__sa"),
                            F.col("__sz").alias("__za")), "doc_a")
          .join(arrs.select(F.col(id_col).alias("doc_b"),
                            F.col("__ss").alias("__sb"),
                            F.col("__sz").alias("__zb")), "doc_b")
          .withColumn("__inter",
                      F.size(F.array_intersect("__sa", "__sb"))
                      .cast("bigint"))
          .withColumn("exact_jaccard_ppm",
                      F.expr("__inter * 1000000"
                             " DIV (__za + __zb - __inter)"))
          .withColumn("abs_err_ppm",
                      F.abs(F.col("est_jaccard_ppm")
                            - F.col("exact_jaccard_ppm"))))
    return (ex.withColumn(
        "mae_ppm",
        F.expr("CAST(SUM(abs_err_ppm) OVER () DIV COUNT(1) OVER ()"
               " AS BIGINT)"))
        .select("doc_a", "doc_b", "est_jaccard_ppm",
                "exact_jaccard_ppm", "abs_err_ppm", "mae_ppm"))


def idf_weighted_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text",
                               n: int = 3) -> DataFrame:
    """IDF-weighted Jaccard over the LSH candidate pairs — the
    boilerplate-robust refinement of plain Jaccard: each shingle
    carries weight w = ln(N/df) in integer micro-nats, so a pair
    whose overlap is template chrome (headers, footers, licence
    blocks — df near N, weight near 0) scores near zero while a pair
    sharing RARE content scores high. The standard second-stage
    verifier in production dedup stacks (plain Jaccard generates
    candidates; weighted Jaccard decides).

        wJ = shared_w / (total_a + total_b - shared_w)   (ppm, DIV)

    with shared_w the exact sum of weights over the intersection
    (weights are per-shingle, so min == max == w on shared
    elements). A ubiquitous shingle (df == N) weighs exactly 0.

    Exactness: df/N are exact integers, each weight ONE pinned float
    (micro-nats), all pair sums exact bigints, the ratio truncating
    ppm. Scale shape: candidates come from LSH banding (never
    all-pairs); ONE hash aggregate builds each doc's weighted shingle
    array AND its weight total together, and verification is an
    array_intersect fold over the two persisted per-doc arrays —
    cost bounded by document length, never a second corpus shuffle
    (the jaccard_pairs verify convention; VERDICT r11 item #3 closed
    the duplicated tokenize → shingle pipeline by sharing the
    persisted grain with the signature stage, and this replaces the
    remaining exploded intersect join + separate totals aggregate —
    four corpus-grain shuffles — with that one aggregate)."""
    sets_ = shingle_sets(docs, id_col, text_col, n).persist()
    nd = sets_.agg(F.countDistinct(id_col).cast("bigint")
                   .alias("n_docs"))
    dfq = sets_.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = (dfq.crossJoin(F.broadcast(nd))
         .select("shingle", F.expr(
             "CAST(FLOOR(LN(CAST(n_docs AS DOUBLE)"
             " / CAST(df AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)")
             .alias("w")))
    # one row per doc: the (shingle, w) struct array — w is GLOBAL
    # per shingle, so shared structs compare equal across docs and
    # array_intersect is exactly the weighted intersection — plus the
    # doc's weight total from the same aggregate. Persisted: it feeds
    # both sides of the candidate verify join.
    warr = (sets_.join(w, "shingle")
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list(F.struct("shingle", "w")))
                 .alias("__wset"),
                 F.sum("w").cast("bigint").alias("tw"))
            .persist())
    cand = minhash_candidate_pairs(docs, id_col, text_col, n,
                                   sets_=sets_)
    p = (cand
         .join(warr.select(F.col(id_col).alias("doc_a"),
                           F.col("__wset").alias("__wa"),
                           F.col("tw").alias("total_w_a")), "doc_a")
         .join(warr.select(F.col(id_col).alias("doc_b"),
                           F.col("__wset").alias("__wb"),
                           F.col("tw").alias("total_w_b")), "doc_b")
         .withColumn("shared_w",
                     F.aggregate(F.array_intersect("__wa", "__wb"),
                                 F.lit(0).cast("bigint"),
                                 lambda acc, x: acc + x["w"])))
    return p.select(
        "doc_a", "doc_b", "shared_w", "total_w_a", "total_w_b",
        F.expr("CAST(shared_w * 1000000"
               " DIV GREATEST(total_w_a + total_w_b - shared_w, 1)"
               " AS BIGINT)").alias("wjaccard_ppm"))


def paragraph_dedup_stats(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          para_len: int = 16) -> DataFrame:
    """Paragraph-grain exact dedup statistics — the CCNet-style
    sub-document pass real pipelines run BEFORE doc-level LSH
    (Wenzek et al. 2020 hash each paragraph and drop repeats; the
    boilerplate a doc-grain Jaccard never sees lives at this grain).
    Documents are segmented into fixed `para_len`-token paragraphs
    (the fixture corpus carries no newline structure, so the segment
    boundary is the token count — the same windowing device as
    doc_chunks_rag), each paragraph keyed by its EXACT token string,
    and every paragraph is counted corpus-wide. Per document:

        n_paragraphs            segments emitted
        n_distinct_paragraphs   distinct segment strings (intra-doc
                                repetition shows as n - distinct)
        n_dup_paragraphs        segments whose corpus-wide occurrence
                                count exceeds 1 (the mass a CCNet
                                paragraph filter would drop/share)
        dup_ppm                 n_dup * 1e6 DIV n_paragraphs (exact)

    Scale shape: one tokenize pass, one explode to paragraph grain
    (persisted — the frequency aggregate and the join-back both read
    it), one hash aggregate to paragraph grain, one equi-join back.
    At 100 TB the paragraph key would be the 128-bit fingerprint
    (exact_canonical's convention) instead of the raw string; the
    string key here keeps the oracle exact with zero collision
    caveats."""
    toks = (fan_out(docs)
            .select(id_col, tokens(F.col(text_col)).alias("__t"))
            .filter(F.size("__t") > 0))
    n_chunks = F.expr(f"(size(__t) + {para_len - 1}) DIV {para_len}")
    paras = (toks.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("__t"),
                             i * para_len + 1, para_len))))
        .alias("para"))
        .persist())
    freq = (paras.groupBy("para")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt")))
    return (paras.join(freq, "para")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
                 F.countDistinct("para").cast("bigint")
                 .alias("n_distinct_paragraphs"),
                 F.sum(F.when(F.col("__cnt") > 1, 1).otherwise(0))
                 .cast("bigint").alias("n_dup_paragraphs"))
            .withColumn("dup_ppm",
                        F.expr("n_dup_paragraphs * 1000000"
                               " DIV n_paragraphs").cast("bigint")))
