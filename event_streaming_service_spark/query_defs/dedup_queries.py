"""Deduplication queries over `documents` (SURVEY.md section 2.12):
exact, n-gram Jaccard, MinHash signatures, and the full MinHash+LSH
pipeline — each checked against the identical computation in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from event_streaming_service_spark.operators import dedup
from event_streaming_service_spark.queries import register
from event_streaming_service_spark.sources import tables

JACCARD_THRESHOLD = 0.5
# Drop shingles shared by more than this many docs before the pair join
# (boilerplate carries no dedup signal; fan-out is bounded at
# cap*(cap-1)/2 rows per shingle). 64 ~= 13% of the sf0.01 corpus.
HOT_SHINGLE_CAP = 64

# ---- shared SQL fragments (exact twins of operators/dedup.py) ----

# distinct word-trigram shingles per doc
_SHINGLES = r"""
shingle_sets AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
          FROM documents)
    WHERE len(toks) >= 3
)
"""

def _jaccard_sql(cap: int | None = None) -> str:
    """Jaccard CTE chain; with `cap`, the identical doc-frequency filter
    operators/dedup.jaccard_pairs applies (both inter AND sizes)."""
    if cap is None:
        capped, src = "", "shingle_sets"
    else:
        capped = f""",
shingle_sets_capped AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM shingle_sets)
    WHERE df <= {cap}
)"""
        src = "shingle_sets_capped"
    return _SHINGLES + capped + f""",
set_sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM {src} GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM {src} a JOIN {src} b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT doc_a, doc_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
           inter * 1.0 / (sa.set_size + sb.set_size - inter) AS jaccard
    FROM inter JOIN set_sizes sa ON doc_a = sa.doc_id
               JOIN set_sizes sb ON doc_b = sb.doc_id
)
"""


_JACCARD = _jaccard_sql(None)


def _minhash_sql_body() -> str:
    """Signatures CTE: identical universal-hash arithmetic to
    operators/dedup.minhash_signatures."""
    h = dedup.portable_token_hash_sql("shingle")
    mins = ",\n           ".join(
        f"MIN(({dedup.HASH_AS[i]} * h + {dedup.HASH_BS[i]}) % {dedup._HASH_P})"
        f" AS mh{i}"
        for i in range(dedup.NUM_HASHES))
    return f""",
hashed AS (SELECT doc_id, {h} AS h FROM shingle_sets),
signatures AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
)
"""


def _bands_sql() -> str:
    rows = dedup.NUM_HASHES // dedup.NUM_BANDS
    selects = []
    for b in range(dedup.NUM_BANDS):
        cols = " || '-' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM signatures")
    return ",\nband_keys AS (" + " UNION ALL ".join(selects) + ")"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load_table(spark, sf_dir, "documents")


@register(
    "dedup_exact_canonical",
    oracle="""
    SELECT doc_id, fingerprint,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
           COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
    FROM (SELECT doc_id, md5(text) AS fingerprint FROM documents)
    """,
    tags=("dedup-exact",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as canonical-id mapping (hash groupBy, no pair joins)."""
    return dedup.exact_canonical(_docs(spark, sf_dir))


@register(
    "near_dup_shingle_jaccard",
    oracle="WITH " + _jaccard_sql(HOT_SHINGLE_CAP) + f"""
    SELECT doc_a, doc_b, inter, size_a, size_b, jaccard
    FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup-jaccard",),
)
def q_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-shingle Jaccard near-duplicate pairs (>= 0.5) —
    the ground truth the LSH pipeline approximates. Runs with the
    hot-shingle doc-frequency cap that bounds join fan-out on real
    corpora (the oracle applies the identical cap)."""
    return dedup.jaccard_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD,
                               hot_shingle_cap=HOT_SHINGLE_CAP)


@register(
    "minhash_signatures",
    oracle="WITH " + _SHINGLES + _minhash_sql_body() + "SELECT * FROM signatures",
    tags=("dedup-minhash",),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-permutation MinHash signatures — constant size per doc."""
    return dedup.minhash_signatures(_docs(spark, sf_dir))


@register(
    "minhash_lsh_pairs",
    oracle="WITH " + _JACCARD + _minhash_sql_body() + _bands_sql() + f""",
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM candidates c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    WHERE j.jaccard >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup-minhash-lsh",),
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: banded candidate generation
    (sub-quadratic) + exact Jaccard verification of candidates only."""
    return dedup.minhash_near_dups(_docs(spark, sf_dir), JACCARD_THRESHOLD)


@register(
    "near_dup_clusters",
    oracle="WITH RECURSIVE " + _JACCARD + _minhash_sql_body() + _bands_sql()
    + f""",
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM candidates c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
        WHERE j.jaccard >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    -- transitive closure: every (node, reachable) pair; near-dup
    -- components are tiny so the closure stays small
    walk(node, reach) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a
    ),
    comp AS (
        SELECT node, LEAST(node, MIN(reach)) AS component
        FROM walk GROUP BY node
    ),
    assigned AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM assigned
    """,
    tags=("dedup-minhash-lsh", "dedup-clusters"),
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: LSH near-dup pairs -> connected components
    (min-label propagation) -> canonical survivor per cluster, one row
    per corpus doc. The oracle computes the identical components via a
    recursive transitive-closure CTE."""
    return dedup.near_dup_clusters(_docs(spark, sf_dir), JACCARD_THRESHOLD)


@register(
    "simhash_fingerprints",
    oracle=None,  # xxhash64 has no portable SQL twin; pytest covers invariants
    tags=("dedup-simhash",),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash fingerprints (rows-only driver check; the
    oracle-checked kernel twin is simhash_portable below)."""
    return dedup.simhash63(_docs(spark, sf_dir))


def _simhash_portable_oracle() -> str:
    bits = dedup.SIMHASH_PORTABLE_BITS
    votes = ", ".join(
        f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    pack = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return f"""
    WITH tok AS (
        SELECT doc_id,
               CAST('0x' || SUBSTRING(md5(tok), 1, 7) AS BIGINT) AS h
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split_regex(text, '\\s+'),
                                        t -> t <> '')) AS tok
              FROM documents)),
    votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id)
    SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM votes
    """


@register(
    "simhash_portable",
    oracle=_simhash_portable_oracle(),
    tags=("dedup-simhash",),
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash kernel over the 28-bit portable md5 token hash — the
    exact-oracle twin pinning the tokenize/vote/pack semantics that
    the xxhash64 production fingerprint shares (VERDICT r2 item #4)."""
    return dedup.simhash_portable(_docs(spark, sf_dir))


EVAL_DOC_CUTOFF = 25  # doc_id < 25 plays the held-out benchmark set


@register(
    "contamination_flags",
    oracle="WITH " + _SHINGLES + f""",
    eval_grams AS (
        SELECT DISTINCT shingle FROM shingle_sets
        WHERE doc_id < {EVAL_DOC_CUTOFF}),
    hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_ngrams
        FROM shingle_sets JOIN eval_grams USING (shingle)
        WHERE doc_id >= {EVAL_DOC_CUTOFF}
        GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_contaminated_ngrams, 0) AS BIGINT)
               AS n_contaminated_ngrams,
           COALESCE(h.n_contaminated_ngrams, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {EVAL_DOC_CUTOFF}) d
    LEFT JOIN hits h USING (doc_id)
    """,
    tags=("dedup-jaccard", "decontamination"),
)
def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id >= cutoff) flagged
    by distinct word-trigram overlap with a held-out eval set
    (doc_id < cutoff) — the train/test-overlap sweep run before
    training. Eval n-grams broadcast; the corpus is scanned once and
    never shuffled on the n-gram key."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import functions as F
    return dedup.contamination_flags(
        docs.filter(F.col("doc_id") >= EVAL_DOC_CUTOFF),
        docs.filter(F.col("doc_id") < EVAL_DOC_CUTOFF))


SUBSTR_N = 8


def _ngram_sql(n: int) -> str:
    """Distinct word n-gram CTE for arbitrary n (the trigram _SHINGLES
    twin, generalized)."""
    concat = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return rf"""
    ngram_sets AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - {n - 2}, 1)),
                   i -> {concat}))) AS shingle
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> t <> '') AS toks
              FROM documents)
        WHERE len(toks) >= {n}
    )
    """


@register(
    "substring_dup_stats",
    oracle="WITH " + _ngram_sql(SUBSTR_N) + """,
    freq AS (SELECT shingle, COUNT(*) AS df FROM ngram_sets GROUP BY shingle),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams
                FROM ngram_sets GROUP BY doc_id),
    dup AS (SELECT g.doc_id, COUNT(*) AS n_dup
            FROM ngram_sets g JOIN freq USING (shingle)
            WHERE freq.df >= 2 GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(u.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
                ELSE COALESCE(u.n_dup, 0) * 1.0 / p.n_grams END AS dup_ratio
    FROM documents d
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN dup u USING (doc_id)
    """,
    tags=("dedup-jaccard", "dedup-substring"),
)
def q_substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: distinct 8-token windows per doc
    shared with any other doc (Lee et al. exact substring dedup,
    profiled per document). See operators/dedup.substring_dup_stats
    for the one-shuffle-per-stage shape."""
    return dedup.substring_dup_stats(_docs(spark, sf_dir), n=SUBSTR_N)


INDEX_CUTOFF = 250  # doc_id < 250 plays the already-indexed corpus


@register(
    "incremental_dedup_new_batch",
    oracle="WITH " + _JACCARD + _minhash_sql_body() + _bands_sql() + f""",
    candidates AS (
        SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS idx_id
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id < {INDEX_CUTOFF} AND b.doc_id >= {INDEX_CUTOFF}),
    near AS (
        SELECT c.new_id, c.idx_id, j.jaccard
        FROM candidates c
        JOIN jac j ON j.doc_a = c.idx_id AND j.doc_b = c.new_id
        WHERE j.jaccard >= {JACCARD_THRESHOLD}),
    best AS (
        SELECT new_id, idx_id, jaccard FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
                ORDER BY jaccard DESC, idx_id) AS rn
            FROM near) WHERE rn = 1),
    exact AS (
        SELECT n.doc_id AS new_id, MIN(i.doc_id) AS exact_id
        FROM documents n JOIN documents i ON md5(n.text) = md5(i.text)
        WHERE n.doc_id >= {INDEX_CUTOFF} AND i.doc_id < {INDEX_CUTOFF}
        GROUP BY n.doc_id)
    SELECT d.doc_id,
           e.exact_id IS NOT NULL AS exact_dup,
           e.exact_id AS exact_match_id,
           b.idx_id IS NOT NULL AS near_dup,
           b.idx_id AS near_match_id,
           b.jaccard AS near_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {INDEX_CUTOFF}) d
    LEFT JOIN exact e ON d.doc_id = e.new_id
    LEFT JOIN best b ON d.doc_id = b.new_id
    """,
    tags=("dedup-minhash-lsh", "dedup-incremental", "dedup-exact"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the new batch (doc_id >= cutoff)
    probed against the indexed corpus (doc_id < cutoff) — exact
    fingerprint matches plus the argmax-Jaccard LSH near match per new
    doc, cross-corpus pairs only. See operators/dedup.incremental_dedup
    for the delta-only probe shape."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import functions as F
    return dedup.incremental_dedup(
        docs.filter(F.col("doc_id") >= INDEX_CUTOFF),
        docs.filter(F.col("doc_id") < INDEX_CUTOFF),
        JACCARD_THRESHOLD)


def _bloom_positions_sql(src: str, seeds: int) -> str:
    """Per-seed UNION of the identical bit positions
    operators/membership._positions computes (the portable 28-bit hash
    of the md5-fingerprint key, through the universal-hash family)."""
    from event_streaming_service_spark.operators.dedup import (
        _HASH_P, HASH_AS, HASH_BS)
    from event_streaming_service_spark.operators.membership import (
        BLOOM_M_BITS)
    legs = []
    for i in range(seeds):
        legs.append(
            f"SELECT doc_id, (({HASH_AS[i]} * h + {HASH_BS[i]}) "
            f"% {_HASH_P}) % {BLOOM_M_BITS} AS p FROM {src}")
    return " UNION ALL ".join(legs)


def _bloom_oracle() -> str:
    from event_streaming_service_spark.operators.membership import (
        BLOOM_HASHES)
    return f"""
    WITH k AS (
        SELECT doc_id, md5(text) AS fp,
               CAST('0x' || SUBSTRING(md5(md5(text)), 1, 7) AS BIGINT) AS h
        FROM documents),
    idx AS (SELECT * FROM k WHERE doc_id < {INDEX_CUTOFF}),
    new AS (SELECT * FROM k WHERE doc_id >= {INDEX_CUTOFF}),
    idx_pos AS (
        SELECT DISTINCT p FROM ({_bloom_positions_sql('idx', BLOOM_HASHES)})),
    probe AS ({_bloom_positions_sql('new', BLOOM_HASHES)}),
    cand AS (
        SELECT pr.doc_id, BOOL_AND(ip.p IS NOT NULL) AS bloom_candidate
        FROM probe pr LEFT JOIN idx_pos ip USING (p)
        GROUP BY pr.doc_id),
    exact AS (
        SELECT n.doc_id, MIN(i.doc_id) AS exact_match_id
        FROM new n JOIN idx i ON n.fp = i.fp
        GROUP BY n.doc_id)
    SELECT c.doc_id, c.bloom_candidate,
           e.exact_match_id IS NOT NULL AS exact_dup, e.exact_match_id
    FROM cand c LEFT JOIN exact e USING (doc_id)
    """


@register(
    "incremental_dedup_bloom",
    oracle=_bloom_oracle(),
    tags=("dedup-exact", "dedup-incremental", "bloom"),
)
def q_incremental_dedup_bloom(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental exact dedup: a bit-packed Bloom
    filter over the INDEX corpus's md5 fingerprints is built in one
    bounded aggregation and probed map-side from the new batch (pure
    codegen — no join, no shuffle for the definite non-members); only
    Bloom candidates reach the exact fingerprint join. No false
    negatives, so exact_dup/exact_match_id are bit-identical to the
    unfiltered join — the oracle checks the probe bits AND that
    invariant. See operators/membership.py for the 16 MiB-at-2^30-bits
    broadcast design."""
    from pyspark.sql import functions as F

    from event_streaming_service_spark.operators import membership

    docs = _docs(spark, sf_dir)
    fp = F.md5(F.col("text"))
    idx = docs.filter(F.col("doc_id") < INDEX_CUTOFF) \
        .select("doc_id", fp.alias("__fp"))
    new = docs.filter(F.col("doc_id") >= INDEX_CUTOFF) \
        .select("doc_id", fp.alias("__fp"))
    words = membership.bloom_build(idx, F.col("__fp"))
    probed = membership.bloom_probe(new, F.col("__fp"), words)
    fp_idx = idx.groupBy("__fp").agg(
        F.min("doc_id").alias("exact_match_id"))
    # definite non-members skip the join entirely; candidates (true
    # matches + the small fp-rate) are the only join input
    cand = (probed.filter(F.col("bloom_candidate"))
            .join(fp_idx, "__fp", "left"))
    miss = probed.filter(~F.col("bloom_candidate")).withColumn(
        "exact_match_id", F.lit(None).cast("bigint"))
    return (cand.unionByName(miss)
            .select("doc_id", "bloom_candidate",
                    F.col("exact_match_id").isNotNull().alias("exact_dup"),
                    "exact_match_id"))


@register(
    "near_dup_survivors_by_quality",
    oracle="WITH RECURSIVE " + _JACCARD + _minhash_sql_body()
    + _bands_sql()
    + f""",
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM candidates c
        JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
        WHERE j.jaccard >= {JACCARD_THRESHOLD}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(node, reach) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
    comp AS (
        SELECT node, LEAST(node, MIN(reach)) AS component
        FROM walk GROUP BY node),
    assigned AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id,
               d.n_chars AS quality
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY cluster_id)
                      AS cluster_size
        FROM assigned),
    best AS (
        SELECT cluster_id AS bc, MAX(quality) AS best_quality
        FROM sized WHERE cluster_size > 1 GROUP BY cluster_id),
    winners AS (
        SELECT s.cluster_id, b.best_quality,
               MIN(s.doc_id) AS best_doc_id
        FROM sized s JOIN best b
          ON s.cluster_id = b.bc AND s.quality = b.best_quality
        GROUP BY s.cluster_id, b.best_quality)
    SELECT s.doc_id, s.cluster_id, s.cluster_size, s.quality,
           COALESCE(w.best_quality, s.quality) AS best_quality,
           COALESCE(w.best_doc_id, s.doc_id) AS best_doc_id,
           COALESCE(w.best_doc_id, s.doc_id) = s.doc_id AS is_survivor
    FROM sized s LEFT JOIN winners w ON s.cluster_id = w.cluster_id
    """,
    tags=("dedup-minhash-lsh", "dedup-clusters", "quality"),
)
def q_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivorship: the longest member of
    each LSH cluster survives (ties -> smallest doc_id) instead of
    the min-id canonical (operators/dedup.py:cluster_survivors)."""
    docs = _docs(spark, sf_dir)
    # thread the CC member count through so cluster_survivors'
    # winner/membership broadcasts are size-gated (VERDICT r12 #3)
    stats: dict = {}
    clusters = dedup.near_dup_clusters(docs, JACCARD_THRESHOLD,
                                       stats_out=stats)
    return dedup.cluster_survivors(
        clusters.drop("is_canonical"),
        docs.select("doc_id", "n_chars"), "n_chars",
        n_members=stats.get("n_nodes_max"))


CONTAINMENT_PPM = 800_000


@register(
    "containment_doc_pairs",
    oracle="WITH " + _SHINGLES + f""",
    capped AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   COUNT(*) OVER (PARTITION BY shingle) AS df
            FROM shingle_sets)
        WHERE df <= {HOT_SHINGLE_CAP}),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM capped
        GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
    SELECT s.src_doc, s.dst_doc, s.n_shared, z.n AS n_src,
           CAST(s.n_shared * 1000000 // z.n AS BIGINT)
               AS containment_ppm
    FROM shared s JOIN sizes z ON z.doc_id = s.src_doc
    WHERE s.n_shared * 1000000 // z.n >= {CONTAINMENT_PPM}
    """,
    tags=("dedup-jaccard", "dedup-containment", "text"),
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs at >= 0.8
    (operators/dedup.py:containment_pairs): |S_src n S_dst| / |S_src|
    flags documents quoted or wrapped inside larger ones — the
    asymmetric near-dup case Jaccard's symmetric denominator dilutes
    away. One-sided rarest-first prefix filter on the contained side
    (zero recall loss), hot-shingle cap on both, integer-ppm
    threshold. The oracle verifies over the plain capped equi-join
    (the optimization claim is exactness, so the unoptimized twin is
    the proof)."""
    return dedup.containment_pairs(_docs(spark, sf_dir),
                                   CONTAINMENT_PPM,
                                   hot_shingle_cap=HOT_SHINGLE_CAP)


def _minhash_error_oracle() -> str:
    terms = " + ".join(
        f"(CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END)"
        for i in range(dedup.NUM_HASHES))
    return ("WITH " + _SHINGLES + _minhash_sql_body() + _bands_sql()
            + f""",
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    mt AS (
        SELECT c.doc_a, c.doc_b, CAST({terms} AS BIGINT) AS matches
        FROM cand c
        JOIN signatures s1 ON s1.doc_id = c.doc_a
        JOIN signatures s2 ON s2.doc_id = c.doc_b),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM shingle_sets GROUP BY doc_id),
    shared AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN shingle_sets x ON x.doc_id = c.doc_a
        JOIN shingle_sets y ON y.doc_id = c.doc_b
                           AND y.shingle = x.shingle
        GROUP BY 1, 2),
    p AS (
        SELECT m.doc_a, m.doc_b,
               CAST(m.matches * 1000000 // {dedup.NUM_HASHES}
                    AS BIGINT) AS est_jaccard_ppm,
               CAST(COALESCE(i.inter, 0) * 1000000
                    // (za.sz + zb.sz - COALESCE(i.inter, 0))
                    AS BIGINT) AS exact_jaccard_ppm
        FROM mt m
        LEFT JOIN shared i
          ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
        JOIN sizes za ON za.doc_id = m.doc_a
        JOIN sizes zb ON zb.doc_id = m.doc_b),
    e AS (
        SELECT doc_a, doc_b, est_jaccard_ppm, exact_jaccard_ppm,
               ABS(est_jaccard_ppm - exact_jaccard_ppm) AS abs_err_ppm
        FROM p)
    SELECT doc_a, doc_b, est_jaccard_ppm, exact_jaccard_ppm,
           abs_err_ppm,
           CAST(SUM(abs_err_ppm) OVER () // COUNT(*) OVER ()
                AS BIGINT) AS mae_ppm
    FROM e
    """)


@register(
    "minhash_jaccard_error_report",
    oracle=_minhash_error_oracle(),
    tags=("dedup-minhash", "dedup-minhash-lsh", "ml-eval"),
)
def q_minhash_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimation-error audit
    (operators/dedup.py:minhash_error_report): per LSH candidate
    pair, the signature-estimated Jaccard next to the exact shingle
    Jaccard with absolute error and corpus MAE — the dedup family's
    recall/accuracy eval layer, mirroring ann_recall_report. Makes
    the k=16 signature's accuracy a driver-checked fact."""
    return dedup.minhash_error_report(_docs(spark, sf_dir))


def _wjaccard_oracle() -> str:
    return ("WITH " + _SHINGLES + _minhash_sql_body() + _bands_sql()
            + """,
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM shingle_sets),
    dfq AS (SELECT shingle, COUNT(*) AS df
            FROM shingle_sets GROUP BY shingle),
    w AS (SELECT shingle,
                 CAST(FLOOR(LN(CAST(n_docs AS DOUBLE)
                               / CAST(df AS DOUBLE)) * 1000000.0
                            + 0.5) AS BIGINT) AS w
          FROM dfq, nd),
    tot AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS tw
            FROM shingle_sets JOIN w USING (shingle)
            GROUP BY doc_id),
    sh AS (
        SELECT c.doc_a, c.doc_b, CAST(SUM(w.w) AS BIGINT) AS shared_w
        FROM cand c
        JOIN shingle_sets x ON x.doc_id = c.doc_a
        JOIN shingle_sets y ON y.doc_id = c.doc_b
                           AND y.shingle = x.shingle
        JOIN w ON w.shingle = x.shingle
        GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b,
           COALESCE(s.shared_w, 0) AS shared_w,
           ta.tw AS total_w_a, tb.tw AS total_w_b,
           CAST(COALESCE(s.shared_w, 0) * 1000000
                // GREATEST(ta.tw + tb.tw - COALESCE(s.shared_w, 0),
                            1) AS BIGINT) AS wjaccard_ppm
    FROM cand c
    LEFT JOIN sh s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
    JOIN tot ta ON ta.doc_id = c.doc_a
    JOIN tot tb ON tb.doc_id = c.doc_b
    """)


@register(
    "idf_weighted_jaccard_pairs",
    oracle=_wjaccard_oracle(),
    tags=("dedup-jaccard", "dedup-minhash-lsh", "tfidf"),
)
def q_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard over the LSH candidate pairs
    (operators/dedup.py:idf_weighted_jaccard_pairs): shingles weigh
    ln(N/df) micro-nats, so boilerplate overlap (df near N) scores
    near zero while rare shared content scores high — the
    second-stage verifier production dedup stacks run behind the
    unweighted candidate generator."""
    return dedup.idf_weighted_jaccard_pairs(_docs(spark, sf_dir))


_PARA_LEN = 16


@register(
    "paragraph_dedup_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS t
        FROM documents),
    paras AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST((len(t) + {_PARA_LEN - 1})
                                 // {_PARA_LEN} AS INT)),
                   i -> array_to_string(
                       t[(i * {_PARA_LEN} + 1):
                         (i * {_PARA_LEN} + {_PARA_LEN})], ' ')))
                   AS para
        FROM toks WHERE len(t) > 0),
    freq AS (
        SELECT para, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM paras GROUP BY para)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(COUNT(DISTINCT p.para) AS BIGINT)
               AS n_distinct_paragraphs,
           CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paragraphs,
           CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM paras p JOIN freq f USING (para)
    GROUP BY p.doc_id
    """,
    tags=("dedup-exact", "text", "token-count"),
)
def q_paragraph_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-grain exact dedup
    (operators/dedup.py:paragraph_dedup_stats): fixed 16-token
    segments keyed by their exact string, counted corpus-wide; per
    doc the emitted/distinct/duplicated segment counts and the exact
    dup ratio — the sub-document boilerplate pass that runs BEFORE
    doc-level MinHash-LSH in production pipelines."""
    return dedup.paragraph_dedup_stats(_docs(spark, sf_dir),
                                       para_len=_PARA_LEN)


from event_streaming_service_spark.operators.curation import (  # noqa: E402
    split_assign, split_assign_sql)

_DOC_SPLIT_SQL = split_assign_sql("doc_id")


@register(
    "split_leakage_near_dup",
    oracle="WITH " + _JACCARD + _minhash_sql_body() + _bands_sql() + f""",
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_keys a JOIN band_keys b
          ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b
        FROM candidates c
        JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
        WHERE j.jaccard >= {JACCARD_THRESHOLD}
    ),
    sp AS (SELECT doc_id, {_DOC_SPLIT_SQL} AS split FROM documents),
    m AS (
        SELECT LEAST(sa.split, sb.split) AS split_lo,
               GREATEST(sa.split, sb.split) AS split_hi
        FROM verified v
        JOIN sp sa ON sa.doc_id = v.doc_a
        JOIN sp sb ON sb.doc_id = v.doc_b)
    SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM m GROUP BY split_lo, split_hi
    """,
    tags=("dedup-minhash-lsh", "ml-eval"),
)
def q_split_leakage_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate SPLIT-LEAKAGE audit — the contamination check a
    row-grain train/test split needs (a near-duplicate pair straddling
    train and test leaks the answer into evaluation; group-grain
    splits prevent it structurally, this measures what a row split
    actually leaks): the verified MinHash+LSH near-dup pairs
    (dedup.minhash_near_dups — banded candidates, exact Jaccard >=
    0.5) joined to each side's content-hash split assignment
    (curation.split_assign on doc_id), reported as the split-pair
    matrix. Off-diagonal rows (train/test, train/val, test/val) ARE
    the leak count. Pure composition of two driver-proven operators;
    scale shape inherits theirs (banded candidates only + a stateless
    split projection)."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import functions as F
    pairs = dedup.minhash_near_dups(docs, JACCARD_THRESHOLD)
    sp = docs.select("doc_id", split_assign(F.col("doc_id"))
                     .alias("split"))
    j = (pairs
         .join(sp.select(F.col("doc_id").alias("doc_a"),
                         F.col("split").alias("__sa")), "doc_a")
         .join(sp.select(F.col("doc_id").alias("doc_b"),
                         F.col("split").alias("__sb")), "doc_b"))
    return (j.select(F.least("__sa", "__sb").alias("split_lo"),
                     F.greatest("__sa", "__sb").alias("split_hi"))
            .groupBy("split_lo", "split_hi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
