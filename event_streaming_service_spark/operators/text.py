"""Text-analysis operators over the `documents` table (SURVEY.md
section 2.12 + the training-data-pipeline extension surface).

Everything is built-in column expressions (JVM-side, codegen'd):
tokenization is `split` + `explode`, fingerprints are md5, heuristics
are arithmetic over counted ratios. No Python in the hot path — at
100 TB these run as a single scan + one hash aggregate per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The handful of function-word stopwords that appear in fixtures and
# real English alike; language-ID below is a ratio heuristic over them.
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "it", "on", "for")


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


# GPT-2-style pre-tokenization split, restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookahead, leftmost-first alternation, ASCII classes. Contractions
# split off, letter runs / digit runs / punctuation runs become
# separate tokens, each carrying its leading space like the BPE vocabs
# trained from this family of patterns.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization: the regex-run split that byte-pair
    vocabularies are trained over — the right unit for token-count
    budgeting of LLM training data (whitespace tokens undercount
    punctuation-heavy text by 2-3x)."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), F.lit(0))


def fan_out(df: DataFrame, partitions: int | None = None,
            by: list[str] | None = None) -> DataFrame:
    """Repartition a narrow input BEFORE a row-multiplying op (explode,
    shingle, per-token hashing). Fixture files are single-row-group
    parquet, so without this the explode and its partial aggregate run
    on ONE core; the upfront shuffle of a few thousand narrow rows is
    noise, the 32x parallel explode is not. On a real multi-row-group
    table the scan already parallelizes and this becomes a cheap no-op
    rebalance (AQE coalesces it).

    Pass `by` to hash-partition on those columns instead of round-robin:
    downstream groupBys/windows whose keys INCLUDE these columns then
    reuse the exchange (HashPartitioning on a subset of the clustering
    keys satisfies the required distribution), turning a 4-shuffle
    pipeline into a 1-shuffle one."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if by:
        return df.repartition(n, *[F.col(c) for c in by])
    return df.repartition(n)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) from a MATERIALIZED token-array
    column. Always project `tokens(text)` into a column first — passing
    the tokens expression inline would copy the regex-split subtree into
    every lambda element and run it per-shingle instead of per-row
    (see operators/dedup.shingle_sets).

    Documents with fewer than n tokens yield an EMPTY array: without
    the guard, `sequence(1, 0)` counts DOWN in Spark ([1, 0]) and the
    lambda's element_at(0) throws — a sub-n-token document anywhere in
    a corpus would crash the whole job (dedup.shingle_sets pre-filters
    those docs away; setjoin and other callers must not have to)."""
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + k) for k in range(n)]),
            )
        )
    ).otherwise(F.array().cast("array<string>"))


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Token counting: total / distinct / mean token length per doc."""
    tok = fan_out(docs).select(
        id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
    return tok.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
        (F.sum(F.length("tok")) * 1.0 / F.count("*")).alias("avg_token_len"),
    )


def fingerprint_exact(text: Column) -> Column:
    """Whole-document fingerprint: md5 of the raw text."""
    return F.md5(text)


def fingerprint_token_set(text: Column) -> Column:
    """Order-insensitive fingerprint: md5 of the sorted distinct token
    set — catches reorderings/shuffles of the same content."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


# ---- PII / boilerplate scrubbing ----------------------------------
# Patterns restricted to constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs, ASCII
# classes only. Order matters: URLs are scrubbed BEFORE emails so a
# credentialed URL (user@host inside https://) is consumed whole by
# the URL pass rather than half-eaten by the email pass.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+[0-9][0-9 -]{6,14}[0-9]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
)


def scrub_pii(text: Column) -> Column:
    """Redact PII spans in order, each replaced by a typed tag
    (`<URL>`, `<EMAIL>`, ...). Pure chained regexp_replace — one
    codegen'd projection, no Python, no shuffle; the standard first
    pass of any web-corpus cleaning pipeline."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (the Gopher-family quality
    filters): duplicate 2-/3-gram fractions and the most-common-token
    share. Highly repetitive documents (boilerplate, keyword stuffing,
    generation loops) score high and get filtered before training.

    Shapes chosen for 100 TB: the n-gram ratios are per-row array
    arithmetic inside one codegen'd projection (no shuffle at all);
    the top-token share needs a per-(doc, token) count, which is an
    explode + two hash aggregates keyed on id — an in-array
    count-per-distinct-token would be O(len^2) per row on long
    documents, while the aggregate form is linear and spills.
    """
    toks = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"))
    t = F.col("__toks")

    def gram_cols(n: int) -> tuple[Column, Column]:
        total = F.greatest(F.size(t) - (n - 1), F.lit(0))
        # guard: sequence(1, 0) DESCENDS in Spark, so an unguarded
        # transform would hit element_at(t, 0) on docs shorter than n
        grams = F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(t, i + k)
                                             for k in range(n)]))
        ).otherwise(F.array().cast("array<string>"))
        distinct = F.size(F.array_distinct(grams))
        ratio = F.when(total > 0,
                       (total - distinct) / total).otherwise(F.lit(0.0))
        return total, ratio

    total2, dup2 = gram_cols(2)
    total3, dup3 = gram_cols(3)
    per_doc = toks.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.round(dup2, 6).alias("dup_2gram_ratio"),
        F.round(dup3, 6).alias("dup_3gram_ratio"),
        "__toks")
    top = (per_doc.select("doc_id", F.explode("__toks").alias("tok"))
           .groupBy("doc_id", "tok").agg(F.count("*").alias("__c"))
           .groupBy("doc_id").agg(F.max("__c").alias("__top")))
    return (per_doc.drop("__toks")
            .join(top, "doc_id", "left")
            .withColumn(
                "top_token_ratio",
                F.round(F.when(F.col("n_tokens") > 0,
                               F.col("__top") / F.col("n_tokens"))
                        .otherwise(F.lit(0.0)), 6))
            .drop("__top"))


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts BEFORE redaction (the scrub-rate stats a
    pipeline reports). regexp_extract_all with group 0 so Spark and
    SQL count the same full-match spans; counts are computed on the
    same pass order as scrub_pii (each kind counted on text already
    scrubbed of the kinds before it) so a span is attributed to
    exactly one kind."""
    counts = {}
    cur = text
    for name, pat in PII_PATTERNS:
        counts[f"n_{name}"] = F.size(
            F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, f"<{name.upper()}>")
    return counts


def bigram_pmi(docs: DataFrame, text_col: str = "text",
               min_count: int = 5, top_n: int = 50) -> DataFrame:
    """Collocation extraction: top-n adjacent-token bigrams by
    pointwise mutual information, PMI = ln(p(xy) / (p(x) p(y))) with
    p(xy) over the bigram total and p(x) over the token total —
    the standard collocation statistic (Church & Hanks 1990), the
    vocabulary-induction primitive a tokenizer-training pipeline runs
    over its corpus.

    Plan: ONE tokenization pass cached, feeding the unigram and bigram
    aggregates; both totals come from reaggregating the (small)
    count frames, not a second corpus scan; unigram counts join the
    bigram frame twice as broadcasts (post-agg vocab is tiny relative
    to the corpus — exactly the dimension-table shape). Top-n runs as
    TakeOrdered on the rounded PMI with a (w1, w2) tiebreak, so the
    boundary is deterministic cross-engine even when distinct PMIs
    collide at 9 dp.
    """
    toks = docs.select(tokens(F.col(text_col)).alias("__toks"))
    toks.cache()
    uni = (toks.select(F.explode("__toks").alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    # adjacent pairs: zip the array against itself shifted by one;
    # greatest(.., 0) keeps slice legal on 0/1-token docs
    bigrams = F.zip_with(
        F.expr("slice(__toks, 1, greatest(size(__toks) - 1, 0))"),
        F.expr("slice(__toks, 2, greatest(size(__toks) - 1, 0))"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    big = (toks.select(F.explode(bigrams).alias("bg"))
           .select("bg.w1", "bg.w2")
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")))
    n_tok = uni.agg(F.sum("c").alias("__n_tok"))
    n_big = big.agg(F.sum("c_xy").alias("__n_big"))
    scored = (big
              .where(F.col("c_xy") >= min_count)
              .join(F.broadcast(uni.withColumnRenamed("tok", "w1")
                                .withColumnRenamed("c", "c_x")), "w1")
              .join(F.broadcast(uni.withColumnRenamed("tok", "w2")
                                .withColumnRenamed("c", "c_y")), "w2")
              .join(F.broadcast(n_tok))
              .join(F.broadcast(n_big))
              .withColumn(
                  "pmi",
                  F.round(F.log(
                      (F.col("c_xy").cast("double")
                       * F.col("__n_tok") * F.col("__n_tok"))
                      / (F.col("__n_big").cast("double")
                         * F.col("c_x") * F.col("c_y"))), 9)))
    return (scored
            .select("w1", "w2", F.col("c_xy").alias("pair_count"), "pmi")
            .orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(top_n))


def inverted_index(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_df: int = 2,
                   postings_cap: int = 20) -> DataFrame:
    """Inverted-index construction: term -> (document frequency, total
    term frequency, the first `postings_cap` posting doc ids in id
    order) — the batch indexing job behind corpus search/retrieval
    pipelines, and the missing sibling of tf-idf (which consumes these
    statistics; this op MATERIALIZES the index).

    `min_df` drops hapax/noise terms; the postings list is capped (in
    deterministic doc-id order) so a stopword's posting row cannot
    become a multi-GB array — df/cf remain EXACT over all documents,
    only the materialized id list truncates, which is how production
    indexes handle their tails (skip lists / block-max continuations).

    Plan shape for 100 TB: explode to (term, doc) -> hash aggregate at
    that grain (tf per doc-term, map-side combine absorbs within-doc
    repeats) -> ONE shuffle on the term for a rank window that marks
    the first `postings_cap` doc ids, then the per-term aggregate
    collects ONLY marked rows — so the collected state is bounded by
    the cap, never by a stopword's df (collect-then-slice would buffer
    the full billion-entry posting list before truncating). The hot
    term's rank is a co-located sort that spills; its memory is
    bounded. Postings render as a comma-joined string so the surface
    is engine-portable.
    """
    tok = (docs
           .select(F.col(id_col),
                   F.explode(tokens(F.col(text_col))).alias("term"))
           .groupBy("term", id_col)
           .agg(F.count(F.lit(1)).alias("__tf")))
    rk = F.row_number().over(
        Window.partitionBy("term").orderBy(id_col))
    return (tok
            .withColumn("__rk", rk)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("__tf").alias("cf"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("__rk") <= postings_cap,
                                    F.col(id_col)))),
                         lambda x: x.cast("string")),
                     ",").alias("postings"))
            .where(F.col("df") >= min_df))


def token_entropy(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    information-density quality signal (near-zero for degenerate
    repeated-token docs, ~ln(vocab) for flat ones).

    Cross-engine exactness: H = ln(n) - (1/n)·Σ c·ln(c) would sum
    FLOATS across rows (fold-order dependent), so each ln(c) is first
    pinned to integer nano-units (floor(ln(c)·1e9 + 0.5)) and the sum
    runs as exact bigints; the final expression is the same fixed
    two-float-op sequence in both engines, rounded at 6 dp.

    One shuffle to (doc, token) grain, one to doc grain — both with
    map-side combine."""
    tok = fan_out(docs).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    q = F.floor(F.log(F.col("c").cast("double")) * 1e9 + F.lit(0.5)) \
        .cast("long")
    per = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum(F.col("c") * q).alias("__s"))
    ent = F.round(
        F.log(F.col("n_tokens").cast("double"))
        - (F.col("__s").cast("double") / F.lit(1.0e9))
        / F.col("n_tokens").cast("double"), 6)
    return per.select(id_col, "n_tokens", "n_distinct_tokens",
                      ent.alias("entropy"))


def unigram_lm_scores(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Corpus unigram language-model scoring: train P(tok) over the
    whole corpus, then score every document by its total token
    log-likelihood — the cheapest perplexity proxy LLM pipelines rank
    training documents with.

    Per-token log-probs pin to integer micro-nats (floor(·1e6 + 0.5),
    exact toward -inf for the negative values) so per-doc totals are
    exact bigint sums; the avg uses truncating integer division
    (Spark DIV and DuckDB // agree on negatives — both truncate
    toward zero).

    Plan: one vocabulary aggregate (map-side combined), the 1-row
    total crossed in broadcast, one equi-join token->logprob (the LM
    is vocabulary-grain — broadcastable whenever the vocab is
    bounded), one doc-grain aggregate."""
    tok = fan_out(docs).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n_total"))
    lp = F.floor(
        (F.log(F.col("c").cast("double"))
         - F.log(F.col("n_total").cast("double"))) * 1e6
        + F.lit(0.5)).cast("long")
    lm = vocab.crossJoin(F.broadcast(tot)).select("tok", lp.alias("lp"))
    return (tok.join(lm, "tok")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("lp").alias("total_logprob_micro"))
            .withColumn(
                "avg_logprob_micro",
                F.expr("total_logprob_micro DIV n_tokens")))


def bm25_scores(docs: DataFrame, terms: tuple[str, ...],
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) relevance of every document to a
    fixed query-term set — the retrieval scorer behind search-based
    curation. Only documents containing at least one query term score
    (inner semantics, same in the oracle).

    Exactness: tf/df/dl/N are exact integers; each per-term score runs
    the IDENTICAL literal-constant float sequence in both engines
    (ln((N-df+0.5)/(df+0.5) + 1) · tf·2.2 / (tf + 1.2·(0.25 +
    (0.75·dl)/avgdl))), pins to integer micro-units, and the per-doc
    total sums those exactly — no cross-row float fold anywhere.

    Plan: doc-length and vocabulary aggregates reuse the token
    explode; the query-term side is a literal IN filter, so the tf
    aggregate only touches matching tokens."""
    # persisted: dl, the corpus stats, and the term-filtered tf all
    # read this explode — uncached each consumer re-tokenizes the
    # corpus (measured 1.85 s -> ~0.9 s at sf0.1)
    tok = fan_out(docs).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")) \
        .persist()
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_dl"))
    tf = (tok.where(F.col("tok").isin(list(terms)))
          .groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = (tf.join(F.broadcast(df_), "tok")
         .join(dl, id_col)
         .crossJoin(F.broadcast(stats)))
    n_d = F.col("n_docs").cast("double")
    avgdl = F.col("total_dl").cast("double") / n_d
    idf = F.log(
        (n_d - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5)) + F.lit(1.0))
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(1.2) * (
        F.lit(0.25) + (F.lit(0.75) * F.col("dl").cast("double")) / avgdl)
    micro = F.floor(idf * ((tfd * F.lit(2.2)) / denom) * 1e6
                    + F.lit(0.5)).cast("long")
    return (j.select(F.col(id_col), micro.alias("__m"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_terms_hit"),
                 F.sum("__m").alias("bm25_micro")))


def ngram_novelty(docs: DataFrame, n: int = 5,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document novelty: the fraction of its distinct word
    n-grams that NO earlier document (smaller id — ingestion order)
    already contains. The streaming-dedup complement: boilerplate-
    heavy late documents score near zero, genuinely new content near
    1e6 ppm. Documents shorter than n tokens emit no row.

    One shuffle on the n-gram (the min-doc window), one to doc grain;
    the ratio is exact integer ppm (truncating division, identical in
    both engines for the nonnegative operands)."""
    toked = fan_out(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    s = (toked.filter(F.size("__toks") >= n)
         .select(F.col(id_col),
                 F.explode(shingles_from_tokens(F.col("__toks"), n))
                 .alias("shingle")))
    first = F.min(id_col).over(Window.partitionBy("shingle"))
    flagged = s.select(
        F.col(id_col),
        (first < F.col(id_col)).cast("long").alias("__seen"))
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum("__seen").alias("n_seen_before"))
            .withColumn(
                "novelty_ppm",
                F.expr("(n_shingles - n_seen_before) * 1000000"
                       " DIV n_shingles")))


def doc_chunks(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", size: int = 64,
               stride: int = 48) -> DataFrame:
    """RAG-style overlapping chunking: split each document into
    token windows of `size` tokens advancing by `stride` (overlap =
    size - stride). Chunk count is 1 for docs at or under `size`
    tokens, else ceil((n - size) / stride) + 1 — the last window may
    be short, never empty, and every token lands in at least one
    chunk. Emits (doc, chunk_id, start_tok, n_tokens, chunk_md5);
    the md5 is over the space-rejoined window so the full slice
    content is hash-pinned without shipping the text twice.

    Plan shape for 100 TB: tokenize + window arithmetic + explode are
    all per-row column expressions — a pure projection with NO
    shuffle; chunking parallelism is the scan's. The explode fans out
    ~n/stride rows per doc with only (id, ints, md5) payload."""
    n = F.size(F.col("__toks"))
    n_chunks = F.when(
        n <= size, F.lit(1)
    ).otherwise(
        (n - size + stride - 1).cast("bigint") / stride + 1
    ).cast("int")
    sliced = F.slice(F.col("__toks"),
                     F.col("chunk_id") * stride + 1, size)
    return (docs
            .withColumn("__toks", tokens(F.col(text_col)))
            .withColumn("chunk_id",
                        F.explode(F.sequence(F.lit(0), n_chunks - 1)))
            .select(F.col(id_col),
                    F.col("chunk_id").cast("bigint").alias("chunk_id"),
                    (F.col("chunk_id") * stride + 1).cast("bigint")
                    .alias("start_tok"),
                    F.size(sliced).cast("bigint").alias("n_tokens"),
                    F.md5(F.array_join(sliced, " ")).alias("chunk_md5")))


RAKE_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in",
                  "is", "are", "was", "for", "on", "with", "as",
                  "by", "at", "it", "this", "that")


def rake_keyphrases(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
                    min_len: int = 2, max_len: int = 4,
                    top_n: int = 20) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010), integer-exact:
    candidate phrases are maximal runs of non-stopword tokens
    (punctuation and stopwords both delimit); each word scores
    deg(w)/freq(w) where freq counts occurrences and deg sums the
    lengths of the phrase instances containing it; a phrase scores
    the sum of its member words. Scores are pinned per WORD to
    integer milli-units (deg * 1000 DIV freq) before the phrase sum,
    so both engines agree bit-for-bit (the repo's pin-before-sum
    rule). Top_n phrases of min_len..max_len words by
    (score, occurrence count, phrase) total order.

    Regex discipline: lowercase first, kill non-[a-z0-9 ] to the
    delimiter, then a \\b-anchored stopword alternation — all
    constructs with identical semantics in Java regex and RE2
    (DuckDB needs the 'g' flag; Spark replaces globally by default).

    Plan shape for 100 TB: two corpus passes (word stats, phrase
    scoring) over the exploded phrase grain, one broadcast join of
    the word-score table (vocabulary-sized), TakeOrdered for the
    top_n — no window over the corpus."""
    stop_re = r"\b(" + "|".join(stopwords) + r")\b"
    cleaned = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "#"),
        stop_re, "#")
    phrases = (fan_out(docs)
               .select(F.col(id_col),
                       F.explode(F.split(cleaned, "#")).alias("__p"))
               .select(F.col(id_col),
                       F.filter(F.split(F.trim(F.col("__p")), " +"),
                                lambda t: t != "").alias("toks"))
               .filter(F.size("toks") >= 1)
               .persist())
    words = phrases.select(
        F.size("toks").alias("plen"),
        F.explode("toks").alias("w"))
    wstats = (words.groupBy("w")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("plen").alias("deg"))
              .withColumn("wscore_milli",
                          F.expr("CAST(deg * 1000 DIV freq"
                                 " AS BIGINT)")))
    cand = (phrases
            .filter((F.size("toks") >= min_len)
                    & (F.size("toks") <= max_len))
            .select(F.array_join("toks", " ").alias("phrase"),
                    F.explode("toks").alias("w")))
    scored = (cand.join(F.broadcast(wstats.select("w", "wscore_milli")),
                        "w")
              .groupBy("phrase")
              .agg(F.sum("wscore_milli").alias("__inst_sum"),
                   F.count(F.lit(1)).alias("__words_total")))
    # __inst_sum summed over ALL instances of the phrase; per-instance
    # score = __inst_sum / n_occurrences; keep integers: occurrences =
    # __words_total / words_in_phrase. Derive words_in_phrase from the
    # phrase string itself (split size) — exact.
    occurrences = F.expr("CAST(__words_total DIV "
                         "size(split(phrase, ' ')) AS BIGINT)")
    score = F.expr("CAST(__inst_sum DIV (__words_total DIV "
                   "size(split(phrase, ' '))) AS BIGINT)")
    out = (scored
           .select("phrase",
                   occurrences.alias("n_occurrences"),
                   score.alias("score_milli"))
           .orderBy(F.col("score_milli").desc(),
                    F.col("n_occurrences").desc(), F.col("phrase"))
           .limit(top_n))
    return out


def _suffix_automaton_lrs(seq: list[int], cap: int) -> tuple[int, int]:
    """Longest repeated contiguous subsequence via a suffix automaton
    (Blumer et al. 1985 construction, O(T) states/transitions): the
    automaton's states are the equivalence classes of substring end-
    position sets, a substring repeats iff its class has >= 2 end
    positions, and each class covers exactly one substring of each
    length in (link.len, len]. Returns (L, n_max):
      L     = min(cap, longest length with a repeat), 0 if none
      n_max = number of DISTINCT length-L subsequences that repeat.
    With the cap binding, every length-cap prefix of a longer repeat
    also repeats, so L == cap and n_max counts the distinct capped
    grams — the same answer a length-capped brute force gives."""
    sa_len = [0]
    sa_link = [-1]
    trans: list[dict[int, int]] = [{}]
    cnt = [0]
    last = 0
    for ch in seq:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        trans.append({})
        cnt.append(1)
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = trans[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                trans.append(dict(trans[q]))
                cnt.append(0)
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    # endpos sizes: push each state's count into its suffix link, in
    # decreasing-len order (a state's link always has smaller len)
    for s in sorted(range(1, len(sa_len)), key=lambda i: -sa_len[i]):
        if sa_link[s] > 0:
            cnt[sa_link[s]] += cnt[s]
    lrs = 0
    for s in range(1, len(sa_len)):
        if cnt[s] >= 2 and sa_len[s] > lrs:
            lrs = sa_len[s]
    lrs = min(lrs, cap)
    if lrs == 0:
        return 0, 0
    n_max = sum(1 for s in range(1, len(sa_len))
                if cnt[s] >= 2
                and sa_len[s] >= lrs > sa_len[sa_link[s]])
    return lrs, n_max


def lrs_stats(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", cap: int = 24) -> DataFrame:
    """Per-document longest repeated token n-gram (extends
    repetition_stats' fixed 2-/3-gram fractions to the UNBOUNDED
    repeat length — the signal behind "remove documents with a >N-gram
    internal repeat" training-data quality rules, and the natural
    companion of the cross-document substring_dup_stats).

    Returns (doc_id, n_tokens, lrs_len, n_max_grams): the longest n
    (capped at `cap`) such that some n-token window occurs at >= 2
    start positions (overlaps count), and how many distinct windows of
    that length repeat. Zero-filled when all tokens are distinct.

    Scale shape: one suffix-automaton kernel per document inside an
    Arrow-batched mapInPandas — O(tokens) states per doc versus the
    O(tokens * cap^2) gram materialization a join-based approach
    shuffles, and nothing but the 4-int result row leaves Python. The
    document is the unit of parallel work (fan_out first: fixture
    files are single-row-group). `cap` bounds the answer, not the
    cost — the automaton is linear regardless; it exists so the SQL
    oracle's brute force has a finite gram domain."""
    toked = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"))

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["__toks"]):
                ids: dict[str, int] = {}
                seq = [ids.setdefault(t, len(ids)) for t in toks]
                lrs, n_max = _suffix_automaton_lrs(seq, cap)
                out.append((int(doc_id), len(seq), lrs, n_max))
            yield pd.DataFrame(out, columns=[
                "doc_id", "n_tokens", "lrs_len", "n_max_grams"])

    return toked.mapInPandas(
        batches,
        "doc_id bigint, n_tokens int, lrs_len int, n_max_grams int")


def _aho_corasick(patterns: list[str]):
    """Build an Aho-Corasick automaton (goto trie + BFS failure links
    + merged output lists — Aho & Corasick, CACM 1975). Returns
    (goto: list[dict[ch, state]], outputs: list[list[pattern_idx]])
    with state 0 the root. One pass over a text then reports EVERY
    occurrence of every pattern (overlaps included)."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for pi, p in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                nxt = len(goto)
                goto[s][ch] = nxt
                goto.append({})
                out.append([])
            s = nxt
        out[s].append(pi)
    # failure links by BFS; merge output lists along failures
    from collections import deque

    fail = [0] * len(goto)
    dq = deque(goto[0].values())
    while dq:
        s = dq.popleft()
        for ch, t in goto[s].items():
            dq.append(t)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t] = goto[f][ch] if ch in goto[f] and goto[f][ch] != t \
                else 0
            out[t] = out[t] + out[fail[t]]
    return goto, fail, out


def multi_pattern_scan(docs: DataFrame, patterns: tuple[str, ...],
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Blocklist / banned-phrase scan — the multi-pattern substring
    filter every training-data pipeline runs before a corpus ships:
    ONE Aho-Corasick pass per document reports every occurrence of
    every pattern in O(chars + matches), versus the len(patterns)
    separate scans a contains()-per-pattern plan pays (and a regex
    alternation compiles to a backtracking NFA with no such bound).

    Returns per doc: n_matches (total occurrences over all patterns,
    overlaps counted), n_patterns (distinct patterns present),
    first_pos (1-based position of the earliest match start, 0 if
    clean). The SQL oracle counts occurrences with the length-delta
    replace() device, which counts NON-overlapping occurrences — so
    callers wanting oracle parity must pass border-free patterns (no
    proper prefix that is also a suffix), where the two counts agree;
    the automaton itself is exact either way.

    Scale shape: the automaton builds once on the driver (pattern
    list sized) and rides the closure into an Arrow-batched
    mapInPandas; each doc is one linear kernel scan and only the
    3-int row leaves Python."""
    goto, fail, out = _aho_corasick(list(patterns))
    plens = [len(p) for p in patterns]

    toked = fan_out(docs).select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("__t"))

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, txt in zip(pdf["doc_id"], pdf["__t"]):
                s = 0
                n_matches = 0
                seen: set[int] = set()
                first = 0
                for i, ch in enumerate(txt or ""):
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0)
                    if out[s]:
                        n_matches += len(out[s])
                        for pi in out[s]:
                            seen.add(pi)
                            start = i - plens[pi] + 2  # 1-based
                            if first == 0 or start < first:
                                first = start
                yield_row = (int(doc_id), n_matches, len(seen), first)
                rows.append(yield_row)
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_matches", "n_patterns", "first_pos"])

    return toked.mapInPandas(
        batches,
        "doc_id bigint, n_matches bigint, n_patterns int, first_pos int")


# ---- n-gram language-ID classifier ---------------------------------


def langid_ngram_confusion(docs: DataFrame, id_col: str = "doc_id",
                           lang_col: str = "lang",
                           text_col: str = "text",
                           top_k: int = 200) -> DataFrame:
    """Character-trigram language identifier evaluated against the
    corpus's own labels (Cavnar & Trenkle 1994, "N-Gram-Based Text
    Categorization", reduced to the set-overlap rank): learn a
    top-`top_k` trigram profile per language from the labeled corpus
    (count desc, gram asc — the tiebreak is part of the contract),
    classify every document by which profile shares the most DISTINCT
    trigrams with it (ties broken by language asc), and report the
    confusion matrix (true_lang, pred_lang, n_docs). Documents shorter
    than 3 chars are excluded; a document overlapping no profile
    predicts 'unknown'.

    Scale shape: the trigram explode runs once (fan_out for the
    single-row-group fixture scan); profiles are langs x top_k rows —
    a broadcast against the distinct doc-gram grain; the per-doc
    argmax is one row_number window on the doc key; the matrix is a
    languages^2-bounded aggregate. No Python anywhere."""
    base = (docs.where(F.length(F.col(text_col)) >= 3)
            .select(F.col(id_col), F.col(lang_col).alias("__lang"),
                    F.lower(F.col(text_col)).alias("__t")))
    grams = (fan_out(base)
             .select(id_col, "__lang",
                     F.explode(F.expr(
                         "transform(sequence(1, char_length(__t) - 2),"
                         " i -> substr(__t, i, 3))")).alias("g"))
             .persist())  # feeds the profile AND the doc-gram grain
    prof_cnt = grams.groupBy("__lang", "g").agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("__lang").orderBy(F.col("c").desc(), "g")
    profile = (prof_cnt.withColumn("__r", F.row_number().over(w))
               .where(F.col("__r") <= top_k)
               .select(F.col("__lang").alias("plang"), "g"))
    dg = grams.select(id_col, "g").distinct()
    scores = (dg.join(F.broadcast(profile), "g")
              .groupBy(id_col, "plang")
              .agg(F.count(F.lit(1)).alias("m")))
    wd = Window.partitionBy(id_col).orderBy(F.col("m").desc(), "plang")
    pred = (scores.withColumn("__r", F.row_number().over(wd))
            .where(F.col("__r") == 1)
            .select(id_col, "plang"))
    return (base.select(id_col, "__lang")
            .join(pred, id_col, "left")
            .groupBy(F.col("__lang").alias("true_lang"),
                     F.coalesce(F.col("plang"), F.lit("unknown"))
                     .alias("pred_lang"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


def kn_bigram_lm_scores(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram language-model scoring (Kneser &
    Ney 1995; Chen & Goodman 1999's interpolated form) — the real LM
    quality score unigram_lm_scores only proxies: documents rank by
    their average bigram log-likelihood under

        P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1)
                   + D * N1+(w1 .) / c(w1) * N1+(. w2) / N1+(. .)

    with absolute discount D = 0.75 (exactly representable in binary,
    so the float sequence is engine-portable). The continuation
    probability N1+(. w2)/N1+(. .) is KN's signature: a word's
    probability mass after unseen histories is how many DISTINCT
    contexts it follows, not how often it occurs ("San Francisco"
    makes "Francisco" frequent but not free-standing). Scoring the
    training corpus itself, every bigram has c >= 1, so the discounted
    term is positive and no zero-log guard is needed.

    Exactness: all counts are exact integers; each distinct bigram's
    log-prob is ONE literal float sequence (spelled identically in the
    SQL oracle) pinned to integer micro-nats (floor toward -inf, both
    engines), and per-doc totals are exact integer dot products of
    pinned log-probs with integer multiplicities — the pin-before-sum
    rule, so no cross-row float fold exists.

    Scale shape: one tokenize pass to the (doc, w1, w2) grain,
    persisted (it feeds the corpus LM aggregate AND the per-doc
    multiplicity aggregate; the harness reclaims the pin per query).
    The LM is bigram-TYPE grain: one hash agg to types, two
    vocabulary-grain joins (history stats on w1, continuation counts
    on w2) and a broadcast 1-row type total, then one equi-join back
    to the per-doc grain on (w1, w2) — co-partitioned with the grain
    it joins, no skew surface beyond a bigram type's doc fan-out.
    Documents with < 2 tokens have no bigram and are absent (inner
    semantics, same in the oracle)."""
    toks = fan_out(docs).select(F.col(id_col),
                                tokens(F.col(text_col)).alias("__t"))
    t = F.col("__t")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(F.element_at(t, i).alias("w1"),
                           F.element_at(t, i + 1).alias("w2")))
    db = (toks.where(F.size(t) >= 2)
          .select(F.col(id_col), F.explode(bigrams).alias("b"))
          .select(F.col(id_col), F.col("b.w1").alias("w1"),
                  F.col("b.w2").alias("w2"))
          .persist())

    # the bigram-TYPE grain has four consumers, but each re-aggregates
    # from the PINNED db explode — measured at sf0.1, adding a second
    # persist here costs more than the re-agg saves (2.8 s vs 2.0 s:
    # cache materialization blocks pipelining on a cheap hash agg);
    # the corpus-grain pin above is the one that matters at scale
    cb = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ch = cb.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"),
                              F.count(F.lit(1)).alias("n1p_fwd"))
    cont = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_back"))
    tot = cb.agg(F.count(F.lit(1)).alias("nbt"))
    lp = F.expr(
        "CAST(FLOOR(LN((CAST(c12 AS DOUBLE) - 0.75)"
        " / CAST(c1 AS DOUBLE)"
        " + 0.75 * CAST(n1p_fwd AS DOUBLE) / CAST(c1 AS DOUBLE)"
        " * (CAST(n1p_back AS DOUBLE) / CAST(nbt AS DOUBLE)))"
        " * 1000000.0 + 0.5) AS BIGINT)")
    lm = (cb.join(ch, "w1").join(cont, "w2")
          .crossJoin(F.broadcast(tot))
          .select("w1", "w2", lp.alias("lp")))

    dbc = db.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("n"))
    return (dbc.join(lm, ["w1", "w2"])
            .groupBy(id_col)
            .agg(F.sum("n").cast("bigint").alias("n_bigrams"),
                 F.sum(F.col("n") * F.col("lp")).cast("bigint")
                 .alias("total_logprob_micro"))
            .withColumn("avg_logprob_micro",
                        F.expr("total_logprob_micro DIV n_bigrams")))


def lm_quality_filter(docs: DataFrame, domain_flag: Column,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """CCNet-style perplexity-ratio quality scoring (Wenzek et al.
    2020): score every document by the gap between its likelihood
    under an IN-DOMAIN unigram LM (trained on the rows where
    `domain_flag` is true) and under the GENERAL corpus LM. Documents
    that look more like the target domain than like the average of
    the crawl rank high — the canonical cheap filter for assembling
    a domain mixture from a heterogeneous corpus.

    Both LMs are Laplace-smoothed over the SHARED corpus vocabulary,
        P(t | M) = (c_M(t) + 1) / (N_M + V),
    so out-of-domain tokens are defined under the domain model and
    the two averages are on the same support — the delta is a real
    log-likelihood-ratio statistic, not an artifact of differing
    smoothing masses.

    Exactness: per-token log-probs pin to integer micro-nats (one
    literal float sequence per distinct token, spelled identically in
    the oracle), per-doc totals are exact integer sums, averages are
    truncating DIV — the unigram_lm_scores discipline, applied twice.

    Scale shape: ONE tokenize pass persisted (it feeds the
    vocabulary aggregate and the per-doc aggregate; the harness
    reclaims the pin per query); the LM is vocabulary-grain with both
    models' counts in the same row (one join back, not two); the
    domain totals ride a broadcast 1-row frame. Output: one row per
    document with >= 1 token (inner semantics, same in the oracle):
    n_tokens, avg_domain_lp_micro, avg_general_lp_micro, delta_micro
    (= domain - general; higher = more in-domain)."""
    tok = (fan_out(docs)
           .select(F.col(id_col),
                   domain_flag.cast("int").alias("__dom"),
                   F.explode(tokens(F.col(text_col))).alias("tok"))
           .persist())
    vocab = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum("__dom").cast("bigint").alias("c_dom"))
    tot = vocab.agg(F.sum("c_all").cast("bigint").alias("n_all"),
                    F.sum("c_dom").cast("bigint").alias("n_dom"),
                    F.count(F.lit(1)).cast("bigint").alias("v"))
    lp_dom = F.expr(
        "CAST(FLOOR((LN(CAST(c_dom AS DOUBLE) + 1.0)"
        " - LN(CAST(n_dom AS DOUBLE) + CAST(v AS DOUBLE)))"
        " * 1000000.0 + 0.5) AS BIGINT)")
    lp_all = F.expr(
        "CAST(FLOOR((LN(CAST(c_all AS DOUBLE) + 1.0)"
        " - LN(CAST(n_all AS DOUBLE) + CAST(v AS DOUBLE)))"
        " * 1000000.0 + 0.5) AS BIGINT)")
    lm = (vocab.crossJoin(F.broadcast(tot))
          .select("tok", lp_dom.alias("lp_dom"),
                  lp_all.alias("lp_all")))
    return (tok.join(lm, "tok")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum("lp_dom").cast("bigint").alias("__td"),
                 F.sum("lp_all").cast("bigint").alias("__tg"))
            .withColumn("avg_domain_lp_micro",
                        F.expr("__td DIV n_tokens"))
            .withColumn("avg_general_lp_micro",
                        F.expr("__tg DIV n_tokens"))
            .withColumn("delta_micro",
                        F.col("avg_domain_lp_micro")
                        - F.col("avg_general_lp_micro"))
            .select(id_col, "n_tokens", "avg_domain_lp_micro",
                    "avg_general_lp_micro", "delta_micro"))


def dirichlet_ql_scores(docs: DataFrame, terms: tuple[str, ...],
                        mu: int = 2000, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) — the other classic lexical ranker next to BM25, and the one
    with the cleaner probabilistic story: score(d, q) =
        sum_t  ln( (tf_t + mu * cf_t / N) / (dl + mu) )
    where cf_t/N is the background collection model and mu (=2000, the
    published sweet spot) the Dirichlet prior mass. Unlike BM25's
    inner join, EVERY document scores against EVERY query term —
    absent terms contribute the background probability, which is what
    makes scores comparable across documents — so the per-doc grain
    is dl x |terms| with tf defaulting to 0. Query terms absent from
    the whole corpus (cf = 0) have no defined background and are
    dropped in both engines.

    Exactness: tf/cf/dl/N exact integers; each (doc, term) score is
    ONE literal float sequence pinned to integer micro-nats, per-doc
    totals exact sums (the bm25_scores discipline).

    Scale shape: one tokenize pass persisted (dl, the corpus total,
    cf, and tf all read it; harness reclaims per query); cf is a
    <= |terms|-row broadcast crossed against the doc-length frame; tf
    arrives by left join on (doc, term). Documents with zero tokens
    are absent (no dl row)."""
    tok = (fan_out(docs)
           .select(F.col(id_col),
                   F.explode(tokens(F.col(text_col))).alias("tok"))
           .persist())
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    nt = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    in_terms = F.col("tok").isin(list(terms))
    cf = (tok.where(in_terms).groupBy("tok")
          .agg(F.count(F.lit(1)).alias("cf")))
    tf = (tok.where(in_terms).groupBy(id_col, "tok")
          .agg(F.count(F.lit(1)).alias("tf")))
    base = (dl.crossJoin(F.broadcast(cf))
            .crossJoin(F.broadcast(nt))
            .join(tf, [id_col, "tok"], "left")
            .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0))))
    micro = F.expr(
        f"CAST(FLOOR(LN((CAST(tf AS DOUBLE)"
        f" + {float(mu)} * CAST(cf AS DOUBLE)"
        f" / CAST(n_total AS DOUBLE))"
        f" / (CAST(dl AS DOUBLE) + {float(mu)}))"
        f" * 1000000.0 + 0.5) AS BIGINT)")
    return (base.select(F.col(id_col), F.col("tf"),
                        micro.alias("__m"))
            .groupBy(id_col)
            .agg(F.sum(F.when(F.col("tf") > 0, 1).otherwise(0))
                 .cast("bigint").alias("n_terms_hit"),
                 F.sum("__m").cast("bigint").alias("ql_micro")))


def vocab_growth_estimates(docs: DataFrame, group_col: str = "lang",
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Vocabulary-growth / coverage estimators per corpus slice — the
    two classic unseen-species statistics a tokenizer or crawl
    pipeline reads before deciding whether more data will still grow
    the vocabulary:

      * Chao1 richness (Chao 1984, bias-corrected):
            V_est = V + f1*(f1-1) / (2*(f2+1))
        — a lower bound on the TRUE vocabulary size from the counts
        of once-seen (f1) and twice-seen (f2) types;
      * Good-Turing unseen mass: p0 = f1 / N — the probability the
        next token is a NEW type (the discount mass every smoothing
        scheme redistributes).

    Both are exact integer arithmetic here: chao1_x1000 keeps three
    decimals via truncating DIV (the +1 in the denominator is the
    standard bias correction and doubles as the division guard);
    unseen_mass_ppm is integer ppm.

    Scale shape: one tokenize pass to the (group, token) count grain
    (hash agg, map-side combined), one aggregate to group grain.
    Nothing else moves; no joins. Groups with zero tokens are
    absent."""
    tok = fan_out(docs).select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("tok"))
    tc = tok.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (tc.groupBy("grp")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("bigint").alias("f1"),
                 F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
                 .cast("bigint").alias("f2"))
            .withColumn("chao1_x1000", F.expr(
                "vocab_size * 1000"
                " + f1 * (f1 - 1) * 1000 DIV (2 * (f2 + 1))"))
            .withColumn("unseen_mass_ppm",
                        F.expr("f1 * 1000000 DIV n_tokens"))
            .select(F.col("grp").alias(group_col), "n_tokens",
                    "vocab_size", "f1", "f2", "chao1_x1000",
                    "unseen_mass_ppm"))


def readability_scores(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document — the classic curation signal
    for audience-level filtering (crawled legalese vs conversational
    text), computed from three exact integer counts:

        sentences  = segments split on [.!?]+ containing a letter
        words      = whitespace tokens
        syllables  = vowel RUNS per word ([aeiouyAEIOUY]+ matches),
                     min 1 per word with any letter — the standard
                     cheap approximation

    flesch_milli = floor((206.835 - 1.015 * words/sentences
                          - 84.6 * syllables/words) * 1000 + 0.5)
    with the division operands exact integers and the whole float
    sequence ONE shared spelling; docs with zero words or zero
    sentences are absent (both ratios undefined).

    Scale shape: pure per-row projection + regexp counts — no
    shuffle at all before the (optional) consumer's aggregate."""
    t = F.col(text_col)
    n_words = F.size(tokens(t))
    n_sent = F.size(F.filter(
        F.split(t, r"[.!?]+"),
        lambda s: s.rlike("[A-Za-z]")))
    # syllable runs per word, floor 1 per letter-bearing word
    syl = F.aggregate(
        tokens(t),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouyAEIOUY]+"),
                                        F.lit(0))),
            F.when(w.rlike("[A-Za-z]"), F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint"))
    out = (fan_out(docs)
           .select(F.col(id_col),
                   n_words.cast("bigint").alias("n_words"),
                   n_sent.cast("bigint").alias("n_sentences"),
                   syl.alias("n_syllables"))
           .where((F.col("n_words") > 0) & (F.col("n_sentences") > 0)))
    flesch = F.expr(
        "CAST(FLOOR((206.835"
        " - 1.015 * (CAST(n_words AS DOUBLE)"
        " / CAST(n_sentences AS DOUBLE))"
        " - 84.6 * (CAST(n_syllables AS DOUBLE)"
        " / CAST(n_words AS DOUBLE))) * 1000.0 + 0.5) AS BIGINT)")
    return out.withColumn("flesch_milli", flesch)


def skipgram_pairs(docs: DataFrame, window: int = 2, top_n: int = 50,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Skip-gram training-pair extraction (word2vec's data-prep step,
    Mikolov et al. 2013): corpus-wide (center, context) counts for
    every position pair within `window` tokens, both directions —
    the co-occurrence grain embedding trainers, PMI collocation
    scoring, and distributional-similarity pipelines all start from.
    Top-n by (count desc, center, context) with the deterministic
    tiebreak, as TakeOrdered.

    Scale shape: pair generation is a pure per-row array expression
    (positions x 2*window offsets, bounds-checked, nulls compacted)
    — no join, no per-row Python; one hash aggregate to pair grain
    (map-side combined) and a distributed top-n. The window is the
    fan-out bound: tokens x 2W rows pre-combine."""
    t = F.col("__toks")
    offs = [d for d in range(-window, window + 1) if d != 0]
    pair_arr = F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(t)),
        lambda i: F.array_compact(F.array(*[
            F.when((i + F.lit(d) >= 1) & (i + F.lit(d) <= F.size(t)),
                   F.struct(F.element_at(t, i).alias("center"),
                            F.element_at(t, i + F.lit(d))
                            .alias("context")))
            for d in offs]))))
    base = (fan_out(docs)
            .select(tokens(F.col(text_col)).alias("__toks"))
            .where(F.size(t) >= 2)
            .select(F.explode(pair_arr).alias("p")))
    return (base.groupBy(F.col("p.center").alias("center"),
                         F.col("p.context").alias("context"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "center", "context")
            .limit(top_n))


def negative_sampling_table(docs: DataFrame, top_n: int = 100,
                            subsample_t: float = 1e-5,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """The word2vec sampling tables (Mikolov et al. 2013) per token:

      * negative-sampling weight: P_ns(w) proportional to c(w)^0.75 —
        the smoothed-unigram that keeps rare words drawable;
      * frequency-subsampling keep probability:
        p_keep = min(1, sqrt(t/f) + t/f) with f = c(w)/N and
        t = 1e-5 — the discard rule that deletes most 'the'/'of'
        instances while keeping every rare token.

    Exactness: c(w)^0.75 pins to integer micro-units PER TYPE
    (pin-before-sum), the normalizer is the exact bigint sum of
    those, ns_ppm is a truncating DIV, and p_keep is ONE shared
    float spelling pinned to ppm and clamped at 1e6. Top-n tokens by
    (count desc, token).

    Scale shape: one tokenize pass, one vocabulary hash aggregate,
    a 1-row broadcast normalizer, TakeOrdered — no joins beyond the
    broadcast."""
    tok = fan_out(docs).select(
        F.explode(tokens(F.col(text_col))).alias("tok"))
    v = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    pow75 = F.expr(
        "CAST(FLOOR(POW(CAST(c AS DOUBLE), 0.75) * 1000000.0 + 0.5)"
        " AS BIGINT)")
    vv = v.withColumn("__p75", pow75)
    tot = vv.agg(F.sum("__p75").cast("bigint").alias("z"),
                 F.sum("c").cast("bigint").alias("n_total"))
    keep = F.expr(
        f"LEAST(CAST(1000000 AS BIGINT), CAST(FLOOR("
        f"(SQRT({float(subsample_t)} * CAST(n_total AS DOUBLE)"
        f" / CAST(c AS DOUBLE))"
        f" + {float(subsample_t)} * CAST(n_total AS DOUBLE)"
        f" / CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))")
    return (vv.crossJoin(F.broadcast(tot))
            .select(F.col("tok"), F.col("c").cast("bigint").alias("c"),
                    F.expr("__p75 * 1000000 DIV z").cast("bigint")
                    .alias("ns_ppm"),
                    keep.alias("keep_ppm"))
            .orderBy(F.col("c").desc(), "tok")
            .limit(top_n))


def gopher_quality_flags(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """The Gopher quality-filter rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A) — the published
    heuristic bundle production crawls actually gate on, computed as
    exact integer measures with one pass/fail flag per rule:

      word_count in [50, 100_000]        (rule: doc length)
      mean_word_len_milli in [3000, 10000]  (rule: word length)
      ellipsis_line_ppm <= 300_000       (lines ending '...')
      bullet_line_ppm <= 900_000         (lines starting a bullet)
      alpha_word_ppm >= 800_000          (words containing a letter)
      stopword_hits >= 2                 (distinct required stopwords)

    Every measure is exact integer arithmetic over token/line counts
    (ratios in truncating ppm; mean word length in milli-chars via
    DIV), so flags are bit-equal cross-engine; `passes_gopher` is
    the conjunction. Documents with zero words report zero measures
    and fail (both engines agree on the empty grain).

    Scale shape: a pure per-row projection — token/line splits and
    regexp counts, no shuffle at all. The thresholds are the
    published constants; swap per corpus as needed."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks).cast("bigint")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.length(w).cast("bigint"))
    lines = F.filter(F.split(t, r"\n"),
                     lambda s: F.trim(s) != "")
    n_lines = F.size(lines).cast("bigint")
    ell = F.size(F.filter(
        lines, lambda s: F.trim(s).rlike(r"\.\.\.$"))).cast("bigint")
    bul = F.size(F.filter(
        lines,
        lambda s: F.trim(s).rlike(r"^[-*]"))).cast("bigint")
    alpha = F.size(F.filter(
        toks, lambda w: w.rlike("[A-Za-z]"))).cast("bigint")
    # distinct stopword TYPES present (explicit distinct-of-filter:
    # engines disagree on whether intersect dedups)
    stop_hits = F.size(F.array_distinct(F.filter(
        F.transform(toks, lambda w: F.lower(w)),
        lambda w: w.isin(*STOPWORDS)))).cast("bigint")

    out = (fan_out(docs).select(
        F.col(id_col),
        n_words.alias("n_words"),
        total_chars.alias("__chars"),
        n_lines.alias("n_lines"),
        ell.alias("__ell"), bul.alias("__bul"),
        alpha.alias("__alpha"), stop_hits.alias("stopword_hits"))
        .withColumn("mean_word_len_milli",
                    F.expr("CASE WHEN n_words > 0 THEN"
                           " __chars * 1000 DIV n_words"
                           " ELSE 0 END").cast("bigint"))
        .withColumn("ellipsis_line_ppm",
                    F.expr("CASE WHEN n_lines > 0 THEN"
                           " __ell * 1000000 DIV n_lines"
                           " ELSE 0 END").cast("bigint"))
        .withColumn("bullet_line_ppm",
                    F.expr("CASE WHEN n_lines > 0 THEN"
                           " __bul * 1000000 DIV n_lines"
                           " ELSE 0 END").cast("bigint"))
        .withColumn("alpha_word_ppm",
                    F.expr("CASE WHEN n_words > 0 THEN"
                           " __alpha * 1000000 DIV n_words"
                           " ELSE 0 END").cast("bigint")))
    checks = [
        ("ok_word_count",
         (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)),
        ("ok_word_len",
         (F.col("mean_word_len_milli") >= 3000)
         & (F.col("mean_word_len_milli") <= 10_000)),
        ("ok_ellipsis", F.col("ellipsis_line_ppm") <= 300_000),
        ("ok_bullets", F.col("bullet_line_ppm") <= 900_000),
        ("ok_alpha", F.col("alpha_word_ppm") >= 800_000),
        ("ok_stopwords", F.col("stopword_hits") >= 2),
    ]
    passes = None
    for name, cond in checks:
        out = out.withColumn(name, cond.cast("int"))
        passes = cond if passes is None else (passes & cond)
    return (out.withColumn("passes_gopher", passes.cast("int"))
            .select(id_col, "n_words", "mean_word_len_milli",
                    "n_lines", "ellipsis_line_ppm", "bullet_line_ppm",
                    "alpha_word_ppm", "stopword_hits",
                    *[n for n, _ in checks], "passes_gopher"))
