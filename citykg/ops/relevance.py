"""Corpus relevance ops: TF-IDF keyword extraction and BM25 scoring.

Training-data curation needs per-document salient terms (topic tagging,
near-dup triage, quality audits) and query-relevance scoring (targeted
corpus slicing). Both are expressed as pure DataFrame aggregations so
Catalyst keeps every stage JVM-side:

  tokens   : split(lower(text)) -> explode           (narrow, no shuffle)
  tf       : groupBy(doc, term).count()              (shuffle 1, partial agg)
  df       : groupBy(term).count_distinct(doc)       (shuffle 2, partial agg)
  N/avglen : single-row agg, broadcast back          (scalar join, no shuffle
                                                      of the big side)
  top-k    : Window.partitionBy(doc)                 (per-doc partitions —
                                                      NO global window)

At 100 TB the tf and df aggregations are the only wide stages; both are
map-side combinable (counts), and df's key space is the vocabulary, orders
of magnitude smaller than the corpus. The scalar (N, avglen) side is a
one-row broadcast, never a shuffle of the corpus. Scores are rounded to 6
decimals so the JVM and C libm `ln` agree bit-for-bit after rounding (same
policy as ops.text token_entropy).

No reference analog (the reference is an importer, not a corpus pipeline);
built per the round brief's training-data operator requirement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import stable

TOKEN_SPLIT = "[^a-z]+"  # shared with the DuckDB oracle (RE2/Java-safe)


def _terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc, term): lowercase letter-run tokens."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("term"),
        )
        .where(F.col("term") != "")
    )


def tfidf_topk(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k terms per document by tf * ln(N/df), deterministic (score
    desc, term asc) tiebreak. Returns (id, term, tf, score, rank)."""
    terms = _terms(df, id_col, text_col)
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # df(term) = #docs containing it = #rows per term in tf — derived from
    # the aggregate, NOT a second explode of the corpus: at 100 TB the raw
    # token stream is scanned once and all downstream stages work on the
    # (doc, term)-deduped frame, which is smaller by the repetition factor
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count("*").alias("n_docs"))
    # dfreq's key space is the vocabulary — usually broadcastable, but web
    # junk can blow it up, so the planner (AQE size stats) picks the
    # strategy rather than a mandatory hint; both sides are already
    # term-keyed aggregates, so a shuffle join reuses tf's partitioning.
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "score", "rank")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 document score for a bag of query terms (Robertson/Sparck
    Jones idf with the +1 smoothing):

      score(D) = sum_t ln(1 + (N - df + .5)/(df + .5))
                 * tf*(k1+1) / (tf + k1*(1 - b + b*len/avglen))

    Docs matching no term are omitted. The query side is a literal array
    filter pushed into the tf aggregation; corpus-global N and avglen are
    a one-row broadcast."""
    terms = _terms(df, id_col, text_col)
    doclen = terms.groupBy(id_col).agg(F.count("*").alias("dl"))
    qt = [t.lower() for t in query_terms]
    tf = (
        terms.where(F.col("term").isin(*qt))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        terms.where(F.col("term").isin(*qt))
        .groupBy("term")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
    )
    stats = df.agg(F.count("*").alias("n_docs")).join(
        doclen.agg(F.avg("dl").alias("avg_dl"))
    )
    per_term = (
        tf.join(doclen, id_col)
        .join(F.broadcast(dfreq), "term")  # |dfreq| <= |query_terms|: tiny
        .join(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(
                1
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avg_dl"))
            ),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.round(F.sum("contrib"), 6).alias("bm25"),
        F.count("*").alias("n_terms_hit"),
    )


def unigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's own
    MLE unigram model — the LM-based quality signal of CCNet/KenLM-style
    filtering, reduced to a pure aggregation so no external LM binary is
    needed: low (very negative) scores flag rare-token junk, high scores
    flag common-token boilerplate; filters cut both tails.

      avg_logprob(D) = sum_t tf(D,t) * ln(c(t)/N) / len(D)

    Plan shape at 100 TB: the raw token stream is scanned ONCE into the
    (doc, term) tf aggregate (map-side combinable); the vocabulary counts
    c(t) and the corpus total N both derive from tf, never from a second
    corpus pass. The tf-vocab join is term-keyed — stop-words make the key
    skewed, but the vocab side is aggregate-sized (planner broadcasts it
    under AQE; same policy as tfidf_topk's dfreq join) so the skew never
    drives a shuffle of the big side. Returns (id, n_terms, avg_logprob),
    rounded to 6 so JVM and C libm `ln` agree after rounding."""
    terms = _terms(df, id_col, text_col)
    # tf feeds three consumers (the per-doc join, vocab, and the corpus
    # total); without materializing it, Catalyst re-derives each from the
    # raw token scan — three corpus passes. Same multi-consumer policy as
    # ops.sampling.mix_sources.
    tf = (
        terms.groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .transform(stable, eager=False)
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    scored = tf.join(vocab, "term").join(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_terms"),
        F.round(
            F.sum(F.col("tf") * F.log(F.col("c") / F.col("n_total"))) / F.sum("tf"), 6
        ).alias("avg_logprob"),
    )


def bigram_pmi(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Collocation (phrase) mining: pointwise mutual information of
    adjacent token pairs over the corpus —

      pmi(a, b) = ln( p(a,b) / (p(a) * p(b)) ),
      p(a,b) = c(ab)/N_bigrams, p(w) = c(w)/N_tokens

    — the standard first pass of multi-word-expression extraction for a
    tokenizer/vocab pipeline. Two corpus passes over ONE pruned string
    column (bigram counts; unigram counts), each a single
    map-side-combinable aggregation; materializing the exploded token
    stream to save the second scan would cost more I/O than the columnar
    re-scan at any scale. The unigram table is vocabulary-sized — the
    planner broadcasts it into the two attach joins. min_count prunes
    the hapax tail BEFORE the joins, so the pair table that ships is the
    frequent-collocation head, not the long tail."""
    toks = f"filter(split(lower({text_col}), '[^a-z]+'), x -> x <> '')"
    # tokenize ONCE into a column, then pair with slice+transform: an
    # element_at({toks}, i) inside the per-index lambda would re-run the
    # whole split per token = O(tokens^2) splits per doc (measured 20x
    # slower at sf0.1); slice() of an empty/1-token array is empty, so
    # short docs drop without ANSI bounds faults
    bg = (
        df.withColumn("_w", F.expr(toks))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(_w, 1, greatest(size(_w) - 1, 0)),"
                    " (x, i) -> struct(x as a, element_at(_w, i + 2) as b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    cab = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab")).where(
        F.col("c_ab") >= min_count
    )
    uni = (
        df.select(F.explode(F.expr(toks)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tokens"))
    n_bg = bg.agg(F.count("*").alias("n_bigrams"))
    return (
        cab.join(uni.select(F.col("w").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("w").alias("b"), F.col("c").alias("c_b")), "b")
        .join(F.broadcast(n_tok))
        .join(F.broadcast(n_bg))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_bigrams"))
                    / ((F.col("c_a") / F.col("n_tokens")) * (F.col("c_b") / F.col("n_tokens")))
                ),
                6,
            ).alias("pmi"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document average log-probability under an interpolated bigram
    LM trained on the corpus itself — one step closer to the KenLM
    filtering model than unigram_lm_scores:

      p(b | a) = lam * c(ab)/c(a) + (1 - lam) * c(b)/N

    scored over each doc's adjacent token pairs (docs with < 2 tokens
    have no bigrams and drop out, same convention as the bigram miner).
    Plan shape: one explode into per-doc bigram counts (map-side
    combinable); corpus bigram counts c(ab) and unigram counts derive
    from the per-doc aggregate, never a second corpus pass; both model
    tables are vocabulary-sized attach joins. The fixed-lambda Jelinek-
    Mercer interpolation means every factor is a ratio of counts — the
    DuckDB oracle recomputes it exactly."""
    toks = f"filter(split(lower({text_col}), '[^a-z]+'), x -> x <> '')"
    # tokenize ONCE per row (an element_at({toks}, i) inside the lambda
    # re-runs the split per token — O(tokens^2), measured 20x slower)
    bg = (
        df.withColumn("_w", F.expr(toks))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(_w, 1, greatest(size(_w) - 1, 0)),"
                    " (x, i) -> struct(x as a, element_at(_w, i + 2) as b))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.a", "p.b")
    )
    # per-doc bigram tf: the only corpus-sized aggregate; everything
    # downstream folds out of it (multi-consumer -> materialize once)
    tf = (
        bg.groupBy(id_col, "a", "b")
        .agg(F.count("*").alias("tf"))
        .transform(stable, eager=False)
    )
    cab = tf.groupBy("a", "b").agg(F.sum("tf").alias("c_ab"))
    ca = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    # unigram counts as FIRST elements of bigrams: consistent with the
    # conditional denominator (c(a) sums its continuations)
    cb = cab.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    n = cb.agg(F.sum("c_b").alias("n_total"))
    scored = (
        tf.join(cab, ["a", "b"])
        .join(ca, "a")
        .join(cb, "b")
        .join(F.broadcast(n))
        .withColumn(
            "_lp",
            F.col("tf")
            * F.log(
                lam * F.col("c_ab") / F.col("c_a")
                + (1 - lam) * F.col("c_b") / F.col("n_total")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("_lp") / F.sum("tf"), 6).alias("avg_logprob"),
    )


def ccnet_tiers(
    scored: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    score_col: str = "avg_logprob",
    n_buckets: int = 64,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3): within
    each language, rank documents by LM quality (best score = rank 1) and
    cut the ranking into the head / middle / tail terciles that CCNet
    ships as separate corpus qualities. Rank ties break on the doc id, so
    the assignment is fully deterministic and engine-independent as long
    as `score_col` is the ROUNDED score (unigram_lm_scores rounds to 6).

    Scale shape: the per-language rank is a two-pass partition-offset
    rank (the global_shuffle_rank pattern) — documents bucket by score
    range inside their language (per-language min/max ride a
    language-sized broadcast), counts per (lang, bucket) give offsets,
    and the only windows run inside (lang, bucket) partitions or over
    the language-sized offset frame. No unpartitioned window, and no
    PARTITION BY lang window whose partitions would be corpus-scale.
    Tercile cuts use the per-language doc counts (another broadcast-sized
    frame): 3*rank <= n -> head, 3*rank <= 2n -> middle, else tail.
    """
    from pyspark.sql import Window

    rng = scored.groupBy(lang_col).agg(
        F.min(score_col).alias("_mn"),
        F.max(score_col).alias("_mx"),
        F.count("*").alias("_n"),
    )
    b = scored.join(F.broadcast(rng), lang_col).withColumn(
        "_bkt",
        F.least(
            F.floor(
                (F.col("_mx") - F.col(score_col))
                / F.greatest((F.col("_mx") - F.col("_mn")) / n_buckets, F.lit(1e-12))
            ),
            F.lit(n_buckets - 1),
        ).cast("long"),
    )
    counts = b.groupBy(lang_col, "_bkt").agg(F.count("*").alias("_cnt"))
    off_w = (
        Window.partitionBy(lang_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(off_w), F.lit(0))
    ).select(lang_col, "_bkt", "_off")
    rn_w = Window.partitionBy(lang_col, "_bkt").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    ranked = b.join(F.broadcast(offsets), [lang_col, "_bkt"]).withColumn(
        "lm_rank", (F.col("_off") + F.row_number().over(rn_w)).cast("long")
    )
    return ranked.select(
        id_col,
        lang_col,
        "lm_rank",
        F.when(3 * F.col("lm_rank") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("lm_rank") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("tier"),
    )


def chi2_keywords(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Per-group discriminative terms by chi-squared association (the
    feature-selection statistic of Yang & Pedersen 1997): for each
    (group, term) 2x2 contingency table (term present/absent x in-group/
    rest), chi2 = N (O11 O22 - O12 O21)^2 / product of marginals — the
    corpus-curation question "what characterizes each source", the
    supervised complement of tfidf_topk. Returns the top `k` terms per
    group (chi2 desc, term asc); terms with < `min_count` in-group
    occurrences are dropped before the joins.

    Scale shape: one token explode -> ONE (group, term) partial agg;
    group totals and term totals derive from that frame (partial aggs
    over far smaller key spaces); the corpus total is a one-row
    broadcast. The top-k window partitions by group over the vocab-sized
    frame — never the corpus. Every chi2 operand is cast to DOUBLE
    before any product so both engines walk identical IEEE arithmetic
    (bigint intermediates would overflow at corpus scale)."""
    toks = f"filter(split(lower({text_col}), '[^a-z]+'), x -> x <> '')"
    e = df.selectExpr(f"{group_col} as grp", f"explode({toks}) as tok")
    st = e.groupBy("grp", "tok").agg(F.count("*").alias("n_st"))
    st = stable(st, eager=False)  # feeds the group/term/total aggs
    gs = st.groupBy("grp").agg(F.sum("n_st").alias("n_g"))
    ts = st.groupBy("tok").agg(F.sum("n_st").alias("n_t"))
    tot = gs.agg(F.sum("n_g").alias("nn"))
    chi = (
        st.where(F.col("n_st") >= min_count)
        .join(gs, "grp")
        .join(ts, "tok")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "grp",
            "tok",
            "n_st",
            "cast(n_st as double) as o11",
            "cast(n_t as double) - cast(n_st as double) as o12",
            "cast(n_g as double) - cast(n_st as double) as o21",
            "cast(nn as double) - cast(n_g as double) - cast(n_t as double) "
            "+ cast(n_st as double) as o22",
            "cast(nn as double) as nd",
        )
        .selectExpr(
            "grp",
            "tok",
            "n_st",
            "nd * (o11 * o22 - o12 * o21) * (o11 * o22 - o12 * o21) / "
            "((o11 + o12) * (o11 + o21) * (o12 + o22) * (o21 + o22)) as _chi2",
        )
    )
    w = Window.partitionBy("grp").orderBy(F.col("_chi2").desc(), F.col("tok"))
    return (
        chi.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .selectExpr(
            f"grp as {group_col}",
            "tok as term",
            "cast(n_st as bigint) as n_in_group",
            "rank",
            "round(_chi2, 6) as chi2",
        )
    )


def _bigram_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc, adjacent-word-pair): 'w1 w2' bigram terms over
    the lowercase letter-run tokens (empties filtered BEFORE pairing so
    boundary splits never fabricate half-bigrams). Used as the index
    unit when the unigram vocabulary is too small to discriminate."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda x: x != ""
    )
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    return df.select(F.col(id_col), F.explode(pairs).alias("term"))


def _unit_terms(
    df: DataFrame, id_col: str, text_col: str, unit: str
) -> DataFrame:
    if unit == "bigram":
        return _bigram_terms(df, id_col, text_col)
    return _terms(df, id_col, text_col)


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_df: int = 20,
    unit: str = "word",
) -> DataFrame:
    """Posting-list inverted index over the df-band vocabulary: one row
    per term with its document frequency and the NUMERICALLY-sorted
    posting list serialized as csv. The df band [min_df, max_df] is the
    standard index-pruning contract (hapaxes carry no linkage signal,
    stop-words explode postings); it also bounds the per-term
    collect_list at max_df elements, so no group buffers more than a
    constant number of ids — the build is two partial-agg shuffles
    regardless of corpus size. Returns (term, df, postings)."""
    t = _unit_terms(df, id_col, text_col, unit).distinct()
    dfq = (
        t.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    return (
        t.join(dfq, "term")
        .groupBy("term", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
        .select("term", F.col("df").cast("long"), "postings")
    )


def tfidf_cosine_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 100,
    k: int = 1,
    unit: str = "word",
) -> DataFrame:
    """Sparse TF-IDF cosine k-nearest-documents via the inverted-index
    join: weight w = round(tf * ln(N/df), 6) over the df-capped
    vocabulary (terms with df > max_df are dropped — the classic
    stop-word/prefix-filter pruning that keeps the candidate join
    O(sum df^2 over rare terms), never all-pairs), candidate pairs are
    docs sharing >= 1 surviving term, cosine = dot / (|a||b|). Docs
    whose every neighbor scores 0 emit no row. Rounding: per-term
    weights at 6 dp (JVM vs C libm ln agreement, same convention as
    tfidf_topk) and the final score at 6 dp (bm25_scores precedent for
    the order-jittered double sum). Returns (doc_id, neighbor, cosine,
    rank) with rank <= k, ties broken by neighbor id."""
    t = _unit_terms(df, id_col, text_col, unit)
    tf = t.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df")).where(F.col("df") <= max_df)
    n = df.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col).alias("_id"),
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("w"),
        )
    )
    norms = w.groupBy("_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("_id").alias("_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("_id").alias("_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("_id").alias("_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("_id").alias("_b"), F.col("nrm").alias("nb"))
    scored = (
        dots.join(na, "_a")
        .join(nb, "_b")
        .select(
            "_a",
            "_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") > 0)
    )
    sym = scored.select(
        F.col("_a").alias(id_col), F.col("_b").alias("neighbor"), "cosine"
    ).unionByName(
        scored.select(
            F.col("_b").alias(id_col), F.col("_a").alias("neighbor"), "cosine"
        )
    )
    rw = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
        .select(id_col, "neighbor", "cosine", F.col("rank").cast("int"))
    )


def kneser_ney_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document average log-probability under an interpolated
    Kneser-Ney bigram LM trained on the corpus itself — the modern
    n-gram smoothing (Kneser & Ney 1995, Chen & Goodman 1998) that
    KenLM-style quality filters actually ship, one step past the
    Jelinek-Mercer interpolation of `bigram_lm_scores`:

      p_KN(b | a) = max(c(ab) - D, 0) / c(a)
                    + D * N1+(a, *) / c(a) * p_cont(b)
      p_cont(b)   = N1+(*, b) / |distinct bigram types|

    where N1+(a, *) is the number of distinct continuations of `a`
    and N1+(*, b) the number of distinct predecessors of `b` — the
    "how many contexts has this word completed" signal that separates
    KN from a plain backoff.

    Plan shape (identical scaling story to bigram_lm_scores): ONE corpus
    bigram scan into a per-doc tf aggregate (map-side combinable,
    materialized once); c(ab), c(a), the two continuation-type counts,
    and the global type total all fold out of that aggregate as
    vocabulary-sized frames; the type total re-attaches as a one-row
    broadcast. Every model factor is a ratio of exact integer counts, so
    the DuckDB oracle recomputes the identical doubles. Docs with < 2
    tokens have no bigrams and drop out (bigram-miner convention)."""
    toks = f"filter(split(lower({text_col}), '[^a-z]+'), x -> x <> '')"
    # tokenize ONCE per row (an element_at({toks}, i) inside the lambda
    # re-runs the split per token — O(tokens^2), measured 20x slower)
    bg = (
        df.withColumn("_w", F.expr(toks))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(_w, 1, greatest(size(_w) - 1, 0)),"
                    " (x, i) -> struct(x as a, element_at(_w, i + 2) as b))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.a", "p.b")
    )
    tf = (
        bg.groupBy(id_col, "a", "b")
        .agg(F.count("*").alias("tf"))
        .transform(stable, eager=False)
    )
    cab = (
        tf.groupBy("a", "b")
        .agg(F.sum("tf").alias("c_ab"))
        .transform(stable, eager=False)
    )
    ca = cab.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"), F.count("*").alias("n1_fwd")
    )
    cb = cab.groupBy("b").agg(F.count("*").alias("n1_bwd"))
    types = cab.agg(F.count("*").alias("n_types"))
    scored = (
        tf.join(cab, ["a", "b"])
        .join(ca, "a")
        .join(cb, "b")
        .join(F.broadcast(types))
        .withColumn(
            "_lp",
            F.col("tf")
            * F.log(
                F.greatest(F.col("c_ab") - discount, F.lit(0.0)) / F.col("c_a")
                + discount
                * F.col("n1_fwd")
                / F.col("c_a")
                * (F.col("n1_bwd") / F.col("n_types"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("_lp") / F.sum("tf"), 6).alias("avg_logprob"),
    )
