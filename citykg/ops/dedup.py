"""Deduplication operators over a document corpus.

Four tiers, all oriented to the 100 TB case:

* exact        — hash-groupBy on the normalized text (one shuffle,
                 map-side combinable).
* n-gram Jaccard — exact pairwise similarity via an inverted-index join
                 on shingles (shuffle on shingle). Quadratic in the worst
                 case; it is the small-scale oracle and the verifier for
                 the approximate tiers.
* MinHash-LSH  — banded signatures (JVM expressions, see citykg.link)
                 blocking + exact-Jaccard verification of candidates.
                 This is the scale path: cost ~ O(n * bands).
* SimHash      — 56-bit fingerprints via pure Spark SQL expressions
                 (JVM-side, oracle-checkable), near-dup = small Hamming
                 distance, blocked on bit chunks (any pair within
                 Hamming<=3 shares at least one of 4 chunks exactly).

Skew note: stop-shingle explosion (a shingle present in most docs) turns
the inverted-index join quadratic — `max_shingle_freq` drops shingles
above a document-frequency cap, the standard prefix-filter trick; LSH has
no such blowup (band keys are hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..link import with_bands, with_minhash
from ..session import stable


def normalize_text(col):
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def fanout_to_parallelism(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a narrow projection up to session parallelism when the
    upstream scan has fewer splits (small local files pack into one task):
    the CPU-heavy shingle/signature expressions downstream of the scan
    otherwise serialize onto that task — and a self-join re-evaluates
    them once PER SIDE, so a 1-split corpus pays the whole corpus cost
    2-3x on one core. On a real cluster the input carries >= parallelism
    splits and this returns the projection untouched (no shuffle). The
    shuffle, when it fires, carries only the narrow (id, text) columns."""
    out = df.select(*cols) if cols else df
    target = out.sparkSession.sparkContext.defaultParallelism
    if out.rdd.getNumPartitions() < target:
        out = out.repartition(target)
    return out


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: (doc_id, group_id, group_size).
    group_id = min doc_id of the group; singletons excluded.

    The shuffle key is a 128-bit content hash pair (xxhash64 under two
    seeds), NOT the normalized text itself — the exchange carries 16 bytes
    per row instead of whole documents (at 100 TB the difference is the
    whole shuffle). Collision posture: a false group needs BOTH 64-bit
    hashes to collide on different text (~2^-128 per pair); same policy as
    the reference's md5URI teximage dedup key."""
    n = fanout_to_parallelism(df, id_col, text_col).select(
        F.col(id_col),
        F.xxhash64(normalize_text(F.col(text_col))).alias("_h1"),
        F.xxhash64(normalize_text(F.col(text_col)), F.lit(0x9E3779B9)).alias("_h2"),
    )
    w = Window.partitionBy("_h1", "_h2")
    return (
        n.withColumn("group_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count("*").over(w))
        .where(F.col("group_size") > 1)
        .select(id_col, "group_id", "group_size")
    )


def word_shingles(df: DataFrame, text_col: str, n: int = 3, out: str = "shingle") -> DataFrame:
    """Distinct word n-grams, exploded: (…, shingle). Tokenizes ONCE
    into a column before the per-position lambda — slice({toks}, ...)
    inside the lambda re-runs the split per position (O(tokens^2) splits
    per doc, measured 20x on the bigram twin)."""
    sh = (
        f"array_distinct(transform(sequence(0, greatest(size(_w_sh) - {n}, 0)),"
        f" i -> concat_ws(' ', slice(_w_sh, i + 1, {n}))))"
    )
    return (
        df.withColumn("_w_sh", F.expr(f"split(lower(trim({text_col})), '\\\\s+')"))
        .withColumn(out, F.explode(F.expr(sh)))
        .drop("_w_sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs >= threshold via inverted-index self-join.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b."""
    sh = word_shingles(
        fanout_to_parallelism(df, id_col, text_col), text_col, n
    ).select(id_col, "shingle")
    if max_shingle_freq:
        freq = sh.groupBy("shingle").count().where(F.col("count") <= max_shingle_freq)
        sh = sh.join(freq.select("shingle"), "shingle")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.toDF("doc_a", "shingle")
    b = sh.toDF("doc_b", "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.toDF("doc_a", "na"), "doc_a")
        .join(sizes.toDF("doc_b", "nb"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def incremental_jaccard_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental dedup: Jaccard pairs of a NEW batch against itself and
    against the existing corpus — the corpus x corpus quadrant is excluded
    BY CONSTRUCTION, which is the whole point at scale: a daily batch
    joined into a 10^12-doc store pays |batch| x index-fanout, never
    |corpus|^2 (the store was already deduped when it was the batch). At
    scale the corpus side of the inverted index is the persisted shingle
    index (append-only, bucketed by shingle hash); here it derives
    in-plan from the corpus frame. Output: (doc_a from the batch, doc_b,
    jaccard, pair_kind in {'new_new','new_old'}); new_new pairs are
    ordered doc_a < doc_b."""
    u = corpus.select(id_col, text_col).withColumn("_old", F.lit(True)).unionByName(
        batch.select(id_col, text_col).withColumn("_old", F.lit(False))
    )
    # sh feeds three consumers (sizes, the batch side, the full side);
    # materialize it or Catalyst re-runs the corpus shingle explode per
    # consumer — same multi-consumer policy as relevance.unigram_lm_scores
    sh = (
        word_shingles(fanout_to_parallelism(u, id_col, text_col, "_old"), text_col, n)
        .select(id_col, "_old", "shingle")
        .transform(stable, eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.where(~F.col("_old")).select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("_old").alias("_old_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("_old_b") | (F.col("doc_a") < F.col("doc_b")))
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "_old_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.toDF("doc_a", "na"), "doc_a")
        .join(sizes.toDF("doc_b", "nb"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .withColumn(
            "pair_kind", F.when(F.col("_old_b"), "new_old").otherwise("new_new")
        )
        .select("doc_a", "doc_b", "jaccard", "pair_kind")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Broder CONTAINMENT pairs: c(A in B) = |A n B| / |A| over word
    n-gram sets — the asymmetric companion to Jaccard that catches a
    small doc swallowed whole by a large one (quote, excerpt, wrapper
    page), which symmetric Jaccard scores near |A|/|B| ~ 0 and misses.
    Emits pairs where EITHER direction reaches `threshold`.

    Same inverted-index plan as ngram_jaccard_pairs (one explode, one
    shingle equi-join, one pair partial agg, two size attach joins) —
    only the final scoring expression differs, so the scale posture
    (document-frequency cap against boilerplate-shingle skew) is shared.

    Output: (doc_a, doc_b, containment_a, containment_b) with
    doc_a < doc_b; containment_a = share of a's shingles found in b."""
    sh = word_shingles(
        fanout_to_parallelism(df, id_col, text_col), text_col, n
    ).select(id_col, "shingle")
    if max_shingle_freq:
        freq = sh.groupBy("shingle").count().where(F.col("count") <= max_shingle_freq)
        sh = sh.join(freq.select("shingle"), "shingle")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.toDF("doc_a", "shingle")
    b = sh.toDF("doc_b", "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.toDF("doc_a", "na"), "doc_a")
        .join(sizes.toDF("doc_b", "nb"), "doc_b")
        .withColumn("containment_a", F.col("inter") / F.col("na"))
        .withColumn("containment_b", F.col("inter") / F.col("nb"))
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select(
            "doc_a",
            "doc_b",
            F.round("containment_a", 6).alias("containment_a"),
            F.round("containment_b", 6).alias("containment_b"),
        )
    )


#: hand-pinned (a, b) permutation constants for the PORTABLE MinHash —
#: a <= 31 keeps a*h + b < 2^63 for the 57-bit char-fold hash (ANSI-safe
#: in Spark, plain BIGINT math in any SQL engine)
PORTABLE_PERMS = [
    (3, 17), (5, 101), (7, 389), (11, 1021),
    (13, 4093), (17, 16381), (19, 65521), (23, 262139),
    (29, 1048573), (31, 4194301), (3, 999983), (5, 7919),
    (7, 104729), (11, 1299709), (13, 15485863), (17, 1794239),
]


def portable_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """MinHash signatures over word n-grams using the CROSS-ENGINE
    char-fold hash (citykg.ops.hashing) instead of xxhash64 — slower
    per shingle, but byte-reproducible by any ANSI-SQL engine, which is
    what makes a measured-recall LSH evaluation value-oracle-able (the
    production signatures in link.with_minhash keep xxhash64).

    One explode + ONE doc-keyed partial agg (the 16 permutation minimums
    are map-side-combinable MIN columns). Output: (id, m0..m15)."""
    from .hashing import POLY_P, char_fold_spark

    sh = word_shingles(
        fanout_to_parallelism(df, id_col, text_col), text_col, n
    ).select(id_col, "shingle")
    hashed = sh.selectExpr(id_col, f"{char_fold_spark('shingle')} as _h")
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.expr(f"pmod({a}L * _h + {b}L, {POLY_P}L)")).alias(f"m{i}")
            for i, (a, b) in enumerate(PORTABLE_PERMS)
        ]
    )


def repeated_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_shared: int = 1,
) -> DataFrame:
    """Exact-substring containment pairs: documents sharing at least
    `min_shared` identical n-token windows (the suffix-array-style exact
    dedup of LLM training corpora, re-expressed as an inverted-index
    join on window hashes). Unlike Jaccard similarity this catches a
    short plagiarized span inside an otherwise unrelated doc.

    Scale shape: one explode to (doc, window) rows — distinct windows per
    doc — then a self-join on the window. A window shared by k docs costs
    k^2/2 pairs; boilerplate windows (licenses, headers) are the skew
    source, so cap them with the same document-frequency prefix filter as
    ngram_jaccard_pairs (drop windows in > max(64, 0.01%) of docs — they
    carry no pair information worth quadratic cost). Output:
    (doc_a, doc_b, n_shared_windows)."""
    w = word_shingles(
        fanout_to_parallelism(df, id_col, text_col), text_col, n, out="window"
    ).select(id_col, "window")
    freq_cap = 64
    freq = w.groupBy("window").agg(F.count("*").alias("df_"))
    # (the equi-join moves the key column first — re-project before the
    # positional renames)
    w = w.join(freq.where(F.col("df_") <= freq_cap).select("window"), "window").select(
        id_col, "window"
    )
    a = w.toDF("doc_a", "window")
    b = w.toDF("doc_b", "window")
    return (
        a.join(b, "window")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
        .where(F.col("n_shared_windows") >= min_shared)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidate blocking + exact word-n-gram Jaccard verify.

    At threshold 0.8 with 16 bands x 4 rows, detection probability for a
    true pair is 1-(1-s^4)^16 >= 0.9998 — candidates are then verified
    exactly, so output ⊆ true pairs with near-total recall.
    """
    sh_expr = (
        f"array_distinct(transform(sequence(0, greatest(size(_w_sh) - {n}, 0)),"
        f" i -> concat_ws(' ', slice(_w_sh, i + 1, {n}))))"
    )
    # tokenize once per row (see word_shingles note)
    base = (
        fanout_to_parallelism(df, id_col, text_col)
        .withColumn("_w_sh", F.expr(f"split(lower(trim({text_col})), '\\\\s+')"))
        .select(id_col, F.expr(sh_expr).alias("shingles"))
    )
    # keep the band join NARROW: only (id, band) rows flow through the
    # explode/join/dedup — the wide shingle arrays attach AFTER the
    # candidate pairs are deduped, so each array is shuffled once per
    # surviving pair, not once per band collision
    # persist the narrow signature frame: a self-join re-evaluates its
    # subtree once per side, which means re-running the 64-hash MinHash
    # over every shingle array twice — the signature computation is the
    # expensive pass, so materialize it once (the 100 TB pipeline writes
    # signatures to a store table for the same reason; persist is the
    # in-plan analog, and the frame is 3 narrow columns x bands rows/doc)
    banded = (
        with_bands(
            with_minhash(base, "shingles", n_hashes=n_hashes, seed=seed),
            bands=bands,
            rows=n_hashes // bands,
        )
        .select(id_col, "band_idx", "band_hash")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    l = banded.toDF("doc_a", "band_idx", "band_hash")
    r = banded.toDF("doc_b", "band_idx", "band_hash")
    cands = (
        l.join(r, ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # attach shingle arrays with ONE pass over the corpus, not one per
    # pair side: explode each candidate pair into its two legs, join the
    # legs against the (single-evaluation) shingle frame, fold back to
    # (sh_a, sh_b) per pair — each surviving pair has exactly two legs
    legs = cands.selectExpr(f"doc_a AS _leg", "doc_a", "doc_b").unionByName(
        cands.selectExpr(f"doc_b AS _leg", "doc_a", "doc_b")
    )
    att = legs.join(base.toDF("_leg", "sh"), "_leg")
    return (
        att.groupBy("doc_a", "doc_b")
        .agg(
            F.first(F.when(F.col("_leg") == F.col("doc_a"), F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("_leg") == F.col("doc_b"), F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
        .withColumn(
            "jaccard",
            F.expr("size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# 56-bit SimHash over a polynomial character hash. The hash is plain
# modular arithmetic — base-31 fold mod the 57-bit prime 2^57-13 — chosen
# so BOTH Spark SQL and an independent ANSI-SQL engine can evaluate it
# (the driver's DuckDB oracle recomputes it; see __spark_entry__._simhash_sql).
# 57-bit modulus keeps acc*31 + char < 2^63 under ANSI mode; fingerprints
# use the low 56 bits so they stay positive bigints.
from .hashing import POLY_P as SIMHASH_P  # shared cross-engine modulus

SIMHASH_BITS = 56


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """56-bit SimHash per doc — entirely JVM-side Spark expressions (no
    Python in the path): token hash = base-31 char fold mod 2^57-13
    (citykg.ops.hashing), one vote vector per doc via a single array
    aggregate, fingerprint = packed sign bits. Output: (id, simhash).
    Empty/whitespace-only text -> 0."""
    from .hashing import char_fold_spark

    toks = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    tok_hash = char_fold_spark("w")
    hs = f"transform({toks}, w -> {tok_hash})"
    votes = (
        f"aggregate({hs}, array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
        "(a, b) -> a + CASE WHEN (shiftright(h, b) & 1L) = 1L THEN 1 ELSE -1 END))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0, {SIMHASH_BITS - 1}), "
        "(v, b) -> IF(v > 0, shiftleft(1L, b), 0L)), 0L, (a, x) -> a + x)"
    )
    return fanout_to_parallelism(df, id_col, text_col).select(
        id_col, F.expr(fp).alias("simhash")
    )


def simhash_pairs(sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance, blocked on bit chunks.

    Pigeonhole: hamming <= h means at least one of h+1 chunks matches
    exactly, so blocking on n_chunks = max_hamming + 1 is lossless."""
    n_chunks = max_hamming + 1
    width = (64 + n_chunks - 1) // n_chunks
    mask = (1 << width) - 1
    chunks = sim.select(
        id_col,
        "simhash",
        F.explode(
            F.expr(
                "array(" + ", ".join(
                    f"named_struct('ci', {c}, 'ch', shiftright(simhash, {c * width}) & {mask})"
                    for c in range(n_chunks)
                ) + ")"
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.ch").alias("ch"))
    l = chunks.toDF("doc_a", "sim_a", "ci", "ch")
    r = chunks.toDF("doc_b", "sim_b", "ci", "ch")
    return (
        l.join(r, ["ci", "ch"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_near_dup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup pairs, BRUTE all-pairs. O(n^2): this is
    the small-scale oracle/verifier only — the production path is
    embedding_near_dup_pairs_lsh below."""
    from .similarity import cosine_expr, with_norm

    a = with_norm(emb.select(id_col, vec_col), vec_col).toDF("doc_a", "va", "na")
    b = with_norm(emb.select(id_col, vec_col), vec_col).toDF("doc_b", "vb", "nb")
    return (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", cosine_expr("va", "vb", "na", "nb"))
        .where(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 4,
    tables: int = 48,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH blocking — the scale path.

    Candidates = pairs sharing a bucket in ANY of `tables` hash tables
    (equi-join on (table_id, bucket), cost ~ O(n * tables) bucket rows,
    no CartesianProduct); exact cosine verifies every candidate, so there
    are no false positives — only recall depends on the LSH strength.
    The bucket join carries ids only; vectors attach to the deduped
    candidate set afterwards (narrow-join trick, same as the MinHash band
    join in citykg.link).

    Table count trades recall for cost: a hyperplane splits a pair at
    angle theta with p = theta/pi, so a pair collides in one table with
    (1 - theta/pi)^n_planes. At production thresholds (~0.95 cosine,
    theta ~ 18deg) 8-16 tables give recall > 0.999; the default 48 is
    verification strength for the low-threshold synthetic corpus (~0.42
    cosine), where blocked output == brute output on all test SFs —
    that equality is what lets the brute path serve as the oracle."""
    from .similarity import cosine_expr, with_lsh_buckets, with_norm

    # persist the narrow (id, table_id, bucket) frame: the self-join below
    # would otherwise re-evaluate the with_lsh_buckets MapInPandas subtree
    # once PER SIDE — the hyperplane matmul is the expensive pass (same
    # persist rationale as the MinHash banded frame above; at 100 TB the
    # bucket table is written to a store table instead)
    b = (
        with_lsh_buckets(
            emb.select(id_col, vec_col), vec_col, dim, n_planes, tables, seed
        )
        .select(id_col, "table_id", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cands = (
        b.toDF("doc_a", "table_id", "bucket")
        .join(b.toDF("doc_b", "table_id", "bucket"), ["table_id", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    va = with_norm(
        emb.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va")), "va", "na"
    )
    vb = with_norm(
        emb.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb")), "vb", "nb"
    )
    return (
        cands.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cosine", cosine_expr("va", "vb", "na", "nb"))
        .where(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def contamination_stats(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs that share any word
    n-gram with an evaluation set (the GPT-3 appendix-C / PaLM overlap
    rule; n=8 is the PaLM window). The eval n-gram set is tiny relative
    to the corpus (benchmarks are ~1e5 rows vs a 100 TB corpus), so it
    broadcasts: the corpus is scanned ONCE, exploded to distinct
    n-grams map-side, left-joined against the broadcast eval set, and
    folded back per doc with a map-side-combinable aggregate — no
    corpus shuffle except the final per-doc partial agg on id_col.
    Output: (doc_id, n_windows, n_contaminated, contamination) for docs
    with >= 1 contaminated window; docs shorter than n tokens fall back
    to one whole-doc window (same rule as word_shingles)."""
    ev = (
        word_shingles(eval_df.select(text_col), text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    sh = word_shingles(
        fanout_to_parallelism(corpus, id_col, text_col), text_col, n
    ).select(id_col, "shingle")
    return (
        sh.join(F.broadcast(ev), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .where(F.col("n_contaminated") > 0)
        .withColumn("contamination", F.col("n_contaminated") / F.col("n_windows"))
    )


def near_dup_clusters(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """The dedup DECISION: fold near-dup pairs (from any pair generator
    here) into clusters and pick the survivor. Returns (doc_id,
    cluster_id, keep) for every doc appearing in >= 1 pair; cluster_id =
    min doc_id of the transitive cluster, keep = doc is that min (docs
    in no pair are implicit keeps and not returned). Uses
    canon.connected_components (min-label propagation with pointer
    jumping: one shuffle join + map-side-combinable min per round, so
    chained pairs converge in O(log diameter) rounds, and running out of
    rounds raises); long ids ride through zero-padded so the string min
    IS the numeric min."""
    from ..canon import connected_components

    pad = lambda c: F.format_string("%019d", F.col(c))
    edges = pairs.select(pad(id_a).alias("src"), pad(id_b).alias("dst"))
    labels = connected_components(edges)
    return (
        labels.select(
            F.col("id").cast("long").alias("doc_id"),
            F.col("component").cast("long").alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.42,
    n_planes: int = 4,
    seed: int = 911,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding space into cells, compare pairs only WITHIN a cell, and for
    every near-duplicate pair keep one survivor. Returns one verdict row
    per input vector: (id, cell, dropped 0/1, keeper = the NEAREST
    (minimum) lower-id in-cell near-dup partner, -1 when kept). NOTE:
    keeper is a dedup-decision witness, not necessarily itself a
    survivor — in a chain A<B<C with B~A, C~B, C!~A, C's keeper is B
    while B itself is dropped (keeper=A). Consumers that need the
    surviving representative should chase the chain or use
    `near_dup_clusters`, whose star pattern resolves every member to
    the cluster minimum directly.

    The paper clusters with k-means; here the cell is a seeded
    sign-quantizer (one bit per literal hyperplane), which keeps the
    partition deterministic and cross-engine reproducible — the DuckDB
    oracle re-derives the identical cell from the same literals, so the
    whole decision (cells, pairs, survivors) is value-checked, not just
    row-counted. Swap in `similarity.ivf_centroids` cells for the paper's
    k-means behavior at production (same join shape; recall then depends
    on cluster granularity — the standard SemDeDup caveat).

    Scale shape: the dot products are JVM expressions (zip_with +
    aggregate fold — no Python), the self-join is an equi-join on cell
    (no CartesianProduct), and the cell frame is cut once (session.stable)
    so Catalyst does not re-derive the quantizer per join side. At 100 TB
    raise n_planes so cells stay executor-sized (2^n_planes cells) and
    let AQE split residual skew; the keep rule (min id in cell wins) is
    associative, so the per-cell pair scan is map-side combinable.

    Sign stability: min |dot| across the test corpus is ~7e-4 versus
    ~1e-13 float64 summation-order noise, so both engines always agree on
    the cell bit.
    """
    from .similarity import _hyperplanes, cosine_expr, with_norm

    dvec = f"transform({vec_col}, x -> cast(x as double))"
    terms = []
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        lit = "array(" + ", ".join(repr(float(x)) for x in plane) + ")"
        dot = f"aggregate(zip_with({dvec}, {lit}, (x, y) -> x * y), 0.0D, (a, v) -> a + v)"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    cells = df.select(
        F.col(id_col), F.col(vec_col), F.expr(" + ".join(terms)).cast("long").alias("cell")
    )
    cells = with_norm(cells, vec_col).transform(stable, eager=False)
    a = cells.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), F.col("_norm").alias("_na"), "cell"
    )
    b = cells.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), F.col("_norm").alias("_nb"), "cell"
    )
    survivors = (
        a.join(b, "cell")
        .where(F.col("_ida") > F.col("_idb"))
        .withColumn("_cos", F.round(cosine_expr("_va", "_vb", "_na", "_nb"), 4))
        .where(F.col("_cos") >= threshold)
        .groupBy(F.col("_ida").alias(id_col))
        .agg(F.min("_idb").alias("keeper"))
    )
    return cells.join(survivors, id_col, "left").select(
        id_col,
        "cell",
        F.when(F.col("keeper").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("dropped"),
        F.coalesce(F.col("keeper"), F.lit(-1)).alias("keeper"),
    )


def dedup_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 4,
) -> DataFrame:
    """C4-style corpus-wide span dedup (Raffel et al. 2020 §2.2 —
    "deduplicate three-sentence spans ... keeping only ONE occurrence in
    the corpus"): the text is cut into consecutive `span_tokens`-token
    spans, every span keeps only its globally FIRST occurrence (ordered
    by (doc id, position)), and each document is reassembled from its
    surviving spans.

    Returns (id, n_kept, n_dropped, clean_hash) — clean_hash is the md5
    of the reassembled text so the transformation is value-checked
    byte-for-byte cross-engine without shipping the full text through
    the compare.

    Scale shape: ONE corpus-scale partial aggregate finds each span's
    first occurrence (min struct — map-side combinable, so a
    mega-duplicated span arrives at its reducer as one row per map
    partition, not one per occurrence: skew-safe where a window
    PARTITION BY span would hot-spot), one equi-join re-attaches the
    keeper to the exploded spans, one per-doc aggregate reassembles.
    No self-join of the corpus, no unpartitioned window.
    """
    k = int(span_tokens)
    spans = docs.selectExpr(
        f"{id_col} as id",
        f"""posexplode(transform(
                sequence(0, int(ceil(size(split({text_col}, ' ')) / {k}.0)) - 1),
                i -> array_join(slice(split({text_col}, ' '), i * {k} + 1, {k}), ' ')
            )) as (idx, span)""",
    )
    firsts = spans.groupBy("span").agg(
        F.min(F.struct("id", "idx")).alias("_keeper")
    )
    flagged = spans.join(firsts, "span").withColumn(
        "_keep", F.struct("id", "idx") == F.col("_keeper")
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.sum(F.col("_keep").cast("int")).alias("n_kept"),
            F.sum((~F.col("_keep")).cast("int")).alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("_keep"), F.struct("idx", "span"))
                            )
                        ),
                        lambda s: s["span"],
                    ),
                    " ",
                )
            ).alias("clean_hash"),
        )
    )


def bloom_probe(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter-gated decontamination probe — the pruning pattern a
    100 TB pipeline runs BEFORE the exact n-gram join
    (contamination_stats): the eval set's n-grams set k bits each in an
    m-bit filter; the corpus scan tests its windows against the filter
    and only bloom-positive windows reach the exact check. This probe
    measures the filter's REALIZED precision on the corpus: per doc,
    window count, bloom positives, exact positives, false positives and
    the false-positive share — the numbers that size m/k for the real
    run. Returns docs with >= 1 bloom-positive window.

    Hashes are the cross-engine char fold (ops.hashing) so an external
    oracle rebuilds the identical filter. Here the filter rides as a
    broadcast frame of set-bit positions probed by k map-side broadcast
    joins (no bitmap type in the DataFrame model; at cluster scale the
    same positions pack into an m-bit bitmap broadcast once and the
    probe is a bit test). Shape: corpus scanned ONCE, k+1 broadcast
    joins, ONE per-doc partial agg — no corpus shuffle before the agg."""
    from .hashing import char_fold_spark

    def pos_expr(i: int):
        fold = char_fold_spark(f"concat(shingle, '#{i}')")
        return F.expr(f"pmod({fold}, {m_bits}L)").alias(f"p{i}")

    ev = (
        word_shingles(eval_df.select(text_col), text_col, n)
        .select("shingle")
        .distinct()
        .transform(stable, eager=False)  # reused by the filter build + exact join
    )
    bits = (
        ev.select(*[pos_expr(i) for i in range(k)])
        .select(F.explode(F.array(*[F.col(f"p{i}") for i in range(k)])).alias("bit"))
        .distinct()
    )
    sh = word_shingles(
        fanout_to_parallelism(corpus, id_col, text_col), text_col, n
    ).select(id_col, "shingle")
    probed = sh.select(id_col, "shingle", *[pos_expr(i) for i in range(k)])
    for i in range(k):
        probed = probed.join(
            F.broadcast(
                bits.select(F.col("bit").alias(f"p{i}"), F.lit(1).alias(f"_h{i}"))
            ),
            f"p{i}",
            "left",
        )
    bloom = None
    for i in range(k):
        c = F.col(f"_h{i}").isNotNull()
        bloom = c if bloom is None else (bloom & c)
    flagged = probed.join(
        F.broadcast(ev.withColumn("_e", F.lit(1))), "shingle", "left"
    ).select(
        id_col,
        bloom.cast("int").alias("_bloom"),
        F.coalesce("_e", F.lit(0)).alias("_exact"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum("_bloom").alias("n_bloom_pos"),
            F.sum("_exact").alias("n_exact_pos"),
            F.sum(
                (F.col("_bloom") == 1).cast("int") * (1 - F.col("_exact"))
            ).alias("n_false_pos"),
        )
        .where(F.col("n_bloom_pos") > 0)
        .withColumn(
            "fp_share",
            F.round(F.col("n_false_pos") / F.col("n_bloom_pos").cast("double"), 6),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    mask_bits: int = 6,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup — the storage-side dedup
    family (LBFS/Gear/FastCDC): split each document at positions where a
    rolling content hash hits a mask, so an insertion early in a doc
    shifts chunk boundaries only locally and shared tails still dedup
    (exact-hash dedup catches only whole-doc copies; CDC catches shared
    REGIONS, e.g. boilerplate headers and license blocks).

    Rolling hash (Gear-style, both engines replay it exactly):

      g(c)  = (ascii(c) * 2654435761) mod 2^32          (Knuth mixer)
      h_i   = sum_{j=0..window-1} g(t[i-j]) * 2^j        (recency-weighted)
      cut after i  iff  i >= window, i < len, h_i mod 2^mask_bits == 0

    so the expected chunk length is 2^mask_bits chars. Chunk identity is
    md5(chunk text); a chunk is SHARED when its hash occurs in >= 2
    distinct docs. Per doc: chunk count, shared-chunk count, shared
    fraction.

    Plan shape: the boundary scan is one Arrow-batched mapInPandas whose
    kernel vectorizes across the WHOLE batch (all docs' bytes
    concatenate into one numpy array, one convolution computes every
    rolling hash, per-doc prefixes are masked out) — per-char Python
    never runs, per-chunk work is a bounded md5 loop. The only shuffles
    are the chunk-hash frequency aggregate (map-side combinable) and its
    broadcast-shaped re-attach; both key on the 128-bit chunk hash, so
    skew is bounded by the true duplication factor, same story as
    exact_dup_groups."""
    import numpy as np
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    mask = (1 << mask_bits) - 1
    weights = [1 << j for j in range(window)]

    def chunker(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, hashes, idxs = [], [], []
            texts = [(t or "").lower() for t in pdf[text_col]]
            if texts:
                lens = np.array([len(t) for t in texts], dtype=np.int64)
                blob = np.frombuffer(
                    "".join(texts).encode("latin1"), dtype=np.uint8
                ).astype(np.int64)
                g = (blob * 2654435761) % (1 << 32)
                conv = np.convolve(g, np.array(weights, dtype=np.int64))
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                for did, t, s, L in zip(pdf[id_col], texts, starts, lens):
                    if L == 0:
                        continue
                    # h at 0-based local position p lives at conv[s + p];
                    # positions p < window-1 mix the previous doc's bytes
                    # -> excluded by the p >= window - 1 guard anyway
                    p = np.arange(window - 1, L - 1)
                    h = conv[s + p]
                    cuts = (p + 1)[(h & mask) == 0]
                    bounds = [0, *cuts.tolist(), int(L)]
                    for ci in range(len(bounds) - 1):
                        ids.append(did)
                        idxs.append(ci)
                        hashes.append(
                            hashlib.md5(
                                t[bounds[ci]: bounds[ci + 1]].encode()
                            ).hexdigest()
                        )
            yield pd.DataFrame({id_col: ids, "chunk_idx": idxs, "chash": hashes})

    chunks = df.select(id_col, text_col).mapInPandas(
        chunker, f"{id_col} long, chunk_idx int, chash string"
    )
    chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
    freq = chunks.groupBy("chash").agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    return (
        chunks.join(freq, "chash")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum((F.col("n_docs") >= 2).cast("bigint")).alias("n_shared"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_chunks"), 6).alias("shared_frac"),
        )
    )


def semantic_threshold_curve(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    thresholds=(0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60),
    n_planes: int = 4,
    seed: int = 911,
) -> DataFrame:
    """SemDeDup epsilon sweep: the tuning curve every dedup rollout needs
    before committing to a threshold — for each candidate cosine cutoff,
    how many in-cell near-dup pairs fire and how many vectors would be
    dropped (min-id survivor rule, same as semantic_dedup). The in-cell
    pair cosines are computed ONCE (same seeded sign-quantizer cells and
    4-dp rounding as semantic_dedup, so the oracle re-derives them
    exactly); the sweep then explodes a literal threshold array over the
    pair frame — ONE extra |pairs| x |thresholds| Project + one partial
    agg, instead of re-running the pair join per candidate."""
    from .similarity import _hyperplanes, cosine_expr, with_norm

    dvec = f"transform({vec_col}, x -> cast(x as double))"
    terms = []
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        lit = "array(" + ", ".join(repr(float(x)) for x in plane) + ")"
        dot = f"aggregate(zip_with({dvec}, {lit}, (x, y) -> x * y), 0.0D, (a, v) -> a + v)"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    cells = df.select(
        F.col(id_col), F.col(vec_col), F.expr(" + ".join(terms)).cast("long").alias("cell")
    )
    cells = with_norm(cells, vec_col).transform(stable, eager=False)
    a = cells.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"),
        F.col("_norm").alias("_na"), "cell",
    )
    b = cells.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"),
        F.col("_norm").alias("_nb"), "cell",
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("_ida") > F.col("_idb"))
        .select("_ida", F.round(cosine_expr("_va", "_vb", "_na", "_nb"), 4).alias("_cos"))
    )
    # D-suffix: a bare 0.3 literal is DECIMAL under ANSI — the sweep
    # column must be DOUBLE to hash-match the oracle
    tlit = "array(" + ", ".join(f"{float(t)!r}D" for t in thresholds) + ")"
    swept = pairs.select(
        "_ida", "_cos", F.explode(F.expr(tlit)).alias("threshold")
    ).withColumn("_hit", (F.col("_cos") >= F.col("threshold")).cast("int"))
    # corpus size folds in as a one-row broadcast (no driver round-trip)
    n_total = df.agg(F.count("*").alias("_n"))
    return (
        swept.groupBy("threshold")
        .agg(
            F.sum("_hit").cast("bigint").alias("n_pairs"),
            F.countDistinct(F.when(F.col("_hit") == 1, F.col("_ida"))).alias("n_dropped"),
        )
        .join(F.broadcast(n_total))
        .select(
            "threshold",
            "n_pairs",
            F.col("n_dropped").cast("bigint").alias("n_dropped"),
            F.round(F.col("n_dropped") / F.col("_n"), 6).alias("drop_rate"),
        )
    )
