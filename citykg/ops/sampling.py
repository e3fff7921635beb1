"""Training-data sampling operators: deterministic split assignment,
stratified sampling, and global shuffle order.

A 100 TB training-data pipeline cannot use RNG state for any of these —
a retried partition must land every row in the same split/sample/position
(the resume invariant of the north_rule), and an auditor must be able to
recompute the assignment from the row alone. All three operators therefore
key on the cross-engine content hash (citykg.ops.hashing): assignment is a
pure function of (id, seed), evaluated JVM-side as one Project — no RNG,
no driver state, no shuffle except where ordering itself demands one.

Scale shapes:
* with_split          — scan-side Project (zero shuffles); split fractions
                        hold to ~hash uniformity (±0.1% at 10^6 rows).
* stratified_sample   — scan-side filter (zero shuffles); per-label keep
                        fraction via hash threshold, exact + deterministic.
* global_shuffle_rank — ONE range-partitioned sort on the hash (Spark's
                        orderBy = sample-based range exchange): the
                        standard "shuffle the corpus once before training"
                        step; deterministic tie-break on the id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import stable
from .hashing import POLY_P, char_fold_spark

# bucket space for split/sample thresholds: large enough that fraction
# granularity (1e-6) is far below hash-uniformity noise
_BUCKETS = 1_000_000


def _bucket_expr(id_col: str, seed: int) -> str:
    keyed = f"concat(cast({id_col} as string), '#', '{seed}')"
    return f"pmod({char_fold_spark(keyed)}, {_BUCKETS}L)"


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 42,
    out: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash bucket: weights
    {'train': .9, 'val': .05, 'test': .05} carve [0, 1e6) into
    consecutive ranges. Pure Project — the assignment never changes under
    retry, repartition, or resume."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    cum, cases = 0.0, []
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        cases.append((int(cum * _BUCKETS), name))
    b = _bucket_expr(id_col, seed)
    expr = f"CASE "
    for hi, name in cases:
        expr += f"WHEN {b} < {hi} THEN '{name}' "
    expr += f"ELSE '{items[-1][0]}' END"
    return df.withColumn(out, F.expr(expr))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    label_col: str = "label",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep each row with its label's fraction, deterministically:
    hash_bucket(id) < fraction * 1e6. Labels absent from `fractions` are
    dropped (sampleBy semantics). Scan-side filter, zero shuffles."""
    b = _bucket_expr(id_col, seed)
    lit = lambda v: f"'{v}'" if isinstance(v, str) else str(v)  # noqa: E731
    conds = [
        f"({label_col} = {lit(label)} AND {b} < {int(frac * _BUCKETS)})"
        for label, frac in fractions.items()
    ]
    return df.where(F.expr(" OR ".join(conds)))


def _shuffle_key_expr(id_col: str, seed: int) -> str:
    keyed = f"concat(cast({id_col} as string), '#', '{seed}')"
    return char_fold_spark(keyed)


def global_shuffle(df: DataFrame, id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic global permutation of the corpus: sort by
    (hash(id, seed), id) — the standard shuffle-once-before-training step.
    Spark executes this as ONE sample-based range exchange + per-partition
    sort, fully parallel; the id tie-break makes the order total and
    resume-stable even under hash collisions. This is the scale path —
    it yields an ORDER, not a materialized contiguous rank."""
    h = F.expr(_shuffle_key_expr(id_col, seed))
    return df.orderBy(h, F.col(id_col))


def global_shuffle_rank(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    out: str = "shuffle_rank",
    n_buckets: int = 64,
) -> DataFrame:
    """Materialized 1-based position in the global_shuffle order, computed
    as a two-pass partition-offset rank — no unpartitioned window, no
    single-task stage:

    1. bucket = h div ceil(P/B): an EXPLICIT range partition of the hash
       key (monotone in h, so (bucket, h, id) order == (h, id) order).
       Logical buckets, not spark_partition_id, so the result is
       deterministic under AQE coalescing / resume / any physical layout.
    2. per-bucket counts (map-side combinable, B rows) -> cumulative
       offsets via a window over the B-row frame (O(B) driver-side work,
       B ~ thousands at 100 TB — not a data-sized stage).
    3. rank = broadcast-joined bucket offset + row_number within the
       bucket (hash shuffle on bucket: one parallel exchange of the
       corpus, each task sorts only its bucket).

    The hash key is uniform, so buckets are balanced by construction;
    size B to ~corpus_rows/10M per bucket at scale."""
    from .hashing import POLY_P

    step = POLY_P // n_buckets + 1
    h = F.expr(_shuffle_key_expr(id_col, seed))
    b = df.withColumn("_h", h).withColumn("_bkt", (F.col("_h") / F.lit(step)).cast("long"))
    counts = b.groupBy("_bkt").agg(F.count("*").alias("_n"))
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0))).select(
        "_bkt", "_off"
    )
    rn_w = Window.partitionBy("_bkt").orderBy(F.col("_h"), F.col(id_col))
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .withColumn(out, (F.col("_off") + F.row_number().over(rn_w)).cast("int"))
        .drop("_h", "_bkt", "_off")
    )


def weighted_mix_rank(
    df: DataFrame,
    weight_col: str = "weight",
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int = 64,
    out: str = "mix_rank",
) -> DataFrame:
    """Weighted corpus mixing (the data-mixing step of a training
    pipeline): deterministically shuffle each source, then merge sources
    so that a source with weight w contributes ~w docs for every 1 doc of
    a weight-1 source — doc number i of source s lands at merge key
    (i - 1) / w_s, and `mix_rank` is the 1-based position in the merged
    stream. Deterministic end-to-end (content hash, no RNG), so a resumed
    or re-run job reproduces the identical training order.

    Scale shape: both ranks are two-pass partition-offset ranks (the
    global_shuffle_rank pattern) — per-source intra rank windows on
    (source, hash-bucket), the merge rank on a key-range bucket; the only
    driver-sized frames are the per-bucket count tables. No unpartitioned
    window anywhere, no single-task stage over the corpus."""
    from .hashing import POLY_P

    step = POLY_P // n_buckets + 1
    h = F.expr(_shuffle_key_expr(id_col, seed))
    b = df.withColumn("_h", h).withColumn(
        "_bkt", (F.col("_h") / F.lit(step)).cast("long")
    )
    counts = b.groupBy(source_col, "_bkt").agg(F.count("*").alias("_n"))
    off_w = (
        Window.partitionBy(source_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0))
    ).select(source_col, "_bkt", "_off")
    rn_w = Window.partitionBy(source_col, "_bkt").orderBy(F.col("_h"), F.col(id_col))
    intra = (
        b.join(F.broadcast(offsets), [source_col, "_bkt"])
        .withColumn("intra", (F.col("_off") + F.row_number().over(rn_w)).cast("int"))
        .drop("_h", "_bkt", "_off")
        .withColumn("_key", (F.col("intra") - 1) / F.col(weight_col))
        # two consumers (max agg + merge rank): materialize so the intra
        # pipeline runs once, not once per consumer
        .transform(stable, eager=False)
    )
    # merge rank: bucket by key range (monotone in _key); the range is
    # bounded by a one-row max agg broadcast back onto the frame
    mx = intra.agg(F.max("_key").alias("_mx"))
    keyed = intra.join(F.broadcast(mx)).withColumn(
        "_kbkt",
        (F.col("_key") / F.greatest(F.col("_mx") / n_buckets, F.lit(1e-9)))
        .cast("long"),
    ).transform(stable, eager=False)  # consumers: bucket counts + rank join
    kcounts = keyed.groupBy("_kbkt").agg(F.count("*").alias("_n"))
    koff_w = Window.orderBy("_kbkt").rowsBetween(Window.unboundedPreceding, -1)
    koffsets = kcounts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(koff_w), F.lit(0))
    ).select("_kbkt", "_off")
    krn_w = Window.partitionBy("_kbkt").orderBy(
        F.col("_key"), F.col(source_col), F.col("intra")
    )
    return (
        keyed.join(F.broadcast(koffsets), "_kbkt")
        .withColumn(out, (F.col("_off") + F.row_number().over(krn_w)).cast("int"))
        .drop("_key", "_kbkt", "_off", "_mx")
    )


def stratified_cap(
    df: DataFrame,
    stratum_col: str,
    id_col: str = "doc_id",
    cap: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum cap: keep at most `cap` rows per stratum — the "no
    more than N documents per domain/source" rule every web corpus
    applies so head domains cannot dominate the mixture. Selection is
    deterministic and resume-stable: rows rank by md5(id # seed) inside
    their stratum (the same auditable content-hash policy as with_split;
    md5 because both engines share it bit-for-bit), so a retried
    partition keeps exactly the same rows and adding new docs to a
    stratum displaces only hash-later rows.

    Skew-safe shape: strata at or under the cap pass through with NO
    window at all — only oversized strata are ranked. The per-stratum
    count table (one row per stratum) broadcasts back onto the corpus,
    so under head-domain skew the expensive single-partition window
    touches exactly the head strata's rows and the long tail streams
    through a filter."""
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    flagged = df.join(F.broadcast(counts), stratum_col)
    small = flagged.where(F.col("_n") <= cap).drop("_n")
    rk = F.md5(F.concat_ws("#", F.col(id_col).cast("string"), F.lit(str(seed))))
    w = Window.partitionBy(stratum_col).orderBy(rk, F.col(id_col))
    big = (
        flagged.where(F.col("_n") > cap)
        .drop("_n")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )
    return small.unionByName(big)


def weighted_sample(
    df: DataFrame,
    k: int = 500,
    id_col: str = "doc_id",
    weight_expr: str = "greatest(length(text), 1)",
    seed: int = 7,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    A-ES scheme (IPL 2006): each row draws u in (0, 1] from the
    cross-engine content hash and keeps key = ln(u) / w; the k largest
    keys ARE a weight-proportional sample without replacement (their
    u^(1/w) form, monotone-equivalent under ln). Deterministic end to
    end — no RNG, so retry/resume re-selects the identical sample.

    Scale shape: key is a pure Project; the top-k executes as
    TakeOrderedAndProject (per-partition heap of k, then a driver merge
    of P*k rows) — NO full sort exchange, the same physics as a LIMIT.
    Keep k small relative to the partition count times memory; for
    corpus-scale k, switch to the global_shuffle_rank range machinery.

    Returns (id, w, key) with key rounded to 6 dp; the (key, id)
    ordering is total, so the cut is unambiguous cross-engine."""
    keyed = f"concat(cast({id_col} as string), '#ws#', '{seed}')"
    u = f"(({char_fold_spark(keyed)}) + 1.0) / {POLY_P + 1}.0"
    key = f"ln({u}) / ({weight_expr})"
    return (
        df.selectExpr(
            f"{id_col} as id",
            f"cast({weight_expr} as bigint) as w",
            f"round({key}, 6) as key",
            f"{key} as _k",
        )
        .orderBy(F.col("_k").desc(), F.col("id"))
        .limit(k)
        .drop("_k")
    )


def gumbel_topk(
    df: DataFrame,
    score_col: str,
    k: int = 200,
    tau: float = 1.0,
    id_col: str = "id",
    seed: int = 11,
) -> DataFrame:
    """Sampling WITHOUT replacement from the softmax of `score_col` via
    the Gumbel-max trick (top-k of score/tau + Gumbel noise IS a sample
    from softmax(score/tau); Vieira 2014, Kool et al. 2019) — the
    standard way to turn importance log-weights (e.g. ops.text.
    dsir_weights) into a temperature-controlled resample. Deterministic:
    the Gumbel draw -ln(-ln(u)) uses u from the cross-engine content
    hash, so retry/resume re-selects the identical sample.

    Same physics as weighted_sample: pure-Project keys, top-k as
    TakeOrderedAndProject (per-partition heap + driver merge of P*k),
    no full sort exchange."""
    keyed = f"concat(cast({id_col} as string), '#g#', '{seed}')"
    u = f"(({char_fold_spark(keyed)}) + 1.0) / {POLY_P + 1}.0"
    key = f"{score_col} / {tau}D + -ln(-ln({u}))"
    return (
        df.selectExpr(
            f"{id_col} as id",
            f"{score_col} as score",
            f"round({key}, 6) as key",
            f"{key} as _k",
        )
        .orderBy(F.col("_k").desc(), F.col("id"))
        .limit(k)
        .drop("_k")
    )
