"""Structured Streaming ingestion (the reference's file-watcher agent,
CityImportAgent.listenToImport:238-264, re-expressed as a readStream).

The reference polls a directory and kicks a chunk pipeline per file; in
Spark that is exactly `readStream` over the landing directory with the SAME
batch extraction plan applied per micro-batch, checkpointed so restarts
resume at the last committed batch — the streaming twin of the manifest
resume in materialize.py.

Trigger.AvailableNow drains the backlog and stops (the agent's
one-shot import); omit for continuous tailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .extract import extract_triples
from .schema import DOC_SCHEMA
from .session import stable
from .vocab import DEFAULT_BASE


def stream_windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window_dur: str = "10 minutes",
    watermark_dur: str = "30 minutes",
) -> DataFrame:
    """Watermarked event-time windowed counts (late data beyond
    `watermark_dur` is dropped; a window emits once the watermark passes
    its end — the standard Structured Streaming pattern for the
    reference's per-type import counters, DBImportWorker.updateImportContext,
    under continuous arrival)."""
    from pyspark.sql import functions as F

    # event-time columns must be TIMESTAMP (watermarks reject NTZ)
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark_dur)
        .groupBy(F.window(ts_col, window_dur).alias("win"), F.col(key_col))
        .count()
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "count",
        )
    )


def stream_hll_registers(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    group_col: str,
    window_dur: str = "1 hour",
    watermark_dur: str = "2 hours",
    p: int = 8,
) -> DataFrame:
    """Watermarked streaming HyperLogLog register file per (event-time
    window, group): the sketch's merge is MAX per register — associative
    and commutative — so it rides the SAME watermarked windowed
    aggregation as a plain count, emitting each window's <=2^p register
    rows once the watermark closes it. This is the streaming half of
    the production distinct-count pattern: the stream ships registers,
    a batch fold (ops.sketch.hll_estimate) turns them into estimates —
    a stream-side COUNT(DISTINCT) would need unbounded state, the
    register file needs 2^p rows per open window, period."""
    from pyspark.sql import functions as F

    from .ops.sketch import hll_register_exprs

    bucket, rho = hll_register_exprs(f"cast({key_col} as string)", p=p)
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.select(
            ts_col, group_col, bucket.alias("bucket"), rho.alias("rho")
        )
        .withWatermark(ts_col, watermark_dur)
        .groupBy(F.window(ts_col, window_dur).alias("win"), group_col, "bucket")
        .agg(F.max("rho").alias("m_rank"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            group_col,
            "bucket",
            "m_rank",
        )
    )


def stream_cms_registers(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window_dur: str = "1 hour",
    watermark_dur: str = "2 hours",
    d: int = 3,
    w: int = 1024,
) -> DataFrame:
    """Watermarked streaming Count-Min counter matrix per event-time
    window: CMS's merge is SUM per (row, bucket) — associative and
    commutative — so, like the HLL register file above, it rides the
    standard watermarked windowed aggregation, emitting each closed
    window's <= d*w counter rows in append mode. This is the streaming
    half of the production heavy-hitter pattern: the stream ships a
    bounded counter matrix, a batch probe (ops.sketch.countmin_estimate
    per window) answers point queries — a stream-side exact per-key
    count needs state linear in distinct keys, the matrix needs d*w
    rows per open window, period."""
    from pyspark.sql import functions as F

    from .ops.sketch import md5_56_spark

    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    rows = stream_df.select(
        ts_col,
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("r"),
        F.col(key_col).cast("string").alias("_k"),
    )
    h = F.expr(md5_56_spark("concat('r', cast(r as string), '#', _k)"))
    return (
        rows.select(ts_col, "r", (h % w).alias("bucket"))
        .withWatermark(ts_col, watermark_dur)
        .groupBy(F.window(ts_col, window_dur).alias("win"), "r", "bucket")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "r",
            "bucket",
            "cnt",
        )
    )


def stream_sessionized(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    gap_dur: str = "30 minutes",
    watermark_dur: str = "2 hours",
) -> DataFrame:
    """Watermarked SESSION-window aggregation: per key, events closer
    than `gap_dur` merge into one session; a session emits (append mode)
    once the watermark passes its end (= last event + gap). This is the
    streaming twin of ops.temporal.sessionize — same gaps-and-islands
    semantics, but state-bounded and incremental: Spark merges windows
    in state, holding only OPEN sessions per key, and the watermark
    retires closed ones — the unbounded-state answer for clickstream
    sessionization the batch op cannot give.

    Output per closed session: (key, session_start, session_end,
    n_events) where session_end = last event ts + gap."""
    from pyspark.sql import functions as F

    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark_dur)
        .groupBy(F.session_window(ts_col, gap_dur).alias("sess"), F.col(key_col))
        .count()
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            F.col("count").alias("n_events"),
        )
    )


def stream_dedup_first_seen(stream_df: DataFrame, key_col: str) -> DataFrame:
    """Streaming UID-cache dedup (L1, UIDCache.lookupAndPut:80-100 as a
    stateful operator): per key, emit ONLY the first row ever seen across
    all micro-batches; later occurrences are swallowed. State is one flag
    per key, partitioned by the key — the exact semantics of the
    reference's in-memory gmlId cache, with Spark's state store standing
    in for the cache-table spill (L2)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream_df.schema

    def first_only(key, pdfs, state):
        if state.exists:
            for _ in pdfs:  # drain: the state API requires exhausting the batch iterator
                pass
            return
        state.update((1,))
        for pdf in pdfs:
            if len(pdf):
                yield pdf.head(1)
                break
        for _ in pdfs:  # drain the remaining batches of this key (see above)
            pass

    return stream_df.groupBy(key_col).applyInPandasWithState(
        first_only, out_schema, "seen int", "append", GroupStateTimeout.NoTimeout
    )


def stream_docs(spark: SparkSession, landing_dir: str, max_files_per_batch: int = 64) -> DataFrame:
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(landing_dir)
    )


def stream_extract_to_store(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    base: str = DEFAULT_BASE,
    available_now: bool = True,
):
    """landing docs parquet -> streaming triple extraction -> parquet sink.
    Returns the StreamingQuery (caller awaits termination)."""
    docs = stream_docs(spark, landing_dir)
    triples = extract_triples(spark, docs, base=base)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_epoch(
    batch_df: DataFrame, out_dir: str, epoch_id: int, n_buckets: int | None = None
) -> bool:
    """One idempotent micro-batch application (the foreachBatch body of
    stream_upsert_store, public so replay semantics are directly
    testable). Returns True if the batch was applied, False if it was
    skipped as already-committed (replay) or empty. `n_buckets` follows
    materialize.upsert_triples: the store's recorded bucket count wins."""
    from . import materialize as mat

    stage = f"upsert:epoch-{int(epoch_id)}"
    sp = batch_df.sparkSession
    committed = any(
        r.stage == stage and r.status == "done" for r in mat._manifest_rows(out_dir)
    )
    if committed or batch_df.isEmpty():
        return False
    mat.upsert_triples(
        sp, batch_df, out_dir, n_buckets=n_buckets,
        input_snapshot=f"epoch-{int(epoch_id)}",
    )
    return True


def stream_upsert_store(
    spark: SparkSession,
    stream_triples: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    available_now: bool = True,
):
    """Streaming re-import into the bucketed triple store: each
    micro-batch of triples is delete+append-upserted via
    materialize.upsert_triples inside foreachBatch — the streaming twin
    of the reference importer run against an existing database (a
    feature's new version replaces its previous rows; CityImportAgent
    keeps accepting files after the initial load).

    Exactly-once under replay: foreachBatch can re-deliver an epoch after
    a crash between the sink work and the offset-log commit. The store's
    own lineage manifest is the idempotence ledger — upsert_triples
    records stage `upsert:epoch-<id>` only AFTER its writes complete, so
    a replayed epoch whose stage is already present is skipped outright.
    A crash mid-upsert (rewrite and/or append partially visible,
    manifest row absent) is also safe to replay: the delete phase keys on
    the incoming batch's subject set, so it first removes any
    partially-written rows of those same subjects before re-writing them —
    the converged state is identical to a single clean application.
    (Iceberg: the same pattern keyed on a snapshot summary property /
    WAP commit id instead of the manifest stage.)

    Returns the StreamingQuery (caller awaits termination)."""
    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_epoch(batch_df, out_dir, epoch_id, n_buckets=n_buckets)

    writer = stream_triples.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _registry_current(registry_dir: str) -> str | None:
    """Resolve the committed registry snapshot name from the CURRENT
    pointer (None if no snapshot has ever committed)."""
    import os

    ptr = os.path.join(registry_dir, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip()


def read_registry(spark: SparkSession, registry_dir: str, what: str = "labels") -> DataFrame:
    """Read the committed canonical-entity registry (`what` = 'labels' or
    'hubs') at its CURRENT snapshot — the only supported read path; the
    versioned layout underneath is a commit-protocol detail."""
    import os

    current = _registry_current(registry_dir)
    if current is None:
        raise FileNotFoundError(f"no committed registry under {registry_dir}")
    return spark.read.parquet(os.path.join(registry_dir, current, what))


def stream_canonicalize(
    spark: SparkSession,
    landing_dir: str,
    registry_dir: str,
    checkpoint_dir: str,
    groups_fn,
    available_now: bool = True,
    max_files_per_batch: int = 64,
):
    """Streaming canonicalization: maintain the canonical-entity registry
    ACROSS micro-batches with canon.incremental_components — the streaming
    twin of the batch CC stage, and the shape a 10^12-doc deployment
    actually runs (per-batch global CC is unaffordable; folding each batch
    into the registry is O(batch + touched components)).

    Per micro-batch (foreachBatch, exactly-once via the checkpointed
    batch id + idempotent overwrite):
      1. `groups_fn(batch_docs) -> (entity_id, member)` — the caller's
         linking step (mentions joined to the gazetteer).
      2. bridge the batch to history: union the registry-side per-entity
         anchors (min member per entity, kept in `<registry_dir>/hubs`)
         so a known entity's new mentions connect to its existing
         component, then star-compress to edges.
      3. `incremental_components(registry, edges)` -> overwrite the
         registry + refreshed hubs.

    The registry lives as versioned parquet snapshots
    (`<registry_dir>/v<batch_id>/{labels,hubs}`) with a `CURRENT` pointer
    file flipped via atomic rename AFTER both writes commit — the parquet
    emulation of an Iceberg snapshot commit. A crash mid-write therefore
    never touches the live registry: readers keep seeing the previous
    version until the pointer flips, and replaying the batch (the write is
    deterministic) rebuilds the same snapshot (resume-safe during the
    write, not just between batches). Superseded versions older than the
    immediately-previous one are pruned after each successful flip."""
    import os

    from pyspark.sql import functions as F

    from . import canon

    def fold_batch(batch_docs: DataFrame, batch_id: int) -> None:
        groups = groups_fn(batch_docs).transform(stable)
        if groups.isEmpty():
            return
        sp = groups.sparkSession
        current = _registry_current(registry_dir)
        if current is not None:
            registry = sp.read.parquet(
                os.path.join(registry_dir, current, "labels")
            ).transform(stable)
            hubs = sp.read.parquet(os.path.join(registry_dir, current, "hubs"))
            bridged = groups.unionByName(
                hubs.select("entity_id", F.col("hub").alias("member"))
            )
            edges = canon.same_as_edges(bridged, "entity_id", "member")
            labels = canon.incremental_components(registry, edges)
        else:
            edges = canon.same_as_edges(groups, "entity_id", "member")
            labels = canon.connected_components(edges)
        labels = stable(labels)
        new_hubs = groups.groupBy("entity_id").agg(F.min("member").alias("hub"))
        if current is not None:
            old = sp.read.parquet(
                os.path.join(registry_dir, current, "hubs")
            ).transform(stable)
            new_hubs = (
                old.unionByName(new_hubs)
                .groupBy("entity_id")
                .agg(F.min("hub").alias("hub"))
            )
            new_hubs = stable(new_hubs)
        version = f"v{batch_id:012d}"
        vdir = os.path.join(registry_dir, version)
        labels.write.mode("overwrite").parquet(os.path.join(vdir, "labels"))
        new_hubs.write.mode("overwrite").parquet(os.path.join(vdir, "hubs"))
        # commit: write-temp + rename is atomic on POSIX, so the pointer
        # either still names the old snapshot or fully names the new one
        tmp = os.path.join(registry_dir, "CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, os.path.join(registry_dir, "CURRENT"))
        # prune snapshots older than the immediately-previous one
        versions = sorted(
            d for d in os.listdir(registry_dir)
            if d.startswith("v") and d != version
        )
        for stale in versions[:-1]:
            import shutil

            shutil.rmtree(os.path.join(registry_dir, stale), ignore_errors=True)

    docs = stream_docs(spark, landing_dir, max_files_per_batch)
    writer = docs.writeStream.foreachBatch(fold_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    lookback: str = "1 hour",
    watermark_dur: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each left event matches the
    right events with the same key whose timestamp falls in
    [left_ts - lookback, left_ts] — the attribution/enrichment join
    (click joined to its preceding views) under continuous arrival.

    Both sides carry watermarks and the join predicate carries the
    time-range bound; together they let Spark expire buffered state once
    the watermark passes a row's match horizon — the REQUIRED shape for
    an unbounded stream-stream join (without the range bound, state
    grows forever and Spark rejects append mode). State per key is
    bounded by (watermark + lookback) of events, so at 100 TB/day the
    join scales with the time horizon, not history.

    Under Trigger.AvailableNow on a staged corpus every row arrives
    before the final watermark advances, so the emitted set is EXACTLY
    the closed-form interval join — which is what the DuckDB oracle
    computes; the late-arrival drop semantics are the watermark's and
    are exercised by the windowed/dedup streaming tests."""
    from pyspark.sql import functions as F

    lw = left.withColumn(left_ts, F.col(left_ts).cast("timestamp")).withWatermark(
        left_ts, watermark_dur
    )
    rw = right.withColumn(right_ts, F.col(right_ts).cast("timestamp")).withWatermark(
        right_ts, watermark_dur
    )
    cond = (
        f"{right_ts} >= {left_ts} - INTERVAL {lookback} AND {right_ts} <= {left_ts}"
    )
    return lw.join(rw, F.expr(f"l_{key_col} = r_{key_col} AND {cond}"), "inner")
