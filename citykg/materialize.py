"""Stage 4 — materialize: bucketed triple-store writes with lineage
manifests and resume.

Production target is Iceberg `PARTITIONED BY (graph, bucket(N, subj))` with
snapshot-atomic appends; this sandbox has no Iceberg runtime, so the same
layout is expressed as parquet `partitionBy(graph, bucket)` where
bucket = pmod(xxhash64(subj), N) — identical co-location semantics (every
later join/agg on subj is shuffle-free within a bucket) and a drop-in swap
to `df.writeTo(tbl).append()` on a real cluster.

Resumability (north_rule): work is unit-ized by bucket. Each completed
bucket appends one manifest row (MANIFEST_SCHEMA: stage, partition_range,
row_count, status, attempt, wall_ms). `completed_buckets` reads the
manifest so a re-run recomputes ONLY missing buckets — the reference's
chunk-wise agent pipeline (CityImportAgent.importChunk) with Spark tasks
instead of subprocess chains.

Store metadata stays on the driver, as Iceberg's does: the manifest is
written and read with pyarrow (`_append_manifest`, `_manifest_rows`),
every commit records the table spec (schema, bucket count, sort order,
snapshot id) in `metadata.json` (store.ParquetStoreAdapter.commit_spec),
and store reads open with the recorded schema and discover partitions
on the driver (store.ParquetStoreAdapter.read), so opening, upserting
and compacting the store start no schema-inference job, none per
partition and none per manifest row.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import namedtuple

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .schema import MANIFEST_SCHEMA
from .session import arrow_table, local_frame, stable
from .store import ParquetStoreAdapter, table_schema

DEFAULT_BUCKETS = 64


def bucket_of(subj: Column, n_buckets: int) -> Column:
    """The store's bucket of `subj`: pmod(xxhash64(subj), N) as int. The
    one hash expression: writes partition rows by it, and agent lookups
    apply it to literal IRIs, which Spark folds to constant partition
    filters."""
    return F.pmod(F.xxhash64(subj), F.lit(n_buckets)).cast("int")


def with_bucket(triples: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return triples.withColumn("bucket", bucket_of(F.col("subj"), n_buckets))


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


ManifestRow = namedtuple("ManifestRow", MANIFEST_SCHEMA.fieldNames())


def _manifest_rows(out_dir: str) -> list[ManifestRow]:
    """Every manifest row of the store, read with pyarrow on the driver
    (no Spark job). Reads each `*.parquet` file under MANIFEST_SCHEMA, so
    files Spark wrote into `_manifest` (older stores) read beside
    driver-written ones; the `.<uuid>.tmp` file of an unfinished append
    is skipped, as Spark and DuckDB's `*.parquet` glob skip it."""
    p = manifest_path(out_dir)
    if not os.path.isdir(p):
        return []
    files = [os.path.join(p, f) for f in sorted(os.listdir(p)) if f.endswith(".parquet")]
    table = pads.dataset(
        files, schema=to_arrow_schema(MANIFEST_SCHEMA), format="parquet"
    ).to_table()
    return [ManifestRow(*r) for r in zip(*(c.to_pylist() for c in table.columns))]


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage manifest as a DataFrame: the driver-read rows as one
    LocalRelation (empty, with MANIFEST_SCHEMA, for a store without one)."""
    return local_frame(spark, _manifest_rows(out_dir), MANIFEST_SCHEMA)


def completed_buckets(spark: SparkSession, out_dir: str, stage: str) -> set[int]:
    return {
        int(r.partition_range)
        for r in _manifest_rows(out_dir)
        if r.stage == stage and r.status == "done"
    }


def _append_manifest(out_dir: str, rows: list[tuple]) -> None:
    """Commit `rows` (MANIFEST_SCHEMA tuples) as one new manifest file,
    written by pyarrow on the driver (no Spark job): the file is written
    under a dot-prefixed temp name that every reader skips, then made
    visible by one atomic rename — a crash leaves either no new rows or
    all of them (Iceberg: the driver-side manifest-list commit)."""
    p = manifest_path(out_dir)
    os.makedirs(p, exist_ok=True)
    name = uuid.uuid4().hex
    tmp = os.path.join(p, f".{name}.tmp")
    pq.write_table(arrow_table(rows, MANIFEST_SCHEMA), tmp)
    os.rename(tmp, os.path.join(p, f"part-{name}.parquet"))


def _adapter(spark: SparkSession, out_dir: str):
    """The storage seam: ALL physical triple-table IO flows through
    citykg.store.ParquetStoreAdapter — the one-class swap surface for a
    real Iceberg catalog (store.py documents the 1:1 method mapping;
    tests/test_store_conformance.py pins the shared semantics)."""
    return ParquetStoreAdapter(spark, out_dir)


def drop_store(spark: SparkSession, out_dir: str) -> None:
    """Remove the store at `out_dir`: its data files, its manifest and
    its table metadata."""
    adapter = _adapter(spark, out_dir)
    shutil.rmtree(adapter.path, ignore_errors=True)
    shutil.rmtree(manifest_path(out_dir), ignore_errors=True)
    if os.path.exists(adapter.metadata_path):
        os.remove(adapter.metadata_path)


def _columns(schema) -> list[tuple[str, str]]:
    return sorted((f.name, f.dataType.simpleString()) for f in schema.fields)


def _check_spec(adapter, n_buckets: int | None, triples: DataFrame | None = None) -> int:
    """The bucket count a commit writes with: the recorded one, else
    the caller's, else DEFAULT_BUCKETS. Raises ValueError, before
    anything is written, when `n_buckets` or the columns of `triples`
    disagree with the recorded spec: rows hashed with another N land in
    buckets no lookup of their subject reads and leave old rows of that
    subject alive, and a store has one schema."""
    spec = adapter.spec()
    if spec is None:
        return n_buckets or DEFAULT_BUCKETS
    if n_buckets is not None and n_buckets != spec.n_buckets:
        raise ValueError(
            f"store {adapter.root} is recorded with {spec.n_buckets} buckets, "
            f"not {n_buckets}"
        )
    if triples is not None:
        got = _columns(table_schema(with_bucket(triples, spec.n_buckets)))
        if got != _columns(spec.schema):
            raise ValueError(
                f"columns {got} differ from the schema recorded for store "
                f"{adapter.root}: {_columns(spec.schema)}"
            )
    return spec.n_buckets


def _record_commit(adapter, created: bool, bucketed: DataFrame | None = None,
                   n_buckets: int | None = None) -> None:
    """Record a commit in metadata.json, before its manifest rows (a
    reader that sees the rows sees the spec): a store that has the file
    gets the next snapshot id; a commit that created the table writes the
    first, with `bucketed`'s schema and `n_buckets`. A store written
    without the file stays without it, since its N is unknown."""
    spec = adapter.spec()
    if spec is not None:
        adapter.commit_spec(spec.schema, spec.n_buckets, spec.snapshot_id + 1)
    elif created:
        adapter.commit_spec(table_schema(bucketed), n_buckets, 1)


def write_triples(
    spark: SparkSession,
    triples: DataFrame,
    out_dir: str,
    stage: str = "materialize",
    n_buckets: int | None = None,
    input_snapshot: str = "",
    bucket_group: int = 8,
    fail_after_groups: int | None = None,
) -> None:
    """Bucketed, manifest-tracked, resumable write.

    Buckets are processed in groups of `bucket_group` (one Spark write
    each); a group commits its data THEN its manifest rows, so a crash
    between the two re-does at most one group (idempotent: the data dir
    for a bucket is overwritten on retry via dynamic partition overwrite).

    Either way the adapter clusters each write by (graph, bucket), so a
    load leaves one subject-sorted file per partition, and the per-bucket
    manifest counts come from parquet FOOTER metadata (no recompute).

    `bucket_group=None` selects the SINGLE-PASS bulk load: one write job
    over the whole frame, no cache. The grouped path persists the triple
    frame and re-reads it per group — fine when
    resume granularity matters, but at a 100 TB fresh load that cache is
    itself a corpus-sized materialization; the bulk path touches the
    data exactly once and leans on Spark task-level retry instead
    (resume granularity = the whole load: nothing is marked done until
    the one commit lands, so a crashed bulk load simply re-runs).

    `n_buckets` defaults to the store's recorded bucket count (a fresh
    store: DEFAULT_BUCKETS); one that disagrees with it raises
    ValueError, as do columns that differ from the recorded schema.

    `fail_after_groups` injects a crash for the resume test.
    """
    adapter = _adapter(spark, out_dir)
    n_buckets = _check_spec(adapter, n_buckets, triples)
    created = not adapter.exists()
    done = completed_buckets(spark, out_dir, stage)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return
    if bucket_group is None:
        if done:
            raise ValueError(
                "single-pass bulk write cannot resume a partially-written "
                f"stage ({len(done)} buckets already done) — pass a "
                "bucket_group to finish with the grouped path"
            )
        t0 = time.time()
        bt = with_bucket(triples, n_buckets)
        adapter.overwrite_partitions(bt)
        counts = _bucket_counts(adapter, range(n_buckets))
        wall = int((time.time() - t0) * 1000)
        _record_commit(adapter, created, bt, n_buckets)
        _append_manifest(
            out_dir,
            [(stage, str(b), input_snapshot, counts.get(b, 0), "done", 1, wall)
             for b in range(n_buckets)],
        )
        return
    bt = with_bucket(triples, n_buckets).persist()
    try:
        groups = [todo[i : i + bucket_group] for i in range(0, len(todo), bucket_group)]
        for gi, grp in enumerate(groups):
            if fail_after_groups is not None and gi >= fail_after_groups:
                raise RuntimeError("injected failure for resume test")
            t0 = time.time()
            adapter.overwrite_partitions(bt.where(F.col("bucket").isin(grp)))
            counts = _bucket_counts(adapter, grp)
            wall = int((time.time() - t0) * 1000)
            attempt = 1
            _record_commit(adapter, created, bt, n_buckets)
            _append_manifest(
                out_dir,
                [
                    (stage, str(b), input_snapshot, counts.get(b, 0), "done", attempt, wall)
                    for b in grp
                ],
            )
    finally:
        bt.unpersist()


def _bucket_counts(adapter, buckets) -> dict[int, int]:
    """Rows per bucket of `buckets`, summed over graphs from parquet
    footers (the Iceberg files table): a metadata read, no Spark job."""
    want = set(buckets)
    counts: dict[int, int] = {}
    for g, b, _ in adapter.list_partitions():
        if b in want:
            counts[b] = counts.get(b, 0) + sum(adapter.file_counts(g, b).values())
    return counts


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return _adapter(spark, out_dir).read()


def upsert_triples(
    spark: SparkSession,
    triples: DataFrame,
    out_dir: str,
    n_buckets: int | None = None,
    input_snapshot: str = "",
) -> None:
    """Re-import semantics (the reference's importer against an existing
    DB: a feature's new version replaces its previous rows): delete every
    subject present in the incoming batch from the store and write the
    batch, as a new manifest-tracked stage keyed by the input snapshot.

    Each touched partition is written once: the batch is bucketed and
    cached, and its one aggregate counts its rows per (graph, bucket);
    one narrow scan of the batch's buckets finds the partitions where
    store rows die (`_delete_subjects_df`). Such a partition gets one
    overwrite file of its survivors plus its batch rows; one whose rows
    all die is replaced by its batch rows, or removed if the batch has
    none there. The batch rows of every other partition are appended,
    so a batch of new subjects rewrites no file (Iceberg: a copy-on-write
    DELETE + append in one transaction). Both stages' manifest rows
    (`upsert-delete:<snap>`, `upsert:<snap>`) land in one append AFTER
    the data, so a replay of a crashed upsert re-deletes and re-writes
    (streaming.upsert_epoch). The incoming subject set stays a DataFrame
    end-to-end — no driver-side collect of ids.

    What an upsert still pays: the aggregate, the dying-rows scan, the
    survivor pin and up to two writes (the overwrite and the append).

    The batch is bucketed with the store's recorded bucket count; an
    `n_buckets` or batch columns that disagree with the recorded spec
    raise ValueError before anything is written (`n_buckets` is used as
    given only for a store without the spec, DEFAULT_BUCKETS if None)."""
    t0 = time.time()
    adapter = _adapter(spark, out_dir)
    n_buckets = _check_spec(adapter, n_buckets, triples)
    created = not adapter.exists()
    # the batch is extracted ONCE: the aggregate fills the cache, and the
    # delete scan and the writes reuse it. A cache, not a checkpoint: the
    # cached relation reports its real size, so the planner can broadcast
    # the batch keys into the delete's joins (a checkpoint carries the
    # source plan's size estimate instead)
    bt = with_bucket(triples, n_buckets).persist()
    try:
        parts = {
            (r.graph, int(r.bucket)): int(r.n)
            for r in bt.groupBy("graph", "bucket").agg(F.count("*").alias("n")).collect()
        }
        if not parts:
            return
        counts: dict[int, int] = {}
        for (_, b), n in parts.items():
            counts[b] = counts.get(b, 0) + n
        rows: list[tuple] = []
        if created:
            adapter.append(bt)
        else:
            removed = _delete_subjects_df(
                spark, out_dir, bt, sorted(counts), drop_references=False,
                batch=(bt, set(parts)),
            )
            wall = int((time.time() - t0) * 1000)
            rows += [(f"upsert-delete:{input_snapshot}", str(b), "", n, "done", 1, wall)
                     for b, n in sorted(removed.items())]
        _record_commit(adapter, created, bt, n_buckets)
    finally:
        bt.unpersist()
    wall = int((time.time() - t0) * 1000)
    rows += [(f"upsert:{input_snapshot}", str(b), input_snapshot, n, "done", 1, wall)
             for b, n in sorted(counts.items())]
    _append_manifest(out_dir, rows)


def delete_subjects(
    spark: SparkSession,
    out_dir: str,
    subjects: list[str],
    n_buckets: int | None = None,
    drop_references: bool = True,
    stage: str = "delete",
) -> int:
    """The reference's delete operation (impexp-core citygml/deleter:
    per-object cascade delete via DBDeleteWorker) on the bucketed store:
    remove every triple OF the given subject IRIs — and, with
    `drop_references`, every triple POINTING AT them — by rewriting ONLY
    the (graph, bucket) partitions where a row dies. Subject bucketing
    bounds where a subject's rows can be; one narrow scan finds the exact
    partitions (partition-exact rewrite), and every other partition keeps
    its files byte-identical. Appends per-bucket manifest rows so the
    deletion is lineage-tracked like any other stage. Returns the number
    of rows removed.

    (On Iceberg this is a copy-on-write `DELETE FROM ... WHERE subj IN
    (...)`; the parquet emulation rewrites the touched partitions and
    clears partitions that become empty.)

    Subjects are bucketed with the store's recorded bucket count, as in
    upsert_triples.
    """
    adapter = _adapter(spark, out_dir)
    subj_b = with_bucket(
        local_frame(spark, [(s,) for s in subjects], "subj string"),
        _check_spec(adapter, n_buckets),
    )
    buckets = sorted(int(r.bucket) for r in subj_b.select("bucket").distinct().collect())
    if not buckets:
        return 0
    removed = _delete_subjects_df(
        spark, out_dir, subj_b, buckets, drop_references=drop_references
    )
    _record_commit(adapter, created=False)
    _append_manifest(
        out_dir,
        [(stage, str(b), "", n, "done", 1, 0) for b, n in sorted(removed.items())],
    )
    return sum(removed.values())


def _delete_subjects_df(
    spark: SparkSession,
    out_dir: str,
    subj_b: DataFrame,
    buckets: list[int],
    drop_references: bool = True,
    batch: tuple[DataFrame, set] | None = None,
) -> dict[int, int]:
    """DataFrame-core of delete_subjects and upsert_triples: remove the
    rows of every subject in `subj_b` (a frame with `subj` and its
    `bucket`, cheap to re-read; `buckets` lists its buckets) and, with `drop_references`,
    every row whose `obj` is one of them. Returns removed rows per bucket
    — every bucket of `buckets` plus any bucket a reference died in.

    Partition-exact rewrite:
    1. one narrow scan (subj, obj and the partition columns only) of the
       subjects' buckets — across EVERY graph, since a subject's old
       version can have rows in a graph its new version lacks — plus,
       with `drop_references`, of the whole store for referencing rows,
       grouped by (graph, bucket): the exact partitions where rows die
       and how many die in each;
    2. "before" counts from parquet footers (metadata, no data read);
    3. survivors are read only from the touched partitions where some
       rows survive, and each touched partition is rewritten once without
       its dying rows; one whose rows all die is removed. Nothing else is
       read or written.

    `batch` is an upsert's (bucketed rows, their (graph, bucket) set): its
    rows in a touched partition go into that partition's one rewritten
    file (so a partition whose rows all die is replaced by them, not
    removed), and its other rows are appended.

    The joins carry NO broadcast hint: callers pass a subject frame with
    accurate size stats (a local relation or a filled cache), so the
    planner broadcasts it when it fits and falls back to a shuffle join
    when a 100 TB-scale batch doesn't (a mandatory hint would OOM
    there)."""
    adapter = _adapter(spark, out_dir)
    t = adapter.read()
    keys = subj_b.select("subj", "bucket")
    objs = keys.select(F.col("subj").alias("obj"))
    dying = (
        t.where(F.col("bucket").isin(buckets))
        .select("subj", "graph", "bucket")
        .join(keys, ["subj", "bucket"], "left_semi")
        .select("graph", "bucket")
    )
    if drop_references:
        # referencing rows that are not already subject rows of a victim,
        # so a row matching both is counted once
        dying = dying.unionByName(
            t.select("subj", "obj", "graph", "bucket")
            .join(objs, "obj", "left_semi")
            .join(keys, ["subj", "bucket"], "left_anti")
            .select("graph", "bucket")
        )
    touched = {
        (r.graph, int(r.bucket)): int(r.n)
        for r in dying.groupBy("graph", "bucket").agg(F.count("*").alias("n")).collect()
    }
    removed = dict.fromkeys(buckets, 0)
    for (_, b), n in touched.items():
        removed[b] = removed.get(b, 0) + n
    before = {k: sum(adapter.file_counts(*k).values()) for k in touched}
    rewrite = [k for k, n in touched.items() if n < before[k]]
    new_rows, new_parts = batch or (None, set())
    shared = new_parts & touched.keys()
    # a partition whose rows all die and that gets no batch rows is
    # removed explicitly: dynamic overwrite only replaces partitions
    # present in the written frame (Iceberg's snapshot delete handles
    # this natively)
    cleared = [k for k in touched if k not in rewrite and k not in shared]
    rewritten = None
    if rewrite:
        keep = t.where(_partitions_pred(rewrite)).join(keys, ["subj", "bucket"], "left_anti")
        if drop_references:
            keep = keep.join(objs, "obj", "left_anti")
        # materialize the survivor set BEFORE touching the files it reads
        # from (the overwrite would otherwise invalidate the lazy plan's
        # file list)
        rewritten = stable(keep.select(*t.columns))
    into = rest = new_rows
    if shared and shared != new_parts:
        # a broadcast semi/anti join on the (graph, bucket) keys splits the
        # batch: an OR-chain filter over hundreds of partitions costs the
        # optimizer seconds of CPU
        split = local_frame(spark, sorted(shared), "graph string, bucket int")
        into = new_rows.join(split, ["graph", "bucket"], "left_semi")
        rest = new_rows.join(split, ["graph", "bucket"], "left_anti")
    if shared:
        into = into.select(*t.columns)
        rewritten = into if rewritten is None else rewritten.unionByName(into)
    if rewritten is not None:
        adapter.overwrite_partitions(rewritten)
    for g, b in cleared:
        shutil.rmtree(adapter.partition_dir(g, b))
    if new_parts - shared:
        adapter.append(rest)
    return removed


def _partitions_pred(keys):
    """Predicate selecting exactly the (graph, bucket) partitions `keys`:
    an OR-chain of per-column equality conjunctions, the canonical
    partition-filter shape every Spark version turns into
    PartitionFilters. (Spark 4.1 also prunes a struct(graph,
    bucket).isin([...]) spelling, but struct-isin pruning is newer and
    less portable; tests/test_store_conformance.py pins this shape.)"""
    pred = None
    for g, b in sorted(keys):
        term = (F.col("graph") == g) & (F.col("bucket") == b)
        pred = term if pred is None else (pred | term)
    return pred


def compact_store(
    spark: SparkSession,
    out_dir: str,
    stage: str = "compact",
    max_files_per_partition: int = 1,
    bucket_group: int = 16,
    fail_after_groups: int | None = None,
) -> list[tuple[str, int]]:
    """Small-file compaction (Iceberg `rewrite_data_files` with the
    table's sort order, binpack-to-one). Every write is clustered, so a
    load, a delete and an upsert's rewrite each leave one file per
    partition they write; files accumulate only where an upsert APPENDS
    rows of new subjects to a partition where nothing died (each file
    individually subj-sorted, but the scan pays per-file open cost and
    row-group pruning fragments). Compaction rewrites only partitions
    whose file count exceeds `max_files_per_partition`, restoring ONE
    subj-sorted file per partition.

    Scale posture: the needs-compaction decision is a metadata-only
    listing (Iceberg reads it from manifests; the parquet emulation lists
    partition dirs on the driver — no data is read). The rewrite itself
    is the adapter's clustered overwrite, so each partition lands wholly
    in one task -> one output file, with dynamic partition overwrite
    touching ONLY the compacted partitions. Processed in groups; resume
    after a mid-run crash needs no manifest consultation for the COMMON cases
    because it is decided by PHYSICAL state: a group whose overwrite
    committed leaves exactly one file per partition, so the file-count
    test alone excludes it, while a group that crashed pre-commit still
    exceeds the threshold and is redone (idempotent rewrite). Crucially
    this also means a partition re-fragmented by LATER upserts becomes
    eligible again — compaction is recurring maintenance, not
    once-per-stage-name.

    Crash-INSIDE-the-commit guard: dynamic partition overwrite in the
    parquet emulation is delete-then-rename, so a crash mid-commit can
    leave a partition holding a MIX of old and new files whose count
    lands at or below the threshold — duplicated rows the file-count
    test alone would accept. Each group therefore appends `pending`
    manifest rows carrying the EXPECTED per-partition row count before
    the overwrite, verifies the physical state (exactly one file whose
    parquet-footer row count equals the expected count — a metadata
    read, no data scan) before appending `done`, and on entry audits any
    `pending` without a matching `done`: a verified partition is closed,
    a mixed partition is REPAIRED by keeping the newest single file
    whose footer count equals the expected count and deleting the stale
    pre-compaction files, an intact pre-commit partition is re-queued,
    and genuine row loss (the delete won but the rename lost — the one
    state the emulation cannot undo; Iceberg's atomic snapshot commit
    exists precisely to make it unreachable) raises instead of passing
    silently. (`fail_after_groups` injects the crash for the resume
    test.) Returns the compacted (graph/bucket, n_files) list."""
    path = os.path.join(out_dir, "triples")
    adapter = _adapter(spark, out_dir)
    forced = _audit_pending_compactions(out_dir, stage, path)
    todo: list[tuple[str, int, int]] = [
        (g, b, n)
        for g, b, n in adapter.list_partitions()
        if n > max_files_per_partition or (g, b) in forced
    ]
    if not todo:
        return []
    compacted: list[tuple[str, int]] = []
    groups = [todo[i : i + bucket_group] for i in range(0, len(todo), bucket_group)]
    for gi, grp in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError("injected failure for compaction resume test")
        t0 = time.time()
        # materialize BEFORE the overwrite: the rewrite reads the very
        # files dynamic overwrite will delete (Iceberg's snapshot isolation
        # gives this for free; the parquet emulation pins the group in
        # executor memory first)
        part = stable(
            read_triples(spark, out_dir).where(_partitions_pred((g, b) for g, b, _ in grp))
        )
        # expected per-partition row counts from the pinned frame — the
        # write-ahead record the post-commit verify and any future resume
        # audit check the physical state against
        expected = {
            (r.graph, int(r.bucket)): int(r.cnt)
            for r in part.groupBy("graph", "bucket").agg(F.count("*").alias("cnt")).collect()
        }
        _append_manifest(
            out_dir,
            [(stage, f"{g}/{b}", "", expected.get((g, b), 0), "pending", 1, 0)
             for g, b, _ in grp],
        )
        adapter.overwrite_partitions(part)
        for g, b, _ in grp:
            counts = _parquet_footer_counts(os.path.join(path, f"graph={g}", f"bucket={b}"))
            if len(counts) != 1 or next(iter(counts.values())) != expected.get((g, b), 0):
                raise RuntimeError(
                    f"compaction verify failed for graph={g}/bucket={b}: "
                    f"files={counts}, expected one file of {expected.get((g, b), 0)} rows"
                )
        wall = int((time.time() - t0) * 1000)
        _record_commit(adapter, created=False)
        _append_manifest(
            out_dir,
            [(stage, f"{g}/{b}", "", expected.get((g, b), 0), "done", 1, wall)
             for g, b, _ in grp],
        )
        compacted.extend((f"{g}/{b}", n) for g, b, n in grp)
    return compacted


def _parquet_footer_counts(part_dir: str) -> dict[str, int]:
    """Per-file row counts from parquet FOOTER metadata — a pure
    metadata read (no column data is scanned), the emulation analog of
    Iceberg's per-data-file record_count manifest field."""
    out: dict[str, int] = {}
    if not os.path.isdir(part_dir):
        return out
    for f in sorted(os.listdir(part_dir)):
        if f.endswith(".parquet"):
            out[f] = pq.ParquetFile(os.path.join(part_dir, f)).metadata.num_rows
    return out


def _audit_pending_compactions(out_dir: str, stage: str, path: str) -> set[tuple[str, int]]:
    """Resume-time audit of compaction groups that appended `pending`
    but never reached `done` (crash inside or just after the overwrite
    commit). Per outstanding partition, decide from physical state +
    the recorded expected row count:

    - exactly one file with the expected rows -> the commit completed,
      only the manifest append was lost: close it with a `done` row;
    - several files where the NEWEST file alone holds the expected rows
      -> mixed old+new state (the mid-commit duplicate window): repair
      by deleting every other file, then close;
    - files summing to the expected rows with no complete single file
      -> the overwrite never started deleting; intact pre-commit state:
      re-queue for compaction (returned as forced keys);
    - anything else -> rows were lost mid-rename; raise. Restore the
      partition from the upstream stage (re-run the upsert batches) —
      this is the non-atomic window the parquet emulation documents and
      a real Iceberg commit removes.

    Counting `pending` vs closing (`done` | `failed`) rows per
    partition_range (instead of ordering manifest rows) keeps the check
    append-order-independent: every cycle contributes one pending and
    one closure (`failed` closes a crashed-pre-commit pending whose
    partition is simply re-queued)."""
    rows = [r for r in _manifest_rows(out_dir) if r.stage == stage]
    n_pending: dict[str, int] = {}
    n_done: dict[str, int] = {}
    exp: dict[str, set] = {}
    for r in rows:
        if r.status == "pending":
            n_pending[r.partition_range] = n_pending.get(r.partition_range, 0) + 1
            # several cycles can each leave a pending row for this
            # partition (upserts between cycles change the expected
            # count): keep the SET — the physical state decides which
            # cycle's expectation it matches
            exp.setdefault(r.partition_range, set()).add(int(r.row_count))
        elif r.status in ("done", "failed") and "/" in r.partition_range:
            n_done[r.partition_range] = n_done.get(r.partition_range, 0) + 1
    forced: set[tuple[str, int]] = set()
    closures: list[tuple] = []
    for pr, np_ in sorted(n_pending.items()):
        if np_ <= n_done.get(pr, 0):
            continue
        g, b = pr.split("/", 1)
        part_dir = os.path.join(path, f"graph={g}", f"bucket={b}")
        counts = _parquet_footer_counts(part_dir)
        expecteds = exp[pr]
        single_ok = len(counts) == 1 and next(iter(counts.values())) in expecteds
        if single_ok:
            closures.append((stage, pr, "", next(iter(counts.values())), "done", 2, 0))
            continue
        complete = [f for f, n in counts.items() if n in expecteds]
        if complete:
            keep = max(
                complete, key=lambda f: os.path.getmtime(os.path.join(part_dir, f))
            )
            for f in counts:
                if f != keep:
                    os.remove(os.path.join(part_dir, f))
            closures.append((stage, pr, "", counts[keep], "done", 2, 0))
        elif sum(counts.values()) in expecteds:
            # intact pre-commit state: close the dangling pending with a
            # `failed` lineage row and re-queue the partition
            closures.append((stage, pr, "", sum(counts.values()), "failed", 2, 0))
            forced.add((g, int(b)))
        else:
            raise RuntimeError(
                f"compaction crash corrupted graph={g}/bucket={b}: files hold "
                f"{sum(counts.values())} rows, manifest expected one of "
                f"{sorted(expecteds)}; rows were lost mid-commit — restore the "
                f"partition from the upstream stage (re-run its upsert batches) "
                f"before compacting again"
            )
    if closures:
        _append_manifest(out_dir, closures)
    return forced


def stage_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-stage rollup of the lineage manifest — the operator a resume
    coordinator or progress dashboard reads: (stage, n_partitions, rows,
    total_wall_ms, max_attempt, complete). One tiny-table aggregate."""
    from pyspark.sql import Window

    m = read_manifest(spark, out_dir)
    # a partition_range can carry several manifest rows for one stage
    # (retries, or two delete ops sharing the default stage name): reduce
    # to the LATEST attempt per (stage, partition_range) first, else a
    # doubly-reported partition masks a missing one and rows/wall double-count
    latest = (
        m.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("stage", "partition_range").orderBy(
                    F.col("attempt").desc(),
                    # explicit rank: a closure outranks its write-ahead
                    # 'pending' record, and 'done' outranks 'failed'
                    F.when(F.col("status") == "done", 2)
                    .when(F.col("status") == "failed", 1)
                    .otherwise(0)
                    .desc(),
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return latest.groupBy("stage").agg(
        F.countDistinct("partition_range").alias("n_partitions"),
        F.sum("row_count").alias("rows"),
        F.sum("wall_ms").alias("total_wall_ms"),
        F.max("attempt").alias("max_attempt"),
        (
            F.countDistinct(F.when(F.col("status") == "done", F.col("partition_range")))
            == F.countDistinct("partition_range")
        ).alias("complete"),
    )


def write_geometry_datatype_registry(spark: SparkSession, triples: DataFrame, out_dir: str) -> None:
    """The Blazegraph geo-datatype config side-channel
    (BlazegraphConfigBuilder.java:40-77) as a small metadata table of
    observed geometry literal shapes."""
    (
        triples.where(F.col("datatype").isNotNull())
        .select("datatype")
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "_geometry_datatypes"))
    )


def nquads_lines(triples: DataFrame, base: str | None = None) -> DataFrame:
    """S6: render triples as N-Quads lines (NquadsExporterTask.java:93-123;
    graph IRI = <base>/<graph>/ per the named-graph layout,
    SchemaManagerAdapter.java:168-181). Literal escaping follows the
    N-Triples grammar for the characters that can occur in our values
    (backslash first, then quote, LF, CR, TAB). Returns the input columns
    plus `line`; everything is one JVM-side Project (zero shuffles)."""
    from .vocab import DEFAULT_BASE, OCGML

    base = base or DEFAULT_BASE

    def esc(c):
        for search, repl in (
            ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")
        ):
            c = F.replace(c, F.lit(search), F.lit(repl))
        return c

    # ocgml: CURIEs expand against the ontology IRI; full-IRI predicates
    # (e.g. TBox triples from owlconvert) pass through unchanged
    pred_iri = F.when(
        F.col("pred").startswith("ocgml:"),
        F.concat(F.lit(OCGML), F.expr("substring(pred, 7)")),
    ).otherwise(F.col("pred"))
    line = F.concat(
        F.lit("<"), F.col("subj"), F.lit("> <"),
        pred_iri, F.lit("> "),
        F.when(F.col("obj_type") == "iri", F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
        .otherwise(
            F.concat(
                F.lit('"'), esc(F.col("obj")), F.lit('"'),
                F.when(
                    F.col("datatype").isNotNull(),
                    F.concat(F.lit("^^<"), F.col("datatype"), F.lit(">")),
                ).otherwise(F.lit("")),
            )
        ),
        F.lit(" <"), F.lit(base + "/"), F.col("graph"), F.lit("/> ."),
    )
    return triples.withColumn("line", line)


def export_nquads(triples: DataFrame, path: str, base: str | None = None) -> None:
    """S6 N-Quads export sink: formatted lines to text files (the .gz
    compression the reference applies is a codec option on a cluster)."""
    nquads_lines(triples, base).select(F.col("line").alias("value")).write.mode(
        "overwrite"
    ).text(path)


def turtle_blocks(triples: DataFrame, base: str | None = None) -> DataFrame:
    """Turtle rendering with same-subject grouping — the other RDF text
    serialization the exporter family offers next to N-Quads
    (NquadsExporterTask.java:93-123 is the line-per-statement form; Turtle
    is the predicate-list form of the same statements, W3C Turtle
    grammar `predicateObjectList`). One block per (graph, subj):

      <s> ocgml:p1 "v1" ;
          ocgml:p2 <iri2> .

    Predicates render as `ocgml:` CURIEs (the `@prefix` header is the
    reader-side contract, one constant line the writer prepends per
    file); objects follow the same IRI / escaped-literal / `^^`datatype
    rules as nquads_lines. Determinism: the predicate-object list sorts
    by (pred, rendered object) via array_sort on structs, so the block
    text is partition-order independent. Plan: one JVM Project to render
    each statement fragment, ONE map-side-combinable collect_list
    aggregate per (graph, subj), then a pure Project concatenates the
    block — no window, no driver collect; at 100 TB the aggregate
    partitions by subject hash exactly like the store layout, so the
    shuffle is the same one the bucketed write already pays."""
    from .vocab import OCGML

    def esc(c):
        for search, repl in (
            ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")
        ):
            c = F.replace(c, F.lit(search), F.lit(repl))
        return c

    # Rendering happens AFTER the aggregate: the pre-shuffle Project adds
    # only a raw 4-field struct to the extract stage (whose template
    # expression is already near janino's method-size ceiling — fusing
    # the concat/escape chain there pushes the generated processNext()
    # past it and the whole stage falls back to interpreted mode, extract
    # included). Post-shuffle, the per-subject lists are small and the
    # render runs once per statement inside two HOF lambdas.
    po = triples.select(
        "graph",
        "subj",
        F.struct("pred", "obj", "obj_type", "datatype").alias("po"),
    )
    agg = po.groupBy("graph", "subj").agg(F.collect_list("po").alias("raw"))
    esc_sql = "replace(replace(replace(replace(replace(e.obj, "
    esc_sql += "chr(92), concat(chr(92), chr(92))), "
    esc_sql += "'\"', concat(chr(92), '\"')), "
    esc_sql += "chr(10), concat(chr(92), 'n')), "
    esc_sql += "chr(13), concat(chr(92), 'r')), "
    esc_sql += "chr(9), concat(chr(92), 't'))"
    p_sql = (
        "CASE WHEN e.pred LIKE 'ocgml:%' THEN e.pred "
        "ELSE concat('<', e.pred, '>') END"
    )
    o_sql = (
        "CASE WHEN e.obj_type = 'iri' THEN concat('<', e.obj, '>') "
        f"ELSE concat('\"', {esc_sql}, '\"', "
        "CASE WHEN e.datatype IS NOT NULL "
        "THEN concat('^^<', e.datatype, '>') ELSE '' END) END"
    )
    rendered = agg.withColumn(
        "pos",
        F.expr(
            f"array_sort(transform(raw, e -> struct({p_sql} as p, {o_sql} as o)))"
        ),
    )
    block = F.concat(
        F.lit("<"), F.col("subj"), F.lit("> "),
        F.array_join(
            F.expr("transform(pos, e -> concat(e.p, ' ', e.o))"),
            " ;\n    ",
        ),
        F.lit(" ."),
    )
    return rendered.select(
        "graph",
        "subj",
        F.size("pos").cast("bigint").alias("n_statements"),
        block.alias("block"),
    )
