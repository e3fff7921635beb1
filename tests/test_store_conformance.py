"""Storage-adapter conformance suite (r4 VERDICT item 6).

These tests pin exactly the semantics the parquet emulation shares with
a real Iceberg table (citykg/store.py documents the 1:1 method mapping).
An Iceberg-backed adapter must pass this module unchanged (minus the
file-path assertions, which read through adapter metadata methods only).
"""

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from citykg import materialize
from citykg.store import ParquetStoreAdapter


def _frame(spark, subjects, graph="building", obj="v1"):
    return materialize.with_bucket(
        spark.createDataFrame(
            [(s, "ocgml:name", obj, "literal", None, graph, "d", 0, 0) for s in subjects],
            "subj string, pred string, obj string, obj_type string, "
            "datatype string, graph string, doc_id string, span_idx int, pos int",
        ),
        n_buckets=4,
    )


def _file_state(adapter):
    """(graph, bucket) -> sorted [(fname, size, mtime_ns)] — the byte-identity witness."""
    state = {}
    for g, b, _ in adapter.list_partitions():
        d = adapter.partition_dir(g, b)
        state[(g, b)] = sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d) if f.endswith(".parquet")
        )
    return state


@pytest.fixture()
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("conformance"))
    adapter = ParquetStoreAdapter(spark, out)
    adapter.overwrite_partitions(_frame(spark, [f"S{i}" for i in range(40)]))
    return adapter


def test_append_never_touches_existing_files(spark, store):
    """Conformance #1: append = new data files only; every pre-existing
    file stays byte-identical (Iceberg fast-append snapshot)."""
    before = _file_state(store)
    store.append(_frame(spark, ["S1", "S7"], obj="v2"))
    after = _file_state(store)
    for key, files in before.items():
        remaining = {f[0]: f for f in after[key]}
        for fname, size, mtime in files:
            assert fname in remaining and remaining[fname] == (fname, size, mtime), (
                f"append rewrote pre-existing file {fname} in {key}"
            )
    assert sum(len(v) for v in after.values()) > sum(len(v) for v in before.values())


def test_overwrite_touches_only_present_partitions(spark, store):
    """Conformance #2: dynamic overwrite replaces exactly the partitions
    present in the incoming frame; all others stay byte-identical."""
    before = _file_state(store)
    incoming = _frame(spark, ["S1"], obj="v3")
    touched = {(r.graph, r.bucket) for r in incoming.select("graph", "bucket").distinct().collect()}
    store.overwrite_partitions(incoming.sortWithinPartitions("graph", "bucket", "subj"))
    after = _file_state(store)
    for key in before:
        if key in touched:
            assert after[key] != before[key]
        else:
            assert after[key] == before[key], f"overwrite touched unrelated partition {key}"


@pytest.mark.parametrize("write", ["append", "overwrite_partitions"])
def test_write_leaves_one_subject_sorted_file_per_partition(spark, tmp_path_factory, write):
    """A write clusters its rows by (graph, bucket) and sorts them by
    subject (Iceberg: hash write distribution plus the sort order): rows
    of every partition spread over 4 input partitions land in exactly one
    file per (graph, bucket), sorted by `subj`."""
    import pyarrow.parquet as pq

    adapter = ParquetStoreAdapter(spark, str(tmp_path_factory.mktemp(write)))
    rows = _frame(spark, [f"W{i:02d}" for i in reversed(range(60))]).unionByName(
        _frame(spark, [f"X{i:02d}" for i in range(60)], graph="cityobject")
    ).repartition(4)
    assert rows.rdd.getNumPartitions() >= 3
    getattr(adapter, write)(rows)
    parts = adapter.list_partitions()
    assert len(parts) == 8 and all(n == 1 for _, _, n in parts), parts
    for g, b, _ in parts:
        (f,) = adapter.file_counts(g, b)
        subs = pq.read_table(os.path.join(adapter.partition_dir(g, b), f)).column("subj")
        assert subs.to_pylist() == sorted(subs.to_pylist())


def _layout_call(node):
    """A `repartition` / `sortWithinPartitions` call on the partition
    columns or the sort order."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("repartition", "sortWithinPartitions")):
        return False
    args = [ast.unparse(a) for a in node.args]
    return args[:2] == ["'graph'", "'bucket'"] or any(
        "SORT_ORDER" in a or "partition_cols" in a for a in args
    )


def test_write_layout_lives_only_in_the_adapter():
    """The table's write distribution and sort order are applied in
    store.py alone: no other module of the package, nor the entry
    module, clusters or sorts rows for a store write itself."""
    root = pathlib.Path(__file__).resolve().parents[1]
    sources = sorted((root / "citykg").rglob("*.py")) + [root / "__spark_entry__.py"]
    hits = sorted(
        (py.relative_to(root).as_posix(), node.func.attr)
        for py in sources
        for node in ast.walk(ast.parse(py.read_text()))
        if _layout_call(node)
    )
    assert hits == [
        ("citykg/store.py", "repartition"), ("citykg/store.py", "sortWithinPartitions")
    ], hits


def test_partition_pruning_at_scan(spark, store):
    """Conformance #3: a (graph, bucket) predicate must prune at the scan
    (PartitionFilters) — not filter after reading every partition."""
    df = store.read().where((F.col("graph") == "building") & (F.col("bucket") == 2))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in pf and "graph" in pf
    # the compaction group predicate shape — an OR-chain of per-column
    # equality conjunctions — must ALSO prune (the canonical portable
    # partition-filter shape; Spark 4.1 happens to prune the struct-isin
    # spelling too, but that support is newer — this pins the shape
    # compact_store actually emits)
    pred = ((F.col("graph") == "building") & (F.col("bucket") == 2)) | (
        (F.col("graph") == "building") & (F.col("bucket") == 3)
    )
    plan_or = store.read().where(pred)._jdf.queryExecution().executedPlan().toString()
    pf_or = plan_or.split("PartitionFilters", 1)[1][:400]
    assert "bucket" in pf_or and "graph" in pf_or


def test_metadata_ops_match_physical_state(spark, store):
    """Conformance #4: list_partitions / file_counts (the Iceberg
    partitions/files metadata tables) agree with a full read."""
    rows = store.read().groupBy("graph", "bucket").count().collect()
    physical = {(r.graph, r.bucket): r["count"] for r in rows}
    listed = {(g, b) for g, b, _ in store.list_partitions()}
    assert listed == set(physical)
    for (g, b), n in physical.items():
        assert sum(store.file_counts(g, b).values()) == n


def test_commit_protocol_brackets_every_compaction(spark, tmp_path_factory):
    """Conformance #5: every compaction overwrite is bracketed by a
    write-ahead `pending` row (expected count) and a verified `done` row
    — the emulation's unit of atomic visibility. Under Iceberg snapshot
    isolation the same protocol holds trivially (the verify reads the
    committed snapshot)."""
    out = str(tmp_path_factory.mktemp("protocol"))
    materialize.write_triples(
        spark, _frame(spark, [f"P{i}" for i in range(30)]), out, n_buckets=4
    )
    # new subjects: their rows are appended beside the partitions' files
    batch = _frame(spark, ["Q3", "Q5"], obj="v2")
    materialize.upsert_triples(spark, batch.drop("bucket"), out, n_buckets=4)
    assert max(n for _, _, n in ParquetStoreAdapter(spark, out).list_partitions()) > 1
    compacted = materialize.compact_store(spark, out)
    assert compacted
    m = materialize.read_manifest(spark, out).where(F.col("stage") == "compact").collect()
    pend = {(r.partition_range, r.row_count) for r in m if r.status == "pending"}
    done = {(r.partition_range, r.row_count) for r in m if r.status == "done"}
    assert pend == done and len(pend) == len(compacted)
    # and the recorded counts match the physical footers
    adapter = ParquetStoreAdapter(spark, out)
    for pr, cnt in done:
        g, b = pr.split("/", 1)
        assert sum(adapter.file_counts(g, int(b)).values()) == cnt


def test_store_open_lists_partitions_on_the_driver(spark, tmp_path_factory):
    """Opening a 64-bucket store (more than 32 partition directories
    under one parent, where Spark would list them with a job of one task
    per directory) launches no listing job: `read_triples` and a registry
    resolve each start at most the one-task footer-schema job, and a
    (graph, bucket)-filtered count still equals that partition's footers."""
    from citykg.agents import StoreRegistry
    from citykg.vocab import DEFAULT_BASE
    from conftest import spark_jobs

    out = str(tmp_path_factory.mktemp("open64"))
    adapter = ParquetStoreAdapter(spark, out)
    rows = spark.createDataFrame(
        [(f"{DEFAULT_BASE}/{g}/O{i}/", "ocgml:name", "v", "literal", None, g, "d", 0, i)
         for g in ("building", "cityobject") for i in range(640)],
        "subj string, pred string, obj string, obj_type string, "
        "datatype string, graph string, doc_id string, span_idx int, pos int",
    )
    adapter.overwrite_partitions(materialize.with_bucket(rows, n_buckets=64))
    parts = adapter.list_partitions()
    assert {g for g, _, _ in parts} == {"building", "cityobject"}
    assert sum(1 for g, _, _ in parts if g == "building") > 32

    read, _, tasks = spark_jobs(spark, lambda: materialize.read_triples(spark, out))
    assert tasks <= 1
    reg = StoreRegistry(spark)
    reg.register(DEFAULT_BASE, store_dir=out)
    resolved, _, tasks = spark_jobs(
        spark, lambda: reg.resolve(f"{DEFAULT_BASE}/cityobject/O1/")
    )
    assert tasks <= 1

    g, b, _ = parts[-1]
    want = sum(adapter.file_counts(g, b).values())
    assert want > 0
    for df in (read, resolved):
        assert df.where((F.col("graph") == g) & (F.col("bucket") == b)).count() == want


def _rows(spark, subjects, graph="building", obj="v1"):
    return _frame(spark, subjects, graph, obj).drop("bucket")


def test_store_with_metadata_opens_without_jobs(spark, tmp_path_factory, monkeypatch):
    """A store written by `write_triples` records its schema, so
    `read_triples`, a registry resolve and the store read inside an
    upsert each launch no Spark job (no footer-schema inference), and the
    recorded schema is the one inference finds."""
    from citykg.agents import StoreRegistry
    from citykg.vocab import DEFAULT_BASE
    from conftest import spark_jobs

    out = str(tmp_path_factory.mktemp("described"))
    subjects = [f"{DEFAULT_BASE}/cityobject/O{i}/" for i in range(40)]
    materialize.write_triples(
        spark, _rows(spark, subjects, "cityobject"), out, n_buckets=8, bucket_group=None
    )
    read, jobs, _ = spark_jobs(spark, lambda: materialize.read_triples(spark, out))
    assert jobs == 0
    assert read.schema == spark.read.parquet(os.path.join(out, "triples")).schema
    reg = StoreRegistry(spark)
    reg.register(DEFAULT_BASE, store_dir=out)
    (_, n), jobs, _ = spark_jobs(spark, lambda: reg.lookup(subjects[0]))
    assert (n, jobs) == (8, 0)

    read_jobs = []
    plain_read = ParquetStoreAdapter.read

    def counted_read(self):
        df, jobs, _ = spark_jobs(self.spark, lambda: plain_read(self))
        read_jobs.append(jobs)
        return df

    monkeypatch.setattr(ParquetStoreAdapter, "read", counted_read)
    materialize.upsert_triples(spark, _rows(spark, subjects[:3], "cityobject", "v2"), out)
    assert read_jobs == [0]


def test_every_commit_records_the_table_spec(spark, tmp_path_factory):
    """metadata.json holds the schema, the bucket spec and the sort order,
    and each commit (write, upsert, delete, compaction group) raises the
    snapshot id by one."""
    import json

    out = str(tmp_path_factory.mktemp("snapshots"))
    adapter = ParquetStoreAdapter(spark, out)
    materialize.write_triples(
        spark, _rows(spark, [f"S{i}" for i in range(20)]), out, n_buckets=4, bucket_group=2
    )
    assert adapter.spec().snapshot_id == 2  # one per bucket group
    # new subjects: their rows are appended beside the partitions' files
    materialize.upsert_triples(spark, _rows(spark, [f"N{i}" for i in range(8)], obj="v2"), out)
    assert adapter.spec().snapshot_id == 3
    materialize.delete_subjects(spark, out, ["S2"])
    assert adapter.spec().snapshot_id == 4
    assert max(n for _, _, n in adapter.list_partitions()) > 1
    assert len(materialize.compact_store(spark, out, bucket_group=256)) > 0
    spec = adapter.spec()
    assert spec.snapshot_id == 5 and spec.n_buckets == 4
    assert spec.schema == adapter.read().schema
    with open(adapter.metadata_path) as f:
        meta = json.load(f)
    fields = meta["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("graph", "identity"), ("bucket", "bucket[4]")
    ]
    assert fields[1]["hash"] == "pmod(xxhash64(subj), 4)"
    assert [f["source"] for f in meta["sort-orders"][0]["fields"]] == ["graph", "bucket", "subj"]
    assert len(meta["schemas"]) == 1
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_upsert_into_a_store_of_another_bucket_count(spark, tmp_path_factory):
    """A 40-row, 2-bucket store and an upsert of 10 subjects that names no
    bucket count: the upsert buckets by the recorded 2 (the old default
    of 64 left 9 subjects with old and new rows and made partitions a
    2-bucket store cannot have). A disagreeing explicit count raises
    before anything is written, for upsert, delete and a write resume."""
    from citykg import streaming

    out = str(tmp_path_factory.mktemp("wrong_n"))
    materialize.write_triples(
        spark, _rows(spark, [f"S{i}" for i in range(40)]), out, n_buckets=2
    )
    batch = _rows(spark, [f"S{i}" for i in range(10)], obj="v2")
    materialize.upsert_triples(spark, batch, out)
    t = materialize.read_triples(spark, out)
    assert t.count() == 40
    assert t.groupBy("subj").count().where("count > 1").count() == 0
    assert t.where(F.col("obj") == "v2").count() == 10
    adapter = ParquetStoreAdapter(spark, out)
    assert {b for _, b, _ in adapter.list_partitions()} <= {0, 1}

    before = _file_state(adapter)
    with pytest.raises(ValueError, match="recorded with 2 buckets"):
        materialize.upsert_triples(spark, batch, out, n_buckets=64)
    with pytest.raises(ValueError, match="recorded with 2 buckets"):
        streaming.upsert_epoch(batch, out, 7, n_buckets=16)
    with pytest.raises(ValueError, match="recorded with 2 buckets"):
        materialize.delete_subjects(spark, out, ["S1"], n_buckets=64)
    with pytest.raises(ValueError, match="recorded with 2 buckets"):
        materialize.write_triples(spark, batch, out, stage="again", n_buckets=8)
    assert _file_state(adapter) == before
    assert streaming.upsert_epoch(batch, out, 7) is True
    assert materialize.read_triples(spark, out).count() == 40


def test_commit_schema_must_match_the_recorded_one(spark, tmp_path_factory):
    """A store has one schema: a commit whose columns differ from the
    recorded schema raises, writes nothing and records no second schema.
    Column order does not matter (parquet columns resolve by name)."""
    out = str(tmp_path_factory.mktemp("one_schema"))
    materialize.write_triples(spark, _rows(spark, [f"S{i}" for i in range(8)]), out, n_buckets=2)
    adapter = ParquetStoreAdapter(spark, out)
    spec = adapter.spec()
    before = _file_state(adapter)
    batch = _rows(spark, ["S1"], obj="v2")
    for bad in (
        batch.withColumn("extra", F.lit(1)),
        batch.drop("pos"),
        batch.withColumn("pos", F.col("pos").cast("string")),
    ):
        with pytest.raises(ValueError, match="differ from the schema recorded"):
            materialize.upsert_triples(spark, bad, out)
        with pytest.raises(ValueError, match="differ from the schema recorded"):
            materialize.write_triples(spark, bad, out, stage="other")
    assert adapter.spec() == spec and _file_state(adapter) == before
    materialize.upsert_triples(spark, batch.select(*reversed(batch.columns)), out)
    assert adapter.spec().schema == spec.schema
    assert materialize.read_triples(spark, out).where(F.col("obj") == "v2").count() == 1
