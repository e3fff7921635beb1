"""Storage-adapter seam for the triple store (r4 VERDICT item 6).

`materialize.py` emulates an Iceberg table with partitioned parquet +
lineage manifests because the real Iceberg runtime cannot be installed
in this environment (materialize.py:1-17). This module makes the
engine-swap surface EXPLICIT: one class — `ParquetStoreAdapter` — owns
every physical read/write the store performs, and swapping in Iceberg
means implementing the same methods against a catalog table. The
conformance tests (tests/test_store_conformance.py) pin exactly the
semantics both implementations must share, so the swap is a conformance
run, not a leap of faith.

Mapping table (parquet emulation -> Iceberg):

| adapter method          | parquet emulation                          | Iceberg call                                  |
|-------------------------|--------------------------------------------|-----------------------------------------------|
| append(df)              | write.mode('append').partitionBy(g, b)     | df.writeTo(tbl).append()                      |
| overwrite_partitions(df)| dynamic partitionOverwriteMode + overwrite | df.writeTo(tbl).overwritePartitions()         |
| write distribution      | df.repartition(graph, bucket)              | write.distribution-mode=hash plus the table   |
| (both writes)           | .sortWithinPartitions(graph, bucket, subj) | sort order                                    |
| read()                  | spark.read.schema(<recorded schema>)       | spark.table(tbl)                              |
|                         | .parquet(root/triples), partition          |                                               |
|                         | discovery on the driver                    |                                               |
| spec() / commit_spec()  | root/metadata.json: schema, partition spec | table metadata.json (current-schema, default  |
|                         | with bucket count, sort order, snapshot    | spec, sort order, current-snapshot-id),       |
|                         | id; json write + atomic rename on driver   | swapped by the catalog commit                 |
| list_partitions()       | driver-side directory listing              | SELECT ... FROM tbl.partitions (metadata)     |
| file_counts(graph, b)   | parquet FOOTER num_rows per file           | tbl.files metadata table (record_count)       |
| manifest append / read  | pyarrow write + atomic rename on the       | driver-side snapshot / manifest-list commit   |
| (materialize.py)        | driver; pyarrow read of `_manifest`        |                                               |

The adapter owns the layout: both writes cluster their rows by
(graph, bucket) and sort them by SORT_ORDER, so a write lands one
subject-sorted file in each partition it touches, whatever the number of
input tasks. Callers pass rows in any order.

The emulation's upsert (materialize.upsert_triples) writes each touched
partition once: a partition where rows die gets one overwrite file of
its survivors (found by one narrow scan) plus the batch's rows there;
the batch's other rows are a fast append: Iceberg's copy-on-write
`DELETE` + `append` in one commit.

Semantics the conformance suite asserts on BOTH sides of the swap:

1. append adds files only — pre-existing files stay byte-identical
   (Iceberg: a new snapshot referencing old manifests + new data files).
2. overwrite_partitions touches ONLY the partitions present in the
   incoming frame; all other partitions stay byte-identical (Iceberg:
   REPLACE of matching partition tuples in one commit).
3. partition pruning: a (graph, bucket) predicate must prune at the
   scan (PartitionFilters in the plan; Iceberg: partition-spec pruning
   via manifests) — a store read that scans every partition for a
   single-bucket lookup fails conformance.
4. commit visibility: the emulation's unit of atomicity is the
   partition directory guarded by the manifest write-ahead protocol
   (pending -> data -> verify -> done, materialize.compact_store);
   Iceberg's is the whole-table snapshot. The conformance test asserts
   the PROTOCOL (every overwrite is bracketed by pending/done with a
   verified row count), which holds trivially under snapshot isolation.
5. lineage/snapshots: per-stage manifest rows (stage, partition_range,
   row_count, status) must reconstruct what changed when — the
   emulation's `_manifest` parquet; Iceberg's snapshots + summary.

A store written by materialize.py describes itself: every commit
(write_triples, upsert_triples, delete_subjects, compact_store) replaces
`metadata.json` with the table schema, the bucket count N of
`bucket = pmod(xxhash64(subj), N)`, the sort order and a snapshot id one
above the last. Readers take the schema from it (no footer-inference
job) and agent lookups prune to their subjects' buckets with N. A store
without the file (written through the adapter alone, or before the file
existed) opens by inference and its lookups scan every bucket.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import namedtuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# what metadata.json records: the table schema (data columns, then the
# partition columns, as a read returns them), the bucket count and the
# current snapshot id
TableSpec = namedtuple("TableSpec", "schema n_buckets snapshot_id")

# the order every write sorts partition files by, recorded in the metadata
SORT_ORDER = ("graph", "bucket", "subj")


def _nullable(j):
    """A StructType's JSON with every field, element and value nullable:
    a parquet read reports every column nullable, so the recorded schema
    does too."""
    if isinstance(j, list):
        return [_nullable(v) for v in j]
    if not isinstance(j, dict):
        return j
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull") else _nullable(v)
        for k, v in j.items()
    }


def table_schema(df: DataFrame) -> StructType:
    """The schema a read of `df`'s files returns: data columns in frame
    order, then the partition columns, all nullable."""
    parts = ParquetStoreAdapter.partition_cols
    fields = [f for f in df.schema.fields if f.name not in parts]
    fields += [df.schema[c] for c in parts]
    return StructType.fromJson(_nullable(StructType(fields).jsonValue()))


class ParquetStoreAdapter:
    """The parquet emulation of the Iceberg triple table. All physical
    IO of materialize.py flows through these methods."""

    partition_cols = ("graph", "bucket")

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.root = out_dir
        self.path = os.path.join(out_dir, "triples")
        self.metadata_path = os.path.join(out_dir, "metadata.json")

    # -- writes ---------------------------------------------------------
    def _clustered(self, df: DataFrame):
        """`df`'s writer with the table's write distribution: every row of
        a (graph, bucket) goes to one task, sorted by SORT_ORDER, so the
        write leaves one subject-sorted file per partition it touches
        (Iceberg: write.distribution-mode=hash plus the sort order).
        Subject-sorted files let parquet row-group min/max stats on subj
        prune point lookups."""
        return (
            df.repartition(*self.partition_cols)
            .sortWithinPartitions(*SORT_ORDER)
            .write.partitionBy(*self.partition_cols)
        )

    def append(self, df: DataFrame) -> None:
        """Add data files without touching existing ones (Iceberg:
        writeTo(...).append() — fast-append snapshot)."""
        self._clustered(df).mode("append").parquet(self.path)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Replace exactly the partitions present in `df` (Iceberg:
        writeTo(...).overwritePartitions() — dynamic REPLACE commit)."""
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        self._clustered(df).mode("overwrite").parquet(self.path)

    # -- reads ----------------------------------------------------------
    def read(self) -> DataFrame:
        """The whole table, opened with the recorded schema and with
        partitions discovered on the driver, so opening starts no Spark
        job: without a recorded schema Spark infers one from a footer in
        a one-task job, and above Spark's default threshold (32
        subdirectories under one parent — every 64-bucket graph) the
        listing would run as a job with one task per subdirectory
        (Iceberg plans from metadata on the driver as well)."""
        self.spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
        spec = self.spec()
        reader = self.spark.read if spec is None else self.spark.read.schema(spec.schema)
        return reader.parquet(self.path)

    def exists(self) -> bool:
        return os.path.exists(self.path)

    # -- table metadata (Iceberg: metadata.json) -------------------------
    def spec(self) -> TableSpec | None:
        """The recorded table metadata, or None for a store without it."""
        try:
            with open(self.metadata_path) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return None
        # a store has one schema and one partition spec (commit_spec)
        (schema,), (spec,) = meta["schemas"], meta["partition-specs"]
        _, bucket = spec["fields"]
        return TableSpec(
            StructType.fromJson(schema),
            int(bucket["transform"][len("bucket["):-1]),
            meta["current-snapshot-id"],
        )

    def commit_spec(self, schema: StructType, n_buckets: int, snapshot_id: int) -> None:
        """Replace metadata.json: written on the driver under a
        dot-prefixed temp name, then renamed over the old file in one
        atomic step, so a reader sees the old metadata or the new, never
        a torn one (Iceberg: the catalog's metadata-pointer swap)."""
        meta = {
            "format-version": 2,
            "location": self.path,
            "last-updated-ms": int(time.time() * 1000),
            "current-schema-id": 0,
            "schemas": [{"schema-id": 0, **schema.jsonValue()}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "graph", "source": "graph", "transform": "identity"},
                {"name": "bucket", "source": "subj", "transform": f"bucket[{n_buckets}]",
                 "hash": f"pmod(xxhash64(subj), {n_buckets})"},
            ]}],
            "default-sort-order-id": 1,
            "sort-orders": [{"order-id": 1, "fields": [
                {"source": c, "direction": "asc", "null-order": "nulls-first"}
                for c in SORT_ORDER
            ]}],
            "current-snapshot-id": snapshot_id,
        }
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".metadata-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.rename(tmp, self.metadata_path)

    # -- metadata (Iceberg: the partitions / files metadata tables) -----
    def list_partitions(self) -> list[tuple[str, int, int]]:
        """(graph, bucket, n_files) per live partition — a metadata-only
        operation (Iceberg reads it from manifests; the emulation lists
        directories on the driver, no data IO)."""
        out: list[tuple[str, int, int]] = []
        if not os.path.exists(self.path):
            return out
        for gdir in sorted(os.listdir(self.path)):
            if not gdir.startswith("graph="):
                continue
            for bdir in sorted(os.listdir(os.path.join(self.path, gdir))):
                if not bdir.startswith("bucket="):
                    continue
                full = os.path.join(self.path, gdir, bdir)
                n = sum(1 for f in os.listdir(full) if f.endswith(".parquet"))
                out.append((gdir.split("=", 1)[1], int(bdir.split("=", 1)[1]), n))
        return out

    def file_counts(self, graph: str, bucket: int) -> dict[str, int]:
        """Per-file row counts from parquet footers (Iceberg: the files
        metadata table's record_count) — no column data scanned."""
        from .materialize import _parquet_footer_counts

        return _parquet_footer_counts(
            os.path.join(self.path, f"graph={graph}", f"bucket={bucket}")
        )

    def partition_dir(self, graph: str, bucket: int) -> str:
        return os.path.join(self.path, f"graph={graph}", f"bucket={bucket}")
