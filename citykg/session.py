"""SparkSession factory tuned for the KG-construction workload.

Settings chosen for scale-out (the same knobs matter on a 1000-executor
cluster reading 100 TB; values here are sized for local[N] testing):

* AQE on (runtime coalescing + skew-join splitting) — the linking and
  connected-components self-joins are the skew hot spots
  (BASELINE.json north_rule: "skew handled explicitly").
* shuffle.partitions modest locally; on a real cluster this is set to
  ~2-3x total cores or left to AQE's coalescing.
* Arrow enabled for the few pandas-UDF paths (geometry tree walks,
  simhash bit-fold) — everything else stays JVM-side.
* Driver-built tables (agent requests, the extract template, manifest
  frames) go through `local_frame`: one Arrow batch planned as a
  LocalRelation, never a pickled Python RDD that starts Python workers.
  Its typed conversion, `arrow_table`, also builds the manifest files
  materialize.py writes with pyarrow on the driver.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "citykg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("CITYKG_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # local mode: match parallelism; cluster: caller/AQE decides
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = 32 if n in ("*", "") else max(int(n), 4)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("CITYKG_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # zstd over snappy: ~30% smaller files at comparable CPU — at
        # 100 TB the scan is IO-bound, so the smaller footprint wins
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # permissive SQL semantics: str_to_map duplicate keys keep last;
        # no ANSI cast errors on dirty web-scale text
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stable(df, eager: bool = True):
    """The one lineage cut. Every cut in the package goes through here
    (iterative loops such as CC / PageRank / betweenness / BFS, frames
    reused by several consumers, the compaction pin), so the durable mode
    below reaches all of them.

    Default is `localCheckpoint` — executor-local blocks, no extra IO, the
    right call in this sandbox and for short loops. Its documented weakness
    on a real cluster: the cut RDD's blocks live only on executors, so an
    executor loss mid-loop loses partitions whose lineage no longer exists
    and the job fails (the reference's agents simply re-run the task;
    Spark needs a durable cut instead).

    Set `spark.citykg.checkpointDir` (session conf or --conf) to an
    HDFS/object-store path to flip EVERY loop cut to reliable
    `checkpoint()`: each cut is written to and re-read from durable
    storage, so executor loss only recomputes the current iteration. Cost:
    one write+read per cut (`graph.pagerank` exposes `checkpoint_every`
    to cut every k-th round; connected components cuts every round)."""
    sp = df.sparkSession
    ckpt_dir = sp.conf.get("spark.citykg.checkpointDir", "")
    if ckpt_dir:
        sc = sp.sparkContext
        # the conf is authoritative: a dir set (or changed) after the
        # context started re-points the context's checkpoint dir
        if _checkpoint_dirs.get(sc.applicationId) != ckpt_dir:
            sc.setCheckpointDir(ckpt_dir)
            _checkpoint_dirs[sc.applicationId] = ckpt_dir
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# applicationId -> the spark.citykg.checkpointDir last applied to it
_checkpoint_dirs: dict[str, str] = {}


def arrow_table(rows, schema: str | StructType) -> pa.Table:
    """`rows` (tuples in `schema` field order) as one `pyarrow.Table`
    typed by `schema`'s Arrow mapping — the shared conversion behind
    `local_frame` and the driver-written store manifest.

    `schema` is a DDL string or a StructType. Zero rows give an empty
    table; a row width that differs from the schema, a null in a
    non-nullable field, or a value that does not fit its column type
    raises instead of being coerced."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    if len(cols) != len(arrow_schema):
        raise ValueError(f"rows have {len(cols)} fields, schema has {len(arrow_schema)}")
    arrays = []
    for col, field in zip(cols, arrow_schema):
        # Arrow truncates a float into an integer column; refuse instead
        if pa.types.is_integer(field.type) and any(isinstance(v, float) for v in col):
            raise TypeError(f"field {field.name}: float value in {field.type} column")
        arr = pa.array(col, type=field.type)
        # Arrow keeps a null in a non-nullable field; refuse instead
        if not field.nullable and arr.null_count:
            raise ValueError(f"field {field.name}: null in a non-nullable column")
        arrays.append(arr)
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A driver-side table of `rows` (tuples in `schema` field order) as
    an Arrow-backed LocalRelation: one Arrow batch handed to the JVM, so
    scanning it is a `LocalTableScan` with no Python worker and no
    pickling per job (`createDataFrame` over a Python list plans a pickled
    Python RDD instead, and every job reading it unpickles the rows in
    Python).

    `schema` is a DDL string or a StructType; its nullability survives,
    and `arrow_table` does the typed, strict conversion."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
