"""Materialize: bucketed layout, lineage manifests, kill-and-resume."""

import os

import pytest

from pyspark.sql import functions as F

from citykg import materialize, pipeline
from citykg.extract import extract_triples
from citykg.fixtures import synth_docs
from citykg.store import ParquetStoreAdapter
from conftest import SF_SMOKE

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, obj_type string, datatype string, "
    "graph string, doc_id string, span_idx int, pos int"
)


@pytest.fixture(scope="module")
def triples(spark):
    return extract_triples(spark, synth_docs(spark, SF_SMOKE)).persist()


def test_full_write_and_roundtrip(spark, triples, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store"))
    materialize.write_triples(spark, triples, out, n_buckets=16, bucket_group=8)
    back = materialize.read_triples(spark, out)
    assert back.count() == triples.count()
    # bucket column is pmod(xxhash64(subj), N) — co-location invariant
    bad = back.where(
        F.col("bucket") != F.pmod(F.xxhash64("subj"), F.lit(16)).cast("int")
    ).count()
    assert bad == 0
    done = materialize.completed_buckets(spark, out, "materialize")
    assert done == set(range(16))


def test_kill_and_resume_no_recompute(spark, triples, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume"))
    # crash after 1 group (8 of 16 buckets committed)
    with pytest.raises(RuntimeError, match="injected"):
        materialize.write_triples(
            spark, triples, out, n_buckets=16, bucket_group=8, fail_after_groups=1
        )
    done_after_crash = materialize.completed_buckets(spark, out, "materialize")
    assert len(done_after_crash) == 8

    # resume: completes only the missing buckets
    materialize.write_triples(spark, triples, out, n_buckets=16, bucket_group=8)
    m = materialize.read_manifest(spark, out)
    # first 8 buckets have exactly ONE manifest row each -> not recomputed
    per_bucket = {r.partition_range: r.cnt for r in
                  m.groupBy("partition_range").agg(F.count("*").alias("cnt")).collect()}
    assert all(v == 1 for v in per_bucket.values())
    assert len(per_bucket) == 16

    back = materialize.read_triples(spark, out)
    assert back.count() == triples.count()
    # manifest row counts equal real per-bucket counts (lineage metrics)
    manifest_counts = {
        int(r.partition_range): r.row_count
        for r in m.where(F.col("status") == "done").collect()
    }
    real_counts = {
        int(r.bucket): r.cnt
        for r in back.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert manifest_counts == real_counts


def test_write_is_idempotent(spark, triples, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idem"))
    materialize.write_triples(spark, triples, out, n_buckets=8)
    n1 = materialize.read_triples(spark, out).count()
    materialize.write_triples(spark, triples, out, n_buckets=8)  # no-op: all done
    assert materialize.read_triples(spark, out).count() == n1


def test_geometry_datatype_registry(spark, triples, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("reg"))
    materialize.write_geometry_datatype_registry(spark, triples, out)
    reg = spark.read.parquet(f"{out}/_geometry_datatypes").collect()
    assert {r.datatype for r in reg} == {
        "http://localhost/blazegraph/literals/POLYGON-3-15"
    }


def test_nquads_export(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nq"))
    t = spark.createDataFrame(
        [("http://b/building/x/", "ocgml:id", "http://b/building/x/", "iri", None,
          "building", "d", 0, 0),
         ("http://b/building/x/", "ocgml:name", 'say "hi"', "literal", None,
          "building", "d", 0, 1)],
        "subj string, pred string, obj string, obj_type string, datatype string, "
        "graph string, doc_id string, span_idx int, pos int",
    )
    materialize.export_nquads(t, f"{out}/q", base="http://b")
    lines = sorted(r.value for r in spark.read.text(f"{out}/q").collect())
    assert lines[0] == (
        "<http://b/building/x/> "
        "<http://www.theworldavatar.com/ontology/ontocitygml/citieskg/OntoCityGML.owl#id> "
        "<http://b/building/x/> <http://b/building/> ."
    )
    assert '"say \\"hi\\""' in lines[1]


def test_stage_metrics_rollup(spark, triples, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store_metrics"))
    materialize.write_triples(spark, triples, out, n_buckets=8, input_snapshot="snap1")
    m = materialize.stage_metrics(spark, out).collect()
    assert len(m) == 1
    r = m[0]
    assert r.stage == "materialize"
    assert r.n_partitions == 8
    assert r.rows == triples.count()
    assert r.complete is True
    assert r.max_attempt == 1
    assert r.total_wall_ms > 0


def test_delete_subjects_surgical_rewrite(spark, triples, tmp_path_factory):
    import os

    out = str(tmp_path_factory.mktemp("store_delete"))
    materialize.write_triples(spark, triples, out, n_buckets=8)
    total_before = materialize.read_triples(spark, out).count()

    victims = [r.subj for r in triples.select("subj").distinct().limit(2).collect()]
    # record files of buckets NOT containing the victims
    from pyspark.sql import functions as F

    vb = {
        r.bucket
        for r in materialize.with_bucket(
            spark.createDataFrame([(s,) for s in victims], "subj string"), 8
        ).collect()
    }
    ref_buckets = {
        r.bucket
        for r in materialize.read_triples(spark, out)
        .where(F.col("obj").isin(victims))
        .select("bucket")
        .distinct()
        .collect()
    }
    touched = vb | ref_buckets
    untouched = [b for b in range(8) if b not in touched][:1]
    pre_files = {}
    for b in untouched:
        for root, _, files in os.walk(os.path.join(out, "triples")):
            if f"bucket={b}" in root:
                for f in files:
                    p = os.path.join(root, f)
                    pre_files[p] = os.path.getmtime(p)
    # partition-exact: a partition INSIDE a touched bucket that holds no
    # victim row and no reference to one is not rewritten either
    dying = {
        (r.graph, r.bucket)
        for r in materialize.read_triples(spark, out)
        .where(F.col("subj").isin(victims) | F.col("obj").isin(victims))
        .select("graph", "bucket").distinct().collect()
    }
    adapter = ParquetStoreAdapter(spark, out)
    spare = [
        (g, b) for g, b, _ in adapter.list_partitions()
        if b in touched and (g, b) not in dying
    ]
    assert spare
    for g, b in spare:
        d = adapter.partition_dir(g, b)
        for f in os.listdir(d):
            pre_files[os.path.join(d, f)] = os.path.getmtime(os.path.join(d, f))

    n_removed = materialize.delete_subjects(spark, out, victims, n_buckets=8)
    assert n_removed > 0
    t = materialize.read_triples(spark, out)
    assert t.where(F.col("subj").isin(victims)).count() == 0
    assert t.where(F.col("obj").isin(victims)).count() == 0
    assert t.count() == total_before - n_removed
    # untouched bucket files, and the spare partitions of touched
    # buckets, are byte-identical (never rewritten)
    for p, mtime in pre_files.items():
        assert os.path.getmtime(p) == mtime, p
    # deletion is manifest-tracked
    m = materialize.read_manifest(spark, out).where(F.col("stage") == "delete")
    assert m.count() > 0
    assert sum(r.row_count for r in m.collect()) == n_removed


def test_upsert_replaces_and_appends(spark, triples, tmp_path_factory):
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("store_upsert"))
    materialize.write_triples(spark, triples, out, n_buckets=8, input_snapshot="v1")
    total = materialize.read_triples(spark, out).count()

    victim = triples.select("subj").distinct().limit(1).collect()[0].subj
    # new version of the victim: one replacement triple + one brand-new subject
    batch = spark.createDataFrame(
        [
            (victim, "ocgml:name", "renamed", "literal", None, "cityobject", "d", 0, 0),
            ("iri://new-feature/", "ocgml:id", "iri://new-feature/", "iri", None,
             "building", "d", 0, 1),
        ],
        "subj string, pred string, obj string, obj_type string, datatype string, "
        "graph string, doc_id string, span_idx int, pos int",
    )
    n_old = materialize.read_triples(spark, out).where(F.col("subj") == victim).count()
    materialize.upsert_triples(spark, batch, out, n_buckets=8, input_snapshot="v2")

    t = materialize.read_triples(spark, out)
    got = t.where(F.col("subj") == victim).collect()
    assert len(got) == 1 and got[0].obj == "renamed"  # old rows replaced
    assert t.where(F.col("subj") == "iri://new-feature/").count() == 1
    assert t.count() == total - n_old + 2
    m = materialize.read_manifest(spark, out)
    assert m.where(F.col("stage") == "upsert:v2").count() > 0
    assert m.where(F.col("stage") == "upsert-delete:v2").count() > 0


def _rows(spark, spec):
    """(subj, graph, obj) -> triple rows."""
    return spark.createDataFrame(
        [(s, "ocgml:name", o, "literal", None, g, "d", 0, 0) for s, g, o in spec],
        TRIPLE_SCHEMA,
    )


def _file_mtimes(out):
    root = os.path.join(out, "triples")
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    }


def _bucket(spark, subj, n=2):
    return materialize.with_bucket(_rows(spark, [(subj, "g", "o")]), n).first().bucket


@pytest.fixture()
def small_store(spark, tmp_path_factory):
    """2 buckets: S* subjects in `building`, T* in `cityobject`; S1 also
    has a row in `address` (next to T0's), S2 is alone in `solo`."""
    out = str(tmp_path_factory.mktemp("store_small"))
    spec = (
        [(f"S{i}", "building", "v1") for i in range(12)]
        + [(f"T{i}", "cityobject", "v1") for i in range(12)]
        + [("S1", "address", "old"), ("T0", "address", "t0"), ("S2", "solo", "v1")]
    )
    materialize.write_triples(spark, _rows(spark, spec), out, n_buckets=2)
    return out


def _subject_rows(spark, out, subj):
    return sorted(
        (r.graph, r.obj)
        for r in materialize.read_triples(spark, out).where(F.col("subj") == subj).collect()
    )


def test_upsert_leaves_other_graphs_of_the_bucket_untouched(spark, small_store):
    out = small_store
    before = _file_mtimes(out)
    b = _bucket(spark, "S0")
    materialize.upsert_triples(
        spark, _rows(spark, [("S0", "building", "v2")]), out, n_buckets=2, input_snapshot="v2"
    )
    after = _file_mtimes(out)
    rewritten = f"graph=building{os.sep}bucket={b}{os.sep}"
    for p, mtime in before.items():
        if rewritten in p:
            assert p not in after  # the one partition holding S0 was rewritten
        else:
            assert after.get(p) == mtime, p
    assert _subject_rows(spark, out, "S0") == [("building", "v2")]


def test_upsert_of_new_subjects_rewrites_no_file(spark, small_store):
    out = small_store
    before = _file_mtimes(out)
    n = materialize.read_triples(spark, out).count()
    materialize.upsert_triples(
        spark, _rows(spark, [("N0", "building", "n"), ("N1", "cityobject", "n")]),
        out, n_buckets=2, input_snapshot="v2",
    )
    after = _file_mtimes(out)
    assert all(after.get(p) == m for p, m in before.items())
    assert len(after) > len(before)
    assert materialize.read_triples(spark, out).count() == n + 2
    removed = materialize.read_manifest(spark, out).where(
        F.col("stage") == "upsert-delete:v2"
    ).collect()
    assert removed and all(r.row_count == 0 for r in removed)


def test_upsert_drops_rows_in_graphs_the_new_version_lacks(spark, small_store):
    out = small_store
    materialize.upsert_triples(
        spark, _rows(spark, [("S1", "building", "v2")]), out, n_buckets=2, input_snapshot="v2"
    )
    assert _subject_rows(spark, out, "S1") == [("building", "v2")]
    assert _subject_rows(spark, out, "T0") == [("address", "t0"), ("cityobject", "v1")]
    m = materialize.read_manifest(spark, out).where(F.col("stage") == "upsert-delete:v2")
    assert sum(r.row_count for r in m.collect()) == 2


def test_upsert_clears_a_partition_whose_rows_all_die(spark, small_store):
    out = small_store
    adapter = ParquetStoreAdapter(spark, out)
    b = _bucket(spark, "S2")
    assert os.path.isdir(adapter.partition_dir("solo", b))
    materialize.upsert_triples(
        spark, _rows(spark, [("S2", "building", "v2")]), out, n_buckets=2, input_snapshot="v2"
    )
    assert not os.path.exists(adapter.partition_dir("solo", b))
    assert ("solo", b) not in {(g, bb) for g, bb, _ in adapter.list_partitions()}
    assert _subject_rows(spark, out, "S2") == [("building", "v2")]


def test_upsert_of_an_empty_batch_changes_nothing(spark, small_store):
    out = small_store
    before = _file_mtimes(out)
    n = materialize.read_triples(spark, out).count()
    materialize.upsert_triples(spark, _rows(spark, []), out, n_buckets=2, input_snapshot="v2")
    assert _file_mtimes(out) == before
    assert materialize.read_triples(spark, out).count() == n


def test_upsert_of_a_mixed_batch(spark, small_store):
    """One re-imported subject and one new subject in a partition where
    nothing dies: the first's partition is rewritten as one file of its
    survivors plus the batch row, the second's row is appended."""
    out = small_store
    adapter = ParquetStoreAdapter(spark, out)
    n = materialize.read_triples(spark, out).count()
    materialize.upsert_triples(
        spark, _rows(spark, [("S0", "building", "v2"), ("N0", "cityobject", "n")]),
        out, input_snapshot="v2",
    )
    assert _subject_rows(spark, out, "S0") == [("building", "v2")]
    assert _subject_rows(spark, out, "N0") == [("cityobject", "n")]
    assert materialize.read_triples(spark, out).count() == n + 1
    files = {(g, b): k for g, b, k in adapter.list_partitions()}
    assert files[("building", _bucket(spark, "S0"))] == 1
    assert files[("cityobject", _bucket(spark, "N0"))] == 2


def test_reimport_upsert_writes_each_partition_once(spark, triples, tmp_path_factory):
    """A re-import rewrites each partition where rows die as ONE file of
    its survivors plus its batch rows, so the store keeps one file per
    partition and compaction finds nothing to do; the store then holds
    the old rows of other subjects and the batch's rows."""
    out = str(tmp_path_factory.mktemp("store_reimport"))
    materialize.write_triples(spark, triples, out, n_buckets=8, input_snapshot="v1")
    adapter = ParquetStoreAdapter(spark, out)
    assert {k for _, _, k in adapter.list_partitions()} == {1}
    subjects = [r.subj for r in triples.select("subj").distinct().limit(6).collect()]
    batch = triples.where(F.col("subj").isin(subjects)).withColumn(
        "obj", F.concat("obj", F.lit("_v2"))
    )
    before = _file_mtimes(out)
    materialize.upsert_triples(spark, batch, out, input_snapshot="v2")
    assert set(_file_mtimes(out)) != set(before)
    assert {k for _, _, k in adapter.list_partitions()} == {1}
    assert materialize.compact_store(spark, out) == []
    key = ["subj", "pred", "obj", "graph"]
    want = triples.where(~F.col("subj").isin(subjects)).select(*key).unionByName(
        batch.select(*key)
    )
    got = materialize.read_triples(spark, out).select(*key)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_fresh_pipeline_run_starts_from_an_empty_store(spark, tmp_path):
    """A run without --resume into the output of an earlier, larger run
    leaves exactly the rows of its own input."""
    first, second = str(tmp_path / "first"), str(tmp_path / "second")
    synth_docs(spark, SF_SMOKE).write.parquet(first)
    spark.read.parquet(first).limit(5).write.parquet(second)
    out = str(tmp_path / "store")
    for src in (first, second):
        pipeline.run(["--input", src, "--output", out, "--buckets", "8"])
    key = ["subj", "pred", "obj", "graph", "doc_id", "span_idx", "pos"]
    want = pipeline.build_triples(spark, spark.read.parquet(second)).select(*key).collect()
    got = materialize.read_triples(spark, out).select(*key).collect()
    assert want and sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_compact_store(spark, triples, tmp_path_factory):
    """Upserts fragment partitions into many small files; compaction
    restores one subj-sorted file per partition with identical data, is
    manifest-tracked, resumable after a mid-run crash, and a no-op when
    nothing exceeds the threshold."""
    import os

    out = str(tmp_path_factory.mktemp("store_compact"))
    materialize.write_triples(spark, triples, out, n_buckets=8, input_snapshot="v1")
    before = materialize.read_triples(spark, out)
    # two upsert batches of new subjects -> files appended to partitions
    # where nothing dies (a re-import rewrites its partitions as one file)
    some = [f"iri://new-subject-{i}/" for i in range(6)]
    for snap, subjects in (("v2", some[:3]), ("v3", some[3:])):
        batch = spark.createDataFrame(
            [(s, "ocgml:name", f"renamed_{snap}", "literal", None, "cityobject",
              "d", 0, 0) for s in subjects],
            "subj string, pred string, obj string, obj_type string, "
            "datatype string, graph string, doc_id string, span_idx int, pos int",
        )
        materialize.upsert_triples(spark, batch, out, n_buckets=8, input_snapshot=snap)
    expect = sorted(
        map(tuple, materialize.read_triples(spark, out).select(
            "subj", "pred", "obj", "graph").collect())
    )

    path = os.path.join(out, "triples")

    def file_counts():
        c = {}
        for g in os.listdir(path):
            if not g.startswith("graph="):
                continue
            for b in os.listdir(os.path.join(path, g)):
                if b.startswith("bucket="):
                    c[(g, b)] = sum(
                        1 for f in os.listdir(os.path.join(path, g, b))
                        if f.endswith(".parquet")
                    )
        return c

    assert max(file_counts().values()) > 1  # fragmentation happened

    # crash mid-compaction, then resume: finished groups are not redone
    with pytest.raises(RuntimeError):
        materialize.compact_store(spark, out, bucket_group=2, fail_after_groups=1)
    done_after_crash = materialize.read_manifest(spark, out).where(
        (F.col("stage") == "compact") & (F.col("status") == "done")
    ).count()
    assert done_after_crash == 2
    compacted = materialize.compact_store(spark, out, bucket_group=2)
    assert all(n > 1 for _, n in compacted)

    counts = file_counts()
    assert max(counts.values()) == 1  # one file per partition everywhere
    got = sorted(
        map(tuple, materialize.read_triples(spark, out).select(
            "subj", "pred", "obj", "graph").collect())
    )
    assert got == expect  # byte-identical content
    # subj-sorted within the rewritten file (row-group pruning property)
    g, b = next(iter(counts))
    fdir = os.path.join(path, g, b)
    fpath = os.path.join(fdir, next(f for f in os.listdir(fdir) if f.endswith(".parquet")))
    subs = spark.read.parquet(fpath).select("subj").toPandas()["subj"].tolist()
    assert subs == sorted(subs)
    # second run: metadata-only no-op
    assert materialize.compact_store(spark, out) == []
    # a LATER upsert re-fragments an already-compacted partition: it must
    # become eligible again (recurring maintenance, not once-per-stage)
    batch = spark.createDataFrame(
        [("iri://new-subject-6/", "ocgml:name", "renamed_v4", "literal", None, "cityobject",
          "d", 0, 0)],
        "subj string, pred string, obj string, obj_type string, "
        "datatype string, graph string, doc_id string, span_idx int, pos int",
    )
    materialize.upsert_triples(spark, batch, out, n_buckets=8, input_snapshot="v4")
    assert max(file_counts().values()) > 1
    recompacted = materialize.compact_store(spark, out, bucket_group=2)
    assert recompacted and max(file_counts().values()) == 1
    again = sorted(
        map(tuple, materialize.read_triples(spark, out).select(
            "subj", "pred", "obj", "graph").collect())
    )
    assert ("renamed_v4" in {o for _, _, o, _ in again}) and len(again) == len(expect) + 1


def test_compact_store_mid_commit_crash(spark, triples, tmp_path_factory):
    """A crash INSIDE the dynamic-partition-overwrite commit can leave a
    partition holding old + new files whose count is at or below the
    threshold — duplicated rows the pre-r5 file-count test accepted
    silently. The write-ahead `pending` manifest row (expected count) +
    footer audit must (a) repair the mixed state by keeping the newest
    complete file, and (b) raise on genuine row loss."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("store_crash"))
    materialize.write_triples(spark, triples, out, n_buckets=4, input_snapshot="v1")
    # a new subject: its row is appended next to the partition's file
    batch = spark.createDataFrame(
        [("iri://new-subject-crash/", "ocgml:name", "renamed_crash", "literal", None, "cityobject",
          "d", 0, 0)],
        "subj string, pred string, obj string, obj_type string, "
        "datatype string, graph string, doc_id string, span_idx int, pos int",
    )
    materialize.upsert_triples(spark, batch, out, n_buckets=4, input_snapshot="v2")

    path = os.path.join(out, "triples")
    # find a partition the upsert fragmented (>1 file)
    g = b = None
    for gdir in sorted(os.listdir(path)):
        if not gdir.startswith("graph="):
            continue
        for bdir in sorted(os.listdir(os.path.join(path, gdir))):
            if bdir.startswith("bucket="):
                d = os.path.join(path, gdir, bdir)
                if sum(1 for f in os.listdir(d) if f.endswith(".parquet")) > 1:
                    g, b = gdir.split("=", 1)[1], int(bdir.split("=", 1)[1])
    assert g is not None
    part_dir = os.path.join(path, f"graph={g}", f"bucket={b}")
    expected_rows = sorted(
        map(tuple, spark.read.parquet(part_dir).select("subj", "pred", "obj").collect())
    )
    expected = len(expected_rows)

    # forge the mid-commit state: the new complete single file landed but
    # the old files were never deleted (duplicated rows), and the cycle's
    # `pending` row is in the manifest with no closing `done`
    tmp = str(tmp_path_factory.mktemp("newfile"))
    spark.read.parquet(part_dir).coalesce(1).write.mode("overwrite").parquet(tmp)
    newf = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.copy(os.path.join(tmp, newf), os.path.join(part_dir, "part-99999-repair.parquet"))
    materialize._append_manifest(
        out, [("compact", f"{g}/{b}", "", expected, "pending", 1, 0)]
    )
    assert spark.read.parquet(part_dir).count() > expected  # duplicates live

    materialize.compact_store(spark, out, bucket_group=2)
    counts = materialize._parquet_footer_counts(part_dir)
    assert list(counts.values()) == [expected]  # repaired: one complete file
    got = sorted(
        map(tuple, spark.read.parquet(part_dir).select("subj", "pred", "obj").collect())
    )
    assert got == expected_rows
    # audited pending is closed: a fresh call is a metadata no-op
    assert materialize.compact_store(spark, out) == []

    # row-LOSS state: delete the only file, leave a dangling pending
    materialize._append_manifest(
        out, [("compact", f"{g}/{b}", "", expected, "pending", 3, 0)]
    )
    os.remove(os.path.join(part_dir, next(iter(
        materialize._parquet_footer_counts(part_dir)
    ))))
    with pytest.raises(RuntimeError, match="rows"):
        materialize.compact_store(spark, out)


def test_write_triples_bulk_single_pass(spark, triples, tmp_path_factory):
    """bucket_group=None: one write job, per-bucket manifest rows from
    footer metadata, content identical to the grouped path; refuses to
    resume a partially-written stage."""
    import os

    grouped = str(tmp_path_factory.mktemp("store_grouped"))
    bulk = str(tmp_path_factory.mktemp("store_bulk"))
    materialize.write_triples(spark, triples, grouped, n_buckets=8, input_snapshot="v1")
    materialize.write_triples(
        spark, triples, bulk, n_buckets=8, input_snapshot="v1", bucket_group=None
    )
    key = ["subj", "pred", "obj", "graph"]
    a = sorted(map(tuple, materialize.read_triples(spark, grouped).select(*key).collect()))
    b = sorted(map(tuple, materialize.read_triples(spark, bulk).select(*key).collect()))
    assert a == b and a
    # manifest parity: same per-bucket done rows with identical counts
    def manifest_counts(out):
        return {
            r.partition_range: r.row_count
            for r in materialize.read_manifest(spark, out)
            .where(F.col("stage") == "materialize").collect()
        }
    assert manifest_counts(bulk) == manifest_counts(grouped)
    # a partially-written stage must refuse the bulk path
    partial = str(tmp_path_factory.mktemp("store_partial"))
    with pytest.raises(RuntimeError):
        materialize.write_triples(
            spark, triples, partial, n_buckets=8, bucket_group=2, fail_after_groups=1
        )
    with pytest.raises(ValueError, match="bulk"):
        materialize.write_triples(
            spark, triples, partial, n_buckets=8, bucket_group=None
        )


_MANIFEST_ROWS = [
    ("materialize", "3", "v1", 7, "done", 1, 12),
    ("compact", "building/3", "", 9, "pending", 1, 0),
]


def test_manifest_io_starts_no_spark_job(spark, tmp_path):
    """The manifest is written and read with pyarrow on the driver: an
    append, a completed-bucket lookup and building the manifest frame
    launch no Spark job."""
    from conftest import spark_jobs

    out = str(tmp_path)

    def manifest_io():
        materialize._append_manifest(out, _MANIFEST_ROWS)
        return (materialize.completed_buckets(spark, out, "materialize"),
                materialize.read_manifest(spark, out))

    (done, frame), jobs, _ = spark_jobs(spark, manifest_io)
    assert jobs == 0
    assert done == {3}
    assert sorted(map(tuple, frame.collect())) == sorted(_MANIFEST_ROWS)


def test_manifest_ignores_an_unrenamed_temp_file(spark, tmp_path):
    """An append that died between its write and its rename leaves a
    dot-prefixed temp file; no reader sees its rows — not the manifest
    frame, not completed_buckets, not DuckDB's `*.parquet` glob."""
    import duckdb
    import pyarrow.parquet as pq

    from citykg.schema import MANIFEST_SCHEMA
    from citykg.session import arrow_table

    out = str(tmp_path)
    materialize._append_manifest(out, _MANIFEST_ROWS[:1])
    pq.write_table(
        arrow_table([("materialize", "5", "", 1, "done", 1, 0)], MANIFEST_SCHEMA),
        os.path.join(materialize.manifest_path(out), ".x.tmp"),
    )
    assert [tuple(r) for r in materialize.read_manifest(spark, out).collect()] == [
        _MANIFEST_ROWS[0]
    ]
    assert materialize.completed_buckets(spark, out, "materialize") == {3}
    con = duckdb.connect()
    try:
        seen = con.execute(
            f"SELECT DISTINCT partition_range FROM read_parquet('{out}/_manifest/*.parquet')"
        ).fetchall()
    finally:
        con.close()
    assert seen == [("3",)]


def test_spark_written_manifest_reads_beside_driver_written(spark, tmp_path):
    """A store whose manifest files Spark wrote (the earlier writer) keeps
    reading: its rows come back next to driver-written ones, all of them,
    with MANIFEST_SCHEMA's types."""
    from citykg.schema import MANIFEST_SCHEMA
    from citykg.session import local_frame

    out = str(tmp_path)
    old = [
        ("materialize", "0", "v0", 5, "done", 1, 40),
        ("upsert:v0", "0", None, None, "done", None, None),
    ]
    local_frame(spark, old, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(
        materialize.manifest_path(out)
    )
    materialize._append_manifest(out, _MANIFEST_ROWS)
    m = materialize.read_manifest(spark, out)
    assert m.schema == MANIFEST_SCHEMA
    assert sorted(map(tuple, m.collect()), key=repr) == sorted(old + _MANIFEST_ROWS, key=repr)
    assert materialize.completed_buckets(spark, out, "materialize") == {0, 3}
    row = next(r for r in materialize._manifest_rows(out) if r.partition_range == "0"
               and r.stage == "materialize")
    assert [type(v) for v in row] == [str, str, str, int, str, int, int]


def test_manifest_zero_rows_and_strict_rows(spark, tmp_path):
    """Zero rows and MANIFEST_SCHEMA's non-nullable fields behave as in
    session.local_frame: an empty append reads back as an empty frame of
    the schema; a null stage, a float count or a short row raises and
    leaves no file behind."""
    from citykg.schema import MANIFEST_SCHEMA

    out = str(tmp_path)
    assert materialize.read_manifest(spark, out).schema == MANIFEST_SCHEMA
    materialize._append_manifest(out, [])
    m = materialize.read_manifest(spark, out)
    assert m.schema == MANIFEST_SCHEMA and m.count() == 0
    assert [f.name for f in m.schema if not f.nullable] == ["stage", "partition_range"]
    files = sorted(os.listdir(materialize.manifest_path(out)))
    for bad in (
        [(None, "3", "", 7, "done", 1, 0)],
        [("materialize", "3", "", 7.0, "done", 1, 0)],
        [("materialize", "3", "", 7, "done", 1)],
    ):
        with pytest.raises((TypeError, ValueError)):
            materialize._append_manifest(out, bad)
    assert sorted(os.listdir(materialize.manifest_path(out))) == files
    assert materialize.completed_buckets(spark, out, "materialize") == set()
