"""Stage-1 extraction: DuckDB-oracle equality, span-order invariant,
hostile inputs, and the no-per-row-Python guards."""

import ast
import pathlib
import re

from pyspark.sql import functions as F

from citykg.extract import extract_triples, mention_counts
from citykg.fixtures import synth_docs, triples_oracle_sql
from citykg.schema import DOC_SCHEMA

from conftest import SF_SMOKE

CMP_COLS = ["subj", "pred", "obj", "obj_type", "datatype", "graph", "doc_id", "span_idx", "pos"]


def _frames(spark, duck):
    t = extract_triples(spark, synth_docs(spark, SF_SMOKE))
    a = t.toPandas()[CMP_COLS]
    b = duck.execute(triples_oracle_sql()).df()[CMP_COLS]
    a = a.fillna("<N>").sort_values(CMP_COLS).reset_index(drop=True)
    b = b.fillna("<N>").sort_values(CMP_COLS).reset_index(drop=True)
    for c in ("span_idx", "pos"):
        b[c] = b[c].astype(a[c].dtype)
    return a, b


def test_extract_matches_duckdb_oracle(spark, duck):
    a, b = _frames(spark, duck)
    assert len(a) == len(b) and len(a) > 20000
    assert a.equals(b)


def test_span_order_invariant(spark):
    """Sorting by (doc_id, span_idx, pos) must reproduce the reference
    emission order: cityobject block before feature block, template order
    within each block (DBBuilding.java:177,421)."""
    t = extract_triples(spark, synth_docs(spark, SF_SMOKE))
    one = (
        t.where((F.col("doc_id") == "doc_00000007") & (F.col("span_idx") == 0))
        .orderBy("pos")
        .select("graph", "pred")
        .collect()
    )
    graphs = [r.graph for r in one]
    # within the building span: cityobject rows strictly before building rows
    co = [i for i, g in enumerate(graphs) if g == "cityobject"]
    bl = [i for i, g in enumerate(graphs) if g == "building"]
    assert co and bl and max(co) < min(bl)
    # first cityobject predicates follow the template prefix
    assert [r.pred for r in one[:3]] == ["ocgml:id", "ocgml:objectClassId", "ocgml:gmlId"]


def test_mention_counts(spark):
    t = extract_triples(spark, synth_docs(spark, SF_SMOKE))
    c = {r.graph: r.n_subjects for r in mention_counts(t).collect()}
    # 500 docs; building graph holds building + building_part subjects
    # (bridge/tunnel graphs likewise hold their parts); 35 feature kinds
    # emit cityobject rows (10 original + 9 P25+ + 3 nested sub-features +
    # 13 bridge/tunnel interior types)
    assert c["building"] == 1000 and c["cityobject"] == 17500 and c["address"] == 500
    assert c["bridge"] == 1000 and c["tunnel"] == 1000  # + parts
    assert c["waterbody"] == 500 and c["grouptocityobject"] == 500
    assert c["trafficarea"] == 500 and c["tinrelief"] == 500
    assert c["bridgethematicsurface"] == 500 and c["tunnelhollowspace"] == 500
    assert len(c) == 51  # every graph with a template emits


def test_hostile_inputs_no_crash(spark):
    rows = [
        ("d1", [("building", "no delimiters", "", 0)]),
        ("d2", []),
        ("d3", [("unknown_kind", "gmlId=X", "", 0)]),
        ("d4", [("building", None, None, 0)]),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    out = extract_triples(spark, docs).collect()
    assert all(r.obj is not None for r in out)
    assert not [r for r in out if r.doc_id == "d3"]  # unknown kinds dropped


def test_no_per_row_python_udf_in_package():
    """input_hint mandates vectorized pandas/Arrow UDFs only; row-wise
    F.udf is banned from the package (SURVEY §7 hard parts)."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "citykg"
    bad = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if re.search(r"(?<!pandas_)\budf\s*\(", src.replace("F.udf", "udf(")) and "udf(" in src:
            if re.search(r"\bF\.udf\b|\bfrom pyspark\.sql\.functions import udf\b", src):
                bad.append(py.name)
    assert not bad, f"row-at-a-time UDFs found in {bad}"


def test_driver_tables_built_only_by_local_frame():
    """`createDataFrame(` appears in the package only inside
    session.local_frame, the one builder of driver-side tables."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "citykg"
    hits = [
        (py.relative_to(pkg).as_posix(), n)
        for py in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    fn = next(
        f for f in ast.parse((pkg / "session.py").read_text()).body
        if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
    )
    assert hits and all(
        p == "session.py" and fn.lineno <= n <= fn.end_lineno for p, n in hits
    ), hits


def test_template_is_a_local_relation(spark):
    """The template side of the extract join is an Arrow LocalRelation,
    not a pickled Python RDD: the optimized plan holds no `LogicalRDD`,
    so an extract starts no Python worker for its template."""
    t = extract_triples(spark, synth_docs(spark, SF_SMOKE))
    plan = t._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_plan_is_single_broadcast_join_no_shuffle(spark):
    t = extract_triples(spark, synth_docs(spark, SF_SMOKE))
    plan = t._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only Exchange allowed is the broadcast of the template table
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
