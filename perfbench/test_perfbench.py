"""Smoke tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

They check that every metric named in BENCHMARK.json is emitted with its
unit, and that the output checks fail on a store with one partition removed
and on a wrong agent answer.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import oracle  # noqa: E402
import workloads  # noqa: E402
from harness import Tracer, start_spark, stop_spark  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = {
    "import": dict(docs=60, buckets=2, requests=3, setups=1, cycles=1),
    "citygml": dict(buildings=50, requests=3, setups=1, cycles=1),
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = start_spark(str(tmp_path_factory.mktemp("spark")), traced=True)
    yield s
    stop_spark(s)


def _run(spark, tmp_path, name):
    run = workloads.Run(spark, Tracer(spark, False), str(tmp_path / name), 7, name, TINY[name])
    run.trace_last = True
    os.makedirs(run.work)
    setups = workloads.WORKLOADS[name](run)
    return run, setups


def _units(spec_key: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[spec_key]}


@pytest.mark.parametrize("name", ["import", "citygml"])
def test_every_metric_emitted_with_its_unit(spark, tmp_path, name):
    run, setups = _run(spark, tmp_path, name)
    assert run.failed == 0, run.failures
    assert run.attempted > 0
    e2e = workloads.end_to_end(run, 1.0, 1.0)
    assert all(v > 0 for v in workloads.wall_clock(run, 1.0, setups).values())
    assert {k: u for k, (v, u) in e2e.items()} == _units("end_to_end")
    assert all(v > 0 for v, _ in e2e.values())
    layers = workloads.per_layer(run)
    assert {k: u for k, (v, u) in layers.items()} == _units("per_layer")
    if name == "import":
        parts = sorted({os.path.dirname(p) for p in oracle.store_files(run.store)})
        shutil.rmtree(parts[len(parts) // 2])
        want = oracle.ImportOracle(os.path.join(run.work, "corpus"), 2)
        assert want.check(run.store, 0)
        want.close()


def test_xxhash_buckets_match_spark(spark):
    words = ["", "a", "abcd", "abcdefgh", "x" * 31, "y" * 32, "z" * 77,
             "http://127.0.0.1:9999/blazegraph/namespace/berlin/sparql/building/BLDG_1/"]
    df = spark.createDataFrame([(w,) for w in words], "subj string")
    got = {r.subj: r.b for r in df.selectExpr("subj", "pmod(xxhash64(subj), 64) AS b").collect()}
    assert got == {w: oracle.bucket_of(w, 64) for w in words}


def test_wrong_agent_answer_fails():
    a, b = "http://h/ns/cityobject/A/", "http://h/ns/cityobject/B/"
    exp = oracle.ExpectedStore({
        a: [("ocgml:name", "A"), ("ocgml:EnvelopeType", "0#0#0#2#0#0#2#2#1#0#2#1#0#0#0")],
        b: [("ocgml:name", "B"), ("ocgml:EnvelopeType", "3#4#0#5#4#0#5#6#1#3#6#1#3#4#0")],
    })
    info = {"iris": [a]}
    good = {"cityobjectinformation": [{"iri": a, "attributes": [{"pred": "ocgml:name", "obj": "A"}]}]}
    bad = {"cityobjectinformation": [{"iri": a, "attributes": [{"pred": "ocgml:name", "obj": "Z"}]}]}
    assert oracle.check_answer(exp, "info", info, good) is None
    assert oracle.check_answer(exp, "info", info, bad)
    pair = {"iris": [a, b]}
    d = ((4 - 1) ** 2 + (5 - 1) ** 2) ** 0.5
    assert oracle.check_answer(exp, "distance", pair, {"distances": [d]}) is None
    assert oracle.check_answer(exp, "distance", pair, {"distances": [d + 0.1]})
    near = {"iris": [a], "searchDistance": 10.0}
    assert oracle.check_answer(exp, "filter", near, {"distanceFilter": [{"neighbor_iri": b}]}) is None
    assert oracle.check_answer(exp, "filter", near, {"distanceFilter": []})
