"""Servlet-analog agent plumbing (citykg.agents): request validation,
branch semantics, the import route end-to-end, and the HTTP surface.

Contracts under test mirror CityInformationAgent.java:92-254,
DistanceAgent.java:87-149/271-316, CityImportAgent.java:72-200."""

import json
import pathlib
import urllib.request

import pytest
from conftest import MINIMAL_GML
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from citykg import materialize
from citykg.agents import (
    BadRequestException,
    CityExportAgent,
    CityImportAgent,
    CityInformationAgent,
    DistanceAgent,
    dispatch,
    serve,
)
from citykg.extract import extract_triples
from citykg.fixtures import synth_docs
from citykg.vocab import DEFAULT_BASE

SF = "/root/testdata/sf0.001"
# a committed stand-in of the same shape as the reference's agents test.gml
# (one cityObjectMember holding one bldg:Building), not that file
TEST_GML = MINIMAL_GML


def _iri(d):
    return f"{DEFAULT_BASE}/cityobject/BLDG_{d:08d}/"


@pytest.fixture(scope="module")
def triples(spark):
    t = extract_triples(spark, synth_docs(spark, SF)).localCheckpoint(eager=False)
    return t


# ---------------------------------------------------------------------------
# validateInput
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "req",
    [
        {},  # empty body
        {"iris": [_iri(1)]},  # missing method
        {"method": "GET", "iris": [_iri(1)]},  # non-POST
        {"method": "POST"},  # missing iris
        {"method": "POST", "iris": "not-an-array"},
        {"method": "POST", "iris": ["no scheme"]},  # new URL() fails
        # context agent kv-pairs must contain TotalGFA (:223-240)
        {"method": "POST", "iris": [_iri(1)], "context": {"http://a/b": {}}},
        {"method": "POST", "iris": [_iri(1)], "context": {"noscheme": {"TotalGFA": "1"}}},
    ],
)
def test_city_info_validate_rejects(req):
    with pytest.raises(BadRequestException):
        CityInformationAgent().validate_input(req)


def test_distance_validate_rejects_bad_iri():
    with pytest.raises(BadRequestException):
        DistanceAgent().validate_input({"method": "POST", "iris": [_iri(1), ":::"]})


@pytest.mark.parametrize(
    "req",
    [
        {"method": "POST", "requestUrl": "http://h/import/source", "targetURL": "http://h/t"},
        # listen: directory must be absolute
        {"method": "POST", "requestUrl": "http://h/import/source",
         "targetURL": "http://h/t", "directory": "rel/dir"},
        # action: watch required
        {"method": "POST", "requestUrl": "http://h/import/citygml", "targetURL": "http://h/t"},
        # unknown import route
        {"method": "POST", "requestUrl": "http://h/import/other",
         "targetURL": "http://h/t", "directory": "/tmp"},
        # missing targetURL entirely
        {"method": "POST", "requestUrl": "http://h/import/source", "directory": "/tmp"},
    ],
)
def test_import_validate_rejects(req):
    with pytest.raises(BadRequestException):
        CityImportAgent().validate_input(req)


# ---------------------------------------------------------------------------
# CityInformationAgent branches
# ---------------------------------------------------------------------------

def test_info_frame_drops_envelope_and_scopes_to_request(triples):
    req = {"method": "POST", "iris": [_iri(1), _iri(7)]}
    rows = CityInformationAgent().info_frame(triples, req).collect()
    assert {r["iri"] for r in rows} == {_iri(1), _iri(7)}
    # setEnvelopeType(null) parity: no envelope rows in the response
    assert all(r["pred"] != "ocgml:EnvelopeType" for r in rows)
    # but the store itself HAS the envelope row for these subjects
    has_env = (
        triples.where(F.col("subj") == _iri(1))
        .where(F.col("pred") == "ocgml:EnvelopeType")
        .count()
    )
    assert has_env == 1


def test_info_process_shapes_response_in_request_order(triples):
    unknown = f"{DEFAULT_BASE}/cityobject/NOPE_00000000/"
    req = {"method": "POST", "iris": [_iri(2), unknown, _iri(1)]}
    out = CityInformationAgent().process_request_parameters(triples, req)
    info = out["cityobjectinformation"]
    assert [e["iri"] for e in info] == [_iri(2), unknown, _iri(1)]
    assert info[1]["attributes"] == []  # hollow model for an absent object
    assert len(info[0]["attributes"]) > 0
    # original request keys are echoed back (servlet mutates + returns)
    assert out["method"] == "POST" and out["iris"] == req["iris"]


def test_plot_filter_threshold_semantics(spark):
    gfa = spark.createDataFrame(
        [("a", "Z1", True, 2600.0), ("b", "Z1", True, 2400.0), ("c", "Z2", False, 9000.0)],
        "iri string, zone string, allows_use boolean, gfa double",
    )
    url = "http://h/access"
    base = {"method": "POST", "iris": ["http://h/x"]}
    ag = CityInformationAgent()
    kept = ag.filtered_objects(gfa, {**base, "context": {url: {"TotalGFA": "2500"}}}, url)
    assert [r["iri"] for r in kept.collect()] == ["a"]
    # max_cap inverts the bound; non-numeric TotalGFA -> 0.0 (no bound)
    kept = ag.filtered_objects(
        gfa, {**base, "context": {url: {"TotalGFA": "2500", "max_cap": True}}}, url
    )
    assert [r["iri"] for r in kept.collect()] == ["b"]
    kept = ag.filtered_objects(gfa, {**base, "context": {url: {"TotalGFA": "oops"}}}, url)
    assert {r["iri"] for r in kept.collect()} == {"a", "b"}


# ---------------------------------------------------------------------------
# DistanceAgent
# ---------------------------------------------------------------------------

def test_distance_pairs_and_closed_form(triples):
    iris = [_iri(1), _iri(2), _iri(5)]
    req = {"method": "POST", "iris": iris}
    d = DistanceAgent().distances_frame(triples, req).collect()
    assert len(d) == 3  # C(3,2)
    got = {(r["iri_a"], r["iri_b"]): r["dist_m"] for r in d}
    # centroid(d) = (384000 + d%1000 + 4.5, 5820000 + d%2000 + 4.0); 2D
    import math

    def expect(a, b):
        return round(math.sqrt((a - b) ** 2 + (a - b) ** 2), 6)

    assert got[(_iri(1), _iri(2))] == expect(1, 2)
    assert got[(_iri(2), _iri(5))] == expect(2, 5)


def test_info_search_distance_branch(triples):
    """SEARCH_DISTANCE routes to the distance-filter task: neighbors
    within the radius, self excluded, distances consistent with the
    closed-form centroid arithmetic."""
    import math

    req = {"method": "POST", "iris": [_iri(5)], "searchDistance": 5}
    out = CityInformationAgent().process_request_parameters(triples, req)
    matches = out["distanceFilter"]
    assert matches and all(m["query_iri"] == _iri(5) for m in matches)
    assert all(m["neighbor_iri"] != _iri(5) for m in matches)
    # neighbors of doc 5 at radius 5 are docs 2..8 minus self (delta*sqrt(2) <= 5)
    assert {m["neighbor_iri"] for m in matches} == {_iri(d) for d in (2, 3, 4, 6, 7, 8)}
    got = {m["neighbor_iri"]: m["dist_m"] for m in matches}
    assert got[_iri(7)] == round(math.sqrt(8.0), 6)
    # non-numeric radius rejected
    with pytest.raises(BadRequestException):
        CityInformationAgent().distance_filter_frame(
            triples, {"method": "POST", "iris": [_iri(5)], "searchDistance": "near"}
        )


def test_distance_cached_wins_either_orientation(spark, triples):
    iris = [_iri(1), _iri(2), _iri(3)]
    req = {"method": "POST", "iris": iris}
    # stored distance for (2, 1) — reversed orientation on purpose
    cached = spark.createDataFrame(
        [(_iri(2), _iri(1), 999.0)], "iri_a string, iri_b string, dist_m double"
    )
    out = DistanceAgent().process_request_parameters(triples, req, cached=cached)
    dists = out["distances"]
    assert len(dists) == 3
    assert dists[0] == 999.0  # pair (1,2) served from the store
    assert all(v is not None and v != 999.0 for v in dists[1:])


def test_distance_writeback_is_om2_pattern(spark, triples):
    req = {"method": "POST", "iris": [_iri(1), _iri(2)]}
    d = DistanceAgent().distances_frame(triples, req)
    wb = DistanceAgent().writeback_frame(d)
    rows = wb.collect()
    assert len(rows) == 10  # 10 triples per pair (getSetDistanceQuery)
    assert {r["graph"] for r in rows} == {"distance"}
    preds = {r["pred"] for r in rows}
    assert any("hasPhenomenon" in p for p in preds)
    assert any("hasNumericValue" in p for p in preds)


# ---------------------------------------------------------------------------
# CityImportAgent end-to-end
# ---------------------------------------------------------------------------

def test_import_listen_and_action_roundtrip(spark, tmp_path):
    import shutil

    watch = tmp_path / "inbox"
    watch.mkdir()
    shutil.copy(TEST_GML, watch / "a.gml")
    shutil.copy(TEST_GML, watch / "b.gml")
    store = tmp_path / "store"

    agent = CityImportAgent()
    listen_req = {
        "method": "POST",
        "requestUrl": "http://localhost/import/source",
        "targetURL": f"file://{store}",
        "directory": str(watch),
    }
    out = agent.process_request_parameters(spark, listen_req)
    assert out["listening"] == str(watch)
    assert str(watch) in agent.watched_dirs

    action_req = {
        "method": "POST",
        "requestUrl": "http://localhost/import/citygml",
        "targetURL": f"file://{store}",
        "watch": str(watch),
    }
    out = agent.process_request_parameters(spark, action_req)
    assert out["nFeatures"] == 2  # one cityObjectMember per copy
    assert out["nChunks"] == 1
    stored = materialize.read_triples(spark, str(store))
    assert stored.count() > 0
    # the imported features are queryable by the info agent
    iris = [r["subj"] for r in stored.where("graph = 'cityobject'").select("subj").distinct().collect()]
    info = CityInformationAgent().info_frame(stored, {"method": "POST", "iris": iris})
    assert info.count() > 0


def test_import_listen_stream_resumes(spark, tmp_path):
    """The watcher-service analog: drops land as micro-batches; a second
    availableNow run after more drops processes ONLY the new files
    (checkpoint resume)."""
    import shutil

    watch = tmp_path / "stream_inbox"
    watch.mkdir()
    out = tmp_path / "stream_out"
    ckpt = tmp_path / "stream_ckpt"
    shutil.copy(TEST_GML, watch / "a.gml")

    agent = CityImportAgent()
    q = agent.listen_stream(spark, str(watch), str(out), str(ckpt))
    q.awaitTermination(300)
    first = spark.read.parquet(str(out)).count()
    assert first > 0
    assert str(watch) in agent.watched_dirs

    shutil.copy(TEST_GML, watch / "b.gml")
    q = agent.listen_stream(spark, str(watch), str(out), str(ckpt))
    q.awaitTermination(300)
    assert spark.read.parquet(str(out)).count() == 2 * first


def test_import_files_counts_and_releases_its_cache(spark, tmp_path, monkeypatch):
    """A generated CityGML 2.0 tile set through the import action: the
    feature count and every graph's row count match the vocabulary
    templates, and the parse cached across the count and the write is
    released when the call returns."""
    monkeypatch.syspath_prepend(str(pathlib.Path(__file__).resolve().parents[1] / "perfbench"))
    from citygml_gen import CityGMLSet
    from templates import graph_counts

    gen = CityGMLSet(seed=3, n_buildings=4)
    gen.write(str(tmp_path / "tiles"))
    store = str(tmp_path / "store")
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    out = CityImportAgent().import_files(spark, str(tmp_path / "tiles"), store)

    assert out["nFeatures"] == len(gen.features)
    assert out["nChunks"] == 1
    stored = materialize.read_triples(spark, store).groupBy("graph").count().collect()
    assert {r["graph"]: r["count"] for r in stored} == graph_counts(gen.spans())
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == persisted


def _tiles(monkeypatch, tmp_path, seed, n_buildings):
    """A generated CityGML tile set under tmp_path and its per-graph
    row counts from the vocabulary templates."""
    monkeypatch.syspath_prepend(str(pathlib.Path(__file__).resolve().parents[1] / "perfbench"))
    from citygml_gen import CityGMLSet
    from templates import graph_counts

    gen = CityGMLSet(seed=seed, n_buildings=n_buildings)
    tiles = str(tmp_path / f"tiles_{seed}")
    gen.write(tiles)
    return tiles, graph_counts(gen.spans())


def _graph_rows(spark, store):
    rows = materialize.read_triples(spark, store).groupBy("graph").count().collect()
    return {r["graph"]: r["count"] for r in rows}


def test_import_of_several_chunks_writes_one_file_per_partition(spark, tmp_path, monkeypatch):
    """An import whose features span several 50-feature chunk tasks still
    leaves one file per (graph, bucket): the store write clusters rows
    by partition, whatever the number of input tasks."""
    from citykg.store import ParquetStoreAdapter

    tiles, want = _tiles(monkeypatch, tmp_path, seed=5, n_buildings=60)
    store = str(tmp_path / "store")
    out = CityImportAgent().import_files(spark, tiles, store)
    assert out["nChunks"] >= 2
    assert _graph_rows(spark, store) == want
    parts = ParquetStoreAdapter(spark, store).list_partitions()
    assert parts and {n for _, _, n in parts} == {1}


def test_second_import_into_a_store_is_kept(spark, tmp_path, monkeypatch):
    """Importing a second, distinct tile set into a store that holds an
    import adds its rows; importing the same tiles again replaces their
    rows and leaves the row count unchanged."""
    first, want_first = _tiles(monkeypatch, tmp_path, seed=1, n_buildings=4)
    second, want_second = _tiles(monkeypatch, tmp_path, seed=2, n_buildings=4)
    store = str(tmp_path / "store")
    agent = CityImportAgent()
    agent.import_files(spark, first, store)
    agent.import_files(spark, second, store)
    both = {g: want_first.get(g, 0) + want_second.get(g, 0)
            for g in {*want_first, *want_second}}
    assert _graph_rows(spark, store) == both
    assert agent.import_files(spark, second, store)["nFeatures"] > 0
    assert _graph_rows(spark, store) == both


# ---------------------------------------------------------------------------
# ThematicSurfaceDiscoveryAgent / UPRNAgent / GraphInferenceAgent
# ---------------------------------------------------------------------------

def _surf_iri(d):
    return f"{DEFAULT_BASE}/surfacegeometry/SURF_{d:08d}/"


@pytest.mark.parametrize(
    "req",
    [
        {"method": "POST", "namespace": "http://h/ns"},  # must be PUT
        {"method": "PUT"},  # namespace required
        {"method": "PUT", "namespace": "http://h/ns", "mode": "explode"},
        {"method": "PUT", "namespace": "http://h/ns", "thresholdAngle": "steep"},
        {"method": "PUT", "namespace": "http://h/ns", "cityObjectIRI": "not a url"},
    ],
)
def test_tsd_validate_rejects(req):
    from citykg.agents import ThematicSurfaceDiscoveryAgent

    with pytest.raises(BadRequestException):
        ThematicSurfaceDiscoveryAgent().validate_input(req)


def test_tsd_modes_and_scope(spark, triples):
    from citykg.agents import ThematicSurfaceDiscoveryAgent
    from citykg.ops import geo

    ns = DEFAULT_BASE + "/"
    agent = ThematicSurfaceDiscoveryAgent()
    # restructure matches the A10 operator applied directly (same theta)
    req = {"method": "PUT", "namespace": ns, "thresholdAngle": 45.0}
    got = {r["iri"]: r["surf_class"] for r in agent.discover_frame(triples, req).collect()}
    direct = geo.classify_surface(
        triples.where("graph = 'surfacegeometry' and pred = 'ocgml:GeometryType'")
        .select(F.col("subj").alias("iri"), F.col("obj").alias("lit")),
        "lit",
        theta_deg=45.0,
    )
    want = {r["iri"]: r["surf_class"] for r in direct.select("iri", "surf_class").collect()}
    assert got == want and len(got) > 0
    # cityObjectIRI scopes to the one building's surfaces
    req = {"method": "PUT", "namespace": ns, "cityObjectIRI": _iri(3)}
    rows = agent.discover_frame(triples, req).collect()
    assert {r["iri"] for r in rows} == {_surf_iri(3)}
    # validate mode returns per-class counts summing to the surface count
    req = {"method": "PUT", "namespace": ns, "mode": "validate"}
    counts = agent.discover_frame(triples, req).collect()
    assert sum(r["n"] for r in counts) == len(got)


def test_uprn_match_via_http_put(spark, triples):
    server = serve(spark, triples)
    try:
        body = {
            "namespace": DEFAULT_BASE + "/",
            "cityObjectIRI": _iri(2),
            # inside doc 2's footprint vs far away
            "points": [
                {"point_id": "PT_IN", "x": 384000 + 2 + 4.5, "y": 5820000 + 2 + 4.0},
                {"point_id": "PT_OUT", "x": 1.0, "y": 1.0},
            ],
        }
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.server_port}/uprn",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method="PUT",
        )
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out["matches"] == [{"point_id": "PT_IN", "poly_id": _surf_iri(2)}]
    finally:
        server.shutdown()


@pytest.mark.parametrize(
    "patch",
    [
        {"method": "GET"},
        {"gmlid": []},
        {"displayform": "HOLOGRAM"},
        {"lod": 9},
        {"lod": "tall"},
        {"namespace": "nope"},
    ],
)
def test_export_validate_rejects(patch):
    from citykg.agents import CityExportAgent

    req = {
        "method": "POST",
        "namespace": DEFAULT_BASE,
        "gmlid": ["BLDG_00000003"],
        "displayform": "footprint",
        "lod": 2,
    }
    req.update(patch)
    with pytest.raises(BadRequestException):
        CityExportAgent().validate_input(req)


def test_export_display_forms(spark, triples):
    from citykg.agents import CityExportAgent

    agent = CityExportAgent()
    base = {
        "method": "POST",
        "namespace": DEFAULT_BASE,
        "gmlid": ["BLDG_00000003", "BLDG_00000008"],
        "lod": 2,
    }
    # footprint: one placemark per requested feature, case-insensitive form
    fp = agent.export_frame(triples, {**base, "displayform": "footprint"}).collect()
    assert {r["gml_id"] for r in fp} == {"BLDG_00000003", "BLDG_00000008"}
    assert all("<Placemark" in r["kml"] for r in fp)
    # extruded: rides the building's measuredHeigh (sic) literal
    ex = agent.export_frame(triples, {**base, "displayform": "EXTRUDED"}).collect()
    assert len(ex) == 2 and all("ExtrudedNormal" in r["kml"] for r in ex)
    # geometry: styled per classified surface type
    ge = agent.export_frame(triples, {**base, "displayform": "Geometry"}).collect()
    assert len(ge) == 2 and all("KMLGeom_" in r["kml"] for r in ge)
    # collada: same response schema, COLLADA payload
    co = agent.export_frame(triples, {**base, "displayform": "COLLADA"}).collect()
    assert len(co) == 2 and all("<geometry id=" in r["kml"] for r in co)


def test_graph_inference_contract_and_writeback(spark, triples):
    from citykg.agents import GraphInferenceAgent

    small = triples.where("graph = 'addresstobuilding' and doc_id < 'doc_00000030'")
    agent = GraphInferenceAgent()
    base_req = {
        "method": "POST",
        "requestUrl": "http://localhost/inference/graph",
        "targetIRI": DEFAULT_BASE + "/",
        "ontologyIRI": "http://www.theworldavatar.com/ontologies/OntoInfer.owl",
    }
    # shortest path demands sourceIRI
    with pytest.raises(BadRequestException):
        agent.validate_input({**base_req, "algorithmIRI": agent.ALGO_SHORTEST_PATH})
    # wrong path rejected
    with pytest.raises(BadRequestException):
        agent.validate_input(
            {**base_req, "requestUrl": "http://localhost/other", "algorithmIRI": agent.ALGO_PAGERANK}
        )
    scores = agent.infer_frame(small, {**base_req, "algorithmIRI": agent.ALGO_PAGERANK})
    n = scores.count()
    assert n > 0
    wb = agent.writeback_frame(scores, agent.ALGO_PAGERANK)
    assert wb.count() == 3 * n
    assert {r["pred"] for r in wb.select("pred").distinct().collect()} == {
        "oninf:hasInferenceObject",
        "oninf:hasInferenceAlgorithm",
        "oninf:hasInferredValue",
    }
    out = agent.process_request_parameters(small, {**base_req, "algorithmIRI": agent.ALGO_PAGERANK})
    assert out["inferred"] == n


def test_ontology_inference_tasks(spark, triples):
    from citykg.agents import ONINF_SCHEMA, OntologyInferenceAgent

    agent = OntologyInferenceAgent()
    base_req = {
        "method": "POST",
        "requestUrl": "http://localhost/inference/ontology",
        "targetIRI": DEFAULT_BASE + "/",
        "ontologyIRI": "http://www.theworldavatar.com/ontologies/OntoInfer.owl",
    }
    # unknown algorithm fragment rejected
    with pytest.raises(BadRequestException):
        agent.infer_frame(triples, {**base_req, "algorithmIRI": ONINF_SCHEMA + "VibeCheckAlgorithm"})
    # graph-route URL rejected by the inherited path check
    with pytest.raises(BadRequestException):
        agent.validate_input(
            {**base_req, "requestUrl": "http://localhost/inference/graph",
             "algorithmIRI": ONINF_SCHEMA + "ConsistencyCheckingAlgorithm"}
        )
    # consistency: one row per check family, counts match the direct ops
    out = agent.process_request_parameters(
        triples, {**base_req, "algorithmIRI": ONINF_SCHEMA + "ConsistencyCheckingAlgorithm"}
    )
    rows = out[ONINF_SCHEMA + "ConsistencyCheckingTask"]
    assert len(rows) == 5 and all("n_violations" in r for r in rows)
    # value restriction: storeys (1 + d%40) above 20 violate
    vr = agent.infer_frame(
        triples, {**base_req, "algorithmIRI": ONINF_SCHEMA + "ValueRestrictionCheckingAlgorithm"}
    )
    n_docs = triples.select("doc_id").distinct().count()
    assert vr.count() == sum(1 for d in range(n_docs) if (1 + d % 40) > 20)


# ---------------------------------------------------------------------------
# validation is TOTAL: any JSON-shaped request either validates or raises
# BadRequestException — never TypeError/KeyError/AttributeError (a servlet
# must 400, not 500, on arbitrary client input)
# ---------------------------------------------------------------------------

_JSONISH = st.recursive(
    st.one_of(st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False),
              st.text(max_size=40)),
    lambda inner: st.one_of(
        st.lists(inner, max_size=4), st.dictionaries(st.text(max_size=20), inner, max_size=4)
    ),
    max_leaves=12,
)


@settings(max_examples=300, deadline=None)
@given(st.dictionaries(
    st.sampled_from(["method", "iris", "context", "requestUrl", "targetURL",
                     "directory", "watch", "namespace", "cityObjectIRI", "mode",
                     "thresholdAngle", "gmlid", "displayform", "lod", "targetIRI",
                     "algorithmIRI", "ontologyIRI", "sourceIRI", "searchDistance"]),
    _JSONISH, max_size=8,
))
def test_validation_is_total(req):
    from citykg import agents as ag

    for agent in (ag.CityInformationAgent(), ag.DistanceAgent(), ag.CityImportAgent(),
                  ag.ThematicSurfaceDiscoveryAgent(), ag.UPRNAgent(),
                  ag.GraphInferenceAgent(), ag.OntologyInferenceAgent(),
                  ag.CityExportAgent()):
        try:
            agent.validate_input(dict(req))
        except BadRequestException:
            pass


# ---------------------------------------------------------------------------
# dispatch + HTTP surface
# ---------------------------------------------------------------------------

def _post(port, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_namespace_endpoint_extraction():
    from citykg.agents import namespace_endpoint

    base = "http://www.theworldavatar.com:83/citieskg/namespace/berlin/sparql"
    # object IRIs drop graph + object segments; trailing slash is not a segment
    assert namespace_endpoint(f"{base}/cityobject/UUID_x/") == base + "/"
    assert namespace_endpoint(f"{base}/cityobject/UUID_x") == base + "/"
    # ontozone graph IRIs drop only one segment (getNamespaceEndpoint:53-56)
    assert namespace_endpoint(f"{base}/ontozone") == base + "/"


def test_store_registry_routes_requests(spark, triples, tmp_path):
    from citykg.agents import StoreRegistry, dispatch
    from citykg.extract import extract_triples
    from citykg.fixtures import synth_docs

    other_base = "http://other.example/citieskg/namespace/second/sparql"
    other = extract_triples(
        spark, synth_docs(spark, SF).limit(20), base=other_base
    ).localCheckpoint(eager=False)

    reg = StoreRegistry(spark)
    reg.register(DEFAULT_BASE, triples=triples)
    reg.register(other_base, triples=other)
    # unregistered namespace -> None (caller keeps current route)
    assert reg.target_resource_id("http://nowhere/ns/sparql/cityobject/X/") is None

    # the same dispatch call reaches different stores purely via the iri
    for base, t in ((DEFAULT_BASE, triples), (other_base, other)):
        iri = f"{base}/cityobject/BLDG_00000001/"
        out = dispatch(
            spark, triples, "/cityobjectinformation", {"iris": [iri]}, registry=reg
        )
        attrs = out["cityobjectinformation"][0]["attributes"]
        assert attrs, base
    # cross-check isolation: the second store's iri is absent from the first
    out = dispatch(
        spark, other, "/cityobjectinformation",
        {"iris": [f"{DEFAULT_BASE}/cityobject/BLDG_00000001/"]},
    )
    # no registry: default frame (other) doesn't know the DEFAULT_BASE iri
    assert out["cityobjectinformation"][0]["attributes"] == []


def test_store_registry_sees_upserts(spark, tmp_path):
    """One registry across a write: the upsert rewrites the partition
    the first resolve listed, and the same request through the same
    registry returns the new value (not a stale file listing)."""
    from citykg.agents import StoreRegistry

    def rows(name):
        return spark.createDataFrame(
            [(_iri(i), "ocgml:name", f"{name}{i}", "literal", None, "cityobject", "d", 0, i)
             for i in (1, 2)],
            "subj string, pred string, obj string, obj_type string, "
            "datatype string, graph string, doc_id string, span_idx int, pos int",
        )

    store = str(tmp_path / "store")
    materialize.write_triples(spark, rows("v1_"), store, n_buckets=2)
    reg = StoreRegistry(spark)
    reg.register(DEFAULT_BASE, store_dir=store)
    req = {"iris": [_iri(1)]}

    def names():
        out = dispatch(spark, None, "/cityobjectinformation", req, registry=reg)
        return [a["obj"] for a in out["cityobjectinformation"][0]["attributes"]]

    assert names() == ["v1_1"]
    materialize.upsert_triples(spark, rows("v2_"), store, n_buckets=2, input_snapshot="v2")
    assert names() == ["v2_1"]


def _scans(df) -> list[str]:
    """The FileScan lines of `df`'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [line for line in plan.splitlines() if "FileScan" in line]


def _scanned_buckets(scan: str) -> set[int]:
    """The bucket values of a scan's `bucket IN (..)` partition filter."""
    import re

    pf = scan.split("PartitionFilters: [", 1)[1].split("], PushedFilters", 1)[0]
    got = re.findall(r"bucket#\d+ IN \(([\d,]+)\)", pf)
    assert len(got) == 1, pf
    return {int(b) for b in got[0].split(",")}


def _answer(out: dict):
    """An agent response with its row lists in a fixed order."""
    def rows(xs):
        return sorted(json.dumps(x, sort_keys=True) for x in xs)

    info = [(e["iri"], rows(e["attributes"])) for e in out.get("cityobjectinformation", [])]
    return info, rows(out.get("distanceFilter", [])), out.get("distances")


def test_lookups_read_only_the_requested_buckets(spark, triples, tmp_path):
    """On a 64-bucket store resolved through a registry, info, distance
    and the query side of distance filter scan only their subjects'
    buckets (PartitionFilters) with `subj` pushed to parquet, and answer
    as the unpruned lookups on the same rows do."""
    from citykg.agents import StoreRegistry

    store = str(tmp_path / "store64")
    cityobjects = triples.where(F.col("graph") == "cityobject")
    materialize.write_triples(spark, cityobjects, store, n_buckets=64, bucket_group=None)
    reg = StoreRegistry(spark)
    reg.register(DEFAULT_BASE, store_dir=store)
    iris = [_iri(1), _iri(5), _iri(7)]
    stored, n = reg.lookup(iris[0])
    assert n == 64
    want = set(
        spark.range(1).select(*[materialize.bucket_of(F.lit(i), 64) for i in iris]).first()
    )
    assert len(want) > 1

    info, dist = CityInformationAgent(), DistanceAgent()
    req = {"method": "POST", "iris": iris}
    for frame in (
        info.info_frame(stored, req, n),
        dist.distances_frame(stored, req, n),
        info.distance_filter_frame(stored, {**req, "searchDistance": 5}, n),
    ):
        # every scan with `subj` pushed down reads only the requested
        # buckets (the distance filter's corpus side reads them all)
        scoped = [s for s in _scans(frame) if "In(subj" in s]
        assert scoped
        assert all(_scanned_buckets(s) == want for s in scoped)

    # pruned answers (store + recorded N, via dispatch) equal unpruned
    # ones (the in-memory rows, no bucket column)
    for route, request in (
        ("/cityobjectinformation", {"iris": iris}),
        ("/cityobjectinformation", {"iris": iris, "searchDistance": 5}),
        ("/distance", {"iris": iris}),
    ):
        pruned = _answer(dispatch(spark, None, route, request, registry=reg))
        assert pruned == _answer(dispatch(spark, cityobjects, route, request)), route
        assert any(pruned), route


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_request_plans_read_no_python_rdd(spark):
    """Request tables are Arrow LocalRelations: no agent plan scans a
    pickled Python RDD (`LogicalRDD`), so answering a request starts no
    Python worker. The triples are an unmaterialized extract plan —
    a checkpointed frame would itself plan as a LogicalRDD."""
    t = extract_triples(spark, synth_docs(spark, SF))
    iris = [_iri(1), _iri(2), _iri(5)]
    info, dist = CityInformationAgent(), DistanceAgent()
    export = {"method": "POST", "namespace": DEFAULT_BASE, "gmlid": ["BLDG_00000003"], "lod": 2}
    plans = {
        "info_frame": info.info_frame(t, {"method": "POST", "iris": iris}),
        "distance_filter_frame": info.distance_filter_frame(
            t, {"method": "POST", "iris": iris, "searchDistance": 5}
        ),
        "distances_frame": dist.distances_frame(t, {"method": "POST", "iris": iris}),
        **{
            f"export_frame[{form}]": CityExportAgent().export_frame(
                t, {**export, "displayform": form}
            )
            for form in CityExportAgent.DISPLAY_FORMS
        },
    }
    bad = [name for name, df in plans.items() if "LogicalRDD" in _optimized_plan(df)]
    assert not bad, f"plans scanning a Python RDD: {bad}"
    assert "LocalRelation" in _optimized_plan(plans["info_frame"])


def test_dispatch_unknown_route(spark, triples):
    with pytest.raises(BadRequestException):
        dispatch(spark, triples, "/nope", {"iris": []})


def test_http_surface_roundtrip(spark, triples):
    server = serve(spark, triples)
    port = server.server_port
    try:
        status, body = _post(port, "/cityobjectinformation", {"iris": [_iri(3)]})
        assert status == 200
        assert body["cityobjectinformation"][0]["iri"] == _iri(3)
        assert len(body["cityobjectinformation"][0]["attributes"]) > 0

        status, body = _post(port, "/distance", {"iris": [_iri(1), _iri(4)]})
        assert status == 200 and len(body["distances"]) == 1

        # malformed -> 400 (BadRequestException analog)
        status, body = _post(port, "/distance", {"iris": ["not a url"]})
        assert status == 400 and "error" in body
    finally:
        server.shutdown()
