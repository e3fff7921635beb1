"""P/R >= 0.95 vs independently-derived golden triples from the reference's
own CityGML fixtures (BASELINE.md correctness metric), and from the two
committed documents under tests/data/ of the same shapes. The reference
cases run only where the CitiesKG checkout exists (conftest.REFERENCE).

The golden sets below are derived straight from the fixture XML with a
separate, purpose-written walk (NOT citykg.citygml), following the
reference importer's documented semantics:

* subject IRIs  <base>/<graph>/<gmlId>/        (DBCityObject.java:248)
* envelope      5-pt ring of corner tokens      (DBCityObject.java:324-331)
* geometry      posList tokens '#'-joined       (GeometryConverterAdapter:256-288)
* dates         'YYYY-MM-DD' -> 'YYYY-MM-DDT00:00Z' (DBCityObject.java:343-355)
* genattrib     tag -> dataType {string:1,int:2,double:3} (DBCityObjectGenericAttrib:239+)

lastModificationDate is wall-clock in the reference (DBCityObject.java:412)
-> compared on (subj, pred) presence only (FIXTURES.md §2 decision).
"""

import xml.etree.ElementTree as ET

import pytest
from conftest import LOD1_GML, MINIMAL_GML, REF_POTSDAM, REF_TEST_GML, needs

from citykg.citygml import parse_citygml
from citykg.extract import extract_triples
from citykg.schema import DOC_SCHEMA
from citykg.vocab import DEFAULT_BASE as B

TEST_GML = REF_TEST_GML
POTSDAM = REF_POTSDAM

PRESENCE_ONLY = {"ocgml:lastModificationDate"}

# predicates modeled by the golden derivation — the comparison scope
SCOPE = {
    "cityobject": {
        "ocgml:id", "ocgml:gmlId", "ocgml:objectClassId", "ocgml:name",
        "ocgml:EnvelopeType", "ocgml:creationDate", "ocgml:lastModificationDate",
    },
    "building": {
        "ocgml:id", "ocgml:buildingRootId", "ocgml:objectClassId",
        "ocgml:function", "ocgml:measuredHeigh", "ocgml:measuredHeightUnit",
        "ocgml:storeysAboveGround", "ocgml:lod1SolidId",
    },
    "surfacegeometry": {
        "ocgml:id", "ocgml:gmlId", "ocgml:GeometryType", "ocgml:parentId",
        "ocgml:rootId", "ocgml:cityObjectId", "ocgml:isSolid", "ocgml:isComposite",
    },
    "cityobjectgenericattrib": {
        "ocgml:attrName", "ocgml:dataType", "ocgml:strVal", "ocgml:intVal",
        "ocgml:realVal", "ocgml:cityObjectId",
    },
}


def _ln(t):
    return t.rsplit("}", 1)[-1]


def _gid(el):
    for k, v in el.attrib.items():
        if _ln(k) == "id":
            return v
    return None


def _golden(path):
    """Independent golden derivation (fixture-shape-specific walk)."""
    root = ET.fromstring(open(path).read())
    triples = set()

    def add(graph, subj_gid, pred, obj):
        triples.add((graph, f"{B}/{graph}/{subj_gid}/", f"ocgml:{pred}", obj))

    for member in root:
        if _ln(member.tag) != "cityObjectMember":
            continue
        for bldg in member:
            if _ln(bldg.tag) != "Building":
                continue
            gid = _gid(bldg)
            add("cityobject", gid, "id", f"{B}/cityobject/{gid}/")
            add("cityobject", gid, "gmlId", gid)
            add("cityobject", gid, "objectClassId", "26")
            add("cityobject", gid, "lastModificationDate", "<ANY>")
            add("building", gid, "id", f"{B}/building/{gid}/")
            add("building", gid, "buildingRootId", f"{B}/building/{gid}/")
            add("building", gid, "objectClassId", "26")

            # multi-valued function joins with the reference delimiter
            # (CoreConstants.DEFAULT_DELIMITER '--/\--')
            fns = [c.text.strip() for c in bldg if _ln(c.tag) == "function" and c.text]
            if fns:
                add("building", gid, "function", "--/\\--".join(fns))

            for child in bldg:
                ln = _ln(child.tag)
                if ln == "name" and child.text:
                    add("cityobject", gid, "name", child.text.strip())
                elif ln == "creationDate" and child.text:
                    add("cityobject", gid, "creationDate", child.text.strip() + "T00:00Z")
                elif ln == "boundedBy":
                    env = child.find(".//{*}Envelope")
                    if env is None:
                        continue
                    lo = env.find("{*}lowerCorner").text.split()
                    hi = env.find("{*}upperCorner").text.split()
                    ring = [
                        lo[0], lo[1], lo[2], hi[0], lo[1], lo[2], hi[0], hi[1],
                        hi[2], lo[0], hi[1], hi[2], lo[0], lo[1], lo[2],
                    ]
                    add("cityobject", gid, "EnvelopeType", "#".join(ring))
                elif ln == "measuredHeight" and child.text:
                    add("building", gid, "measuredHeigh", child.text.strip())
                    if child.attrib.get("uom"):
                        add("building", gid, "measuredHeightUnit", child.attrib["uom"])
                elif ln == "storeysAboveGround" and child.text:
                    add("building", gid, "storeysAboveGround", child.text.strip())
                elif ln.endswith("Attribute"):
                    aname = child.attrib.get("name", "")
                    aid = f"{gid}_ga_{aname}"
                    code, vkey = {
                        "stringAttribute": ("1", "strVal"),
                        "intAttribute": ("2", "intVal"),
                        "doubleAttribute": ("3", "realVal"),
                    }[ln]
                    val = child.find("{*}value").text.strip()
                    add("cityobjectgenericattrib", aid, "attrName", aname)
                    add("cityobjectgenericattrib", aid, "dataType", code)
                    add("cityobjectgenericattrib", aid, vkey, val)
                    add("cityobjectgenericattrib", aid, "cityObjectId", f"{B}/cityobject/{gid}/")
                elif ln == "lod1Solid":
                    solid = child.find("{*}Solid")
                    sid = _gid(solid)
                    add("building", gid, "lod1SolidId", f"{B}/surfacegeometry/{sid}/")
                    sg = lambda s, p, o: add("surfacegeometry", s, p, o)  # noqa: E731
                    sg(sid, "id", f"{B}/surfacegeometry/{sid}/")
                    sg(sid, "gmlId", sid)
                    sg(sid, "rootId", f"{B}/surfacegeometry/{sid}/")
                    sg(sid, "isSolid", "1")
                    sg(sid, "isComposite", "0")
                    sg(sid, "cityObjectId", f"{B}/cityobject/{gid}/")
                    comp = solid.find("{*}exterior/{*}CompositeSurface")
                    cid = _gid(comp)
                    sg(cid, "id", f"{B}/surfacegeometry/{cid}/")
                    sg(cid, "gmlId", cid)
                    sg(cid, "parentId", f"{B}/surfacegeometry/{sid}/")
                    sg(cid, "rootId", f"{B}/surfacegeometry/{sid}/")
                    sg(cid, "isSolid", "0")
                    sg(cid, "isComposite", "1")
                    sg(cid, "cityObjectId", f"{B}/cityobject/{gid}/")
                    for sm in comp.findall("{*}surfaceMember"):
                        poly = sm.find("{*}Polygon")
                        pid = _gid(poly)
                        toks = poly.find(".//{*}posList").text.split()
                        sg(pid, "id", f"{B}/surfacegeometry/{pid}/")
                        sg(pid, "gmlId", pid)
                        sg(pid, "parentId", f"{B}/surfacegeometry/{cid}/")
                        sg(pid, "rootId", f"{B}/surfacegeometry/{sid}/")
                        sg(pid, "isSolid", "0")
                        sg(pid, "isComposite", "0")
                        sg(pid, "GeometryType", "#".join(toks))
                        sg(pid, "cityObjectId", f"{B}/cityobject/{gid}/")
    return triples


def _emitted(spark, path):
    docs_rows = parse_citygml(open(path).read())
    docs = spark.createDataFrame(docs_rows, DOC_SCHEMA)
    out = extract_triples(spark, docs).collect()
    return {(r.graph, r.subj, r.pred, r.obj) for r in out}


def _pr(emitted, golden):
    scope_preds = {p for preds in SCOPE.values() for p in preds}

    def norm(s):
        return {
            (g, subj, p, "<ANY>" if p in PRESENCE_ONLY else o)
            for (g, subj, p, o) in s
            if p in SCOPE.get(g, set()) and p in scope_preds
        }

    e, g = norm(emitted), norm(golden)
    tp = len(e & g)
    return tp / len(e) if e else 0.0, tp / len(g) if g else 0.0, e, g


@pytest.mark.parametrize(
    "path",
    [
        pytest.param(TEST_GML, id="test_minimal", marks=needs(TEST_GML)),
        pytest.param(POTSDAM, id="potsdam_lod1", marks=needs(POTSDAM)),
        pytest.param(MINIMAL_GML, id="repo_minimal"),
        pytest.param(LOD1_GML, id="repo_lod1"),
    ],
)
def test_precision_recall_vs_reference_fixture(spark, path):
    emitted = _emitted(spark, path)
    golden = _golden(path)
    p, r, e, g = _pr(emitted, golden)
    assert p >= 0.95, f"precision {p:.4f}; sample miss: {sorted(e - g)[:5]}"
    assert r >= 0.95, f"recall {r:.4f}; sample miss: {sorted(g - e)[:5]}"
    # these fixtures should actually be exact
    assert p == 1.0 and r == 1.0


@needs(POTSDAM)
def test_potsdam_counts(spark):
    emitted = _emitted(spark, POTSDAM)
    subjects = {
        g: len({s for gg, s, _, _ in emitted if gg == g})
        for g in ("cityobject", "building", "surfacegeometry", "cityobjectgenericattrib")
    }
    assert subjects["building"] == 97
    assert subjects["cityobject"] == 97
    assert subjects["surfacegeometry"] == 1741  # 1547 polygons + 194 containers
    assert subjects["cityobjectgenericattrib"] == 1198


GML_XLINK = """<?xml version="1.0"?>
<CityModel xmlns="http://www.opengis.net/citygml/2.0"
           xmlns:bldg="http://www.opengis.net/citygml/building/2.0"
           xmlns:xlink="http://www.w3.org/1999/xlink"
           xmlns:gml="http://www.opengis.net/gml">
 <cityObjectMember>
  <bldg:Building gml:id="BX">
   <bldg:lod2MultiSurface>
    <gml:MultiSurface gml:id="ms1">
     <gml:surfaceMember>
      <gml:Polygon gml:id="p1">
       <gml:exterior><gml:LinearRing>
        <gml:posList>0 0 0 1 0 0 1 1 0 0 0 0</gml:posList>
       </gml:LinearRing></gml:exterior>
      </gml:Polygon>
     </gml:surfaceMember>
     <gml:surfaceMember xlink:href="#p1"/>
    </gml:MultiSurface>
   </bldg:lod2MultiSurface>
  </bldg:Building>
 </cityObjectMember>
</CityModel>"""

GML_CYCLE = """<?xml version="1.0"?>
<CityModel xmlns="http://www.opengis.net/citygml/2.0"
           xmlns:bldg="http://www.opengis.net/citygml/building/2.0"
           xmlns:xlink="http://www.w3.org/1999/xlink"
           xmlns:gml="http://www.opengis.net/gml">
 <cityObjectMember>
  <bldg:Building gml:id="BC">
   <bldg:lod2MultiSurface>
    <gml:MultiSurface gml:id="cs1">
     <gml:surfaceMember xlink:href="#cs2"/>
    </gml:MultiSurface>
   </bldg:lod2MultiSurface>
   <bldg:lod3MultiSurface>
    <gml:MultiSurface gml:id="cs2">
     <gml:surfaceMember xlink:href="#cs1"/>
    </gml:MultiSurface>
   </bldg:lod3MultiSurface>
  </bldg:Building>
 </cityObjectMember>
 <cityObjectMember>
  <bldg:Building gml:id="BOK">
   <bldg:lod2MultiSurface>
    <gml:MultiSurface gml:id="okms">
     <gml:surfaceMember>
      <gml:Polygon><gml:exterior><gml:LinearRing>
        <gml:posList>0 0 0 1 0 0 1 1 0 0 0 0</gml:posList>
      </gml:LinearRing></gml:exterior></gml:Polygon>
     </gml:surfaceMember>
    </gml:MultiSurface>
   </bldg:lod2MultiSurface>
  </bldg:Building>
 </cityObjectMember>
</CityModel>"""


def test_local_xlink_resolution():
    """L5: an intra-document href emits an isXlink=1 reference row with the
    target's gmlId (shared IRI identity), threaded under the referencing
    parent; the geometry literal stays on the target's own row."""
    rows = parse_citygml(GML_XLINK)
    assert len(rows) == 1
    spans = rows[0][1]
    geoms = [dict(kv.split("=", 1) for kv in t.split(";")) for k, t, _, _ in spans if k == "surface_geometry"]
    assert [g["gmlId"] for g in geoms] == ["ms1", "p1", "p1"]
    xl = geoms[2]
    assert xl["isXlink"] == "1" and xl["parentId"] == "ms1" and "coords" not in xl
    assert geoms[1]["isXlink"] == "0" and "coords" in geoms[1]


def test_circular_xlink_aborts_feature_only():
    """L5: a circular href chain aborts THAT feature; siblings import."""
    rows = parse_citygml(GML_CYCLE)
    assert [d for d, _ in rows] == ["BOK"]


GML_P25 = """<?xml version="1.0" encoding="UTF-8"?>
<CityModel xmlns="http://www.opengis.net/citygml/2.0"
  xmlns:gml="http://www.opengis.net/gml"
  xmlns:brid="http://www.opengis.net/citygml/bridge/2.0"
  xmlns:tun="http://www.opengis.net/citygml/tunnel/2.0"
  xmlns:tran="http://www.opengis.net/citygml/transportation/2.0"
  xmlns:veg="http://www.opengis.net/citygml/vegetation/2.0"
  xmlns:wtr="http://www.opengis.net/citygml/waterbody/2.0"
  xmlns:luse="http://www.opengis.net/citygml/landuse/2.0"
  xmlns:dem="http://www.opengis.net/citygml/relief/2.0"
  xmlns:grp="http://www.opengis.net/citygml/cityobjectgroup/2.0"
  xmlns:xlink="http://www.w3.org/1999/xlink">
 <cityObjectMember>
  <brid:Bridge gml:id="BR1">
   <gml:name>Old Bridge</gml:name>
   <brid:function>1510</brid:function>
   <brid:yearOfConstruction>1903</brid:yearOfConstruction>
   <brid:isMovable>false</brid:isMovable>
   <brid:lod1MultiSurface>
    <gml:MultiSurface>
     <gml:surfaceMember>
      <gml:Polygon gml:id="brp1"><gml:exterior><gml:LinearRing>
       <gml:posList>0 0 0 4 0 0 4 4 0 0 0 0</gml:posList>
      </gml:LinearRing></gml:exterior></gml:Polygon>
     </gml:surfaceMember>
    </gml:MultiSurface>
   </brid:lod1MultiSurface>
   <brid:outerBridgeInstallation>
    <brid:BridgeInstallation gml:id="BI1"><brid:function>901</brid:function></brid:BridgeInstallation>
   </brid:outerBridgeInstallation>
   <brid:outerBridgeConstructionElement>
    <brid:BridgeConstructionElement gml:id="BC1"><brid:class>pylon</brid:class></brid:BridgeConstructionElement>
   </brid:outerBridgeConstructionElement>
   <brid:interiorBridgeRoom>
    <brid:BridgeRoom gml:id="BRM1">
     <brid:interiorFurniture>
      <brid:BridgeFurniture gml:id="BF1"><brid:usage>seat</brid:usage></brid:BridgeFurniture>
     </brid:interiorFurniture>
    </brid:BridgeRoom>
   </brid:interiorBridgeRoom>
  </brid:Bridge>
 </cityObjectMember>
 <cityObjectMember>
  <tran:Road gml:id="RD1"><tran:function>1000</tran:function>
   <tran:trafficArea>
    <tran:TrafficArea gml:id="TA1"><tran:surfaceMaterial>asphalt</tran:surfaceMaterial></tran:TrafficArea>
   </tran:trafficArea>
   <tran:auxiliaryTrafficArea>
    <tran:AuxiliaryTrafficArea gml:id="ATA1"><tran:function>1700</tran:function></tran:AuxiliaryTrafficArea>
   </tran:auxiliaryTrafficArea>
  </tran:Road>
 </cityObjectMember>
 <cityObjectMember>
  <veg:PlantCover gml:id="PC1">
   <veg:averageHeight uom="m">3.5</veg:averageHeight>
  </veg:PlantCover>
 </cityObjectMember>
 <cityObjectMember>
  <veg:SolitaryVegetationObject gml:id="SV1">
   <veg:species>Tilia</veg:species>
   <veg:height uom="m">12.0</veg:height>
  </veg:SolitaryVegetationObject>
 </cityObjectMember>
 <cityObjectMember>
  <wtr:WaterBody gml:id="WB1"><wtr:class>1030</wtr:class>
   <wtr:boundedBy>
    <wtr:WaterSurface gml:id="WS1"><wtr:waterLevel>mean</wtr:waterLevel></wtr:WaterSurface>
   </wtr:boundedBy>
   <wtr:boundedBy>
    <wtr:WaterGroundSurface gml:id="WGS1"/>
   </wtr:boundedBy>
  </wtr:WaterBody>
 </cityObjectMember>
 <cityObjectMember>
  <luse:LandUse gml:id="LU1"><luse:usage>2020</luse:usage></luse:LandUse>
 </cityObjectMember>
 <cityObjectMember>
  <dem:ReliefFeature gml:id="RF1"><dem:lod>2</dem:lod>
   <dem:reliefComponent>
    <dem:TINRelief gml:id="TIN1">
     <dem:lod>2</dem:lod>
     <dem:maxLength uom="m">25.0</dem:maxLength>
    </dem:TINRelief>
   </dem:reliefComponent>
  </dem:ReliefFeature>
 </cityObjectMember>
 <cityObjectMember>
  <tun:Tunnel gml:id="TU1"><tun:yearOfConstruction>1988</tun:yearOfConstruction>
   <tun:interiorHollowSpace>
    <tun:HollowSpace gml:id="HS1"><tun:class>cavity</tun:class></tun:HollowSpace>
   </tun:interiorHollowSpace>
  </tun:Tunnel>
 </cityObjectMember>
 <cityObjectMember>
  <grp:CityObjectGroup gml:id="GR1">
   <grp:function>ensemble</grp:function>
   <grp:groupMember role="main" xlink:href="#BR1"/>
   <grp:groupMember xlink:href="#TU1"/>
  </grp:CityObjectGroup>
 </cityObjectMember>
</CityModel>"""


def test_p25_feature_types_parse_and_extract(spark):
    """P25+: the SQL-only entity types parse into their span kinds and
    extract into their graphs (predicate order = the importer's SQL insert
    column order; subtype Road overrides objectClassId to 45)."""
    rows = parse_citygml(GML_P25)
    by_kind = {}
    for _, spans in rows:
        for k, t, _, _ in spans:
            by_kind.setdefault(k, []).append(dict(
                kv.split("=", 1) for kv in t.split(";")))
    assert set(by_kind) >= {
        "bridge", "tunnel", "transportation_complex", "plant_cover",
        "solitary_vegetation", "water_body", "land_use", "relief_feature",
        "city_object_group", "group_to_cityobject", "surface_geometry",
        "traffic_area", "water_boundary_surface", "waterbod_to_waterbnd_srf",
        "tin_relief", "relief_feat_to_rel_comp",
    }
    # nested sub-features: FK attr injection + link-table spans
    ta = {t["gmlId"]: t for t in by_kind["traffic_area"]}
    assert ta["TA1"]["transportationComplexId"] == "RD1"
    assert ta["TA1"]["surfaceMaterial"] == "asphalt"
    assert ta["ATA1"]["objectClassId"] == "48"  # AuxiliaryTrafficArea
    wbs = {t["gmlId"]: t for t in by_kind["water_boundary_surface"]}
    assert wbs["WS1"]["waterLevel"] == "mean"
    assert wbs["WGS1"]["objectClassId"] == "12"  # WaterGroundSurface
    wl = {(t["waterBoundarySurfaceId"], t["waterBodyId"])
          for t in by_kind["waterbod_to_waterbnd_srf"]}
    assert wl == {("WS1", "WB1"), ("WGS1", "WB1")}
    tin = by_kind["tin_relief"][0]
    assert tin["maxLength"] == "25.0" and tin["maxLengthUnit"] == "m"
    rl = {(t["reliefComponentId"], t["reliefFeatureId"])
          for t in by_kind["relief_feat_to_rel_comp"]}
    assert rl == {("TIN1", "RF1")}
    # bridge/tunnel interiors: FK chains parent -> room -> furniture
    assert by_kind["bridge_installation"][0]["bridgeId"] == "BR1"
    assert by_kind["bridge_constr_element"][0]["bridgeId"] == "BR1"
    assert by_kind["bridge_room"][0]["bridgeId"] == "BR1"
    assert by_kind["bridge_furniture"][0]["bridgeRoomId"] == "BRM1"
    hs = by_kind["tunnel_hollow_space"][0]
    assert hs["tunnelId"] == "TU1" and hs["class"] == "cavity"
    assert by_kind["bridge"][0]["isMovable"] == "false"
    assert by_kind["bridge"][0]["lod1MultiSurfaceId"]  # geometry threaded
    assert by_kind["transportation_complex"][0]["objectClassId"] == "45"
    assert by_kind["plant_cover"][0]["averageHeightUnit"] == "m"
    assert by_kind["solitary_vegetation"][0]["heightUnit"] == "m"
    assert by_kind["relief_feature"][0]["lod"] == "2"
    roles = {(m["cityObjectId"], m.get("role")) for m in by_kind["group_to_cityobject"]}
    assert roles == {("BR1", "main"), ("TU1", None)}

    docs = spark.createDataFrame(
        [(d, [tuple(s) for s in spans]) for d, spans in rows], DOC_SCHEMA)
    t = extract_triples(spark, docs)
    got = {(r.graph, r.pred, r.obj) for r in t.collect()}
    assert ("bridge", "ocgml:id", f"{B}/bridge/BR1/") in got
    assert ("bridge", "ocgml:yearOfConstruction", "1903") in got
    assert ("transportationcomplex", "ocgml:objectClassId", "45") in got
    assert ("relieffeature", "ocgml:objectClassId", "14") in got
    assert ("cityobjectgroup", "ocgml:id", f"{B}/cityobjectgroup/GR1/") in got
    assert ("grouptocityobject", "ocgml:role", "main") in got
    assert ("grouptocityobject", "ocgml:cityObjectGroupId",
            f"{B}/cityobjectgroup/GR1/") in got
    # every P25+ feature also got its cityobject row
    assert ("trafficarea", "ocgml:transportationComplexId",
            f"{B}/transportationcomplex/RD1/") in got
    co = {o for g, p, o in got if g == "cityobject" and p == "ocgml:gmlId"}
    assert co >= {"BR1", "RD1", "PC1", "SV1", "WB1", "LU1", "RF1", "TU1", "GR1",
                  "TA1", "ATA1", "WS1", "WGS1", "TIN1"}
