"""Seeded CityGML 2.0 tiles of LoD2 buildings plus solitary trees.

Each building carries a gml:Envelope, scalar properties, three generic
attributes, an lod2MultiSurface of its boundary polygons and an lod2Solid
whose CompositeSurface reuses those polygons through xlink:href. Trees
(veg:SolitaryVegetationObject) are the one non-building feature type.

Alongside the XML the generator keeps the span attributes each feature
implies, so the expected per-graph triple counts and agent answers come
from the vocabulary templates (templates.py), not from the parser under
test.

    python3 perfbench/citygml_gen.py --seed 1 --buildings 100 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import random
from xml.sax.saxutils import quoteattr

NS = (
    'xmlns:core="http://www.opengis.net/citygml/2.0" '
    'xmlns:bldg="http://www.opengis.net/citygml/building/2.0" '
    'xmlns:gen="http://www.opengis.net/citygml/generics/2.0" '
    'xmlns:veg="http://www.opengis.net/citygml/vegetation/2.0" '
    'xmlns:gml="http://www.opengis.net/gml" '
    'xmlns:xlink="http://www.w3.org/1999/xlink"'
)
LAST_MOD = "2026-01-01T00:00Z"  # the parser's fixed lastModificationDate
ORIGIN = (384000.0, 5820000.0)
EXTENT = 1000.0  # tiles cover EXTENT x EXTENT metres
TREES_PER_TILE = 5


def _f(v: float) -> str:
    """Coordinates carry one decimal, so the text, Python's repr and Java's
    Double.toString all agree."""
    return repr(round(v, 1))


def _env(lo: tuple, hi: tuple) -> str:
    ring = [lo[0], lo[1], lo[2], hi[0], lo[1], lo[2], hi[0], hi[1], hi[2],
            lo[0], hi[1], hi[2], lo[0], lo[1], lo[2]]
    return "#".join(_f(v) for v in ring)


def _polygon_xml(pid: str, ring: list[tuple]) -> str:
    pos = " ".join(_f(c) for p in ring for c in p)
    return (f'<gml:Polygon gml:id="{pid}"><gml:exterior><gml:LinearRing>'
            f'<gml:posList srsDimension="3">{pos}</gml:posList>'
            f'</gml:LinearRing></gml:exterior></gml:Polygon>')


def _geom_spans(owner: str, ms_id: str, polys: list[str], solid: tuple | None) -> list:
    """surface_geometry spans the geometry tree walk emits."""
    flags = {"isTriangulated": "0", "isXlink": "0", "isReverse": "0", "cityObjectId": owner}
    out = [("surface_geometry", {"gmlId": ms_id, "rootId": ms_id, "isSolid": "0",
                                 "isComposite": "0", **flags})]
    for p in polys:
        out.append(("surface_geometry", {
            "gmlId": p, "parentId": ms_id, "rootId": ms_id, "isSolid": "0",
            "isComposite": "0", **flags, "coords": "<ring>", "_media_ref": "POLYGON-3-15"}))
    if solid:
        s_id, cs_id = solid
        out.append(("surface_geometry", {"gmlId": s_id, "rootId": s_id, "isSolid": "1",
                                         "isComposite": "0", **flags}))
        out.append(("surface_geometry", {"gmlId": cs_id, "parentId": s_id, "rootId": s_id,
                                         "isSolid": "0", "isComposite": "1", **flags}))
        for p in polys:
            out.append(("surface_geometry", {
                "gmlId": p, "parentId": cs_id, "rootId": s_id, "isSolid": "0",
                "isComposite": "0", **{**flags, "isXlink": "1"}}))
    return out


def building(gid: str, rng: random.Random, version: int = 0) -> tuple[str, list]:
    """(cityObjectMember XML, [(kind, attrs)]) for one LoD2 box building.
    `version` > 0 renders a re-surveyed edition: same structure, new values."""
    x0 = ORIGIN[0] + rng.randrange(0, int(EXTENT * 10)) / 10
    y0 = ORIGIN[1] + rng.randrange(0, int(EXTENT * 10)) / 10
    w, d = rng.randrange(60, 300) / 10, rng.randrange(60, 300) / 10
    h = rng.randrange(30, 600) / 10 + version
    z0 = float(rng.randrange(30, 60))
    lo, hi = (x0, y0, z0), (x0 + w, y0 + d, z0 + h)
    c = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + d), (x0, y0 + d)]
    rings = [
        [(x, y, z0) for x, y in reversed(c)] + [(c[0][0], c[0][1], z0)],  # ground
        [(x, y, z0 + h) for x, y in c] + [(c[0][0], c[0][1], z0 + h)],  # roof
    ]
    for i in range(4):  # walls
        (ax, ay), (bx, by) = c[i], c[(i + 1) % 4]
        rings.append([(ax, ay, z0), (bx, by, z0), (bx, by, z0 + h), (ax, ay, z0 + h),
                      (ax, ay, z0)])
    polys = [f"{gid}_P{i}" for i in range(len(rings))]
    ms_id, s_id, cs_id = f"{gid}_MS", f"{gid}_S", f"{gid}_CS"
    year = 1900 + rng.randrange(0, 120)
    storeys = 1 + rng.randrange(0, 12)
    owner = f"owner_{rng.randrange(0, 1000)}_v{version}"
    area = rng.randrange(500, 50000) / 10
    name = f"Building {gid} v{version}"
    gens = [("stringAttribute", "owner", owner, None, 1, "strVal"),
            ("intAttribute", "floors", str(storeys), None, 2, "intVal"),
            ("measureAttribute", "area", _f(area), "m2", 7, "realVal")]
    xml = [f'<core:cityObjectMember><bldg:Building gml:id="{gid}">',
           f"<gml:name>{name}</gml:name>",
           '<gml:boundedBy><gml:Envelope srsName="EPSG:25833" srsDimension="3">'
           f"<gml:lowerCorner>{' '.join(_f(v) for v in lo)}</gml:lowerCorner>"
           f"<gml:upperCorner>{' '.join(_f(v) for v in hi)}</gml:upperCorner>"
           "</gml:Envelope></gml:boundedBy>",
           "<core:creationDate>2014-07-08</core:creationDate>"]
    for tag, an, val, uom, _, _ in gens:
        u = f" uom={quoteattr(uom)}" if uom else ""
        xml.append(f'<gen:{tag} name="{an}"{u}><gen:value>{val}</gen:value></gen:{tag}>')
    xml += ["<bldg:class>1000</bldg:class>", "<bldg:function>1010</bldg:function>",
            f"<bldg:yearOfConstruction>{year}</bldg:yearOfConstruction>",
            "<bldg:roofType>1000</bldg:roofType>",
            f'<bldg:measuredHeight uom="m">{_f(h)}</bldg:measuredHeight>',
            f"<bldg:storeysAboveGround>{storeys}</bldg:storeysAboveGround>",
            f'<bldg:lod2MultiSurface><gml:MultiSurface gml:id="{ms_id}">']
    xml += [f"<gml:surfaceMember>{_polygon_xml(p, r)}</gml:surfaceMember>"
            for p, r in zip(polys, rings)]
    xml += ["</gml:MultiSurface></bldg:lod2MultiSurface>",
            f'<bldg:lod2Solid><gml:Solid gml:id="{s_id}"><gml:exterior>'
            f'<gml:CompositeSurface gml:id="{cs_id}">']
    xml += [f'<gml:surfaceMember xlink:href="#{p}"/>' for p in polys]
    xml += ["</gml:CompositeSurface></gml:exterior></gml:Solid></bldg:lod2Solid>",
            "</bldg:Building></core:cityObjectMember>"]
    attrs = {
        "gmlId": gid, "rootId": gid, "creationDate": "2014-07-08T00:00Z",
        "class": "1000", "function": "1010", "yearOfConstruction": str(year),
        "roofType": "1000", "measuredHeight": _f(h), "measuredHeightUnit": "m",
        "storeysAboveGround": str(storeys), "name": name, "envelope": _env(lo, hi),
        "envelopeDatatype": "POLYGON-3-15", "lastModificationDate": LAST_MOD,
        "lod2MultiSurfaceId": ms_id, "lod2SolidId": s_id,
    }
    spans = [("building", attrs)]
    for _, an, val, uom, code, vkey in gens:
        ga = {"gmlId": f"{gid}_ga_{an}", "rootGenattribId": f"{gid}_ga_{an}", "name": an,
              "dataType": str(code), vkey: val, "cityObjectId": gid}
        if uom:
            ga["unit"] = uom
        spans.append(("generic_attribute", ga))
    spans += _geom_spans(gid, ms_id, polys, (s_id, cs_id))
    return "".join(xml), spans


def tree(gid: str, rng: random.Random) -> tuple[str, list]:
    """A solitary tree: two crossed vertical quads as its lod1 geometry."""
    x = ORIGIN[0] + rng.randrange(0, int(EXTENT * 10)) / 10
    y = ORIGIN[1] + rng.randrange(0, int(EXTENT * 10)) / 10
    z = float(rng.randrange(30, 60))
    h = rng.randrange(30, 250) / 10
    r = 1.5
    rings = [[(x - r, y, z), (x + r, y, z), (x + r, y, z + h), (x - r, y, z + h), (x - r, y, z)],
             [(x, y - r, z), (x, y + r, z), (x, y + r, z + h), (x, y - r, z + h), (x, y - r, z)]]
    polys = [f"{gid}_P{i}" for i in range(2)]
    ms_id = f"{gid}_MS"
    lo, hi = (x - r, y - r, z), (x + r, y + r, z + h)
    species = f"species_{rng.randrange(0, 40)}"
    xml = (f'<core:cityObjectMember><veg:SolitaryVegetationObject gml:id="{gid}">'
           '<gml:boundedBy><gml:Envelope srsDimension="3">'
           f"<gml:lowerCorner>{' '.join(_f(v) for v in lo)}</gml:lowerCorner>"
           f"<gml:upperCorner>{' '.join(_f(v) for v in hi)}</gml:upperCorner>"
           "</gml:Envelope></gml:boundedBy>"
           "<veg:class>1070</veg:class>"
           f"<veg:species>{species}</veg:species>"
           f'<veg:height uom="m">{_f(h)}</veg:height>'
           f'<veg:lod1Geometry><gml:MultiSurface gml:id="{ms_id}">'
           + "".join(f"<gml:surfaceMember>{_polygon_xml(p, rg)}</gml:surfaceMember>"
                     for p, rg in zip(polys, rings))
           + "</gml:MultiSurface></veg:lod1Geometry>"
           "</veg:SolitaryVegetationObject></core:cityObjectMember>")
    attrs = {"gmlId": gid, "class": "1070", "species": species, "height": _f(h),
             "heightUnit": "m", "envelope": _env(lo, hi), "envelopeDatatype": "POLYGON-3-15",
             "lastModificationDate": LAST_MOD, "lod1BrepId": ms_id}
    return xml, [("solitary_vegetation", attrs)] + _geom_spans(gid, ms_id, polys, None)


def tile_xml(members: list[str]) -> str:
    return (f'<?xml version="1.0" encoding="UTF-8"?>\n<core:CityModel {NS}>'
            + "".join(members) + "</core:CityModel>\n")


class CityGMLSet:
    """A seeded set of tiles: `features` maps gmlId -> spans, `buildings`
    lists building gmlIds in generation order."""

    def __init__(self, seed: int, n_buildings: int, per_tile: int = 50):
        self.seed, self.per_tile = seed, per_tile
        self.features: dict[str, list] = {}
        self.buildings: list[str] = []
        self.tiles: list[str] = []
        rng = random.Random(seed)
        for t in range(-(-n_buildings // per_tile)):
            members = []
            for i in range(t * per_tile, min(n_buildings, (t + 1) * per_tile)):
                gid = f"BLDG_S{seed}_{i:05d}"
                xml, spans = building(gid, rng)
                members.append(xml)
                self.features[gid] = spans
                self.buildings.append(gid)
            for k in range(TREES_PER_TILE):
                gid = f"TREE_S{seed}_{t:03d}_{k}"
                xml, spans = tree(gid, rng)
                members.append(xml)
                self.features[gid] = spans
            self.tiles.append(tile_xml(members))

    def write(self, out_dir: str) -> int:
        """Write tile_NNN.gml files; returns the total bytes written."""
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for i, text in enumerate(self.tiles):
            data = text.encode("utf-8")
            with open(os.path.join(out_dir, f"tile_{i:03d}.gml"), "wb") as f:
                f.write(data)
            total += len(data)
        return total

    def update(self, gids: list[str], version: int) -> str:
        """Re-surveyed editions of `gids` as one tile; `features` now holds
        their new spans."""
        rng = random.Random(f"{self.seed}-update-{version}")
        members = []
        for gid in gids:
            xml, spans = building(gid, rng, version=version)
            members.append(xml)
            self.features[gid] = spans
        return tile_xml(members)

    def spans(self) -> list[tuple[str, dict]]:
        return [s for spans in self.features.values() for s in spans]


def main() -> None:
    from templates import graph_counts

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--buildings", type=int, default=100)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    g = CityGMLSet(a.seed, a.buildings)
    n_bytes = g.write(a.out)
    print(json.dumps({"features": len(g.features), "bytes": n_bytes,
                      "graph_counts": graph_counts(g.spans())}, sort_keys=True))


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
