"""Independent expansion of span attributes into expected triples.

The benchmark checks the store against rows derived here from the
vocabulary templates (`citykg.vocab.KIND_EMISSIONS`, the specification),
not from the extraction code under test. Only graphs whose subject is the
feature's own gmlId are expanded; link-table graphs mint md5 subjects and
are checked by count alone.
"""

from __future__ import annotations

from citykg.vocab import BASE_URL_LITERALS, CLASS_ID, DEFAULT_BASE, KIND_EMISSIONS


def _obj(kind: str, graph: str, binding, attrs: dict, base: str):
    """(object, datatype) for one template binding, or None if not emitted."""
    subj = f"{base}/{graph}/{attrs['gmlId']}/"
    if binding is None:
        return None
    if binding == "@iri":
        return subj, None
    if binding == "@class":
        cid = attrs.get("objectClassId", CLASS_ID.get(kind))
        return (str(cid), None) if cid is not None else None
    if binding == "@gmlid":
        return attrs["gmlId"], None
    if binding in ("@geom", "@solid_geom"):
        solid = attrs.get("isSolid", "0") == "1"
        if "coords" not in attrs or solid != (binding == "@solid_geom"):
            return None
        return attrs["coords"], BASE_URL_LITERALS + attrs["_media_ref"]
    if binding == "@envelope":
        if "envelope" not in attrs:
            return None
        return attrs["envelope"], BASE_URL_LITERALS + attrs.get("envelopeDatatype", "POLYGON-3-15")
    if binding.startswith("@ref/"):
        _, refgraph, key = binding.split("/")
        return (f"{base}/{refgraph}/{attrs[key]}/", None) if key in attrs else None
    return (attrs[binding], None) if binding in attrs else None


def expand(kind: str, attrs: dict, base: str = DEFAULT_BASE) -> list[tuple]:
    """(subj, pred, obj, obj_type, datatype, graph) rows one span emits."""
    rows = []
    for graph, template in KIND_EMISSIONS[kind]:
        for pred, binding, obj_type in template:
            got = _obj(kind, graph, binding, attrs, base)
            if got is not None:
                rows.append((f"{base}/{graph}/{attrs['gmlId']}/", f"ocgml:{pred}",
                             got[0], obj_type, got[1], graph))
    return rows


def graph_counts(spans: list[tuple[str, dict]]) -> dict[str, int]:
    """Per-graph triple counts implied by (kind, attrs) spans."""
    out: dict[str, int] = {}
    for kind, attrs in spans:
        for row in expand(kind, attrs):
            out[row[5]] = out.get(row[5], 0) + 1
    return out
