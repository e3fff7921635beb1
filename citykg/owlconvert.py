"""S9 — OWL (RDF/XML) -> triples converter; TBox loader for the G5 checks.

The reference ships a jena-based OwlConverter utility that turns the
ontology files into N-Quads for upload (/root/reference/utils/jutils/
owlconverter/src/main/java/uk/ac/cam/cares/jps/owlconverter/
OwlConverter.java) and the InferenceAgent checks run against that TBox.
This module parses the RDF/XML striped syntax subset those ontologies use
(node elements with rdf:about, property elements with rdf:resource /
literal text / nested nodes, deterministic blank nodes) and returns
(subj, pred, obj, obj_type, datatype) rows.

TBoxes are small (OntoCityGML.owl = ~0.8 MB, ~20k triples): parsing is
driver-side and the resulting DataFrame is the BROADCAST side of every
consistency-check join (ops/owl.py) — the scalable shape at 10^12 ABox
triples.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"

_RDF_TYPE = RDF_NS + "type"
_DESCRIPTION = "{" + RDF_NS + "}Description"


def _iri(tag: str) -> str:
    # '{ns}local' -> ns + local
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


def _attr(el: ET.Element, local: str) -> str | None:
    return el.attrib.get("{" + RDF_NS + "}" + local)


def parse_rdfxml(xml_text: str, base: str = "") -> list[tuple]:
    """RDF/XML text -> [(subj, pred, obj, obj_type, datatype)].
    obj_type: 'iri' | 'literal' | 'bnode'. Blank nodes minted
    deterministically in document order (_:b0, _:b1, ...)."""
    root = ET.fromstring(xml_text)
    triples: list[tuple] = []
    counter = [0]

    def mint_bnode() -> str:
        counter[0] += 1
        return f"_:b{counter[0] - 1}"

    def node(el: ET.Element) -> tuple[str, str]:
        """Process a node element; returns (id, id_type)."""
        about = _attr(el, "about")
        rid = _attr(el, "ID")
        if about is not None:
            subj, stype = about, "iri"
        elif rid is not None:
            subj, stype = base + "#" + rid, "iri"
        else:
            subj, stype = mint_bnode(), "bnode"
        if el.tag != _DESCRIPTION:
            triples.append((subj, _RDF_TYPE, _iri(el.tag), "iri", None))
        for prop in el:
            pred = _iri(prop.tag)
            res = _attr(prop, "resource")
            if res is not None:
                triples.append((subj, pred, res, "iri", None))
                continue
            children = list(prop)
            if children:
                for child in children:
                    oid, otype = node(child)
                    triples.append((subj, pred, oid, otype, None))
                continue
            dt = _attr(prop, "datatype")
            text = (prop.text or "").strip()
            triples.append((subj, pred, text, "literal", dt))
        return subj, stype

    for el in root:
        node(el)
    return triples


def read_owl_tbox(spark: SparkSession, path: str, graph: str = "tbox") -> DataFrame:
    """OWL file -> TBox triples DataFrame (driver-side parse; the TBox is
    the broadcast side of all downstream checks)."""
    with open(path, encoding="utf-8") as f:
        rows = parse_rdfxml(f.read())
    return local_frame(
        spark, [(s, p, o, t, d, graph) for s, p, o, t, d in rows],
        "subj string, pred string, obj string, obj_type string, datatype string, graph string",
    )


def disjoint_pairs(tbox: DataFrame) -> list[tuple[str, str]]:
    """owl:disjointWith axioms -> [(class_a, class_b)] both directions."""
    from pyspark.sql import functions as F

    rows = tbox.where(F.col("pred") == OWL_NS + "disjointWith").select("subj", "obj").collect()
    out = set()
    for r in rows:
        out.add((r.subj, r.obj))
        out.add((r.obj, r.subj))
    return sorted(out)


def property_domains(tbox: DataFrame) -> list[tuple[str, str]]:
    """rdfs:domain axioms -> [(property_iri, domain_class_iri)]."""
    from pyspark.sql import functions as F

    return sorted(
        (r.subj, r.obj)
        for r in tbox.where(F.col("pred") == RDFS_NS + "domain")
        .select("subj", "obj")
        .collect()
    )


def owl_to_nquads(spark: SparkSession, owl_path: str, out_path: str, base: str | None = None) -> None:
    """S9 end-to-end: OWL file -> N-Quads text sink (the reference's
    OwlConverter + NquadsUploader chain, minus the HTTP hop)."""
    from .materialize import export_nquads

    export_nquads(read_owl_tbox(spark, owl_path), out_path, base)
