"""S9 OWL->triples converter against the reference's own ontology file,
plus the TBox -> G5-check wiring."""

import os

from conftest import REF_ONTO, needs

from citykg.owlconvert import (
    OWL_NS,
    RDFS_NS,
    disjoint_pairs,
    owl_to_nquads,
    parse_rdfxml,
    property_domains,
    read_owl_tbox,
)

ONTO = REF_ONTO
OCG = "http://www.theworldavatar.com/ontology/ontocitygml/citieskg/OntoCityGML.owl#"

MINI = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#">
  <owl:Class rdf:about="http://x#A">
    <rdfs:subClassOf rdf:resource="http://x#B"/>
    <rdfs:comment xml:lang="en">a class</rdfs:comment>
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://x#p"/>
        <owl:minCardinality rdf:datatype="http://www.w3.org/2001/XMLSchema#int">1</owl:minCardinality>
      </owl:Restriction>
    </rdfs:subClassOf>
    <owl:disjointWith rdf:resource="http://x#C"/>
  </owl:Class>
</rdf:RDF>"""


def test_parse_mini_rdfxml():
    t = parse_rdfxml(MINI)
    s = set((a, b, c, d) for a, b, c, d, _ in t)
    assert ("http://x#A", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", OWL_NS + "Class", "iri") in s
    assert ("http://x#A", RDFS_NS + "subClassOf", "http://x#B", "iri") in s
    assert ("http://x#A", RDFS_NS + "comment", "a class", "literal") in s
    assert ("http://x#A", OWL_NS + "disjointWith", "http://x#C", "iri") in s
    # nested restriction: blank node threading + typed literal
    bn = [o for a, p, o, ot, _ in t if p == RDFS_NS + "subClassOf" and ot == "bnode"]
    assert len(bn) == 1
    card = [
        (o, d) for a, p, o, ot, d in t if a == bn[0] and p == OWL_NS + "minCardinality"
    ]
    assert card == [("1", "http://www.w3.org/2001/XMLSchema#int")]


@needs(ONTO)
def test_reference_ontology_loads(spark):
    tbox = read_owl_tbox(spark, ONTO)
    n = tbox.count()
    assert n > 5000
    doms = dict(property_domains(tbox))
    # EnvelopeType's declared domain (the predicate our extractor emits)
    assert doms.get(OCG + "EnvelopeType") == OCG + "AbstractCityObjectType"
    subs = tbox.where(
        f"pred = '{RDFS_NS}subClassOf' AND subj = '{OCG}AbstractAppearanceType'"
    ).select("obj").collect()
    assert OCG + "AbstractGMLType" in {r.obj for r in subs}


@needs(ONTO)
def test_owl_to_nquads_roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tbox_nq"))
    owl_to_nquads(spark, ONTO, f"{out}/q")
    lines = spark.read.text(f"{out}/q")
    n = lines.count()
    assert n > 5000
    one = lines.limit(1).collect()[0].value
    assert one.startswith("<") and one.endswith(" .")


def test_tbox_feeds_owl_checks(spark):
    """G5 wiring: disjointWith axioms from a parsed TBox drive
    ops.owl.disjoint_class_violations directly."""
    from citykg.ops import owl as owlops

    t = parse_rdfxml(MINI)
    tbox = spark.createDataFrame(
        [(s, p, o, ot, d, "tbox") for s, p, o, ot, d in t],
        "subj string, pred string, obj string, obj_type string, datatype string, graph string",
    )
    pairs = disjoint_pairs(tbox)
    assert ("http://x#A", "http://x#C") in pairs and ("http://x#C", "http://x#A") in pairs
    abox = spark.createDataFrame(
        [
            ("e1", "ocgml:objectClassId", "http://x#A", "iri", None, "g"),
            ("e1", "ocgml:objectClassId", "http://x#C", "iri", None, "g"),
            ("e2", "ocgml:objectClassId", "http://x#A", "iri", None, "g"),
        ],
        "subj string, pred string, obj string, obj_type string, datatype string, graph string",
    )
    v = owlops.disjoint_class_violations(spark, abox, pairs).collect()
    assert {r.subj for r in v} == {"e1"}
