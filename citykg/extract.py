"""Stage 1 — triple extraction: interleaved documents -> OntoCityGML triples.

Spark-first replacement for the reference's 30+ `DB*Importer` classes +
worker pool (SURVEY.md §2.2, §3.1). The whole stage is declarative
DataFrame code — Catalyst sees one plan:

    posexplode(spans)                       # SAX chunking analog, no queue
    -> str_to_map(text)                     # attribute parse, JVM-side
    -> broadcast hash join vs ~850-row      # the 37-kind templates as DATA
       template table on `kind`
    -> CASE-resolved object bindings        # whole-stage codegen
    -> filter(obj IS NOT NULL)              # blank-node policy: omit
                                            # (CityGMLImportManager.setBlankNode
                                            #  analog; FIXTURES.md §2)

No Python runs per row: at 100 TB this is a single map-side stage with
zero shuffles (the broadcast side is ~850 rows), so it scales linearly
with input splits.

Span-order invariant: `span_idx` from posexplode + `pos` from the template
table are carried on every triple; sorting by (doc_id, span_idx, pos)
reproduces the reference's emission order (DBBuilding.java:177,421,431+).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import local_frame
from .vocab import BASE_URL_LITERALS, CLASS_ID, DEFAULT_BASE, template_rows

# graphs whose subject is a minted (deterministic) id, not a feature gmlId —
# the reference uses fresh UUIDs there (DBAddressToBuilding.java:84); we mint
# md5(doc_id#span_idx#graph) so re-runs/resume produce identical IRIs
LINK_GRAPHS = {
    "addresstobuilding",
    "openingtothemsurface",
    "appeartosurfacedata",
    "textureparam",
    "grouptocityobject",
    "waterbodtowaterbndsrf",
    "relieffeattorelcomp",
    "bridgeopentothemsrf",
    "addresstobridge",
    "tunnelopentothemsrf",
}


def _template_df(spark: SparkSession) -> DataFrame:
    """The per-kind ordered predicate templates as a broadcastable table.

    Columns: kind, graph, pos, pred, btype, key, refgraph, obj_type, class_id.
    """
    rows = []
    for kind, graph, pos, pred, binding, obj_type in template_rows():
        btype, key, refgraph = "attr", None, None
        if binding is None:
            btype = "never"
        elif binding == "@iri":
            btype = "iri"
        elif binding == "@class":
            btype = "class"
        elif binding == "@gmlid":
            btype = "gmlid"
        elif binding == "@geom":
            btype = "geom"
        elif binding == "@solid_geom":
            btype = "solid_geom"
        elif binding == "@envelope":
            btype = "envelope"
        elif binding.startswith("@ref/"):
            _, refgraph, key = binding.split("/")
            btype = "ref"
        else:
            key = binding
        if btype != "never":
            rows.append(
                (kind, graph, pos, pred, btype, key, refgraph, obj_type, CLASS_ID.get(kind))
            )
    return local_frame(
        spark, rows,
        "kind string, graph string, pos int, pred string, btype string, "
        "key string, refgraph string, obj_type string, class_id int",
    )


def explode_spans(docs: DataFrame, kinds: list[str] | None = None) -> DataFrame:
    """(doc_id, spans) -> one row per mention, order carried as span_idx.

    `kinds` pushes the kind filter INSIDE the array before the explode:
    the generate emits only matching spans (with their ORIGINAL positional
    index preserved) and the downstream str_to_map never parses the rest —
    at 20 spans/doc a kind-specific consumer (e.g. linking, which only
    reads address/street spans) touches 10-20x fewer rows."""
    if kinds:
        quoted = ", ".join(f"'{k}'" for k in kinds)
        return docs.selectExpr(
            "doc_id",
            "inline(transform("
            "filter(transform(spans, (s, i) -> named_struct('s', s, 'i', i)), "
            f"x -> x.s.kind IN ({quoted})), "
            "x -> named_struct('span_idx', cast(x.i as int), 'kind', x.s.kind, "
            "'text', x.s.text, 'media_ref', x.s.media_ref, 'offset', x.s.offset)))",
        )
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def parse_mentions(mentions: DataFrame) -> DataFrame:
    """Parse `key=value;...` span payloads into a map column (JVM-side)."""
    return mentions.withColumn("attrs", F.expr("str_to_map(text, ';', '=')")).withColumn(
        "gml_id",
        F.coalesce(
            F.expr("try_element_at(attrs, 'gmlId')"),
            F.format_string("K_%s_%d", F.col("doc_id"), F.col("span_idx")),
        ),
    )


def extract_triples(
    spark: SparkSession,
    docs: DataFrame,
    base: str = DEFAULT_BASE,
) -> DataFrame:
    """Full stage-1 plan. Returns TRIPLE_SCHEMA-shaped DataFrame."""
    m = parse_mentions(explode_spans(docs))
    t = F.broadcast(_template_df(spark))
    j = m.join(t, "kind")

    a = lambda k: F.expr(f"try_element_at(attrs, '{k}')")  # noqa: E731
    attr_of = F.expr("try_element_at(attrs, key)")  # template-keyed lookup

    subj = F.when(
        F.col("graph").isin(*LINK_GRAPHS),
        F.concat(
            F.lit(base + "/"),
            F.col("graph"),
            F.lit("/"),
            F.md5(F.format_string("%s#%d#%s", F.col("doc_id"), F.col("span_idx"), F.col("graph"))),
            F.lit("/"),
        ),
    ).otherwise(
        F.concat(F.lit(base + "/"), F.col("graph"), F.lit("/"), F.col("gml_id"), F.lit("/"))
    )

    is_solid = F.coalesce(a("isSolid"), F.lit("0")) == F.lit("1")
    ref_iri = F.when(
        attr_of.isNotNull(),
        F.concat(F.lit(base + "/"), F.col("refgraph"), F.lit("/"), attr_of, F.lit("/")),
    )

    obj = (
        F.when(F.col("btype") == "iri", subj)
        .when(
            F.col("btype") == "class",
            F.coalesce(a("objectClassId"), F.col("class_id").cast("string")),
        )
        .when(F.col("btype") == "gmlid", F.col("gml_id"))
        .when((F.col("btype") == "geom") & ~is_solid, a("coords"))
        .when((F.col("btype") == "solid_geom") & is_solid, a("coords"))
        .when(F.col("btype") == "envelope", a("envelope"))
        .when(F.col("btype") == "ref", ref_iri)
        .when(F.col("btype") == "attr", attr_of)
    )

    geom_dt = F.concat(F.lit(BASE_URL_LITERALS), F.col("media_ref"))
    datatype = (
        F.when(F.col("btype").isin("geom", "solid_geom"), geom_dt)
        .when(
            F.col("btype") == "envelope",
            F.coalesce(
                F.concat(F.lit(BASE_URL_LITERALS), a("envelopeDatatype")),
                F.lit(BASE_URL_LITERALS + "POLYGON-3-15"),
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )

    return (
        j.select(
            subj.alias("subj"),
            F.concat(F.lit("ocgml:"), F.col("pred")).alias("pred"),
            obj.alias("obj"),
            F.col("obj_type"),
            datatype.alias("datatype"),
            F.col("graph"),
            F.col("doc_id"),
            F.col("span_idx"),
            F.col("pos"),
        )
        .where(F.col("obj").isNotNull())
    )


def mention_counts(triples: DataFrame) -> DataFrame:
    """A9 count summaries (DBImportWorker.updateImportContext:259-272)."""
    return triples.groupBy("graph").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
    )
