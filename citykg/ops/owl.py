"""G5 — OWL consistency checks as anti-joins against a broadcast TBox.

The reference runs these as reasoner tasks dispatched by InferenceAgent
(/root/reference/agents/src/main/java/uk/ac/cam/cares/twa/cities/agents/
InferenceAgent.java:62-92) with one task class per check
(tasks/*CheckingTask.java). All ten task families are re-expressed here
Spark-first:

* ClassMembershipCheckingTask      -> class_membership (closure join)
* ClassSpecialisationCheckingTask  -> specialisation (transitive closure)
* ClassDisjointnessCheckingTask    -> disjoint_class_violations
* PropertyCheckingTask             -> domain_violations + range_check_summary
* ValueRestrictionCheckingTask     -> value_restriction_violations
* CardinalityRestrictionCheckingTask -> cardinality_violations (min) +
                                        max_cardinality_violations
* ConsistencyCheckingTask          -> consistency_summary (union of checks)
* PageRank/EdgeBetweenness/ShortestPath tasks live in citykg.ops.graph.

Spark-first shape: the TBox (a few hundred axioms at most) is a broadcast
DataFrame; every check is a broadcast join or anti-join against the triple
table — a single scan-side pass per check, no shuffle on the big side, so
the pattern holds unchanged at 10^12 triples. The taxonomy closure is an
iterative self-join over the (tiny, broadcast) direct-superclass table —
same loop shape as connected_components, converging in O(hierarchy depth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import broadcast

from ..session import local_frame

CLASS_PRED = "ocgml:objectClassId"

# 3DCityDB object-class taxonomy: (class_id, class_name, superclass_id).
# Cited from the reference's registry
# (resources/3dcitydb/postgresql/SQLScripts/SCHEMA/OBJECTCLASS/
# OBJECTCLASS_INSTANCES.sql) — the rows for every class the extraction
# emits (citykg.vocab.CLASS_ID) plus their ancestors.
OBJECTCLASS = [
    (1, "_GML", None),
    (2, "_Feature", 1),
    (3, "_CityObject", 2),
    (5, "GenericCityObject", 3),
    (20, "_Site", 3),
    (21, "CityFurniture", 3),
    (24, "_AbstractBuilding", 20),
    (25, "BuildingPart", 24),
    (26, "Building", 24),
    (27, "BuildingInstallation", 3),
    (29, "_BuildingBoundarySurface", 3),
    (33, "BuildingRoofSurface", 29),
    (34, "BuildingWallSurface", 29),
    (35, "BuildingGroundSurface", 29),
    (37, "_BuildingOpening", 3),
    (38, "BuildingWindow", 37),
    (39, "BuildingDoor", 37),
    (40, "BuildingFurniture", 3),
    (41, "BuildingRoom", 3),
    (51, "_SurfaceData", 2),
    (53, "X3DMaterial", 51),
]


def objectclass_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, OBJECTCLASS, "class_id int, class_name string, superclass_id int"
    )


def subclass_closure(spark: SparkSession) -> DataFrame:
    """Transitive closure of the direct-superclass relation:
    (sub_id, super_id, depth) with depth >= 1 (proper ancestors only).

    The TBox taxonomy is a driver-sized CONSTANT (3DCityDB ships a fixed
    class tree; a few hundred rows at most), so the closure is walked
    driver-side and shipped as one broadcast-sized DataFrame — the same
    economics at 10^12 triples, where the ABox joins against this frame
    but never computes it. (An earlier revision ran the closure as an
    iterative Spark self-join: ~40 scheduler round-trips over a 21-row
    table, dominating the owl_* query wall-clock for zero scale benefit.
    ClassSpecialisationCheckingTask runs HermiT for the same question.)
    """
    parent = {c: s for c, _, s in OBJECTCLASS if s is not None}
    rows = []
    for sub in parent:
        anc, depth = parent[sub], 1
        while anc is not None:
            rows.append((sub, anc, depth))
            anc, depth = parent.get(anc), depth + 1
    return local_frame(spark, rows, "sub_id int, super_id int, depth int")


def class_membership(spark: SparkSession, triples: DataFrame) -> DataFrame:
    """ClassMembershipCheckingTask analog: every (individual, class) pair
    under the taxonomy — the asserted objectClassId membership (depth 0)
    plus all inherited ancestor memberships. Broadcast closure join; one
    pass over the triple table."""
    asserted = (
        triples.where(F.col("pred") == CLASS_PRED)
        .select("subj", F.col("obj").cast("int").alias("class_id"))
    )
    names = objectclass_df(spark).select("class_id", "class_name")
    self_rows = names.select(
        F.col("class_id").alias("sub_id"), F.col("class_id").alias("super_id"),
        F.lit(0).alias("depth"),
    )
    closure = broadcast(subclass_closure(spark).unionByName(self_rows))
    return (
        asserted.join(closure, asserted.class_id == closure.sub_id)
        .join(broadcast(names.toDF("super_id", "member_of")), "super_id")
        .select(
            "subj",
            F.col("class_id"),
            F.col("super_id").alias("member_class_id"),
            F.col("member_of"),
            "depth",
        )
    )


def specialisation(spark: SparkSession) -> DataFrame:
    """ClassSpecialisationCheckingTask analog: does A specialise B?
    Returns the full proper-ancestor closure with names and hop depth."""
    names = objectclass_df(spark).select("class_id", "class_name")
    c = subclass_closure(spark)
    return (
        c.join(broadcast(names.toDF("sub_id", "sub_name")), "sub_id")
        .join(broadcast(names.toDF("super_id", "super_name")), "super_id")
        .select("sub_id", "sub_name", "super_id", "super_name", "depth")
    )


def range_check_summary(
    spark: SparkSession, triples: DataFrame, ranges: list[tuple[str, str]]
) -> DataFrame:
    """rdfs:range half of PropertyCheckingTask: for each (pred,
    expected_graph) axiom over IRI-object predicates, the object IRI must
    sit in the expected graph (its '/<graph>/' path segment). Returns a
    per-axiom summary (pred, expected_graph, n_checked, n_violations) —
    one broadcast join + one partial aggregate."""
    axioms = local_frame(spark, ranges, "pred string, expected_graph string")
    checked = triples.where(F.col("obj_type") == "iri").join(broadcast(axioms), "pred")
    ok = F.col("obj").contains(F.concat(F.lit("/"), F.col("expected_graph"), F.lit("/")))
    return (
        checked.withColumn("_viol", (~ok).cast("long"))
        .groupBy("pred", "expected_graph")
        .agg(
            F.count("*").alias("n_checked"),
            F.sum("_viol").alias("n_violations"),
        )
    )


def value_restriction_violations(
    spark: SparkSession, triples: DataFrame, restrictions: list[tuple[str, str, float, float]]
) -> DataFrame:
    """ValueRestrictionCheckingTask analog for numeric literal ranges:
    axioms (graph, pred, lo, hi); report triples whose literal value falls
    outside [lo, hi]. Broadcast axiom join, scan-side filter."""
    axioms = local_frame(
        spark, restrictions, "graph string, pred string, lo double, hi double"
    )
    # try_cast, not cast: malformed literals must FLOW INTO the violation
    # branch (v.isNull()); under ANSI mode a plain cast would error the job
    # on the first dirty literal and diverge from the TRY_CAST oracle
    v = F.expr("try_cast(obj as double)")
    return (
        triples.join(broadcast(axioms), ["graph", "pred"])
        .where(v.isNull() | (v < F.col("lo")) | (v > F.col("hi")))
        .select("subj", "pred", "obj", "lo", "hi")
    )


def max_cardinality_violations(
    spark: SparkSession,
    triples: DataFrame,
    graph: str,
    pred: str,
    max_n: int,
    count_col: str = "obj",
) -> DataFrame:
    """CardinalityRestrictionCheckingTask (max side): individuals carrying
    more than `max_n` assertions of `pred`. `count_col='obj'` counts
    inbound references (e.g. 'a CityObject has at most N generic
    attributes' counts genattrib rows pointing AT the object). One
    map-side-combinable aggregate."""
    return (
        triples.where((F.col("graph") == graph) & (F.col("pred") == pred))
        .groupBy(F.col(count_col).alias("individual"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_n)
    )


def consistency_summary(parts: dict[str, DataFrame]) -> DataFrame:
    """ConsistencyCheckingTask analog: isConsistent == no check family
    reports violations. `parts` maps check name -> violations frame; the
    output is one row per check (check, n_violations, consistent)."""
    import functools

    counts = [
        df.agg(F.count("*").alias("n_violations")).select(
            F.lit(name).alias("check"), "n_violations"
        )
        for name, df in parts.items()
    ]
    out = functools.reduce(lambda a, b: a.unionByName(b), counts)
    return out.withColumn("consistent", F.col("n_violations") == 0)


def cardinality_violations(
    spark: SparkSession, triples: DataFrame, required: list[tuple[str, str]]
) -> DataFrame:
    """Min-cardinality-1 check (ValueRestrictionCheckingTask analog):
    for each (graph, required_pred) axiom, report subjects of that graph
    that carry NO triple with the required predicate.

    Plan: distinct subjects per graph (partial-agg shuffle), broadcast the
    axioms onto them, then LEFT ANTI join against the observed
    (graph, subj, pred) set — the anti-join shuffles on (graph, subj,
    pred), which is near-unique, so no skew.
    """
    axioms = local_frame(spark, required, "graph string, required_pred string")
    subjects = triples.select("graph", "subj").distinct()
    expected = subjects.join(broadcast(axioms), "graph")
    observed = triples.select(
        "graph", "subj", F.col("pred").alias("required_pred")
    ).distinct()
    return expected.join(
        observed, ["graph", "subj", "required_pred"], "left_anti"
    ).withColumnRenamed("required_pred", "missing_pred")


def disjoint_class_violations(
    spark: SparkSession, triples: DataFrame, disjoint_pairs: list[tuple[str, str]]
) -> DataFrame:
    """owl:disjointWith check (ClassDisjointnessCheckingTask analog):
    subjects asserted to belong to two disjoint classes. Self-join of the
    (subj, class) projection on subj — class triples are one per subject,
    so the join key is near-unique (no skew); the disjoint axiom table is
    broadcast."""
    axioms = local_frame(spark, disjoint_pairs, "class_a string, class_b string")
    cls = triples.where(F.col("pred") == CLASS_PRED).select("subj", F.col("obj").alias("cls"))
    a = cls.withColumnRenamed("cls", "class_a")
    b = cls.withColumnRenamed("cls", "class_b")
    return (
        a.join(b, "subj")
        .join(broadcast(axioms), ["class_a", "class_b"])
        .select("subj", "class_a", "class_b")
    )


def domain_violations(
    spark: SparkSession, triples: DataFrame, domains: list[tuple[str, str]]
) -> DataFrame:
    """rdfs:domain check (PropertyCheckingTask analog): triples whose
    predicate is declared for a different graph/class than the one the
    subject sits in. Broadcast join on pred, filter graph mismatch."""
    axioms = local_frame(spark, domains, "pred string, expected_graph string")
    return (
        triples.join(broadcast(axioms), "pred")
        .where(F.col("graph") != F.col("expected_graph"))
        .select("subj", "pred", "graph", "expected_graph")
    )


def haskey_sameas(
    triples: DataFrame, graph: str, key_preds: list[str]
) -> DataFrame:
    """owl:hasKey / inverse-functional-property entity resolution (OWL 2
    "easy keys", sec. 9.5; the HermiT/Pellet sameAs rule): subjects of
    `graph` that agree on ALL `key_preds` values are inferred owl:sameAs
    one canonical representative (min IRI). Returns the STAR form
    (subj, canon, n_shared) — linear in cluster size, never the O(n^2)
    pairwise closure — which is exactly the edge shape the
    canonicalization stage consumes (citykg.canon.connected_components).

    Plan: the per-subject key pivot is ONE conditional partial agg
    (map-side combinable, key = subj which is unique per graph); the
    canon frame is a second partial agg on the key tuple; the re-attach
    is a plain equi-join on the key columns. No self-join on subj, no
    window, no skew beyond genuine key hot-spots — and a hot key's
    cluster emits n rows, not n^2."""
    kc = [f"_k{i}" for i in range(len(key_preds))]
    aggs = [
        F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(k)
        for k, p in zip(kc, key_preds)
    ]
    keyed = (
        triples.where(F.col("graph") == graph)
        .groupBy("subj")
        .agg(*aggs)
        .na.drop(subset=kc)
    )
    canon = (
        keyed.groupBy(*kc)
        .agg(F.min("subj").alias("canon"), F.count("*").alias("n_shared"))
        .where(F.col("n_shared") > 1)
    )
    return (
        keyed.join(canon, kc)
        .where(F.col("subj") != F.col("canon"))
        .select("subj", "canon", "n_shared")
    )


def shacl_report(
    spark: SparkSession,
    triples: DataFrame,
    shapes: list[tuple[str, int, int, str]],
    graph: str = "building",
) -> DataFrame:
    """SHACL-style shape validation report: for each property shape
    (pred, minCount, maxCount, nodeKind) over one node shape (the
    subjects of `graph`), count how many focus nodes violate each
    constraint family — the sh:minCount / sh:maxCount / sh:nodeKind core
    of a SHACL processor, as ONE aggregation report instead of per-node
    conformance rows (what a data-quality gate actually consumes).

    Plan shape: per-(subj, pred) counts are one partial-agg shuffle over
    the graph's triples (shape table broadcast onto it first, so
    non-shaped predicates are filtered map-side); the focus-node universe
    joins the <=dozens-row shape table via broadcast; the final report is
    a pred-keyed partial agg. No window, no self-join; skew bounded by
    triples-per-subject.

    Output: (pred, min_count, max_count, node_kind, n_subjects,
    n_min_violations, n_max_violations, n_kind_violations, n_conforming).
    """
    sh = local_frame(
        spark, shapes, "pred string, min_count int, max_count int, node_kind string"
    )
    t = triples.where(F.col("graph") == graph)
    per_sp = (
        t.join(broadcast(sh), "pred")
        .groupBy("subj", "pred")
        .agg(
            F.count("*").alias("_n"),
            F.sum(
                F.when(F.col("obj_type") != F.col("node_kind"), 1).otherwise(0)
            ).alias("_wrong_kind"),
        )
    )
    focus = t.select("subj").distinct().crossJoin(broadcast(sh))
    per_focus = focus.join(per_sp, ["subj", "pred"], "left").select(
        "pred",
        "min_count",
        "max_count",
        "node_kind",
        F.coalesce("_n", F.lit(0)).alias("_n"),
        F.coalesce("_wrong_kind", F.lit(0)).alias("_wrong_kind"),
    )
    viol_min = F.when(F.col("_n") < F.col("min_count"), 1).otherwise(0)
    viol_max = F.when(F.col("_n") > F.col("max_count"), 1).otherwise(0)
    viol_kind = F.when(F.col("_wrong_kind") > 0, 1).otherwise(0)
    return (
        per_focus.groupBy("pred", "min_count", "max_count", "node_kind")
        .agg(
            F.count("*").cast("long").alias("n_subjects"),
            F.sum(viol_min).cast("long").alias("n_min_violations"),
            F.sum(viol_max).cast("long").alias("n_max_violations"),
            F.sum(viol_kind).cast("long").alias("n_kind_violations"),
            F.sum(
                F.when((viol_min + viol_max + viol_kind) == 0, 1).otherwise(0)
            ).cast("long").alias("n_conforming"),
        )
    )


def property_chain(
    triples: DataFrame,
    first_pred: str,
    second_pred: str,
    derived_pred: str,
    invert_first: bool = False,
) -> DataFrame:
    """OWL 2 RL property-chain inference (rule prp-spo2, the 2-link
    case of owl:propertyChainAxiom): P(x, y) AND Q(y, z) => R(x, z).
    The eleventh inference family here — unlike the TBox checks above
    this one DERIVES new triples rather than flagging violations
    (Blazegraph's inference engine materializes the same closure;
    OntoInfer stores such derived assertions in its own graph).
    `invert_first` makes the first chain member an owl:inverseOf slice
    (P(y, x) read as x -> y) — the shape that walks a reference-style
    LINK TABLE: addressId^- chained with buildingId turns the two-row
    link entity into a direct address -> building assertion.

    Scale shape: two predicate-filtered slices of the store (predicate
    pushdown reaches the scan; in the property-table layout each slice
    is one column), ONE equi-join on the shared node, distinct. The
    join key is the mid entity IRI — the same key the store buckets by
    subject, so the Q side is co-located when read from the
    materialized store."""
    pf = triples.where(F.col("pred") == first_pred)
    p = (
        pf.select(F.col("obj").alias("subj"), F.col("subj").alias("_mid"))
        if invert_first
        else pf.select(F.col("subj"), F.col("obj").alias("_mid"))
    )
    q = triples.where(F.col("pred") == second_pred).select(
        F.col("subj").alias("_mid"), F.col("obj")
    )
    return (
        p.join(q, "_mid")
        .select("subj", F.lit(derived_pred).alias("pred"), "obj")
        .distinct()
    )


def eq_rep_rewrite(
    triples: DataFrame, sameas: DataFrame, graph: str | None = None
) -> DataFrame:
    """OWL 2 RL eq-rep-s / eq-rep-o: rewrite the triple graph through an
    owl:sameAs map — every subject and every IRI object that appears as
    a `subj` in the star-form sameAs frame (subj, canon) is replaced by
    its canonical representative, and statements that become identical
    after the rewrite merge (the reasoner's duplicate-elimination step).
    Literal objects never rewrite (eq-rep-o applies to individuals
    only). Returns the merged graph with the merge multiplicity:
    (subj, pred, obj, obj_type, n_merged).

    Plan: two LEFT equi-joins against the node-sized sameAs map (subj
    side, then iri-object side) + ONE map-side-combinable count agg on
    the rewritten statement. The map is cluster-membership-sized (only
    non-canonical members carry rows), usually small enough that AQE
    turns both joins into broadcasts; at mega-entity scale they key on
    subj/obj like every store shuffle."""
    # the member map is duplicate-count-sized (only non-canonical members
    # carry rows) — orders of magnitude under the corpus; broadcast it so
    # the two rewrites stay map-side. At pathological duplication drop
    # the hint and let AQE choose.
    m = F.broadcast(
        sameas.select(F.col("subj").alias("_m"), F.col("canon").alias("_c"))
    )
    t = triples if graph is None else triples.where(F.col("graph") == graph)
    rw = (
        t.join(m.withColumnRenamed("_m", "subj"), "subj", "left")
        .withColumn("subj", F.coalesce("_c", "subj"))
        .drop("_c")
        .join(m.select(F.col("_m").alias("obj"), "_c"), "obj", "left")
        .withColumn(
            "obj",
            F.when(
                (F.col("obj_type") == "iri") & F.col("_c").isNotNull(), F.col("_c")
            ).otherwise(F.col("obj")),
        )
        .drop("_c")
    )
    return rw.groupBy("subj", "pred", "obj", "obj_type").agg(
        F.count("*").cast("bigint").alias("n_merged")
    )
