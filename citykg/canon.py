"""Stage 3 — canonicalization: duplicate-entity resolution + IRI re-homing.

The reference's identity model is exact IRI equality across chunks
(SequenceHelper.java:42-80 — numeric ids restart per connection precisely
because gmlId-derived IRIs carry identity) plus a regex re-homing of every
base IRI at export (NquadsExporterTask.java:167-196). At web scale the same
semantics become:

* `same_as_edges`  — mentions that linked to the same entity, or share a
  gmlId, are duplicates. Edges are emitted as a STAR (every member ->
  group minimum), never a clique: a mega-entity appearing in 10^8 docs
  yields 10^8 star edges instead of 10^16 clique pairs. That plus a salted
  two-phase min-agg is the explicit skew handling the north_rule demands.
* `connected_components` — iterative min-label propagation with pointer
  jumping over DataFrame self-joins, one action per round; lineage cut with
  `session.stable` every round, AQE skew-join on as backstop.
* `canonicalize_triples` — rewrite subj/obj IRIs of duplicate entities to
  the canonical (component-min) IRI.
* `rehome_iris` — regexp_replace base swap (L6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .session import stable


def same_as_edges(groups: DataFrame, key: str, member: str, salt: int = 16) -> DataFrame:
    """(group key, member id) -> star edges (member -> group min member).

    Two-phase salted min: per-(key, salt-bucket) partial min, then final
    min per key — the heavy groupBy never sees a single hot reducer even
    when one key holds most rows. Output: (src, dst) with src != dst.
    """
    salted = groups.withColumn("_salt", F.pmod(F.xxhash64(member), F.lit(salt)))
    partial = salted.groupBy(key, "_salt").agg(F.min(member).alias("_pmin"))
    hubs = partial.groupBy(key).agg(F.min("_pmin").alias("_hub"))
    return (
        groups.join(hubs, key)
        .where(F.col(member) != F.col("_hub"))
        .select(F.col(member).alias("src"), F.col("_hub").alias("dst"))
    )


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation with pointer jumping, one action per round.

    edges: (src, dst) string ids. Returns (id, component) with component =
    min id in the component; zero edges give zero rows.

    Each round joins three kinds of read against the labels and takes one
    min-aggregate per reader: every node reads its neighbours' labels
    (propagation) and its label's label (the pointer jump), and a node's
    previous label reads the node's current one, so a root hears at once
    what a member of its tree learned from another tree. Labels stay node
    ids <= their node, so the jump never raises a label, and chains
    converge in O(log diameter) rounds where plain propagation needs
    O(diameter). On stars (what same_as_edges emits) the extra reads are
    one row per member. The same aggregate carries a `_changed` flag (did
    the label drop?), and the round's one action folds it to a scalar
    and materializes the non-eager lineage cut.

    Raises RuntimeError when `max_iter` rounds end with labels still
    moving: unconverged labels are wrong components, never a result."""
    # materialize the static edge list ONCE: without this every round's
    # propagation join re-executes the full upstream plan (extraction +
    # linking) — O(iters x upstream) instead of O(iters x edges)
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst"), F.col("src")))
        .distinct()
        .withColumn("_jump", F.lit(False))
        .transform(stable)
    )
    labels = stable(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .withColumn("_prev", F.col("id"))
    )

    for _ in range(max_iter):
        # src reads dst's label: the jump (node -> its label) and the
        # hook (previous label -> node, for nodes whose label just moved)
        jump = labels.where(F.col("id") != F.col("component")).select(
            F.col("id").alias("src"), F.col("component").alias("dst"), F.lit(True).alias("_jump")
        )
        hook = labels.where(F.col("_prev") != F.col("component")).select(
            F.col("_prev").alias("src"), F.col("id").alias("dst"), F.lit(False).alias("_jump")
        )
        new_labels = (
            sym.unionByName(jump)
            .unionByName(hook)
            .join(labels.select(F.col("id").alias("dst"), F.col("component").alias("n_comp")), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.min("n_comp").alias("_min"),
                # the jump row's target is the node's current label; a
                # root has no jump row and its label is its own id
                F.max(F.when(F.col("_jump"), F.col("dst"))).alias("_prev"),
            )
            .select(
                "id",
                F.least("_min", "id").alias("component"),
                F.coalesce("_prev", "id").alias("_prev"),
            )
            .withColumn("_changed", (F.col("component") < F.col("_prev")).cast("int"))
            # non-eager: the convergence aggregate below is the action
            # that materializes the cut — one action does both
            .transform(stable, eager=False)
        )
        changed = new_labels.agg(F.sum("_changed")).first()[0] or 0
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels.drop("_prev")
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} "
        "rounds: labels were still moving after the last round"
    )


def incremental_components(
    registry: DataFrame, new_edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Incremental canonicalization: fold a new batch's connectivity into
    an existing (id, component) registry WITHOUT recomputing the world —
    the only viable mode at 10^12 docs, where re-running global connected
    components per ingest batch would dominate the pipeline.

    Exactness: the result equals `connected_components(old_edges ∪
    new_edges)`. Components untouched by the new batch pass through
    by anti-join (their members share no node with any new edge, so no
    new edge can change their label). Touched components are re-solved
    from their STAR COMPRESSION (member -> component edges from the
    registry) unioned with the new edges — the star has identical
    connectivity to the original component and diameter 2, so the rerun
    converges in O(log #merged-components) rounds no matter how deep the
    original merge history was. Labels stay component-min because the
    registry label IS the historical min member id.

    Scale shape: `touched` is a semi-join of the registry against the new
    batch's node set (batch ≪ registry: broadcastable); pulling touched
    members is one shuffle join on component (co-located if the registry
    is stored bucketed by component); the CC rerun sees only
    |touched members| + |new edges| rows."""
    ids_new = (
        new_edges.select(F.col("src").alias("id"))
        .union(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    touched = (
        registry.join(ids_new, "id").select("component").distinct()
        .transform(stable)
    )
    sub = registry.join(touched, "component")
    star = sub.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    )
    labels_new = connected_components(
        star.unionByName(new_edges.select("src", "dst")), max_iter=max_iter
    )
    untouched = registry.join(touched, "component", "left_anti")
    return untouched.unionByName(labels_new)


def canonical_map(labels: DataFrame) -> DataFrame:
    """(id, component) -> (id, canonical_id) dropping self-mappings."""
    return labels.where(F.col("id") != F.col("component")).select(
        F.col("id"), F.col("component").alias("canonical_id")
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame, broadcast: bool = True) -> DataFrame:
    """Rewrite duplicate subject/object IRIs to their canonical IRI.

    mapping: (id, canonical_id) over IRIs. Broadcast when it fits (it is
    |duplicates|-sized, far smaller than the triple store); fall back to a
    shuffle join on subj (bucketed by subj in materialize, so co-located).
    """
    m = F.broadcast(mapping) if broadcast else mapping
    subj_m = m.withColumnRenamed("id", "subj").withColumnRenamed("canonical_id", "subj_canon")
    obj_m = m.withColumnRenamed("id", "obj").withColumnRenamed("canonical_id", "obj_canon")
    out = (
        triples.join(subj_m, "subj", "left")
        .join(obj_m, "obj", "left")
        .withColumn("subj", F.coalesce("subj_canon", "subj"))
        .withColumn(
            "obj",
            F.when(F.col("obj_type") == "iri", F.coalesce("obj_canon", "obj")).otherwise(
                F.col("obj")
            ),
        )
        .drop("subj_canon", "obj_canon")
    )
    return out


def rehome_iris(triples: DataFrame, from_base: str, to_base: str) -> DataFrame:
    """L6 IRI re-homing (NquadsExporterTask.java:167-196) as a vectorized
    literal-prefix replace on subj + iri objects."""
    import re as _re

    pat = "^" + _re.escape(from_base)
    return triples.withColumn("subj", F.regexp_replace("subj", pat, to_base)).withColumn(
        "obj",
        F.when(
            F.col("obj_type") == "iri", F.regexp_replace("obj", pat, to_base)
        ).otherwise(F.col("obj")),
    )


def fuse_attributes(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Knowledge fusion — the truth-discovery stage AFTER canonicalization
    (majority voting, cf. Dong et al., "Data Fusion: Resolving Conflicts
    from Multiple Sources", and the reference's post-merge store where
    duplicate city objects carry conflicting attribute copies): for each
    canonical entity and literal predicate, elect ONE fused value by vote
    count over the cluster's member triples, ties broken by the SMALLEST
    value (deterministic). Returns (canonical_id, pred, obj, n_votes,
    n_values, total_mentions, conflicted).

    `labels` is the connected_components output (id, component); members
    missing from it (singleton clusters — no edges) fuse to themselves
    via the left join + coalesce.

    Scale shape: member->canonical attach join (the mapping is
    |duplicates|-sized -> broadcast here; at corpus scale a shuffle join
    keyed on subj, co-located with the subject-bucketed store), then TWO
    shrinking partial aggs — (canon, pred, obj) vote counts, then a
    (canon, pred) min-struct argmax that also folds n_values /
    total_mentions in the same pass. No windows, no collect, and the
    vote agg is map-side combinable so a mega-entity's skew lands on
    combiners, not one reducer."""
    lab = labels.select(
        F.col("id").alias("subj"), F.col("component").alias("canonical_id")
    )
    attrs = (
        triples.where(F.col("obj_type") != "iri")
        .join(F.broadcast(lab), "subj", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", F.col("subj")))
    )
    votes = attrs.groupBy("canonical_id", "pred", "obj").agg(
        F.count("*").alias("n_votes")
    )
    return (
        votes.groupBy("canonical_id", "pred")
        .agg(
            F.min(
                F.struct((-F.col("n_votes")).alias("neg"), F.col("obj").alias("obj"))
            ).alias("_best"),
            F.count("*").alias("n_values"),
            F.sum("n_votes").alias("total_mentions"),
        )
        .select(
            "canonical_id",
            "pred",
            F.col("_best.obj").alias("obj"),
            (-F.col("_best.neg")).alias("n_votes"),
            "n_values",
            "total_mentions",
            (F.col("n_values") > 1).cast("int").alias("conflicted"),
        )
    )
