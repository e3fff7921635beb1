"""Coordinate transforms + deferred-reference resolution.

P23 affine transform (Importer.java:221-230, applied DBCityObject.java:
320-321): a 3x4 affine matrix applied to every coordinate triple of a
'#'-literal. Implemented as a JVM-side array expression over the split
literal — at 100 TB this stays inside whole-stage codegen; no Python.

L4 xlink resolution (Importer.java:411-448, DBXlinkSplitter): references
that could not be resolved inline are a second-pass join of dangling
object IRIs against the set of minted subjects. Here `resolve_xlinks`
reports and optionally drops dangling IRI references — the relational
patch step of the reference collapses into one anti-join + join.

L7 SRS upsert (CityImportAgent.java:423-476): idempotent 2-row metadata
graph write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import local_frame


def affine_transform_literal(
    df: DataFrame,
    lit_col: str,
    matrix: list[float],
    out: str = "transformed",
) -> DataFrame:
    """Apply a 3x4 row-major affine matrix [a b c tx, d e f ty, g h i tz]
    to every (x, y, z) of a '#'-separated literal; re-emits the literal.

    Formatting note: output coordinates are rendered by Spark's double->
    string cast, which matches Java Double.toString in the shortest-repr
    range (geometry.fmt_double documents the contract).
    """
    a, b, c, tx, d, e, f_, ty, g, h, i, tz = matrix
    # parse ONCE into a column: element_at over the inline
    # transform(split(...)) would re-parse the literal for every one of
    # the 9 references per point (O(points^2) parses per row)
    pts = "_pts_af"
    npts = "cast(size(_pts_af) / 3 as int)"
    expr = (
        f"array_join(flatten(transform(sequence(0, {npts} - 1), n -> array("
        f"cast({a}D * element_at({pts}, n * 3 + 1) + {b}D * element_at({pts}, n * 3 + 2) + {c}D * element_at({pts}, n * 3 + 3) + {tx}D as string), "
        f"cast({d}D * element_at({pts}, n * 3 + 1) + {e}D * element_at({pts}, n * 3 + 2) + {f_}D * element_at({pts}, n * 3 + 3) + {ty}D as string), "
        f"cast({g}D * element_at({pts}, n * 3 + 1) + {h}D * element_at({pts}, n * 3 + 2) + {i}D * element_at({pts}, n * 3 + 3) + {tz}D as string)"
        f"))), '#')"
    )
    return (
        df.withColumn(
            "_pts_af", F.expr(f"transform(split({lit_col}, '#'), v -> double(v))")
        )
        .withColumn(out, F.expr(expr))
        .drop("_pts_af")
    )


IDENTITY_3X4 = [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]


def resolve_xlinks(triples: DataFrame, drop_dangling: bool = False) -> tuple[DataFrame, DataFrame]:
    """Second-pass reference resolution.

    Returns (resolved_triples, dangling_refs). A dangling ref is an IRI
    object that no triple ever minted as a subject — the analog of an
    href="#id" whose target never arrived (DBXlinkSplitter.startQuery).
    The join is subject-bucketed-friendly: both sides key on the IRI.
    """
    subjects = triples.select(F.col("subj").alias("obj")).distinct()
    iri_objs = triples.where(F.col("obj_type") == "iri")
    dangling = (
        iri_objs.join(subjects, "obj", "left_anti")
        .where(F.col("obj") != F.col("subj"))
        .select("subj", "pred", "obj", "graph", "doc_id", "span_idx")
    )
    if not drop_dangling:
        return triples, dangling
    keep_literals = triples.where(F.col("obj_type") != "iri")
    keep_iris = (
        triples.where(F.col("obj_type") == "iri")
        .join(
            dangling.select("subj", "pred", "obj").withColumn("_d", F.lit(1)),
            ["subj", "pred", "obj"],
            "left",
        )
        .where(F.col("_d").isNull())
        .drop("_d")
    )
    return keep_literals.unionByName(keep_iris), dangling


def upsert_srs(spark: SparkSession, out_dir: str, srid: int, srs_name: str, base: str) -> None:
    """databasesrs graph: DELETE+INSERT srid/srsname
    (CityImportAgent.setDatabaseSrs, idempotent overwrite)."""
    rows = [
        (f"{base}/databasesrs/srs/", "ocgml:srid", str(srid), "literal", None, "databasesrs", "_srs", 0, 0),
        (f"{base}/databasesrs/srs/", "ocgml:srsname", srs_name, "literal", None, "databasesrs", "_srs", 0, 1),
    ]
    from .schema import TRIPLE_SCHEMA

    local_frame(spark, rows, TRIPLE_SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/databasesrs"
    )
