"""citykg — a from-scratch PySpark-native knowledge-graph construction engine.

Re-implements the query/data-processing capabilities of
cambridge-cares/CitiesKG (the Blazegraph-targeting 3DCityDB
Importer/Exporter fork, see /root/reference) as idiomatic Spark:

* stage 1 `extract`   — interleaved documents -> OntoCityGML triples
                        (DataFrame-only hot path: posexplode + str_to_map +
                        broadcast template join; no per-row Python)
* stage 2 `link`      — mention -> gazetteer entity linking
                        (broadcast exact-alias join + MinHash-LSH blocking)
* stage 3 `canon`     — duplicate-entity canonicalization via iterative
                        connected components (min-label + pointer jumping, salted)
                        + IRI re-homing
* stage 4 `materialize` — bucketed, manifest-tracked, resumable triple-store
                        writes (Iceberg `bucket(N, subj)` semantics; plain
                        parquet in this sandbox)

plus the training-data-pipeline operator suite under `citykg.ops`
(dedup, similarity search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
