"""Servlet-analog request plumbing for the CitiesKG agents.

The reference exposes its operators behind JPSAgent servlets: a client
POSTs a JSON body, `validateInput` rejects malformed requests with a
BadRequestException, `processRequestParameters` mutates the request
object with the results and echoes it back. This module reproduces that
REQUEST CONTRACT — key names, validation rules, routing, response shape —
on top of the Spark-side operators (the heavy lifting stays declarative;
this layer only validates, routes, and shapes). A stdlib
ThreadingHTTPServer wrapper (`serve`) provides the actual HTTP surface
for deployments that want drop-in servlet parity.

Reference parity (agents/src/main/java/uk/ac/cam/cares/twa/cities/):

* ``CityInformationAgent.java`` — keys :46-50; three branches :92-211
  (context fan-out incl. the GFA plot filter, the distance-filter task,
  and the default createInfoTable pull that nulls the envelope before
  returning, :199); validateInput :213-254 (POST + every iri a URL; each
  context agent's kv-pairs must contain TotalGFA).
* ``DistanceAgent.java`` — keys :43-46; all i<j pairs with a cached-
  distance lookup before compute+writeback :106-124; validateInput
  :130-149; computeDistance :271-284 (envelope centroid -> metric CRS ->
  JTS ``Coordinate.distance``, which is **2D**); the OM-2 writeback
  insert :293-316 (rendered here by geo.distance_writeback_triples).
* ``CityImportAgent.java`` — URI_LISTEN/URI_ACTION + CHUNK_SIZE :72-86;
  requestUrl routing :114-135; validateInput :137-200 (listen requires an
  absolute directory, action a watched file/dir).
* ``GeometryType.computeCentroid`` :149-161 — naive average of the
  exterior ring skipping the closing point; that is the centroid the
  distance runs on.

Scale shape: requests carry a bounded IRI list (a UI click or a tile),
so lookups scope the triple scan with literal filters, not a join:
`subj IN (<iris>)`, pushed to parquet on the subject-sorted files, and —
when the store records its bucket count N (StoreRegistry.lookup) —
`bucket IN (pmod(xxhash64(<iri>), N) ...)`, which Spark folds into
partition filters, so a lookup reads only its subjects' buckets. Other
request tables (distance pairs, export ids) are Arrow LocalRelations
(`session.local_frame`), so answering a request starts no Python
worker. Nothing in this module collects more than the request's own
result rows.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import extract, materialize, sources
from .session import local_frame
from .store import ParquetStoreAdapter
from .vocab import DEFAULT_BASE

HTTP_POST = "POST"

KEY_REQ_METHOD = "method"
KEY_REQ_URL = "requestUrl"
KEY_IRIS = "iris"
KEY_CONTEXT = "context"
KEY_CITY_OBJECT_INFORMATION = "cityobjectinformation"
KEY_TOTAL_GFA = "TotalGFA"
KEY_DISTANCES = "distances"
KEY_DIRECTORY = "directory"
KEY_NAMESPACE = "namespace"
SEARCH_DISTANCE = "searchDistance"
KEY_TARGET_URL = "targetURL"
KEY_SRID = "srid"
KEY_SRSNAME = "srsName"
KEY_WATCH = "watch"


class BadRequestException(ValueError):
    """javax.ws.rs.BadRequestException analog — raised on any request that
    fails an agent's validateInput."""


def _require_url(s) -> str:
    """`new URL(iri)` analog: scheme + host must both parse."""
    try:
        u = urlparse(str(s))
    except Exception as exc:  # pragma: no cover - urlparse rarely throws
        raise BadRequestException(f"not a URL: {s!r}") from exc
    # `new URL()` accepts host-less file: URLs — mirror that
    if not u.scheme or not (u.netloc or (u.scheme == "file" and u.path)):
        raise BadRequestException(f"not a URL: {s!r}")
    return str(s)


def _require_post_iris(request: dict) -> list[str]:
    """The validation block shared by CityInformationAgent and
    DistanceAgent (DistanceAgent.java:130-149): non-empty body, method
    key present and POST, iris present and every element a URL."""
    if not isinstance(request, dict) or not request:
        raise BadRequestException("empty request")
    if request.get(KEY_REQ_METHOD) != HTTP_POST:
        raise BadRequestException("method must be POST")
    if KEY_IRIS not in request:
        raise BadRequestException("missing iris")
    iris = request[KEY_IRIS]
    if not isinstance(iris, (list, tuple)):
        raise BadRequestException("iris must be an array")
    return [_require_url(i) for i in iris]


def _subjects(triples: DataFrame, iris: list[str], n_buckets: int | None) -> DataFrame:
    """The rows of the requested subjects. Requests are UI-bounded (tens
    of iris), so both filters are literal lists: `subj IN` reaches
    parquet as a pushed filter, and with the store's bucket count
    `bucket IN` folds to constant partition filters (None: a frame
    without a recorded spec, every bucket is scanned)."""
    out = triples.where(F.col("subj").isin(iris))
    if n_buckets is None:
        return out
    return out.where(
        F.col("bucket").isin([materialize.bucket_of(F.lit(i), n_buckets) for i in iris])
    )


def _envelope_centroids(triples: DataFrame) -> DataFrame:
    """(iri, cx, cy, cz) envelope centroid per city object: parse the
    EnvelopeType literal back to its ring and average the first 4
    (non-closing) points — GeometryType.computeCentroid(skipLast=true),
    :149-161. Pure JVM HOF expressions over one filtered scan."""
    e = triples.where(F.col("graph") == "cityobject").where(
        F.col("pred") == "ocgml:EnvelopeType"
    )
    n_pts = "(size(split(obj, '#')) / 3 - 1)"  # ring points minus closure
    axis = (
        "aggregate(slice(transform(split(obj, '#'), (x, i) -> "
        "struct(double(x) as v, i)), 1, size(split(obj, '#')) - 3), 0.0D, "
        "(a, s) -> a + (case when s.i % 3 = {ax} then s.v else 0.0D end))"
        f" / {n_pts}"
    )
    return e.selectExpr(
        "subj as iri",
        axis.format(ax=0) + " as cx",
        axis.format(ax=1) + " as cy",
        axis.format(ax=2) + " as cz",
    )


# ---------------------------------------------------------------------------
# AccessAgentMapping / store routing
# ---------------------------------------------------------------------------

def namespace_endpoint(iri: str) -> str:
    """AccessAgentMapping.getNamespaceEndpoint:52-59 — the namespace
    endpoint is the IRI minus its last two path segments (minus one for
    the special `ontozone` graph IRIs). Java's String.split drops
    trailing empty tokens, so a trailing slash does not count as a
    segment — mirrored here."""
    parts = str(iri).split("/")
    while parts and parts[-1] == "":
        parts.pop()
    if parts and parts[-1] == "ontozone":
        return "/".join(parts[:-1]) + "/"
    return "/".join(parts[:-2]) + "/"


class StoreRegistry:
    """AccessAgentMapping analog: namespace endpoint -> triple store.

    The reference hard-codes the ontokgrouter registrations (one
    Blazegraph namespace per city); here a registration binds an
    endpoint to either a materialized store directory or an in-memory
    triples frame. Agents resolve the store from each request's first
    IRI — the "set the route based on the IRI" step in
    CityInformationAgent:163-167 / DistanceAgent:96-101.

    A store directory is read lazily and its frame cached per registry,
    keyed on the store's `_manifest` file listing: every write, upsert,
    delete and compaction appends a manifest file, so the first resolve
    after one re-reads the store instead of serving a frame whose file
    listing the write made stale. The frame travels with the store's
    recorded bucket count (`lookup`), which agents prune lookups by."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._dirs: dict[str, str] = {}
        self._frames: dict[str, DataFrame] = {}
        # store dir endpoint -> (manifest listing, frame read under it,
        # recorded bucket count); one tuple per entry, so concurrent
        # resolves never pair a frame with another read's listing
        self._read: dict[str, tuple[frozenset[str], DataFrame, int | None]] = {}

    def register(self, endpoint: str, store_dir: str | None = None,
                 triples: DataFrame | None = None) -> None:
        if (store_dir is None) == (triples is None):
            raise ValueError("register exactly one of store_dir/triples")
        key = endpoint if endpoint.endswith("/") else endpoint + "/"
        self._read.pop(key, None)
        if store_dir is not None:
            self._dirs[key] = store_dir
        else:
            self._frames[key] = triples

    def target_resource_id(self, iri: str) -> str | None:
        """getTargetResourceID analog: the registered endpoint key for
        this object IRI, or None (the reference returns null and callers
        keep their current route)."""
        ep = namespace_endpoint(iri)
        return ep if (ep in self._dirs or ep in self._frames) else None

    def resolve(self, iri: str) -> DataFrame:
        return self.lookup(iri)[0]

    def lookup(self, iri: str) -> tuple[DataFrame, int | None]:
        """The store for `iri` and its recorded bucket count (None for a
        registered frame or a store without metadata.json)."""
        ep = self.target_resource_id(iri)
        if ep is None:
            raise BadRequestException(f"no registered store for {iri!r}")
        if ep in self._frames:
            return self._frames[ep], None
        m = materialize.manifest_path(self._dirs[ep])
        stamp = frozenset(os.listdir(m)) if os.path.isdir(m) else frozenset()
        cached = self._read.get(ep)
        if cached is None or cached[0] != stamp:
            adapter = materialize._adapter(self._spark, self._dirs[ep])
            spec = adapter.spec()
            cached = (stamp, adapter.read(), spec.n_buckets if spec else None)
            self._read[ep] = cached
        return cached[1], cached[2]


# ---------------------------------------------------------------------------
# CityInformationAgent
# ---------------------------------------------------------------------------

class CityInformationAgent:
    """CityInformationAgent.java:40-254 analog."""

    URI = "/cityobjectinformation"

    def validate_input(self, request: dict) -> bool:
        iris = _require_post_iris(request)
        if KEY_CONTEXT in request:
            ctx = request[KEY_CONTEXT]
            if not isinstance(ctx, dict):
                raise BadRequestException("context must be an object")
            for agent_url, kv in ctx.items():
                _require_url(agent_url)
                if not isinstance(kv, dict) or KEY_TOTAL_GFA not in kv:
                    # validateInput:223-240 — every context agent's
                    # key-value pairs must carry TotalGFA
                    raise BadRequestException(f"context for {agent_url} lacks TotalGFA")
        return bool(iris) or True

    def info_frame(
        self, triples: DataFrame, request: dict, n_buckets: int | None = None
    ) -> DataFrame:
        """createInfoTable branch (:185-206) as a DataFrame: every
        attribute row of each requested city object. The reference pulls
        the CityObject model then `setEnvelopeType(null)` before
        serializing (:199) — mirrored by dropping EnvelopeType rows.
        Plan: one cityobject scan scoped by `subj IN (<iris>)` and, with
        the store's bucket count `n_buckets`, by `bucket IN` their
        buckets — no join, no shuffle."""
        iris = _require_post_iris(request)
        return (
            _subjects(triples.where(F.col("graph") == "cityobject"), iris, n_buckets)
            .where(F.col("pred") != "ocgml:EnvelopeType")
            .select(F.col("subj").alias("iri"), "pred", "obj")
        )

    def filtered_objects(
        self,
        gfa: DataFrame,
        request: dict,
        agent_url: str,
    ) -> DataFrame:
        """Programmatic-plot-finder branch (:102-144 + getFilterQuery):
        keep city objects whose zone allows the requested use and whose
        GFA clears the request's TotalGFA threshold (min_cap semantics —
        the reference's >= bound; max_cap inverts it).

        `gfa` is the zoning frame (iri, zone, allows_use, gfa) — produced
        by the A11 operator (footprint x storeys); this method only
        applies the request's filter, exactly the servlet split in the
        reference (SPARQL does the heavy lifting there, Spark here)."""
        self.validate_input(request)
        kv = request[KEY_CONTEXT][agent_url]
        try:
            total_gfa = float(kv[KEY_TOTAL_GFA])
        except (TypeError, ValueError):
            # NumberFormatException -> 0.0 fallback (:134-137)
            total_gfa = 0.0
        max_cap = bool(kv.get("max_cap", False))
        out = gfa.where(F.col("allows_use"))
        if total_gfa > 0:
            cond = F.col("gfa") <= total_gfa if max_cap else F.col("gfa") >= total_gfa
            out = out.where(cond)
        return out.select("iri", "zone", F.round("gfa", 6).alias("gfa"))

    def distance_filter_frame(
        self, triples: DataFrame, request: dict, n_buckets: int | None = None
    ) -> DataFrame:
        """Suitable-Site-Selector branch (:159-182, DistanceFilterTask):
        for each requested city object, every other city object whose
        envelope centroid lies within `searchDistance` metres (2D, the
        metric database SRS). Plan: the corpus centroids come from ONE
        filtered scan; the query centroids from a scan scoped like
        info_frame's (`subj IN`, and `bucket IN` with `n_buckets`), so
        the candidate join is broadcast (a few query rows x corpus,
        filtered in the same stage) — no shuffle, no self-join of the
        corpus."""
        iris = _require_post_iris(request)
        try:
            radius = float(request[SEARCH_DISTANCE])
        except (KeyError, TypeError, ValueError):
            raise BadRequestException("searchDistance must be numeric")
        all_c = _envelope_centroids(triples).drop("cz")
        q = _envelope_centroids(_subjects(triples, iris, n_buckets)).select(
            F.col("iri").alias("query_iri"), F.col("cx").alias("qx"), F.col("cy").alias("qy")
        )
        d2 = (F.col("cx") - F.col("qx")) * (F.col("cx") - F.col("qx")) + (
            F.col("cy") - F.col("qy")
        ) * (F.col("cy") - F.col("qy"))
        return (
            all_c.join(F.broadcast(q), F.col("iri") != F.col("query_iri"))
            .where(d2 <= radius * radius)
            .select(
                "query_iri",
                F.col("iri").alias("neighbor_iri"),
                F.round(F.sqrt(d2), 6).alias("dist_m"),
            )
        )

    def process_request_parameters(
        self, triples: DataFrame, request: dict, n_buckets: int | None = None
    ) -> dict:
        """Full servlet contract: validate, run the branch, append results
        to the request object and return it (collects only the request's
        own result rows, like the servlet's JSON response)."""
        self.validate_input(request)
        if SEARCH_DISTANCE in request:
            out = dict(request)
            out["distanceFilter"] = [
                r.asDict()
                for r in self.distance_filter_frame(triples, request, n_buckets).collect()
            ]
            return out
        out = dict(request)
        rows = self.info_frame(triples, request, n_buckets).collect()
        by_iri: dict[str, list] = {}
        for r in rows:
            by_iri.setdefault(r["iri"], []).append({"pred": r["pred"], "obj": r["obj"]})
        # requestParams.append(KEY_CITY_OBJECT_INFORMATION, ...) — one
        # entry per requested iri, in request order
        out[KEY_CITY_OBJECT_INFORMATION] = [
            {"iri": i, "attributes": by_iri.get(i, [])} for i in request[KEY_IRIS]
        ]
        return out


# ---------------------------------------------------------------------------
# DistanceAgent
# ---------------------------------------------------------------------------

class DistanceAgent:
    """DistanceAgent.java:40-316 analog."""

    URI_DISTANCE = "/distance"

    def validate_input(self, request: dict) -> bool:
        _require_post_iris(request)
        return True

    @staticmethod
    def _pairs_frame(spark: SparkSession, iris: list[str]) -> DataFrame:
        """All i<j pairs in request order (processRequestParameters
        :106-111). The pair list is request-bounded (C(n,2) of a UI
        selection), built driver-side by construction, not by a data
        cartesian, and shipped as an Arrow LocalRelation (no Python
        worker per request)."""
        rows = [(a, b) for a, b in itertools.combinations(iris, 2)]
        return local_frame(spark, rows, "iri_a string, iri_b string")

    def distances_frame(
        self, triples: DataFrame, request: dict, n_buckets: int | None = None
    ) -> DataFrame:
        """(iri_a, iri_b, dist_m) for every i<j request pair, from the
        envelope centroids of the requested subjects' rows (scoped like
        CityInformationAgent.info_frame, by `bucket IN` too with the
        store's `n_buckets`).

        computeDistance:271-284 parity: centroids go through the metric
        CRS before measuring, and the final measure is JTS
        ``Coordinate.distance`` — 2D (x, y only). The store's coordinates
        are already in the database SRS (EPSG:25833, metric), so the
        findMathTransform(crs, metricCrs) leg is the identity here; for a
        geographic-SRS store route through ops.crs.transform_epsg_df first
        (the distance_epsg query exercises that leg)."""
        iris = _require_post_iris(request)
        pairs = self._pairs_frame(triples.sparkSession, iris)
        c = _envelope_centroids(_subjects(triples, iris, n_buckets))
        a = c.select(F.col("iri").alias("iri_a"), F.col("cx").alias("ax"), F.col("cy").alias("ay"))
        b = c.select(F.col("iri").alias("iri_b"), F.col("cx").alias("bx"), F.col("cy").alias("by"))
        return (
            pairs.join(F.broadcast(a), "iri_a")
            .join(F.broadcast(b), "iri_b")
            .select(
                "iri_a",
                "iri_b",
                F.round(
                    F.sqrt(
                        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
                    ),
                    6,
                ).alias("dist_m"),
            )
        )

    def writeback_frame(self, distances: DataFrame, base: str = DEFAULT_BASE) -> DataFrame:
        """getSetDistanceQuery analog: the OM-2 insert pattern for every
        computed pair (10 triples each, content-derived ids — P24 policy
        replaces the reference's UUIDs)."""
        from .ops import geo

        pairs = distances.withColumn(
            "pair_key", F.md5(F.concat_ws("|", "iri_a", "iri_b"))
        )
        return geo.distance_writeback_triples(pairs, "iri_a", "iri_b", "dist_m", base, "pair_key")

    def process_request_parameters(
        self,
        triples: DataFrame,
        request: dict,
        cached: DataFrame | None = None,
        n_buckets: int | None = None,
    ) -> dict:
        """Full contract: validate, reuse cached distances from the
        `distance` graph when present (getDistance:106-115 — the agent
        only computes pairs the store doesn't know), compute the rest,
        append KEY_DISTANCES in pair order."""
        self.validate_input(request)
        iris = list(request[KEY_IRIS])
        d = self.distances_frame(triples, request, n_buckets)
        if cached is not None:
            # cached: (iri_a, iri_b, dist_m) previously written back —
            # stored pairs win in either orientation (getDistance:106-115).
            sym = cached.union(
                cached.select(F.col("iri_b").alias("iri_a"), F.col("iri_a").alias("iri_b"), "dist_m")
            ).withColumnRenamed("dist_m", "stored")
            d = d.join(F.broadcast(sym), ["iri_a", "iri_b"], "left").select(
                "iri_a", "iri_b", F.coalesce("stored", "dist_m").alias("dist_m")
            )
        got = {(r["iri_a"], r["iri_b"]): r["dist_m"] for r in d.collect()}
        out = dict(request)
        out[KEY_DISTANCES] = [
            got.get((a, b), got.get((b, a))) for a, b in itertools.combinations(iris, 2)
        ]
        return out


# ---------------------------------------------------------------------------
# CityImportAgent
# ---------------------------------------------------------------------------

class CityImportAgent:
    """CityImportAgent.java:70-200 analog.

    The reference splits uploaded CityGML into 50-feature chunks and
    queues them through importer threads into Blazegraph. The Spark
    analog: the chunking is `fanout` repartitioning of the wholetext
    scan (each task parses its files), the importer pool is the Spark
    scheduler, and the sink is the bucketed manifest-tracked triple
    store (materialize.write_triples, or upsert_triples into a store that
    already holds an import) — resumable where the reference's queue is
    restartable."""

    URI_LISTEN = "/import/source"
    URI_ACTION = "/import/citygml"
    CHUNK_SIZE = 50  # features per import task (CityImportAgent.java:82)

    def __init__(self) -> None:
        self.watched_dirs: list[str] = []

    def validate_input(self, request: dict) -> bool:
        if not isinstance(request, dict) or not request:
            raise BadRequestException("empty request")
        keys = request.keys()
        if not (KEY_REQ_METHOD in keys and KEY_REQ_URL in keys and KEY_TARGET_URL in keys):
            raise BadRequestException("missing method/requestUrl/targetURL")
        if request[KEY_REQ_METHOD] != HTTP_POST:
            raise BadRequestException("method must be POST")
        req_url = _require_url(request[KEY_REQ_URL])
        _require_url(request[KEY_TARGET_URL])
        path = urlparse(req_url).path
        if self.URI_LISTEN in path:
            d = request.get(KEY_DIRECTORY)
            if not d or not os.path.isabs(str(d)):
                # validateListenInput:169-185 — absolute directory required
                raise BadRequestException("listen requires an absolute directory")
        elif self.URI_ACTION in path:
            w = request.get(KEY_WATCH)
            if not w or not os.path.isabs(str(w)):
                raise BadRequestException("action requires an absolute watch path")
        else:
            raise BadRequestException(f"unknown import route: {path}")
        return True

    def listen_to_import(self, directory: str) -> str:
        """URI_LISTEN branch: register the watched directory (the
        reference starts an AsynchronousWatcherService; here the caller
        polls import_files, or runs listen_stream for the always-on
        variant)."""
        if directory not in self.watched_dirs:
            self.watched_dirs.append(directory)
        return directory

    def listen_stream(
        self,
        spark: SparkSession,
        directory: str,
        out_dir: str,
        checkpoint_dir: str,
        base: str = DEFAULT_BASE,
        available_now: bool = True,
    ):
        """The AsynchronousWatcherService analog as Structured Streaming
        (CityImportAgent.listenToImport:238-264): a checkpointed file
        source tails the watched directory for raw CityGML drops, each
        micro-batch runs the SAME batch extraction plan, and restarts
        resume at the last committed batch — the streaming twin of the
        manifest resume in materialize.py. Returns the StreamingQuery
        (caller awaits termination; availableNow drains the backlog and
        stops, the agent's one-shot import)."""
        from .citygml import parse_citygml

        files = (
            spark.readStream.format("text")
            .option("wholetext", "true")
            .option("maxFilesPerTrigger", self.CHUNK_SIZE)
            .load(os.path.join(directory, "*.gml"))
        )
        docs = sources.docs_from_text(files, parse_citygml)
        triples = extract.extract_triples(spark, docs, base=base)
        writer = (
            triples.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self.listen_to_import(directory)
        return q

    def import_files(
        self,
        spark: SparkSession,
        watch: str,
        target_dir: str,
        base: str = DEFAULT_BASE,
    ) -> dict:
        """URI_ACTION branch: parse every CityGML file under `watch`,
        extract triples, bulk-load the bucketed store at `target_dir`, or
        upsert them into it when it already holds an import (features
        imported again replace their rows, new ones are added). Returns
        the servlet-shaped summary."""
        pattern = watch if watch.endswith(".gml") else os.path.join(watch, "*.gml")
        # parsed ONCE: the count fills the cache and the write reads it
        docs = sources.read_citygml(spark, pattern).persist()
        try:
            n_docs = docs.count()
            # 50-feature chunks -> fanout tasks (splitFile/CHUNK_SIZE analog)
            fanout = max(1, -(-n_docs // self.CHUNK_SIZE))
            triples = extract.extract_triples(spark, docs.repartition(fanout), base=base)
            if ParquetStoreAdapter(spark, target_dir).exists():
                materialize.upsert_triples(spark, triples, target_dir, input_snapshot=pattern)
            else:
                materialize.write_triples(spark, triples, target_dir, bucket_group=None)
        finally:
            docs.unpersist()
        return {"importedFiles": pattern, "nFeatures": n_docs, "nChunks": fanout}

    def process_request_parameters(self, spark: SparkSession, request: dict) -> dict:
        self.validate_input(request)
        out = dict(request)
        path = urlparse(request[KEY_REQ_URL]).path
        if self.URI_LISTEN in path:
            out["listening"] = self.listen_to_import(str(request[KEY_DIRECTORY]))
        else:
            out.update(
                self.import_files(
                    spark,
                    str(request[KEY_WATCH]),
                    urlparse(request[KEY_TARGET_URL]).path or request[KEY_TARGET_URL],
                )
            )
        return out


# ---------------------------------------------------------------------------
# ThematicSurfaceDiscoveryAgent
# ---------------------------------------------------------------------------

class ThematicSurfaceDiscoveryAgent:
    """ThematicSurfaceDiscoveryAgent.java:41-151 analog: classify a
    namespace's (or one building's) surface geometries ROOF/WALL/GROUND
    by normal orientation. The task itself is the A10 operator
    (geo.classify_surface, MultiSurfaceThematicisationTask parity); this
    layer is the request contract: method is **PUT** (:129), `namespace`
    is required, `cityObjectIRI` scopes to one building, `thresholdAngle`
    defaults to 5 degrees (:90), `mode` is one of footprint / validate /
    restructure (:132-135, default restructure)."""

    URI_LISTEN = "/discovery/thematicsurface"
    DEFAULT_THRESHOLD = 5.0  # degrees (:90)
    MODES = ("footprint", "validate", "restructure")

    def validate_input(self, request: dict) -> bool:
        if not isinstance(request, dict) or not request:
            raise BadRequestException("empty request")
        if request.get(KEY_REQ_METHOD) != "PUT":
            raise BadRequestException("method must be PUT")
        if "namespace" not in request:
            raise BadRequestException("missing namespace")
        _require_url(request["namespace"])
        if "cityObjectIRI" in request:
            _require_url(request["cityObjectIRI"])
        mode = request.get("mode", "restructure")
        if mode not in self.MODES:
            # the reference maps an unknown mode to null and errors (:135)
            raise BadRequestException(f"unknown mode: {mode}")
        if "thresholdAngle" in request:
            try:
                float(request["thresholdAngle"])
            except (TypeError, ValueError):
                raise BadRequestException("thresholdAngle must be numeric")
        return True

    def discover_frame(self, triples: DataFrame, request: dict) -> DataFrame:
        """restructure: (iri, surf_class) for every surface; footprint:
        GROUND surfaces only (the footprint-discovery mode); validate:
        per-class counts. Scoping to cityObjectIRI rides the surface
        rows' ocgml:cityObjectId back-reference."""
        from .ops import geo

        self.validate_input(request)
        theta = float(request.get("thresholdAngle", self.DEFAULT_THRESHOLD))
        sg = triples.where(F.col("graph") == "surfacegeometry")
        if "cityObjectIRI" in request:
            scoped = sg.where(
                (F.col("pred") == "ocgml:cityObjectId")
                & (F.col("obj") == request["cityObjectIRI"])
            ).select("subj").distinct()
            sg = sg.join(F.broadcast(scoped), "subj")
        g = sg.where(F.col("pred") == "ocgml:GeometryType").select(
            F.col("subj").alias("iri"), F.col("obj").alias("lit")
        )
        out = geo.classify_surface(g, "lit", theta_deg=theta).select("iri", "surf_class")
        mode = request.get("mode", "restructure")
        if mode == "footprint":
            return out.where(F.col("surf_class") == "GROUND")
        if mode == "validate":
            return out.groupBy("surf_class").agg(F.count("*").alias("n"))
        return out

    def process_request_parameters(self, triples: DataFrame, request: dict) -> dict:
        out = dict(request)
        rows = self.discover_frame(triples, request).collect()
        out["discovered"] = [r.asDict() for r in rows]
        return out


# ---------------------------------------------------------------------------
# UPRNAgent
# ---------------------------------------------------------------------------

class UPRNAgent:
    """UPRNAgent.java:40-100 analog: match address points (UPRNs) into
    building footprint polygons. The reference pulls candidate UPRNs from
    an external API per building envelope then runs point-in-polygon
    (UPRNTask.uprnIntersectsGeometry); here the caller supplies the point
    set (point_id, x, y) — the external-source seam — and the containment
    is the grid-blocked exact join (geo.point_in_polygon_join). Contract:
    method **PUT**, `namespace` required, optional `cityObjectIRI`."""

    URI_LISTEN = "/uprn"

    def validate_input(self, request: dict) -> bool:
        if not isinstance(request, dict) or not request:
            raise BadRequestException("empty request")
        if request.get(KEY_REQ_METHOD) != "PUT":
            raise BadRequestException("method must be PUT")
        if "namespace" not in request:
            raise BadRequestException("missing namespace")
        _require_url(request["namespace"])
        if "cityObjectIRI" in request:
            _require_url(request["cityObjectIRI"])
        return True

    def match_frame(self, triples: DataFrame, points: DataFrame, request: dict) -> DataFrame:
        """(point_id, poly_id) containment pairs; polygons are the
        namespace's surface geometries, optionally scoped to one
        building via the cityObjectId back-reference."""
        from .ops import geo

        self.validate_input(request)
        sg = triples.where(F.col("graph") == "surfacegeometry")
        if "cityObjectIRI" in request:
            scoped = sg.where(
                (F.col("pred") == "ocgml:cityObjectId")
                & (F.col("obj") == request["cityObjectIRI"])
            ).select("subj").distinct()
            sg = sg.join(F.broadcast(scoped), "subj")
        polys = sg.where(F.col("pred") == "ocgml:GeometryType").select(
            F.col("subj").alias("poly_id"), F.col("obj").alias("lit")
        )
        return geo.point_in_polygon_join(points, polys)


# ---------------------------------------------------------------------------
# CityExportAgent
# ---------------------------------------------------------------------------

class CityExportAgent:
    """CityExportAgent.java:45-205 analog: POST /export/kml with a
    namespace, a non-empty gmlid array, a displayform out of
    FOOTPRINT / EXTRUDED / GEOMETRY / COLLADA (:90, case-insensitive
    :188-189) and an lod in 0..5 (:199). Each display form delegates to
    the S8 exporters (ops.kml / ops.collada); scoping rides the surface
    rows' cityObjectId back-reference, so the corpus side stays one
    filtered scan with the request broadcast into it."""

    URI_ACTION = "/export/kml"
    DISPLAY_FORMS = ("FOOTPRINT", "EXTRUDED", "GEOMETRY", "COLLADA")

    def validate_input(self, request: dict) -> bool:
        if not isinstance(request, dict) or not request:
            raise BadRequestException("empty request")
        if request.get(KEY_REQ_METHOD) != HTTP_POST:
            raise BadRequestException("method must be POST")
        for k in (KEY_NAMESPACE, "gmlid", "displayform", "lod"):
            if k not in request:
                raise BadRequestException(f"missing {k}")
        _require_url(request[KEY_NAMESPACE])
        gmlids = request["gmlid"]
        if not isinstance(gmlids, (list, tuple)) or not gmlids:
            raise BadRequestException("gmlid must be a non-empty array")
        if str(request["displayform"]).upper() not in self.DISPLAY_FORMS:
            raise BadRequestException(f"invalid displayform: {request['displayform']}")
        try:
            lod = int(request["lod"])
        except (TypeError, ValueError):
            raise BadRequestException("lod must be an int")
        if not 0 <= lod <= 5:
            raise BadRequestException("lod must be in 0..5")
        return True

    def export_frame(self, triples: DataFrame, request: dict) -> DataFrame:
        """(gml_id, kml) per requested feature in the requested display
        form (COLLADA documents ride the same column name for a uniform
        response schema)."""
        from .ops import geo
        from .ops.collada import collada_geometry
        from .ops.kml import (
            kml_extruded_placemarks,
            kml_geometry_placemarks,
            kml_placemarks,
        )

        self.validate_input(request)
        ns = str(request[KEY_NAMESPACE]).rstrip("/")
        gmlids = [str(g) for g in request["gmlid"]]
        form = str(request["displayform"]).upper()
        spark = triples.sparkSession

        want = F.broadcast(
            local_frame(
                spark, [(g, f"{ns}/cityobject/{g}/") for g in gmlids], "gml_id string, co_iri string"
            )
        )
        sg = triples.where(F.col("graph") == "surfacegeometry")
        owner = (
            sg.where(F.col("pred") == "ocgml:cityObjectId")
            .select("subj", F.col("obj").alias("co_iri"))
            .join(want, "co_iri")
            .select("subj", "gml_id")
        )
        g = (
            sg.where(F.col("pred") == "ocgml:GeometryType")
            .join(F.broadcast(owner), "subj")
            .select("gml_id", F.col("obj").alias("lit"))
        )
        if form == "FOOTPRINT":
            return kml_placemarks(g, "gml_id", "lit").select("gml_id", "kml")
        if form == "EXTRUDED":
            bldg = F.broadcast(
                local_frame(
                    spark, [(x, f"{ns}/building/{x}/") for x in gmlids], "gml_id string, b_iri string"
                )
            )
            h = (
                triples.where(F.col("graph") == "building")
                .where(F.col("pred") == "ocgml:measuredHeigh")  # sic — load-bearing typo
                .join(bldg, F.col("subj") == F.col("b_iri"))
                .select("gml_id", F.col("obj").alias("height"))
            )
            return kml_extruded_placemarks(
                g.join(F.broadcast(h), "gml_id"), "gml_id", "lit", "height"
            ).select("gml_id", "kml")
        if form == "GEOMETRY":
            c = geo.classify_surface(g, "lit").withColumn(
                "surf_type",
                F.expr(
                    "CASE surf_class WHEN 'ROOF' THEN 'RoofSurface' "
                    "WHEN 'GROUND' THEN 'GroundSurface' ELSE 'WallSurface' END"
                ),
            )
            return kml_geometry_placemarks(c, "gml_id", "lit", "surf_type").select("gml_id", "kml")
        return collada_geometry(g, "gml_id", "lit").select(
            "gml_id", F.col("collada").alias("kml")
        )

    def process_request_parameters(self, triples: DataFrame, request: dict) -> dict:
        out = dict(request)
        out["exported"] = [r.asDict() for r in self.export_frame(triples, request).collect()]
        return out


# ---------------------------------------------------------------------------
# GraphInferenceAgent (InferenceAgent base contract)
# ---------------------------------------------------------------------------

ONINF_SCHEMA = "http://www.theworldavatar.com/ontologies/OntoInfer.owl#"


class GraphInferenceAgent:
    """GraphInferenceAgent / InferenceAgent.java:44-122 analog: POSTed
    requests select a graph algorithm by IRI and the agent writes
    OntoInfer triples back. validateInput requires method POST,
    requestUrl containing /inference/graph, and targetIRI + algorithmIRI
    + ontologyIRI all IRI-parsable (:97-122); the shortest-path algorithm
    additionally needs sourceIRI. Algorithms map onto the already-oracled
    G1-G3 operators (ops.graph)."""

    URI_ACTION = "/inference/graph"
    ALGO_PAGERANK = ONINF_SCHEMA + "PageRankAlgorithm"
    ALGO_EDGE_BETWEENNESS = ONINF_SCHEMA + "EdgeBetweennessAlgorithm"
    ALGO_SHORTEST_PATH = ONINF_SCHEMA + "UnweightedShortestPathAlgorithm"

    def validate_input(self, request: dict) -> bool:
        if not isinstance(request, dict) or not request:
            raise BadRequestException("empty request")
        keys = request.keys()
        need = (KEY_REQ_METHOD, KEY_REQ_URL, "targetIRI", "algorithmIRI", "ontologyIRI")
        if not all(k in keys for k in need):
            raise BadRequestException("missing inference request keys")
        if request[KEY_REQ_METHOD] != HTTP_POST:
            raise BadRequestException("method must be POST")
        req_url = _require_url(request[KEY_REQ_URL])
        if self.URI_ACTION not in urlparse(req_url).path:
            raise BadRequestException("requestUrl must target /inference/graph")
        for k in ("targetIRI", "algorithmIRI", "ontologyIRI", "sourceIRI", "destinationIRI"):
            if k in request:
                _require_url(request[k])
        if request["algorithmIRI"] == self.ALGO_SHORTEST_PATH and "sourceIRI" not in request:
            raise BadRequestException("shortest path requires sourceIRI")
        return True

    def infer_frame(self, triples: DataFrame, request: dict) -> DataFrame:
        """(id, value) scores for the requested algorithm over the link
        graph of the target store."""
        from .ops import graph

        self.validate_input(request)
        edges = graph.triples_to_edges(triples)
        algo = request["algorithmIRI"]
        if algo == self.ALGO_PAGERANK:
            return graph.pagerank(edges, max_iter=8, tol=0.0).select(
                "id", F.round("rank", 8).alias("value")
            )
        if algo == self.ALGO_EDGE_BETWEENNESS:
            return graph.edge_betweenness(edges).select(
                F.concat_ws("|", "src", "dst").alias("id"),
                F.round("betweenness", 6).alias("value"),
            )
        if algo == self.ALGO_SHORTEST_PATH:
            return graph.shortest_paths(edges, request["sourceIRI"]).select(
                F.col("id"), F.col("dist").cast("double").alias("value")
            )
        raise BadRequestException(f"unknown algorithmIRI: {algo}")

    def writeback_frame(self, scores: DataFrame, algo_class: str, base: str = DEFAULT_BASE) -> DataFrame:
        """OntoInfer insert pattern: 3 triples per scored node —
        hasInferenceObject / hasInferenceAlgorithm <algo class> /
        hasInferredValue (PageRankTask.prepareUpdate:153-166; inference
        ids content-derived per the P24 policy, not UUIDs)."""
        inf = F.concat(F.lit(f"{base}/ontoinfer/INF_"), F.md5("id"), F.lit("/"))
        rows = F.array(
            F.struct(inf.alias("subj"), F.lit("oninf:hasInferenceObject").alias("pred"),
                     F.col("id").alias("obj"), F.lit("iri").alias("obj_type")),
            F.struct(inf.alias("subj"), F.lit("oninf:hasInferenceAlgorithm").alias("pred"),
                     F.lit(algo_class).alias("obj"), F.lit("iri").alias("obj_type")),
            F.struct(inf.alias("subj"), F.lit("oninf:hasInferredValue").alias("pred"),
                     F.col("value").cast("string").alias("obj"), F.lit("literal").alias("obj_type")),
        )
        return (
            scores.select(F.explode(rows).alias("t"))
            .select("t.subj", "t.pred", "t.obj", "t.obj_type")
            .withColumn("graph", F.lit("ontoinfer"))
        )

    def process_request_parameters(self, triples: DataFrame, request: dict) -> dict:
        self.validate_input(request)
        scores = self.infer_frame(triples, request)
        wb = self.writeback_frame(scores, request["algorithmIRI"])
        out = dict(request)
        out["inferred"] = wb.count() // 3  # nodes scored (3 triples each)
        return out


class OntologyInferenceAgent(GraphInferenceAgent):
    """OntologyInferenceAgent.java:16-31 + InferenceAgent task constants
    :62-71 analog: POST /inference/ontology with the same
    targetIRI/algorithmIRI/ontologyIRI contract; the algorithm IRI's
    fragment selects one of the OWL checking task families (the
    reference resolves algorithm -> task through the OntoInfer
    `appliedBy` edge in the KG; the mapping here is the same names in
    code). Each task is the already-oracled G5 operator with the synth
    corpus's default TBox axioms — a deployment swaps the axiom lists
    for its own ontology's (the ops take them as plain arguments)."""

    URI_ACTION = "/inference/ontology"

    #: algorithm-IRI fragment -> InferenceAgent TASK_* constant
    TASKS = {
        "ConsistencyCheckingAlgorithm": "ConsistencyCheckingTask",
        "ClassMembershipCheckingAlgorithm": "ClassMembershipCheckingTask",
        "ClassSpecialisationCheckingAlgorithm": "ClassSpecialisationCheckingTask",
        "ClassDisjointnessCheckingAlgorithm": "ClassDisjointnessCheckingTask",
        "PropertyCheckingAlgorithm": "PropertyCheckingTask",
        "ValueRestrictionCheckingAlgorithm": "ValueRestrictionCheckingTask",
        "CardinalityRestrictionCheckingAlgorithm": "CardinalityRestrictionCheckingTask",
    }

    def infer_frame(self, triples: DataFrame, request: dict) -> DataFrame:
        from .ops import owl

        self.validate_input(request)
        spark = triples.sparkSession
        frag = str(request["algorithmIRI"]).rsplit("#", 1)[-1]
        task = self.TASKS.get(frag)
        if task is None:
            raise BadRequestException(f"unknown ontology algorithmIRI: {frag}")
        if task == "ClassMembershipCheckingTask":
            return owl.class_membership(spark, triples)
        if task == "ClassSpecialisationCheckingTask":
            return owl.specialisation(spark)
        if task == "ClassDisjointnessCheckingTask":
            return owl.disjoint_class_violations(spark, triples, [("26", "21")])
        if task == "PropertyCheckingTask":
            return owl.range_check_summary(
                spark, triples,
                [("ocgml:buildingId", "building"), ("ocgml:cityObjectId", "cityobject")],
            )
        if task == "ValueRestrictionCheckingTask":
            return owl.value_restriction_violations(
                spark, triples, [("building", "ocgml:storeysAboveGround", 1.0, 20.0)]
            )
        if task == "CardinalityRestrictionCheckingTask":
            return owl.cardinality_violations(
                spark, triples, [("thematicsurface", "ocgml:lod2MultiSurfaceId")]
            )
        parts = {
            "min_cardinality": owl.cardinality_violations(
                spark, triples, [("thematicsurface", "ocgml:lod2MultiSurfaceId")]
            ),
            "domain": owl.domain_violations(spark, triples, [("ocgml:buildingId", "addresstobuilding")]),
            "disjoint": owl.disjoint_class_violations(spark, triples, [("26", "21")]),
            "value_restriction": owl.value_restriction_violations(
                spark, triples, [("building", "ocgml:storeysAboveGround", 1.0, 20.0)]
            ),
            "max_cardinality": owl.max_cardinality_violations(
                spark, triples, "cityobjectgenericattrib", "ocgml:cityObjectId", 1
            ),
        }
        return owl.consistency_summary(parts)

    def process_request_parameters(self, triples: DataFrame, request: dict) -> dict:
        """InferenceAgent:154-164 response shape: {taskIRI: result|'started'}.
        The checking tasks are result-queue tasks, so the (bounded)
        summary rows come back inline."""
        self.validate_input(request)
        frag = str(request["algorithmIRI"]).rsplit("#", 1)[-1]
        task_iri = ONINF_SCHEMA + self.TASKS.get(frag, "")
        rows = self.infer_frame(triples, request).collect()
        out = dict(request)
        out[task_iri] = [r.asDict() for r in rows]
        return out


# ---------------------------------------------------------------------------
# Routing + HTTP surface
# ---------------------------------------------------------------------------

def dispatch(
    spark: SparkSession,
    triples: DataFrame,
    route: str,
    request: dict,
    method: str = HTTP_POST,
    registry: StoreRegistry | None = None,
) -> dict:
    """Route a request the way the servlet container does (urlPatterns).
    Import requests route on their own requestUrl; PUT routes (thematic
    surface discovery, UPRN) keep the reference's method choice.

    With a `registry`, the store is resolved from the request itself —
    the first iri's namespace, or the `namespace` key — before the agent
    runs (the reference's AccessAgentMapping route step); an unregistered
    namespace keeps the default `triples`, mirroring the reference's
    null -> keep-current-route behavior. A resolved store's recorded
    bucket count goes to the info and distance agents, which read only
    the requested subjects' buckets."""
    request = dict(request)
    request.setdefault(KEY_REQ_METHOD, method)
    n_buckets = None
    if registry is not None:
        probe = None
        iris = request.get(KEY_IRIS)
        if isinstance(iris, (list, tuple)) and iris:
            probe = str(iris[0])
        elif request.get(KEY_NAMESPACE):
            ep = str(request[KEY_NAMESPACE]).rstrip("/")
            probe = ep + "/cityobject/X/"  # endpoint given directly: pad 2 segments
        if probe is not None and registry.target_resource_id(probe) is not None:
            triples, n_buckets = registry.lookup(probe)
    if route == CityInformationAgent.URI:
        return CityInformationAgent().process_request_parameters(
            triples, request, n_buckets=n_buckets
        )
    if route == DistanceAgent.URI_DISTANCE:
        return DistanceAgent().process_request_parameters(
            triples, request, n_buckets=n_buckets
        )
    if route == ThematicSurfaceDiscoveryAgent.URI_LISTEN:
        return ThematicSurfaceDiscoveryAgent().process_request_parameters(triples, request)
    if route == UPRNAgent.URI_LISTEN:
        # the external UPRN source arrives inline: [{point_id, x, y}, ...]
        agent = UPRNAgent()
        agent.validate_input(request)
        pts = request.get("points") or []
        points = local_frame(
            spark, [(str(p["point_id"]), float(p["x"]), float(p["y"])) for p in pts],
            "point_id string, x double, y double",
        )
        out = dict(request)
        out["matches"] = [r.asDict() for r in agent.match_frame(triples, points, request).collect()]
        return out
    if route == CityExportAgent.URI_ACTION:
        return CityExportAgent().process_request_parameters(triples, request)
    if route == GraphInferenceAgent.URI_ACTION:
        request.setdefault(KEY_REQ_URL, f"http://localhost{route}")
        return GraphInferenceAgent().process_request_parameters(triples, request)
    if route == OntologyInferenceAgent.URI_ACTION:
        request.setdefault(KEY_REQ_URL, f"http://localhost{route}")
        return OntologyInferenceAgent().process_request_parameters(triples, request)
    if route in (CityImportAgent.URI_LISTEN, CityImportAgent.URI_ACTION):
        request.setdefault(KEY_REQ_URL, f"http://localhost{route}")
        return CityImportAgent().process_request_parameters(spark, request)
    raise BadRequestException(f"unknown route: {route}")


def serve(
    spark: SparkSession,
    triples: DataFrame,
    host: str = "127.0.0.1",
    port: int = 0,
    registry: StoreRegistry | None = None,
):
    """Minimal servlet-container analog: a ThreadingHTTPServer whose POST
    handler parses the JSON body, injects `method`, dispatches on the
    path, and echoes the mutated request back as JSON (HTTP 400 on
    BadRequestException). Returns the started server; `server.server_port`
    is the bound port, `server.shutdown()` stops it. Spark drivers are
    thread-safe for job submission, so concurrent requests just become
    concurrent jobs on the shared SparkSession."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def _handle(self, method):
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                body[KEY_REQ_METHOD] = method
                result = dispatch(
                    spark, triples, self.path, body, method=method, registry=registry
                )
                payload = json.dumps(result).encode()
                self.send_response(200)
            except BadRequestException as exc:
                payload = json.dumps({"error": str(exc)}).encode()
                self.send_response(400)
            except Exception as exc:  # noqa: BLE001 — servlet 500 analog
                payload = json.dumps({"error": repr(exc)}).encode()
                self.send_response(500)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):  # noqa: N802 (BaseHTTPRequestHandler contract)
            self._handle(HTTP_POST)

        def do_PUT(self):  # noqa: N802 — TSD/UPRN servlets accept PUT
            self._handle("PUT")

        def log_message(self, *args):  # keep pytest output clean
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
