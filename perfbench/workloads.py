"""The workloads. Each run repeats one cycle of the paper's pipeline on a
fresh store:

    ingest -> upsert a 50-building batch -> burst -> compact

where the burst of agent requests follows a fresh resolve of the store.

The first cycle warms the JVM, Spark's code generation and the Python
workers up with an ingest and a one-request burst; it is checked but not
measured, and skips the upsert and the compaction so that a run fits its
time budget. Then come at least `cycles` measured cycles, and more while
they fit in `--seconds`. `import` ingests
the synthetic interleaved corpus through pipeline.build_triples,
canonicalization and materialize.write_triples; `citygml` ingests generated
CityGML tiles through the CityImportAgent route.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time
from datetime import datetime

from pyspark.sql import functions as F

from citykg import agents, canon, extract, link, materialize, pipeline, sources
from citykg.fixtures import synth_docs, synth_gazetteer
from citykg.schema import DOC_SCHEMA
from citykg.store import ParquetStoreAdapter
from citykg.vocab import DEFAULT_BASE

import oracle
from citygml_gen import CityGMLSet
from harness import LAYERS, job_metrics, sum_jobs, tree_cpu_s
from templates import expand, graph_counts

ENDPOINT = DEFAULT_BASE + "/"
BATCH = agents.CityImportAgent.CHUNK_SIZE  # buildings per upsert batch
CLIENTS = 2
RADIUS = 80.0  # metres, distance-filter requests
COMPACT_GROUP = 256  # partitions per compaction group: one group per cycle

# Per-workload sizes (`requests` is per burst). `import` writes 2 buckets,
# not pipeline.run's 64, so
# that a run fits its time budget on 4 CPUs (see NOTES.md); the CityGML
# agent always writes with the library default of 64.
SIZES = {
    "import": dict(docs=120, buckets=2, requests=6, setups=3, cycles=1),
    "citygml": dict(buildings=50, requests=6, setups=3, cycles=1),
}
WARMUP_REQUESTS = 1  # per burst


class Run:
    """State and measurements shared by the cycles of one workload run."""

    def __init__(self, spark, tracer, work: str, seed: int, name: str, sizes: dict):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.name, self.sizes = name, sizes
        self.rng = random.Random(f"{name}-{seed}")
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        self.t0 = 0.0  # start of the measured cycles
        self.deadline_s = 0  # measured cycles continue while they fit in t0 + deadline_s
        self.cycles = 0  # cycles started, the warm-up included
        self.measuring = False
        self.first_span = 0  # first span of the measured cycles
        self.trace_last = False  # traced run: one measured cycle, traced
        self.force_s = 0.0  # traced cycle: time in the boundary counts tracing adds
        self.cycle_marks: list[float] = []  # start of each measured cycle, then the end
        self.store = ""
        self.triples = None
        self.registry = None
        self.expected: oracle.ExpectedStore | None = None
        self.building_iris: list[str] = []
        self.issued = 0  # requests generated so far
        self.layer_counts: dict[str, float] = {}
        self.setup_cpu: list[float] = []
        self._reset()

    def _reset(self) -> None:
        """Measurements, one entry per measured cycle unless noted."""
        self.ingest: list[tuple[float, float, int, int]] = []  # (wall, cpu, units, triples)
        self.bytes_per_triple: list[float] = []
        self.write_parts: tuple = ()  # first cycle's (partitions, files, max files)
        self.upsert_walls: list[float] = []
        self.upsert_cpu: list[float] = []
        self.compact_walls: list[float] = []
        self.compact_cpu: list[float] = []
        self.compacted: list[int] = []
        self.rewritten: list[int] = []
        self.write_amp: list[float] = []
        self.open_ms: list[float] = []  # per reopen
        self.latency: dict[str, list[float]] = {"info": [], "distance": [], "filter": []}
        self.burst_wall = 0.0
        self.burst_cpu = 0.0
        self.n_requests = 0
        self.rows_returned = 0
        self.agent_imports: list[int] = []  # span ids of CityGML agent imports

    def check(self, failures: list[str]) -> None:
        """Record one checked operation."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    def force(self, df):
        """Traced runs force each layer's output at its boundary."""
        if not self.tracer.traced:
            return df, None
        t0 = time.perf_counter()
        df = df.persist()
        n = df.count()
        self.force_s += time.perf_counter() - t0
        return df, n

    @property
    def measured(self) -> int:
        return max(self.cycles - 1, 0)

    def next_cycle(self) -> bool:
        """Start the next cycle, if any: the warm-up, then at least
        sizes['cycles'] measured ones, then more while they fit. A traced
        run measures one cycle, traced."""
        now = time.perf_counter()
        if self.cycles == 1:
            self._reset()
            self.measuring = True
            self.t0 = now
            self.first_span = len(self.tracer.spans)
            self.tracer.traced = self.trace_last
        if self.measuring:
            self.cycle_marks.append(now)
        if self.trace_last:
            ok = self.measured < 1
        elif self.measured < self.sizes["cycles"]:
            ok = True
        else:
            ok = (now - self.t0) * (self.measured + 1) / self.measured <= self.deadline_s
        if ok:
            if self.store:
                shutil.rmtree(self.store, ignore_errors=True)
            self.store = os.path.join(self.work, f"store-{self.cycles}")
            self.cycles += 1
        return ok

    def ingested(self, wall: float, cpu: float, units: int, triples: int) -> None:
        self.ingest.append((wall, cpu, units, triples))
        self.bytes_per_triple.append(store_bytes(self.store) / triples)
        if not self.write_parts:
            self.write_parts = _partition_stats(self.store)

    # -- store access ----------------------------------------------------------
    def reopen(self) -> None:
        """Resolve the store through a fresh registry: a resolved frame pins
        a file listing that goes stale after a write (NOTES.md, defect 1)."""
        self.registry = agents.StoreRegistry(self.spark)
        self.registry.register(ENDPOINT, store_dir=self.store)
        t0 = time.perf_counter()
        with self.tracer.span("store"):
            self.triples = self.registry.resolve(ENDPOINT + "cityobject/X/")
        self.open_ms.append((time.perf_counter() - t0) * 1000)

    # -- agent burst -------------------------------------------------------------
    def requests(self, n: int, recent: list[str]) -> list[tuple[str, dict]]:
        """Info, distance and distance-filter requests in rotation; every
        other triple of requests asks about the buildings just upserted."""
        out = []
        for _ in range(n):
            i = self.issued
            self.issued += 1
            pool = recent if recent and (i // 3) % 2 == 0 else self.building_iris
            kind = ("info", "distance", "filter")[i % 3]
            req = {"iris": self.rng.sample(pool, {"info": 2, "distance": 3, "filter": 1}[kind])}
            if kind == "filter":
                req["searchDistance"] = RADIUS
            out.append((kind, req))
        return out

    def burst(self, recent: list[str]) -> None:
        """Closed loop: CLIENTS threads, each sends its next request when
        the previous one has returned."""
        todo = self.requests(self.sizes["requests"] if self.measuring else WARMUP_REQUESTS,
                             recent)
        results: list = []
        lock = threading.Lock()
        c0 = tree_cpu_s()
        with self.tracer.span("agents") as rec:
            group = f"span-{rec['id']}"

            def client():
                with self.tracer.span("agents", group=group):
                    while True:
                        with lock:
                            if not todo:
                                return
                            kind, req = todo.pop(0)
                        route = "/distance" if kind == "distance" else "/cityobjectinformation"
                        t0 = time.perf_counter()
                        try:
                            resp = agents.dispatch(self.spark, self.triples, route, req,
                                                   registry=self.registry)
                            err = None
                        except Exception as e:  # noqa: BLE001 — a failed request is counted
                            resp, err = None, f"{kind} request failed: {type(e).__name__}: {e}"
                        with lock:
                            results.append((kind, req, resp, err, time.perf_counter() - t0))

            threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        self.burst_cpu += tree_cpu_s() - c0
        self.burst_wall += rec["end"] - rec["start"]
        with self.tracer.span("check"):
            for kind, req, resp, err, lat in results:
                self.n_requests += 1
                self.latency[kind].append(lat)
                if resp is not None:
                    self.rows_returned += _rows_returned(kind, resp)
                msg = err or oracle.check_answer(self.expected, kind, req, resp)
                self.check([msg] if msg else [])

    # -- maintenance -------------------------------------------------------------
    def upsert(self, docs_df, batch_rows: dict[str, list[tuple]]) -> None:
        """Re-import one batch through extract -> upsert_triples, then check
        that its subjects carry only the batch's values."""
        before = set(oracle.store_files(self.store))
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with self.tracer.span("extract"):
            batch, _ = self.force(extract.extract_triples(self.spark, docs_df))
        with self.tracer.span("materialize.upsert"):
            materialize.upsert_triples(self.spark, batch, self.store,
                                       n_buckets=self.sizes.get("buckets", materialize.DEFAULT_BUCKETS),
                                       input_snapshot="batch")
        self.upsert_walls.append(time.perf_counter() - t0)
        self.upsert_cpu.append(tree_cpu_s() - c0)
        self.spark.catalog.clearCache()
        with self.tracer.span("check"):
            new = [p for p in oracle.store_files(self.store) if p not in before]
            self.rewritten.append(len({os.path.dirname(p) for p in new}))
            rows = [r for rs in batch_rows.values() for r in rs]
            self.write_amp.append(_rows(new) / len(rows))
            n_diff = oracle.diff_subject_rows(self.store, rows)
            self.check([f"upsert: batch subjects differ from the batch in {n_diff} rows"]
                       if n_diff else [])
        self.expected.apply({s: [(r[1], r[2]) for r in rs if r[5] == "cityobject"]
                             for s, rs in batch_rows.items() if "/cityobject/" in s})

    def compact(self) -> None:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with self.tracer.span("materialize.compact"):
            done = materialize.compact_store(self.spark, self.store, bucket_group=COMPACT_GROUP)
        self.compact_walls.append(time.perf_counter() - t0)
        self.compact_cpu.append(tree_cpu_s() - c0)
        self.compacted.append(len(done))
        with self.tracer.span("check"):
            parts = ParquetStoreAdapter(self.spark, self.store).list_partitions()
            multi = [p for p in parts if p[2] != 1]
            self.check([f"compaction left {len(multi)} partitions without exactly one file"]
                       if multi else [])

    def maintain(self, docs_df, batch_rows: dict, recent: list[str], after_write) -> None:
        """The rest of every cycle after ingest: the upsert, reads of the
        upserted store, then the compaction. The warm-up cycle only reads."""
        if self.measuring:
            self.upsert(docs_df, batch_rows)
            after_write()
        self.reopen()
        self.burst(recent)
        if self.measuring:
            self.compact()
            after_write()


# -- helpers ------------------------------------------------------------------------

def _rows_returned(kind: str, resp: dict) -> int:
    if kind == "info":
        return sum(len(e["attributes"]) for e in resp["cityobjectinformation"])
    if kind == "distance":
        return len(resp["distances"])
    return len(resp["distanceFilter"])


def _rows(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def store_bytes(store: str) -> int:
    return sum(os.path.getsize(p) for p in oracle.store_files(store))


def _partition_stats(store: str) -> tuple[int, int, int]:
    """(partitions, files, max files in one partition)."""
    per: dict[str, int] = {}
    for p in oracle.store_files(store):
        per[os.path.dirname(p)] = per.get(os.path.dirname(p), 0) + 1
    return len(per), sum(per.values()), max(per.values(), default=0)


def stage_documents(path: str, seed: int, n: int) -> None:
    """The synthetic corpus's `documents` table: n seeded doc ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted(random.Random(f"docs-{seed}").sample(range(10_000_000), n))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "source": [f"src{d % 7}" for d in ids]}),
                   os.path.join(path, "documents.parquet"))


def synth_batch(spark, rng: random.Random, ids: list[int], version: int):
    """A 50-building re-import batch over existing corpus buildings: docs
    carrying one building span each, and the rows the batch must leave."""
    docs, rows, recent = [], {}, []
    for d in sorted(rng.sample(ids, BATCH)):
        x0, y0 = 384000 + rng.randrange(0, 1000), 5820000 + rng.randrange(0, 2000)
        z0, h = 30 + rng.randrange(0, 10), 4 + version
        ring = [(x0, y0, z0), (x0 + 9, y0, z0), (x0 + 9, y0 + 8, z0 + h),
                (x0, y0 + 8, z0 + h), (x0, y0, z0)]
        gid = f"BLDG_{d:08d}"
        attrs = {
            "gmlId": gid, "name": f"Rebuilt {version} {d % 100}", "description": "resurvey",
            "class": str(d % 10), "function": str(1000 + (d + version) % 7),
            "usage": str(2000 + d % 5), "yearOfConstruction": str(2000 + version),
            "roofType": str(1 + (d + version) % 5), "measuredHeight": f"{h}.5",
            "storeysAboveGround": str(1 + version), "storeysBelowGround": "0",
            "creationDate": "2014-07-08T00:00Z", "lastModificationDate": "2026-02-01T00:00Z",
            "updatingPerson": "perfbench", "lineage": f"batch:{version}",
            "envelope": "#".join(str(c) for p in ring for c in p),
        }
        text = ";".join(f"{k}={v}" for k, v in attrs.items())
        docs.append((f"doc_{d:08d}", [("building", text, "", 0)]))
        for r in expand("building", attrs):
            rows.setdefault(r[0], []).append(r)
        recent.append(f"{DEFAULT_BASE}/cityobject/{gid}/")
    return spark.createDataFrame(docs, DOC_SCHEMA), rows, recent


# -- workloads ----------------------------------------------------------------------

def setup_import(run: Run, n_docs: int) -> str:
    """Stage the corpus: documents table -> synth_docs -> parquet."""
    corpus = os.path.join(run.work, "corpus")
    shutil.rmtree(corpus, ignore_errors=True)
    stage_documents(corpus, run.seed, n_docs)
    synth_docs(run.spark, corpus).write.mode("overwrite").parquet(os.path.join(corpus, "docs"))
    return corpus


def import_corpus(run: Run, corpus: str, store: str, n_buckets: int) -> None:
    """extract -> link -> canon -> materialize, as pipeline.run composes it
    plus the canonicalization step."""
    spark = run.spark
    gaz = synth_gazetteer(spark)
    c = run.layer_counts
    with run.tracer.span("sources"):
        docs, n = run.force(sources.read_docs_parquet(spark, os.path.join(corpus, "docs")))
        if n is not None:
            c["sources.features"] = n
    with run.tracer.span("extract"):
        _, n = run.force(extract.extract_triples(spark, docs))
        if n is not None:
            c["extract.triples"] = n
    with run.tracer.span("link"):
        linked, n = run.force(link.link_exact(link.entity_mentions(docs), gaz))
        if n is not None:
            c["link.mentions"] = n
            c["link.link_ratio"] = linked.where(F.col("entity_id").isNotNull()).count() / n
    with run.tracer.span("canon"):
        member = F.concat(F.lit(DEFAULT_BASE + "/address/ADDR_"),
                          F.expr("substring(doc_id, 5)"), F.lit("/"))
        groups = linked.where(F.col("entity_id").isNotNull()).select(
            "entity_id", member.alias("member"))
        edges, n = run.force(canon.same_as_edges(groups, "entity_id", "member"))
        if n is not None:
            c["canon.edges"] = n
        cmap, n = run.force(canon.canonical_map(canon.connected_components(edges)))
        if n is not None:
            c["canon.map_rows"] = n
    with run.tracer.span("materialize.write"):
        triples = pipeline.build_triples(spark, docs, gazetteer=gaz)
        materialize.write_triples(spark, canon.canonicalize_triples(triples, cmap), store,
                                  n_buckets=n_buckets)
    spark.catalog.clearCache()


def _timed_setups(run: Run, setup) -> list[float]:
    walls = []
    for _ in range(run.sizes["setups"]):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        setup()
        walls.append(time.perf_counter() - t0)
        run.setup_cpu.append(tree_cpu_s() - c0)
    return walls


def run_import(run: Run) -> list[float]:
    import pyarrow.parquet as pq

    s = run.sizes
    corpus = os.path.join(run.work, "corpus")
    setups = _timed_setups(run, lambda: setup_import(run, s["docs"]))
    with run.tracer.span("check"):
        ids = pq.read_table(os.path.join(corpus, "documents.parquet")).column("doc_id").to_pylist()
        want = oracle.ImportOracle(corpus, s["buckets"])
    run.building_iris = sorted(want.buildings)
    while run.next_cycle():
        t0, c0 = time.perf_counter(), tree_cpu_s()
        import_corpus(run, corpus, run.store, s["buckets"])
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        with run.tracer.span("check"):
            run.check(want.check(run.store, run.rng.randrange(s["buckets"])))
        run.ingested(wall, cpu, s["docs"], want.total)
        run.expected = oracle.ExpectedStore(want.buildings)
        docs_df, rows, recent = synth_batch(run.spark, run.rng, ids, run.cycles)
        total = (want.total - sum(want.per_subject[x] for x in rows)
                 + sum(len(v) for v in rows.values()))

        def balance():
            with run.tracer.span("check"):
                got = oracle.count_rows(run.store)
                run.check([f"store holds {got} rows, expected {total}"] if got != total else [])

        run.maintain(docs_df, rows, recent, balance)
    want.close()
    return setups


def run_citygml(run: Run) -> list[float]:
    s = run.sizes
    tiles = os.path.join(run.work, "tiles")
    gml_bytes = 0

    def setup():
        nonlocal gml_bytes
        shutil.rmtree(tiles, ignore_errors=True)
        gml_bytes = CityGMLSet(run.seed, s["buildings"]).write(tiles)

    setups = _timed_setups(run, setup)
    run.layer_counts["sources.gml_bytes"] = gml_bytes
    while run.next_cycle():
        gen = CityGMLSet(run.seed, s["buildings"])
        want = graph_counts(gen.spans())
        store = run.store
        request = {"requestUrl": "http://localhost/import/citygml",
                   "targetURL": "file://" + store, "watch": tiles}
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with run.tracer.span("agents") as rec:
            resp = agents.dispatch(run.spark, None, agents.CityImportAgent.URI_ACTION, request)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        if run.measuring:
            run.agent_imports.append(rec["id"])
        with run.tracer.span("check"):
            got = oracle.graph_counts(store)
            fails = oracle.diff_counts(got, want, "citygml")
            if resp.get("nFeatures") != len(gen.features):
                fails.append(f"citygml: nFeatures {resp.get('nFeatures')} != "
                             f"{len(gen.features)} generated")
            run.check(fails)
        run.layer_counts["sources.features"] = resp.get("nFeatures", 0)
        if run.tracer.traced:
            with run.tracer.span("check"):
                rejects = sources.split_rejects(
                    sources.read_citygml(run.spark, os.path.join(tiles, "*.gml")))[1]
                run.layer_counts["sources.rejects"] = rejects.count()
        run.ingested(wall, cpu, len(gen.features), sum(got.values()))
        run.expected = oracle.ExpectedStore({
            f"{DEFAULT_BASE}/cityobject/{spans[0][1]['gmlId']}/":
                [(r[1], r[2]) for r in expand(*spans[0]) if r[5] == "cityobject"]
            for spans in gen.features.values()})
        run.building_iris = [f"{DEFAULT_BASE}/cityobject/{g}/" for g in gen.buildings]

        gids = sorted(run.rng.sample(gen.buildings, BATCH))
        path = os.path.join(run.work, "updates", f"cycle_{run.cycles}.gml")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(gen.update(gids, run.cycles + 1))
        rows: dict[str, list] = {}
        for g in gids:
            for row in expand(*gen.features[g][0]):
                rows.setdefault(row[0], []).append(row)

        def recount():
            with run.tracer.span("check"):
                run.check(oracle.diff_counts(oracle.graph_counts(run.store), want,
                                             "citygml upsert"))

        run.maintain(sources.read_citygml(run.spark, path), rows,
                     [f"{DEFAULT_BASE}/cityobject/{g}/" for g in gids], recount)
    return setups


WORKLOADS = {"import": run_import, "citygml": run_citygml}


# -- metrics ------------------------------------------------------------------------

def end_to_end(run: Run, session_cpu: float, rss_mb: float) -> dict:
    """The end-to-end metrics; medians over the run's cycles. Times are CPU
    seconds of the whole process tree less JIT compilation (tree_cpu_s):
    on a shared host a run's wall times swing far more than its CPU times
    (NOTES.md). On `citygml` a doc is a CityGML feature. Set-up is the Spark
    session's start plus the median of the run's input stagings."""
    med = statistics.median
    return {
        "setup_s": (session_cpu + med(run.setup_cpu), "s"),
        "docs_per_cpu_s": (med(u / c for _, c, u, _ in run.ingest), "docs/cpu_s"),
        "triples_per_cpu_s": (med(t / c for _, c, _, t in run.ingest), "triples/cpu_s"),
        "upsert_cpu_s": (med(run.upsert_cpu), "s"),
        "compact_cpu_s": (med(run.compact_cpu), "s"),
        "query_cpu_ms": (1000 * run.burst_cpu / run.n_requests, "ms"),
        "store_bytes_per_triple": (med(run.bytes_per_triple), "bytes"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def wall_clock(run: Run, session_s: float, setups: list[float]) -> dict:
    """The same operations in wall-clock time, for the run record: what a
    user waits, but too dependent on the host's load to gate on."""
    med = statistics.median
    return {
        "setup_s": session_s + med(setups),
        "docs_per_s": med(u / w for w, _, u, _ in run.ingest),
        "triples_per_s": med(t / w for w, _, _, t in run.ingest),
        "upsert_s": med(run.upsert_walls),
        "compact_s": med(run.compact_walls),
        "query_ms": 1000 * statistics.fmean(med(v) for v in run.latency.values()),
        "queries_per_s": run.n_requests / run.burst_wall,
    }


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def per_layer(run: Run) -> dict:
    """Traced run: the common set per layer over the traced cycle, plus
    layer-specific counts (medians over the measured cycles)."""
    tr = run.tracer
    traced_wall = run.cycle_marks[1] - run.cycle_marks[0]
    selfs = tr.self_times()
    groups = job_metrics(run.spark)
    layer_jobs: dict[str, list] = {layer: [] for layer in LAYERS}
    walls = dict.fromkeys(LAYERS, 0.0)
    check_s = 0.0
    for sp in tr.spans[run.first_span:]:
        if sp["layer"] == "check":
            check_s += selfs[sp["id"]]
        elif sp["layer"] in walls and not sp["member"]:
            walls[sp["layer"]] += selfs[sp["id"]]
            layer_jobs[sp["layer"]].extend(groups.get(f"span-{sp['id']}", []))
    # the CityGML agent import: its writes are materialize.write, the rest
    # of its Spark work (the GML parse) is sources
    scanned = 0
    for sid in (i for i in run.agent_imports if i >= run.first_span):
        jobs = groups.get(f"span-{sid}", [])
        layer_jobs["agents"] = [j for j in layer_jobs["agents"] if j not in jobs]
        scanned += sum(s.get("inputBytes", 0) for j in jobs for s in j["stages"])
        for j in jobs:
            layer = ("materialize.write" if any(s.get("outputBytes", 0) for s in j["stages"])
                     else "sources")
            layer_jobs[layer].append(j)
            if j.get("completionTime") and j.get("submissionTime"):
                dt = _ts(j["completionTime"]) - _ts(j["submissionTime"])
                walls[layer] += dt
                walls["agents"] -= dt
    m: dict[str, tuple] = {}
    for layer in LAYERS:
        common = sum_jobs(layer_jobs[layer])
        common["wall_s"] = walls[layer]
        for k, v in common.items():
            m[f"{layer}.{k}"] = (v, "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count")
    med = statistics.median
    c = run.layer_counts
    gml = c.get("sources.gml_bytes", 0) * (1 if run.agent_imports else 0)
    agent_jobs = layer_jobs["agents"]
    in_records = sum(s.get("inputRecords", 0) for j in agent_jobs for s in j["stages"])
    n_req, n_rows = run.n_requests, run.rows_returned
    m.update({
        "sources.features": (c.get("sources.features", 0), "count"),
        "sources.rejects": (c.get("sources.rejects", 0), "count"),
        "sources.read_amp": (scanned / gml if gml else 0.0, "ratio"),
        "extract.triples": (c.get("extract.triples", run.ingest[0][3]), "count"),
        "link.mentions": (c.get("link.mentions", 0), "count"),
        "link.link_ratio": (c.get("link.link_ratio", 0.0), "ratio"),
        "canon.edges": (c.get("canon.edges", 0), "count"),
        "canon.map_rows": (c.get("canon.map_rows", 0), "count"),
        "materialize.write.partitions": (run.write_parts[0], "count"),
        "materialize.write.files": (run.write_parts[1], "count"),
        "materialize.write.files_per_partition_max": (run.write_parts[2], "count"),
        "materialize.upsert.partitions_rewritten": (med(run.rewritten), "count"),
        "materialize.upsert.write_amp": (med(run.write_amp), "ratio"),
        "materialize.compact.partitions": (med(run.compacted), "count"),
        "materialize.compact.groups": (-(-med(run.compacted) // COMPACT_GROUP), "count"),
        "store.open_ms": (med(run.open_ms), "ms"),
        "store.files": (_partition_stats(run.store)[1], "count"),
        "agents.info_ms": (1000 * med(run.latency["info"]), "ms"),
        "agents.distance_ms": (1000 * med(run.latency["distance"]), "ms"),
        "agents.distance_filter_ms": (1000 * med(run.latency["filter"]), "ms"),
        "agents.jobs_per_request": (len(agent_jobs) / n_req, "count"),
        "agents.rows_scanned_per_row_returned": (in_records / max(n_rows, 1), "ratio"),
        "trace.wall_s": (traced_wall, "s"),
        "trace.check_s": (check_s, "s"),
        "trace.unattributed_s": (traced_wall - sum(walls.values()) - check_s, "s"),
        "trace.overhead_s": (run.force_s, "s"),
    })
    return m
