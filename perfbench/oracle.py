"""Independent output checks: DuckDB over the written parquet store, the
fixtures' DuckDB triple derivation, and Python re-computation of agent
answers. Each check returns a list of failure messages (empty = pass)."""

from __future__ import annotations

import glob
import math
import os

import duckdb

from citykg.fixtures import triples_oracle_sql
from citykg.vocab import DEFAULT_BASE

ROW = "subj, pred, obj, obj_type, datatype, graph"
_M = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's xxhash64 computes it over a string's UTF-8 bytes
    (seed 42), returned as a signed 64-bit value."""
    n, p = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while p + 32 <= n:
            for i in range(4):
                v[i] = _round(v[i], int.from_bytes(data[p + 8 * i:p + 8 * i + 8], "little"))
            p += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p:p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p:p + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def bucket_of(subj: str, n_buckets: int) -> int:
    """pmod(xxhash64(subj), n) — the store's subject bucket."""
    return xxhash64(subj.encode("utf-8")) % n_buckets


def store_files(store: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store, "triples", "graph=*", "bucket=*", "*.parquet")))


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def connect(store: str | None = None, docs_dir: str | None = None):
    """DuckDB with `store` (all triples, graph/bucket from the path) and
    `documents` views."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if store is not None:
        if store_files(store):
            pattern = os.path.join(store, "triples", "graph=*", "bucket=*", "*.parquet")
            con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet({_lit(pattern)}, "
                        "hive_partitioning = true)")
        else:
            con.execute(f"CREATE VIEW store AS SELECT NULL::VARCHAR AS subj, "
                        f"NULL::VARCHAR AS pred, NULL::VARCHAR AS obj, NULL::VARCHAR AS obj_type, "
                        f"NULL::VARCHAR AS datatype, NULL::VARCHAR AS graph, NULL::INT AS bucket "
                        f"WHERE false")
    if docs_dir is not None:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"{_lit(os.path.join(docs_dir, 'documents.parquet'))})")
    return con


def store_graph_counts(con) -> dict[str, int]:
    return dict(con.execute("SELECT graph, count(*) FROM store GROUP BY graph").fetchall())


def graph_counts(store: str) -> dict[str, int]:
    con = connect(store)
    try:
        return store_graph_counts(con)
    finally:
        con.close()


def count_rows(store: str) -> int:
    con = connect(store)
    try:
        return con.execute("SELECT count(*) FROM store").fetchone()[0]
    finally:
        con.close()


def diff_subject_rows(store: str, rows: list[tuple]) -> int:
    """Rows by which the store's rows for the subjects in `rows` differ
    from `rows` (subj, pred, obj, obj_type, datatype, graph), both ways."""
    con = connect(store)
    try:
        con.execute("CREATE TEMP TABLE want (subj VARCHAR, pred VARCHAR, obj VARCHAR, "
                    "obj_type VARCHAR, datatype VARCHAR, graph VARCHAR)")
        con.executemany("INSERT INTO want VALUES (?, ?, ?, ?, ?, ?)", rows)
        return con.execute(f"""SELECT count(*) FROM (
            (SELECT {ROW} FROM store WHERE subj IN (SELECT subj FROM want)
             EXCEPT ALL SELECT {ROW} FROM want)
            UNION ALL (SELECT {ROW} FROM want EXCEPT ALL
             SELECT {ROW} FROM store WHERE subj IN (SELECT subj FROM want)))""").fetchone()[0]
    finally:
        con.close()


def diff_counts(got: dict, want: dict, what: str) -> list[str]:
    bad = {g: (got.get(g, 0), want.get(g, 0)) for g in set(got) | set(want)
           if got.get(g, 0) != want.get(g, 0)}
    return [f"{what}: per-graph counts differ (got, want): {dict(sorted(bad.items())[:6])}"] if bad else []


# -- import: oracle triples after linking and canonicalization ---------------

def canonical_oracle_sql(base: str = DEFAULT_BASE) -> str:
    """The pipeline's expected output: extracted triples (fixtures oracle),
    one ontoinfer link triple per doc whose address city matches the
    gazetteer (every synthetic 'City k' with k < 50 does), and every address
    IRI rewritten to the smallest address IRI of its city."""
    city = "CASE WHEN d % 2 = 0 THEN 0 ELSE d % 50 END"
    addr = f"'{base}/address/ADDR_' || lpad(CAST(d AS VARCHAR), 8, '0') || '/'"
    return f"""
WITH ext AS ({triples_oracle_sql(base=base)}),
members AS (SELECT d, {city} AS k, {addr} AS iri FROM (SELECT doc_id AS d FROM documents)),
canon AS (SELECT iri, min(iri) OVER (PARTITION BY k) AS canon FROM members),
links AS (
  SELECT m.iri AS subj, 'ocgml:cityEntityId' AS pred,
         '{base}/entity/ENT_' || lpad(CAST(m.k AS VARCHAR), 4, '0') || '/' AS obj,
         'iri' AS obj_type, CAST(NULL AS VARCHAR) AS datatype, 'ontoinfer' AS graph
  FROM members m),
raw AS (SELECT {ROW} FROM ext UNION ALL SELECT {ROW} FROM links)
SELECT coalesce(cs.canon, r.subj) AS subj, r.pred,
       CASE WHEN r.obj_type = 'iri' THEN coalesce(co.canon, r.obj) ELSE r.obj END AS obj,
       r.obj_type, r.datatype, r.graph
FROM raw r LEFT JOIN canon cs ON cs.iri = r.subj LEFT JOIN canon co ON co.iri = r.obj
"""


class ImportOracle:
    """Expected `import` store for one staged corpus, derived once in
    DuckDB and compared against each cycle's store."""

    def __init__(self, docs_dir: str, n_buckets: int):
        self.con = connect(None, docs_dir)
        self.con.execute(f"CREATE TABLE want AS {canonical_oracle_sql()}")
        self.counts = dict(self.con.execute(
            "SELECT graph, count(*) FROM want GROUP BY graph").fetchall())
        self.total = sum(self.counts.values())
        self.con.execute("CREATE TABLE subj_bucket (subj VARCHAR, bucket INT)")
        self.con.executemany("INSERT INTO subj_bucket VALUES (?, ?)", [
            (s, bucket_of(s, n_buckets))
            for (s,) in self.con.execute("SELECT DISTINCT subj FROM want").fetchall()])
        # rows an upsert replaces: building and cityobject rows per building
        self.per_subject = dict(self.con.execute(
            "SELECT subj, count(*) FROM want WHERE graph IN ('building', 'cityobject') "
            "AND subj LIKE '%/BLDG_%' GROUP BY subj").fetchall())
        self.buildings: dict[str, list] = {}
        for s, p, o in self.con.execute(
                "SELECT subj, pred, obj FROM want WHERE graph = 'cityobject' "
                "AND subj LIKE '%/BLDG_%'").fetchall():
            self.buildings.setdefault(s, []).append((p, o))

    def check(self, store: str, bucket: int) -> list[str]:
        """Per-graph counts, one bucket row for row, and one canonical
        address IRI per linked entity."""
        files = os.path.join(store, "triples", "graph=*", "bucket=*", "*.parquet")
        self.con.execute(f"CREATE OR REPLACE VIEW store AS SELECT * FROM "
                         f"read_parquet({_lit(files)}, hive_partitioning = true)")
        fails = diff_counts(store_graph_counts(self.con), self.counts, "import")
        mine = f"SELECT subj FROM subj_bucket WHERE bucket = {bucket}"
        n_diff = self.con.execute(f"""SELECT count(*) FROM (
          (SELECT {ROW} FROM store WHERE bucket = {bucket}
           EXCEPT ALL SELECT {ROW} FROM want WHERE subj IN ({mine}))
          UNION ALL
          (SELECT {ROW} FROM want WHERE subj IN ({mine})
           EXCEPT ALL SELECT {ROW} FROM store WHERE bucket = {bucket}))""").fetchone()[0]
        if n_diff:
            fails.append(f"import: bucket {bucket} differs from the oracle in {n_diff} rows")
        multi = self.con.execute(
            "SELECT count(*) FROM (SELECT obj FROM store WHERE pred = 'ocgml:cityEntityId' "
            "GROUP BY obj HAVING count(DISTINCT subj) <> 1)").fetchone()[0]
        if multi:
            fails.append(f"import: {multi} linked entities carry more than one canonical address IRI")
        return fails

    def close(self) -> None:
        self.con.close()


# -- agent answers --------------------------------------------------------------

def centroid(envelope: str) -> tuple[float, float]:
    """Skip-last ring average of an EnvelopeType literal, summed in the
    same order as the agent's SQL aggregate."""
    v = [float(x) for x in envelope.split("#")]
    n = len(v) // 3 - 1
    sx = sy = 0.0
    for i in range(n):
        sx += v[3 * i]
        sy += v[3 * i + 1]
    return sx / n, sy / n


def dist(a: tuple, b: tuple) -> float:
    return math.sqrt((a[0] - b[0]) * (a[0] - b[0]) + (a[1] - b[1]) * (a[1] - b[1]))


class ExpectedStore:
    """What the cityobject graph should answer: subject -> [(pred, obj)],
    kept current as upsert batches are applied."""

    def __init__(self, rows: dict[str, list[tuple]]):
        self.rows = {s: list(v) for s, v in rows.items()}

    def apply(self, rows: dict[str, list[tuple]]) -> None:
        self.rows.update(rows)

    def envelope(self, subj: str) -> str | None:
        for p, o in self.rows.get(subj, []):
            if p == "ocgml:EnvelopeType":
                return o
        return None

    def info(self, iris: list[str]) -> list[dict]:
        return [{"iri": i, "attributes": sorted(
            (p, o) for p, o in self.rows.get(i, []) if p != "ocgml:EnvelopeType")}
            for i in iris]

    def distances(self, iris: list[str]) -> list[float]:
        c = [centroid(self.envelope(i)) for i in iris]
        return [dist(c[a], c[b]) for a in range(len(iris)) for b in range(a + 1, len(iris))]

    def neighbours(self, iri: str, radius: float) -> set[str]:
        q = centroid(self.envelope(iri))
        out = set()
        for s in self.rows:
            env = self.envelope(s)
            if s != iri and env is not None:
                c = centroid(env)
                if (c[0] - q[0]) * (c[0] - q[0]) + (c[1] - q[1]) * (c[1] - q[1]) <= radius * radius:
                    out.add(s)
        return out


def check_answer(exp: ExpectedStore, kind: str, request: dict, response: dict) -> str | None:
    """None if the agent's response equals the expected answer."""
    if kind == "info":
        got = [{"iri": e["iri"], "attributes": sorted((a["pred"], a["obj"]) for a in e["attributes"])}
               for e in response["cityobjectinformation"]]
        want = exp.info(request["iris"])
        return None if got == want else f"info answer differs for {request['iris']}"
    if kind == "distance":
        got, want = response["distances"], exp.distances(request["iris"])
        ok = len(got) == len(want) and all(
            g is not None and abs(g - w) <= 1e-6 for g, w in zip(got, want))
        return None if ok else f"distances differ: got {got}, want {want}"
    got = {r["neighbor_iri"] for r in response["distanceFilter"]}
    want = exp.neighbours(request["iris"][0], float(request["searchDistance"]))
    return None if got == want else (
        f"distance filter differs for {request['iris'][0]}: "
        f"{len(got - want)} extra, {len(want - got)} missing")
