"""Entity linking (exact + MinHash-LSH) and canonicalization (CC, salting,
IRI re-homing)."""

import ast
import pathlib
import random

import pytest
from pyspark.sql import functions as F

from citykg import canon, link
from citykg.fixtures import synth_docs, synth_gazetteer
from conftest import SF_SMOKE


def test_link_exact_synth(spark):
    docs = synth_docs(spark, SF_SMOKE)
    gaz = synth_gazetteer(spark)
    out = link.link_exact(link.entity_mentions(docs), gaz)
    rows = out.collect()
    assert len(rows) == 500  # one address mention per doc
    assert all(r.entity_id is not None for r in rows)
    # mega-entity skew: City 0 carries ~50% of mentions (d%2==0)
    mega = [r for r in rows if r.entity_id == "ENT_0000"]
    assert len(mega) == 250 + len([r for r in rows if r.mention == "City 0"]) - 250


def test_link_exact_is_broadcast(spark):
    docs = synth_docs(spark, SF_SMOKE)
    gaz = synth_gazetteer(spark)
    plan = link.link_exact(link.entity_mentions(docs), gaz)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_link_fuzzy_recall_and_typos(spark):
    gaz = synth_gazetteer(spark, n_entities=100)
    mentions = spark.createDataFrame(
        [
            ("d1", 0, "City 7"),      # exact
            ("d2", 0, "city 7"),      # case
            ("d3", 0, "Cityy 7"),     # typo, high overlap
            ("d4", 0, "District 63"),
            ("d5", 0, "zzz qqq vvv"), # garbage -> no link
        ],
        "doc_id string, span_idx int, mention string",
    )
    out = {r.doc_id: (r.entity_id, r.link_score) for r in link.link_fuzzy(mentions, gaz, threshold=0.4).collect()}
    assert out["d1"][0] == "ENT_0007" and out["d1"][1] == 1.0
    assert out["d2"][0] == "ENT_0007"
    assert out["d3"][0] == "ENT_0007"
    assert out["d4"][0] == "ENT_0063"
    assert out["d5"][0] is None


def test_minhash_similarity_monotone(spark):
    df = spark.createDataFrame(
        [("a", "knowledge graph construction"), ("b", "knowledge graph constructions"), ("c", "completely different")],
        "id string, t string",
    )
    sigs = link.with_minhash(link.with_shingles(df, "t")).collect()
    s = {r.id: r.minhash for r in sigs}
    sim_ab = sum(x == y for x, y in zip(s["a"], s["b"])) / 64
    sim_ac = sum(x == y for x, y in zip(s["a"], s["c"])) / 64
    assert sim_ab > 0.6 > sim_ac


def test_same_as_edges_star_not_clique(spark):
    # one hot key with 1000 members -> exactly 999 star edges
    rows = [("G", f"m{i:04d}") for i in range(1000)] + [("H", "x1"), ("H", "x2")]
    g = spark.createDataFrame(rows, "k string, m string")
    e = canon.same_as_edges(g, "k", "m").collect()
    assert len(e) == 999 + 1
    assert all(x.dst in ("m0000", "x1") for x in e)


def test_connected_components_transitive_chain(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("y", "x"), ("m2", "m1")],
        "src string, dst string",
    )
    cc = {r.id: r.component for r in canon.connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == cc["d"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["m1"] == cc["m2"] == "m1"


def test_connected_components_mega_star(spark):
    # skew: one component with 5000 spokes + a small pair
    rows = [(f"s{i:05d}", "hub") for i in range(5000)] + [("q2", "q1")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    cc = canon.connected_components(edges)
    comps = cc.groupBy("component").count().collect()
    sizes = sorted(r["count"] for r in comps)
    assert sizes == [2, 5001]


def _union_find_components(edges):
    """Reference labels: id -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.id: r.component for r in canon.connected_components(df, **kw).collect()}


def test_connected_components_long_shuffled_path(spark):
    # 2,000-node path, edges shuffled and randomly directed: diameter
    # 1,999 defeats plain min-label propagation in 20 rounds; pointer
    # jumping needs ~log2(d)
    rng = random.Random(7)
    path = [(f"p{i:05d}", f"p{i + 1:05d}")[:: rng.choice((1, -1))] for i in range(1999)]
    rng.shuffle(path)
    got = _cc(spark, path)
    assert len(got) == 2000
    assert set(got.values()) == {"p00000"}


def test_connected_components_path_with_random_ids(spark):
    # ids in random order along the path: the minimum sits mid-chain and
    # every tree root must hear of merges through its members
    ids = [f"q{i:03d}" for i in range(300)]
    random.Random(300).shuffle(ids)
    got = _cc(spark, list(zip(ids, ids[1:])))
    assert len(got) == 300
    assert set(got.values()) == {"q000"}


@pytest.mark.parametrize("seed", range(4))
def test_connected_components_equals_union_find(spark, seed):
    rng = random.Random(seed)
    n = (30, 300, 1000, 3000)[seed]
    ids = [f"n{rng.randrange(10**6):07d}" for _ in range(n)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(n)]
    assert _cc(spark, edges) == _union_find_components(edges)


def test_connected_components_empty_edges(spark):
    assert _cc(spark, []) == {}


def test_connected_components_raises_when_rounds_run_out(spark):
    path = [(f"{i:02d}", f"{i + 1:02d}") for i in range(30)]
    with pytest.raises(RuntimeError, match="did not converge in max_iter=1"):
        _cc(spark, path, max_iter=1)


def test_canonicalize_triples_rewrites_subj_and_iri_obj(spark):
    triples = spark.createDataFrame(
        [
            ("iri://dup1/", "ocgml:id", "iri://dup1/", "iri", None, "building", "d", 0, 0),
            ("iri://keep/", "ocgml:buildingRootId", "iri://dup1/", "iri", None, "building", "d", 0, 1),
            ("iri://keep/", "ocgml:name", "iri://dup1/", "literal", None, "cityobject", "d", 0, 2),
        ],
        "subj string, pred string, obj string, obj_type string, datatype string, graph string, doc_id string, span_idx int, pos int",
    )
    mapping = spark.createDataFrame([("iri://dup1/", "iri://canon/")], "id string, canonical_id string")
    out = canon.canonicalize_triples(triples, mapping).orderBy("pos").collect()
    assert out[0].subj == "iri://canon/" and out[0].obj == "iri://canon/"
    assert out[1].obj == "iri://canon/"
    assert out[2].obj == "iri://dup1/"  # literals never rewritten


def test_rehome_iris(spark):
    triples = spark.createDataFrame(
        [("http://old/x/building/b1/", "ocgml:id", "http://old/x/building/b1/", "iri", None,
          "building", "d", 0, 0),
         ("http://old/x/building/b1/", "ocgml:name", "http://old/x not an iri", "literal", None,
          "cityobject", "d", 0, 1)],
        "subj string, pred string, obj string, obj_type string, datatype string, graph string, doc_id string, span_idx int, pos int",
    )
    out = canon.rehome_iris(triples, "http://old/x", "http://twa/central").orderBy("pos").collect()
    assert out[0].subj == "http://twa/central/building/b1/"
    assert out[0].obj == "http://twa/central/building/b1/"
    assert out[1].obj == "http://old/x not an iri"  # literals untouched


def test_incremental_components_equals_full(spark):
    """Folding a second batch into an existing registry must equal a full
    recompute over all edges — including cross-batch merges of previously
    SEPARATE components — while leaving untouched components alone."""
    # batch 1: two components {a1,a2,a3}, {b1,b2}; plus isolated {z1,z2}
    e1 = spark.createDataFrame(
        [("a2", "a1"), ("a3", "a1"), ("b2", "b1"), ("z2", "z1")],
        "src string, dst string",
    )
    registry = canon.connected_components(e1)
    reg = {r.id: r.component for r in registry.collect()}
    assert reg["a3"] == "a1" and reg["b2"] == "b1" and reg["z2"] == "z1"

    # batch 2: a NEW member a0 joins (and lowers the min of) component a,
    # an edge MERGES components a and b, and a fresh pair {c1,c2} appears;
    # component z is untouched
    e2 = spark.createDataFrame(
        [("a1", "a0"), ("b2", "a2"), ("c2", "c1")], "src string, dst string"
    )
    inc = {r.id: r.component
           for r in canon.incremental_components(registry, e2).collect()}
    full = {r.id: r.component
            for r in canon.connected_components(e1.union(e2)).collect()}
    assert inc == full
    assert inc["b1"] == "a0" and inc["a3"] == "a0"  # merged + min lowered
    assert inc["z2"] == "z1" and inc["c2"] == "c1"

    # untouched components are passed through, not re-solved: z never
    # enters the CC sub-problem's node set
    ids_new = (e2.select(F.col("src").alias("id"))
               .union(e2.select(F.col("dst").alias("id")))).distinct()
    touched = registry.join(ids_new, "id").select("component").distinct()
    assert {r.component for r in touched.collect()} == {"a1", "b1"}


def test_reliable_checkpoint_path(spark, tmp_path_factory):
    """stable() flips localCheckpoint -> reliable checkpoint(dir) when
    spark.citykg.checkpointDir is set: same results, durable cut files
    written under the dir (the executor-loss-safe mode for cluster runs;
    VERDICT r3 item 3)."""
    import os

    from citykg.ops import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("x", "a")], "src string, dst string"
    )
    base = {tuple(r) for r in canon.connected_components(edges).collect()}
    pr_base = {r.id: round(r.rank, 9) for r in graph.pagerank(edges, max_iter=5).collect()}

    ckpt = str(tmp_path_factory.mktemp("reliable_ckpt"))
    spark.conf.set("spark.citykg.checkpointDir", ckpt)
    try:
        got = {tuple(r) for r in canon.connected_components(edges).collect()}
        pr_got = {r.id: round(r.rank, 9) for r in graph.pagerank(edges, max_iter=5).collect()}
    finally:
        spark.conf.unset("spark.citykg.checkpointDir")
    assert got == base and pr_got == pr_base
    # durable cut files actually landed under the reliable dir
    files = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert files, "no reliable checkpoint files written"


def test_lineage_cut_only_in_session_stable():
    """`.localCheckpoint(` appears in the package and the entry module only
    inside session.stable, the one lineage cut, so
    spark.citykg.checkpointDir reaches every cut."""
    root = pathlib.Path(__file__).resolve().parents[1]
    sources = sorted((root / "citykg").rglob("*.py")) + [root / "__spark_entry__.py"]
    hits = [
        (py.relative_to(root).as_posix(), n)
        for py in sources
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    fn = next(
        f for f in ast.parse((root / "citykg" / "session.py").read_text()).body
        if isinstance(f, ast.FunctionDef) and f.name == "stable"
    )
    assert hits and all(
        p == "citykg/session.py" and fn.lineno <= n <= fn.end_lineno for p, n in hits
    ), hits


def test_link_editdist_blocked_equals_unblocked(spark):
    """Length-bucket blocking is lossless for lev<=2 — verify against a
    brute python recompute, including a no-match NULL and a tie."""
    gaz = spark.createDataFrame(
        [("E1", ["berlin"]), ("E2", ["bern"]), ("E3", ["paris"])],
        "entity_id string, aliases array<string>",
    )
    rows = [(1, 0, "berlln"), (2, 0, "bernn"), (3, 0, "tokyo"), (4, 0, "bern")]
    m = spark.createDataFrame(rows, "doc_id long, span_idx int, mention string")
    got = {r.doc_id: (r.entity_id, r.edit_dist) for r in link.link_editdist(m, gaz).collect()}
    assert got[1] == ("E1", 1)      # substitution typo
    assert got[2] == ("E2", 1)      # insertion typo
    assert got[3] == (None, None)   # nothing within 2
    assert got[4] == ("E2", 0)      # exact
    # brute recompute over every (mention, alias) pair — no blocking
    def lev(a, b):
        import numpy as np
        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[len(b)])
    aliases = [("E1", "berlin"), ("E2", "bern"), ("E3", "paris")]
    for doc_id, _, mention in rows:
        cands = sorted((lev(mention, a), e) for e, a in aliases if lev(mention, a) <= 2)
        want = (cands[0][1], cands[0][0]) if cands else (None, None)
        assert got[doc_id] == want


def test_fuse_attributes_majority_and_ties(spark):
    """Cluster {A, B, C} (canonical A): zip votes 2-1 -> majority wins;
    street ties 1-1-1 -> smallest value wins; singleton D (absent from
    labels) fuses to itself; IRI triples are excluded."""
    triples = spark.createDataFrame(
        [
            ("A", "ocgml:zip", "10115", "literal"),
            ("B", "ocgml:zip", "10115", "literal"),
            ("C", "ocgml:zip", "99999", "literal"),
            ("A", "ocgml:street", "c st", "literal"),
            ("B", "ocgml:street", "a st", "literal"),
            ("C", "ocgml:street", "b st", "literal"),
            ("A", "ocgml:linked", "http://x/B", "iri"),
            ("D", "ocgml:zip", "77777", "literal"),
        ],
        "subj string, pred string, obj string, obj_type string",
    )
    labels = spark.createDataFrame(
        [("A", "A"), ("B", "A"), ("C", "A")], "id string, component string"
    )
    rows = {
        (r.canonical_id, r.pred): (
            r.obj,
            r.n_votes,
            r.n_values,
            r.total_mentions,
            r.conflicted,
        )
        for r in canon.fuse_attributes(triples, labels).collect()
    }
    assert rows == {
        ("A", "ocgml:zip"): ("10115", 2, 2, 3, 1),
        ("A", "ocgml:street"): ("a st", 1, 3, 3, 1),
        ("D", "ocgml:zip"): ("77777", 1, 1, 1, 0),
    }


def test_link_eval_confusion_families(spark):
    """tp / fp / fn counted per mention key: agreement, wrong entity
    (fp+fn), missed gold (fn), spurious prediction on null gold (fp)."""
    from citykg.link import link_eval

    gold = spark.createDataFrame(
        [("d1", "E1"), ("d2", "E2"), ("d3", "E3"), ("d4", None)],
        "doc_id string, entity_id string",
    )
    pred = spark.createDataFrame(
        [("d1", "E1"), ("d2", "EX"), ("d3", None), ("d4", "E9")],
        "doc_id string, entity_id string",
    )
    r = link_eval(gold, pred).collect()[0]
    assert (r.n_mentions, r.n_tp, r.n_fp, r.n_fn) == (4, 1, 2, 2)
    assert r.precision == round(1 / 3, 6)
    assert r.recall == round(1 / 3, 6)
    assert r.f1 == round(1 / 3, 6)
