"""Training-data ops: dedup tiers, similarity search, text analysis,
multimodal plumbing, graph algorithms."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from citykg.ops import dedup, graph, multimodal, similarity, text
from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").persist()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").persist()


# ---------------- dedup ----------------

def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A  b C"), (3, "unique"), (4, "a b c")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.group_id, r.group_size) for r in dedup.exact_duplicates(df).collect()}
    assert out == {1: (1, 3), 2: (1, 3), 4: (1, 3)}  # normalization folds case/space


def test_ngram_jaccard_matches_duckdb(documents, duck):
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(documents, threshold=0.8).collect()
    }
    want = {
        (a, b)
        for a, b in duck.execute(
            """
            WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM documents),
            sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] s
                   FROM toks, UNNEST(range(1, len(w)-1)) t(i)),
            p AS (SELECT a.doc_id d1, b.doc_id d2, count(*) i FROM sh a JOIN sh b
                  ON a.s=b.s AND a.doc_id<b.doc_id GROUP BY 1,2),
            z AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)
            SELECT d1, d2 FROM p JOIN z z1 ON d1=z1.doc_id JOIN z z2 ON d2=z2.doc_id
            WHERE i*1.0/(z1.n+z2.n-i) >= 0.8
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_minhash_lsh_equals_exact_at_threshold(documents):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(documents, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(documents, threshold=0.8).collect()
    }
    # verified LSH output ⊆ exact; at these similarities recall is total
    assert set(lsh) == set(exact)
    for k in lsh:
        assert abs(lsh[k] - exact[k]) < 1e-9


def test_simhash_near_dup_detection(spark):
    # long doc, one word changed -> tiny hamming; unrelated doc -> far
    base = " ".join(f"w{i:03d}" for i in range(200))
    rows = [
        (1, base),
        (2, base.replace("w050", "w950")),  # near-dup
        (3, " ".join(f"z{i:03d}" for i in range(200))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sim = dedup.simhash(df)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(sim, max_hamming=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8
    assert (1, 3) not in pairs


def test_simhash_deterministic(spark, documents):
    a = {r.doc_id: r.simhash for r in dedup.simhash(documents.limit(20)).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash(documents.limit(20)).collect()}
    assert a == b


def test_embedding_near_dup(spark):
    v = [1.0] * 8
    rows = [(1, v), (2, [x * 2 for x in v]), (3, [1.0, -1.0] * 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.doc_a, r.doc_b) for r in dedup.embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert out == {(1, 2)}


def test_embedding_near_dup_lsh_equals_brute(spark):
    # the blocked (LSH bucket join) path must reproduce the brute all-pairs
    # output at verification strength — this equality is what licenses the
    # brute DuckDB oracle for the dedup_embedding query
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {
        (r.doc_a, r.doc_b, round(r.cosine, 6))
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.42).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, round(r.cosine, 6))
        for r in dedup.embedding_near_dup_pairs_lsh(emb, threshold=0.42, dim=64).collect()
    }
    assert brute == lsh and len(brute) > 0
    plan = dedup.embedding_near_dup_pairs_lsh(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------- similarity ----------------

def _numpy_topk(corpus, queries, k):
    C = np.array([c for _, c in corpus])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    out = {}
    for qid, qv in queries:
        q = np.array(qv)
        sims = Cn @ (q / np.linalg.norm(q))
        idx = [i for i in np.argsort(-sims) if corpus[i][0] != qid][:k]
        out[qid] = [corpus[i][0] for i in idx]
    return out


def test_cosine_topk_matches_numpy(spark, embeddings):
    corpus = [(r.vec_id, list(r.embedding)) for r in embeddings.collect()]
    queries = corpus[:5]
    qdf = spark.createDataFrame(
        [(i, v) for i, v in queries], "query_id long, embedding array<float>"
    )
    got = (
        similarity.cosine_topk(embeddings, qdf, k=5)
        .orderBy("query_id", "rank")
        .collect()
    )
    want = _numpy_topk(corpus, queries, 5)
    for qid in want:
        got_ids = [r.vec_id for r in got if r.query_id == qid]
        assert got_ids == want[qid]


def test_lsh_ann_recall(spark, embeddings):
    corpus = [(r.vec_id, list(r.embedding)) for r in embeddings.collect()]
    queries = corpus[:10]
    qdf = spark.createDataFrame(queries, "query_id long, embedding array<float>")
    brute = _numpy_topk(corpus, queries, 10)
    ann = similarity.lsh_ann_topk(embeddings, qdf, k=10, n_planes=4, tables=16)
    got = ann.collect()
    recalls = []
    for qid in brute:
        g = {r.vec_id for r in got if r.query_id == qid}
        recalls.append(len(g & set(brute[qid])) / 10)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_morton_interleave_known_values(spark):
    """Bit-exact Morton codes: gx bits land at even positions, gy at odd."""
    from citykg.ops.geo import morton_interleave_sql

    cases = [
        (0, 0, 0),
        (1, 0, 1),       # gx bit0 -> position 0
        (0, 1, 2),       # gy bit0 -> position 1
        (1, 1, 3),
        (3, 5, 0b100111),  # gx=11 -> pos 0,2; gy=101 -> pos 1,5
        (1023, 0, sum(1 << (2 * i) for i in range(10))),
    ]
    df = spark.createDataFrame(
        [(gx, gy, want) for gx, gy, want in cases], "gx long, gy long, want long"
    )
    z = morton_interleave_sql("gx", "gy")
    bad = df.selectExpr("gx", "gy", "want", f"{z} as got").where("got <> want").collect()
    assert not bad, bad


def test_stratified_cap_deterministic_and_stable_under_growth(spark):
    """The kept set is a pure function of (id, seed), and adding new rows
    to a stratum can only displace hash-later rows — never reshuffle the
    survivors arbitrarily (the resume/append invariant)."""
    from citykg.ops.sampling import stratified_cap

    rows = [(i, "s%d" % (i % 2)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept1 = {r.doc_id for r in stratified_cap(df, "source", cap=5).collect()}
    kept2 = {r.doc_id for r in stratified_cap(df, "source", cap=5).collect()}
    assert kept1 == kept2 and len(kept1) == 10
    grown = spark.createDataFrame(rows + [(100, "s0"), (101, "s1")], "doc_id long, source string")
    kept3 = {r.doc_id for r in stratified_cap(grown, "source", cap=5).collect()}
    # survivors after growth are a subset of {old kept} U {new ids}
    assert kept3 <= kept1 | {100, 101} and len(kept3) == 10


def test_bigram_pmi_handles_short_docs_and_counts(spark):
    """Docs with < 2 tokens must not error under ANSI (the index list is
    bounds-filtered before element_at) and bigram counts are exact."""
    import math

    from citykg.ops.relevance import bigram_pmi

    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "  "), (4, "a b a b a b a b a b")],
        "doc_id long, text string",
    )
    got = {(r.a, r.b): (r.c_ab, r.pmi) for r in bigram_pmi(df, min_count=2).collect()}
    # 10 tokens -> 9 bigrams: (a,b) x5, (b,a) x4; unigrams a=5, b=5, N=11
    # (incl. 'hello'); N_bigrams = 9
    def pmi(c_ab):
        return round(math.log((c_ab / 9) / ((5 / 11) * (5 / 11))), 6)

    assert got == {("a", "b"): (5, pmi(5)), ("b", "a"): (4, pmi(4))}


def test_bigram_lm_scores_hand_computed(spark):
    import math

    from citykg.ops.relevance import bigram_lm_scores

    df = spark.createDataFrame([(1, "a b a b"), (2, "b a")], "doc_id long, text string")
    # bigrams: doc1 (a,b)x2 (b,a)x1; doc2 (b,a)x1 -> c(ab): (a,b)=2, (b,a)=2
    # c_a: a=2, b=2 (as first element); c_b: b=2, a=2; N=4
    lam = 0.75
    p_ab = lam * 2 / 2 + (1 - lam) * 2 / 4  # (a,b): c_ab/c_a=1, c_b/N=.5
    p_ba = lam * 2 / 2 + (1 - lam) * 2 / 4
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob) for r in bigram_lm_scores(df).collect()}
    want1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    want2 = round(math.log(p_ba), 6)
    assert got == {1: (3, want1), 2: (1, want2)}


def test_incremental_jaccard_excludes_old_old_quadrant(spark):
    base = " ".join(f"w{i:03d}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " tail")],  # old near-dup pair: must NOT appear
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base), (11, base), (12, "completely different words here")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.pair_kind
        for r in dedup.incremental_jaccard_pairs(corpus, batch, threshold=0.8).collect()
    }
    # new-new ordered a<b; new-old pairs to BOTH old docs; (1,2) absent
    assert got == {
        (10, 11): "new_new",
        (10, 1): "new_old",
        (10, 2): "new_old",
        (11, 1): "new_old",
        (11, 2): "new_old",
    }


def test_canonical_url_folds_noise(spark):
    from citykg.ops import text as t

    cases = [
        # (raw, canonical)
        ("https://www.Example.COM/page/1/?utm_source=x&utm_campaign=y",
         "https://example.com/page/1"),
        ("http://example.com:80/page/1/#frag", "https://example.com/page/1"),
        ("https://example.com:443/page/1", "https://example.com/page/1"),
        ("https://other.org/items?id=7&utm_medium=z", "https://other.org/items?id=7"),
        ("https://other.org/items?utm_medium=z&id=7", "https://other.org/items?id=7"),
        ("http://www.a.net", "https://a.net"),
        ("https://a.net/?fbclid=abc", "https://a.net"),
        # :8080 is NOT a default port and must survive
        ("http://cdn.a.net:8080/x?y=1", "https://cdn.a.net:8080/x?y=1"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)], "i long, url string")
    got = {r.i: r.c for r in df.select("i", t.canonical_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over the cross product of
    every noise dimension — the property that makes re-canonicalizing an
    already-canonical store a no-op."""
    import itertools

    from citykg.ops import text as t

    urls = [
        f"{scheme}://{host}{port}{path}{query}{frag}"
        for scheme, host, port, path, query, frag in itertools.product(
            ["http", "https"],
            ["www.Example.COM", "example.com", "CDN.a-b.net"],
            ["", ":80", ":443", ":8080"],
            ["", "/", "/P/1", "/P/1/"],
            ["", "?id=7", "?utm_source=x", "?utm_source=x&id=7", "?id=7&fbclid=z"],
            ["", "#frag"],
        )
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    once = df.select("i", t.canonical_url(F.col("url")).alias("c1"))
    twice = once.select("i", "c1", t.canonical_url(F.col("c1")).alias("c2"))
    bad = twice.where(F.col("c1") != F.col("c2")).collect()
    assert not bad, bad[:5]


def test_unigram_lm_scores_hand_computed(spark):
    import math

    from citykg.ops.relevance import unigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # corpus counts: a=2, b=2, c=1, N=5
    got = {r.doc_id: (r.n_terms, r.avg_logprob) for r in unigram_lm_scores(df).collect()}
    want1 = round((2 * math.log(2 / 5) + math.log(2 / 5)) / 3, 6)
    want2 = round((math.log(2 / 5) + math.log(1 / 5)) / 2, 6)
    assert got == {1: (3, want1), 2: (2, want2)}


def test_lsh_range_search_equals_brute_at_verification_strength(spark, embeddings):
    corpus = [(r.vec_id, list(r.embedding)) for r in embeddings.collect()]
    queries = corpus[:5]
    qdf = spark.createDataFrame(queries, "query_id long, embedding array<float>")
    C = np.array([c for _, c in corpus])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    thr = 0.3
    want = set()
    for qid, qv in queries:
        q = np.array(qv)
        sims = Cn @ (q / np.linalg.norm(q))
        for i, s in enumerate(sims):
            if corpus[i][0] != qid and s >= thr:
                want.add((qid, corpus[i][0]))
    got = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_range_search(
            embeddings, qdf, threshold=thr, n_planes=4, tables=48
        ).collect()
    }
    assert want, "threshold too high for the test corpus — no pairs to verify"
    assert got == want


def test_ivf_ann_runs_and_overlaps(spark, embeddings):
    corpus = [(r.vec_id, list(r.embedding)) for r in embeddings.collect()]
    queries = corpus[:5]
    qdf = spark.createDataFrame(queries, "query_id long, embedding array<float>")
    brute = _numpy_topk(corpus, queries, 10)
    got = similarity.ivf_ann_topk(embeddings, qdf, k=10, n_centroids=8, nprobe=3).collect()
    recalls = []
    for qid in brute:
        g = {r.vec_id for r in got if r.query_id == qid}
        recalls.append(len(g & set(brute[qid])) / 10)
    assert sum(recalls) / len(recalls) >= 0.3, recalls


# ---------------- text ----------------

def test_token_counts_match_duckdb(documents, duck):
    got = {
        r.doc_id: (r.n_tokens, r.n_subwords)
        for r in text.with_token_counts(documents).select("doc_id", "n_tokens", "n_subwords").collect()
    }
    want = {
        d: (a, b)
        for d, a, b in duck.execute(
            "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')),"
            " len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))"
            " FROM documents"
        ).fetchall()
    }
    assert got == want


def test_quality_scores_bounded(documents):
    rows = text.with_quality(documents).select("quality", "alpha_ratio", "stopword_ratio").collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert any(r.stopword_ratio > 0 for r in rows)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in that house for now"),
            (2, "der Hund und die Katze ist von einem Haus mit Garten"),
            (3, "le chat et le chien est dans la maison pour un moment"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text.with_lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_fingerprint_md5_matches_duckdb(documents, duck):
    got = {r.doc_id: r.fingerprint for r in text.with_fingerprint(documents).collect()}
    want = dict(
        duck.execute(
            "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) FROM documents"
        ).fetchall()
    )
    assert got == want


# ---------------- multimodal ----------------

def test_image_grid_features_real(spark):
    # REAL descriptor: decode + NN resample must equal an independent
    # numpy reference over the decoded pixels, across all three codecs
    payloads = [
        ("b1", multimodal.synth_image_bytes("bmp24", 11, 9)),
        ("p1", multimodal.synth_png_bytes(13, 10)),
        ("g1", multimodal.synth_gif_bytes(12, 8)),
    ]
    media = spark.createDataFrame(
        [(r, "image/any", b) for r, b in payloads], multimodal.MEDIA_SCHEMA
    )
    got = {r.media_ref: r for r in multimodal.image_grid_features(media, grid=2).collect()}
    for ref, b in payloads:
        codec, px = multimodal.decode_any_rgb(b)
        h, w = px.shape[:2]
        xs = (np.arange(2) * w) // 2
        ys = (np.arange(2) * h) // 2
        want = [float(v) for v in px[ys][:, xs].astype(np.float32).reshape(-1)]
        assert got[ref].features == want and got[ref].codec == codec
        assert (got[ref].width, got[ref].height) == (w, h)


def test_visual_dup_clusters_cross_format(spark):
    # same pixels as BMP and as PNG (different bytes) -> ONE cluster;
    # different dims -> separate clusters; undecodable payload dropped
    rows = [
        ("a_bmp", "x", multimodal.synth_image_bytes("bmp24", 10, 7)),
        ("b_png", "x", multimodal.synth_png_bytes(10, 7)),
        ("c_other", "x", multimodal.synth_png_bytes(11, 7)),
        ("d_junk", "x", b"not an image"),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.exemplar: r for r in multimodal.visual_dup_clusters(media, grid=2).collect()}
    assert set(got) == {"a_bmp", "c_other"}
    assert got["a_bmp"].n_images == 2 and got["a_bmp"].n_codecs == 2
    assert got["c_other"].n_images == 1


def test_decode_image_real_features(spark):
    # decodable payload -> features ARE the grid descriptor (truncated)
    b = multimodal.synth_png_bytes(9, 9)
    media = spark.createDataFrame([("p", "image/png", b)], multimodal.MEDIA_SCHEMA)
    r = multimodal.decode_image(media, n_features=8).collect()[0]
    _, px = multimodal.decode_any_rgb(b)
    xs = (np.arange(2) * 9) // 2
    want = [float(v) for v in px[xs][:, xs].astype(np.float32).reshape(-1)][:8]
    assert r.features == want


def test_media_decode_plumbing(spark, documents):
    media = multimodal.synth_media(documents.limit(50))
    dec = multimodal.decode_image(media, n_features=8)
    rows = dec.collect()
    assert len(rows) == 50
    assert all(len(r.features) == 8 for r in rows)
    assert all(32 <= r.width < 256 and 32 <= r.height < 256 for r in rows)
    # determinism across runs (resume invariant)
    again = {r.media_ref: r.features for r in multimodal.decode_image(media, n_features=8).collect()}
    assert all(again[r.media_ref] == r.features for r in rows)


def test_image_header_roundtrip():
    # real header parse: synth bytes -> (mime, w, h) must invert exactly
    for fmt, mime in (("png", "image/png"), ("jpeg", "image/jpeg"), ("bmp", "image/bmp")):
        for w, h in ((1, 1), (32, 255), (640, 480), (4096, 2160) if fmt != "jpeg" else (640, 65535)):
            assert multimodal.parse_image_header(multimodal.synth_image_bytes(fmt, w, h)) == (mime, w, h)
    # GIF logical screen
    import struct
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    assert multimodal.parse_image_header(gif) == ("image/gif", 320, 200)
    # top-down BMP stores negative height; magnitude is the pixel height
    bmp = bytearray(multimodal.synth_image_bytes("bmp", 10, 20))
    bmp[22:26] = struct.pack("<i", -20)
    assert multimodal.parse_image_header(bytes(bmp)) == ("image/bmp", 10, 20)
    # unrecognized bytes -> all None
    assert multimodal.parse_image_header(b"not an image") == (None, None, None)


def test_decode_sniffs_over_declared_mime(spark):
    # declared mime lies (says png, bytes are a jpeg) — sniffed truth wins
    jpg = multimodal.synth_image_bytes("jpeg", 77, 55)
    media = spark.createDataFrame([("m1", "image/png", jpg)], multimodal.MEDIA_SCHEMA)
    r = multimodal.decode_image(media).collect()[0]
    assert (r.mime_type, r.width, r.height, r.n_bytes) == ("image/jpeg", 77, 55, len(jpg))


def test_media_decode_null_payload(spark):
    media = spark.createDataFrame(
        [("m1", "image/png", None)], multimodal.MEDIA_SCHEMA
    )
    r = multimodal.decode_image(media).collect()[0]
    assert r.n_bytes == 0 and r.width >= 32


def test_resize_and_frame_plan(spark):
    media = spark.createDataFrame([("m1", "video/mp4", b"x")], multimodal.MEDIA_SCHEMA)
    dec = multimodal.decode_image(media)
    rs = multimodal.resize_stub(dec, max_dim=64).collect()[0]
    assert max(rs.out_width, rs.out_height) <= 64
    plan = multimodal.frame_sample_plan(media, fps=2.0, duration_s=3.0).collect()
    assert [r.frame_ts for r in plan] == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]


# ---------------- graph ----------------

def test_pagerank_tiny_graph_vs_power_iteration(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]
    E = spark.createDataFrame(edges, "src string, dst string")
    ranks = {r.id: r.rank for r in graph.pagerank(E, alpha=0.3, max_iter=30).collect()}
    ids = sorted(ranks)
    idx = {n: i for i, n in enumerate(ids)}
    M = np.zeros((4, 4))
    outdeg = {"a": 1, "b": 1, "c": 1, "d": 1}
    for s, d in edges:
        M[idx[d], idx[s]] = 1.0 / outdeg[s]
    r = np.full(4, 0.25)
    for _ in range(60):
        r = 0.3 / 4 + 0.7 * (M @ r)
    for n in ids:
        assert abs(ranks[n] - r[idx[n]]) < 1e-4, (n, ranks[n], r[idx[n]])
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_shortest_paths_chain(spark):
    E = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    d = {r.id: r.dist for r in graph.shortest_paths(E, "a").collect()}
    assert d == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_triples_to_edges_filters_literals(spark):
    t = spark.createDataFrame(
        [("s1", "p", "o1", "iri"), ("s1", "p", "lit", "literal"), ("s1", "p", "s1", "iri")],
        "subj string, pred string, obj string, obj_type string",
    )
    e = graph.triples_to_edges(t).collect()
    assert [(r.src, r.dst) for r in e] == [("s1", "o1")]


def test_substring_pairs_catch_containment_jaccard_misses(spark):
    # a 10-token span copied into an otherwise unrelated 200-token doc:
    # whole-doc Jaccard is tiny, but the exact-window join flags the pair
    span = " ".join(f"copied{i:02d}" for i in range(10))
    rows = [
        (1, span + " " + " ".join(f"a{i:03d}" for i in range(190))),
        (2, " ".join(f"b{i:03d}" for i in range(190)) + " " + span),
        (3, " ".join(f"c{i:03d}" for i in range(200))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sub = {(r.doc_a, r.doc_b) for r in
           dedup.repeated_substring_pairs(df, n=8, min_shared=1).collect()}
    assert (1, 2) in sub and not any(3 in p for p in sub)
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # similarity dedup cannot see the contained span


def test_repetition_stats_separate_looping_text(spark):
    rows = [
        (1, "the cat sat on the mat and then the dog sat on the rug today"),
        (2, "spam " * 50),  # degenerate loop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r.doc_id: r for r in text.with_repetition_stats(df).collect()}
    assert s[2].distinct_ratio < 0.05 and s[1].distinct_ratio > 0.5
    assert s[2].top_token_frac == 1.0
    assert abs(s[2].token_entropy) < 1e-12  # single repeated token -> zero entropy
    assert s[1].token_entropy > 2.0


def test_quantize_reconstruction_error_bounded(spark):
    import math
    rows = [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in similarity.with_quantized(df).collect()}
    r1 = out[1]
    assert r1.q8_scale == 1.0
    # reconstruct: x_hat = q * scale / 127; max error <= scale/254
    for x, q in zip([0.5, -1.0, 0.25, 0.0], r1.q8):
        assert abs(q * r1.q8_scale / 127 - x) <= r1.q8_scale / 254 + 1e-9
        assert -127 <= q <= 127
    assert out[2].q8 == [0, 0, 0, 0] and out[2].q8_scale == 0.0


def test_contamination_stats_flags_eval_overlap(spark):
    # doc 1 copies a 10-token eval span (>= one full 8-gram window); doc 2
    # shares only 5 tokens (no 8-gram); doc 3 is clean. Short eval rows
    # (< 8 tokens) fall back to whole-doc windows and must not crash.
    span = " ".join(f"ev{i:02d}" for i in range(10))
    corpus = spark.createDataFrame(
        [
            (1, span + " " + " ".join(f"a{i:03d}" for i in range(50))),
            (2, " ".join(span.split()[:5]) + " " + " ".join(f"b{i:03d}" for i in range(50))),
            (3, " ".join(f"c{i:03d}" for i in range(50))),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, span + " tail tokens here"), (101, "tiny eval row")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.contamination_stats(corpus, ev, n=8).collect()}
    assert set(out) == {1}
    r = out[1]
    # 10-token span in a 60-token doc: windows fully inside the span = 3
    assert r.n_contaminated == 3 and r.n_windows == 60 - 8 + 1
    assert abs(r.contamination - 3 / 53) < 1e-9


def test_pii_counts_and_redaction_order(spark):
    rows = [
        (1, "write 10.0.0.1@example.org or admin@corp.example.org today"),
        (2, "server 192.168.0.1 dials +49-030-12345 twice: +49-030-12345"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.redact_pii(text.with_pii_counts(df)).collect()}
    # an IP-shaped LOCAL PART counts as both patterns individually...
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (2, 1, 0)
    # ...but redaction runs emails first, so no [IPV4]@... survives inside it
    assert out[1].redacted == "write [EMAIL] or [EMAIL] today"
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 1, 2)
    assert out[2].redacted == "server [IPV4] dials [PHONE] twice: [PHONE]"
    assert out[3].redacted == rows[2][1]


def test_domain_stats_folds_subdomains_and_ports(spark):
    rows = [
        (1, "a https://A.B.Example.COM/x and https://example.com/y b"),
        (2, "see http://cdn.example.com:8080/z"),
        (3, "no links at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.domain: (r.n_urls, r.n_docs) for r in text.domain_stats(df).collect()}
    # case, subdomain depth, and port all fold into one registrable domain
    assert out == {"example.com": (3, 2)}


def test_near_dup_clusters_transitive_min(spark):
    # chain 9-10-11 must fold into ONE cluster rooted at 9 even though
    # (9,11) is not a pair; numeric min must win over lexicographic
    # (id 100 < id 21 lexicographically — padding must prevent that)
    pairs = spark.createDataFrame(
        [(9, 10), (10, 11), (21, 100)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.cluster_id, r.keep) for r in
           dedup.near_dup_clusters(pairs).collect()}
    assert out == {
        9: (9, True), 10: (9, False), 11: (9, False),
        21: (21, True), 100: (21, False),
    }


def test_near_dup_clusters_long_chain_is_one_cluster(spark):
    # 60 chained pairs (61 docs, diameter 60): plain min-label
    # propagation cannot fold them in the default 20 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "doc_a long, doc_b long"
    )
    out = dedup.near_dup_clusters(pairs).collect()
    assert len(out) == 61
    assert {r.cluster_id for r in out} == {100}
    assert [r.doc_id for r in out if r.keep] == [100]


def test_near_dup_clusters_honours_reliable_checkpoint_dir(spark, tmp_path):
    """Every cut inside near_dup_clusters goes through session.stable, so
    with spark.citykg.checkpointDir set its cuts land in that dir."""
    import os

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    spark.conf.set("spark.citykg.checkpointDir", str(tmp_path))
    try:
        out = {r.doc_id: r.cluster_id for r in dedup.near_dup_clusters(pairs).collect()}
    finally:
        spark.conf.unset("spark.citykg.checkpointDir")
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert [f for _, _, fs in os.walk(tmp_path) for f in fs], "no checkpoint files written"


def test_filter_cascade_first_failing_rule_wins(spark):
    looping = " ".join(["loop"] * 30)  # repetitive AND non-english: repetitive wins
    short_and_bad = "x1 y2"            # too_short AND low alpha: too_short wins
    good = ("the remarkable quick brown foxes and several lazy dogs wander to "
            "distant towns in every fine morning with friendly companions for "
            "afternoon refreshments that is wonderful on sundays")
    df = spark.createDataFrame(
        [(1, looping), (2, short_and_bad), (3, good)], "doc_id long, text string"
    )
    out = {r.doc_id: (r.reason, r.keep) for r in text.filter_cascade(df).collect()}
    assert out[1] == ("repetitive", False)
    assert out[2] == ("too_short", False)
    assert out[3] == ("ok", True)


def test_ivf_lloyd_training_reduces_error_deterministically(spark, embeddings):
    # driver-side Lloyd on the hash-ordered sample must materially beat
    # seeding-only (measured ~0.59x on this corpus) and be bit-stable
    X = np.asarray([list(r.embedding) for r in embeddings.select("embedding").collect()])

    def err(C):
        C = np.asarray(C)
        d2 = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2 * X @ C.T
        return d2.min(axis=1).mean()

    trained = similarity.ivf_centroids(embeddings, iters=10)
    assert err(trained) <= err(similarity.ivf_centroids(embeddings, iters=0)) * 0.8
    assert similarity.ivf_centroids(embeddings, iters=10) == trained


def test_bmp_pixel_decode_handles_orientation_and_truncation():
    import struct

    b = multimodal.synth_image_bytes("bmp24", 13, 7)  # w=13 forces stride padding
    px = multimodal.decode_bmp_pixels(b)
    assert px.shape == (7, 13, 3)
    # gradient check at an interior pixel: B = w%61 + 3x
    assert int(px[3, 5, 0]) == 13 % 61 + 3 * 5
    # top-down variant (negative height) must decode to the same array
    neg = bytearray(b)
    neg[22:26] = struct.pack("<i", -7)
    assert (multimodal.decode_bmp_pixels(bytes(neg))[::-1] == px).all()
    # truncated pixel data and non-BMP bytes refuse to decode
    assert multimodal.decode_bmp_pixels(b[:-1]) is None
    assert multimodal.decode_bmp_pixels(b"\x89PNG1234567890" * 8) is None


def test_bmp_channel_stats_nulls_for_undecodable(spark):
    rows = [
        ("ok", "image/bmp", multimodal.synth_image_bytes("bmp24", 8, 4)),
        ("hdr_only", "image/bmp", multimodal.synth_image_bytes("bmp", 8, 4)),
        ("null", "image/bmp", None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_ref: r for r in multimodal.bmp_channel_stats(df).collect()}
    assert out["ok"].mean_b == 8 % 61 + 3 * (8 - 1) / 2
    assert out["hdr_only"].mean_b is None and out["hdr_only"].n_bytes == 54
    assert out["null"].mean_b is None and out["null"].n_bytes == 0


def test_resize_bmp_nn_downsample_exact(spark):
    import numpy as np

    # 20x10 -> max_dim 16 gives ow=16, oh=8; verify sums against a direct
    # numpy NN resample of the decoded array
    b = multimodal.synth_image_bytes("bmp24", 20, 10)
    px = multimodal.decode_bmp_pixels(b)
    xs = (np.arange(16) * 20) // 16
    ys = (np.arange(8) * 10) // 8
    want = px[ys][:, xs].reshape(-1, 3).sum(axis=0, dtype=np.int64)
    df = spark.createDataFrame([("a", "image/bmp", b)], multimodal.MEDIA_SCHEMA)
    r = multimodal.resize_bmp_nn(df, max_dim=16).collect()[0]
    assert (r.out_width, r.out_height) == (16, 8)
    assert (r.sum_b, r.sum_g, r.sum_r) == (int(want[0]), int(want[1]), int(want[2]))
    # images already inside max_dim pass through unresized
    small = multimodal.synth_image_bytes("bmp24", 9, 6)
    df2 = spark.createDataFrame([("s", "image/bmp", small)], multimodal.MEDIA_SCHEMA)
    r2 = multimodal.resize_bmp_nn(df2, max_dim=16).collect()[0]
    assert (r2.out_width, r2.out_height) == (9, 6)


def test_wav_pcm_stats_real_decode(spark):
    good = multimodal.synth_wav_bytes(100, 5)
    # stereo variant: interleave two channels; n_samples counts frames
    import struct as _s
    import numpy as np
    frames = np.repeat(np.arange(50, dtype="<i2"), 2).tobytes()
    fmt = _s.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    stereo = (b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(frames)) + b"WAVE"
              + b"fmt " + _s.pack("<I", len(fmt)) + fmt
              + b"data" + _s.pack("<I", len(frames)) + frames)
    rows = [("mono", "audio/wav", good), ("stereo", "audio/wav", stereo),
            ("junk", "audio/wav", b"not audio at all")]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_ref: r for r in multimodal.wav_pcm_stats(df).collect()}
    assert out["mono"].n_samples == 100 and out["mono"].sum_pcm == 100*5 + 3*100*99//2
    assert out["mono"].duration_ms == 100 * 1000 // 8000
    assert out["stereo"].n_samples == 50 and out["stereo"].sum_pcm == 2 * sum(range(50))
    assert out["junk"].sample_rate is None


def test_png_decode_reconstructs_all_filter_types():
    import struct as _s
    import zlib as _z

    rng = np.random.default_rng(7)
    h, w = 6, 5
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else b if pb <= pc else c

    raw = bytearray()
    prev = np.zeros(w * 3, np.int16)
    for y, ft in enumerate([0, 1, 2, 3, 4, 4]):
        row = px[y].reshape(-1).astype(np.int16)
        left = np.concatenate([np.zeros(3, np.int16), row[:-3]])
        ul = np.concatenate([np.zeros(3, np.int16), prev[:-3]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = row - left
        elif ft == 2:
            enc = row - prev
        elif ft == 3:
            enc = row - (left + prev) // 2
        else:
            enc = row - np.array(
                [paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prev, ul)],
                np.int16,
            )
        raw.append(ft)
        raw += (enc % 256).astype(np.uint8).tobytes()
        prev = row

    def chunk(tag, body):
        c = tag + body
        return _s.pack(">I", len(body)) + c + _s.pack(">I", _z.crc32(c))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", _z.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    got = multimodal.decode_png_pixels(png)
    assert got is not None and (got == px).all()
    # unsupported profiles refuse: 16-bit depth
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
           + chunk(b"IDAT", _z.compress(bytes(raw))) + chunk(b"IEND", b""))
    assert multimodal.decode_png_pixels(bad) is None


def test_gif_decode_handles_growing_lzw_table():
    import struct as _s

    # independent REAL LZW encoder: growing table, widening codes —
    # exercises the decoder paths the lazy synth encoder never hits
    # (table-driven multi-pixel entries, the code==len(table) case,
    # width bumps past 9 bits)
    w, h = 80, 60
    idx = [(x * 7 + y * 13) % 97 for y in range(h) for x in range(w)]  # rich -> deep table
    mcs = 7
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {bytes((i,)): i for i in range(1 << mcs)}
    nxt, width = end + 1, mcs + 1
    out, acc, nbits = bytearray(), 0, 0

    def emit(code, wd):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    cur = b""
    for px in idx:
        nxt_seq = cur + bytes((px,))
        if nxt_seq in table:
            cur = nxt_seq
        else:
            emit(table[cur], width)
            table[nxt_seq] = nxt
            nxt += 1
            if nxt - 1 == (1 << width) and width < 12:
                width += 1
            cur = bytes((px,))
    emit(table[cur], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    assert width > 9  # the stream genuinely grew past two width bumps

    pal = bytearray()
    for i in range(128):
        pal += bytes((i, min(2 * i, 255), min(3 * i, 255)))
    gif = (b"GIF89a" + _s.pack("<HH", w, h) + bytes((0xF6, 0, 0)) + pal
           + b"," + _s.pack("<HHHH", 0, 0, w, h) + b"\x00" + bytes((mcs,)))
    sub = bytearray()
    for i in range(0, len(out), 255):
        blk = out[i : i + 255]
        sub += bytes((len(blk),)) + blk
    gif += bytes(sub) + b"\x00;"

    px = multimodal.decode_gif_pixels(gif)
    assert px is not None and px.shape == (h, w, 3)
    assert [int(v) for v in px[:, :, 0].reshape(-1)] == idx  # R channel == palette index


def test_gif_frame_stats_samples_every_n(spark):
    b = multimodal.synth_animated_gif_bytes(10, 6, 5)
    df = spark.createDataFrame([("v", "image/gif", b)], multimodal.MEDIA_SCHEMA)
    out = sorted(
        (r.frame_idx, r.n_frames, r.mean_r)
        for r in multimodal.gif_frame_stats(df, every_n=2).collect()
    )
    # frames 0, 2, 4 of 5; frame f mean_r = (10+6+5f)%21 + (10-1)/2
    assert [(i, n) for i, n, _ in out] == [(0, 5), (2, 5), (4, 5)]
    for i, _, mr in out:
        assert abs(mr - ((16 + 5 * i) % 21 + 4.5)) < 1e-6


def test_jpeg_decoder_handles_ac_coefficients_and_rejects_offprofile():
    import struct as _s

    from citykg.ops import jpegcodec as J

    # hand-build a single-block scan with real AC coefficients (run of 2
    # zeros then -5 at zigzag k=3, and +9 at k=10) and check the decode
    # against an independent IDCT
    dc_codes = J._build_codes(J.DC_BITS, J.DC_VALS)
    ac_codes = J._build_codes(J.AC_BITS, J.AC_VALS)
    wtr = J._BitWriter()

    def put(codes, sym):
        c, l = codes[sym]
        wtr.write(c, l)

    def put_val(v):
        cat = J._category(v)
        bits = v if v >= 0 else v + (1 << cat) - 1
        return cat, bits

    cat, bits = put_val(12)        # DC = 12
    put(dc_codes, cat); wtr.write(bits, cat)
    cat, bits = put_val(-5)        # run 2 -> k=3
    put(ac_codes, (2 << 4) | cat); wtr.write(bits, cat)
    cat, bits = put_val(9)         # run 6 -> k=10
    put(ac_codes, (6 << 4) | cat); wtr.write(bits, cat)
    put(ac_codes, 0x00)            # EOB
    scan = wtr.flush()

    def seg(marker, body):
        return bytes((0xFF, marker)) + _s.pack(">H", len(body) + 2) + body

    jpg = (b"\xff\xd8"
           + seg(0xDB, bytes([0]) + bytes([16] * 64))
           + seg(0xC0, b"\x08" + _s.pack(">HH", 8, 8) + b"\x01\x01\x11\x00")
           + seg(0xC4, bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(J.AC_BITS) + bytes(J.AC_VALS))
           + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00") + scan + b"\xff\xd9")
    got = J.decode_jpeg_gray(jpg)
    assert got is not None and got.shape == (8, 8)

    zz = np.zeros(64)
    zz[0], zz[3], zz[10] = 12, -5, 9
    coeffs = np.zeros(64)
    coeffs[J.ZIGZAG] = zz * 16
    u = np.arange(8)
    B = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    B[0, :] /= np.sqrt(2)
    want = np.clip(np.round(B.T @ coeffs.reshape(8, 8) @ B) + 128, 0, 255)
    assert (got == want.astype(np.uint8)).all()
    assert got.std() > 0  # genuinely non-flat: the AC path did the work

    # off-profile rejection: 3-component SOF, progressive SOF2
    color = jpg.replace(
        seg(0xC0, b"\x08" + _s.pack(">HH", 8, 8) + b"\x01\x01\x11\x00"),
        seg(0xC0, b"\x08" + _s.pack(">HH", 8, 8) + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"),
    )
    assert J.decode_jpeg_gray(color) is None
    prog = jpg.replace(b"\xff\xc0", b"\xff\xc2")
    assert J.decode_jpeg_gray(prog) is None


def test_tfidf_and_bm25(spark):
    """Hand-computed TF-IDF/BM25 on a 3-doc corpus + plan shape (no
    cartesian, per-doc window only)."""
    import math

    from citykg.ops.relevance import bm25_scores, tfidf_topk

    d = spark.createDataFrame(
        [
            ("a", "spark spark join"),
            ("b", "join window"),
            ("c", "table scan scan"),
        ],
        "doc_id string, text string",
    )
    top = {(r.doc_id, r.rank): (r.term, r.tf, r.score)
           for r in tfidf_topk(d, k=2).collect()}
    # doc a: spark tf=2 df=1 -> 2*ln(3); join tf=1 df=2 -> ln(1.5)
    assert top[("a", 1)] == ("spark", 2, round(2 * math.log(3), 6))
    assert top[("a", 2)] == ("join", 1, round(math.log(3 / 2), 6))
    # doc c: scan tf=2 df=1 beats table tf=1 df=1
    assert top[("c", 1)][0] == "scan" and top[("c", 2)][0] == "table"

    bm = {r.doc_id: (r.bm25, r.n_terms_hit)
          for r in bm25_scores(d, ["spark", "join"]).collect()}
    assert set(bm) == {"a", "b"}  # doc c hits no query term
    # doc a: spark(tf=2,df=1) + join(tf=1,df=2), dl=3, avg_dl=8/3
    idf = lambda df_: math.log(1 + (3 - df_ + 0.5) / (df_ + 0.5))
    denom = lambda tf, dl: tf + 1.2 * (1 - 0.75 + 0.75 * dl / (8 / 3))
    expect_a = idf(1) * 2 * 2.2 / denom(2, 3) + idf(2) * 1 * 2.2 / denom(1, 3)
    assert bm["a"] == (round(expect_a, 6), 2)

    plan = tfidf_topk(d)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the top-k window must be partitioned by doc — never a global window
    w = [ln for ln in plan.splitlines() if "Window" in ln or "RunningWindowFunction" in ln]
    assert w and all("doc_id" in ln for ln in w)
    # the only single-partition exchange allowed is the one-row N agg
    assert plan.count("Exchange SinglePartition") <= 1


# ---------------- winnowing / classifier / boilerplate / semdedup ----------------

def test_hard_negatives_excludes_same_label(spark):
    """4 vectors in two tight same-direction pairs with alternating
    labels: the nearest different-label vector is always picked even
    though the nearest OVERALL vector shares the label and must be
    excluded before ranking."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.14, 0.0, 0.0], 0),  # nearest to 0 but same label
        (2, [0.9, 0.43, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        "embedding",
        F.col("label").alias("_qlabel"),
    )
    got = similarity.hard_negatives(e, q, k=2, dim=4, n_planes=2, tables=32).collect()
    assert [(r.vec_id, r.label, r.rank) for r in sorted(got, key=lambda r: r.rank)] == [
        (2, 1, 1),
        (3, 1, 2),
    ]


def test_rouge_l_hand_dp(spark):
    """Hand-checked LCS: 'a b c d e' vs 'a x c y e' -> LCS 3 (a c e),
    P=R=F=3/5; disjoint token streams -> 0 with F guarded to 0.0; and
    the max_tokens cap truncates BEFORE the DP (long tail ignored)."""
    cands = spark.createDataFrame(
        [(1, "a b c d e"), (2, "p q r s t")], "doc_id long, text string"
    )
    refs = spark.createDataFrame([(9, "a x c y e")], "eval_id long, text string")
    got = {r.doc_id: r for r in text.rouge_l(cands, refs).collect()}
    assert got[1].lcs == 3
    assert got[1].rouge_p == got[1].rouge_r == 0.6
    assert got[1].rouge_f == 0.6
    assert got[2].lcs == 0 and got[2].rouge_f == 0.0
    capped = spark.createDataFrame([(3, "z " * 10 + "a c e")], "doc_id long, text string")
    out = text.rouge_l(capped, refs, max_tokens=10).collect()[0]
    assert out.lcs == 0  # the matching suffix sits past the cap


def test_mmr_diversifies_vs_pure_relevance(spark):
    """Query along x; a near-duplicate pair ABOVE the query and an
    equally-relevant mirror vector BELOW it: pure relevance ranks the
    twin second (5990 vs twin-free scores), but after picking vec 10
    the twin pays a 3*10000 redundancy penalty while the mirror's
    similarity to 10 is negative (clamped to 0), so MMR must pick the
    mirror at pos 2 and drop the twin to pos 3. Pos-1 is a quantized
    tie (both 0.6-relevance) broken by min vec_id."""
    import math

    import numpy as np

    rows = [
        (10, [0.6, 0.8, 0.0, 0.0]),
        (11, [0.599, 0.8007, 0.0, 0.0]),  # near-duplicate of 10
        (12, [0.6, -0.8, 0.0, 0.0]),      # mirror: same relevance, diverse
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<float>"
    )
    got = sorted(
        similarity.mmr_rerank(e, q, k=3, n_cand=3).collect(), key=lambda r: r.pos
    )
    assert [r.vec_id for r in got] == [10, 12, 11]
    # pos-1 score is pure scaled relevance with float32 storage math
    x, y = float(np.float32(0.6)), float(np.float32(0.8))
    rel4 = int(math.floor(x / math.sqrt(x * x + y * y) * 10000 + 0.5))
    assert got[0].score_i == 7 * rel4


def test_winnowing_shared_run_guarantee_and_tie_rule(spark):
    """MOSS guarantee: docs sharing >= w+k-1 consecutive words share a
    fingerprint; all-equal hashes select the RIGHTMOST window position."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+k-1
    d = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"{shared} four five six seven"),
            (3, "rep rep rep rep rep rep rep rep"),  # 8 tokens -> 6 grams, all equal
        ],
        "doc_id long, text string",
    )
    rows = text.winnowing_fingerprints(d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add((r.fp_pos, r.fp_hash))
    h1 = {h for _, h in by_doc[1]}
    h2 = {h for _, h in by_doc[2]}
    assert h1 & h2, "6-word shared run must share at least one fingerprint hash"
    # doc 3: every gram hash equal -> each window picks its rightmost pos;
    # windows end at pos 3..5 -> fingerprints exactly {(3,h),(4,h),(5,h)}
    pos3 = sorted(p for p, _ in by_doc[3])
    assert pos3 == [3, 4, 5]
    assert len({h for _, h in by_doc[3]}) == 1


def test_winnowing_short_doc_emits_global_min(spark):
    """Docs with fewer than w k-grams still fingerprint (pos = maxpos branch)."""
    d = spark.createDataFrame([(7, "just four tokens here")], "doc_id long, text string")
    rows = text.winnowing_fingerprints(d).collect()  # 4 tokens -> 2 grams < w
    assert len(rows) == 1 and rows[0].fp_pos in (0, 1)


def test_classifier_scores_match_python_fold(spark):
    """The JVM expression equals a plain-Python rerun of the same hashed
    linear model (same weights, same base-31 fold, same mean)."""
    from citykg.ops.hashing import POLY_BASE, POLY_P

    docs = [(1, "spark join table"), (2, "the quick brown fox jumps")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    w = text.classifier_weights()

    def fold(tok):
        acc = 0
        for ch in tok:
            acc = (acc * POLY_BASE + ord(ch)) % POLY_P
        return acc

    got = {r.doc_id: (r.score, r.label) for r in text.classifier_scores(d).collect()}
    for doc_id, t in docs:
        toks = t.lower().split()
        exp = round(sum(w[fold(tok) % text.CLASSIFIER_BUCKETS] for tok in toks) / len(toks), 6)
        assert got[doc_id][0] == pytest.approx(exp, abs=1e-9)
        assert got[doc_id][1] == ("keep" if exp >= 0 else "drop")


def test_boilerplate_ngrams_counts_distinct_per_doc(spark):
    """A phrase repeated inside ONE page counts once; ranking is
    (doc_freq desc, gram asc)."""
    d = spark.createDataFrame(
        [
            (1, "buy now click here buy now click here"),  # internal repeat
            (2, "buy now click here something else entirely"),
            (3, "unrelated page content words only here now"),
        ],
        "doc_id long, text string",
    )
    rows = text.boilerplate_ngrams(d, n=3, top=3).collect()
    top = {r.gram: r.doc_freq for r in rows}
    assert top["buy now click"] == 2 and top["now click here"] == 2
    assert rows[0].gram == "buy now click"  # tie with 'now click here' -> gram asc
    assert abs(rows[0].doc_ratio - round(2 / 3, 6)) < 1e-9


def test_semantic_dedup_drops_in_cell_near_dups_only(spark):
    """Identical vectors always co-cell (same signs) -> higher id dropped
    with keeper = min id; a far vector survives; cells match a numpy
    recompute of the same literal hyperplanes."""
    base = np.zeros(64); base[0] = 1.0
    far = np.zeros(64); far[1] = 1.0; far[0] = -0.2
    vecs = [(1, base.tolist()), (2, base.tolist()), (3, base.tolist()), (4, far.tolist())]
    d = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: (r.cell, r.dropped, r.keeper)
           for r in dedup.semantic_dedup(d, threshold=0.9).collect()}
    assert out[1][1] == 0 and out[1][2] == -1
    assert out[2] == (out[1][0], 1, 1) and out[3] == (out[1][0], 1, 1)
    assert out[4][1] == 0
    planes = np.array(similarity._hyperplanes(64, 4, 911))
    for vid, v in vecs:
        exp_cell = int(((planes @ np.asarray(v) > 0) << np.arange(4)).sum())
        assert out[vid][0] == exp_cell


# ---------------- HITS / k-core / PQ / entropy ----------------

def test_hits_bipartite_structure(spark):
    """2 hubs x 3 authorities bipartite graph: stationary point is
    hub = 1/2 per hub, auth = 1/3 per authority (L1-normalized), and the
    power iteration is AT the fixpoint from iteration 1 — so 8 fixed
    iterations must land exactly there."""
    e = spark.createDataFrame(
        [(h, a) for h in ("h1", "h2") for a in ("a1", "a2", "a3")],
        "src string, dst string",
    )
    out = {r.id: (round(r.hub, 9), round(r.auth, 9)) for r in graph.hits(e, max_iter=8).collect()}
    for h in ("h1", "h2"):
        assert out[h] == (0.5, 0.0)
    for a in ("a1", "a2", "a3"):
        assert out[a][0] == 0.0
        assert abs(out[a][1] - 1 / 3) < 1e-9


def test_hits_matches_numpy_power_iteration(spark):
    """Asymmetric digraph: replay the same fixed-iteration L1-normalized
    recurrence with numpy on the adjacency matrix."""
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 3)]
    e = spark.createDataFrame([(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string")
    n = 4
    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = 1.0
    hub = np.full(n, 1 / n)
    auth = np.full(n, 1 / n)
    for _ in range(8):
        auth = A.T @ hub
        auth /= auth.sum()
        hub = A @ auth
        hub /= hub.sum()
    out = {r.id: (r.hub, r.auth) for r in graph.hits(e, max_iter=8).collect()}
    for i in range(n):
        assert out[f"n{i}"][0] == pytest.approx(hub[i], abs=1e-12)
        assert out[f"n{i}"][1] == pytest.approx(auth[i], abs=1e-12)


def test_kcore_star_peels_triangle_survives(spark):
    """k=2: star leaves peel in round 1, the stranded center in round 2
    (cascade); the triangle is its own 2-core with within-core degree 2."""
    e = spark.createDataFrame(
        [("c", f"l{i}") for i in range(4)] + [("t1", "t2"), ("t2", "t3"), ("t3", "t1")],
        "src string, dst string",
    )
    out = {r.id: (r.in_core, r.core_deg) for r in graph.kcore(e, k=2, rounds=12).collect()}
    assert out["c"] == (0, 0)
    for i in range(4):
        assert out[f"l{i}"] == (0, 0)
    for t in ("t1", "t2", "t3"):
        assert out[t] == (1, 2)


def test_kcore_bounded_rounds_contract(spark):
    """A 6-chain at k=2 unravels completely, but ONE round only peels the
    two endpoints — the rounds parameter is the contract, not convergence."""
    e = spark.createDataFrame(
        [(f"v{i}", f"v{i+1}") for i in range(5)], "src string, dst string"
    )
    one = {r.id: r.in_core for r in graph.kcore(e, k=2, rounds=1).collect()}
    assert one == {"v0": 0, "v5": 0, "v1": 1, "v2": 1, "v3": 1, "v4": 1}
    full = {r.id: r.in_core for r in graph.kcore(e, k=2, rounds=12).collect()}
    assert set(full.values()) == {0}


def test_ktruss_prunes_bridge_the_core_keeps(spark):
    """Two triangles joined by a bridge edge: every node is in the
    2-core (degree >= 2 throughout), but the 3-truss drops the bridge —
    it closes no triangle — while all six triangle edges survive with
    support 1. This is exactly the truss-vs-core refinement."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d")],
        "src string, dst string",
    )
    core = {r.id: r.in_core for r in graph.kcore(e, k=2, rounds=8).collect()}
    assert set(core.values()) == {1}
    out = {(r.u, r.v): (r.in_truss, r.support) for r in graph.ktruss(e, k=3, rounds=4).collect()}
    assert out[("c", "d")] == (0, 0)
    for uv in [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e"), ("e", "f"), ("d", "f")]:
        assert out[uv] == (1, 1)


def test_ktruss_cascade_and_rounds_contract(spark):
    """A triangle strip where peeling cascades: kill the strip's end
    triangle's private edge support by pruning, and the peel propagates
    inward round by round — 1 round leaves intermediate edges alive that
    a converged peel removes, locking the fixed-rounds contract."""
    # path of triangles: t0=(v0,v1,v2), t1=(v1,v2,v3) share edge (v1,v2),
    # plus a pendant edge (v3,v4) that never closes a triangle.
    e = spark.createDataFrame(
        [("v0", "v1"), ("v0", "v2"), ("v1", "v2"), ("v1", "v3"), ("v2", "v3"), ("v3", "v4")],
        "src string, dst string",
    )
    out = {(r.u, r.v): r.in_truss for r in graph.ktruss(e, k=3, rounds=4).collect()}
    # every triangle edge survives (each closes >= 1 triangle), pendant dies
    assert out[("v3", "v4")] == 0
    assert sum(out.values()) == 5
    # k=4 (support >= 2): only the shared edge (v1,v2) has support 2 in
    # round 1, but once the side edges peel it loses both triangles —
    # after convergence NOTHING survives; 1 round still keeps (v1,v2).
    one = {(r.u, r.v): r.in_truss for r in graph.ktruss(e, k=4, rounds=1).collect()}
    assert one[("v1", "v2")] == 1
    conv = {(r.u, r.v): r.in_truss for r in graph.ktruss(e, k=4, rounds=4).collect()}
    assert set(conv.values()) == {0}


def test_luby_mis_path_graph_independent_and_maximal(spark):
    """On a 6-path, the converged MIS must be independent (no two
    adjacent 'mis' nodes), maximal (every non-mis node has a mis
    neighbor), deterministic across calls, and leave nothing 'open'."""
    edges = [(i, i + 1) for i in range(5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = {r.id: r.state for r in graph.luby_mis(e, rounds=6).collect()}
    assert set(out.values()) <= {"mis", "dominated"}
    mis = {i for i, s in out.items() if s == "mis"}
    for u, v in edges:
        assert not (u in mis and v in mis)
    for i, s in out.items():
        if s != "mis":
            assert any((u in mis) for u, v in edges if v == i) or any(
                (v in mis) for u, v in edges if u == i
            )
    again = {r.id: r.state for r in graph.luby_mis(e, rounds=6).collect()}
    assert again == out


def test_allen_relations_all_13_labels(spark):
    """Hand-built interval set exercising every Allen relation; the
    classifier must assign exactly the expected label per pair."""
    from citykg.ops.temporal import allen_relations

    # intervals as integer timestamps (comparisons only, type-agnostic)
    iv = [
        (1, 1, 0, 10),
        (1, 2, 0, 10),   # equals with 1
        (1, 3, 12, 15),  # 1 precedes 3 / 2 precedes 3
        (1, 4, 10, 12),  # 1 meets 4
        (1, 5, 0, 5),    # 5 starts 1(within band of 1..5)
        (1, 6, 6, 10),   # 6 finishes 1? id band 1..6 pairs (1,6): s1<s2,e=e -> finished_by
        (1, 7, 2, 4),    # (2,7): during? band(2,7)=5 ok: s2>s1,e2<e1 -> contains
        (1, 8, 3, 20),   # (3,8): 12..15 vs 3..20 -> during; (4,8) 10..12 vs 3..20 during
        (1, 9, 19, 25),  # (8,9): 3..20 vs 19..25 -> overlaps
    ]
    df = spark.createDataFrame(iv, "user_id int, event_id long, s long, e long")
    got = {
        (r.id_a, r.id_b): r.relation
        for r in allen_relations(df, band=5).collect()
    }
    assert got[(1, 2)] == "equals"
    assert got[(1, 3)] == "precedes"
    assert got[(1, 4)] == "meets"
    assert got[(1, 5)] == "started_by"
    assert got[(1, 6)] == "finished_by"
    assert got[(2, 7)] == "contains"
    assert got[(3, 8)] == "during"
    assert got[(8, 9)] == "overlaps"
    # inverses via a pair ordered the other way: 4=(10,12), 9=(19,25):
    # outside band; use (5,9)? gap>band. (6,9): 6..10 vs 19..25 precedes.
    assert got[(6, 9)] == "precedes"


def test_coreness_levels(spark):
    """K4 + pendant + tail: K4 nodes have coreness 3, the pendant's
    anchor... the pendant itself 1; a 2-cycle-free chain stays 1."""
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    e = spark.createDataFrame(
        k4 + [("d", "p"), ("p", "q")], "src string, dst string"
    )
    out = {r.id: r.coreness for r in graph.coreness(e, k_max=4, rounds=8).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3, "p": 1, "q": 1}


def test_link_prediction_square_and_triangle(spark):
    """4-cycle: both diagonals are predicted with cn=2, aa=2/ln(2); on a
    diamond (triangle + pendant sharing two neighbors) the adjacent pair
    is anti-joined away even though it clears min_common."""
    import math

    sq = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d"), ("d", "c")], "src string, dst string"
    )
    out = {(r.u, r.v): (r.cn, r.aa) for r in graph.link_prediction(sq).collect()}
    exp = round(2.0 / math.log(2.0), 6)
    assert out == {("a", "c"): (2, exp), ("b", "d"): (2, exp)}

    dia = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d")],
        "src string, dst string",
    )
    out = {(r.u, r.v): (r.cn, r.aa) for r in graph.link_prediction(dia).collect()}
    # (b, c) is an existing edge -> excluded; (a, d) shares {b, c}, both deg 3
    assert out == {("a", "d"): (2, round(2.0 / math.log(3.0), 6))}


def test_neighborhood_similarity_diamond(spark):
    """Diamond (triangle a-b-c + d adjacent to b and c): (a, d) shares
    {b, c}, is non-adjacent, deg 2 each -> jaccard 2/(2+2-2)=1.0, cosine
    2/sqrt(4)=1.0; (b, c) shares {a, d}, IS adjacent (flag 1), deg 3
    each -> jaccard 2/(3+3-2)=0.5, cosine 2/3. Unlike link_prediction
    the adjacent pair is kept and flagged."""
    dia = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d")],
        "src string, dst string",
    )
    out = {
        (r.u, r.v): (r.cn, r.deg_u, r.deg_v, r.adjacent, r.jaccard, r.cosine)
        for r in graph.neighborhood_similarity(dia).collect()
    }
    assert out == {
        ("a", "d"): (2, 2, 2, 0, 1.0, 1.0),
        ("b", "c"): (2, 3, 3, 1, 0.5, round(2.0 / 3.0, 6)),
    }


def test_pq_codes_centroid_roundtrip(spark):
    """A vector stitched from one centroid per subspace must code to
    exactly those centroid indices with ~0 reconstruction error; codes on
    a random vector match a numpy argmin over the same codebook."""
    cb = similarity.pq_codebook()
    picks = [3, 0, 7, 5]
    stitched = [x for s, j in enumerate(picks) for x in cb[s][j]]
    rng = np.random.default_rng(5)
    rand = [round(float(x), 4) for x in rng.standard_normal(64)]
    d = spark.createDataFrame(
        [(1, [float(x) for x in stitched]), (2, rand)], "vec_id long, embedding array<float>"
    )
    out = {r.vec_id: (list(r.pq_code), r.recon_err) for r in similarity.with_pq_codes(d).collect()}
    assert out[1][0] == picks
    # float32 storage quantizes the stitched values -> tiny but nonzero err
    assert out[1][1] < 1e-9
    exp = []
    for s in range(4):
        sub = np.array(np.asarray(rand[s * 16:(s + 1) * 16], dtype=np.float32), dtype=np.float64)
        dists = [float(((sub - np.asarray(c)) ** 2).sum()) for c in cb[s]]
        exp.append(int(np.argmin(dists)))
    assert out[2][0] == exp


def test_token_entropy_closed_form(spark):
    """'a a b' -> H of (2/3, 1/3) = 0.918296, ttr = 2/3; uniform text ->
    H = log2(n_types)."""
    d = spark.createDataFrame(
        [(1, "a a b"), (2, "w x y z")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.token_entropy(d).collect()}
    assert out[1].n_tokens == 3 and out[1].n_types == 2
    assert out[1].entropy == pytest.approx(-(2 / 3) * np.log2(2 / 3) - (1 / 3) * np.log2(1 / 3), abs=1e-6)
    assert out[1].ttr == pytest.approx(round(2 / 3, 6), abs=1e-9)
    assert out[2].entropy == pytest.approx(2.0, abs=1e-9)


def test_bpe_merges_known_trajectory(spark):
    """Corpus of 4x'low' + 1x'lower': l-o wins (5), then the learned
    'lo' symbol participates in the next merge (lo-w, 5); at rank 3 the
    1-count pairs (e,r) and (low,e) tie and the (l_sym, r_sym) ASC
    tie-break picks (e,r) — locking the determinism rule."""
    d = spark.createDataFrame(
        [(1, "low low low"), (2, "lower low")], "doc_id long, text string"
    )
    rows = text.bpe_merges(d, n_merges=3).orderBy("rank").collect()
    assert [(r.l_sym, r.r_sym, r.merged, r.pair_cnt) for r in rows] == [
        ("l", "o", "lo", 5),
        ("lo", "w", "low", 5),
        ("e", "r", "er", 1),
    ]


def test_bpe_merge_applies_greedily_on_runs(spark):
    """'aaaa' + merge(a,a) must yield [aa, aa] (greedy left scan), so the
    second merge learned is (aa, aa)."""
    d = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    rows = text.bpe_merges(d, n_merges=2).orderBy("rank").collect()
    assert (rows[0].l_sym, rows[0].r_sym, rows[0].pair_cnt) == ("a", "a", 6)
    assert (rows[1].l_sym, rows[1].r_sym, rows[1].pair_cnt) == ("aa", "aa", 2)


def test_local_clustering_triangle_with_pendant(spark):
    """Triangle + pendant: triangle vertices have lcc 1 except the one
    with the pendant (deg 3, 1 triangle -> 1/3); pendant lcc 0."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "p")], "src string, dst string"
    )
    out = {r.id: (r.deg, r.tri_cnt, r.lcc) for r in graph.local_clustering(e).collect()}
    assert out["a"] == (3, 1, round(1 / 3, 6))
    assert out["b"] == (2, 1, 1.0) and out["c"] == (2, 1, 1.0)
    assert out["p"] == (1, 0, 0.0)


def test_corpus_zipf_closed_form(spark):
    """freq (4,2,1) at ranks (1,2,3): slope equals the numpy lstsq fit on
    (ln rank, ln freq); top token is the most frequent."""
    d = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b c")], "doc_id long, text string"
    )
    r = text.corpus_zipf(d).collect()[0]
    assert r.vocab_size == 3 and r.total_tokens == 7
    assert r.top_token == "a" and r.top_freq == 4
    x = np.log([1, 2, 3]); y = np.log([4, 2, 1])
    slope = ((len(x) * (x * y).sum() - x.sum() * y.sum())
             / (len(x) * (x * x).sum() - x.sum() ** 2))
    assert r.zipf_slope == pytest.approx(slope, abs=1e-6)
    assert r.hapax_ratio == pytest.approx(round(1 / 3, 6), abs=1e-9)  # only 'c' is a hapax


def test_kg_transe_matches_python_recompute(spark):
    """The hash-embedding score equals a plain-Python rerun of the same
    fold + component formula."""
    import __spark_entry__ as entry
    from citykg.ops.hashing import POLY_BASE, POLY_P

    df = entry.queries()["kg_transe"](spark, SF_SMOKE)
    rows = df.orderBy("subj", "pred", "obj").limit(5).collect()

    def fold(s):
        acc = 0
        for ch in s:
            acc = (acc * POLY_BASE + ord(ch)) % POLY_P
        return acc

    for r in rows:
        fh, fr, ft = fold(r.subj), fold(r.pred), fold(r.obj)
        score = sum(
            abs(((fh % 100003) * p) % 1000 / 999.0
                + ((fr % 100003) * p) % 1000 / 999.0
                - ((ft % 100003) * p) % 1000 / 999.0
                - 0.5)
            for p in entry._TRANSE_PRIMES
        )
        assert r.transe_l1 == pytest.approx(round(score, 6), abs=1e-9)


def test_personalized_pagerank_matches_numpy(spark):
    """PPR on a digraph equals a numpy replay of the same recurrence
    (restart + dangling mass to seeds); mass sums to 1 and concentrates
    on/near the seed."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]  # 4 dangles into 4? no: 4 is a sink
    e = spark.createDataFrame([(f"s{a}", f"s{b}") for a, b in edges], "src string, dst string")
    n, alpha, iters = 5, 0.3, 8
    seeds = np.array([1.0, 0, 0, 0, 0])  # s0 only
    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = 1.0
    outdeg = A.sum(axis=1)
    r = seeds.copy()
    for _ in range(iters):
        inflow = np.zeros(n)
        for a, b in edges:
            inflow[b] += r[a] / outdeg[a]
        dangling = r[outdeg == 0].sum()
        r = alpha * seeds + (1 - alpha) * dangling * seeds + (1 - alpha) * inflow
    out = {
        x.id: x.rank
        for x in graph.personalized_pagerank(e, "id = 's0'", max_iter=iters).collect()
    }
    for i in range(n):
        assert out[f"s{i}"] == pytest.approx(r[i], abs=1e-12)
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)
    assert out["s0"] == max(out.values())


def test_event_props_stats_json_nulls(spark):
    """Missing keys and malformed JSON fold to NULL (not errors, not
    zeros) and stay out of min/max/sum but in n."""
    import __spark_entry__ as entry

    rows = [
        (1, "a", '{"k": 5}'),
        (2, "a", '{"other": 1}'),   # key missing
        (3, "a", "not json"),       # malformed
        (4, "b", '{"k": -2}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, props string")
    df.createOrReplaceTempView("_props_probe")
    from pyspark.sql import functions as F
    k = F.get_json_object("props", "$.k").cast("int")
    out = {
        r.event_type: r
        for r in df.withColumn("_k", k).groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_k").isNotNull(), 1).otherwise(0)).alias("n_with_k"),
            F.min("_k").alias("k_min"), F.max("_k").alias("k_max"),
            F.sum("_k").cast("long").alias("k_sum"),
        ).collect()
    }
    assert out["a"].n == 3 and out["a"].n_with_k == 1
    assert out["a"].k_min == 5 and out["a"].k_sum == 5
    assert out["b"].k_min == -2 and out["b"].k_max == -2


def test_hits_and_pagerank_empty_edges(spark):
    """Degenerate-case guard (r4 ADVICE): an empty edge frame returns an
    empty score frame instead of ZeroDivisionError on 1.0 / n."""
    from citykg.ops.graph import hits, pagerank

    e = spark.createDataFrame([], "src string, dst string")
    assert hits(e, max_iter=2).collect() == []
    assert pagerank(e, max_iter=2).collect() == []


def test_texture_atlas_shelf_pack(spark):
    """Shelf packer: sorted placement, shelf wrap at atlas width, POTS
    dims, uv bounds, and the reference's < 2-images early-out
    (KmlGenericObject.java:1192-1195)."""
    from citykg.ops.multimodal import texture_atlas_pack

    rows = [
        ("B1", "t1", 40, 30), ("B1", "t2", 40, 20),
        ("B1", "t3", 10, 30), ("B1", "t4", 20, 10),
        ("B2", "solo", 33, 17),
    ]
    df = spark.createDataFrame(rows, "gml_id string, uri string, width int, height int")
    out = {(r.gml_id, r.uri): r for r in
           texture_atlas_pack(df, atlas_width=64).collect()}
    # B1 sort order: t1 (h30,w40), t3 (h30,w10), t2 (h20,w40), t4 (h10,w20)
    t1, t3, t2, t4 = out[("B1", "t1")], out[("B1", "t3")], out[("B1", "t2")], out[("B1", "t4")]
    assert (t1.x, t1.y) == (0, 0)
    assert (t3.x, t3.y) == (40, 0)      # fits beside t1 (40+10 <= 64)
    assert (t2.x, t2.y) == (0, 30)      # 50+40 > 64 -> new shelf at y=30
    assert (t4.x, t4.y) == (40, 30)     # fits beside t2
    assert t1.atlas_w == 64 and t1.atlas_h == 50  # 30 + max(20,10)
    assert t1.pots_w == 64 and t1.pots_h == 64
    assert abs(t2.u1 - 40 / 64) < 1e-12 and abs(t2.v1 - 1.0) < 1e-12
    solo = out[("B2", "solo")]
    assert (solo.x, solo.y, solo.atlas_w, solo.atlas_h) == (0, 0, 33, 17)


def test_kml_geometry_groups_by_surface_type(spark):
    """GEOMETRY display form: one placemark per (feature, type), wall
    polygons aggregated into one MultiGeometry in sorted order, id/style
    per the reference (KMLGeom_ prefix, #<type>Normal style)."""
    from citykg.ops.kml import kml_geometry_placemarks

    rows = [
        ("B1", "0#0#0#9#0#0#9#0#9#0#0#9#0#0#0", "WallSurface"),
        ("B1", "0#0#0#0#8#0#0#8#9#0#0#9#0#0#0", "WallSurface"),
        ("B1", "0#0#9#9#0#9#9#8#9#0#8#9#0#0#9", "RoofSurface"),
    ]
    df = spark.createDataFrame(rows, "gml_id string, lit string, surf_type string")
    out = {r.surf_type: r.kml for r in
           kml_geometry_placemarks(df, "gml_id", "lit", "surf_type").collect()}
    assert set(out) == {"WallSurface", "RoofSurface"}
    wall = out["WallSurface"]
    assert wall.startswith('<Placemark id="KMLGeom_B1_WallSurface"><name>B1_WallSurface</name>')
    assert "<styleUrl>#WallSurfaceNormal</styleUrl>" in wall
    assert wall.count("<Polygon>") == 2 and out["RoofSurface"].count("<Polygon>") == 1
    # deterministic polygon order: sorted XML
    p1 = wall.index("0,0,0 0,8,0"); p2 = wall.index("0,0,0 9,0,0")
    assert p1 < p2


def test_bpe_batched_agrees_and_diverges_as_documented(spark):
    """bpe_train_batched == bpe_merges on a symbol-disjoint fixture
    (the provable-agreement contract); on an interfering corpus the
    batched path may diverge — both behaviors pinned."""
    from citykg.ops.text import bpe_merges, bpe_train_batched

    disjoint = spark.createDataFrame(
        [("ab ab ab cd cd ef",)] * 5, "text string"
    )
    b = [(r.rank, r.l_sym, r.r_sym, r.merged, r.pair_cnt)
         for r in bpe_train_batched(disjoint, n_merges=3, batch=3).collect()]
    e = [(r.rank, r.l_sym, r.r_sym, r.merged, r.pair_cnt)
         for r in bpe_merges(disjoint, n_merges=3).collect()]
    assert b == e and len(b) == 3
    assert b[0][1:4] == ("a", "b", "ab")
    # driver round-trips: batched ran ONE pair-count collect, exact ran 3
    # (shape asserted by construction: batch == n_merges above)


def test_texture_atlas_invariants_randomized(spark):
    """Seeded randomized pack: every image placed exactly once, inside
    the atlas bounds, pairwise non-overlapping within a feature, stable
    across runs — including widths above atlas_width (widening) and
    single-image features (early-out)."""
    from citykg.ops.multimodal import texture_atlas_pack

    df = spark.range(600).selectExpr(
        "concat('F', id % 137) as gml_id",
        "concat('u', id) as uri",
        "cast(1 + pmod(xxhash64(id, 7), 80) as int) as width",
        "cast(1 + pmod(xxhash64(id, 11), 60) as int) as height",
    )
    rows = texture_atlas_pack(df, atlas_width=64).collect()
    again = texture_atlas_pack(df, atlas_width=64).collect()
    key = lambda r: (r.gml_id, r.uri)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))
    assert {(r.gml_id, r.uri, r.x, r.y) for r in rows} == {
        (r.gml_id, r.uri, r.x, r.y) for r in again
    }
    assert len(rows) == 600 and len(set(map(key, rows))) == 600
    by_feat = {}
    for r in rows:
        assert 0 <= r.x and r.x + r.width <= r.atlas_w, (r.uri, r.x, r.width, r.atlas_w)
        assert 0 <= r.y and r.y + r.height <= r.atlas_h
        assert r.pots_w >= r.atlas_w and r.pots_h >= r.atlas_h
        assert 0.0 <= r.u0 < r.u1 <= 1.0 and 0.0 <= r.v0 < r.v1 <= 1.0
        by_feat.setdefault(r.gml_id, []).append(r)
    for feat, rs in by_feat.items():
        for i in range(len(rs)):
            for j in range(i + 1, len(rs)):
                a, b = rs[i], rs[j]
                overlap = not (
                    a.x + a.width <= b.x or b.x + b.width <= a.x
                    or a.y + a.height <= b.y or b.y + b.height <= a.y
                )
                assert not overlap, (feat, a.uri, b.uri)


def test_dedup_repeated_spans_c4(spark):
    """Corpus-wide first-occurrence span dedup: doc 1's repeated span
    survives only at its first global position (doc 0), and reassembly
    preserves surviving order."""
    import hashlib

    from citykg.ops.dedup import dedup_repeated_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d X Y Z W"),          # spans: "a b c d", "X Y Z W"
            (1, "X Y Z W p q r s"),          # first span duplicates doc 0's
            (2, "p q r s a b c d tail"),     # both spans seen before + "tail"
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in dedup_repeated_spans(docs, span_tokens=4).collect()}
    assert (out[0]["n_kept"], out[0]["n_dropped"]) == (2, 0)
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (1, 1)
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 2)
    assert out[1]["clean_hash"] == hashlib.md5(b"p q r s").hexdigest()
    assert out[2]["clean_hash"] == hashlib.md5(b"tail").hexdigest()
    assert out[0]["clean_hash"] == hashlib.md5(b"a b c d X Y Z W").hexdigest()


def test_ccnet_tiers_terciles(spark):
    """Per-language tercile cuts: best scores land in head, sizes follow
    the 3*rank <= n / <= 2n rule, and a second language ranks
    independently."""
    from citykg.ops.relevance import ccnet_tiers

    rows = [(i, "en", float(-i)) for i in range(1, 8)]  # scores -1..-7
    rows += [(100 + i, "de", float(-i)) for i in range(1, 4)]
    scored = spark.createDataFrame(rows, "doc_id long, lang string, avg_logprob double")
    out = {(r["lang"], r["doc_id"]): r for r in ccnet_tiers(scored).collect()}
    # en: n=7 -> head = ranks 1-2 (3*2=6<=7), middle = 3-4, tail = 5-7
    assert [out[("en", i)]["tier"] for i in range(1, 8)] == [
        "head", "head", "middle", "middle", "tail", "tail", "tail"
    ]
    assert out[("en", 1)]["lm_rank"] == 1  # best score = rank 1
    # de: n=3 -> exactly one per tier, ranked within its own language
    assert [out[("de", 100 + i)]["tier"] for i in range(1, 4)] == ["head", "middle", "tail"]


def test_bpe_encode_greedy_merge_order(spark):
    """Merge priority: ('t','h') then ('th','e') composes to one 'the'
    token; a later merge never preempts an earlier one; counts follow."""
    import hashlib

    from citykg.ops.text import bpe_encode

    docs = spark.createDataFrame(
        [(0, "the theft"), (1, "order order!"), (2, "zzz")],
        "doc_id long, text string",
    )
    merges = [("t", "h"), ("th", "e"), ("e", "r"), ("o", "r"), ("or", "d")]
    out = {r["id"]: r for r in bpe_encode(docs, merges=merges).collect()}
    # 'the' -> ['the']; 'theft' -> ['the','f','t']
    assert out[0]["n_bpe_tokens"] == 4 and out[0]["n_words"] == 2
    assert out[0]["encoded_hash"] == hashlib.md5(b"the | the f t").hexdigest()
    # 'order' -> 'o r d e r' -> ('e','r')-> 'o r d er' -> ('o','r')-> 'or d er'
    # -> ('or','d')-> 'ord er'  (x2 words after punct split)
    assert out[1]["encoded_hash"] == hashlib.md5(b"ord er | ord er").hexdigest()
    assert out[1]["n_bpe_tokens"] == 4
    # no merge fires on 'zzz' -> 3 char tokens
    assert out[2]["n_bpe_tokens"] == 3


def test_chunk_windows_stride_overlap(spark):
    from citykg.ops.text import chunk_windows

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "x y"), (2, " ")],
        "doc_id long, text string",
    )
    out = chunk_windows(docs, window=4, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["chunk_idx"], r["chunk_text"]))
    # 10 tokens, window 4, stride 2 -> ceil(6/2)+1 = 4 chunks, last full
    assert sorted(by_doc[0]) == [
        (0, "a b c d"), (1, "c d e f"), (2, "e f g h"), (3, "g h i j")
    ]
    # short doc -> one truncated chunk; blank doc -> no chunks
    assert sorted(by_doc[1]) == [(0, "x y")]
    assert 2 not in by_doc


def test_emb_centroids_mean_pooling(spark):
    from citykg.ops.similarity import emb_centroids

    d = spark.createDataFrame(
        [(0, [1.0, 2.0], 7), (1, [3.0, 6.0], 7), (2, [10.0, 20.0], 9)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["dim"]): r for r in emb_centroids(d).collect()}
    assert out[(7, 0)]["mean"] == 2.0 and out[(7, 1)]["mean"] == 4.0
    assert out[(7, 0)]["n_vecs"] == 2
    assert out[(9, 0)]["mean"] == 10.0 and out[(9, 1)]["n_vecs"] == 1


def test_kmeans_lloyd_converges_and_keeps_empty_clusters(spark):
    from citykg.ops.similarity import kmeans_lloyd

    # two tight groups far apart; k=2 init = first two vectors (both in
    # group A) -> iteration must migrate one centroid to group B
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (10, [100.0, 100.0]), (11, [101.0, 100.0]), (12, [100.0, 101.0]),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r["cluster"] for r in kmeans_lloyd(d, k=2, iters=3).collect()}
    assert out[0] == out[1] == out[2]
    assert out[10] == out[11] == out[12]
    assert out[0] != out[10]
    # k=3 on 2 natural groups: some cluster may end empty — must not crash
    out3 = kmeans_lloyd(d, k=3, iters=3).select("cluster").distinct().count()
    assert 1 <= out3 <= 3


def test_feature_hash_sparse_signed_counts(spark):
    from citykg.ops.text import feature_hash_vectors

    docs = spark.createDataFrame(
        [(0, "spark spark join"), (1, "spark"), (2, "")],
        "doc_id long, text string",
    )
    rows = feature_hash_vectors(docs, dims=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], {})[r["dim"]] = r["value"]
    # same token -> same dim and sign everywhere; doc 0 has 2x the weight
    (spark_dim, spark_val), = [
        (d, v) for d, v in by_doc[1].items()
    ]
    assert by_doc[0][spark_dim] == 2 * spark_val
    assert abs(spark_val) == 1
    # empty doc -> no rows (sparse)
    assert 2 not in by_doc
    # dims bounded
    assert all(0 <= d < 16 for m in by_doc.values() for d in m)


def test_dsir_weights_favor_target_tokens(spark):
    """Docs made of target-domain tokens must outscore docs of raw-only
    tokens; token counts are exact; the draw is deterministic."""
    from citykg.ops.hashing import POLY_BASE, POLY_P

    def fold(s):
        acc = 0
        for ch in s:
            acc = (acc * POLY_BASE + ord(ch)) % POLY_P
        return acc

    a, b = "alpha", "omega"
    assert fold(a) % 64 != fold(b) % 64  # distinct feature cells
    rows = [(str(i), "en", f"{a} {a} {a}") for i in range(5)]
    rows += [(str(i + 5), "de", f"{b} {b} {b}") for i in range(5)]
    rows.append(("x", "de", f"{a} {a} {a}"))  # raw doc that LOOKS target-like
    d = spark.createDataFrame(rows, "doc_id string, lang string, text string")
    out = {r.id: (r.logw, r.n_toks) for r in text.dsir_weights(d).collect()}
    assert all(n == 3 for _, n in out.values())
    assert out["x"][0] == out["0"][0]  # weight depends on content, not label
    assert out["x"][0] > out["5"][0]  # target-like beats raw-only


def test_label_propagation_two_triangles(spark):
    """Two triangles joined by one bridge edge: after 3 deterministic
    min-tiebreak rounds each triangle converges to its own min id (the
    bridge can't outvote two in-triangle neighbors)."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    out = {r.id: r.label for r in graph.label_propagation(e, rounds=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == out[5] == out[6]
    assert out[4] != out[1]


def test_modularity_two_triangles_vs_networkx_formula(spark):
    """Two triangles + bridge, perfect 2-community split: m=7,
    within=6, each community degree sum 7 -> Q = 6/7 - 2*(7/14)^2 = 0.357143."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    lab = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)], "id long, label long"
    )
    r = graph.modularity(e, lab).collect()[0]
    assert (r.n_communities, r.n_edges, r.modularity) == (2, 7, round(6 / 7 - 2 * 0.25, 6))


def test_assortativity_star_is_negative(spark):
    """A star graph is maximally disassortative: every edge joins the
    deg-4 hub to a deg-1 leaf -> r = -1."""
    e = spark.createDataFrame([(0, i) for i in range(1, 5)], "src long, dst long")
    r = graph.assortativity(e).collect()[0]
    assert r.n_edges == 4
    assert r.assortativity == -1.0


def test_bloom_probe_no_false_negatives(spark):
    """The Bloom filter may over-approximate but NEVER under-approximate:
    every exact-contaminated window must be bloom-positive
    (n_exact_pos <= n_bloom_pos per doc), the false-positive identity
    n_false_pos == n_bloom_pos - n_exact_pos holds, and a corpus doc
    that shares its whole text with the eval set is fully flagged."""
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
            (2, "totally different words nothing shared here at all"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.bloom_probe(corpus, eval_df, n=8).collect()}
    # doc 1: single whole-doc window, exact hit -> bloom hit, 0 false pos
    assert rows[1].n_windows == 1 and rows[1].n_exact_pos == 1
    assert rows[1].n_bloom_pos == 1 and rows[1].n_false_pos == 0
    # doc 3 contains the eval 8-gram as its first window
    assert rows[3].n_exact_pos >= 1
    for r in rows.values():
        assert r.n_exact_pos <= r.n_bloom_pos
        assert r.n_false_pos == r.n_bloom_pos - r.n_exact_pos


def test_containment_is_asymmetric_and_catches_excerpts(spark):
    """A 5-gram doc fully inside a 40-gram doc: containment(a in b)=1.0
    while Jaccard is small; the pair surfaces at threshold 0.5 in the
    containment op but not the Jaccard op."""
    small = "alpha beta gamma delta epsilon zeta eta"
    big = small + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): (r.containment_a, r.containment_b)
           for r in dedup.containment_pairs(df, threshold=0.5).collect()}
    assert set(out) == {(1, 2)}
    ca, cb = out[(1, 2)]
    assert ca == 1.0 and cb < 0.5          # asymmetry
    assert not dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()


def test_random_walks_policy_and_dead_ends(spark):
    """Walks follow edges only, are seed-deterministic, every live step
    emits exactly one successor per walk, and dead-end nodes terminate
    their walk early instead of erroring."""
    from citykg.ops.graph import random_walks

    edges = spark.createDataFrame(
        [("n1", "n2"), ("n1", "n3"), ("n2", "n3"), ("n3", "n1"),
         ("n2", "dead9")],  # dead9 has no out-edges
        "src string, dst string",
    )
    starts = spark.createDataFrame([("n1",), ("n2",)], "node string")
    out = random_walks(edges, starts, n_walks=2, length=3, seed=7).collect()
    adj = {("n1", "n2"), ("n1", "n3"), ("n2", "n3"), ("n3", "n1"), ("n2", "dead9")}
    walks = {}
    for r in out:
        walks.setdefault(r.walk_id, {})[r.step] = r.node
    assert len(walks) == 4  # 2 starts x 2 walks
    for wid, steps in walks.items():
        seq = [steps[i] for i in sorted(steps)]
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in adj  # every hop is a real edge
        # steps are contiguous from 0: a dead end truncates, never skips
        assert sorted(steps) == list(range(len(steps)))
        if seq[-1] != "dead9":
            assert len(seq) == 4  # start + 3 steps when never stuck
    # determinism: re-running with the same seed reproduces the corpus
    again = random_walks(edges, starts, n_walks=2, length=3, seed=7).collect()
    assert {(r.walk_id, r.step, r.node) for r in again} == \
           {(r.walk_id, r.step, r.node) for r in out}


def test_rolling_daily_avg_range_frame(spark):
    """RANGE frame spans calendar distance: a silent gap shrinks the
    window (day 10 sees only itself when the last event was 9 days
    before with a 7-day window)."""
    from datetime import datetime

    from citykg.ops.temporal import rolling_daily_avg

    rows = [
        (1, datetime(2024, 1, 1, 1), 2.0),
        (1, datetime(2024, 1, 2, 1), 4.0),
        (1, datetime(2024, 1, 10, 1), 10.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {r.day: (r.roll_avg, r.n_days_in_window)
           for r in rolling_daily_avg(df, window_days=7).collect()}
    assert out["2024-01-01"] == (2.0, 1)
    assert out["2024-01-02"] == (3.0, 2)
    assert out["2024-01-10"] == (10.0, 1)  # gap > 7 days: window resets


def test_containment_matches_python_reference_on_random_docs(spark):
    """containment_pairs == the set-algebra definition computed in
    Python on 40 seeded-random documents (threshold 0.3, 3-gram sets)."""
    import random

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 15))))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): (r.containment_a, r.containment_b)
           for r in dedup.containment_pairs(df, threshold=0.3).collect()}

    def grams(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))
                if len(w[i:i + 3]) == 3} or {" ".join(w)}

    # mirror word_shingles' short-doc fallback: < 3 tokens yields the
    # single truncated shingle of the whole text
    def grams_like_op(t):
        w = t.lower().strip().split()
        n = max(len(w) - 3, 0)
        return {" ".join(w[i:i + 3]) for i in range(n + 1)}

    want = {}
    for a, ta in docs:
        for b, tb in docs:
            if a >= b:
                continue
            sa, sb = grams_like_op(ta), grams_like_op(tb)
            inter = len(sa & sb)
            if not inter:
                continue
            ca, cb = inter / len(sa), inter / len(sb)
            if ca >= 0.3 or cb >= 0.3:
                want[(a, b)] = (round(ca, 6), round(cb, 6))
    assert got == want


def test_pq_adc_self_distance_is_reconstruction_error(spark, embeddings):
    """ADC(q, code(q)) is the per-subspace minimum sum == the PQ
    reconstruction error, and no code can score lower — so each query's
    rank-1 ADC score must equal its own recon_err exactly (the winning
    vec_id may be a code-collision twin; the SCORE is the invariant)."""
    q = embeddings.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    top1 = similarity.pq_adc_topk(embeddings, q, k=1).select(
        (F.col("query_id") - 1_000_000).alias("vec_id"), "adc"
    )
    own = similarity.with_pq_codes(embeddings.where(F.col("vec_id") < 5)).select(
        "vec_id", "recon_err"
    )
    rows = top1.join(own, "vec_id").collect()
    assert len(rows) == 5
    for r in rows:
        assert r.adc == r.recon_err


def test_ivfpq_full_probe_equals_exhaustive_adc(spark, embeddings):
    """nprobe == n_centroids (here 5, a non-divisor cell count): the
    inverted lists partition the corpus, so IVF-PQ must reproduce the
    exhaustive ADC ranking row for row."""
    q = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = similarity.ivfpq_ann_topk(
        embeddings, q, k=5, n_centroids=5, nprobe=5
    )
    exhaustive = similarity.pq_adc_topk(embeddings, q, k=5)
    got = sorted(map(tuple, full.collect()))
    want = sorted(map(tuple, exhaustive.collect()))
    assert got == want and len(got) == 25


def test_ivfpq_pruned_probe_scores_are_true_adc(spark, embeddings):
    """nprobe < n_centroids (the production dial): results may miss
    neighbors whose cell wasn't probed, but every returned (query, id)
    pair must carry its TRUE exhaustive ADC score and appear in the
    exhaustive candidate ranking — pruning changes recall, never
    scores."""
    q = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pruned = similarity.ivfpq_ann_topk(
        embeddings, q, k=5, n_centroids=8, nprobe=2
    ).select("query_id", "vec_id", "adc")
    exhaustive = similarity.pq_adc_topk(
        embeddings, q, k=10_000_000
    ).select("query_id", "vec_id", "adc")
    missing = pruned.exceptAll(exhaustive)
    assert missing.count() == 0
    assert pruned.count() > 0


def test_hll_multiplicity_invariance_and_accuracy(spark):
    """HLL's defining property: the register file depends only on the SET
    of keys, so replicating every row 3x leaves the estimate bit-identical;
    and with m=256 registers the estimate of 2000 true distincts lands
    within 4 standard errors (sigma ~ 1.04/sqrt(256) = 6.5%)."""
    from citykg.ops import sketch

    keys = spark.range(2000).selectExpr("concat('u', id) as k", "'g' as g")
    tripled = keys.union(keys).union(keys)
    e1 = sketch.hll_estimate(
        sketch.hll_registers(keys, "k", ["g"]), ["g"]
    ).collect()[0]
    e3 = sketch.hll_estimate(
        sketch.hll_registers(tripled, "k", ["g"]), ["g"]
    ).collect()[0]
    assert e1.hll_estimate == e3.hll_estimate
    assert abs(e1.hll_estimate - 2000) / 2000 < 4 * 1.04 / 16


def test_hll_small_range_linear_counting(spark):
    """With 5 distinct keys in 256 registers the raw estimate falls in the
    linear-counting branch; the correction m*ln(m/V) is exact enough to
    round to the true count."""
    from citykg.ops import sketch

    keys = spark.range(5).selectExpr("concat('k', id) as k", "'g' as g")
    e = sketch.hll_estimate(sketch.hll_registers(keys, "k", ["g"]), ["g"]).collect()[0]
    assert round(e.hll_estimate) == 5


def test_countmin_one_sided_error(spark):
    """CMS never underestimates: for every key, min-over-rows >= true
    count; and the overestimate is bounded by the total stream count."""
    from citykg.ops import sketch

    # 50 keys, key i appears i+1 times -> skewed truth
    df = spark.range(50).selectExpr(
        "explode(sequence(0, cast(id as int))) as _", "concat('k', id) as k"
    ).select("k")
    total = df.count()
    cms = sketch.countmin_sketch(df, "k", d=3, w=64)  # small w forces collisions
    truth = df.groupBy("k").agg(F.count("*").alias("true_cnt"))
    est = sketch.countmin_estimate(cms, truth.select("k"), "k", d=3, w=64)
    rows = truth.join(est, "k").collect()
    assert len(rows) == 50
    for r in rows:
        assert r.cms_estimate >= r.true_cnt
        assert r.cms_estimate <= total
    # with w=64 << 50 keys at least one collision is certain by pigeonhole
    # on any single row, but the min over 3 rows can still be exact; just
    # assert the sketch is not trivially the total everywhere
    assert any(r.cms_estimate == r.true_cnt for r in rows)


def test_bounded_reachability_min_depth_and_cycles(spark):
    """Chain a->b->c->d gives depths 1..3 from a; a diamond's converging
    paths keep the MINIMUM depth; a 3-cycle yields both orientations at
    their shortest length and never emits self-pairs."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),       # chain
         ("p", "q"), ("p", "r"), ("q", "s"), ("r", "s"), ("p", "s"),  # diamond + shortcut
         ("x", "y"), ("y", "z"), ("z", "x")],      # 3-cycle
        "src string, dst string",
    )
    got = {(r.src, r.dst): r.depth for r in graph.bounded_reachability(edges, 6).collect()}
    assert got[("a", "b")] == 1 and got[("a", "c")] == 2 and got[("a", "d")] == 3
    assert got[("p", "s")] == 1  # shortcut wins over the 2-hop diamond paths
    assert got[("x", "z")] == 2 and got[("z", "y")] == 2
    assert all(s != d for (s, d) in got)


def test_scc_cycles_vs_dag_edges(spark):
    """Two 3-cycles joined by one-way bridges plus a tail: SCCs are the
    cycles; the bridge and tail nodes are singletons even though the
    whole graph is one weak component (what distinguishes SCC from
    connected_components)."""
    e = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
         ("a1", "b1"),
         ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
         ("b2", "z1"), ("z1", "z2")],
        "src string, dst string",
    )
    out = {r.id: r.scc for r in graph.scc(e, max_depth=6).collect()}
    assert out == {
        "a1": "a1", "a2": "a1", "a3": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
        "z1": "z1", "z2": "z2",
    }


def test_scc_depth_contract(spark):
    """A 5-cycle needs max_depth >= 4 for mutual pairs; at max_depth=2
    the operator honestly degrades to singletons (the bounded-diameter
    contract, same as bounded_reachability)."""
    e = spark.createDataFrame(
        [(f"c{i}", f"c{(i + 1) % 5}") for i in range(5)],
        "src string, dst string",
    )
    full = {r.id: r.scc for r in graph.scc(e, max_depth=5).collect()}
    assert set(full.values()) == {"c0"}
    shallow = {r.id: r.scc for r in graph.scc(e, max_depth=2).collect()}
    assert all(k == v for k, v in shallow.items())


def test_harmonic_closeness_hand_computed(spark):
    # path a->b->c plus a->c shortcut: d(a,b)=1, d(a,c)=1 (shortcut),
    # d(b,c)=1; harmonic(a)=2.0, harmonic(b)=1.0, harmonic(c)=0.0
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], ["src", "dst"]
    )
    got = {
        r["id"]: (r["harmonic"], r["eccentricity"])
        for r in graph.harmonic_closeness(e, max_depth=4).collect()
    }
    assert got == {"a": (2.0, 1), "b": (1.0, 1), "c": (0.0, 0)}


def test_harmonic_closeness_depth_bound_and_chain(spark):
    # chain 0->1->2->3->4: harmonic(0) = 1 + 1/2 + 1/3 with max_depth=3
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], ["src", "dst"]
    )
    got = {r["id"]: r for r in graph.harmonic_closeness(e, max_depth=3).collect()}
    assert got[0]["harmonic"] == round(1 + 0.5 + 1 / 3, 8)
    assert got[0]["eccentricity"] == 3
    assert got[4]["harmonic"] == 0.0


def test_skyline_2d_matches_bruteforce(spark):
    from citykg.ops.skyline import skyline_2d

    rng = np.random.default_rng(7)
    pts = [
        (float(x), int(y))
        for x, y in zip(rng.integers(0, 40, 300), rng.integers(0, 40, 300))
    ]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y", n_partitions=7).collect()}
    uniq = set(pts)
    brute = {
        p
        for p in uniq
        if not any(
            q != p and q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in uniq
        )
    }
    assert got == brute


def test_skyline_2d_duplicates_and_single_point(spark):
    from citykg.ops.skyline import skyline_2d

    df = spark.createDataFrame(
        [(1.0, 5), (1.0, 5), (2.0, 4), (3.0, 3), (3.0, 9)], ["x", "y"]
    )
    got = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()}
    assert got == {(1.0, 5), (2.0, 4), (3.0, 3)}
    one = spark.createDataFrame([(9.0, 9)], ["x", "y"])
    assert [(r["x"], r["y"]) for r in skyline_2d(one, "x", "y").collect()] == [(9.0, 9)]


def test_sssp_weighted_hand_computed(spark):
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0), ("c", "d", 1.0)],
        ["src", "dst", "w"],
    )
    got = {r["id"]: r["dist"] for r in graph.sssp_weighted(e, "a", max_rounds=8).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}
    # hop bound: with 1 round only direct edges are relaxed
    one = {r["id"]: r["dist"] for r in graph.sssp_weighted(e, "a", max_rounds=1).collect()}
    assert one == {"a": 0.0, "b": 1.0, "c": 5.0}


def test_inverted_index_hand_computed(spark):
    from citykg.ops import relevance

    docs = spark.createDataFrame(
        [
            (1, "red fox jumps"),
            (2, "red fox sleeps"),
            (3, "blue fox jumps"),
            (4, "red fox jumps high"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["term"]: (r["df"], r["postings"])
        for r in relevance.inverted_index(
            docs, "doc_id", "text", min_df=2, max_df=3, unit="bigram"
        ).collect()
    }
    # 'red fox' df=3 within band; 'fox jumps' df=3; 'fox sleeps'/'blue fox'
    # /'jumps high' are hapaxes and excluded
    assert got == {"red fox": (3, "1,2,4"), "fox jumps": (3, "1,3,4")}


def test_tfidf_cosine_topk_self_similarity(spark):
    from citykg.ops import relevance

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
            (4, "zeta eta theta kappa"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["neighbor"]
        for r in relevance.tfidf_cosine_topk(
            docs, "doc_id", "text", max_df=4, k=1, unit="bigram"
        ).collect()
    }
    # the two alpha-docs pair up, the two zeta-docs pair up
    assert got == {1: 2, 2: 1, 3: 4, 4: 3}


def test_bipartite_project_hand_computed(spark):
    e = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"), (3, "hub1"), (3, "hub2"),
         (3, "hub3"), (3, "hub4")],
        ["u", "t"],
    )
    got = {
        (r["right_a"], r["right_b"]): r["weight"]
        for r in graph.bipartite_project(e, "u", "t", max_degree=3).collect()
    }
    # user 3 (degree 4) is capped out; users 1,2 share (a,b); user 2 adds (a,c),(b,c)
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
