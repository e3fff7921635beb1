"""Round-5 closing-session operators: sweep-line interval concurrency,
soft-dedup sampling weights, Gini/Lorenz revenue concentration, and
double-sweep BFS diameter."""
import math

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

SF = "/root/testdata/sf0.001"


def test_interval_concurrency_hand_computed(spark):
    # user 1: [0,300) [100,400) [250,550) [400,700)
    #   at t=250 three intervals overlap -> peak 3; [400,700) starts
    #   exactly when [100,400) ends -> half-open means NOT concurrent
    iv = spark.createDataFrame(
        [(1, 0), (1, 100), (1, 250), (1, 400), (2, 50)], ["user_id", "s"]
    )
    deltas = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("user_id", (F.col("s") + 300).alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("user_id").orderBy("t", "d")
    got = {
        r["user_id"]: r["peak"]
        for r in deltas.withColumn("load", F.sum("d").over(w))
        .groupBy("user_id")
        .agg(F.max("load").alias("peak"))
        .collect()
    }
    assert got == {1: 3, 2: 1}


def test_interval_concurrency_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["interval_concurrency"](spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n_intervals"] for r in rows) == n_events
    assert all(1 <= r["peak_concurrency"] <= r["n_intervals"] for r in rows)


def test_dedup_soft_weights_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["dedup_soft_weights"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    n_distinct = (
        docs.select(
            F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("t")
        )
        .distinct()
        .count()
    )
    assert len(rows) == n_docs
    # every doc's weight is exactly 1/cluster-size, and the weights sum
    # to the deduplicated corpus size (the SoftDeDup invariant)
    assert all(r["weight"] * r["dup_count"] == 1.0 for r in rows)
    assert abs(sum(r["weight"] for r in rows) - n_distinct) < 1e-9


def test_customer_gini_matches_pandas_oracle(spark):
    import __spark_entry__ as em

    got = em.queries()["customer_gini"](spark, SF).collect()[0]
    pdf = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (
        (pdf["o_totalprice"] * 100)
        .round()
        .astype("int64")
        .groupby(pdf["o_custkey"])
        .sum()
        .sort_values(kind="mergesort")
    )
    n, total = len(cents), int(cents.sum())
    s1 = int((cents.to_numpy() * range(1, n + 1)).sum())
    gini = (2 * s1) / (n * total) - (n + 1) / n
    assert got["n_customers"] == n
    assert math.isclose(got["gini"], gini, rel_tol=0, abs_tol=1e-12)
    assert 0.0 <= got["gini"] < 1.0
    # bottom half earns at most half (they are the below-median earners)
    assert got["bottom50_share"] <= 0.5
    assert 0.0 <= got["top10_share"] <= 1.0


def test_graph_diameter_double_sweep_on_path(spark):
    from citykg.ops import graph

    # path 1-2-3-4-5: every interior vertex has degree 2; min-id
    # tie-break picks seed 2; sweep 1 reaches 5 at dist 3; sweep 2 from 5
    # finds the true diameter 4
    p = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])
    e = p.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    adj = p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seed = (
        adj.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), F.asc("src"))
        .first()["src"]
    )
    assert seed == 2
    d1 = graph.shortest_paths(e, str(seed), max_hops=10)
    far = (
        d1.select(F.col("id").cast("long").alias("id"), "dist")
        .orderBy(F.desc("dist"), F.asc("id"))
        .first()
    )
    assert (far["id"], far["dist"]) == (5, 3)
    d2 = graph.shortest_paths(e, str(far["id"]), max_hops=10)
    assert d2.agg(F.max("dist")).collect()[0][0] == 4


def test_graph_diameter_invariants(spark):
    import __spark_entry__ as em

    got = em.queries()["graph_diameter"](spark, SF).collect()[0]
    # the 2-sweep property: the second eccentricity dominates the first
    assert got["diameter_lb"] >= got["ecc_seed"] >= 1
    assert got["n_reached"] >= 2
    assert got["seed_id"] != got["far_id"]


def test_geodesic_ring_area_octant_exact(spark):
    import math

    from citykg.ops import geo

    # octant of the sphere: (0,0) -> (90,0) -> (90,90) -> back; the
    # Chamberlain-Duquette integral gives exactly pi*R^2/2 (one eighth
    # of 4*pi*R^2)
    R = 6371008.8
    df = spark.createDataFrame([(1,)], ["id"]).withColumn(
        "ring",
        F.expr(
            "array(named_struct('lon', 0.0D, 'lat', 0.0D),"
            " named_struct('lon', 90.0D, 'lat', 0.0D),"
            " named_struct('lon', 90.0D, 'lat', 90.0D),"
            " named_struct('lon', 0.0D, 'lat', 90.0D),"
            " named_struct('lon', 0.0D, 'lat', 0.0D))"
        ),
    )
    got = df.select(geo.geodesic_ring_area("ring").alias("a")).collect()[0]["a"]
    assert math.isclose(got, math.pi / 2 * R * R, rel_tol=1e-12)


def test_neighborhood_function_on_path(spark):
    from citykg.ops import graph

    # path 1-2-3-4-5: ordered pairs at distance d: N(1)=8 N(2)=6 N(3)=4
    # N(4)=2, but depth is capped at 4 so all show up
    p = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])
    adj = p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nf = {
        r["depth"]: r["n"]
        for r in graph.bounded_reachability(adj, max_depth=4)
        .groupBy("depth")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert nf == {1: 8, 2: 6, 3: 4, 4: 2}


def test_kg_dictionary_stats_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["kg_dictionary_stats"](spark, SF).collect()
    assert len(rows) > 40  # one row per named graph
    for r in rows:
        assert r["encoded_chars"] == r["n_triples"] * 24 + r["dict_chars"]
        assert r["dict_chars"] <= r["raw_chars"]  # dictionary never exceeds raw
        assert r["n_terms"] <= 3 * r["n_triples"]
        assert math.isclose(
            r["compression"] * r["raw_chars"], float(r["encoded_chars"]), rel_tol=1e-12
        )


def test_powerlaw_alpha_hand_computed(spark):
    # degrees [2, 1, 1]: alpha = 1 + 3 / (ln 4 + ln 2 + ln 2) = 1 + 3/(4 ln 2)
    deg = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], ["id", "deg"])
    got = deg.agg(
        F.round(F.lit(1.0) + F.count("*") / F.sum(F.log(F.col("deg") * 2)), 6).alias(
            "a"
        )
    ).collect()[0]["a"]
    assert got == round(1 + 3 / (4 * math.log(2)), 6)


def test_rich_club_on_triangle_with_pendant(spark):
    # K3 {1,2,3} + pendant 4 on 3: at k=1 the rich club is exactly the
    # triangle -> phi = 1.0; at k=2 only node 3 survives -> phi undefined
    und = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["a", "b"]
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("degb"))
    ed = und.join(da, "a").join(db, "b").select(F.least("dega", "degb").alias("dmin"))
    n1 = deg.where(F.col("deg") > 1).count()
    e1 = ed.where(F.col("dmin") > 1).count()
    assert (n1, e1) == (3, 3)
    assert 2 * e1 / (n1 * (n1 - 1)) == 1.0
    assert deg.where(F.col("deg") > 2).count() == 1  # phi(2) is null-guarded


def test_rich_club_empty_edge_set_has_no_rows(spark, tmp_path):
    """No documents, so no edges: the query and its DuckDB oracle both
    return zero rows (a global aggregate over no rows would give one
    all-NULL row, exploded into one row per k)."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as em

    docs = str(tmp_path / "documents.parquet")
    pq.write_table(pq.read_table(f"{SF}/documents.parquet").slice(0, 0), docs)
    assert em.queries()["graph_rich_club"](spark, str(tmp_path)).collect() == []
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
        assert con.execute(em.oracle_sql()["graph_rich_club"]).fetchall() == []
    finally:
        con.close()


def test_t_closeness_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["t_closeness"](spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n_rows"] for r in rows) == n_events
    for r in rows:
        assert 0.0 <= r["t_emd"] <= 1.0
        assert r["t_close"] == (r["t_emd"] <= 0.2)


def test_t_closeness_uniform_corpus_is_zero(spark):
    # if every group has the same distribution as the corpus, EMD == 0:
    # single-bin corpus (all values in bin 0) makes every cumulative
    # integer difference c_gj*N - C_j*n_g vanish
    e = spark.createDataFrame(
        [("a", 1, 0), ("a", 1, 0), ("b", 2, 0)], ["event_type", "hour", "b"]
    )
    cell = e.groupBy("event_type", "hour", "b").agg(F.count("*").alias("c"))
    grp = e.groupBy("event_type", "hour").agg(F.count("*").alias("ng"))
    gbin = e.groupBy("b").agg(F.count("*").alias("cj"))
    tot = e.agg(F.count("*").alias("nn"))
    grid = grp.select(
        "event_type", "hour", "ng", F.explode(F.expr("sequence(0, 9)")).alias("b")
    )
    d = (
        grid.join(cell, ["event_type", "hour", "b"], "left")
        .join(F.broadcast(gbin), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "hour",
            "ng",
            "b",
            (
                F.coalesce("c", F.lit(0)) * F.col("nn")
                - F.coalesce("cj", F.lit(0)) * F.col("ng")
            ).alias("diff"),
        )
    )
    w = Window.partitionBy("event_type", "hour").orderBy("b")
    sa = (
        d.withColumn("s", F.sum("diff").over(w))
        .groupBy("event_type", "hour")
        .agg(F.sum(F.abs("s")).alias("sa"))
    )
    assert all(r["sa"] == 0 for r in sa.collect())


def test_rake_hand_computed(spark):
    from citykg.ops.text import rake_word_scores

    # "red apple of green apple": 'of' splits two 2-word phrases;
    # deg(apple) = 2 + 2 = 4 over freq 2 -> score 2.0
    docs = spark.createDataFrame([(1, "red apple of green apple")], ["doc_id", "text"])
    got = {
        r["word"]: r for r in rake_word_scores(docs, min_freq=1).collect()
    }
    assert (got["apple"]["freq"], got["apple"]["deg"], got["apple"]["score"]) == (2, 4, 2.0)
    assert (got["red"]["freq"], got["red"]["deg"]) == (1, 2)
    assert (got["green"]["freq"], got["green"]["deg"]) == (1, 2)
    assert "of" not in got


def test_rake_stopword_only_doc_empty(spark):
    from citykg.ops.text import rake_word_scores

    docs = spark.createDataFrame([(1, "of the and")], ["doc_id", "text"])
    assert rake_word_scores(docs, min_freq=1).count() == 0


def test_bearing_cardinal_directions(spark):
    # due north from (0,0) -> 0 deg; due east -> 90 deg
    pts = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 1.0), (0.0, 0.0, 1.0, 0.0)],
        ["lon1", "lat1", "lon2", "lat2"],
    ).selectExpr(
        "radians(lon1) as la", "radians(lat1) as pa",
        "radians(lon2) as lb", "radians(lat2) as pb",
    )
    dlon = F.col("lb") - F.col("la")
    theta = F.degrees(
        F.atan2(
            F.sin(dlon) * F.cos("pb"),
            F.cos("pa") * F.sin("pb") - F.sin("pa") * F.cos("pb") * F.cos(dlon),
        )
    )
    got = sorted(
        r["b"]
        for r in pts.select(
            F.round(F.when(theta < 0, theta + 360).otherwise(theta), 2).alias("b")
        ).collect()
    )
    assert got == [0.0, 90.0]


def test_shipping_delay_stats_moments(spark):
    import __spark_entry__ as em

    rows = em.queries()["shipping_delay_stats"](spark, SF).collect()
    li_n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    assert sum(r["n_items"] for r in rows) == li_n
    for r in rows:
        assert r["min_days"] <= r["mean_days"] <= r["max_days"]
        assert r["var_days"] >= 0.0
        # variance of a bounded variable is bounded by the squared range
        assert r["var_days"] <= (r["max_days"] - r["min_days"]) ** 2


def test_kg_predicate_profile_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["kg_predicate_profile"](spark, SF).collect()
    assert len(rows) > 200  # (graph, pred) combinations
    # in the synth corpus every predicate is single-valued per subject
    # (link rows carry their own content-derived subjects), so the
    # functional flag is the interesting oracle-checked signal, not a
    # split to assert on here
    assert any(r["functional"] for r in rows)
    for r in rows:
        assert r["n_subjects"] <= r["n_triples"]
        assert r["functional"] == (r["max_fanout"] == 1)
        assert math.isclose(
            r["avg_fanout"] * r["n_subjects"], float(r["n_triples"]), rel_tol=1e-12
        )
        assert r["max_fanout"] * r["n_subjects"] >= r["n_triples"]


def test_mad_hand_computed(spark):
    # values [1,2,3,4,100]: median 3, deviations [2,1,0,1,97] -> MAD 1;
    # only 100 exceeds 3 * MAD
    import __spark_entry__ as em  # noqa: F401

    e = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])],
        ["event_type", "event_id", "value"],
    )
    cnt = e.groupBy("event_type").agg(F.count("*").alias("n"))

    def median_of(df, col):
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        r = df.withColumn("_rk", F.row_number().over(w)).join(cnt, "event_type")
        mid = r.where(
            (F.col("_rk") == F.floor((F.col("n") + 1) / 2))
            | (F.col("_rk") == F.floor((F.col("n") + 2) / 2))
        )
        return mid.groupBy("event_type").agg(F.avg(col).alias("m"))

    med = median_of(e, "value").collect()[0]["m"]
    assert med == 3.0
    dev = e.withColumn("dev", F.abs(F.col("value") - F.lit(med)))
    mad = median_of(dev.select("event_type", "event_id", "dev"), "dev").collect()[0][
        "m"
    ]
    assert mad == 1.0
    assert dev.where(F.col("dev") > 3 * mad).count() == 1


def test_mad_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["event_mad_outliers"](spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == n_events
    for r in rows:
        assert r["mad"] >= 0.0
        assert 0 <= r["n_outliers"] < r["n_events"]


def test_tokenizer_oov_invariants(spark):
    import __spark_entry__ as em

    rows = em.queries()["tokenizer_oov"](spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert math.isclose(
            r["oov_rate"] * r["n_tokens"], float(r["n_oov"]), rel_tol=1e-12
        )
    # the synthetic corpus vocabulary is tiny, so the top-100 vocab
    # should cover most tokens
    total = sum(r["n_tokens"] for r in rows)
    oov = sum(r["n_oov"] for r in rows)
    assert oov < total / 2


def test_idle_gaps_single_event_user_null_stats(spark):
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    g = (
        spark.createDataFrame(
            [(1, 10, 100), (1, 11, 400), (2, 12, 50)],
            ["user_id", "event_id", "s"],
        )
        .withColumn("gap", F.col("s") - F.lag("s").over(w))
        .groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.max("gap").alias("max_gap"),
        )
    )
    got = {r["user_id"]: r for r in g.collect()}
    assert (got[1]["n_gaps"], got[1]["max_gap"]) == (1, 300)
    assert (got[2]["n_gaps"], got[2]["max_gap"]) == (0, None)


def test_cc_shortcut_converges_on_long_path(spark):
    from citykg.canon import connected_components

    # path of 40 nodes: diameter 39 defeats plain min-label propagation
    # in 20 rounds; pointer shortcutting needs ~log2(39) ~ 6
    e = spark.createDataFrame(
        [(f"{i:03d}", f"{i + 1:03d}") for i in range(39)], ["src", "dst"]
    )
    lab = connected_components(e, max_iter=16).collect()
    assert len(lab) == 40
    assert all(r["component"] == "000" for r in lab)


def test_cc_shortcut_two_components(spark):
    from citykg.canon import connected_components

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    got = {r["id"]: r["component"] for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_shortcut_raises_when_unconverged(spark):
    from citykg.canon import connected_components

    # 5-node chain: one round cannot carry the min label "0" to node "4"
    e = spark.createDataFrame([(str(i), str(i + 1)) for i in range(4)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge in max_iter=1"):
        connected_components(e, max_iter=1)
    got = {r["id"]: r["component"] for r in connected_components(e).collect()}
    assert got == dict.fromkeys("01234", "0")


def test_top_paths_hand_computed(spark):
    w = Window.partitionBy("u").orderBy("s")
    e = spark.createDataFrame(
        [(1, 1, "A"), (1, 2, "B"), (1, 3, "A"), (1, 4, "B")], ["u", "s", "t"]
    )
    p = (
        e.withColumn("e2", F.lead("t").over(w))
        .withColumn("e3", F.lead("t", 2).over(w))
        .where(F.col("e3").isNotNull())
    )
    got = {
        (r["t"], r["e2"], r["e3"]): r["n"]
        for r in p.groupBy("t", "e2", "e3").agg(F.count("*").alias("n")).collect()
    }
    assert got == {("A", "B", "A"): 1, ("B", "A", "B"): 1}


def test_grid_clusters_single_diagonal(spark):
    import __spark_entry__ as em

    # sf0.001: points (k, k) for k=0..499 -> 62 full core cells of 8
    # points along one diagonal (the tail cell holds 4 < 5 and drops),
    # all merged into ONE cluster
    rows = em.queries()["spatial_grid_clusters"](spark, SF).collect()
    assert len(rows) == 1
    assert (rows[0]["n_cells"], rows[0]["n_points"]) == (62, 496)


def test_char_sets_partition_subjects(spark):
    import __spark_entry__ as em

    rows = em.queries()["kg_char_sets"](spark, SF).collect()
    t = em._triples(spark, SF)
    n_subj = t.select("subj").distinct().count()
    n_trip = t.count()
    # characteristic sets PARTITION the subjects and the triples
    assert sum(r["n_subjects"] for r in rows) == n_subj
    assert sum(r["n_triples"] for r in rows) == n_trip
    for r in rows:
        assert r["n_preds"] == len(r["pred_set"].split(","))
        assert r["pred_set"].split(",") == sorted(r["pred_set"].split(","))
        # a subject states each predicate at least once
        assert r["n_triples"] >= r["n_preds"] * r["n_subjects"]


def test_entity_summary_rarity_order(spark):
    import __spark_entry__ as em

    rows = em.queries()["kg_entity_summary"](spark, SF).collect()
    by_subj = {}
    for r in rows:
        by_subj.setdefault(r["subj"], []).append(r)
    for subj, facts in by_subj.items():
        facts.sort(key=lambda r: r["rank"])
        assert [f["rank"] for f in facts] == list(range(1, len(facts) + 1))
        freqs = [f["pred_freq"] for f in facts]
        assert freqs == sorted(freqs)  # rarest predicates rank first
