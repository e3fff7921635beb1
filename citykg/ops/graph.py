"""Graph algorithms over the triple table (reference agents G1-G4):
PageRank, unweighted shortest paths, plus the connected components in
citykg.canon. All iterative DataFrame joins — no GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame, stable


def triples_to_edges(triples: DataFrame) -> DataFrame:
    """s-p-o triples with IRI objects -> (src, dst) edge list
    (PageRankTask builds the JUNG graph the same way, PageRankTask.java:66-77)."""
    return (
        triples.where(F.col("obj_type") == "iri")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    alpha: float = 0.3,
    max_iter: int = 15,
    tol: float = 1e-6,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank with jump probability alpha (the reference runs JUNG's
    PageRank with alpha=0.3, PageRankTask.java:78-80). Returns (id, rank),
    sum(rank) == 1. Dangling mass is redistributed uniformly.

    Each iteration: one join (rank -> out-edges) + one sum-aggregate; both
    map-side combinable. stable() cuts lineage each round (localCheckpoint
    by default; reliable checkpoint(dir) via spark.citykg.checkpointDir —
    see citykg.session.stable for the executor-loss trade-off).
    """
    # materialize the static sides ONCE — every iteration re-reading the
    # upstream lineage (e.g. a full extraction plan) turns O(iters) into
    # O(iters x extract); at 100 TB the edge list is a checkpointed table
    edges = edges.select("src", "dst").transform(stable)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .transform(stable)
    )
    n = nodes.count()
    if n == 0:
        # empty edge frame: 1/n and alpha/n are undefined — return the
        # empty (id, rank) frame (same guard as hits / personalized_pagerank)
        return nodes.select("id", F.lit(0.0).alias("rank"))
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg")).transform(stable)
    # dangling flag carried on the rank frame so the per-iteration driver
    # round-trips collapse to ONE aggregation (delta + next dangling mass
    # together) instead of separate dangling and delta jobs
    flags = nodes.join(
        deg.select(F.col("src").alias("id"), F.lit(1).alias("has_out")), "id", "left"
    ).transform(stable)
    ranks = flags.withColumn("rank", F.lit(1.0 / n))
    dangling = 0.0
    if tol > 0.0:
        n_dangling = flags.where(F.col("has_out").isNull()).count()
        dangling = n_dangling / n  # initial dangling mass (uniform ranks)

    # tol <= 0 means "run exactly max_iter iterations": the convergence
    # collect is pointless, so the dangling-mass scalar moves INTO the
    # plan (1-row agg + broadcast cross-join) and each iteration costs
    # exactly one job (the eager checkpoint) instead of two
    fixed_iters = tol <= 0.0

    for i in range(max_iter):
        contrib = (
            edges.join(deg, "src")
            .join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        joined = flags.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
        if fixed_iters:
            dmass = ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("has_out").isNull(), F.col("rank"))), F.lit(0.0)
                ).alias("_dmass")
            )
            new_ranks = (
                joined.crossJoin(F.broadcast(dmass))
                .select(
                    "id",
                    "has_out",
                    (
                        F.lit(alpha / n)
                        + F.lit(1 - alpha) * F.col("_dmass") / F.lit(float(n))
                        + F.lit(1 - alpha) * F.coalesce("inflow", F.lit(0.0))
                    ).alias("rank"),
                )
                .transform(stable)
            )
            ranks = new_ranks
            continue
        base = alpha / n + (1 - alpha) * dangling / n
        new_ranks = (
            joined.select(
                "id",
                "has_out",
                (F.lit(base) + F.lit(1 - alpha) * F.coalesce("inflow", F.lit(0.0))).alias("rank"),
            )
            .transform(stable)
        )
        row = (
            new_ranks.withColumnRenamed("rank", "nr")
            .join(ranks.select("id", "rank"), "id")
            .agg(
                F.sum(F.abs(F.col("nr") - F.col("rank"))).alias("delta"),
                F.sum(F.when(F.col("has_out").isNull(), F.col("nr"))).alias("dmass"),
            )
            .collect()[0]
        )
        ranks = new_ranks
        dangling = row.dmass or 0.0
        if row.delta is not None and row.delta < tol:
            break
    return ranks.select("id", "rank")


def edge_betweenness(
    edges: DataFrame, sources: list[str] | None = None, max_hops: int = 20
) -> DataFrame:
    """G2: Brandes edge betweenness over the undirected graph
    (EdgeBetweennessTask.java:73 runs JUNG's EdgeBetweennessClusterer).

    Multi-source: ALL sources run in one BFS wave-front carrying an `s`
    column — per level one join + one (s, v) partial aggregate, so the
    shuffle count is O(diameter), not O(sources x diameter). Backward
    dependency accumulation (delta_v = sum sigma_v/sigma_w * (1+delta_w)
    over DAG successors w) walks the levels back down with the same join
    shape. `sources=None` = exact (every vertex a source; the classic
    Brandes O(V*E) — at 10^12 scale pass a vertex sample instead and the
    result is the standard unbiased estimator scaled by n/|sample|).

    Returns (src, dst, betweenness) with src < dst (undirected convention:
    per-pair double counting halved).
    """
    spark = edges.sparkSession
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stable)
    )
    if sources is None:
        srcs = sym.select(F.col("src").alias("s")).distinct()
    else:
        srcs = local_frame(spark, [(s,) for s in sources], "s string")

    # forward BFS with shortest-path counting: visited(s, v, dist, sigma)
    frontier = srcs.select(
        "s", F.col("s").alias("v"), F.lit(0).alias("dist"), F.lit(1.0).alias("sigma")
    ).transform(stable)
    visited = frontier
    levels = [frontier]
    depth = 0
    while depth < max_hops:
        depth += 1
        nxt = (
            frontier.join(sym.withColumnRenamed("src", "v"), "v")
            .select("s", F.col("dst").alias("v"), "sigma")
            .join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(depth))
            .select("s", "v", "dist", "sigma")
            .transform(stable)
        )
        if nxt.isEmpty():
            depth -= 1
            break
        visited = visited.union(nxt).transform(stable)
        levels.append(nxt)
        frontier = nxt

    # backward accumulation, deepest level first
    down = levels[depth].select(
        "s", "v", "sigma", F.lit(0.0).alias("delta")
    )
    per_level = []
    for k in range(depth - 1, -1, -1):
        up = levels[k]
        pairs = (
            up.select("s", "v", F.col("sigma").alias("sigma_v"))
            .join(sym.withColumnRenamed("src", "v"), "v")
            .join(
                down.select(
                    "s",
                    F.col("v").alias("dst"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                ),
                ["s", "dst"],
            )
            .withColumn(
                "c", F.col("sigma_v") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta_w"))
            )
            .transform(stable)
        )
        per_level.append(pairs.select(F.col("v").alias("a"), F.col("dst").alias("b"), "c"))
        delta = pairs.groupBy("s", "v").agg(F.sum("c").alias("delta"))
        down = (
            up.select("s", "v", "sigma")
            .join(delta, ["s", "v"], "left")
            .fillna(0.0, subset=["delta"])
            .transform(stable)
        )

    if not per_level:
        return local_frame(spark, [], "src string, dst string, betweenness double")
    acc = per_level[0]
    for p in per_level[1:]:
        acc = acc.union(p)
    return (
        acc.select(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"), "c"
        )
        .groupBy("src", "dst")
        .agg((F.sum("c") / 2.0).alias("betweenness"))
    )


def edge_betweenness_clusters(
    edges: DataFrame, n_remove: int = 3, max_hops: int = 20
) -> DataFrame:
    """G2: the reference's EdgeBetweennessClusterer(3) — remove the
    `n_remove` highest-betweenness edges, label the remaining connected
    components. Returns (id, cluster)."""
    from ..canon import connected_components

    eb = edge_betweenness(edges, max_hops=max_hops)
    top = eb.orderBy(F.desc("betweenness"), "src", "dst").limit(n_remove).select("src", "dst")
    und = edges.select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")).distinct()
    kept = und.join(top, ["src", "dst"], "left_anti")
    return connected_components(kept).withColumnRenamed("component", "cluster")


def triangles(edges: DataFrame) -> DataFrame:
    """Exact triangle enumeration via degree orientation (the standard
    O(m^1.5)-work algorithm): orient every undirected edge from the
    lower-(degree, id) endpoint to the higher, enumerate wedges only at
    each edge's LOW endpoint, and close them against the edge set. The
    orientation bounds every node's out-degree by O(sqrt(m)), so the
    wedge join cannot explode on hub nodes — a plain neighbor self-join
    would square a 10^6-degree hub; this caps its wedge fan-out
    structurally (the join-side analog of the salted star in canon).

    Input (src, dst) in either orientation, duplicates fine. Output one
    row per triangle with vertices sorted (x < y < z) so the result is
    orientation-independent and engine-comparable."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable, eager=False)  # reused by degree, wedge, and closure
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    ).transform(stable, eager=False)
    w1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("p"))
    w2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("q"))
    wedges = w1.join(w2, "w").where(F.col("p") < F.col("q"))
    tri = wedges.join(
        und,
        (F.least("p", "q") == F.col("u")) & (F.greatest("p", "q") == F.col("v")),
        "left_semi",
    )
    s = F.array_sort(F.array("w", "p", "q"))
    return tri.select(
        s.getItem(0).alias("x"), s.getItem(1).alias("y"), s.getItem(2).alias("z")
    )


def shortest_paths(edges: DataFrame, source: str, max_hops: int = 15) -> DataFrame:
    """Unweighted BFS distances from `source`
    (UnweightedShortestPathTask.java:80 analog). Returns (id, dist)."""
    # checkpoint the static edge list once so each BFS hop re-scans a
    # materialized table instead of re-executing the upstream plan
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst"), F.col("src")))
        .distinct()
        .transform(stable)
    )
    spark = edges.sparkSession
    frontier = local_frame(spark, [(source, 0)], "id string, dist int")
    visited = frontier

    for hop in range(1, max_hops + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        nxt = nxt.transform(stable)
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).transform(stable)
        frontier = nxt
    return visited


def bounded_reachability(edges: DataFrame, max_depth: int = 6) -> DataFrame:
    """SPARQL property-path `pred+` analog (the Blazegraph backend the
    reference queries supports arbitrary-length paths; this is the
    Spark-side evaluation): every directed pair (src, dst) connected by
    a path of length <= max_depth, labeled with the MINIMUM path length.

    Frontier expansion, the distributed semi-naive Datalog evaluation:
    each round joins only the pairs discovered LAST round against the
    once-checkpointed edge table and anti-joins the already-known set,
    so per-round work is proportional to the new pairs, not the closure
    so far. Self-pairs are excluded; that loses no minimal path because
    any walk revisiting its source has a strictly shorter suffix from
    the last visit. At 10^12 edges the closure itself can be the blowup
    — max_depth is the contract (SPARQL engines bound or lazily stream
    the same construct), and each round is one shuffle on dst/src.
    Returns (src, dst, depth).
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(stable)
    )
    known = e.withColumn("depth", F.lit(1))
    frontier = known
    # pre-renamed hop table: joining on the bare name sidesteps the
    # ambiguous-attribute trap of alias-joining two frames that share
    # the checkpointed edge plan
    step = e.select(F.col("src").alias("_mid"), F.col("dst").alias("_dst"))
    for hop in range(2, max_depth + 1):
        nxt = (
            frontier.select("src", F.col("dst").alias("_mid"))
            .join(step, "_mid")
            .select("src", F.col("_dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .join(known.select("src", "dst"), ["src", "dst"], "left_anti")
            .withColumn("depth", F.lit(hop))
            .transform(stable)
        )
        if nxt.isEmpty():
            break
        known = known.union(nxt).transform(stable)
        frontier = nxt
    return known


def hits(edges: DataFrame, max_iter: int = 8) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) — the link-analysis
    twin of the reference's PageRankTask (PageRankTask.java:66-80 builds
    the same JUNG graph; JUNG ships HITS as the sibling scorer). Fixed
    `max_iter` power iterations with L1 (sum-to-1) normalization: the
    normalizer is a plain sum — no sqrt — so the DuckDB oracle replays
    the identical recurrence as chained CTEs and values agree to float
    noise (rounded 8 dp by the caller). Returns (id, hub, auth).

    Each iteration: two (join + partial-agg) steps — auth from the
    previous hubs over in-edges, then hub from the NEW auths over
    out-edges (the standard update order) — with the two one-row
    normalizers folded in-plan via broadcast cross-joins, so an
    iteration is exactly one job (the eager lineage cut). Static edge
    list is checkpointed once; see `pagerank` for the scale notes.
    """
    edges = edges.select("src", "dst").transform(stable)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .transform(stable)
    )
    n = nodes.count()
    if n == 0:
        # empty edge frame: no nodes, no normalizer — return the empty
        # (id, hub, auth) frame instead of dividing by zero (the same
        # degenerate-case guard personalized_pagerank applies to an
        # empty seed set)
        return nodes.select("id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth"))
    scores = nodes.select("id", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth"))

    for _ in range(max_iter):
        a_raw = (
            edges.join(scores.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("_a"))
        )
        a_tot = a_raw.agg(F.sum("_a").alias("_at"))
        auths = (
            nodes.join(a_raw, "id", "left")
            .crossJoin(F.broadcast(a_tot))
            .select("id", (F.coalesce("_a", F.lit(0.0)) / F.col("_at")).alias("auth"))
        )
        h_raw = (
            edges.join(auths.select(F.col("id").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("_h"))
        )
        h_tot = h_raw.agg(F.sum("_h").alias("_ht"))
        scores = (
            auths.join(h_raw, "id", "left")
            .crossJoin(F.broadcast(h_tot))
            .select("id", (F.coalesce("_h", F.lit(0.0)) / F.col("_ht")).alias("hub"), "auth")
            .transform(stable)
        )
    return scores


def kcore(edges: DataFrame, k: int = 2, rounds: int = 12) -> DataFrame:
    """k-core membership by synchronous peeling over the UNDIRECTED
    graph: each round recomputes degrees within the surviving subgraph
    and drops nodes below k. Runs EXACTLY `rounds` rounds (no early
    break) so the DuckDB oracle — the same peel unrolled as chained
    CTEs — is guaranteed to agree even before convergence; at city-graph
    diameters the peel converges in a handful of rounds (callers can
    raise `rounds` for adversarial chain graphs). Returns every original
    node with in_core 0/1 and its final within-subgraph degree.

    Scale shape per round: two semi-joins restrict the (checkpointed)
    symmetric edge list to surviving endpoints, then ONE partial-agg
    degree count; the alive set shrinks monotonically, so late rounds
    are cheap. No windows, no collect in the loop.
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stable)
    )
    nodes = sym.select(F.col("src").alias("id")).distinct().transform(stable)
    alive = nodes

    for _ in range(rounds):
        deg = (
            sym.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("_deg"))
        )
        alive = deg.where(F.col("_deg") >= k).select("id", "_deg").transform(stable)
    return nodes.join(alive, "id", "left").select(
        "id",
        F.when(F.col("_deg").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("in_core"),
        F.coalesce("_deg", F.lit(0)).cast("long").alias("core_deg"),
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient: lcc(v) = 2 * tri(v) /
    (deg(v) * (deg(v) - 1)) — the node-level refinement of the global
    coefficient (`graph_clustering` query). Returns (id, deg, tri_cnt,
    lcc); degree-1 nodes get lcc 0.

    Scale shape: reuses the degree-oriented `triangles` enumeration
    (O(m^1.5) work, hub-capped wedges), then one explode + partial-agg
    count per vertex and a degree join — no new join shapes beyond what
    triangles already bounds."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable, eager=False)
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    tcnt = (
        triangles(und.select(F.col("u").alias("src"), F.col("v").alias("dst")))
        .select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return deg.join(tcnt, "id", "left").select(
        "id",
        "deg",
        F.coalesce("tri_cnt", F.lit(0)).cast("long").alias("tri_cnt"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.coalesce("tri_cnt", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seed_pred_sql: str,
    alpha: float = 0.3,
    max_iter: int = 8,
) -> DataFrame:
    """Personalized PageRank: the restart distribution (and the dangling
    mass) goes to the SEED set instead of uniformly everywhere — ranking
    'importance relative to the buildings' rather than globally (the
    topic-sensitive PageRank of Haveliwala 2002; JUNG exposes the same
    via PageRankWithPriors). `seed_pred_sql` is a SQL boolean over the
    node id choosing the seeds — a declarative rule both engines can
    re-derive, so the oracle replays the identical recurrence.

    Fixed `max_iter` iterations, tol=0 semantics: the dangling-mass
    scalar rides in-plan (1-row agg + broadcast), one job per iteration,
    statics checkpointed once — the same shape as `pagerank`."""
    edges = edges.select("src", "dst").transform(stable)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .transform(stable)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg")).transform(stable)
    flags = (
        nodes.join(
            deg.select(F.col("src").alias("id"), F.lit(1).alias("has_out")), "id", "left"
        )
        .withColumn("is_seed", F.expr(seed_pred_sql))
        .transform(stable)
    )
    n_seeds = flags.where(F.col("is_seed")).count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: empty seed set")
    seed_mass = F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    ranks = flags.withColumn("rank", seed_mass)

    for _ in range(max_iter):
        contrib = (
            edges.join(deg, "src")
            .join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        dmass = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("has_out").isNull(), F.col("rank"))), F.lit(0.0)
            ).alias("_dmass")
        )
        ranks = (
            flags.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(dmass))
            .select(
                "id",
                "has_out",
                "is_seed",
                (
                    F.lit(alpha) * seed_mass
                    + F.lit(1 - alpha) * F.col("_dmass") * seed_mass
                    + F.lit(1 - alpha) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            .transform(stable)
        )
    return ranks.select("id", "rank")


def link_prediction(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Common-neighbor / Adamic-Adar link prediction (Liben-Nowell &
    Kleinberg 2003) over an undirected graph: for every non-adjacent
    pair (u, v) sharing >= `min_common` neighbors, score the missing
    edge by cn = |N(u) ∩ N(v)| and aa = sum over shared neighbors w of
    1/ln(deg(w)). The KG use is missing-link suggestion over the
    proximity/link graph the importer builds (the JUNG-side analytics
    family, agents/.../GraphAnalysisTask.java) — high-aa non-edges are
    merge or relation candidates.

    Scale shape: wedges are enumerated at the shared neighbor, so a hub
    of degree d fans out d*(d-1)/2 candidate pairs — unlike triangles
    this is inherent to the semantics (every pair through the hub IS a
    candidate), so at corpus scale cap hub degree upstream or raise
    `min_common`; the graphs this runs on here are grid-bounded. The
    scoring itself is ONE (u, v)-keyed partial agg; deg(w) >= 2 for any
    wedge center, so 1/ln(deg) is finite. Existing edges are removed
    with a broadcast-eligible left-anti join on the canonical (u < v)
    pair."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable, eager=False)  # reused by adjacency, degree, anti-join
    )
    adj = und.select(F.col("u").alias("w"), F.col("v").alias("n")).union(
        und.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("w").agg(F.count("*").alias("degw"))
    wedges = (
        adj.select("w", F.col("n").alias("p"))
        .join(adj.select("w", F.col("n").alias("q")), "w")
        .where(F.col("p") < F.col("q"))
        .join(deg, "w")
    )
    scored = (
        wedges.groupBy(F.col("p").alias("u"), F.col("q").alias("v"))
        .agg(
            F.count("*").alias("cn"),
            F.round(F.sum(1.0 / F.log(F.col("degw"))), 6).alias("aa"),
        )
        .where(F.col("cn") >= min_common)
    )
    return scored.join(und, ["u", "v"], "left_anti")


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007): every node starts labeled with its own id; each round it
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label — the deterministic variant, so two engines (and
    two cluster runs) converge identically. Runs EXACTLY `rounds` rounds
    (no early break) for the same oracle-before-convergence contract as
    kcore. Labels must be orderable numerics (the min-struct tiebreak);
    returns (id, label).

    Scale shape per round: ONE join of the (checkpointed) symmetric edge
    list against the label frame on the neighbor key, ONE (id, label)
    partial-agg count, ONE (id) partial-agg min-struct argmax — no
    windows, no collect. Hot communities concentrate on single labels,
    but the count agg is map-side combinable so the skew lands on
    combiners, not a single reducer."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(stable)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(rounds):
        nbr = sym.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        counts = nbr.groupBy("id", "label").agg(F.count("*").alias("_c"))
        labels = (
            counts.groupBy("id")
            .agg(F.min(F.struct(-F.col("_c"), F.col("label"))).alias("_best"))
            .select("id", F.col("_best.label").alias("label"))
            .transform(stable, eager=False)
        )
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over the undirected
    graph: Q = sum_c [ m_c/m - (d_c/2m)^2 ], where m_c counts
    intra-community edges and d_c sums community degrees — the standard
    quality score for a community assignment (labels from
    label_propagation or any (id, label) frame). Returns ONE row
    (n_communities, n_edges, modularity).

    Scale shape: two broadcast-eligible label joins onto the symmetric
    edge list (or shuffle joins at corpus scale — keyed on node id,
    near-unique), then community-keyed partial aggs and a one-row fold.
    No windows, no collect."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable, eager=False)
    )
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    tagged = und.join(lu, "u").join(lv, "v").transform(stable, eager=False)
    # one-row edge total folded in-plan (no driver action in the middle)
    mrow = tagged.agg(F.count("*").alias("m"))
    # degree sum per community = sum over endpoints with that label
    dsum = (
        tagged.select(F.col("lu").alias("c"))
        .union(tagged.select(F.col("lv").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("d"))
    )
    inn = (
        tagged.where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("c"))
        .agg(F.count("*").alias("mi"))
    )
    per = (
        dsum.join(inn, "c", "left")
        .crossJoin(F.broadcast(mrow))
        .selectExpr(
            "c",
            "m",
            "coalesce(mi, 0) / cast(m as double) - "
            "(d / (2.0D * m)) * (d / (2.0D * m)) as q",
        )
    )
    return per.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.first("m").cast("long").alias("n_edges"),
        F.round(F.sum("q"), 6).alias("modularity"),
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over every (directed-both-ways)
    edge — positive means hubs attach to hubs. ONE row
    (n_edges, assortativity).

    Scale shape: one degree partial agg, two joins re-attaching degrees
    to the symmetric edge list, then a single one-row moment fold — the
    correlation is computed from sums, no window, no collect beyond the
    one result row."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable, eager=False)
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    sym = und.select("u", "v").union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    pairs = (
        sym.join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
        .selectExpr("cast(du as double) as x", "cast(dv as double) as y")
    )
    return pairs.agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        F.round(
            (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
            / (
                F.sqrt(F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"))
                * F.sqrt(F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y"))
            ),
            6,
        ).alias("assortativity"),
    )


def neighborhood_similarity(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Structural similarity of node pairs by neighbor-set overlap:
    for every pair (u, v) sharing >= `min_common` neighbors, Jaccard
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| and cosine cn / sqrt(deg_u * deg_v),
    plus an `adjacent` flag — the entity-resolution diagnostic over the
    importer's link graph (two mentions whose KG neighborhoods coincide
    are merge candidates even when their labels differ; the structural
    complement of link.py's lexical blocking). Unlike link_prediction
    (non-adjacent pairs only, reference GraphAnalysisTask.java family),
    adjacent pairs are kept and flagged: high-Jaccard ADJACENT pairs
    witness near-duplicate entities, non-adjacent ones missing links.

    Scale shape: same wedge enumeration as link_prediction (pairs are
    materialized at the shared neighbor — a degree-d hub fans d*(d-1)/2
    pairs, inherent to the semantics; cap hub degree upstream at corpus
    scale), ONE (u, v)-keyed partial agg, degree frames are node-sized
    attach joins, adjacency resolved with a left join on the canonical
    (u < v) pair — no cartesian, no window."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable, eager=False)  # reused by adjacency, degree, flag join
    )
    adj = und.select(F.col("u").alias("w"), F.col("v").alias("n")).union(
        und.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    deg = adj.groupBy(F.col("n").alias("node")).agg(F.count("*").alias("deg"))
    wedges = (
        adj.select("w", F.col("n").alias("p"))
        .join(adj.select("w", F.col("n").alias("q")), "w")
        .where(F.col("p") < F.col("q"))
    )
    cn = (
        wedges.groupBy(F.col("p").alias("u"), F.col("q").alias("v"))
        .agg(F.count("*").alias("cn"))
        .where(F.col("cn") >= min_common)
    )
    flagged = cn.join(
        und.withColumn("adjacent", F.lit(1)), ["u", "v"], "left"
    ).withColumn("adjacent", F.coalesce("adjacent", F.lit(0)))
    return (
        flagged.join(deg.selectExpr("node as u", "deg as deg_u"), "u")
        .join(deg.selectExpr("node as v", "deg as deg_v"), "v")
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            "adjacent",
            F.round(
                F.col("cn")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("cn") / F.sqrt((F.col("deg_u") * F.col("deg_v")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    n_walks: int = 2,
    length: int = 4,
    seed: int = 42,
) -> DataFrame:
    """DeepWalk/node2vec-style walk-corpus generation with a
    DETERMINISTIC next-step policy: from the current node, pick the
    out-neighbor at index

        (1103515245*walk_no + 12345*step + 97*node_num + seed) mod degree

    where node_num is the node IRI's trailing digit run (0 if none) —
    an LCG-style mix both engines can evaluate exactly, so the whole
    walk corpus is reproducible and DuckDB-oracle-checkable (a true RNG
    would make the output unverifiable; determinism is also what a
    resumable 100 TB embedding-corpus job wants).

    Plan shape: the ranked adjacency (neighbor rank + out-degree, one
    src-keyed window pass) is built ONCE; each of the `length` steps is
    one equi-join of the live walk frontier against it — the standard
    distributed random-walk schedule, shuffle keyed on the current node,
    no driver-side state. Dead-end nodes simply end their walk (the
    frontier row finds no match).

    Output: (walk_id, step, node) — step 0 is the start node."""
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        edges.select("src", "dst")
        .distinct()
        .withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
    )
    frontier = starts.select(
        F.col(starts.columns[0]).alias("node"),
        F.explode(F.expr(f"sequence(0, {n_walks - 1})")).alias("walk_no"),
    ).select(
        F.concat_ws("#", "node", "walk_no").alias("walk_id"),
        F.col("walk_no").cast("long").alias("walk_no"),
        F.lit(0).alias("step"),
        F.col("node"),
    )
    out = frontier
    for step in range(1, length + 1):
        # fresh per-step aliases: the frontier's lineage already contains
        # adj, so an unaliased re-join is ambiguous
        fa, aa = f"_f{step}", f"_a{step}"
        node_num = (
            f"coalesce(try_cast(regexp_extract({fa}.node, '([0-9]+)[^0-9]*$', 1) "
            "as bigint), 0)"
        )
        choice = F.expr(
            f"pmod(1103515245 * {fa}.walk_no + 12345 * {step} + 97 * {node_num} "
            f"+ {seed}, {aa}.deg)"
        )
        frontier = (
            frontier.alias(fa)
            .join(adj.alias(aa), F.col(f"{fa}.node") == F.col(f"{aa}.src"))
            .where(F.col(f"{aa}.rn") == choice)
            .select(
                F.col(f"{fa}.walk_id").alias("walk_id"),
                F.col(f"{fa}.walk_no").alias("walk_no"),
                F.lit(step).alias("step"),
                F.col(f"{aa}.dst").alias("node"),
            )
        )
        out = out.unionByName(frontier)
    return out.select("walk_id", "step", "node")


def scc(edges: DataFrame, max_depth: int = 20) -> DataFrame:
    """Strongly connected components by bounded mutual reachability.

    Tarjan/Kosaraju are inherently sequential DFS; the distributed
    formulation is SCC(v) = {u : v ->* u AND u ->* v}, evaluated as the
    bounded forward closure intersected with its own transpose — exact
    whenever every cycle fits inside max_depth, the same diameter
    contract bounded_reachability already carries (SPARQL engines bound
    the equivalent two-way path query the same way).

    Scale shape: ONE frontier-expansion closure (the transpose
    intersection is a self-equi-join of the closure on swapped keys —
    no second frontier loop over the reversed graph), then a per-node
    min-aggregate. Component id = min member id, matching
    canon.connected_components' label convention. Returns (id, scc)
    over every node appearing in the edge list.
    """
    reach = bounded_reachability(edges, max_depth).select("src", "dst")
    mutual = reach.join(
        reach.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        nodes.join(mutual.withColumnRenamed("src", "id"), "id", "left")
        .groupBy("id")
        .agg(F.min("dst").alias("_m"))
        .select(
            "id",
            F.least(F.coalesce("_m", "id"), F.col("id")).alias("scc"),
        )
    )


def harmonic_closeness(edges: DataFrame, max_depth: int = 6) -> DataFrame:
    """Harmonic closeness centrality (and eccentricity) bounded at
    max_depth: C_H(v) = sum over u reachable FROM v of 1/d(v,u), with
    d = minimum directed path length; ecc(v) = max d within the bound.
    The bounded-harmonic form is the standard big-graph variant (Boldi
    & Vigna, "Axioms for Centrality") because the exact all-pairs sum
    is the same closure this engine already computes for property
    paths — one bounded_reachability pass, then a per-source fold.

    Determinism: the fold is NOT sum(1/depth) over the pair frame
    (float addition order varies with partitioning); instead the
    aggregate collects one exact integer count per depth level and the
    harmonic sum is a FIXED-ORDER expression over those <= max_depth
    integers, so the double is bit-stable under any physical plan and
    the DuckDB oracle replays it term-for-term. Nodes with out-degree 0
    still appear (closeness 0), matching NetworkX's convention.

    Scale: the closure dominates (see bounded_reachability); the fold
    is one map-side-combinable aggregate on src. Returns
    (id, harmonic, eccentricity).
    """
    reach = bounded_reachability(edges, max_depth)
    per_depth = [
        F.sum(F.when(F.col("depth") == d, F.lit(1)).otherwise(F.lit(0))).alias(f"_c{d}")
        for d in range(1, max_depth + 1)
    ]
    folded = reach.groupBy(F.col("src").alias("id")).agg(
        *per_depth, F.max("depth").alias("eccentricity")
    )
    harmonic = None
    for d in range(1, max_depth + 1):
        term = F.col(f"_c{d}") / F.lit(float(d))
        harmonic = term if harmonic is None else harmonic + term
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .where(F.col("id").isNotNull())
        .distinct()
    )
    return (
        nodes.join(folded, "id", "left")
        .select(
            "id",
            F.round(F.coalesce(harmonic, F.lit(0.0)), 8).alias("harmonic"),
            F.coalesce("eccentricity", F.lit(0)).cast("int").alias("eccentricity"),
        )
    )


def sssp_weighted(
    edges: DataFrame, source: str, max_rounds: int = 8
) -> DataFrame:
    """Single-source shortest paths with edge WEIGHTS: synchronous
    Bellman-Ford, the distributed relaxation scheme (Dijkstra's queue is
    inherently sequential; Bellman-Ford rounds are each one join + one
    min-aggregate, both map-side combinable — the Pregel SSSP shape).

    After round k every node holds the exact minimum-weight path using
    <= k edges, so with fixed max_rounds the result is deterministic and
    the DuckDB oracle is the identical hop-bounded min-plus closure as a
    recursive CTE. Distances are exact IEEE doubles: each path's weight
    folds left-to-right along the path (same order both engines) and the
    cross-path combine is min — no order-dependent float addition.

    edges: (src, dst, w). Returns (id, dist) for reached nodes only.
    At 10^12 edges the static edge frame is checkpointed once and each
    round shuffles only on the join key; unreachable nodes never enter
    the frontier, so per-round work tracks the reached set.
    """
    e = edges.select("src", "dst", F.col("w").cast("double")).transform(stable)
    dist = local_frame(
        e.sparkSession, [(source, 0.0)], "id string, dist double"
    )
    for _ in range(max_rounds):
        relaxed = (
            dist.join(e, dist["id"] == e["src"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .transform(stable)
        )
    return dist


def bipartite_project(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    max_degree: int | None = None,
) -> DataFrame:
    """Project a bipartite (left, right) edge list onto the RIGHT node
    set: (right_a, right_b, weight) with weight = number of distinct
    left nodes adjacent to both and right_a < right_b — the standard
    co-occurrence projection (user x item -> item-item). The self-join
    on the left key makes a left node of degree d contribute d^2 pairs;
    max_degree (when set) drops hub left-nodes above it first — the
    usual cap that keeps the projection near-linear at web scale (a
    user touching everything carries no co-occurrence signal anyway)."""
    e = edges.select(left_col, right_col).distinct()
    if max_degree is not None:
        deg = e.groupBy(left_col).agg(F.count("*").alias("_d"))
        e = e.join(deg.where(F.col("_d") <= max_degree), left_col).drop("_d")
    a = e.select(F.col(left_col).alias("_l"), F.col(right_col).alias("right_a"))
    b = e.select(F.col(left_col).alias("_l"), F.col(right_col).alias("right_b"))
    return (
        a.join(b, "_l")
        .where(F.col("right_a") < F.col("right_b"))
        .groupBy("right_a", "right_b")
        .agg(F.count("*").alias("weight"))
    )


def ktruss(edges: DataFrame, k: int = 3, rounds: int = 6) -> DataFrame:
    """k-truss membership by synchronous edge peeling: each round
    recomputes every surviving edge's SUPPORT (triangles it closes
    within the surviving subgraph) and drops edges below k-2. Runs
    EXACTLY `rounds` rounds — no early break — so the DuckDB oracle
    (the same peel unrolled as chained CTEs) agrees even before
    convergence, the same contract as kcore above. The truss is the
    standard cohesion refinement of the core (Cohen 2008): a k-truss
    edge set is always inside the (k-1)-core but prunes bridge edges
    the core keeps — on the KG it separates genuinely dense districts
    from star-shaped hubs that survive coreness on degree alone.

    Returns EVERY original undirected edge (u < v) with in_truss 0/1
    and its final within-truss support.

    Scale shape per round: one exact degree-oriented triangle
    enumeration over the (checkpointed, monotonically shrinking)
    surviving edges — O(m^1.5) work, hub fan-out structurally capped
    by the orientation — then one explode + partial-agg count per edge
    slot and a filter. No windows, no collect in the loop.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(stable)
    )
    alive = und
    for _ in range(rounds):
        tri = triangles(alive.select(F.col("u").alias("src"), F.col("v").alias("dst")))
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                        F.struct(F.col("x").alias("u"), F.col("z").alias("v")),
                        F.struct(F.col("y").alias("u"), F.col("z").alias("v")),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count("*").alias("_sup"))
        )
        alive = (
            alive.select("u", "v")
            .join(sup, ["u", "v"], "left")
            .where(F.coalesce("_sup", F.lit(0)) >= k - 2)
            .transform(stable)
        )
    return und.join(alive, ["u", "v"], "left").select(
        "u",
        "v",
        F.when(F.col("_sup").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("in_truss"),
        F.coalesce("_sup", F.lit(0)).cast("long").alias("support"),
    )


def luby_mis(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Maximal independent set via Luby's algorithm (Luby 1986) with
    DETERMINISTIC priorities: a node joins the MIS when its priority
    beats every still-alive neighbor's; winners and their neighbors
    leave the graph; repeat. Priorities are a portable LCG residue of
    the node id, disambiguated by the id itself — unique, identical in
    any engine, and integer-exact — so the selected set is a pure
    function of the graph (Blelloch et al. 2012 show this fixed-order
    variant is itself parallel-efficient). Runs EXACTLY `rounds`
    synchronous rounds (the kcore/ktruss fixed-rounds contract): nodes
    still alive after the last round report state 'open' rather than
    depending on convergence.

    Returns every node with state 'mis' / 'dominated' / 'open' and its
    priority (non-uniform — the value the cross-engine hash rides on).

    Scale shape per round: one partial-agg min over the alive-restricted
    (checkpointed) edge list, a broadcast-free filter join for winners,
    and one semi-join for domination — the alive set shrinks fast
    (Luby rounds are O(log n) in expectation), no windows, no collect.
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(stable)
    )
    prio = (
        F.pmod(F.lit(1103515245) * F.col("id") + F.lit(12345), F.lit(2147483648))
        * F.lit(100000)
        + F.col("id")
    )
    nodes = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("prio", prio.cast("long"))
        .transform(stable)
    )
    alive = nodes
    decided = None
    for _ in range(rounds):
        nbr_min = (
            sym.join(alive.select(F.col("id").alias("src")), "src")
            .join(
                alive.select(F.col("id").alias("dst"), F.col("prio").alias("_dp")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("_dp").alias("_mn"))
        )
        won = (
            alive.join(nbr_min, "id", "left")
            .where(F.col("prio") < F.coalesce("_mn", F.lit(2**62)))
            .select("id", "prio")
            .transform(stable)
        )
        dom = (
            sym.join(won.select(F.col("id").alias("src")), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(alive, "id", "left_semi")
            .join(won, "id", "left_anti")
            .join(alive.select("id", "prio"), "id")
            .transform(stable)
        )
        newly = won.withColumn("state", F.lit("mis")).union(
            dom.withColumn("state", F.lit("dominated"))
        )
        decided = newly if decided is None else decided.union(newly)
        alive = alive.join(newly.select("id"), "id", "left_anti").transform(stable)
    out = decided.union(alive.withColumn("state", F.lit("open")))
    return out.select("id", "prio", "state")


def coreness(edges: DataFrame, k_max: int = 4, rounds: int = 8) -> DataFrame:
    """Core decomposition: each node's core NUMBER — the largest k for
    which it survives the k-core peel — capped at k_max (the Batagelj-
    Zaversnik output, computed level-by-level: coreness(v) = 1 +
    #levels k in [2, k_max] whose k-core retains v; every node in the
    edge list has degree >= 1, so level 1 is the whole graph). Each
    level runs the SAME fixed-rounds synchronous peel as kcore, so the
    oracle unrolls k_max-1 independent CTE chains — agreement never
    depends on convergence. The cap is the standard scale posture: at
    web scale core numbers beyond a small k are computed on the
    (already tiny) k_max-core only.

    Scale shape: k_max-1 independent peel loops over the same
    checkpointed symmetric edge list; within a level the alive set
    shrinks monotonically. Returns (id, coreness) for every node."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(stable)
    )
    base = sym.select(F.col("src").alias("id")).distinct()
    out = base.withColumn("coreness", F.lit(1))
    for k in range(2, k_max + 1):
        kc = kcore(sym, k=k, rounds=rounds).select(
            "id", F.col("in_core").alias(f"_c{k}")
        )
        out = out.join(kc, "id", "left").withColumn(
            "coreness", F.col("coreness") + F.coalesce(f"_c{k}", F.lit(0))
        ).drop(f"_c{k}")
    return out.select("id", F.col("coreness").cast("int").alias("coreness"))


def neighbor_mean_agg(
    edges: DataFrame,
    features: DataFrame,
    id_col: str = "id",
    feat_col: str = "feat",
) -> DataFrame:
    """Two-layer mean neighborhood aggregation — the message-passing
    primitive of GraphSAGE-style feature propagation (Hamilton et al.
    2017) over the KG link graph: h1(v) = mean of neighbors' raw
    features, h2(v) = mean of neighbors' h1. Undirected (edges
    symmetrized); featureless neighbors contribute to neither the mean
    nor the reported degree (degree = featured-neighbor count, folded
    into the layer-1 aggregate so one shuffle carries both); nodes whose
    every neighbor lacks h1 keep a NULL h2.

    Determinism: each layer's mean is rounded to 6 dp before feeding the
    next (the same trajectory-pinning rule as kmeans_assign), so the
    only FP freedom is summation order inside one exact-integer layer.
    Plan shape: symmetrize (no shuffle — union of two Projects), then
    per layer ONE equi-join on the neighbor id + ONE map-side-combinable
    partial agg; at 10^12 edges both shuffles key on the node id, skew
    bounded by max degree (mega-hub salting is the same story as
    connected_components)."""
    sym = edges.select(
        F.col("src").alias("w"), F.col("dst").alias("n")
    ).unionByName(edges.select(F.col("dst").alias("w"), F.col("src").alias("n")))

    # layer 1 carries the degree in the SAME aggregate (one shuffle does
    # both), so only the h2 attach needs a join afterwards
    h1 = (
        sym.join(
            features.select(F.col(id_col).alias("n"), F.col(feat_col).alias("_h0")),
            "n",
        )
        .groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("degree"),
            F.round(F.avg("_h0"), 6).alias("h1"),
        )
        .withColumnRenamed("w", id_col)
    )
    h2 = (
        sym.join(h1.select(F.col(id_col).alias("n"), "h1"), "n")
        .groupBy("w")
        .agg(F.round(F.avg("h1"), 6).alias("h2"))
        .withColumnRenamed("w", id_col)
    )
    return h1.join(h2, id_col, "left").select(
        id_col, "degree", "h1", "h2"
    )


def jones_plassmann_coloring(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Distributed greedy graph coloring, Jones-Plassmann style (Jones &
    Plassmann 1993): node priorities come from a deterministic bijective
    integer mixer (odd-multiplier Knuth hash — no ties by construction),
    and each synchronous round every still-uncolored node whose priority
    beats ALL its uncolored neighbors takes the smallest color (mex) not
    used by its already-colored neighbors. Runs EXACTLY `rounds` rounds
    (the oracle-before-convergence contract shared with kcore/lpa);
    nodes still uncolored after that report color -1 and round_colored
    -1 — honest bounded-round output, since a worst-case priority chain
    colors one node per round.

    The classic uses: register allocation's parallel cousin —
    conflict-free scheduling of overlapping spatial features (two
    touching buildings never share a crew slot), channel assignment,
    parallel Gauss-Seidel orderings.

    Scale shape per round: ONE self-join of the uncolored frontier
    against uncolored-neighbor priorities (max-prio partial agg), ONE
    join against colored-neighbor colors (collect_set partial agg), a
    mex computed as an array HOF over the bounded color range, and a
    union append to the colored frame (checkpointed every round —
    iterative-loop lineage rules as pagerank). No windows, no driver
    data, degree-bounded skew."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(stable)
    )
    # bijective priority (odd multiplier mod 2^32): distinct ids give
    # distinct priorities, engine-replayable with plain integer SQL.
    # Requires NUMERIC node ids with id * 2654435761 inside int64 (ids
    # < ~3.4e9) — string ids need a pre-assigned index.
    nodes = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("prio", F.expr("pmod(id * 2654435761, 4294967296)"))
        .transform(stable)
    )
    colored = nodes.limit(0).select(
        "id", F.lit(0).alias("color"), F.lit(0).alias("round_colored")
    )
    uncolored = nodes
    for r in range(1, rounds + 1):
        # uncolored neighbors' max priority (NULL when none remain)
        unbr = (
            sym.join(uncolored.select(F.col("id").alias("dst"), "prio"), "dst")
            .groupBy("src")
            .agg(F.max("prio").alias("_maxnbr"))
        )
        winners = (
            uncolored.join(unbr.withColumnRenamed("src", "id"), "id", "left")
            .where(F.col("_maxnbr").isNull() | (F.col("prio") > F.col("_maxnbr")))
            .select("id", "prio")
        )
        used = (
            sym.join(colored.select(F.col("id").alias("dst"), "color"), "dst")
            .groupBy("src")
            .agg(F.collect_set("color").alias("_used"))
            .withColumnRenamed("src", "id")
        )
        newly = (
            winners.join(used, "id", "left")
            .select(
                "id",
                F.expr(
                    "element_at(filter(sequence(0, 64), "
                    "c -> NOT array_contains(coalesce(_used, array()), c)), 1)"
                ).alias("color"),
                F.lit(r).alias("round_colored"),
            )
        )
        colored = stable(colored.unionByName(newly), eager=False)
        uncolored = stable(
            uncolored.join(newly.select("id"), "id", "left_anti"), eager=False
        )
    return (
        nodes.select("id")
        .join(colored, "id", "left")
        .select(
            "id",
            F.coalesce("color", F.lit(-1)).cast("int").alias("color"),
            F.coalesce("round_colored", F.lit(-1)).cast("int").alias("round_colored"),
        )
    )
