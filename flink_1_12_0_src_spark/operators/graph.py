"""Graph library operators (SURVEY.md §2.12 — Gelly parity).

Reference: flink-libraries/flink-gelly — Graph.java (vertex/edge DataSets),
library algorithms ConnectedComponents / PageRank
(flink-libraries/flink-gelly/src/main/java/org/apache/flink/graph/library/).
Gelly runs them as Flink delta/bulk iterations (DataSet.iterateDelta,
flink-java/.../DataSet.java:1206); Spark has no engine loops, so these are
driver-side iterative DataFrame programs in the aggregateMessages style —
each step is a shuffle-on-key join + partial-aggregated groupBy that AQE
sizes at runtime.

Scale notes (100 TB):
- the per-iteration plan is join(edges, labels on src) → groupBy(dst) —
  both hash-partitioned on vertex id; co-partitioning is reused across the
  join and the agg, and the messages aggregate map-side before shuffling;
- an eager ``barrier`` truncates lineage each iteration (otherwise the plan
  doubles per step and the driver, not the data, becomes the bottleneck);
  PageRank reads each iterate once, so it checkpoints only its result;
- convergence check piggybacks on the same pass (one count per iteration).

Determinism: connected components converges to the exact min-reachable-id
labeling; PageRank uses pure BIGINT arithmetic (rank scaled by 1e12,
floor division) so every engine computes bit-identical ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_1_12_0_src_spark.pipeline.stageclock import barrier, cached

PR_SCALE = 1_000_000_000_000  # rank fixed-point scale (1.0 == 1e12)


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct symmetric edge set (Gelly Graph.getUndirected), from one
    scan of ``edges``: each edge explodes into both directions."""
    both = F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
    )
    return edges.select(F.explode(both).alias("e")).select("e.src", "e.dst").distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """Label propagation to fixpoint: every vertex ends with the minimum
    vertex id reachable from it (Gelly ConnectedComponents semantics,
    …/graph/library/ConnectedComponents.java). Returns (v, component).
    """
    # loop-invariant edge side: persist PRE-PARTITIONED on the join key so
    # only the |V|-sized label table shuffles per round (same layout note as
    # pagerank below)
    ud = _undirected(edges, src, dst).repartition("src")
    with cached(ud):
        labels = ud.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
        for _ in range(max_iter):
            msgs = (
                ud.join(labels, ud.src == labels.v)
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("label").alias("nbr_min"))
            )
            new_labels = barrier(
                labels.join(msgs, "v", "left").select(
                    "v", F.least("label", F.coalesce("nbr_min", F.col("label"))).alias("label")
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "v")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    return labels.select("v", F.col("label").alias("component"))


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", iterations: int = 3
) -> DataFrame:
    """Synchronous label propagation (Gelly …/graph/library/LabelPropagation.java,
    CommunityDetection.java): labels start as vertex ids; each round every
    vertex adopts the most frequent label among its neighbors, ties broken by
    the minimum label — which makes the fixed-iteration result deterministic
    and therefore oracle-checkable (Gelly's hash-based tie-break is not).

    Per round: one join (edges × labels on src) + count-groupBy + top-1 window
    — all hash-partitioned on vertex id; a barrier flattens lineage."""
    from pyspark.sql import Window as W

    ud = _undirected(edges, src, dst).repartition("dst")
    with cached(ud):
        labels = ud.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
        for _ in range(iterations):
            cnt = (
                ud.join(labels, ud.dst == labels.v)
                .groupBy(F.col("src").alias("nv"), "label")
                .agg(F.count("*").alias("c"))
            )
            w = W.partitionBy("nv").orderBy(F.desc("c"), F.asc("label"))
            labels = barrier(
                cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("nv").alias("v"), "label")
            )
    return labels


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle participation counts (Gelly TriangleEnumerator,
    …/graph/library/TriangleEnumerator.java, + clustering triangle metrics).

    Canonicalizes edges to p1 < p2 and enumerates each triangle exactly once
    via the two-path + closing-edge join. All three joins hash-partition on a
    vertex id; at scale the standard ordered-degree orientation (direct edges
    low-degree → high-degree) bounds the two-path fan-out — with id-ordering
    here so the DuckDB oracle can mirror the exact same enumeration."""
    pe = edges.select(
        F.least(F.col(src), F.col(dst)).alias("p1"),
        F.greatest(F.col(src), F.col(dst)).alias("p2"),
    ).filter(F.col("p1") != F.col("p2")).distinct()
    # three plan references below; edges ≪ triangle fan-out. The cache is
    # scoped to this call so a many-query gate run doesn't accumulate
    # cached edge blocks.
    with cached(pe):
        e1, e2, e3 = pe.alias("e1"), pe.alias("e2"), pe.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.p2") == F.col("e2.p1"))
            .join(e3, (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")))
            .select(F.col("e1.p1").alias("a"), F.col("e1.p2").alias("b"), F.col("e2.p2").alias("c"))
        )
        verts = (
            tri.select(F.col("a").alias("v"))
            .unionAll(tri.select(F.col("b").alias("v")))
            .unionAll(tri.select(F.col("c").alias("v")))
        )
        return barrier(verts.groupBy("v").agg(F.count("*").alias("n_triangles")))


def sssp(
    edges: DataFrame, source: int, src: str = "src", dst: str = "dst", max_hops: int = 6
) -> DataFrame:
    """Single-source shortest paths, unit weights (Gelly SSSP,
    …/graph/library/SingleSourceShortestPaths.java — scatter-gather iteration).

    Bellman-Ford over the undirected graph: ``max_hops`` relaxation rounds,
    each one join (frontier × edges) + min-aggregate — the aggregateMessages
    shape; returns (v, dist) for vertices within max_hops. A barrier
    truncates lineage per round (driver-side iteration, §2.12 scale notes)."""
    spark = edges.sparkSession
    ud = _undirected(edges, src, dst).repartition("src")
    dist = spark.createDataFrame([(source, 0)], "v long, d int")
    with cached(ud):
        for _ in range(max_hops):
            msgs = ud.join(dist, ud.src == dist.v).select(
                F.col("dst").alias("v"), (F.col("d") + 1).alias("d")
            )
            dist = barrier(dist.unionAll(msgs).groupBy("v").agg(F.min("d").alias("d")))
    return dist.select("v", F.col("d").cast("bigint").alias("dist"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected graph in exact BIGINT
    fixed-point arithmetic (Gelly …/graph/library/PageRank.java semantics;
    damping 0.85, uniform init 1.0).

    rank' = (100-d)% · SCALE  +  d% · Σ_in (rank(u) div outdeg(u)), all in
    integer floor division — bit-reproducible on any engine, which is what
    makes the result oracle-checkable (float PR never is across engines).
    Vertices are edge endpoints, so outdeg ≥ 1 and there are no danglers.
    """
    ud = _undirected(edges, src, dst)
    deg = ud.groupBy("src").agg(F.count("*").alias("outdeg"))
    # The edge side is loop-invariant: fuse the degree join ONCE and persist
    # it PRE-PARTITIONED on the join key, so each iteration shuffles only the
    # |V|-sized rank table (the cached InMemoryTableScan keeps its
    # HashPartitioning and Catalyst skips the big-side exchange) — the
    # standard distributed-PageRank layout; at 100 TB the edge relation is
    # the one you cannot afford to move five times.
    ud_deg = ud.join(deg, "src").select("src", "dst", "outdeg").repartition("src")
    base = (100 - damping_pct) * PR_SCALE // 100
    with cached(ud_deg):
        ranks = ud_deg.select(F.col("src").alias("v")).distinct().withColumn(
            "rank", F.lit(PR_SCALE).cast("long")
        )
        for _ in range(iterations):
            # no join hint: the planner broadcasts the |V|-sized rank table
            # where it fits and otherwise shuffles only it onto the
            # pre-partitioned edges (a shuffle_hash hint measured 0.47 s vs
            # 0.28 s per iteration at bench SF, by overriding the broadcast).
            contribs = ud_deg.join(ranks, ud_deg.src == ranks.v).select(
                F.col("dst").alias("v"), F.expr("rank DIV outdeg").alias("c")
            )
            ranks = (
                contribs.groupBy("v")
                .agg(F.sum("c").alias("s"))
                .select(
                    "v",
                    (F.lit(base) + F.expr(f"({damping_pct} * s) DIV 100")).cast("long").alias("rank"),
                )
            )
        # Lineage grows LINEARLY (each iteration references the prior ranks
        # once), so the loop needs no mid-loop truncation. Materialize the
        # FINAL ranks while ud_deg is still cached — the lazy tail would
        # otherwise re-derive the edge+degree join from parquet at the
        # caller's first action, after the release.
        ranks = barrier(ranks)
    return ranks.select("v", F.col("rank").alias("pagerank"))


def summarize(
    edges: DataFrame,
    src_groups: DataFrame,
    dst_groups: DataFrame,
) -> DataFrame:
    """Graph summarization (Gelly …/graph/library/Summarization.java): merge
    vertices that share a group value into super-vertices and aggregate the
    edges between groups into super-edges carrying edge/endpoint counts.

    src_groups / dst_groups: (v, grp) DataFrames mapping vertex id → group.
    Scale: the group tables are dimension-sized — broadcast both sides, so
    the only shuffle is the final (src_group, dst_group) aggregation, whose
    cardinality is |groups|², tiny regardless of edge count.
    """
    sg = F.broadcast(src_groups.select(F.col("v").alias("_sv"), F.col("grp").alias("src_group")))
    dg = F.broadcast(dst_groups.select(F.col("v").alias("_dv"), F.col("grp").alias("dst_group")))
    return (
        edges.join(sg, edges.src == F.col("_sv"))
        .join(dg, edges.dst == F.col("_dv"))
        .groupBy("src_group", "dst_group")
        .agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("src").alias("n_src"),
            F.countDistinct("dst").alias("n_dst"),
        )
    )


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS hubs-and-authorities (Gelly …/graph/library/linkanalysis/HITS.java)
    over the directed edge set, run for a fixed number of alternating steps in
    EXACT integer arithmetic (hub init 1, no normalization): authority(v) =
    Σ hub(u) over in-edges, then hub(u) = Σ authority(v) over out-edges.
    Skipping the float normalization keeps every engine bit-identical, which
    is what makes a cross-engine oracle possible; ranking order is unchanged
    (normalization is a positive scalar per step).

    Returns (v, role 'hub'|'auth', score) for the final iteration's scores.
    Scale: each step is one shuffle-agg over edges joined to a score table
    keyed by vertex — the aggregateMessages pattern; no driver-side data.
    """
    auth = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count("*").cast("long").alias("score")
    )
    hub = None
    for _ in range(iterations - 1):
        hub = (
            edges.join(auth, edges.dst == auth.v)
            .groupBy(F.col("src").alias("v2"))
            .agg(F.sum("score").alias("score"))
            .select(F.col("v2").alias("v"), "score")
        )
        auth = (
            edges.join(hub, edges.src == hub.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.sum("score").alias("score"))
            .select(F.col("v2").alias("v"), "score")
        )
    if hub is None:  # iterations == 1: hubs are all-ones
        hub = edges.select(F.col("src").alias("v")).distinct().withColumn(
            "score", F.lit(1).cast("long")
        )
    return hub.withColumn("role", F.lit("hub")).unionByName(
        auth.withColumn("role", F.lit("auth"))
    ).select("v", "role", "score")


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per vertex (Gelly …/graph/library/
    clustering/undirected/LocalClusteringCoefficient.java): cc(v) =
    2·triangles(v) / (deg(v)·(deg(v)−1)), 0 for degree < 2.

    Pure composition of the two existing one-shuffle primitives — the
    undirected degree count and the canonical triangle enumeration — joined
    on the vertex id; no new shuffle shape, so it scales exactly as
    triangle_counts does (ordered-degree orientation bounds the two-path
    fan-out at 100 TB).
    """
    ud = _undirected(edges, src, dst)
    deg = ud.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("degree"))
    tri = triangle_counts(edges, src, dst)
    return (
        deg.join(tri, "v", "left")
        .select(
            "v",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def jaccard_similarity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_jaccard: float = 0.0,
    max_neighbor_degree: int | None = 4096,
) -> DataFrame:
    """Jaccard vertex similarity (Gelly …/graph/library/similarity/
    JaccardIndex.java): for every vertex pair sharing ≥1 neighbor,
    J(u,w) = |N(u)∩N(w)| / |N(u)|+|N(w)|−|N(u)∩N(w)|, emitted for u < w.

    Gelly's group-by-neighbor pair generation verbatim in DataFrame form:
    the two-path self-join on the common neighbor produces each co-neighbor
    pair once per shared neighbor, one groupBy counts the intersection, and
    degrees close the union via inclusion-exclusion — no neighbor-set
    materialization. Pair fan-out is Σ_n deg(n)², the quadratic-in-hub risk
    of every bucketed self-join in this repo, guarded the same way:
    ``max_neighbor_degree`` drops vertices with degree above the cap from
    every neighbor SET (both the intersection join and the degree counts,
    so Jaccard stays consistent over the filtered neighborhood space) — a
    hub adjacent to everything carries ~zero similarity signal but deg²
    join rows. One window count over the join's own partition key;
    ``None`` disables.
    """
    ud = _undirected(edges, src, dst)
    if max_neighbor_degree is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("dst")
        ud = (
            ud.withColumn("_nd", F.count("*").over(w))
            .filter(F.col("_nd") <= max_neighbor_degree)
            .drop("_nd")
        )
    with cached(ud):
        deg = ud.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        a, b = ud.alias("a"), ud.alias("b")
        shared = (
            a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
            .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("w"))
            .agg(F.count("*").alias("shared"))
        )
        du = deg.select(F.col("v").alias("u"), F.col("d").alias("du"))
        dw = deg.select(F.col("v").alias("w"), F.col("d").alias("dw"))
        jac = F.round(
            F.col("shared").cast("double") / (F.col("du") + F.col("dw") - F.col("shared")), 6
        )
        out = (
            shared.join(du, "u")
            .join(dw, "w")
            .select("u", "w", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard)
        )
        # materialize before releasing the shared edge cache, so the persist
        # is scoped to this call instead of leaking across a many-query run
        return barrier(out)


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_score: float = 0.0,
    max_neighbor_degree: int | None = 4096,
) -> DataFrame:
    """Adamic-Adar vertex similarity (Gelly
    …/graph/library/similarity/AdamicAdar.java): score(u, w) =
    Σ_{z ∈ N(u)∩N(w)} 1/ln(deg(z)) — common neighbors weighted inversely by
    how promiscuous they are.

    Determinism: each term is rounded to 9 dp and accumulated as
    DECIMAL(28,9), so the sum is exact and independent of partitioning/merge
    order (a plain float SUM would be order-dependent); the final score casts
    to DOUBLE once. Degree-1 neighbors are excluded up front (they cannot be
    shared, and ln(1)=0 would blow up the weight).

    Scale shape: identical to :func:`jaccard_similarity` — the pair explosion
    comes only from the two-path self-join on the shared neighbor, and
    neighbors above ``max_neighbor_degree`` are dropped before pairing (the
    hub guard; a hub of degree B fans out B²/2 pairs). Weights are computed
    from the FULL degree (before the cap filter), matching Gelly's use of the
    actual vertex degree.
    """
    ud = _undirected(edges, src, dst)
    nd = ud.groupBy("dst").agg(F.count("*").alias("_c"))
    half = ud.join(nd, "dst").filter(F.col("_c") >= 2)
    if max_neighbor_degree is not None:
        half = half.filter(F.col("_c") <= max_neighbor_degree)
    half = half.select(
        "src",
        "dst",
        F.round(F.lit(1.0) / F.log(F.col("_c").cast("double")), 9)
        .cast("decimal(28,9)")
        .alias("_w"),
    )
    a, b = half.alias("a"), half.alias("b")
    pairs = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("w"))
        .agg(F.sum(F.col("a._w")).alias("_s"))
    )
    return pairs.select(
        "u", "w", F.col("_s").cast("double").alias("aa_score")
    ).filter(F.col("aa_score") >= min_score)


def triadic_census(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected triadic census (Gelly
    …/graph/library/clustering/undirected/TriadicCensus.java): one row with
    the counts of vertex triples having 0, 1, 2 (open wedge) and 3 (triangle)
    edges, via the closed-form identities
        t3 = triangles,  t2 = W − 3·t3,  t1 = m·(n−2) − 2·W + 3·t3,
        t0 = C(n,3) − t1 − t2 − t3,
    where W = Σ_v C(deg(v), 2) is the triplet count — so the only heavy work
    is the degree aggregation and the triangle enumeration (no triple-wise
    scan; the same trick Gelly's implementation uses). Pure BIGINT
    arithmetic, bit-identical on any engine. The input is canonicalized
    in here (least/greatest + distinct) and SELF-LOOPS ARE EXCLUDED from
    every statistic: a self-loop is not an edge of any triple, so it
    contributes to neither n_vertices, n_edges, degrees nor the census —
    a vertex incident only to a self-loop does not appear at all. This
    matches triangle_counts and the p1 < p2 oracle host (pinned by
    test_triadic_census_ignores_self_loops). At extreme vertex counts (n ≳ 3·10⁶ per
    component set) C(n,3) needs DECIMAL widening — same limit as Gelly's
    long-based census."""
    # The input edge list may itself be an expensive derivation (the test
    # host is a lineitem co-order self-join); both the degree aggregation
    # and the triangle enumeration consume it, so canonicalize + persist it
    # ONCE and release after materializing the single-row census — halves
    # the dominant cost at any scale where the edge derivation isn't free.
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias(src),
            F.greatest(F.col(src), F.col(dst)).alias(dst),
        )
        .filter(F.col(src) != F.col(dst))
        .distinct()
    )
    with cached(canon):
        deg = (
            _undirected(canon, src, dst)
            .groupBy(F.col("src").alias("v"))
            .agg(F.count("*").alias("d"))
        )
        nm = deg.agg(
            F.count("*").alias("n"),
            F.expr("coalesce(sum(d) div 2, 0)").alias("m"),
            F.expr("coalesce(sum(d * (d - 1) div 2), 0)").alias("wedges"),
        )
        t3 = (
            # the enumerator's own pe cache must stay — the three-way join
            # references it three times, and only the SOURCE derivation is
            # shared with the degree path via `canon`
            triangle_counts(canon, src, dst)
            .agg(F.expr("coalesce(sum(n_triangles), 0) div 3").alias("t3"))
        )
        out = nm.crossJoin(t3).select(
            F.col("n").cast("bigint").alias("n_vertices"),
            F.col("m").alias("n_edges"),
            (
                F.expr("n * (n - 1) * (n - 2) div 6")
                - (F.col("m") * (F.col("n") - 2) - 2 * F.col("wedges") + 3 * F.col("t3"))
                - (F.col("wedges") - 3 * F.col("t3"))
                - F.col("t3")
            ).cast("bigint").alias("t0"),
            (F.col("m") * (F.col("n") - 2) - 2 * F.col("wedges") + 3 * F.col("t3"))
            .cast("bigint")
            .alias("t1"),
            (F.col("wedges") - 3 * F.col("t3")).cast("bigint").alias("t2"),
            F.col("t3").alias("t3"),
        )
        # 1 row; materialize before the release
        return barrier(out)


def vertex_metrics(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected vertex metrics (Gelly
    …/graph/library/metric/undirected/VertexMetrics.java): single-row summary
    — vertex count, edge count, triplet count W = Σ C(d,2), maximum degree,
    maximum triplets, and average degree 2m/n (one exact IEEE divide; every
    other column is integral). One degree aggregation, no joins."""
    deg = (
        _undirected(edges, src, dst)
        .groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("d"))
    )
    return deg.agg(
        F.count("*").cast("bigint").alias("n_vertices"),
        F.expr("coalesce(sum(d) div 2, 0)").alias("n_edges"),
        F.expr("coalesce(sum(d * (d - 1) div 2), 0)").alias("n_triplets"),
        F.coalesce(F.max("d"), F.lit(0)).cast("bigint").alias("max_degree"),
        F.expr("coalesce(max(d * (d - 1) div 2), 0)").alias("max_triplets"),
        F.coalesce(F.sum("d").cast("double") / F.count("*"), F.lit(0.0)).alias(
            "avg_degree"
        ),
    )


def community_detection(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 4,
    delta: str = "0.6",
) -> DataFrame:
    """Gelly CommunityDetection (…/graph/library/CommunityDetection.java,
    Leung et al. hop-attenuated label propagation): each vertex starts as its
    own community with score 1.0; per superstep every vertex adopts the label
    with the highest SUM of received scores (smallest label on ties — the
    TreeMap-ascending + strict-greater scan in the reference), its new score
    is the MAX single received score of that label, attenuated by
    delta/superstep when the label changed. Vertices receiving no messages
    keep their value.

    Determinism: all score arithmetic runs in DECIMAL(28,9). With the default
    ``delta='0.6'`` every attenuation delta/i for i ≤ 4 is a finite decimal
    (0.6, 0.3, 0.2, 0.15), so scores stay exact and the result is identical
    on any engine and any partitioning — the reason the default differs from
    Gelly's 0.5 (0.5/3 is non-terminating; the mechanism is unchanged).

    Scale shape: per superstep one join (messages along edges) + one
    two-level aggregation, the same O(V+E) scatter-gather round Gelly runs;
    the driver loop truncates lineage with a barrier per iteration like
    the other fixpoints in this module."""
    ud = _undirected(edges, src, dst)
    with cached(ud):
        state = barrier(
            ud.select(F.col("src").alias("v"))
            .distinct()
            .select(
                "v",
                F.col("v").cast("bigint").alias("label"),
                F.lit("1.0").cast("decimal(28,9)").alias("score"),
            )
        )
        from decimal import Decimal

        for i in range(1, max_iterations + 1):
            # attenuation as an exact 9-dp literal (same literal the SQL
            # oracle embeds), so engine-side decimal division never appears
            att_str = str(
                (Decimal(delta) / i).quantize(Decimal("0.000000001"))
            )
            att = F.lit(att_str).cast("decimal(28,9)")
            msgs = state.join(ud, state["v"] == ud["src"]).select(
                ud["dst"].alias("v"), "label", F.col("score").alias("msg")
            )
            per_label = msgs.groupBy("v", "label").agg(
                F.sum("msg").alias("s"), F.max("msg").alias("mx")
            )
            from pyspark.sql import Window

            w = Window.partitionBy("v").orderBy(F.col("s").desc(), F.col("label").asc())
            pick = (
                per_label.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("v", F.col("label").alias("new_label"), F.col("mx").alias("new_mx"))
            )
            state = barrier(
                state.join(pick, "v", "left").select(
                    "v",
                    F.coalesce("new_label", "label").alias("label"),
                    F.when(F.col("new_label").isNull(), F.col("score"))
                    .when(F.col("new_label") == F.col("label"), F.col("new_mx"))
                    .otherwise((F.col("new_mx") - att).cast("decimal(28,9)"))
                    .alias("score"),
                )
            )
        return state.select("v", "label")


def edge_metrics(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge metrics (Gelly
    …/graph/library/metric/undirected/EdgeMetrics.java): single-row summary —
    triangle-triplet count Σ_v C(low_v, 2), rectangle-triplet count
    Σ_v [C(low_v, 2) + low_v·(d_v − low_v)], and their per-vertex maxima,
    where low_v counts v's neighbors of higher (degree, id) order (the
    low-order marking of EdgeMetrics.EdgeStats:135-176). Pure BIGINT
    arithmetic: degree agg + one edge-degree join + one final agg."""
    ud = _undirected(edges, src, dst)
    deg = ud.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    e2 = (
        ud.join(deg.withColumnsRenamed({"v": "src", "d": "ds"}), "src")
        .join(deg.withColumnsRenamed({"v": "dst", "d": "dt"}), "dst")
    )
    marks = e2.select(
        F.col("src").alias("v"),
        F.col("ds").alias("d"),
        F.when(
            (F.col("ds") < F.col("dt"))
            | ((F.col("ds") == F.col("dt")) & (F.col("src") < F.col("dst"))),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("lo"),
    )
    per_v = marks.groupBy("v", "d").agg(F.sum("lo").alias("low"))
    stats = per_v.select(
        F.expr("low * (low - 1) div 2").alias("tt"),
        F.expr("low * (low - 1) div 2 + low * (d - low)").alias("rt"),
    )
    return stats.agg(
        F.coalesce(F.sum("tt"), F.lit(0)).cast("bigint").alias("triangle_triplet_count"),
        F.coalesce(F.sum("rt"), F.lit(0)).cast("bigint").alias("rectangle_triplet_count"),
        F.coalesce(F.max("tt"), F.lit(0)).cast("bigint").alias("maximum_triangle_triplets"),
        F.coalesce(F.max("rt"), F.lit(0)).cast("bigint").alias("maximum_rectangle_triplets"),
    )


def bipartite_projection(
    edges: DataFrame,
    top: str = "top",
    bottom: str = "bottom",
    max_bottom_degree: int | None = 4096,
) -> DataFrame:
    """Bipartite top-projection (Gelly …/graph/bipartite/BipartiteGraph.java:
    projectionTopSimple, :127): connect two top vertices for every bottom
    vertex they share. The reference emits one multi-edge per connecting
    bottom; here the multiplicity aggregates into ``n_links`` per canonical
    (src < dst) pair — the same information, deterministic and hash-friendly
    (the bottom projection is this function with the columns swapped).

    Scale shape: one self-equi-join partitioned on the bottom id + one pair
    groupBy. A bottom vertex of degree B yields B(B-1)/2 pairs, so
    ``max_bottom_degree`` drops hub bottoms before pairing (the package's
    standard quadratic-fan-out guard); ``None`` disables."""
    e = edges.select(F.col(top).alias("t"), F.col(bottom).alias("b")).distinct()
    if max_bottom_degree is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("b")
        e = (
            e.withColumn("_bd", F.count("*").over(w))
            .filter(F.col("_bd") <= max_bottom_degree)
            .drop("_bd")
        )
    a = e.select(F.col("t").alias("src"), "b")
    c = e.select(F.col("t").alias("dst"), F.col("b").alias("cb"))
    return (
        a.join(c, (F.col("b") == F.col("cb")) & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_links"))
    )
