"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force baseline — broadcast the query set, scan the
  corpus once, per-query top-k via window. Exact; at 100 TB the corpus never
  shuffles (queries broadcast), so cost is one scan × |Q| dot products.
- ``kmeans_fit_exact`` / ``ivf_topk_exact``: IVF — Lloyd's k-means (few
  rounds, centroids broadcast each round; only aggregates shuffle), then
  search probes the ``nprobe`` nearest inverted lists, cutting dot products
  by ~nlist/nprobe.
- ``pq_fit_exact`` / ``pq_topk_exact``: product quantization — per-subspace
  codebooks, ADC shortlist over one-byte codes, exact cosine re-rank.
- ``lsh_topk``: random-hyperplane LSH — band-code buckets, exact re-rank.

Each ANN method has one implementation, checked against a DuckDB oracle
that runs the same algorithm in SQL (recall against the brute-force
baseline is a separate driver row). IVF and PQ compare only rounded or
DECIMAL-accumulated values, so they rank identically in both engines; the
LSH sign bits compare a raw dot against 0. Dot products run as
F.aggregate/zip_with folds (JVM codegen); only the LSH sign codes use a
numpy matmul. No driver-side collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from flink_1_12_0_src_spark.pipeline.stageclock import barrier


def _as_double(col) -> F.Column:
    # native Cast (codegen), identical float->double widening to the old
    # per-element transform lambda (which ran interpreted)
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine), self-matches
    excluded. Ranking uses the rounded cosine + id tiebreak so results are
    reproducible bit-for-bit across engines."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    j = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = F.round(_dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")), round_digits)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        j.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def label_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label mean embedding — the classifier-centroid step of
    quality/topic filtering pipelines (FineWeb-edu shape: label a seed set,
    average its embeddings, score the corpus by cosine to the centroid).

    Returns long-form rows (label, dim, centroid, n_vectors) so the output
    stays in plain scalar types for any engine. Per-dimension sums
    accumulate in DECIMAL after a fixed 6-dp round, so the mean is exact and
    order-independent regardless of partitioning/merge order.

    Scale (100 TB): posexplode fans each vector into `dim` rows map-side,
    then ONE (label, dim)-keyed shuffle with map-side partial aggregation —
    the classic two-stage mean. Output is |labels|×dim rows: tiny,
    broadcastable to the scoring pass downstream. No collect, no global
    window.
    """
    ex = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    dec = F.round(F.col("v"), round_digits).cast("decimal(18,6)")
    return ex.groupBy("label", "dim").agg(
        F.round(
            F.sum(dec).cast("double") / F.count(F.lit(1)), round_digits
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def _centroid_arrays(
    corpus: DataFrame,
    vec_col: str,
    label_col: str,
    round_digits: int,
) -> DataFrame:
    """Reassemble :func:`label_centroids`'s long-form (label, dim, centroid)
    rows into one array per label — the tiny (|labels| rows) broadcastable
    table every centroid-scoring pass joins against. Shared by
    :func:`nearest_centroid_classify`, :func:`cluster_cohesion`, and
    :func:`centroid_separation` so centroid assembly has exactly one
    definition."""
    return (
        label_centroids(corpus, vec_col, label_col, round_digits)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s["centroid"]).alias("cv"))
    )


def _cosine(a, b, round_digits: int) -> F.Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), round_digits)


def _argmax_fold(scored, score_field: str):
    """Row-local argmax over an array of structs sorted ascending by the
    tiebreak key (struct order = first-field order): fold init = the first
    (lowest-key) element so the accumulator's type always matches the
    element type, strict > over the rest keeps the earliest element on
    ties, and NULL scores coalesce to -inf so they lose to any non-NULL
    score — the DESC-score/ASC-key window semantics with zero shuffle.
    Shared by :func:`nearest_centroid_classify` and
    :func:`kmeans_fit_exact` so the NULL/tiebreak contract cannot drift."""
    neg_inf = F.lit(float("-inf"))
    return F.aggregate(
        F.slice(scored, F.lit(2), F.greatest(F.size(scored) - 1, F.lit(0))),
        F.element_at(scored, 1),
        lambda acc, s: F.when(
            F.coalesce(s[score_field], neg_inf) > F.coalesce(acc[score_field], neg_inf),
            s,
        ).otherwise(acc),
    )


def nearest_centroid_classify(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Nearest-centroid classification — the scoring pass that follows
    :func:`label_centroids` in a FineWeb-edu-style quality/topic filter:
    every corpus vector is assigned the label whose centroid it is most
    cosine-similar to. Returns (vec_id, true_label, pred_label, cosine,
    correct) so the same output doubles as the filter's confusion report.

    Scale (100 TB): centroids are |labels|×dim — reassembled into ONE row
    holding a label-sorted array of (pred_label, centroid) structs, then
    broadcast-cross-joined so every corpus row carries the whole centroid
    set. The argmax is a row-local ``F.aggregate`` fold over that array
    (strictly-greater keeps the lowest label on ties — same ordering as a
    DESC-cosine/ASC-label window). The corpus NEVER shuffles: no window, no
    Exchange on data size — the plan test pins the absence of any
    hashpartitioning exchange. Cosines are rounded to 6 dp for cross-engine
    determinism.
    """
    # One row: array of (pred_label, cv, cn) structs, sorted by label
    # ascending (struct order = first-field order) so the fold's strict >
    # realizes the ASC-label tiebreak. Centroid norms are precomputed INTO
    # the broadcast structs and the corpus vector's norm is hoisted to one
    # per-row column, so the per-centroid fold does only the dot product —
    # no redundant norm folds inside the interpreted HOF hot loop.
    cents_row = _centroid_arrays(corpus, vec_col, label_col, round_digits).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("label").alias("pred_label"),
                    F.col("cv").alias("cv"),
                    _norm(F.col("cv")).alias("cn"),
                )
            )
        ).alias("cents")
    )
    e = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("true_label"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("vn", _norm(F.col("v")))
    j = e.crossJoin(F.broadcast(cents_row))
    scored = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            s["pred_label"].alias("pred_label"),
            F.round(
                _dot(F.col("v"), s["cv"]) / (F.col("vn") * s["cn"]), round_digits
            ).alias("cosine"),
        ),
    )
    best = _argmax_fold(scored, "cosine")
    return j.select(
        "vec_id",
        "true_label",
        best["pred_label"].alias("pred_label"),
        best["cosine"].alias("cosine"),
    ).withColumn("correct", F.col("pred_label") == F.col("true_label"))


def cluster_cohesion(
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label cluster cohesion report — the quality gate run after a
    clustering / labeling pass (e.g. before SemDeDup-style within-cluster
    dedup): for every label, the mean / min / max cosine similarity of its
    members to the label centroid. Low mean cohesion flags an incoherent
    cluster; a low min flags outlier members worth re-assigning.

    Scale (100 TB): centroids come from :func:`label_centroids`
    (|labels|×dim, one keyed shuffle), are reassembled into arrays and
    BROADCAST; the corpus joins on ``label`` map-side and the final
    aggregate is per-label with map-side partials — the corpus never
    shuffles on data size. Cosines round to 6 dp and the mean accumulates
    in DECIMAL, so every statistic is order-independent across engines.
    """
    cents = _centroid_arrays(corpus, vec_col, label_col, round_digits)
    e = corpus.select(F.col(label_col).alias("label"), _as_double(F.col(vec_col)).alias("v"))
    j = e.join(F.broadcast(cents), "label")
    cos = _cosine(F.col("v"), F.col("cv"), round_digits)
    dec = cos.cast("decimal(18,6)")
    return j.select("label", cos.alias("cos"), dec.alias("dcos")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum("dcos").cast("double") / F.count(F.lit(1)), round_digits).alias(
            "mean_cosine"
        ),
        F.min("cos").alias("min_cosine"),
        F.max("cos").alias("max_cosine"),
    )


def centroid_separation(
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise label-centroid cosine similarity (label_a < label_b) — the
    separation half of a cluster-quality audit (:func:`cluster_cohesion` is
    the cohesion half): labels whose centroids are near-parallel are
    candidates for merging, and a classifier built on them will confuse.

    Scale (100 TB): after :func:`label_centroids` reduces the corpus to
    |labels|×dim rows, everything here — array reassembly, the triangular
    self-join, the cosine — runs on |labels| rows; the corpus is scanned
    exactly once by the centroid aggregate.
    """
    cents = _centroid_arrays(corpus, vec_col, label_col, round_digits)
    a = cents.select(F.col("label").alias("label_a"), F.col("cv").alias("va"))
    b = cents.select(F.col("label").alias("label_b"), F.col("cv").alias("vb"))
    j = a.join(b, F.col("label_a") < F.col("label_b"))
    cos = _cosine(F.col("va"), F.col("vb"), round_digits)
    return j.select("label_a", "label_b", cos.alias("cosine"))


def kmeans_fit_exact(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Engine-exact Lloyd's k-means TRAINING, ``iters`` rounds unrolled into
    one lazy plan, and the training step of IVF search
    (:func:`ivf_topk_exact`): init = the vectors with id
    < ``k`` (the fixed-seed convention of ``embedding_kmeans_assign``), each
    round assigns every vector to the argmax of ``round_digits``-rounded
    cosine (centroid-id tiebreak) and recomputes means with the package's
    deterministic recipe (components 6-dp-rounded, DECIMAL-accumulated, one
    exact divide, 6-dp-rounded mean) so every intermediate — assignment,
    centroid, and the final table — is bit-identical across engines, merge
    orders, and partitionings. Returns the LAST round's centroids long-form:
    (cluster, dim, centroid, n_vectors).

    Scale (100 TB of vectors): per round, the k centroids collapse to ONE
    broadcast row of label-sorted structs and assignment is a row-local
    F.aggregate argmax fold (the nearest_centroid_classify shape — no
    crossJoin fan-out growth, no per-vector window Exchange, the corpus
    never shuffles on data size); the mean recompute is one (cluster, dim)-
    keyed aggregate with map-side partials. Driver loop only composes the
    plan — no collect between rounds.

    Contract: ids 0..k-1 must exist (they are the seeds — an empty seed set
    would assign every vector a NULL cluster while a SQL oracle's empty
    cross join returns no rows) and ``iters`` ≥ 1; both assert-checked."""
    if iters < 1:
        raise ValueError("kmeans_fit_exact: iters must be >= 1")
    # explicit membership check: ids 0..k-1 must each be present (a plain
    # `< k` count would accept e.g. negative ids and silently seed off the
    # documented contract)
    n_seeds = (
        corpus.filter((F.col(id_col) >= 0) & (F.col(id_col) < k))
        .select(id_col)
        .distinct()
        .count()
    )
    if n_seeds != k:
        raise ValueError(
            f"kmeans_fit_exact: expected the {k} seed ids 0..{k - 1} in "
            f"{id_col}, found {n_seeds}"
        )
    # the corpus vector's norm is constant across rounds — hoist it ONCE to
    # a per-row column; centroid norms are precomputed into the broadcast
    # structs each round, so the per-centroid fold does only the dot product
    # (same no-redundant-norms discipline as nearest_centroid_classify)
    vecs = corpus.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("vn", _norm(F.col("v")))
    cents = vecs.filter((F.col("vid") >= 0) & (F.col("vid") < k)).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv")
    )
    last_means = None
    for _ in range(iters):
        cents_row = cents.groupBy().agg(
            F.array_sort(
                F.collect_list(
                    F.struct("cid", "cv", _norm(F.col("cv")).alias("cn"))
                )
            ).alias("cents")
        )
        j = vecs.crossJoin(F.broadcast(cents_row))
        scored = F.transform(
            F.col("cents"),
            lambda s: F.struct(
                s["cid"].alias("cid"),
                F.round(
                    _dot(F.col("v"), s["cv"]) / (F.col("vn") * s["cn"]),
                    round_digits,
                ).alias("cos"),
            ),
        )
        best = _argmax_fold(scored, "cos")
        assigned = j.select("vid", "v", best["cid"].alias("cid"))
        last_means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.round(
                    F.sum(
                        F.round("x", round_digits).cast(f"decimal(28,{round_digits})")
                    )
                    .cast("double")
                    / F.count(F.lit(1)),
                    round_digits,
                ).alias("m"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )
        cents = (
            last_means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cv"))
        )
    return last_means.select(
        F.col("cid").cast("bigint").alias("cluster"),
        F.col("pos").cast("int").alias("dim"),
        F.col("m").alias("centroid"),
        F.col("n").alias("n_vectors"),
    )


def lsh_hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH (Charikar 2002
    random-hyperplane rounding): component (p, d) is md5-derived uniform in
    [-1, 1] — reproducible everywhere, no RNG state, no numpy dependency."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()[:8], 16)
            row.append(h / float(1 << 31) - 1.0)
        planes.append(row)
    return planes


def _band_codes(
    vecs: DataFrame, planes: list[list[float]], band_rows: int
) -> DataFrame:
    """(vid, v) → (vid, v, code): sign bit per hyperplane, grouped into bands
    of ``band_rows`` bits — a vector lands in len(planes)/band_rows buckets.

    Computed as ONE numpy matmul per Arrow batch inside ``mapInPandas`` —
    still zero shuffle (codes materialize inside the scan, like the minhash
    banding). An expression-tree formulation (n_planes × dim literals) was
    tried first: it compiles into multi-MB whole-stage-codegen tasks whose
    JIT cost dwarfs the arithmetic; the matmul is both faster and
    scale-identical."""
    import numpy as np
    import pandas as pd

    P = np.asarray(planes).T  # (dim, n_planes)
    n_bands = len(planes) // band_rows

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].tolist())  # (n, dim)
            S = (V @ P) >= 0  # (n, n_planes) sign bits
            parts = []
            for b in range(n_bands):
                bits = S[:, b * band_rows : (b + 1) * band_rows]
                codes = [
                    f"{b}:" + "".join("1" if x else "0" for x in row) for row in bits
                ]
                out = pdf[["vid", "v"]].copy()
                out["code"] = codes
                parts.append(out)
            yield pd.concat(parts, ignore_index=True)

    return vecs.mapInPandas(gen, "vid long, v array<double>, code string")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 24,
    band_rows: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Random-hyperplane LSH approximate cosine top-k — the hash-bucket ANN
    alternative to IVF: vectors sharing any band of sign bits are candidates,
    then exact cosine re-ranks. Candidate generation is a band-code equi-join
    (never a cross join); buckets larger than ``max_bucket`` are dropped
    before pairing (same hot-bucket skew guard as the minhash LSH dedup —
    a degenerate bucket of B vectors would otherwise fan out B·|Q| rows).
    Recall is tuned by n_planes/band_rows (more, narrower bands → higher
    recall, more candidates)."""
    planes = lsh_hyperplanes(dim, n_planes)
    cv = corpus.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v"))
    qv = queries.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v"))
    c_codes = _band_codes(cv, planes, band_rows).select(
        F.col("vid").alias("neighbor_id"), F.col("v").alias("cv"), "code"
    )
    hot = (
        c_codes.groupBy("code")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("code")
    )
    c_codes = c_codes.join(F.broadcast(hot), "code", "left_anti")
    q_codes = _band_codes(qv, planes, band_rows).select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv"), "code"
    )
    j = c_codes.join(q_codes, "code").filter(F.col("neighbor_id") != F.col("query_id"))
    cos = F.round(
        _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv"))), 6
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        j.select("query_id", "neighbor_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _d2_fold(a, b, round_digits: int = 9):
    """Engine-exact squared L2 distance between two equal-length arrays:
    per-component (x−y)² rounded then DECIMAL-accumulated (order- and
    partitioning-invariant), cast to DOUBLE — the distance recipe of the
    exact PQ/IVF paths, mirroring the kmeans_fit_exact mean recipe."""
    dec = f"decimal(28,{round_digits})"
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.round((x - y) * (x - y), round_digits).cast(dec)),
        F.lit(0).cast(dec),
        lambda acc, t: (acc + t).cast(dec),
    ).cast("double")


def centroids_wide(centroids_long: DataFrame) -> DataFrame:
    """(cluster, dim, centroid, …) long-form — the kmeans_fit_exact output —
    reassembled to (cid, cv array<double>)."""
    return (
        centroids_long.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("dm"))
        .select(
            F.col("cluster").alias("cid"),
            F.transform("dm", lambda s: s["centroid"]).alias("cv"),
        )
    )


def ivf_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_long: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """IVF approximate cosine top-k over ENGINE-EXACT centroids (the
    :func:`kmeans_fit_exact` long-form output): every comparison uses
    ``round_digits``-rounded cosine with the lowest-id tiebreak, so list
    assignment, probe choice, and the final ranking are bit-identical
    across engines.

    Scale: centroids collapse to ONE broadcast row; corpus assignment and
    query probing are row-local folds (the corpus never shuffles on data
    size — same shape as kmeans_fit_exact's assign); candidates come from
    the probed-list equi join only."""
    cents_row = (
        centroids_wide(centroids_long)
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cid", "cv", _norm(F.col("cv")).alias("cn")))
            ).alias("cents")
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("vn", _norm(F.col("v")))

    def scored_col():
        return F.transform(
            F.col("cents"),
            lambda s: F.struct(
                s["cid"].alias("cid"),
                F.round(
                    _dot(F.col("v"), s["cv"]) / (F.col("vn") * s["cn"]), round_digits
                ).alias("cos"),
            ),
        )

    j = vecs.crossJoin(F.broadcast(cents_row))
    lists = j.select(
        F.col("vid").alias("neighbor_id"),
        F.col("v").alias("nv"),
        _argmax_fold(scored_col(), "cos")["cid"].alias("cluster"),
    )
    qj = (
        queries.select(
            F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("vn", _norm(F.col("v")))
        .crossJoin(F.broadcast(cents_row))
    )
    # top-nprobe probes: row-local sort by (cos DESC, cid ASC) via the
    # struct-field order trick (-cos ascending), then slice — no window
    probes = qj.select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.transform(
                        scored_col(),
                        lambda s: F.struct((-s["cos"]).alias("nc"), s["cid"].alias("cid")),
                    )
                ),
                1,
                nprobe,
            )["cid"]
        ).alias("cluster"),
    )
    cand = probes.join(lists, "cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv"))),
        round_digits,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, m: int, sub_d: int) -> DataFrame:
    """(vid, sub, sv): the m contiguous sub_d-wide subspace slices of each
    vector — a row-local explode (linear expansion)."""
    return df.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    ).select(
        "vid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("v"), s * sub_d + 1, sub_d),
            )
        ).alias("sub", "sv"),
    )


def pca_power_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
    round_digits: int = 9,
) -> DataFrame:
    """ENGINE-EXACT power iteration toward the top principal direction of
    an embedding corpus — ``iters`` unrolled rounds over the (uncentered)
    Gram matrix. Convergence to the eigenvector is spectrum-dependent
    (rate (λ2/λ1)^t): on a corpus with a dominant direction a few rounds
    suffice; on a near-isotropic corpus raise ``iters`` (each extra round
    costs one tiny dim²-relation stage, never a corpus re-scan). The
    norm estimate ``eigval`` = ‖G·v‖ (v the previous unit iterate — NOT
    the Rayleigh quotient vᵀGv; both converge to λ1 from below and are
    bounded by λ1, the matvec norm is simply what the last round already
    computed) is monotone in t regardless. This is the
    whitening/denoising primitive semantic-dedup pipelines run before
    clustering (SemDeDup-family preprocessing), and the fourth member of
    the iterative-training class (kmeans_fit_exact = Lloyd,
    logreg_fit_exact = logistic GD, bpe_fit = merge loop): every iteration
    is declared into ONE lazy plan, no collect between rounds.

    Numerics: every rounding boundary uses explicit NANO-UNIT integers —
    term = round(x · 10⁹, 0) as BIGINT, accumulated in exact integer
    arithmetic and divided back by 10⁹ at use sites. A plain
    ``round(x, 9)`` on a raw double is NOT engine-stable (Spark rounds
    the exact decimal expansion of the double, DuckDB multiplies by 10⁹
    first — they differ by one 10⁻⁹ ulp near boundaries, observed at
    sf0.01); doing the 10⁹ multiply EXPLICITLY makes both engines round
    the identical IEEE double to an integer. sqrt and divides are
    correctly-rounded IEEE doubles, so loadings and eigenvalue are
    bit-identical across engines and partitionings. Seed vector is the
    uniform unit vector round(1/sqrt(dim), 9) — deterministic, and never
    orthogonal to the top eigenvector of a Gram matrix (all-nonnegative
    diagonal mass).

    Scale (100 TB): the ONLY corpus-scale operation is the Gram aggregate
    — outer-product terms derive ROW-LOCALLY (dim² structs per row, no
    self-join of the exploded relation) and partial-aggregate map-side, so
    the shuffle carries at most dim² rows per partition; every iteration
    after that runs over the dim²-row Gram relation with one broadcast
    vector row. Returns (pos, loading, eigval) with the ‖G·v‖ eigenvalue
    estimate repeated per row."""
    if iters < 1:
        raise ValueError("pca_power_exact: iters must be >= 1")
    spark = df.sparkSession
    scale = float(10**round_digits)

    def nano(c):  # engine-stable round-to-9dp as an exact integer
        return F.round(c * F.lit(scale), 0).cast("bigint")

    # integer nano-unit sums: decimal(28,0) keeps the sum exact far past
    # int64 (DuckDB's HUGEINT equivalent)
    from flink_1_12_0_src_spark.pipeline.dedup import _spread

    # The dim² outer-product expansion as TWO chained codegen'd posexplodes
    # (row → (i, xi) → (i, j, xi·xj)), not a nested F.transform building
    # dim² structs per row: higher-order functions evaluate interpreted,
    # and the doubly-nested lambda was the single slowest row-local stage
    # in the package (48 s at the driver's sf0.01 — ~12× the next query;
    # measured 16× faster as Generates). posexplode's 0-based pos equals
    # the transform index, so the (i, j, xy) multiset is identical.
    # _spread: guard against an under-partitioned local scan exactly like
    # the other explode-heavy corpus ops.
    gram = (
        _spread(df)
        .select(_as_double(F.col(vec_col)).alias("_v"))
        .select("_v", F.posexplode("_v").alias("i", "_xi"))
        .select("i", "_xi", F.posexplode("_v").alias("j", "_xj"))
        .select("i", "j", nano(F.col("_xi") * F.col("_xj")).alias("xy"))
        .groupBy("i", "j")
        .agg(
            (F.sum(F.col("xy").cast("decimal(28,0)")).cast("double") / F.lit(scale))
            .alias("g")
        )
    )
    # pin the dim²-row Gram relation and the dim-row iterate per round (the
    # logreg_fit_exact / doremi barrier discipline): the loop references
    # each round's output 2-3 times, so the lazy chain re-executed the
    # corpus-scale Gram aggregate ~3^iters times — measured 48 s → ~2 s at
    # the driver's sf0.01.
    gram = barrier(gram)
    vcur = spark.range(dim).select(
        F.col("id").cast("int").alias("i"),
        F.lit(round(1.0 / dim**0.5, round_digits)).alias("v"),
    )
    w = nrm = None
    for _ in range(iters):
        vj = vcur.select(F.col("i").alias("j"), F.col("v").alias("vj"))
        w = (
            gram.join(F.broadcast(vj), "j")
            .groupBy("i")
            .agg(
                (
                    F.sum(nano(F.col("g") * F.col("vj")).cast("decimal(28,0)")).cast(
                        "double"
                    )
                    / F.lit(scale)
                ).alias("w")
            )
        )
        nrm = w.groupBy().agg(
            F.sqrt(
                F.sum(nano(F.col("w") * F.col("w")).cast("decimal(28,0)")).cast(
                    "double"
                )
                / F.lit(scale)
            ).alias("nrm")
        )
        vcur = barrier(
            w.crossJoin(F.broadcast(nrm)).select(
                "i", (nano(F.col("w") / F.col("nrm")) / F.lit(scale)).alias("v")
            )
        )
    return w.crossJoin(F.broadcast(nrm)).select(
        F.col("i").cast("bigint").alias("pos"),
        (nano(F.col("w") / F.col("nrm")) / F.lit(scale)).alias("loading"),
        (
            F.round(F.col("nrm") * F.lit(1000000.0), 0).cast("bigint")
            / F.lit(1000000.0)
        ).alias("eigval"),
    )


def pq_fit_exact(
    train: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 8,
    iters: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """ENGINE-EXACT product-quantization codebook training (Jégou et al.
    2011): ``m`` independent Lloyd
    problems over the contiguous subspaces, trained DISTRIBUTED with the
    kmeans_fit_exact recipe (init = lowest-id sub-vectors, argmin of the
    rounded-DECIMAL squared-L2 fold with lowest-code tiebreak, 6-dp DECIMAL
    means), all subspaces in ONE unrolled plan keyed by (sub, code). Raw
    (unnormalized) vectors — normalization would put a cross-engine float
    sqrt inside every component, and the final re-rank is exact cosine
    anyway. Returns (sub, code, cv array<double>): m × ksub rows.

    Scale: per round the whole codebook collapses to m broadcast rows;
    assignment is a row-local fold over ksub codes (the corpus never
    shuffles on data size); means are one (sub, code, pos)-keyed aggregate."""
    if dim % m:
        raise ValueError(f"pq_fit_exact: dim {dim} not divisible by m={m}")
    if iters < 1:
        raise ValueError("pq_fit_exact: iters must be >= 1")
    # same fail-fast seed contract as kmeans_fit_exact: ids 0..ksub-1 must
    # each be present (a bare `< ksub` filter would silently accept a
    # partial or negative-id seed set and return an empty/short codebook)
    n_seeds = (
        train.filter((F.col(id_col) >= 0) & (F.col(id_col) < ksub))
        .select(id_col)
        .distinct()
        .count()
    )
    if n_seeds != ksub:
        raise ValueError(
            f"pq_fit_exact: expected the {ksub} seed ids 0..{ksub - 1} in "
            f"{id_col}, found {n_seeds}"
        )
    subs = _subvectors(train, id_col, vec_col, m, dim // m)
    cb = subs.filter((F.col("vid") >= 0) & (F.col("vid") < ksub)).select(
        "sub", F.col("vid").cast("int").alias("code"), F.col("sv").alias("cv")
    )
    for _ in range(iters):
        cb_rows = cb.groupBy("sub").agg(
            F.array_sort(F.collect_list(F.struct("code", "cv"))).alias("cbs")
        )
        j = subs.join(F.broadcast(cb_rows), "sub")
        scored = F.transform(
            F.col("cbs"),
            lambda c: F.struct(
                c["code"].alias("code"),
                (-_d2_fold(F.col("sv"), c["cv"])).alias("nd"),
            ),
        )
        assigned = j.select(
            "vid", "sub", "sv", _argmax_fold(scored, "nd")["code"].alias("code")
        )
        cb = (
            assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(
                F.round(
                    F.sum(
                        F.round("x", round_digits).cast(f"decimal(18,{round_digits})")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    round_digits,
                ).alias("mm")
            )
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mm"))).alias("pm"))
            .select(
                "sub", "code", F.transform("pm", lambda s: s["mm"]).alias("cv")
            )
        )
    return cb


def pq_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 5,
    shortlist: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """ENGINE-EXACT PQ ADC top-k over :func:`pq_fit_exact` codebooks: the
    corpus is encoded map-side to m one-byte codes (the PQ memory story),
    per-query LUTs of rounded subspace distances broadcast, approximate
    distance = DECIMAL sum of m LUT entries, deterministic shortlist
    (approx ASC, id ASC), exact rounded-cosine re-rank of the shortlist.
    Every comparison is on rounded-then-DECIMAL-accumulated values, so the
    result is bit-identical across engines."""
    sub_d = dim // m
    subs = _subvectors(corpus, id_col, vec_col, m, sub_d)
    cb_rows = codebooks.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct("code", "cv"))).alias("cbs")
    )
    scored = F.transform(
        F.col("cbs"),
        lambda c: F.struct(
            c["code"].alias("code"), (-_d2_fold(F.col("sv"), c["cv"])).alias("nd")
        ),
    )
    enc = (
        subs.join(F.broadcast(cb_rows), "sub")
        .select("vid", "sub", _argmax_fold(scored, "nd")["code"].alias("code"))
        .withColumnRenamed("vid", "neighbor_id")
    )
    lut = (
        _subvectors(queries, id_col, vec_col, m, sub_d)
        .join(F.broadcast(cb_rows), "sub")
        .select(
            F.col("vid").alias("query_id"),
            "sub",
            F.explode(
                F.transform(
                    F.col("cbs"),
                    lambda c: F.struct(
                        c["code"].alias("code"),
                        F.round(_d2_fold(F.col("sv"), c["cv"]), round_digits).alias("lu"),
                    ),
                )
            ).alias("e"),
        )
        .select("query_id", "sub", F.col("e.code").alias("code"), F.col("e.lu").alias("lu"))
    )
    dec = f"decimal(18,{round_digits})"
    approx = (
        enc.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("lu").cast(dec)).cast("double").alias("ad"))
    )
    ws = W.partitionBy("query_id").orderBy(F.asc("ad"), F.asc("neighbor_id"))
    short = (
        approx.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv"))),
        round_digits,
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        short.join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
