"""Distributed quality-classifier TRAINING — the FineWeb-edu / fastText-style
linear filter model trained engine-exact, entirely inside one lazy Spark plan.

The production pattern this realizes: a cheap teacher (an LLM judgment, or
here the repo's heuristic quality gate) labels documents, and a fast linear
classifier over hashed unigram features is trained to reproduce that label so
the FILTER itself can run at crawl scale (FineWeb-edu, Penedo et al. 2024;
fastText, Joulin et al. 2017). This module trains the filter — the second
member of the iterative-training class after
:func:`~flink_1_12_0_src_spark.pipeline.similarity.kmeans_fit_exact`, using
the same unrolled-round technique: no ``collect()`` between rounds, every
intermediate bit-deterministic across engines, merge orders and
partitionings.

Reference scope note: the reference engine (flink-1.12.0-src) has no ML
training operator — this is brief-driven LLM-pipeline surface; its nearest
reference analog is the iterative-fixpoint machinery
(flink-libraries/flink-gelly iteration drivers), realized here as plan
unrolling exactly like the Gelly ports in operators/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_1_12_0_src_spark.pipeline.stageclock import barrier
from flink_1_12_0_src_spark.pipeline.text import tokens


def hashed_tf_matrix(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, x): the dense feature vector of every document with ≥ 1 token —
    array<double> of length ``n_buckets + 2``: bucket b holds
    round(count(tokens hashing to b) / n_tokens, 6), slot ``n_buckets`` is
    the saturating length feature round(least(n_tokens / 50, 1), 6) (TF is
    length-normalized, so without it a linear model is blind to document
    length — the dominant signal of every length-gated quality rule), and
    the last slot is the bias (constant 1.0). Bucket of a token is its
    md5-prefix integer mod ``n_buckets`` (the dataset_dsir_weights hashing
    idiom — engine-portable, no RNG state).

    Shape: one explode + ONE (id, bucket)-keyed count + one id-keyed
    assembly — the classic two-stage aggregation, fully inside whole-stage
    codegen (an earlier row-local higher-order-function formulation was
    semantically identical but interpreted, costing ~33 array passes per
    token — measured 5× the entire training time at bench SF). At 100 TB
    this is one corpus-keyed shuffle paid ONCE; training never touches the
    corpus again.

    ``carry``: extra columns functionally dependent on ``id_col`` (e.g. the
    training label) ridden through both aggregates as additional group
    keys — a few bytes per row through the one shuffle, in exchange for
    the caller not re-deriving them and re-joining on id (which re-ran
    the teacher-score expressions over the whole corpus a second time).
    """
    t = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(F.filter(tokens(text_col), lambda x: x != "")).alias("t"),
    )
    b = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long") % n_buckets
    per = (
        t.select(F.col(id_col), *[F.col(c) for c in carry], b.alias("b"))
        .groupBy(id_col, *carry, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.col("n")
    tf = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.round(
            F.coalesce(F.element_at("m", i.cast("bigint")), F.lit(0)) / n, 6
        ),
    )
    len_feat = F.round(F.least(n / F.lit(50.0), F.lit(1.0)), 6)
    return (
        per.groupBy(id_col, *carry)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m"),
            F.sum("c").alias("n"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.concat(tf, F.array(len_feat, F.lit(1.0))).alias("x"),
        )
    )


def _wx_sigmoid_sql(nb1: int) -> str:
    """The round-9 sigmoid of w·x over the broadcast weight array ``warr``
    and feature array ``x``, as ONE SQL expression string.

    w·x is an UNROLLED decimal-add chain, not F.aggregate/F.zip_with:
    higher-order functions are interpreted (no whole-stage codegen) and this
    fold runs once per document — the dominant per-document term (measured
    3.9 s → 1.2 s for quality_fit's 4-round GD stage at bench SF). ``nb1``
    is a model constant, so the unrolled tree is fixed-size; each add casts
    back to (28,9) exactly like the fold did (decimal + widens to (29,9);
    |terms| ≪ the 19 integer digits, so the narrowing is lossless), and
    decimal addition is exact and associative — the chain is bit-identical
    to the fold at codegen speed. Built as a SQL string (one JVM parse), not
    nested Column ops: every Column op is a py4j round trip and the chain is
    ~5·nb1 ops — measured ~3.5 s of driver-side construction per
    quality_fit call at nb1=34, rounds=4, more than the executors spent.
    1.0D double literals, not 1.0: a bare 1.0 parses as DECIMAL(2,1) in
    Spark SQL, which would change the arithmetic type chain vs F.lit(1.0).
    """
    dec_t = "DECIMAL(28,9)"
    z_sql = f"CAST(0 AS {dec_t})"
    for i in range(nb1):
        t_sql = (
            f"CAST(ROUND(element_at(warr, {i + 1}) * element_at(x, {i + 1}), 9)"
            f" AS {dec_t})"
        )
        z_sql = f"CAST(({z_sql} + {t_sql}) AS {dec_t})"
    return f"ROUND(1.0D / (1.0D + EXP(-(CAST({z_sql} AS DOUBLE)))), 9)"


def logreg_fit_exact(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
    rounds: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Engine-exact logistic-regression TRAINING by full-batch gradient
    descent, ``rounds`` iterations unrolled into ONE lazy plan: features are
    :func:`hashed_tf_matrix` (n_buckets TF slots + length + bias), weights
    init to zero, and each round computes p = sigmoid(w·x) per document and updates
    w_b ← round(w_b − lr·Σ_docs round((p − y)·x_b, 9)/N, 6). Every float
    that crosses an aggregation boundary is rounded then DECIMAL-accumulated
    (order- and partitioning-invariant), mirroring the
    :func:`~flink_1_12_0_src_spark.pipeline.similarity.kmeans_fit_exact`
    recipe, so the final weight table is bit-identical across engines.
    Returns (bucket, weight): n_buckets + 2 rows — bucket ``n_buckets`` is
    the length feature, ``n_buckets + 1`` the bias.

    Scale (100 TB of labeled documents): per round the model collapses to
    ONE broadcast row of weights, w·x is a row-local DECIMAL fold (no
    per-document shuffle, the corpus never shuffles on data size), and the
    gradient is a single (bucket)-keyed aggregate with map-side partials
    whose output is n_buckets + 2 rows. The driver loop only composes the
    plan — nothing ever round-trips through the driver. Two eager barriers
    cut the lineage, exactly what a production run does: the feature
    relation once before the rounds and the model-sized weight relation per
    round (measured 117 s → ~4 s at bench SF).
    """
    if rounds < 1:
        raise ValueError("logreg_fit_exact: rounds must be >= 1")
    spark = df.sparkSession
    nb1 = n_buckets + 2
    # ride the label through the featurization aggregates (it is
    # functionally dependent on the doc id) instead of re-deriving it from
    # df and joining back on id — the join shape re-evaluated the
    # teacher-score expressions over the whole corpus a second time and
    # paid an extra exchange
    feats = hashed_tf_matrix(
        df.withColumn("y", F.col(label_col).cast("int")),
        id_col, text_col, n_buckets, carry=("y",),
    )
    # the featurization barrier, spread over the session parallelism:
    # recomputing the interpreted featurization per round otherwise costs
    # rounds× the dominant term, and a single input file would pin it to one
    # task. Stage "featurize" is its own wall-time entry in the bench ledger,
    # so a mover localizes to featurize-vs-GD-rounds without re-profiling.
    feats = barrier(
        feats, "featurize", partitions=spark.sparkContext.defaultParallelism
    )
    # The model lives as ONE row carrying the weight ARRAY (not nb1 (b, w)
    # rows): per round the gradient is then nb1 decimal-sum expressions in a
    # SINGLE global HashAggregate over the feature relation — no posexplode
    # row multiplication (the old shape pushed docs × nb1 rows through a
    # (b)-keyed aggregate: ~0.85 s/round at bench SF vs ~0.3 s for this one),
    # no per-round collect_list re-assembly, and no (b)-keyed exchange. The
    # per-bucket decimal sums are exact and grouping-invariant, so the
    # trained weights are bit-identical to the row-carried formulation.
    weights = spark.range(1).select(F.array_repeat(F.lit(0.0), nb1).alias("warr"))
    # Loop-invariant expressions, built ONCE as SQL strings (one JVM parse
    # each), not as nested Column operations — see _wx_sigmoid_sql for the
    # codegen + py4j rationale and the bit-exactness argument.
    p_sql = f"{_wx_sigmoid_sql(nb1)} AS p"
    dec_t = "DECIMAL(28,9)"
    # the whole gradient vector as ONE parsed aggregate expression:
    # array(SUM(...), ...) — per-bucket decimal sums are exact and
    # grouping-invariant, identical to the old (b)-keyed aggregate
    g_sums = ", ".join(
        f"SUM(CAST(ROUND((p - y) * element_at(x, {i + 1}), 9) AS {dec_t}))"
        for i in range(nb1)
    )
    # float() first: repr of a plain float is a valid SQL double literal,
    # but a numpy scalar ("np.float64(0.5)" under numpy>=2) or Decimal is not
    upd_sql = (
        f"zip_with(warr, garr, (w, g) -> "
        f"ROUND(w - {float(lr)!r}D * (CAST(g AS DOUBLE) / _n), 6)) AS warr"
    )
    for _ in range(rounds):
        j = feats.crossJoin(F.broadcast(weights))
        scored = j.selectExpr("y", p_sql, "x")
        g = scored.groupBy().agg(
            F.expr(f"array({g_sums})").alias("garr"),
            F.count(F.lit(1)).alias("_n"),
        )
        # pin the ONE-ROW model relation per round: without it the lazy
        # chain re-executes every earlier round each time a later round
        # broadcasts it — O(rounds²) gradient jobs (measured 17 s → ~4 s at
        # bench SF for 8 rounds under the old row-carried shape)
        weights = barrier(weights.crossJoin(F.broadcast(g)).selectExpr(upd_sql), "gd_rounds")
    return weights.select(F.posexplode("warr").alias("b", "w")).select(
        F.col("b").cast("bigint").alias("bucket"), F.col("w").alias("weight")
    )


def logreg_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> DataFrame:
    """SERVE the trained filter: score every document with a
    :func:`logreg_fit_exact` weight table — (id, p, predicted). The crawl-
    scale path the training run exists for: weights collapse to ONE
    broadcast row, features and the w·x fold are row-local, p is the
    round-9 sigmoid and ``predicted`` its 0.5 threshold. The corpus never
    shuffles — classification happens inside the scan projection. Docs
    with no tokens are excluded (no features), matching training."""
    w_row = (
        weights.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("bucket").alias("b"), F.col("weight").alias("w")))
            ).alias("ws")
        )
        .select(F.transform("ws", lambda s: s["w"]).alias("warr"))
    )
    feats = hashed_tf_matrix(df, id_col, text_col, n_buckets)
    # same unrolled codegen'd w·x + sigmoid as the trainer (bit-identical to
    # the interpreted F.aggregate fold — see logreg_fit_exact)
    p = F.expr(_wx_sigmoid_sql(n_buckets + 2))
    return feats.crossJoin(F.broadcast(w_row)).select(
        F.col(id_col), p.alias("p"), (p >= 0.5).alias("predicted")
    )


def hashed_tf_features(text_col, n_buckets: int):
    """Row-local Column twin of :func:`hashed_tf_matrix`'s feature vector —
    the STREAMING serving path: per-event scoring cannot shuffle, so the
    histogram folds inside the projection (interpreted higher-order
    functions — the measured 5×-slower path at batch scale, irrelevant on
    micro-batch-sized inputs; batch featurization keeps the codegen'd
    two-stage aggregate). Bit-identical to the matrix path by construction
    (same md5 bucketing, same round(c/n, 6) TF, same length/bias slots) —
    pinned by tests/test_pipeline.py. NULL semantics: callers filter docs
    with no tokens, matching the matrix path's explode behavior."""
    toks = F.filter(tokens(text_col), lambda x: x != "")
    bks = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % n_buckets,
    )
    n = F.size(toks)
    tf = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda b: F.round(F.size(F.filter(bks, lambda v: v == b)) / n, 6),
    )
    len_feat = F.round(F.least(n / F.lit(50.0), F.lit(1.0)), 6)
    return F.concat(tf, F.array(len_feat, F.lit(1.0)))


def logreg_score_stream(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
    keep: list[str] | None = None,
) -> DataFrame:
    """:func:`logreg_score` for a STREAMING DataFrame: features via the
    row-local :func:`hashed_tf_features` (no shuffle — a streaming query
    cannot spend its aggregate budget on featurization), weights broadcast
    as one static row (stream-static cross join). Returns
    (id, p, predicted) rows as they arrive — the live ingest filter;
    ``keep`` carries extra input columns through (a streaming consumer
    cannot re-join them — stream-stream joins need append mode)."""
    w_row = (
        weights.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("bucket").alias("b"), F.col("weight").alias("w"))
                )
            ).alias("ws")
        )
        .select(F.transform("ws", lambda s: s["w"]).alias("warr"))
    )
    dec = "decimal(28,9)"
    feats = df.select(
        F.col(id_col),
        hashed_tf_features(text_col, n_buckets).alias("x"),
        *[F.col(c) for c in (keep or [])],
    ).filter(F.size(F.filter(tokens(text_col), lambda x: x != "")) >= 1)
    z = F.aggregate(
        F.zip_with("warr", "x", lambda w, xx: F.round(w * xx, 9).cast(dec)),
        F.lit(0).cast(dec),
        lambda acc, t: (acc + t).cast(dec),
    ).cast("double")
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    return feats.crossJoin(F.broadcast(w_row)).select(
        F.col(id_col),
        p.alias("p"),
        (p >= 0.5).alias("predicted"),
        *[F.col(c) for c in (keep or [])],
    )
