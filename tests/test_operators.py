"""Unit tests for custom operators on crafted fixtures — the reference's
operator-harness style (SURVEY §5.4)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from flink_1_12_0_src_spark.operators import (
    Pattern,
    asof_join,
    changelog_normalize,
    deduplicate,
    match_recognize,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:05"), 100.0),
            (1, ts("2024-01-01 10:00:10"), 101.0),
            (2, ts("2024-01-01 10:00:03"), 50.0),
            (3, ts("2024-01-01 10:00:01"), 7.0),  # no quote for key 3
        ],
        "k int, t_ts timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 99.5),
            (1, ts("2024-01-01 10:00:05"), 100.5),  # exact-match tie with trade 1
            (1, ts("2024-01-01 10:00:09"), 100.9),
            (2, ts("2024-01-01 10:00:04"), 49.5),  # only AFTER the key-2 trade
        ],
        "k int, q_ts timestamp, quote double",
    )
    return trades, quotes


def test_asof_backward(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on=["k"], left_time="t_ts", right_time="q_ts")
    rows = {(r["k"], r["price"]): (r["quote"], r["q_ts"]) for r in out.collect()}
    assert rows[(1, 100.0)][0] == 100.5  # exact match allowed (<=)
    assert rows[(1, 101.0)][0] == 100.9
    assert rows[(2, 50.0)][0] is None  # quote only after trade
    assert rows[(3, 7.0)][0] is None  # no quotes at all
    assert out.count() == 4  # left-outer: every trade survives


def test_asof_forward(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["k"], left_time="t_ts", right_time="q_ts", direction="forward"
    )
    rows = {(r["k"], r["price"]): r["quote"] for r in out.collect()}
    assert rows[(1, 100.0)] == 100.5  # earliest quote >= trade
    assert rows[(1, 101.0)] is None
    assert rows[(2, 50.0)] == 49.5


def test_asof_tolerance(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["k"], left_time="t_ts", right_time="q_ts", tolerance_seconds=2.0
    )
    rows = {(r["k"], r["price"]): r["quote"] for r in out.collect()}
    assert rows[(1, 100.0)] == 100.5  # 0s gap
    assert rows[(1, 101.0)] == 100.9  # 1s gap
    assert rows[(3, 7.0)] is None


def _events_df(spark, seq: list[str]):
    rows = [
        (1, i, ts("2024-01-01 10:00:00") + dt.timedelta(seconds=i), t)
        for i, t in enumerate(seq)
    ]
    return spark.createDataFrame(rows, "k int, i long, ts timestamp, typ string")


def _matches(spark, seq, pattern, measures, schema):
    df = _events_df(spark, seq)
    out = match_recognize(
        df, ["k"], ["ts", "i"], pattern, measures, schema, time_col="ts"
    )
    return [tuple(r) for r in out.orderBy("match_seq").collect()]


def test_cep_times_quantifier(spark):
    pat = (
        Pattern.begin("a").where(lambda p: p["typ"] == "x").times(2)
        .next("b").where(lambda p: p["typ"] == "y")
    )
    got = _matches(
        spark,
        ["x", "x", "y", "x", "y", "x", "x", "y"],
        pat,
        {"a_first": ("a", "first", "i"), "b_i": ("b", "last", "i")},
        "k int, match_seq int, a_first long, b_i long",
    )
    # matches at rows (0,1,2) and (5,6,7); (3,4) has only one x
    assert got == [(1, 0, 0, 2), (1, 1, 5, 7)]


def test_cep_optional_and_skip_past_last(spark):
    pat = (
        Pattern.begin("a").where(lambda p: p["typ"] == "x")
        .next("b").where(lambda p: p["typ"] == "y").optional()
        .next("c").where(lambda p: p["typ"] == "z")
    )
    got = _matches(
        spark,
        ["x", "y", "z", "x", "z", "x", "q"],
        pat,
        {"a_i": ("a", "first", "i"), "b_n": ("b", "count", "i"), "c_i": ("c", "last", "i")},
        "k int, match_seq int, a_i long, b_n int, c_i long",
    )
    assert got == [(1, 0, 0, 1, 2), (1, 1, 3, 0, 4)]  # with-optional then without


def test_cep_not_followed_by_survives_optional_skip(spark):
    # A ¬E B? C: when B is skipped, the "no E before the next match" bound
    # must transfer to C (regression: neg_limit was dropped on the skip path)
    pat = (
        Pattern.begin("a").where(lambda p: p["typ"] == "x")
        .not_followed_by("e").where(lambda p: p["typ"] == "e")
        .followed_by("b").where(lambda p: p["typ"] == "y").optional()
        .followed_by("c").where(lambda p: p["typ"] == "z")
    )
    # x e z → E precedes the (B-skipped) C match → no match
    assert _matches(
        spark, ["x", "e", "z"], pat,
        {"a_i": ("a", "first", "i"), "c_i": ("c", "last", "i")},
        "k int, match_seq int, a_i long, c_i long",
    ) == []
    # x y e z → B matched at 1 before E, C after: the bound was consumed by B
    assert _matches(
        spark, ["x", "y", "e", "z"], pat,
        {"a_i": ("a", "first", "i"), "c_i": ("c", "last", "i")},
        "k int, match_seq int, a_i long, c_i long",
    ) == [(1, 0, 0, 3)]
    # x z → no E at all, B skipped → match
    assert _matches(
        spark, ["x", "z"], pat,
        {"a_i": ("a", "first", "i"), "c_i": ("c", "last", "i")},
        "k int, match_seq int, a_i long, c_i long",
    ) == [(1, 0, 0, 1)]


def test_salted_join_rejects_outer(spark):
    from flink_1_12_0_src_spark.operators.skew import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", "k", how="full")


def test_cep_followed_by_relaxed(spark):
    pat = (
        Pattern.begin("a").where(lambda p: p["typ"] == "x")
        .followed_by("b").where(lambda p: p["typ"] == "z")
    )
    got = _matches(
        spark,
        ["x", "q", "q", "z", "x", "q"],
        pat,
        {"a_i": ("a", "first", "i"), "b_i": ("b", "last", "i")},
        "k int, match_seq int, a_i long, b_i long",
    )
    assert got == [(1, 0, 0, 3)]  # skips the q's; second x never completes


def test_cep_within_excludes_slow_match(spark):
    pat = (
        Pattern.begin("a").where(lambda p: p["typ"] == "x")
        .followed_by("b").where(lambda p: p["typ"] == "z")
        .within(2.0)
    )
    got = _matches(
        spark,
        ["x", "q", "q", "z"],  # z is 3s after x → outside within
        pat,
        {"a_i": ("a", "first", "i"), "b_i": ("b", "last", "i")},
        "k int, match_seq int, a_i long, b_i long",
    )
    assert got == []


def test_deduplicate_keep_first(spark):
    df = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:02"), "late"), (1, ts("2024-01-01 10:00:01"), "early"),
         (2, ts("2024-01-01 10:00:00"), "only")],
        "k int, t timestamp, v string",
    )
    out = {r["k"]: r["v"] for r in deduplicate(df, ["k"], "t", keep="first").collect()}
    assert out == {1: "early", 2: "only"}


def test_changelog_normalize_drops_deleted(spark):
    df = spark.createDataFrame(
        [(1, 1, "a", False), (1, 2, "b", False), (2, 1, "x", False), (2, 2, None, True)],
        "pk int, version int, payload string, deleted boolean",
    )
    out = changelog_normalize(df, ["pk"], "version", delete_col="deleted")
    rows = {r["pk"]: r["payload"] for r in out.collect()}
    assert rows == {1: "b"}  # pk 2's latest record is a delete


def test_upsert_sink_delete_then_reinsert(spark, tmp_path):
    """foreachBatch MERGE semantics across batches: update wins by version,
    delete removes, a later re-insert resurrects the key (streaming/upsert.py)."""
    from flink_1_12_0_src_spark.streaming.upsert import UpsertSink

    sink = UpsertSink(str(tmp_path), key_cols=["k"], version_col="v", rowkind_col="rowkind")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, val string, rowkind string, v bigint")  # noqa: E731
    sink.process_batch(mk([(1, "a", "+I", 0), (2, "b", "+I", 0), (3, "c", "+I", 0)]), 0)
    sink.process_batch(mk([(2, "b2", "+U", 1), (3, None, "-D", 1)]), 1)
    sink.process_batch(mk([(3, "c3", "+I", 2), (3, "c4", "+U", 3)]), 2)  # within-batch collapse
    got = {r.k: r.val for r in sink.snapshot(spark).collect()}
    assert got == {1: "a", 2: "b2", 3: "c4"}
    # empty batch is a no-op, snapshot version unchanged
    v = sink.version
    sink.process_batch(mk([]), 3)
    assert sink.version == v


def test_jaccard_hub_degree_cap_bounds_pair_fanout(spark):
    """Hub skew guard for the co-neighbor self-join: one vertex adjacent to
    60 others would alone produce 60·59/2 pair rows; with the cap below its
    degree the hub drops out of every neighbor set while a small clique's
    similar pair survives with its full Jaccard."""
    from flink_1_12_0_src_spark.operators.graph import jaccard_similarity

    hub_edges = [(i, 999) for i in range(60)]  # hub vertex 999, degree 60
    # two vertices sharing both neighbors 500 and 501 → J(100,101) = 1.0
    clique = [(100, 500), (101, 500), (100, 501), (101, 501)]
    edges = spark.createDataFrame(hub_edges + clique, "src bigint, dst bigint")

    uncapped = jaccard_similarity(edges, max_neighbor_degree=None)
    assert uncapped.count() >= 60 * 59 // 2

    capped = jaccard_similarity(edges, max_neighbor_degree=10)
    got = {(r["u"], r["w"]): r["jaccard"] for r in capped.collect()}
    assert all(not (u < 60 and w < 60) for u, w in got), "hub leaked pairs"
    assert got.get((100, 101)) == 1.0


def test_triadic_census_closed_form_on_known_graph(spark):
    from flink_1_12_0_src_spark.operators.graph import triadic_census

    # K3 plus a pendant vertex: 1-2, 1-3, 2-3, 3-4  (n=4, m=4)
    # triples: {1,2,3}=triangle; {1,2,4}=1 edge; {1,3,4}=2 edges; {2,3,4}=2 edges
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], ["src", "dst"])
    row = triadic_census(edges).collect()[0]
    assert (row["n_vertices"], row["n_edges"]) == (4, 4)
    assert (row["t0"], row["t1"], row["t2"], row["t3"]) == (0, 1, 2, 1)


def test_triadic_census_ignores_self_loops(spark):
    """Self-loops are excluded from EVERY census statistic (docstring
    contract): adding 3-3 and a vertex 5 with only 5-5 must leave the census
    identical to the loop-free graph — vertex 5 does not appear at all."""
    from flink_1_12_0_src_spark.operators.graph import triadic_census

    base = [(1, 2), (1, 3), (2, 3), (3, 4)]
    looped = base + [(3, 3), (5, 5)]
    r0 = triadic_census(spark.createDataFrame(base, ["src", "dst"])).collect()[0]
    r1 = triadic_census(spark.createDataFrame(looped, ["src", "dst"])).collect()[0]
    assert tuple(r0) == tuple(r1)
    assert (r1["n_vertices"], r1["n_edges"]) == (4, 4)


def test_vertex_metrics_on_known_graph(spark):
    from flink_1_12_0_src_spark.operators.graph import vertex_metrics

    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], ["src", "dst"])
    row = vertex_metrics(edges).collect()[0]
    # degrees: 1→2, 2→2, 3→3, 4→1 ⇒ triplets: 1+1+3+0 = 5
    assert (row["n_vertices"], row["n_edges"], row["n_triplets"]) == (4, 4, 5)
    assert (row["max_degree"], row["max_triplets"]) == (3, 3)
    assert abs(row["avg_degree"] - 2.0) < 1e-12


def test_adamic_adar_matches_hand_computation(spark):
    import math

    from flink_1_12_0_src_spark.operators.graph import adamic_adar

    # 1 and 2 share neighbors 10 (deg 2) and 11 (deg 3); 3 touches 11 only
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (1, 11), (2, 11), (3, 11)], ["src", "dst"]
    )
    rows = {(r["u"], r["w"]): r["aa_score"] for r in adamic_adar(edges).collect()}
    expect_12 = round(1 / math.log(2), 9) + round(1 / math.log(3), 9)
    assert abs(rows[(1, 2)] - expect_12) < 1e-9
    assert abs(rows[(1, 3)] - round(1 / math.log(3), 9)) < 1e-9
    # degree-1 neighbors contribute nothing and cause no ln(1) blow-up
    edges2 = spark.createDataFrame([(1, 10), (2, 11)], ["src", "dst"])
    assert adamic_adar(edges2).count() == 0


def test_adamic_adar_hub_cap_drops_hot_neighbor(spark):
    from flink_1_12_0_src_spark.operators.graph import adamic_adar

    # hub 99 connects 12 vertices; with the cap at 4 it no longer acts as a
    # SHARED neighbor (no 12²/2 pair fan-out among its neighborhood), though
    # it still appears as a pair endpoint via low-degree shared neighbors
    edges = spark.createDataFrame(
        [(i, 99) for i in range(12)] + [(1, 10), (2, 10)], ["src", "dst"]
    )
    out = {(r["u"], r["w"]) for r in adamic_adar(edges, max_neighbor_degree=4).collect()}
    assert out == {(1, 2), (1, 99), (2, 99), (10, 99)}
    # uncapped, the hub fans out C(12,2) = 66 pairs among its neighborhood
    # (one of which, (1,2), also arises via z=10), plus the 3 hub-endpoint pairs
    assert len({(r["u"], r["w"]) for r in adamic_adar(edges).collect()}) == 69


def test_community_detection_two_cliques_converge(spark):
    from flink_1_12_0_src_spark.operators.graph import community_detection

    # two triangles bridged by one edge: each clique should agree on its
    # smallest member's label; the attenuated scores keep the bridge from
    # merging them in 4 supersteps
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        ["src", "dst"],
    )
    out = {r["v"]: r["label"] for r in community_detection(edges).collect()}
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]


def test_community_detection_deterministic_across_partitioning(spark):
    from flink_1_12_0_src_spark.operators.graph import community_detection

    rows = [(i, (i * 7) % 23) for i in range(60) if i != (i * 7) % 23]
    a = spark.createDataFrame(rows, ["src", "dst"])
    b = spark.createDataFrame(rows, ["src", "dst"]).repartition(17)
    ra = sorted(map(tuple, community_detection(a).collect()))
    rb = sorted(map(tuple, community_detection(b).collect()))
    assert ra == rb


def test_edge_metrics_on_triangle_plus_pendant(spark):
    from flink_1_12_0_src_spark.operators.graph import edge_metrics

    # K3: degrees all 2; low-order counts 2/1/0 → tt per vertex C(low,2)
    k3 = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["src", "dst"])
    r = edge_metrics(k3).collect()[0]
    assert (
        r["triangle_triplet_count"],
        r["rectangle_triplet_count"],
        r["maximum_triangle_triplets"],
        r["maximum_rectangle_triplets"],
    ) == (1, 2, 1, 1)
    # path 1-2-3: no vertex has two higher-order neighbors → all zeros
    path = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    r2 = edge_metrics(path).collect()[0]
    assert r2["triangle_triplet_count"] == 0 and r2["rectangle_triplet_count"] == 0


def test_census_and_metrics_empty_graph_zeros(spark):
    from flink_1_12_0_src_spark.operators.graph import triadic_census, vertex_metrics

    empty = spark.createDataFrame([], "src long, dst long")
    r = triadic_census(empty).collect()[0]
    assert tuple(r) == (0, 0, 0, 0, 0, 0)
    m = vertex_metrics(empty).collect()[0]
    assert tuple(m) == (0, 0, 0, 0, 0, 0.0)


def test_cached_releases_on_exit_and_on_error(spark, sql_cache_size):
    from flink_1_12_0_src_spark.pipeline.stageclock import cached

    def is_persisted(df) -> bool:
        level = df.storageLevel
        return level.useMemory or level.useDisk

    before = sql_cache_size()
    df = spark.range(20).withColumn("sq", F.col("id") * F.col("id"))
    with cached(df):
        assert is_persisted(df)
        assert df.count() == 20
    assert not is_persisted(df)
    with pytest.raises(RuntimeError, match="boom"):
        with cached(df):
            assert is_persisted(df)
            raise RuntimeError("boom")
    assert not is_persisted(df)
    assert sql_cache_size() == before


@pytest.mark.parametrize("op", ["jaccard_similarity", "pagerank"])
def test_graph_operator_releases_its_caches(
    spark, sf_dir, op, sql_cache_size, persistent_rdds
):
    """An eager graph operator keeps no SQL cache entry: only the checkpoint
    it returns stays pinned."""
    from flink_1_12_0_src_spark.operators import graph
    from flink_1_12_0_src_spark.queries.graphq import _edges

    edges = _edges(spark, sf_dir)
    cache0, rdds0 = sql_cache_size(), persistent_rdds()
    out = getattr(graph, op)(edges)
    assert sql_cache_size() == cache0
    assert len(persistent_rdds() - rdds0) == 1
    assert out.count() > 0


def test_connected_components_releases_edge_cache_when_iteration_raises(
    spark, sql_cache_size
):
    """An iteration that fails at execution time must not leave the edge
    cache pinned: the edge frame's ``dst`` raises when it is computed."""
    from flink_1_12_0_src_spark.operators.graph import connected_components

    edges = spark.range(8).select(
        F.col("id").alias("src"),
        F.when(F.col("id") >= 0, F.raise_error(F.lit("edge read failed")))
        .otherwise(F.col("id"))
        .cast("bigint")
        .alias("dst"),
    )
    before = sql_cache_size()
    with pytest.raises(Exception, match="edge read failed"):
        connected_components(edges)
    assert sql_cache_size() == before


def test_maxwell_update_before_merges_partial_old(spark):
    """Maxwell's old field is PARTIAL (only changed fields non-null): the
    -U before image must be old merged over data field-by-field
    (MaxwellJsonDeserializationSchema.java:106-119)."""
    from flink_1_12_0_src_spark.sources.cdc import parse_maxwell

    raw = spark.createDataFrame(
        [
            (
                '{"data": {"k": 1, "name": "n1", "price": 20.0},'
                ' "old": {"k": null, "name": null, "price": 10.0},'
                ' "type": "update", "ts": 7}',
            )
        ],
        ["value"],
    )
    out = parse_maxwell(
        raw, "value", "k:bigint,name:string,price:double", emit_update_before=True
    ).collect()
    kinds = {r["rowkind"]: r for r in out}
    assert set(kinds) == {"+U", "-U"}
    after, before = kinds["+U"], kinds["-U"]
    assert (after["k"], after["name"], after["price"]) == (1, "n1", 20.0)
    # unchanged fields come from data; the changed price from old
    assert (before["k"], before["name"], before["price"]) == (1, "n1", 10.0)
    assert after["ts_ms"] == before["ts_ms"] == 7000


def test_retention_cohort_semantics(spark, sf_dir):
    """Offset 0 is the cohort itself (retention exactly 1.0), every offset
    is non-negative, and no offset row exceeds its cohort size."""
    from flink_1_12_0_src_spark.operators.analytics import retention_cohorts
    from flink_1_12_0_src_spark.catalog import table

    rows = retention_cohorts(table(spark, sf_dir, "events")).collect()
    assert rows
    size = {r["cohort_week"]: r["n_active"] for r in rows if r["week_offset"] == 0}
    users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(size.values()) == users  # cohorts partition the user base
    for r in rows:
        assert r["week_offset"] >= 0
        assert r["n_active"] <= size[r["cohort_week"]]
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0


def test_value_percentiles_semantics(spark, sf_dir):
    """Quantiles are ordered and bracketed by min/max; counts reconcile."""
    from flink_1_12_0_src_spark.operators.analytics import value_percentiles
    from flink_1_12_0_src_spark.catalog import table

    ev = table(spark, sf_dir, "events")
    rows = value_percentiles(ev).collect()
    assert {r["event_type"] for r in rows} == {
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    }
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert (
            r["min_value"] <= r["p25"] <= r["p50"] <= r["p90"] <= r["p99"] <= r["max_value"]
        )
        assert r["min_value"] <= r["avg_value"] <= r["max_value"]


def test_funnel_conversion_semantics(spark, sf_dir):
    """Stage counts shrink monotonically, rates are consistent ratios in
    (0, 1], and the view stage matches the users who ever viewed."""
    from flink_1_12_0_src_spark.operators.analytics import funnel_conversion
    from flink_1_12_0_src_spark.catalog import table

    ev = table(spark, sf_dir, "events")
    rows = {r["stage"]: r for r in funnel_conversion(ev).collect()}
    assert list(rows) == ["view", "click", "purchase"]
    n_view = (
        ev.filter("event_type = 'view'").select("user_id").distinct().count()
    )
    assert rows["view"]["n_users"] == n_view
    assert rows["view"]["conv_from_prev"] == 1.0
    assert (
        rows["view"]["n_users"]
        >= rows["click"]["n_users"]
        >= rows["purchase"]["n_users"]
        > 0
    )
    assert rows["purchase"]["conv_from_start"] == pytest.approx(
        rows["purchase"]["n_users"] / rows["view"]["n_users"], abs=1e-6
    )


def test_daily_anomaly_semantics(spark, sf_dir):
    """Z-scores are centered per type (sum ~ 0), counts reconcile with the
    raw table, and the anomaly flag matches |z| >= 2."""
    from flink_1_12_0_src_spark.operators.analytics import daily_anomaly
    from flink_1_12_0_src_spark.catalog import table

    ev = table(spark, sf_dir, "events")
    rows = daily_anomaly(ev).collect()
    assert sum(r["n_events"] for r in rows) == ev.count()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
        assert r["is_anomaly"] == (abs(r["zscore"]) >= 2.0)
    for typ, rs in by_type.items():
        assert abs(sum(r["zscore"] for r in rs)) < 1e-3 * len(rs), typ


def test_daily_anomaly_constant_volume_yields_null(spark):
    """A type whose daily counts are all identical has stddev 0; the NULLIF
    guard must yield NULL zscore/is_anomaly (not a NaN whose cross-engine
    rendering is undefined), while a varying type still scores normally."""
    from flink_1_12_0_src_spark.operators.analytics import daily_anomaly

    ev = spark.createDataFrame(
        # "flat": exactly 2 events on each of 3 days; "spiky": 1,1,7
        [("flat", f"2024-01-0{d} 0{h}:00:00") for d in (1, 2, 3) for h in (1, 2)]
        + [("spiky", "2024-01-01 01:00:00"), ("spiky", "2024-01-02 01:00:00")]
        + [("spiky", f"2024-01-03 0{h}:00:00") for h in range(1, 8)],
        "event_type string, ts string",
    ).selectExpr("event_type", "CAST(ts AS TIMESTAMP) AS ts")
    rows = {(r["event_type"], str(r["day"])): r for r in daily_anomaly(ev).collect()}
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        assert rows[("flat", d)]["zscore"] is None
        assert rows[("flat", d)]["is_anomaly"] is None
    assert rows[("spiky", "2024-01-03")]["zscore"] > 1.0
    assert rows[("spiky", "2024-01-03")]["is_anomaly"] is not None


def test_analytics_partitioning_invariance(spark, sf_dir):
    """The analytics reports are pure functions of the data, not of its
    layout: scrambling the partitioning (and, for retention, duplicating
    every event — activity is pre-deduplicated per (user, week)) leaves
    every output row identical."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.operators.analytics import (
        daily_anomaly,
        funnel_conversion,
        retention_cohorts,
    )
    from flink_1_12_0_src_spark.pipeline.sampling import epoch_repeat

    ev = table(spark, sf_dir, "events")
    scrambled = ev.repartition(7, "event_id")

    def rows(df, *order):
        return [tuple(r) for r in df.orderBy(*order).collect()]

    assert rows(
        retention_cohorts(ev.unionAll(ev)), "cohort_week", "week_offset"
    ) == rows(retention_cohorts(scrambled), "cohort_week", "week_offset")
    assert rows(funnel_conversion(ev), "stage_idx") == rows(
        funnel_conversion(scrambled), "stage_idx"
    )
    assert rows(daily_anomaly(ev), "event_type", "day") == rows(
        daily_anomaly(scrambled), "event_type", "day"
    )
    docs = table(spark, sf_dir, "documents")
    assert rows(epoch_repeat(docs), "doc_id", "epoch_idx") == rows(
        epoch_repeat(docs.repartition(5, "doc_id")), "doc_id", "epoch_idx"
    )


def test_transition_matrix_semantics(spark, sf_dir):
    """Each from_type's probabilities sum to ~1, and total transitions equal
    total events minus one per active user (the bigram count identity)."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.operators.analytics import transition_matrix

    ev = table(spark, sf_dir, "events")
    rows = transition_matrix(ev).collect()
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for typ, rs in by_from.items():
        assert abs(sum(r["prob"] for r in rs) - 1.0) < 1e-4, typ
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_transitions"] for r in rows) == n_events - n_users


def test_session_stats_semantics(spark, sf_dir):
    """Sessions partition each user's events (counts reconcile), session_seq
    is dense from 1, and every intra-session gap is within the 30-min bound
    (spot-checked via duration: a 1-event session has duration 0)."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.operators.analytics import sessionize_stats

    ev = table(spark, sf_dir, "events")
    rows = sessionize_stats(ev).collect()
    assert sum(r["n_events"] for r in rows) == ev.count()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
        assert r["duration_sec"] >= 0
        if r["n_events"] == 1:
            assert r["duration_sec"] == 0
    for user, rs in by_user.items():
        seqs = sorted(r["session_seq"] for r in rs)
        assert seqs == list(range(1, len(rs) + 1)), user
        starts = [r["started_at"] for r in sorted(rs, key=lambda r: r["session_seq"])]
        assert starts == sorted(starts), user  # sessions ordered by start
