"""Physical-plan assertions — the repo's adoption of the reference's plan-test
strategy (SURVEY.md §5.1: Flink pins 182 golden plan XMLs under
flink-table-planner-blink/src/test/resources; here we assert the load-bearing
plan properties instead of full golden text, which would be Spark-version
brittle).

What must hold at 100 TB:
- filters reach the parquet scan (PushedFilters) and columns are pruned
  (ReadSchema lists only referenced columns);
- dimension joins broadcast (BroadcastHashJoin / BroadcastExchange);
- rank-predicate queries get the WindowGroupLimit pushdown (Spark ≥3.5);
- aggregates are two-phase (partial HashAggregate before the exchange);
- the hot path stays inside WholeStageCodegen.
"""

from __future__ import annotations

from flink_1_12_0_src_spark.pipeline.stageclock import lazy_plans
from flink_1_12_0_src_spark.queries import load_all
from tests.plan_fp import formatted_plan

REG = load_all()


def _plan(spark, sf_dir, name: str) -> str:
    return formatted_plan(spark, REG[name].spark(spark, sf_dir))


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6")
    assert "PushedFilters: [" in plan
    # at least one concrete filter is pushed (shipdate/discount/quantity)
    assert "IsNotNull" in plan or "GreaterThan" in plan or "LessThan" in plan
    # column pruning: the 11-column lineitem scan reads only referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_returnflag" not in read_schema[0]
    assert "l_extendedprice" in read_schema[0]


def test_q3_broadcasts_dimension(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # top-k is TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_topn_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topn_per_group")
    assert "WindowGroupLimit" in plan


def test_q1_two_phase_aggregate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1")
    # partial + final hash aggregation around one exchange
    assert plan.count("HashAggregate") >= 2
    # codegen spans are only printed in the non-adaptive plan (AQE shows
    # isFinalPlan=false before execution), so flip AQE off just for this check
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # formatted mode marks codegen stages as "[codegen id : N]"
        assert "codegen id :" in _plan(spark, sf_dir, "tpch_q1")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_minhash_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_bucketed_coloc")
    tree = plan.split("\n\n")[0].splitlines()
    assert plan.count("Bucketed: true") == 2
    smj_at = next(i for i, l in enumerate(tree) if "SortMergeJoin" in l)
    # co-located join: nothing below the SMJ (its two scan inputs) shuffles
    assert not any("Exchange" in l for l in tree[smj_at:])


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_cosine_topk")
    # the query side broadcasts; the corpus never shuffles pre-join
    assert "BroadcastExchange" in plan


def test_partition_pruned_read(spark, sf_dir):
    plan = _plan(spark, sf_dir, "partition_pruned_read")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_type" in pf[0] and "click" in pf[0]


def test_graph_summarization_broadcasts_group_maps(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_summarization")
    # both vertex-group dimension maps must broadcast — the only shuffle
    # left is the |groups|^2 aggregation
    assert plan.count("BroadcastHashJoin") >= 2


def test_tfidf_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_tfidf_topk")
    # tf agg is two-phase and df reuses tf via a window — exactly ONE
    # corpus scan in the whole plan (each scan prints twice in formatted
    # mode: tree line + node detail)
    assert plan.count("Scan parquet") == 2
    assert plan.count("HashAggregate") >= 2
    # per-doc top-k gets the rank-predicate pushdown
    assert "WindowGroupLimit" in plan


def test_dedup_cluster_pair_join_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_cluster_docs")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    # the documents scans feeding the shingle join never read the blob-ish
    # columns they don't use
    assert reads and all("embedding" not in l for l in reads)


def test_clustering_coeff_no_cartesian_two_phase(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_clustering_coeff")
    # triangle enumeration is equi-join only — never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # degree + triangle counts are two-phase aggregates
    assert plan.count("HashAggregate") >= 2


def test_jaccard_similarity_equi_joins_only(spark, sf_dir):
    # lazy_plans() keeps the full lineage inspectable (the default path
    # eagerly checkpoints so its persists can be released per-call)
    from flink_1_12_0_src_spark.operators.graph import jaccard_similarity
    from flink_1_12_0_src_spark.queries.graphq import _edges

    with lazy_plans():
        plan = formatted_plan(spark, jaccard_similarity(_edges(spark, sf_dir)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # intersection counted by one groupBy over the two-path join
    assert plan.count("HashAggregate") >= 2


def test_lsh_cap_single_band_shuffle(spark, sf_dir):
    """The hot-bucket cap must not add a join: bucket sizes come from a
    window count over the same (band, bk) keys the self-join uses."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    with lazy_plans():
        plan = formatted_plan(spark, minhash_lsh_pairs(docs, "doc_id", "text"))
    assert "Window" in plan  # the census is a window count…
    # …and the candidate generation stays a plain equi self-join
    assert "CartesianProduct" not in plan


def test_temperature_mix_broadcasts_thresholds(spark, sf_dir):
    # the per-group threshold side is |groups| rows — it must broadcast so the
    # corpus is filtered map-side with no wide shuffle of document rows
    plan = _plan(spark, sf_dir, "dataset_temperature_mix")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_substring_two_phase_agg_no_selfjoin(spark, sf_dir):
    # duplicated-hash detection is a partial-agg groupBy (map-side combine
    # before the exchange) and marking is an equi join — never a cartesian
    plan = _plan(spark, sf_dir, "dedup_exact_substring")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_uniform_sample_take_ordered_no_full_sort(spark, sf_dir):
    # smallest-k-hashes sampling must plan as TakeOrderedAndProject (map-side
    # partial top-k), never a global Sort + Limit
    plan = _plan(spark, sf_dir, "dataset_uniform_sample")
    assert "TakeOrderedAndProject" in plan


def test_training_mix_pack_window_is_sharded(spark, sf_dir):
    # the flagship's pack stage must partition its window by (source,
    # shard_id), never by source alone — a dominant source at 100 TB would
    # otherwise concentrate the pack cumsum on ONE serial sorted task
    plan = _plan(spark, sf_dir, "pipeline_training_mix")
    win_lines = [
        l for l in plan.splitlines() if "windowspecdefinition" in l and "source" in l
    ]
    assert win_lines, "pack window missing from plan"
    assert all("shard_id" in l for l in win_lines), win_lines


def test_token_budget_windows_are_block_scoped(spark, sf_dir):
    # the two-phase prefix sum must never run a source-wide running-sum
    # window over corpus rows: the intra-block window partitions by
    # (source, _blk), and the only source-only window runs over the tiny
    # per-block SUBTOTAL table (input of an aggregate), not the corpus
    plan = _plan(spark, sf_dir, "dataset_token_budget")
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, "prefix-sum windows missing from plan"
    corpus_wins = [l for l in win_lines if "n_tokens" in l]
    assert corpus_wins and all("_blk" in l for l in corpus_wins), corpus_wins


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    # pure per-row array expressions: no Exchange anywhere before the
    # ORDER BY (the single rangepartitioning sort is the query's own
    # deterministic output ordering, not operator work)
    plan = _plan(spark, sf_dir, "text_gopher_rules")
    lines = plan.splitlines()
    bad = []
    for i, l in enumerate(lines):
        if l.strip().startswith("(") and l.split(")", 1)[-1].strip().startswith("Exchange"):
            # formatted mode: the partitioning is on the block's Arguments line
            args = next(
                (x for x in lines[i + 1 : i + 6] if x.startswith("Arguments:")), ""
            )
            if "rangepartitioning" not in args:
                bad.append((l, args))
    assert not bad, bad


def test_zipf_head_never_sorts_vocabulary(spark, sf_dir):
    # the vocabulary head is per-partition top-k + one tiny merge; the rank
    # window then runs over the 50-row head, never the full vocabulary
    plan = _plan(spark, sf_dir, "text_zipf_rank_report")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial word counts


def test_label_centroids_two_stage(spark, sf_dir):
    # posexplode fans out map-side; the (label, dim) mean is a two-stage
    # hash aggregate — partial before the one keyed Exchange, final after
    plan = _plan(spark, sf_dir, "embedding_centroid_by_label")
    assert "Generate" in plan  # posexplode, map-side
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_source_mix_total_broadcasts(spark, sf_dir):
    # the corpus-wide total is a one-row aggregate broadcast back onto the
    # 20-row per-source aggregate — never a global window over input data
    plan = _plan(spark, sf_dir, "dataset_source_mix_report")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_nearest_centroid_broadcasts_centroids(spark, sf_dir):
    # |labels|xdim centroids fold into ONE broadcast row; the cosine argmax
    # is a row-local array fold, so the corpus-sized side must never hash-
    # shuffle (no per-vec_id window — the ADVICE-flagged Exchange is pinned
    # out; the only corpus-wide exchange is the query's final orderBy range
    # partitioning for the oracle's deterministic comparison)
    plan = _plan(spark, sf_dir, "embedding_nearest_centroid")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_paragraph_dedup_no_pair_explosion(spark, sf_dir):
    # paragraph near-dedup NEVER generates pairs: duplicated buckets come
    # from one (band, bk)-keyed aggregate and marking is an equi join — no
    # cartesian/nested-loop node may appear at any granularity
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import paragraph_dedup_report
    from tests.plan_fp import df_fingerprint

    with lazy_plans():
        df = paragraph_dedup_report(table(spark, sf_dir, "documents"))
    fp = df_fingerprint(spark, df)
    assert not any("CartesianProduct" in k or "NestedLoop" in k for k in fp["nodes"])
    assert fp["nodes"].get("Generate", 0) >= 2  # paragraph + band explosions
    assert fp["nodes"].get("HashAggregate", 0) >= 4  # two-phase sig + bucket aggs


def test_cluster_cohesion_broadcasts_centroids(spark, sf_dir):
    # centroids (|labels|xdim) broadcast onto the label-keyed corpus join;
    # the final per-label stats are a two-stage hash aggregate
    plan = _plan(spark, sf_dir, "embedding_cluster_cohesion")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_vocab_growth_two_stage_wordcount(spark, sf_dir):
    # explode map-side, (source, token)-keyed shuffle with partial counts,
    # then a |sources|-row rollup — no count-distinct, no window
    plan = _plan(spark, sf_dir, "text_vocab_growth")
    assert "Generate" in plan  # explode runs map-side
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_retention_scan_pruning_and_join_shape(spark, sf_dir):
    # both branches scan ONLY (user_id, ts) — at 100 TB the events table has
    # many more columns and reading them would dominate; the first-week
    # branch partial-aggregates before its exchange (MIN is duplicate-
    # insensitive, so Catalyst folds the distinct away); the join is an
    # equi join, never a cartesian
    plan = _plan(spark, sf_dir, "events_retention_cohorts")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all(
        "user_id" in l and "ts" in l and "event_type" not in l and "props" not in l
        for l in reads
    )
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final on both branches


def test_centroid_separation_reuses_centroid_exchange(spark, sf_dir):
    # the triangular self-join references the centroid aggregate twice; AQE
    # must reuse the (label, dim) exchange so the corpus-sized centroid
    # pipeline executes once, not per branch
    df = REG["embedding_centroid_separation"].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "ReusedExchange" in plan


def test_bench_preflight_load_gate():
    """The bench artifact's trust gate (round-9 verdict ask): a quiet host
    (gate far above any real load) passes clean; a busy host with an
    exhausted wait budget is stamped contaminated instead of silently
    recording a poisoned artifact."""
    import os

    import bench

    old = {
        k: os.environ.get(k)
        for k in ("SPARK_GRAFT_BENCH_MAX_LOAD", "SPARK_GRAFT_BENCH_LOAD_WAIT_SEC")
    }
    try:
        os.environ["SPARK_GRAFT_BENCH_MAX_LOAD"] = "1e9"
        la, contaminated = bench.preflight_load_gate(32)
        if la is None:  # platform without getloadavg: gate is a no-op
            return
        assert contaminated is False and len(la) == 3

        os.environ["SPARK_GRAFT_BENCH_MAX_LOAD"] = "-1"
        os.environ["SPARK_GRAFT_BENCH_LOAD_WAIT_SEC"] = "0"
        la, contaminated = bench.preflight_load_gate(32)
        assert contaminated is True
    finally:
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
