"""Normalized physical-plan fingerprints — the repo's adoption of the
reference's golden-plan test strategy (SURVEY.md §5.1: Flink pins 182 golden
plan XMLs under flink-table-planner-blink/src/test/resources/.../planner/).

A full golden plan TEXT would be Spark-version- and expression-id-brittle, so
the fingerprint keeps only the load-bearing structure a 100 TB run cares
about, normalized to survive cosmetic planner changes:

- the multiset of physical node kinds (joins keep their join type — a
  BroadcastHashJoin silently becoming a SortMergeJoin is exactly the
  regression class this exists to catch);
- per parquet scan: the table, how many columns the scan READS (column
  pruning), and whether any NON-trivial filter is pushed down (IsNotNull
  alone doesn't count — predicate pushdown);
- per shuffle Exchange: its partitioning kind (hashpartitioning /
  rangepartitioning / SinglePartition / RoundRobinPartitioning) — a new
  SinglePartition exchange is a lost-parallelism regression, a new
  hashpartitioning one is a new shuffle;
- subquery count.

Expression ids (#13L), file paths, plan ids, statistics and AQE's
isFinalPlan markers are all excluded.
"""

from __future__ import annotations

import functools
import re
from collections import Counter

from flink_1_12_0_src_spark.pipeline.stageclock import lazy_plans

# tree lines: "+- BroadcastHashJoin Inner BuildRight (13)", ":- Scan parquet  (1)"
_NODE = re.compile(r"^[\s+:|-]*([A-Za-z][A-Za-z0-9 ]*?)\s*\((\d+)\)\s*$")
# detail block headers: "(16) Exchange" / "(1) Scan parquet "
_BLOCK = re.compile(r"^\((\d+)\)\s+(.*?)\s*$")
_TRIVIAL_FILTER = re.compile(r"^IsNotNull\(")


def _node_kind(name: str) -> str:
    """Normalize a tree node label to its fingerprint kind: first token,
    except joins keep the join type and 'Scan parquet' stays two tokens."""
    toks = name.split()
    if toks[0] == "Scan":
        return " ".join(toks[:2])
    if toks[0].endswith("Join") or toks[0] == "CartesianProduct":
        return " ".join(toks[:2]) if len(toks) > 1 else toks[0]
    return toks[0]


def _split_filters(s: str) -> list[str]:
    """Split a PushedFilters list on top-level commas (filters contain
    commas inside parens: GreaterThan(l_shipdate,1998-06-01T00:00))."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def plan_fingerprint(plan: str) -> dict:
    """Normalized structural fingerprint of a formatted explain string."""
    main, _, subs = plan.partition("===== Subqueries =====")
    sections = main.split("\n\n")
    tree = sections[0]

    kinds: Counter[str] = Counter()
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m:
            kinds[_node_kind(m.group(1))] += 1

    scans: list[dict] = []
    exchanges: Counter[str] = Counter()
    for block in sections[1:]:
        lines = block.strip().splitlines()
        if not lines:
            continue
        m = _BLOCK.match(lines[0])
        if not m:
            continue
        head = m.group(2)
        body = "\n".join(lines[1:])
        if head.startswith("Scan parquet"):
            tbl = re.search(r"/([A-Za-z0-9_]+)\.parquet", body)
            rs = re.search(r"ReadSchema: struct<(.*)>", body)
            read_cols = len(_split_filters(rs.group(1))) if rs and rs.group(1) else 0
            pf = re.search(r"PushedFilters: \[(.*?)\]", body)
            pushed = [
                f
                for f in (_split_filters(pf.group(1)) if pf else [])
                if f and not _TRIVIAL_FILTER.match(f)
            ]
            scans.append(
                {
                    "table": tbl.group(1) if tbl else "?",
                    "read_cols": read_cols,
                    "pushed_nontrivial": bool(pushed),
                }
            )
        elif head == "Exchange":
            arg = re.search(r"Arguments: ([A-Za-z]+)", body)
            exchanges[arg.group(1) if arg else "?"] += 1

    scans.sort(key=lambda s: (s["table"], s["read_cols"], s["pushed_nontrivial"]))
    n_subqueries = len(re.findall(r"Subquery:?\s", subs)) if subs else 0
    return {
        "nodes": dict(sorted(kinds.items())),
        "scans": scans,
        "exchange_kinds": dict(sorted(exchanges.items())),
        "n_subqueries": n_subqueries,
    }


def formatted_plan(spark, df) -> str:
    """``df``'s physical plan as ``df.explain("formatted")`` prints it."""
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def df_fingerprint(spark, df) -> dict:
    return plan_fingerprint(formatted_plan(spark, df))


def _lazy(provider):
    """``provider`` built under ``lazy_plans()``: the operators' eager
    barriers and scoped caches stay out of its plan, so the golden pins the
    real interior instead of a ``Scan ExistingRDD`` stub."""

    @functools.wraps(provider)
    def build(spark, sf_dir):
        with lazy_plans():
            return provider(spark, sf_dir)

    return build


def _labeled_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.text import quality_score
    from flink_1_12_0_src_spark.queries.pipelineq import QF_LABEL_THR

    docs = table(spark, sf_dir, "documents")
    return quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )


def _standin_score(spark, labeled):
    """The quality filter's serving plan over a LocalRelation stand-in for
    the trained weight table: one broadcast weight row, the featurization
    aggregate and the row-local fold."""
    from flink_1_12_0_src_spark.pipeline.classifier import logreg_score
    from flink_1_12_0_src_spark.queries.pipelineq import QF_NB

    w = spark.createDataFrame(
        [(b, 0.01 * b) for b in range(QF_NB + 2)], "bucket long, weight double"
    )
    return logreg_score(labeled, w, "doc_id", "text", QF_NB)


def _standin_scored(spark, sf_dir):
    labeled = _labeled_docs(spark, sf_dir)
    return _standin_score(spark, labeled).join(
        labeled.select("doc_id", "label"), "doc_id"
    )


@_lazy
def _quality_fit_one_round(spark, sf_dir):
    from flink_1_12_0_src_spark.pipeline.classifier import logreg_fit_exact
    from flink_1_12_0_src_spark.queries.pipelineq import QF_LR, QF_NB

    return logreg_fit_exact(
        _labeled_docs(spark, sf_dir), "label", "doc_id", "text", QF_NB, 1, QF_LR,
    ).orderBy("bucket")


@_lazy
def _quality_eval_standin(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.queries.pipelineq import confusion_from_cells

    cells = _standin_scored(spark, sf_dir).groupBy("predicted", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    return confusion_from_cells(cells)


@_lazy
def _quality_roc_standin(spark, sf_dir):
    from flink_1_12_0_src_spark.queries.pipelineq import roc_from_scored

    return roc_from_scored(spark, _standin_scored(spark, sf_dir))


@_lazy
def _quality_calibration_standin(spark, sf_dir):
    from flink_1_12_0_src_spark.queries.pipelineq import calibration_from_scored

    return calibration_from_scored(_standin_scored(spark, sf_dir))


@_lazy
def _doremi_weights_one_round(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights
    from flink_1_12_0_src_spark.queries.pipelineq import DOREMI_ETA, DOREMI_SMOOTH

    return doremi_weights(
        table(spark, sf_dir, "documents"), "doc_id", "text", "source",
        rounds=1, eta=DOREMI_ETA, smoothing=DOREMI_SMOOTH,
    ).orderBy("domain")


@_lazy
def _doremi_sample_one_round(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_sample
    from flink_1_12_0_src_spark.queries.pipelineq import (
        DOREMI_ETA,
        DOREMI_SEED,
        DOREMI_SMOOTH,
    )

    return doremi_sample(
        table(spark, sf_dir, "documents"), "doc_id", "text", "source",
        rounds=1, eta=DOREMI_ETA, smoothing=DOREMI_SMOOTH, seed=DOREMI_SEED,
    ).orderBy("doc_id")


@_lazy
def _mix_compare_one_round(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.queries.pipelineq import mix_compare_report

    return mix_compare_report(table(spark, sf_dir, "documents"), rounds=1)


@_lazy
def _pca_power_one_round(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.similarity import pca_power_exact
    from flink_1_12_0_src_spark.queries.pipelineq import PCA_DIM

    return pca_power_exact(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", PCA_DIM, 1,
    ).orderBy("pos")


# The only goldens that do not pin their registered query as it ships,
# each built lazily from the same operators, with the reason it differs.
REDUCED = {
    # one round: later rounds repeat the same shape (the plan is linear in rounds)
    "dataset_doremi_weights": _doremi_weights_one_round,
    "dataset_doremi_sample": _doremi_sample_one_round,
    "dataset_mix_compare": _mix_compare_one_round,
    "pipeline_quality_fit": _quality_fit_one_round,
    # one round: the full plan is the 3^iters lineage blowup (510 scans)
    "embedding_pca_power": _pca_power_one_round,
    # stand-in weight relation: the registered form keeps the trainer's
    # Scan ExistingRDD stubs even under lazy_plans(); each runs its
    # registered tail (confusion_from_cells, roc_from_scored,
    # calibration_from_scored) over the stand-in scores
    "pipeline_quality_eval": _quality_eval_standin,
    "pipeline_quality_roc": _quality_roc_standin,
    "pipeline_quality_calibration": _quality_calibration_standin,
}


def golden_plan_providers() -> dict:
    """(spark, sf_dir) -> DataFrame provider per golden-pinned query: the
    bench-tagged headliners, the full TPC-H suite and the rest of the batch
    registry, plus eleven ``report::*`` goldens pinning the streaming twins'
    report halves directly over synthetic snapshot relations.

    A golden is the registered query built under ``lazy_plans()`` (the
    ``_lazy`` decorator), so its eager barriers and scoped caches stay out
    of the plan and the golden pins the interior that ships. The only
    exceptions are the ``REDUCED`` variants, each with its reason. The
    stream_* queries execute a streaming job and return a sink readback
    whose batch plan carries no optimizer surface — they are excluded here;
    their operator shape is pinned by the streaming tests.
    """
    from flink_1_12_0_src_spark.queries import load_all

    reg = load_all()
    # Queries whose plan CONSTRUCTION executes real work (streaming replay,
    # sink round-trips, eager bucketed-table writes) — fingerprinting them
    # would make the test suite slow for no signal.
    slow_construction = {
        "agg_distinct_multi", "cdc_consume_changelog_agg",
        "cdc_foreachbatch_upsert", "cdc_retract_stream_output",
        "cdc_retract_with_delete", "dedup_simhash",
        "flinkddl_stream_computed_watermark", "flinksql_stream_tumble",
        "join_bucketed_coloc",
    }
    # Queries with no lazy plan to pin, even under lazy_plans():
    degenerate = {
        # driver loops that launch 43-57 Spark jobs while the plan is built
        "dedup_cluster_docs", "dedup_cluster_size_histogram",
        "graph_connected_components", "pipeline_corpus_card",
        # checkpoint stubs that survive lazy_plans(): 64 in graph_sssp, 1 in
        # join_cross
        "graph_sssp", "join_cross",
        # raises Spark's ambiguous self-join AnalysisException without its
        # barrier
        "graph_community_detection",
        # DDL surface round-trips
        "flinkddl_catalog_registry", "flinkddl_describe",
        "flinkddl_explain_plan", "flinkddl_set_reset",
        "flinkddl_show_functions", "flinkddl_show_modules",
        "flinkddl_show_partitions", "flinkddl_show_tables_views",
    }
    # Rule-based inclusion (the reference pins 182 golden plan XMLs —
    # breadth is the point): every registered query whose plan is lazy and
    # non-degenerate gets a golden, so a NEW query automatically demands
    # one (the coverage test fails until the goldens are regenerated).
    providers = {
        n: REDUCED[n] if n in REDUCED else _lazy(q.spark)
        for n, q in sorted(reg.items())
        if not n.startswith("stream_")
        and n not in slow_construction
        and n not in degenerate
    }
    providers.update(_report_providers())
    return providers


def _report_providers() -> dict:
    """``report::*`` goldens: the streaming twins' REPORT halves pinned
    DIRECTLY, each fingerprinted over a synthetic state-shaped snapshot
    relation (LocalRelation stands in for the memory-sink snapshot). The
    batch queries' goldens cover the same expressions only indirectly —
    through plans where the snapshot is a full corpus aggregate — so a
    report-half regression (a lost window partitioning, a new shuffle in
    the share rollup) surfaces here as its own named diff."""
    import datetime

    def _funnel(spark, sf_dir):
        from flink_1_12_0_src_spark.operators.analytics import funnel_conversion

        snap = spark.createDataFrame(
            [(1, "view", datetime.datetime(2024, 1, 1))],
            "user_id bigint, event_type string, ts timestamp",
        )
        return funnel_conversion(snap).orderBy("stage_idx")

    def _retention(spark, sf_dir):
        from flink_1_12_0_src_spark.operators.analytics import retention_from_activity

        snap = spark.createDataFrame(
            [(1, datetime.date(2024, 1, 1))], "user_id bigint, wk date"
        )
        return retention_from_activity(snap).orderBy("cohort_week", "week_offset")

    def _zscore(spark, sf_dir):
        from flink_1_12_0_src_spark.operators.analytics import zscore_report

        snap = spark.createDataFrame(
            [("view", datetime.date(2024, 1, 1), 3)],
            "event_type string, day date, n_events bigint",
        )
        return zscore_report(snap).orderBy("event_type", "day")

    def _zipf(spark, sf_dir):
        from flink_1_12_0_src_spark.pipeline.text import zipf_head_from_counts

        snap = spark.createDataFrame([("the", 9)], "token string, freq bigint")
        return zipf_head_from_counts(snap, 50)

    def _source_mix(spark, sf_dir):
        from flink_1_12_0_src_spark.pipeline.sampling import (
            source_mix_from_lang_groups,
        )

        snap = spark.createDataFrame(
            [("web", "en", 3, 100, 20)],
            "source string, lang string, n_docs bigint, total_chars bigint,"
            " total_tokens bigint",
        )
        return source_mix_from_lang_groups(snap).orderBy("source")

    def _pack_fill(spark, sf_dir):
        from flink_1_12_0_src_spark.pipeline.sampling import pack_fill_from_volumes
        from flink_1_12_0_src_spark.queries.pipelineq import PACK_BUDGET

        snap = spark.createDataFrame(
            [("en", 1, 3, 900)],
            "lang string, shard_id int, n_docs bigint, total_tokens bigint",
        )
        return pack_fill_from_volumes(snap, ["lang", "shard_id"], PACK_BUDGET).orderBy(
            "lang", "shard_id"
        )

    def _neardedup_admission(spark, sf_dir):
        # the stats= hand-in path the streaming twin uses (batch-derived
        # bands joined against a precomputed bucket-state snapshot) — the
        # own-stats path is pinned by dedup_keepfirst_admit's golden
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import neardedup_keep_first
        from flink_1_12_0_src_spark.queries.pipelineq import (
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
            MH_NUM_HASHES,
            MH_SHINGLE_K,
        )

        stats = spark.createDataFrame(
            [(0, "aa", 2, 1)], "band int, bk string, sz bigint, keep_did bigint"
        )
        return neardedup_keep_first(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            MH_NUM_HASHES,
            MH_SHINGLE_K,
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
            stats=stats,
        ).orderBy("doc_id")

    def _source_diversity(spark, sf_dir):
        from flink_1_12_0_src_spark.pipeline.sampling import (
            source_diversity_from_counts,
        )

        snap = spark.createDataFrame(
            [("en", "web", 3)], "lang string, source string, c bigint"
        )
        return source_diversity_from_counts(snap, "lang").orderBy("lang")

    def _pct_from_hist(spark, sf_dir):
        # the quantile twin's contract tail over a synthetic histogram
        # snapshot: pins the group-keyed cumulative window, the
        # percentile-with-frequency aggregate, and the broadcast answer
        # re-rank against the probe corpus
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.operators.analytics import (
            value_percentiles_from_hist,
        )

        snap = spark.createDataFrame(
            [("view", 655, 3)], "event_type string, cv bigint, n bigint"
        )
        return value_percentiles_from_hist(
            snap, table(spark, sf_dir, "events")
        ).orderBy("event_type", "q")

    @_lazy
    def _soft_cms_from_state(spark, sf_dir):
        # the sketch-only SoftDeDup twin's pricing tail over a synthetic
        # sketch snapshot: pins the broadcast sketch probe join, both
        # pricing aggregates and the per-doc drift join, built lazily so no
        # checkpoint stub stands in for them
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import soft_dedup_cms_weights
        from flink_1_12_0_src_spark.pipeline.text import shingles
        from flink_1_12_0_src_spark.queries.pipelineq import (
            CMS_HEX,
            CMS_SLICES,
            SOFT_K,
        )

        snap = spark.createDataFrame([(0, "aa", 5)], "i int, v string, n bigint")
        gcount = (
            table(spark, sf_dir, "documents")
            .select(F.col("doc_id"), F.explode(shingles("text", SOFT_K)).alias("sh"))
            .groupBy("doc_id", "sh")
            .agg(F.count(F.lit(1)).cast("decimal(15,0)").alias("n"))
        )
        return soft_dedup_cms_weights(
            gcount, snap, "doc_id", CMS_SLICES, CMS_HEX
        ).orderBy("doc_id")

    def _mm_audit_from_state(spark, sf_dir):
        # the multimodal-audit twin's report tail over a synthetic
        # state-shaped snapshot: pins the micro-rounded mean-aspect render
        # and the (fmt, mp_bucket) ordering
        from flink_1_12_0_src_spark.pipeline.multimodal import (
            resolution_audit_from_state,
        )

        snap = spark.createDataFrame(
            [("png", 1, 2, 16, 32, 16, 32, 2000, 4096)],
            "fmt string, mp_bucket bigint, n_images bigint, min_width bigint,"
            " max_width bigint, min_height bigint, max_height bigint,"
            " _sum_aspect bigint, total_pixel_bytes bigint",
        )
        return resolution_audit_from_state(snap)

    return {
        "report::source_diversity_from_counts": _source_diversity,
        "report::funnel_conversion": _funnel,
        "report::retention_from_activity": _retention,
        "report::zscore_report": _zscore,
        "report::zipf_head_from_counts": _zipf,
        "report::source_mix_from_lang_groups": _source_mix,
        "report::pack_fill_from_volumes": _pack_fill,
        "report::neardedup_admission": _neardedup_admission,
        "report::value_percentiles_from_hist": _pct_from_hist,
        "report::soft_cms_from_state": _soft_cms_from_state,
        "report::resolution_audit_from_state": _mm_audit_from_state,
    }
