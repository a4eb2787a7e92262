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


def df_fingerprint(spark, df) -> dict:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return plan_fingerprint(plan)


def _lazy(provider):
    """``provider`` built under ``lazy_plans()``: the operators' eager
    barriers and scoped caches stay out of its plan, so the golden pins the
    real interior instead of a ``Scan ExistingRDD`` stub."""

    @functools.wraps(provider)
    def build(spark, sf_dir):
        with lazy_plans():
            return provider(spark, sf_dir)

    return build


def golden_plan_providers() -> dict:
    """(spark, sf_dir) -> DataFrame provider per golden-pinned query:
    every registered query whose plan is lazy and non-degenerate — the
    bench-tagged headliners, the full TPC-H suite, and the rest of the
    batch registry (204 of 294 registered queries), plus eight ``report::*``
    goldens pinning the streaming twins' report halves directly over
    synthetic snapshot relations (212 goldens total).

    Most queries fingerprint their registry implementation unchanged (plan
    construction is lazy). A handful of queries pass eager barriers
    (``pipeline/stageclock.py``), so their registry plan degenerates to an
    ExistingRDD scan; their ``_lazy_*`` providers rebuild the identical
    topology under ``lazy_plans()`` (the ``_lazy`` decorator) so the golden
    pins the real interior plan. The
    stream_* queries execute a streaming job and return a sink readback
    whose batch plan carries no optimizer surface — they are excluded here;
    their operator shape is pinned by the streaming tests.
    """
    from flink_1_12_0_src_spark.queries import load_all
    from flink_1_12_0_src_spark.queries.pipelineq import (
        MH_BAND_ROWS,
        MH_MAX_BUCKET,
        MH_NUM_HASHES,
        MH_SHINGLE_K,
        SPAN_WINDOW,
    )

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
    # Queries whose RETURNED plan is a checkpointed-RDD scan (iterative
    # graph algorithms, DDL surface round-trips, composed materializers) —
    # nothing to pin; their interiors are covered by dedicated plan tests
    # or by the lazy special-case providers below.
    degenerate = {
        "dataset_split_leakage", "dedup_cluster_docs",
        "dedup_cluster_size_histogram", "flinkddl_catalog_registry",
        "flinkddl_describe", "flinkddl_explain_plan", "flinkddl_set_reset",
        "flinkddl_show_functions", "flinkddl_show_modules",
        "flinkddl_show_partitions", "flinkddl_show_tables_views",
        "graph_clustering_coeff", "graph_community_detection",
        "graph_connected_components", "graph_jaccard_similarity",
        "graph_label_propagation", "graph_sssp", "graph_triadic_census",
        "graph_triangle_count", "join_cross",
        # composed-of-composed: unions six materializing audit families
        # (the cluster histogram checkpoints), each of which has its own
        # golden — nothing extra to pin here
        "pipeline_corpus_card",
    }
    # Rule-based inclusion (the reference pins 182 golden plan XMLs —
    # breadth is the point): every registered query whose plan is lazy and
    # non-degenerate gets a golden, so a NEW query automatically demands
    # one (the coverage test fails until the goldens are regenerated).
    # The rows-only ANN topk trio is excluded (numpy-kernel paths whose
    # recall is pinned in tests/test_pipeline.py); their hash-verifiable
    # knn_*_recall companions ARE golden-pinned like any batch query.
    rows_only_ann = {"knn_lsh_topk", "knn_ivf_topk", "knn_pq_topk"}
    providers = {
        n: q.spark
        for n, q in sorted(reg.items())
        if not n.startswith("stream_")
        and n not in rows_only_ann
        and n not in slow_construction
        and n not in degenerate
    }

    @_lazy
    def _lazy_minhash(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            MH_NUM_HASHES,
            MH_SHINGLE_K,
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
        ).orderBy("id_a", "id_b")

    @_lazy
    def _lazy_spans(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import duplicated_spans

        return duplicated_spans(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            window=SPAN_WINDOW,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_pagerank(spark, sf_dir):
        from flink_1_12_0_src_spark.operators.graph import pagerank
        from flink_1_12_0_src_spark.queries.graphq import _edges

        return pagerank(_edges(spark, sf_dir), iterations=5)

    @_lazy
    def _lazy_paragraph(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import paragraph_dedup_report
        from flink_1_12_0_src_spark.queries.pipelineq import PARA_BLOCK

        return paragraph_dedup_report(
            table(spark, sf_dir, "documents"),
            block=PARA_BLOCK,
            num_hashes=MH_NUM_HASHES,
            shingle_k=MH_SHINGLE_K,
            band_rows=MH_BAND_ROWS,
            max_bucket=MH_MAX_BUCKET,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_refinedweb(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import paragraph_dedup_rewrite
        from flink_1_12_0_src_spark.queries.pipelineq import PARA_BLOCK

        return paragraph_dedup_rewrite(
            table(spark, sf_dir, "documents"),
            block=PARA_BLOCK,
            num_hashes=MH_NUM_HASHES,
            shingle_k=MH_SHINGLE_K,
            band_rows=MH_BAND_ROWS,
            max_bucket=MH_MAX_BUCKET,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_keepfirst(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import neardedup_keep_first

        return neardedup_keep_first(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            MH_NUM_HASHES,
            MH_SHINGLE_K,
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_refinedweb_corpus(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import (
            neardedup_keep_first,
            paragraph_dedup_rewrite,
        )
        from flink_1_12_0_src_spark.queries.pipelineq import PARA_BLOCK, RW_MIN_KEPT

        docs = table(spark, sf_dir, "documents")
        adm = neardedup_keep_first(
            docs,
            "doc_id",
            "text",
            MH_NUM_HASHES,
            MH_SHINGLE_K,
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
        )
        survivors = docs.join(
            adm.filter(F.col("admitted")).select("doc_id"), "doc_id", "left_semi"
        )
        cleaned = paragraph_dedup_rewrite(
            survivors,
            "doc_id",
            "text",
            block=PARA_BLOCK,
            num_hashes=MH_NUM_HASHES,
            shingle_k=MH_SHINGLE_K,
            band_rows=MH_BAND_ROWS,
            max_bucket=MH_MAX_BUCKET,
        )
        return cleaned.filter(F.col("n_kept") >= RW_MIN_KEPT).orderBy("doc_id")

    @_lazy
    def _lazy_url_chain(spark, sf_dir):
        """The pipeline_refinedweb_url chain fully lazy: URL keep-first →
        doc admission → paragraph rewrite → floor, returning the cleaned
        relation (shared by the url-variant and pretrain-corpus goldens)."""
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import (
            neardedup_keep_first,
            paragraph_dedup_rewrite,
            url_keep_first,
        )
        from flink_1_12_0_src_spark.queries.pipelineq import (
            PARA_BLOCK,
            RW_MIN_KEPT,
            _synth_url_col,
        )

        docs = table(spark, sf_dir, "documents")
        ukept = url_keep_first(
            docs.select("doc_id", "text", _synth_url_col().alias("url")),
            "doc_id",
            "url",
        ).select("doc_id", "text")
        adm = neardedup_keep_first(
            ukept, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K,
            MH_BAND_ROWS, MH_MAX_BUCKET,
        )
        survivors = ukept.join(
            adm.filter(F.col("admitted")).select("doc_id"), "doc_id", "left_semi"
        )
        cleaned = paragraph_dedup_rewrite(
            survivors, "doc_id", "text", block=PARA_BLOCK,
            num_hashes=MH_NUM_HASHES, shingle_k=MH_SHINGLE_K,
            band_rows=MH_BAND_ROWS, max_bucket=MH_MAX_BUCKET,
        )
        return cleaned.filter(F.col("n_kept") >= RW_MIN_KEPT)

    @_lazy
    def _lazy_refinedweb_url(spark, sf_dir):
        return _lazy_url_chain(spark, sf_dir).orderBy("doc_id")

    @_lazy
    def _lazy_pretrain_corpus(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.queries.pipelineq import PACK_BUDGET

        docs = table(spark, sf_dir, "documents")
        fin = _lazy_url_chain(spark, sf_dir).select(
            "doc_id", F.size(F.split("clean_text", " ")).alias("nt")
        )
        out = (
            fin.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs_out"),
                F.sum("nt").cast("bigint").alias("n_tokens_out"),
            )
        )
        src = docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_in")
        )
        toks = F.coalesce("n_tokens_out", F.lit(0))
        packs = F.ceil(toks / F.lit(float(PACK_BUDGET))).cast("bigint")
        return (
            src.join(out, "source", "left")
            .select(
                "source", "n_docs_in",
                F.coalesce("n_docs_out", F.lit(0)).cast("bigint").alias("n_docs_out"),
                toks.cast("bigint").alias("n_tokens_out"),
                packs.alias("n_packs"),
            )
            .orderBy("source")
        )

    providers["pipeline_refinedweb_url"] = _lazy_refinedweb_url
    providers["pipeline_pretrain_corpus"] = _lazy_pretrain_corpus

    @_lazy
    def _lazy_incremental(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import neardedup_incremental
        from flink_1_12_0_src_spark.queries.pipelineq import INC_SPLIT_HEX

        docs = table(spark, sf_dir, "documents")
        is_corpus = (
            F.substring(
                F.md5(F.concat(F.lit("inc|"), F.col("doc_id").cast("string"))), 1, 1
            )
            < INC_SPLIT_HEX
        )
        return neardedup_incremental(
            docs.filter(is_corpus),
            docs.filter(~is_corpus),
            "doc_id",
            "text",
            MH_NUM_HASHES,
            MH_SHINGLE_K,
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_calibration(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import minhash_calibration_report

        return minhash_calibration_report(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            MH_NUM_HASHES,
            MH_SHINGLE_K,
            MH_BAND_ROWS,
            MH_MAX_BUCKET,
        ).orderBy("id_a", "id_b")

    @_lazy
    def _lazy_simhash_hamming(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import simhash_hamming_pairs
        from flink_1_12_0_src_spark.queries.pipelineq import SH_BANDS, SH_MAX_HAMMING

        return simhash_hamming_pairs(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            SH_BANDS,
            SH_MAX_HAMMING,
            MH_MAX_BUCKET,
        ).orderBy("id_a", "id_b")

    @_lazy
    def _lazy_bpe_fit(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.text import bpe_fit
        from flink_1_12_0_src_spark.queries.pipelineq import BPE_ROUNDS

        return bpe_fit(
            table(spark, sf_dir, "documents"), "text", BPE_ROUNDS
        ).orderBy("round")

    @_lazy
    def _lazy_bpe_encode(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.text import bpe_encode_report
        from flink_1_12_0_src_spark.queries.pipelineq import BPE_ROUNDS

        return bpe_encode_report(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            BPE_ROUNDS,
        ).orderBy("doc_id")

    def _labeled_docs(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.text import quality_score
        from flink_1_12_0_src_spark.queries.pipelineq import QF_LABEL_THR

        docs = table(spark, sf_dir, "documents")
        return quality_score(docs, "doc_id", "text", keep=["text"]).select(
            "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
        )

    @_lazy
    def _lazy_quality_fit(spark, sf_dir):
        from flink_1_12_0_src_spark.pipeline.classifier import logreg_fit_exact
        from flink_1_12_0_src_spark.queries.pipelineq import QF_LR, QF_NB

        # 1 round, lazy: pins the full training-round interior
        # (featurization shuffle, broadcast weight row, bucket-keyed
        # gradient) without the checkpoint stubs; further rounds repeat the
        # identical shape
        return logreg_fit_exact(
            _labeled_docs(spark, sf_dir), "label", "doc_id", "text",
            QF_NB, 1, QF_LR,
        ).orderBy("bucket")

    @_lazy
    def _lazy_quality_score(spark, sf_dir):
        from flink_1_12_0_src_spark.pipeline.classifier import logreg_score
        from flink_1_12_0_src_spark.queries.pipelineq import QF_NB

        # the SERVING plan over an already-trained weight relation (a
        # LocalRelation stand-in): one broadcast weight row, featurization
        # aggregate, row-local fold — no corpus-size-dependent exchange
        # beyond the featurization shuffle
        w = spark.createDataFrame(
            [(b, 0.01 * b) for b in range(QF_NB + 2)], "bucket long, weight double"
        )
        return logreg_score(
            _labeled_docs(spark, sf_dir), w, "doc_id", "text", QF_NB
        ).orderBy("doc_id")

    def _standin_scored(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.pipeline.classifier import logreg_score
        from flink_1_12_0_src_spark.queries.pipelineq import QF_NB

        # scoring over a LocalRelation stand-in weight table (same shape as
        # _lazy_quality_score) so the ROC/calibration tails fingerprint
        # their real interior instead of training-checkpoint stubs
        w = spark.createDataFrame(
            [(b, 0.01 * b) for b in range(QF_NB + 2)], "bucket long, weight double"
        )
        labeled = _labeled_docs(spark, sf_dir)
        return logreg_score(labeled, w, "doc_id", "text", QF_NB).join(
            labeled.select("doc_id", "label"), "doc_id"
        )

    @_lazy
    def _lazy_quality_roc(spark, sf_dir):
        from flink_1_12_0_src_spark.queries.pipelineq import roc_from_scored

        return roc_from_scored(spark, _standin_scored(spark, sf_dir))

    @_lazy
    def _lazy_quality_calibration(spark, sf_dir):
        from flink_1_12_0_src_spark.queries.pipelineq import calibration_from_scored

        return calibration_from_scored(_standin_scored(spark, sf_dir))

    @_lazy
    def _lazy_family_agreement(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.queries.pipelineq import family_agreement_report

        return family_agreement_report(
            spark, table(spark, sf_dir, "documents")
        )

    @_lazy
    def _lazy_doremi(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights
        from flink_1_12_0_src_spark.queries.pipelineq import DOREMI_ETA, DOREMI_SMOOTH

        # 1 round, lazy: pins the two LM scoring passes, the
        # broadcast K-row iterate, the per-term window mixture sum and the
        # exchange-free window normalizer over the coalesced K-row relation;
        # further rounds append the identical shape (the plan is linear in
        # rounds)
        return doremi_weights(
            table(spark, sf_dir, "documents"), "doc_id", "text", "source",
            rounds=1, eta=DOREMI_ETA, smoothing=DOREMI_SMOOTH,
        ).orderBy("domain")

    @_lazy
    def _lazy_doremi_sample(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.sampling import doremi_sample
        from flink_1_12_0_src_spark.queries.pipelineq import (
            DOREMI_ETA,
            DOREMI_SEED,
            DOREMI_SMOOTH,
        )

        # 1 round, lazy (the _lazy_doremi convention): pins the
        # broadcast K-row threshold table and the stateless hash filter on
        # top of the trainer's interior
        return doremi_sample(
            table(spark, sf_dir, "documents"), "doc_id", "text", "source",
            rounds=1, eta=DOREMI_ETA, smoothing=DOREMI_SMOOTH,
            seed=DOREMI_SEED,
        ).orderBy("doc_id")

    providers["pipeline_quality_fit"] = _lazy_quality_fit
    providers["pipeline_quality_eval"] = _lazy_quality_score
    @_lazy
    def _lazy_mix_compare(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.queries.pipelineq import mix_compare_report

        # 1 round, lazy (the _lazy_doremi convention) through
        # the SAME builder the registered query ships — no drift channel
        return mix_compare_report(
            table(spark, sf_dir, "documents"), rounds=1
        )

    @_lazy
    def _lazy_soft_weights(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import soft_dedup_weights
        from flink_1_12_0_src_spark.queries.pipelineq import SOFT_K

        # lazy: pins the gram-count aggregate, the frequency
        # rollup + scoring join, and the one-row corpus-mean broadcast
        # without the checkpoint stub
        return soft_dedup_weights(
            table(spark, sf_dir, "documents"), "doc_id", "text", k=SOFT_K,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_soft_weights_cms(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import (
            cms_state_rows,
            soft_dedup_cms_weights,
            soft_gram_counts,
        )
        from flink_1_12_0_src_spark.queries.pipelineq import (
            CMS_HEX,
            CMS_SLICES,
            SOFT_K,
        )

        # lazy: pins the vocabulary probe join against the
        # broadcast constant-size sketch, both pricing tails, and the
        # per-doc drift join without the checkpoint stubs
        docs = table(spark, sf_dir, "documents")
        state = (
            cms_state_rows(docs, "text", SOFT_K, CMS_SLICES, CMS_HEX)
            .groupBy("i", "v")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return soft_dedup_cms_weights(
            soft_gram_counts(docs, "doc_id", "text", SOFT_K),
            state, "doc_id", CMS_SLICES, CMS_HEX,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_quality_ensemble(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.text import quality_ensemble

        # lazy: pins the four signal pipelines, their three
        # joins and the corpus-stats broadcast — the registered form's
        # eager localCheckpoint would degenerate the golden to a
        # Scan ExistingRDD (and execute corpus-scale jobs at DataFrame
        # construction time in golden regen / explain)
        return quality_ensemble(
            table(spark, sf_dir, "documents"), "doc_id", "text",
        ).orderBy("doc_id")

    @_lazy
    def _lazy_pca_power(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.similarity import pca_power_exact
        from flink_1_12_0_src_spark.queries.pipelineq import PCA_DIM

        # 1 round (the _lazy_quality_fit / _lazy_doremi
        # convention): pins the Gram posexplode expansion and one round's
        # normalize joins; further rounds repeat the identical shape, and
        # the full-iteration lazy plan is exactly the 3^iters reference
        # blowup the runtime checkpoints exist to cut (510 scans)
        return pca_power_exact(
            table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            PCA_DIM, 1,
        ).orderBy("pos")

    providers["text_quality_ensemble"] = _lazy_quality_ensemble
    providers["embedding_pca_power"] = _lazy_pca_power
    providers["dataset_doremi_weights"] = _lazy_doremi
    providers["dataset_doremi_sample"] = _lazy_doremi_sample
    providers["dataset_mix_compare"] = _lazy_mix_compare
    providers["dedup_soft_weights"] = _lazy_soft_weights
    providers["dedup_soft_weights_cms"] = _lazy_soft_weights_cms
    @_lazy
    def _lazy_substring_rewrite(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import exact_substring_rewrite

        return exact_substring_rewrite(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            window=SPAN_WINDOW,
        ).orderBy("doc_id")

    @_lazy
    def _lazy_refinedweb_substr(spark, sf_dir):
        from pyspark.sql import functions as F

        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import exact_substring_rewrite

        docs = table(spark, sf_dir, "documents")
        fin = _lazy_url_chain(spark, sf_dir).select("doc_id", "clean_text")
        sdoc = exact_substring_rewrite(
            fin, "doc_id", "clean_text", window=SPAN_WINDOW
        ).select("doc_id", "n_tokens", "n_removed")
        xout = (
            sdoc.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs_out"),
                F.sum("n_tokens").cast("bigint").alias("clean_tokens"),
                F.sum("n_removed").cast("bigint").alias("substr_removed"),
                F.sum(F.col("n_tokens") - F.col("n_removed"))
                .cast("bigint")
                .alias("final_tokens"),
            )
        )
        xsrc = docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_in")
        )
        # mirror the registered query's FULL final projection (coalesces +
        # removed_frac) so the golden pins the whole plan tail, not just the
        # join topology
        return (
            xsrc.join(xout, "source", "left")
            .select(
                "source",
                "n_docs_in",
                F.coalesce("n_docs_out", F.lit(0)).cast("bigint").alias("n_docs_out"),
                F.coalesce("clean_tokens", F.lit(0))
                .cast("bigint")
                .alias("clean_tokens"),
                F.coalesce("substr_removed", F.lit(0))
                .cast("bigint")
                .alias("substr_removed"),
                F.coalesce("final_tokens", F.lit(0))
                .cast("bigint")
                .alias("final_tokens"),
                F.round(
                    F.coalesce("substr_removed", F.lit(0))
                    / F.nullif(F.col("clean_tokens"), F.lit(0)).cast("double"),
                    6,
                ).alias("removed_frac"),
            )
            .orderBy("source")
        )

    @_lazy
    def _lazy_substring_spans(spark, sf_dir):
        from flink_1_12_0_src_spark.catalog import table
        from flink_1_12_0_src_spark.pipeline.dedup import substring_span_stats

        return substring_span_stats(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            window=SPAN_WINDOW,
        ).orderBy("doc_id")

    providers["pipeline_refinedweb_substr"] = _lazy_refinedweb_substr
    providers["dedup_substring_rewrite"] = _lazy_substring_rewrite
    providers["dedup_substring_spans"] = _lazy_substring_spans
    providers["pipeline_quality_roc"] = _lazy_quality_roc
    providers["pipeline_quality_calibration"] = _lazy_quality_calibration
    providers["dedup_family_agreement"] = _lazy_family_agreement
    providers["text_bpe_fit"] = _lazy_bpe_fit
    providers["text_bpe_encode"] = _lazy_bpe_encode
    providers["dedup_simhash_hamming"] = _lazy_simhash_hamming
    providers["dedup_incremental_admit"] = _lazy_incremental
    providers["dedup_minhash_calibration"] = _lazy_calibration
    providers["dedup_minhash_lsh"] = _lazy_minhash
    providers["dedup_exact_substring"] = _lazy_spans
    providers["graph_pagerank"] = _lazy_pagerank
    providers["dedup_paragraph_minhash"] = _lazy_paragraph
    providers["pipeline_refinedweb_clean"] = _lazy_refinedweb
    providers["dedup_keepfirst_admit"] = _lazy_keepfirst
    providers["pipeline_refinedweb_corpus"] = _lazy_refinedweb_corpus
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
        # pricing aggregates and the per-doc drift join (built lazy — the
        # lazy mirror convention)
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
