"""Batch-equality pins for the continuously-maintained analytics twins:
each stream_* report must equal its batch operator row-for-row, because the
streaming state (a grouped-aggregate snapshot) is a pure function of the
data — independent of micro-batch boundaries — and the report half is the
same code (operators/analytics.py) on both sides.
"""

from __future__ import annotations

import pytest

from flink_1_12_0_src_spark.queries import load_all
from tests.conftest import SF_SMOKE as SF

REG = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "stream_name,batch_name",
    [
        ("stream_retention_cohorts", "events_retention_cohorts"),
        ("stream_funnel_rates", "events_funnel_rates"),
        ("stream_daily_anomaly", "events_daily_anomaly"),
        ("stream_source_mix", "dataset_source_mix_report"),
        ("stream_wordcount_zipf", "text_zipf_rank_report"),
        ("stream_pack_efficiency", "dataset_pack_efficiency"),
        ("stream_neardedup_keepfirst", "dedup_keepfirst_admit"),
        ("stream_incremental_admit", "dedup_incremental_admit"),
        ("stream_url_admit", "dedup_url_normalize"),
        ("stream_quality_filter", "pipeline_quality_eval"),
        ("stream_contamination_matrix", "text_contamination_matrix"),
        ("stream_source_diversity", "text_source_diversity"),
        ("stream_langid_confusion", "text_langid_confusion"),
        ("stream_substring_rewrite", "dedup_substring_rewrite"),
        ("stream_containment_prune", "dedup_containment_prune"),
        ("stream_bloom_membership", "dedup_bloom_membership"),
        ("stream_doremi_weights", "dataset_doremi_weights"),
        ("stream_heavy_hitters_cms", "text_heavy_hitters_cms"),
        ("stream_soft_weights", "dedup_soft_weights"),
        ("stream_value_percentiles", "events_value_percentiles_approx"),
        ("stream_soft_weights_cms", "dedup_soft_weights_cms"),
        ("stream_multimodal_audit", "multimodal_resolution_audit"),
    ],
)
def test_stream_twin_equals_batch(spark, stream_name, batch_name):
    got = _rows(REG[stream_name].spark(spark, SF))
    want = _rows(REG[batch_name].spark(spark, SF))
    assert got == want


def test_twin_snapshot_is_microbatch_boundary_invariant(spark):
    """The twins' core claim, pinned directly: the grouped-aggregate
    snapshot is a pure function of the DATA — replaying the same files as
    four micro-batches or as one produces identical state."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import events_stream

    def snapshot(per_trigger):
        s = events_stream(spark, SF, n_files=4, max_files_per_trigger=per_trigger)
        daily = (
            s.select("event_type", F.to_date("ts").alias("day"))
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        return _rows(run_to_batch(daily, "complete"))

    assert snapshot(1) == snapshot(4)


def test_twin_snapshot_is_delivery_order_invariant(spark):
    """Out-of-ORDER delivery, not just boundary placement: replay the SAME
    ts-range slices with the chronologically LAST slice arriving FIRST
    (order 3,1,0,2). The funnel twin's distinct-triple snapshot is a pure
    function of the data, so the report must equal the batch answer even
    though every stage-(N-1) event of the early slices arrives AFTER the
    stage-N events it retroactively qualifies — the late-stage-qualification
    claim (queries/streamingq.py stream_funnel_rates) pinned directly."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.operators.analytics import funnel_conversion
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import events_stream

    s = events_stream(spark, SF, 4, order=(3, 1, 0, 2))
    triples = (
        s.select("user_id", "event_type", "ts")
        .groupBy("user_id", "event_type", "ts")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    snap = (
        run_to_batch(triples, "complete")
        .select("user_id", "event_type", "ts")
        .localCheckpoint(eager=True)
    )
    got = _rows(funnel_conversion(snap))
    want = _rows(REG["events_funnel_rates"].spark(spark, SF))
    assert got == want


def test_neardedup_bucket_state_is_boundary_invariant(spark):
    """The near-dedup twin's streaming state — the (band, bk) → (occupancy,
    min doc) bucket table — is a pure function of the corpus: replaying the
    document files as four micro-batches or as one yields identical state
    (count and MIN are order- and batching-insensitive), which is what makes
    keep-first admission deterministic under any delivery schedule."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import rowlocal_band_keys
    from flink_1_12_0_src_spark.queries.pipelineq import (
        MH_BAND_ROWS,
        MH_NUM_HASHES,
        MH_SHINGLE_K,
    )
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(per_trigger):
        s = documents_stream(spark, SF, n_files=4, max_files_per_trigger=per_trigger)
        b = s.select(
            "doc_id",
            F.explode(
                rowlocal_band_keys("text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS)
            ).alias("x"),
        ).select("doc_id", "x.band", "x.bk")
        stats = b.groupBy("band", "bk").agg(
            F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("keep_did")
        )
        return _rows(run_to_batch(stats, "complete"))

    assert snapshot(1) == snapshot(4)


def test_incremental_admit_state_is_boundary_and_order_invariant(spark):
    """The incremental-admission twin's streaming state — the batch-split
    (band, bk) → (occupancy, min id) bucket table — is a pure function of
    the batch data: replaying the document files as one trigger, four
    triggers, or in a scrambled delivery order yields identical state
    (count and MIN are order- and batching-insensitive), so the admitted
    set is deterministic under any delivery schedule."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import rowlocal_band_keys
    from flink_1_12_0_src_spark.queries.pipelineq import (
        INC_SPLIT_HEX,
        MH_BAND_ROWS,
        MH_NUM_HASHES,
        MH_SHINGLE_K,
    )
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    is_batch = ~(
        F.substring(
            F.md5(F.concat(F.lit("inc|"), F.col("doc_id").cast("string"))), 1, 1
        )
        < INC_SPLIT_HEX
    )

    def snapshot(src):
        b = src.filter(is_batch).select(
            "doc_id",
            F.explode(
                rowlocal_band_keys("text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS)
            ).alias("x"),
        ).select("doc_id", "x.band", "x.bk")
        stats = b.groupBy("band", "bk").agg(
            F.count(F.lit(1)).alias("sz_b"), F.min("doc_id").alias("keep_bid")
        )
        return _rows(run_to_batch(stats, "complete"))

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(2, 0, 3, 1)))
    assert one == four == scrambled


def test_langid_confusion_state_is_boundary_and_order_invariant(spark):
    """The langid-confusion twin's streaming state — one counter per
    (true lang, predicted lang) cell — is a pure function of the corpus:
    the classifier is row-local (no cross-row dependence), and COUNT is
    order- and batching-insensitive, so replaying the document files as
    one trigger, four triggers, or in a scrambled delivery order yields an
    identical matrix."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.text import language_id
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        pred = language_id(src.select("lang", "text"), "lang", "text")
        g = pred.groupBy("lang", "predicted_lang").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        return _rows(run_to_batch(g, "complete"))

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(1, 3, 0, 2)))
    assert one == four == scrambled


def test_substring_occurrence_state_is_boundary_and_order_invariant(spark):
    """The ExactSubstr twin's streaming state — the distinct (doc, pos,
    window-hash) occurrence set — is a pure function of the corpus: the
    derivation is row-local and COUNT over the triple keys is order- and
    batching-insensitive, so one trigger, four triggers, and scrambled
    delivery yield identical state (hence identical keeper election)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import window_occurrences
    from flink_1_12_0_src_spark.queries.pipelineq import SPAN_WINDOW
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        occ = window_occurrences(src, "doc_id", "text", SPAN_WINDOW)
        g = occ.groupBy("doc_id", "pos", "gh").agg(F.count(F.lit(1)).alias("n"))
        return _rows(run_to_batch(g, "complete"))

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(3, 0, 2, 1)))
    assert one == four == scrambled


def test_url_admit_state_is_boundary_and_order_invariant(spark):
    """The URL-admission twin's streaming state — per (host, canonical url,
    raw url) triple the MIN doc id and doc count — is a pure function of
    the corpus (MIN and COUNT are order- and batching-insensitive), so one
    trigger, four triggers, and scrambled delivery yield identical state,
    hence identical keep-first admission."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import url_normalize
    from flink_1_12_0_src_spark.queries.pipelineq import _synth_url_col
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        s = src.select("doc_id", _synth_url_col().alias("url"))
        host = F.regexp_replace(
            F.lower(F.parse_url(F.col("url"), F.lit("AUTHORITY"))), ":[0-9]+$", ""
        )
        g = s.select(
            "doc_id", host.alias("host"), url_normalize("url").alias("curl"), "url"
        ).groupBy("host", "curl", "url").agg(
            F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n")
        )
        return _rows(run_to_batch(g, "complete"))

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(2, 3, 0, 1)))
    assert one == four == scrambled


def test_quality_filter_state_is_boundary_and_order_invariant(spark):
    """The deployed-filter twin's streaming state — the 4 confusion
    counters over row-locally scored documents — is a pure function of the
    corpus (the score is row-local, the counters order-free), so delivery
    schedule cannot move the confusion report."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.classifier import (
        logreg_fit_exact,
        logreg_score_stream,
    )
    from flink_1_12_0_src_spark.pipeline.text import quality_score
    from flink_1_12_0_src_spark.queries.pipelineq import (
        QF_LABEL_THR,
        QF_LR,
        QF_NB,
        QF_ROUNDS,
    )
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    docs = table(spark, SF, "documents")
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    w = logreg_fit_exact(labeled, "label", "doc_id", "text", QF_NB, QF_ROUNDS, QF_LR)

    def snapshot(src):
        s_labeled = quality_score(src, "doc_id", "text", keep=["text"]).select(
            "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
        )
        scored = logreg_score_stream(
            s_labeled, w, "doc_id", "text", QF_NB, keep=["label"]
        )
        g = scored.groupBy("predicted", "label").agg(F.count(F.lit(1)).alias("c"))
        return _rows(run_to_batch(g, "complete"))

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(1, 0, 3, 2)))
    assert one == scrambled


def test_containment_gram_state_is_boundary_and_order_invariant(spark):
    """The containment-prune twin's streaming state — the distinct
    (doc, block, shingle) gram set — is a pure function of the corpus:
    derivation is row-local and COUNT over the triple keys is order- and
    batching-insensitive, so one trigger, four triggers, and scrambled
    delivery yield identical state (hence identical drop decisions, since
    the df cap applies to the final set)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import gram_rows
    from flink_1_12_0_src_spark.queries.pipelineq import NJ_SHINGLE_K
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        g = (
            gram_rows(src, "doc_id", "text", "lang", NJ_SHINGLE_K)
            .groupBy("doc_id", "blk", "sh")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return _rows(run_to_batch(g, "complete"))

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(0, 3, 1, 2)))
    assert one == four == scrambled


def test_bloom_state_is_boundary_and_order_invariant(spark):
    """The Bloom twin's streaming state — the distinct (slice, bit) rows
    plus the exact hash set — is a SET-UNION sketch: union is associative,
    commutative and idempotent, so one trigger, four triggers, and
    scrambled delivery yield the identical filter (hence identical
    membership verdicts and false-positive set)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import bloom_state_rows
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        g = (
            bloom_state_rows(src.filter(F.col("doc_id") % 2 == 0), "text", 4, 2)
            .groupBy("i", "v")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return sorted((r["i"], r["v"]) for r in run_to_batch(g, "complete").collect())

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(3, 2, 1, 0)))
    assert one == four == scrambled


def test_bloom_filter_only_report_pins_load_and_fp_rate(spark):
    """The production (constant-state) Bloom variant's report must be
    honest: per-slice bits_set equals the filter the exact twin builds,
    load = bits_set/256, expected_fp_rate = the exact product of loads —
    and the closed-form rate must predict the exact twin's MEASURED
    false-positive rate among true non-members within binomial noise
    (sf0.01: 250 probes, ~2.7 sigma tolerance). This is the executable
    form of 'production drops the exact set': everything the report says
    is computable from the filter alone."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import (
        bloom_filter_report,
        bloom_membership,
        bloom_state_rows,
    )

    from tests.conftest import SF_CORRECT

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    rep = sorted(
        (
            tuple(r)
            for r in bloom_filter_report(
                bloom_state_rows(corpus, "text", 4, 2), 4, 2
            ).collect()
        ),
    )
    assert [r[0] for r in rep] == [0, 1, 2, 3]
    prod = 1.0
    for _, bits_set, load, _fp in rep:
        assert 0 < bits_set <= 256
        assert abs(load - round(bits_set / 256.0, 6)) < 1e-9
        prod *= bits_set
    expected = rep[0][3]
    assert all(r[3] == expected for r in rep)  # repeated per row
    assert abs(expected - round(prod / 256.0**4, 6)) < 1e-9
    mem = bloom_membership(corpus, probes, "doc_id", "text", 4, 2).collect()
    non = [r for r in mem if not r["actual_member"]]
    measured = sum(r["false_positive"] for r in non) / len(non)
    assert abs(measured - expected) < 0.06, (measured, expected)


def test_doremi_state_is_boundary_and_order_invariant(spark):
    """The DoReMi twin's streaming state — counts over (kind, domain, k1,
    k2) sufficient-statistic keys — is a mergeable counter set: counts are
    associative and commutative, so one trigger, four triggers, and
    scrambled delivery yield the identical statistics (hence identical
    trained weights)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.sampling import doremi_state_rows
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        g = doremi_state_rows(src, "text", "source").groupBy(
            "kind", "domain", "k1", "k2"
        ).agg(F.count(F.lit(1)).alias("n"))
        return sorted(tuple(r) for r in run_to_batch(g, "complete").collect())

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(3, 2, 1, 0)))
    assert one == four == scrambled


def test_percentile_hist_state_is_boundary_and_order_invariant(spark):
    """The quantile twin's streaming state — counts over (group,
    centi-value bucket) keys — is a mergeable fixed-bucket histogram:
    counter addition is associative and commutative, so one trigger, four
    triggers, and scrambled delivery yield the identical histogram (hence
    identical percentiles and contract booleans)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.operators.analytics import percentile_state_rows
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import events_stream

    def snapshot(src):
        g = percentile_state_rows(src).groupBy("event_type", "cv").agg(
            F.count(F.lit(1)).alias("n")
        )
        return sorted(tuple(r) for r in run_to_batch(g, "complete").collect())

    one = snapshot(events_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(events_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(events_stream(spark, SF, 4, order=(3, 2, 1, 0)))
    assert one == four == scrambled


def test_percentile_hist_is_lossless_at_feed_quantization(spark):
    """percentile_state_rows' docstring claim, pinned: the feed quantizes
    value at 2 dp, so centi-unit buckets reconstruct every value
    bit-exactly — the histogram is a lossless sufficient statistic of the
    value multiset, which is what lets the twin share the batch oracle's
    exact_p."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.catalog import table

    ev = table(spark, SF, "events")
    # the function's bucket expression (scale=100), round-tripped: any
    # value the centi bucket cannot reconstruct bit-exactly would make the
    # twin's exact_p drift off the batch oracle's
    cv = F.round(F.col("value") * 100, 0).cast("bigint")
    bad = ev.filter(cv.cast("double") / 100.0 != F.col("value")).count()
    assert bad == 0


def test_multimodal_audit_state_is_boundary_and_order_invariant(spark):
    """The 21st twin's streaming state — count/MIN/MAX/SUM per (format,
    megapixel bucket) over row-locally parsed image headers — is mergeable
    and commutative, so one trigger, four triggers, and scrambled delivery
    yield the identical state (hence identical audit report)."""
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_image_headers,
        resolution_audit_state,
        synth_image_blobs,
    )
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        g = resolution_audit_state(
            parse_image_headers(synth_image_blobs(src.select("doc_id")))
        )
        return sorted(tuple(r) for r in run_to_batch(g, "complete").collect())

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(3, 2, 1, 0)))
    assert one == four == scrambled


def test_percentile_contracts_keep_all_null_groups(spark):
    """A group whose values are ALL NULL must still emit its |percentiles|
    contract rows — exact_p and within_tol NULL (no answer to bound) — from
    BOTH the batch sketch check and the histogram twin tail, matching the
    shared oracle's group domain. Previously such groups vanished from the
    Spark side while the oracle still emitted their rows: a latent
    row-count red the r12 ADVICE flagged."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.operators.analytics import (
        PCT_PERCENTILES,
        value_percentiles_approx_check,
        value_percentiles_from_hist,
    )

    rows = [("a", float(v)) for v in range(1, 41)] + [("b", None)] * 5
    ev = spark.createDataFrame(rows, "event_type string, value double")

    def check(out):
        got = {(r["event_type"], r["q"]): r for r in out}
        assert len(out) == 2 * len(PCT_PERCENTILES), sorted(got)
        for q in PCT_PERCENTILES:
            rb = got[("b", q)]
            assert rb["exact_p"] is None and rb["within_tol"] is None
            assert rb["n_events"] == 5
            ra = got[("a", q)]
            assert ra["within_tol"] is True and ra["exact_p"] is not None

    check(value_percentiles_approx_check(ev).collect())
    # the histogram half: the same (group, centi-bucket) counts the twin
    # maintains (NULL bucket included — it carries n_events)
    hist = (
        ev.select(
            "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("cv")
        )
        .groupBy("event_type", "cv")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    check(value_percentiles_from_hist(hist, ev).collect())


def test_cms_state_is_boundary_and_order_invariant(spark):
    """The Count-Min twin's streaming state — counter sums over (slice,
    bucket) keys — is a mergeable sketch: addition is associative and
    commutative, so one trigger, four triggers, and scrambled delivery
    yield the identical sketch (hence identical estimates and contract
    booleans)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import cms_state_rows
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        g = cms_state_rows(src, "text", 3, 4, 2).groupBy("i", "v").agg(
            F.count(F.lit(1)).alias("n")
        )
        return sorted(tuple(r) for r in run_to_batch(g, "complete").collect())

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(3, 2, 1, 0)))
    assert one == four == scrambled


def test_soft_weights_state_is_boundary_and_order_invariant(spark):
    """The SoftDeDup twin's streaming state — counts over (doc, gram)
    keys — is a mergeable counter set: one trigger, four triggers, and
    scrambled delivery yield the identical per-doc gram statistics (hence
    identical corpus frequencies and training weights)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.text import shingles
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    def snapshot(src):
        g = (
            src.select(F.col("doc_id"), F.explode(shingles("text", 3)).alias("sh"))
            .groupBy("doc_id", "sh")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return sorted(tuple(r) for r in run_to_batch(g, "complete").collect())

    one = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=4))
    four = snapshot(documents_stream(spark, SF, n_files=4, max_files_per_trigger=1))
    scrambled = snapshot(documents_stream(spark, SF, 4, order=(3, 2, 1, 0)))
    assert one == four == scrambled
