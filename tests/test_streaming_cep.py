"""Harness test for the streaming MATCH_RECOGNIZE operator (streaming/cep.py)
— the reference's operator-harness style (SURVEY §5.4): hand-built event
sequence replayed in controlled micro-batches, asserting exact emissions.

The scenario forces every interesting state transition:
- a match fully inside batch 1 (emitted once the watermark passes start+1h);
- a match STRADDLING the batch boundary (v arrives in batch 1, c in batch 2:
  buffered, then emitted);
- a candidate v whose c never comes (state trimmed at ts <= wm - within);
- a final match finalized only by the trailing no-data flush batch
  (event-time timer at wm+1).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_1_12_0_src_spark.operators.cep import Pattern
from flink_1_12_0_src_spark.streaming.cep import streaming_match_recognize
from flink_1_12_0_src_spark.streaming.run import run_to_batch
from flink_1_12_0_src_spark.streaming.source import replay

T0 = pd.Timestamp("2024-01-01 00:00:00")


def _mk_events(spark, tmp_path, batches):
    """One staged replay slice per batch, delivered in batch order."""
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"
    return replay(
        spark,
        str(tmp_path / "cep_stream"),
        lambda: [
            spark.createDataFrame(
                [
                    (u, (T0 + pd.Timedelta(minutes=m)).to_pydatetime(), eid, et)
                    for u, m, eid, et in rows
                ],
                schema,
            ).coalesce(1)
            for rows in batches
        ],
    )


@pytest.mark.parametrize("after_match", ["past_last"])
def test_streaming_cep_cross_batch(spark, tmp_path, after_match):
    # minutes offsets; pattern: view NEXT click WITHIN 1h, watermark delay 10m
    batch1 = [
        (1, 0, 10, "view"), (1, 5, 11, "click"),      # match inside batch 1
        (1, 30, 12, "view"),                            # c arrives in batch 2
        (2, 20, 20, "view"),                            # never completed
    ]
    batch2 = [
        (1, 35, 13, "click"),                           # completes the straddler
        (2, 40, 21, "error"),                           # breaks user 2's pair
        (1, 200, 14, "view"), (1, 205, 15, "click"),  # finalized only by flush
        (3, 400, 30, "signup"),                         # advances the watermark
    ]
    s = _mk_events(spark, tmp_path, [batch1, batch2]).withWatermark("ts", "10 minutes")
    pat = (
        Pattern.begin("v").where(lambda p: p.event_type == "view")
        .next("c").where(lambda p: p.event_type == "click")
        .within(3600.0)
    )
    out = streaming_match_recognize(
        s,
        key="user_id",
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={"view_id": ("v", "last", "event_id"), "click_id": ("c", "last", "event_id")},
        measure_types={"view_id": "long", "click_id": "long"},
        time_col="ts",
        buffer_cols={"ts": "ts", "event_id": "long", "event_type": "string"},
        after_match=after_match,
    )
    rows = sorted(
        (r.user_id, r.match_seq, r.view_id, r.click_id)
        for r in run_to_batch(out, "append").collect()
    )
    # final watermark = 400m - 10m = 390m; bound = 390 - 60 = 330m:
    # all three user-1 matches start at <= 200m -> emitted; user 2 none.
    assert rows == [(1, 0, 10, 11), (1, 1, 12, 13), (1, 2, 14, 15)]


def test_streaming_cep_defers_unfinalized(spark, tmp_path):
    # one batch; match starts within `within` of the final watermark -> held back
    batch1 = [
        (1, 0, 10, "view"), (1, 5, 11, "click"),    # start 0m: finalized
        (1, 100, 12, "view"), (1, 105, 13, "click"),  # start 100m > bound 60m
        (9, 130, 90, "signup"),                       # max ts -> wm 120m
    ]
    s = _mk_events(spark, tmp_path, [batch1]).withWatermark("ts", "10 minutes")
    pat = (
        Pattern.begin("v").where(lambda p: p.event_type == "view")
        .next("c").where(lambda p: p.event_type == "click")
        .within(3600.0)
    )
    out = streaming_match_recognize(
        s,
        key="user_id",
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={"view_id": ("v", "last", "event_id"), "click_id": ("c", "last", "event_id")},
        measure_types={"view_id": "long", "click_id": "long"},
        time_col="ts",
        buffer_cols={"ts": "ts", "event_id": "long", "event_type": "string"},
    )
    rows = sorted(
        (r.user_id, r.match_seq, r.view_id, r.click_id)
        for r in run_to_batch(out, "append").collect()
    )
    assert rows == [(1, 0, 10, 11)]


@pytest.mark.parametrize("branching", ["followed_by_any", "allow_combinations"])
def test_streaming_cep_rejects_any_semantics(spark, tmp_path, branching):
    """The operator emits a finalized prefix and trims state assuming one
    match per start row, so a pattern that reports every alternative must
    be refused up front rather than run with the wrong semantics."""
    s = _mk_events(spark, tmp_path, [[(1, 0, 10, "view")]]).withWatermark(
        "ts", "10 minutes"
    )
    pat = Pattern.begin("v").where(lambda p: p.event_type == "view")
    if branching == "followed_by_any":
        pat = pat.followed_by_any("c").where(lambda p: p.event_type == "click")
    else:
        pat = pat.one_or_more().allow_combinations()
    with pytest.raises(ValueError, match="followed_by_any / allow_combinations"):
        streaming_match_recognize(
            s,
            key="user_id",
            order_by=["ts", "event_id"],
            pattern=pat.within(3600.0),
            measures={"view_id": ("v", "last", "event_id")},
            measure_types={"view_id": "long"},
            time_col="ts",
            buffer_cols={"ts": "ts", "event_id": "long", "event_type": "string"},
        )


def test_cep_state_survives_drain_then_refill(spark, tmp_path):
    """Same drain-then-refill hazard as _wm_buffered (typed state restore):
    a key whose CEP buffer fully drains (all rows consumed by matches) and
    later receives new events must keep exact int64 event times."""
    import pyspark.sql.functions as F

    from flink_1_12_0_src_spark.operators import Pattern
    from flink_1_12_0_src_spark.streaming.cep import streaming_match_recognize
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    batches = [
        [(1, 0, "2024-01-01 10:00:00", "a"), (1, 1, "2024-01-01 10:00:10", "b")],
        [(2, 2, "2024-01-01 11:00:00", "x")],  # advances wm; key 1 drains fully
        [(1, 3, "2024-01-01 12:00:00", "a"), (1, 4, "2024-01-01 12:00:05", "b")],
        [(2, 5, "2024-01-01 13:00:00", "x")],  # advances wm; finalize batch 2
    ]
    stream = replay(
        spark,
        str(tmp_path / "cepdrain"),
        lambda: [
            spark.createDataFrame(rows, "k int, i long, ts_s string, typ string")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .select("k", "i", "ts", "typ")
            .coalesce(1)
            for rows in batches
        ],
    ).withWatermark("ts", "0 seconds")
    pat = (
        Pattern.begin("a").where(lambda p: p["typ"] == "a")
        .next("b").where(lambda p: p["typ"] == "b")
        .within(3600.0)
    )
    out = run_to_batch(
        streaming_match_recognize(
            stream,
            key="k",
            order_by=["ts", "i"],
            pattern=pat,
            measures={"a_i": ("a", "first", "i"), "b_i": ("b", "last", "i")},
            measure_types={"a_i": "long", "b_i": "long"},
            time_col="ts",
            buffer_cols={"ts": "ts", "i": "long", "typ": "string"},
        ),
        "append",
    )
    got = sorted((r["k"], r["a_i"], r["b_i"]) for r in out.collect())
    assert got == [(1, 0, 1), (1, 3, 4)]  # both matches, pre- and post-drain
