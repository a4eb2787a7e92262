"""Streaming MATCH_RECOGNIZE — Flink StreamExecMatch.scala:68 instantiating
CepOperator.java:83 (NFA over keyed, event-time-ordered state, emitting a
match only once the watermark proves no earlier event can still arrive).

Spark-first design: ``applyInPandasWithState`` keyed by PARTITION BY, with
the per-key state holding the *undecided suffix* of the event stream. Each
micro-batch (and each event-time timer firing on a no-data flush batch):

1. merge buffered rows + new rows, event-time sorted;
2. split at the current watermark: rows with ts <= wm are *finalized* (the
   watermark contract says nothing earlier can arrive), later rows stay
   buffered untouched;
3. run the shared batch NFA (`operators.cep._scan_matches`) over the
   finalized prefix;
4. emit exactly the matches whose first bound row is at ts <= wm - within:
   every row that could extend or veto such a match has ts <= start+within
   <= wm, i.e. is already present — the match is provably identical to what
   a global batch scan would produce. Later matches are deferred;
5. trim state: rows at ts <= wm - within that weren't consumed can never
   join a future match (future rows arrive at ts > wm >= start+within, so
   ``within`` excludes them) — drop; consumed rows drop per the after-match
   skip strategy (SKIP PAST LAST ROW consumes through the match end, SKIP TO
   NEXT ROW only the match start).

This mirrors the reference's within()-bounded NFA state pruning
(NFA.java advanceTime / CepOperator.java:83 watermark callback). ``within``
is therefore REQUIRED here, exactly as Flink requires a time bound for
state cleanup on unbounded keys.

State per key: O(events inside the trailing `within` + out-of-order slack)
— never full history. An event-time timer re-registers at wm+1 each batch so
the trailing flush batch (Spark runs a no-data micro-batch when the
watermark advances) finalizes matches whose window closed with the last
data, making AvailableNow replays deterministic and oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from flink_1_12_0_src_spark.operators.cep import (
    Pattern,
    _measure_row,
    _sorted_group,
    _scan_matches,
)
from flink_1_12_0_src_spark.streaming.stateful import _ENC_TYPES, _PD_DTYPES


def streaming_match_recognize(
    stream: DataFrame,
    key: str,
    order_by: list[str],
    pattern: Pattern,
    measures: dict[str, tuple[str, str, str]],
    measure_types: dict[str, str],
    time_col: str,
    buffer_cols: dict[str, str],
    after_match: str = "past_last",
) -> DataFrame:
    """MATCH_RECOGNIZE over a watermarked stream, append output mode.

    buffer_cols: col → 'long' | 'string' | 'ts' — the columns kept in keyed
    state (must cover order_by, time_col, predicate and measure inputs).
    measure_types: out_col → 'long' | 'string' — output measure types.
    The input must carry ``withWatermark(time_col, delay)``. Patterns with
    any-semantics (``followed_by_any`` / ``allow_combinations``) raise: the
    emitted prefix and the state trim assume one match per start row.
    """
    if pattern.within_seconds is None:
        raise ValueError("streaming match_recognize requires pattern.within()")
    if pattern.any_semantics:
        raise ValueError(
            "streaming match_recognize does not support followed_by_any / "
            "allow_combinations"
        )
    if pattern.steps[0].quantifier == "?":
        raise ValueError("streaming pattern cannot start with an optional step")
    within_ns = int(pattern.within_seconds * 1_000_000_000)
    cols = list(buffer_cols)
    if time_col not in cols:
        raise ValueError("buffer_cols must include time_col")

    key_field = stream.schema[key]
    out_schema = StructType(
        [
            StructField(key, key_field.dataType),
            StructField("match_seq", IntegerType()),
        ]
        + [StructField(c, _ENC_TYPES[measure_types[c]]) for c in measures]
    )
    state_schema = StructType(
        [StructField("seq", LongType())]
        + [StructField(c, ArrayType(_ENC_TYPES[t])) for c, t in buffer_cols.items()]
    )

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        enc = pd.DataFrame(index=pdf.index)
        for c, t in buffer_cols.items():
            enc[c] = pdf[c].astype("int64") if t == "ts" else pdf[c]
        return enc

    def _decode(enc: pd.DataFrame) -> pd.DataFrame:
        dec = pd.DataFrame(index=enc.index)
        for c, t in buffer_cols.items():
            dec[c] = pd.to_datetime(enc[c]) if t == "ts" else enc[c]
        return dec

    def fn(key_tuple, pdf_iter, state):
        stored = state.get if state.exists else None
        seq = int(stored[0]) if stored else 0
        parts = []
        if stored:
            restored = pd.DataFrame(
                {
                    c: pd.Series(list(v), dtype=_PD_DTYPES[t])
                    for (c, t), v in zip(buffer_cols.items(), stored[1:])
                }
            )
            if len(restored):
                parts.append(restored)
        for pdf in pdf_iter:
            if len(pdf):
                parts.append(_encode(pdf))
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        buf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame(
                {c: pd.Series(dtype=_PD_DTYPES[t]) for c, t in buffer_cols.items()}
            )
        )
        buf = _sorted_group(buf, order_by) if len(buf) else buf
        ts_ns = buf[time_col].to_numpy(dtype="int64") if len(buf) else np.array([], "int64")
        n_fin = int(np.searchsorted(ts_ns, wm_ns, side="right"))
        bound_ns = wm_ns - within_ns

        cut = -1  # finalized rows at index <= cut are consumed/passed-over
        if n_fin:
            fin, matches = _scan_matches(
                _decode(buf.iloc[:n_fin]), pattern, order_by, time_col, after_match
            )
            fin_ts = fin[time_col].astype("int64").to_numpy()
            out_rows = []
            for bindings, start, end in matches:
                bound_idxs = [i for idxs in bindings.values() for i in idxs]
                first = min(bound_idxs) if bound_idxs else start
                if fin_ts[first] > bound_ns:
                    break  # starts are non-decreasing: all later matches defer
                row = {key: key_tuple[0], "match_seq": seq}
                row.update(_measure_row(fin, bindings, measures, time_col))
                out_rows.append(row)
                seq += 1
                cut = end if after_match == "past_last" else start
            if out_rows:
                yield pd.DataFrame(
                    out_rows, columns=[key, "match_seq"] + list(measures)
                )

        # retained = undecided finalized rows (alive and unconsumed) + pending
        alive = np.ones(len(buf), dtype=bool)
        alive[: n_fin] = ts_ns[:n_fin] > bound_ns
        alive[: cut + 1] = False
        kept = buf.loc[alive]
        if len(kept):
            state.update(
                (seq, *[[v for v in kept[c]] for c in cols])
            )
            # re-arm: fire on the next watermark advance so the trailing
            # no-data batch flushes matches finalized by the last data
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        elif seq:
            state.update((seq, *[[] for _ in cols]))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        else:
            state.remove()

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
