"""The benchmark's workloads: the registered queries one pass runs, all on
the tables generated at scale factor ``SF``."""

from __future__ import annotations

SF = 0.01

WORKLOADS = {
    # Job-count-bound work at small scale, where Spark job launch does most
    # of the work, not the rows: the eager barriers of DoReMi's gradient
    # rounds (pipeline layer) and PageRank's iterations (operators layer),
    # the two targets of ROADMAP item 5. With two queries, a pass is short
    # enough that every run measures two whole passes.
    "curation_1x": ("dataset_doremi_weights", "graph_pagerank"),
    # Structured Streaming replays: the micro-batch harness, state-store
    # commits and applyInPandasWithState workers, which batch queries bypass.
    "stream_replay": ("stream_tumble_agg", "stream_over_running_sum", "cdc_retract_stream_output"),
}
