"""The benchmark's workloads: fixed query sets over seeded inputs.

The seed changes the generated inputs only. Which queries run, and in which
order, is fixed, so every run of a workload times the same work. A seeded
order made a query's wall depend on its place in the pass: ann_knn_graph
took 1.5-1.9 s in most orders and 3.0-3.6 s when the pass began with
streaming_interval_join.

`warm_passes` is the number of untimed passes over the queries before the
timed pass; the first of them dumps the outputs for the oracle check.
"""

WORKLOADS = {
    # Driver-bound: one query from most families of the catalog on a small
    # input, each issued once per pass, so every query pays its own builder
    # analysis, source resolution, planning and code generation (Spark's
    # codegen cache is warm after the warm-up, so not its compilation), the
    # way a dashboard that re-runs its questions pays them. The wide-unroll grid
    # eod_risk_parity carries the planning tail; streaming_split is the
    # streaming family's one (stateless) replay.
    "interactive": {
        "sf": 0.01,
        "queries": [
            "ann_topk_lsh", "asof_join", "corpus_sample_weighted",
            "embed_pair_sim", "eod_drawdown", "eod_risk_parity",
            "events_cuped", "layout_bucket_balance", "mm_resize",
            "quote_stats", "rel_tpch_q19", "sessionize",
            "sim_quotes_universe", "streaming_split", "text_zipf",
            "tick_vpin", "window_agg",
        ],
        "warm_passes": 2,
    },
    # Job-bound: heavy batch operators and stateful stream replays on an
    # sf0.1 input, where task CPU, shuffle, pins and the stream write path
    # (AvailableNow start-up, state-store and checkpoint commits, parquet
    # sinks) do most of the work. A driver-floor change should not move it.
    "bulk": {
        "sf": 0.1,
        "queries": [
            "stats_permutation", "ann_knn_graph", "rel_tpch_q21",
            "eod_prob_mom", "streaming_interval_join",
        ],
        "warm_passes": 1,
    },
}
