"""The benchmark's workloads: which catalog queries each runs, and why.

Every query has a DuckDB oracle in `SparkEntry.oracleSql`, so every
operation's output is checked. `example` workloads also time the first 500
rows of each query (`limit(500).collect()`), Warp's example mode.

Each workload is a small subset of its query family: a fresh driver JVM
pays 2-6 s per distinct query before it is warm, and the run budget allows
about 40 s per run (README.md, Sizing).
"""

WORKLOADS = {
    # Warp's analyst: exact-sum statistics (dsum/davg, median, variance),
    # regression aggregates and the formula language, full result and first
    # 500 rows. The action, not the build, takes most of each query.
    "explore": {
        "example": True,
        "queries": ["q_agg_stats", "q_regression", "q_formula_calc"],
    },
    # Iterative graft.pipeline loops (k-core peeling, connected components
    # with keep-best): the build, with its eager checkpoints and about 40
    # small jobs per query, takes most of each query.
    "iterate": {
        "example": False,
        "queries": ["q_kcore", "q_dedup_keepbest"],
    },
    # The write side: two warehouse writes (create, insert, update, delete;
    # merge) and a graft.streaming query that sinks into Postgres, each
    # writing on every call. No other workload writes through graft.sources
    # or runs graft.streaming.
    "ingest": {
        "example": False,
        "queries": ["q_warehouse_mutate", "q_warehouse_merge", "q_stream_pg_sink"],
    },
}
