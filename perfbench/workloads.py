"""The benchmark's workloads: which queries each one runs, over what input.

Each workload is a fixed panel drawn from classes of the 158-query
surface (README.md in this directory says why each class, and why a
panel rather than the whole class), over the fixture tables in
`fixtures/`. Panel and inputs are the same for every seed; the seed
only orders each pass.

`pass_s` is the nominal length of one timed pass on a 4-core host: a
run makes max(1, round(seconds / pass_s)) timed passes, a number that
depends on --seconds only, never on how fast this run happens to be.
`warm_passes` untimed `noop` passes warm the JIT first: after one, the
short interactive queries still sped up over the first timed passes.
"""

WORKLOADS = {
    # fixed per-query costs: construction, schema-inference jobs, job
    # count and serial single-task stages dominate, not compute
    "interactive_mix": {
        "fixture": "sf0.01",
        "pass_s": 3.5,
        "warm_passes": 2,
        "queries": [
            "rel_join_inner", "rel_sql_tpch_q3", "rel_window_rank",
            "rel_topk", "rel_bucketed_join", "event_session", "fn_math",
            "fn_json", "mr_join", "inverted_index",
        ],
    },
    # the corpus pipeline: executor kernels and shuffle over a
    # ScaleUp-derived corpus with one part file per core, and the
    # stream, incremental and partitioned writers that ingest it
    "corpus_ingest": {
        "fixture": "sf0.01",
        "pass_s": 5,
        "warm_passes": 1,
        "scaleup": {"factor": 4, "files": 4},
        "queries": [
            "text_tfidf", "sim_cos_pairs", "dedup_substring", "mm_features",
            "stream_corpus_gate", "dedup_incremental", "src_partitioned",
        ],
    },
}
