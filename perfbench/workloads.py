"""The benchmark's workloads: which registry queries each one runs.

Each workload is one client in one process running its queries back to
back (closed loop) on local[nproc], over the inputs ``gen.py`` writes.
BENCHMARK.json says what each workload stresses.  Every run pays two
session set-ups (about 8 s each on 4 cores), a cold pass that carries
the JVM's warm-up, and at least three warm passes, so the query sets are
kept to what keeps one run near a minute.
"""

WORKLOADS = {
    # The paper's document chain: block dedup, the token-aware chunker
    # (mapInPandas, the Arrow UDF boundary) and shingle Jaccard pairs
    # (shingle and posting shuffles, executor CPU).
    "pipeline": (
        "blocks_dedup_first_wins",
        "doc_chunks_token_aware",
        "doc_ngram_jaccard_pairs",
    ),
    # Writes beside reads: a Delta copy-on-write delete (fixture write,
    # file discovery, rewrite and commit: many small jobs and driver gap)
    # and a stateful streaming aggregation (state-store micro-batches).
    "lifecycle": (
        "delta_export_cow_delete",
        "stream_hourly_event_counts",
    ),
}
