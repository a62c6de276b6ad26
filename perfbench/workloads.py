"""The benchmark's workloads and their seeded request sequences.

Each workload is a fixed query list; a pass runs every query once, in
an order set by the seed (a rotation of the list) and the same in every
pass of a run. Query lists are sized so a pass takes 5-9 s on two cores at
sf0.01, which keeps a run (set-up, timed passes, oracle check) to about
a minute.
"""

from __future__ import annotations

#: Query names per workload.
WORKLOADS = {
    # The reference's own dashboard surface: grid, positions, tyres,
    # lap-time formatting, a pivot, as-of and interval joins.
    # JVM-only and read-only: loads catalog loads, plan build and job
    # scheduling; no Python boundary, no layout IO.
    "f1_dashboard": (
        "qualifying_grid_events",
        "race_positions_events",
        "tire_assignment_events",
        "format_order_runtime",
        "pivot_returnflag_status",
        "asof_backward_purchase",
        "interval_join_user_cohort",
    ),
    # Curation writes beside reads: an SCD2 refresh, a vacuum sweep and
    # a crash-and-replay streaming ingest, plus MinHash-LSH dedup, whose
    # executed plan crosses the Python/Arrow boundary and which caches
    # its signatures. Loads plan build, the lifecycle verbs, fsutil,
    # streaming start-up, Python workers and the operator-internal
    # caches.
    "corpus_lifecycle": (
        "scd2_refresh_history",
        "layout_vacuum_sweep",
        "stream_feed_ingest_history",
        "minhash_lsh_docs",
    ),
}


def pass_order(workload: str, seed: int) -> list[str]:
    """Query names of every pass: the workload's list rotated to start
    at its ``seed % len``-th query. The same seed gives the same order
    and the next seed another one. Every order repeats the same cycle,
    so in the passes that follow each query has the same predecessors
    whatever the seed, and Spark's generated-code cache hits equally
    often: a shuffle made the run's speed depend on which queries it
    placed next to each other (see README, "Request order")."""
    names = WORKLOADS[workload]
    k = seed % len(names)
    return list(names[k:] + names[:k])
