"""The benchmark's workloads: which declared queries each one runs, and why.

Every workload is a closed loop with one client: the next query starts
only after the previous query's final action has returned.  The seed only
permutes the query order inside each pass (:func:`pass_orders`); the
queries themselves always read the same generated tables.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "routing_mix",
            "overhead-bound routing/grouping/preset/export surface: "
            "construction, Catalyst and per-job scheduling; no index, no streams",
            (
                "route_latest_state",
                "display_group_islands",
                "preset_apply_merge",
                "join_broadcast_dim",
                "range_partition_outputs",
                "checksum_xor",
            ),
        ),
        Workload(
            "index_stream",
            "gram-index dedup under an empty index root plus availableNow "
            "state drains: index builds, shuffles and micro-batch loops",
            (
                "token_winnow_overlap_pairs",
                "stream_event_transitions",
            ),
        ),
    )
}


def pass_orders(queries: tuple[str, ...], seed: int):
    """Yield one query order per pass, forever: a seeded shuffle each time,
    so the same seed replays the same sequence of orders."""
    rng = random.Random(seed)
    while True:
        order = list(queries)
        rng.shuffle(order)
        yield order
