"""The benchmark's workloads: a fixed list of registry queries each,
run over tables generated from the seed (see gen.py)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: dict[str, int]  # table name -> rows
    why: str


WORKLOADS = {
    "stream_replay": Workload(
        queries=("stream_delta_alerts",),
        tables={"events": 2000},
        why="4 ordered micro-batches through pandas state on 10 keys, kept "
            "in the JVM state store: the micro-batch path does the work and "
            "no driver loop runs"),
    "dedup_compute": Workload(
        queries=("ngram_jaccard_pairs",),
        tables={"documents": 3000},
        why="6 jobs run a shingle self-join with a ~10 MB shuffle: executor "
            "CPU sets the time, not job count, though at this size tasks "
            "keep only about a quarter of the cores busy"),
}

ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)
