"""Workload definitions: which registered queries one batch client sends,
one at a time, in each pass — and why each workload exists.

A seed fixes a permutation of the query order, used for every pass of a run.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]

    def order(self, seed: int) -> list[str]:
        names = list(self.queries)
        random.Random(seed).shuffle(names)
        return names


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "graph_iter",
            "plans.iterative loops with fixpoint probes over one shared "
            "sym_copurchase derivation; many small Spark jobs, no Python workers",
            (
                "graph_connected_components",
                "graph_label_propagation",
                "graph_kcore",
            ),
        ),
        Workload(
            "dedup_sim",
            "Arrow/pandas worker kernels (minhash, simhash, embedding pairs); "
            "no iterative loops, so it is the bypass control for graph_iter",
            (
                "dedup_minhash_lsh",
                "dedup_embedding_cosine",
                "sim_brute_force_topk",
            ),
        ),
    )
}
