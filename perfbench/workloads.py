"""The benchmark's workloads: named query lists from the engine's registry
(``__spark_entry__.queries()``).  A run's ``--seed`` only permutes the
order, which decides which query pays each cold session memo.
README.md records why each list is what it is.

``artifacts`` and ``control`` are the measured workloads (BENCHMARK.json);
they are small because every run must fit the benchmark's time budget.
The four query *families* below them are the full ROADMAP workloads, run
traced by hand to rank every query of a family (README.md's work list);
a pass over one takes 30-60 s, too long for the budget.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

WRITES = ("ev_merge_", "ev_mor_delete", "ev_wap_", "ev_sink_roundtrip")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # a fixed list, or a predicate over the registry's query names
    queries: tuple[str, ...] | Callable[[str], bool]

    def names(self, registry) -> list[str]:
        if callable(self.queries):
            return [n for n in registry if self.queries(n)]
        return list(self.queries)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "artifacts",
            "KGE, KG and document queries sharing cold-built session memos "
            "and Arrow kernels: each memo builds once per session and the "
            "other queries hit it",
            (
                # train: the trainer on the session's fixture-graph memo
                "kge_generalization_metrics",
                # kg: the encoded-KG memo and KG ranking on it
                "kge_transe_rank_join",
                # pipeline: the MinHash-signature (Arrow kernel) and
                # candidate-pair memos, their consumers, components
                "doc_lsh_pairs",
                "doc_lsh_components",
            ),
        ),
        Workload(
            "control",
            "SQL, streaming and warehouse-write queries with no session "
            "memo and no Python kernel: what memo or kernel changes must "
            "leave unchanged",
            (
                # Catalyst / AQE / shuffle
                "q1_pricing_summary",
                "q11_cube",
                "q18_bloom_join",
                # micro-batches and the state store
                "ev_stream_hll_hourly",
                # warehouse writes
                "ev_merge_upsert",
                "ev_sink_roundtrip",
            ),
        ),
        Workload(
            "kge_train",
            "every kge_* query: trainers, Arrow kernels, KG sampling/eval",
            lambda n: n.startswith("kge_"),
        ),
        Workload(
            "graph_iter",
            "graph_* plus kg_pagerank and doc_lsh_components_dist: "
            "iterative fixed-point queries in the JVM",
            lambda n: n.startswith("graph_")
            or n in ("kg_pagerank", "doc_lsh_components_dist"),
        ),
        Workload(
            "doc_pipeline",
            "the other doc_* queries: dedup, text, BPE, similarity",
            lambda n: n.startswith("doc_") and n != "doc_lsh_components_dist",
        ),
        Workload(
            "sql_stream",
            "q*, ev_stream_* and the warehouse writes",
            lambda n: (n[0] == "q" and n[1].isdigit())
            or n.startswith("ev_stream_") or n.startswith(WRITES),
        ),
    )
}
