"""Correctness gate for one timed pass's clusters, computed outside the timed
region: dup-pair recall against the exact truth, false merges against the
generator's group ids, and coverage (every input conversation appears
exactly once)."""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq

from tests.oracle import clusters_from_pairs

RECALL_GATE = 0.99


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


class Truth:
    """The cached truth of one corpus: generator groups and the clusters
    implied by the exact duplicate pairs."""

    def __init__(self, corpus_dir: str):
        g = pq.read_table(f"{corpus_dir}/groups.parquet").to_pydict()
        self.group = dict(zip(g["conv_id"], g["group"]))
        t = pq.read_table(f"{corpus_dir}/truth.parquet").to_pydict()
        self.cluster = clusters_from_pairs(list(self.group), zip(t["a"], t["b"]))
        self.truth_pairs = _pairs(Counter(self.cluster.values()).values())

    def check(self, conv_ids: list[str], cluster_ids: list[str]) -> dict:
        ids = Counter(conv_ids)
        missing = sum(1 for c in self.group if c not in ids)
        repeated = sum(n - 1 for n in ids.values() if n > 1)
        extra = sum(1 for c in ids if c not in self.group)
        pred = dict(zip(conv_ids, cluster_ids))
        known = [c for c in self.group if c in pred]
        pred_pairs = _pairs(Counter(pred[c] for c in known).values())
        same_group = _pairs(Counter((pred[c], self.group[c]) for c in known).values())
        found = _pairs(Counter((pred[c], self.cluster[c]) for c in known).values())
        recall = found / self.truth_pairs if self.truth_pairs else 1.0
        false_merges = pred_pairs - same_group
        return {
            "recall": recall,
            "false_merge_pairs": false_merges,
            "merge_precision": same_group / pred_pairs if pred_pairs else 1.0,
            "coverage_errors": missing + repeated + extra,
            "ok": recall >= RECALL_GATE and false_merges == 0 and not (missing or repeated or extra),
        }


def read_clusters(stage_dir: str) -> tuple[list[str], list[str]]:
    t = pq.read_table(stage_dir, columns=["conv_id", "cluster_id"])
    return t.column("conv_id").to_pylist(), t.column("cluster_id").to_pylist()
