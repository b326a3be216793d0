"""Benchmark workloads: which registry queries run, over which inputs."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    # Warm-up order. Each timed pass runs the same queries in a seeded
    # shuffle. Memo-building queries come before their readers, so the
    # warm-up execution of the builder is the one that pays for it.
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    # Inputs: the sf0.001 base tables, replicated k times by gen.derive.
    k: int
    # Wall seconds of one timed pass on a 4-core host; --seconds is
    # turned into a whole number of passes with it (see passes_for).
    nominal_pass_s: float

    def passes_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.nominal_pass_s))


# compat ratio metric -> (shim program, DataFrame twin sharing its oracle)
COMPAT_RATIOS = {
    "compat.wordcount_ratio": ("wordcount_shim", "wordcount"),
    "compat.one_vs_one_ratio": ("one_vs_one_shim", "one_vs_one_training"),
}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="text_dedup",
            queries=(
                "wordcount", "text_quality", "tfidf_top_terms",
                "quality_filter_flags", "decontamination", "dedup_exact",
                "minhash_lsh_pairs", "near_dup_clusters", "simhash_buckets",
                "wordcount_shim",
            ),
            tables=("documents",),
            k=2, nominal_pass_s=7.5,
        ),
        Workload(
            name="vector_ann",
            queries=(
                "knn_bruteforce", "lsh_ann_topk", "ivf_ann_topk",
                "one_vs_one_training", "one_vs_one_shim",
            ),
            tables=("embeddings",),
            k=4, nominal_pass_s=6.5,
        ),
    )
}
