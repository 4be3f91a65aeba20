"""Workload definitions: which ops a run makes and in which order.

A run is one pass over a workload's fixed input set. `--seed` picks the
order of the ops (and, for `etl_fanout`, the work-list), so the same
seed replays the same sequence.
"""

from __future__ import annotations

import random

# `query_mix` runs these families in this order; the seed shuffles the
# queries inside each family. The first three are the curation chain
# (dedup, then text and quality, then embedding similarity), whose
# memos are shared within a run. Curation stages that take 3-15 s each
# (`simhash_dedup`, `ann_ivf_topk`, `dedup_clusters`, `line_dedup`,
# `bpe_train_merges`, `decontaminate`) are left out for run length, as
# `ngram_jaccard_topk` and `quality_classifier_*` are. Then come
# scan-aggregate (q1), selective-scan (q6) and IN-subquery-over-a-join
# (q18) TPC-H queries from operators.relational_ext, and one drained
# stateful streaming query (an hourly windowed aggregate) from
# operators.streaming_ops; these run no Python.
QUERY_FAMILIES = [
    ["exact_dedup_docs", "minhash_shingles"],
    ["gopher_quality_rules", "c4_line_filter", "lang_id", "text_stats"],
    ["embedding_cosine_topk", "semantic_dedup"],
    ["sql_frontend_q1", "sql_frontend_q6", "sql_frontend_q18"],
    ["streaming_tumbling_hourly"],
]

WORKLOADS = ("etl_fanout", "query_mix")


def run_order(workload: str, seed: int) -> list[str]:
    """Op names of a run seeded `seed`, in the order they run."""
    rng = random.Random(f"{workload}-{seed}")
    if workload == "etl_fanout":
        return ["etl_op"]
    if workload == "query_mix":
        out: list[str] = []
        for family in QUERY_FAMILIES:
            fam = list(family)
            rng.shuffle(fam)
            out += fam
        return out
    raise ValueError(f"unknown workload {workload!r}; choose one of {WORKLOADS}")


def query_names(workload: str) -> list[str]:
    """Every registered query a workload runs (empty for etl_fanout)."""
    if workload == "query_mix":
        return [n for fam in QUERY_FAMILIES for n in fam]
    return []
