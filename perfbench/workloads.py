"""Workload definitions, owned by the benchmark.

The key lists are copies of ``bench.HEADLINE`` entries split by family,
so an edit to ``bench.py`` cannot change a workload. Each list is a
fixed subset of its family split: a full pass over the 66 relational
or 36 corpus headline keys takes over a minute on 4 cores, longer than
one benchmark run may take. A zipf operation is named
``<strategy>@<skew>``.
"""

from __future__ import annotations

from dataclasses import dataclass

# family = the key prefix before the first underscore
RELATIONAL_FAMILIES = ("join", "tpch", "cdc", "events", "agg", "window",
                       "sort", "top", "graph", "sample", "stats", "set")
CORPUS_FAMILIES = ("dedup", "similarity", "text", "embedding", "pipeline",
                   "corpus")

CATALOG_RELATIONAL = [
    "join_repartition",
    "join_broadcast",
    "join_merge",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "agg_groupby",
    "window_functions",
    "events_sessionize",
    "stats_table_checksum",
    "set_ops_multiset",
]

# one key per family except embedding, plus the prefix-index build,
# which writes three bucketed tables while it reads. Four keys take
# about 1 s each on 4 cores, so the tail percentile (the op with ten
# samples above it: the prefix index's three and seven of those
# twelve) lands inside that group, not between two keys of different
# cost, where one slow sample would move it.
CATALOG_CORPUS = [
    "dedup_prefix_filter_indexed",
    "dedup_minhash_lsh",
    "similarity_truncation_recall",
    "text_boilerplate_ngrams",
    "pipeline_training_data",
    "corpus_shuffle_shards",
]

# the thesis experiment, scaled so set-up and three passes fit one run:
# 10 fact rows per dim key, at the skew where the reference's merge join
# degraded (0.5) and the one where it failed (1.2)
ZIPF_ROWS = 500_000
ZIPF_KEYS = 50_000
ZIPF_SKEWS = (0.5, 1.2)
JOIN_STRATEGIES = ("repartition", "broadcast", "merge", "advised")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "catalog" or "zipf"
    keys: tuple[str, ...]
    # the expected warm pass time on 4 cores; a run makes
    # seconds / nominal_pass_s passes, so the number of samples, and
    # with it the tail percentile, does not depend on machine speed
    nominal_pass_s: float
    # unmeasured passes before the measured ones. The JVM's JIT
    # compilers take most of the CPU for the first passes (on
    # catalog-corpus 21, 17, 11, then 5-7 s of compile time per pass
    # after the cold one), so pass times fall by a third before they
    # level off, and how fast they fall depends on how loaded the
    # machine is. After two, the first measured catalog-corpus pass is
    # still 10-20 % slower than the next; a third would not leave a
    # full measurement round (about 22 runs per workload, on two
    # commits) inside its hour.
    warmup_passes: int


WORKLOADS = {
    "catalog-relational": Workload(
        "catalog-relational", "catalog", tuple(CATALOG_RELATIONAL), 4.3, 1),
    "catalog-corpus": Workload(
        "catalog-corpus", "catalog", tuple(CATALOG_CORPUS), 8.4, 2),
    "zipf-join": Workload(
        "zipf-join", "zipf",
        tuple(f"{s}@{skew}" for skew in ZIPF_SKEWS for s in JOIN_STRATEGIES),
        3.0, 1),
}
