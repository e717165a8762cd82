"""The workloads: which inputs each reads, which operations it runs and
in which seeded order. An operation is `<registry name>@<Module>`
(the operator module its builder calls), a shared group
`a+b+...@<Module>`, `etl_star` (the pipeline) or `etl_ingest` (its first
step, the set-up warm-up). A workload's `ops` are units of one or more
operations: the seed orders the units, a unit keeps its own order.
"""
import random

CURATION = [
    ["q62_cc_labels@Dedup"],
    # the golden record is built over the fuzzy clusters, so it follows them
    ["q98_fuzzy_clusters@Dedup", "q192_golden_record@Dedup"],
    ["q209_pagerank@Relational"],
    # the SSJoin shared group: one similarity-join pass feeding six readouts
    ["q135+q140+q146+q151+q187+q188@Dedup"],
]

WORKLOADS = {
    # input: ("corpus", sf) or ("etl", records); warm: the same at warm-up
    # size, for the set-up's `warmup` operations; discard: untimed rounds
    # over the real input before timing. The ETL pipeline is a batch job
    # that starts in a fresh JVM, so its cold first round is what is timed;
    # the curation loops run in a long-lived session, so they are timed warm.
    "etl_star": {"input": ("etl", 20000), "warm": ("etl", 2000),
                 "ops": [["etl_star"]], "warmup": ["etl_ingest"], "discard": 0},
    "curation_loops": {"input": ("corpus", 0.01), "warm": ("corpus", 0.001),
                       "ops": CURATION, "warmup": ["q01_group_agg@Relational"],
                       "discard": 1},
}
TINY = {"etl_star": ("etl", 2000), "curation_loops": ("corpus", 0.001)}


def op_order(workload, seed):
    """The seeded order in which one round issues the workload's operations."""
    units = list(WORKLOADS[workload]["ops"])
    random.Random(f"{workload}:{seed}").shuffle(units)
    return [op for unit in units for op in unit]
