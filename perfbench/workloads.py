"""The benchmark's workloads: what each runs and on which generated inputs.

Every workload is a closed loop with one client: a curation driver waits for
each result before it starts the next operation. The seed fixes the inputs
and the order of operations; the program only sees the generated inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import InputSpec


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: InputSpec
    queries: tuple[str, ...] = ()  # catalog operations, in seeded order
    chunks: int = 0  # chunk commits: chunks the corpus lands in, in doc_id order
    passes: int = 1  # timed passes at least


# Scan/join/aggregate reports over the TPC-H-style and events tables
# (relational, tpch_q, events_q, textual) plus the streaming twin. Mostly
# fixed cost per operation: plan construction, Catalyst, job and stage
# scheduling, driver gap. No text or LSH kernels and no writes, so it is the
# no-change side for dedup-kernel, pin and sink changes.
REPORTS = Workload(
    name="reports",
    inputs=InputSpec(sf=0.005, events=5000, docs=200, vectors=200),
    queries=(
        "report_order_fulfillment",
        "tpch_q1_pricing_summary",
        "tpch_q9_product_profit",
        "tpch_q2_min_cost_supplier",
        "funnel_conversion_ordered",
        "stream_tumbling_counts",
        "hires_url_rewrite",
    ),
    # the first timed pass still runs ~15% slower than the next (JIT), so a
    # fixed count keeps the median comparable between runs
    passes=2,
)

# The document and embedding corpus: base documents plus seeded byte-identical
# copies and near-duplicates (1..3 token edits; vectors get small noise). Its
# size is bounded by the DuckDB oracles of the minhash family, which every
# run computes once per new seed.
CORPUS = InputSpec(
    sf=0.001,
    events=1000,
    docs=240,
    vectors=240,
    exact_share=0.15,
    near_share=0.15,
)

# Dedup, similarity and quality operations on the corpus: shingle and
# minhash kernels, minhash and cosine LSH joins, shuffles, localCheckpoint
# pins, a Python UDF. Then the corpus lands as chunks in doc_id order, each
# chunk commit running StateTable.filter_new, incremental_minhash_dedup
# against the loaded state, StateTable.append and an upserting
# write_keyed_overwrite of the survivors: the only operations that write
# and whose state grows between operations.
DEDUP = Workload(
    name="dedup",
    inputs=CORPUS,
    queries=(
        "corpus_dedup_pipeline",
        "gopher_quality_flags",
        "cosine_neardup_lsh",
    ),
    chunks=2,
)

# StateTable.compact() runs after every m-th chunk commit.
COMPACT_EVERY = 2

# The reference for the chunk commits: the sink's per-lang survivor counts
# over all ingested documents.
INGEST_ORACLE = "incremental_dedup_survivors"

WORKLOADS = {w.name: w for w in (REPORTS, DEDUP)}
