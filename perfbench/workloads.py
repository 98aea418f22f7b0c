"""The two workloads and why each exists (also in BENCHMARK.json).

Importing this module does not import pyspark: run.py reads the names
before it points Spark's scratch space into the checkout.

Membership is cut to what fits the benchmark's time budget: every run
is a fresh process that starts a JVM and pays cold warm passes before
it measures, the whole benchmark (4 + 22 runs per workload) must end
within an hour, and on a shared host a run must measure for about 20
seconds before its medians stop following the host's slow spells
(perfbench/README.md, "Run length and the host"). So
the relational queries, the LLM kernels and an LLM funnel share one
batch workload; the per-layer metrics still split scan and execution
(``catalog.*``, ``exec.*``), kernel time (``functions.*``) and
driver-loop time (``operators.*``).
"""

from __future__ import annotations

# Oracle-backed JVM queries: scans, Catalyst/codegen, joins, shuffles;
# no Python workers. b17 is the batch twin of the stream's toTable.
RELATIONAL = (
    "b02_tpch_q1_agg",
    "b03_join_orders_customer",
    "b04_multiway_join_agg",
    "b09_window_functions",
    "b12_distinct_count",
    "b17_latest_per_user",
    "b84_salted_join",
)

# b27 spends its time in the MinHash signature kernel of
# functions/intkernels.py, called through mapInPandas
# (operators/dedup.py); b110 is an LLM funnel of 24 sequential Spark
# jobs at sf0.01 (its connected-components loop), where per-job cost
# and driver loops dominate.
LLM = (
    "b27_minhash_lsh_dedup",
    "b110_lsh_neardup_components",
)

BATCH = RELATIONAL + LLM
# the batch workload's point lookups: (table, key)
LOOKUP = ("orders", "o_orderkey")


def _batch(h):
    from batch import run_batch  # noqa: PLC0415 - imports pyspark

    return run_batch(h, "batch", BATCH, LOOKUP)


def _stream(h):
    from stream import run_stream  # noqa: PLC0415 - imports pyspark

    return run_stream(h)


WORKLOADS = {"batch": _batch, "stream_table": _stream}
