"""Batch workloads: the registry's query functions into a noop sink.

A pass runs every member once into the noop sink, in an order drawn
from the seed. Set-up is the session, its warm-up jobs and two warm
passes. Then passes run until ``--seconds`` have passed; ``pass_s`` is
their median. Each query is split into ``build`` (the query-function
call) and ``exec`` (the noop write). After each pass, one point lookup
per member goes through ``catalog.table`` on the workload's keyed input
table, so the lookups are spread over the whole measured time. With the
clock stopped, every member then runs once more in the same session, so
on the path the timed passes took, and its output is checked.
"""

from __future__ import annotations

import random
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from checks import load_expected, rows_only_mismatch
from harness import Result
from kafka_streams_sandbox_spark import catalog, registry
from kafka_streams_sandbox_spark.oracle import compare_query

# The first pass after the session starts compiles the query plans and
# the JVM's hot paths and forks the Python workers; for the LLM members
# the pass after it still ran 7-55% slower than the next one (median
# 20% over nine runs), so set-up runs two.
WARM_PASSES = 2


def run_batch(h, name, members, lookup) -> Result:
    r = Result(name)
    sf = h.data_dir
    rng = random.Random(h.seed)
    queries, oracles = registry.all_queries(), registry.all_oracles()
    tab, key = lookup
    spark = h.start_session(python_workers=True)

    # -- set-up: warm passes -------------------------------------------
    t0 = time.perf_counter()
    warm_s = []
    for i in range(WARM_PASSES):
        w0 = time.perf_counter()
        with h.span(f"pass:warm{i}", h.run_span) as ps:
            for q in rng.sample(members, len(members)):
                with h.span(f"query:{q}", ps):
                    try:
                        queries[q](spark, sf).write.format("noop").mode("overwrite").save()
                        ok = True
                    except Exception as e:  # noqa: BLE001 - counted, reported
                        ok = False
                        r.check_notes.append(f"{q} raised {type(e).__name__}: {e}")
                    r.check(ok, f"{q} warm pass {i}")
            catalog.table(spark, sf, tab).filter(F.col(key) == -1).collect()
        warm_s.append(time.perf_counter() - w0)
    r.end_to_end["setup_s"] = (h.session_start_s + h.session_warmup_s
                               + time.perf_counter() - t0)

    # -- timed passes, each followed by one point lookup per member -----
    keys = pq.read_table(f"{sf}/{tab}.parquet", columns=[key])[key].to_pylist()
    pass_s, build_s, timed, query_spans, lookup_ms = [], 0.0, [], [], []
    per_query: dict[str, list[float]] = {q: [] for q in members}

    def point_lookup(parent):
        k = rng.choice(keys)
        with h.span(f"iq:{k}", parent):
            l0 = time.perf_counter()
            rows = catalog.table(spark, sf, tab).filter(F.col(key) == k).collect()
            lookup_ms.append((time.perf_counter() - l0) * 1e3)
        r.check(len(rows) == 1, f"lookup {tab}.{key}={k} gave {len(rows)} rows")

    start = time.perf_counter()
    while not pass_s or time.perf_counter() - start < h.seconds:
        order = rng.sample(members, len(members))
        p0 = time.perf_counter()
        with h.span(f"pass:{len(pass_s)}", h.run_span) as ps:
            for q in order:
                with h.span(f"query:{q}", ps) as qs:
                    q0 = time.perf_counter()
                    try:
                        with h.span("build", qs):
                            df = queries[q](spark, sf)
                        q1 = time.perf_counter()
                        with h.span("exec", qs):
                            df.write.format("noop").mode("overwrite").save()
                        ok = True
                    except Exception as e:  # noqa: BLE001 - counted, reported
                        q1, ok = time.perf_counter(), False
                        r.check_notes.append(f"{q} raised {type(e).__name__}")
                r.check(ok, f"{q} timed run")
                per_query[q].append((time.perf_counter() - q0) * 1e3)
                build_s += q1 - q0
                query_spans.append(qs)
        pass_s.append(time.perf_counter() - p0)
        timed.append(ps)
        with h.span(f"lookups:{len(timed)}", h.run_span) as ls:
            for _ in members:
                point_lookup(ls)

    # -- output checks, clock stopped -----------------------------------
    expected = load_expected()
    for q in members:
        with h.span(f"check:{q}", h.run_span), h.rss.paused():
            try:
                if q in oracles:
                    c = compare_query(spark, sf, q)
                    bad = None if c.ok else (f"{c.detail} (rows {c.spark_rows} vs "
                                             f"oracle {c.oracle_rows}) {c.mismatches}")
                else:
                    bad = rows_only_mismatch(q, queries[q](spark, sf).toPandas(), expected)
                    if expected.get(q, {}).get("digest", "") is None:
                        r.check_notes.append(f"{q}: row count only (digest unstable)")
            except Exception as ex:  # noqa: BLE001 - counted, reported
                bad = f"raised {type(ex).__name__}: {ex}"
        r.check(bad is None, f"{q} {'vs oracle' if q in oracles else 'rows-only'}: {bad}")

    e = r.end_to_end
    e["pass_s"] = statistics.median(pass_s)
    # The members' latencies differ tenfold, so a percentile over
    # all (query, pass) samples, or over the members, jumps between
    # queries from run to run: each query counts once, by its mean over
    # the passes, and the typical query is their geometric mean. Means,
    # not medians: a shared host's speed flips between two levels from
    # second to second, and the median of a few samples flips with it.
    typical = {q: statistics.mean(v) for q, v in per_query.items()}
    e["batch_p50_ms"] = statistics.geometric_mean(typical.values())
    e["batch_tail_ms"] = max(typical.values())
    e["iq_point_ms"] = statistics.mean(lookup_ms)
    r.notes.update(
        setup_s=f"n=1 (session {h.session_start_s:.2f}s + warm-up "
                f"{h.session_warmup_s:.2f}s + warm passes "
                f"{' + '.join(f'{x:.2f}s' for x in warm_s)})",
        pass_s=f"median of n={len(pass_s)} passes of {len(members)} queries "
               f"({', '.join(f'{x:.2f}' for x in pass_s)}); "
               "mean ms per query: " + ", ".join(
                   f"{q.split('_')[0]}={v:.0f}" for q, v in typical.items()),
        batch_p50_ms=f"geometric mean over {len(members)} queries of each one's mean",
        batch_tail_ms=f"slowest of {len(members)} queries by its mean",
        iq_point_ms=f"mean of n={len(lookup_ms)} lookups on {tab}.{key}",
    )
    r.layer.update(timed_spans=timed, query_spans=query_spans, build_s=build_s)
    return r
