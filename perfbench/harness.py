"""Session, labels, spans, memory sampling and the per-layer ledger.

Every Spark job the benchmark causes carries the local property
``perfbench.label`` naming the span that caused it (streaming jobs
inherit it from the thread that started their query and add their own
job group, the query's run id). With ``--trace 1`` the event log is
parsed once at the end and every job, stage and task is attributed by
that label, never by diffing global status totals. A job without a
label, or a negative per-layer value, stops the run.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from kafka_streams_sandbox_spark.session import get_spark

LABEL = "perfbench.label"


@dataclass
class Result:
    workload: str
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    # name -> (value, unit, note): printed beside the metrics, not gated
    derived: dict = field(default_factory=dict)
    check_notes: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # Raw per-pass inputs for the per-layer metrics that the workload
    # measures itself (build time, streaming progress, store size).
    layer: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.check_notes.append(f"FAILED {what}")


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that has at least
    ten samples beyond it: the eleventh-largest sample. Below a hundred
    samples that percentile would sit under p90, no longer a tail, and
    would jump from the maximum to near the median as a run's sample
    count crossed twenty, so the maximum is reported instead, as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 100:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


class Tracer:
    """Spans kept in memory and written once at the end. A span is
    (id, parent, name, start, end) in epoch seconds so that Spark's
    event-log times line up with the benchmark's own."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: dict[str, dict] = {}
        self._n = 0
        self._lock = threading.Lock()

    def new(self, name: str, parent: str | None, start: float | None = None,
            end: float | None = None, **attrs) -> str:
        with self._lock:
            self._n += 1
            sid = f"s{self._n}"
        if self.enabled:
            self.spans[sid] = {"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, "run": self.run_id,
                               **attrs}
        return sid

    def close(self, sid: str, end: float | None = None) -> None:
        if sid in self.spans:
            self.spans[sid]["end"] = time.time() if end is None else end

    def ancestors(self, sid: str):
        while sid is not None and sid in self.spans:
            yield self.spans[sid]
            sid = self.spans[sid]["parent"]

    def self_times(self) -> dict[str, float]:
        """Seconds per span kind (the name up to ':'), each span's
        duration minus the part its children cover."""
        kids: dict[str, list] = {}
        for s in self.spans.values():
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans.values():
            if s["end"] is None or s["start"] is None:
                continue
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in kids.get(s["id"], [])]
            )
            kind = s["name"].split(":", 1)[0]
            out[kind] = out.get(kind, 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out


def union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled every 200 ms. Each
    process counts its proportional set size, so pages a forked child
    still shares with its parent count once, not twice. Nothing is
    sampled while paused: the benchmark's own output checks (DuckDB
    oracles, collected results) are not the program's memory."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._on = threading.Event()
        self._on.set()

    @contextmanager
    def paused(self):
        self._on.clear()
        try:
            yield
        finally:
            self._on.set()

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError):
                continue  # the process exited between listing and reading
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            if self._on.is_set():
                self.peak = max(self.peak, self.sample())
            self._stop_evt.wait(0.2)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        if self.is_alive():
            raise RuntimeError("RSS sampler did not stop")


class Harness:
    """What every workload shares: the session, labels, spans, memory."""

    def __init__(self, root, work, *, seed, seconds, trace, cores, workload):
        self.root, self.work = root, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cores, self.workload = cores, workload
        self.data_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                     "data", "sf0.01")
        self.tracer = Tracer(trace)
        self.spark = None
        # Each sample walks the JVM's page tables (about 20 ms of CPU), so
        # memory is sampled only in traced runs, never beside the gated
        # end-to-end timings.
        self.rss = RssSampler()
        if trace:
            self.rss.start()
        self.run_span = self.tracer.new(f"run:{workload}", None, start=time.time())
        self.trace_path = os.path.join(root, ".perfbench_out",
                                       f"trace-{workload}-seed{seed}.json")
        self.session_start_s = 0.0
        self.session_warmup_s = 0.0
        # streaming run id -> (replay span, query role), filled by the
        # stream workload so its jobs can be attributed
        self.stream_runs: dict[str, tuple[str, str]] = {}
        self.batch_spans: dict[tuple[str, int], str] = {}

    # -- spans and labels -------------------------------------------------
    @contextmanager
    def span(self, name: str, parent: str | None):
        """A timed span; the Spark jobs started inside it on this thread
        carry its id."""
        sid = self.tracer.new(name, parent, start=time.time())
        sc = self.spark.sparkContext if self.spark else None
        prev = sc.getLocalProperty(LABEL) if sc else None
        if sc:
            sc.setLocalProperty(LABEL, sid)
        try:
            yield sid
        finally:
            if sc:
                sc.setLocalProperty(LABEL, prev)
            self.tracer.close(sid)

    # -- session ----------------------------------------------------------
    def start_session(self, python_workers: bool):
        """Session start plus a JVM job and, for workloads that run
        Python UDFs, a Python-worker job: what a user pays once before
        the first query."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        t0 = time.perf_counter()
        s0 = time.time()
        self.spark = get_spark(master=f"local[{self.cores}]")
        self.session_start_s = time.perf_counter() - t0
        self.tracer.new("session:start", self.run_span, start=s0, end=time.time())
        t1 = time.perf_counter()
        with self.span("session:warmup", self.run_span):
            sp = self.spark
            sp.range(0, 100_000, 1, self.cores).select(
                F.sum(F.col("id") * 2)).collect()

            if python_workers:
                def ident(it):
                    yield from it

                sp.range(0, 1000, 1, 1).mapInPandas(ident, "id long").collect()
        self.session_warmup_s = time.perf_counter() - t1
        return self.spark

    # -- end of run -------------------------------------------------------
    def finish(self, result: Result) -> None:
        self.tracer.close(self.run_span)
        if self.trace:
            self.rss.stop()
        self.spark.stop()
        self.spark = None
        if self.trace:
            ledger = EventLedger(self.work, self)
            result.per_layer = per_layer_metrics(self, ledger, result)
            bad = {k: v for k, v in result.per_layer.items() if v < 0}
            if bad:
                raise RuntimeError(f"negative per-layer values: {bad}")
            self.write_trace(ledger, result)

    def write_trace(self, ledger, result: Result) -> None:
        os.makedirs(os.path.dirname(self.trace_path), exist_ok=True)
        doc = {
            "run": self.tracer.run_id,
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "cores": self.cores,
            "end_to_end_traced": result.end_to_end,
            "derived_traced": {k: v[0] for k, v in result.derived.items()},
            "per_layer": result.per_layer,
            "self_time_s": self.tracer.self_times(),
            "jobs_by_span": ledger.jobs_by_span_summary(),
            "spans": list(self.tracer.spans.values()),
        }
        with open(self.trace_path, "w") as f:
            json.dump(doc, f, default=float)

    def close(self) -> None:
        """Stop the sampler, the session and the driver JVM, and wait
        for the JVM (and with it the Python workers) to exit."""
        from pyspark import SparkContext  # noqa: PLC0415

        if self.rss.is_alive():
            self.rss.stop()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=60)


# -- event log --------------------------------------------------------------

_TASK_FIELDS = {
    "task_s": ("Executor Run Time", 1e-3),
    "cpu_s": ("Executor CPU Time", 1e-9),
    "gc_s": ("JVM GC Time", 1e-3),
    "spill_bytes": ("Disk Bytes Spilled", 1),
}
# Spark SQL metric names (PythonSQLMetrics, FileSourceScanExec); their
# stage totals are milliseconds and bytes.
_SQL_METRICS = {
    "python_run_s": ("time to run Python workers", 1e-3),
    "python_start_s": ("time to start Python workers", 1e-3),
    "python_bytes_sent": ("data sent to Python workers", 1),
    "python_bytes_returned": ("data returned from Python workers", 1),
    "scan_s": ("scan time", 1e-3),
}
_BATCH_RE = re.compile(r"batch = (\d+)")


class EventLedger:
    """Jobs, stages and task totals from the event log, each attributed
    to the span named by its label."""

    def __init__(self, work: str, h: Harness):
        paths = [p for p in glob.glob(os.path.join(work, "eventlog", "**"), recursive=True)
                 if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        stage_job: dict[int, int] = {}
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "span": self._span_of(props, h),
                        "what": [si.get("Stage Name") for si in ev.get("Stage Infos", [])][-1:]
                        + [props.get("spark.job.description"), props.get("spark.jobGroup.id")],
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                        "stages": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    st = self.stages.setdefault(key, _empty_stage(stage_job.get(key[0])))
                    st["start"] = info.get("Submission Time", 0) / 1e3
                    st["end"] = info.get("Completion Time", 0) / 1e3
                    for acc in info.get("Accumulables", []):
                        for k, (name, scale) in _SQL_METRICS.items():
                            if acc.get("Name") == name:
                                st[k] += float(acc.get("Value") or 0) * scale
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    st = self.stages.setdefault(key, _empty_stage(stage_job.get(key[0])))
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    for k, (name, scale) in _TASK_FIELDS.items():
                        st[k] += m.get(name, 0) * scale
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) * 1e-3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        unlabeled = [(j, v["what"]) for j, v in self.jobs.items() if v["span"] is None]
        if unlabeled:
            raise RuntimeError(f"Spark jobs without a benchmark label: {unlabeled}")
        for key, st in self.stages.items():
            if st["job"] is None:
                raise RuntimeError(f"stage {key} belongs to no job")
            st["span"] = self.jobs[st["job"]]["span"]
            self.jobs[st["job"]]["stages"] += 1
        self._add_spans(h)

    @staticmethod
    def _span_of(props: dict, h: Harness) -> str | None:
        group = props.get("spark.jobGroup.id")
        if group in h.stream_runs:
            m = _BATCH_RE.search(props.get("spark.job.description") or "")
            if m is None:
                return h.stream_runs[group][0]
            return h.batch_spans.get((group, int(m.group(1))),
                                     h.stream_runs[group][0])
        return props.get(LABEL)

    def _add_spans(self, h: Harness) -> None:
        tr = h.tracer
        for jid, j in self.jobs.items():
            j["sid"] = tr.new(f"job:{jid}", j["span"], start=j["start"],
                              end=j["end"], stages=j["stages"])
        for (sid, att), st in self.stages.items():
            tr.new(f"stage:{sid}.{att}", self.jobs[st["job"]]["sid"],
                   start=st["start"], end=st["end"], tasks=st["tasks"])

    def jobs_by_span_summary(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for j in self.jobs.values():
            out[j["span"]] = out.get(j["span"], 0) + 1
        return out


def _empty_stage(job: int | None) -> dict:
    keys = list(_TASK_FIELDS) + list(_SQL_METRICS) + [
        "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_s",
        "scan_bytes"]
    st = {k: 0.0 for k in keys}
    st.update(tasks=0, job=job, span=None, start=0.0, end=0.0)
    return st


def per_layer_metrics(h: Harness, ledger: EventLedger, r: Result) -> dict:
    """Per-layer values per timed pass: summed over the pass's queries
    or the replay's micro-batches, averaged over the timed passes."""
    timed = set(r.layer["timed_spans"])
    passes = max(1, len(timed))

    def in_timed(span):
        return any(s["id"] in timed for s in h.tracer.ancestors(span))

    jobs = [j for j in ledger.jobs.values() if in_timed(j["span"])]
    stages = [s for s in ledger.stages.values() if in_timed(s["span"])]

    def stage_sum(k):
        return sum(s[k] for s in stages) / passes

    out = {
        # Not gated: under the session's default heap ceiling G1 commits
        # up to twice the heap run to run for the same live set, so the
        # peak spreads wider than any bound the benchmark could hold.
        "peak_rss_mb": h.rss.peak / 2**20,
        "session.start_s": h.session_start_s,
        "session.warmup_s": h.session_warmup_s,
        "catalog.scan_bytes": stage_sum("scan_bytes"),
        "catalog.scan_s": stage_sum("scan_s"),
        "operators.build_s": r.layer.get("build_s", 0.0) / passes,
        "operators.driver_gap_s": driver_gap(h, ledger, r.layer.get("query_spans", [])) / passes,
        "operators.jobs": len(jobs) / passes,
        "operators.stages": len(stages) / passes,
        "exec.tasks": stage_sum("tasks"),
    }
    for k in ("task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "fetch_wait_s", "spill_bytes"):
        out[f"exec.{k}"] = stage_sum(k)
    for k in ("python_run_s", "python_start_s", "python_bytes_sent",
              "python_bytes_returned"):
        out[f"functions.{k}"] = stage_sum(k)
    stream = r.layer.get("stream", {})
    for k in ("sources.latest_offset_ms", "sources.get_batch_ms",
              "sources.input_rows", "ktable.add_batch_ms",
              "ktable.state_rows", "ktable.state_memory_bytes",
              "ktable.state_commit_ms", "ktable.store_files",
              "ktable.store_bytes", "app.query_planning_ms",
              "app.wal_commit_ms", "app.trigger_ms", "iq.open_ms",
              "iq.collect_ms"):
        out[k] = float(stream.get(k, 0.0))
    return out


def driver_gap(h: Harness, ledger: EventLedger, query_spans: list[str]) -> float:
    """Per query: its wall time minus the union of its jobs' spans."""
    by_query: dict[str, list] = {}
    for j in ledger.jobs.values():
        for s in h.tracer.ancestors(j["span"]):
            if s["id"] in query_spans:
                by_query.setdefault(s["id"], []).append((j["start"], j["end"]))
                break
    total = 0.0
    for q in query_spans:
        s = h.tracer.spans[q]
        busy = union_length([(max(a, s["start"]), min(b, s["end"]))
                             for a, b in by_query.get(q, [])])
        total += max(0.0, s["end"] - s["start"] - busy)
    return total
