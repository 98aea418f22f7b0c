"""stream_table: the reference topology through ``StreamsApp.start``.

The fixture's events are staged as Kafka-shaped records ``(key,
value, timestamp, event_id)`` in timestamp order, one parquet file per
trigger; the app reads them with ``availableNow``, so the load is a
closed loop. The seed sets the share of records whose value is
overwritten with their key (the filter keeps those keys), the share of
values overwritten with NULL (tombstones) and the keys a reader thread
looks up through ``open_store`` while the replay runs.

Set-up is the session, its warm-up jobs and one warm replay over the
first few files. Timed replays then run until ``--seconds`` have
passed. After the warm replay and the last timed one, both stores must
equal the latest record per key ordered by ``(timestamp, event_id)``
with NULL-valued keys deleted, and the filtered store that result
restricted to ``lower(value) == lower(key)``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from datetime import datetime
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from harness import Result, tail_percentile
from kafka_streams_sandbox_spark.streaming.app import AppConfig, StreamsApp, open_store

# A replay of 6 files took 13-15 s (18 s in a slow spell of the host),
# so an 18 s window holds two replays: with 4 files (8-12 s) some runs
# held three, and the faster later replays then moved every median.
FILES = 6
WARM_FILES = 1
SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("value", StringType()),
    StructField("timestamp", TimestampType()),
    StructField("event_id", LongType()),
])
ARROW_SCHEMA = pa.schema([
    ("key", pa.string()),
    ("value", pa.string()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("event_id", pa.int64()),
])
ROLES = ("passthrough", "table", "filtered")
# durationMs phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def generate(seed: int, data_dir: str, out_dir: str) -> tuple[pd.DataFrame, dict]:
    """Stage the fixture's events as Kafka-shaped records, shaped as
    ``sources.replay.events_as_kafka_records`` shapes them (key = user
    id, value = JSON of event_id, event_type, value and props, event
    time, event id), in ``(timestamp, event_id)`` order, in FILES
    parquet files. The seed then overwrites a share of the values with
    their key (half of those upper-cased) and another share with NULL.
    Returns all records plus the drawn shares."""
    ev = pq.read_table(os.path.join(data_dir, "events.parquet")).to_pandas()
    ts = pd.to_datetime(ev["ts"])
    if ts.dt.tz is None:
        ts = ts.dt.tz_localize("UTC")
    ev["ts"] = ts.dt.floor("us")  # nanos truncate to micros, as Arrow does
    ev = ev.sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    n = len(ev)
    keys = ev["user_id"].astype(str).to_numpy(dtype=object)
    values = np.array([
        json.dumps({"event_id": int(i), "event_type": t, "value": float(v), "props": p},
                   separators=(",", ":"))
        for i, t, v, p in zip(ev["event_id"], ev["event_type"], ev["value"], ev["props"])
    ], dtype=object)
    rng = np.random.default_rng(seed)
    share_eq = 0.2 + 0.2 * rng.random()
    share_null = 0.02 + 0.06 * rng.random()
    u = rng.random(n)
    eq = u < share_eq
    upper = rng.random(n) < 0.5
    values[eq & ~upper] = keys[eq & ~upper]
    values[eq & upper] = [k.upper() for k in keys[eq & upper]]
    values[(u >= share_eq) & (u < share_eq + share_null)] = None
    df = pd.DataFrame({"key": keys, "value": values, "timestamp": ev["ts"],
                       "event_id": ev["event_id"].astype(np.int64)})
    os.makedirs(out_dir)
    mtime = time.time() - FILES
    bounds = np.linspace(0, n, FILES + 1).astype(int)
    for i in range(FILES):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=ARROW_SCHEMA,
                                            preserve_index=False), path)
        os.utime(path, (mtime + i, mtime + i))  # the source orders by mtime
    return df, {"share_eq": share_eq, "share_null": share_null}


def expected_stores(records: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    latest = records.sort_values(["timestamp", "event_id"]).groupby("key").tail(1)
    table = latest[latest["value"].notna()]
    filtered = table[table["value"].str.lower() == table["key"].str.lower()]
    return table.set_index("key"), filtered.set_index("key")


def store_mismatch(spark, path: str, want: pd.DataFrame) -> str | None:
    got = open_store(spark, path).select("key", "value", "event_id").toPandas()
    if got["key"].duplicated().any():
        return "duplicate keys"
    got = got.set_index("key").sort_index()
    want = want[["value", "event_id"]].sort_index()
    if list(got.index) != list(want.index):
        return f"{len(got)} keys vs expected {len(want)}"
    if not (got["value"].tolist() == want["value"].tolist()
            and got["event_id"].tolist() == want["event_id"].tolist()):
        return "values differ"
    return None


class Progress(StreamingQueryListener):
    """Progress events per streaming run id, roles by start order."""

    def __init__(self, h):
        self.h = h
        self.lock = threading.Lock()
        self.replay = None  # (replay span, list of run ids started in it)
        self.role: dict[str, str] = {}
        self.batches: dict[str, list] = {}
        self.done: set[str] = set()

    def onQueryStarted(self, event):
        run = str(event.runId)
        with self.lock:
            span, runs = self.replay
            self.role[run] = ROLES[len(runs)]
            runs.append(run)
            self.batches[run] = []
        self.h.stream_runs[run] = (span, self.role[run])

    def onQueryProgress(self, event):
        p = event.progress
        run = str(p.runId)
        dur = dict(p.durationMs)
        self.batches[run].append({
            "batch": p.batchId,
            "rows": p.numInputRows,
            "dur": dur,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit": sum(s.commitTimeMs for s in p.stateOperators),
        })
        tr = self.h.tracer
        if tr.enabled:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            span, _ = self.h.stream_runs[run]
            sid = tr.new(f"batch:{self.role[run]}:{p.batchId}", span, start=start,
                         end=start + dur.get("triggerExecution", 0) / 1e3)
            self.h.batch_spans[(run, p.batchId)] = sid
            t = start
            for ph in PHASES:  # durations are exact, positions sequential
                if ph in dur:
                    tr.new(f"phase:{ph}", sid, start=t, end=t + dur[ph] / 1e3)
                    t += dur[ph] / 1e3

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.done.add(str(event.runId))

    def wait_done(self, runs, timeout=60.0):
        deadline = time.monotonic() + timeout
        while not set(runs) <= self.done:
            if time.monotonic() > deadline:
                raise RuntimeError(f"no termination event for {set(runs) - self.done}")
            time.sleep(0.02)


class Reader(threading.Thread):
    """Point lookups through ``open_store`` while the replay runs."""

    def __init__(self, h, app, keys, records, parent):
        super().__init__(daemon=True)
        self.h, self.app, self.keys = h, app, keys
        self.by_id = records.set_index("event_id")
        self.parent = parent
        self.stop_evt = threading.Event()
        self.open_ms, self.collect_ms, self.point_ms = [], [], []
        self.bad: list[str] = []
        self.error: BaseException | None = None

    def _path(self):
        """The table store's root once its first version exists."""
        name = self.app.config.table_store
        with self.h.span("iq:wait", self.parent):
            while not self.stop_evt.is_set():
                try:
                    path = self.app.store_location(name)
                    open_store(self.h.spark, path)
                    return path
                except (KeyError, RuntimeError):
                    time.sleep(0.01)
        return None

    def run(self):
        try:
            path = self._path()
            i = 0
            while path is not None and not self.stop_evt.is_set():
                k = self.keys[i % len(self.keys)]
                i += 1
                with self.h.span(f"iq:{k}", self.parent):
                    t0 = time.perf_counter()
                    df = open_store(self.h.spark, path)
                    t1 = time.perf_counter()
                    rows = df.filter(F.col("key") == k).select(
                        "key", "value", "event_id").collect()
                    t2 = time.perf_counter()
                self.open_ms.append((t1 - t0) * 1e3)
                self.collect_ms.append((t2 - t1) * 1e3)
                self.point_ms.append((t2 - t0) * 1e3)
                self._check(k, rows)
        except BaseException as e:  # noqa: BLE001 - re-raised by the caller
            self.error = e

    def _check(self, k, rows):
        if len(rows) > 1:
            self.bad.append(f"{k}: {len(rows)} rows")
        for row in rows:
            rec = self.by_id.loc[row["event_id"]]
            if rec["key"] != k or rec["value"] != row["value"]:
                self.bad.append(f"{k}: row {row.asDict()} matches no record")

    def finish(self):
        self.stop_evt.set()
        self.join(timeout=60)
        if self.is_alive():
            raise RuntimeError("lookup thread did not stop")
        if self.error is not None:
            raise self.error


def run_stream(h) -> Result:
    r = Result("stream_table")
    in_dir = os.path.join(h.work, "records")
    records, shares = generate(h.seed, h.data_dir, in_dir)
    warm_dir = os.path.join(h.work, "records-warm")
    os.makedirs(warm_dir)
    warm_names = sorted(os.listdir(in_dir))[:WARM_FILES]
    for name in warm_names:
        os.link(os.path.join(in_dir, name), os.path.join(warm_dir, name))
    warm_rows = sum(pq.ParquetFile(os.path.join(warm_dir, n)).metadata.num_rows
                    for n in warm_names)
    rng = np.random.default_rng(h.seed + 1)
    lookup_keys = list(rng.choice(records["key"].unique(), 64, replace=False))

    spark = h.start_session(python_workers=False)
    listener = Progress(h)
    spark.streams.addListener(listener)

    def replay(idx, src_dir, recs):
        cfg = AppConfig(state_dir=os.path.join(h.work, f"replay-{idx}"))
        app = StreamsApp(spark, cfg)
        stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src_dir)
        runs: list[str] = []
        with h.span(f"replay:{idx}", h.run_span) as rs:
            listener.replay = (rs, runs)
            reader = Reader(h, app, lookup_keys, recs, rs)
            reader.start()
            t0 = time.perf_counter()
            try:
                app.start(records=stream)
                wall = time.perf_counter() - t0
            finally:
                reader.finish()
                app.stop()
        listener.wait_done(runs)
        r.attempted += len(reader.point_ms)
        r.failed += len(reader.bad)
        r.check_notes.extend(f"FAILED lookup {b}" for b in reader.bad[:5])
        return wall, runs, reader, app

    def check_stores(app, recs, what):
        cfg = app.config
        table, filtered = expected_stores(recs)
        for name, want in ((cfg.table_store, table), (cfg.filtered_store, filtered)):
            with h.span(f"check:{name}", h.run_span), h.rss.paused():
                bad = store_mismatch(spark, app.store_location(name), want)
            r.check(bad is None, f"{what} store {name}: {bad}")

    t0 = time.perf_counter()
    warm_recs = records.iloc[:warm_rows]
    _, _, _, app = replay("warm", warm_dir, warm_recs)
    warm_s = time.perf_counter() - t0
    r.end_to_end["setup_s"] = h.session_start_s + h.session_warmup_s + warm_s
    check_stores(app, warm_recs, "warm replay")

    walls, timed, readers, all_runs = [], [], [], []
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < h.seconds:
        wall, runs, reader, app = replay(len(walls), in_dir, records)
        walls.append(wall)
        timed.append(h.stream_runs[runs[0]][0])
        readers.append(reader)
        all_runs.append(runs)
    check_stores(app, records, "last replay")
    spark.streams.removeListener(listener)

    # -- metrics ----------------------------------------------------------
    store_batch_ms, layer = [], {}

    def add(k, v):
        layer[k] = layer.get(k, 0.0) + v / len(walls)

    for runs in all_runs:
        for run in runs:
            role = listener.role[run]
            for b in listener.batches[run]:
                d = b["dur"]
                add("sources.latest_offset_ms", d.get("latestOffset", 0))
                add("sources.get_batch_ms", d.get("getBatch", 0))
                add("sources.input_rows", b["rows"])
                add("app.query_planning_ms", d.get("queryPlanning", 0))
                add("app.wal_commit_ms", d.get("walCommit", 0))
                add("app.trigger_ms", d.get("triggerExecution", 0))
                if role != "passthrough":
                    store_batch_ms.append(d.get("triggerExecution", 0))
                    add("ktable.add_batch_ms", d.get("addBatch", 0))
                    add("ktable.state_commit_ms", b["state_commit"])
            if role != "passthrough" and listener.batches[run]:
                last = listener.batches[run][-1]
                add("ktable.state_rows", last["state_rows"])
                add("ktable.state_memory_bytes", last["state_mem"])
    store_files = []
    with h.span("check:store_size", h.run_span):
        for name in (app.config.table_store, app.config.filtered_store):
            store_files += open_store(spark, app.store_location(name)).inputFiles()
    files = len(store_files)
    size = sum(os.path.getsize(urlparse(f).path) for f in store_files)
    layer.update({"ktable.store_files": files, "ktable.store_bytes": size})
    open_ms = [x for rd in readers for x in rd.open_ms]
    collect_ms = [x for rd in readers for x in rd.collect_ms]
    point_ms = [x for rd in readers for x in rd.point_ms]
    layer.update({"iq.open_ms": statistics.mean(open_ms),
                  "iq.collect_ms": statistics.mean(collect_ms)})

    e = r.end_to_end
    e["pass_s"] = statistics.median(walls)
    e["batch_p50_ms"] = statistics.median(store_batch_ms)
    pct, e["batch_tail_ms"] = tail_percentile(store_batch_ms)
    # a mean, not a median: see batch.py
    e["iq_point_ms"] = statistics.mean(point_ms)
    r.notes.update(
        setup_s=f"n=1 (session {h.session_start_s:.2f}s + warm-up "
                f"{h.session_warmup_s:.2f}s + warm replay {warm_s:.2f}s)",
        pass_s=f"median of n={len(walls)} replays of {len(records)} records "
               f"over {records['key'].nunique()} keys in {FILES} files; value==key "
               f"share {shares['share_eq']:.3f}, tombstone share {shares['share_null']:.3f}",
        batch_p50_ms=f"store-query micro-batches, n={len(store_batch_ms)}",
        batch_tail_ms=f"p{pct:g}, n={len(store_batch_ms)}",
        iq_point_ms=f"mean of n={len(point_ms)} open_store lookups",
    )
    r.derived["records_per_s"] = (len(records) / e["pass_s"], "1/s",
                                  f"{len(records)} records / pass_s")
    r.layer.update(timed_spans=timed, stream=layer)
    return r
