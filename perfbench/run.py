"""Engine benchmark: Path-1 ingest into a versioned table, with the
access-trend dashboard reading that table.

Run from the root of a checkout:

    python3 perfbench/run.py --workload live_ingest_dashboard --seed 1 --seconds 25 --trace 0

Workloads (perfbench/README.md says why each exists):

- ``live_ingest_dashboard``: an open-loop generator publishes pmacct
  JSON files at a fixed rate. A continuously triggered Path-1 query
  lands them in a ``versioned_table``. Meanwhile one closed-loop
  dashboard client runs ``access_trend`` over the live table.
- ``flow_backfill``: an availableNow Path-1 query with a fixed
  ``maxFilesPerTrigger`` drains a seeded historical backlog. Then the
  dashboard runs closed-loop over the finished table. This repeats with
  a fresh table until the time is up.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` runs the same workload with spans,
Spark's event log and the trigger phases recorded, and reports the
per-layer metrics. Every file a run writes lives under ``.bench_work``
in the current directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import flowgen  # noqa: E402
from tracing import EventLog, Tracer, union_length  # noqa: E402

PKG = "netflow_analysis_with_spark_streaming_spark"
WORK = os.path.abspath(".bench_work")

# live_ingest_dashboard: 2 files/s x 1,000 flows = 2,000 flows/s offered,
# below what the Spark cores left beside the two client threads sustain.
LIVE_INTERVAL_S = 0.5
LIVE_ROWS_PER_FILE = 1_000
# The live table starts with a day of history in this many one-file
# commits, past the 32 paths above which every read of the table starts
# a distributed file-listing job. So the dashboard is timed in that
# regime for the whole run, instead of switching to it part way through.
LIVE_HISTORY_FILES = 40
LIVE_HISTORY_ROWS = 40_000
# flow_backfill: 30 files x 5,000 flows, 10 files (50k rows) per trigger.
BACKFILL_FILES = 30
BACKFILL_ROWS_PER_FILE = 5_000
BACKFILL_FILES_PER_TRIGGER = 10
BACKFILL_REQUESTS_PER_DRAIN = 10
# Backfill stamps cover the reference dashboard's window (accessTrend.ts
# queries Nov 5-15 2019) and days either side, so the range filter drops rows.
BACKFILL_T_FROM = datetime(2019, 11, 1, tzinfo=timezone.utc).timestamp()
BACKFILL_T_TO = datetime(2019, 11, 20, tzinfo=timezone.utc).timestamp()
BACKFILL_RANGE = ("2019-11-05", "2019-11-15")

END_TO_END = {
    "setup_s": "s",
    "freshness_p50_ms": "ms",
    "freshness_p90_ms": "ms",
    "dashboard_p50_ms": "ms",
    "dashboard_p75_ms": "ms",
    "ingest_rows_per_s": "1/s",
}
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def pct(values: list[float], p: int) -> float:
    """The ``p``-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def visible_at(progress) -> float:
    """When a micro-batch's rows became readable: its trigger's start
    plus the trigger's duration up to the end of ``addBatch``, where the
    sink publishes the version. Only the offset commit follows."""
    d = progress.durationMs
    return _epoch(progress.timestamp) + (d.get("triggerExecution", 0) - d.get("commitOffsets", 0)) / 1000.0


def canon(payload: list[dict]) -> str:
    return json.dumps(payload, sort_keys=True)


@dataclass
class Measured:
    """What a workload hands back: its end-to-end metrics and, for the
    traced run, the intervals the layer metrics are cut from."""

    metrics: dict[str, float]
    window: tuple[float, float]
    progress: list = field(default_factory=list)
    first_triggers: list[float] = field(default_factory=list)
    requests: list[tuple[float, float]] = field(default_factory=list)
    table_root: str = ""
    src: str = ""
    late_max_s: float = 0.0
    rows: int = 0
    backlog_end_s: float = 0.0
    warm_up_s: float = 0.0  # workload set-up before the window, part of setup_s


class Run:
    """One benchmark invocation: the engine session, the checks and the
    tallies of attempted and failed operations."""

    def __init__(self, seed: int, seconds: float, trace: bool, cores: int) -> None:
        self.seed, self.seconds, self.cores = seed, seconds, cores
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.per_layer: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.gateway = None

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.per_layer[name] = (value, unit)

    # --- engine lifetime -------------------------------------------------

    def start_engine(self) -> float:
        """Start the session and pay the one-time costs the steady state
        must not carry: the JVM, the Python data-source worker behind the
        ``versioned_table`` sink, the first Path-1 trigger and the first
        dashboard request. Returns the seconds it took."""
        from pyspark import SparkContext

        from netflow_analysis_with_spark_streaming_spark.session import get_spark
        from netflow_analysis_with_spark_streaming_spark.storage.stream_sink import register_table_sink
        from netflow_analysis_with_spark_streaming_spark.storage.versioned import VersionedTable

        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            os.makedirs(os.path.join(WORK, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                # Spark 4 compresses with zstd and may roll the log by
                # default; the standard library reads neither.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="netflow-perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.gateway = SparkContext._gateway
        register_table_sink(self.spark)
        d = os.path.join(WORK, "warm")
        src, staging = os.path.join(d, "in"), os.path.join(d, "staging")
        os.makedirs(src)
        os.makedirs(staging)
        flowgen.publish(staging, src, "flows.json", flowgen.FlowGen(0).lines([time.time()] * 10, flowgen.Totals()))
        table = os.path.join(d, "table")
        self.path1_query(src, table, os.path.join(d, "ckpt"), available_now=True).awaitTermination()
        self.dashboard(VersionedTable(table), ("1970-01-01", "9999-12-31"))
        return time.perf_counter() - t0

    def stop_engine(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM and every
        process it started (the Python workers) have ended."""
        proc = self.gateway.proc
        kids = _descendants(proc.pid)
        self.spark.stop()
        self.gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        deadline = time.time() + 30
        for pid in kids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)

    def peak_rss_mb(self) -> float:
        """High-water resident set of this process plus the JVM's."""
        return sum(_vm_hwm_kb(pid) for pid in (os.getpid(), self.gateway.proc.pid)) / 1024.0

    # --- calls into the engine -------------------------------------------

    def path1_query(self, src: str, table: str, ckpt: str, available_now: bool, files_per_trigger: int = 0):
        """Path 1: JSON-lines files -> ``path1_normalize`` -> ``versioned_table``."""
        from netflow_analysis_with_spark_streaming_spark.streaming.jobs import path1_normalize

        reader = self.spark.readStream
        if files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        w = (
            path1_normalize(reader.text(src))
            .writeStream.format("versioned_table")
            .option("path", table)
            .option("checkpointLocation", ckpt)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def dashboard(self, table, day_range: tuple[str, str], track: str | None = None) -> list[dict]:
        """One dashboard request: read the table, run ``access_trend``
        with the reference's in/out routing, serialise the payload.
        Spans go to ``track``; requests outside the measured window
        pass none."""
        from netflow_analysis_with_spark_streaming_spark.operators.access_trend import access_trend
        from netflow_analysis_with_spark_streaming_spark.serve import to_json_payload

        tr = self.tracer
        with tr.span(track, "dashboard"):
            with tr.span(track, "storage.read"):
                df = table.read(self.spark)
            with tr.span(track, "operators.access_trend"):
                plan = access_trend(
                    df,
                    in_predicate=f"ip_dst = '{flowgen.HOST}'",
                    ts_from=day_range[0],
                    ts_to=day_range[1],
                    ts_col="timestamp",
                    value_col="bytes",
                )
            with tr.span(track, "serve.payload"):
                body = to_json_payload(plan)
        return json.loads(body)

    # --- correctness gate ------------------------------------------------

    def check_batches(self, landed: list[str], progress: list) -> None:
        """Every micro-batch that read rows landed exactly once, under
        its own batch id: neither lost nor double-landed."""
        for p in progress:
            if p.numInputRows:
                n = landed.count(str(p.batchId))
                self.op(n == 1, f"batch {p.batchId} landed {n} times")

    def check_totals(self, got: dict[str, list[int]], expected: flowgen.Totals) -> None:
        self.op(got == expected.by_type, f"landed totals {got} != generated {expected.by_type}")

    def check_payload(self, payload: list[dict], valid: set[str], what: str) -> None:
        self.op(canon(payload) in valid, f"{what} payload {payload} matches no expected payload")

    def check_files(self, names: list[str], file_batch: dict[str, int]) -> None:
        missing = [n for n in names if n not in file_batch]
        self.op(not missing, f"{len(missing)} published files never read")

    def check_landing(self, table, progress: list, expected: flowgen.Totals) -> None:
        landed = [str(h["batch_id"]).rsplit("#", 1)[-1] for h in table.history() if h["batch_id"] is not None]
        self.check_batches(landed, progress)
        got = {
            r[0]: [r[1], r[2], r[3]]
            for r in table.read(self.spark).groupBy("event_type")
            .agg({"*": "count", "bytes": "sum", "packets": "sum"})
            .select("event_type", "count(1)", "sum(bytes)", "sum(packets)")
            .collect()
        }
        self.check_totals(got, expected)

    # --- per-layer metrics (traced run) ----------------------------------

    def layers(self, m: Measured) -> None:
        """Layer metrics read while the engine still runs."""
        from netflow_analysis_with_spark_streaming_spark.operators.normalize import normalize_flows
        from netflow_analysis_with_spark_streaming_spark.storage.versioned import VersionedTable

        for key in ("triggerExecution",) + _PHASES:
            name = "trigger_ms" if key == "triggerExecution" else f"{key}_ms"
            self.layer(f"streaming.{name}", statistics.median(p.durationMs.get(key, 0) for p in m.progress), "ms")
        self.layer("streaming.rows_per_batch", statistics.median(p.numInputRows for p in m.progress), "rows")
        self.layer("streaming.batches", len(m.progress), "count")
        self.layer("streaming.first_trigger_ms", statistics.median(m.first_triggers), "ms")
        self.layer("streaming.backlog_end_s", m.backlog_end_s, "s")
        self.layer("generator.late_max_ms", m.late_max_s * 1000, "ms")
        self.layer("generator.rows", m.rows, "rows")

        table = VersionedTable(m.table_root)
        files = table.snapshot_files()
        self.layer("storage.versions", len(table.versions()), "count")
        self.layer("storage.live_files", len(files), "count")
        log = os.path.join(m.table_root, "_log")
        self.layer("storage.log_bytes", sum(e.stat().st_size for e in os.scandir(log) if e.is_file()), "B")
        data_bytes = sum(
            e.stat().st_size for f in files for e in os.scandir(os.path.join(m.table_root, f)) if e.is_file()
        )
        self.layer("storage.data_bytes_per_row", data_bytes / table.count_rows(), "B")

        t0 = time.perf_counter()
        normalize_flows(self.spark.read.text(m.src)).write.format("noop").mode("overwrite").save()
        self.layer("operators.normalize_s", time.perf_counter() - t0, "s")

    def spark_layers(self, events: EventLog, m: Measured) -> None:
        """Layer metrics from the event log, for the measured window."""
        t0, t1 = m.window
        jobs = events.jobs_between(t0, t1)
        dash_jobs = [j for j in jobs if j["group"] == "dashboard"]
        ingest_jobs = [j for j in jobs if j["group"] != "dashboard"]
        self.layer("spark.jobs", len(jobs), "count")
        self.layer("spark.jobs_per_batch", len(ingest_jobs) / len(m.progress), "count")
        self.layer("spark.jobs_per_dashboard_query", len(dash_jobs) / len(m.requests), "count")
        tasks = events.tasks_between(t0, t1)
        self.layer("spark.tasks", len(tasks), "count")
        for key, name, scale, unit in (
            ("run_s", "executor_run_s", 1, "s"),
            ("cpu_s", "executor_cpu_s", 1, "s"),
            ("gc_s", "gc_s", 1, "s"),
            ("shuffle_write", "shuffle_write_mb", 2**-20, "MB"),
            ("fetch_wait_s", "shuffle_fetch_wait_s", 1, "s"),
            ("spill", "spill_mb", 2**-20, "MB"),
            ("python_bytes", "python_mb", 2**-20, "MB"),
        ):
            self.layer(f"spark.{name}", sum(t[key] for t in tasks) * scale, unit)
        # driver-side time: the part of each trigger and each request
        # during which none of its own Spark jobs ran
        triggers = [(_epoch(p.timestamp), _epoch(p.timestamp) + p.durationMs["triggerExecution"] / 1000.0)
                    for p in m.progress]
        driver = 0.0
        for spans, own in ((triggers, ingest_jobs), (m.requests, dash_jobs)):
            for a, b in spans:
                inside = [(max(j["start"], a), min(j["end"], b)) for j in own if j["start"] < b and j["end"] > a]
                driver += (b - a) - union_length(inside)
        self.layer("spark.driver_self_s", driver, "s")

    def span_layers(self, m: Measured) -> None:
        n = len(m.requests)
        selfs = self.tracer.self_times()
        for span, name in (("storage.read", "storage.read_plan_ms"),
                           ("operators.access_trend", "operators.access_trend_ms"),
                           ("serve.payload", "serve.payload_ms")):
            self.layer(name, selfs.get(span, 0.0) / n * 1000, "ms")
        ratios = [self.tracer.self_sum_ratio(t) for t in self.tracer.tracks()]
        self.layer("trace.self_sum_ratio", max(ratios, key=lambda r: abs(r - 1.0)), "ratio")


def trigger_spans(tracer: Tracer, track: str, progress: list) -> None:
    """Record each trigger, with its phases laid end to end in the
    order Spark runs them, as spans on ``track``."""
    for p in progress:
        a = _epoch(p.timestamp)
        d = p.durationMs
        b = a + d.get("triggerExecution", 0) / 1000.0
        tracer.add(track, "streaming.trigger", a, b)
        t = a
        for phase in _PHASES:
            dt = d.get(phase, 0) / 1000.0
            if dt:
                tracer.add(track, f"streaming.{phase}", t, min(t + dt, b))
            t += dt


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log in
    the query checkpoint (compacted entries included)."""
    out = {}
    log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name), encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(d) if d.isdigit() else None
        if st:
            children.setdefault(int(st[1]), []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


# --- workloads --------------------------------------------------------------


def live_ingest_dashboard(run: Run) -> Measured:
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import VersionedTable

    d = os.path.join(WORK, "live")
    src, staging, table_root, ckpt = (os.path.join(d, x) for x in ("in", "staging", "table", "ckpt"))
    os.makedirs(src)
    os.makedirs(staging)
    history = seed_history(run, table_root)
    q = run.path1_query(src, table_root, ckpt, available_now=False)
    t0 = time.time() + 0.2
    t_end = t0 + run.seconds
    day_range = tuple(
        datetime.fromtimestamp(t0 + k * 86400, timezone.utc).strftime("%Y-%m-%d") for k in (-1, 2)
    )
    gen = flowgen.OpenLoopPublisher(run.seed, src, staging, LIVE_ROWS_PER_FILE, LIVE_INTERVAL_S, t0, t_end)
    requests: list[tuple[float, float, list[dict]]] = []
    errors: list[str] = []

    def client() -> None:
        run.spark.sparkContext.setJobGroup("dashboard", "dashboard client")
        table = VersionedTable(table_root)
        while time.time() < t_end and table.latest_version() is None:
            time.sleep(0.01)
        while time.time() < t_end:
            a = time.time()
            try:
                payload = run.dashboard(table, day_range, "dashboard")
            except Exception:  # noqa: BLE001 -- a failed request is counted; the client goes on
                errors.append(traceback.format_exc())
                continue
            requests.append((a, time.time(), payload))

    dash = threading.Thread(target=client, name="dashboard-client", daemon=True)
    gen.start()
    dash.start()
    gen.join(run.seconds + 30)
    dash.join(run.seconds + 60)
    if gen.is_alive() or dash.is_alive():
        raise RuntimeError("the generator or the dashboard client did not stop")
    q.processAllAvailable()
    progress = [p for p in q.recentProgress if p.numInputRows]
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"ingest query failed: {q.exception()}")

    # --- correctness gate, outside the measured window ---
    table = VersionedTable(table_root)
    expected = flowgen.Totals()
    expected.merge(history)
    for f in gen.files:
        expected.merge(f.totals)
    fb = file_batches(ckpt)
    run.check_files([f.name for f in gen.files], fb)
    run.check_landing(table, progress, expected)
    # a payload taken while the table grows must equal the dashboard of
    # some prefix of the committed batches: atomic versions, no torn reads
    by_batch: dict[int, flowgen.Totals] = {}
    for f in gen.files:
        by_batch.setdefault(fb.get(f.name, -1), flowgen.Totals()).merge(f.totals)
    acc = flowgen.Totals()
    acc.merge(history)
    prefixes = {canon(acc.payload(*day_range))}
    for b in sorted(by_batch):
        acc.merge(by_batch[b])
        prefixes.add(canon(acc.payload(*day_range)))
    for e in errors:
        run.op(False, f"dashboard request raised:\n{e}")
    for _, _, payload in requests:
        run.check_payload(payload, prefixes, "dashboard")
    run.check_payload(run.dashboard(table, day_range), {canon(expected.payload(*day_range))}, "final")
    late_max = max(gen.late)
    run.op(late_max < LIVE_INTERVAL_S, f"the generator fell behind by {late_max:.3f} s")

    visible = {p.batchId: visible_at(p) for p in progress}
    live_rows = sum(f.totals.rows for f in gen.files)
    fresh = []
    step = LIVE_INTERVAL_S / LIVE_ROWS_PER_FILE
    for f in gen.files:
        vis = visible[fb[f.name]]
        fresh.extend(vis - (f.start + k * step) for k in range(LIVE_ROWS_PER_FILE))
    lat = [b - a for a, b, _ in requests]
    print(f"live: {len(gen.files)} files, {len(visible)} batches, {len(lat)} requests, "
          f"generator late by at most {late_max * 1000:.1f} ms", file=sys.stderr)
    in_window = [p for p in progress if visible_at(p) <= t_end]
    m = Measured(
        metrics={
            "freshness_p50_ms": pct(fresh, 50) * 1000,
            "freshness_p90_ms": pct(fresh, 90) * 1000,
            "dashboard_p50_ms": pct(lat, 50) * 1000,
            "dashboard_p75_ms": pct(lat, 75) * 1000,
            # from the first flow's creation to the last one's visibility:
            # the offered rate while the engine keeps up, less when it lags
            "ingest_rows_per_s": live_rows / (max(visible.values()) - t0),
        },
        window=(t0, t_end),
        progress=in_window,
        first_triggers=[progress[0].durationMs["triggerExecution"]],
        requests=[(a, b) for a, b, _ in requests],
        table_root=table_root,
        src=src,
        late_max_s=late_max,
        rows=live_rows,
        backlog_end_s=visible[fb[gen.files[-1].name]] - gen.files[-1].due,
    )
    if run.tracer.enabled:
        run.tracer.add("ingest", "window", t0, t_end)
        trigger_spans(run.tracer, "ingest", in_window)
        run.tracer.add("dashboard", "window", m.requests[0][0], max(t_end, m.requests[-1][1]))
    return m


def seed_history(run: Run, table_root: str) -> flowgen.Totals:
    """Land the day before the run, ``LIVE_HISTORY_ROWS`` seeded flows,
    in the live table as ``LIVE_HISTORY_FILES`` earlier commits of one
    file each. Returns their totals.

    The flows are mapped to Schema B here, field by field as the
    reference's mapper does, and landed with ``append_rows``: the
    history's own landing is not measured, and this path costs no
    Spark job."""
    from netflow_analysis_with_spark_streaming_spark.schemas import FLOW_NORMALIZED
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import VersionedTable

    now = time.time()
    totals = flowgen.Totals()
    step = 86400 / LIVE_HISTORY_ROWS
    lines = flowgen.FlowGen(run.seed + 1).lines(
        [now - 86400 + k * step for k in range(LIVE_HISTORY_ROWS)], totals
    ).splitlines()
    table = VersionedTable(table_root)
    per_commit = LIVE_HISTORY_ROWS // LIVE_HISTORY_FILES
    for i in range(0, LIVE_HISTORY_ROWS, per_commit):
        rows = []
        for line in lines[i:i + per_commit]:
            r = json.loads(line)
            rows.append((r["ip_src"], r["ip_dst"], r["event_type"], r["packets"], r["bytes"],
                         r["ip_proto"], r["timestamp_start"], r["port_src"], r["port_dst"]))
        table.append_rows(rows, FLOW_NORMALIZED)
    return totals


def prepare_backfill(seed: int) -> tuple[flowgen.Totals, list[str]]:
    d = os.path.join(WORK, "backfill")
    src, staging = os.path.join(d, "in"), os.path.join(d, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    return flowgen.write_backlog(
        seed, src, staging, BACKFILL_FILES, BACKFILL_ROWS_PER_FILE, BACKFILL_T_FROM, BACKFILL_T_TO
    )


def flow_backfill(run: Run, backlog: tuple[flowgen.Totals, list[str]]) -> Measured:
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import VersionedTable

    expected, names = backlog
    d = os.path.join(WORK, "backfill")
    src = os.path.join(d, "in")
    want = {canon(expected.payload(*BACKFILL_RANGE))}
    sc = run.spark.sparkContext

    def drain(root: str, ckpt: str) -> list:
        q = run.path1_query(src, root, ckpt, available_now=True, files_per_trigger=BACKFILL_FILES_PER_TRIGGER)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"backfill query failed: {q.exception()}")
        return [p for p in q.recentProgress if p.numInputRows]

    # The first drain of a JVM runs about 40% slower than the ones after
    # it (code paths still compiling). A backfill job pays that once, so
    # it is set-up: one unmeasured drain, counted in setup_s.
    t = time.perf_counter()
    sc.setJobGroup("ingest", "backfill warm-up")
    drain(os.path.join(d, "warm_table"), os.path.join(d, "warm_ckpt"))
    warm_up_s = time.perf_counter() - t

    drains = []  # (start, end, table root, checkpoint, progress)
    requests = []  # (start, end, payload)
    w0 = time.time()
    while True:
        k = len(drains)
        root, ckpt = os.path.join(d, f"table{k}"), os.path.join(d, f"ckpt{k}")
        sc.setJobGroup("ingest", "backfill drain")
        a = time.time()
        progress = drain(root, ckpt)
        b = time.time()
        drains.append((a, b, root, ckpt, progress))
        run.tracer.add("backfill", "drain", a, b)
        sc.setJobGroup("dashboard", "dashboard client")
        table = VersionedTable(root)
        for _ in range(BACKFILL_REQUESTS_PER_DRAIN):
            qa = time.time()
            payload = run.dashboard(table, BACKFILL_RANGE, "backfill")
            requests.append((qa, time.time(), payload))
        # one more drain only if at least half of one fits in the time left
        cycle = time.time() - a
        if time.time() - w0 + cycle / 2 > run.seconds:
            break
    w1 = time.time()

    fresh = []  # per drain: each file's rows wait from the drain's start until visible
    for a, b, root, ckpt, progress in drains:
        fb = file_batches(ckpt)
        run.check_files(names, fb)
        run.check_landing(VersionedTable(root), progress, expected)
        visible = {p.batchId: visible_at(p) for p in progress}
        fresh.append([visible[fb[name]] - a for name in names])
    for _, _, payload in requests:
        run.check_payload(payload, want, "dashboard")
    lat = [b - a for a, b, _ in requests]
    rates = [expected.rows / (b - a) for a, b, *_ in drains]
    print(f"backfill: {len(drains)} drains at {[round(r) for r in rates]} rows/s, {len(lat)} requests",
          file=sys.stderr)
    last = drains[-1]
    m = Measured(
        metrics={
            "freshness_p50_ms": statistics.median(pct(f, 50) for f in fresh) * 1000,
            "freshness_p90_ms": statistics.median(pct(f, 90) for f in fresh) * 1000,
            "dashboard_p50_ms": pct(lat, 50) * 1000,
            "dashboard_p75_ms": pct(lat, 75) * 1000,
            "ingest_rows_per_s": statistics.median(rates),
        },
        window=(w0, w1),
        progress=[p for *_, ps in drains for p in ps],
        first_triggers=[ps[0].durationMs["triggerExecution"] for *_, ps in drains],
        requests=[(a, b) for a, b, _ in requests],
        table_root=last[2],
        src=src,
        rows=expected.rows,
        backlog_end_s=max(visible_at(p) for p in last[4]) - last[0],
        warm_up_s=warm_up_s,
    )
    if run.tracer.enabled:
        run.tracer.add("backfill", "window", w0, w1)
        trigger_spans(run.tracer, "backfill", m.progress)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("live_ingest_dashboard", "flow_backfill"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG):
        print(f"perfbench: run from the root of a checkout holding {PKG}/", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM's performance-data file would otherwise go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # the engine's default 8g heap is sized for much larger machines
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    live = args.workload == "live_ingest_dashboard"
    # The live workload runs a generator thread and a dashboard thread
    # beside Spark; together they get at most one thread per core.
    cores = max(1, len(os.sched_getaffinity(0)) - (2 if live else 0))
    run = Run(args.seed, args.seconds, bool(args.trace), cores)

    backlog = []
    prep = None
    if not live:
        # the backlog is written while the JVM starts; it is the
        # benchmark's work, not the engine's, so it stays out of setup_s
        prep = threading.Thread(target=lambda: backlog.append(prepare_backfill(args.seed)))
        prep.start()
    try:
        setup_s = run.start_engine()
        if prep is not None:
            prep.join()
            m = flow_backfill(run, backlog[0])
        else:
            m = live_ingest_dashboard(run)
        m.metrics["setup_s"] = setup_s + m.warm_up_s
        if args.trace:
            run.layer("memory.peak_rss_mb", run.peak_rss_mb(), "MB")
            run.layers(m)
    finally:
        if prep is not None:
            prep.join()
        if run.spark is not None:
            run.stop_engine()

    if args.trace:
        run.spark_layers(EventLog(os.path.join(WORK, "eventlog")), m)
        run.span_layers(m)
        for name, unit in END_TO_END.items():
            run.layer(f"traced.{name}", m.metrics[name], unit)
        out = run.per_layer
    else:
        out = {name: (m.metrics[name], unit) for name, unit in END_TO_END.items()}
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
