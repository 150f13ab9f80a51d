"""Benchmark of the anomaly pipeline: detect-stream throughput, live alert
latency, dashboard refreshes, and (traced) offline preprocessing and
training.

    python3 perfbench/run.py --workload detect_drain --seed 1 --seconds 20 --trace 0

Workloads:

- ``detect_drain``: a closed loop drops one 3k-flow file at a time into a
  running detect query, and the next once every row of it is committed and
  the dashboard's panels have been refreshed over the idle sinks; no batch
  waits for input, so this gives the loop's throughput ceiling.
- ``detect_live``: an open-loop generator in its own process offers a fixed
  400 flows/s as one file every 5 s for ``--seconds`` while the dashboard
  refreshes beside every micro-batch; per-batch fixed cost dominates alert
  latency.
- ``offline_pipeline`` (not in BENCHMARK.json): CSV day files -> ETL ->
  20-epoch autoencoder training -> register and promote. A traced run of
  either detect workload runs it too, so every layer is measured there.

Inputs are generated from ``--seed`` before any timed window. Every routed
flow is checked against a numpy reference (see checks.py); any mismatch
makes the run incorrect.

Latency percentiles pool every timed flow of the run, dashboard refresh
times every refresh, and ``setup_s`` is the median of repeated warm
set-ups. ``alert_latency_p99_ms`` is printed on every run and reported
as a per-layer metric, not an end-to-end one (see ``END_TO_END``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a
two-file detect job, then repeats it with spans recorded around every call into the package and
prints the per-layer metrics, the self-time table and the tracing overhead.
The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: live offered load: one file of LIVE_PER_TICK flows every PERIOD_S
#: seconds (400 flows/s). A micro-batch costs ~2.8 s however small it is on
#: a 4-vCPU VM, so a file every 5 s keeps the loop below saturation, and
#: the backlog at zero, even when the host runs 1.7 times slower
PERIOD_S = 5.0
LIVE_PER_TICK = 2000
#: the dashboard refreshes this long after each file lands, so every
#: refresh overlaps a micro-batch; a refresh timed near a batch's end would
#: overlap it in some runs and not in others
LIVE_DASHBOARD_PHASE_S = 0.25
#: live events created in the first WARMUP_S seconds are not timed
WARMUP_S = 2.0
#: a live run whose generator ran later than this at p99 is invalid
LAG_LIMIT_MS = 250.0
#: drain: a closed loop drops one file of DRAIN_PER_TICK flows into a
#: running query's input, and the next once every row of it is committed
#: and the dashboard has refreshed; a file and its refresh take about
#: DRAIN_FILE_S seconds. Back-to-back micro-batches (a backlog of several
#: files) ran 1.5-2.5 times slower on a shared 4-vCPU VM whenever other
#: guests were busy, and spread far wider from run to run than this loop
DRAIN_PER_TICK = 3000
DRAIN_FILE_S = 3.5
SETUP_REPS = 3
#: untimed micro-batches (one file each) and dashboard refreshes before the
#: measured job: the first batch of a new JVM takes 12-15 s (Python
#: workers, code generation, JIT), and the next still runs slow
WARMUP_BATCHES = 2
WARMUP_REFRESHES = 1
#: files of the detect job in a traced run
TRACED_FILES = 2
OFFLINE_ROWS = 3000
MAX_CPUS = 4

WORKLOADS = ("detect_drain", "detect_live", "offline_pipeline")

#: layers whose self time the traced run reports
TRACED_LAYERS = (
    "session",
    "sources",
    "operators.flows_etl",
    "operators.cleaning",
    "operators.aggregations",
    "functions.scalars",
    "ml.pipeline",
    "ml.training",
    "ml.registry",
    "streaming.pipeline",
    "dashboard",
)


def _isolate(work: str) -> None:
    """Keep every file the engine writes inside the work directory and let
    the engine's Python workers import the package from the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # one BLAS thread per process: the engine's Python workers score side by
    # side, and BLAS threads of their own would outnumber the cores
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs or a disk fs)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype


def _peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / max(sum(d[:8]), 1)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        _isolate(self.work)
        from spans import Tracer

        self.cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.metrics: dict[str, tuple] = {}  # name -> (value, unit, n, note)
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, int] = {}
        self.spark = None
        self.t_start = time.perf_counter()
        self.host = {
            "nproc": os.cpu_count(),
            "cpus_used": self.cpus,
            "loadavg_start": os.getloadavg(),
            "cpu_times_start": _cpu_times(),
            "shuffle_scratch": f"{os.environ['SPARK_LOCAL_DIRS']} ({_fs_type(self.work)})",
            "phases_s": {},
        }

    # -- bookkeeping -------------------------------------------------------

    def put(self, name, value, unit, n=1, note=""):
        self.metrics[name] = (float(value), unit, n, note)

    def account(self, what: str, attempted: int, failures: dict[str, int]) -> None:
        self.attempted += attempted
        for k, v in failures.items():
            if v:
                self.failures[f"{what}.{k}"] = self.failures.get(f"{what}.{k}", 0) + v
                self.failed += v

    def mark(self, phase: str) -> None:
        """Seconds since the run started at the end of ``phase``."""
        self.host["phases_s"][phase] = round(time.perf_counter() - self.t_start, 2)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # -- session / registry -----------------------------------------------

    def new_session(self, cpus=None):
        from end_to_end_data_engineering_and_ml_system_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            spark = get_spark(
                app_name="perfbench",
                cpus=cpus or self.cpus,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # a heap committed up front makes the JVM's resident
                    # size independent of when the collector chose to grow it
                    "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={self.path('tmp')}",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.e2e.scratchDir": self.path("scratch"),
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def register_detector(self, model) -> None:
        """Registers and promotes the seeded detector before any timing."""
        from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
            ModelRegistry,
            Tracker,
        )
        from detect_loop import MODEL_NAME

        tracker = Tracker(self.path("registry", "tracking"))
        run = tracker.start_run("detector_from_benign_sample")
        run.log_artifact("model.json", model.to_artifact())
        run.end()
        reg = ModelRegistry(self.path("registry", "models"))
        reg.transition(MODEL_NAME, reg.register(MODEL_NAME, run, "model.json"), "Production")

    def setup_once(self, cold: bool) -> dict:
        """Session start, model load from the registry, stream start: the
        time until the detector can accept its first event."""
        from detect_loop import Detector, load_model, start_stream, wait_ready

        if not cold:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.new_session()
        t1 = time.perf_counter()
        with self.tracer.span("ml.registry.load_artifact"):
            model = load_model(self.path("registry", "models"))
        t2 = time.perf_counter()
        empty = self.path("setup_in")
        os.makedirs(empty, exist_ok=True)
        det = Detector(model, self.path("setup_sinks"), self.tracer)
        q = start_stream(self.spark, empty, self.path("ck", f"setup_{time.time_ns()}"), det.process)
        wait_ready(q)
        t3 = time.perf_counter()
        q.stop()
        return {"setup": t3 - t0, "session": t1 - t0, "registry": t2 - t1, "model": model}

    def setup(self) -> object:
        cold = self.setup_once(cold=True)
        warm = [self.setup_once(cold=False) for _ in range(SETUP_REPS)]
        self.put("setup_s", _median([w["setup"] for w in warm]), "s", len(warm),
                 "median of warm set-ups: session + registry load + stream start")
        self.put("setup_cold_s", cold["setup"], "s", 1, "first set-up, JVM launch included")
        self.put("session.start_s", _median([w["session"] for w in warm]), "s", len(warm))
        self.put("session.cold_start_s", cold["session"], "s", 1)
        self.put("ml.registry.load_s", _median([w["registry"] for w in warm]), "s", len(warm))
        return warm[-1]["model"]

    # -- detect jobs ------------------------------------------------------

    def drain(self, model, events, name: str, files_per_trigger: int) -> dict:
        """Drains ``events`` (pre-placed files) with an availableNow trigger."""
        from flowgen import write_tick_files
        from detect_loop import Detector, start_stream
        from end_to_end_data_engineering_and_ml_system_spark.streaming.observability import (
            capture_progress,
        )

        in_dir = self.path(name, "in")
        os.makedirs(in_dir)
        write_tick_files(events, in_dir)
        det = Detector(model, self.path(name, "sinks"), self.tracer)
        with capture_progress(self.spark) as cap:
            t_start = time.time()
            q = start_stream(self.spark, in_dir, self.path(name, "ck"), det.process,
                             files_per_trigger=files_per_trigger, available_now=True)
            ok = self._await(q, 150)
            t_end = time.time()
            progress = self._progress(q, cap, events.total)
        return {"det": det, "dash": None, "ok": ok, "progress": progress,
                "t_start": t_start, "t_end": t_end}

    def backlog(self, model, events, name: str) -> dict:
        """Closed loop: drops one file of ``events`` at a time into a running
        query's input, waits until every row of it is committed, then
        refreshes the dashboard over the sinks, which no write touches then
        (the live workload refreshes beside writes), and drops the next."""
        from flowgen import write_tick_files
        from loadgen import move_tick
        from detect_loop import Dashboard, Detector, start_stream, wait_ready
        from end_to_end_data_engineering_and_ml_system_spark.streaming.observability import (
            capture_progress,
        )

        pending, in_dir = self.path(name, "pending"), self.path(name, "in")
        os.makedirs(pending)
        os.makedirs(in_dir)
        write_tick_files(events, pending)
        det = Detector(model, self.path(name, "sinks"), self.tracer)
        drops, ok, lines = [], True, 0
        with capture_progress(self.spark) as cap:
            q = start_stream(self.spark, in_dir, self.path(name, "ck"), det.process)
            wait_ready(q)
            dash = Dashboard(self.spark, det.sink_root, 0.0, 1.0, self.tracer)
            for k, tick in enumerate(events.ticks):
                drops.append(time.time())
                move_tick(pending, in_dir, k)
                lines += len(tick)
                ok = ok and self._wait_rows(q, cap, lines, 60, det.errors)
                dash.attempted += 1
                try:
                    dash.refresh()
                except Exception:
                    dash.failed += 1
                    traceback.print_exc(file=sys.stderr)
            progress = self._progress(q, cap, events.total)
            q.stop()
        ends = drops[1:] + [math.inf]
        return {"det": det, "dash": dash, "ok": ok and q.exception() is None,
                "progress": progress, "created": lambda tick: drops[tick],
                "gen_end": drops[-1], "lags": [],
                "windows": [([k], lo, hi) for k, (lo, hi) in enumerate(zip(drops, ends))]}

    def live(self, model, events, name: str) -> dict:
        """Feeds ``events`` through the loadgen process at a fixed rate."""
        from flowgen import write_tick_files
        from detect_loop import Dashboard, Detector, start_stream, wait_ready
        from end_to_end_data_engineering_and_ml_system_spark.streaming.observability import (
            capture_progress,
        )

        pending, in_dir = self.path(name, "pending"), self.path(name, "in")
        os.makedirs(pending)
        os.makedirs(in_dir)
        write_tick_files(events, pending)
        det = Detector(model, self.path(name, "sinks"), self.tracer)
        log = self.path(name, "loadgen.json")
        ticks = len(events.ticks)
        with capture_progress(self.spark) as cap:
            q = start_stream(self.spark, in_dir, self.path(name, "ck"), det.process)
            wait_ready(q)
            t0 = time.time() + 0.2
            dash = Dashboard(self.spark, det.sink_root, t0 + LIVE_DASHBOARD_PHASE_S, PERIOD_S,
                             self.tracer)
            dash.start()
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "loadgen.py"), "--pending", pending,
                 "--dest", in_dir, "--t0", repr(t0), "--period", str(PERIOD_S),
                 "--ticks", str(ticks), "--log", log],
            )
            try:
                gen.wait(timeout=ticks * PERIOD_S + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            ok = gen.returncode == 0
            progress = self._progress(q, cap, events.total, timeout_s=60) if ok else []
            q.stop()
            dash.stop()
        with open(log) as f:
            lag = json.load(f)
        # one window: every timed file and every refresh due beside them
        timed = list(range(math.ceil(WARMUP_S / PERIOD_S), ticks))
        return {"det": det, "dash": dash, "ok": ok and q.exception() is None,
                "progress": progress, "created": lambda tick: t0 + tick * PERIOD_S,
                "gen_end": lag["end"], "lags": lag["lags_s"],
                "windows": [(timed, t0 + timed[0] * PERIOD_S, math.inf)]}

    @staticmethod
    def _await(q, timeout_s) -> bool:
        if not q.awaitTermination(timeout_s):
            q.stop()
            return False
        return q.exception() is None

    @staticmethod
    def _wait_rows(q, cap, total_rows: int, timeout_s: float, errors=()) -> bool:
        """Waits until the query's finished batches have read ``total_rows``
        input rows; False on timeout or once ``errors`` is not empty."""
        deadline = time.monotonic() + timeout_s
        while sum(m.num_input_rows for m in cap.for_query(q.id)) < total_rows:
            if time.monotonic() > deadline or errors:
                return False
            time.sleep(0.01)
        return True

    @classmethod
    def _progress(cls, q, cap, total_rows: int, timeout_s: float = 30.0) -> list[dict]:
        """Progress of the query's data batches, once every input row is in:
        the listener's batch records joined to the query's own durations."""
        cls._wait_rows(q, cap, total_rows, timeout_s)
        got = [m for m in cap.for_query(q.id) if m.num_input_rows]
        durations = {p["batchId"]: p["durationMs"] for p in q.recentProgress}
        return [
            {"batch_id": m.batch_id, "rows": m.num_input_rows,
             "trigger_ms": m.batch_duration_ms, "durations": durations.get(m.batch_id, {})}
            for m in got
        ]

    def judge(self, model, events, job: dict, what: str):
        """Checks a detect job's sinks; returns the rows read back."""
        from checks import check_routes
        from detect_loop import read_sinks

        if not job["ok"]:
            self.account(what, 1, {"query_failed": 1})
            for e in job["det"].errors:
                print(e, file=sys.stderr)
        rows = read_sinks(job["det"].sink_root)
        res = check_routes(model, events.event_ids, events.features, events.malformed,
                           rows["event_id"], rows["anomaly_score"], rows["prediction"],
                           rows["sink"], rows["dlq_rows"])
        self.account(what, res.attempted, res.failures)
        dash = job["dash"]
        if dash is not None:
            self.account(what, dash.attempted, {"dashboard_refresh": dash.failed})
        return rows

    def job_metrics(self, events, job: dict, rows: dict, mode: str) -> None:
        """End-to-end and streaming metrics of one measured detect job.

        The job's windows are spans of files, each from its first file's
        creation to its last commit: every timed live file in one window,
        and one window per drain file. Latency percentiles pool the
        windows' flows; throughput is the median over windows of flows per
        second of span, so a drain's dashboard refreshes between files do
        not count and one file slowed by the host moves it little."""
        from flowgen import TICK_STRIDE
        from spans import percentile, tail

        det, dash = job["det"], job["dash"]
        commits = {b["batch_id"]: b["commit"] for b in det.batches}
        ticks = rows["event_id"] // TICK_STRIDE
        commit = np.array([commits[b][s] for b, s in zip(rows["batch"], rows["sink"])])
        created = np.array([job["created"](t) for t in ticks])
        timed = np.zeros(len(ticks), dtype=bool)
        fps, refresh = [], []
        for win, lo, hi in job["windows"]:
            in_win = np.isin(ticks, win)
            timed |= in_win
            fps.append(in_win.sum() / (commit[in_win].max() - job["created"](min(win))))
            refresh += [ms for at, ms in zip(dash.refresh_at, dash.refresh_ms) if lo <= at < hi]
        lat_ms = ((commit - created) * 1000.0)[timed]
        n_lat = len(lat_ms)
        self.put("alert_latency_p50_ms", percentile(lat_ms, 50), "ms", n_lat,
                 "creation -> commit of the routed row")
        label, v = tail(lat_ms, 99.0)
        self.put("alert_latency_p99_ms", v, "ms", n_lat, label)
        self.put("throughput_fps", _median(fps), "1/s", n_lat,
                 f"median of {len(fps)} windows")
        self.put("dashboard_refresh_p50_ms", _median(refresh), "ms", len(refresh))

        prog, batches, routed = job["progress"], det.batches, len(rows["event_id"])
        # files that arrived before the last one but were still not
        # committed when it arrived
        tick_commit = {}
        for t, c in zip(ticks, commit):
            tick_commit[t] = max(c, tick_commit.get(t, 0.0))
        backlog = sum(
            1 for t, c in tick_commit.items()
            if c > job["gen_end"] and job["created"](t) + PERIOD_S / 2 < job["gen_end"]
        )

        nb = len(prog)
        trig = [p["trigger_ms"] for p in prog]
        self.put("streaming.batches", nb, "count", nb)
        self.put("streaming.rows_per_batch_p50", _median([p["rows"] for p in prog]), "count", nb)
        self.put("streaming.trigger_ms_p50", _median(trig), "ms", nb)
        label, v = tail(trig, 99.0)
        self.put("streaming.trigger_ms_p99", v, "ms", nb, label)
        self.put("streaming.source_list_ms_p50",
                 _median([p["durations"].get("latestOffset", 0) for p in prog]), "ms", nb)
        self.put("streaming.commit_ms_p50",
                 _median([p["durations"].get("walCommit", 0) + p["durations"].get("commitOffsets", 0)
                          for p in prog]), "ms", nb)
        self.put("streaming.plan_build_ms_p50", _median([b["plan_ms"] for b in batches]),
                 "ms", len(batches), "DataFrame construction in foreachBatch")
        self.put("streaming.decode_ok_ratio", routed / max(sum(p["rows"] for p in prog), 1),
                 "ratio", nb)
        self.put("streaming.backlog_files_end", backlog, "count", 1,
                 "earlier files still uncommitted when the last file arrived")
        writes = [ms for b in batches for ms in b["write_ms"].values()]
        self.put("sources.sink_write_ms_p50", _median(writes), "ms", len(writes))
        self.put("sources.files_written", sum(b["files"] for b in batches), "count", len(batches))
        for p, ms in dash.panel_ms.items():
            self.put(f"operators.aggregations.{p}_ms_p50", _median(ms), "ms", len(ms))
        lags = [x * 1000.0 for x in job["lags"]]
        label, v = tail(lags or [0.0], 99.0)
        self.put("loadgen.lag_p99_ms", v, "ms", len(lags), label)
        self.put("loadgen.flows", events.total, "count", 1)
        self.put("loadgen.malformed", events.malformed, "count", 1)
        if mode == "live":
            late = v > LAG_LIMIT_MS
            self.host["generator_lag_p99_ms"] = v
            self.host["valid"] = not late
            self.account("loadgen", 1, {"generator_late": int(late)})

    def detect(self, mode: str) -> None:
        from flowgen import flow_events, reference_model

        seed, seconds = self.args.seed, self.args.seconds
        model = reference_model(seed)
        warm_events = flow_events(seed, 0, n_ticks=WARMUP_BATCHES, per_tick=1000)
        if mode == "drain":
            n_ticks, per_tick = max(3, round(seconds / DRAIN_FILE_S)), DRAIN_PER_TICK
        else:
            n_ticks, per_tick = int(seconds / PERIOD_S), LIVE_PER_TICK
        if self.args.trace:
            # a traced run reports no end-to-end metric and runs its job
            # twice, so it keeps to a few files to end within 180 s
            n_ticks = min(n_ticks, TRACED_FILES)
        events = flow_events(seed, 10, n_ticks=n_ticks, per_tick=per_tick)
        self.register_detector(model)
        self.mark("inputs")

        model = self.setup()
        self.mark("setup")
        # warm-up: JIT, Python workers and the dashboard's plans, untimed
        warm = self.drain(model, warm_events, "warmup", 1)
        self.judge(model, warm_events, warm, "warmup")
        self.host["warmup_trigger_ms"] = [p["trigger_ms"] for p in warm["progress"]]
        from detect_loop import Dashboard

        warm_dash = Dashboard(self.spark, warm["det"].sink_root, 0.0, 1.0, self.tracer)
        for _ in range(WARMUP_REFRESHES):
            warm_dash.refresh()
        self.mark("warmup")

        def measured(events, name):
            if mode == "drain":
                job = self.backlog(model, events, name)
            else:
                job = self.live(model, events, name)
            return events, job, self.judge(model, events, job, name)

        # the measured job runs untraced; a traced run repeats it afterwards
        self.tracer.enabled = False
        untraced = measured(events, "measured")
        self.job_metrics(*untraced, mode)
        self.mark("measured")
        if self.args.trace:
            self.tracer.enabled = True
            busy = sum(p["trigger_ms"] for p in untraced[1]["progress"])
            traced = measured(events, "traced")
            self.job_metrics(*traced, mode)
            busy_traced = sum(p["trigger_ms"] for p in traced[1]["progress"])
            self.put("trace.overhead_pct", 100.0 * (busy_traced - busy) / busy, "%", 2,
                     "micro-batch busy time, traced job vs untraced")
            self.traced_extras(model)

    # -- traced extras ----------------------------------------------------

    def traced_extras(self, model) -> None:
        from flowgen import benign_sample, flow_events

        scores = [
            (b["end"] - b["start"]) * 1000.0
            for b in self.tracer.spans if b["name"] == "ml.pipeline.score_materialize"
        ]
        self.put("ml.pipeline.score_ms_p50", _median(scores), "ms", len(scores))

        # the package's standardizer fit on the detector's benign sample
        self.standardizer_fit(model, benign_sample(self.args.seed))
        self.offline()

        # single-threaded baseline on a small backlog, last, so the run
        # ends in the local[1] session instead of starting a third one
        self.tracer.enabled = False
        small = flow_events(self.args.seed, 2, n_ticks=2, per_tick=1000)
        t4 = self._timed_drain(model, small, "speed_4")
        self.spark.stop()
        self.spark = self.new_session(cpus=1)
        warm = flow_events(self.args.seed, 3, n_ticks=1, per_tick=500)
        self._timed_drain(model, warm, "speed_1_warmup")  # Python workers, untimed
        t1 = self._timed_drain(model, small, "speed_1")
        self.put("streaming.speedup_vs_1core", t1 / t4, "ratio", 1,
                 f"drain time local[1] / local[{self.cpus}]")

    def _timed_drain(self, model, events, name) -> float:
        job = self.drain(model, events, name, 2)
        self.judge(model, events, job, name)
        return job["t_end"] - job["t_start"]

    def standardizer_fit(self, model, sample) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import fit_standardizer
        from end_to_end_data_engineering_and_ml_system_spark.streaming.schemas import MODEL_FEATURES

        path = self.path("benign_sample.parquet")
        pq.write_table(pa.table({c: sample[:, i] for i, c in enumerate(MODEL_FEATURES)}), path)
        df = self.spark.read.parquet(path)
        t0 = time.perf_counter()
        with self.tracer.span("ml.pipeline.fit_standardizer"):
            row = fit_standardizer(df, MODEL_FEATURES).first()
        self.put("ml.pipeline.standardizer_fit_s", time.perf_counter() - t0, "s", 1,
                 f"{len(sample)} rows x {len(MODEL_FEATURES)} features")
        got = np.array([[row[f"mean_{c}"], row[f"std_{c}"]] for c in MODEL_FEATURES])
        want = np.column_stack([model.mean, model.std])
        self.account("standardizer", 1, {"stats_mismatch": int(not np.allclose(got, want, rtol=1e-9))})

    # -- offline ----------------------------------------------------------

    def offline(self) -> None:
        from flowgen import raw_days
        from offline import run_offline

        days = raw_days(self.args.seed, OFFLINE_ROWS)
        csv_dir = self.path("csv")
        os.makedirs(csv_dir)
        for k, text in enumerate(days.files):
            with open(os.path.join(csv_dir, f"day_{k}.csv"), "w") as f:
                f.write(text)
        out = run_offline(self.spark, csv_dir, self.path("offline"), self.path("offline_registry"),
                          days.truth, self.tracer, self.args.seed)
        chk = out["check"]
        self.account("offline", chk.attempted, chk.failures)
        self.put("preprocess_s", out["preprocess_s"], "s", 1, f"{days.truth['total']} raw rows")
        self.put("train_s", out["train_s"], "s", 1, "20 epochs + stats + register")
        self.put("offline.preprocess_s", out["preprocess_s"], "s", 1)
        self.put("offline.train_s", out["train_s"], "s", 1)
        for k in ("sources.csv_read_s", "operators.flows_etl.plan_s", "operators.flows_etl.exec_s",
                  "ml.training.stats_s", "ml.registry.register_s"):
            self.put(k, out[k], "s", 1)
        self.put("sources.csv_bytes", out["sources.csv_bytes"], "bytes", len(days.files))
        self.put("ml.training.epoch_s_p50", _median(out["ml.training.epoch_s"]), "s",
                 len(out["ml.training.epoch_s"]))
        self.put("ml.training.loss_drop_ratio", out["ml.training.loss_drop_ratio"], "ratio", 1,
                 "last epoch loss / first")
        kept = out["rows_train"] + out["rows_eval"]
        rows_in = out.get("rows_in", days.truth["total"])
        self.put("operators.flows_etl.rows_in", rows_in, "count")
        self.put("operators.flows_etl.rows_deduped", out.get("rows_deduped", days.truth["distinct"]), "count")
        self.put("operators.flows_etl.rows_null_dropped",
                 out.get("rows_deduped", days.truth["distinct"]) - kept, "count")
        self.put("operators.flows_etl.rows_train", out["rows_train"], "count")
        self.put("operators.flows_etl.rows_eval", out["rows_eval"], "count")
        self.put("operators.flows_etl.rows_kept_ratio", kept / rows_in, "ratio")

    def offline_workload(self) -> None:
        """Set-up (session + registry load) and one offline run."""
        from detect_loop import load_model
        from flowgen import reference_model

        self.register_detector(reference_model(self.args.seed))
        setups, sessions = [], []
        for rep in range(SETUP_REPS + 1):
            if rep:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.new_session()
            sessions.append(time.perf_counter() - t0)
            load_model(self.path("registry", "models"))
            setups.append(time.perf_counter() - t0)
        self.put("setup_s", _median(setups[1:]), "s", SETUP_REPS, "median of warm set-ups")
        self.put("session.cold_start_s", sessions[0], "s", 1)
        self.put("session.start_s", _median(sessions[1:]), "s", SETUP_REPS)
        self.offline()

    # -- run --------------------------------------------------------------

    def run(self) -> None:
        try:
            if self.args.workload == "offline_pipeline":
                self.offline_workload()
            else:
                self.detect("drain" if self.args.workload == "detect_drain" else "live")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.account("run", 1, {"exception": 1})
        finally:
            self.host["loadavg_end"] = os.getloadavg()
            self.host["steal_pct"] = _steal_pct(self.host.pop("cpu_times_start"), _cpu_times())
            self.shutdown()
            self.mark("end")

    def shutdown(self) -> None:
        """Stops the session and the JVM, and waits for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        jvm_pid = gw.proc.pid if gw is not None and gw.proc is not None else None
        if jvm_pid:
            self.put("peak_rss_mb", _peak_rss_mb([os.getpid(), jvm_pid]), "MB", 1,
                     "driver Python + JVM high-water mark")
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            if gw.proc is not None:
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


END_TO_END = {
    # alert_latency_p99_ms is a per-layer reading: a run's p99 is its slowest
    # micro-batch, which spread 20-24% IQR/median over ten runs on a shared
    # 4-vCPU VM, too close to the 25% bound to gate on
    "detect": ("setup_s", "throughput_fps", "alert_latency_p50_ms",
               "dashboard_refresh_p50_ms", "peak_rss_mb"),
    "offline": ("setup_s", "preprocess_s", "train_s", "peak_rss_mb"),
}


def _per_layer_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def main() -> int:
    p = argparse.ArgumentParser(description="anomaly-pipeline benchmark")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seconds < 2:
        p.error("--seconds must be at least 2")

    sys.path.insert(0, ROOT)
    try:
        import end_to_end_data_engineering_and_ml_system_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2

    bench = Bench(args)
    bench.run()

    from spans import self_times

    kind = "offline" if args.workload == "offline_pipeline" else "detect"
    if args.trace:
        table = self_times(bench.tracer.spans)
        for layer in TRACED_LAYERS:
            bench.put(f"self_s.{layer}", table.get(layer, {}).get("self_s", 0.0), "s",
                      table.get(layer, {}).get("calls", 0))
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK_ROOT, "traces", f"{bench.tracer.run_id}.json")
        bench.tracer.write(trace_path)
        print(f"# per-layer self time (trace {trace_path})")
        print(f"{'layer':<28}{'calls':>7}{'total_s':>11}{'self_s':>11}")
        for layer, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{layer:<28}{r['calls']:>7}{r['total_s']:>11.3f}{r['self_s']:>11.3f}")
        wanted = _per_layer_names() if kind == "detect" else [
            n for n in bench.metrics if n not in END_TO_END[kind]]
    else:
        wanted = list(END_TO_END[kind])

    print(f"# host: {json.dumps(bench.host)}")
    print(f"# {'metric':<44}{'value':>14}  {'unit':<7}{'n':>7}  note")
    for name, (value, unit, n, note) in bench.metrics.items():
        print(f"  {name:<44}{value:>14.4f}  {unit:<7}{n:>7}  {note}")
    err = bench.failed / max(bench.attempted, 1)
    print(f"  {'error_rate':<44}{err:>14.6f}  {'ratio':<7}{bench.attempted:>7}  {bench.failures}")

    missing = [n for n in wanted if n not in bench.metrics]
    if missing:
        print(f"# missing metrics: {missing}", file=sys.stderr)
        bench.account("report", 1, {"missing_metric": len(missing)})
    shutil.rmtree(bench.work, ignore_errors=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed,
        "metrics": {
            n: {"value": bench.metrics[n][0], "unit": bench.metrics[n][1]}
            for n in wanted if n in bench.metrics
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
