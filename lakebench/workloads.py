"""The benchmark's workloads: ``dashboard``, ``medallion`` and ``ingest``.

Each workload function takes a :class:`Run` (seed, measured seconds,
tracer, temp root) and returns a :class:`Outcome`.  Every workload has the
same phases: inputs are generated from the seed (not timed); set-up starts
the Spark session and runs one cold warm-up iteration (``setup_s``); the
measured window runs for ``--seconds`` seconds in whole rounds or runs
(at least four dashboard rounds and one incremental run); correctness is
checked outside the window, against DuckDB over the same generated inputs.  See ``README.md`` for why each
workload exists and which layer each metric belongs to.
"""

from __future__ import annotations

import contextlib
import glob
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from lakebench import checks, datagen

#: The analyst mix: Gold-consumer queries read through the dashboard and
#: reports.  None of them materializes or memoizes anything on disk.
DASHBOARD_QUERIES = [
    "dashboard_summary",
    "medallion_gold_daily_fact",
    "medallion_ml_features",
    "window_rank_dense_ntile",
    "rollup_aggregation",
    "percentile_quantiles",
]
#: One round of the dashboard: the mix with ``dashboard_summary``, the
#: landing page and the mix's one heavy query (1.2 to 2.3 s within one run,
#: the others 0.3 to 1 s), read twice.  Read once, it filled only the top
#: sixth of the latencies, so the p90 was the second-fastest of its five
#: runs (in five rounds) and spread by 26% over five seeds.  Read twice, it
#: fills the top 2/7, and the p90 falls in the upper half of its runs; with
#: three rounds (six runs of it) the p90 still spread by up to 25%.
DASHBOARD_MIX = DASHBOARD_QUERIES + ["dashboard_summary"]
#: Measured rounds per run, at least; they take longer than any --seconds
#: the benchmark is run with, so every run times the same 28 queries.
MIN_ROUNDS = 4
#: Registry modules whose rows write under the program's scratch directory.
SIDE_EFFECT_MODULES = ("io_paths", "streaming_q")

#: Arrivals per measured incremental medallion run (15 days of events each).
ARRIVALS = 2
#: The medallion warm-up's input: the same tables with 2 days of events and
#: 1% of sf0.1's fact rows.  A full rebuild of it runs every layer's code
#: cold at about two thirds of the time a cold rebuild of the measured input
#: takes.
WARMUP_EVENT_DAYS = 2
WARMUP_FACT_SHARE = 0.01

#: Ingest load: one file every PERIOD_S seconds, EVENTS_PER_FILE on average.
PERIOD_S = 0.05
EVENTS_PER_FILE = 100
#: Warm-up: micro-batches keep getting faster over a fresh stream's first
#: dozen batches.  Published on the measured schedule, the first, cold
#: batches take seconds and gather tens of files, so a fixed number of files
#: gave from 13 to 30 batches.  The warm-up therefore publishes in closed
#: loop, WARMUP_FILES_PER_BATCH files (a measured batch's worth) once the
#: batch before has been committed, for WARMUP_BATCHES batches.
WARMUP_BATCHES = 15
WARMUP_FILES_PER_BATCH = 8


@dataclass
class Run:
    root: str
    tmp: str
    seed: int
    seconds: float
    tracer: object
    #: the Spark session, once started (the caller stops it)
    spark: object = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    throughput_per_s: float = 0.0
    #: workload-specific figures for the human-readable report
    report: dict = field(default_factory=dict)
    #: per-layer figures gathered by the traced run
    layers: dict = field(default_factory=dict)
    checks: list[dict] = field(default_factory=list)


# ---- shared helpers --------------------------------------------------------


def start_session(run: Run):
    from bakery_big_data_spark import session

    with run.tracer.span("session.get_spark"):
        run.spark = session.get_spark("lakebench")
    run.spark.sparkContext.setLogLevel("ERROR")
    return run.spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def group_stats(run: Run, spark, group: str) -> dict:
    """Exact job, stage and task counts of one job group (traced run)."""
    t0 = time.perf_counter()
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info is not None else []):
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks == 0:
                continue  # skipped (reused shuffle output) or evicted
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    run.tracer.charge(time.perf_counter() - t0)
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed": failed}


def set_group(run: Run, spark, group: str) -> None:
    if run.tracer.enabled:
        spark.sparkContext.setJobGroup(group, group)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _log_failure(what: str) -> None:
    print(f"lakebench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _record_checks(out: Outcome, results: list[dict]) -> bool:
    out.checks.extend(results)
    bad = [r for r in results if not r["ok"]]
    for r in bad:
        print(f"lakebench: INCORRECT {r}", file=sys.stderr)
    return not bad


def trace_program(run: Run) -> None:
    """Wrap the program's public entry points for the traced run."""
    tr = run.tracer
    if not tr.enabled:
        return
    from pyspark.sql import DataFrameWriter

    from bakery_big_data_spark.operators.cache import PlanCache
    from bakery_big_data_spark.pipeline import medallion
    from bakery_big_data_spark.sources import sinks, snapshots, tables

    pkg = "bakery_big_data_spark"
    tr.wrap_everywhere(tables.load_table, "sources.load_table", pkg)
    tr.wrap_everywhere(sinks.overwrite_partitions, "sources.overwrite_partitions", pkg)
    tr.wrap_everywhere(snapshots.write_snapshot, "sources.write_snapshot", pkg)
    tr.wrap_everywhere(medallion.apply_medallion_arrival,
                       "pipeline.medallion.apply_medallion_arrival", pkg)

    get_or_build = PlanCache.get_or_build

    def traced_get_or_build(self, spark, key, build):
        built = []

        def traced_build():
            with tr.span("cache.build"):
                value = build()
            built.append(True)
            return value

        with tr.span("cache.get_or_build") as rec:
            value = get_or_build(self, spark, key, traced_build)
            rec["hit"] = not built
        return value

    tr.patch(PlanCache, "get_or_build", traced_get_or_build)

    parquet = DataFrameWriter.parquet

    def traced_parquet(self, path, *args, **kwargs):
        parts = os.path.normpath(path).split(os.sep)
        table = parts[-2] if parts[-1].startswith(("v=", "batch_id=")) else parts[-1]
        with tr.span(f"spark.write.{table}"):
            return parquet(self, path, *args, **kwargs)

    tr.patch(DataFrameWriter, "parquet", traced_parquet)


def common_layers(run: Run) -> dict:
    """Per-layer figures every traced workload reports."""
    tr = run.tracer
    calls = tr.window("cache.get_or_build")
    layers = {
        "session.get_spark_s": median(
            [s["end"] - s["start"] for s in tr.spans if s["name"] == "session.get_spark"]),
        "cache.calls": len(calls),
        "cache.hit_ratio": sum(s["hit"] for s in calls) / len(calls) if calls else 0.0,
        "cache.build_s": sum(tr.durations("cache.build")),
        "sources.load_table_calls": len(tr.durations("sources.load_table")),
        "sources.write_s": sum(tr.durations("sources.overwrite_partitions"))
        + sum(tr.durations("sources.write_snapshot")),
        "sources.snapshot_commit_s": sum(tr.durations("sources.write_snapshot")),
    }
    for layer, secs in tr.self_time_by_layer().items():
        layers[f"self_s.{layer}"] = secs
    return layers


# ---- dashboard -------------------------------------------------------------


def scratch_root() -> str:
    """The directory the side-effect registry rows write under, as the
    program itself names it."""
    from bakery_big_data_spark.plans import io_paths

    return os.path.dirname(io_paths._SCRATCH)


def tree_state(path: str) -> list[tuple]:
    """(path, size, mtime) of every entry under ``path``; empty if absent."""
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            p = os.path.join(dirpath, name)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out.append((p, st.st_size, st.st_mtime_ns))
    if os.path.lexists(path):
        out.append((path, 0, 0))
    return sorted(out)


def check_side_effect_free(names: list[str]) -> None:
    """Refuse a query mix that contains a row known to write to disk."""
    from bakery_big_data_spark.plans import REGISTRY

    for name in names:
        build = REGISTRY[name].build
        fn = inspect.getclosurevars(build).nonlocals.get("fn", build)
        module = fn.__module__.rsplit(".", 1)[-1]
        if (name.endswith("_parity") or "dedup_gate" in name
                or module in SIDE_EFFECT_MODULES or ".scratch" in inspect.getsource(fn)):
            raise ValueError(f"dashboard mix includes side-effecting row {name}")


def dashboard(run: Run) -> Outcome:
    out = Outcome()
    tr = run.tracer
    data = os.path.join(run.tmp, "data")
    tables = datagen.write_tables(run.seed, data)
    rounds = datagen.query_order(run.seed, DASHBOARD_MIX, rounds=256)
    con = checks.duck_connect(data, tables)

    t_setup = time.perf_counter()
    from bakery_big_data_spark.plans import REGISTRY
    from tests.oracle import compare

    check_side_effect_free(DASHBOARD_QUERIES)
    scratch = scratch_root()
    scratch_before = tree_state(scratch)
    spark = start_session(run)
    trace_program(run)
    # warm-up round: every query built and collected once, cold, and its
    # rows compared with the query's DuckDB oracle (the oracle's few
    # milliseconds per query stay in setup_s).  The queries run on one
    # thread each, so first-use compilation overlaps across queries.
    def warm(name: str) -> bool:
        query = REGISTRY[name]
        try:
            compare(query.build(spark, data), con.cursor(), query.oracle)
            return True
        except Exception:
            _log_failure(f"warm-up query {name} (oracle comparison)")
            return False

    first = list(dict.fromkeys(rounds[0]))
    with ThreadPoolExecutor(max_workers=len(first)) as pool:
        for name, ok in zip(first, pool.map(warm, first)):
            out.attempted += 1
            out.checks.append({"layer": name, "ok": ok})
            if not ok:
                out.correct = False
                out.failed += 1
    out.setup_s = time.perf_counter() - t_setup

    stats = []
    tr.start_window()
    t_start = time.perf_counter()
    n_rounds = 0
    while n_rounds < MIN_ROUNDS or time.perf_counter() - t_start < run.seconds:
        for name in rounds[1 + n_rounds % (len(rounds) - 1)]:
            query = REGISTRY[name]
            group = f"q{out.attempted}.{name}"
            set_group(run, spark, group)
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.operation(f"workload.query.{name}"):
                    with tr.span("plans.build"):
                        df = query.build(spark, data)
                    with tr.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
                out.latencies.append(time.perf_counter() - t0)
            except Exception:
                _log_failure(f"query {name}")
                out.failed += 1
            if tr.enabled:
                stats.append(group_stats(run, spark, group))
        n_rounds += 1
    elapsed = time.perf_counter() - t_start
    out.throughput_per_s = len(out.latencies) / elapsed

    if tree_state(scratch) != scratch_before:
        print(f"lakebench: ERROR: the dashboard run changed {scratch}", file=sys.stderr)
        out.correct = False
        out.failed += 1

    lat = sorted(out.latencies)
    out.report = {
        "query_p50_s": (percentile(lat, 50), "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "dashboard_qps": (out.throughput_per_s, "1/s"),
        "queries_timed": (len(lat), "count"),
        "rounds": (n_rounds, "count"),
    }
    if tr.enabled:
        n = max(len(stats), 1)
        out.layers = {
            **common_layers(run),
            "plans.build_s": median(tr.durations("plans.build")),
            "plans.exec_s": median(tr.durations("plans.exec")),
            "plans.jobs_per_query": sum(s["jobs"] for s in stats) / n,
            "plans.stages_per_query": sum(s["stages"] for s in stats) / n,
            "plans.tasks_per_query": sum(s["tasks"] for s in stats) / n,
            "spark.failed_tasks": sum(s["failed"] for s in stats),
        }
    return out


# ---- medallion -------------------------------------------------------------


def _lake_files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(p) for p in files)


@contextlib.contextmanager
def timed_arrivals(times: list[float]):
    """Record the wall time of every ``apply_medallion_arrival`` call the
    incremental runner makes while the block runs."""
    from bakery_big_data_spark.pipeline import medallion as program

    original = program.apply_medallion_arrival

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            times.append(time.perf_counter() - t0)

    program.apply_medallion_arrival = timed
    try:
        yield
    finally:
        program.apply_medallion_arrival = original


def medallion(run: Run) -> Outcome:
    out = Outcome()
    tr = run.tracer
    data = os.path.join(run.tmp, "data")
    tables = datagen.write_tables(run.seed, data)
    warm_data = os.path.join(run.tmp, "warm_data")
    warm_tables = datagen.write_tables(run.seed, warm_data, event_days=WARMUP_EVENT_DAYS,
                                       fact_share=WARMUP_FACT_SHARE)
    plan = datagen.arrival_plan(run.seed)
    con = checks.duck_connect(data, tables)

    t_setup = time.perf_counter()
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion,
        run_medallion_incremental,
    )

    spark = start_session(run)
    trace_program(run)
    # warm-up: one cold full rebuild of the small input (every layer the
    # arrivals maintain); its lake is checked like the measured ones, but
    # its time counts only in setup_s
    warm = os.path.join(run.tmp, "lake_full")
    t0 = time.perf_counter()
    run_medallion(spark, warm_data, warm)
    warmup_full_s = time.perf_counter() - t0
    out.setup_s = time.perf_counter() - t_setup

    runs_s, stats, written = [], [], []
    lakes = [("full", warm, checks.duck_connect(warm_data, warm_tables))]
    tr.start_window()
    i = 0
    t_start = time.perf_counter()
    while i == 0 or time.perf_counter() - t_start < run.seconds:
        lake = os.path.join(run.tmp, f"lake_{i}")
        group = f"medallion.incr.{i}"
        set_group(run, spark, group)
        out.attempted += 1
        arrivals: list[float] = []
        t0 = time.perf_counter()
        try:
            with tr.operation("workload.medallion.incr"), timed_arrivals(arrivals):
                run_medallion_incremental(spark, data, lake, n_chunks=ARRIVALS,
                                          arrival_plan=plan)
            runs_s.append(time.perf_counter() - t0)
            out.latencies.extend(arrivals)
            lakes.append(("incr", lake, con))
        except Exception:
            _log_failure("medallion incremental run")
            out.failed += 1
        if tr.enabled:
            stats.append(group_stats(run, spark, group))
            t0 = time.perf_counter()
            written.append(_lake_files(lake))
            tr.charge(time.perf_counter() - t0)
        i += 1
    # events landed per second over whole runs (bronze scan, arrivals and
    # the derived dims), not the arrival latencies' inverse
    out.throughput_per_s = tables["events"] * len(runs_s) / sum(runs_s) if runs_s else 0.0

    for kind, lake, lake_con in lakes:
        try:
            results = checks.check_medallion_lake(lake_con, lake, full=(kind == "full"))
            ok = _record_checks(out, [dict(r, lake=kind) for r in results])
        except Exception:
            _log_failure(f"medallion {kind} lake check")
            ok = False
        if not ok:
            out.correct = False
            out.failed += 1
        shutil.rmtree(lake, ignore_errors=True)

    lat = sorted(out.latencies)
    out.report = {
        "warmup_full_s": (warmup_full_s, "s"),
        "etl_incr_s": (median(runs_s), "s"),
        "arrival_p50_s": (percentile(lat, 50), "s"),
        "arrival_p90_s": (percentile(lat, 90), "s"),
        "events_per_s": (out.throughput_per_s, "1/s"),
        "runs": (i, "count"),
        "arrival_plan": (plan, "name"),
    }
    if tr.enabled:
        per_run = max(i, 1)
        out.layers = {
            **common_layers(run),
            "sources.files_written": sum(w[0] for w in written) / per_run,
            "sources.bytes_written": sum(w[1] for w in written) / per_run,
            "pipeline.medallion.arrival_s": median(
                tr.durations("pipeline.medallion.apply_medallion_arrival")),
            "spark.failed_tasks": sum(s["failed"] for s in stats),
        }
        writes = {s["name"] for s in tr.window() if s["name"].startswith("spark.write.")}
        for name in sorted(writes):
            out.layers[f"pipeline.medallion.stage_s.{name[len('spark.write.'):]}"] = (
                sum(tr.durations(name)) / per_run)
    return out


# ---- ingest ----------------------------------------------------------------


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Source file name -> micro-batch id, from the file source's log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _commit_time(checkpoint: str, batch: int) -> float | None:
    # Spark keeps the last 100 commit-log entries (minBatchesToRetain), so
    # warm-up plus measured batches must stay below 100: --seconds up to
    # about 25 at 0.3-0.4 s per batch.  An entry cleaned up reads as a
    # failed file.
    try:
        return os.stat(os.path.join(checkpoint, "commits", str(batch))).st_mtime
    except FileNotFoundError:
        return None


def _emit(run: Run, staging: str, source: str, log_path: str,
          closed: tuple[str, int] | None = None) -> list[dict]:
    """Run the load generator process over ``staging`` and wait for it;
    ``closed`` (commits directory, files per batch) makes it closed-loop."""
    start = time.time() + 0.2
    proc = subprocess.Popen([
        sys.executable, os.path.join(run.root, "lakebench", "emitter.py"),
        staging, source, repr(start), repr(PERIOD_S), log_path,
        *([closed[0], str(closed[1])] if closed else []),
    ])
    try:
        proc.wait(timeout=len(os.listdir(staging)) * PERIOD_S + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(log_path) as fh:
        return json.load(fh)


def _wait_committed(checkpoint: str, names: list[str], timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        batches = _file_batches(checkpoint)
        if all(n in batches for n in names) and all(
            _commit_time(checkpoint, batches[n]) is not None for n in names
        ):
            return True
        time.sleep(0.05)
    return False


def ingest(run: Run) -> Outcome:
    out = Outcome()
    tr = run.tracer
    root = os.path.join(run.tmp, "stream")
    source, sink, ckpt = (os.path.join(root, d) for d in ("source", "sink", "checkpoint"))
    warm_stage, timed_stage = os.path.join(root, "warm"), os.path.join(root, "timed")
    os.makedirs(source)
    n_files = max(1, round(run.seconds / PERIOD_S))
    n_warm = WARMUP_BATCHES * WARMUP_FILES_PER_BATCH
    warm_files = datagen.stream_plan(run.seed, 0, n_warm, EVENTS_PER_FILE)
    timed_files = datagen.stream_plan(run.seed, n_warm * EVENTS_PER_FILE, n_files,
                                      EVENTS_PER_FILE)
    datagen.write_stream_files(warm_files, warm_stage, "warm")
    timed_paths = datagen.write_stream_files(timed_files, timed_stage, "timed")
    sizes = {os.path.basename(p): len(f) for p, f in zip(timed_paths, timed_files)}
    expected_ids = {r["event_id"] for f in warm_files + timed_files for r in f}

    t_setup = time.perf_counter()
    from bakery_big_data_spark.streaming.ingest import (
        read_json_stream,
        start_append_sink,
    )

    spark = start_session(run)
    trace_program(run)
    with tr.span("streaming.read_json_stream"):
        stream = read_json_stream(spark, source)
    with tr.span("streaming.start_append_sink"):
        query = start_append_sink(stream, sink, ckpt, available_now=False)
    try:
        # warm-up: closed loop, a measured batch's worth of files at a time
        _emit(run, warm_stage, source, os.path.join(root, "warm_log.json"),
              closed=(os.path.join(ckpt, "commits"), WARMUP_FILES_PER_BATCH))
        if not _wait_committed(ckpt, sorted(os.listdir(source)), 60):
            raise RuntimeError("warm-up files were not committed")
        out.setup_s = time.perf_counter() - t_setup
        warm_batches = set(_file_batches(ckpt).values())
        tr.start_window()

        log = _emit(run, timed_stage, source, os.path.join(root, "timed_log.json"))
        drained = _wait_committed(ckpt, [e["file"] for e in log], 60)
        progress = [dict(p) for p in query.recentProgress]
        exception = query.exception()
        if tr.enabled:
            stats = group_stats(run, spark, str(query.runId))
    finally:
        query.stop()

    batches = _file_batches(ckpt)
    lags, committed_events = [], 0
    last_commit = log[0]["due"] - PERIOD_S
    for entry in log:
        out.attempted += 1
        batch = batches.get(entry["file"])
        commit = _commit_time(ckpt, batch) if batch is not None else None
        if commit is None:
            out.failed += 1
            continue
        lags.append(commit - entry["due"])
        committed_events += sizes[entry["file"]]
        last_commit = max(last_commit, commit)
    out.latencies = lags
    window = last_commit - (log[0]["due"] - PERIOD_S)
    out.throughput_per_s = committed_events / window if window > 0 else 0.0

    result = checks.check_exactly_once(sink, expected_ids)
    if not (_record_checks(out, [result]) and drained and exception is None):
        out.correct = False
        out.failed += 1

    lag = sorted(lags)
    timed = [p for p in progress
             if p.get("batchId") not in warm_batches and p.get("numInputRows", 0) > 0]
    out.report = {
        "ingest_lag_p50_s": (percentile(lag, 50), "s"),
        "ingest_lag_p90_s": (percentile(lag, 90), "s"),
        "ingest_sustained_eps": (out.throughput_per_s, "1/s"),
        "offered_eps": (EVENTS_PER_FILE / PERIOD_S, "1/s"),
        "files_timed": (len(log), "count"),
    }
    if tr.enabled:
        dur = [p.get("durationMs", {}) for p in timed]
        out.layers = {
            **common_layers(run),
            "streaming.batches": len(timed),
            "streaming.batch_s": median([d.get("triggerExecution", 0) / 1e3 for d in dur]),
            "streaming.planning_s": median([d.get("queryPlanning", 0) / 1e3 for d in dur]),
            "streaming.add_batch_s": median([d.get("addBatch", 0) / 1e3 for d in dur]),
            "streaming.rows_per_batch": (
                sum(p["numInputRows"] for p in timed) / len(timed) if timed else 0.0),
            "gen.late_max_s": max(e["published"] - e["due"] for e in log),
            "spark.failed_tasks": stats["failed"],
        }
    return out


def percentile(sorted_xs: list[float], pct: float) -> float:
    """Linear-interpolated percentile of an ascending list."""
    if not sorted_xs:
        return 0.0
    pos = (len(sorted_xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (pos - lo)


WORKLOADS = {"dashboard": dashboard, "medallion": medallion, "ingest": ingest}
