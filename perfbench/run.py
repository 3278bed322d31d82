"""The repository benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0

One process drives one closed-loop client on ``local[N]``, N = min(4,
nproc): an iteration starts only after the previous one has finished.
A run generates its inputs from ``--seed`` (outside any timed region),
starts Spark and times whole iterations until ``--seconds`` have passed
(at least one). The first iteration runs cold, as a user's one run per
process does. Outputs are checked outside the timed region. With
``--trace 1`` every iteration is traced and the run reports the
per-layer metrics instead of the end-to-end ones.

Every file a run writes lives under ``.perfbench_work/`` (inputs, lake,
Spark scratch; removed at exit) and ``.perfbench_out/`` (one record per
run: host stamp, samples, failures, spans) in the current directory.
The last stdout line is the JSON result; the lines before it are the
host stamp and a readable summary. Exit code 1 means a wrong output or
a failed operation; 2 means the program under test could not be
imported.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tr  # noqa: E402

ASOF = "2024-03-02 00:00:00"
COVID_DAYS = 24
STREAM_SF = 0.1
CHECK_SF = 0.01
STREAM_KEYS = [
    "streaming_tumbling_counts",
    "streaming_sliding_counts",
    "streaming_session_window",
    "streaming_stateful_totals",
    "streaming_stream_join",
    "streaming_dedup_delivery",
    "streaming_upsert_latest",
]
DRIVER_MEMORY = "2g"

END_TO_END = {
    "wall_s": "s",
    "cpu_s": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
    "heap_live_mb": "MB",
}
PER_LAYER = {
    "iteration.wall_s": "s",
    "jvm.peak_rss_mb": "MB",
    **{m: "s" for m in tr.SELF_METRICS.values()},
    tr.RESIDUAL_METRIC: "s",
    "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.quality_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.residual_s": "s",
    "bronze.rows_per_s": "1/s",
    "silver.rows_per_s": "1/s",
    "bronze.jobs": "count",
    "silver.jobs": "count",
    "quality.jobs": "count",
    "gold.jobs_per_table": "count",
    "quality.exec_s": "s",
    "writers.files": "count",
    "writers.bytes_per_file": "B",
    "writers.lake_bytes_per_input_byte": "ratio",
    **{f"query.{k}_s": "s" for k in STREAM_KEYS},
    "python.query_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_s": "s",
    "exec.tasks": "count",
    "exec.stages": "count",
    "exec.input_mb": "MB",
    "exec.output_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "driver.gap_s": "s",
    "stream.batches": "count",
    "stream.trigger_s": "s",
    "stream.addBatch_s": "s",
    "stream.walCommit_s": "s",
    "stream.commitOffsets_s": "s",
    "stream.queryPlanning_s": "s",
    "stream.state_commit_s": "s",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "stream.overhead_s": "s",
}


class Outcome:
    """Operations attempted and failed; a wrong output is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


# --------------------------------------------------------------- medallion

def journal_mismatches(journal: dict, manifest: dict) -> list[str]:
    """Differences between a pipeline journal and the expected outcome."""
    if journal.get("status") != "SUCCESS":
        return [f"status {journal.get('status')}: {journal.get('layers')}"]
    layers = journal["layers"]
    bad = [
        f"{layer} records {layers[layer]['records']}"
        for layer in ("bronze", "silver")
        if layers[layer]["records"] != manifest[layer]
    ]
    failed = {c["check_name"]: c["failed_count"] for c in layers["quality"]["checks"]}
    if failed != manifest["dq_failed"]:
        bad.append(f"dq failed counts {failed}")
    if layers["quality"]["quality_score"] != manifest["quality_score"]:
        bad.append(f"quality_score {layers['quality']['quality_score']}")
    return bad


class Medallion:
    """bronze -> silver -> DQ -> gold over landing files at the reference's
    recorded row volume; the only workload that writes. Every journal is
    checked against the generator's manifest."""

    def __init__(self, work: str, seed: int) -> None:
        from chai_data_pipeline_spark.medallion import pipeline

        self.pipeline = pipeline
        self.landing = os.path.join(work, "landing")
        self.lake = os.path.join(work, "lake")
        self.manifest = gen.write_landing(self.landing, seed, COVID_DAYS)
        self.input_rows = self.manifest["landed_rows"]
        self.journal: dict = {}

    def check(self, spark, out: Outcome) -> None:
        pass  # verify() has checked every iteration's journal

    def before(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)

    def iteration(self, spark, tracer) -> None:
        self.journal = self.pipeline.run_pipeline(
            spark, self.landing, self.lake, asof=ASOF
        )

    def verify(self, run: int, out: Outcome) -> None:
        bad = journal_mismatches(self.journal, self.manifest)
        out.record(not bad, f"pipeline iteration {run}: {bad}")

    def install(self, tracer: tr.Tracer, spark) -> None:
        from chai_data_pipeline_spark.medallion import bronze, gold, quality, silver

        tracer.wrap(bronze, "load_bronze", "bronze")
        for name in ("transform_users", "transform_posts", "transform_covid",
                     "transform_telco"):
            tracer.wrap(silver, name, "silver")
        for name in ("rules_from_config", "run_checks", "quality_score"):
            tracer.wrap(quality, name, "quality")
        for name in ("daily_covid_summary", "covid_country_trends",
                     "covid_global_summary", "v_data_completeness",
                     "v_trend_analysis", "user_company_analysis",
                     "user_analytics_summary", "user_engagement_metrics",
                     "daily_aggregates"):
            tracer.wrap(gold, name, "gold")
        # run_pipeline calls the name it imported from sources.writers
        tracer.wrap(self.pipeline, "overwrite_table", "writers")

    def uninstall(self, spark) -> None:
        pass

    def layer_metrics(self, ctx: dict) -> dict[str, float]:
        layers = self.journal["layers"]
        m = {f"pipeline.{k}_s": layers[k]["duration_seconds"] for k in tr.PHASES}
        m["pipeline.residual_s"] = ctx["wall"] - sum(m.values())
        for layer in ("bronze", "silver"):
            m[f"{layer}.rows_per_s"] = (
                sum(layers[layer]["records"].values())
                / layers[layer]["duration_seconds"]
            )
        marks = ctx["phase_marks"]
        ends = [job for _, job, _ in marks[1:]] + [ctx["end_mark"][0]]
        jobs = {phase: end - job for (phase, job, _), end in zip(marks, ends)}
        for layer in ("bronze", "silver", "quality"):
            m[f"{layer}.jobs"] = float(jobs.get(layer, 0))
        m["gold.jobs_per_table"] = jobs.get("gold", 0) / len(layers["gold"]["records"])
        m["quality.exec_s"] = sum(
            s.duration for s in ctx["spans"]
            if s.phase == "quality" and s.layer in ("action", "writers")
        )
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, names in os.walk(self.lake) for f in names
            if f.startswith("part-")
        ]
        m["writers.files"] = float(len(sizes))
        m["writers.bytes_per_file"] = sum(sizes) / len(sizes)
        m["writers.lake_bytes_per_input_byte"] = (
            sum(sizes) / self.manifest["landed_bytes"]
        )
        return m


# ------------------------------------------------------------------ stream

class Stream:
    """The seven streaming topologies over the events table at sf0.1; the
    only workload that crosses the Python worker boundary. After the timed
    iterations every key is checked against its DuckDB oracle at sf0.01."""

    def __init__(self, work: str, seed: int) -> None:
        from chai_data_pipeline_spark.streaming import windows

        self.sf_dir = os.path.join(work, f"sf{STREAM_SF}")
        self.input_rows = gen.write_tables(self.sf_dir, seed, STREAM_SF)["events"]
        self.check_dir = os.path.join(work, f"sf{CHECK_SF}")
        gen.write_tables(self.check_dir, seed, CHECK_SF)
        self.order = list(STREAM_KEYS)
        random.Random(seed).shuffle(self.order)
        # checkpoints, staged sources and file sinks stay in the run's own
        # directory (the program's default is /dev/shm)
        scratch = os.path.join(work, "stream")
        os.makedirs(scratch, exist_ok=True)
        windows.stream_scratch_dir = lambda: scratch
        self.walls: dict[str, float] = {}
        self.python_plan: set[str] = set()
        self.errors: dict[str, str] = {}
        self.progress = None

    def check(self, spark, out: Outcome) -> None:
        from chai_data_pipeline_spark import plans
        from chai_data_pipeline_spark.testing import compare_query, duckdb_connect

        con = duckdb_connect(self.check_dir)
        try:
            for key in STREAM_KEYS:
                try:
                    res = compare_query(spark, con, key, plans.QUERIES[key],
                                        plans.ORACLES[key], self.check_dir)
                    out.record(res.ok, f"{key} vs oracle: {res.detail}")
                except Exception:  # noqa: BLE001 — counted as a failed operation
                    out.record(False, f"{key}: {traceback.format_exc()}")
        finally:
            con.close()

    def before(self) -> None:
        self.errors = {}

    def iteration(self, spark, tracer) -> None:
        from chai_data_pipeline_spark import plans

        for key in self.order:
            t0 = time.perf_counter()
            try:
                with tr.span(tracer, key, "plans"):
                    df = plans.QUERIES[key](spark, self.sf_dir)
                if tracer is not None:
                    with tr.span(tracer, key, "catalyst"):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    if tr.PYTHON_NODE.search(plan):
                        self.python_plan.add(key)
                with tr.span(tracer, key, "sink"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — counted as a failed operation
                self.errors[key] = traceback.format_exc()
            self.walls[key] = time.perf_counter() - t0

    def verify(self, run: int, out: Outcome) -> None:
        for key in STREAM_KEYS:
            out.record(key not in self.errors, f"{key}: {self.errors.get(key)}")

    def install(self, tracer: tr.Tracer, spark) -> None:
        from pyspark.sql.streaming import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer.wrap_streams(DataStreamWriter, StreamingQuery)
        self.progress = _progress_listener()
        spark.streams.addListener(self.progress)

    def uninstall(self, spark) -> None:
        spark.streams.removeListener(self.progress)

    def layer_metrics(self, ctx: dict) -> dict[str, float]:
        spans = ctx["spans"]
        python_keys = set(self.python_plan)
        for s in spans:
            if s.layer == "stream" and s.attrs.get("python"):
                python_keys.add(spans[s.parent].name)
        m = {f"query.{k}_s": w for k, w in self.walls.items()}
        m["python.query_s"] = sum(self.walls[k] for k in python_keys)
        m.update(tr.stream_metrics(self.progress.events, spans))
        return m


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every StreamingQueryProgress as a dict."""

        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


WORKLOADS = {"medallion_etl": Medallion, "stream_sf0.1": Stream}


# --------------------------------------------------------------------- run

def start_spark(work: str, cores: int):
    from chai_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def jvm_live_heap_mb(spark, counters: tr.SparkCounters) -> float:
    """JVM heap still in use after a full collection: what caches and
    Spark's own bookkeeping keep alive. The second collection frees what
    Spark's cleaner released after the first one."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
        counters.drain()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def host_stamp(cores: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # the checkout is not a git repository
    return {
        "nproc": os.cpu_count(),
        "local_cores": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
    }


def one_iteration(spark, wl, run: int, tracer, counters) -> dict:
    """Time one iteration; in traced mode also derive its layer metrics."""
    wl.before()
    counters.drain()
    _, first_stage = counters.mark()
    if tracer is None:
        t0 = time.perf_counter()
        wl.iteration(spark, None)
        wall = time.perf_counter() - t0
        end_mark = counters.mark()
        counters.drain()
        stages = counters.stages(first_stage, end_mark[1], detail=False)
        return {"run": run, "wall": wall,
                "cpu": sum(s["cpu_ns"] for s in stages) / 1e9}

    from pyspark.sql.classic.dataframe import DataFrame

    tracer.wrap(DataFrame, "count", "action")
    tracer.wrap(DataFrame, "collect", "action")
    wl.install(tracer, spark)
    tracer.on_phase = counters.mark
    try:
        with tracer.iteration(run):
            wl.iteration(spark, tracer)
        end_mark = counters.mark()
        counters.drain()
    finally:
        tracer.unwrap()
        wl.uninstall(spark)
    stages = counters.stages(first_stage, end_mark[1], detail=True)
    spans = tracer.spans_of(run)
    wall = spans[0].duration
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics["iteration.wall_s"] = wall
    metrics.update(tr.layer_self_times(spans))
    metrics.update(tr.exec_metrics(stages, wall))
    metrics.update(wl.layer_metrics({
        "spans": spans, "wall": wall, "phase_marks": tracer.phase_marks,
        "end_mark": end_mark,
    }))
    return {"run": run, "wall": wall, "metrics": metrics}


def measure(spark, wl, args, out: Outcome) -> tuple[dict, dict]:
    """Time iterations, then check outputs; return the metrics and the
    run's details for its record."""
    counters = tr.SparkCounters(spark)
    setup_s = time.perf_counter() - PROCESS_START
    tracer = tr.Tracer() if args.trace else None
    samples: list[dict] = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < args.seconds or not samples:
        run = len(samples)
        try:
            samples.append(one_iteration(spark, wl, run, tracer, counters))
            wl.verify(run, out)
        except Exception:  # noqa: BLE001 — counted as a failed operation
            out.record(False, f"iteration {run}: {traceback.format_exc()}")
            break
    wl.check(spark, out)
    if not samples:
        return {}, {"samples": [], "spans": []}
    if args.trace:
        # means, so that the layer self times still add up to the wall
        metrics = {
            name: statistics.fmean(s["metrics"][name] for s in samples)
            for name in PER_LAYER
        }
        metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    else:
        wall = statistics.median(s["wall"] for s in samples)
        metrics = {
            "wall_s": wall,
            "cpu_s": statistics.median(s["cpu"] for s in samples),
            "rows_per_s": wl.input_rows / wall,
            "setup_s": setup_s,
            "heap_live_mb": jvm_live_heap_mb(spark, counters),
        }
    return metrics, {
        "peak_rss_mb": jvm_peak_rss_mb(spark),
        "samples": samples,
        "spans": [vars(s) for s in tracer.spans] if tracer is not None else [],
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import chai_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2

    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    load_before = os.getloadavg()
    out = Outcome()
    setup: dict[str, float] = {}  # seconds since process start
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        setup["inputs_written"] = time.perf_counter() - PROCESS_START
        spark = start_spark(work, cores)
        setup["spark_started"] = time.perf_counter() - PROCESS_START
        try:
            metrics, detail = measure(spark, wl, args, out)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    host = host_stamp(cores)
    host["loadavg_before"] = load_before
    host["loadavg_after"] = os.getloadavg()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "setup": setup,
        "attempted": out.attempted,
        "failures": out.failures, "metrics": metrics, **detail,
    }
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(json.dumps({"host": host}))
    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(detail['samples'])} iterations; error_rate="
          f"{len(out.failures)}/{out.attempted}; JVM peak RSS "
          f"{detail.get('peak_rss_mb', 0):.1f} MB; set-up phases {setup}")
    for failure in out.failures:
        print(f"  FAILED {failure}")
    for key, value in metrics.items():
        print(f"  {key} = {value:.6g} {units[key]}")
    print(json.dumps({
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if out.failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
