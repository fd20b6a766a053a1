"""Closed-loop benchmark over the registered queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 28 --trace 0

One client on one driver thread calls each of the workload's registered
queries once per pass, in an order shuffled by ``--seed``, and consumes the
result to Spark's ``noop`` sink. The timed window is a fixed number of passes
that take about ``--seconds`` on a calm host. The seed changes only the
order; the inputs are the fixed test-data files under ``testdata/``.

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer counters, read from Spark's status store
and a streaming listener, with every other sample left untraced so the
tracing overhead is measured in the same process. The line before it is a
JSON record of the run's context: per-query medians, tail percentile and
sample count, warm-up passes, load average and CPU steal, and any failures.

See README.md in this directory for why each workload exists.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_ROOT = os.path.join(HERE, "testdata")
# one directory per run, so that two runs in one checkout do not remove each
# other's files
WORK = os.path.join(HERE, ".work", str(os.getpid()))
TRACES = os.path.join(HERE, ".traces")
# a run that has not finished after this many seconds is stopped without a
# result
RUN_LIMIT_S = 170

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.counters import SparkCounters, StreamProgress  # noqa: E402

# name -> (input directory under testdata/, reference pass seconds,
# registered query names). Why each workload exists, and why a batch_sql
# workload is not run, is in README.md.
#
# A run times round(--seconds / reference pass seconds) passes: about
# --seconds on a 4-vCPU host whose neighbours keep it moderately busy, and
# less on a calm one. The pass count, and with it the sample
# count and the rank the tail takes, is then the same in every run. With a
# purely time-bounded window a faster run took more samples, and the pooled
# tail jumped from one query's samples to a slower query's: stream_replay's
# latency_tail_s read higher on its fastest runs.
WORKLOADS: dict[str, tuple[str, float, tuple[str, ...]]] = {
    # pipeline kernels in JVM expressions: regex redaction, text statistics,
    # ANN top-k
    "llm_dedup": ("sf0.1", 1.6, ("ann_cosine_topk", "text_pii_redact", "text_stats")),
    # bounded Structured Streaming replays: JVM state and Python per-key state
    "stream_replay": ("sf0.01", 4.0, (
        "stream_continuous_agg", "stream_dedup_first_per_user",
        "stream_tumble_agg", "stream_cep_funnel",
    )),
}

# a busy host can make passes twice as slow; the window then stops after this
# many times --seconds, with fewer passes than planned, so that a run stays
# within the benchmark's time budget. Only a host slowed past this factor
# changes the pass count.
WINDOW_CAP = 1.4

# Untimed warm-up passes before the timed window (part of setup_s). The first
# pays the cold cost (Python workers, codegen); the second takes the steepest
# step of the JIT slope that follows (llm_dedup 2.2 s to 1.8 s a pass,
# stream_replay 4.6 s to 3.8 s). The count is fixed: stopping when a pass
# "stops falling" let host noise end warm-up anywhere from two to five passes.
WARM_PASSES = 2

END_TO_END_UNITS = {
    "setup_s": "s", "query_geomean_s": "s", "rows_per_s": "1/s",
    "latency_p50_s": "s", "latency_tail_s": "s",
}
PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.jobs": "count",
    "plans.catalyst_s": "s",
    "operators.exec_s": "s", "operators.task_cpu_s": "s",
    "operators.shuffle_bytes": "bytes", "operators.stages": "count",
    "operators.tasks": "count", "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "arrow_boundary.wait_s": "s",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms", "streaming.state_rows": "count",
    "sources.input_rows": "count", "sources.input_bytes": "bytes",
    "trace.overhead_pct": "%",
}


def _host() -> dict:
    """Load average and cumulative CPU steal: context, not a gate."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    return {"loadavg": list(os.getloadavg()), "steal_s": steal}


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the engine whatever the working directory."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # the launcher JVM would otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [ROOT, *paths] if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _spark_conf() -> dict[str, str]:
    """Settings added to ``get_spark``'s: only where files go and where JVM
    warnings are printed (stderr: stdout carries only the result lines)."""
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.driver.extraJavaOptions": (
            "-Xlog:disable -Xlog:all=warning:stderr -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}"
        ),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(WORK, "hadoop"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _events_rows(data_dir: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(data_dir, "events.parquet")).metadata.num_rows


def _descendants(pid: int) -> list[int]:
    """Process ids below ``pid`` (the JVM's Python workers and their daemon)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _stop(spark) -> None:
    """Stop the session, then wait for its JVM and every process the JVM
    started to exit (killing what is still there after 30 s)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class Trace:
    """Spans and counters of the traced samples of a run.

    Query ``i`` (in the workload's declared order) is traced in passes ``p``
    with ``p + i`` even, so every query has traced and untraced samples and
    both kinds sit at the same points of the JIT warm-up slope."""

    _STREAM_SUMS = ("planning_ms", "state_commit_ms", "state_update_ms", "state_rows")

    def __init__(self, names: tuple[str, ...], listener: StreamProgress):
        self.position = {n: i for i, n in enumerate(names)}
        self.listener = listener
        self.passes = 0
        self.spans: list[dict] = []
        self.layers: dict[str, dict[str, list[float]]] = {"build": {}, "plan": {}, "execute": {}}
        self.records: dict[str, list[dict]] = {}
        self.batch_ms: list[float] = []

    def wants(self, name: str) -> bool:
        return (self.passes + self.position[name]) % 2 == 0

    def record(self, name: str, marks: list[float], counts: dict, batches: list[dict]) -> None:
        root = len(self.spans)
        self.spans.append({"id": root, "parent": None, "name": name,
                           "start": marks[0], "end": marks[-1],
                           "counters": counts, "batches": batches})
        for i, layer in enumerate(("build", "plan", "execute")):
            a, b = marks[i], marks[i + 1]
            self.spans.append({"id": root + 1 + i, "parent": root, "name": layer,
                               "start": a, "end": b})
            self.layers[layer].setdefault(name, []).append(b - a)
        rec = dict(counts, batches=len(batches))
        for k in self._STREAM_SUMS:
            rec[k] = sum(b[k] for b in batches)
        self.records.setdefault(name, []).append(rec)
        self.batch_ms.extend(b["trigger_ms"] for b in batches)

    def pass_total(self, key: str) -> float:
        """A counter's total over one pass: the sum over queries of the
        median of that query's traced samples."""
        return sum(stats.median([r[key] for r in recs]) for recs in self.records.values())


class Driver:
    """One Spark session, one client, one workload."""

    def __init__(self, spark, specs, data_dir: str, rng: random.Random):
        self.spark = spark
        self.specs = specs
        self.data_dir = data_dir
        self.rng = rng
        self.counters = SparkCounters(spark)
        self.attempted = 0
        self.failures: list[str] = []

    def _consume(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _query(self, spec) -> float:
        t0 = time.perf_counter()
        self._consume(spec.fn(self.spark, self.data_dir))
        return time.perf_counter() - t0

    def _traced_query(self, spec, trace: Trace) -> float:
        # the listener is registered only around traced queries, so untraced
        # samples pay nothing for it
        self.spark.streams.addListener(trace.listener)
        try:
            self.counters.take()  # the query's window starts after this
            trace.listener.drain()
            marks = [time.perf_counter()]
            df = spec.fn(self.spark, self.data_dir)
            marks.append(time.perf_counter())
            df._jdf.queryExecution().executedPlan()
            marks.append(time.perf_counter())
            self._consume(df)
            marks.append(time.perf_counter())
            trace.record(spec.name, marks, self.counters.take(), trace.listener.drain())
        finally:
            self.spark.streams.removeListener(trace.listener)
        return marks[-1] - marks[0]

    def run_pass(self, samples: dict[str, list[float]], trace: Trace | None = None,
                 traced: dict[str, list[float]] | None = None) -> float:
        """Call every query once, in seed-shuffled order; each sample is the
        time from call to complete result. With ``trace``, the samples it
        traces go to ``traced``. Returns the pass's wall time."""
        order = list(self.specs)
        self.rng.shuffle(order)
        start = time.perf_counter()
        for spec in order:
            self.attempted += 1
            traced_call = trace is not None and trace.wants(spec.name)
            try:
                t = self._traced_query(spec, trace) if traced_call else self._query(spec)
            except Exception:
                self.failures.append(f"{spec.name}: {traceback.format_exc(limit=1)}")
                continue
            # only a completed call leaves a sample: a query that never
            # completes is reported missing, not given an empty sample list
            (traced if traced_call else samples).setdefault(spec.name, []).append(t)
        if trace is not None:
            trace.passes += 1
        return time.perf_counter() - start

    def check(self, listener) -> None:
        """Collect each query once and compare it with its DuckDB oracle;
        for streams also check every source replayed all events."""
        import duckdb

        from flink_1_6_0_spark.catalog import TABLES
        from flink_1_6_0_spark.registry import resolve_oracle
        from tests.helpers import normalize

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb')}'")
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.isfile(path):  # a workload ships only the tables it reads
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for spec in self.specs:
            self.attempted += 1
            listener.drain()
            try:
                got = normalize(spec.fn(self.spark, self.data_dir).toPandas())
                want = normalize(con.sql(resolve_oracle(spec, self.data_dir)).fetchdf())
                problem = None if got == want else f"{len(got)} rows differ from the oracle's {len(want)}"
                if problem is None and "streaming" in spec.tags:
                    self.counters.settle()
                    per_source = _source_rows(listener.drain())
                    events_rows = _events_rows(self.data_dir)
                    if not per_source or any(n != events_rows for n in per_source):
                        problem = f"sources read {per_source} rows, expected {events_rows} each"
            except Exception:
                problem = traceback.format_exc(limit=1)
            if problem:
                self.failures.append(f"check {spec.name}: {problem}")
        con.close()


class RunTimeout(BaseException):
    """Raised by the run's alarm; a BaseException so that the per-query
    ``except Exception`` handlers do not record it as a failed query."""


def _out_of_time(signum, frame):
    raise RunTimeout(f"run did not finish within {RUN_LIMIT_S} s")


def _source_rows(batches: list[dict]) -> list[int]:
    """Rows each source delivered, summed over a query's micro-batches."""
    totals: list[int] = []
    for b in batches:
        for i, n in enumerate(b["source_rows"]):
            if i == len(totals):
                totals.append(0)
            totals[i] += n
    return totals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_1_6_0_spark")):
        print(f"error: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    inputs, pass_ref_s, names = WORKLOADS[args.workload]
    planned = max(1, round(args.seconds / pass_ref_s))
    data_dir = os.path.join(DATA_ROOT, inputs)
    _prepare_env()
    signal.signal(signal.SIGALRM, _out_of_time)
    signal.alarm(RUN_LIMIT_S)
    host_start = _host()

    from flink_1_6_0_spark.registry import load_all
    from flink_1_6_0_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
    try:
        registry = load_all()
        driver = Driver(spark, [registry[n] for n in names], data_dir, random.Random(args.seed))

        warm_times = [driver.run_pass({}) for _ in range(WARM_PASSES)]
        setup_s = time.perf_counter() - _T0
        driver.counters.take()  # warm-up stages are not counted

        listener = StreamProgress()
        trace = Trace(names, listener) if args.trace else None
        samples: dict[str, list[float]] = {}
        traced: dict[str, list[float]] = {}
        t_start = time.perf_counter()
        pass_s: list[float] = []
        input_rows = 0
        cap = t_start + WINDOW_CAP * args.seconds
        while len(pass_s) < planned and time.perf_counter() < cap:
            pass_s.append(driver.run_pass(samples, trace, traced))
            if len(pass_s) == 1 and trace is None:
                # the rows one pass reads, counted in a warm pass: the cold
                # pass can read more (one-off reads while planning)
                input_rows = driver.counters.take()["input_rows"]
        measured_s = time.perf_counter() - t_start

        spark.streams.addListener(listener)
        driver.check(listener)
        host_end = _host()
    finally:
        _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        signal.alarm(0)

    failed = len(driver.failures)
    missing = [n for n in names if n not in samples]
    pooled = [x for v in samples.values() for x in v]
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": inputs, "passes_planned": planned, "pass_s": pass_s, "measured_s": measured_s,
        "warmup_pass_s": warm_times, "samples": len(pooled),
        "per_query_median_s": {k: stats.median(v) for k, v in sorted(samples.items())},
        "input_rows_per_pass": input_rows,
        "host_start": host_start, "host_end": host_end,
        "failures": driver.failures,
        "wall_s": time.perf_counter() - _T0,
    }
    if trace is not None:
        missing += [n for n in names if n not in trace.records and n not in missing]
        if not missing:
            context["input_rows_per_pass"] = trace.pass_total("input_rows")
    if missing:
        context["failures"].append(f"no successful sample for {missing}")
    elif trace is None and len(pooled) <= stats.TAIL_BEYOND:
        missing = names  # no result: the run is too short for the tail
        context["failures"].append(
            f"{len(pooled)} samples; the tail needs more than {stats.TAIL_BEYOND}")

    metrics: dict = {}
    if trace is not None:
        if not missing:
            metrics = _per_layer(trace, traced, samples)
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"context": context, "spans": trace.spans}, fh)
        context["trace_file"] = os.path.relpath(path, ROOT)
    elif not missing:
        tail_s, tail_pct = stats.tail(pooled)
        context["tail_percentile"] = tail_pct
        metrics = {
            "setup_s": setup_s,
            "query_geomean_s": stats.geomean_of_medians(samples),
            "rows_per_s": stats.rows_per_s(input_rows, samples),
            "latency_p50_s": stats.median(pooled),
            "latency_tail_s": tail_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

    print(json.dumps(context))
    print(json.dumps({
        "correct": failed == 0 and not missing,
        "attempted": driver.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _per_layer(trace: Trace, traced: dict[str, list[float]],
               untraced: dict[str, list[float]]) -> dict:
    """Per-layer metrics of the traced samples: layer times as geomeans of
    per-query medians, counters as one pass's total."""
    total = trace.pass_total
    values = {
        "queries.build_s": stats.geomean_of_medians(trace.layers["build"]),
        "queries.jobs": total("jobs"),
        "plans.catalyst_s": stats.geomean_of_medians(trace.layers["plan"]),
        "operators.exec_s": stats.geomean_of_medians(trace.layers["execute"]),
        "operators.task_cpu_s": total("task_cpu_s"),
        "operators.shuffle_bytes": total("shuffle_bytes"),
        "operators.stages": total("stages"),
        "operators.tasks": total("tasks"),
        "operators.spill_bytes": total("spill_bytes"),
        "operators.gc_s": total("gc_s"),
        "arrow_boundary.wait_s": total("wait_s"),
        "streaming.batches": total("batches"),
        "streaming.batch_ms": stats.median(trace.batch_ms) if trace.batch_ms else 0.0,
        "streaming.planning_ms": total("planning_ms"),
        "streaming.state_commit_ms": total("state_commit_ms"),
        "streaming.state_update_ms": total("state_update_ms"),
        "streaming.state_rows": total("state_rows"),
        "sources.input_rows": total("input_rows"),
        "sources.input_bytes": total("input_bytes"),
        "trace.overhead_pct": stats.overhead_pct(traced, untraced),
    }
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
