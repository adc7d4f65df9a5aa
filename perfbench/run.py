"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 20 --trace 0

Set-up generates the workload's inputs from ``--seed`` (gen.py), starts
one ``local[<cores>]`` session through ``session.get_spark``, and runs
every op once, collecting its rows and comparing them with the op's
DuckDB oracle on the same directory (the correctness gate, which is
also the warm-up). It then runs closed-loop passes over the workload's
ops into a ``noop`` sink, as many passes as fill ``--seconds`` at the
workload's nominal pass time (at least two).

``--trace 0`` prints the end-to-end metrics, measured untraced.
``--trace 1`` prints the per-layer metrics: after the untraced passes it
restarts the session with Spark's event log on, runs traced passes
(a span and a job group around every op, a streaming listener) and then
times each layer's public functions on their own (README.md).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A failed op or an
oracle mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# this run's files (inputs, scratch, Spark temp and event log); removed at exit
WORK = HERE / ".work" / str(os.getpid())

sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import sinkbench  # noqa: E402
import tracing  # noqa: E402
from workloads import OP_TABLES, WORKLOADS  # noqa: E402

SPARK_PER_WORKLOAD = ("run_ms", "gc_ms", "fetch_wait_ms", "spill_bytes", "tasks", "sched_gap_ms")
SPARK_PER_OP = ("cpu_ms", "shuffle_write_bytes", "python_ms")

# every op runs at least this often in the timed passes: its fastest run
# skips the JIT compilation that the first pass after the gate still pays
MIN_PASSES = 2
# a run that hangs fails, with time left to stop its processes
TIME_LIMIT_S = 140

END_TO_END_UNITS = {"rows_per_s": "rows/s", "pass_s": "s", "cpu_s": "CPU-s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {
        "session.get_spark_s": "s",
        "catalog.load_table_s": "s",
        "jobs.batch_etl.run_s": "s",
        "jobs.batch_etl.verify_s": "s",
        "jobs.batch_etl.extract_tasks": "count",
        "ops.dedup.latest_by_key_s": "s",
        "ops.dedup.kept_ratio": "ratio",
        "streaming.epoch_ms": "ms",
        "streaming.epochs": "count",
        "streaming.input_rows": "rows",
    }
    for c in sinkbench.CODECS:
        units[f"sink.{c}.encode_us_per_row"] = "us/row"
        units[f"sink.{c}.decode_us_per_row"] = "us/row"
        units[f"sink.{c}.bytes_per_row"] = "B/row"
    for op in OP_TABLES:
        units[f"queries.{op}_s"] = "s"
    for op in OP_TABLES:
        units[f"spark.{op}.cpu_ms"] = "ms"
        units[f"spark.{op}.shuffle_write_bytes"] = "B"
        units[f"spark.{op}.python_ms"] = "ms"
    units.update({
        "spark.run_ms": "ms",
        "spark.gc_ms": "ms",
        "spark.fetch_wait_ms": "ms",
        "spark.spill_bytes": "B",
        "spark.tasks": "count",
        "spark.sched_gap_ms": "ms",
        "trace.overhead_s": "s",
        "peak_rss_mb": "MB",
    })
    return units


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout; must run
    before the JVM starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("data", "scratch", "local", "tmp", "eventlog", "warehouse"):
        (WORK / sub).mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SCRATCH": str(WORK / "scratch"),
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # JVM perf-data and temp files stay under the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    })


def _session_conf(event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{WORK / 'eventlog'}",
            # Spark 4 defaults to zstd, which this Python cannot read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Bench:
    """One process: one workload on one generated input directory."""

    def __init__(self, workload, seed: int, cores: int):
        self.wl = workload
        self.seed = seed
        self.cores = cores
        self.data_dir = str(WORK / "data" / f"{workload.name}-{seed}")
        self.order = list(workload.ops)
        if workload.shuffle:
            random.Random(seed).shuffle(self.order)
        self.attempted = 0
        self.failed = 0
        self.tracer = tracing.Tracer()
        self.spark = None
        self.pass_log: list[dict] = []  # every measured pass, for the detail line

    # -- set-up ---------------------------------------------------------

    def start_session(self, event_log: bool) -> None:
        from etl_ch_destination_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(extra_conf=_session_conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("setup.import"):
            import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.start_session(event_log=False)
        with self.tracer.span("setup.generate"):
            self.rows = gen.generate(self.data_dir, self.seed, self.wl.sizes)
        self.source_rows = sum(self.rows[t] for op in self.order for t in OP_TABLES[op])
        self.gate()
        return time.perf_counter() - t0

    def _oracle_rows(self) -> dict[str, tuple[list, list]]:
        import check_parity

        con = check_parity.duck_connection(self.data_dir)
        con.execute("SET threads = 1")  # leave the cores to the Spark gate
        out = {}
        for op in self.order:
            res = con.execute(self.oracles[op])
            out[op] = (res.fetchall(), [d[0] for d in res.description])
        return out

    def _record(self, op: str, call):
        """Run ``call`` on this thread; count the attempt, and a failure
        if it raises."""
        self.attempted += 1
        try:
            return call()
        except Exception:
            self.failed += 1
            print(f"FAIL {op}: raised\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def _collect(self, op: str) -> tuple[list, list]:
        df = self.queries[op](self.spark, self.data_dir)
        return [tuple(r) for r in df.collect()], df.columns

    def _noop(self, op: str) -> None:
        _run_to_noop(self.queries[op](self.spark, self.data_dir))

    def gate(self) -> None:
        """Collect every op once, in pass order, and compare it with its
        DuckDB oracle (computed on a second thread meanwhile). This is
        also the warm-up: the timed passes repeat what it ran."""
        import check_parity

        with ThreadPoolExecutor(1) as pool:
            duck = pool.submit(self._oracle_rows)
            got = {op: self._record(op, lambda op=op: self._collect(op)) for op in self.order}
            expected = duck.result()
        for op in self.order:
            problems = got[op] and check_parity.compare(*got[op], *expected[op])
            if problems:
                self.failed += 1
                print(f"FAIL {op}: oracle mismatch: {problems}", file=sys.stderr)

    # -- measurement ----------------------------------------------------

    def run_op(self, op: str) -> None:
        def call():
            self.spark.catalog.clearCache()
            self._noop(op)

        self._record(op, call)

    def pass_count(self, seconds: float, least: int = 1) -> int:
        """Passes that fill ``seconds`` at the workload's nominal pass time.
        A count, not a deadline: every run measures the same passes after
        the gate, so a fast host does not also buy extra, warmer passes."""
        return max(least, round(seconds / self.wl.pass_s))

    def passes(self, count: int, traced: bool) -> list[dict]:
        """``count`` closed-loop passes over the ops; per pass,
        op -> (wall, tree CPU)."""
        sc = self.spark.sparkContext
        out: list[dict] = []
        for _ in range(count):
            per_op, stolen = {}, {}
            for op in self.order:
                s0, c0, t0 = tracing.host_steal_s(), tracing.tree_cpu_s(), time.perf_counter()
                if traced:
                    sc.setJobGroup(op, op)
                    with self.tracer.span(f"queries.{op}"):
                        self.run_op(op)
                else:
                    self.run_op(op)
                per_op[op] = (time.perf_counter() - t0, tracing.tree_cpu_s() - c0)
                # host CPU stolen from this VM meanwhile, to tell a noisy
                # host from a slow op in the detail line
                stolen[op] = tracing.host_steal_s() - s0
            out.append(per_op)
            self.pass_log.append({
                "traced": traced,
                "ops": {op: {"wall_s": w, "cpu_s": c, "steal_s": stolen[op]}
                        for op, (w, c) in per_op.items()},
            })
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    @staticmethod
    def fastest(passes: list[dict]) -> tuple[float, float]:
        """(wall, CPU) of one pass, as the sum over ops of each op's
        fastest run: a slow outlier from the host, or from the JIT still
        warming up in an early pass, does not count."""
        ops = passes[0]
        return (
            sum(min(p[op][0] for p in passes) for op in ops),
            sum(min(p[op][1] for p in passes) for op in ops),
        )

    def end_to_end(self, seconds: float, setup_s: float) -> dict[str, float]:
        wall, cpu = self.fastest(self.passes(self.pass_count(seconds, MIN_PASSES), traced=False))
        return {
            "rows_per_s": self.source_rows / wall,
            "pass_s": wall,
            "cpu_s": cpu,
            "setup_s": setup_s,
        }

    # -- traced run -----------------------------------------------------

    def per_layer(self, seconds: float) -> dict[str, float]:
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        metrics["session.get_spark_s"] = self.tracer.durations("session.get_spark")[0]
        untraced = self.passes(self.pass_count(seconds / 2), traced=False)

        self.spark.stop()
        self.start_session(event_log=True)
        listener = _progress_listener(self.spark)
        # start the Python workers before timing, as the gate did for
        # the untraced passes
        _run_to_noop(
            self.spark.range(0, 4 * self.cores, numPartitions=self.cores).mapInPandas(
                lambda it: it, "id long"
            )
        )
        traced = self.passes(self.pass_count(seconds / 2), traced=True)
        n = len(traced)
        wall = sum(w for p in traced for w, _ in p.values())
        metrics["trace.overhead_s"] = self.fastest(traced)[0] - self.fastest(untraced)[0]
        for op in self.order:
            metrics[f"queries.{op}_s"] = tracing.median(self.tracer.durations(f"queries.{op}"))

        sc = self.spark.sparkContext
        from etl_ch_destination_spark.catalog import load_table

        sc.setJobGroup("catalog", "catalog")
        for t in self.wl.tables():
            with self.tracer.span("catalog.load_table"):
                _run_to_noop(load_table(self.spark, self.data_dir, t))
        metrics["catalog.load_table_s"] = sum(self.tracer.durations("catalog.load_table"))
        if "job_batch_etl" in self.order:
            metrics.update(self._batch_etl_layers())
            metrics["streaming.epoch_ms"] = tracing.median(listener.durations)
            metrics["streaming.epochs"] = len(listener.durations) / n
            metrics["streaming.input_rows"] = listener.input_rows / n
        metrics.update(sinkbench.measure(self.tracer))
        metrics["peak_rss_mb"] = tracing.tree_peak_rss_mb()

        sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark.streams.removeListener(listener)
        self.spark.stop()
        folds, jobs = {}, {}
        for log in (WORK / "eventlog").iterdir():
            folds, jobs = tracing.fold_event_log(str(log))
            log.unlink()
        total = tracing.Fold()
        for op in self.order:
            f = folds.get(op, tracing.Fold())
            total.add(f)
            for name in SPARK_PER_OP:
                metrics[f"spark.{op}.{name}"] = getattr(f, name) / n
        for name in SPARK_PER_WORKLOAD[:-1]:
            metrics[f"spark.{name}"] = getattr(total, name) / n
        metrics["spark.sched_gap_ms"] = (wall * 1000 * self.cores - total.run_ms) / n
        extract = jobs.get("jobs.batch_etl.run")
        if extract:
            metrics["jobs.batch_etl.extract_tasks"] = extract[0]
        return metrics

    def _batch_etl_layers(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from etl_ch_destination_spark.catalog import load_table
        from etl_ch_destination_spark.jobs.batch_etl import run_batch_etl
        from etl_ch_destination_spark.ops.dedup import latest_by_key

        sc = self.spark.sparkContext
        out: dict[str, float] = {}
        sc.setJobGroup("jobs.batch_etl.run", "jobs.batch_etl.run")
        with self.tracer.span("jobs.batch_etl.run"):
            report = run_batch_etl(self.spark, self.data_dir, str(WORK / "scratch" / "layer_etl"))
        sc.setJobGroup("jobs.batch_etl.verify", "jobs.batch_etl.verify")
        with self.tracer.span("jobs.batch_etl.verify"):
            _run_to_noop(report)
        sc.setJobGroup("ops.dedup", "ops.dedup")
        events = load_table(self.spark, self.data_dir, "events")
        kept = latest_by_key(events, ["event_id"], [F.asc("ts")])
        with self.tracer.span("ops.dedup.latest_by_key"):
            _run_to_noop(kept)
        out["ops.dedup.kept_ratio"] = kept.count() / events.count()
        for name in ("jobs.batch_etl.run", "jobs.batch_etl.verify", "ops.dedup.latest_by_key"):
            out[f"{name}_s"] = self.tracer.durations(name)[0]
        return out

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process started under it,
        and wait until each has ended."""
        from pyspark import SparkContext

        children = [p for p in tracing.tree_pids() if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=15)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        _await_exit(children, timeout=10)


def _run_to_noop(df) -> None:
    """Run the whole plan of ``df`` and discard its rows."""
    df.write.mode("overwrite").format("noop").save()


def _progress_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.durations: list[float] = []
            self.input_rows = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.durations.append(event.progress.durationMs.get("triggerExecution", 0))
            self.input_rows += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def _alive(pid: int) -> bool:
    st = tracing.proc_stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def _await_exit(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test and the oracle helpers come from the checkout
    for path in (ROOT, ROOT / "tools"):
        sys.path.insert(0, str(path))
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    bench = Bench(WORKLOADS[args.workload], args.seed, cores)
    try:
        setup_s = bench.setup()
        if args.trace:
            metrics, units = bench.per_layer(args.seconds), per_layer_units()
        else:
            metrics, units = bench.end_to_end(args.seconds, setup_s), END_TO_END_UNITS
    finally:
        bench.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK.parent.rmdir()
    detail = {
        "workload": bench.wl.name,
        "inputs": gen.describe(args.seed, bench.wl.sizes),
        "cores": cores,
        "order": bench.order,
        "rows": bench.rows,
        "source_rows_per_pass": bench.source_rows,
        "passes": bench.pass_log,
        "setup_spans": {
            s.name: s.duration for s in bench.tracer.spans if s.name.startswith(("setup.", "session."))
        },
    }
    print("detail " + json.dumps(detail))
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
