"""Benchmark of the engine: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload query_sweep --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` (deleted on exit), starts a ``local[nproc]``
session several times and keeps the last one, makes one untimed warm pass
over the workload's operations, then runs whole timed passes, one
operation at a time, until ``--seconds`` have passed (at least three
passes). A host probe before each timed operation puts every end-to-end
time on a reference host speed (see ``host_probe``).
Every operation's output is fingerprinted on the warm pass, checked
against the registered DuckDB oracle where one exists, and compared again
after the timed passes; raises and mismatches count as ``failed``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (job-group-tagged Spark event log plus
spans around each layer's entry points; see ``tracing.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pinterest_data_pipeline_spark"
WORKLOADS = ("query_sweep", "daily_ingest")
SETUPS = 3
#: Passes keep getting faster for the first few (JIT, caches), and each
#: operation's fastest run is the one reported, so every run must time the
#: same passes whatever the host speed: at least three, in a window short
#: enough that three nearly always fill it.
MIN_PASSES = 3
#: The host probe (``host_probe``) and its wall time on an idle 4-vCPU
#: Xeon VM. The host is shared: its speed swings by up to 2x for minutes
#: at a time, far beyond the bounds in ``BENCHMARK.json``, so every
#: end-to-end time is scaled by PROBE_REF_S / (median probe of the run),
#: i.e. reported in seconds at the reference host speed.
PROBE_LONGS = 2_000_000
PROBE_SEED = 7
PROBE_REF_S = 0.14
PROBE_WARMUP = 3

END_TO_END = {
    "setup_s": "s",
    "workload_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "setup.warm_pass_s": "s",
    "trace.workload_s": "s",
    "trace.op_p50_s": "s",
    "host.probe_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_nonload_s": "s",
    "operators.barriers": "count",
    "operators.barrier_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.empty_task_frac": "ratio",
    "exec.driver_gap_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.fetch_wait_s": "s",
    "exec.spill_bytes": "B",
    "exec.task_skew": "ratio",
    "python.start_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers it forks), sampled from /proc while the
    timed passes run."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def _tree_rss(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total


    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def configure_env(work: str) -> None:
    """Fit the session to this host through the engine's own settings."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(512, min(1024, total_mb // 4))}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    return conf


def start_python_workers(spark) -> None:
    """Start the Python worker pool, one worker per core."""
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()


def stop_jvm() -> None:
    """End the driver JVM and wait for it. It exits when its stdin closes;
    PySpark keeps the launched process as ``SparkContext._gateway.proc``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_probe(spark) -> float:
    """Wall seconds of a fixed CPU-bound job in the driver JVM that no
    engine or Spark setting touches: sort PROBE_LONGS seeded random longs
    on the JVM's common fork-join pool, which spans every core."""
    jvm = spark.sparkContext._jvm
    t0 = time.perf_counter()
    jvm.java.util.Arrays.parallelSort(
        jvm.java.util.SplittableRandom(PROBE_SEED).longs(PROBE_LONGS).toArray()
    )
    return time.perf_counter() - t0


def oracle_rows(sf_dir: str, tables: list[str], sql: str) -> list[tuple]:
    import duckdb

    from fingerprint import normalize

    con = duckdb.connect()
    try:
        con.execute("PRAGMA threads=2")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        cur = con.execute(sql)
        return normalize([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


def run(args) -> dict:
    import datagen
    import workloads
    from fingerprint import fingerprint, normalize, same_rows
    from tracing import Tracer, layer_metrics, parse_event_log, wrap_barriers, wrap_load_table

    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    sampler = RssSampler()
    spark = None
    try:
        configure_env(work)
        scales = [workloads.ITERATIVE_SCALE]
        if args.workload == "query_sweep":
            scales.append(workloads.RELATIONAL_SCALE)
        sf_dirs = {sf: os.path.join(work, f"sf{sf}") for sf in scales}
        table_rows = {d: datagen.write_tables(d, args.seed, sf) for sf, d in sf_dirs.items()}
        small_dir = sf_dirs[workloads.ITERATIVE_SCALE]

        tracer = Tracer(enabled=False)  # switched on once the session is up
        sys.path.insert(0, ROOT)
        unwrap_load = wrap_load_table(tracer, table_rows)  # before plan imports
        import __spark_entry__  # noqa: F401  populates the query registry
        from pinterest_data_pipeline_spark.plans.registry import ORACLE
        from pinterest_data_pipeline_spark.session import get_spark

        # --- set-up, several times; the last session runs the workload
        t_setup = time.perf_counter()
        conf = session_conf(work, traced)
        starts, warms = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            t1 = time.perf_counter()
            spark.read.parquet(os.path.join(small_dir, "nation.parquet")).count()
            starts.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
        t0 = time.perf_counter()
        if args.workload == "daily_ingest":  # the only one that runs Python workers
            start_python_workers(spark)
        python_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        tracer.enabled = traced
        if traced:
            wrap_barriers(tracer, type(spark.range(1)))

        if args.workload == "daily_ingest":
            ops = workloads.ingest_ops(spark, os.path.join(work, "ingest"), args.seed, tracer)
            pass_rows = len(workloads.TOPICS) * workloads.INGEST_ROWS
        else:
            ops = workloads.query_ops(spark, sf_dirs, args.seed, tracer)

        attempted = failed = 0
        reference: dict[str, list[tuple]] = {}

        def check(op, df, phase: str) -> bool:
            rows = normalize(df.columns, df.collect())
            if op.expect_rows is not None and len(rows) != op.expect_rows:
                log(f"{op.name}: {phase} returned {len(rows)} rows, expected {op.expect_rows}")
                return False
            if op.name not in reference:
                reference[op.name] = rows
                log(f"{op.name}: fingerprint {fingerprint(rows)}")
                return True
            if same_rows(rows, reference[op.name]):
                return True
            log(f"{op.name}: {phase} fingerprint {fingerprint(rows)} != "
                f"{fingerprint(reference[op.name])}")
            return False

        # --- warm pass (untimed, part of set-up): reference fingerprints
        t_warm = time.perf_counter()
        tracer.counters.clear()
        warm_pass_s = 0.0
        for op in ops:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.op(f"0:{op.name}", op.name):
                    df = op.run()
                warm_pass_s += time.perf_counter() - t0
                failed += not check(op, df, "warm pass")
            except Exception:  # noqa: BLE001 - one bad op must not end the run
                failed += 1
                log(f"{op.name}: warm pass raised\n{traceback.format_exc()}")
        if args.workload != "daily_ingest":
            pass_rows = tracer.counters["rows_loaded"]
        if not traced:
            unwrap_load()
        tracer.counters.clear()
        tracer.stream_batches_s.clear()

        for _ in range(PROBE_WARMUP):  # JIT-compile the probe itself
            host_probe(spark)

        # --- timed passes, each operation preceded by a host probe
        passes: list[float] = []
        latencies: dict[str, list[float]] = {op.name: [] for op in ops}
        last: dict[str, object] = {}
        probes: list[float] = []
        sampler.start()
        window0 = time.perf_counter()
        while True:
            p = len(passes) + 1
            t_pass = time.perf_counter()
            for op in ops:
                attempted += 1
                probes.append(host_probe(spark))
                t0 = time.perf_counter()
                try:
                    with tracer.op(f"{p}:{op.name}", op.name):
                        last[op.name] = op.run()
                    latencies[op.name].append(time.perf_counter() - t0)
                except Exception:  # noqa: BLE001
                    failed += 1
                    log(f"{op.name}: pass {p} raised\n{traceback.format_exc()}")
            passes.append(time.perf_counter() - t_pass)
            elapsed = time.perf_counter() - window0
            if len(passes) >= MIN_PASSES and elapsed >= args.seconds:
                break
        sampler.stop()
        peak_rss = sampler.peak_bytes
        t_checks = time.perf_counter()

        # --- output checks (untimed): last timed result and oracle per op
        for op in ops:
            if op.name in last:
                try:
                    failed += not check(op, last[op.name], "timed pass")
                except Exception:  # noqa: BLE001
                    failed += 1
                    log(f"{op.name}: output check raised\n{traceback.format_exc()}")
            sql = ORACLE.get(op.name)
            if sql is not None and op.sf_dir is not None and op.name in reference:
                try:
                    expected = oracle_rows(op.sf_dir, list(table_rows[op.sf_dir]), sql)
                except Exception:  # noqa: BLE001
                    expected = None
                    log(f"{op.name}: oracle raised\n{traceback.format_exc()}")
                if expected is None or not same_rows(reference[op.name], expected):
                    failed += 1
                    log(f"{op.name}: differs from its DuckDB oracle")

        # One pass at its best: the sum of each operation's fastest timed run,
        # which draws the pass from the quietest moments of the window.
        # Everything is then put on the reference host speed.
        probe_s = statistics.median(probes)
        speed = PROBE_REF_S / probe_s
        fastest = [min(v) * speed for v in latencies.values() if v]
        workload_s = sum(fastest)
        log("op medians " + " ".join(
            f"{k}={statistics.median(v):.3f}" for k, v in latencies.items() if v))
        log(f"phases: start {t_setup - T0:.1f}s, set-ups {t_warm - t_setup:.1f}s, "
            f"warm pass+checks {window0 - t_warm:.1f}s, timed {t_checks - window0:.1f}s, "
            f"checks {time.perf_counter() - t_checks:.1f}s")
        log(f"passes {[round(x, 3) for x in passes]} ops {sum(map(len, latencies.values()))} "
            f"setups {[round(a + b, 3) for a, b in zip(starts, warms)]} warm pass {warm_pass_s:.3f}")
        log(f"host probe median {probe_s:.4f}s over {len(probes)}, "
            f"min {min(probes):.4f}s, max {max(probes):.4f}s: times x{speed:.3f}")
        if not traced:
            metrics = {
                "setup_s": speed * (statistics.median(a + b for a, b in zip(starts, warms))
                                    + python_start_s + warm_pass_s),
                "workload_s": workload_s,
                "rows_per_s": pass_rows / workload_s,
                "peak_rss_mb": peak_rss / 2**20,
            }
            units = END_TO_END
        else:
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            path = os.path.join(work, "eventlog", app_id)
            with open(path) as f:
                parsed = parse_event_log(f)
            os.remove(path)
            timed = {f"{p}:{op.name}" for p in range(1, len(passes) + 1) for op in ops}
            metrics = layer_metrics(parsed, tracer.spans, timed, len(passes))
            n = len(passes)
            sink_s = sum(s[4] - s[3] for s in tracer.spans if s[0] == "sink" and s[2] in timed)
            c = tracer.counters
            metrics.update({
                "session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warms) + python_start_s,
                "setup.warm_pass_s": warm_pass_s,
                "trace.workload_s": workload_s,
                "trace.op_p50_s": statistics.median(fastest),
                "host.probe_s": probe_s,
                "sinks.write_s": sink_s / n,
                "sinks.bytes_written": c["sink_bytes"] / n,
                "sinks.files_written": c["sink_files"] / n,
                "sinks.bytes_per_input_byte": (
                    c["compact_out_bytes"] / c["compact_in_bytes"] if c["compact_in_bytes"] else 0.0
                ),
                "streaming.batches": len(tracer.stream_batches_s) / n,
                "streaming.batch_p50_s": statistics.median(tracer.stream_batches_s or [0.0]),
            })
            units = PER_LAYER
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found beside {os.path.basename(HERE)}/; run from a full checkout")
        return 2
    result = run(args)
    log(f"total {time.perf_counter() - T0:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
