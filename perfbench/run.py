"""Benchmark driver: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. The run

1. generates its inputs from ``--seed`` under ``perfbench/.work``;
2. sets up: imports the package and starts ``get_spark`` on
   ``local[<cores>]``. ``setup_s`` is the median time of this set-up and
   of two more, each in a fresh child process;
3. runs whole passes from cold until ``--seconds`` have passed (closed
   loop, one client);
4. checks every output against DuckDB (queries: each registry oracle;
   pipeline: the DQ dicts and curated files);
5. prints one JSON line, last on stdout, and writes a fuller record to
   ``perfbench/results/``, named by workload, seed and config.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, traces the same timed window, then runs three warm
passes (traced, untraced, traced) for the tracing overhead and the
repeat check of build counts, and reports the per-layer metrics; the
spans go to a ``-spans.json`` file beside the record.

Exit code 2, with no result line, when the package is not in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_challenge_localiza_spark"

#: scale factor of the generated query tables and rows of the pipeline CSV
QUERY_SF = 0.01
PIPELINE_ROWS = 500_000
#: a tail percentile needs this many samples above it
TAIL_BEYOND = 10
#: set-ups timed in child processes besides the run's own
SETUP_PROBES = 2

#: every workload run.py can run; BENCHMARK.json lists the ones the
#: benchmark gates on
WORKLOADS = ("etl_pipeline", "sql_analytics", "llm_curation", "sql_known_mismatch")

END_TO_END_UNITS = {"setup_s": "s", "qps": "1/s", "latency_p50_s": "s",
                    "latency_tail_s": "s"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it, as (value, percentile); the maximum while that percentile would
    be below p90 (fewer than ``10 * TAIL_BEYOND`` samples)."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 10 * TAIL_BEYOND:
        return xs[-1], 100.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def configure_env(work: str, trace: bool, n_cores: int) -> str:
    """Point every scratch file of Spark and Python into ``work``; returns
    the event log dir."""
    tmp, local, evlog = (os.path.join(work, d) for d in ("tmp", "spark-local", "eventlog"))
    for d in (tmp, local, evlog):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    confs = {"spark.local.dir": local, "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evlog,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    return evlog


def generate(kind: str, path: str, seed: int, size: float) -> dict:
    """Write the inputs in a child process (``datagen.py``), so that its
    memory does not count in this process's peak; returns its counts."""
    proc = subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), kind, path,
                           str(seed), str(size)], stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def setup_probe() -> float:
    """Seconds one fresh process takes to import the package and start
    ``get_spark`` (``setup_probe.py``)."""
    proc = subprocess.run([sys.executable, os.path.join(HERE, "setup_probe.py")],
                          stdout=subprocess.PIPE, text=True, check=True, timeout=150)
    return float(proc.stdout.strip().splitlines()[-1])


def rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def result_path(tag: str, kind: str = "") -> str:
    """A new file under ``perfbench/results`` for this run; a repeat of
    the same workload, seed and config gets a numbered name rather than
    replacing the earlier one."""
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    n = 1
    while True:
        path = os.path.join(results, f"{tag}{kind}{'' if n == 1 else f'-{n}'}.json")
        if not os.path.exists(path):
            return path
        n += 1


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def window_stats(win: dict, failed_names) -> dict:
    lat = [t for _, t, _ in win["ops"]]
    value, pct = tail(lat)
    failed = sum(1 for name, _, ok in win["ops"] if not ok or failed_names(name))
    return {"op_latencies": [[name, t] for name, t, _ in win["ops"]],
            "ops": len(lat), "failed": failed, "passes": win["passes"],
            "wall_s": win["wall_s"], "qps": len(lat) / win["wall_s"],
            "latency_p50_s": statistics.median(lat), "latency_tail_s": value,
            "tail_percentile": pct}


def timed_windows(args, wl, tracer, inputs: dict, jvm_pid: int) -> tuple[dict, float]:
    """The timed window, from cold; with tracing, also the warm passes.
    Also returns the peak resident memory at the end of the timed window."""
    import workloads

    if not args.trace:
        timed = workloads.run_window(wl, args.seconds, tracer)
        return {"timed": timed}, rss_mb(jvm_pid)

    def after_op(root):
        if args.workload == "etl_pipeline":
            _, _, data_dir, curated_dir = wl.calls[-1]
            root["bytes_written"] = (dir_bytes(data_dir) + dir_bytes(curated_dir)) \
                / inputs["csv_bytes"]
        else:
            root["cache_bytes"] = tracer.storage_bytes()

    # The traced window is the one the untraced run times; its spans give
    # the per-layer metrics. Three warm passes follow: traced, untraced,
    # traced. The untraced one is the baseline for the tracing overhead,
    # and the two traced ones are compared for repeatable build counts.
    tracer.install()
    try:
        cold = workloads.run_window(wl, args.seconds, tracer, after_op=after_op)
        peak_rss = rss_mb(jvm_pid)
        n = cold["passes"]
        warm = []
        for i, enabled in enumerate((True, False, True)):
            tracer.enabled = enabled
            warm.append(workloads.run_window(wl, 0, tracer, first_pass=n + i))
    finally:
        tracer.uninstall()
    return {"traced": cold, "warm_untraced": warm[1],
            "warm_traced": {"ops": warm[0]["ops"] + warm[2]["ops"],
                            "wall_s": warm[0]["wall_s"] + warm[2]["wall_s"],
                            "passes": 2}}, peak_rss


def check_outputs(args, wl, n_cores: int, input_path: str, record: dict) -> None:
    """Check every op's output against DuckDB; a mismatch marks the op
    failed. Also records DuckDB's time for the same work."""
    import checks

    con = checks.connect(n_cores)
    try:
        if args.workload == "etl_pipeline":
            t0 = time.perf_counter()
            expected = checks.pipeline_expected(con, input_path)
            record["duckdb_control"] = {"duckdb_s": time.perf_counter() - t0}
            wl.check(con, expected)
            return
        from tests.oracle_harness import compare

        from etl_challenge_localiza_spark.sources.readers import TESTDATA_TABLES

        oracles = {q.name: q.oracle for q in wl.queries if q.oracle is not None}
        expected, duck_s = checks.query_oracles(con, input_path, TESTDATA_TABLES, oracles)
        for name, pdfs in wl.results.items():
            for pdf in pdfs if name in oracles else ():
                problems = compare(name, pdf, expected[name])
                if problems:
                    print(f"perfbench: {name} mismatches its oracle: {problems}",
                          file=sys.stderr)
                    wl.bad.add(name)
        record["unchecked"] = sorted(q.name for q in wl.queries if q.name not in oracles)
        record["duckdb_control"] = {"duckdb_pass_s": sum(duck_s.values()), "per_query": duck_s}
    finally:
        con.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--query-sf", type=float, default=QUERY_SF)
    ap.add_argument("--pipeline-rows", type=int, default=PIPELINE_ROWS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    n_cores = cores()
    size = (f"rows{args.pipeline_rows}" if args.workload == "etl_pipeline"
            else f"sf{args.query_sf:g}")
    tag = (f"{args.workload}-seed{args.seed}-trace{args.trace}-cpus{n_cores}-{size}"
           f"-s{args.seconds:g}")
    work = os.path.join(HERE, ".work", tag)
    shutil.rmtree(work, ignore_errors=True)
    evlog = configure_env(work, bool(args.trace), n_cores)

    if args.workload == "etl_pipeline":
        input_path = os.path.join(work, "input", "transactions.csv")
        inputs = generate("csv", input_path, args.seed, args.pipeline_rows)
        inputs["rows"] = args.pipeline_rows
        inputs["csv_bytes"] = os.path.getsize(input_path)
    else:
        input_path = os.path.join(work, "tables")
        inputs = {"sf": args.query_sf,
                  "rows": generate("tables", input_path, args.seed, args.query_sf)}

    # -- set-up: import the package, start the session -----------------------
    # A fresh process pays this once. It is timed in SETUP_PROBES child
    # processes, then here; setup_s is the median of them all.
    setups = [setup_probe() for _ in range(SETUP_PROBES)]
    t_setup = time.perf_counter()
    import workloads
    from tracing import LAYER_UNITS, NullTracer, Tracer, layer_metrics, read_event_log

    from etl_challenge_localiza_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{tag}")
    setups.append(time.perf_counter() - t_setup)
    setup_s = statistics.median(setups)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cpus": n_cores, "seconds": args.seconds, "inputs": inputs,
                    "setup_s": setup_s, "setups": setups}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.workload == "etl_pipeline":
            wl = workloads.PipelineWorkload(spark, input_path, os.path.join(work, "out"))
        else:
            names = {"sql_analytics": workloads.SQL_ANALYTICS,
                     "llm_curation": workloads.LLM_CURATION,
                     "sql_known_mismatch": workloads.KNOWN_MISMATCH}[args.workload]
            wl = workloads.QueryWorkload(spark, names, input_path, tracer)
        windows, peak_rss = timed_windows(args, wl, tracer, inputs,
                                          spark.sparkContext._gateway.proc.pid)
        t_check = time.perf_counter()
        check_outputs(args, wl, n_cores, input_path, record)
        record["failed_outputs"] = sorted(wl.bad)
        record["check_s"] = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        record["stop_s"] = time.perf_counter() - t_stop

    stats = {k: window_stats(w, wl.op_failed) for k, w in windows.items()}
    record["windows"] = stats
    main_win = stats["traced" if args.trace else "timed"]
    control = record["duckdb_control"]
    spark_pass_s = main_win["wall_s"] / main_win["passes"]
    control["spark_pass_s"] = spark_pass_s
    control["ratio"] = spark_pass_s / (control.get("duckdb_pass_s") or control.get("duckdb_s"))

    if args.trace:
        tracer.dump(result_path(tag, "-spans"))
        n = windows["traced"]["passes"]
        metrics = layer_metrics(tracer.spans, read_event_log(evlog), n_cores,
                                set(range(n)), (n, n + 2))
        metrics["trace.overhead_ratio"] = (stats["warm_traced"]["latency_p50_s"]
                                           / stats["warm_untraced"]["latency_p50_s"] - 1.0)
        metrics["control.duckdb_ratio"] = control["ratio"]
        metrics["memory.peak_rss_mb"] = peak_rss
        units = LAYER_UNITS
    else:
        metrics = {"setup_s": setup_s,
                   **{k: main_win[k] for k in ("qps", "latency_p50_s", "latency_tail_s")}}
        units = END_TO_END_UNITS
    attempted, failed = main_win["ops"], main_win["failed"]
    record["error_rate"] = failed / attempted
    record["peak_rss_mb"] = peak_rss
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}}
    record["result"] = out
    with open(result_path(tag), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
