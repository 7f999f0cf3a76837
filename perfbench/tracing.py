"""In-memory span tracer for the benchmark's traced run.

Spans are recorded around calls into the program's public functions,
from here, by replacing those functions for the life of a ``Tracer``:

- ``session``: ``tune``
- ``registry``: ``Query.fn`` (the benchmark opens this span itself)
- ``sources``: every public function of ``sources.readers`` and
  ``sources.sinks``
- ``plans``: ``run_pipeline`` and its stages (``dq_profile``,
  ``clean_transactions``)
- ``spark``: DataFrame actions and writer saves, i.e. Catalyst planning
  and execution. A span's planning part ends when Spark posts the SQL
  execution start for its job group (the event is posted once the
  physical plan exists); the rest is execution.

A span holds its name, start, end, parent, op id, the py4j *call*
commands sent while it was the innermost span, and the Spark job ids
of its job group (read from ``statusTracker`` after each op). Stage and
task metrics come from the Spark event log, which the traced run
enables; ``read_event_log`` parses it after the session stops.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "etl_challenge_localiza_spark"

#: Every per-layer metric with its unit; ``layer_metrics`` reports all
#: of them, 0 where a layer takes no part in the workload.
LAYER_UNITS = {
    "session.tune_calls": "count", "session.tune_s": "s",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "registry.build_py4j_calls": "count",
    "sources.load_table_calls": "count", "sources.load_table_hit_ratio": "ratio",
    "sources.load_table_s": "s", "sources.spread_small_scan_s": "s",
    "sources.sink_s": "s", "sources.bytes_written": "B/B",
    "plans.dq_pre_s": "s", "plans.clean_s": "s", "plans.dq_post_s": "s",
    "plans.publish_s": "s",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.exec_share": "ratio", "spark.core_busy_ratio": "ratio", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.gc_s": "s", "spark.cache_bytes": "B",
    "trace.layer_cover_min": "ratio", "trace.build_jobs_repeat": "ratio",
    "trace.build_py4j_repeat": "ratio",
    "trace.overhead_ratio": "ratio",
    "control.duckdb_ratio": "ratio", "memory.peak_rss_mb": "MB",
}

#: DataFrame / DataFrameWriter methods that run Spark jobs.
DF_ACTIONS = ("collect", "count", "first", "head", "take", "toPandas", "isEmpty",
              "foreach", "toLocalIterator", "checkpoint", "localCheckpoint")
WRITER_ACTIONS = ("save", "parquet", "csv", "json", "orc", "text",
                  "saveAsTable", "insertInto")


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextmanager
    def op(self, name: str, pass_no: int = 0):
        yield

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        yield


class Tracer:
    """Records spans between ``install`` and ``uninstall`` while ``enabled``;
    switched off, the replaced functions pass straight through, so
    untraced ops can run in the same process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = True
        self._own = 0  # >0 while the tracer itself talks to the JVM
        self._patches: list[tuple[object, str, object]] = []
        self._op_id = -1
        self._pass = 0

    # -- span recording -------------------------------------------------
    def _set_group(self, span: dict | None) -> None:
        self._own += 1
        try:
            if span is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc._jsc.setJobGroup(span["group"], span["name"], False)
        finally:
            self._own -= 1

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled or not self.stack:
            yield
            return
        parent = self.stack[-1]
        sp = {"id": len(self.spans), "name": name, "parent": parent["id"],
              "op": self._op_id, "pass": self._pass, "py4j": 0, "jobs": [],
              "group": None}
        self.spans.append(sp)
        if jobs:
            sp["group"] = f"bench-span-{sp['id']}"
            self._set_group(sp)
        self.stack.append(sp)
        sp["epoch_ms"] = time.time() * 1000.0
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self.stack.pop()
            if jobs:
                self._set_group(next((s for s in reversed(self.stack) if s["group"]), None))

    @contextmanager
    def op(self, name: str, pass_no: int = 0):
        """Root span of one query or pipeline call; its self time is the
        benchmark's own glue between the layer spans."""
        if not self.enabled:
            yield
            return
        self._op_id += 1
        self._pass = pass_no
        sp = {"id": len(self.spans), "name": "bench.op", "op_name": name,
              "parent": None, "op": self._op_id, "pass": pass_no, "py4j": 0,
              "jobs": [], "group": f"bench-span-{len(self.spans)}"}
        self.spans.append(sp)
        self._set_group(sp)
        self.stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group(None)
            self._collect_jobs(sp["op"])

    def _collect_jobs(self, op_id: int) -> None:
        self._own += 1
        try:
            tracker = self.sc._jsc.sc().statusTracker()
            for sp in reversed(self.spans):
                if sp["op"] != op_id:
                    break
                if sp["group"]:
                    sp["jobs"] = list(tracker.getJobIdsForGroup(sp["group"]))
        finally:
            self._own -= 1

    def storage_bytes(self) -> int:
        """Storage memory held by cached RDD blocks right now."""
        self._own += 1
        try:
            return sum(int(i.memSize()) for i in self.sc._jsc.sc().getRDDStorageInfo())
        finally:
            self._own -= 1

    # -- function replacement -------------------------------------------
    def _replace(self, owner: object, attr: str, new: object) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, func, span_name, jobs: bool = True, on_result=None):
        """``func`` inside a span; ``on_result(span, result)`` runs after
        each traced call."""
        tracer = self

        @functools.wraps(func)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return func(*args, **kwargs)
            with tracer.span(span_name(args, kwargs) if callable(span_name) else span_name,
                             jobs) as sp:
                result = func(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, result)
                return result

        return traced

    def patch_function(self, module, name: str, span_name, jobs: bool = True,
                       on_result=None, everywhere: bool = True) -> None:
        """Replace ``module.name`` in the defining module and, with
        ``everywhere``, in every package module that imported it by name."""
        orig = getattr(module, name)
        new = self.wrap(orig, span_name, jobs, on_result)
        if not everywhere:
            self._replace(module, name, new)
            return
        for mod_name, mod in list(sys.modules.items()):
            if mod is not None and mod_name.startswith(PACKAGE) and \
                    getattr(mod, name, None) is orig:
                self._replace(mod, name, new)

    def patch_method(self, cls, name: str, span_name: str) -> None:
        self._replace(cls, name, self.wrap(cls.__dict__[name], span_name))

    def _count_py4j(self) -> None:
        from py4j.clientserver import JavaClient

        orig = JavaClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if tracer.enabled and not tracer._own and tracer.stack and \
                    command.startswith("c\n"):
                tracer.stack[-1]["py4j"] += 1
            return orig(client, command, *args, **kwargs)

        self._replace(JavaClient, "send_command", send_command)

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        session = importlib.import_module(f"{PACKAGE}.session")
        readers = importlib.import_module(f"{PACKAGE}.sources.readers")
        sinks = importlib.import_module(f"{PACKAGE}.sources.sinks")
        pipeline = importlib.import_module(f"{PACKAGE}.plans.pipeline")

        self.patch_function(session, "tune", "session.tune", jobs=False)
        seen_tables: set[int] = set()

        def table_hit(sp, df):
            sp["hit"] = id(df) in seen_tables
            seen_tables.add(id(df))

        for mod in (readers, sinks):
            for name, obj in vars(mod).items():
                if inspect.isfunction(obj) and not name.startswith("_") and \
                        obj.__module__ == mod.__name__:
                    self.patch_function(mod, name, f"sources.{name}",
                                        on_result=table_hit if name == "load_table" else None)

        def dq_stage(args, kwargs):
            done = sum(1 for s in self.spans if s["op"] == self._op_id
                       and s["name"] in ("plans.dq_pre", "plans.dq_post"))
            return "plans.dq_pre" if done == 0 else "plans.dq_post"

        def after_dq(sp, _metrics):
            if sp["name"] == "plans.dq_post":
                sp["cache_bytes"] = self.storage_bytes()

        # the stage functions count as the plans layer only when
        # run_pipeline calls them, not when a registry query does
        self.patch_function(pipeline, "run_pipeline", "plans.run_pipeline")
        self.patch_function(pipeline, "dq_profile", dq_stage, on_result=after_dq,
                            everywhere=False)
        self.patch_function(pipeline, "clean_transactions", "plans.clean", everywhere=False)
        for name in DF_ACTIONS:
            self.patch_method(DataFrame, name, f"spark.{name}")
        for name in WRITER_ACTIONS:
            self.patch_method(DataFrameWriter, name, f"spark.write_{name}")
        self._count_py4j()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover
    (children of one span never overlap: the program is single-threaded
    on the driver)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def read_event_log(log_dir: str) -> dict:
    """Job → stage ids, and per-stage task totals, from a Spark event log."""
    job_stages: dict[int, list[int]] = {}
    sql_start: dict[str, float] = {}  # job group → first SQL execution start (epoch ms)
    ran: set[int] = set()
    stage: dict[int, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif "SparkListenerSQLExecutionStart" in line:
                    ev = json.loads(line)
                    group = ev.get("jobGroupId")
                    if group and group not in sql_start:
                        sql_start[group] = ev["time"]
                elif '"SparkListenerStageCompleted"' in line:
                    ran.add(json.loads(line)["Stage Info"]["Stage ID"])
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    st = stage.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                        "spill_bytes": 0})
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"job_stages": job_stages, "ran": ran, "stage": stage, "sql_start": sql_start}


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


def layer_metrics(spans: list[dict], log: dict, cores: int, passes: set[int],
                  repeat_passes: tuple[int, ...]) -> dict[str, float]:
    """Per-pass layer totals over the spans of ``passes`` (see
    perfbench/README.md), and whether the build counts of
    ``repeat_passes`` are equal."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for c in children.get(s["id"], ()):
            yield from subtree(c)

    def build_counts(s) -> tuple[int, int]:  # jobs and py4j calls inside fn()
        sub = list(subtree(s))
        return sum(len(x["jobs"]) for x in sub), sum(x["py4j"] for x in sub)

    repeat = {p: [0, 0] for p in repeat_passes}
    for s in spans:
        if s["name"] == "registry.build" and s["pass"] in repeat:
            jobs, calls = build_counts(s)
            repeat[s["pass"]][0] += jobs
            repeat[s["pass"]][1] += calls
    spans = [s for s in spans if s["pass"] in passes]
    self_t = self_times(spans)

    def top_level(s) -> bool:  # outermost span of its layer
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        return p is None or _layer(p["name"]) != _layer(s["name"])

    roots = [s for s in spans if s["parent"] is None]
    n_pass = max(1, len(passes))
    per_pass: dict[int, dict[str, float]] = {p: {} for p in passes}

    def add(s, key, v):
        d = per_pass[s["pass"]]
        d[key] = d.get(key, 0.0) + v

    cover = []
    for r in roots:
        wall = r["end"] - r["start"]
        covered = sum(self_t[s["id"]] for s in subtree(r) if s is not r)
        cover.append(covered / wall if wall > 0 else 1.0)
    loads = [s for s in spans if s["name"] == "sources.load_table"]
    stage = log["stage"]
    exec_wall = 0.0
    for s in spans:
        dur = s["end"] - s["start"]
        name, layer = s["name"], _layer(s["name"])
        if name == "session.tune":
            add(s, "session.tune_calls", 1)
            add(s, "session.tune_s", self_t[s["id"]])
        elif name == "registry.build":
            add(s, "registry.build_s", self_t[s["id"]])
            jobs, calls = build_counts(s)
            add(s, "registry.build_jobs", jobs)
            add(s, "registry.build_py4j_calls", calls)
        elif name == "sources.load_table":
            add(s, "sources.load_table_calls", 1)
            add(s, "sources.load_table_s", dur)
        elif name == "sources.spread_small_scan":
            add(s, "sources.spread_small_scan_s", dur)
        elif name in ("sources.write_single_csv", "sources.write_json_metrics"):
            add(s, "sources.sink_s", dur)
        elif name in ("plans.dq_pre", "plans.clean", "plans.dq_post"):
            add(s, f"{name}_s", dur)
        elif layer == "spark" and top_level(s):
            planned = log["sql_start"].get(s["group"])
            plan = min(dur, max(0.0, (planned - s["epoch_ms"]) / 1000.0)) if planned else 0.0
            add(s, "spark.plan_s", plan)
            add(s, "spark.exec_s", dur - plan)
            exec_wall += dur - plan
        if name == "plans.run_pipeline":
            sinks = [x for x in subtree(s) if x["name"] == "sources.write_json_metrics"]
            if sinks:
                add(s, "plans.publish_s", s["end"] - max(x["end"] for x in sinks))
        stages = {st for j in s["jobs"] for st in log["job_stages"].get(j, ())
                  if st in log["ran"]}
        add(s, "spark.jobs", len(s["jobs"]))
        add(s, "spark.stages", len(stages))
        for st in stages:
            m = stage.get(st, {})
            add(s, "spark.tasks", m.get("tasks", 0))
            add(s, "spark.executor_run_s", m.get("run_s", 0.0))
            add(s, "spark.shuffle_bytes", m.get("shuffle_bytes", 0))
            add(s, "spark.spill_bytes", m.get("spill_bytes", 0))
            add(s, "spark.gc_s", m.get("gc_s", 0.0))
        if "bytes_written" in s:
            add(s, "sources.bytes_written", s["bytes_written"])

    out = {k: sum(d.get(k, 0.0) for d in per_pass.values()) / n_pass for k in LAYER_UNITS}
    run_s = sum(d.get("spark.executor_run_s", 0.0) for d in per_pass.values())
    out["spark.core_busy_ratio"] = run_s / (exec_wall * cores) if exec_wall > 0 else 0.0
    op_wall = sum(r["end"] - r["start"] for r in roots)
    out["spark.exec_share"] = exec_wall / op_wall if op_wall > 0 else 0.0
    out["sources.load_table_hit_ratio"] = (
        sum(1 for s in loads if s.get("hit")) / len(loads) if loads else 0.0)
    out["spark.cache_bytes"] = float(max((s.get("cache_bytes", 0) for s in spans), default=0))
    out["trace.layer_cover_min"] = min(cover) if cover else 0.0
    jobs, calls = ({c[i] for c in repeat.values()} for i in (0, 1))
    out["trace.build_jobs_repeat"] = float(len(repeat) >= 2 and len(jobs) == 1)
    out["trace.build_py4j_repeat"] = float(len(repeat) >= 2 and len(calls) == 1)
    return out
