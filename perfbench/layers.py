"""Per-layer metrics of the traced run.

The per-layer window is the cold pass plus the first warm pass, so
counts repeat exactly across traced runs at one seed whatever
``--seconds`` allows.  Sources:

* spans from ``spans.Tracer`` (io, plans, fragments, table_format,
  pipeline self times and counts);
* the Spark event log (jobs, stages, tasks, task run/CPU/GC time,
  shuffle and spill bytes), each job attributed to the operation
  phase (build or run) whose wall-clock interval contains its
  submission time;
* the JVM's codegen counters (``CodegenMetrics`` compilation count,
  ``CodeGenerator.compileTime``), read at window boundaries.
"""

from __future__ import annotations

import glob
import json
import os
import time

import spans as tracing

WINDOW_PASSES = (0, 1)

# Query families (plan modules) the frozen workloads draw from; every
# family gets a build_s and run_s metric on every workload.
FAMILIES = ("analytics", "dedup", "evaluation", "events", "parity", "quality",
            "relational", "similarity", "subqueries", "text", "warehouse")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {
        "session.get_spark_s": "s", "session.warmup_s": "s",
        "io.read_calls": "count", "io.read_s": "s",
        "plans.build_s": "s", "plans.run_s": "s",
        "plans.build_jobs": "count", "plans.run_jobs": "count",
        "plans.stages": "count", "plans.tasks": "count",
    }
    for fam in FAMILIES:
        units[f"plans.{fam}.build_s"] = "s"
        units[f"plans.{fam}.run_s"] = "s"
    units.update({
        "fragments.hits": "count", "fragments.misses": "count",
        "fragments.hit_ratio": "ratio", "fragments.fill_s": "s",
        "table_format.calls": "count", "table_format.commit_s": "s",
        "table_format.stage_s": "s", "table_format.merge_s": "s",
        "table_format.bytes_written_mb": "MB",
        "pipeline.extract_s": "s", "pipeline.transform_s": "s",
        "pipeline.load_csv_s": "s", "pipeline.load_json_s": "s",
        "pipeline.rows_loaded": "count",
        "spark.jobs": "count",
        "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB", "spark.codegen_classes": "count",
        "spark.codegen_compile_s": "s",
        # Traced end-to-end, for the overhead against an untraced run.
        "trace.cold_pass_s": "s", "trace.warm_pass_s": "s",
        "trace.bookkeeping_s": "s",
    })
    return units


class State:
    def __init__(self, spark) -> None:
        self.tracer = tracing.Tracer()
        # (kind, family or None, start, end) of window-pass phases
        self.phases: list[tuple[str, str | None, float, float]] = []
        self.window_end: int | None = None  # spans recorded in the window
        self.rows_loaded = 0
        cm, cg = _codegen(spark)
        self.codegen0 = (cm.METRIC_COMPILATION_TIME().getCount(), cg.compileTime())
        self.codegen1 = self.codegen0
        from mvp_mini_etl_pipeline_1762840347_spark.plans import fragments
        self.fragments = fragments
        self.frag0 = dict(fragments._STATS)
        self.frag1 = self.frag0


def _codegen(spark):
    jvm = spark._jvm
    return (jvm.org.apache.spark.metrics.source.CodegenMetrics,
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator)


def start(spark, enabled: bool) -> State | None:
    if not enabled:
        return None
    state = State(spark)
    tracing.install(state.tracer)
    return state


def begin_op(spark, state: State | None, k: int, op: str) -> None:
    if state is not None:
        state.tracer.op = f"p{k}:{op}"
    spark.sparkContext.setJobGroup(f"p{k}:{op}", f"perfbench pass {k} op {op}")


def phase(state: State | None, k: int, kind: str, family: str | None, fn):
    """Run ``fn`` as one phase of an operation: "build" or "run" of a
    query (``family`` is its plan module) or a whole non-query
    operation (``family`` None).  Window-pass phases record their
    wall-clock interval for job attribution."""
    if state is None:
        return fn()
    t0 = time.time()
    with state.tracer.span(f"plans.{kind}" if family else f"op.{kind}",
                           family=family):
        out = fn()
    if k in WINDOW_PASSES:
        state.phases.append((kind, family, t0, time.time()))
    return out


def end_op(spark, state: State | None) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    if state is not None:
        state.tracer.op = None


def end_pass(spark, state: State | None, k: int) -> None:
    if state is None:
        return
    if k == WINDOW_PASSES[-1]:
        cm, cg = _codegen(spark)
        state.codegen1 = (cm.METRIC_COMPILATION_TIME().getCount(), cg.compileTime())
        state.frag1 = dict(state.fragments._STATS)
        state.window_end = len(state.tracer.spans)


def _event_log_totals(evdir: str, state: State) -> dict[str, float]:
    """Job, stage and task totals of the jobs submitted inside window
    phases.  ``jobs`` and the task metrics cover every window phase;
    the build/run job, stage and task counts cover query phases only."""
    intervals = [(t0 * 1000.0, t1 * 1000.0, kind, fam)
                 for kind, fam, t0, t1 in state.phases]
    stage_is_plan: dict[int, bool] = {}
    out = {"jobs": 0, "build_jobs": 0, "run_jobs": 0, "stages": 0, "tasks": 0,
           "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_read": 0.0,
           "shuffle_write": 0.0, "spill": 0.0}
    for path in sorted(glob.glob(os.path.join(evdir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0)
                    hit = next(((k, fam) for a, b, k, fam in intervals
                                if a - 1 <= t <= b + 1), None)
                    if hit is None:
                        continue
                    out["jobs"] += 1
                    if hit[1]:
                        out[f"{hit[0]}_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_is_plan.setdefault(sid, bool(hit[1]))
                elif kind == "SparkListenerStageCompleted":
                    if stage_is_plan.get(ev["Stage Info"]["Stage ID"]):
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in stage_is_plan:
                        continue
                    if stage_is_plan[sid]:
                        out["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    out["run_ms"] += m.get("Executor Run Time", 0)
                    out["cpu_ns"] += m.get("Executor CPU Time", 0)
                    out["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["shuffle_read"] += sr.get("Remote Bytes Read", 0) + \
                        sr.get("Local Bytes Read", 0)
                    out["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    out["spill"] += m.get("Memory Bytes Spilled", 0) + \
                        m.get("Disk Bytes Spilled", 0)
    return out


def collect(state: State, evdir: str, setup: dict, cold_s: float, warm_s: float) -> dict:
    """Per-layer metrics (name -> (value, unit)) plus the span dump;
    ``cold_s`` and ``warm_s`` are the traced run's cold and warm pass
    times.  Call after the SparkContext has stopped (event log
    complete)."""
    state.tracer.unwrap()
    units = metric_units()
    m = {name: 0 if unit == "count" else 0.0 for name, unit in units.items()}
    m["session.get_spark_s"] = setup["get_spark_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    spans = state.tracer.spans[: state.window_end]
    for s in spans:
        n, self_s = s.name, s.self_s
        parent = spans[s.parent].name if s.parent is not None else ""
        if n.startswith("io."):
            m["io.read_s"] += self_s
            if not parent.startswith("io."):
                m["io.read_calls"] += 1
        elif n in ("plans.build", "plans.run"):
            kind = n.split(".")[1]
            m[f"plans.{kind}_s"] += self_s
            fam = s.attrs.get("family")
            if f"plans.{fam}.{kind}_s" in m:
                m[f"plans.{fam}.{kind}_s"] += self_s
        elif n == "fragments.cached_frame":
            if s.attrs.get("fill"):
                m["fragments.fill_s"] += self_s
        elif n.startswith("table_format."):
            m["table_format.calls"] += 1
            meth = n.rsplit(".", 1)[1]
            key = {"commit": "commit_s", "commit_staged": "commit_s",
                   "stage": "stage_s", "merge": "merge_s"}.get(meth)
            if key:
                m[f"table_format.{key}"] += self_s
            m["table_format.bytes_written_mb"] += s.attrs.get("bytes", 0) / 2**20
        elif n == "pipeline.extract":
            m["pipeline.extract_s"] += self_s
        elif n == "pipeline.transform":
            m["pipeline.transform_s"] += self_s
        elif n == "pipeline.load_csv":
            m["pipeline.load_csv_s"] += self_s
        elif n == "pipeline.load_json":
            m["pipeline.load_json_s"] += self_s
    m["pipeline.rows_loaded"] = state.rows_loaded
    hits = state.frag1["hits"] - state.frag0["hits"]
    misses = state.frag1["misses"] - state.frag0["misses"]
    m["fragments.hits"], m["fragments.misses"] = hits, misses
    m["fragments.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0

    ev = _event_log_totals(evdir, state)
    m["plans.build_jobs"] = ev["build_jobs"]
    m["plans.run_jobs"] = ev["run_jobs"]
    m["plans.stages"] = ev["stages"]
    m["plans.tasks"] = ev["tasks"]
    m["spark.jobs"] = ev["jobs"]
    m["spark.task_run_s"] = ev["run_ms"] / 1e3
    m["spark.task_cpu_s"] = ev["cpu_ns"] / 1e9
    m["spark.gc_s"] = ev["gc_ms"] / 1e3
    m["spark.shuffle_read_mb"] = ev["shuffle_read"] / 2**20
    m["spark.shuffle_write_mb"] = ev["shuffle_write"] / 2**20
    m["spark.spill_mb"] = ev["spill"] / 2**20
    m["spark.codegen_classes"] = state.codegen1[0] - state.codegen0[0]
    m["spark.codegen_compile_s"] = (state.codegen1[1] - state.codegen0[1]) / 1e9
    m["trace.cold_pass_s"] = cold_s
    m["trace.warm_pass_s"] = warm_s
    m["trace.bookkeeping_s"] = state.tracer.bookkeeping_s
    return {"metrics": {k: (m[k], u) for k, u in units.items()},
            "spans": state.tracer.dump()}
