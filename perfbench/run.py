"""Closed-loop benchmark runner: one client, one operation at a time.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One invocation is one fresh
Python + JVM process at ``local[N]`` (N <= nproc):

1. set-up: interpreter start -> ``session.get_spark`` -> warm-up (a
   trivial noop write and an identity ``mapInPandas``), timed as
   ``setup_s``;
2. inputs: ``etl_load`` generates its batches from the seed; the query
   workloads read the committed sf0.01 tables (not timed);
3. one cold pass over the workload's operations, then the workload's
   warm-up passes (run but not measured), then measured warm passes:
   ``ceil(--seconds / pass_s)`` of them, ``pass_s`` being the
   workload's warm pass time on a quiet 4-vCPU box, and at least the
   workload's minimum.  The warm metrics use the workload's
   ``kept_passes`` of them, the latest without host steal first;
4. output checks outside the timed passes (query results against their
   DuckDB oracles, computed once per invocation).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layers (``perfbench/spans.py``), enables the Spark event log
and prints the per-layer metrics instead.  The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
full artifact (per-operation walls, pass audit, failures, spans) is
written under ``.perfbench_work/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mvp_mini_etl_pipeline_1762840347_spark"

# Pinned environment (existing engine knobs).  Two cores at most, so
# the number is the same on any box with at least two.  At the sizes
# measured local[2] is as fast as local[4] (the work is driver-bound),
# and it leaves the other cores of a 4-vCPU box to the JIT and GC
# threads and the Python workers instead of contending with them.
CPUS = max(1, min(2, os.cpu_count() or 1))
DRIVER_MEM = "2g"
# A measured warm pass during which the host withheld at most this share
# of the vCPU time counts as unstolen (quiet passes read 0-1%).
STEAL_OK = 0.02
# The measured window never runs past this many seconds after process
# start, whatever --seconds says, so a run always ends well inside the
# 180 s a run may take.
HARD_STOP_S = 120.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports are counted)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def median(values: list[float]) -> float:
    # 0 only when every operation raised (the run is then not correct).
    return statistics.median(values) if values else 0.0


def tail_percentile(walls: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least 10 samples above it
    (nearest rank); falls back to the median below 20 samples."""
    w = sorted(walls)
    n = len(w)
    if n == 0:
        return 0.0, 50
    for p in range(99, 49, -1):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return w[rank - 1], p
    return statistics.median(w), 50


def steal_share(p: dict) -> float:
    """Share of the vCPU time during pass record ``p`` that the host
    withheld from this machine."""
    start, end = p["start"], p["end"]
    return (end["steal_s"] - start["steal_s"]) / (
        max(end["time_s"] - start["time_s"], 1e-9) * (os.cpu_count() or 1))


def mark_kept(passes: list[dict], n_kept: int) -> None:
    """Mark the ``n_kept`` measured warm passes the warm metrics use:
    the latest of those with at most STEAL_OK host steal, then, if too
    few, those with the least steal.  The choice reads the host's steal
    counter, never a pass's own time.  The host steals in bursts of a
    few seconds that slow every operation in them alike; a fixed count
    keeps the sample count (and the op_tail_s percentile) fixed."""
    measured = [p for p in passes if p["pass"] >= 1 and not p["warmup"]]

    def order(p):
        stolen = steal_share(p)
        return (stolen > STEAL_OK, stolen if stolen > STEAL_OK else -p["pass"])

    kept = sorted(measured, key=order)[:n_kept]
    for p in passes:
        p["kept"] = any(p is q for q in kept)


def end_to_end(setup_s: float, passes: list[dict], failed: int, attempted: int,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics (name -> (value, unit)) from the pass
    records: the seven, then the four timings again in CPU seconds;
    plus how ``op_tail_s`` was taken."""
    warm = [p for p in passes if p["kept"]]
    warm_walls = [w for p in warm for w in p["op_s"].values()]
    warm_cpus = [c for p in warm for c in p["op_cpu_s"].values()]
    tail, pct = tail_percentile(warm_walls)
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "op_p50_s": (median(warm_walls), "s"),
        "op_tail_s": (tail, "s"),
        "failed_op_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        # The same timings in CPU seconds of this process, the JVM and
        # its Python workers, which the kernel counts net of host steal.
        "cold_pass_cpu_s": (passes[0]["cpu_s"], "s"),
        "warm_pass_cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
        "op_cpu_p50_s": (median(warm_cpus), "s"),
        "op_cpu_tail_s": (tail_percentile(warm_cpus)[0], "s"),
    }, {"percentile": pct, "warm_samples": len(warm_walls)}


def pin_environment(work: str, trace: bool, fragment_cache: bool) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_FRAGMENT_CACHE"] = "1" if fragment_cache else "0"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)
    # Python workers must import the engine package (they start in
    # Spark's own working directory otherwise).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = ["--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={tmp}",
            # A fixed heap (-Xms = -Xmx), resident from the start
            # (AlwaysPreTouch): no heap-resizing decisions, and peak RSS
            # does not depend on how far allocation got before a GC.
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
            "-XX:+AlwaysPreTouch'"]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.rolling.enabled=false",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{evdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"


def cpu_s(tree: list) -> float:
    """User + system CPU seconds of the processes in ``tree``, ended
    threads and reaped children included.  The kernel counts them net
    of host steal."""
    ticks = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:  # the process ended meanwhile
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def thread_cpu(tree: list) -> dict:
    """Run time in seconds of every live thread of the processes in
    ``tree``, from their nanosecond counters (net of host steal)."""
    snap = {}
    for pid in tree:
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    snap[pid, tid] = int(f.read().split()[0]) / 1e9
        except OSError:  # the process or thread ended meanwhile
            continue
    return snap


def cpu_between(before: dict, after: dict) -> float:
    """CPU seconds between two ``thread_cpu`` snapshots.  A thread that
    started in between counts whole; one that ended in between is left
    out, which loses its last few moments."""
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def steal_s() -> float:
    """CPU seconds the host withheld from this machine's vCPUs, summed
    over them (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def audit() -> dict:
    return {"nproc": os.cpu_count(), "loadavg_1m": round(os.getloadavg()[0], 2),
            "time_s": time.monotonic(), "steal_s": steal_s()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(ROOT)
    pin_environment(work, bool(args.trace), wl.fragment_cache)
    sys.path.insert(0, ROOT)
    try:
        return run(wl, args, work, os.path.join(base, "results", tag + ".json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(wl, args, work: str, artifact_path: str) -> int:
    # Importing the plan registry is workload-independent set-up.
    from mvp_mini_etl_pipeline_1762840347_spark import plans  # noqa: F401
    from mvp_mini_etl_pipeline_1762840347_spark import session

    import layers

    # -- 1. set-up ------------------------------------------------------------
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=CPUS)
    t1 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    spark.range(1).mapInPandas(lambda it: it, "id long").write.format(
        "noop").mode("overwrite").save()
    setup_s = process_age_s()
    setup = {"get_spark_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
    gateway = spark.sparkContext._gateway

    rng = random.Random(args.seed)
    passes: list[dict] = []
    failures: dict[str, str] = {}
    attempted = failed = 0
    state = None
    try:
        # -- 2. inputs (not timed) ---------------------------------------------
        ops = wl.prepare(spark, work, args.seed)
        state = layers.start(spark, bool(args.trace))

        # -- 3. timed passes ---------------------------------------------------
        # Pass 0 is the cold pass; passes 1..warmup_passes bring the JIT
        # to its plateau (warm passes keep speeding up over the first
        # few) and are recorded but left out of the warm metrics.  The
        # measured passes are counted, not timed, so a slow host gives
        # the same number of samples (and op_tail_s percentile).
        n_measured = max(wl.min_warm_passes, math.ceil(args.seconds / wl.pass_s))
        while True:
            k = len(passes)
            warmup = 1 <= k <= wl.warmup_passes
            order = list(ops)
            if wl.shuffle:
                rng.shuffle(order)
            # This process, the JVM and its Python workers; the workers
            # are listed once a pass (one that exits is counted in its
            # parent's reaped-children time).
            tree = ["self", gateway.proc.pid, *descendants(gateway.proc.pid)]
            start = audit()
            walls: dict[str, float] = {}
            cpus: dict[str, float] = {}  # from 10 ms ticks, for pass sums
            op_cpus: dict[str, float] = {}  # from nanosecond thread counters
            wl.begin_pass(spark, k)
            for op in order:
                attempted += 1
                layers.begin_op(spark, state, k, op)
                try:
                    threads0 = thread_cpu(tree)
                    cpu0 = cpu_s(tree)
                    walls[op] = wl.execute(spark, op, k, state)
                    cpus[op] = cpu_s(tree) - cpu0
                    op_cpus[op] = cpu_between(threads0, thread_cpu(tree))
                    problem = wl.check_in_pass(spark, op)
                except Exception:  # noqa: BLE001 - counted and reported
                    problem = traceback.format_exc(limit=-3)[-1500:]
                finally:
                    layers.end_op(spark, state)
                if problem:
                    failed += 1
                    failures.setdefault(op, f"pass {k}: {problem}")
            wall = sum(walls.values())
            passes.append({"pass": k, "warmup": warmup, "wall_s": wall, "op_s": walls,
                           "cpu_s": sum(cpus.values()), "op_cpu_s": op_cpus,
                           "start": start, "end": audit()})
            layers.end_pass(spark, state, k)
            measured = k - wl.warmup_passes
            if measured >= n_measured or (
                    measured >= 1 and process_age_s() + wall > HARD_STOP_S):
                break
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(gateway.proc.pid)

        # -- 4. output checks (not timed) --------------------------------------
        for op, problem in wl.check_after(spark, ops).items():
            failed += 1
            failures.setdefault(op, problem)
    finally:
        stop(spark, gateway)
    mark_kept(passes, wl.kept_passes)
    e2e, tail_info = end_to_end(setup_s, passes, failed, attempted, peak_rss_mb)
    per_layer = layers.collect(
        state, os.path.join(work, "eventlog"), setup, e2e["cold_pass_s"][0],
        e2e["warm_pass_s"][0]) if state is not None else None
    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "driver_mem": DRIVER_MEM,
        "fragment_cache": wl.fragment_cache, "operations": ops,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "op_tail": tail_info,
        "steal_share": steal_share({"start": passes[0]["start"], "end": passes[-1]["end"]}),
        "setup": setup, "attempted": attempted, "failed": failed,
        "failures": failures, "passes": passes,
    }
    if per_layer is not None:
        artifact["per_layer"] = {k: {"value": v, "unit": u}
                                 for k, (v, u) in per_layer["metrics"].items()}
        artifact["spans"] = per_layer["spans"]
    os.makedirs(os.path.dirname(artifact_path), exist_ok=True)
    with open(artifact_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    for name, (value, unit) in e2e.items():
        print(f"{wl.name} {name} = {value:.6g} {unit}")
    for name, (value, unit) in (per_layer or {"metrics": {}})["metrics"].items():
        print(f"{wl.name} {name} = {value:.6g} {unit}")
    print(f"{wl.name}: op_tail_s is p{tail_info['percentile']} of "
          f"{tail_info['warm_samples']} warm samples; "
          f"{len(passes)} passes; artifact {os.path.relpath(artifact_path, ROOT)}")
    print(f"{wl.name}: host steal was {artifact['steal_share']:.1%} of the vCPU "
          f"time of the timed passes; the warm metrics use "
          f"{sum(p['kept'] for p in passes)} of the measured passes, the latest "
          "unstolen ones first")
    for op, problem in sorted(failures.items()):
        print(f"{wl.name}: FAILED {op}: {problem.strip().splitlines()[-1]}")

    section = "per_layer" if per_layer is not None else "end_to_end"
    declared = declared_metrics(section)
    metrics = {k: v for k, v in artifact[section].items() if k in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop(spark, gateway) -> None:
    """Stop the SparkContext and the JVM, then wait until the JVM and
    its Python worker processes have ended."""
    proc = gateway.proc
    workers = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [w for w in workers if alive(w)]
            time.sleep(0.05)
        for w in workers:
            try:
                os.kill(w, 9)
            except OSError:
                pass


def declared_metrics(section: str) -> set[str]:
    """Metric names BENCHMARK.json declares in ``section``; the result
    line carries exactly these, the artifact carries every metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
