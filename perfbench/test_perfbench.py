"""The benchmark's own tests.

    python3 -m pytest perfbench/ -q

Fast by default.  ``PERFBENCH_E2E=1`` adds one short run of every
workload through ``run.py`` (a few minutes at local[2]).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SEVEN = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "op_p50_s": "s",
         "op_tail_s": "s", "failed_op_ratio": "ratio", "peak_rss_mb": "MB"}
# The pass and operation timings again, in CPU seconds.
CPU = {"cold_pass_cpu_s": "s", "warm_pass_cpu_s": "s", "op_cpu_p50_s": "s",
       "op_cpu_tail_s": "s"}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_frozen_query_names_exist():
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    for wl in workloads.WORKLOADS.values():
        for name in getattr(wl, "queries", ()):
            assert name in plans.QUERIES, f"{wl.name}: {name} not registered"
            assert name in plans.ORACLES, f"{wl.name}: {name} has no oracle"


def test_every_query_family_has_per_layer_metrics():
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    for wl in workloads.WORKLOADS.values():
        for name in getattr(wl, "queries", ()):
            family = plans.QUERIES[name].__module__.rsplit(".", 1)[-1]
            assert family in layers.FAMILIES, (wl.name, name, family)


def test_frozen_lists_have_no_duplicates():
    for wl in workloads.WORKLOADS.values():
        q = getattr(wl, "queries", ())
        assert len(q) == len(set(q)), wl.name


def _tree_identical(a: str, b: str) -> None:
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors, (mismatch, errors)


def test_etl_generator_is_byte_identical_per_seed(tmp_path):
    kw = dict(n_batches=workloads.ETL_BATCHES, rows_per_batch=200,
              repeat_share=workloads.ETL_REPEAT_SHARE)
    datagen.write_user_batches(str(tmp_path / "a"), 7, **kw)
    datagen.write_user_batches(str(tmp_path / "b"), 7, **kw)
    datagen.write_user_batches(str(tmp_path / "c"), 8, **kw)
    _tree_identical(str(tmp_path / "a"), str(tmp_path / "b"))
    first = (tmp_path / "a" / "batch-000.jsonl").read_bytes()
    assert first != (tmp_path / "c" / "batch-000.jsonl").read_bytes()


def test_etl_batches_repeat_ids_across_batches_but_not_within():
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        paths = datagen.write_user_batches(d, 3, 3, 200, 0.3)
        uuids = []
        for p in paths:
            with open(p) as f:
                rows = [json.loads(line) for line in f]
            ids = [r["login"]["uuid"] for r in rows if r["login"]]
            assert len(ids) == len(set(ids))
            uuids.append(set(ids))
            assert any(not r["email"] for r in rows)
            assert any(not r["location"]["country"] for r in rows)
            assert any(r["login"] is None for r in rows)
        assert uuids[1] & uuids[0] and uuids[2] & (uuids[0] | uuids[1])


def test_query_tables_are_committed():
    from mvp_mini_etl_pipeline_1762840347_spark.io import TABLES

    for t in TABLES:
        assert os.path.isfile(os.path.join(workloads.DATA_DIR, f"{t}.parquet")), t


def test_etl_warm_run_has_a_tail_percentile():
    samples = workloads.ETL_BATCHES * workloads.WORKLOADS["etl_load"].min_warm_passes
    assert run.tail_percentile([float(i) for i in range(samples)])[1] > 50


def test_pool_thread_spans_do_not_nest_into_the_caller():
    from concurrent.futures import ThreadPoolExecutor

    tracer = spans.Tracer()
    slow = tracer.wrap_fn(lambda: time.sleep(0.05), "inner")
    with tracer.span("outer") as outer:
        slow()
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(slow) for _ in range(3)]:
                f.result()
    inner = [s for s in tracer.spans if s.name == "inner"]
    assert [s.parent for s in inner].count(0) == 1
    assert [s.parent for s in inner].count(None) == 3
    # Only the same-thread child is subtracted from the caller.
    assert outer.children_s == pytest.approx(inner[0].end - inner[0].start)
    assert outer.self_s > 0.04


def test_end_to_end_carries_the_seven_metrics_and_their_cpu_forms():
    # Pass 1 is a warm-up pass: it counts in no warm metric.
    passes = [{"pass": k, "warmup": k == 1, "wall_s": 1e9 if k == 1 else 2.0 + k,
               "op_s": {f"q{i}": 1e9 if k == 1 else i + 100.0 * k for i in range(30)},
               "cpu_s": 1e9 if k == 1 else 4.0 + k,
               "op_cpu_s": {f"q{i}": 1e9 if k == 1 else 2.0 * i for i in range(30)},
               "start": {"steal_s": 0.0, "time_s": 0.0},
               "end": {"steal_s": 0.0, "time_s": 1.0}} for k in range(4)]
    run.mark_kept(passes, 2)
    e2e, tail = run.end_to_end(12.5, passes, 1, 90, 900.0)
    assert e2e["warm_pass_s"][0] == pytest.approx(4.5)
    assert e2e["warm_pass_cpu_s"][0] == pytest.approx(6.5)
    assert e2e["op_cpu_p50_s"][0] == pytest.approx(29.0)
    assert {k: u for k, (_v, u) in e2e.items()} == SEVEN | CPU
    assert e2e["failed_op_ratio"][0] == pytest.approx(1 / 90)
    assert tail["warm_samples"] == 60
    # 10 samples strictly above the chosen percentile.
    assert sum(w > e2e["op_tail_s"][0] for p in passes[2:] for w in p["op_s"].values()) >= 10


def test_warm_metrics_keep_the_least_stolen_passes():
    passes = [{"pass": k, "warmup": k == 1, "wall_s": 1.0 + k,
               "start": {"steal_s": 0.0, "time_s": 0.0},
               "end": {"steal_s": steal, "time_s": 1.0}}
              for k, steal in enumerate([0.0, 0.0, 0.3, 0.1, 0.2, 0.0])]
    run.mark_kept(passes, 2)
    # Passes 2-5 are measured; 5 had no steal and 3 the least.  The cold
    # pass and the warm-up pass are never kept.
    assert [p["pass"] for p in passes if p["kept"]] == [3, 5]
    # With little steal anywhere, the latest passes are kept.
    for p in passes:
        p["end"]["steal_s"] /= 100
    run.mark_kept(passes, 2)
    assert [p["pass"] for p in passes if p["kept"]] == [4, 5]


def test_tail_percentile_falls_back_to_median_below_20_samples():
    assert run.tail_percentile([1.0, 2.0, 3.0]) == (2.0, 50)
    value, pct = run.tail_percentile([float(i) for i in range(100)])
    assert pct == 90 and value == 89.0


def test_benchmark_json_matches_runner():
    bench = _benchmark_json()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    for w in bench["workloads"]:
        assert w["name"] in workloads.WORKLOADS
    for m in bench["end_to_end"]:
        assert (SEVEN | CPU)[m["name"]] == m["unit"]
    units = layers.metric_units()
    for m in bench["per_layer"]:
        assert units[m["name"]] == m["unit"]
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_runner_refuses_a_directory_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (tmp_path / "perfbench" / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_load", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1",
                    reason="set PERFBENCH_E2E=1 to run every workload once")
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_runs_and_reports_every_metric(name):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0
    tag = f"{name}-seed1-trace0"
    with open(os.path.join(ROOT, ".perfbench_work", "results", tag + ".json")) as f:
        artifact = json.load(f)
    assert {k: v["unit"] for k, v in artifact["end_to_end"].items()} == SEVEN | CPU
    for line in out.stdout.splitlines()[:11]:
        assert line.split()[1] in SEVEN | CPU
