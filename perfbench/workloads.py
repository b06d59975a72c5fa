"""Frozen workload definitions.

Each workload names its operations explicitly (query names, or the
``etl_load`` generator's parameters), so a change to the engine's
registry cannot silently change what is measured; the benchmark's
tests check that every frozen name still exists.

Seed handling: for the query workloads the seed permutes the
operation order of each pass (``run.py``); their input is the fixed
sf0.01 table set under ``perfbench/data/``.  For ``etl_load`` the seed
generates the input batches (``datagen``).
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
import layers

# The ten parquet tables the query registry reads, at sf0.01: copies
# of the tables the engine's oracle check (tools/verify_local.py) runs
# against, committed with the benchmark so a run reads nothing outside
# its checkout.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

STAR_ADHOC = (
    # Every query registered by plans.parity, plans.relational and
    # plans.subqueries, in registry order.
    "metrics_customer", "projection_enrich", "filter_valid", "point_lookup",
    "case_status", "join_lookup_default", "array_membership_join",
    "union_all", "tail_limit", "head_limit", "scalar_funcs",
    "datetime_funcs", "groupby_pricing", "groupby_segment", "window_rank",
    "window_analytics", "join_semi", "join_anti", "join_full_outer",
    "rollup_orders", "cube_pricing", "pivot_status_priority",
    "setops_custkeys", "percentile_stats", "asof_join", "range_join_bands",
    "string_funcs", "numeric_funcs", "window_distribution",
    "grouping_sets_pricing", "array_funcs", "fuzzy_name_match",
    "join_null_safe", "sort_null_ordering", "unpivot_balances",
    "window_value_funcs", "top_parts_with_ties", "setops_multiset",
    "string_agg_nations", "map_funcs", "join_salted", "sql_line_priority",
    "er_golden_record", "er_sorted_neighborhood", "eager_agg_pushdown",
    "small_qty_revenue", "late_ship_priority", "big_volume_customers",
    "dormant_rich_customers", "sole_late_supplier", "min_cost_supplier",
    "profit_by_nation_year", "important_parts", "supplier_part_kinds",
    "promotable_suppliers",
)

CURATION_BATCH = (
    # Seven of the 36 queries whose fragment counters move with the
    # fragment cache on: the curation-store build that stages a
    # SnapshotSet, the two disposition consumers, and the four dedup
    # queries sharing the minhash/simhash fragments.
    "release_delta_incremental", "training_data_release", "corpus_disposition",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_verified_pairs",
)

MULTI_JOB_STATS = (
    # Queries firing at least 15 Spark jobs each, none using fragments.
    "kmeans_converged", "fd_profile", "exact_deciles", "weighted_median_delay",
    "trimmed_mean_exact", "exact_median_2pass", "conformal_interval",
    "table_fingerprint", "events_exact_p95", "market_share", "pq_adc_search",
    "snapshot_time_travel", "chi_square_independence",
    "events_markov_stationary", "token_weighted_median_len",
    "cascade_delete_audit",
)

# etl_load input: ETL_BATCHES JSON-lines batches of ETL_ROWS raw user
# records; 30% of each batch after the first re-sends earlier ids.
# Six operations a pass give a warm run of four measured passes 24
# samples, so op_tail_s is a percentile above the median.
ETL_BATCHES = 6
ETL_ROWS = 750
ETL_REPEAT_SHARE = 0.3


class QueryWorkload:
    shuffle = True
    # Measured warm passes: ceil(--seconds / pass_s), at least this.
    min_warm_passes = 3

    def __init__(self, name: str, queries: tuple[str, ...], fragment_cache: bool,
                 warmup_passes: int, pass_s: float, kept_passes: int = 3):
        self.name = name
        self.queries = queries
        self.fragment_cache = fragment_cache
        # Warm passes run before the measured ones, to the JIT plateau.
        self.warmup_passes = warmup_passes
        # A warm pass's wall on a quiet 4-vCPU box.
        self.pass_s = pass_s
        # Measured passes the warm metrics use; the others are those
        # host steal hit most (run.mark_kept).
        self.kept_passes = kept_passes

    def prepare(self, spark, work: str, seed: int) -> list[str]:
        from mvp_mini_etl_pipeline_1762840347_spark import plans

        self.plans = plans
        self.sf_dir = DATA_DIR
        return list(self.queries)

    def begin_pass(self, spark, k: int) -> None:
        pass

    def execute(self, spark, op: str, k: int, state) -> float:
        fn = self.plans.QUERIES[op]
        family = fn.__module__.rsplit(".", 1)[-1]
        t0 = time.perf_counter()
        df = layers.phase(state, k, "build", family, lambda: fn(spark, self.sf_dir))
        layers.phase(state, k, "run", family, lambda: df.write.format("noop")
                     .mode("overwrite").save())
        return time.perf_counter() - t0

    def check_in_pass(self, spark, op: str) -> str | None:
        return None

    def check_after(self, spark, ops: list[str]) -> dict[str, str]:
        """Compare every query's result with its DuckDB oracle (computed
        here, once per invocation, so DuckDB's memory stays out of the
        peak RSS of the timed passes)."""
        import duckdb

        from mvp_mini_etl_pipeline_1762840347_spark.io import TABLES
        from tools.verify_local import compare

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        problems = {}
        for op in ops:
            try:
                expected = con.sql(self.plans.ORACLES[op]).df()
                got = self.plans.QUERIES[op](spark, self.sf_dir).toPandas()
                verdict = compare(op, got, expected)
            except Exception:  # noqa: BLE001 - reported as a failure
                verdict = "ERROR " + traceback.format_exc(limit=-3)[-1500:]
            if not verdict.startswith("OK"):
                problems[op] = f"oracle check: {verdict}"
        con.close()
        return problems


EXPORT_SCHEMA = ("id string, name string, email string, phone string, "
                 "location string, age int, gender string, country string")


def _csv_rows(path: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(path, "part-*.csv")):
        with open(part, newline="") as f:
            n += max(0, sum(1 for _ in csv.reader(f)) - 1)  # header per part
    return n


def _json_ids(path: str) -> list[str]:
    ids = []
    for part in glob.glob(os.path.join(path, "part-*.json")):
        with open(part) as f:
            ids += [json.loads(line)["id"] for line in f if line.strip()]
    return ids


class EtlWorkload:
    """The reference pipeline: per batch, ``run_pipeline`` (JSON scan
    -> ``enrich_users`` -> ``build_metrics`` -> ``write_csv``), then
    ``write_json`` of the export projection, then a merge of the
    loaded rows into a ``SnapshotTable`` on ``id`` (the first batch of
    a pass commits).  Each pass loads into a fresh table."""

    name = "etl_load"
    shuffle = False
    fragment_cache = False
    # No warm-up pass: a warm pass takes about 7 s.  The first is about
    # 10% slower than the rest, and the median of four leaves it out.
    # Every measured pass is kept: with four, the median already leaves
    # out the two slowest.
    warmup_passes = 0
    pass_s = 7.0
    min_warm_passes = 4
    kept_passes = 4

    def prepare(self, spark, work: str, seed: int) -> list[str]:
        from mvp_mini_etl_pipeline_1762840347_spark.operators import table_format
        from mvp_mini_etl_pipeline_1762840347_spark.pipeline import runner, sinks, sources

        self.table_format, self.runner, self.sinks, self.sources = (
            table_format, runner, sinks, sources)
        self.work = work
        paths = datagen.write_user_batches(
            os.path.join(work, "etl_in"), seed, ETL_BATCHES, ETL_ROWS,
            ETL_REPEAT_SHARE)
        self.inputs = {os.path.basename(p).split(".")[0]: p for p in paths}
        return list(self.inputs)

    def begin_pass(self, spark, k: int) -> None:
        out = os.path.join(self.work, "etl_out")
        shutil.rmtree(out, ignore_errors=True)
        self.out = os.path.join(out, f"pass-{k}")
        self.table = self.table_format.SnapshotTable(spark, os.path.join(self.out, "table"))
        self.seen: set[str] = set()

    def execute(self, spark, op: str, k: int, state) -> float:
        src = self.sources
        path = self.inputs[op]

        def extract(spark):
            raw = spark.read.schema(src.RAW_USER_SCHEMA).json(path)
            return src.ExtractResult(src.enrich_users(raw), False, path, "")

        if state is not None:
            extract = state.tracer.wrap_fn(extract, "pipeline.extract")
        self.json_dir = os.path.join(self.out, f"json-{op}")

        def operation():
            self.run = self.runner.run_pipeline(
                spark, out_dir=os.path.join(self.out, f"csv-{op}"), extract_fn=extract)
            # run_pipeline keeps its valid-row frame to itself, so the
            # JSON export re-derives it with the same filter.
            users = extract(spark).df
            valid = users.filter(F.col("valid") & (F.col("email") != ""))
            self.sinks.write_json(self.sinks.users_export_projection(valid), self.json_dir)
            loaded = spark.read.schema(EXPORT_SCHEMA).json(self.json_dir)
            if self.table.current_snapshot() is None:
                self.table.commit(loaded)
            else:
                self.table.merge(loaded, "id")

        t0 = time.perf_counter()
        layers.phase(state, k, "etl", None, operation)
        wall = time.perf_counter() - t0
        if state is not None and k in layers.WINDOW_PASSES:
            state.rows_loaded += self.run.metrics["rows_out"]
        return wall

    def check_in_pass(self, spark, op: str) -> str | None:
        """CSV rows == rows_out, JSON rows == CSV rows, merged rows ==
        distinct ids loaded so far in this pass."""
        csv_rows = _csv_rows(self.run.output_path)
        ids = _json_ids(self.json_dir)
        self.seen.update(ids)
        # Row counts from the live snapshot's parquet footers: no Spark
        # job, and not a traced table_format call.
        live = os.path.join(self.table.root, self.table.current_snapshot())
        merged = sum(pq.ParquetFile(f).metadata.num_rows
                     for f in glob.glob(os.path.join(live, "*.parquet")))
        if csv_rows != self.run.metrics["rows_out"]:
            return f"csv rows {csv_rows} != rows_out {self.run.metrics['rows_out']}"
        if len(ids) != csv_rows:
            return f"json rows {len(ids)} != csv rows {csv_rows}"
        if merged != len(self.seen):
            return f"merged rows {merged} != distinct ids {len(self.seen)}"
        return None

    def check_after(self, spark, ops: list[str]) -> dict[str, str]:
        return {}


WORKLOADS = {
    # Passes of 25-45 s: the 120 s cap leaves no room for warm-up.
    "star_adhoc": QueryWorkload("star_adhoc", STAR_ADHOC, fragment_cache=False,
                                warmup_passes=0, pass_s=25.0),
    # Warm passes of about 1 s, near their plateau after about six; a
    # burst of host steal covers several of them, so 8 of 12 are kept.
    # 56 samples of seven queries put op_tail_s (p82) inside the two
    # slowest queries' samples, not on the edge between two queries.
    "curation_batch": QueryWorkload("curation_batch", CURATION_BATCH, fragment_cache=True,
                                    warmup_passes=6, pass_s=1.0, kept_passes=8),
    "multi_job_stats": QueryWorkload("multi_job_stats", MULTI_JOB_STATS,
                                     fragment_cache=False, warmup_passes=0, pass_s=30.0),
    "etl_load": EtlWorkload(),
}
