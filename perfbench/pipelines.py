"""The batch workload: the profile pipeline config and its output check.

``profile`` is a data-health report that reads and aggregates and writes
nothing, run through ``plans.pipeline.run_pipeline``.  Its stage list is
cut to what one cold run can do inside the benchmark's time budget while
still loading every layer the workload is meant to load (quality, stats,
association, varclus, drift, report frames).
"""

from __future__ import annotations

from anovos_spark.plans.stats_store import StatsStore

NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "o_totalprice"]
# the columns the profile reads: the numeric measures, the label and three
# categoricals (l_shipmode is the Zipf-skewed one)
PROFILE_COLUMNS = NUMERIC + ["l_returnflag", "l_shipmode", "o_orderstatus", "o_orderpriority"]
STATS_METRICS = ["global_summary", "measures_of_counts", "measures_of_central_tendency"]


class RecordingStore(StatsStore):
    """A StatsStore that keeps the name of every frame the pipeline puts."""

    def __init__(self, spark):
        super().__init__(spark)
        self.frames: dict[str, object] = {}

    def put(self, dataset_key, stat_name, df, persist=True):
        self.frames[stat_name] = df
        return super().put(dataset_key, stat_name, df, persist)


def profile_config(tables: dict) -> dict:
    main = {"file_path": tables["profile"]["path"], "file_type": "parquet"}
    base = {"file_path": tables["baseline"]["path"], "file_type": "parquet"}
    return {
        "input_dataset": {"read": main, "select_columns": PROFILE_COLUMNS},
        "quality_checker": {
            "duplicate_detection": {},
            "outlier_detection": {"list_of_cols": NUMERIC},
        },
        "stats_generator": {"metrics": STATS_METRICS},
        "association_evaluator": {
            "correlation_matrix": {"list_of_cols": NUMERIC},
        },
        "variable_clustering": {"list_of_cols": NUMERIC},
        "report_frames": {
            "frequency": {"col": "l_shipmode"},
        },
        "drift_detector": {"baseline_read": base, "list_of_cols": NUMERIC, "bin_size": 10},
    }


def _close(a, b) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) <= 1e-4 * max(1.0, abs(float(b)))


def check_profile(outputs: dict, expect: dict) -> list[str]:
    """Compare the profile's row, null and duplicate counts and column
    means with the DuckDB recomputation."""
    problems = []
    summary = {r["metric"]: r["value"] for r in outputs.get("global_summary", [])}
    if str(summary.get("rows_count")) != str(expect["rows"]):
        problems.append(f"rows_count {summary.get('rows_count')} != {expect['rows']}")
    counts = {r["attribute"]: r["missing_count"] for r in outputs.get("measures_of_counts", [])}
    for col, want in expect["missing"].items():
        if counts.get(col) != want:
            problems.append(f"missing_count[{col}] {counts.get(col)} != {want}")
    dup = {r["metric"]: r["value"] for r in outputs.get("quality.duplicate_detection", [])}
    if dup.get("duplicate_rows") != expect["duplicate_rows"]:
        problems.append(f"duplicate_rows {dup.get('duplicate_rows')} != {expect['duplicate_rows']}")
    means = {r["attribute"]: r["mean"] for r in outputs.get("measures_of_central_tendency", [])}
    for col, want in expect["means"].items():
        if not _close(means.get(col), want):
            problems.append(f"mean[{col}] {means.get(col)} != {want}")
    return problems
