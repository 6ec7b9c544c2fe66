"""Metrics round-trip tests (the reference's metrics test shape,
``tests/test_metrics.py:21-324``: collect → write → read back → assert)."""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

from webscale_multimodal_datapipeline_spark import metrics as M
from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline

CFG = {
    "data_loader": {"table": "documents"},
    "stages": [
        {
            "name": "curate",
            "operators": [
                {"type": "text_length_filter", "params": {"min_length": 100, "max_length": 450}},
                {"type": "text_stats_refiner"},
            ],
        }
    ],
}


def test_metrics_parquet_roundtrip(spark, sf_dir, tmp_path):
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path), config_json='{"k": 1}')

    ops = spark.read.parquet(str(tmp_path / "operators"))
    expected_cols = {
        "run_id", "stage_name", "operator_name", "worker_id", "timestamp",
        "input_records", "output_records", "pass_rate", "total_time",
        "avg_latency", "min_latency", "max_latency", "p50_latency",
        "p95_latency", "p99_latency", "throughput", "error_count",
        "custom_metrics",
    }
    assert set(ops.columns) == expected_cols
    assert ops.count() == 3  # source + 2 operators

    st = spark.read.parquet(str(tmp_path / "stages"))
    stages = {r.stage_name: r for r in st.collect()}
    assert set(stages) == {"source", "curate"}
    assert stages["curate"].num_operators == 2
    assert 0 < stages["curate"].pass_rate < 1

    runs = spark.read.parquet(str(tmp_path / "runs"))
    run = runs.first()
    assert run.num_stages == 2
    assert run.total_input_records == 500
    assert run.config == '{"k": 1}'
    assert 0 < run.overall_pass_rate < 1


def test_funnel_and_bottleneck_reports(spark, sf_dir):
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()
    ops = M.operator_metrics_df(res.metrics)
    fun = {r.operator_name: r for r in M.funnel_report(ops).collect()}
    assert fun["text_length_filter"].total_input == 500
    assert fun["text_length_filter"].total_output < 500
    bn = M.bottleneck_report(ops).collect()
    assert len(bn) == 3


def test_html_report_render_and_cli(spark, sf_dir, tmp_path):
    """Report layer: funnel/stages/bottleneck sections render from the
    operators metrics table (reference reporter.py HTML output, sans
    plotly), via both the library call and the CLI subcommand."""
    from webscale_multimodal_datapipeline_spark import report as R

    res = compile_pipeline({**CFG, "collect_rejected": True}).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path / "m"))

    ops = spark.read.parquet(str(tmp_path / "m" / "operators"))
    out = R.write_html_report(
        ops,
        str(tmp_path / "report.html"),
        rejected=res.rejected,
        debug_samples_per_operator=5,
    )
    html_text = open(out).read()
    for needle in (
        "<h2>Funnel</h2>",
        "<h2>Bottlenecks</h2>",
        "<h2>Stages</h2>",
        "<h2>Run summary</h2>",
        "<h2>Rejection flow</h2>",
        "<h2>Waterfall</h2>",
        "<h2>Rejected samples (debug)</h2>",
        "<h2>Dataflow (Sankey)</h2>",
        "<h2>Stage timeline</h2>",
        "<h2>Latency heatmap</h2>",
        "text_length_filter",
        "text_stats_refiner",
        "curate",
    ):
        assert needle in html_text, needle
    # the two SVG sections actually rendered vector content
    assert html_text.count("<svg") >= 2 and "rect" in html_text

    from webscale_multimodal_datapipeline_spark.cli import main as cli_main

    rc = cli_main(
        ["report", "--metrics-dir", str(tmp_path / "m"), "--out", str(tmp_path / "r2.html")]
    )
    assert rc == 0
    assert "<h2>Funnel</h2>" in open(tmp_path / "r2.html").read()


def test_html_report_expectations_section(spark, sf_dir, tmp_path):
    """Round-4: the declarative-expectations report (quality.evaluate)
    renders as its own section with per-constraint violation counts and
    the warn/drop (report/enforce) outcome per constraint."""
    from webscale_multimodal_datapipeline_spark import report as R
    from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline as cp

    yml = """
data_loader:
  table: documents
stages:
  - name: score
    operators:
      - type: text_stats_refiner
expectations:
  - type: not_null
    params: {col: doc_id}
  - type: in_set
    params: {col: lang, values: [en, es, fr, de]}
    action: enforce
"""
    res = cp(yml).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path / "m"))
    ops = spark.read.parquet(str(tmp_path / "m" / "operators"))
    out = R.write_html_report(
        ops,
        str(tmp_path / "report.html"),
        expectations=res.expectations_report,
        enforced_expectations=res.enforced_expectations,
    )
    html_text = open(out).read()
    assert "<h2>Data-quality expectations</h2>" in html_text
    assert "not_null(doc_id)" in html_text and "in_set(lang)" in html_text
    assert "enforce (rows dropped)" in html_text  # the in_set constraint
    assert "VIOLATIONS" in html_text  # corpus contains zh docs
    assert html_text.index("not_null(doc_id)") > html_text.index(
        "<h2>Data-quality expectations</h2>"
    )


def test_task_latency_distributions_populate_columns(spark, sf_dir):
    """A1 latency approximation: after an action has run, the status-store
    task-duration distribution fills the latency columns (schema unchanged;
    NULL fallback covered by passing latencies=None)."""
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()

    lat = M.task_latency_distributions(spark)
    assert lat is not None
    assert lat["min"] <= lat["p50"] <= lat["p95"] <= lat["p99"] <= lat["max"]
    assert lat["avg"] > 0

    row = M.operator_metrics_df(res.metrics).first()
    assert row.p50_latency is not None and row.p50_latency > 0
    assert row.min_latency <= row.max_latency

    null_row = M.operator_metrics_df(res.metrics, latencies=None).first()
    assert null_row.p50_latency is None


# Read-back schema of each table, as the Spark-written tables had it.
TABLE_SCHEMAS = {
    "operators": (
        "struct<run_id:string,stage_name:string,operator_name:string,worker_id:int,"
        "timestamp:timestamp,input_records:bigint,output_records:bigint,pass_rate:double,"
        "total_time:double,avg_latency:double,min_latency:double,max_latency:double,"
        "p50_latency:double,p95_latency:double,p99_latency:double,throughput:double,"
        "error_count:bigint,custom_metrics:string>"
    ),
    "stages": (
        "struct<run_id:string,stage_name:string,num_operators:bigint,total_time:double,"
        "min_throughput:double,max_throughput:double,avg_throughput:double,"
        "error_count:bigint,input_records:bigint,output_records:bigint,pass_rate:double>"
    ),
    "runs": (
        "struct<run_id:string,num_stages:bigint,total_input_records:bigint,"
        "total_output_records:bigint,duration:double,avg_throughput:double,"
        "total_errors:bigint,overall_pass_rate:double,config:string>"
    ),
}

# One run of CFG whose tables Spark's own parquet writer appended (the
# metrics writer's earlier implementation): operators in two part files.
SPARK_WRITTEN = Path(__file__).parent / "fixtures" / "metrics_parent"


def test_metrics_tables_schema_and_append_to_spark_written_tables(spark, sf_dir, tmp_path):
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()
    shutil.copytree(SPARK_WRITTEN, tmp_path / "mixed")
    for out in ("fresh", "mixed"):
        M.write_metrics(res.metrics, str(tmp_path / out))
    expected_rows = {"operators": 3, "stages": 2, "runs": 1}
    for table, schema in TABLE_SCHEMAS.items():
        fresh = tmp_path / "fresh" / table
        # one snappy part file per append, no temp file left behind
        names = os.listdir(fresh)
        assert len(names) == 1 and names[0].startswith("part-"), names
        assert names[0].endswith(".snappy.parquet"), names
        assert spark.read.parquet(str(fresh)).schema.simpleString() == schema
        mixed = spark.read.parquet(str(tmp_path / "mixed" / table))
        assert mixed.schema.simpleString() == schema
        rows = mixed.collect()
        assert len(rows) == 2 * expected_rows[table]
        assert len({r.run_id for r in rows}) == 2


def test_stage_and_run_rollups_take_first_input_and_last_output(spark, sf_dir, tmp_path):
    res = compile_pipeline(CFG).run(spark, sf_dir)
    res.output.count()
    M.write_metrics(res.metrics, str(tmp_path))
    ops = {r.operator_name: r for r in spark.read.parquet(str(tmp_path / "operators")).collect()}
    stages = {r.stage_name: r for r in spark.read.parquet(str(tmp_path / "stages")).collect()}
    run = spark.read.parquet(str(tmp_path / "runs")).first()
    # filter -> refiner: the stage's input is the filter's input, not the
    # refiner's (the two differ), and its output is the refiner's output
    assert ops["text_length_filter"].input_records != ops["text_stats_refiner"].input_records
    assert stages["curate"].input_records == ops["text_length_filter"].input_records == 500
    assert stages["curate"].output_records == ops["text_stats_refiner"].output_records
    assert stages["curate"].pass_rate == ops["text_stats_refiner"].output_records / 500
    assert run.total_input_records == stages["source"].input_records == 500
    assert run.total_output_records == stages["curate"].output_records
    # the rollups are plain functions of the operator rows, in plan order
    rows = M.operator_rows(res.metrics, latencies=None)
    assert [r.operator_name for r in rows] == ["source", "text_length_filter", "text_stats_refiner"]
    assert [s.stage_name for s in M.stage_rollup(rows)] == ["source", "curate"]


def test_task_latencies_scoped_to_the_run(spark, tmp_path):
    """A slow task of an earlier run must not show in a later run's
    latency columns: only stages submitted since the run started count."""
    from pyspark.sql import functions as F

    from webscale_multimodal_datapipeline_spark.compiler import (
        Pipeline,
        PipelineConfig,
        StageConfig,
    )
    from webscale_multimodal_datapipeline_spark.operators.base import FilterOperator

    slow_s = 2.0

    @F.udf("boolean")
    def keep(x):
        if x == 0:  # one slow task
            time.sleep(slow_s)
        return True

    src = str(tmp_path / "in")
    spark.range(8).write.parquet(src)

    def run(predicate):
        cfg = PipelineConfig(
            loader={"path": src},
            stages=[StageConfig("s", [FilterOperator("op", predicate, requires={"id"})])],
        )
        res = Pipeline(cfg).run(spark)
        res.output.count()
        return M.operator_rows(res.metrics)[-1]

    slow = run(keep("id"))
    assert slow.max_latency >= slow_s
    fast = run(F.col("id") >= 0)
    assert fast.max_latency is not None and fast.max_latency < slow_s
