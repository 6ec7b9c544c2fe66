"""``cli run`` executes the pipeline plan once: with a writer, no Spark job
runs after ``Pipeline.run`` returns (no recount, no metrics-write job),
and the printed output count is the number of rows the run wrote."""

from __future__ import annotations

import re

import pytest

from webscale_multimodal_datapipeline_spark import cli
from webscale_multimodal_datapipeline_spark.compiler import Pipeline, compile_pipeline
from webscale_multimodal_datapipeline_spark.sources import txtable

STAGES = """
data_loader: {table: documents}
stages:
  - name: curate
    operators:
      - type: text_length_filter
        params: {min_length: 100, max_length: 450}
      - type: text_stats_refiner
  - name: dedup
    operators:
      - type: text_exact_dedup
"""

ENFORCE = """
expectations:
  - type: in_set
    params: {col: lang, values: [en, es, fr, de]}
    action: enforce
"""

CASES = {
    "parquet": "data_writer: {path: OUT}",
    "enforce": ENFORCE + "data_writer: {path: OUT}",
    "txtable": "data_writer: {path: OUT, format: txtable}",
    "no_writer": "",
}


class _Status:
    """Jobs and SQL executions from the app status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def snapshot(self) -> tuple[set[int], int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.jobs_store.jobsList(self.sc._jvm.java.util.ArrayList())
        ids = {jobs.apply(i).jobId() for i in range(jobs.size())}
        return ids, self.sql_store.executionsCount()


@pytest.mark.parametrize("case", sorted(CASES))
def test_cli_run_is_one_execution(spark, sf_dir, tmp_path, monkeypatch, capsys, case):
    out = tmp_path / "out"
    config = tmp_path / "pipeline.yaml"
    config.write_text(STAGES + CASES[case].replace("OUT", str(out)) + "\n")

    status = _Status(spark)
    after_run: list[tuple[set[int], int]] = []
    real_run = Pipeline.run

    def run(self, *args, **kwargs):
        result = real_run(self, *args, **kwargs)
        after_run.append(status.snapshot())
        return result

    monkeypatch.setattr(Pipeline, "run", run)
    argv = ["run", "-c", str(config), "--sf-dir", sf_dir, "--metrics-dir", str(tmp_path / "m")]
    assert cli.main(argv) == 0
    monkeypatch.undo()
    jobs, executions = status.snapshot()
    (jobs_at_return, executions_at_return), = after_run
    printed = capsys.readouterr().out
    n_in, n_out = map(int, re.search(r"total: (\d+) -> (\d+)", printed).groups())

    new_jobs = jobs - jobs_at_return
    if case == "no_writer":
        # nothing materialized the output: its count is the one execution
        assert executions - executions_at_return == 1
        expected = compile_pipeline(config.read_text()).run(spark, sf_dir).output.count()
    else:
        assert new_jobs == set()
        if case == "txtable":
            expected = txtable.read(spark, str(out)).count()
        else:
            expected = spark.read.parquet(str(out)).count()
    assert n_in == 500
    assert n_out == expected > 0
    # the metrics tables were written and hold the operator rows only
    ops = spark.read.parquet(str(tmp_path / "m" / "operators")).collect()
    assert {r.operator_name for r in ops} == {
        "source", "text_length_filter", "text_stats_refiner", "text_exact_dedup",
    }
    last = next(r for r in ops if r.operator_name == "text_exact_dedup")
    if case == "enforce":
        # the expectation filters after the last operator's observation
        assert n_out < last.output_records
    else:
        assert n_out == last.output_records


def test_cli_run_report_and_metrics_share_one_harvest(sf_dir, tmp_path, capsys):
    config = tmp_path / "pipeline.yaml"
    config.write_text(STAGES + f"data_writer: {{path: {tmp_path / 'out'}}}\n")
    report = tmp_path / "report.html"
    argv = ["run", "-c", str(config), "--sf-dir", sf_dir, "--metrics-dir", str(tmp_path / "m")]
    assert cli.main(argv + ["--report", str(report)]) == 0
    assert "report ->" in capsys.readouterr().out
    html_text = report.read_text()
    for needle in ("<h2>Run summary</h2>", "<h2>Stage timeline</h2>", "text_exact_dedup"):
        assert needle in html_text, needle
    # the stage rollup renders in plan order
    stages = html_text.split("<h2>Stages</h2>", 1)[1].split("<h2>", 1)[0]
    assert stages.index(">source<") < stages.index(">curate<") < stages.index(">dedup<")
