"""Metrics persistence + report analytics (reference ``framework/metrics/``).

Reproduces the three-level Run/Stage/Operator parquet layout
(``framework/metrics/writer.py:28-82``) from the compiler's observe()
counters, and the report-layer aggregate queries (funnel, bottleneck —
``framework/metrics/reporter.py:689-701,762-773,962``) as plain Spark SQL
over those tables.

The tables' O(#operators) rows are on the driver in plan order already:
the rollups are Python over them and pyarrow writes the tables, so
persisting a run's metrics adds no Spark job.

Divergence note (documented, SURVEY §2.6): per-record latency percentiles
(p50/p95/p99 over a 10k reservoir, ``operator.py:160-168``) have no
meaning in a whole-stage-codegen'd plan — operators aren't timed
per-record. The latency columns are instead filled with TASK-duration
distributions from Spark's app status store (the same data the UI's
task-summary quantiles show): min/max and avg are exact over completed
tasks, p50/p95/p99 are task-count-weighted means of per-stage quantiles.
If the status store is unreachable the columns fall back to NULL; the
schema is unchanged either way.
"""

from __future__ import annotations

import os
import uuid
from collections import namedtuple
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.compiler import MetricsCollector, OperatorMetric

# Spark SQL schema of each table — the read-back schema of the tables the
# reference writes (metrics/writer.py:28-82); the row types follow it.
OPERATORS_DDL = (
    "run_id string, stage_name string, operator_name string, worker_id int, "
    "timestamp timestamp, input_records bigint, output_records bigint, pass_rate double, "
    "total_time double, avg_latency double, min_latency double, max_latency double, "
    "p50_latency double, p95_latency double, p99_latency double, throughput double, "
    "error_count bigint, custom_metrics string"
)
STAGES_DDL = (
    "run_id string, stage_name string, num_operators bigint, total_time double, "
    "min_throughput double, max_throughput double, avg_throughput double, "
    "error_count bigint, input_records bigint, output_records bigint, pass_rate double"
)
RUNS_DDL = (
    "run_id string, num_stages bigint, total_input_records bigint, "
    "total_output_records bigint, duration double, avg_throughput double, "
    "total_errors bigint, overall_pass_rate double, config string"
)
_names = lambda ddl: [c.split()[0] for c in ddl.split(", ")]
OperatorRow = namedtuple("OperatorRow", _names(OPERATORS_DDL))
StageRow = namedtuple("StageRow", _names(STAGES_DDL))
RunRow = namedtuple("RunRow", _names(RUNS_DDL))


def task_latency_distributions(spark: SparkSession, since: float = 0.0) -> dict[str, float] | None:
    """Task-duration distribution (seconds) across the completed stages
    submitted at or after ``since`` (epoch seconds; pass
    ``MetricsCollector.started`` so earlier runs of the session stay out),
    read from ``AppStatusStore`` — the listener-fed store behind the
    UI/REST ``taskSummary`` quantiles. Pure driver-side metadata reads; no
    job is triggered. None when no such stage has completed task metrics."""
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        quants = sc._gateway.new_array(jvm.double, 5)
        for i, q in enumerate((0.0, 0.5, 0.95, 0.99, 1.0)):
            quants[i] = q
        stages = store.stageList(empty, False, False, quants, empty)
        per_stage: list[tuple[int, list[float], float]] = []
        for i in range(stages.size()):
            s = stages.apply(i)
            n = int(s.numCompleteTasks())
            submitted = s.submissionTime()
            if n <= 0 or not submitted.isDefined() or submitted.get().getTime() < since * 1e3:
                continue
            opt = store.taskSummary(s.stageId(), s.attemptId(), quants)
            if not opt.isDefined():
                continue
            d = opt.get().duration()
            qs = [float(d.apply(j)) for j in range(d.size())]
            per_stage.append((n, qs, float(s.executorRunTime())))
        if not per_stage:
            return None
        total_tasks = sum(n for n, _, _ in per_stage)
        wmean = lambda idx: sum(n * qs[idx] for n, qs, _ in per_stage) / total_tasks
        ms = 1e-3  # store reports milliseconds
        return {
            "min": min(qs[0] for _, qs, _ in per_stage) * ms,
            "p50": wmean(1) * ms,
            "p95": wmean(2) * ms,
            "p99": wmean(3) * ms,
            "max": max(qs[4] for _, qs, _ in per_stage) * ms,
            "avg": sum(rt for _, _, rt in per_stage) / total_tasks * ms,
        }
    except Exception:
        return None


def _groups(rows: list, *keys: str) -> dict[tuple, list]:
    """Rows grouped by ``keys``, groups and rows in first-seen order."""
    out: dict[tuple, list] = {}
    for r in rows:
        out.setdefault(tuple(getattr(r, k) for k in keys), []).append(r)
    return out


def operator_rows(
    collector: MetricsCollector,
    latencies: dict[str, float] | None | bool = True,
    harvested: list[OperatorMetric] | None = None,
) -> list[OperatorRow]:
    """operators_*.parquet rows (metrics/writer.py:28-54), in plan order.

    ``latencies``: True (default) reads the task-duration distribution of
    the collector's run from the status store; a dict injects one;
    None/False leaves the columns NULL (the pre-listener behavior).
    ``harvested``: the rows of a ``collector.harvest()`` already taken."""
    if latencies is True:
        latencies = task_latency_distributions(collector.spark, collector.started)
    lat = {f"{k}_latency": (latencies or {}).get(k) for k in ("avg", "min", "max", "p50", "p95", "p99")}
    now = datetime.now(timezone.utc)
    total_time = now.timestamp() - collector.started
    return [
        OperatorRow(
            run_id=m.run_id, stage_name=m.stage_name, operator_name=m.operator_name,
            worker_id=None, timestamp=now, input_records=m.input_records,
            output_records=m.output_records, pass_rate=float(m.pass_rate),
            total_time=total_time, **lat,
            throughput=(m.output_records / total_time) if total_time > 0 else 0.0,
            error_count=0, custom_metrics="{}",
        )
        for m in (collector.harvest() if harvested is None else harvested)
    ]


def stage_rollup(operators: list) -> list[StageRow]:
    """stages_*.parquet rows (metrics/writer.py:56-71; aggregator
    semantics ``executor.py:760-846``) from operator rows in plan order:
    stage input = first operator's input, output = last operator's
    output, bottleneck = max time. One row per (run, stage)."""
    rows = []
    for (run_id, stage), ops in _groups(operators, "run_id", "stage_name").items():
        tp = [o.throughput for o in ops]
        n_in, n_out = ops[0].input_records, ops[-1].output_records
        rows.append(StageRow(
            run_id=run_id, stage_name=stage, num_operators=len(ops),
            total_time=max(o.total_time for o in ops),
            min_throughput=min(tp), max_throughput=max(tp), avg_throughput=sum(tp) / len(tp),
            error_count=sum(o.error_count for o in ops),
            input_records=n_in, output_records=n_out,
            pass_rate=n_out / n_in if n_in > 0 else 1.0,
        ))
    return rows


def run_rollup(stages: list[StageRow], config_json: str = "{}") -> list[RunRow]:
    """runs_*.parquet rows (metrics/writer.py:73-82): run input = first
    stage's input, output = last stage's output."""
    rows = []
    for (run_id,), st in _groups(stages, "run_id").items():
        n_in, n_out = st[0].input_records, st[-1].output_records
        rows.append(RunRow(
            run_id=run_id, num_stages=len(st),
            total_input_records=n_in, total_output_records=n_out,
            duration=max(s.total_time for s in st),
            avg_throughput=sum(s.avg_throughput for s in st) / len(st),
            total_errors=sum(s.error_count for s in st),
            overall_pass_rate=n_out / n_in if n_in > 0 else 1.0, config=config_json,
        ))
    return rows


def operator_metrics_df(
    collector: MetricsCollector, latencies: dict[str, float] | None | bool = True
) -> DataFrame:
    """operators_*.parquet shape; ``latencies`` as in ``operator_rows``."""
    return collector.spark.createDataFrame(operator_rows(collector, latencies), OPERATORS_DDL)


def _append_parquet(table_dir: str, rows: list, ddl: str) -> None:
    """Append ``rows`` to the parquet table at ``table_dir`` as one new
    snappy part file. It is written under a dot-prefixed name, which
    Spark's reader skips, then renamed into place, so a crash never leaves
    a half-written part. Local paths only (as in ``sources/txtable.py``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # timestamp -> pa.timestamp("us", tz="UTC"): read back as TimestampType
    schema = to_arrow_schema(StructType.fromDDL(ddl))
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(table_dir, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist([r._asdict() for r in rows], schema), tmp, compression="snappy")
    os.replace(tmp, os.path.join(table_dir, name))


def write_metrics(
    collector: MetricsCollector,
    out_dir: str,
    config_json: str = "{}",
    operators: list[OperatorRow] | None = None,
) -> None:
    """Append the three tables under the local path ``out_dir``
    (operators/, stages/, runs/ — the ``metrics/writer.py`` layout),
    written from the driver: no Spark job. ``operators``: this run's
    ``operator_rows`` when already built (default: built here)."""
    ops = operator_rows(collector) if operators is None else operators
    stages = stage_rollup(ops)
    _append_parquet(f"{out_dir}/operators", ops, OPERATORS_DDL)
    _append_parquet(f"{out_dir}/stages", stages, STAGES_DDL)
    _append_parquet(f"{out_dir}/runs", run_rollup(stages, config_json), RUNS_DDL)


# ---------------------------------------------------------------------------
# Report queries (reporter.py analytics as Spark SQL) — A3
# ---------------------------------------------------------------------------


def funnel_report(operators: DataFrame) -> DataFrame:
    """Funnel per (stage, operator): input/output sums + mean pass rate
    (``reporter.py:689-701``)."""
    return operators.groupBy("stage_name", "operator_name").agg(
        F.sum("input_records").alias("total_input"),
        F.sum("output_records").alias("total_output"),
        F.avg("pass_rate").alias("mean_pass_rate"),
        F.min("timestamp").alias("first_seen"),
    )


def bottleneck_report(operators: DataFrame) -> DataFrame:
    """Slowest operators by mean throughput (``reporter.py:962``)."""
    return (
        operators.groupBy("operator_name")
        .agg(
            F.avg("throughput").alias("mean_throughput"),
            F.avg("total_time").alias("mean_time"),
        )
        .orderBy(F.col("mean_throughput").asc_nulls_last())
    )
