"""The traced run: where the wall of one ``cli run`` goes, layer by layer.

The benchmark makes the calls ``cmd_run`` makes itself, one span each
(``compiler.compile``, ``pipeline.run``, ``cli.recount``,
``metrics.harvest``, ``metrics.write``, under a ``cli.run`` root span),
and splits ``pipeline.run`` further by replaying plan prefixes into
Spark's ``noop`` sink:

- ``catalog.scan``: ``Pipeline.load`` drained through ``noop``;
- ``operators.<op>``: the prefix ending at ``<op>`` drained through
  ``noop``; the op's self time is that minus the previous prefix;
- ``writer``: ``pipeline.run`` with the writer minus the full plan on
  ``noop``;
- ``compiler.plan``: ``Pipeline.run`` without the writer (plan build plus
  the eager actions some operators take);
- ``compiler.rejected``: that run's rejected side-plan drained through
  ``noop`` after its output (only when the writer writes rejected rows);
- ``writer.alone``: the writes ``Pipeline.run`` makes, from the cached
  output and rejected rows of that run.

``scan + sum of operator self times + rejected + writer alone`` is
measured apart from the traced ``pipeline.run`` span; the gap between
the two, as a share of the span, is ``trace.unaccounted_share``.

Each step runs once (a replay re-runs the plan, so the decomposition
costs about a ``cli run`` per operator, and a traced run has to end
within 180 s). Spark's status-store counters are read over
the traced ``cli.run``.
"""

from __future__ import annotations

import copy
import os

import yaml
from pyspark.sql import functions as F

import workloads as W
from tracing import MB, SparkCounters, Tracer


# Every operator of every workload: a traced run reports each, with 0
# for an operator its workload's plan does not contain.
ALL_OPS = tuple(dict.fromkeys(op for wl in W.WORKLOADS.values() for op in wl.ops))


def _tree_size(path: str) -> tuple[float, int]:
    """(MB, parquet file count) under ``path``."""
    total, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total / MB, files


def prefix_config(cfg: dict, n_ops: int) -> dict:
    """The config cut after its first ``n_ops`` operators, writer removed."""
    out = copy.deepcopy(cfg)
    out.pop("data_writer", None)
    stages, left = [], n_ops
    for s in out["stages"]:
        if left <= 0:
            break
        s["operators"] = s["operators"][:left]
        left -= len(s["operators"])
        stages.append(s)
    out["stages"] = stages
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_like_pipeline(wr: dict, output, rejected) -> None:
    """The writes ``Pipeline.run`` makes for a parquet ``data_writer``."""
    from webscale_multimodal_datapipeline_spark.operators.base import REJECTION_COL

    output.write.mode("overwrite").option("compression", "snappy").parquet(wr["path"])
    if rejected is not None and wr.get("rejected_path"):
        (
            rejected.withColumn("operator", F.col(f"{REJECTION_COL}.operator"))
            .write.mode("overwrite")
            .partitionBy("operator")
            .parquet(wr["rejected_path"])
        )


def run(runner, args, t_setup: float, single_core_wall) -> tuple[dict, dict]:
    from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline
    from webscale_multimodal_datapipeline_spark.metrics import write_metrics

    spark = runner.spark
    wl = runner.wl
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tr = Tracer()
    counters = SparkCounters(spark)
    cfg = yaml.safe_load(runner.yaml)

    # Untraced reference: the warm run right before the traced one (one
    # more after it would push a traced run past the 180 s it may take).
    runner.cli_run()  # cold
    before = runner.cli_run()

    # The traced cli run: the steps of cmd_run, one span each.
    runner.reset()
    tr.run_id = "cli"
    whole = counters.mark()
    with tr.span("cli.run") as root:
        with tr.span("compiler.compile"):
            pipe = compile_pipeline(runner.yaml)
        with tr.span("pipeline.run"):
            result = pipe.run(spark, None)
        m = counters.mark()
        with tr.span("cli.recount"):
            result.output.count()
        recount_jobs = len(counters.jobs_since(m))
        m = counters.mark()
        with tr.span("metrics.harvest"):
            result.metrics.harvest()
        harvest_jobs = len(counters.jobs_since(m))
        with tr.span("metrics.write"):
            write_metrics(result.metrics, runner.metrics_dir)
    sc = counters.read(whole)
    runner.attempted += 1
    runner.check()
    out_mb, out_files = _tree_size(W.output_dir(runner.out))
    rej_mb, rej_files = _tree_size(W.rejected_dir(runner.out))
    untraced_wall = before if before is not None else float("nan")

    # Decomposition of pipeline.run.
    tr.run_id = "split"
    runner.reset()
    m = counters.mark()
    with tr.span("compiler.plan"):
        res = compile_pipeline(prefix_config(cfg, len(wl.ops))).run(spark, None)
    plan_jobs = len(counters.jobs_since(m))
    wr = cfg["data_writer"]
    output = res.output.persist()
    _noop(output)  # the output side, as the writer's first write runs it
    rejected = None
    if res.rejected is not None and wr.get("rejected_path"):
        with tr.span("compiler.rejected"):
            rejected = res.rejected.persist()
            _noop(rejected)
    with tr.span("writer.alone"):
        _write_like_pipeline(wr, output, rejected)
    for df in (output, rejected):
        if df is not None:
            df.unpersist()
    res.release()
    runner.reset()
    with tr.span("catalog.scan"):
        _noop(compile_pipeline(prefix_config(cfg, 0)).load(spark))
    rows_out = {}
    for i, op in enumerate(wl.ops):
        runner.reset()
        with tr.span(f"operators.{op}"):
            res = compile_pipeline(prefix_config(cfg, i + 1)).run(spark, None)
            _noop(res.output)
        rows_out[op] = res.metrics.harvest()[-1].output_records
        res.release()
    runner.reset()

    t = {s.name: s.duration for s in tr.spans}
    prefix = [t["catalog.scan"]] + [t[f"operators.{op}"] for op in wl.ops]
    self_s = {op: prefix[i + 1] - prefix[i] for i, op in enumerate(wl.ops)}
    write_s = t["pipeline.run"] - prefix[-1]
    traced_wall = root.duration
    rejected_s = t.get("compiler.rejected", 0.0)
    parts = prefix[-1] + rejected_s + t["writer.alone"]
    one_core = single_core_wall(args)

    metrics = {
        "session.start_s": (t_setup, "s"),
        "compiler.compile_s": (t["compiler.compile"], "s"),
        "compiler.plan_s": (t["compiler.plan"], "s"),
        "compiler.plan_jobs": (plan_jobs, "count"),
        "catalog.scan_s": (t["catalog.scan"], "s"),
        "catalog.input_mb": (_tree_size(runner.corpus.parquet)[0], "MB"),
    }
    for op in ALL_OPS:
        metrics[f"operators.{op}.self_s"] = (self_s.get(op, 0.0), "s")
        metrics[f"operators.{op}.rows_out"] = (rows_out.get(op, 0), "count")
    metrics.update(
        {
            "compiler.rejected_s": (rejected_s, "s"),
            "writer.write_s": (write_s, "s"),
            "writer.alone_s": (t["writer.alone"], "s"),
            "writer.output_mb": (out_mb + rej_mb, "MB"),
            "writer.files": (out_files + rej_files, "count"),
            "cli.recount_s": (t["cli.recount"], "s"),
            "cli.recount_jobs": (recount_jobs, "count"),
            "metrics.harvest_s": (t["metrics.harvest"], "s"),
            "metrics.harvest_jobs": (harvest_jobs, "count"),
            "metrics.write_s": (t["metrics.write"], "s"),
            "spark.jobs": (sc["jobs"], "count"),
            "spark.stages": (sc["stages"], "count"),
            "spark.tasks": (sc["tasks"], "count"),
            "spark.task_run_s": (sc["task_run_s"], "s"),
            "spark.task_cpu_s": (sc["task_cpu_s"], "s"),
            "spark.busy_share": (sc["task_run_s"] / (traced_wall * cpus), "ratio"),
            "spark.gc_s": (sc["gc_s"], "s"),
            "spark.shuffle_write_mb": (sc["shuffle_write_mb"], "MB"),
            "spark.shuffle_read_mb": (sc["shuffle_read_mb"], "MB"),
            "spark.spill_mb": (sc["spill_mb"], "MB"),
            "spark.python_udf_s": (sc["python_udf_s"], "s"),
            "spark.task_skew": (sc["task_skew"], "ratio"),
            "spark.speedup_1core": (one_core / untraced_wall, "ratio"),
            "trace.untraced_wall_s": (untraced_wall, "s"),
            "trace.traced_wall_s": (traced_wall, "s"),
            "trace.overhead_s": (traced_wall - untraced_wall, "s"),
            "trace.unaccounted_share": (abs(t["pipeline.run"] - parts) / t["pipeline.run"], "ratio"),
        }
    )
    trace_path = os.path.join(os.path.dirname(runner.yaml_path), f"trace-{wl.name}-s{args.seed}.json")
    tr.dump(trace_path)
    record = {"spans": trace_path, "spark": sc, "single_core_wall_s": one_core}
    record["pipeline_run_minus_parts_s"] = t["pipeline.run"] - parts
    return metrics, record
