"""CLI — the reference's canonical entry point (``mdf run -c config.yaml``,
``cli.py:41-209``) re-expressed: parse YAML → compile → run → print the
funnel stats (``cli.py:104-150`` stats print).

``run`` executes the pipeline plan exactly once. With a
``data_writer.path`` that execution is the write: the output row count
(``n_out``) is the write's own observation of the DataFrame it wrote, and
every operator count rides the same execution. Without a writer the one
execution is a ``count()`` of the output. The funnel print, ``n_out``,
``--metrics-dir`` and ``--report`` all use one harvest of those counts,
and the metrics tables are written from the driver, so nothing after the
run starts another Spark job (``--show-rejected`` and ``--report``'s
funnel queries aside).

Usage::

    python -m webscale_multimodal_datapipeline_spark.cli run -c examples/curate_documents.yaml \
        --sf-dir /root/testdata/sf0.001
    python -m webscale_multimodal_datapipeline_spark.cli explain -c ... --sf-dir ...
"""

from __future__ import annotations

import argparse
import sys
import time


def cmd_run(args: argparse.Namespace) -> int:
    from webscale_multimodal_datapipeline_spark import metrics as M
    from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline
    from webscale_multimodal_datapipeline_spark.session import get_spark

    spark = get_spark("cli-run")
    pipe = compile_pipeline(open(args.config).read())
    t0 = time.time()
    result = pipe.run(spark, args.sf_dir)
    n_out = result.metrics.output_records()
    metrics = result.metrics.harvest()
    wall = time.time() - t0

    print(f"pipeline: {args.config}")
    n_in = metrics[0].input_records if metrics else n_out
    for m in metrics:
        bar = "#" * int(m.pass_rate * 30)
        print(
            f"  {m.stage_name:>12s} | {m.operator_name:<24s} "
            f"{m.input_records:>9d} -> {m.output_records:<9d} "
            f"({m.pass_rate:6.1%}) {bar}"
        )
    if result.rejected is not None and args.show_rejected:
        n_rej = result.rejected.count()
        print(f"  rejected: {n_rej} rows")
    print(
        f"  total: {n_in} -> {n_out} ({(n_out / n_in if n_in else 1.0):.1%}) "
        f"in {wall:.2f}s ({(n_in / wall if wall > 0 else 0):,.0f} rec/s)"
    )
    if args.metrics_dir or args.report:
        operators = M.operator_rows(result.metrics, harvested=metrics)
    if args.metrics_dir:
        M.write_metrics(result.metrics, args.metrics_dir, operators=operators)
        print(f"  metrics -> {args.metrics_dir}/(operators|stages|runs)")
    if args.report:
        from webscale_multimodal_datapipeline_spark.report import write_html_report

        write_html_report(spark.createDataFrame(operators, M.OPERATORS_DDL), args.report)
        print(f"  report -> {args.report}")
    return 0


def cmd_report(args: argparse.Namespace) -> int:
    """Render the HTML report from a previously-written metrics dir
    (reference ``reporter.py`` entry shape: read parquet → report)."""
    from webscale_multimodal_datapipeline_spark.report import write_html_report
    from webscale_multimodal_datapipeline_spark.session import get_spark

    spark = get_spark("cli-report")
    operators = spark.read.parquet(f"{args.metrics_dir}/operators")
    write_html_report(operators, args.out)
    print(f"report -> {args.out}")
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline
    from webscale_multimodal_datapipeline_spark.session import get_spark

    spark = get_spark("cli-explain")
    pipe = compile_pipeline(open(args.config).read())
    result = pipe.run(spark, args.sf_dir, observe_metrics=False)
    result.output.explain("formatted")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="webscale_multimodal_datapipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name, fn in (("run", cmd_run), ("explain", cmd_explain)):
        sp = sub.add_parser(name)
        sp.add_argument("-c", "--config", required=True)
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
        sp.add_argument(
            "--metrics-dir",
            default=None,
            help="append the run/stage/operator metrics parquet here (a local path)",
        )
        sp.add_argument("--show-rejected", action="store_true")
        sp.add_argument("--report", default=None, help="write HTML report here")
        sp.set_defaults(fn=fn)
    rp = sub.add_parser("report")
    rp.add_argument("--metrics-dir", required=True)
    rp.add_argument("--out", required=True)
    rp.set_defaults(fn=cmd_report)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
