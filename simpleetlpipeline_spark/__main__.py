"""CLI entry point — the reference is executed as a script whose
main() runs the full pipeline and prints an analytics report
(main.py:727-745); a migrating user needs the same invocation
surface, not just a library:

    python -m simpleetlpipeline_spark run --workdir /tmp/etl \\
        [--config etl_config.yaml] [--scale 1.0]
    python -m simpleetlpipeline_spark report --sf-dir <dir> [--html out]
    python -m simpleetlpipeline_spark monitor --workdir /tmp/etl
    python -m simpleetlpipeline_spark curate --sf-dir <dir> [--out dir]

`run` = EP1 (generate -> extract/transform/load -> rollup, metrics
summary per main.py:602-606), `report` = EP2 (the three analytics
queries main.py:642-691), `monitor` = EP3 (get_pipeline_status
main.py:820-851). --config accepts the reference's etl_config.yaml
verbatim (ETLConfig.from_yaml).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark():
    from simpleetlpipeline_spark.session import ensure_session_conf, get_spark

    return ensure_session_conf(get_spark("simpleetl-cli"))


def cmd_run(args) -> int:
    from simpleetlpipeline_spark.generator import table_builders
    from simpleetlpipeline_spark.pipeline import ETLConfig, run_full_pipeline

    cfg = (ETLConfig.from_yaml(args.config,
                               warehouse_dir=os.path.join(
                                   args.workdir, "warehouse"))
           if args.config else
           ETLConfig(warehouse_dir=os.path.join(args.workdir, "warehouse")))
    spark = _spark()
    builders = table_builders(
        spark, n_customers=int(2000 * args.scale),
        n_products=int(500 * args.scale),
        n_orders=int(1500 * args.scale))
    m = run_full_pipeline(
        spark, os.path.join(args.workdir, "src"), cfg, builders)
    # the reference's run summary (main.py:602-606)
    print(f"records processed: {m.records_processed}")
    print(f"records inserted:  {m.records_inserted}")
    print(f"successful tables: {m.successful_tables}")
    print(f"failed tables:     {m.failed_tables}")
    print(f"total time:        {m.total_time}s")
    for table, err in m.errors.items():
        print(f"ERROR {table}: {err}")
    return 1 if m.failed_tables else 0


def cmd_report(args) -> int:
    from simpleetlpipeline_spark.plans.analytics import (
        monthly_sales,
        segment_rollup,
        top_products,
    )

    spark = _spark()
    for name, fn in (("monthly_sales", monthly_sales),
                     ("segment_rollup", segment_rollup),
                     ("top_products", top_products)):
        print(f"== {name}")
        for r in fn(spark, args.sf_dir).collect():
            print("  " + json.dumps(r.asDict(), default=str))
    if args.html:
        from simpleetlpipeline_spark.dashboard import write_dashboard

        paths = write_dashboard(spark, args.sf_dir, args.html)
        print(f"dashboard: {paths}")
    return 0


def cmd_curate(args) -> int:
    """LLM-corpus front door: print the single-row pretraining
    readiness report (the whole curate -> split -> pack -> shard
    funnel as one plan) and optionally write the curated-corpus
    manifest as parquet."""
    from simpleetlpipeline_spark.functions.curation import (
        corpus_curate,
        pretrain_prepare_report,
    )

    spark = _spark()
    row = pretrain_prepare_report(spark, args.sf_dir).collect()[0]
    print(json.dumps(row.asDict(), default=str, indent=1))
    if args.out:
        manifest = corpus_curate(spark, args.sf_dir)
        manifest.write.mode("overwrite").parquet(args.out)
        print(f"curated manifest: {args.out}")
    return 0


def cmd_monitor(args) -> int:
    from simpleetlpipeline_spark.pipeline import ETLConfig, pipeline_status

    cfg = ETLConfig(warehouse_dir=os.path.join(args.workdir, "warehouse"))
    print(json.dumps(pipeline_status(_spark(), cfg), default=str, indent=1))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="simpleetlpipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="EP1: full ETL cycle")
    run.add_argument("--workdir", required=True)
    run.add_argument("--config", help="reference etl_config.yaml")
    run.add_argument("--scale", type=float, default=1.0,
                     help="multiple of the reference's sample sizes")
    run.set_defaults(fn=cmd_run)

    rep = sub.add_parser("report", help="EP2: analytics report")
    rep.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    rep.add_argument("--html", help="also render the HTML dashboard here")
    rep.set_defaults(fn=cmd_report)

    cur = sub.add_parser(
        "curate", help="pretraining-corpus readiness report + manifest")
    cur.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    cur.add_argument("--out", help="write the curated manifest parquet here")
    cur.set_defaults(fn=cmd_curate)

    mon = sub.add_parser("monitor", help="EP3: pipeline status")
    mon.add_argument("--workdir", required=True)
    mon.set_defaults(fn=cmd_monitor)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
