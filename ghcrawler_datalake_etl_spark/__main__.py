"""CLI entry points - the reference's parameterized stored procedures
(SURVEY.md 2.1 S8: StageData(Y,M,D), ProcessDaily(Y,M,D),
GetRepoData(org, repo); /root/reference/USQL/ProcessDaily.usql:7,
StageData.usql:5, GetRepoData-unused.usql:7) as subcommands:

    python -m ghcrawler_datalake_etl_spark stage --input DIR --staging DIR --date 2024-01-05
    python -m ghcrawler_datalake_etl_spark daily --staging DIR --warehouse DIR --date 2024-01-05 [--init] [--tables T1,T2]
    python -m ghcrawler_datalake_etl_spark export --warehouse DIR --org LOGIN --repo NAME --out DIR
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ghcrawler_datalake_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_stage = sub.add_parser("stage", help="ingest one day's JSON into staging")
    p_stage.add_argument("--input", required=True)
    p_stage.add_argument("--staging", required=True)
    p_stage.add_argument("--date", required=True, help="YYYY-MM-DD")

    p_daily = sub.add_parser("daily", help="curate one day into the catalog")
    p_daily.add_argument("--staging", required=True)
    p_daily.add_argument("--warehouse", required=True)
    p_daily.add_argument("--date", required=True)
    p_daily.add_argument("--init", action="store_true",
                         help="backfill mode (ignore previous snapshots)")
    p_daily.add_argument("--tables", default=None,
                         help="comma-separated table subset")

    p_exp = sub.add_parser("export", help="per-repo join fan-out -> TSVs")
    p_exp.add_argument("--warehouse", required=True)
    p_exp.add_argument("--org", required=True)
    p_exp.add_argument("--repo", required=True)
    p_exp.add_argument("--out", required=True)

    args = ap.parse_args(argv)

    from ghcrawler_datalake_etl_spark.session import get_spark

    spark = get_spark(app_name=f"ghlake-{args.cmd}")

    if args.cmd == "stage":
        from ghcrawler_datalake_etl_spark.sources.staging import stage_json

        stage_json(spark, args.input, args.staging, args.date)
    elif args.cmd == "daily":
        from ghcrawler_datalake_etl_spark.pipeline import run_daily
        from ghcrawler_datalake_etl_spark.plans.catalog import CATALOG, spec_for
        from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

        specs = (
            tuple(spec_for(t) for t in args.tables.split(","))
            if args.tables
            else CATALOG
        )
        built = run_daily(
            spark,
            args.staging,
            args.date,
            ParquetCatalog(spark, args.warehouse),
            specs=specs,
            init_mode=args.init,
        )
        print("\n".join(built))
    else:
        from ghcrawler_datalake_etl_spark.export import export_repo_data
        from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

        counts = export_repo_data(
            ParquetCatalog(spark, args.warehouse), args.org, args.repo, args.out
        )
        for name, n in counts.items():
            print(f"{name}\t{n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
