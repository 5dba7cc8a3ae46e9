"""CLI entrypoint — the no-network analog of the reference's microservice
API (SURVEY.md §3.1: the reference fronts COPY → transform → UNLOAD behind a
small service; here the same verbs are subcommands over a local
SparkSession).

    python -m aws_etl_microservice_redshift_datalake_spark list
    python -m aws_etl_microservice_redshift_datalake_spark run q_pricing_summary --sf-dir /root/testdata/sf0.01
    python -m aws_etl_microservice_redshift_datalake_spark run q_star_join --explain
    python -m aws_etl_microservice_redshift_datalake_spark sql "SELECT COUNT(*) FROM lineitem"
    python -m aws_etl_microservice_redshift_datalake_spark profile lineitem

`run` executes any registered driver-contract query; `sql` runs ad-hoc SQL
over the test tables it names (``sources.io.sql``); `profile` prints the one-scan
column profile of a table. Output is line-oriented (tab-separated, header
first) so the CLI composes with shell tooling the way a service's JSON
would with jq.
"""

from __future__ import annotations

import argparse
import sys


def _out(df, limit: int) -> None:
    rows = df.limit(limit).collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows:
        print("\t".join("" if v is None else str(v) for v in r))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="aws_etl_microservice_redshift_datalake_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered driver-contract queries")

    p_run = sub.add_parser("run", help="run a registered query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true",
                       help="print the physical plan instead of rows")

    p_sql = sub.add_parser("sql", help="ad-hoc SQL over the registered test tables")
    p_sql.add_argument("statement")
    p_sql.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_sql.add_argument("--limit", type=int, default=20)

    p_prof = sub.add_parser("profile", help="one-scan column profile of a table")
    p_prof.add_argument("table")
    p_prof.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    args = ap.parse_args(argv)

    from . import all_queries

    if args.cmd == "list":
        from . import all_oracles

        oracles = all_oracles()
        for name in all_queries():
            print(f"{name}\t{'sql-oracle' if name in oracles else 'rows-only'}")
        return 0

    from .session import get_session

    spark = get_session("cli")
    if args.cmd == "run":
        qs = all_queries()
        if args.query not in qs:
            print(f"unknown query: {args.query} (see `list`)", file=sys.stderr)
            return 2
        df = qs[args.query](spark, args.sf_dir)
        if args.explain:
            from .plans.audit import plan_str

            print("== Physical Plan ==\n" + plan_str(df))
        else:
            _out(df, args.limit)
        return 0
    if args.cmd == "sql":
        from .sources import io

        _out(io.sql(spark, args.sf_dir, args.statement), args.limit)
        return 0
    if args.cmd == "profile":
        from .operators.dq import profile_table

        _out(profile_table(spark, args.sf_dir, args.table), 100)
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
