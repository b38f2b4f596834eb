"""Daily-job entrypoint — the reference's EP3 ``main()``
(sessionization/main.py:1335-1390) as a CLI over the library:

    python -m google_analytics_to_s3_spark \\
        --input  /data/enriched/ga/year=2026/month=08/day=13 \\
        --output /data/aggregated/ga/daily \\
        --history /data/aggregated/ga/sessions_history \\
        --date 2026-08-13

Reads the day's enriched JSONL hits with the explicit 266-column
schema (S1 — no RDD normalizer), runs the full pipeline (sessionize →
attribution → unpivot → six GA360 marts, with touchpoints recomputed
over history ∪ today when --history is given), filters each mart to
the job date (P5, as ``to_date(timestamp) = date`` instead of the
reference's string ``contains``), writes each mart under Hive-style
``type=X/year=Y/month=M/day=D`` (S4) so downstream reads
partition-prune natively, and then appends today's sessions to the
history table (S3).

The pipeline runs once (``plans/pipeline.write_daily_job``): the
hit-grain export and the day's sessions mart are persisted, all six
marts are written from them, and the printed row counts are observed
during those writes instead of counted by six more jobs. The history
append comes after the mart writes because it refreshes every cached
plan that reads the history path — the sessions mart among them — and
a sessions mart recomputed over the appended history would count
today's sessions twice.
"""

from __future__ import annotations

import argparse


def _query_main(argv: list[str]) -> None:
    """``query`` subcommand: run any registered analytics query.

        python -m google_analytics_to_s3_spark query list
        python -m google_analytics_to_s3_spark query pricing_summary \\
            --sf-dir /root/testdata/sf0.01 --limit 20
        python -m google_analytics_to_s3_spark query rfm_segments \\
            --sf-dir /data/tables --out /data/marts/rfm
    """
    p = argparse.ArgumentParser(
        prog="python -m google_analytics_to_s3_spark query",
        description="Run a registered query from the analytics registry.",
    )
    p.add_argument("name", help="query name, or 'list' to enumerate")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="directory holding the parquet tables")
    p.add_argument("--limit", type=int, default=20,
                   help="rows to show when --out is not given")
    p.add_argument("--out", default=None,
                   help="write the full result as parquet here instead "
                        "of showing rows")
    p.add_argument("--master", default=None,
                   help="Spark master override (default: session config)")
    args = p.parse_args(argv)

    from .plans import driver_queries as dq

    if args.name == "list":
        for n in sorted(dq.QUERIES):
            print(n)
        return
    if args.name not in dq.QUERIES:
        raise SystemExit(
            f"unknown query {args.name!r}; "
            f"run 'query list' for the {len(dq.QUERIES)} available"
        )

    from .session import get_spark

    spark = (
        get_spark(master=args.master) if args.master else get_spark()
    )
    df = dq.QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print({"query": args.name, "out": args.out, "rows": df.count()})
    else:
        df.show(args.limit, truncate=False)


def main(argv: list[str] | None = None) -> None:
    if argv is None:
        import sys as _sys

        argv = _sys.argv[1:]
    argv = list(argv)
    if argv and argv[0] == "query":
        return _query_main(argv[1:])
    p = argparse.ArgumentParser(
        prog="python -m google_analytics_to_s3_spark",
        description="Run the daily GA sessionization/export job.",
    )
    p.add_argument("--input", required=True,
                   help="enriched JSONL path/glob for the day")
    p.add_argument("--output", required=True,
                   help="base dir for the six daily marts")
    p.add_argument("--date", required=True, help="job date YYYY-MM-DD")
    p.add_argument("--history", default=None,
                   help="session-history parquet dir (read + appended)")
    p.add_argument("--master", default=None,
                   help="Spark master override (default: session config)")
    p.add_argument("--hot-visitor-min-hits", type=int, default=None,
                   help="hot/cold split threshold for skewed visitors")
    p.add_argument("--no-day-filter", action="store_true",
                   help="keep hits of every date in the outputs")
    args = p.parse_args(argv)

    from .plans.pipeline import write_daily_job
    from .session import get_spark
    from .sources.ga import read_enriched_hits

    spark = (
        get_spark(master=args.master) if args.master else get_spark()
    )
    counts = write_daily_job(
        read_enriched_hits(spark, args.input),
        args.output,
        args.date,
        history_path=args.history,
        hot_visitor_min_hits=args.hot_visitor_min_hits,
        day_filter=not args.no_day_filter,
    )
    print({"date": args.date, "rows": counts})


if __name__ == "__main__":
    main()
