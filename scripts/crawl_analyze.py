"""CLI for post-hoc crawl analytics + reports (reference `analyze` /
`report` commands, cli.py:89-167 and cli.py:280-344).

    python scripts/crawl_analyze.py analyze --workdir /tmp/crawl-run
    python scripts/crawl_analyze.py report  --workdir /tmp/crawl-run \
        --out /tmp/report.html --format html
    python scripts/crawl_analyze.py analyze --workdir A --workdir B   # cross-session

`analyze` prints the session summary, queue health, per-round metrics and
top words as JSON (the reference's terminal analytics view); with multiple
--workdir flags it prints the cross-session merge instead
(reporting/analytics.py:595-618). `report` writes json/md/html/csv via
crawler_spark.reporting (S13). Works under spark-submit --py-files exactly
like scripts/submit_crawl.py; standalone invocation builds a local session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("crawler-spark-analyze")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def main() -> None:
    p = argparse.ArgumentParser(description="Analyze a committed crawl catalog")
    sub = p.add_subparsers(dest="cmd", required=True)

    pa = sub.add_parser("analyze", help="print session analytics as JSON")
    pa.add_argument("--workdir", action="append", required=True,
                    help="snapshot catalog root (repeat for cross-session merge)")
    pa.add_argument("--top", type=int, default=20, help="top-N words")

    pc = sub.add_parser("curate", help="keepset-filter a crawl into training shards")
    pc.add_argument("--workdir", required=True)
    pc.add_argument("--out", required=True, help="output directory")
    pc.add_argument("--shards", type=int, default=8)
    pc.add_argument("--lang", default="en")

    pr = sub.add_parser("report", help="render a session report file")
    pr.add_argument("--workdir", required=True)
    pr.add_argument("--out", required=True, help="output path")
    pr.add_argument("--format", default="html",
                    choices=["json", "md", "markdown", "html", "csv"])
    pr.add_argument("--top", type=int, default=20)

    pm = sub.add_parser(
        "compare", help="render a cross-session comparison dashboard"
    )
    pm.add_argument("--workdir", action="append", required=True,
                    help="snapshot catalog root (repeat, >=2)")
    pm.add_argument("--out", required=True, help="output path")
    pm.add_argument("--format", default="html", choices=["json", "html"])
    pm.add_argument("--top", type=int, default=12)

    ph = sub.add_parser(
        "history", help="snapshot log, time-travel and CDC reads (tables.py)"
    )
    ph.add_argument("--workdir", required=True)
    ph.add_argument("--table", default=None,
                    help="with --as-of/--since: table to read")
    ph.add_argument("--as-of", type=int, default=None, dest="as_of",
                    help="read --table exactly as committed at this round")
    ph.add_argument("--since", type=int, default=None,
                    help="CDC: rows appended to --table after this round")

    pe = sub.add_parser(
        "expire",
        help="expire old snapshots (WRITER-ONLY maintenance; bounds disk, "
        "truncates time travel to the kept window; applies pending "
        "migrations first)",
    )
    pe.add_argument("--workdir", required=True)
    pe.add_argument("--keep-last", type=int, default=3, dest="keep_last")

    ps = sub.add_parser(
        "status",
        help="cross-session status: list known crawl workdirs with session "
        "state and queue health (reference cli.py:221-273)",
    )
    ps.add_argument("--root", default=None,
                    help="scan this directory for snapshot catalogs")
    ps.add_argument("--workdir", action="append", default=None,
                    help="explicit workdir(s) instead of --root scanning")

    pg = sub.add_parser(
        "migrate",
        help="apply pending catalog-format migrations (WRITER-ONLY; "
        "status with --dry-run)",
    )
    pg.add_argument("--workdir", required=True)
    pg.add_argument("--dry-run", action="store_true", dest="dry_run",
                    help="print status without applying")

    args = p.parse_args()
    spark = _spark()
    from crawler_spark import analytics, reporting

    if args.cmd == "analyze":
        if len(args.workdir) == 1:
            wd = args.workdir[0]
            # url_template_stats returns None on a catalog with no frontier
            # table — emit [] rather than crash the whole report
            uts = analytics.url_template_stats(spark, wd)
            out = {
                "session": analytics.session_summary(spark, wd),
                "queue_health": analytics.queue_health(spark, wd),
                "stage_timing": analytics.stage_timing_summary(wd),
                "per_round": [
                    r.asDict()
                    for r in analytics.per_round_metrics(spark, wd).orderBy("round").collect()
                ],
                "top_words": [
                    r.asDict()
                    for r in analytics.top_words(spark, wd, args.top).collect()
                ],
                "url_templates": [] if uts is None else [
                    r.asDict() for r in uts.limit(args.top).collect()
                ],
                "hot_hosts": [
                    r.asDict()
                    for r in analytics.hot_hosts(spark, wd).collect()
                ],
                # dust_rule_summary returns None on a catalog with no links
                "dust_rules": [] if (drs := analytics.dust_rule_summary(spark, wd)) is None else [
                    r.asDict() for r in drs.limit(args.top).collect()
                ],
                # per-host residual-chrome audit (None without a pages table)
                "template_segments": [] if (tps := analytics.template_summary(spark, wd)) is None else [
                    r.asDict() for r in tps.limit(args.top).collect()
                ],
            }
        else:
            out = {
                **analytics.cross_session_summary(spark, args.workdir),
                # pairwise seen-set overlap of the first two sessions (the
                # KMV sketch path; exact counts included)
                "overlap": analytics.crawl_overlap(
                    spark, args.workdir[0], args.workdir[1]
                ),
                "top_words": [
                    r.asDict()
                    for r in analytics.cross_session_top_words(
                        spark, args.workdir, args.top
                    ).collect()
                ],
            }
        print(json.dumps(out, indent=2, default=str))
    elif args.cmd == "curate":
        from crawler_spark.operators.pipeline import curate_crawl

        card = curate_crawl(spark, args.workdir, args.out, args.shards, args.lang)
        print(json.dumps(card, indent=2, default=str))
    elif args.cmd == "history":
        from crawler_spark.tables import SnapshotCatalog

        cat = SnapshotCatalog(args.workdir)
        # reject silently-ignored flag combinations: --as-of/--since need
        # --table, and they are mutually exclusive reads
        if (args.as_of is not None or args.since is not None) and not args.table:
            p.error("history: --as-of/--since require --table")
        if args.as_of is not None and args.since is not None:
            p.error("history: --as-of and --since are mutually exclusive")
        if args.table and args.as_of is not None:
            df = cat.read_as_of(spark, args.table, args.as_of)
            out = {
                "table": args.table, "as_of": args.as_of,
                "rows": None if df is None else df.count(),
                "sample": [] if df is None else [r.asDict() for r in df.limit(5).collect()],
            }
        elif args.table and args.since is not None:
            df = cat.read_increment(
                spark, args.table, args.since, cat.current_round()
            )
            out = {
                "table": args.table, "since": args.since,
                "to": cat.current_round(),
                "rows_appended": None if df is None else df.count(),
            }
        else:
            out = {
                "current_round": cat.current_round(),
                "snapshots": cat.snapshots(),
            }
        print(json.dumps(out, indent=2, default=str))
    elif args.cmd == "status":
        if not args.root and not args.workdir:
            p.error("status: need --root or at least one --workdir")
        wds = analytics.status_workdirs(args.workdir or [], args.root)
        print(json.dumps(analytics.workdir_status(spark, wds),
                         indent=2, default=str))
    elif args.cmd == "expire":
        from crawler_spark.migrations import migrate_to_latest
        from crawler_spark.tables import SnapshotCatalog

        migrate_to_latest(spark, args.workdir)  # expiry needs the budget counter
        removed = SnapshotCatalog(args.workdir).expire_snapshots(args.keep_last)
        print(json.dumps(removed, indent=2))
    elif args.cmd == "migrate":
        from crawler_spark.migrations import migrate_to_latest, migrations_status

        out = (
            migrations_status(args.workdir)
            if args.dry_run
            else migrate_to_latest(spark, args.workdir)
        )
        print(json.dumps(out, indent=2, default=str))
    elif args.cmd == "compare":
        path = reporting.generate_comparison_report(
            spark, args.workdir, args.out, args.format, args.top
        )
        print(path)
    else:
        path = reporting.generate_session_report(
            spark, args.workdir, args.out, args.format, args.top
        )
        print(path)


if __name__ == "__main__":
    main()
