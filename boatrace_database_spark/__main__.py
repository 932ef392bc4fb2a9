"""Command-line entry point — the reference's __main__ workflow
(main.py:281-299) as a CLI:

    python -m boatrace_database_spark build --txt '/root/reference/txt/*2008*.TXT' --out /tmp/wh
    python -m boatrace_database_spark build --lzh '/root/reference/lzh/*.lzh' --out /tmp/wh
    python -m boatrace_database_spark query --out /tmp/wh --date 2020-08-01
    python -m boatrace_database_spark export --out /tmp/wh --csv-dir /tmp/csv
    python -m boatrace_database_spark export-sqlite --out /tmp/wh --db /tmp/boatrace.db
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="boatrace_database_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="raw corpus -> partitioned parquet warehouse")
    src = b.add_mutually_exclusive_group(required=True)
    src.add_argument("--txt", help="glob of decompressed TXT files")
    src.add_argument("--lzh", help="glob of raw .lzh archives")
    b.add_argument("--out", required=True, help="warehouse directory")

    q = sub.add_parser("query", help="preview one day of the race table (P11/P14)")
    q.add_argument("--out", required=True)
    q.add_argument("--date", required=True, help="YYYY-MM-DD")
    q.add_argument("-n", type=int, default=20)

    e = sub.add_parser("export", help="write reference-layout per-day CSVs (S4)")
    e.add_argument("--out", required=True)
    e.add_argument("--csv-dir", required=True)
    e.add_argument("--dates", nargs="*", default=None)

    s = sub.add_parser(
        "export-sqlite", help="materialize the reference's boatrace.db (S5)"
    )
    s.add_argument("--out", required=True)
    s.add_argument("--db", required=True, help="target .db path")

    args = ap.parse_args(argv)

    from boatrace_database_spark import warehouse as W
    from boatrace_database_spark.session import get_spark

    spark = get_spark("boatrace-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "build":
        tables = W.build_warehouse(spark, args.lzh or args.txt, args.out)
        for name, df in sorted(tables.items()):
            print(f"{name}: {df.count()} rows")

    elif args.cmd == "query":
        tables = W.register_views(spark, args.out)
        W.day_slice(tables["race"], args.date).show(args.n, truncate=False)

    elif args.cmd == "export":
        tables = W.register_views(spark, args.out)
        written = W.export_reference_csvs(tables, args.csv_dir, dates=args.dates)
        for path in written:
            print(path)

    elif args.cmd == "export-sqlite":
        tables = W.register_views(spark, args.out)
        print(W.export_sqlite(tables, args.db))


if __name__ == "__main__":
    main()
