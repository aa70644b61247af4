"""Command-line surface mirroring the reference CLI (SURVEY.md §3).

Reference commands (src/com/github/winmain/logserver/Cmd.scala:10-43) and
their equivalents here:

| reference | here | notes |
|---|---|---|
| ``update <db> <paths...>`` | ``update --warehouse W --pages-dir P`` | batched ingest with dedup + lineage resume |
| ``get <db> <table> <id>`` | ``get --warehouse W --table T --id I`` | point lookup, ts-ordered, JSON output |
| ``info <db>`` | ``info --warehouse W`` | per-(sink, day) segment stats |
| ``archive <db>`` | ``archive --warehouse W`` | compact each sink partition's files (the gzip-segments analogue: fewer, larger, compressed files flipped to a read-optimized layout) |
| ``convert-month/-year`` | the parse stage itself | legacy-format parse runs inside ``update`` (S3) |

Run via ``python -m log_server_spark.cli <cmd> ...`` or spark-submit (see
packaging notes in README).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def cmd_update(spark, args) -> int:
    from log_server_spark.plans.pipeline import run_pipeline

    results = run_pipeline(
        spark, args.pages_dir, args.warehouse,
        batch_files=args.batch_files, salt=args.salt, source_format=args.format,
    )
    for r in results:
        print(f"{r.batch}: added={r.added} duplicates={r.duplicates} errors={r.errors}")
    if not results:
        print("nothing to do (all batches committed)")
    return 0


def cmd_get(spark, args) -> int:
    """Point lookup; repeat --warehouse for the reference's multi-year
    fan-out (GetCommand.scala:29-36: years.map(get).reduce(++) — a bag
    union across databases, results globally ts-sorted)."""
    from functools import reduce

    from log_server_spark.operators.lookup import get_records, to_json_records

    parts = [
        get_records(spark.read.parquet(os.path.join(w, "records")), args.table, args.id)
        for w in args.warehouse
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), parts).orderBy("ts_millis")
    for row in to_json_records(unioned).collect():
        print(row["json"])
    return 0


def cmd_info(spark, args) -> int:
    from log_server_spark.operators.aggregate import info

    records = spark.read.parquet(os.path.join(args.warehouse, "records"))
    total = 0
    for row in info(records).collect():
        total += row["records"]
        print(
            f"{row['sink']}/{row['day']}: records={row['records']} "
            f"hashes={row['hashes']} minTs={row['min_ts']} maxTs={row['max_ts']}"
        )
    print(f"total: {total}")
    return 0


def cmd_archive(spark, args) -> int:
    """Compact the warehouse and flip its batches read-only
    (``pipeline.archive``), or with ``--unmark`` make batches writable
    again."""
    from log_server_spark.catalog import RowCountMismatch, Warehouse
    from log_server_spark.plans.pipeline import archive

    if args.unmark is not None:
        wh = Warehouse(args.warehouse, spark)
        ids = args.unmark or sorted(wh.archived_batches())
        left = wh.mark_archived(ids, unmark=True)
        print(json.dumps({"unmarked": sorted(ids), "still_archived": sorted(left)}))
        return 0
    try:
        print(json.dumps(archive(spark, args.warehouse)))
    except RowCountMismatch as e:
        print(f"ABORT: row count mismatch {e.want} -> {e.got}", file=sys.stderr)
        return 1
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="log-server-spark", description=__doc__)
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("update", help="ingest pages: parse, dedup, enrich, route, aggregate")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--pages-dir", required=True)
    p.add_argument("--batch-files", type=int, default=4)
    p.add_argument("--salt", type=int, default=8)
    p.add_argument(
        "--format", choices=["pages", "saved"], default="pages",
        help="input units: parquet pages tables, or reference-wire .saved files",
    )
    p.set_defaults(fn=cmd_update)

    p = sub.add_parser("get", help="point lookup: all records for (table, id)")
    p.add_argument(
        "--warehouse", required=True, action="append",
        help="repeat for multi-warehouse (multi-year) bag-union fan-out",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--id", required=True)
    p.set_defaults(fn=cmd_get)

    p = sub.add_parser("info", help="per-(sink, day) segment statistics")
    p.add_argument("--warehouse", required=True)
    p.set_defaults(fn=cmd_info)

    p = sub.add_parser("archive", help="compact sink files (gzip-segments analogue)")
    p.add_argument("--warehouse", required=True)
    p.add_argument(
        "--unmark", nargs="*", metavar="BATCH",
        help="make batches writable again (no ids = all) and exit",
    )
    p.set_defaults(fn=cmd_archive)

    args = ap.parse_args(argv)
    from pyspark.sql import SparkSession

    from log_server_spark.session import get_spark

    # reuse an embedding process's session, and never stop one we did not make
    spark = SparkSession.getActiveSession()
    owned = spark is None
    if owned:
        spark = get_spark(master=args.master, app_name="lss-cli")
    try:
        return args.fn(spark, args)
    finally:
        if owned:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
