"""CLI for the river — the analog of the reference's river registration
(import.sh:4-22: one JSON config PUT to ES starts the import loop).

    python -m elasticsearch_hbase_river_spark \
        --source /path/to/cells_parquet --sink /path/to/sink \
        --table events --index river --type doc \
        --batch-size 1000 --interval-ms 60000 \
        [--family meta] [--qualifiers a,b] [--id-field fam::qual]
        [--separator '::'] [--delete-old]
        [--streaming --checkpoint DIR [--sink-format es_bulk]]

Batch mode runs one tick (run_once) per invocation — the reference's
scheduler becomes cron/Airflow/whatever owns the cadence. ``--streaming``
starts a Structured Streaming query triggered every ``--interval-ms``
(the reference's polling loop) and blocks until interrupted; its
``--source`` is a parquet cells directory or a cellstore. A flag the
chosen mode would ignore exits 2 with one line on stderr.

The ``esql`` subcommand runs an ES|QL query against a fixture/table
directory and prints the result — the interactive face of the engine's
query language (`esql.py`):

    python -m elasticsearch_hbase_river_spark esql \
        'FROM events | STATS n = COUNT(*) BY event_type | SORT n DESC' \
        --data /root/testdata/sf0.01 [--limit 20] [--master 'local[*]']
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="elasticsearch_hbase_river_spark")
    p.add_argument("--source", required=True,
                   help="parquet directory holding the cells relation")
    p.add_argument("--sink", required=True, help="sink parquet directory")
    p.add_argument("--table", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--type", dest="type_name", required=True)
    p.add_argument("--family")
    p.add_argument("--qualifiers", default="",
                   help="comma-separated qualifier IN-list (requires --family)")
    p.add_argument("--batch-size", type=int, default=100)
    p.add_argument("--interval-ms", type=int, default=600_000)
    p.add_argument("--id-field")
    p.add_argument("--separator")
    p.add_argument("--no-normalize", action="store_true")
    p.add_argument("--delete-old", action="store_true")
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--checkpoint", help="checkpoint dir (streaming mode)")
    p.add_argument("--source-format", default="parquet",
                   choices=["parquet", "orc", "csv", "json"],
                   help="landed format of the cells relation (batch mode; "
                        "a stream reads parquet or a cellstore)")
    p.add_argument("--sink-format", default="parquet",
                   choices=["parquet", "es_bulk"],
                   help="es_bulk writes Elasticsearch bulk-request files "
                        "(streaming mode only)")
    p.add_argument("--master", default="local[*]")
    return p


def esql_main(argv: list[str]) -> int:
    from pyspark.sql import SparkSession

    p = argparse.ArgumentParser(
        prog="elasticsearch_hbase_river_spark esql")
    p.add_argument("query", help="ES|QL query text")
    p.add_argument("--data", help="directory holding the fixture parquet "
                                  "tables FROM resolves against (not "
                                  "needed for ROW-sourced queries)")
    p.add_argument("--limit", type=int, default=50,
                   help="max rows to print (the plan itself is NOT "
                        "limited — add | LIMIT for that)")
    p.add_argument("--explain", action="store_true",
                   help="print the optimized physical plan "
                        "(explain formatted) instead of running")
    p.add_argument("--master", default="local[*]")
    args = p.parse_args(argv)

    from elasticsearch_hbase_river_spark.esql import ESQLError, esql

    owns_session = SparkSession.getActiveSession() is None
    spark = (SparkSession.builder.master(args.master)
             .appName("river-esql").getOrCreate())
    try:
        try:
            df = esql(spark, args.query, sf_dir=args.data)
            if args.explain:
                # the plan a user should read before running at scale:
                # check PushedFilters / ReadSchema / broadcast / TakeOrdered
                df.explain(mode="formatted")
            else:
                df.show(args.limit, truncate=False)
        except ESQLError as e:
            print(str(e), file=sys.stderr)
            return 2
        except Exception as e:  # runtime failure inside the lazy job
            first = str(e).strip().splitlines()
            print(f"ES|QL execution failed: "
                  f"{first[0] if first else type(e).__name__}",
                  file=sys.stderr)
            return 3
        return 0
    finally:
        if owns_session:
            spark.stop()


def _usage_error(args: argparse.Namespace) -> str | None:
    """The one-line complaint about a flag the chosen mode would ignore,
    or None."""
    if args.streaming:
        if not args.checkpoint:
            return "--streaming requires --checkpoint"
        if args.source_format != "parquet":
            return ("--streaming reads parquet or a cellstore; "
                    f"--source-format {args.source_format} is batch-only")
    elif args.sink_format != "parquet":
        return f"--sink-format {args.sink_format} requires --streaming"
    return None


def main(argv: list[str] | None = None) -> int:
    from pyspark.sql import SparkSession

    from elasticsearch_hbase_river_spark.config import RiverConfig

    argv = list(sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] == "esql":
        return esql_main(argv[1:])
    args = build_parser().parse_args(argv)
    usage_error = _usage_error(args)
    if usage_error:
        print(usage_error, file=sys.stderr)
        return 2
    # reuse an ambient session (tests, notebooks); only stop what we create
    owns_session = SparkSession.getActiveSession() is None
    config = RiverConfig(
        table=args.table, index=args.index, type_name=args.type_name,
        family=args.family,
        qualifiers=tuple(q for q in args.qualifiers.split(",") if q),
        batch_size=args.batch_size, interval_ms=args.interval_ms,
        id_field=args.id_field, column_separator=args.separator,
        normalize_fields=not args.no_normalize,
        delete_old=args.delete_old,
    )
    spark = (SparkSession.builder.master(args.master)
             .appName(f"river-{config.index}").getOrCreate())
    try:
        if args.streaming:
            from elasticsearch_hbase_river_spark.streaming.river_stream import (
                start_river_stream,
            )
            q = start_river_stream(spark, config, args.source, args.sink,
                                   args.checkpoint,
                                   sink_format=args.sink_format)
            q.awaitTermination()
            return 0
        from elasticsearch_hbase_river_spark.sources.formats import read_cells
        from elasticsearch_hbase_river_spark.plans.pipeline import run_once

        cells = read_cells(spark, args.source, args.source_format)
        res = run_once(spark, cells, config, args.sink)
        print(f"rows_indexed={res.rows_indexed} "
              f"watermark_ms={res.watermark_ms} "
              f"deleted_keys={res.deleted_keys}")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
