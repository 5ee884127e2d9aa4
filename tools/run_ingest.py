"""Production job entry point for `spark-submit --py-files`.

Tails (or batch-replays) a changelog and merges it into the lake table:

    spark-submit --master <cluster> \
        --py-files dist/polardbx_tools_spark.zip tools/run_ingest.py \
        --changelog <path> --table <path> [--stream --checkpoint <dir>] \
        [--batch-lsns N] [--buckets N] [--max-events-per-sec R] \
        [--rate-factor F] [--compact-every N] [--compact-deltas-over K] \
        [--tables a=/lake/a,b=/lake/b --route-by schema]

In batch mode the LSN-windowed apply loop runs to the end of the
changelog; in --stream mode a Structured Streaming file tail keeps
following the directory. Both paths share the same merge/offset logic,
so a batch backfill followed by a streaming tail is seamless. With
--tables the same pipeline routes each event to the table its
--route-by column names.
"""

from __future__ import annotations

import argparse
import os
import sys

# in production the package arrives via --py-files; for a repo checkout
# fall back to the parent directory so the script runs as-is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changelog", required=True)
    ap.add_argument("--table", default=None)
    ap.add_argument("--batch-lsns", type=int, default=10_000_000)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--max-events-per-sec", type=float, default=None)
    ap.add_argument("--rate-factor", type=float, default=None,
                    help="event-time replay pacing: 1.0 = original speed, "
                         "0.5 = double speed (frodo rate-factor)")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="compact the table after every N microbatches")
    ap.add_argument("--compact-deltas-over", type=int, default=None,
                    help="merge-on-read delta-pressure bound: fold any "
                         "touched bucket already holding K delta commits, "
                         "inside the merge commit")
    ap.add_argument("--tables", default=None,
                    help="MULTI-TABLE routed apply (batch-tool -t t1,t2 "
                         "analog): comma list of name=path lake tables; "
                         "the changelog's --route-by column selects the "
                         "destination. Replaces --table.")
    ap.add_argument("--route-by", default="schema",
                    help="changelog column naming the destination table "
                         "(with --tables; default 'schema')")
    ap.add_argument("--max-errors", type=int, default=0)
    ap.add_argument("--on-unknown", choices=("error", "ignore"),
                    default="error",
                    help="--tables: unroutable schema values abort the "
                         "job (error) or are consumed-and-skipped "
                         "(ignore)")
    ap.add_argument("--merge-mode", choices=("cow", "mor"), default="cow",
                    help="cow rewrites touched buckets per batch; mor "
                         "appends batch-sized delta files and merges at "
                         "read time (fold with --compact-every)")
    ap.add_argument("--stream", action="store_true")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--with-tool", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="expect the evolved schema (tool column); "
                         "--no-with-tool for an early-stream changelog")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from polardbx_tools_spark.pipeline import CdcPipeline

    spark = SparkSession.builder.getOrCreate()  # master/conf from spark-submit
    if not args.tables and not args.table:
        raise SystemExit("one of --table / --tables is required")
    # reject knobs a mode cannot honor instead of silently dropping them
    if args.stream and args.compact_every:
        raise SystemExit("--compact-every is batch-mode only "
                         "(--stream supports --compact-deltas-over)")
    target = args.table
    if args.tables:
        from polardbx_tools_spark.lake.table import LakeTable

        target = {}
        for spec in args.tables.split(","):
            name, _, path = spec.partition("=")
            if not path:
                raise SystemExit(f"--tables entry {spec!r} is not name=path")
            target[name] = LakeTable(path)
    pipe = CdcPipeline(
        spark, target, bucket_count=args.buckets,
        max_errors=args.max_errors, merge_mode=args.merge_mode,
        schema_col=args.route_by, on_unknown=args.on_unknown,
    )
    if args.stream:
        from polardbx_tools_spark.changelog.generator import changelog_schema

        if not args.checkpoint:
            raise SystemExit("--stream requires --checkpoint")
        pipe.ensure_table(with_tool=args.with_tool)
        schema = changelog_schema(with_tool=args.with_tool)
        if args.tables:
            schema = schema.add(args.route_by, "string")
        q = pipe.tail(
            args.changelog,
            schema,
            args.checkpoint,
            available_now=False,
            compact_deltas_over=args.compact_deltas_over,
        )
        q.awaitTermination()
    else:
        res = pipe.run(
            spark.read.parquet(args.changelog),
            batch_lsns=args.batch_lsns,
            with_tool=args.with_tool,
            max_events_per_sec=args.max_events_per_sec,
            rate_factor=args.rate_factor,
            compact_every=args.compact_every,
            compact_deltas_over=args.compact_deltas_over,
            monitor=True,
        )
        delay = res.replay_delay_summary()
        print(
            f"done: {res.batches} batches, {res.events_applied} events applied, "
            f"{res.events_quarantined} quarantined"
            + (f", replay delay min/avg/max = "
               f"{delay['min']:.2f}/{delay['avg']:.2f}/{delay['max']:.2f}s"
               if delay else "")
        )


if __name__ == "__main__":
    main()
