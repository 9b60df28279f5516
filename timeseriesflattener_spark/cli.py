"""spark-submit entrypoint (north rule: ships via
``spark-submit --py-files tsf_spark.zip``).

Package & run:

    zip -r tsf_spark.zip timeseriesflattener_spark
    spark-submit --py-files tsf_spark.zip -m timeseriesflattener_spark.cli ...
    # or locally:
    python -m timeseriesflattener_spark.cli synthesize --out /data/transcripts --conversations 100000
    python -m timeseriesflattener_spark.cli materialize --transcripts /data/transcripts --store /data/tiers
    python -m timeseriesflattener_spark.cli retention --store /data/tiers --keep 1m=7 1h=90
    python -m timeseriesflattener_spark.cli points --store /data/tiers --tier 1h --out /data/points_1h
    python -m timeseriesflattener_spark.cli encode-chunks --transcripts /data/transcripts --out /data/chunks

Jobs are resumable: ``materialize`` consults the store ledger and only
computes (tier, day) units not yet done.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

VALUE_COLS = ["text_len", "n_tokens", "tool_call"]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="timeseriesflattener_spark")
    parser.add_argument("--master", default=None, help="spark master (default env/local)")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("synthesize", help="write a deterministic transcript table")
    p.add_argument("--out", required=True)
    p.add_argument("--conversations", type=int, default=10_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--span-days", type=int, default=30)

    p = sub.add_parser("materialize", help="incrementally materialise 1m/1h/1d tiers")
    p.add_argument("--transcripts", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--salt", type=int, default=None, help="salt partitions for hot conversations")
    p.add_argument(
        "--per-unit", action="store_true",
        help="one Spark job per (tier, day) through the same kernel, instead of one per tier "
        "(default bulk; 2.5x faster)",
    )

    p = sub.add_parser("retention", help="expire aged fine-tier partitions")
    p.add_argument("--store", required=True)
    p.add_argument("--keep", nargs="+", required=True, help="tier=days, e.g. 1m=7 1h=90")
    p.add_argument("--as-of", default=None, help="YYYY-MM-DD (default today)")

    p = sub.add_parser("points", help="write finalized rolled-up points for a tier")
    p.add_argument("--store", required=True)
    p.add_argument("--tier", required=True, choices=["1m", "1h", "1d"])
    p.add_argument("--out", required=True)
    p.add_argument("--gapfill", choices=["locf", "linear"], default=None)

    p = sub.add_parser("encode-chunks", help="Gorilla-compress a channel into binary chunks")
    p.add_argument("--transcripts", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--channel", default="text_len")
    p.add_argument("--tier", default="1h")

    args = parser.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name=f"tsf-{args.cmd}", master=args.master)

    from .sources.transcripts import (
        derive_channels,
        read_transcripts,
        synthesize_transcripts,
        write_transcripts,
    )

    if args.cmd == "synthesize":
        df = synthesize_transcripts(
            spark, n_conversations=args.conversations, seed=args.seed, span_days=args.span_days
        )
        write_transcripts(df, args.out)
        print(f"wrote {args.out}")
        return 0

    if args.cmd == "materialize":
        from .plans.tiers import TierStore

        ch = derive_channels(read_transcripts(spark, args.transcripts))
        store = TierStore(
            spark, args.store, VALUE_COLS, salt_partitions=args.salt
        )
        result = store.materialize(ch, bulk=not args.per_unit)
        print(
            f"job {result['job_id']}: computed {len(result['computed'])} units, "
            f"skipped {len(result['skipped'])} (already done)"
        )
        return 0

    if args.cmd == "retention":
        from .plans.tiers import TierStore

        store = TierStore(spark, args.store, VALUE_COLS)
        keep = dict(kv.split("=") for kv in args.keep)
        keep = {t: int(d) for t, d in keep.items()}
        as_of = dt.date.fromisoformat(args.as_of) if args.as_of else dt.date.today()
        removed = store.apply_retention(keep, now=as_of)
        print(f"removed {len(removed)} partitions: {removed}")
        return 0

    if args.cmd == "points":
        from .plans.gapfill import fill_gaps
        from .plans.tiers import TierStore

        store = TierStore(spark, args.store, VALUE_COLS)
        pts = store.read_points(args.tier)
        if args.gapfill:
            pts = fill_gaps(
                pts, [f"{c}_mean" for c in VALUE_COLS], args.tier, method=args.gapfill
            )
        pts.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return 0

    if args.cmd == "encode-chunks":
        from .functions.gorilla import encode_chunks

        ch = derive_channels(read_transcripts(spark, args.transcripts))
        chunks = encode_chunks(ch, args.channel, tier=args.tier)
        chunks.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
