"""Command-line entry point — run any catalog query or the CDC pipeline.

    python -m etl_pipeline_challenge_aladia_spark list
    python -m etl_pipeline_challenge_aladia_spark run tpch_q1_pricing_summary \
        --sf-dir /root/testdata/sf0.01 --limit 20
    python -m etl_pipeline_challenge_aladia_spark cdc --input ./in \
        --warehouse ./wh --checkpoint ./ckpt

The reference is driven by per-container scripts (producer/consumer); this
is the single-binary equivalent for the Spark engine.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_pipeline_challenge_aladia_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list catalog queries (name + oracle status)")

    runp = sub.add_parser("run", help="run one catalog query and print rows")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true", help="print the plan too")

    cdcp = sub.add_parser("cdc", help="run the CDC file-stream pipeline once")
    cdcp.add_argument("--input", required=True)
    cdcp.add_argument("--warehouse", required=True)
    cdcp.add_argument("--checkpoint", required=True)
    cdcp.add_argument("--quarantine", default=None)

    # table-format operations on a manifest warehouse
    hist = sub.add_parser("history", help="list a table's readable snapshots")
    hist.add_argument("path")

    trav = sub.add_parser("show", help="print rows from a table (optionally a past version)")
    trav.add_argument("path")
    trav.add_argument("--version", type=int, default=None)
    trav.add_argument("--limit", type=int, default=20)

    chg = sub.add_parser("changes", help="change feed between two retained snapshots")
    chg.add_argument("path")
    chg.add_argument("--from-version", type=int, required=True, dest="from_version")
    chg.add_argument("--to-version", type=int, default=None, dest="to_version")
    chg.add_argument("--limit", type=int, default=50)

    vac = sub.add_parser("vacuum", help="expire history and GC unreferenced versions")
    vac.add_argument("path")
    vac.add_argument("--keep-snapshots", type=int, default=0)

    cur = sub.add_parser(
        "curate-stream",
        help="drain a document-file stream through the composed curation "
        "ingest (quality gate -> token-budget admission -> near-dup screen)",
    )
    cur.add_argument("--input", required=True, help="dir of jsonl doc files")
    cur.add_argument("--out", required=True, help="output root directory")
    cur.add_argument("--budget", type=int, required=True,
                     help="token budget per source")
    cur.add_argument("--quality-min", type=float, default=0.0)
    cur.add_argument("--threshold", type=float, default=0.8,
                     help="near-dup Jaccard threshold")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    if args.cmd == "list":
        for name, spec in CATALOG.items():
            kind = "sql-oracle" if spec.oracle else "rows-only"
            print(f"{name:45s} {kind}")
        return 0

    if args.cmd == "history":
        from etl_pipeline_challenge_aladia_spark.sinks import table_history

        for snap in table_history(args.path):
            print(f"v{snap['version']:<6d} {len(snap['buckets'])} buckets")
        return 0

    if args.cmd == "vacuum":
        from etl_pipeline_challenge_aladia_spark.sinks import vacuum_warehouse

        removed = vacuum_warehouse(args.path, keep_snapshots=args.keep_snapshots)
        print(f"removed {removed} version dir(s)")
        return 0

    from etl_pipeline_challenge_aladia_spark.session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")
    if args.cmd == "show":
        from etl_pipeline_challenge_aladia_spark.sinks import read_warehouse

        read_warehouse(spark, args.path, version=args.version).show(
            args.limit, truncate=False
        )
        return 0

    if args.cmd == "changes":
        from etl_pipeline_challenge_aladia_spark.sinks import table_changes

        table_changes(
            spark, args.path, args.from_version, args.to_version
        ).show(args.limit, truncate=False)
        return 0
    if args.cmd == "run":
        if args.query not in CATALOG:
            print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
            return 2
        df = CATALOG[args.query].spark(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "curate-stream":
        import os

        from etl_pipeline_challenge_aladia_spark.streaming import docs, store

        store.drain_files(
            spark,
            docs.CURATION_INGEST,
            args.input,
            os.path.join(args.out, "checkpoint"),
            admitted_path=os.path.join(args.out, "admitted"),
            budget_state_path=os.path.join(args.out, "budget_state"),
            sig_store_path=os.path.join(args.out, "signatures"),
            report_path=os.path.join(args.out, "near_dup_report"),
            budget=args.budget,
            quality_min=args.quality_min,
            threshold=args.threshold,
        )
        print(f"curation drained into {args.out}")
        return 0

    # args.cmd == "cdc"
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        run_cdc_file_stream,
    )

    run_cdc_file_stream(
        spark,
        args.input,
        args.warehouse,
        args.checkpoint,
        quarantine_path=args.quarantine,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
