"""CLI: the operational surface a reference user lands on.

    python -m khose_spark list                      # every registered query
    python -m khose_spark run q_name [--sf-dir D]   # run + show a query
    python -m khose_spark explain q_name [--sf-dir D]  # + checkpoint interior
    python -m khose_spark ingest config.json        # run a pipeline config
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="khose_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        sp.add_argument("--limit", type=int, default=20)
    sp = sub.add_parser("ingest")
    sp.add_argument("config")
    args = p.parse_args(argv)

    from khose_spark import registry

    registry.load_all()

    if args.cmd == "list":
        for name in sorted(registry.QUERIES):
            kind = "sql-oracle" if name in registry.ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    from khose_spark.session import get_spark

    spark = get_spark("khose-cli")
    try:
        if args.cmd == "ingest":
            from khose_spark.pipeline import run_pipeline

            run_pipeline(spark, args.config)
            print("pipeline complete")
            return 0
        if args.query not in registry.QUERIES:
            print(f"unknown query: {args.query} (see `list`)", file=sys.stderr)
            return 2
        build = registry.QUERIES[args.query]
        if args.cmd == "run":
            build(spark, args.sf_dir).show(args.limit, truncate=False)
            return 0
        from khose_spark import plancheck

        with plancheck.record_checkpoints() as rec:
            df = build(spark, args.sf_dir)
        txt = plancheck.formatted_plan(df)
        if rec.last is not None:  # the work behind a bare checkpoint stub
            txt = f"{txt}\n\n{plancheck.INTERIOR_MARK}\n\n{rec.last}"
        print(txt)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
