"""Engine CLI — the user-facing entry point.

    python -m cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark list [tag]
    python -m ... run <query> [--sf-dir DIR] [--limit N]
    python -m ... explain <query> [--sf-dir DIR]
    python -m ... profile <query> [--sf-dir DIR]
    python -m ... oracle <query>

`list` prints every registered query (optionally filtered by tag) with
its one-line description; `run` executes one against a scale-factor
directory and shows the result; `explain` prints the formatted physical
plan (the artifact to audit for scale); `profile` runs the query and
prints one JSON document: its wall time and every live node of the
executed plan with its SQL metrics (rows, time, bytes, spill), plus the
nodes of each cached relation whose build ran inside the query;
`oracle` prints the DuckDB twin SQL.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="spark-graft-engine")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("tag", nargs="?", help="filter by tag")

    for name in ("run", "explain", "profile"):
        p = sub.add_parser(name)
        p.add_argument("query")
        p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            p.add_argument("--limit", type=int, default=20)

    p_or = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_or.add_argument("query")

    args = ap.parse_args(argv)

    from .plans.registry import all_specs

    specs = all_specs()

    if args.cmd == "list":
        for n, s in sorted(specs.items()):
            if args.tag and args.tag not in s.tags:
                continue
            mark = "*" if s.oracle else " "
            print(f"{mark} {n:34s} [{', '.join(s.tags)}] {s.description}")
        print(f"\n{len(specs)} queries; * = DuckDB-oracle-checked")
        return 0

    if args.query not in specs:
        print(f"unknown query {args.query!r}; try `list`", file=sys.stderr)
        return 2

    if args.cmd == "oracle":
        sql = specs[args.query].oracle
        if not sql:
            print("(no oracle — rows-only query)", file=sys.stderr)
            return 1
        print(sql)
        return 0

    from .session import build_session

    spark = build_session(app_name=f"engine_{args.cmd}")
    try:
        if args.cmd == "profile":
            from .plans.profile import profile

            print(json.dumps(profile(spark, args.query, args.sf_dir), indent=1))
        elif args.cmd == "explain":
            specs[args.query].fn(spark, args.sf_dir).explain("formatted")
        else:
            df = specs[args.query].fn(spark, args.sf_dir)
            df.show(args.limit, truncate=False)
            print(f"({df.count()} rows total)")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
