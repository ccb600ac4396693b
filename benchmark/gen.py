"""Generate one workload's inputs from a seed and print their manifest.

Usage: python3 benchmark/gen.py WORKLOAD OUT_DIR SEED [--smoke]

Runs as its own process so the generators' memory and DuckDB's threads
never show in the measured process.  For llm_ops_sf01 the manifest also
carries the DuckDB oracle fingerprint of every query the workload runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sizes  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=sorted(sizes.SIZES))
    ap.add_argument("out")
    ap.add_argument("seed", type=int)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    size = sizes.size_of(args.workload, args.smoke)
    os.makedirs(args.out)
    if args.workload == "crawl_sink":
        from gen_tree import make_tree

        manifest = make_tree(args.out, args.seed, size["entries"])
    elif args.workload == "report_menu":
        from gen_lake import make_lake

        manifest = make_lake(args.out, args.seed, size["rows"])
        manifest["lake"] = args.out
    else:
        from gen_tables import make_tables
        from oracle import duckdb_fingerprints
        from storage_crawler_spark.plans.registry import QUERIES
        from storage_crawler_spark.plans.views import BASE_TABLES

        manifest = {"tables": args.out,
                    "rows": make_tables(args.out, args.seed, **size)}
        names = sizes.llm_queries()
        manifest["expected"] = duckdb_fingerprints(
            args.out, BASE_TABLES, {n: QUERIES[n].oracle for n in names})
    json.dump(manifest, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
