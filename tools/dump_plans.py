"""Dump .explain("formatted") for bench-suite queries into plans/r<N>/.

Usage: python tools/dump_plans.py --round N before|after [query ...]

Writes plans/r<N>/<query>_<tag>.txt — an optimization round's
before/after plan evidence. Default query set = every query in
bench.py's SUITES, in bench order; pass names to restrict.
"""

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, help="round number N (plans/rN/)")
    ap.add_argument("tag", nargs="?", default="before", help="file suffix, e.g. before|after")
    ap.add_argument("queries", nargs="*", help="query names (default: every bench suite query)")
    args = ap.parse_args()

    from bench import SUITES
    from pg_lake_spark.queries import QUERIES
    from pg_lake_spark.session import get_spark

    names = args.queries or [n for suite in SUITES.values() for n in suite]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name=f"plans-r{args.round}-{args.tag}", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not in registry")
            continue
        try:
            df = QUERIES[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # streaming rows etc.
            text = f"(explain unavailable: {type(exc).__name__}: {exc})\n"
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
