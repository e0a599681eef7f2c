#!/usr/bin/env python3
"""Round-7 optimization measurement harness (NOT the driver contract —
bench.py is frozen; this file exists for guide §1.4 noop-sink isolation
and §7.2 plan capture).

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf1.0 --reps 3 \
      --queries training_data_prep text_textrank --noop
  python bench_extra.py --explain --queries text_textrank \
      --out <dir> --suffix before

--noop times ``df.write.format('noop')`` (computes every column) instead
of ``.count()`` (the frozen bench's methodology); both are reported so
changes can be compared under either sink. --explain writes
``.explain('formatted')`` to <out>/<query>_<suffix>.txt.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--sf-dir",
                   default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.1"))
    p.add_argument("--queries", nargs="*", default=None,
                   help="default: all queries bench.py times")
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--noop", action="store_true",
                   help="time a noop-sink write instead of count()")
    p.add_argument("--explain", action="store_true",
                   help="write explain('formatted') per query, no timing")
    p.add_argument("--out", help="--explain's output dir (required)")
    p.add_argument("--suffix", default="before")
    args = p.parse_args()
    if args.explain and not args.out:
        p.error("--explain needs --out")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod
    from racket_linkeddata_spark.plans.kg import session

    spark = session("bench_extra", cpus=args.cpus,
                    shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    names = args.queries or list(queries)

    if args.explain:
        os.makedirs(args.out, exist_ok=True)
        for name in names:
            df = queries[name](spark, args.sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path} ({len(txt)} chars)", file=sys.stderr)
        spark.stop()
        return

    timings = {}
    for name in names:
        best = float("inf")
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"r07:{name}")
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
            gc.collect()
        spark.sparkContext.setJobDescription(None)
        timings[name] = {"best": round(best, 3), "samples": samples}
        print(f"{name}: {timings[name]}", file=sys.stderr)

    print(json.dumps({"sf_dir": args.sf_dir, "cpus": args.cpus,
                      "sink": "noop" if args.noop else "count",
                      "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
