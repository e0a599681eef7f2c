#!/usr/bin/env python3
"""Run the driver correctness gate (every __spark_entry__.queries()
entry vs its oracle_sql() on DuckDB) at ANY scale factor — the pytest
suite pins sf0.01; this sweeps the others:

    python tools/oracle_sweep.py --sf-dir <sf dir> [--cpus N] \
        [--only 'dedup_*' ann_lsh_topk ...]

``--only`` takes shell-style patterns (fnmatch) and may be repeated
(``--only 'text_*' --only ann_lsh_topk``); a pattern that matches no
query is an error. ``--cpus`` defaults to the machine's CPU count.

Every query is value-exact at sf0.001, sf0.01 and sf0.1 (no size
assumptions anywhere). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import fnmatch
import importlib.util
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if v is None:
        return "\x00null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    return v


def main():
    import duckdb

    from racket_linkeddata_spark.plans.kg import session

    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--cpus", type=int, default=os.cpu_count())
    p.add_argument("--only", nargs="*", action="extend", metavar="PATTERN")
    args = p.parse_args()

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(HERE, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    oracles = m.oracle_sql()
    names = sorted(oracles)
    if args.only:
        unmatched = [pat for pat in args.only
                     if not fnmatch.filter(names, pat)]
        if unmatched:
            p.error("--only: no query matches " + " ".join(unmatched))
        names = [n for n in names
                 if any(fnmatch.fnmatchcase(n, pat) for pat in args.only)]

    spark = session("oracle-sweep", cpus=args.cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{args.sf_dir}/{t}.parquet'")
    bad, ok = [], 0
    for name in names:
        try:
            sdf = m.queries()[name](spark, args.sf_dir)
            cols = sorted(sdf.columns)
            srows = sorted(tuple(_norm(r[c]) for c in cols)
                           for r in sdf.collect())
            orows = sorted(
                tuple(_norm(r[c]) for c in cols)
                for r in con.execute(oracles[name])
                .fetch_arrow_table().to_pylist())
            if srows != orows:
                bad.append({"name": name, "spark": len(srows),
                            "oracle": len(orows)})
            else:
                ok += 1
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            bad.append({"name": name, "err": str(e)[:200]})
    print(json.dumps({"sf_dir": args.sf_dir, "exact": ok,
                      "total": len(names), "mismatches": bad}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
