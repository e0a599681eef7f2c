#!/usr/bin/env python3
"""spark-submit entry point for the training-data curation pipeline
(the production face of plans/curation.prep_corpus — the same plan the
oracle-pinned ``training_data_prep`` driver query runs):

    spark-submit --py-files rls.zip jobs/prep_job.py \
        --docs <documents parquet> --out <output dir> \
        [--benchmark <parquet with a text column>] \
        [--mixture src0=0.5,books=1.0] [--default-weight 1.0] \
        [--budget 2048] [--shards 64]

Input needs (doc_id, text, source). Writes:
    <out>/docs_clean   (doc_id, lang, n_tokens) — the kept documents
    <out>/packed       pack_offsets placement of the kept documents in
                       budget-sized training sequences by BPE token
                       count (shard / pos / offsets / seq span)
and prints one summary line.
"""

from __future__ import annotations

import argparse


def parse_weights(spec: str) -> dict:
    """'src0=0.5,books=1.0' -> {'src0': 0.5, 'books': 1.0} (loud on
    malformed entries)."""
    out = {}
    for part in spec.split(","):
        if not part:
            continue
        key, _, val = part.partition("=")
        if not key or not val:
            raise SystemExit(f"--mixture: malformed entry {part!r} "
                             f"(want src=rate)")
        out[key] = float(val)
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--benchmark",
                   help="parquet with a 'text' column; enables "
                        "n-gram decontamination against it")
    p.add_argument("--mixture", default="",
                   help="per-source sampling rates, src=rate[,src=rate]")
    p.add_argument("--default-weight", type=float, default=1.0)
    p.add_argument("--budget", type=int, default=2048)
    p.add_argument("--shards", type=int, default=64)
    args = p.parse_args()

    from racket_linkeddata_spark.operators.packing import pack_offsets
    from racket_linkeddata_spark.plans.curation import prep_corpus
    from racket_linkeddata_spark.plans.kg import job_session

    spark = job_session("prep-corpus")

    docs = spark.read.parquet(args.docs)
    bench = (spark.read.parquet(args.benchmark).select("text")
             if args.benchmark else None)
    weights = parse_weights(args.mixture)

    clean = prep_corpus(docs, benchmark=bench,
                        mixture_weights=weights or None,
                        default_weight=args.default_weight)
    clean.write.mode("overwrite").parquet(f"{args.out}/docs_clean")

    clean_stored = spark.read.parquet(f"{args.out}/docs_clean")
    packed = pack_offsets(clean_stored.select("doc_id", "n_tokens"),
                          args.budget, args.shards)
    packed.write.mode("overwrite").parquet(f"{args.out}/packed")

    from pyspark.sql import functions as F

    n_in = docs.count()
    n_kept = clean_stored.count()
    # sequences per shard = max last_seq + 1; empty packed -> 0
    seqs_row = (spark.read.parquet(f"{args.out}/packed")
                .groupBy("shard").agg(F.max("last_seq").alias("m"))
                .agg((F.sum("m") + F.count("m")).alias("n")).first())
    seqs = seqs_row["n"] or 0
    print(f"prep-corpus done: kept {n_kept}/{n_in} docs, "
          f"{seqs} sequences of {args.budget} tokens "
          f"across {args.shards} shards at {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
