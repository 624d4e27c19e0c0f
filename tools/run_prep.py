"""spark-submit entry point for the corpus-prep (training-data)
pipeline: quality filter → C4 line dedup → MinHash near-dedup →
[13-gram decontamination] → [token-budget mixture] → chunking
[→ top-k vocabulary] [→ sequence packing], every stage
checkpoint-resumable with lineage totals (same machinery as
the KG pipeline).

    zip -r nobletools_spark.zip nobletools_spark
    spark-submit --py-files nobletools_spark.zip tools/run_prep.py \
        --input  <docs parquet: doc_id, text> \
        --output <prep output dir> \
        [--benchmarks eval_texts.txt]   # one benchmark text per line
        [--budgets '{"en": 1000000}' --group-col lang]
        [--chunk-tokens 512 --overlap 64]
        [--vocab-k 50000]               # tokenizer-vocab side table
        [--pack-seq-len 2048 --pack-shards 256]  # packed layout
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmarks",
                    help="file of benchmark/eval texts (one per line) "
                         "for 13-gram decontamination")
    ap.add_argument("--budgets",
                    help='JSON: int (global) or {"group": tokens, ...}')
    ap.add_argument("--group-col")
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument("--overlap", type=int, default=64)
    ap.add_argument("--line-min-count", type=int, default=2)
    ap.add_argument("--line-min-len", type=int, default=10)
    ap.add_argument("--vocab-k", type=int,
                    help="append a top-k tokenizer-vocabulary stage")
    ap.add_argument("--pack-seq-len", type=int,
                    help="append a concat-and-chop sequence-packing "
                         "stage at this sequence length")
    ap.add_argument("--pack-shards", type=int, default=256)
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from nobletools_spark.plans.pipeline import Pipeline, prep_stages
    from nobletools_spark.session import ship_package

    spark = SparkSession.builder.appName("nobletools-prep").getOrCreate()
    ship_package(spark)

    bench: tuple[str, ...] = ()
    if args.benchmarks:
        with open(args.benchmarks) as f:
            # rstrip CR too: a CRLF eval file would leave '\r' on every
            # line and silently weaken the 13-gram matching
            bench = tuple(ln.rstrip("\r\n") for ln in f if ln.strip())
    budgets = json.loads(args.budgets) if args.budgets else None
    if isinstance(budgets, dict):
        budgets = {str(k): int(v) for k, v in budgets.items()}

    docs = spark.read.parquet(args.input)
    pipe = Pipeline(args.output, prep_stages(
        line_min_count=args.line_min_count,
        line_min_len=args.line_min_len,
        benchmark_texts=bench, budgets=budgets,
        group_col=args.group_col,
        chunk_tokens=args.chunk_tokens, overlap=args.overlap,
        vocab_k=args.vocab_k, pack_seq_len=args.pack_seq_len,
        pack_kw={"n_shards": args.pack_shards}))
    # vocab/pack knobs are NOT mirrored here: they fingerprint via
    # their stages' params, so runs that never used the flags keep
    # resuming across versions
    run_config = {"input": args.input, "chunk": args.chunk_tokens,
                  "overlap": args.overlap, "n_bench": len(bench),
                  "budgets": budgets, "group_col": args.group_col}
    res = pipe.run(spark, {"documents": docs}, run_config=run_config,
                   force=args.force)
    print(json.dumps({
        "stages": [{"stage": r.stage, "status": r.status, "rows": r.rows,
                    "wall_s": r.wall_s} for r in pipe.reports],
        "chunks": res["chunks"].count(),
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
