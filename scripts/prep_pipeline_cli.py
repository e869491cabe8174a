#!/usr/bin/env python
"""spark-submit entry point: the composed training-data-prep pipeline.

    spark-submit --py-files dist/afspark.zip scripts/prep_pipeline_cli.py \
        --input /data/corpus --output /data/clean \
        [--max-top2-cov 0.20] [--max-dup3-frac 0.30]

Runs the standard cleaning cascade over `<input>/documents.parquet` and
writes the surviving rows to `<output>/documents.parquet` plus a JSON
summary on stdout:

  1. blocklist     — C4 §2.2 banned-word page filter   (doc_blocklist)
  2. repetition    — Gopher §A1.1 degenerate-text caps (doc_repetition)
  3. exact dedup   — one doc per text hash             (dedup_exact)
  4. near dedup    — shingle/LSH/Jaccard canonical set (dedup_canonical)

Every stage is the same driver-verified query the correctness gate runs;
the pipeline only composes their per-doc decisions with doc_id joins, so
each drop is attributed to the FIRST stage that rejected it and the whole
job stays a handful of joins over per-doc flag tables — no new corpus
passes beyond the stages' own (shared subtrees are materialized once, see
entry_queries._table and the artifact cache `_cached` under it).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--max-top2-cov", type=float, default=0.20)
    ap.add_argument("--max-dup3-frac", type=float, default=0.30)
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from audioflux_spark import entry_queries as eq

    spark = SparkSession.builder.appName("afspark-prep-pipeline").getOrCreate()

    docs = spark.read.parquet(os.path.join(args.input, "documents.parquet"))

    bl = eq.q_doc_blocklist(spark, args.input).select(
        "doc_id", F.col("keep").alias("bl_keep")
    )
    rep = eq.q_doc_repetition(spark, args.input).select(
        "doc_id", "top2_cov_e6", "dup3_frac_e6"
    )
    ex = (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .join(
            eq.q_dedup_exact(spark, args.input).select(
                "text_hash", "keep_doc_id"
            ),
            "text_hash",
        )
        .select(
            "doc_id",
            (F.col("doc_id") == F.col("keep_doc_id")).alias("ex_keep"),
        )
    )
    canon = eq.q_dedup_canonical(spark, args.input).select("doc_id", "is_dup")

    # drop attribution: first failing stage wins; missing flag rows (docs a
    # stage never emits, e.g. < 3 tokens for the repetition grams) pass
    reason = (
        F.when(F.col("bl_keep") == 0, F.lit("blocklist"))
        .when(
            (F.col("top2_cov_e6") > int(args.max_top2_cov * 1_000_000))
            | (F.col("dup3_frac_e6") > int(args.max_dup3_frac * 1_000_000)),
            F.lit("repetition"),
        )
        .when(~F.coalesce(F.col("ex_keep"), F.lit(True)), F.lit("exact_dup"))
        .when(F.col("is_dup") == 1, F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    flags = (
        docs.join(bl, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(ex, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .withColumn("reason", reason)
    )

    survivors = flags.filter(F.col("reason") == "kept").select(*docs.columns)
    survivors.write.mode("overwrite").parquet(
        os.path.join(args.output, "documents.parquet")
    )

    counts = {
        r["reason"]: r["n"]
        for r in flags.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_in = sum(counts.values())
    print(
        json.dumps(
            {
                "n_input": n_in,
                "n_kept": counts.get("kept", 0),
                "dropped": {
                    k: counts.get(k, 0)
                    for k in ("blocklist", "repetition", "exact_dup", "near_dup")
                },
                "output": os.path.join(args.output, "documents.parquet"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
