#!/usr/bin/env python
"""spark-submit entry point: build (or resume) the inverted index.

    spark-submit --py-files dist/afspark.zip scripts/build_index_cli.py \
        --input /data/transcripts --index-dir /data/index \
        [--partitions 256] [--no-resume]

On a cluster, pass --master/--num-executors etc. to spark-submit as usual;
this script only builds the logical job.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from audioflux_spark.config import DEFAULT, EngineConfig, IndexConfig
    from audioflux_spark.operators.indexer import build_index
    from audioflux_spark.sources.transcripts import read_transcripts

    spark = SparkSession.builder.appName("afspark-build-index").getOrCreate()
    cfg = DEFAULT
    if args.partitions:
        cfg = EngineConfig(index=IndexConfig(build_partitions=args.partitions))
    t = read_transcripts(spark, args.input)
    meta = build_index(spark, t, args.index_dir, cfg=cfg, resume=not args.no_resume)
    print(json.dumps({"n_docs": meta.n_docs, "avgdl": meta.avgdl,
                      "partitions": meta.n_partitions}))
    spark.stop()


if __name__ == "__main__":
    main()
