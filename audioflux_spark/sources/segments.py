"""IndexReader — opens a built index (base + incremental generations).

Analog of the reference's opaque operator handle holding precomputed state
(/root/reference/python/audioflux/base.py:4-8): meta + segment/docstore
DataFrames bound once, reused across queries.

Incremental layout (the isContinue analog, /root/reference/src/
stft_algorithm.c:41,536-586 — new data appended without recomputing old):

    index_dir/              base generation (gen 0)
    index_dir/generations/gen-00001/   each an independent mini-index

Query-time stats (N, avgdl, df) are summed across generations, so BM25
scores stay EXACT global values — generations only partition the doc space.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from audioflux_spark.operators.indexer import DOCSTORE_SCHEMA, MERGED_SCHEMA, IndexMeta

GENERATIONS_SUBDIR = "generations"


class _Generation:
    def __init__(self, spark: SparkSession, gen_dir: str, gen_id: int):
        self.gen_id = gen_id
        self.dir = gen_dir
        with open(os.path.join(gen_dir, "meta.json")) as f:
            self.meta = IndexMeta.from_json(f.read())
        # declared schemas: no schema-inference job per open, and a merge
        # that wrote no files still opens as an empty index
        self.segments: DataFrame = spark.read.schema(MERGED_SCHEMA).parquet(
            os.path.join(gen_dir, "segments")
        )
        self.docstore: DataFrame = spark.read.schema(DOCSTORE_SCHEMA).parquet(
            os.path.join(gen_dir, "docstore")
        )


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        gens = [_Generation(spark, index_dir, 0)]
        gen_root = os.path.join(index_dir, GENERATIONS_SUBDIR)
        if os.path.isdir(gen_root):
            for name in sorted(os.listdir(gen_root)):
                if name.startswith("gen-"):
                    gens.append(
                        _Generation(
                            spark, os.path.join(gen_root, name), int(name[4:])
                        )
                    )
        self.generations = gens

    # -- single-generation compatibility surface (base gen) --
    @property
    def meta(self) -> IndexMeta:
        return self.generations[0].meta

    @property
    def segments(self) -> DataFrame:
        """Base-gen merged term → blobs, range-partitioned + sorted by term,
        so a `term IN (...)` filter prunes parquet files/row groups."""
        return self.generations[0].segments

    @property
    def docstore(self) -> DataFrame:
        return self.generations[0].docstore

    def warm(self) -> "IndexReader":
        """Pin segments + docstore in executor memory for serving (the
        reference's precompute-once operator-handle discipline): repeated
        queries then skip parquet decode entirely."""
        for g in self.generations:
            g.segments = g.segments.persist()
            g.segments.count()
            g.docstore = g.docstore.persist()
            g.docstore.count()
        return self

    # -- global (cross-generation) statistics: exact, not stale --
    @property
    def n_docs(self) -> int:
        return sum(g.meta.n_docs for g in self.generations)

    @property
    def avgdl(self) -> float:
        n = self.n_docs
        return (sum(g.meta.total_tokens for g in self.generations) / n) if n else 0.0
