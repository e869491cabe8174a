"""IndexReader — opens a built index (base + incremental generations).

Analog of the reference's opaque operator handle holding precomputed state
(/root/reference/python/audioflux/base.py:4-8): meta + segment/docstore
DataFrames and stamped file lists bound once, reused across queries.

Incremental layout (the isContinue analog, /root/reference/src/
stft_algorithm.c:41,536-586 — new data appended without recomputing old):

    index_dir/              base generation (gen 0)
    index_dir/generations/gen-00001/   each an independent mini-index

Query-time stats (N, avgdl, df) are summed across generations, so BM25
scores stay EXACT global values — generations only partition the doc space.

Each generation's segment and docstore files are listed once, at open, with
their (size, mtime_ns) stamps. Every serving task reads only those files
and refuses to answer if one is gone or its stamp changed (an index rebuilt
under an open reader), so a stale reader raises instead of serving wrong rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from audioflux_spark.operators.indexer import DOCSTORE_SCHEMA, MERGED_SCHEMA, IndexMeta

GENERATIONS_SUBDIR = "generations"


def _stamped_files(root: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ns) of every data file under root, sorted; names
    starting with "." or "_" (staging files, _SUCCESS, checksums) are
    skipped at every level, as Spark's reader skips them."""
    out = []
    for d, dirs, files in os.walk(os.path.abspath(root)):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
        for name in sorted(files):
            if not name.startswith((".", "_")):
                path = os.path.join(d, name)
                st = os.stat(path)
                out.append((path, st.st_size, st.st_mtime_ns))
    return out


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
        self.segment_files = _stamped_files(os.path.join(gen_dir, "segments"))
        self.docstore_files = _stamped_files(os.path.join(gen_dir, "docstore"))


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
        """A no-op that returns the reader, kept for callers that warm a
        reader before serving: every query reads the files listed at open,
        so there is nothing to pin."""
        return self

    # -- global (cross-generation) statistics: exact, not stale --
    @property
    def n_docs(self) -> int:
        return sum(g.meta.n_docs for g in self.generations)

    @property
    def avgdl(self) -> float:
        n = self.n_docs
        return (sum(g.meta.total_tokens for g in self.generations) / n) if n else 0.0
