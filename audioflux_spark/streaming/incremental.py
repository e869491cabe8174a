"""Incremental index maintenance — the engine's streaming surface.

The reference's only streaming construct is the isContinue tail-carry
(/root/reference/src/stft_algorithm.c:41,50-51,536-586; Python splice
/root/reference/python/audioflux/feature/extractor.py:228-254): new chunks
are processed against bounded carried state and results are identical to a
one-shot run. The distributed restatement: each new transcript snapshot
becomes an index *generation* — a complete mini-index built by the normal
(resumable) build path — and the query layer sums stats across generations,
so scores equal a from-scratch rebuild exactly (verified by
tests/test_incremental.py rank-identity vs the oracle on the full corpus).
Compaction folds the generations into the index a build of their
partitions writes.

Also provides a Structured Streaming sink: foreachBatch → add_generation,
turning a stream of transcript files into a continuously-updated index.
"""

from __future__ import annotations

import dataclasses
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from audioflux_spark.config import DEFAULT, EngineConfig
from audioflux_spark.operators.indexer import build_index, commit_index
from audioflux_spark.plans.checkpoint import PartitionEntry, load_manifest
from audioflux_spark.sources.segments import GENERATIONS_SUBDIR, IndexReader


def next_generation_dir(index_dir: str) -> str:
    root = os.path.join(index_dir, GENERATIONS_SUBDIR)
    os.makedirs(root, exist_ok=True)
    existing = [int(n[4:]) for n in os.listdir(root) if n.startswith("gen-")]
    nxt = (max(existing) + 1) if existing else 1
    return os.path.join(root, f"gen-{nxt:05d}")


def add_generation(
    spark: SparkSession,
    new_transcripts: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
) -> IndexReader:
    """Index ONLY the new snapshot (old generations untouched); returns a
    fresh reader over all generations."""
    gen_dir = next_generation_dir(index_dir)
    build_index(spark, new_transcripts, gen_dir, cfg=cfg, resume=True)
    return IndexReader(spark, index_dir)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT,
) -> IndexReader:
    """Fold all generations into one index at out_dir without re-tokenizing
    (Lucene's forceMerge: each generation costs every query its segment
    reads), and return a reader over it. The index is the one build_index
    writes from the generations' partitions in generation order: a
    partition's files hold local docIDs and block maxes under its own
    avgdl, so partition p of generation g is copied unchanged as partition
    Σ n_partitions of the earlier generations + p, its manifest entry
    renumbered, and the build's commit (commit_index) merges segments/ and
    writes meta.json last. Run again, a killed compaction starts over."""
    reader = IndexReader(spark, index_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "docstore"))
    entries: dict[int, PartitionEntry] = {}
    first = 0
    for g in reader.generations:
        for p, e in load_manifest(g.dir).entries.items():
            pid = first + p
            for sub in ("docstore", "segments_partial"):
                src = os.path.join(g.dir, sub, f"seg_id={p}")
                if os.path.isdir(src):  # a tokenless partition has no partial
                    shutil.copytree(
                        src, os.path.join(out_dir, sub, f"seg_id={pid}"),
                        copy_function=shutil.copyfile,
                        ignore=shutil.ignore_patterns(".*"),  # staging files
                    )
            entries[pid] = dataclasses.replace(
                e, partition_id=pid, output_path=f"segments_partial/seg_id={pid}"
            )
        first += g.meta.n_partitions
    commit_index(spark, out_dir, entries, first, cfg)
    return IndexReader(spark, out_dir)


def streaming_index_sink(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT,
    trigger_available_now: bool = True,
):
    """Structured Streaming: watch a directory of transcript parquet files;
    each micro-batch becomes an index generation. Spark's streaming
    checkpoint gives exactly-once file accounting; the per-generation build
    manifest gives intra-batch resumability."""
    from audioflux_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(source_dir)
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        add_generation(spark, batch_df, index_dir, cfg=cfg)

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
