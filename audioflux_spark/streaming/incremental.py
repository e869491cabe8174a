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

Also provides a Structured Streaming sink: foreachBatch → add_generation,
turning a stream of transcript files into a continuously-updated index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from audioflux_spark.config import DEFAULT, EngineConfig
from audioflux_spark.operators.indexer import build_index
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
    """Merge all generations into one serving base — WITHOUT re-tokenizing
    and without rewriting a posting blob beyond its partials' first doc
    gaps.

    Generations accumulate (each query pays per-generation segment fetches);
    Lucene answers this with forceMerge. Here the block-anchored format
    makes compaction pure metadata arithmetic: every block's delta chain is
    re-anchored by its stored first docID, so shifting a generation's docID
    space is an offset added to first_doc, last_doc and block_firsts (and to
    each partial's absolute first gap, so part_counts still decodes). The
    build's exchange merge (_exchange_merge) reads each generation's segment
    files through that shift (_read_partial) and concatenates the
    per-generation rows per term in docID order (generation doc ranges are
    disjoint after offsetting).

    Writes a complete single-generation index at out_dir and returns a reader
    over it. Rank-identity vs the multi-generation reader is exercised by
    tests/test_incremental.py."""
    import shutil

    from pyspark.sql import functions as F

    from audioflux_spark.operators.indexer import IndexMeta, _exchange_merge, _ub_scale
    from audioflux_spark.plans.checkpoint import Manifest, save_manifest

    reader = IndexReader(spark, index_dir)
    gens = reader.generations

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    combined_avgdl = reader.avgdl
    inputs = []
    ds_parts = []
    off = 0
    for g in gens:
        # block maxes bound scores under THIS generation's avgdl; the
        # compacted reader scores with the combined avgdl
        scale = _ub_scale(combined_avgdl, g.meta.encode_avgdl or g.meta.avgdl)
        inputs += [(path, off, scale) for path, _, _ in g.segment_files]
        ds_parts.append(g.docstore.withColumn("doc_id", F.col("doc_id") + off))
        off += g.meta.n_docs

    from functools import reduce

    Qf = max(cfg.index.build_partitions // 4, 1)
    _exchange_merge(spark, out_dir, inputs, Qf)

    ds_all = reduce(DataFrame.unionByName, ds_parts)
    # range-partition + sort by doc_id: doc_id IN (...) lookups keep their
    # row-group min/max pruning in the compacted docstore
    (
        ds_all.repartitionByRange(Qf, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "docstore"))
    )

    meta = IndexMeta(
        n_docs=reader.n_docs,
        avgdl=combined_avgdl,
        k1=cfg.bm25.k1,
        b=cfg.bm25.b,
        block_size=cfg.index.block_size,
        n_partitions=sum(g.meta.n_partitions for g in gens),
        offsets=[],  # compacted artifact: per-partition resume no longer applies
        total_tokens=sum(g.meta.total_tokens for g in gens),
        encode_avgdl=combined_avgdl,  # bounds were widened to this at compaction
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        f.write(meta.to_json())
    save_manifest(out_dir, Manifest())  # serving artifact; lineage in gens' dirs
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
