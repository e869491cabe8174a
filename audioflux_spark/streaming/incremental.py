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
    and without rewriting a single posting byte.

    Generations accumulate (each query pays per-generation segment fetches);
    Lucene answers this with forceMerge. Here the new block-anchored format
    makes compaction pure metadata arithmetic: every block's delta chain is
    re-anchored by its stored first docID, so shifting a generation's docID
    space is `block_firsts + offset` (a JVM array transform) — blob bytes are
    reused verbatim, and the build's merge writer (write_merged_segments)
    concatenates the per-generation rows per term in docID order (generation
    doc ranges are disjoint after offsetting).

    Writes a complete single-generation index at out_dir and returns a reader
    over it. Rank-identity vs the multi-generation reader is exercised by
    tests/test_incremental.py."""
    import shutil

    from pyspark.sql import functions as F

    from audioflux_spark.operators.indexer import IndexMeta, write_merged_segments
    from audioflux_spark.plans.checkpoint import Manifest, save_manifest

    reader = IndexReader(spark, index_dir)
    gens = reader.generations
    offs: dict[int, int] = {}
    run = 0
    for g in gens:
        offs[g.gen_id] = run
        run += g.meta.n_docs

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    combined_avgdl = (
        sum(g.meta.total_tokens for g in gens) / max(sum(g.meta.n_docs for g in gens), 1)
    )
    seg_parts = []
    ds_parts = []
    for g in gens:
        off = offs[g.gen_id]
        seg = g.segments
        if off:
            seg = (
                seg.withColumn("first_doc", F.col("first_doc") + off)
                .withColumn("last_doc", F.col("last_doc") + off)
                .withColumn(
                    "block_firsts",
                    F.transform("block_firsts", lambda x: x + F.lit(off)),
                )
            )
        # block maxes were computed with THIS generation's build avgdl; the
        # compacted reader scores with the combined avgdl. tf-norm is monotone
        # increasing in avgdl, bounded by the ratio — widen so bounds stay safe
        enc = g.meta.encode_avgdl or g.meta.avgdl
        ub_scale = max(1.0, combined_avgdl / enc) if enc else 1.0
        if ub_scale > 1.0:
            seg = seg.withColumn(
                "block_maxes",
                F.transform("block_maxes", lambda x: x * F.lit(ub_scale)),
            )
        seg_parts.append(seg)
        ds = g.docstore
        if off:
            ds = ds.withColumn("doc_id", F.col("doc_id") + off)
        ds_parts.append(ds)

    from functools import reduce

    seg_all = reduce(DataFrame.unionByName, seg_parts)
    Qf = max(cfg.index.build_partitions // 4, 1)
    write_merged_segments(seg_all, os.path.join(out_dir, "segments"), Qf)

    ds_all = reduce(DataFrame.unionByName, ds_parts)
    # range-partition + sort by doc_id: doc_id IN (...) lookups keep their
    # row-group min/max pruning in the compacted docstore
    (
        ds_all.repartitionByRange(Qf, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "docstore"))
    )

    total_tokens = sum(g.meta.total_tokens for g in gens)
    n_docs = sum(g.meta.n_docs for g in gens)
    meta = IndexMeta(
        n_docs=n_docs,
        avgdl=(total_tokens / n_docs) if n_docs else 0.0,
        k1=cfg.bm25.k1,
        b=cfg.bm25.b,
        block_size=cfg.index.block_size,
        n_partitions=sum(g.meta.n_partitions for g in gens),
        offsets=[],  # compacted artifact: per-partition resume no longer applies
        total_tokens=total_tokens,
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
