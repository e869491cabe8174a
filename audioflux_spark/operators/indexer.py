"""Index build — per-partition segment construction + term-range merge.

Pipeline (the audioFlux pipeline shape, SURVEY §7.0, re-expressed):

  range-partition docs by (conv_id, turn_idx)      | block partitioning
  assign dense docIDs (offsets + local cumcount)   | implicit positional key
  per-partition vectorized tokenize + posting build| per-frame C kernels (OMP)
  delta+varint blobs with block-max metadata       | precomputed tables
  term-range merge read from the partial files     | filterbank grouped agg
  resumable per-partition checkpoints + lineage    | isContinue tail carry

Scale design notes (100 TB / 10^12 turns):
* docIDs: no global sort materialization — range partition, count per
  partition (one cheap agg), cumulative offsets on the driver (P integers),
  then offset+cumcount inside mapInArrow. Deterministic given the input.
* the ONLY wide op on raw data is the hash repartition of an
  under-partitioned source; everything until the merge is partition-local.
  The range merge shuffles nothing: the partials task records term
  splits of its partition, the driver turns them into term ranges, and each
  merge task (one per core) reads the partial files itself, once, keeping
  its contiguous ranges. Past _RANGE_MERGE_MAX_PARTIALS partial files the
  build merges through the exchange compaction uses, which shuffles
  *compressed blobs*, not postings rows — ~1-2 bytes per posting instead
  of ~30.
* the corpus text is regex-scanned twice: a JVM token count in the stats
  pass (avgdl is known before any output is written) and the Python
  tokenize in the partials job. That job's task holds each partition's rows
  once and writes everything derived from them: the docstore file and the
  partial segment file.
* hot terms (Zipf head: 'hotterm' is in 40% of turns) have one partial row
  per partition. Merging them writes no byte: partial blobs are
  self-contained and segment doc ranges are disjoint, so a merged row is
  its partials' bytes back to back in first_doc order (_make_merge_stream).
  A hot term costs its merge task its posting bytes and a sort over its
  rows, whichever merge runs.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from audioflux_spark.config import DEFAULT, EngineConfig
from audioflux_spark.functions.analyzer import doc_len_col
from audioflux_spark.functions.codec import (
    encode_positions_flat,
    encode_segment_batch_flat,
)
from audioflux_spark.plans.checkpoint import (
    Manifest,
    PartitionEntry,
    load_manifest,
    save_manifest,
)

_SEG_COLS = (
    "term string, df long, first_doc long, last_doc long, "
    "doc_blob binary, tf_blob binary, dl_blob binary, pos_blob binary, "
    "block_counts array<int>, block_firsts array<long>, block_maxes array<double>, "
    "block_doc_bytes array<int>, block_tf_bytes array<int>, block_dl_bytes array<int>, "
    "block_pos_bytes array<int>, part_counts array<long>"
)
PARTIAL_SCHEMA = "seg_id int, " + _SEG_COLS
MERGED_SCHEMA = _SEG_COLS
DOCSTORE_SCHEMA = (
    "doc_id long, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz, doc_len long, seg_id int"
)
# one row per freshly built partition, returned by the partial writer
LINEAGE_SCHEMA = "seg_id int, terms long, postings long, bytes long, splits array<string>"


@dataclass(frozen=True)
class IndexMeta:
    n_docs: int
    avgdl: float
    k1: float
    b: float
    block_size: int
    n_partitions: int
    offsets: list[int]
    total_tokens: int = 0  # exact Σ doc_len (for exact cross-generation avgdl)
    # smallest avgdl any surviving partial was ENCODED with: a resumed partial
    # rebuild can shift the corpus avgdl upward, and stored block maxes from
    # the earlier encode would then under-bound scores — readers widen bounds
    # by avgdl/encode_avgdl (tf-norm is monotone in avgdl, bounded by ratio)
    encode_avgdl: float = 0.0

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "IndexMeta":
        d = json.loads(s)
        if not d.get("total_tokens"):
            d["total_tokens"] = round(d["avgdl"] * d["n_docs"])
        if not d.get("encode_avgdl"):
            d["encode_avgdl"] = d["avgdl"]
        return IndexMeta(**d)


def _partitioned_base(transcripts: DataFrame, n_partitions: int) -> tuple[DataFrame, bool, int]:
    """Build partitions = deterministic scan splits when possible.

    The raw-text shuffle was the build's biggest I/O (the whole corpus
    written+read through shuffle files, plus a persist) and the disk is the
    one truly serial resource on a node — so when the source already has
    enough partitions (parquet/Iceberg splits: deterministic given files and
    split config), we index each split directly: ZERO wide ops before the
    blob merge. Only under-partitioned sources get a deterministic hash
    repartition by conv_id.

    NOT repartitionByRange: Spark's RangePartitioner samples with a seed
    derived from the RDD id, so boundaries differ on every invocation — a
    resumable build needs partition assignment that is a pure function of
    the DATA (fingerprints must match across runs). docIDs are therefore
    only key-ordered WITHIN a partition; the query layer breaks score ties
    by the real (conv_id, turn_idx) keys, never by docID.

    Returns (base, shuffled, P): callers persist the base only when a shuffle
    happened (re-scanning a page-cached parquet is cheaper than a persist);
    P is the base's partition count (asking the sorted base for it again
    launches jobs).
    """
    in_parts = transcripts.rdd.getNumPartitions()
    if in_parts >= n_partitions:
        return transcripts.sortWithinPartitions("conv_id", "turn_idx"), False, in_parts
    return (
        transcripts.repartition(n_partitions, "conv_id").sortWithinPartitions(
            "conv_id", "turn_idx"
        ),
        True,
        n_partitions,
    )


def _partition_stats(base_with_pid: DataFrame, cfg: EngineConfig):
    """ONE pass over the base, per partition: the fingerprint (count +
    order-independent hash) and the token count (the JVM regex count of
    doc_len_col). Returns (fingerprints, n_docs, total_tokens) over kept and
    rebuilt partitions alike, so avgdl is known before any output is written
    and no job reads the docstore back for it."""
    rows = (
        base_with_pid.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and overflow-free under ANSI mode
            F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias("h"),
            F.sum(doc_len_col("text", cfg.analyzer)).alias("tokens"),
        )
        .collect()
    )
    fps = {int(r["pid"]): f"{int(r['n'])}:{int(r['h'])}" for r in rows}
    n_docs = sum(int(r["n"]) for r in rows)
    total_tokens = sum(int(r["tokens"] or 0) for r in rows)
    return fps, n_docs, total_tokens


def _offsets_from_counts(fingerprints: dict[int, str], n_partitions: int) -> list[int]:
    counts = [0] * n_partitions
    for pid, fp in fingerprints.items():
        counts[pid] = int(fp.split(":", 1)[0])
    offsets = [0] * n_partitions
    run = 0
    for p in range(n_partitions):
        offsets[p] = run
        run += counts[p]
    return offsets


def _segment_fields() -> list:
    """Arrow fields of a segment row (MERGED_SCHEMA)."""
    import pyarrow as pa

    return [
        ("term", pa.string()),
        ("df", pa.int64()),
        ("first_doc", pa.int64()),
        ("last_doc", pa.int64()),
        ("doc_blob", pa.binary()),
        ("tf_blob", pa.binary()),
        ("dl_blob", pa.binary()),
        ("pos_blob", pa.binary()),
        ("block_counts", pa.list_(pa.int32())),
        ("block_firsts", pa.list_(pa.int64())),
        ("block_maxes", pa.list_(pa.float64())),
        ("block_doc_bytes", pa.list_(pa.int32())),
        ("block_tf_bytes", pa.list_(pa.int32())),
        ("block_dl_bytes", pa.list_(pa.int32())),
        ("block_pos_bytes", pa.list_(pa.int32())),
        ("part_counts", pa.list_(pa.int64())),
    ]


def _make_segment_fn(avgdl: float, cfg: EngineConfig):
    """Arrow-native segment kernel: ``build_segment(texts, first_doc)`` takes
    one partition's text column, its rows numbered as docIDs first_doc,
    first_doc + 1, ..., and returns (doc_len, batch): each row's token count
    and the partition's segment rows (MERGED_SCHEMA), batch None when the
    partition has no tokens.

    Everything stays in Arrow buffers / primitive NumPy: RE2 tokenization
    (utf8_lower + split_pattern_regex), dictionary-encode for term codes,
    and Binary/List output arrays built directly from (offsets, flat values).
    Zero Python string objects, zero per-term slicing — the earlier pandas
    kernel was memory-bandwidth-bound at 32-way parallelism (object arrays +
    factorize thrash the allocator; measured 2.7-5x degradation).
    """
    import pyarrow as pa

    k1, b = cfg.bm25.k1, cfg.bm25.b
    block_size = cfg.index.block_size
    split_pat = cfg.analyzer.split_pattern
    lowercase = cfg.analyzer.lowercase
    store_pos = cfg.index.store_positions

    out_schema = pa.schema(_segment_fields())

    def build_segment(texts, first_doc: int):
        import pyarrow.compute as pc

        n_rows = len(texts)
        if lowercase:
            texts = pc.utf8_lower(texts)
        toks = pc.split_pattern_regex(texts, pattern=split_pat)
        flat = pc.list_flatten(toks)
        parent = pc.list_parent_indices(toks)
        mask = pc.not_equal(flat, "")
        flat = flat.filter(mask)
        if len(flat) == 0:
            return np.zeros(n_rows, dtype=np.int64), None
        parent = parent.filter(mask).to_numpy().astype(np.int64)
        doc_len = np.bincount(parent, minlength=n_rows).astype(np.int64)
        denc = flat.dictionary_encode()
        codes = denc.indices.to_numpy().astype(np.int64)
        dictionary = denc.dictionary

        # single combined-key sort (term-major, doc ascending within term).
        # Without positions: a VALUE sort — original token order never needed,
        # ~8x cheaper than a two-key lexsort (this was the kernel's dominant
        # cost). With positions: one STABLE argsort — tokens appear in
        # document order, so stability alone leaves each posting's positions
        # ascending with no extra sort key.
        combined = codes * n_rows + parent
        if store_pos:
            doc_first_tok = np.cumsum(doc_len) - doc_len
            pos_tok = np.arange(combined.size, dtype=np.int64) - doc_first_tok[parent]
            order = np.argsort(combined, kind="stable")
            combined = combined[order]
            pos_tok = pos_tok[order]
        else:
            combined.sort()
        change = np.empty(combined.size, dtype=bool)
        change[0] = True
        np.not_equal(combined[1:], combined[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        tf = np.diff(np.append(starts, combined.size)).astype(np.int64)
        u = combined[starts]
        u_codes = u // n_rows
        u_local = u - u_codes * n_rows
        term_bounds = np.flatnonzero(
            np.concatenate(([True], u_codes[1:] != u_codes[:-1]))
        )
        term_ends = np.append(term_bounds[1:], u_codes.size)

        u_docs = first_doc + u_local
        enc = encode_segment_batch_flat(
            u_docs, tf, doc_len[u_local], term_bounds, avgdl, k1, b, block_size
        )
        n_terms = term_bounds.size
        counts_flat = enc["counts_flat"].astype(np.int64)
        posting_blk_starts = np.cumsum(counts_flat) - counts_flat
        if store_pos:
            pos_buf, pos_offs, pos_bytes_flat = encode_positions_flat(
                pos_tok, starts, starts[term_bounds], posting_blk_starts
            )
        else:
            pos_buf = b""
            pos_offs = np.zeros(n_terms + 1, dtype=np.int32)
            pos_bytes_flat = np.zeros(posting_blk_starts.size, dtype=np.int32)

        def bin_arr(buf: bytes, offs: np.ndarray) -> pa.Array:
            return pa.Array.from_buffers(
                pa.binary(), n_terms,
                [None, pa.py_buffer(np.ascontiguousarray(offs)), pa.py_buffer(buf)],
            )

        def list_arr(offs: np.ndarray, vals: np.ndarray, typ) -> pa.Array:
            return pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), pa.array(vals, type=typ)
            )

        return doc_len, pa.RecordBatch.from_arrays(
            [
                pc.take(dictionary, pa.array(u_codes[term_bounds], type=pa.int64())),
                pa.array((term_ends - term_bounds).astype(np.int64), type=pa.int64()),
                pa.array(u_docs[term_bounds], type=pa.int64()),
                pa.array(u_docs[term_ends - 1], type=pa.int64()),
                bin_arr(enc["doc_buf"], enc["doc_offsets"]),
                bin_arr(enc["tf_buf"], enc["tf_offsets"]),
                bin_arr(enc["dl_buf"], enc["dl_offsets"]),
                bin_arr(pos_buf, pos_offs),
                list_arr(enc["block_offsets"], enc["counts_flat"], pa.int32()),
                list_arr(enc["block_offsets"], enc["firsts_flat"], pa.int64()),
                list_arr(enc["block_offsets"], enc["maxes_flat"], pa.float64()),
                list_arr(enc["block_offsets"], enc["doc_bytes_flat"], pa.int32()),
                list_arr(enc["block_offsets"], enc["tf_bytes_flat"], pa.int32()),
                list_arr(enc["block_offsets"], enc["dl_bytes_flat"], pa.int32()),
                list_arr(enc["block_offsets"], pos_bytes_flat, pa.int32()),
                # one partial per term at build time: part_counts = [df]
                list_arr(
                    np.arange(n_terms + 1, dtype=np.int32),
                    (term_ends - term_bounds).astype(np.int64),
                    pa.int64(),
                ),
            ],
            schema=out_schema,
        )

    return build_segment


def _group_offsets(arr, starts: np.ndarray) -> np.ndarray:
    """int32 value offsets of a Binary/List array ``arr`` regrouped so that
    output row i spans input rows [starts[i], starts[i+1]) (the last group
    runs to the end). Module-level on purpose: the merge kernel's reference
    to it makes every worker that runs the kernel import this package."""
    n = len(arr)
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    new_off = np.empty(starts.size + 1, dtype=np.int32)
    new_off[:-1] = off[starts]
    new_off[-1] = off[n]
    return new_off


def _make_merge_stream():
    """Arrow merge kernel (mapInArrow): merging is pure OFFSET SUBSAMPLING.

    Partial blobs are self-contained (first gap absolute), so a merged
    posting list is simply the partials' bytes back-to-back with
    ``part_counts`` recording the reset boundaries (decoded by a vectorized
    segmented cumsum — functions/codec.delta_decode_segmented). The kernel
    therefore never touches blob bytes: sort rows by (term, first_doc),
    find group boundaries, and emit Binary/List arrays that REUSE the input
    data buffers with group-boundary offsets. No per-group Python, no byte
    rewriting — this was the worst-scaling stage as a pandas kernel
    (objects + per-boundary rebase).
    """
    import pyarrow as pa

    out_schema = pa.schema(_segment_fields())

    def merge_stream(batches):
        import pyarrow.compute as pc

        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        sort_keys = [("term", "ascending"), ("first_doc", "ascending")]
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=sort_keys)).combine_chunks()
        n = tbl.num_rows

        term_arr = tbl.column("term").combine_chunks()
        codes = term_arr.dictionary_encode().indices.to_numpy().astype(np.int64)
        change = np.ones(n, dtype=bool)
        if n > 1:
            change[1:] = codes[1:] != codes[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        n_out = starts.size

        df_a = tbl.column("df").combine_chunks().to_numpy()
        fd = tbl.column("first_doc").combine_chunks().to_numpy()
        ld = tbl.column("last_doc").combine_chunks().to_numpy()

        def merged_binary(col: str) -> pa.Array:
            arr = tbl.column(col).combine_chunks()
            return pa.Array.from_buffers(
                pa.binary(), n_out,
                [None, pa.py_buffer(_group_offsets(arr, starts)), arr.buffers()[2]],
            )

        def merged_list(col: str) -> pa.Array:
            arr = tbl.column(col).combine_chunks()
            return pa.ListArray.from_arrays(
                pa.array(_group_offsets(arr, starts), type=pa.int32()), arr.values
            )

        yield pa.RecordBatch.from_arrays(
            [
                pc.take(term_arr, pa.array(starts, type=pa.int64())),
                pa.array(np.add.reduceat(df_a, starts), type=pa.int64()),
                pa.array(fd[starts], type=pa.int64()),
                pa.array(ld[ends - 1], type=pa.int64()),
                merged_binary("doc_blob"),
                merged_binary("tf_blob"),
                merged_binary("dl_blob"),
                merged_binary("pos_blob"),
                merged_list("block_counts"),
                merged_list("block_firsts"),
                merged_list("block_maxes"),
                merged_list("block_doc_bytes"),
                merged_list("block_tf_bytes"),
                merged_list("block_dl_bytes"),
                merged_list("block_pos_bytes"),
                merged_list("part_counts"),
            ],
            schema=out_schema,
        )

    return merge_stream


# values that are unique or near-unique within a file: term, the doc/dl
# varint streams, doc_id, the turn text and its timestamp. A dictionary there
# only overflows back to PLAIN (parquet-mr made the same split by fallback);
# every other column repeats values
_NO_DICTIONARY = frozenset({"term", "doc_blob", "dl_blob", "doc_id", "text", "ts"})


def _write_parquet_file(table, path: str) -> None:
    """The one writer of the build's per-task files (docstore, partial and
    merged segments), called from the Python task that built ``table``.

    Written under a hidden temporary name in ``path``'s directory, then
    renamed over ``path``: a retried or speculative task rewrites identical
    bytes, and readers (Spark and pyarrow datasets skip hidden files) never
    see a half-written file. Settings: snappy (the cheapest codec to encode
    and decode; zstd level 1 measured ~25% smaller segment files for ~10%
    more write CPU), dictionary pages only where values repeat, no embedded
    Arrow schema (readers pass the declared schemas), and the page index
    parquet-mr writes by default, so `term IN (...)` can skip pages.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    directory, name = os.path.split(path)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
    dictionary_cols = [
        f"{f.name}.list.element" if pa.types.is_list(f.type) else f.name
        for f in table.schema
        if f.name not in _NO_DICTIONARY
    ]
    try:
        pq.write_table(
            table, tmp, compression="snappy", use_dictionary=dictionary_cols,
            store_schema=False, write_page_index=True,
        )
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


# docstore columns the partials job ships with its text (DOCSTORE_SCHEMA
# without doc_id and doc_len, which the task computes, and seg_id, which is
# the directory name)
_DOCSTORE_INPUT_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _make_partial_writer(
    segment_fn, offsets: list[int], partial_dir: str, docstore_dir: str, n_ranges: int
):
    """The partials job's task: it holds one partition's rows (pid and the
    docstore input columns) and writes both files derived from them to
    ``seg_id=<pid>/part-00000.parquet``:

    * under docstore_dir, every row with doc_id = offsets[pid] + row (the
      numbering of the kernel's postings) and doc_len = the kernel's token
      count, also when the partition has no tokens;
    * under partial_dir, the kernel's segment rows.

    It returns one lineage row (LINEAGE_SCHEMA) per partition with tokens,
    instead of the blobs. The row's ``splits`` are n_ranges - 1 of the
    partition's terms at even row shares in byte order, from which the
    driver draws the merge's term ranges (_range_bounds)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def write_partials(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        pid = tbl.column("pid")[0].as_py()
        first_doc = offsets[pid]
        doc_len, seg = segment_fn(tbl.column("text").combine_chunks(), first_doc)
        docs = pa.Table.from_arrays(
            [
                pa.array(np.arange(first_doc, first_doc + tbl.num_rows, dtype=np.int64)),
                *(tbl.column(c) for c in _DOCSTORE_INPUT_COLS),
                pa.array(doc_len),
            ],
            names=["doc_id", *_DOCSTORE_INPUT_COLS, "doc_len"],
        )
        leaf = os.path.join(f"seg_id={pid}", "part-00000.parquet")
        _write_parquet_file(docs, os.path.join(docstore_dir, leaf))
        if seg is None:
            return
        _write_parquet_file(pa.Table.from_batches([seg]), os.path.join(partial_dir, leaf))
        nbytes = sum(
            pc.sum(pc.binary_length(seg.column(c))).as_py() or 0
            for c in ("doc_blob", "tf_blob", "dl_blob")
        )
        terms = seg.column("term")
        ranks = np.arange(1, n_ranges, dtype=np.int64) * seg.num_rows // n_ranges
        splits = pc.take(terms, pc.array_sort_indices(terms).take(pa.array(ranks)))
        yield pa.RecordBatch.from_pydict(
            {
                "seg_id": pa.array([pid], pa.int32()),
                "terms": pa.array([seg.num_rows], pa.int64()),
                "postings": pa.array([pc.sum(seg.column("df")).as_py()], pa.int64()),
                "bytes": pa.array([nbytes], pa.int64()),
                "splits": pa.array([splits.to_pylist()], pa.list_(pa.string())),
            }
        )

    return write_partials


def _make_merge_writer(merge_fn, out_dir: str):
    """Wraps a merge kernel: the task writes its merged range to
    ``part-<part>.parquet`` under out_dir, part defaulting to its partition
    id, and returns one (part, terms) row."""
    import pyarrow as pa

    def write_merged(batches, part: int | None = None):
        from pyspark import TaskContext

        if part is None:
            part = TaskContext.get().partitionId()
        for batch in merge_fn(batches):
            _write_parquet_file(
                pa.Table.from_batches([batch]),
                os.path.join(out_dir, f"part-{part:05d}.parquet"),
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "part": pa.array([part], pa.int32()),
                    "terms": pa.array([batch.num_rows], pa.int64()),
                }
            )

    return write_merged


def _write_staged(out_dir: str, write) -> None:
    """Run ``write(staging)``, which writes every merged range file to a
    hidden sibling directory, then publish that directory as out_dir: a merge
    killed midway leaves no out_dir, and a resumed build merges again instead
    of serving a partial one."""
    parent, name = os.path.split(os.path.abspath(out_dir))
    staging = os.path.join(parent, f".{name}.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    try:
        write(staging)
        _publish(staging, out_dir)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_merged_segments(partials: DataFrame, out_dir: str, n_ranges: int) -> None:
    """The exchange merge, of compaction (offset-shifted generations) and of
    builds with more than _RANGE_MERGE_MAX_PARTIALS partial files:
    range-partition the rows by term, merge each range in the Arrow kernel,
    and write it from that kernel as one term-sorted file, so `term IN (...)`
    prunes files and row groups at query time."""
    _write_staged(
        out_dir,
        lambda staging: partials.repartitionByRange(n_ranges, "term")
        .mapInArrow(
            _make_merge_writer(_make_merge_stream(), staging),
            schema="part int, terms long",
        )
        .collect(),
    )


def _range_bounds(entries, n_ranges: int) -> list[str]:
    """Term-range boundaries of the range merge: n_ranges - 1 weighted
    quantiles of every manifest entry's term splits, each split weighted by
    the share of its partition's terms it stands for, deduplicated. Range i
    is [bounds[i-1], bounds[i]) with open ends. Any boundaries give a correct
    index (the splits only balance the ranges), so entries without splits
    (manifests written before splits were recorded) need no special case."""
    pooled = sorted(
        (t, e.terms / (len(e.term_splits) + 1)) for e in entries for t in e.term_splits
    )
    if not pooled:
        return []
    cum = np.cumsum([w for _, w in pooled])
    at = np.searchsorted(cum, np.arange(1, n_ranges) * cum[-1] / n_ranges)
    return sorted({pooled[min(int(i), len(pooled) - 1)][0] for i in at})


def _make_range_merge(files: list[str], bounds: list[str], out_dir: str, n_tasks: int):
    """The range merge's task: its input is one row holding its task
    id g, which owns the contiguous term ranges [g*n/n_tasks, (g+1)*n/n_tasks)
    of the n = len(bounds) + 1 ranges; range i is [bounds[i-1], bounds[i]).
    The task reads the partial files itself, once, keeping the terms of its
    ranges, then merges and writes each range i as part-<i>.parquet through
    the merge writer. Partial files are not term-sorted, so every task
    decodes every file: the merge decodes n_tasks x the partial bytes, and
    a task holds its ranges' rows in memory."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    schema = pa.schema(_segment_fields())
    write = _make_merge_writer(_make_merge_stream(), out_dir)
    n = len(bounds) + 1

    def span(first: int, end: int):
        """Ranges first .. end-1 as one filter on term."""
        term = pads.field("term")
        # "" is the least string: range 0 is open below
        keep = term >= (bounds[first - 1] if first else "")
        if end <= len(bounds):
            keep &= term < bounds[end - 1]
        return keep

    def merge_ranges(batches):
        (g,) = [r for b in batches for r in b.column("id").to_pylist()]
        first, end = g * n // n_tasks, (g + 1) * n // n_tasks
        rows = pads.dataset(files, schema=schema, format="parquet").to_table(
            filter=span(first, end)
        )
        for i in range(first, end):
            own = rows if end - first == 1 else rows.filter(span(i, i + 1))
            yield from write(own.to_batches(), part=i)

    return merge_ranges


def _merge_partial_files(
    spark: SparkSession, index_dir: str, manifest: Manifest, bounds: list[str]
) -> None:
    """The range merge, in one Spark job without an exchange: each task
    (_make_range_merge) reads the partial files directly and writes its
    contiguous term ranges. There is one task per core, not per range, as
    every task decodes every file. The files are those of the manifest's
    entries with terms (a tokenless partition writes none), so the partition
    count, the ranges and the inputs come from one place. With no partial
    files it runs no job and publishes an empty segments/."""
    partial_dir = os.path.join(index_dir, "segments_partial")
    if not manifest.entries and any(
        d.startswith("seg_id=")
        for d in (os.listdir(partial_dir) if os.path.isdir(partial_dir) else ())
    ):
        raise FileNotFoundError(
            f"{partial_dir} holds partial segments but {index_dir} has no "
            "manifest.json listing them"
        )
    # the files Spark's reader would list: hidden and underscore names skipped
    files = sorted(
        os.path.join(index_dir, e.output_path, f)
        for e in manifest.entries.values()
        if e.terms
        for f in os.listdir(os.path.join(index_dir, e.output_path))
        if not f.startswith((".", "_"))
    )

    def write(staging: str) -> None:
        if files:
            n = min(len(bounds) + 1, spark.sparkContext.defaultParallelism)
            spark.range(0, n, 1, n).mapInArrow(
                _make_range_merge(files, bounds, staging, n), schema="part int, terms long"
            ).collect()

    _write_staged(os.path.join(index_dir, "segments"), write)


def _publish(staging: str, out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(staging, out_dir)


def _n_ranges(cfg: EngineConfig) -> int:
    """Merged term ranges (Qf): fine enough that a Zipf-hot term range
    doesn't become a straggler task (range sizes are skewed; small quanta
    pack into waves), coarse enough to keep file counts sane. One range per
    build partition: the r6 profile showed the merge running on half the
    cores (Qf = P/2 left 16 tasks on 32 cores). Qf also sets the splits
    each partials task records (Qf - 1); the range merge packs the ranges
    into one task per core (_merge_partial_files), the exchange merge
    writes one file per range."""
    return max(cfg.index.build_partitions, 2)


# The most partial files the range merge reads. Partial files are not
# term-sorted, so each range-merge task decodes every one of them: the merge
# reads (tasks x partial bytes). Past this many files the build merges
# through the exchange (write_merged_segments), which reads each file once
# and shuffles its blobs.
_RANGE_MERGE_MAX_PARTIALS = 64


def _phase_timer():
    """AFSPARK_BUILD_PROFILE=1 → stage wall times on stderr (scaling triage)."""
    import sys
    import time

    if os.environ.get("AFSPARK_BUILD_PROFILE", "") != "1":
        return lambda name: None
    state = {"t": time.perf_counter()}

    def mark(name: str) -> None:
        now = time.perf_counter()
        sys.stderr.write(f"BUILD_PHASE {name} {now - state['t']:.2f}s\n")
        sys.stderr.flush()
        state["t"] = now

    return mark


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    resume: bool = True,
) -> IndexMeta:
    """Build (or resume) the inverted index at index_dir.

    Layout: meta.json, manifest.json, docstore/ and segments_partial/ (one
    parquet file per build partition, ``seg_id=<pid>/part-00000.parquet``,
    written by the partials job's tasks; no ``_SUCCESS`` marker, the manifest
    records completed partitions), segments/ (merged, range-partitioned +
    sorted by term).

    Jobs: the stats pass (fingerprints, doc counts and the JVM token count
    that gives avgdl), the partials job (Python tokenize; writes docstore and
    partial segments, returns lineage with term splits), the merge (one job
    whose tasks read the partial files; past _RANGE_MERGE_MAX_PARTIALS
    partitions, the exchange merge's sampling and shuffle jobs).
    """
    os.makedirs(index_dir, exist_ok=True)
    mark = _phase_timer()

    base, shuffled, P = _partitioned_base(transcripts, cfg.index.build_partitions)
    if shuffled:
        base = base.persist()
    with_pid = base.withColumn("pid", F.spark_partition_id())
    # one combined pass: fingerprints + corpus stats (no separate scan)
    fps, n_docs, total_tokens = _partition_stats(with_pid, cfg)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    mark("stats")
    offsets = _offsets_from_counts(fps, P)

    manifest = load_manifest(index_dir) if resume else Manifest()
    done = manifest.completed_for(fps)
    # offset-shift invalidation: a fingerprint match proves THIS partition's
    # bytes are unchanged, but its docID base is a prefix-sum of EARLIER
    # partitions' counts — if any of those changed, this partition's stored
    # docIDs (docstore + partial blobs) encode the OLD base and would collide
    # with the new layout. Rebuild any done partition whose recorded offset
    # moved (or is unrecorded: legacy manifest).
    done = {pid for pid in done if manifest.entries[pid].doc_offset == offsets[pid]}
    missing = sorted(set(fps) - done)

    partial_dir = os.path.join(index_dir, "segments_partial")
    docstore_dir = os.path.join(index_dir, "docstore")
    segments_dir = os.path.join(index_dir, "segments")
    for d in (partial_dir, docstore_dir):
        os.makedirs(d, exist_ok=True)

    # ghost cleanup: a resumed index_dir may carry seg_id dirs from a PREVIOUS
    # partition layout (different split config or smaller input → fewer pids).
    # Stale dirs would be swept into the merge with docIDs that collide with
    # the new offsets — delete any seg_id not in the current fingerprint set,
    # drop its manifest entry, and force a re-merge.
    ghosts = False
    for d in (partial_dir, docstore_dir):
        for name in os.listdir(d):
            if name.startswith("seg_id="):
                pid = int(name.split("=", 1)[1])
                if pid not in fps:
                    shutil.rmtree(os.path.join(d, name))
                    ghosts = True
    for pid in sorted(set(manifest.entries) - set(fps)):
        del manifest.entries[pid]
        ghosts = True
    # the merged segments are stale from here on: unpublish them before the
    # manifest records any change, so a build killed anywhere before the
    # merge publishes again finds no segments/ and merges on resume
    if missing or ghosts:
        shutil.rmtree(segments_dir, ignore_errors=True)
    if ghosts:
        save_manifest(index_dir, manifest)

    if missing:
        # clean any half-written output for missing pids (idempotent re-run)
        for d in (partial_dir, docstore_dir):
            for pid in missing:
                sub = os.path.join(d, f"seg_id={pid}")
                if os.path.exists(sub):
                    shutil.rmtree(sub)
        # the docstore is written by the partials job and the token totals
        # come from the stats pass; both marks stay (≈0 s) so per-phase
        # records remain comparable across builds
        mark("docstore")
    mark("token_stats")

    if missing:
        # each task writes its partition's docstore and partial segment
        # files itself and returns that partition's lineage row: no posting
        # blob crosses into the JVM, and no second job reads anything back.
        # Filtered to the missing pids, so a resume ships no kept partition
        # to Python
        lineage = (
            with_pid.filter(F.col("pid").isin(missing))
            .select("pid", *_DOCSTORE_INPUT_COLS)
            .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
            .mapInArrow(
                _make_partial_writer(
                    _make_segment_fn(avgdl, cfg),
                    offsets,
                    os.path.abspath(partial_dir),
                    os.path.abspath(docstore_dir),
                    # only the range merge reads splits: past its limit P * Qf
                    # strings would swell the lineage and the manifest
                    _n_ranges(cfg) if P <= _RANGE_MERGE_MAX_PARTIALS else 1,
                ),
                schema=LINEAGE_SCHEMA,
            )
            .collect()
        )
        mark("partials")

        stat_by_pid = {int(r["seg_id"]): r for r in lineage}
        for pid in missing:
            r = stat_by_pid.get(pid)
            manifest.entries[pid] = PartitionEntry(
                partition_id=pid,
                input_fingerprint=fps[pid],
                status="done",
                doc_offset=offsets[pid],
                terms=int(r["terms"]) if r else 0,
                postings=int(r["postings"]) if r else 0,
                bytes=int(r["bytes"]) if r else 0,
                output_path=f"segments_partial/seg_id={pid}",
                term_splits=list(r["splits"]) if r else [],
            )
        mean_postings = (
            sum(e.postings for e in manifest.entries.values()) / max(len(manifest.entries), 1)
        )
        for e in manifest.entries.values():
            e.skew_ratio = (e.postings / mean_postings) if mean_postings else 0.0
        save_manifest(index_dir, manifest)
        mark("lineage")

    if shuffled:
        base.unpersist()

    # ---- merge phase: skipped only when resuming an untouched index whose
    # merge was published (any change above unpublished segments/)
    if not os.path.exists(segments_dir):
        merge_segments(spark, index_dir, cfg, manifest)
    mark("merge")

    # partial rebuilds keep blocks encoded under an earlier (possibly smaller)
    # avgdl — track the smallest so readers can widen bounds safely
    encode_avgdl = avgdl
    meta_path = os.path.join(index_dir, "meta.json")
    if resume and done and os.path.exists(meta_path):
        with open(meta_path) as f:
            old = IndexMeta.from_json(f.read())
        if old.encode_avgdl:
            encode_avgdl = min(encode_avgdl, old.encode_avgdl)

    meta = IndexMeta(
        n_docs=n_docs,
        avgdl=avgdl,
        k1=cfg.bm25.k1,
        b=cfg.bm25.b,
        block_size=cfg.index.block_size,
        n_partitions=P,
        offsets=offsets,
        total_tokens=total_tokens,
        encode_avgdl=encode_avgdl,
    )
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        f.write(meta.to_json())
    return meta


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    manifest: Manifest | None = None,
) -> None:
    """(Re)merge segments_partial/ into segments/; the previous segments/
    stays readable until the new one is published. The partition count and
    the range merge's term ranges come from the manifest (build_index passes
    its own; standalone calls read manifest.json), so no job scans for them.
    Past _RANGE_MERGE_MAX_PARTIALS partitions the exchange merge reads the
    partial files instead."""
    if manifest is None:
        manifest = load_manifest(index_dir)
    # actual partition count (scan-split partitioning may exceed the config)
    P = max(manifest.entries, default=-1) + 1
    Qf = _n_ranges(cfg)
    if P <= _RANGE_MERGE_MAX_PARTIALS:
        _merge_partial_files(
            spark, index_dir, manifest, _range_bounds(manifest.entries.values(), Qf)
        )
    else:
        write_merged_segments(
            spark.read.schema(PARTIAL_SCHEMA).parquet(
                os.path.join(index_dir, "segments_partial")
            ),
            os.path.join(index_dir, "segments"),
            Qf,
        )
