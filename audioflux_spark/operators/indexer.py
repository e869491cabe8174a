"""Index build — per-partition segment construction + term-range merge.

Pipeline (the audioFlux pipeline shape, SURVEY §7.0, re-expressed):

  partition docs, sorted by (conv_id, turn_idx)    | block partitioning
  local docIDs (row number within the partition)   | implicit positional key
  per-partition vectorized tokenize + posting build| per-frame C kernels (OMP)
  delta+varint blobs with block-max metadata       | precomputed tables
  term-range merge read from the partial files,    | filterbank grouped agg
  each shifted by its partition's docID offset     |
  resumable per-partition checkpoints + lineage    | isContinue tail carry

Scale design notes (100 TB / 10^12 turns):
* one pass over the text: the partials task encodes its partition with
  0-based docIDs and the partition's own avgdl, so it needs nothing from
  the other partitions. The driver learns each partition's doc and token
  counts from the lineage rows (P integers), and the merge adds the
  partition's docID offset to first_doc, last_doc, block_firsts and the
  partition's first doc gap of each term, and widens its block maxes to
  the corpus avgdl (_read_partial) — one varint per partial row is
  re-encoded, the rest of the blobs is copied. Deterministic given the
  input.
* the ONLY wide op on raw data is the hash repartition of an
  under-partitioned source; everything until the merge is partition-local.
  The range merge shuffles nothing: the partials task records term
  splits of its partition, the driver turns them into term ranges, and each
  merge task (one per core) reads the partial files itself, once, keeping
  its contiguous ranges. Past _RANGE_MERGE_MAX_PARTIALS partitions the
  merge runs through an exchange instead, which shuffles *compressed
  blobs*, not postings rows — ~1-2 bytes per posting instead of ~30.
* the partials task holds each partition's rows once: it fingerprints
  them, and unless the manifest and the partition's own marker already
  record that fingerprint with its files present, writes everything derived
  from them: the docstore file, the partial segment file and the marker.
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
import pathlib
import shutil
import uuid
from dataclasses import asdict, dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from audioflux_spark.config import DEFAULT, EngineConfig
from audioflux_spark.functions.codec import (
    encode_positions_flat,
    encode_segment_batch_flat,
    varint_encode_with_lengths,
)
from audioflux_spark.plans.checkpoint import (
    Manifest,
    PartitionEntry,
    load_manifest,
    save_manifest,
)

MERGED_SCHEMA = (
    "term string, df long, first_doc long, last_doc long, "
    "doc_blob binary, tf_blob binary, dl_blob binary, pos_blob binary, "
    "block_counts array<int>, block_firsts array<long>, block_maxes array<double>, "
    "block_doc_bytes array<int>, block_tf_bytes array<int>, block_dl_bytes array<int>, "
    "block_pos_bytes array<int>, part_counts array<long>"
)
# doc_id is the row's number within its partition (seg_id) in a build's
# files; IndexReader.docstore adds the partition's offset
DOCSTORE_SCHEMA = (
    "doc_id long, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz, doc_len long, seg_id int"
)
# one row per partition, returned by the partials task: its manifest
# entry (PartitionEntry) as JSON, recorded or freshly built
LINEAGE_SCHEMA = "entry string"


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

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "IndexMeta":
        d = json.loads(s)
        if not d.get("total_tokens"):
            d["total_tokens"] = round(d["avgdl"] * d["n_docs"])
        # written by builds that recorded the avgdl of the block maxes apart:
        # the merge widens them to the index's avgdl
        d.pop("encode_avgdl", None)
        return IndexMeta(**d)


def _partitioned_base(transcripts: DataFrame, n_partitions: int) -> tuple[DataFrame, int]:
    """Build partitions = deterministic scan splits when possible.

    The raw-text shuffle was the build's biggest I/O (the whole corpus
    written+read through shuffle files) and the disk is the one truly
    serial resource on a node — so when the source already has enough
    partitions (parquet/Iceberg splits: deterministic given files and split
    config), we index each split directly: ZERO wide ops before the blob
    merge. Only under-partitioned sources get a deterministic hash
    repartition by conv_id. The base is scanned once, by the partials job,
    so it is never persisted.

    NOT repartitionByRange: Spark's RangePartitioner samples with a seed
    derived from the RDD id, so boundaries differ on every invocation — a
    resumable build needs partition assignment that is a pure function of
    the DATA (fingerprints must match across runs). docIDs are therefore
    only key-ordered WITHIN a partition; the query layer breaks score ties
    by the real (conv_id, turn_idx) keys, never by docID.

    Returns (base, P), P being the base's partition count (asking the
    sorted base for it again launches jobs).
    """
    in_parts = transcripts.rdd.getNumPartitions()
    if in_parts >= n_partitions:
        return transcripts.sortWithinPartitions("conv_id", "turn_idx"), in_parts
    return (
        transcripts.repartition(n_partitions, "conv_id").sortWithinPartitions(
            "conv_id", "turn_idx"
        ),
        n_partitions,
    )


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


def _make_segment_fn(cfg: EngineConfig):
    """Arrow-native segment kernel: ``build_segment(texts)`` takes one
    partition's text column, its rows numbered as docIDs 0, 1, ..., and
    returns (doc_len, batch): each row's token count and the partition's
    segment rows (MERGED_SCHEMA), block maxes computed under the
    partition's own avgdl (sum(doc_len) / rows); batch is None when the
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

    def build_segment(texts):
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
        avgdl = int(doc_len.sum()) / n_rows
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

        enc = encode_segment_batch_flat(
            u_local, tf, doc_len[u_local], term_bounds, avgdl, k1, b, block_size
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
                pa.array(u_local[term_bounds], type=pa.int64()),
                pa.array(u_local[term_ends - 1], type=pa.int64()),
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

    Partial blobs are self-contained (first gap absolute, in the index's
    docIDs once _read_partial has shifted it), so a merged posting list is
    simply the partials' bytes back-to-back with ``part_counts`` recording
    the reset boundaries (decoded by a vectorized segmented cumsum —
    functions/codec.delta_decode_segmented), and every block also
    re-anchors at its stored first docID. The kernel therefore never
    touches blob bytes: sort rows by (term, first_doc), find group
    boundaries, and emit Binary/List arrays that REUSE the input
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

# docstore/seg_id=<pid>/<this>: the fingerprint of the input the
# partition's files hold ("_": Spark and the reader skip it)
FINGERPRINT_FILE = "_fingerprint"


def _make_partial_writer(
    segment_fn, entries: dict[int, PartitionEntry], index_dir: str, n_ranges: int
):
    """The partials job's task, the build's one pass over the text. It holds
    one partition's rows (pid, the JVM row hash h and the docstore input
    columns) and fingerprints them as "<rows>:<XOR of h>", independent of
    row order. When ``entries`` (the manifest's) and the partition's marker
    (FINGERPRINT_FILE) both record that fingerprint and its files are
    present, it writes nothing. Otherwise it unpublishes index_dir/segments
    (no longer the merge of the partials), clears the partition's
    directories and writes, to ``seg_id=<pid>/part-00000.parquet``:

    * under docstore/, every row with doc_id = its row number (the kernel's
      docIDs) and doc_len = the kernel's token count;
    * under segments_partial/, the kernel's segment rows, if it has tokens;

    and last the marker: a run killed after rewriting the partition, before
    the driver saves the manifest, leaves a marker that differs from it.

    Either way it returns its entry as one lineage row (LINEAGE_SCHEMA): the
    fingerprint, rows, tokens, the avgdl its block maxes were encoded under,
    terms, postings, blob bytes, and as ``term_splits`` n_ranges - 1 of its
    terms at even row shares in byte order, from which the driver draws the
    merge's term ranges (_range_bounds)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    partial_dir = os.path.join(index_dir, "segments_partial")
    docstore_dir = os.path.join(index_dir, "docstore")

    def lineage(e: PartitionEntry):
        return pa.RecordBatch.from_pydict({"entry": [json.dumps(asdict(e))]})

    def write_partials(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        pid = tbl.column("pid")[0].as_py()
        n = tbl.num_rows
        fp = f"{n}:{int(np.bitwise_xor.reduce(tbl.column('h').to_numpy()))}"
        leaf = os.path.join(f"seg_id={pid}", "part-00000.parquet")
        marker = os.path.join(docstore_dir, f"seg_id={pid}", FINGERPRINT_FILE)
        kept = entries.get(pid)
        if (
            kept is not None
            and (kept.n, kept.input_fingerprint) == (n, fp)
            and os.path.exists(marker)
            and pathlib.Path(marker).read_text() == fp
            and os.path.exists(os.path.join(docstore_dir, leaf))
            and (not kept.terms or os.path.exists(os.path.join(partial_dir, leaf)))
        ):
            yield lineage(kept)
            return
        shutil.rmtree(os.path.join(index_dir, "segments"), ignore_errors=True)
        for d in (docstore_dir, partial_dir):
            shutil.rmtree(os.path.join(d, f"seg_id={pid}"), ignore_errors=True)
        doc_len, seg = segment_fn(tbl.column("text").combine_chunks())
        docs = pa.Table.from_arrays(
            [
                pa.array(np.arange(n, dtype=np.int64)),
                *(tbl.column(c) for c in _DOCSTORE_INPUT_COLS),
                pa.array(doc_len),
            ],
            names=["doc_id", *_DOCSTORE_INPUT_COLS, "doc_len"],
        )
        _write_parquet_file(docs, os.path.join(docstore_dir, leaf))
        tokens = int(doc_len.sum())
        e = PartitionEntry(
            partition_id=pid,
            input_fingerprint=fp,
            n=n,
            tokens=tokens,
            avgdl=tokens / n,
            output_path=f"segments_partial/seg_id={pid}",
        )
        if seg is not None:
            _write_parquet_file(pa.Table.from_batches([seg]), os.path.join(partial_dir, leaf))
            terms = seg.column("term")
            ranks = np.arange(1, n_ranges, dtype=np.int64) * seg.num_rows // n_ranges
            e.terms = seg.num_rows
            e.postings = pc.sum(seg.column("df")).as_py()
            e.bytes = sum(
                pc.sum(pc.binary_length(seg.column(c))).as_py() or 0
                for c in ("doc_blob", "tf_blob", "dl_blob")
            )
            e.term_splits = pc.take(
                terms, pc.array_sort_indices(terms).take(pa.array(ranks))
            ).to_pylist()
        tmp = os.path.join(os.path.dirname(marker), f".{FINGERPRINT_FILE}.{uuid.uuid4().hex}.tmp")
        pathlib.Path(tmp).write_text(fp)
        os.replace(tmp, marker)
        yield lineage(e)

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


def _layout(entries: dict[int, PartitionEntry], n_partitions: int):
    """(docID offset of each of n_partitions partitions, n_docs,
    total_tokens) from the entries' row and token counts: partition p's
    docs follow those of partitions 0 .. p-1."""
    counts = np.zeros(n_partitions, dtype=np.int64)
    for pid, e in entries.items():
        counts[pid] = e.n
    offsets = (np.cumsum(counts) - counts).tolist()
    return offsets, int(counts.sum()), sum(e.tokens for e in entries.values())


def _ub_scale(avgdl: float, from_avgdl: float) -> float:
    """The factor that widens block maxes encoded under from_avgdl into
    bounds on scores under avgdl: tf-norm grows with avgdl, by at most their
    ratio. The merge widens each partition's maxes from its own avgdl to
    the index's, and serving widens a generation's from the generation's
    avgdl to that of all generations."""
    return max(1.0, avgdl / from_avgdl) if from_avgdl else 1.0


def _partial_inputs(index_dir: str, entries: dict[int, PartitionEntry]):
    """(path, docID offset, block-max scale) of every partial file the
    entries list (a tokenless partition writes none), in pid order, as
    _read_partial takes them: each partition's maxes are widened from its
    own avgdl to the index's."""
    offsets, n_docs, tokens = _layout(entries, max(entries, default=-1) + 1)
    avgdl = tokens / n_docs if n_docs else 0.0
    return [
        (
            os.path.join(index_dir, e.output_path, "part-00000.parquet"),
            offsets[pid],
            _ub_scale(avgdl, e.avgdl),
        )
        for pid, e in sorted(entries.items())
        if e.terms
    ]


def _shift_first_gaps(tbl, doc_offset: int):
    """doc_blob and block_doc_bytes of ``tbl`` with the first doc gap of
    every partial in each row re-encoded for docIDs shifted by doc_offset.
    That gap is absolute (the partial's first docID + 1) while every other
    gap is relative, so part_counts decodes a merged blob to the index's
    docIDs (codec.delta_decode_segmented). The other bytes are copied as
    they are."""
    import pyarrow as pa

    blob = tbl.column("doc_blob").chunk(0)
    n = len(blob)
    off = np.frombuffer(blob.buffers()[1], dtype=np.int32)[blob.offset : blob.offset + n + 1]
    data = np.frombuffer(blob.buffers()[2], dtype=np.uint8)[off[0] : off[-1]]
    cols = ("block_counts", "part_counts", "block_firsts", "block_doc_bytes")
    counts, parts, firsts, nbytes = (tbl.column(c).chunk(0).flatten().to_numpy() for c in cols)
    # blocks that start a partial: their first posting starts a part_counts run
    first = np.isin(np.cumsum(counts) - counts, np.cumsum(parts) - parts)
    _, old_len = varint_encode_with_lengths(firsts[first] + 1)
    new_buf, new_len = varint_encode_with_lengths(firsts[first] + doc_offset + 1)
    # each first gap's byte position once the old first gaps are cut out
    at = (np.cumsum(nbytes) - nbytes)[first] - (np.cumsum(old_len) - old_len)
    out = np.insert(
        np.delete(data, np.repeat(at, old_len) + np.arange(old_len.sum())),
        np.repeat(at, new_len),
        np.frombuffer(new_buf, dtype=np.uint8),
    )
    rows = np.repeat(np.arange(n), tbl.column("block_counts").chunk(0).value_lengths())
    grow = np.bincount(rows[first], weights=new_len - old_len, minlength=n)
    new_off = (off - off[0] + np.concatenate(([0], np.cumsum(grow)))).astype(np.int32)
    nbytes = nbytes.copy()
    nbytes[first] += (new_len - old_len).astype(np.int32)
    bytes_off = tbl.column("block_doc_bytes").chunk(0).offsets.to_numpy()
    return (
        pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(new_off), pa.py_buffer(out.tobytes())]
        ),
        pa.ListArray.from_arrays(pa.array(bytes_off - bytes_off[0]), pa.array(nbytes)),
    )


def _read_partial(path: str, doc_offset: int, ub_scale: float, filter=None):
    """The segment rows of one partial file that pass ``filter``, in the
    index's numbering: doc_offset added to first_doc, last_doc,
    block_firsts and each partial's absolute first doc gap
    (_shift_first_gaps), and block_maxes multiplied by ub_scale. Decoding
    re-anchors every block at its block_firsts; the rest of the blobs is
    copied as it is. Both merges read their input through it."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    tbl = pads.dataset(
        path, schema=pa.schema(_segment_fields()), format="parquet"
    ).to_table(filter=filter).combine_chunks()
    if tbl.num_rows == 0 or not doc_offset and ub_scale == 1.0:
        return tbl

    def list_values(name: str, fn):
        arr = tbl.column(name).chunk(0)
        return pa.ListArray.from_arrays(arr.offsets, fn(arr.values))

    doc_blob, doc_bytes = _shift_first_gaps(tbl, doc_offset)
    for name, col in (
        ("first_doc", pc.add(tbl.column("first_doc"), doc_offset)),
        ("last_doc", pc.add(tbl.column("last_doc"), doc_offset)),
        ("doc_blob", doc_blob),
        ("block_doc_bytes", doc_bytes),
        ("block_firsts", list_values("block_firsts", lambda v: pc.add(v, doc_offset))),
        ("block_maxes", list_values("block_maxes", lambda v: pc.multiply(v, ub_scale))),
    ):
        i = tbl.schema.get_field_index(name)
        tbl = tbl.set_column(i, tbl.schema.field(i), col)
    return tbl


def _make_range_merge(inputs: list, bounds: list[str], out_dir: str, n_tasks: int):
    """The range merge's task: its input is one row holding its task
    id g, which owns the contiguous term ranges [g*n/n_tasks, (g+1)*n/n_tasks)
    of the n = len(bounds) + 1 ranges; range i is [bounds[i-1], bounds[i]).
    The task reads the partial files (``inputs``, from _partial_inputs)
    itself, once, keeping the terms of its ranges, then merges and writes
    each range i as part-<i>.parquet through the merge writer. Partial
    files are not term-sorted, so every task decodes every file: the merge
    decodes n_tasks x the partial bytes, and a task holds its ranges' rows
    in memory."""
    import pyarrow as pa
    import pyarrow.dataset as pads

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
        rows = pa.concat_tables([_read_partial(*f, filter=span(first, end)) for f in inputs])
        for i in range(first, end):
            own = rows if end - first == 1 else rows.filter(span(i, i + 1))
            yield from write(own.to_batches(), part=i)

    return merge_ranges


def _range_merge(spark: SparkSession, index_dir: str, inputs: list, bounds: list[str]) -> None:
    """The range merge, in one Spark job without an exchange: each task
    (_make_range_merge) reads the partial files directly and writes its
    contiguous term ranges. There is one task per core, not per range, as
    every task decodes every file. With no inputs it runs no job and
    publishes an empty segments/."""

    def write(staging: str) -> None:
        n = min(len(bounds) + 1, spark.sparkContext.defaultParallelism)
        if inputs:
            spark.range(0, n, 1, n).mapInArrow(
                _make_range_merge(inputs, bounds, staging, n), schema="part int, terms long"
            ).collect()

    _write_staged(os.path.join(index_dir, "segments"), write)


def _make_partial_reader(inputs: list):
    """The exchange merge's input task: each input row holds the index of a
    partial file in ``inputs`` (from _partial_inputs), read through
    _read_partial."""

    def read_partials(batches):
        for b in batches:
            for i in b.column("id").to_pylist():
                yield from _read_partial(*inputs[i]).to_batches()

    return read_partials


def _exchange_merge(spark: SparkSession, out_dir: str, inputs: list, n_ranges: int) -> None:
    """The exchange merge, of indexes with more than
    _RANGE_MERGE_MAX_PARTIALS partitions: one task per input file reads
    it (_make_partial_reader), the rows are range-partitioned by term, and
    each range is merged in the Arrow kernel and written from that kernel as
    one term-sorted file under out_dir/segments, so `term IN (...)` prunes
    files and row groups at query time. No job lists the input files."""
    _write_staged(
        os.path.join(out_dir, "segments"),
        lambda staging: spark.range(0, len(inputs), 1, max(len(inputs), 1))
        .mapInArrow(_make_partial_reader(inputs), MERGED_SCHEMA)
        .repartitionByRange(n_ranges, "term")
        .mapInArrow(
            _make_merge_writer(_make_merge_stream(), staging),
            schema="part int, terms long",
        )
        .collect(),
    )


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
    into one task per core (_range_merge), the exchange merge writes one
    file per range."""
    return max(cfg.index.build_partitions, 2)


# The most partial files the range merge reads. Partial files are not
# term-sorted, so each range-merge task decodes every one of them: the merge
# reads (tasks x partial bytes). Past this many files the build merges
# through the exchange (_exchange_merge), which reads each file once
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
    docIDs local to the partition, written by the partials job's tasks; no
    ``_SUCCESS`` marker, the manifest records completed partitions, and
    ``docstore/seg_id=<pid>/_fingerprint`` the input each partition's files
    hold), segments/ (merged, global docIDs, range-partitioned + sorted by
    term). The driver then commits them (commit_index).

    Jobs: the partials job, the one pass over the text (each task
    fingerprints its partition and, unless the manifest records it, writes
    its docstore and partial segment files; every task returns lineage with
    term splits), and the merge (one job whose tasks read the partial files;
    past _RANGE_MERGE_MAX_PARTIALS partitions, the exchange merge's sampling
    and shuffle jobs). An input whose plan ends in a shuffle, or an
    under-partitioned one that the build repartitions, adds that shuffle's
    map stage as one more job.
    """
    # docstore/ exists even when no partition has rows: readers open it
    os.makedirs(os.path.join(index_dir, "docstore"), exist_ok=True)
    mark = _phase_timer()

    base, P = _partitioned_base(transcripts, cfg.index.build_partitions)
    old = load_manifest(index_dir) if resume else Manifest()
    # the phases of the two-pass build, kept so phase records stay
    # comparable: "stats" times the input's partition count (a job for an
    # input ending in a shuffle), the other two ≈0 s
    for phase in ("stats", "docstore", "token_stats"):
        mark(phase)
    lineage = (
        base.select(
            F.spark_partition_id().alias("pid"),
            F.xxhash64("conv_id", "turn_idx", "text").alias("h"),
            *_DOCSTORE_INPUT_COLS,
        )
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        .mapInArrow(
            _make_partial_writer(
                _make_segment_fn(cfg),
                old.entries,
                os.path.abspath(index_dir),
                # only the range merge reads splits: past its limit P * Qf
                # strings would swell the lineage and the manifest
                _n_ranges(cfg) if P <= _RANGE_MERGE_MAX_PARTIALS else 1,
            ),
            schema=LINEAGE_SCHEMA,
        )
        .collect()
    )
    mark("partials")

    entries = {e.partition_id: e for e in (PartitionEntry(**json.loads(r[0])) for r in lineage)}
    # ghost cleanup: seg_id dirs and manifest entries of partitions that are
    # now empty or gone (an earlier, different partition layout) would be
    # merged with the new ones. Delete them, unpublishing the merged
    # segments first, as a changed partition's task did before its writes
    ghosts = [
        os.path.join(d, name)
        for d in (os.path.join(index_dir, "segments_partial"), os.path.join(index_dir, "docstore"))
        if os.path.isdir(d)
        for name in os.listdir(d)
        if name.startswith("seg_id=") and int(name.split("=", 1)[1]) not in entries
    ]
    if ghosts or set(old.entries) - set(entries):
        shutil.rmtree(os.path.join(index_dir, "segments"), ignore_errors=True)
    for path in ghosts:
        shutil.rmtree(path)
    mark("lineage")
    meta = commit_index(spark, index_dir, entries, P, cfg)
    mark("merge")
    return meta


def commit_index(
    spark: SparkSession,
    index_dir: str,
    entries: dict[int, PartitionEntry],
    n_partitions: int,
    cfg: EngineConfig = DEFAULT,
) -> IndexMeta:
    """Make index_dir the index of the partitions ``entries`` lists, whose
    docstore and partial segment files are in place under index_dir: lay
    out their docIDs (partition p's follow those of partitions 0 .. p-1 of
    n_partitions) and record each one's offset and skew, save the manifest,
    merge segments/ unless it is published, and write meta.json last. Its
    avgdl is the one the merge widens every partition's block maxes to.
    build_index commits through it after the partials job, compact_index
    after copying its generations' partitions."""
    offsets, n_docs, total_tokens = _layout(entries, n_partitions)
    mean_postings = sum(e.postings for e in entries.values()) / max(len(entries), 1)
    for pid, e in entries.items():
        e.doc_offset = offsets[pid]
        e.skew_ratio = (e.postings / mean_postings) if mean_postings else 0.0
    manifest = Manifest(entries=dict(sorted(entries.items())))
    save_manifest(index_dir, manifest)
    # skipped only when resuming an untouched index whose merge was
    # published (any change to its partitions unpublished segments/)
    if not os.path.exists(os.path.join(index_dir, "segments")):
        merge_segments(spark, index_dir, cfg, manifest)

    meta = IndexMeta(
        n_docs=n_docs,
        avgdl=(total_tokens / n_docs) if n_docs else 0.0,
        k1=cfg.bm25.k1,
        b=cfg.bm25.b,
        block_size=cfg.index.block_size,
        n_partitions=n_partitions,
        offsets=offsets,
        total_tokens=total_tokens,
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
    stays readable until the new one is published. The partial files, their
    docID offsets and block-max scales, the partition count and the range
    merge's term ranges all come from the manifest (build_index passes its
    own; standalone calls read manifest.json), so no job scans or lists for
    them. Up to _RANGE_MERGE_MAX_PARTIALS partitions the range merge runs,
    past it the exchange merge."""
    if manifest is None:
        manifest = load_manifest(index_dir)
    partial_dir = os.path.join(index_dir, "segments_partial")
    if not manifest.entries and any(
        d.startswith("seg_id=")
        for d in (os.listdir(partial_dir) if os.path.isdir(partial_dir) else ())
    ):
        raise FileNotFoundError(
            f"{partial_dir} holds partial segments but {index_dir} has no "
            "manifest.json listing them"
        )
    inputs = _partial_inputs(index_dir, manifest.entries)
    Qf = _n_ranges(cfg)
    # actual partition count (scan-split partitioning may exceed the config)
    if max(manifest.entries, default=-1) + 1 > _RANGE_MERGE_MAX_PARTIALS:
        _exchange_merge(spark, index_dir, inputs, Qf)
    else:
        _range_merge(spark, index_dir, inputs, _range_bounds(manifest.entries.values(), Qf))
