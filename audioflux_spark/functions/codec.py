"""Posting-list codec — vectorized NumPy byte kernels (no per-row Python).

These are the engine's hand-rolled compute kernels, the role audioFlux's C
vector library plays under its Python API (/root/reference/src/vector/
flux_vector.c — a NumPy-in-C; we invert: NumPy-as-C). Layout:

* doc ids: strictly increasing int64 → delta gaps (first value stored as
  gap from ``base``) → LEB128 varint bytes.
* term freqs and doc lens: raw varint (small positive ints).
* block metadata: per fixed-size block (IndexConfig.block_size postings):
  posting count, first docID, and the exact max of the BM25 tf/length
  normalization over the block (float64) — the "block max" of block-max WAND
  (Ding & Suel, SIGIR 2011).

All kernels are whole-array vectorized; the only Python-level loops are over
the ≤10 byte positions of a varint.
"""

from __future__ import annotations

import numpy as np

_SEVEN = np.uint64(7)
_LOW7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a 1-D array of non-negative ints (vectorized).
    Returns (byte stream, per-value byte length) — the lengths let callers
    slice one big encoded buffer into per-group blobs without re-encoding."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    lengths = np.ones(n, dtype=np.int64)
    tmp = v >> _SEVEN
    while tmp.any():
        lengths += (tmp > 0).astype(np.int64)
        tmp >>= _SEVEN
    max_len = int(lengths.max())
    out = np.zeros((n, max_len), dtype=np.uint8)
    cur = v.copy()
    for i in range(max_len):
        live = lengths > i
        byte = (cur & _LOW7).astype(np.uint8)
        more = lengths > (i + 1)
        out[:, i] = np.where(live, byte | np.where(more, _CONT, 0), 0)
        cur >>= _SEVEN
    mask = np.arange(max_len) < lengths[:, None]
    return out[mask].tobytes(), lengths


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes | memoryview, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 stream to uint64 (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero((b & _CONT) == 0)
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group_sizes = ends - starts + 1
    group = np.repeat(np.arange(n), group_sizes)
    pos = np.arange(b.size) - starts[group]
    vals = np.zeros(n, dtype=np.uint64)
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << (pos.astype(np.uint64) * _SEVEN)
    np.bitwise_or.at(vals, group, payload)
    if count is not None and n != count:
        raise ValueError(f"varint stream held {n} values, expected {count}")
    return vals


def delta_encode(sorted_ids: np.ndarray, base: int = -1) -> np.ndarray:
    """Strictly-increasing int64 ids → gaps (gap[0] = ids[0] - base - 1 + 1;
    we use gap[0] = ids[0] - base so base=-1 stores ids[0]+... keep simple:
    gap[i] = ids[i] - prev, prev starting at ``base``; gaps must be > 0
    for i>0 and >= 0 for i=0 when base == -1."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    gaps = np.empty(ids.size, dtype=np.int64)
    if ids.size == 0:
        return gaps
    gaps[0] = ids[0] - base
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    if (gaps[1:] <= 0).any() or gaps[0] < 0:
        raise ValueError("doc ids must be strictly increasing and >= base")
    return gaps


def delta_decode(gaps: np.ndarray, base: int = -1) -> np.ndarray:
    g = np.ascontiguousarray(gaps, dtype=np.int64)
    out = np.cumsum(g)
    return out + base


def delta_decode_segmented(
    gaps: np.ndarray, seg_counts: np.ndarray, base: int = -1
) -> np.ndarray:
    """Decode gap streams that RESET at segment boundaries (a merged posting
    list holds each partial's self-contained gaps back-to-back; merge never
    rewrites bytes). Vectorized: global cumsum minus the cumsum value at each
    segment's start, offset by base."""
    g = np.ascontiguousarray(gaps, dtype=np.int64)
    cs = np.cumsum(g)
    counts = np.ascontiguousarray(seg_counts, dtype=np.int64)
    seg_starts = np.cumsum(counts) - counts
    before = np.where(seg_starts > 0, cs[seg_starts - 1], 0)
    return cs - np.repeat(before, counts) + base


def encode_postings(doc_ids: np.ndarray, base: int = -1) -> bytes:
    return varint_encode(delta_encode(doc_ids, base=base))


def decode_postings(blob: bytes, count: int, base: int = -1) -> np.ndarray:
    return delta_decode(varint_decode(blob, count).astype(np.int64), base=base)


def rebase_first_gap(blob: bytes, first_doc: int, new_base: int) -> bytes:
    """Rewrite only the first varint of a delta blob so the list now chains
    from ``new_base`` — the O(1)-per-boundary merge trick: segment doc ranges
    are disjoint and ordered, so concatenating partials only needs the first
    gap of each subsequent partial fixed up.

    Pure-bytes implementation: this runs once per (term, partial) boundary —
    millions of calls per merge — where NumPy's per-call overhead (~10µs)
    would dominate the whole merge stage."""
    new_gap = first_doc - new_base
    if new_gap <= 0:
        raise ValueError("merge partials out of order: non-positive rebased gap")
    i = 0
    while blob[i] & 0x80:
        i += 1
    head = bytearray()
    while True:
        b7 = new_gap & 0x7F
        new_gap >>= 7
        head.append(b7 | (0x80 if new_gap else 0))
        if not new_gap:
            break
    return bytes(head) + blob[i + 1 :]


def encode_segment_batch_flat(
    doc_ids: np.ndarray,
    tf: np.ndarray,
    doc_len: np.ndarray,
    term_starts: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
) -> dict:
    """Encode the postings of MANY terms in one vectorized pass.

    Inputs are flat arrays sorted by (term, doc_id); ``term_starts`` marks
    each term's first posting. This is the whole-batch fusion the reference
    applies inside its C kernels (one pass over the frame matrix,
    src/bft_algorithm.c:397-541) — per-term NumPy calls would pay ~100x in
    tiny-array overhead at vocabulary scale.

    Returns FLAT buffers + per-term offset arrays — callers build Arrow
    Binary/List arrays directly from (offsets, values) with ZERO per-term
    Python objects, which keeps the kernel memory-bandwidth-light at high
    parallelism.
    """
    n = doc_ids.size
    term_ends = np.append(term_starts[1:], n)

    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[term_starts] = doc_ids[term_starts] + 1
    doc_buf, doc_lens_b = varint_encode_with_lengths(gaps.astype(np.uint64))
    tf_buf, tf_lens_b = varint_encode_with_lengths(tf.astype(np.uint64))
    dl_buf, dl_lens_b = varint_encode_with_lengths(doc_len.astype(np.uint64))

    def _offsets(buf: bytes, lens: np.ndarray) -> np.ndarray:
        ends = np.cumsum(lens)
        starts = ends - lens
        out = np.empty(term_starts.size + 1, dtype=np.int32)
        out[:-1] = starts[term_starts]
        out[-1] = len(buf)
        return out

    local_ix = np.arange(n) - np.repeat(term_starts, term_ends - term_starts)
    blk_starts = np.flatnonzero((local_ix % block_size) == 0)
    blk_ends = np.append(blk_starts[1:], n)
    tfn = tf.astype(np.float64) * (k1 + 1.0) / (
        tf.astype(np.float64) + k1 * (1.0 - b + b * doc_len.astype(np.float64) / avgdl)
    )
    blocks_per_term = ((term_ends - term_starts) + block_size - 1) // block_size
    block_offsets = np.empty(term_starts.size + 1, dtype=np.int32)
    block_offsets[0] = 0
    np.cumsum(blocks_per_term, out=block_offsets[1:])

    def _block_bytes(lens: np.ndarray) -> np.ndarray:
        # per-block byte LENGTH (not offset): lengths survive the merge's
        # blob concatenation unchanged; readers cumsum them to get offsets,
        # which is what lets BMW decode ONLY surviving blocks (byte skipping)
        return (np.add.reduceat(lens, blk_starts).astype(np.int32)
                if n else np.zeros(0, dtype=np.int32))

    return {
        "doc_buf": doc_buf, "doc_offsets": _offsets(doc_buf, doc_lens_b),
        "tf_buf": tf_buf, "tf_offsets": _offsets(tf_buf, tf_lens_b),
        "dl_buf": dl_buf, "dl_offsets": _offsets(dl_buf, dl_lens_b),
        "counts_flat": (blk_ends - blk_starts).astype(np.int32),
        "firsts_flat": doc_ids[blk_starts].astype(np.int64),
        "maxes_flat": (np.maximum.reduceat(tfn, blk_starts) if n else np.zeros(0)),
        "doc_bytes_flat": _block_bytes(doc_lens_b),
        "tf_bytes_flat": _block_bytes(tf_lens_b),
        "dl_bytes_flat": _block_bytes(dl_lens_b),
        "block_offsets": block_offsets,
    }


def encode_positions_flat(
    pos: np.ndarray,
    posting_starts: np.ndarray,
    term_token_starts: np.ndarray,
    posting_block_starts: np.ndarray | None = None,
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Encode token positions (token-level array, grouped by posting) as
    varint deltas resetting at every posting boundary (first position stored
    as pos+1 against base −1, like doc gaps). Self-contained per posting, so
    merged blobs are the partials' bytes back-to-back and decoding needs only
    the per-posting counts — which ARE the tf values (one position per
    occurrence; no extra metadata).

    Returns (flat byte buffer, per-TERM byte offsets, per-BLOCK byte lengths)
    for Arrow Binary construction. ``posting_block_starts`` is the global
    posting index of each block-max block's first posting (aligned with the
    doc/tf/dl block structure); per-block position byte lengths are what let
    a serving task decode only the blocks of its docID range — sharded
    phrase matching. Positions give the index the
    reference framing operators' order preservation
    (/root/reference/src/stft_algorithm.c:813-833) — the substrate for
    exact-phrase queries."""
    n = pos.size
    if posting_block_starts is None:
        posting_block_starts = term_token_starts[:0]
    if n == 0:
        return (
            b"",
            np.zeros(term_token_starts.size + 1, dtype=np.int32),
            np.zeros(posting_block_starts.size, dtype=np.int32),
        )
    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = pos[1:] - pos[:-1]
    gaps[posting_starts] = pos[posting_starts] + 1
    buf, lens = varint_encode_with_lengths(gaps.astype(np.uint64))
    ends = np.cumsum(lens)
    starts = ends - lens
    offs = np.empty(term_token_starts.size + 1, dtype=np.int32)
    offs[:-1] = starts[term_token_starts]
    offs[-1] = len(buf)
    if posting_block_starts.size:
        # block's first TOKEN index = posting_starts[block's first posting]
        blk_tok_starts = posting_starts[posting_block_starts]
        blk_byte_starts = starts[blk_tok_starts]
        blk_byte_ends = np.append(blk_byte_starts[1:], len(buf))
        pos_bytes = (blk_byte_ends - blk_byte_starts).astype(np.int32)
    else:
        pos_bytes = np.zeros(0, dtype=np.int32)
    return buf, offs, pos_bytes


def decode_positions(blob: bytes | memoryview, tf: np.ndarray) -> np.ndarray:
    """pos blob + per-posting tf counts → flat position array (token-level,
    aligned with postings expanded by tf)."""
    gaps = varint_decode(blob, int(tf.sum())).astype(np.int64)
    return delta_decode_segmented(gaps, np.ascontiguousarray(tf, dtype=np.int64))


def block_stats(
    doc_ids: np.ndarray,
    tf: np.ndarray,
    doc_len: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-block (count, first_doc, max tf-norm) for block-max pruning.

    The tf-norm is the exact float64 per-posting score factor excluding idf
    (idf is a per-term constant applied at query time), so
    block upper bound = idf * block_max — an exact bound.
    """
    n = doc_ids.size
    n_blocks = (n + block_size - 1) // block_size
    tfn = tf.astype(np.float64) * (k1 + 1.0) / (
        tf.astype(np.float64)
        + k1 * (1.0 - b + b * doc_len.astype(np.float64) / avgdl)
    )
    counts = np.full(n_blocks, block_size, dtype=np.int32)
    if n % block_size:
        counts[-1] = n % block_size
    firsts = doc_ids[np.arange(n_blocks) * block_size].astype(np.int64)
    pad = n_blocks * block_size - n
    padded = np.pad(tfn, (0, pad), constant_values=-np.inf)
    maxes = padded.reshape(n_blocks, block_size).max(axis=1)
    return counts, firsts, maxes
