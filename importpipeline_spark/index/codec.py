"""Posting-list codec: delta + LEB128 varint, 128-doc blocks, block-max.

Implements the storage layer the reference delegated to ElasticSearch/Lucene
(postings lived inside ES — Endpoints/ESEndpoint.cs:295-323): sorted docIDs
per (term, shard) are delta-encoded and varint-compressed in fixed-size
blocks, with per-block max TF and max BM25 score for block-max WAND pruning.

All encode/decode paths are numpy-vectorized — no per-value Python loops —
because they run inside Arrow UDFs and on the serving hot path. Encoding
makes one vector pass per possible varint byte (≤10), and so does decoding,
over a whole Arrow column of blocks (``decode_blocks``), checked per block.

doc keys are uint64 ``u = bits(doc_id) XOR 1<<63`` (order-preserving for
signed doc_id), so deltas are non-negative and shard-local.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128
_SIGN = np.uint64(1 << 63)


def to_u64(doc_id: np.ndarray) -> np.ndarray:
    """signed int64 doc_id → order-preserving uint64 key."""
    return doc_id.astype(np.int64).view(np.uint64) ^ _SIGN


def from_u64(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN).view(np.int64)


def _varint_bytes_and_lengths(values: np.ndarray):
    """Vectorized LEB128 encode → (byte array, per-value byte lengths)."""
    v = values.astype(np.uint64, copy=False)
    n = len(v)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bitlength/7), min 1
    nb = np.ones(n, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp != 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    max_nb = int(nb.max())
    for k in range(max_nb):
        mask = nb > k
        chunk = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = chunk | cont
    return out, nb


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 varint encode a uint64 array (vectorized)."""
    out, _ = _varint_bytes_and_lengths(values)
    return out.tobytes()


def _varint_values(b: np.ndarray, off: np.ndarray, counts=None) -> np.ndarray:
    """Decode varint blocks stored back to back: block i is
    ``b[off[i]:off[i+1]]`` (``off[0] == 0``, ``off[-1] == len(b)``) →
    every block's values as one flat uint64 array. One vector pass per byte
    position (≤ 10), each over the values that have that byte: its 7
    payload bits are OR-ed in at 7 × the position. Temporaries are per
    value, not per byte, which keeps the peak memory of a whole-snapshot
    decode small.

    Hard errors (not asserts: stripped under python -O) — a truncated or
    corrupt postings buffer must fail loudly, never silently mis-score: a
    block that ends inside a value (even one the next block's bytes would
    complete), a value longer than the 10 bytes a uint64 needs, or a block
    whose value count is not its ``counts`` entry."""
    if len(b) == 0:
        vals = np.empty(0, dtype=np.uint64)
        ends = vals
    else:
        ends = np.flatnonzero(b < 0x80)
        # each non-empty block's last byte ends a value, so no value runs
        # across a block boundary or off the end of the stream
        last = off[1:][off[1:] > off[:-1]] - 1
        if (b[last] >= 0x80).any():
            raise ValueError("varint stream ends inside a value")
        if len(ends) == len(b):  # every value is one byte (e.g. most tfs)
            vals = b.astype(np.uint64)
        else:
            starts = np.empty(len(ends), dtype=np.intp)
            starts[0] = 0
            starts[1:] = ends[:-1] + 1
            lengths = ends - starts + 1
            max_len = int(lengths.max())
            if max_len > 10:
                raise ValueError("varint value longer than 10 bytes")
            vals = (b[starts] & 0x7F).astype(np.uint64)
            for k in range(1, max_len):
                m = np.flatnonzero(lengths > k)
                vals[m] |= ((b[starts[m] + k] & 0x7F).astype(np.uint64)
                            << np.uint64(7 * k))
    if counts is not None:
        got = np.diff(np.searchsorted(ends, off))
        bad = np.flatnonzero(got != counts)
        if len(bad):
            i = int(bad[0])
            raise ValueError(
                f"varint block {i} has {got[i]} values, expected {counts[i]}"
            )
    return vals


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode one LEB128 varint stream → uint64 array (vectorized), with
    the hard errors of ``_varint_values``; ``count`` is the expected number
    of values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    return _varint_values(b, np.array([0, len(b)]),
                          None if count is None else np.array([count]))


def _binary_column(col) -> Tuple[np.ndarray, np.ndarray]:
    """An Arrow binary column → (its value bytes, per-row byte offsets
    rebased to 0), read straight from the Arrow buffers: no per-row Python
    ``bytes`` is created."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if len(col) == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    if col.null_count:
        raise ValueError("posting block column holds nulls")
    _, off_buf, data_buf = col.buffers()
    off_t = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    off = np.frombuffer(off_buf, dtype=off_t)[
        col.offset:col.offset + len(col) + 1].astype(np.int64)
    data = (np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None
            else np.empty(0, dtype=np.uint8))
    return data[off[0]:off[-1]], off - off[0]


def encode_blocks(
    doc_u: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> List[Tuple[int, int, int, int, bytes, bytes, int, int]]:
    """Encode one term-shard posting list (doc_u ascending) into blocks.

    Returns rows: (block_id, n, min_doc_u, max_doc_u, docs_enc, tfs_enc,
    max_tf, min_dl). min/max_doc_u are int64 (bit pattern of the uint64
    key) for cheap range predicates in SQL; docs_enc holds deltas with the
    first value relative to min_doc_u (so delta0 = 0, elided as varint 0x00).

    Block-max metadata is (max_tf, min_dl) — the BM25 contribution is
    monotone increasing in tf and decreasing in dl, so
    score(max_tf, min_dl) bounds every member. Unlike a precomputed max
    score, these are independent of global corpus stats (N, avgdl, df), so
    blocks stay valid under incremental updates that shift the stats.
    """
    n = len(doc_u)
    doc_u = np.ascontiguousarray(doc_u, dtype=np.uint64)
    bits = doc_u.view(np.int64)  # same bit pattern, storable as Spark long
    rows = []
    for b0 in range(0, n, block_size):
        b1 = min(b0 + block_size, n)
        du = doc_u[b0:b1]
        deltas = np.empty(b1 - b0, dtype=np.uint64)
        deltas[0] = np.uint64(0)
        deltas[1:] = du[1:] - du[:-1]
        rows.append(
            (
                b0 // block_size,
                b1 - b0,
                int(bits[b0]),
                int(bits[b1 - 1]),
                varint_encode(deltas),
                varint_encode(tfs[b0:b1].astype(np.uint64)),
                int(tfs[b0:b1].max()),
                int(dls[b0:b1].min()),
            )
        )
    return rows


def decode_blocks(docs, tfs, ns: np.ndarray, min_u: np.ndarray):
    """Decode a whole column of blocks in one vectorized pass.

    ``docs``/``tfs`` are the Arrow binary columns ``docs_enc``/``tfs_enc``
    (Array or ChunkedArray), ``ns`` each block's posting count and
    ``min_u`` its first doc key (uint64). Returns (doc_u uint64, tf uint64,
    post_off): every block's postings back to back, block i at
    ``post_off[i]:post_off[i+1]``. Each block is checked on its own
    (``_varint_values``'s hard errors), not only the concatenated stream."""
    ns = np.asarray(ns, dtype=np.int64)
    post_off = np.zeros(len(ns) + 1, dtype=np.int64)
    np.cumsum(ns, out=post_off[1:])
    deltas = _varint_values(*_binary_column(docs), ns)
    tf = _varint_values(*_binary_column(tfs), ns)
    # a block's keys are its min key plus the running sum of its deltas
    # (delta0 = 0): one cumsum over all blocks, rebased per block (uint64
    # arithmetic wraps, so the rebase is exact)
    doc_u = np.cumsum(deltas, out=deltas)
    before = np.concatenate((np.zeros(1, dtype=np.uint64), doc_u))[post_off[:-1]]
    doc_u += np.repeat(np.asarray(min_u, dtype=np.uint64) - before, ns)
    return doc_u, tf, post_off


def encode_shard_blocks(
    doc_u: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    run_starts: np.ndarray,
    block_size: int = BLOCK_SIZE,
):
    """Whole-shard vectorized block encoding.

    Inputs are the shard's postings lexsorted by (term, doc_u);
    ``run_starts`` marks each term run's first index. The entire shard's
    delta+varint streams are produced in ONE vectorized pass (no per-block
    Python), then sliced per block from the byte-length prefix sums —
    byte-identical to per-block ``encode_blocks`` output.

    Returns parallel arrays/lists over all blocks:
      (run_of_block, block_id, n, min_doc_bits, max_doc_bits,
       docs_enc list, tfs_enc list, max_tf, min_dl)
    """
    total = len(doc_u)
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z, z, [], [], z, z
    doc_u = np.ascontiguousarray(doc_u, dtype=np.uint64)
    run_ends = np.concatenate((run_starts[1:], [total]))
    run_lens = run_ends - run_starts
    # block starts: every block_size within each run
    n_blocks_per_run = (run_lens + block_size - 1) // block_size
    total_blocks = int(n_blocks_per_run.sum())
    run_of_block = np.repeat(np.arange(len(run_starts)), n_blocks_per_run)
    # block index within its run
    block_id = np.arange(total_blocks) - np.repeat(
        np.concatenate(([0], np.cumsum(n_blocks_per_run)[:-1])), n_blocks_per_run
    )
    b_start = run_starts[run_of_block] + block_id * block_size
    b_end = np.minimum(b_start + block_size, run_ends[run_of_block])
    ns = b_end - b_start

    # deltas: doc_u - prev within block; first element of each block = 0
    deltas = np.empty(total, dtype=np.uint64)
    deltas[1:] = doc_u[1:] - doc_u[:-1]
    deltas[b_start] = np.uint64(0)

    d_bytes, d_lens = _varint_bytes_and_lengths(deltas)
    t_bytes, t_lens = _varint_bytes_and_lengths(tfs.astype(np.uint64, copy=False))
    d_off = np.concatenate(([0], np.cumsum(d_lens)))
    t_off = np.concatenate(([0], np.cumsum(t_lens)))
    d_mem = memoryview(d_bytes.tobytes())
    t_mem = memoryview(t_bytes.tobytes())
    docs_enc = [
        bytes(d_mem[d_off[s]:d_off[e]]) for s, e in zip(b_start, b_end)
    ]
    tfs_enc = [
        bytes(t_mem[t_off[s]:t_off[e]]) for s, e in zip(b_start, b_end)
    ]
    bits = doc_u.view(np.int64)
    min_doc = bits[b_start]
    max_doc = bits[b_end - 1]
    max_tf = np.maximum.reduceat(tfs, b_start)
    min_dl = np.minimum.reduceat(dls, b_start)
    return (
        run_of_block,
        block_id.astype(np.int64),
        ns.astype(np.int64),
        min_doc,
        max_doc,
        docs_enc,
        tfs_enc,
        max_tf.astype(np.int64),
        min_dl.astype(np.int64),
    )
