"""Posting-list codec: delta + LEB128 varint, 128-doc blocks, block-max.

Implements the storage layer the reference delegated to ElasticSearch/Lucene
(postings lived inside ES — Endpoints/ESEndpoint.cs:295-323): sorted docIDs
per (term, shard) are delta-encoded and varint-compressed in fixed-size
blocks, with per-block max TF and max BM25 score for block-max WAND pruning.

All encode/decode paths are numpy-vectorized — no per-value Python loops —
because they run inside Arrow UDFs and on the serving hot path. Encoding
makes one vector pass per possible varint byte (≤10); decoding is one pass
over the stream.

doc keys are uint64 ``u = bits(doc_id) XOR 1<<63`` (order-preserving for
signed doc_id), so deltas are non-negative and shard-local.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

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


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 varint stream → uint64 array (vectorized, one pass:
    each byte's 7 payload bits are shifted by 7 × its position inside its
    value, then OR-reduced per value — OR is exact, unlike a float sum).

    Hard errors (not asserts: stripped under python -O) — a truncated or
    corrupt postings buffer must fail loudly, never silently mis-score: a
    stream that ends inside a value, a value longer than the 10 bytes a
    uint64 needs, or a value count other than ``count``."""
    b = np.frombuffer(buf, dtype=np.uint8)
    n_bytes = len(b)
    if n_bytes == 0:
        vals = np.empty(0, dtype=np.uint64)
    else:
        ends = np.flatnonzero(b < 0x80)
        if len(ends) == 0 or ends[-1] != n_bytes - 1:
            raise ValueError("varint stream ends inside a value")
        if len(ends) == n_bytes:  # every value is one byte (e.g. most tfs)
            vals = b.astype(np.uint64)
        else:
            starts = np.empty(len(ends), dtype=np.intp)
            starts[0] = 0
            starts[1:] = ends[:-1] + 1
            lengths = ends - starts + 1
            if lengths.max() > 10:
                raise ValueError("varint value longer than 10 bytes")
            shift = np.arange(n_bytes, dtype=np.uint64)
            shift -= np.repeat(starts, lengths).astype(np.uint64)
            shift *= np.uint64(7)
            vals = np.bitwise_or.reduceat(
                (b & 0x7F).astype(np.uint64) << shift, starts
            )
    if count is not None and len(vals) != count:
        raise ValueError(
            f"varint stream has {len(vals)} values, expected {count}"
        )
    return vals


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


def decode_block(docs_enc: bytes, tfs_enc: bytes, min_doc_u_bits: int, n: int):
    """→ (doc_u uint64 array, tf uint64 array)."""
    deltas = varint_decode(docs_enc, n)
    base = np.int64(min_doc_u_bits).view(np.uint64)
    doc_u = base + np.cumsum(deltas, dtype=np.uint64)
    tfs = varint_decode(tfs_enc, n)
    return doc_u, tfs


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
