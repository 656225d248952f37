"""Codec round-trips + known-byte goldens (SURVEY.md §5 rebuild test plan)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from importpipeline_spark.index.codec import (
    BLOCK_SIZE,
    decode_blocks,
    encode_blocks,
    from_u64,
    to_u64,
    varint_decode,
    varint_encode,
)


def test_varint_known_bytes():
    # LEB128 goldens
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([1], dtype=np.uint64)) == b"\x01"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([2**64 - 1], dtype=np.uint64)) == b"\xff" * 9 + b"\x01"
    assert varint_encode(np.array([], dtype=np.uint64)) == b""


def test_varint_roundtrip_mixed():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals), len(vals)), vals)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    enc = varint_encode(vals)
    assert np.array_equal(varint_decode(enc), vals)
    assert _leb128_ref(enc) == xs


def _leb128_ref(buf: bytes) -> list:
    """Scalar LEB128 reference decoder (byte at a time)."""
    out, val, shift = [], 0, 0
    for byte in buf:
        val |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            out.append(val)
            val, shift = 0, 0
    assert shift == 0, "stream ends inside a value"
    return out


def test_varint_full_64bit_values():
    # values with bit 63 set need the full 10 bytes; the top byte carries a
    # single payload bit at shift 63
    rng = np.random.default_rng(11)
    vals = np.concatenate((
        np.array([2**63, 2**64 - 1, 2**63 + 1, 2**64 - 2], dtype=np.uint64),
        rng.integers(0, 2**63, 60, dtype=np.uint64) | np.uint64(2**63),
        rng.integers(0, 2**14, 60, dtype=np.uint64),
    ))
    enc = varint_encode(vals)
    assert len(varint_encode(vals[:1])) == 10
    got = varint_decode(enc, len(vals))
    assert got.dtype == np.uint64
    assert np.array_equal(got, vals)
    assert got.tolist() == _leb128_ref(enc)


def test_varint_all_one_byte_stream():
    vals = np.arange(128, dtype=np.uint64)
    enc = varint_encode(vals)
    assert len(enc) == len(vals)
    got = varint_decode(enc, len(vals))
    assert got.dtype == np.uint64
    assert np.array_equal(got, vals)


@pytest.mark.parametrize("buf,count", [
    (b"\x80", 1),                     # lone continuation byte
    (b"\x05\xac", 2),                 # complete value, then a cut-off one
    (b"\x01\x02" + b"\xff" * 9, 3),   # cut inside a 10-byte value
])
def test_varint_truncated_stream_raises(buf, count):
    # a truncated block must fail loudly: ValueError, never IndexError, and
    # never a silently dropped tail — with or without the expected count
    with pytest.raises(ValueError):
        varint_decode(buf)
    with pytest.raises(ValueError):
        varint_decode(buf, count)


def test_varint_count_mismatch_raises():
    enc = varint_encode(np.array([1, 300, 2**40], dtype=np.uint64))
    with pytest.raises(ValueError):
        varint_decode(enc, 2)
    with pytest.raises(ValueError):
        varint_decode(b"", 1)


def test_u64_mapping_order_preserving():
    ids = np.array([-(2**63), -5, -1, 0, 1, 7, 2**63 - 1], dtype=np.int64)
    u = to_u64(ids)
    assert np.all(np.diff(u.astype(np.float64)) > 0) or np.all(u[:-1] < u[1:])
    assert np.array_equal(from_u64(u), ids)


def test_block_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.unique(rng.integers(-(2**62), 2**62, size=1000, dtype=np.int64))
    u = np.sort(to_u64(ids))
    tfs = rng.integers(1, 50, size=len(u)).astype(np.uint64)
    dls = rng.integers(10, 500, size=len(u)).astype(np.int64)
    rows = encode_blocks(u, tfs, dls)
    assert len(rows) == (len(u) + BLOCK_SIZE - 1) // BLOCK_SIZE
    _, ns, mins, _, des, tes, mtfs, _ = zip(*rows)
    got_u, got_tf, off = decode_blocks(
        pa.array(des, pa.binary()), pa.array(tes, pa.binary()),
        np.array(ns), np.array(mins, dtype=np.int64).view(np.uint64))
    assert np.array_equal(np.diff(off), ns)
    for i, (mn, mtf) in enumerate(zip(mins, mtfs)):
        assert got_u[off[i]].view(np.int64) == mn
        # block-max metadata correct
        assert mtf == int(got_tf[off[i]:off[i + 1]].max())
    assert np.array_equal(got_u, u)
    assert np.array_equal(got_tf, tfs)


def test_vectorized_shard_encode_identical():
    from importpipeline_spark.index.codec import encode_shard_blocks

    rng = np.random.default_rng(3)
    runs = [5, 300, 129, 1, 128]
    u_parts, tf_parts, dl_parts, starts = [], [], [], []
    pos = 0
    for L in runs:
        ids = np.sort(
            to_u64(np.unique(rng.integers(-(2**62), 2**62, size=L * 2, dtype=np.int64))[:L])
        )
        u_parts.append(ids)
        tf_parts.append(rng.integers(1, 60, L))
        dl_parts.append(rng.integers(5, 900, L))
        starts.append(pos)
        pos += L
    u = np.concatenate(u_parts)
    tfs = np.concatenate(tf_parts)
    dls = np.concatenate(dl_parts)
    rob, bid, ns, mn, mx, de, te, mtf, mdl = encode_shard_blocks(
        u, tfs, dls, np.array(starts)
    )
    k = 0
    for r, (s, L) in enumerate(zip(starts, runs)):
        ref = encode_blocks(u[s:s + L], tfs[s:s + L].astype(np.uint64), dls[s:s + L])
        for (b, n, rmn, rmx, rde, rte, rmt, rml) in ref:
            assert (rob[k], bid[k], ns[k]) == (r, b, n)
            assert (mn[k], mx[k], mtf[k], mdl[k]) == (rmn, rmx, rmt, rml)
            assert de[k] == rde and te[k] == rte
            k += 1
    assert k == len(bid)


def test_block_metadata_bounds():
    u = np.arange(1, 300, dtype=np.uint64)
    tfs = np.arange(1, 300, dtype=np.uint64)
    dls = np.arange(1000, 701, -1, dtype=np.int64)
    rows = encode_blocks(u, tfs, dls)
    # max_tf = last tf of block (ascending), min_dl = last dl (descending)
    assert rows[0][6] == BLOCK_SIZE
    assert rows[0][7] == int(dls[BLOCK_SIZE - 1])
    assert rows[-1][6] == int(tfs[-1])
    assert rows[-1][7] == int(dls[-1])


def test_multiblock_decode_refuses_corrupt_blocks(spark, tmp_path):
    """decode_blocks checks every block on its own, so each corruption below
    raises ValueError although the concatenated stream is well-formed; and
    a searcher over a postings part with one truncated docs_enc fails at
    open instead of mis-scoring."""
    import glob
    import os

    import pyarrow.parquet as pq

    from importpipeline_spark.index.pagesgen import gen_pages_df
    from importpipeline_spark.index.serve import LocalSearcher
    from importpipeline_spark.index.store import write_index

    def decode(blocks, ns):
        col = pa.array(blocks, pa.binary())
        return decode_blocks(col, col, np.array(ns),
                             np.zeros(len(ns), dtype=np.uint64))

    # well-formed: 5 | 300 | 7 as two blocks of 2 and 1 values
    u, tf, off = decode([b"\x05\xac\x02", b"\x07"], [2, 1])
    assert tf.tolist() == [5, 300, 7] and off.tolist() == [0, 2, 3]
    # block 0 ends inside 300, block 1 completes it (stream: 5, 300, 7)
    with pytest.raises(ValueError, match="inside a value"):
        decode([b"\x05\xac", b"\x02\x07"], [2, 1])
    # a block holding n + 1 values next to one holding n - 1 (total right)
    with pytest.raises(ValueError, match="block 0 has 3 values, expected 2"):
        decode([b"\x01\x02\x03", b"\x04"], [2, 2])
    with pytest.raises(ValueError, match="block 0 has 1 values, expected 2"):
        decode([b"\x01", b"\x02\x03\x04"], [2, 2])
    # a value longer than 10 bytes
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        decode([b"\x01", b"\xff" * 10 + b"\x01"], [1, 1])

    root = str(tmp_path / "idx")
    write_index(spark, gen_pages_df(spark, 60, seed=3, partitions=2), root,
                n_shards=2)
    LocalSearcher(root)
    part = sorted(glob.glob(os.path.join(root, "postings", "shard=*",
                                         "*.parquet")))[0]
    t = pq.read_table(part)
    rows = t.to_pylist()
    i = next(j for j, r in enumerate(rows) if r["n"] >= 2)
    rows[i]["docs_enc"] = rows[i]["docs_enc"][:-1]
    pq.write_table(pa.Table.from_pylist(rows, t.schema), part)
    with pytest.raises(ValueError):
        LocalSearcher(root)
