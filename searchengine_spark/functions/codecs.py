"""Posting-list compression codecs — bit-exact with the reference engine's
formats, implemented as numpy-vectorized kernels (no per-posting Python
loops) suitable for Arrow-batched pandas UDFs over BinaryType columns.

* Variable-Byte for docIDs (reference: compression/VariableBytes.java):
  per int, little-endian 7-bit groups (low group first), MSB set to 1 on
  every byte EXCEPT the last of each int (continuation-style — the inverse
  of classic VB's stop-bit). Raw docIDs, NOT deltas (the reference stores
  absolute ids; Posting.java:7 notes deltas as a TODO it never did).
  Size of each int = ceil(bit_length/7) bytes (VariableBytes.java:22-24);
  values must be >= 1 (docIDs are — the reference would emit zero bytes
  for 0).

* Unary for term frequencies (reference: compression/Unary.java): tf n ->
  (n-1) one-bits then a zero-bit, MSB-first within each byte. The byte
  count replicates the reference's Q-5 quirk: ceil(bits/8) plus ONE EXTRA
  zero byte when bits%8 != 0 (Unary.java:20) — wasted but written, so we
  keep it for byte-level index parity. The decoder takes the posting
  count, as the reference's does (Unary.java:61).

These are reference-format parity operators (SURVEY C1/C2, FIXTURES §6).
The index itself does not use them: postings are stored as native int
lists in zstd-compressed Parquet (index/builder.py ``write_table``).
"""

from __future__ import annotations

import numpy as np


def vbyte_encode(values) -> bytes:
    """Encode a 1-D array of ints >= 1 into reference VByte layout."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if (v < 1).any():
        raise ValueError("vbyte_encode requires values >= 1")
    # bytes per value: ceil(bit_length / 7)
    nb = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):  # uint64 needs up to 10 seven-bit groups
        nb += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(ends[-1], dtype=np.uint8)
    for j in range(int(nb.max())):
        sel = nb > j
        idx = starts[sel] + j
        group = ((v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[sel] - 1 > j).astype(np.uint8)  # MSB=1 on all but last
        out[idx] = group | (cont << 7)
    return out.tobytes()


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode reference VByte bytes back to int64 values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.flatnonzero((b & 0x80) == 0)  # last byte of each int
    starts = np.concatenate(([0], ends[:-1] + 1))
    idx = np.arange(b.size)
    value_id = np.searchsorted(ends, idx)
    pos = (idx - starts[value_id]).astype(np.uint64)
    vals = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(vals, value_id, (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos))
    return vals.astype(np.int64)


def unary_encode(tfs) -> bytes:
    """Encode a 1-D array of tfs >= 1 into reference Unary layout
    (including the Q-5 extra pad byte)."""
    n = np.asarray(tfs, dtype=np.int64)
    if n.size == 0:
        return b""
    if (n < 1).any():
        raise ValueError("unary_encode requires tf >= 1")
    total_bits = int(n.sum())
    bits = np.ones(total_bits, dtype=np.uint8)
    bits[np.cumsum(n) - 1] = 0  # terminating 0-bit of each tf
    out = np.packbits(bits)  # MSB-first, zero-padded to the byte
    if total_bits % 8 != 0:
        out = np.append(out, np.uint8(0))  # Q-5: reference writes one extra byte
    return out.tobytes()


def unary_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode the first ``count`` unary-coded tfs from ``buf``."""
    if count == 0:
        return np.empty(0, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    zeros = np.flatnonzero(bits == 0)
    if zeros.size < count:
        raise ValueError("buffer exhausted before count postings decoded")
    ends = zeros[:count]
    return np.diff(np.concatenate(([-1], ends))).astype(np.int64)
