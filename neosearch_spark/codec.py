"""Posting-block codec: delta + LEB128 varint, vectorized in numpy.

The reference stores posting lists as raw concatenated 8-byte
big-endian uint64 docIDs kept sorted-unique
(``/root/reference/lib/neosearch/store/utils.go:39-93``).  We keep
the sorted-unique invariant but compress: docIDs are delta-encoded
(first value absolute) then LEB128-varint packed; term frequencies
are varint packed directly.  Typical cost ~1-2 bytes/posting vs the
reference's fixed 8.

Encode/decode are pure-numpy (no Python per-element loops) so they
run efficiently inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np


def varint_encode_with_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 encode a uint64 array, fully vectorized.

    Returns (uint8 buffer, per-value byte lengths) so callers can
    slice sub-ranges (per-block encodes run ONCE over a whole Arrow
    batch and are sliced by offset — no per-group re-encode)."""
    v = values.astype(np.uint64, copy=True)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (at least 1)
    bitlen = np.where(v == 0, 1, 64 - _clz64(v))
    ngroups = (bitlen + 6) // 7
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    # positions where each value's groups start
    starts = np.concatenate(([0], np.cumsum(ngroups)[:-1]))
    max_g = int(ngroups.max())
    shifted = v.copy()
    for g in range(max_g):
        mask = ngroups > g
        idx = starts[mask] + g
        byte = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (ngroups[mask] - 1 > g).astype(np.uint8) << 7
        out[idx] = byte | cont
        shifted[mask] = shifted[mask] >> np.uint64(7)
    return out, ngroups.astype(np.int64)


def _varint_encode(values: np.ndarray) -> bytes:
    buf, _ = varint_encode_with_lengths(np.asarray(values, dtype=np.uint64))
    return buf.tobytes()


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 via float64 exponent trick is
    unsafe >2^53; use log-free integer method."""
    bitlen = np.zeros(v.shape, dtype=np.int64)
    x = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        s = np.uint64(shift)
        ge = x >= (np.uint64(1) << s)
        bitlen[ge] += shift
        x = np.where(ge, x >> s, x)
    return 63 - bitlen  # leading zeros; bitlen here is floor(log2)


def _varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 buffer to uint64 array, vectorized.

    Two width-specialized fast paths dominate real posting data and
    were each measured against the general loop (best-of-3,
    interleaved, 8M values):

    - ALL values 1-byte (no continuation bit anywhere): one masked
      cast, ~15× faster.  This is virtually every ``tfs`` buffer
      (tf < 128) and the docID-delta buffers of hot terms (df high
      enough that every in-span gap < 128) — exactly the buffers the
      expensive queries decode most of.
    - uniform width (every value the same byte length): one reshape +
      per-column shift-or, ~2.5× faster.

    Mixed-width buffers (e.g. ``dls`` with 1–2-byte lengths) take the
    general masked per-byte-position loop, unchanged."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    cont = (raw & 0x80) != 0
    if not cont.any():
        return (raw & 0x7F).astype(np.uint64)
    # value boundaries: positions where cont is False end a value
    ends = np.nonzero(~cont)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    lens = ends - starts
    max_len = int(lens.max()) + 1
    payload = (raw & 0x7F).astype(np.uint64)
    if int(lens.min()) + 1 == max_len:
        cols = payload.reshape(n, max_len)
        out = cols[:, 0].copy()
        for g in range(1, max_len):
            out |= cols[:, g] << np.uint64(7 * g)
        return out
    out = np.zeros(n, dtype=np.uint64)
    for g in range(max_len):
        pos = starts + g
        mask = pos <= ends
        out[mask] |= payload[pos[mask]] << np.uint64(7 * g)
    return out


def encode_postings(doc_ids: np.ndarray) -> bytes:
    """Delta+varint encode a sorted-unique int64/uint64 docID array."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    if d.size == 0:
        return b""
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    np.subtract(d[1:], d[:-1], out=deltas[1:])
    return _varint_encode(deltas)


def decode_postings(buf: bytes) -> np.ndarray:
    """Inverse of encode_postings → int64 array."""
    deltas = _varint_decode(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(deltas, dtype=np.uint64).astype(np.int64)


def decode_block_batch(n_docs: np.ndarray, docs_enc, tfs_enc=None, dls_enc=None):
    """A batch of blocks → (doc_ids int64, tfs, dls) posting arrays in
    block order (tfs/dls uint64, or None when their buffers are not
    given).

    Every buffer of a column is concatenated and varint-decoded ONCE
    (buffers are self-delimiting — every value ends on a clear
    continuation bit), then the per-block delta chains are rebased
    with one cumsum + repeat.  No per-block Python loop."""
    n_docs = np.asarray(n_docs, dtype=np.int64)
    deltas = _varint_decode(b"".join(docs_enc)).astype(np.int64)
    cum = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(n_docs)[:-1]))
    # rebase each block's running sum to start at its own absolute
    # first docID (delta chains reset per block)
    doc_ids = cum - np.repeat(cum[starts] - deltas[starts], n_docs)
    tfs = None if tfs_enc is None else _varint_decode(b"".join(tfs_enc))
    dls = None if dls_enc is None else _varint_decode(b"".join(dls_enc))
    return doc_ids, tfs, dls


def encode_tfs(tfs: np.ndarray) -> bytes:
    """Varint encode term frequencies (no delta — small values)."""
    return _varint_encode(np.asarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return _varint_decode(buf).astype(np.int64)
