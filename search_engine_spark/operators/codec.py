"""Delta + varint posting-list codec (numpy-vectorized).

Replaces the reference's row-per-posting SQLite layout
(ref: Search-Engine/src/main/java/com/example/Search/Engine/Indexer/SQLiteSearcher.java:63-83 —
one `InvertedIndex` row per (term, doc) plus one `WordPositions` row per
occurrence) with a compressed columnar encoding: sorted doc-ids are
delta-encoded then LEB128-varint packed; term frequencies ride as float32;
positions are per-posting delta+varint runs with a length prefix.

Encoding is vectorized with numpy (no per-element Python in the hot loop):
byte-lengths for all values are computed in one shot, offsets by cumsum,
and the 7-bit groups are scattered with fancy indexing.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: O(total_bytes) numpy ops."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bitlength/7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(1)
        nz = tmp > 0
    nbytes = np.maximum((nbits + 6) // 7, 1)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    # scatter 7-bit groups, group g of value i lands at offsets[i]+g
    max_b = int(nbytes.max())
    for g in range(max_b):
        mask = nbytes > g
        idx = offsets[:-1][mask] + g
        chunk = (v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > g).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 buffer to uint64 array. Vectorized."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    values = np.zeros(ends.size, dtype=np.uint64)
    lengths = ends - starts + 1
    max_b = int(lengths.max())
    for g in range(max_b):
        mask = lengths > g
        chunk = b[starts[mask] + g].astype(np.uint64) & np.uint64(0x7F)
        values[mask] |= chunk << np.uint64(7 * g)
    return values


def delta_encode_ids(doc_ids: np.ndarray) -> bytes:
    """Encode a strictly-increasing int64 doc-id array as delta varints."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    if ids.size > 1 and deltas[1:].min() <= 0:
        raise ValueError("doc_ids must be strictly increasing")
    return varint_encode(deltas.astype(np.uint64))


def delta_decode_ids(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf).astype(np.int64)
    return np.cumsum(deltas)


def encode_positions(pos_lists: list) -> bytes:
    """Encode per-posting position lists: for each posting a varint count
    followed by delta-varint positions (positions are sorted, may repeat
    across section restarts → delta >= 0, so we shift deltas by +0 and the
    first element is absolute)."""
    flat: list[int] = []
    for pl in pos_lists:
        arr = np.asarray(pl, dtype=np.int64)
        flat.append(arr.size)
        if arr.size:
            d = np.empty_like(arr)
            d[0] = arr[0]
            np.subtract(arr[1:], arr[:-1], out=d[1:])
            flat.extend(d.tolist())
    return varint_encode(np.asarray(flat, dtype=np.uint64))


def decode_positions_csr(buf: bytes, n_postings: int) -> tuple:
    """Decode ``n_postings`` position runs into CSR form: int64 offsets
    (``n_postings + 1``) and one flat int32 positions array; posting
    ``i`` holds ``positions[offsets[i]:offsets[i + 1]]``. Runs are
    self-contained, so the concatenated blobs of several rows decode in
    one call. Only the run headers are walked in Python; the prefix
    sums are one vectorized pass."""
    vals = varint_decode(buf).astype(np.int64)
    heads = np.empty(n_postings, dtype=np.int64)
    i = 0
    for k in range(n_postings):
        heads[k] = i
        i += 1 + int(vals[i])
    counts = vals[heads]
    offsets = np.zeros(n_postings + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    body = np.ones(vals.size, dtype=bool)
    body[heads] = False
    run = np.cumsum(vals[body])
    # restart the prefix sum at each run: subtract the total before it
    before = np.concatenate(([0], run))[offsets[:-1]]
    return offsets, (run - np.repeat(before, counts)).astype(np.int32)


def decode_positions(buf: bytes, n_postings: int) -> list:
    """Per-posting position lists (Python ints) — the CSR decode, split."""
    offsets, flat = decode_positions_csr(buf, n_postings)
    flat = flat.tolist()
    bounds = offsets.tolist()
    return [flat[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def encode_tfs(tfs: np.ndarray) -> bytes:
    return np.asarray(tfs, dtype=np.float32).tobytes()


def decode_tfs(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.float32)
