"""Vectorized LEB128-style varint codec + posting-row encode/decode (numpy kernels).

The reference's posting lists are delta-encoded, block-compressed structures behind
Lucene's PostingsFormat (selected per-field in
solr/core/src/java/org/apache/solr/core/SchemaCodecFactory.java:102-110). We build our
own equivalent *as data*: each posting row stores varint-compressed docID gaps and term
frequencies plus per-block max-tf metadata for block-max WAND pruning. All kernels are
array-at-a-time numpy — no per-value Python in the hot path.

Decoding is batched: `decode_postings` turns many posting rows into flat arrays
in one pass per column, for every reader of posting rows (the segment merger,
the Spark scoring kernel and term lookups, the serving tier's postings misses).

Wire format (ours, little-endian 7-bit groups, continuation bit 0x80):
    doc_gaps: varint[n]   gaps[0] = docids[0] - range_base; gaps[i] = docids[i]-docids[i-1]
    tfs:      varint[n]   raw term frequencies (>= 1)
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_U7F = np.uint64(0x7F)


def _varint_bytes(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a 1-D array of non-negative ints as concatenated varints.

    Returns (uint8 buffer, per-value cumulative byte ends) so callers can slice
    out any contiguous sub-range of values without re-encoding.
    """
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        nbytes += tmp > 0
        tmp = tmp >> _U7
    ends = np.cumsum(nbytes)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - nbytes
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        idx = starts[mask] + k
        byte = ((v[mask] >> np.uint64(7 * k)) & _U7F).astype(np.uint8)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
    return out, ends


def varint_encode(vals: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints as concatenated varints."""
    return _varint_bytes(vals)[0].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode concatenated varints into a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    term = (b & 0x80) == 0
    n_vals = int(term.sum())
    pos = np.arange(len(b), dtype=np.int64)
    starts = np.empty(n_vals, dtype=np.int64)
    starts[0] = 0
    if n_vals > 1:
        starts[1:] = pos[term][: n_vals - 1] + 1
    gid = np.zeros(len(b), dtype=np.int64)
    gid[1:] = np.cumsum(term)[:-1]
    pos_in_group = (pos - starts[gid]).astype(np.uint64)
    payload = (b.astype(np.uint64) & _U7F) << (_U7 * pos_in_group)
    return np.add.reduceat(payload, starts)


def encode_postings(
    docids: np.ndarray, tfs: np.ndarray, range_base: int, block_size: int
) -> tuple[bytes, bytes, np.ndarray, np.ndarray, int]:
    """Encode one posting-range row.

    docids must be strictly increasing, all >= range_base.
    Returns (doc_gaps_bytes, tfs_bytes, block_first_doc, block_max_tf, max_tf).
    """
    d = np.ascontiguousarray(docids, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    gaps = np.empty(len(d), dtype=np.uint64)
    gaps[0] = d[0] - range_base
    gaps[1:] = np.diff(d).astype(np.uint64)
    n_blocks = (len(d) + block_size - 1) // block_size
    block_first = d[::block_size].copy()
    block_max_tf = np.array(
        [int(t[i * block_size : (i + 1) * block_size].max()) for i in range(n_blocks)],
        dtype=np.int64,
    )
    return varint_encode(gaps), varint_encode(t), block_first, block_max_tf, int(t.max())


def encode_posting_groups(
    docids: np.ndarray,
    tfs: np.ndarray,
    bounds: np.ndarray,
    rids: np.ndarray,
    range_shift: int,
    block_size: int,
) -> tuple[list, list, list, list, np.ndarray, np.ndarray, np.ndarray]:
    """Batched `encode_postings` over MANY groups in one vectorized pass.

    Group g spans docids[bounds[g]:bounds[g+1]] (strictly increasing within the
    group, all >= rids[g] << range_shift). Per-group Python work is reduced to a
    few buffer slices — the gap/varint/block computations run once over the
    whole concatenation, which is what makes posting-build tasks scale when the
    per-task group count is large (every index-build task sees most of the
    vocabulary, so group count per task does NOT shrink with more partitions).

    Returns (doc_gaps: list[bytes], tfs_b: list[bytes],
             block_first: list[list[int]], block_max_tf: list[list[int]],
             max_tf, n_docs, range_cf: int64 arrays), byte-identical per group
    to `encode_postings`.
    """
    d = np.ascontiguousarray(docids, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    bounds = np.ascontiguousarray(bounds, dtype=np.int64)
    starts, ends_g = bounds[:-1], bounds[1:]
    if len(starts) == 0:
        z = np.zeros(0, dtype=np.int64)
        return [], [], [], [], z, z, z

    prev = np.empty_like(d)
    prev[1:] = d[:-1]
    prev[starts] = np.asarray(rids, dtype=np.int64) << np.int64(range_shift)
    gaps = (d - prev).astype(np.uint64)
    gbuf, gends = _varint_bytes(gaps)
    tbuf, tends = _varint_bytes(t.astype(np.uint64))
    gbytes, tbytes = gbuf.tobytes(), tbuf.tobytes()
    g_lo = np.where(starts == 0, 0, gends[starts - 1])
    g_hi = gends[ends_g - 1]
    t_lo = np.where(starts == 0, 0, tends[starts - 1])
    t_hi = tends[ends_g - 1]

    blk_starts = np.concatenate(
        [np.arange(s, e, block_size) for s, e in zip(starts, ends_g)])
    n_blocks = (ends_g - starts + block_size - 1) // block_size
    blk_bounds = np.concatenate(([0], np.cumsum(n_blocks)))
    blk_max = np.maximum.reduceat(t, blk_starts)
    blk_first = d[blk_starts]

    doc_gaps = [gbytes[a:b] for a, b in zip(g_lo.tolist(), g_hi.tolist())]
    tfs_b = [tbytes[a:b] for a, b in zip(t_lo.tolist(), t_hi.tolist())]
    bb = blk_bounds.tolist()
    block_first = [blk_first[a:b].tolist() for a, b in zip(bb[:-1], bb[1:])]
    block_max_tf = [blk_max[a:b].tolist() for a, b in zip(bb[:-1], bb[1:])]
    max_tf = np.maximum.reduceat(t, starts)
    range_cf = np.add.reduceat(t, starts)
    n_docs = ends_g - starts
    return doc_gaps, tfs_b, block_first, block_max_tf, max_tf, n_docs, range_cf


def decode_postings(
    doc_gaps, tfs, range_ids, n_docs, range_shift: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY posting rows: row i holds n_docs[i] postings of range
    range_ids[i]. The codec is self-delimiting, so each column decodes in ONE
    `varint_decode` over the concatenated blobs, and one segment-wise cumsum
    rebuilds the docids. Returns (docids int64, tfs int64, bounds): row i's
    postings are docids[bounds[i]:bounds[i+1]], tfs alongside."""
    n = np.asarray(n_docs, dtype=np.int64)
    bounds = np.concatenate(([0], np.cumsum(n)))
    gaps = varint_decode(b"".join(doc_gaps)).astype(np.int64)
    cs = np.zeros(len(gaps) + 1, dtype=np.int64)  # no extra copy on big merges
    np.cumsum(gaps, out=cs[1:])
    # docid = range base + the row's running gap sum
    base = np.asarray(range_ids, dtype=np.int64) << np.int64(range_shift)
    docids = cs[1:] + np.repeat(base - cs[bounds[:-1]], n)
    return docids, varint_decode(b"".join(tfs)).astype(np.int64), bounds
