"""Lucene SmallFloat 4-bit-mantissa norm quantization (public Lucene algorithm).

BM25 in the reference quantizes the per-document length (token count) to one byte at
index time via SmallFloat.intToByte4 and decodes through a 256-entry table before
scoring (selected by the reference's default similarity — reference:
solr/core/src/java/org/apache/solr/search/similarities/SchemaSimilarityFactory.java:106).
Rank-identity on length ties requires reproducing this quantization exactly: two
documents whose exact lengths differ may quantize to the same byte and therefore tie.

Encoding (longToInt4): values with < 4 significant bits are stored verbatim
("subnormal"); otherwise keep the top 4 bits (the leading 1 implied) and store the
3 mantissa bits plus (shift + 1) << 3.
"""

from __future__ import annotations

import numpy as np


def int_to_byte4(i: np.ndarray | int) -> np.ndarray:
    """Vectorized Lucene SmallFloat.intToByte4 for non-negative int64 inputs."""
    arr = np.asarray(i, dtype=np.int64)
    if np.any(arr < 0):
        raise ValueError("int_to_byte4 requires non-negative values")
    # number of significant bits; num_bits(0) == 0
    num_bits = np.zeros_like(arr)
    nz = arr > 0
    num_bits[nz] = np.floor(np.log2(arr[nz].astype(np.float64))).astype(np.int64) + 1
    # float log2 is exact for powers of two up to 2^52; guard rounding at boundaries
    too_low = (np.int64(1) << np.maximum(num_bits, 1)) <= arr
    num_bits = np.where(too_low, num_bits + 1, num_bits)
    too_high = (np.int64(1) << np.maximum(num_bits - 1, 0)) > arr
    num_bits = np.where(nz & too_high, num_bits - 1, num_bits)

    subnormal = num_bits < 4
    shift = np.maximum(num_bits - 4, 0)
    encoded = (arr >> shift) & 0x07
    encoded = encoded | ((shift + 1) << 3)
    out = np.where(subnormal, arr, encoded)
    return out.astype(np.uint8)


def int4_to_long(b: np.ndarray | int) -> np.ndarray:
    """Vectorized Lucene SmallFloat.int4ToLong (decode of int_to_byte4)."""
    arr = np.asarray(b, dtype=np.int64) & 0xFF
    bits = arr & 0x07
    shift = (arr >> 3) - 1
    normal = shift >= 0
    decoded = np.where(normal, (bits | 0x08) << np.maximum(shift, 0), bits)
    return decoded.astype(np.int64)


def norm_length_table() -> np.ndarray:
    """256-entry decode table: norm byte -> decoded doc length (Lucene LENGTH_TABLE)."""
    return int4_to_long(np.arange(256, dtype=np.int64))


_LENGTH_TABLE = norm_length_table().astype(np.float64)


def decode_norms(blob: bytes, lucene_norms: bool) -> np.ndarray:
    """One range's norms blob -> its float64 doc lengths, indexed by offset in
    the range: one SmallFloat byte per doc through the length table when the
    index was built with lucene_norms, else the exact uint32 lengths."""
    if lucene_norms:
        return _LENGTH_TABLE[np.frombuffer(blob, dtype=np.uint8)]
    return np.frombuffer(blob, dtype=np.uint32).astype(np.float64)


def quantize_doc_length(lengths: np.ndarray) -> np.ndarray:
    """Exact doc length -> the length BM25 actually scores with (encode+decode)."""
    return int4_to_long(int_to_byte4(np.asarray(lengths, dtype=np.int64)))
