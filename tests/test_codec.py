"""Varint/posting codec + SmallFloat property tests."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_spark.codec import varint_decode, varint_encode
from solr_spark.codec.smallfloat import int4_to_long, int_to_byte4, quantize_doc_length
from solr_spark.codec.varint import decode_postings, encode_postings
from solr_spark.oracle.reference import _small_float_quantize


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@given(
    st.lists(
        st.tuples(st.integers(0, 2**40), st.integers(1, 10_000)),
        min_size=1, max_size=300, unique_by=lambda x: x[0],
    ),
    st.integers(1, 256),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(pairs, block):
    pairs.sort()
    docids = np.array([p[0] for p in pairs], dtype=np.int64)
    tfs = np.array([p[1] for p in pairs], dtype=np.int64)
    base = int(docids[0]) - (int(docids[0]) % 7)
    gaps, tf_b, bf, bmt, mx = encode_postings(docids, tfs, base, block)
    d2, t2, _ = decode_postings([gaps], [tf_b], [base], [len(docids)], 0)
    assert d2.tolist() == docids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert mx == tfs.max()
    assert bf[0] == docids[0]
    assert max(bmt) == mx


_ROW = st.tuples(
    st.integers(0, 2**24),                       # range_id
    st.integers(0, 2**16),                       # first docid's offset
    st.integers(1, 2**20),                       # first tf
    st.lists(st.tuples(st.integers(1, 2**20),    # gap to the previous docid
                       st.integers(1, 2**20)),   # tf
             max_size=40),
)


@given(st.lists(_ROW, min_size=1, max_size=30), st.integers(0, 16))
@settings(max_examples=150, deadline=None)
def test_batched_decode_postings_returns_every_row(rows, shift):
    """One decode_postings call over many rows gives back each row's docids
    and tfs, with bounds delimiting the rows (single-posting rows, gaps and
    tfs wider than one and two varint bytes, arbitrary range_ids)."""
    gaps_b, tfs_b, rids, n_docs, want = [], [], [], [], []
    for rid, first, tf0, rest in rows:
        base = rid << shift
        docids = np.cumsum([base + first] + [g for g, _ in rest])
        tfs = np.array([tf0] + [t for _, t in rest], dtype=np.int64)
        g, t, _, _, _ = encode_postings(docids, tfs, base, 128)
        gaps_b.append(g)
        tfs_b.append(t)
        rids.append(rid)
        n_docs.append(len(docids))
        want.append((docids.tolist(), tfs.tolist()))
    d, t, bounds = decode_postings(gaps_b, tfs_b, rids, n_docs, shift)
    assert bounds.tolist() == np.concatenate(([0], np.cumsum(n_docs))).tolist()
    for i, (docids, tfs) in enumerate(want):
        assert d[bounds[i]:bounds[i + 1]].tolist() == docids
        assert t[bounds[i]:bounds[i + 1]].tolist() == tfs


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=500, deadline=None)
def test_smallfloat_matches_scalar_oracle(x):
    """Vectorized numpy SmallFloat == independent scalar implementation."""
    vec = int(int4_to_long(int_to_byte4(np.array([x])))[0])
    assert vec == _small_float_quantize(x)


def test_smallfloat_known_values():
    # Lucene semantics: exact below 8, monotone non-increasing error, idempotent
    xs = np.arange(0, 50_000)
    q = quantize_doc_length(xs)
    assert (q[:8] == xs[:8]).all()
    assert (q <= xs).all()
    assert (np.diff(q) >= 0).all()
    assert (quantize_doc_length(q) == q).all()  # fixpoint
    assert q[255] == 240 and q[16] == 16 and q[19] == 18
