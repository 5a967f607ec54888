"""Hypothesis property tests: the fast RLE v2 / byte-RLE encoders are
byte-identical to the per-value reference ports on arbitrary inputs,
and decode always inverts encode."""

import numpy as np
from hypothesis import given, settings, strategies as st

from orc_spark.codecs import byterle, rle2

# arrays mixing runs, ramps and noise — the segmentation stress shape
_piece = st.one_of(
    st.tuples(st.integers(-2**63, 2**63 - 1),
              st.integers(1, 40)).map(lambda t: [t[0]] * t[1]),
    st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=25),
    st.tuples(st.integers(-1000, 1000), st.integers(-5, 5),
              st.integers(1, 30)).map(
        lambda t: [t[0] + t[1] * i for i in range(t[2])]),
)
int_arrays = st.lists(_piece, min_size=1, max_size=8).map(
    lambda ps: [x for p in ps for x in p])


@settings(max_examples=200, deadline=None)
@given(vals=int_arrays, signed=st.booleans())
def test_rle2_fast_equals_slow_and_roundtrips(vals, signed):
    arr = np.array(vals, dtype=np.int64)
    fast = rle2.encode(arr, signed)
    assert fast == rle2.encode_slow(arr, signed)
    assert (rle2.decode(fast, len(arr), signed) == arr).all()


byte_piece = st.one_of(
    st.tuples(st.integers(0, 255), st.integers(1, 200)).map(
        lambda t: [t[0]] * t[1]),
    st.lists(st.integers(0, 255), min_size=1, max_size=150),
)
byte_arrays = st.lists(byte_piece, min_size=1, max_size=6).map(
    lambda ps: [x for p in ps for x in p])


@settings(max_examples=200, deadline=None)
@given(vals=byte_arrays)
def test_byterle_fast_equals_slow_and_roundtrips(vals):
    arr = np.array(vals, dtype=np.uint8)
    fast = byterle.encode(arr)
    assert fast == byterle.encode_slow(arr)
    assert (byterle.decode(fast, len(arr)) == arr).all()


# bytes mixing runs, periodic patterns and noise — the LZ-match shape
_blob_piece = st.one_of(
    st.tuples(st.integers(0, 255), st.integers(1, 300)).map(
        lambda t: bytes([t[0]]) * t[1]),
    st.binary(min_size=1, max_size=120),
    st.tuples(st.binary(min_size=1, max_size=12),
              st.integers(2, 60)).map(lambda t: t[0] * t[1]),
)
blobs = st.lists(_blob_piece, min_size=0, max_size=10).map(b"".join)


@settings(max_examples=200, deadline=None)
@given(data=blobs)
def test_snappy_compress_roundtrips(data):
    # our encoder's blocks must decode in the real snappy library
    from orc_spark.codecs import compression, snappy_pure
    assert compression._decompress_chunk(snappy_pure.compress(data),
                                         compression.SNAPPY) == data


@settings(max_examples=200, deadline=None)
@given(data=blobs)
def test_lz4_compress_roundtrips(data):
    from orc_spark.codecs import lz4_pure
    assert lz4_pure.decompress(lz4_pure.compress(data)) == data


@settings(max_examples=200, deadline=None)
@given(data=blobs)
def test_lzo_compress_roundtrips(data):
    from orc_spark.codecs import lzo_pure
    assert lzo_pure.decompress(lzo_pure.compress(data)) == data
