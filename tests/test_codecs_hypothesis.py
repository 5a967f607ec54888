"""Hypothesis property tests: the fast RLE v2 / byte-RLE / decimal
encoders are byte-identical to the per-value reference ports on
arbitrary inputs, and decode always inverts encode."""

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


# long blobs: drawn pieces and seeded noise, tiled past one snappy
# fragment (64 KiB) or one ORC chunk (256 KiB), so a repeat can sit
# in another fragment or another chunk
_long_piece = st.one_of(
    blobs,
    st.tuples(st.integers(0, 2**32 - 1), st.integers(1, 100_000)).map(
        lambda t: np.random.default_rng(t[0]).integers(
            0, 256, t[1], dtype=np.uint8).tobytes()),
)
long_blobs = st.tuples(
    st.lists(_long_piece, min_size=1, max_size=4).map(b"".join).filter(len),
    st.sampled_from([64 * 1024 + 1, 100_000, 256 * 1024 + 1, 600_000]),
).map(lambda t: (t[0] * (t[1] // len(t[0]) + 1))[:t[1]])


@settings(max_examples=200, deadline=None)
@given(data=st.one_of(blobs, long_blobs))
def test_snappy_compress_roundtrips(data):
    # ORC-framed snappy streams, one or many chunks, read back exactly
    from orc_spark.codecs import compression
    framed = compression.compress(data, compression.SNAPPY)
    assert compression.decompress(framed, compression.SNAPPY) == data


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


_MAX38 = 10**38 - 1
dec_mantissas = st.lists(
    st.one_of(st.none(), st.sampled_from([0, _MAX38, -_MAX38]),
              st.integers(-_MAX38, _MAX38),
              st.integers(-2**63, 2**63)), max_size=300)


@settings(max_examples=200, deadline=None)
@given(mants=dec_mantissas, scale=st.integers(0, 38),
       offset=st.integers(0, 5))
def test_decimal_encode_matches_reference(mants, scale, offset):
    """The whole-array decimal encode == the per-value reference
    (encode_mantissas over exact_mantissa) on sliced arrays (offset
    != 0, with and without nulls), 0 and +-(10^38 - 1)."""
    from decimal import Decimal
    import pyarrow as pa
    from orc_spark.codecs import decimal as dc
    arr = pa.array([None if m is None else Decimal(f"{m}E{-scale}")
                    for m in mants], pa.decimal128(38, scale))
    for seg in (arr.slice(min(offset, len(arr))), arr.slice(0, 0),
                arr.drop_null().slice(1)):
        data = seg.drop_null() if seg.null_count else seg
        want = dc.encode_mantissas(
            [dc.exact_mantissa(v, scale) for v in data.to_pylist()])
        got = dc.encode(data)
        assert got["DATA"] == want
        assert rle2.decode(got["SECONDARY"], len(data),
                           signed=True).tolist() == [scale] * len(data)
