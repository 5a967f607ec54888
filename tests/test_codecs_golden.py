"""Golden byte-level codec vectors from the Apache ORC spec.

Each vector reproduces a reference unit test (FIXTURES.md §2); our
encoder must emit these exact bytes and our decoder must invert them.
Sources cited per-case (scritchley/orc test files).
"""

import numpy as np
import pyarrow as pa
import pytest

from orc_spark.codecs import bits, byterle, compression, dictionary, rle1, rle2

# runlengthintegerwriterv2_test.go:17-37 — 259-value patched-base vector
PB_INPUT = [20, 2, 3, 2, 1, 3, 17, 71, 35, 2, 1, 139, 2, 2,
            3, 1783, 475, 2, 1, 1, 3, 1, 3, 2, 32, 1, 2, 3, 1, 8, 30, 1, 3, 414, 1,
            1, 135, 3, 3, 1, 414, 2, 1, 2, 2, 594, 2, 5, 6, 4, 11, 1, 2, 2, 1, 1,
            52, 4, 1, 2, 7, 1, 17, 334, 1, 2, 1, 2, 2, 6, 1, 266, 1, 2, 217, 2, 6,
            2, 13, 2, 2, 1, 2, 3, 5, 1, 2, 1, 7244, 11813, 1, 33, 2, -13, 1, 2, 3,
            13, 1, 92, 3, 13, 5, 14, 9, 141, 12, 6, 15, 25, 1, 1, 1, 46, 2, 1, 1,
            141, 3, 1, 1, 1, 1, 2, 1, 4, 34, 5, 78, 8, 1, 2, 2, 1, 9, 10, 2, 1, 4,
            13, 1, 5, 4, 4, 19, 5, 1, 1, 1, 68, 33, 399, 1, 1885, 25, 5, 2, 4, 1,
            1, 2, 16, 1, 2966, 3, 1, 1, 25501, 1, 1, 1, 66, 1, 3, 8, 131, 14, 5, 1,
            2, 2, 1, 1, 8, 1, 1, 2, 1, 5, 9, 2, 3, 112, 13, 2, 2, 1, 5, 10, 3, 1,
            1, 13, 2, 3, 4, 1, 3, 1, 1, 2, 1, 1, 2, 4, 2, 207, 1, 1, 2, 4, 3, 3, 2,
            2, 16]
PB_EXPECTED = bytes([144, 109, 4, 164, 141, 16, 131, 194, 0, 240, 112, 64, 60,
                     84, 24, 3, 193, 201, 128, 120, 60, 33, 4, 244, 3, 193, 192, 224, 128, 56,
                     32, 15, 22, 131, 129, 225, 0, 112, 84, 86, 14, 8, 106, 193, 192, 228, 160,
                     64, 32, 14, 213, 131, 193, 192, 240, 121, 124, 30, 18, 9, 132, 67, 0, 224,
                     120, 60, 28, 14, 32, 132, 65, 192, 240, 160, 56, 61, 91, 7, 3, 193, 192,
                     240, 120, 76, 29, 23, 7, 3, 220, 192, 240, 152, 60, 52, 15, 7, 131, 129,
                     225, 0, 144, 56, 30, 14, 44, 140, 129, 194, 224, 120, 0, 28, 15, 8, 6,
                     129, 198, 144, 128, 104, 36, 27, 11, 38, 131, 33, 48, 224, 152, 60, 111,
                     6, 183, 3, 112, 0, 1, 78, 5, 46, 2, 1, 1, 141, 3, 1, 1, 138, 22, 0, 65, 1,
                     4, 0, 225, 16, 209, 192, 4, 16, 8, 36, 16, 3, 48, 1, 3, 13, 33, 0, 176, 0,
                     1, 94, 18, 0, 68, 0, 33, 1, 143, 0, 1, 7, 93, 0, 25, 0, 5, 0, 2, 0, 4, 0,
                     1, 0, 1, 0, 2, 0, 16, 0, 1, 11, 150, 0, 3, 0, 1, 0, 1, 99, 157, 0, 1, 140,
                     54, 0, 162, 1, 130, 0, 16, 112, 67, 66, 0, 2, 4, 0, 0, 224, 0, 1, 0, 16,
                     64, 16, 91, 198, 1, 2, 0, 32, 144, 64, 0, 12, 2, 8, 24, 0, 64, 0, 1, 0, 0,
                     8, 48, 51, 128, 0, 2, 12, 16, 32, 32, 71, 128, 19, 76])


RLE2_CASES = [
    # (signed, input, expected bytes, source)
    (False, PB_INPUT, PB_EXPECTED, "writerv2_test.go:17-37 patched-base"),
    (False, [23713, 43806, 57005, 48879],
     bytes([0x5e, 0x03, 0x5c, 0xa1, 0xab, 0x1e, 0xde, 0xad, 0xbe, 0xef]),
     "writerv2_test.go:39-48 direct"),
    (False, [2, 3, 5, 7, 11, 13, 17, 19, 23, 29],
     bytes([0xc6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46]),
     "writerv2_test.go:60-70 delta"),
    (False, [10000] * 5, bytes([0x0a, 0x27, 0x10]),
     "writerv2_test.go:71-81 short-repeat"),
    (False, [1, 1, 1, 1, 1, 0, 1, 0, 1, 0, 0, 1, 1, 1, 1],
     bytes([2, 1, 64, 5, 80, 1, 1]), "writerv2_test.go:82-92 mixed"),
]


@pytest.mark.parametrize("signed,inp,expected,src", RLE2_CASES,
                         ids=[c[3] for c in RLE2_CASES])
def test_rle2_golden_encode(signed, inp, expected, src):
    out = rle2.encode(np.array(inp, dtype=np.int64), signed)
    assert out == expected, f"{src}: {out.hex()} != {expected.hex()}"
    # slow reference port must agree
    assert rle2.encode_slow(inp, signed) == expected
    # and decode must invert
    dec = rle2.decode(out, len(inp), signed)
    assert dec.tolist() == list(inp)


def test_rle2_patched_base_decode_vector():
    # runlengthintegerreaderv2_test.go:26-36
    data = bytes([0x8e, 0x09, 0x2b, 0x21, 0x07, 0xd0, 0x1e, 0x00, 0x14, 0x70,
                  0x28, 0x32, 0x3c, 0x46, 0x50, 0x5a, 0xfc, 0xe8])
    expected = [2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090]
    assert rle2.decode(data, 10, False).tolist() == expected


def test_rle1_golden_decode():
    # runlengthintegerreader_test.go:36-65
    assert rle1.decode(bytes([0x61, 0x00, 0x07]), 100, False).tolist() == [7] * 100
    assert rle1.decode(bytes([0x61, 0xff, 0x64]), 100, False).tolist() == \
        list(range(100, 0, -1))
    assert rle1.decode(bytes([0xfb, 0x02, 0x03, 0x04, 0x07, 0xb]), 5,
                       False).tolist() == [2, 3, 4, 7, 11]


def test_rle1_golden_encode():
    # inverse of the decode vectors (writer round-trip semantics)
    assert rle1.encode([7] * 100, False) == bytes([0x61, 0x00, 0x07])
    assert rle1.encode(list(range(100, 0, -1)), False) == bytes([0x61, 0xff, 0x64])
    # [2,3,4,7,11]: the reference writer detects the delta-1 run [2,3,4]
    # and emits run+literals (the fb.. reader vector is an alternative
    # literal-only encoding of the same values)
    enc = rle1.encode([2, 3, 4, 7, 11], False)
    assert enc == bytes([0x00, 0x01, 0x02, 0xfe, 0x07, 0x0b])
    assert rle1.decode(enc, 5, False).tolist() == [2, 3, 4, 7, 11]


def test_byte_rle_golden():
    # runlengthbytewriter_test.go:10-42
    assert byterle.encode(bytes([0x44, 0x45])) == bytes([0xfe, 0x44, 0x45])
    assert byterle.encode(bytes([0x01] * 4)) == bytes([0x01, 0x01])
    assert byterle.encode(bytes([0x00] * 100)) == bytes([0x61, 0x00])
    for data in (bytes([0x44, 0x45]), bytes([0x01] * 4), bytes([0x00] * 100)):
        assert bytes(byterle.decode(byterle.encode(data), len(data))) == data
        assert byterle.encode_slow(data) == byterle.encode(data)


def test_boolean_golden():
    # booleanwriter_test.go:15-23: [T,F×7] -> ff 80
    bits_in = [True] + [False] * 7
    assert byterle.encode_bools(bits_in) == bytes([0xff, 0x80])
    assert byterle.decode_bools(bytes([0xff, 0x80]), 8).tolist() == bits_in


def test_zigzag_table():
    # utils_test.go:45-61
    signed = np.array([0, -1, 1, -2, 2, -3, 3, -4, 4, -5], dtype=np.int64)
    unsigned = np.arange(10, dtype=np.uint64)
    assert (bits.zigzag_encode(signed) == unsigned).all()
    assert (bits.zigzag_decode(unsigned) == signed).all()


def test_is_safe_subtract():
    # utils_test.go:8-43
    i64max, i64min = (1 << 63) - 1, -(1 << 63)
    assert bits.is_safe_subtract(22, 3)
    assert bits.is_safe_subtract(-22, -3)
    assert bits.is_safe_subtract(-22, 3)
    assert not bits.is_safe_subtract(i64min, 3)
    assert not bits.is_safe_subtract(i64max, -3)
    assert bits.is_safe_subtract(i64min, i64min)


def test_compression_header():
    # compressioncodec_test.go:21-46
    assert compression._header(100000, False) == bytes([0x40, 0x0d, 0x03])
    assert compression._header(5, True) == bytes([0x0b, 0x00, 0x00])
    with pytest.raises(ValueError):
        compression._header(1 << 23, False)


def test_compression_roundtrip():
    rng = np.random.default_rng(42)
    data = rng.integers(0, 4, 300_000, dtype=np.uint8).tobytes()
    rnd = rng.integers(0, 256, 1000, dtype=np.uint8).tobytes()
    for kind in (compression.NONE, compression.ZLIB, compression.SNAPPY,
                 compression.ZSTD, "lz4", "lzo"):
        framed = compression.compress(data, kind)
        assert compression.decompress(framed, kind) == data
        if kind == compression.NONE:
            continue
        assert len(framed) < len(data)  # two compressed chunks
        # incompressible data falls back to original chunks
        framed = compression.compress(rnd, kind)
        assert compression.decompress(framed, kind) == rnd
        assert len(framed) == len(rnd) + 3  # one original chunk + header


@pytest.mark.parametrize("size", [1000, 64 * 1024 - 1, 200_000])
def test_snappy_arrow_framed_chunks_decode(size):
    """ORC chunks whose bodies come from Google snappy (Arrow's codec,
    the 64 KiB-fragment output Java and C++ writers produce) decode
    through compression.decompress, below and above 64 KiB."""
    rng = np.random.default_rng(size)
    data = (rng.integers(0, 8, size, dtype=np.uint8) + ord("a")).tobytes()
    codec = pa.Codec("snappy")
    framed = b""
    for off in range(0, size, 96 * 1024):
        chunk = data[off:off + 96 * 1024]
        body = codec.compress(chunk, asbytes=True)
        assert len(body) < len(chunk)
        framed += compression._header(len(body), False) + body
    assert compression.decompress(framed, compression.SNAPPY) == data
    # a buffer-protocol view (an Arrow buffer of a mapped file) too
    assert compression.decompress(pa.py_buffer(framed),
                                  compression.SNAPPY) == data


def test_snappy_four_byte_offset_copy_decodes():
    """Snappy .orc files written by the former whole-chunk encoder hold
    copies with 4-byte offsets (offset > 65535), which Google snappy
    never emits; they still decode, bare and ORC-framed."""
    lit = np.random.default_rng(7).integers(
        0, 256, 100_000, dtype=np.uint8).tobytes()
    ulen = len(lit) + 64
    block = bytes([(ulen & 0x7F) | 0x80, (ulen >> 7 & 0x7F) | 0x80,
                   ulen >> 14])
    block += bytes([62 << 2]) + (len(lit) - 1).to_bytes(3, "little") + lit
    block += bytes([(64 - 1) << 2 | 0x03]) + len(lit).to_bytes(4, "little")
    assert compression._snappy_decompress(block) == lit + lit[:64]
    framed = compression._header(len(block), False) + block
    assert compression.decompress(framed, compression.SNAPPY) == \
        lit + lit[:64]


def test_snappy_write_framing():
    """Every snappy chunk we write is Google snappy's block for that
    256 KiB slice of the stream; an incompressible chunk is stored
    with the isOriginal bit instead."""
    rng = np.random.default_rng(3)
    data = np.repeat(rng.integers(0, 4, 40_000, dtype=np.uint8),
                     rng.integers(1, 30, 40_000)).tobytes()
    assert len(data) > 2 * compression.DEFAULT_CHUNK_SIZE
    framed = compression.compress(data, compression.SNAPPY)
    codec = pa.Codec("snappy")
    pos = off = 0
    while pos < len(framed):
        length, original, pos = compression.parse_header(framed, pos)
        chunk = data[off:off + compression.DEFAULT_CHUNK_SIZE]
        assert not original
        assert framed[pos:pos + length] == codec.compress(chunk,
                                                          asbytes=True)
        pos += length
        off += len(chunk)
    assert off == len(data)
    rnd = rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes()
    framed = compression.compress(rnd, compression.SNAPPY)
    assert compression.parse_header(framed, 0) == (len(rnd), True, 3)
    assert framed == framed[:3] + rnd and len(framed) == len(rnd) + 3


def test_one_snappy_codec():
    """Arrow's snappy is the one snappy codec: no module names a
    second snappy module (``snappy_<name>``), and only
    codecs/compression.py builds the codec."""
    import glob
    import os
    import pathlib
    import re
    import orc_spark
    root = os.path.dirname(orc_spark.__file__)
    pat = re.compile(r"\bsnappy_\w+|Codec\(\s*[\"']snappy[\"']")
    hits = [os.path.relpath(p, root)
            for p in glob.glob(os.path.join(root, "**", "*.py"),
                               recursive=True)
            for line in pathlib.Path(p).read_text().splitlines()
            if pat.search(line)]
    assert hits == ["codecs/compression.py"]
    assert glob.glob(os.path.join(root, "**", "*snappy*"),
                     recursive=True) == []


def _dictionary_roundtrip(vals):
    parts = dictionary.encode(pa.array(vals))
    back = dictionary.to_arrow(parts.lengths, parts.blob, parts.indexes)
    assert back.to_pylist() == vals
    return parts


def test_dictionary_sorted_order():
    # dictionary_v2.go:24-33: distinct keys sorted lexicographically
    vals = ["owen", "ashutosh", "owen", "alan", "alan", "owen", "owen", "alan"]
    parts = _dictionary_roundtrip(vals)  # 3 distinct / 8 = 0.375 <= 0.49
    assert parts.encoding == dictionary.DICT_V2
    assert parts.blob == b"alanashutoshowen"
    assert parts.indexes.tolist() == [2, 1, 2, 0, 0, 2, 2, 0]


def test_dictionary_threshold():
    # distinct/total <= 0.49 chooses dictionary (treewriter.go:537,701-707)
    vals_dict = ["a", "b"] * 50  # 2/100
    assert _dictionary_roundtrip(vals_dict).encoding == dictionary.DICT_V2
    vals_direct = [f"v{i}" for i in range(100)]  # 100/100
    assert _dictionary_roundtrip(vals_direct).encoding == dictionary.DIRECT_V2
    # boundary: exactly 0.49 -> dictionary; just above -> direct
    vals49 = [f"k{i}" for i in range(49)] + ["k0"] * 51
    assert _dictionary_roundtrip(vals49).encoding == dictionary.DICT_V2
    vals50 = [f"k{i}" for i in range(50)] + ["k0"] * 50
    assert _dictionary_roundtrip(vals50).encoding == dictionary.DIRECT_V2


def test_varints():
    vals = np.array([0, 1, 127, 128, 300, 2 ** 32, 2 ** 63, (1 << 64) - 1],
                    dtype=np.uint64)
    blob = bits.encode_varints(vals)
    dec, pos = bits.decode_varints(np.frombuffer(blob, np.uint8), 0, len(vals))
    assert (dec == vals).all()
    assert pos == len(blob)
    out = bytearray()
    for v in vals.tolist():
        bits.write_vulong(out, v)
    assert bytes(out) == blob


def test_bitpack_widths():
    rng = np.random.default_rng(7)
    for width in list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]:
        hi = (1 << width) - 1
        vals = rng.integers(0, hi + 1 if width < 64 else hi, 517,
                            dtype=np.uint64)
        packed = bits.pack_bits(vals, width)
        assert len(packed) == bits.packed_size(len(vals), width)
        un = bits.unpack_bits(packed, len(vals), width)
        assert (un == vals).all(), width
