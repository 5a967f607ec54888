"""Edge cases: empty inputs, extreme token-length skew, single-doc
stripes — the long-tail behaviors the north rule calls out."""

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F, types as T

from orc_spark import stripe
from orc_spark.codecs import snappy_pure
from orc_spark.operators import encode as enc_ops


def test_empty_dataframe_roundtrip(spark):
    schema = enc_ops.decoded_spark_schema(stripe.TOKEN_SCHEMA)
    empty = spark.createDataFrame([], schema)
    enc = enc_ops.encode(empty)
    assert enc.count() == 0
    dec = enc_ops.decode(enc)
    assert dec.count() == 0


def test_extreme_skew_one_huge_doc(spark):
    """A single 2M-token document among tiny docs must close its own
    stripe (token budget) and round-trip bit-identically."""
    rng = np.random.default_rng(7)
    big = rng.integers(0, 50257, 2_000_000).astype(np.int32)
    rows = [("big-doc", big.tolist(), len(big), "cc")]
    rows += [(f"small-{i}", rng.integers(0, 50257, 5).astype(np.int32)
              .tolist(), 5, "wiki") for i in range(50)]
    df = spark.createDataFrame(rows, enc_ops.decoded_spark_schema(
        stripe.TOKEN_SCHEMA))
    enc = enc_ops.encode(df.coalesce(1), stripe_tokens=1 << 19).cache()
    # rows are atomic: the huge doc closes its OWN stripe (n_rows=1)
    # instead of dragging 50 small docs into a monster stripe
    stripes = enc.select("n_rows", "n_tokens").collect()
    assert len(stripes) >= 2
    big_stripes = [r for r in stripes if r["n_tokens"] >= 2_000_000]
    assert len(big_stripes) == 1
    assert big_stripes[0]["n_rows"] == 1
    dec = enc_ops.decode(enc)
    got = dec.where("doc_id = 'big-doc'").select("tokens").collect()[0][0]
    assert got == big.tolist()
    assert dec.count() == 51
    enc.unpersist()


def test_unicode_and_empty_strings():
    batch = pa.table({
        "doc_id": pa.array(["", "日本語テキスト", "emoji 🎉🎊", "a" * 10000]),
        "tokens": pa.array([[1], [2, 3], [], [4]], pa.list_(pa.int32())),
        "n_tok": pa.array([1, 2, 0, 1], pa.int32()),
        "source": pa.array(["", "", "ünïcödé", ""]),
    })
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA)
    out = stripe.decode_stripe(row, stripe.TOKEN_SCHEMA)
    for c in batch.column_names:
        assert out.column(c).to_pylist() == batch.column(c).to_pylist(), c


def test_single_row_stripe():
    batch = pa.table({
        "doc_id": pa.array(["only"]),
        "tokens": pa.array([[42]], pa.list_(pa.int32())),
        "n_tok": pa.array([1], pa.int32()),
        "source": pa.array(["s"]),
    })
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA)
    out = stripe.decode_stripe(row, stripe.TOKEN_SCHEMA)
    assert out.column("tokens").to_pylist() == [[42]]


def test_extreme_token_values():
    vals = [[0, 1, -1, 2**31 - 1, -2**31]]
    batch = pa.table({
        "doc_id": pa.array(["x"]),
        "tokens": pa.array(vals, pa.list_(pa.int32())),
        "n_tok": pa.array([5], pa.int32()),
        "source": pa.array(["s"]),
    })
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA)
    out = stripe.decode_stripe(row, stripe.TOKEN_SCHEMA)
    assert out.column("tokens").to_pylist() == vals


# ---------------------------------------------------------------------------
# stride index + seek: equivalence properties on randomized inputs
# ---------------------------------------------------------------------------


def test_strided_stripe_equals_unstrided_random():
    """Property: decode(encode_strided(x)) == x for random token
    batches across stride sizes, including nulls and empty lists."""
    import numpy as np
    import pyarrow as pa
    from orc_spark import stripe as stripe_mod
    rng = np.random.default_rng(123)
    specs = stripe_mod.TOKEN_SCHEMA
    for trial, stride in [(0, 8), (1, 64), (2, 96), (3, 256)]:
        n = int(rng.integers(1, 700))
        toks = [None if rng.random() < 0.05 else
                rng.integers(0, 50257, rng.integers(0, 50)).tolist()
                for _ in range(n)]
        batch = pa.table({
            "doc_id": pa.array(
                [None if rng.random() < 0.03 else f"d{i}"
                 for i in range(n)]),
            "tokens": pa.array(toks, pa.list_(pa.int32())),
            "n_tok": pa.array(
                [len(t) if t is not None else None for t in toks],
                pa.int32()),
            "source": pa.array([f"s{i % 3}" for i in range(n)]),
        })
        row = stripe_mod.encode_stripe(batch, specs, stride_rows=stride)
        back = stripe_mod.decode_stripe_strides(row, specs)
        assert back.num_rows == n, (trial, stride)
        assert back.column("tokens").to_pylist() == toks
        assert back.column("doc_id").to_pylist() == \
            batch.column("doc_id").to_pylist()


def test_read_rows_equals_read_all_random(tmp_path):
    """Property: ORCFile.read_rows(s, c) == read_all()[s:s+c] for
    random windows over a multi-stripe multi-stride file."""
    import numpy as np
    import pyarrow as pa
    from orc_spark.sources import orcwriter, orcfile
    rng = np.random.default_rng(7)
    n = 30000
    t = pa.table({
        "a": pa.array(rng.integers(-10**9, 10**9, n)),
        "s": pa.array([f"v{int(x)}" for x in rng.integers(0, 30, n)]),
        "f": pa.array([None if x % 11 == 0 else float(x)
                       for x in range(n)]),
    })
    path = str(tmp_path / "rr.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=9000,
                        row_index_stride=2000)
    f = orcfile.ORCFile(path)
    allr = list(f.read_all())
    for _ in range(8):
        s = int(rng.integers(0, n - 1))
        c = int(rng.integers(1, 500))
        got = f.read_rows(s, c)
        assert got == allr[s:s + c], (s, c)


def test_lz4_lzo_truncation_raises():
    """Truncated lz4/lzo chunks must raise, not return silently short
    data (a damaged file read must fail loud)."""
    import pytest
    from orc_spark.codecs import lz4_pure, lzo_pure
    # lz4: token promising 10 literal bytes but only 3 present
    bad_lz4 = bytes([10 << 4]) + b"abc"
    with pytest.raises(ValueError):
        lz4_pure.decompress(bad_lz4)
    # lzo: valid literal prefix, stream ends without the EOS marker
    bad_lzo = bytes([17 + 4]) + b"abcd"
    with pytest.raises(ValueError):
        lzo_pure.decompress(bad_lzo)
    # lz4 bomb guard
    good = lz4_pure.decompress  # literals-only frame round-trips
    frame = bytes([4 << 4]) + b"wxyz"
    assert good(frame) == b"wxyz"
    with pytest.raises(ValueError):
        lz4_pure.decompress(frame, max_out=2)


_LIT_AB = bytes([(2 - 1) << 2]) + b"ab"         # snappy literal "ab"
_COPY6 = 0x01 | ((6 - 4) << 2)                 # 1-byte-offset copy of 6


@pytest.mark.parametrize("body", [
    snappy_pure.compress(b"abcdefgh" * 64)[:-3],
    b"\x80" * 5 + b"\x00" + _LIT_AB,
    b"\x80\x80",
    b"\xff\xff\xff\xff\x0f" + _LIT_AB,
    bytes([10]) + _LIT_AB,
    bytes([1]) + _LIT_AB,
    bytes([8]) + _LIT_AB + bytes([_COPY6, 5]),
    bytes([8]) + _LIT_AB + bytes([_COPY6, 0]),
], ids=["truncated", "overlong_varint", "varint_past_end",
        "huge_header_length", "header_above_elements",
        "header_below_elements", "offset_before_start", "zero_offset"])
def test_snappy_malformed_raises(body):
    """Malformed snappy chunks raise ValueError (never Arrow's OSError):
    ValueError is the one type that sends a column fast path to its
    per-row reference decode, and a damaged read must fail loud."""
    from orc_spark.codecs import compression
    with pytest.raises(ValueError):
        compression.decompress(
            compression._header(len(body), False) + body, "snappy")


@pytest.mark.parametrize("kind", ["zlib", "snappy", "zstd", "lz4", "lzo",
                                  "truncated"])
def test_corrupt_chunk_raises(kind):
    """Every codec reports a chunk that does not decompress as
    CorruptChunk, and so does a chunk header whose length runs past
    the end of the stream (a 100-byte original chunk holding 10)."""
    from orc_spark.codecs import compression
    if kind == "truncated":
        framed = compression._header(100, True) + b"y" * 10
        codec = "zlib"
    else:
        framed = compression._header(8, False) + b"\xff" * 8
        codec = kind
    with pytest.raises(compression.CorruptChunk):
        compression.decompress(framed, codec)


def _planted_corrupt_snappy(tmp_path, column: str = "ints") -> str:
    """A two-stripe snappy .orc file whose stripe 1 holds one corrupt
    snappy chunk (overlong length varint): ``ints`` holds an int and a
    string column, ``decimal`` one decimal(10,2) column."""
    from decimal import Decimal
    from orc_spark.codecs import compression
    from orc_spark.sources import orcwriter
    from orc_spark.sources.orcfile import ORCFile
    n = 2000
    if column == "decimal":
        tbl = pa.table({"d": pa.array(
            [Decimal(f"{i % 7}2345678.{i % 100:02d}") for i in range(n)],
            pa.decimal128(10, 2))})
    else:
        tbl = pa.table({"v": pa.array(np.arange(n)),
                        "s": pa.array([f"payload-{i % 7}-" * 6
                                       for i in range(n)])})
    p = str(tmp_path / "bad.orc")
    orcwriter.write_orc(tbl, p, codec="snappy", stripe_rows=1000)
    f = ORCFile(p)
    assert f.compression == "snappy" and len(f.stripes) == 2
    st = f.stripes[1]
    pos = st[1][0] + st[2][0]                   # stripe 1's data
    end = pos + st[3][0]
    d = bytearray(open(p, "rb").read())
    while True:                                 # first snappy chunk
        assert pos < end, "no compressed chunk to corrupt"
        length, original, body = compression.parse_header(d, pos)
        if not original and length >= 6:
            break
        pos = body + length
    d[body:body + 6] = b"\xff" * 6               # overlong varint
    open(p, "wb").write(bytes(d))
    return p


def test_snappy_corrupt_chunk_skip_and_audit(spark, tmp_path):
    """A two-stripe snappy .orc file with one planted corrupt snappy
    chunk: the default scan raises, on_error='skip' returns the intact
    stripe, and orc_scan_errors reports the bad one."""
    from orc_spark.sources import orcscan
    p = _planted_corrupt_snappy(tmp_path)
    with pytest.raises(Exception):
        orcscan.orc_scan(spark, p).count()
    got = orcscan.orc_scan(spark, p, on_error="skip")
    assert got.count() == 1000
    assert got.agg(F.min("v"), F.max("v")).first() == (0, 999)
    errs = orcscan.orc_scan_errors(spark, p).collect()
    assert [r["stripe"] for r in errs] == [1]
    assert "snappy" in errs[0]["error"]


@pytest.mark.parametrize("column", ["ints", "decimal"])
def test_corrupt_chunk_decompressed_once(tmp_path, monkeypatch, column):
    """A chunk that does not decompress fails its stripe after ONE
    decompression attempt: the column fast path (the decimal build
    too) re-raises CorruptChunk instead of sending the column to the
    row path, which would decompress the same bytes and fail the same
    way."""
    from orc_spark import orctypes
    from orc_spark.codecs import compression
    from orc_spark.sources import orcscan
    from orc_spark.sources.orcfile import ORCFile
    p = _planted_corrupt_snappy(tmp_path, column)
    real = compression._snappy_decompress
    failed = []

    def counting(data):
        try:
            return real(data)
        except ValueError:
            failed.append(bytes(data[:6]))
            raise

    monkeypatch.setattr(compression, "_snappy_decompress", counting)
    f = ORCFile(p)
    ctx = orcscan._ScanContext(orctypes.type_from_types(f.types), [],
                               False)
    assert ctx.decode_stripe(f, 0).num_rows == 1000
    assert failed == []
    with pytest.raises(compression.CorruptChunk, match="snappy"):
        ctx.decode_stripe(f, 1)
    assert failed == [b"\xff" * 6]


def test_byterle_partial_decode_clamps():
    """decode(n) with n inside a literal or repeat group returns the
    first n values (no numpy broadcast crash)."""
    import numpy as np
    from orc_spark.codecs import byterle
    lit = byterle.encode(np.array([1, 2, 3, 4, 5, 6], np.uint8))
    assert byterle.decode(lit, 3).tolist() == [1, 2, 3]
    rep = byterle.encode(np.array([7] * 10, np.uint8))
    assert byterle.decode(rep, 5).tolist() == [7] * 5
