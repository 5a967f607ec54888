"""Block compression with ORC chunk framing.

Behavioral reference: scritchley/orc compressioncodec.go:302-314 (chunk
header: 3-byte little-endian ``(chunkLen << 1) | isOriginal``; max chunk
2^23-1 bytes) and compressioncodec.go:169-217 (per-chunk fallback: when
the compressed form is not smaller, the original bytes are stored with
the isOriginal bit set). ZLIB means raw DEFLATE (wbits=-15), chunked at
DefaultCompressionChunkSize = 256 KiB (writer.go:24-25). The reference
writer accepts only NONE/ZLIB (writer.go:70-87); zstd is offered as a
non-reference extension when available.
"""

from __future__ import annotations

import zlib

DEFAULT_CHUNK_SIZE = 256 * 1024
MAX_CHUNK = (1 << 23) - 1

NONE = "none"
ZLIB = "zlib"
SNAPPY = "snappy"  # r5: read AND write (the reference is decode-only)
ZSTD = "zstd"

_ZSTD_CODEC = None
_SNAPPY_CODEC = None


class CorruptChunk(ValueError):
    """A compressed chunk that does not decompress, under any codec,
    or a chunk header that runs past the end of its stream; it fails
    the stripe that holds it."""


def _zstd_codec():
    """pyarrow's BUNDLED zstd (r4): Spark 4 writes ORC with zstd by
    DEFAULT, so reading Spark-default lakes requires this even though
    the reference never did zstd.  No standalone zstandard wheel is
    needed — Arrow ships the codec.  Cached (r6): the stripe-table
    default codec is now zstd, so this runs once per chunk on the
    encode hot path."""
    global _ZSTD_CODEC
    if _ZSTD_CODEC is None:
        import pyarrow as pa
        _ZSTD_CODEC = pa.Codec("zstd", compression_level=3)
    return _ZSTD_CODEC


def _snappy_codec():
    """pyarrow's BUNDLED snappy, the only snappy decoder (writes stay
    on ``snappy_pure.compress``, see its docstring for why)."""
    global _SNAPPY_CODEC
    if _SNAPPY_CODEC is None:
        import pyarrow as pa
        _SNAPPY_CODEC = pa.Codec("snappy")
    return _SNAPPY_CODEC


# a snappy element expands at most 64/3x (a 3-byte copy of 64 bytes):
# a header length past this bound is corrupt, and must not size Arrow's
# output buffer
_SNAPPY_MAX_EXPANSION = 22


def _snappy_decompress(data) -> bytes:
    """One snappy block -> bytes; its varint header is the exact
    decompressed length.  Malformed input raises ValueError, never
    Arrow's OSError (``decompress`` turns it into ``CorruptChunk``)."""
    ulen = shift = pos = 0
    while True:
        if pos == len(data) or pos == 5:   # 32-bit: <= 5 varint bytes
            raise ValueError("corrupt snappy: bad length varint")
        b = data[pos]
        pos += 1
        ulen |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    if ulen > _SNAPPY_MAX_EXPANSION * len(data):
        raise ValueError(f"corrupt snappy: length {ulen} for a "
                         f"{len(data)}-byte block")
    try:
        return _snappy_codec().decompress(data, decompressed_size=ulen,
                                          asbytes=True)
    except OSError as e:
        raise ValueError(f"corrupt snappy: {e}") from None


def _header(length: int, original: bool) -> bytes:
    if length > MAX_CHUNK:
        raise ValueError(f"chunk length {length} exceeds {MAX_CHUNK}")
    v = (length << 1) | (1 if original else 0)
    return v.to_bytes(3, "little")


def parse_header(buf, pos: int) -> tuple[int, bool, int]:
    v = int.from_bytes(bytes(buf[pos:pos + 3]), "little")
    return v >> 1, bool(v & 1), pos + 3


# Compression strategy (analog of ORC's SPEED vs COMPRESSION writer
# option): level 4 is within ~2% of level 6 on RLE output while ~2x
# faster; the sample gate skips DEFLATE entirely for streams that are
# already at entropy (bit-packed high-entropy token data), storing the
# chunk with the isOriginal bit — format-identical to the reference's
# per-chunk fallback (compressioncodec.go:169-217), reached cheaper.
ZLIB_LEVEL = 4
SAMPLE_GATE_MIN_CHUNK = 64 * 1024
SAMPLE_BYTES = 24 * 1024
SAMPLE_RATIO = 0.97


def _compress_chunk(chunk: bytes, kind: str) -> bytes:
    if kind == ZLIB:
        c = zlib.compressobj(ZLIB_LEVEL, zlib.DEFLATED, -15)
        return c.compress(chunk) + c.flush()
    if kind == ZSTD:
        return _zstd_codec().compress(chunk, asbytes=True)
    if kind == SNAPPY:
        # r5: pure-Python snappy WRITE (beyond the reference, whose
        # encoder errors out); JVM-reader interop pinned in tests
        from . import snappy_pure
        return snappy_pure.compress(chunk)
    if kind == "lz4":
        from . import lz4_pure
        return lz4_pure.compress(chunk)
    if kind == "lzo":
        # r5: pure-Python LZO1X WRITE — beyond both the reference
        # (decode-only, compressioncodec.go:290-300) and the Java/
        # Spark writers (aircompressor decodes lzo but ORC never
        # writes it)
        from . import lzo_pure
        return lzo_pure.compress(chunk)
    raise ValueError(kind)


def _decompress_chunk(data: bytes, kind: str) -> bytes:
    if kind == ZLIB:
        return zlib.decompress(data, -15)
    if kind == SNAPPY:
        return _snappy_decompress(data)
    if kind == "lz4":
        from . import lz4_pure
        return lz4_pure.decompress(data)
    if kind == "lzo":
        from . import lzo_pure
        return lzo_pure.decompress(data)
    if kind == ZSTD:
        # CompressedInputStream needs no decompressed_size up front
        # (zstd frames may omit the content-size header field)
        import pyarrow as pa
        with pa.CompressedInputStream(
                pa.BufferReader(bytes(data)), "zstd") as st:
            return st.read()
    raise ValueError(kind)


def compress(data: bytes, kind: str = ZLIB,
             chunk_size: int = DEFAULT_CHUNK_SIZE) -> bytes:
    """Compress a stream with ORC chunk framing (per-chunk original
    fallback). kind=NONE returns the input unchanged (chunk size 1
    passthrough semantics, compressioncodec.go:22-49)."""
    if kind == NONE:
        return bytes(data)
    data = bytes(data)
    out = bytearray()
    for off in range(0, len(data), chunk_size):
        chunk = data[off:off + chunk_size]
        if kind == ZLIB and len(chunk) >= SAMPLE_GATE_MIN_CHUNK:
            # STRIDED sample across the whole chunk, not a prefix: a
            # high-entropy head followed by a compressible tail (e.g.
            # bit-packed section then long runs) must not disable
            # compression for the entire chunk
            step = max(1, len(chunk) // 8)
            piece = max(256, SAMPLE_BYTES // 8)
            sample = b"".join(chunk[o:o + piece]
                              for o in range(0, len(chunk), step))
            if len(_compress_chunk(sample, kind)) > \
                    SAMPLE_RATIO * len(sample):
                out.extend(_header(len(chunk), original=True))
                out.extend(chunk)
                continue
        comp = _compress_chunk(chunk, kind)
        if len(comp) >= len(chunk):
            out.extend(_header(len(chunk), original=True))
            out.extend(chunk)
        else:
            out.extend(_header(len(comp), original=False))
            out.extend(comp)
    return bytes(out)


def decompress(data, kind: str = ZLIB) -> bytes:
    """Accepts any buffer-protocol object (bytes, memoryview, Arrow
    buffer) — framed chunks are sliced zero-copy; only the decompressed
    output is materialized.  Every codec's failure on a chunk (zlib's
    ``zlib.error``, Arrow's ``OSError``, a pure codec's ValueError)
    and a header length past the end of the stream raise
    ``CorruptChunk``."""
    if kind == NONE:
        return data if isinstance(data, (bytes, bytearray)) else bytes(data)
    if not isinstance(data, (bytes, bytearray)):
        data = memoryview(data)
    parts = []
    pos = 0
    n = len(data)
    while pos < n:
        length, original, pos = parse_header(data, pos)
        if pos + length > n:
            raise CorruptChunk(f"{kind} chunk of {length} bytes runs "
                               f"{pos + length - n} bytes past its stream")
        chunk = data[pos:pos + length]
        pos += length
        if not original:
            try:
                chunk = _decompress_chunk(chunk, kind)
            except (ValueError, OSError, zlib.error) as e:
                raise CorruptChunk(f"corrupt {kind} chunk: {e}") from e
        parts.append(chunk)
    # one copy; a lone decompressed chunk comes back as the same object
    return b"".join(parts)
