"""Decimal codec: base-128 zigzag varint mantissas + scale stream.

Behavioral reference: scritchley/orc treereader.go:880-948 +
decimal.go:53-79 (read-only in the reference; we implement both
directions).  DATA = one signed (zigzag) varint per value holding the
unscaled mantissa (arbitrary precision, big.Int semantics — Python ints
here), SECONDARY = scales as signed RLE v2.
"""

from __future__ import annotations

import numpy as np

from . import rle2

_MASK = (1 << 64) - 1


def encode_mantissas(mantissas: list[int]) -> bytes:
    """Zigzag varint encode of arbitrary-precision mantissas."""
    out = bytearray()
    for m in mantissas:
        z = (m << 1) if m >= 0 else ((-m << 1) - 1)
        while z > 0x7F:
            out.append(0x80 | (z & 0x7F))
            z >>= 7
        out.append(z)
    return bytes(out)


def decode_mantissas(data: bytes, n: int) -> list[int]:
    out = []
    pos = 0
    for _ in range(n):
        z = 0
        shift = 0
        while True:
            b = data[pos]
            pos += 1
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out.append((z >> 1) if not z & 1 else -((z + 1) >> 1))
    return out


def decode_mantissas_fast(data: bytes, n: int):
    """Whole-array zigzag-varint decode (r4).  Returns np.int64
    mantissas with ZERO per-value Python for the common case
    (every varint <= 9 bytes, i.e. mantissa fits int64 — any
    decimal(<=18, s) stream); values longer than 9 bytes (huge
    decimal(38) mantissas) are patched in individually via the scalar
    reference decoder.  Byte-identical semantics to decode_mantissas
    (cross-checked in tests)."""
    if n == 0:
        return np.zeros(0, np.int64)
    arr = np.frombuffer(data, np.uint8)
    ends = np.flatnonzero((arr & 0x80) == 0)
    if len(ends) < n:
        raise ValueError("decimal DATA stream truncated")
    ends = ends[:n]
    starts = np.empty(n, np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    z = np.zeros(n, np.uint64)
    for k in range(int(min(lengths.max(), 9))):
        m = lengths > k
        z[m] |= (arr[starts[m] + k] & 0x7F).astype(np.uint64) \
            << np.uint64(7 * k)
    v = (z >> np.uint64(1)).astype(np.int64)
    out = np.where((z & np.uint64(1)).astype(bool), ~v, v)
    big = np.flatnonzero(lengths > 9)
    if len(big):
        # >63-bit zigzag payloads: arbitrary-precision scalar decode
        # for just those values (u64 accumulation above wrapped)
        for i in big.tolist():
            seg = bytes(arr[starts[i]:ends[i] + 1])
            out[i] = _decode_one(seg)  # may overflow int64 -> raises
    return out


def _decode_one(seg: bytes) -> int:
    z = 0
    shift = 0
    for b in seg:
        z |= (b & 0x7F) << shift
        shift += 7
    return (z >> 1) if not z & 1 else -((z + 1) >> 1)


def exact_mantissa(v, scale: int) -> int:
    """Unscaled integer of Decimal ``v`` at ``scale``, exact at any
    precision: integer math on ``as_tuple()`` (``Decimal.scaleb`` under
    the default 28-digit context silently rounds decimal(38) values).
    Raises ValueError when ``v`` has more fractional digits than
    ``scale`` holds."""
    sign, digits, exp = v.as_tuple()
    m = int("".join(map(str, digits)))
    shift = exp + scale
    if shift >= 0:
        m *= 10 ** shift
    else:
        q, r = divmod(m, 10 ** (-shift))
        if r:
            raise ValueError(f"decimal {v} does not fit scale {scale}")
        m = q
    return -m if sign else m


def encode_decimals(mantissas: list[int], scales) -> dict[str, bytes]:
    return {
        "DATA": encode_mantissas(mantissas),
        "SECONDARY": rle2.encode(
            np.asarray(scales, dtype=np.int64), signed=True),
    }


def decode_decimals(streams: dict, n: int) -> tuple[list[int], np.ndarray]:
    # all-null stripes elide the empty streams entirely — .get keeps
    # the n == 0 decode path alive instead of KeyError
    mants = decode_mantissas(streams.get("DATA", b""), n)
    scales = rle2.decode(streams.get("SECONDARY", b""), n, signed=True)
    return mants, scales
