"""Decimal codec: base-128 zigzag varint mantissas + scale stream.

Behavioral reference: scritchley/orc treereader.go:880-948 +
decimal.go:53-79 (read-only in the reference; we implement both
directions).  DATA = one signed (zigzag) varint per value holding the
unscaled mantissa (arbitrary precision, big.Int semantics), SECONDARY
= scales as signed RLE v2.

The one decimal kernel of the stripe table and ``.orc`` files:
``encode``, ``stride_stats`` and ``to_arrow`` work whole-array on the
128-bit values as (lo uint64, hi int64) limbs, decimal(38) included.
``encode_mantissas``, ``decode_mantissas`` and ``exact_mantissa`` are
the per-value references they are tested against.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import leaves, rle2

_U64 = np.uint64
_M32 = _U64(0xFFFFFFFF)
# 10**s as four 32-bit limbs (low first), s = 0..38
_POW10 = np.array([[(10 ** s >> (32 * i)) & 0xFFFFFFFF for i in range(4)]
                   for s in range(39)], _U64)


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


# ---------------------------------------------------------------------------
# whole-array kernels
# ---------------------------------------------------------------------------


def as_decimal128(arr: pa.Array, scale: int) -> pa.Array:
    """``arr`` as a decimal128 array at ``scale`` (Arrow's cast is
    exact: it raises rather than drop a digit)."""
    if pa.types.is_decimal128(arr.type) and arr.type.scale == scale:
        return arr
    return arr.cast(pa.decimal128(38, scale))


def _limbs(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lo uint64, hi int64) limbs of a null-free decimal128 array."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, _U64), np.zeros(0, np.int64)
    words = np.frombuffer(arr.buffers()[1], dtype="<u8", count=2 * n,
                          offset=arr.offset * 16)
    return words[0::2], words[1::2].view(np.int64)


def encode(arr: pa.Array) -> dict[str, bytes]:
    """DATA (zigzag varint mantissas) and SECONDARY (the array's scale
    once per value) of a null-free decimal128 array; byte-identical to
    ``encode_mantissas`` over ``exact_mantissa`` of each value."""
    n = len(arr)
    scales = rle2.encode(np.full(n, arr.type.scale, np.int64), signed=True)
    if n == 0:
        return {"DATA": b"", "SECONDARY": scales}
    lo, hi = _limbs(arr)
    neg = (hi >> 63).view(_U64)                  # all ones when < 0
    z_lo = (lo << _U64(1)) ^ neg
    z_hi = ((hi.view(_U64) << _U64(1)) | (lo >> _U64(63))) ^ neg
    groups = []                                  # 7-bit groups, low first
    while True:
        groups.append((z_lo & _U64(0x7F)).astype(np.uint8))
        z_lo = (z_lo >> _U64(7)) | (z_hi << _U64(57))
        z_hi = z_hi >> _U64(7)
        if not (z_lo.any() or z_hi.any()):
            break
    mat = np.stack(groups, axis=1)
    cols = np.arange(mat.shape[1])
    last = np.where(mat != 0, cols, 0).max(axis=1)[:, None]
    mat[cols < last] |= 0x80                     # continuation bits
    return {"DATA": mat[cols <= last].tobytes(), "SECONDARY": scales}


def _exact_sum(lo: np.ndarray, hi: np.ndarray) -> int:
    """Exact sum of 128-bit values: 32-bit limb sums cannot overflow
    64 bits below 2^32 values, and Python ints join them."""
    hu = hi.view(_U64)
    return (int((lo & _M32).sum(dtype=_U64))
            + (int((lo >> _U64(32)).sum(dtype=_U64)) << 32)
            + (int((hu & _M32).sum(dtype=_U64)) << 64)
            + (int((hi >> 32).sum(dtype=np.int64)) << 96))


def stride_stats(arr: pa.Array, bounds) -> list[dict]:
    """Per-stride exact Decimal ``min``/``max``/``sum`` of a null-free
    decimal128 array (``{}`` for an empty stride); the sum is built
    from its exact integer as a string, so no context rounds it."""
    lo, hi = _limbs(arr)
    scale = arr.type.scale
    out = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        a, b = int(a), int(b)
        if b == a:
            out.append({})
            continue
        mm = pc.min_max(arr.slice(a, b - a))
        total = _exact_sum(lo[a:b], hi[a:b])
        out.append({"min": mm["min"].as_py(), "max": mm["max"].as_py(),
                    "sum": Decimal(f"{total}E{-scale}")})
    return out


def decode_limbs(data, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` zigzag varint mantissas -> (lo, hi) limbs, the values of
    ``decode_mantissas``; ValueError when the stream is short or a
    mantissa needs more than 128 bits."""
    if n == 0:
        return np.zeros(0, _U64), np.zeros(0, np.int64)
    buf = np.frombuffer(data, np.uint8)
    ends = np.flatnonzero(buf < 0x80)
    if len(ends) < n:
        raise ValueError("decimal DATA stream truncated")
    ends = ends[:n]
    starts = np.empty(n, np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    z_lo = np.zeros(n, _U64)
    z_hi = np.zeros(n, _U64)
    for k in range(int(lengths.max())):
        rows = np.flatnonzero(lengths > k)
        g = (buf[starts[rows] + k] & 0x7F).astype(_U64)
        bit = 7 * k
        if bit < 64:
            z_lo[rows] |= g << _U64(bit)
            if bit > 57:
                z_hi[rows] |= g >> _U64(64 - bit)
        else:
            if bit > 121 and (bit > 127 or (g >> _U64(128 - bit)).any()):
                raise ValueError("decimal mantissa wider than 128 bits")
            z_hi[rows] |= g << _U64(bit - 64)
    neg = _U64(0) - (z_lo & _U64(1))            # all ones when odd
    lo = ((z_lo >> _U64(1)) | (z_hi << _U64(63))) ^ neg
    hi = ((z_hi >> _U64(1)) ^ neg).view(np.int64)
    return lo, hi


def _negate(lo, hi_u, mask):
    """Two's-complement negation of the 128-bit rows where ``mask``."""
    nlo = ~lo + _U64(1)
    nhi = ~hi_u + (lo == 0).astype(_U64)
    return np.where(mask, nlo, lo), np.where(mask, nhi, hi_u)


def _rescale(lo, hi, shift):
    """Values times 10**shift (per row, 0 <= shift <= 38), exact;
    ValueError when a row's shift is negative (more fractional digits
    than the declared scale) or its product passes 38 digits."""
    if shift.min() < 0 or shift.max() > 38:
        raise ValueError("decimal value scale outside its declared scale")
    neg = hi < 0
    mlo, mhi = _negate(lo, hi.view(_U64), neg)
    mag = mhi.astype(np.float64) * 2.0 ** 64 + mlo.astype(np.float64)
    if np.any(mag * np.power(10.0, shift) >= 1e38 * (1 + 1e-9)):
        raise ValueError("decimal value does not fit 38 digits")
    a = (mlo & _M32, mlo >> _U64(32), mhi & _M32, mhi >> _U64(32))
    b = _POW10[shift]
    r = [np.zeros(len(lo), _U64) for _ in range(4)]
    for i in range(4):                           # schoolbook, low 128 bits
        carry = np.zeros(len(lo), _U64)
        for j in range(4 - i):
            t = a[i] * b[:, j] + r[i + j] + carry
            r[i + j] = t & _M32
            carry = t >> _U64(32)
    plo = r[0] | (r[1] << _U64(32))
    phi = r[2] | (r[3] << _U64(32))
    plo, phi = _negate(plo, phi, neg)
    return plo, phi.view(np.int64)


def to_arrow(data, scales, precision: int, scale: int,
             valid=None) -> pa.Array:
    """``decimal128(precision, scale)`` array from a DATA stream, its
    decoded SECONDARY scales (one per present row) and the PRESENT
    mask ``valid``; ValueError, never a rounding, when a value has more
    fractional digits than ``scale`` or digits than ``precision``."""
    scales = np.asarray(scales, np.int64)
    lo, hi = decode_limbs(data, len(scales))
    shift = scale - scales
    if shift.any():
        lo, hi = _rescale(lo, hi, shift)
    words = np.empty((len(lo), 2), _U64)
    words[:, 0] = lo
    words[:, 1] = hi.view(_U64)
    vals = words.view("V16")[:, 0]
    nulls = 0
    if valid is not None:
        vals = leaves.scatter(vals, valid)
        nulls = len(valid) - int(np.count_nonzero(valid))
    out = pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(vals),
        [leaves.validity(valid), pa.py_buffer(vals.view(np.uint8))],
        null_count=nulls)
    out.validate(full=True)                      # precision overflow
    return out
