"""Leaf kernels shared by the stripe table (stripe.py) and ``.orc``
files (sources/orcwriter.py, sources/orcscan.py): the one home of the
null assembly, value extraction and leaf statistics both containers
do, as the reference has one tree writer/reader per leaf type
(treewriter.go, treereaderfactory.go).  Decimals (codecs/decimal.py)
and strings (codecs/dictionary.py) have their own kernels; what really
differs between the containers stays with the caller that owns it.
Every function is whole-array numpy/Arrow and none asks who called it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# null assembly (decode)
# ---------------------------------------------------------------------------


def scatter(vals: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Spread one value per set entry of the bool mask ``valid`` over
    ``len(valid)`` slots (zeros where not valid)."""
    full = np.zeros(len(valid), dtype=vals.dtype)
    full[valid] = vals
    return full


def validity(valid) -> pa.Buffer | None:
    """Bool PRESENT mask -> Arrow validity bitmap (None: no nulls)."""
    if valid is None:
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def with_nulls(vals: np.ndarray, valid, typ=None) -> pa.Array:
    """Arrow array of the non-null ``vals`` over the rows of ``valid``
    (None: every row present), cast to ``typ`` when given."""
    if valid is None:
        arr = pa.array(vals)
    else:
        arr = pa.array(scatter(vals, valid), mask=~valid)
    return arr if typ is None or arr.type == typ else arr.cast(typ)


def expand(arr: pa.Array, valid) -> pa.Array:
    """Take-expand ``arr`` (one entry per set entry of ``valid``) to
    ``len(valid)`` slots, null where ``valid`` is False: how a child
    decoded on its parent's present rows rejoins the parent's rows."""
    if valid is None:
        return arr
    idx = scatter(np.arange(len(arr), dtype=np.int64), valid)
    return arr.take(pa.array(idx, mask=~valid))


def list_offsets(lengths, valid) -> pa.Array:
    """int32 list/map offsets from the LENGTH values of the present
    rows; a null offset at slot i marks row i null (its length is 0,
    so the spans around it are unaffected)."""
    lengths = np.asarray(lengths)
    if valid is not None:
        lengths = scatter(lengths, valid)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    if valid is None:
        return pa.array(offsets, pa.int32())
    return pa.array(offsets, pa.int32(),
                    mask=np.concatenate((~valid, [False])))


# ---------------------------------------------------------------------------
# value extraction (encode)
# ---------------------------------------------------------------------------


def list_parts(data: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """A null-free list or map array -> (int64 lengths, the slice of
    its child the rows use).  A map's child is its key/item entries
    struct (``.field(0)`` keys, ``.field(1)`` items)."""
    offsets = np.asarray(data.offsets)[:len(data) + 1]
    if len(offsets) == 0:
        return np.zeros(0, np.int64), data.values.slice(0, 0)
    lo, hi = int(offsets[0]), int(offsets[-1])
    return np.diff(offsets).astype(np.int64), data.values.slice(lo, hi - lo)


_PER_SECOND = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def timestamp_split(data: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A null-free timestamp array of any Arrow unit -> (int64 floor
    seconds since the epoch, int64 nanos of that second in [0, 1e9))."""
    per = _PER_SECOND[data.type.unit]
    v = np.asarray(data.cast(pa.int64()))
    secs = np.floor_divide(v, per)
    return secs, (v - secs * per) * (10**9 // per)


def format_nanos(nanos: np.ndarray) -> np.ndarray:
    """formatNanos trailing-zero compaction (utils.go:1206-1220): z >= 2
    trailing zeros store (n / 10^z) << 3 | (z - 1), else n << 3."""
    nv = nanos.astype(np.int64)
    out = nv << 3  # default: nv % 100 != 0
    mask = (nv % 100 == 0) & (nv != 0)
    if mask.any():
        base = nv[mask] // 100
        tz = np.ones(len(base), dtype=np.int64)
        for _ in range(6):  # tz grows 1..7, bounded
            m2 = (base % 10 == 0) & (tz < 7)
            if not m2.any():
                break
            base[m2] //= 10
            tz[m2] += 1
        out[mask] = (base << 3) | tz
    out[nv == 0] = 0
    return out


_NANOS_SCALE = np.array([1] + [10 ** (z + 1) for z in range(1, 8)],
                        np.int64)


def parse_nanos(raw) -> np.ndarray:
    """Inverse of ``format_nanos`` (stored values -> int64 nanos)."""
    v = np.asarray(raw).astype(np.int64)
    return (v >> 3) * _NANOS_SCALE[v & 7]


# ---------------------------------------------------------------------------
# leaf statistics
# ---------------------------------------------------------------------------


def numeric_stats(vals: np.ndarray, bounds) -> list[dict]:
    """Per-stride ``min``/``max``/``sum`` of a non-null numeric array;
    stride t is ``vals[bounds[t]:bounds[t + 1]]`` and an empty stride
    gets ``{}``.  Integers give Python ints; floats give floats.

    NaN follows ORC-541 (Java ORC): it never enters min or max (a
    reader pruning on ``x > NaN`` would skip live strides), and an
    all-NaN stride has neither.  A stride holding a NaN sums to NaN;
    rollups add sums, so the NaN reaches every rollup that contains
    that stride, and each stats emitter leaves a NaN sum out: the sum
    is absent in that stride and in all its rollups."""
    floating = np.issubdtype(vals.dtype, np.floating)
    out = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        seg = vals[lo:hi]
        st: dict = {}
        if len(seg) and floating:
            if not np.all(np.isnan(seg)):
                st["min"] = float(np.nanmin(seg))
                st["max"] = float(np.nanmax(seg))
            st["sum"] = float(seg.sum())
        elif len(seg):
            st["min"] = seg.min().item()
            st["max"] = seg.max().item()
            st["sum"] = int(seg.sum())
        out.append(st)
    return out
