"""String column codec: sorted dictionary vs direct, auto-selected.

The one owner of the string-column encoding decision and of the Arrow
string build on decode; the stripe table (stripe.py), the ``.orc``
writer (sources/orcwriter.py) and the ``.orc`` fast read path
(sources/orcscan.py) all go through here.  RLE of the integer parts,
FSST, stride slicing and statistics stay with the callers.

Behavioral reference: scritchley/orc treewriter.go:543-720 (string tree
writer), dictionary_v2.go:14-59 (distinct keys sorted lexicographically
before index assignment), DictionaryEncodingThreshold = 0.49
(treewriter.go:537): a stripe's string column is dictionary-encoded when
``distinct/total <= 0.49``.

Streams (the caller RLE-encodes the integer parts):
* DICTIONARY_V2: DATA = row-order dictionary indexes (unsigned RLE v2),
  DICTIONARY_DATA = concatenated sorted keys, LENGTH = key byte lengths
  (unsigned RLE v2).
* DIRECT_V2: DATA = concatenated values, LENGTH = per-value byte
  lengths (unsigned RLE v2).

Keys sort bytewise (Arrow's binary/utf8 comparison is unsigned
lexicographic, the same order as Go's sort.Strings): UTF-8 byte order
equals codepoint order.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DICTIONARY_THRESHOLD = 0.49

DICT_V2 = "DICTIONARY_V2"
DIRECT_V2 = "DIRECT_V2"


class StringParts(NamedTuple):
    """A string column's streams before RLE.  ``indexes`` is None for
    a direct column; otherwise it holds each row's sorted-key index and
    ``lengths``/``blob`` describe the keys instead of the values."""

    indexes: np.ndarray | None
    lengths: np.ndarray
    blob: bytes

    @property
    def encoding(self) -> str:
        return DIRECT_V2 if self.indexes is None else DICT_V2


def dictionary_v1(values) -> tuple[np.ndarray, list]:
    """Insertion-ordered dictionary (dictionary.go:11-61 semantics):
    indexes assigned in first-arrival order.  ``pandas.factorize``
    equivalent, done here with a plain dict to avoid the pandas import.
    Returns (indexes int64, keys list in arrival order)."""
    seen: dict = {}
    idx = np.empty(len(values), dtype=np.int64)
    keys = []
    for i, v in enumerate(values):
        j = seen.get(v)
        if j is None:
            j = len(keys)
            seen[v] = j
            keys.append(v)
        idx[i] = j
    return idx, keys


def _lengths_and_blob(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """Zero-copy per-value byte lengths (int64) and the concatenated
    value bytes of a null-free string/binary array."""
    n = len(arr)
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int32, count=n + 1,
                            offset=arr.offset * 4)
    lengths = np.diff(offsets).astype(np.int64)
    lo, hi = int(offsets[0]), int(offsets[-1])
    blob = buffers[2].slice(lo, hi - lo).to_pybytes() if hi > lo else b""
    return lengths, blob


def encode(data: pa.Array, allow_dictionary: bool = True) -> StringParts:
    """Choose sorted dictionary or direct for one stripe (or stride) of
    a null-free ``string``/``binary`` array and return its parts.
    ``allow_dictionary=False`` forces direct (ORC ``binary`` columns
    never ask for a dictionary)."""
    n = len(data)
    if allow_dictionary and n:
        enc = pc.dictionary_encode(data)
        keys = enc.dictionary
        n_distinct = len(keys)
        if float(n_distinct) / float(n) <= DICTIONARY_THRESHOLD:
            order = pc.sort_indices(keys)
            remap = np.empty(n_distinct, dtype=np.int64)
            remap[np.asarray(order)] = np.arange(n_distinct)
            indexes = remap[np.asarray(enc.indices)]
            lengths, blob = _lengths_and_blob(keys.take(order))
            return StringParts(indexes, lengths, blob)
    lengths, blob = _lengths_and_blob(data)
    return StringParts(None, lengths, blob)


def _scatter(vals: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Spread the non-null entries over the rows (zeros at nulls)."""
    full = np.zeros(len(valid), dtype=vals.dtype)
    full[valid] = vals
    return full


def to_arrow(lengths, blob, indexes=None, valid=None,
             binary: bool = False) -> pa.Array:
    """Build a ``string`` (or ``binary``) Arrow array from decoded
    parts: ``lengths``/``blob`` of the values (direct) or of the keys
    (``indexes`` given, one per non-null row), plus an optional PRESENT
    ``valid`` mask over the rows.  Zero-copy over ``blob`` and
    validated in C++: malformed UTF-8, a short blob or a column past
    int32 offsets raise ValueError (``pyarrow.ArrowInvalid`` is one)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    if indexes is not None:
        indexes = np.asarray(indexes, dtype=np.int64)
        n_bytes = int(lengths[indexes].sum())
    else:
        if valid is not None:
            lengths = _scatter(lengths, valid)
        n_bytes = int(lengths.sum())
    if n_bytes > np.iinfo(np.int32).max:
        raise ValueError("string column exceeds int32 Arrow offsets")
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    if len(blob) < int(offsets[-1]):
        raise ValueError("string blob shorter than its lengths")
    validity, nulls = None, 0
    if indexes is None and valid is not None:
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
        nulls = len(valid) - int(np.count_nonzero(valid))
    arr = pa.Array.from_buffers(
        pa.binary() if binary else pa.string(), len(lengths),
        [validity, pa.py_buffer(offsets), pa.py_buffer(blob)],
        null_count=nulls)
    arr.validate(full=True)
    if indexes is None:
        return arr
    if valid is None:
        return arr.take(pa.array(indexes))
    # null rows take index 0 under a null mask
    return arr.take(pa.array(_scatter(indexes, valid), mask=~valid))
