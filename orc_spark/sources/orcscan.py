"""Distributed ``.orc`` scan through the pure-Python kernels.

``orc_scan(spark, path)`` turns a ``.orc`` file or directory into a
Spark DataFrame WITHOUT the JVM ORC reader (reference reader.go's
Open/Select/Stripes/Next cursor loop, re-expressed as a Spark scan):

* **stripe-granularity parallelism** — the task list is one row per
  (file, stripe), so a directory of many files fans out to
  files x stripes tasks; each task mmaps its file and decodes only
  its stripe (executors fault in only those pages).
* **planning-time stripe pruning** — footer StripeStatistics are
  evaluated against ``predicate=(col, op, val)`` (or a conjunction
  list, same grammar as ``operators.encode.decode``) BEFORE any task
  launches; the predicate is re-applied as a residual row filter so
  results are exact.
* **row-group skipping inside stripes** — on stride-restart files
  (our writer's ROW_INDEX), each task consults per-stride stats
  (+ per-stride bloom filters for ``==``) and decompresses only
  strides that can match; Java-written files fall back to
  whole-stripe decode transparently.
* **column projection** — ``columns=[...]`` maps to ``ORCFile.select``
  (only those streams are decompressed).
* reads files Spark's built-in reader rejects: ``uniontype`` columns
  surface as the standard sparse struct (``tag`` + one nullable field
  per branch).

Fidelity notes: decimals surface EXACTLY as DECIMAL(p,s) (r4 — the
row reader yields Decimal mantissas, matching reference
decimal.go:53-79); timestamps surface as TIMESTAMP_NTZ (ORC stores
writer-zone wall clock — no instant is implied) truncated to
microseconds, or as lossless LONG wall-clock nanos-since-epoch under
``timestamp_nanos=True``.  The scan is the COMPATIBILITY path
(per-row Python by nature of row-major .orc streams); the columnar
stripe table is the performance path.
"""

from __future__ import annotations

import glob
import os
from datetime import date, datetime

from pyspark.sql import DataFrame, functions as F, types as T

from .. import orctypes
from .orcfile import ORCFile

_OPS = (">=", ">", "<=", "<", "==", "between", "in", "prefix")


def prefix_upper(p: str) -> str | None:
    """Smallest string greater than every string with prefix ``p``
    (exclusive upper bound of the prefix range); None when no such
    string exists (all characters at the maximum code point)."""
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            return p[:i] + chr(cp + 1)
    return None
# max rows per Arrow batch yielded to the JVM (stripes are sliced
# zero-copy; bounds per-batch bridge memory at ~tens of MB)
_BATCH_ROWS = 65536
# target decoded rows per scan task: files with many TINY stripes
# (legacy writers flush small) coalesce several stripes per task so
# scheduling overhead doesn't dominate; big-stripe files stay 1:1
_TARGET_ROWS_PER_TASK = 1 << 20


# -------------------------------------------------------------------
# schema mapping (union -> sparse struct; decimal -> decimal128)
# -------------------------------------------------------------------


def _spark_of(node: orctypes.OrcType, ts_nanos: bool = False):
    k = node.kind
    if k == "decimal":
        # exact (r4): DecimalType at the DECLARED precision/scale —
        # the old DoubleType mapping lost digits above float53
        return T.DecimalType(node.precision, node.scale)
    if k == "timestamp":
        # ts_nanos (opt-in): nanoseconds-since-epoch LONG of the
        # writer-zone wall clock — Spark timestamps are microsecond
        # precision, so this is the only lossless Spark surface for
        # ORC's nano field (reference formatNanos, utils.go:1206)
        return T.LongType() if ts_nanos else T.TimestampNTZType()
    prim = {"boolean": T.BooleanType(), "byte": T.ByteType(),
            "short": T.ShortType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "string": T.StringType(),
            "char": T.StringType(), "varchar": T.StringType(),
            "binary": T.BinaryType(), "date": T.DateType()}
    if k in prim:
        return prim[k]
    if k == "list":
        return T.ArrayType(_spark_of(node.children[0], ts_nanos))
    if k == "map":
        return T.MapType(_spark_of(node.children[0], ts_nanos),
                         _spark_of(node.children[1], ts_nanos))
    if k == "struct":
        return T.StructType([
            T.StructField(fn, _spark_of(c, ts_nanos))
            for fn, c in zip(node.field_names, node.children)])
    if k == "union":
        fields = [T.StructField("tag", T.ByteType())]
        fields += [T.StructField(f"_u{i}", _spark_of(c, ts_nanos))
                   for i, c in enumerate(node.children)]
        return T.StructType(fields)
    raise ValueError(f"orc_scan: unsupported ORC kind {k}")


def _needs_conv(node: orctypes.OrcType) -> bool:
    """True if values of this type require Python-side conversion
    before pa.array() — identity kinds (bools/ints/floats/strings)
    and containers of identity kinds skip ``_conv`` entirely."""
    k = node.kind
    if k in ("binary", "date", "timestamp", "map", "union"):
        return True
    if k in ("struct", "list"):
        return any(_needs_conv(c) for c in node.children)
    return False


_EPOCH = datetime(1970, 1, 1)


def _conv(node: orctypes.OrcType, v, ts_nanos: bool = False):
    """Row-reader value -> Spark-native value (recursive over the
    type tree; None passes through at every level)."""
    if v is None:
        return None
    k = node.kind
    if k == "struct":
        return {fn: _conv(c, v.get(fn), ts_nanos)
                for fn, c in zip(node.field_names, node.children)}
    if k == "list":
        c = node.children[0]
        return [_conv(c, x, ts_nanos) for x in v]
    if k == "map":
        ck, cv = node.children
        return {_conv(ck, p["key"], ts_nanos):
                _conv(cv, p["value"], ts_nanos) for p in v}
    if k == "union":
        tag = v["tag"]
        out = {"tag": tag}
        out[f"_u{tag}"] = _conv(node.children[tag], v["value"], ts_nanos)
        return out
    if k == "binary":
        return bytes(v)
    if k == "date":
        return date.fromisoformat(v)
    if k == "timestamp":
        # "YYYY-MM-DD HH:MM:SS.<frac>" with trimmed fractional digits
        # (possibly 7-9 for nanos)
        main, _, frac = v.partition(".")
        if ts_nanos:
            # lossless: integer wall-clock nanos since epoch (the
            # timedelta stays exact — days/seconds integers, no
            # float total_seconds())
            delta = datetime.fromisoformat(main) - _EPOCH
            secs = delta.days * 86400 + delta.seconds
            return secs * 1_000_000_000 + int((frac + "0" * 9)[:9])
        us = (frac + "000000")[:6]
        return datetime.fromisoformat(f"{main}.{us}")
    return v


# -------------------------------------------------------------------
# planning: task list with footer-stats stripe pruning
# -------------------------------------------------------------------


def _stats_can_match(st: dict, op: str, val) -> bool:
    lo, hi = st.get("min"), st.get("max")
    if lo is None or hi is None:
        return True  # no stats recorded: cannot prune
    if op == ">=":
        return hi >= val
    if op == ">":
        return hi > val
    if op == "<=":
        return lo <= val
    if op == "<":
        return lo < val
    if op == "==":
        return lo <= val <= hi
    if op == "between":
        vlo, vhi = val
        return hi >= vlo and lo <= vhi
    if op == "in":       # finite disjunction: any value in range
        return any(lo <= v <= hi for v in val)
    if op == "prefix":   # string range [p, prefix_upper(p))
        up = prefix_upper(val)
        return hi >= val and (up is None or lo < up)
    raise ValueError(f"orc_scan: unknown predicate op {op!r}")


def _root_col_ids(f: ORCFile) -> dict[str, int]:
    """{root field -> column id}; a bare non-struct root surfaces as
    one synthetic column named "value" (column id 0)."""
    root = f.types[0]
    if root.kind != "struct":
        return {"value": 0}
    return dict(zip(root.field_names, root.children))


def _subtree(root: orctypes.OrcType, path: str) -> orctypes.OrcType:
    """Resolve a dotted field path against an OrcType tree (structs
    only — reference GetField, typedescription.go:623-646).  Raises
    with the available fields on a miss."""
    node = root
    for seg in path.split("."):
        if node.kind != "struct":
            raise ValueError(
                f"orc_scan: cannot descend into {node.kind!r} with "
                f"{seg!r} (path {path!r})")
        if seg not in node.field_names:
            raise ValueError(
                f"orc_scan: no such column(s) [{path!r}]; struct has "
                f"{node.field_names}")
        node = node.children[node.field_names.index(seg)]
    return node


def _pred_col_ids(f: ORCFile, preds: list[tuple],
                  strict: bool) -> dict[str, int]:
    """{predicate column -> leaf column id} — root names plus DOTTED
    nested-leaf paths (r5: predicates like ``rec.x >= 5`` prune
    stripes/strides from the LEAF's statistics; rows under a null
    ancestor have a null leaf and can never match, so leaf-stats
    pruning stays conservative)."""
    ids = _root_col_ids(f)
    for col, _, _ in preds:
        if col in ids:
            continue
        if "." in col:
            try:
                ids[col] = f.resolve_path(col)[-1]
                continue
            except ValueError:
                pass
        if strict:
            raise ValueError(
                f"orc_scan: predicate column {col!r} not in "
                f"{sorted(ids)}")
    return ids


def _pred_list(predicate) -> list[tuple]:
    if predicate is None:
        return []
    if isinstance(predicate, str):
        # SQL conjunction string, e.g. "n_tok >= 60 AND source = 'web'"
        from ..predicates import parse_predicate
        preds = parse_predicate(predicate)
    else:
        preds = [predicate] if isinstance(predicate, tuple) \
            else list(predicate)
    for _, op, _ in preds:
        if op not in _OPS:
            raise ValueError(f"orc_scan: unknown op {op!r}")
    return preds


def plan_tasks(files: list[str], predicate=None,
               expect_type: str | None = None,
               with_rows: bool = False,
               strict_cols: bool = True,
               types_out: list[str] | None = None
               ) -> tuple[list[tuple], int]:
    """(kept (file, stripe) tasks, total stripe count).  Opens only
    file tails (mmap) — no stripe data is touched at planning time.
    ``expect_type``: canonical ORC type string every file's footer
    must match — schema drift inside a directory fails LOUDLY here
    instead of silently null-filling columns at read time.
    ``with_rows`` appends each task's stripe row count — callers that
    need sizes for coalescing get them from THIS footer pass instead
    of re-opening every file (r4 review fix).
    ``types_out``: appended with each file's canonical type string
    (one per file, even fully-pruned ones) — evolve mode computes the
    widened union schema from the SAME footer pass (r5), never a
    second open."""
    preds = _pred_list(predicate)
    tasks: list[tuple] = []
    total = 0
    for path in files:
        f = ORCFile(path)
        if expect_type is not None or types_out is not None:
            got = orctypes.type_from_types(f.types).orc_string()
            if types_out is not None:
                types_out.append(got)
            if expect_type is not None and got != expect_type:
                raise ValueError(
                    f"orc_scan: schema drift — {path} has {got}, "
                    f"expected {expect_type}")
        # resolves dotted nested-leaf predicate columns too (r5);
        # raises per-file in strict mode, prunes best-effort in evolve
        col_ids = _pred_col_ids(f, preds, strict_cols)
        for si in range(len(f.stripes)):
            total += 1
            keep = True
            for col, op, val in preds:
                if col not in col_ids:
                    continue  # evolved-away column: cannot prune
                ss = f.stripe_statistics
                if si < len(ss) and col_ids[col] < len(ss[si]):
                    if not _stats_can_match(ss[si][col_ids[col]],
                                            op, val):
                        keep = False
                        break
            if keep:
                tasks.append((path, si, f.stripes[si].get(5, [0])[0])
                             if with_rows else (path, si))
    return tasks, total


def orc_files(path: str, what: str = "orc_scan") -> list[str]:
    """List a dataset's .orc files (single file or directory) — THE
    shared layout rule for orc_scan, the DataSource, and orcstats
    (temp dotfiles from in-flight writes are naturally excluded by
    the *.orc glob)."""
    files = sorted(glob.glob(os.path.join(path, "*.orc"))) \
        if os.path.isdir(path) else [path]
    if not files:
        raise ValueError(f"{what}: no .orc files under {path}")
    return files


# -------------------------------------------------------------------
# the scan
# -------------------------------------------------------------------


def _offsets(lengths, valid):
    """LENGTH stream (non-null entries) -> int32 Arrow offsets array,
    nulls marked at parent-null slots (a null at offsets position i
    makes list/map i null)."""
    import numpy as np
    import pyarrow as pa
    if valid is not None:
        lengths = _scatter(np.asarray(lengths), valid)
    offs = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    if valid is None:
        return pa.array(offs, pa.int32())
    return pa.array(offs, pa.int32(),
                    mask=np.concatenate((~valid, [False])))


def _dig(v, segs: list[str]):
    """Nested row-dict lookup for a dotted path (None propagates)."""
    for s in segs:
        if v is None:
            return None
        v = v.get(s)
    return v


def _ancestor_expand(arr, valids):
    """Expand a decoded subtree Arrow array outward through its
    ancestor-struct validity chain (deepest first): take() with null
    indices re-inserts the rows where an ancestor struct was null —
    whole-array, no per-row Python."""
    import numpy as np
    import pyarrow as pa
    for valid in reversed(valids):
        if valid is None:
            continue
        idx = np.zeros(len(valid), np.int64)
        idx[np.flatnonzero(valid)] = np.arange(len(arr))
        arr = arr.take(pa.array(idx, pa.int64(),
                                mask=~np.asarray(valid)))
    return arr


def _fast_arrow(f: ORCFile, cid: int, n: int, ft):
    """pa.Array of Arrow type ``ft`` for column ``cid`` over ``n``
    rows, built WHOLE-ARRAY — validity bitmaps from PRESENT streams,
    zero-copy offset+blob string construction, offsets-based
    list/map assembly, take-expansion for nested struct children
    (r4; reference treereader.go:29-63 / cursor.go:89-176 walk these
    per row — we don't).  Recurses over the full type tree:
    list<struct<...>>, map<string,struct>, arbitrarily deep.
    Returns None when any part of the subtree is unsupported
    (timestamp: writer-tz wall-clock math; decimal: per-value
    mantissa varints; union) — the caller then takes the generic
    row path for THIS root column only.  String branches raise
    ValueError on malformed UTF-8 or past int32 offsets; callers
    then take the row path, which replace-decodes."""
    import numpy as np
    import pyarrow as pa
    from ..codecs import byterle, dictionary
    t = f.types[cid]
    k = t.kind
    valid, n_valid = f._present(cid, n)

    if k in ("short", "int", "long", "date"):
        vals = f._ints(cid, "DATA", n_valid, signed=True)
        if pa.types.is_date32(ft):
            vals = vals.astype(np.int32)  # int64 can't cast to date32
        if valid is None:
            return pa.array(vals).cast(ft)
        return pa.array(_scatter(vals, valid), mask=~valid).cast(ft)
    if k == "byte":
        raw = f._stream(cid, "DATA") or b""
        vals = byterle.decode(raw, n_valid).astype(np.int8)
        if valid is None:
            return pa.array(vals).cast(ft)
        return pa.array(_scatter(vals, valid), mask=~valid).cast(ft)
    if k == "boolean":
        raw = f._stream(cid, "DATA") or b""
        vals = byterle.decode_bools(raw, n_valid)
        if valid is None:
            return pa.array(vals)
        return pa.array(_scatter(vals, valid), mask=~valid)
    if k in ("float", "double"):
        raw = f._stream(cid, "DATA") or b""
        vals = np.frombuffer(raw, dtype="<f4" if k == "float"
                             else "<f8")[:n_valid]
        if valid is None:
            arr = pa.array(vals)
        else:
            arr = pa.array(_scatter(vals, valid), mask=~valid)
        # evolve widening: a float file read under a double union
        # schema casts exactly (every float32 is a float64)
        return arr if arr.type == ft else arr.cast(ft)
    if k in ("string", "varchar", "char", "binary"):
        indexes = None
        if f.encodings[cid].startswith("DICTIONARY"):
            indexes = f._ints(cid, "DATA", n_valid, signed=False)
            lengths = f._ints(cid, "LENGTH", f.dict_sizes[cid],
                              signed=False)
            blob = f._stream(cid, "DICTIONARY_DATA") or b""
        else:
            lengths = f._ints(cid, "LENGTH", n_valid, signed=False)
            blob = f._stream(cid, "DATA") or b""
        return dictionary.to_arrow(lengths, blob, indexes, valid,
                                   binary=k == "binary")
    if k == "list":
        lengths = f._ints(cid, "LENGTH", n_valid, signed=False)
        total = int(lengths.sum())
        if total > 2**31 - 1:
            return None  # would overflow int32 ListArray offsets
        child = _fast_arrow(f, t.children[0], total, ft.value_type)
        if child is None:
            return None
        return pa.ListArray.from_arrays(_offsets(lengths, valid), child)
    if k == "map":
        lengths = f._ints(cid, "LENGTH", n_valid, signed=False)
        total = int(lengths.sum())
        if total > 2**31 - 1:
            return None
        keys = _fast_arrow(f, t.children[0], total, ft.key_type)
        items = _fast_arrow(f, t.children[1], total, ft.item_type)
        if keys is None or items is None or keys.null_count:
            return None  # Arrow map keys must be non-null
        return pa.MapArray.from_arrays(_offsets(lengths, valid),
                                       keys, items)
    if k == "struct":
        # children map BY NAME against the target struct type (r5):
        # under an evolve-widened union schema a file's struct may
        # lack fields (null-fill) or order them differently — decoding
        # by position would silently misalign values across fields
        fields = [ft.field(i) for i in range(ft.num_fields)]
        have = {fn: c for fn, c in zip(t.field_names, t.children)}
        children = []
        for fld in fields:
            cc = have.get(fld.name)
            if cc is None:
                children.append(pa.nulls(n_valid, fld.type))
                continue
            ch = _fast_arrow(f, cc, n_valid, fld.type)
            if ch is None:
                return None
            children.append(ch)
        if valid is None:
            return pa.StructArray.from_arrays(children, fields=fields)
        # children hold n_valid entries (ORC elides rows where the
        # parent is null): take-expand to n slots with null indices
        idx = np.zeros(n, np.int64)
        idx[np.flatnonzero(valid)] = np.arange(n_valid)
        take_idx = pa.array(idx, mask=~valid)
        children = [ch.take(take_idx) for ch in children]
        return pa.StructArray.from_arrays(children, fields=fields,
                                          mask=pa.array(~valid))
    if k == "timestamp":
        # whole-array timestamps (r4).  UTC/absent writer zones are
        # pure arithmetic; ZONED files (Java lakes commonly stamp
        # America/Los_Angeles etc.) vectorize via per-DAY offset
        # buckets — a zone's UTC offset is constant within a civil
        # day except the 1-2 DST transition days a year, whose few
        # values take the per-value scalar offset path
        wtz = getattr(f, "writer_tz", "") or ""
        flat = wtz in ("", "UTC", "GMT", "Etc/UTC")
        tz = None
        if not flat:
            from .orcfile import _tzinfo
            tz = _tzinfo(wtz)
            if tz is None:
                return None  # unknown zone name: generic path
        secs = f._ints(cid, "DATA", n_valid, signed=True) \
            .astype(np.int64)
        raw = f._ints(cid, "SECONDARY", n_valid, signed=False) \
            .astype(np.uint64)
        zeros = (raw & np.uint64(7)).astype(np.int64)
        base = (raw >> np.uint64(3)).astype(np.int64)
        tbl = np.array([1, 100, 1000, 10**4, 10**5, 10**6, 10**7,
                        10**8], np.int64)
        nanos = base * tbl[zeros]
        if flat:
            instant = secs + 1420070400  # 2015-01-01 base (UTC)
            if wtz:
                # Java truncates pre-1970 seconds toward zero while
                # nanos stay positive (mirrors _format_ts's tz
                # branch); the flat no-zone arithmetic does not
                instant = instant - ((instant < 0) &
                                     (nanos > 0)).astype(np.int64)
        else:
            from datetime import datetime as _dt
            epoch_local = int(_dt(2015, 1, 1, tzinfo=tz).timestamp())
            instant = secs + epoch_local
            instant = instant - ((instant < 0) &
                                 (nanos > 0)).astype(np.int64)

            def _off(t: int) -> int:
                d = _dt.fromtimestamp(int(t), tz)
                return int(d.utcoffset().total_seconds())

            try:
                days = np.floor_divide(instant, 86400)
                uniq, inv = np.unique(days, return_inverse=True)
                if len(uniq) > max(4096, n_valid // 4):
                    return None  # offset probing would dominate
                offs = np.empty(len(uniq), np.int64)
                mixed = []
                for i, d in enumerate(uniq.tolist()):
                    o0 = _off(d * 86400)
                    if o0 == _off((d + 1) * 86400 - 1):
                        offs[i] = o0
                    else:
                        offs[i] = 0
                        mixed.append(i)
                offset = offs[inv]
                for i in mixed:  # DST-transition days: per value
                    for j in np.flatnonzero(inv == i).tolist():
                        offset[j] = _off(instant[j])
            except (OverflowError, OSError, ValueError):
                return None  # out-of-range for fromtimestamp
            # wall clock = instant + zone offset at that instant
            instant = instant + offset
        if pa.types.is_int64(ft):  # timestamp_nanos surface
            if len(instant) and int(np.abs(instant).max()) > 9 * 10**9:
                return None  # would overflow int64 nanos (~year 2255)
            vals = instant * 1_000_000_000 + nanos
        else:
            if len(instant) and int(np.abs(instant).max()) > 9 * 10**12:
                return None
            vals = instant * 1_000_000 + nanos // 1000
        if valid is not None:
            vals = _scatter(vals, valid)
            return pa.array(vals, mask=~valid).cast(ft)
        return pa.array(vals).cast(ft)
    if k == "decimal":
        # whole-array decimal128 (r4): numpy zigzag-varint mantissas
        # + RLE v2 scales -> 16-byte little-endian decimal buffer
        # (lo limb = int64 value, hi limb = sign extension).  Falls
        # back to the exact generic path when a mantissa exceeds
        # int64 or rescaling to the declared scale would overflow —
        # correctness never depends on this branch.
        from ..codecs import decimal as dec_codec
        try:
            mants = dec_codec.decode_mantissas_fast(
                f._stream(cid, "DATA") or b"", n_valid)
        except (OverflowError, ValueError):
            return None
        scales = f._ints(cid, "SECONDARY", n_valid, signed=True)
        shift = int(t.scale) - scales
        if len(shift) and (shift.min() < 0 or shift.max() > 18):
            return None  # per-value scale above declared: generic
        if len(mants):
            pow10 = np.power(10.0, shift.astype(np.float64))
            # conservative overflow guard in float space
            if np.max(np.abs(mants.astype(np.float64)) * pow10) \
                    >= 2**62:
                return None
        unscaled = mants * (10 ** shift.astype(np.int64)) \
            if len(mants) else mants
        if valid is not None:
            unscaled = _scatter(unscaled, valid)
        n_out = len(valid) if valid is not None else n_valid
        buf = np.empty((n_out, 2), "<i8")
        buf[:, 0] = unscaled
        buf[:, 1] = unscaled >> 63  # sign extension
        vb = None if valid is None else _validity(valid)
        nulls = 0 if valid is None else int(n_out - valid.sum())
        out = pa.Array.from_buffers(
            pa.decimal128(t.precision, t.scale), n_out,
            [vb, pa.py_buffer(buf.tobytes())], null_count=nulls)
        out.validate(full=True)
        if not ft.equals(out.type):
            out = out.cast(ft)
        return out
    if k == "union":
        # whole-array union -> sparse tag/_u* struct (r4): byte-RLE
        # tags, each variant's child decoded densely (ORC stores only
        # the rows belonging to that variant) then take-expanded to
        # the slots where its tag matches; all other slots null
        raw = f._stream(cid, "DATA") or b""
        tags = byterle.decode(raw, n_valid).astype(np.int8)
        children = [pa.array(_scatter(tags, valid), mask=~valid)
                    if valid is not None else pa.array(tags)]
        fields = [ft.field(0)]  # "tag"
        for vi, ccid in enumerate(t.children):
            cft = ft.field(vi + 1).type
            sel = tags == vi
            cnt = int(sel.sum())
            ch = _fast_arrow(f, ccid, cnt, cft)
            if ch is None:
                return None
            # expand: rows of THIS variant draw consecutive child
            # values; every other row is null
            idx = np.zeros(n_valid, np.int64)
            idx[sel] = np.arange(cnt)
            if valid is not None:
                full_sel = _scatter(sel, valid)
                idx = _scatter(idx, valid)
            else:
                full_sel = sel
            ch = ch.take(pa.array(idx, mask=~full_sel))
            children.append(ch)
            fields.append(ft.field(vi + 1))
        if valid is None:
            return pa.StructArray.from_arrays(children, fields=fields)
        return pa.StructArray.from_arrays(children, fields=fields,
                                          mask=pa.array(~valid))
    return None  # zoned timestamps: generic row path


def _validity(valid):
    """np.bool_ PRESENT array -> Arrow validity bitmap buffer."""
    import numpy as np
    import pyarrow as pa
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())


def _scatter(vals, valid):
    """Spread n_valid decoded values into n row slots (zeros where
    null — masked off by the validity bitmap)."""
    import numpy as np
    full = np.zeros(len(valid), dtype=vals.dtype)
    full[np.flatnonzero(valid)] = vals
    return full


def stride_keep(f: ORCFile, si: int, preds: list[tuple],
                col_ids: dict[str, int]
                ) -> tuple[list[int], int] | None:
    """(row-group strides of stripe ``si`` that can match ``preds``,
    total stride count), from ROW_INDEX per-stride stats —
    intersected with per-stride bloom filters for ``==`` predicates
    on STRING-family columns (BLOOM_FILTER_UTF8 hashes UTF-8 bytes;
    numeric columns use a different hash family and must not be
    consulted).  None = no usable index (decode the whole stripe)."""
    if not f.row_index_stride or not preds:
        return None
    n_rows = f.stripes[si].get(5, [0])[0]
    stride = f.row_index_stride
    n_strides = (n_rows + stride - 1) // stride
    all_idx = f._row_indexes(si)
    keep = set(range(n_strides))
    for col, op, val in preds:
        if col not in col_ids:
            continue  # evolved-away column: every stride may match
        cid = col_ids[col]
        entries = all_idx.get(cid, [])
        if len(entries) < n_strides:
            return None  # index missing/short: no stride pruning
        keep = {t for t in keep
                if _stats_can_match(entries[t]["stats"], op, val)}
        if op == "==" and isinstance(val, (str, bytes)) and \
                f.types[cid].kind in ("string", "varchar", "char"):
            bs = f.bloom_strides(si, cid, val)
            if bs is not None:
                keep &= set(bs)
        elif op == "in" and \
                f.types[cid].kind in ("string", "varchar", "char") \
                and all(isinstance(v, (str, bytes)) for v in val):
            # finite disjunction: a stride survives if ANY listed
            # value may be present — union the per-value bloom sets
            acc: set[int] = set()
            usable = True
            for v in val:
                bs = f.bloom_strides(si, cid, v)
                if bs is None:
                    usable = False
                    break
                acc |= set(bs)
            if usable:
                keep &= acc
    return sorted(keep), n_strides


def _plan_distributed(spark, files: list[str], predicate,
                      expect_type: str | None,
                      strict_cols: bool = True,
                      with_types: bool = False) -> DataFrame:
    """Executor-side planning for large file sets: each planning task
    opens its files' TAILS (mmap, footer pages only) and emits kept
    (path, stripe) rows — the driver opens only the FIRST file (for
    the schema) and the task list never lives in driver memory.
    Same pruning and schema-drift validation as ``plan_tasks``
    (a drifted file fails the planning task loudly).
    ``with_types`` (evolve mode, r5) adds one SENTINEL row per file
    (stripe=-1, rows=0) carrying the file's canonical type string —
    the widened union schema aggregates from the same single footer
    pass, and fully-pruned files still contribute their type (the
    result schema must not depend on which stripes a predicate
    kept)."""
    import pyarrow as pa
    fdf = spark.createDataFrame([(f,) for f in files], "path string") \
        .repartition(min(len(files), 256))

    def kern(batches):
        for b in batches:
            paths, stripes, rows, typs = [], [], [], []
            for p in b.column("path").to_pylist():
                # row counts ride out of the SAME footer pass (one
                # ORCFile open per file — r4 review fix)
                touts: list[str] | None = [] if with_types else None
                kept, _ = plan_tasks([p], predicate, expect_type,
                                     with_rows=True,
                                     strict_cols=strict_cols,
                                     types_out=touts)
                if with_types:
                    paths.append(p)
                    stripes.append(-1)
                    rows.append(0)
                    typs.append(touts[0])
                for q, si, r in kept:
                    paths.append(q)
                    stripes.append(si)
                    rows.append(r)
                    typs.append("")
            arrays = [pa.array(paths, pa.string()),
                      pa.array(stripes, pa.int32()),
                      pa.array(rows, pa.int64())]
            names = ["path", "stripe", "rows"]
            if with_types:
                arrays.append(pa.array(typs, pa.string()))
                names.append("typ")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "path string, stripe int, rows long"
    if with_types:
        schema += ", typ string"
    return fdf.mapInArrow(kern, schema)


# files above this count plan on executors instead of the driver
DRIVER_PLAN_MAX_FILES = 64


class _ScanContext:
    """Everything a task needs to decode one (file, stripe) into an
    Arrow batch — plain picklable state (orctypes nodes + predicate
    tuples), shared by the mapInArrow kernel AND the Python
    DataSource reader (sources/datasource.py)."""

    def __init__(self, root: orctypes.OrcType, preds: list[tuple],
                 sel: list[str] | None, ts_nanos: bool):
        self.root_names = root.field_names
        self.root_children = root.children
        self.conv_flags = [_needs_conv(c) for c in root.children]
        self.preds = preds
        self.sel = sel
        self.ts_nanos = ts_nanos
        self._schema = None

    @property
    def arrow_schema(self):
        import pyarrow as pa
        if self._schema is None:
            self._schema = pa.schema(
                [(fn, orc_arrow(c, self.ts_nanos))
                 for fn, c in zip(self.root_names, self.root_children)])
        return self._schema

    def __getstate__(self):
        st = dict(self.__dict__)
        st["_schema"] = None  # rebuilt lazily worker-side
        return st

    def open(self, path: str) -> ORCFile:
        f = ORCFile(path)
        if self.sel:
            have = set(_root_col_ids(f))
            f.select(*[c for c in self.sel if c in have])
        return f

    def decode_stripe(self, f: ORCFile, si: int):
        """One stripe -> pa.RecordBatch (None = fully pruned)."""
        import pyarrow as pa
        cols = None
        if self.preds:
            # row-group skip INSIDE the stripe: ROW_INDEX per-stride
            # stats (+ bloom for ==) decide which strides to
            # decompress; stride-restart files slice streams, others
            # fall back whole-stripe.  _pred_col_ids resolves dotted
            # nested-leaf predicates to their leaf ids (r5).
            cids = _pred_col_ids(f, self.preds, strict=False)
            kept = stride_keep(f, si, self.preds, cids)
            if kept is not None:
                ks, n_str = kept
                if not ks:
                    return None  # no stride can match
                if len(ks) < n_str:
                    try:
                        rows = f.read_stripe_strides(si, ks)
                        if f.types[0].kind != "struct":
                            cols = {"value": rows}
                        else:
                            cols = {fn: [None if r is None
                                         else _dig(r, fn.split("."))
                                         for r in rows]
                                    for fn in self.root_names}
                    except ValueError:
                        cols = None
        arrays = []
        if cols is None:
            # column-major decode: supported type trees (incl.
            # PRESENT-bearing and nested list/struct/map) build
            # whole-array via _fast_arrow with zero per-row Python;
            # timestamp/decimal/union subtrees take the generic
            # row path with _conv skipped for identity types
            n_rows = f._load_stripe_directory(si)
            v0, nv0 = f._present(0, n_rows)
            if v0 is not None and nv0 != n_rows:
                if any("." in fn for fn in self.root_names):
                    # dotted projection under a null-bearing root
                    # struct (pathological): extract from full rows
                    rows = f._read_column(0, n_rows)
                    cols = {fn: [None if r is None
                                 else _dig(r, fn.split("."))
                                 for r in rows]
                            for fn in self.root_names}
                else:
                    cols, _ = f.read_stripe_columns(si)
            else:
                cids = _root_col_ids(f)
                cols = {}
                for fn in self.root_names:
                    ft = self.arrow_schema.field(fn).type
                    if "." in fn and fn not in cids:
                        # dotted nested-field projection (r5): decode
                        # ONLY the ancestor PRESENT chain + the
                        # target subtree — sibling streams stay
                        # compressed (reference cursor.go:29-45)
                        try:
                            ids = f.resolve_path(fn)
                        except ValueError:
                            # evolve mode: file predates the field
                            arrays.append(pa.nulls(n_rows, ft))
                            continue
                        valids, cnt = f.path_present_chain(ids, n_rows)
                        try:
                            fast = _fast_arrow(f, ids[-1], cnt, ft)
                        except ValueError:  # malformed UTF-8
                            fast = None
                        if fast is not None:
                            arrays.append(_ancestor_expand(fast,
                                                           valids))
                        else:
                            cols[fn] = f.read_path(ids, n_rows)
                            arrays.append(None)
                        continue
                    if fn not in cids:
                        # schema evolution: this file predates the
                        # column — null-fill (name-based, the Spark
                        # convention)
                        arrays.append(pa.nulls(n_rows, ft))
                        continue
                    try:
                        fast = _fast_arrow(f, cids[fn], n_rows, ft)
                    except ValueError:
                        # malformed UTF-8 (ArrowInvalid) or a string
                        # column past int32 offsets: the list path
                        # replace-decodes instead
                        fast = None
                    if fast is not None:
                        arrays.append(fast)
                    else:
                        cols[fn] = f._read_column(cids[fn], n_rows)
                        arrays.append(None)
        if not arrays:
            arrays = [None] * len(self.root_names)
        for i, (fn, node, needs) in enumerate(
                zip(self.root_names, self.root_children,
                    self.conv_flags)):
            if arrays[i] is not None:
                continue
            if fn not in cols:
                # evolved-away column on a row-path branch
                n_here = max((len(v) for v in cols.values()),
                             default=0)
                arrays[i] = pa.nulls(
                    n_here, self.arrow_schema.field(fn).type)
                continue
            vals = cols[fn]
            if needs:
                vals = [_conv(node, v, self.ts_nanos) for v in vals]
            arrays[i] = pa.array(
                vals, type=self.arrow_schema.field(fn).type)
        return pa.RecordBatch.from_arrays(arrays,
                                          schema=self.arrow_schema)


def orc_scan(spark, path: str | list[str],
             columns: list[str] | None = None,
             predicate=None, timestamp_nanos: bool = False,
             evolve: bool = False, on_error: str = "fail",
             declared_type: str | None = None) -> DataFrame:
    """Read a ``.orc`` file or directory of ``.orc`` files into a
    DataFrame via our codec kernels, one task per (file, stripe).

    ``on_error="skip"`` (r5) is the salvage mode a 100 TB lake needs
    when a handful of objects are corrupt: stripes that fail to
    decode are DROPPED (logged to executor stderr) instead of
    failing the job — pair it with ``orc_scan_errors`` for the
    quarantine report of exactly what was skipped.  The default
    stays fail-loud: silently missing rows are only acceptable when
    explicitly requested.

    ``timestamp_nanos=True`` surfaces timestamp columns as LONG
    wall-clock nanoseconds since epoch (lossless — Spark's own
    timestamp type is microsecond precision and would truncate ORC's
    nano field).

    ``evolve=True`` reads an EVOLVING directory by name (the Spark
    convention) under the files' WIDENED UNION schema (r5 — Java
    ORC's ConvertTreeReader lossless subset, ``orctypes.widen``):
    integer kinds read as the widest present, float+double as
    double, char/varchar/string as string, decimals at union
    precision/scale, structs as the by-name field union; files
    missing a column null-fill it.  The union comes from the SAME
    planning footer pass that prunes stripes (never a second open),
    so the result schema is stable regardless of predicates.
    Predicates on evolved columns stay exact (files without the
    column cannot prune and their rows are NULL -> filtered).
    Default False keeps the fail-loud drift check — silent
    null-filling of a TYPO'd directory is worse than an error.

    ``path`` may be an explicit FILE LIST (r5): snapshot-managed
    tables (orctable) resolve their file sets from manifests, not
    directory listings — on an object store the manifest IS the
    listing.  ``declared_type`` (r5) supplies an authoritative union
    root as a canonical ORC type string: files read name-based under
    it exactly like evolve mode, but the schema is the CALLER's
    contract (a table snapshot records it), so no footer-union pass
    runs and no per-file drift check applies."""
    import pyarrow as pa

    if on_error not in ("fail", "skip"):
        raise ValueError(f"orc_scan: on_error must be 'fail' or "
                         f"'skip', got {on_error!r}")
    if isinstance(path, list):
        if not path:
            raise ValueError("orc_scan: empty file list")
        files = list(path)
    else:
        files = orc_files(path)
    planned_tdf = planned_agg = planned_tasks = None
    if declared_type is not None:
        evolve = False  # declared root wins; name-based mapping below
    if evolve:
        # plan FIRST: the union schema needs every file's type, and
        # the planning pass already opens every footer
        if len(files) > DRIVER_PLAN_MAX_FILES:
            planned_tdf = _plan_distributed(
                spark, files, predicate, None, strict_cols=False,
                with_types=True).localCheckpoint(eager=True)
            planned_agg = planned_tdf.agg(
                F.count(F.when(F.col("stripe") >= 0, 1)).alias("n"),
                F.sum("rows").alias("r")).first()
            # distinct type strings only (a million-file lake has a
            # handful), ordered by first appearance so files[0]'s
            # field order seeds the union — same result as the
            # driver path
            trows = planned_tdf.where("stripe < 0") \
                .groupBy("typ").agg(F.min("path").alias("p")) \
                .collect()
            type_strs = [r["typ"] for r in
                         sorted(trows, key=lambda r: r["p"])]
        else:
            touts: list[str] = []
            planned_tasks, _ = plan_tasks(files, predicate, None,
                                          with_rows=True,
                                          strict_cols=False,
                                          types_out=touts)
            type_strs = list(dict.fromkeys(touts))
        full_root = orctypes.parse_orc_type(type_strs[0])
        for s in type_strs[1:]:
            full_root = orctypes.widen(full_root,
                                       orctypes.parse_orc_type(s))
    elif declared_type is not None:
        full_root = orctypes.parse_orc_type(declared_type)
    else:
        full_root = orctypes.type_from_file(files[0])
    lax = evolve or declared_type is not None
    expect_type = None if lax else full_root.orc_string()
    if full_root.kind != "struct":
        # bare non-struct root: surface as one column named "value"
        # (mirrors read_stripe_columns / _root_col_ids)
        full_root = orctypes.OrcType("struct", [full_root], ["value"])
    preds = _pred_list(predicate)
    for col, _, _ in preds:
        if col not in full_root.field_names:
            # dotted nested-leaf predicates (r5) validate by
            # resolving against the type tree
            if "." not in col:
                raise ValueError(
                    f"orc_scan: predicate column {col!r} not in "
                    f"{full_root.field_names}")
            _subtree(full_root, col)  # raises with the fields on miss
    root = full_root
    if columns:
        missing = [c for c in columns
                   if "." not in c and c not in root.field_names]
        if missing:
            raise ValueError(f"orc_scan: no such column(s) {missing}; "
                             f"file has {root.field_names}")
        # the INTERNAL projection also carries predicate columns so
        # the residual filter can run; they are dropped from the
        # public result below
        need = set(columns) | {c for c, _, _ in preds}
        keep = [(fn, c) for fn, c in
                zip(root.field_names, root.children) if fn in need]
        # dotted paths (r5): each becomes ONE flattened output column
        # named by the literal path, typed as the resolved subtree
        # (reference cursor Select semantics, cursor.go:29-45)
        kept_names = {fn for fn, _ in keep}
        for c in list(columns) + [p for p, _, _ in preds]:
            if "." in c and c not in kept_names:
                keep.append((c, _subtree(full_root, c)))
                kept_names.add(c)
        root = orctypes.OrcType(
            "struct", [c for _, c in keep], [fn for fn, _ in keep])
    schema = _spark_of(root, timestamp_nanos)
    # plain-dict closure state for the kernel (no Spark objects)
    root_children = root.children
    root_names = root.field_names
    # select() operates on ROOT fields: a dotted path contributes its
    # top segment so row-path fallbacks still see the subtree
    sel = list(dict.fromkeys(c.split(".")[0] for c in root_names)) \
        if columns else None

    def n_parts(n_tasks: int, total_rows: int) -> int:
        # one task per stripe unless stripes are tiny: then group
        # toward _TARGET_ROWS_PER_TASK rows/task (never below the
        # cluster's parallelism) so scheduling overhead stays small
        want = max(-(-total_rows // _TARGET_ROWS_PER_TASK),
                   spark.sparkContext.defaultParallelism)
        return max(1, min(n_tasks, want))

    if planned_tdf is not None or (planned_tasks is None and
                                   len(files) > DRIVER_PLAN_MAX_FILES):
        # pruning + drift validation run distributed and the task
        # list never hits the driver.  localCheckpoint materializes
        # the planned list ON EXECUTORS in one pass (r4): without it
        # the count/sum agg executed the planning scan and the
        # repartitioned read re-executed it — every footer opened
        # twice, wasteful at millions of files.  Planning blocks are
        # executor-local (a lost executor re-plans from lineage is
        # traded away for the single pass — standard for task lists).
        if planned_tdf is not None:  # evolve: planned above
            tdf, agg = planned_tdf.where("stripe >= 0") \
                .drop("typ"), planned_agg
        else:
            tdf = _plan_distributed(spark, files, predicate,
                                    expect_type,
                                    strict_cols=not lax) \
                .localCheckpoint(eager=True)
            agg = tdf.agg(F.count("*").alias("n"),
                          F.sum("rows").alias("r")).first()
        n_tasks = agg["n"]
        if n_tasks == 0:
            out = spark.createDataFrame([], schema)
            return out.select(
                *[F.col(f"`{c}`") if "." in c else F.col(c)
                  for c in columns]) if columns else out
        tdf = tdf.drop("rows") \
            .repartition(n_parts(n_tasks, agg["r"] or 0))
    else:
        tasks = planned_tasks
        if tasks is None:
            tasks, _ = plan_tasks(files, predicate, expect_type,
                                  with_rows=True,
                                  strict_cols=not lax)
        if not tasks:
            out = spark.createDataFrame([], schema)
            return out.select(
                *[F.col(f"`{c}`") if "." in c else F.col(c)
                  for c in columns]) if columns else out
        # kept-stripe rows ride along from the SAME footer pass (no
        # second ORCFile open per file — r4 review fix)
        total_rows = sum(r for _, _, r in tasks)
        tdf = spark.createDataFrame(
            [(p, si) for p, si, _ in tasks],
            "path string, stripe int") \
            .repartition(n_parts(len(tasks), total_rows))

    ctx = _ScanContext(root, preds, sel, timestamp_nanos)

    skip_errors = on_error == "skip"

    def kernel(batches):
        import sys

        from orc_spark._alloc import tune_worker
        tune_worker()  # mallopt thresholds: heap reuse across stripes
        readers: dict[str, ORCFile] = {}
        for b in batches:
            for p, si in zip(b.column("path").to_pylist(),
                             b.column("stripe").to_pylist()):
                try:
                    f = readers.get(p)
                    if f is None:
                        f = ctx.open(p)
                        readers[p] = f
                    batch = ctx.decode_stripe(f, si)
                except Exception as e:
                    if not skip_errors:
                        raise
                    print(f"orc_scan: SKIPPED corrupt stripe "
                          f"{si} of {p}: {e!r}", file=sys.stderr)
                    continue
                if batch is None:
                    continue
                # zero-copy slices: a 1M-row stripe must not cross
                # the Arrow bridge as one multi-hundred-MB batch
                for off in range(0, batch.num_rows, _BATCH_ROWS):
                    yield batch.slice(off, _BATCH_ROWS)

    out = tdf.mapInArrow(kernel, schema)
    for col, op, val in preds:
        # a dotted predicate references the LITERAL flattened column
        # when projected (backticks), or the nested struct field when
        # the full schema is surfaced
        c = F.col(f"`{col}`") if "." in col and col in root_names \
            else F.col(col)
        cond = {">=": c >= val, ">": c > val, "<=": c <= val,
                "<": c < val, "==": c == val}.get(op)
        if cond is None:
            if op == "between":
                cond = c.between(val[0], val[1])
            elif op == "in":
                cond = c.isin(list(val))
            else:                        # prefix
                cond = c.startswith(val)
        out = out.where(cond)
    if columns:
        out = out.select(*[F.col(f"`{c}`") if "." in c else F.col(c)
                           for c in columns])
    return out


def orc_scan_errors(spark, path: str,
                    timestamp_nanos: bool = False) -> DataFrame:
    """Corruption audit over a ``.orc`` lake (r5): attempt a full
    decode of EVERY stripe of every file and emit one row per
    failure — ``(path, stripe, error)``; stripe -1 means the file's
    footer/schema itself failed to open.  An empty result proves the
    lake decodes end to end.  Distributed one task per file batch;
    the quarantine report to pair with ``orc_scan(on_error='skip')``
    before deleting or re-ingesting objects."""
    import pandas as pd

    files = orc_files(path, "orc_scan_errors")
    fdf = spark.createDataFrame([(f,) for f in files],
                                "path string") \
        .repartition(min(len(files), 256))
    ts_nanos = timestamp_nanos

    def kern(batches):
        from orc_spark._alloc import tune_worker
        tune_worker()
        for pdf in batches:
            paths, stripes, errors = [], [], []
            for p in pdf["path"]:
                try:
                    f = ORCFile(p)
                    root = orctypes.type_from_file(p)
                    if root.kind != "struct":
                        root = orctypes.OrcType("struct", [root],
                                                ["value"])
                    ctx = _ScanContext(root, [], None, ts_nanos)
                    fh = ctx.open(p)
                except Exception as e:
                    paths.append(p)
                    stripes.append(-1)
                    errors.append(repr(e)[:500])
                    continue
                for si in range(len(f.stripes)):
                    try:
                        ctx.decode_stripe(fh, si)
                    except Exception as e:
                        paths.append(p)
                        stripes.append(si)
                        errors.append(repr(e)[:500])
            yield pd.DataFrame({"path": pd.Series(paths, dtype=object),
                                "stripe": pd.Series(stripes,
                                                    dtype="int32"),
                                "error": pd.Series(errors,
                                                   dtype=object)})

    return fdf.mapInPandas(kern,
                           "path string, stripe int, error string")


def orc_arrow(node: orctypes.OrcType, ts_nanos: bool = False):
    """Arrow type matching ``_spark_of`` (union -> sparse struct,
    decimal -> decimal128(p,s) exact, timestamp -> us-naive, or int64
    wall-clock nanos under ``ts_nanos``)."""
    import pyarrow as pa
    k = node.kind
    if k == "decimal":
        return pa.decimal128(node.precision, node.scale)
    if k == "timestamp":
        return pa.int64() if ts_nanos else pa.timestamp("us")
    prim = {"boolean": pa.bool_(), "byte": pa.int8(),
            "short": pa.int16(), "int": pa.int32(),
            "long": pa.int64(), "float": pa.float32(),
            "double": pa.float64(), "string": pa.string(),
            "char": pa.string(), "varchar": pa.string(),
            "binary": pa.binary(), "date": pa.date32()}
    if k in prim:
        return prim[k]
    if k == "list":
        return pa.list_(orc_arrow(node.children[0], ts_nanos))
    if k == "map":
        return pa.map_(orc_arrow(node.children[0], ts_nanos),
                       orc_arrow(node.children[1], ts_nanos))
    if k == "struct":
        return pa.struct([(fn, orc_arrow(c, ts_nanos))
                          for fn, c in zip(node.field_names,
                                           node.children)])
    if k == "union":
        fields = [("tag", pa.int8())]
        fields += [(f"_u{i}", orc_arrow(c, ts_nanos))
                   for i, c in enumerate(node.children)]
        return pa.struct(fields)
    raise ValueError(f"orc_scan: unsupported ORC kind {k}")
