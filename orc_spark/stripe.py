"""Stripe assembly: per-column encode/decode of Arrow batches.

Re-creates the reference's stripe/stream layout (scritchley/orc
writer.go:320-481 stripe flush, streamname.go:29-36 stream kinds,
treewriter.go per-type column writers, columnstatistics.go stats) as a
DataFrame-friendly row model: **one row per stripe**, with one binary
column per (column, stream-kind) pair named ``{col}__{KIND}`` so that
Parquet column pruning on the encoded table mirrors the reference's
"only selected columns' streams are read" projection (reader.go:418-451).

Stream kinds used: PRESENT (null bitmap, boolean codec; elided when a
column has no nulls, treewriter.go:130-141), DATA, LENGTH,
DICTIONARY_DATA. All stream payloads are chunk-framed-compressed
(compression.py). Statistics per column (count/hasNull/min/max/sum,
columnstatistics.go:72-222) ride along as JSON for the footer rollup.

Everything here is executor-side pure python/numpy/pyarrow — the Spark
layer invokes it from mapInPandas kernels.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codecs import bits, byterle, compression, dictionary, fsst, rle2

TIMESTAMP_BASE_SECONDS = 1420070400  # 2015-01-01 (treereader.go:128-131)

# shared stripe-TABLE codec default (r6): zstd — every module that
# encodes or decodes the stripe-table row format (operators/encode,
# checkpoint, verify, export, streaming encode) references THIS
# constant so write/read defaults can never diverge; the .orc FILE
# writer/reader keep their own explicit codecs (reference interop)
DEFAULT_CODEC = "zstd"

# supported logical types
INT_TYPES = {"tinyint": np.int8, "smallint": np.int16, "int": np.int32,
             "bigint": np.int64}


class ColumnSpec:
    """One column of the stripe schema: name + logical type string.

    Scalar/fast-path types: tinyint smallint int bigint | float double
    | boolean | string | binary | date | timestamp | decimal(p,s) |
    list<int-like> (the token fast path).

    Nested types (r3, the treewriter.go:722-1132 tree-encoder analog
    in the stripe table): struct<name:T,...>, map<K,V>, and list<T>
    for any supported T (including list<string> and deeper nesting).
    A nested column encodes its whole subtree — per-node PRESENT /
    LENGTH / leaf streams — into ONE self-describing DATA blob, so
    stream_columns() stays one Parquet column per top-level field and
    projection pushdown keeps working at the level users project on.
    """

    def __init__(self, name: str, typ: str):
        self.name = name
        self.typ = typ

    @property
    def is_list(self) -> bool:
        return self.typ.startswith("list<")

    @property
    def child_typ(self) -> str:
        return self.typ[5:-1]

    @property
    def is_decimal(self) -> bool:
        return self.typ.startswith("decimal")

    @property
    def is_nested(self) -> bool:
        """True for struct/map columns and lists whose element type is
        not the integer token fast path."""
        if self.typ.startswith(("struct<", "map<")):
            return True
        return self.is_list and self.child_typ not in INT_TYPES

    def decimal_params(self) -> tuple[int, int]:
        p, s = self.typ[8:-1].split(",")
        return int(p), int(s)

    def stream_kinds(self) -> list[str]:
        if self.is_nested:
            return ["DATA"]
        if self.is_list:
            return ["PRESENT", "LENGTH", "DATA", "DICTIONARY_DATA"]
        if self.typ in INT_TYPES:
            return ["PRESENT", "DATA", "DICTIONARY_DATA"]
        if self.typ in ("string", "binary"):
            return ["PRESENT", "DATA", "LENGTH", "DICTIONARY_DATA"]
        if self.typ == "timestamp" or self.is_decimal:
            return ["PRESENT", "DATA", "SECONDARY"]
        return ["PRESENT", "DATA"]


def parse_schema(schema: dict[str, str] | list[tuple[str, str]]) -> list[ColumnSpec]:
    items = schema.items() if isinstance(schema, dict) else schema
    return [ColumnSpec(n, t) for n, t in items]


def parse_schema_string(s: str) -> list[ColumnSpec]:
    """Parse a Hive-style schema string — the ParseSchema equivalent
    (typedescription.go:709-711, grammar 215-335) restricted to one
    struct level of supported types, e.g.
    ``struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>``.
    ``array<T>`` maps to our ``list<T>`` spec type."""
    s = s.strip()
    if not (s.startswith("struct<") and s.endswith(">")):
        raise ValueError(f"expected struct<...>, got: {s[:40]}")
    body = s[7:-1]
    cols: list[tuple[str, str]] = []
    depth = 0
    field = ""
    for ch in body + ",":
        if ch == "," and depth == 0:
            if field.strip():
                name, typ = field.split(":", 1)
                typ = typ.strip().replace("array<", "list<")
                cols.append((name.strip(), typ))
            field = ""
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        field += ch
    return parse_schema(cols)


def schema_string(specs: list[ColumnSpec]) -> str:
    inner = ",".join(
        f"{s.name}:{s.typ.replace('list<', 'array<')}" for s in specs)
    return f"struct<{inner}>"


TOKEN_SCHEMA = parse_schema([
    ("doc_id", "string"),
    ("tokens", "list<int>"),
    ("n_tok", "int"),
    ("source", "string"),
])


def stream_columns(specs: list[ColumnSpec]) -> list[str]:
    return [f"{s.name}__{k}" for s in specs for k in s.stream_kinds()]


# ---------------------------------------------------------------------------
# Nested type trees (struct / map / list<T>)
# ---------------------------------------------------------------------------


def _split_top(body: str) -> list[str]:
    """Split on top-level commas only (nested <...> / (...) kept)."""
    out: list[str] = []
    depth = 0
    cur = ""
    for ch in body + ",":
        if ch == "," and depth == 0:
            if cur.strip():
                out.append(cur.strip())
            cur = ""
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        cur += ch
    return out


def parse_type(t: str):
    """Type string -> node tree: ("scalar", typ) | ("list", child) |
    ("struct", [(name, child), ...]) | ("map", key, value).  The
    typedescription.go grammar restricted to supported types; array<>
    is accepted as an alias of list<>."""
    t = t.strip()
    if t.startswith("struct<") and t.endswith(">"):
        fields = []
        for f in _split_top(t[7:-1]):
            name, ft = f.split(":", 1)
            fields.append((name.strip(), parse_type(ft)))
        return ("struct", fields)
    if t.startswith("map<") and t.endswith(">"):
        k, v = _split_top(t[4:-1])
        return ("map", parse_type(k), parse_type(v))
    if (t.startswith("list<") or t.startswith("array<")) and t.endswith(">"):
        return ("list", parse_type(t[t.index("<") + 1:-1]))
    return ("scalar", t)


_ARROW_SCALARS = {
    "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
    "bigint": pa.int64(), "float": pa.float32(), "double": pa.float64(),
    "boolean": pa.bool_(), "string": pa.string(), "binary": pa.binary(),
    "date": pa.date32(), "timestamp": pa.timestamp("us"),
}


def _arrow_of(node) -> pa.DataType:
    kind = node[0]
    if kind == "scalar":
        t = node[1]
        if t.startswith("decimal"):
            p, s = t[8:-1].split(",")
            return pa.decimal128(int(p), int(s))
        return _ARROW_SCALARS[t]
    if kind == "list":
        return pa.list_(_arrow_of(node[1]))
    if kind == "struct":
        return pa.struct([pa.field(n, _arrow_of(c)) for n, c in node[1]])
    return pa.map_(_arrow_of(node[1]), _arrow_of(node[2]))


def arrow_type_of(typ: str) -> pa.DataType:
    """Arrow type for a spec type string (nested types included)."""
    return _arrow_of(parse_type(typ))


def _encode_nested(arr: pa.Array, spec: ColumnSpec,
                   use_fsst: bool) -> tuple[str, dict, dict]:
    """Encode a nested column's whole subtree into ONE self-describing
    DATA blob: [u32 header_len][header JSON][stream bytes...].  The
    header lists the tree's nodes in pre-order; each node records its
    row count, leaf encoding, and which byte slice holds each of its
    streams.  Scalar leaves reuse encode_column (the same codecs as
    flat columns: RLE v2, dict auto-selection, FSST); struct/list/map
    nodes write PRESENT/LENGTH streams exactly like the .orc tree
    writer (sources/orcwriter._encode_node; treewriter.go:722-1132).
    One blob per top-level column keeps Parquet projection pushdown
    at the granularity users project on, and the whole blob is
    chunk-compressed once by encode_stripe — small child streams
    share a compression context instead of each paying chunk
    overhead."""
    parts: list[bytes] = []
    nodes: list[dict] = []

    def add_stream(rec, kind, data):
        if data is None or len(data) == 0:
            return
        rec["s"][kind] = len(parts)
        parts.append(bytes(data))

    def walk(node, a):
        if isinstance(a, pa.ChunkedArray):
            a = a.combine_chunks()
        kind = node[0]
        rec: dict = {"n": len(a), "s": {}}
        nodes.append(rec)
        if kind == "scalar":
            enc, streams, _ = encode_column(a, ColumnSpec("v", node[1]),
                                            use_fsst)
            rec["e"] = enc
            for sk in ("PRESENT", "DATA", "LENGTH", "DICTIONARY_DATA",
                       "SECONDARY"):
                add_stream(rec, sk, streams.get(sk))
            return
        valid = None
        if a.null_count:
            valid = np.asarray(a.is_valid())
            add_stream(rec, "PRESENT", byterle.encode_bools(valid))
        if kind == "struct":
            for i, (_, child) in enumerate(node[1]):
                carr = a.field(i)
                if valid is not None:
                    carr = carr.filter(pa.array(valid))
                walk(child, carr)
            return
        # list / map: drop_null (the filter kernel compacts offsets
        # AND values), LENGTH stream, recurse into flattened children
        data = a.drop_null() if a.null_count else a
        nn = len(data)
        offsets = np.asarray(data.offsets)[:nn + 1].astype(np.int64)
        lengths = np.diff(offsets) if nn else np.zeros(0, np.int64)
        add_stream(rec, "LENGTH", rle2.encode(lengths, signed=False))
        lo = int(offsets[0]) if nn else 0
        hi = int(offsets[-1]) if nn else 0
        if kind == "list":
            walk(node[1], data.values[lo:hi])
        else:
            walk(node[1], data.keys[lo:hi])
            walk(node[2], data.items[lo:hi])

    walk(parse_type(spec.typ), arr)
    header = json.dumps({"nodes": nodes,
                         "lens": [len(p) for p in parts]}).encode()
    blob = len(header).to_bytes(4, "little") + header + b"".join(parts)
    n_valid = len(arr) - arr.null_count
    return "NESTED", {"DATA": blob}, {"count": n_valid}


def _decode_nested(streams: dict, spec: ColumnSpec,
                   n_rows: int) -> pa.Array:
    """Inverse of _encode_nested: parse the blob header, slice each
    node's streams, and rebuild the Arrow array tree (null-aware:
    children were encoded on parent-present rows only and are
    re-expanded on decode)."""
    blob = streams.get("DATA")
    if blob is None:
        return pa.nulls(n_rows, arrow_type_of(spec.typ))
    blob = bytes(blob)
    hlen = int.from_bytes(blob[:4], "little")
    header = json.loads(blob[4:4 + hlen].decode())
    lens = header["lens"]
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    base = 4 + hlen
    parts = [blob[base + offs[i]: base + offs[i + 1]]
             for i in range(len(lens))]
    nodes = header["nodes"]
    pos = {"i": 0}

    def expand(child: pa.Array, valid, n):
        if valid is None:
            return child
        idx = np.full(n, -1, dtype=np.int64)
        idx[valid] = np.arange(len(child))
        return child.take(pa.array(
            np.where(idx < 0, None, idx), type=pa.int64()))

    def walk(node):
        rec = nodes[pos["i"]]
        pos["i"] += 1
        n = rec["n"]
        st = {k: parts[v] for k, v in rec["s"].items()}
        kind = node[0]
        if kind == "scalar":
            return decode_column(st, rec.get("e", "DIRECT"),
                                 ColumnSpec("v", node[1]), n)
        pres = st.get("PRESENT")
        valid = byterle.decode_bools(pres, n) if pres is not None else None
        n_valid = int(valid.sum()) if valid is not None else n
        if kind == "struct":
            children = [expand(walk(c), valid, n) for _, c in node[1]]
            mask = pa.array(~valid) if valid is not None else None
            return pa.StructArray.from_arrays(
                children, names=[nm for nm, _ in node[1]], mask=mask)
        lengths = rle2.decode(st.get("LENGTH", b""), n_valid, signed=False)
        if valid is None:
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(lengths, out=offsets[1:])
            mask = None
        else:
            offsets = np.zeros(n + 1, dtype=np.int32)
            exp = np.zeros(n, dtype=np.int64)
            exp[valid] = lengths
            np.cumsum(exp, out=offsets[1:])
            mask = pa.array(~valid)
        off_arr = pa.array(offsets, pa.int32())
        if kind == "list":
            values = walk(node[1])
            return pa.ListArray.from_arrays(off_arr, values, mask=mask)
        keys = walk(node[1])
        items = walk(node[2])
        if mask is None:
            return pa.MapArray.from_arrays(off_arr, keys, items)
        # MapArray.from_arrays has no mask param; a null OFFSET at
        # slot i marks entry i null (null slots have length 0 here,
        # so surrounding spans are unaffected)
        off_list: list = offsets.tolist()
        for i in np.flatnonzero(~valid):
            off_list[i] = None
        return pa.MapArray.from_arrays(pa.array(off_list, pa.int32()),
                                       keys, items)

    return walk(parse_type(spec.typ))


# ---------------------------------------------------------------------------
# Column encoders
# ---------------------------------------------------------------------------


def _present_stream(arr: pa.Array) -> bytes | None:
    """PRESENT boolean stream; None when the column has no nulls
    (null-stream elision, treewriter.go:130-141)."""
    if arr.null_count == 0:
        return None
    valid = np.asarray(arr.is_valid())
    return byterle.encode_bools(valid)


def _int_values(arr: pa.Array) -> np.ndarray:
    """Non-null values of an integer array as int64."""
    if arr.null_count:
        arr = arr.drop_null()
    return np.asarray(arr).astype(np.int64)


# Integer dictionary encoding (engine extension, mirrors the string
# DICT/DIRECT auto-selection): when a stripe's int stream draws from a
# small value set (e.g. token ids over a small effective vocabulary),
# remap to dense sorted-dictionary indexes so the RLE bit width drops
# from bits(max zigzag value) to bits(cardinality).
INT_DICT_MAX_RANGE = 1 << 22  # bincount remap window
INT_DICT_MIN_VALUES = 4096


def _encode_int_stream(vals: np.ndarray) -> tuple[str, dict[str, bytes]]:
    """DATA stream for an int64 array: plain signed RLE v2, or
    dictionary indexes + DICTIONARY_DATA when that is clearly smaller.
    The dictionary stream is [vulong n_keys][RLE v2 signed keys]."""
    n = len(vals)
    if n >= INT_DICT_MIN_VALUES:
        vmin = int(vals.min())
        vmax = int(vals.max())
        rng = vmax - vmin
        if 0 < rng <= INT_DICT_MAX_RANGE:
            counts = np.bincount((vals - vmin).astype(np.int64),
                                 minlength=rng + 1)
            present = np.flatnonzero(counts)
            n_distinct = len(present)
            # width if direct (zigzag of extremes) vs width of indexes
            zz_max = max(bits.zigzag_encode_scalar(vmin),
                         bits.zigzag_encode_scalar(vmax))
            direct_bits = bits.get_closest_aligned_fixed_bits(
                max(zz_max.bit_length(), 1))
            index_bits = bits.get_closest_aligned_fixed_bits(
                max((n_distinct - 1).bit_length(), 1))
            dict_overhead = n_distinct * 3  # keys stream estimate
            if float(n_distinct) / n <= dictionary.DICTIONARY_THRESHOLD and \
                    index_bits < direct_bits and \
                    (direct_bits - index_bits) * n // 8 > dict_overhead:
                remap = np.zeros(rng + 1, dtype=np.int64)
                remap[present] = np.arange(n_distinct)
                indexes = remap[(vals - vmin).astype(np.int64)]
                keys = (present + vmin).astype(np.int64)
                dict_stream = bytearray()
                bits.write_vulong(dict_stream, n_distinct)
                dict_stream.extend(rle2.encode(keys, signed=True))
                return "DICT_INT", {
                    "DATA": rle2.encode(indexes, signed=False),
                    "DICTIONARY_DATA": bytes(dict_stream),
                }
    return "DIRECT", {"DATA": rle2.encode(vals, signed=True)}


def _decode_int_stream(streams: dict, encoding_suffix: str,
                       n: int) -> np.ndarray:
    if encoding_suffix == "DICT_INT":
        dict_stream = streams["DICTIONARY_DATA"]
        n_keys, pos = bits.read_vulong(dict_stream, 0)
        keys = rle2.decode(dict_stream[pos:], int(n_keys), signed=True)
        indexes = rle2.decode(streams["DATA"], n, signed=False)
        return keys[indexes]
    return rle2.decode(streams.get("DATA", b""), n, signed=True)


def _encode_string_like(arr: pa.Array, use_fsst: bool) -> tuple[str, dict, dict]:
    data = arr.drop_null() if arr.null_count else arr
    parts = dictionary.encode(data)
    stats = {"count": len(data),
             "sum_len": int(pc.sum(pc.binary_length(data)).as_py() or 0)}
    if len(data) and not pa.types.is_binary(data.type):
        # min/max only for STRING columns: a bytes min/max would be
        # JSON-serialized as its Python repr ("b'...'"), whose ordering
        # differs from bytes ordering — pruning against it could drop
        # live rows.  Binary columns keep count/sum_len only (pruning
        # conservatively keeps their stripes).
        mm = pc.min_max(data)
        stats.update({"min": str(mm["min"].as_py()),
                      "max": str(mm["max"].as_py())})
    encoding, blob = parts.encoding, parts.blob
    # FSST on the blob when it pays (DICTIONARY_V2_FSST / DIRECT_V2_FSST)
    min_blob = 4096 if parts.indexes is None else 1024
    if use_fsst and len(blob) > min_blob:
        fsst_blob = fsst.encode_blob(blob)
        if len(fsst_blob) < 0.9 * len(blob):
            blob = fsst_blob
            encoding += "_FSST"
    streams = {"LENGTH": rle2.encode(parts.lengths, signed=False)}
    if parts.indexes is None:
        streams["DATA"] = blob
    else:
        streams["DATA"] = rle2.encode(parts.indexes, signed=False)
        streams["DICTIONARY_DATA"] = blob
        stats["dict_size"] = len(parts.lengths)
    return encoding, streams, stats


def encode_column(arr: pa.Array, spec: ColumnSpec,
                  use_fsst: bool = False) -> tuple[str, dict, dict]:
    """Encode one column of one stripe -> (encoding, streams, stats)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if spec.is_nested:
        return _encode_nested(arr, spec, use_fsst)
    streams: dict[str, bytes | None] = {}
    present = _present_stream(arr)
    if present is not None:
        streams["PRESENT"] = present
    n_valid = len(arr) - arr.null_count
    typ = spec.typ

    if typ in INT_TYPES or typ == "date":
        vals = _int_values(arr)
        if typ == "date" or len(vals) == 0:
            streams["DATA"] = rle2.encode(vals, signed=True)
            suffix = "DIRECT"
        else:
            suffix, s = _encode_int_stream(vals)
            streams.update(s)
        stats = {"count": n_valid}
        if len(vals):
            stats.update(min=int(vals.min()), max=int(vals.max()),
                         sum=int(vals.sum()))
        enc_name = "DICTIONARY_INT_V2" if suffix == "DICT_INT" else "DIRECT_V2"
        return enc_name, streams, stats
    if typ in ("float", "double"):
        data = arr.drop_null() if arr.null_count else arr
        vals = np.asarray(data)
        dt = "<f4" if typ == "float" else "<f8"
        streams["DATA"] = vals.astype(dt).tobytes()
        stats = {"count": n_valid}
        if len(vals):
            # NaN is excluded from min/max (ORC-541 semantics) and an
            # NaN sum is omitted — stats-based stripe pruning must
            # never compare against NaN (it would prune live stripes)
            if not np.all(np.isnan(vals)):
                stats.update(min=float(np.nanmin(vals)),
                             max=float(np.nanmax(vals)))
            s = float(vals.sum())
            if not np.isnan(s):
                stats["sum"] = s
        return "DIRECT", streams, stats
    if typ == "boolean":
        data = arr.drop_null() if arr.null_count else arr
        vals = np.asarray(data)
        streams["DATA"] = byterle.encode_bools(vals)
        return "DIRECT", streams, {"count": n_valid,
                                   "true_count": int(vals.sum())}
    if typ == "timestamp":
        data = arr.drop_null() if arr.null_count else arr
        us = np.asarray(data.cast(pa.int64()))  # microseconds since epoch
        secs = np.floor_divide(us, 1_000_000)
        nanos = (us - secs * 1_000_000) * 1000
        streams["DATA"] = rle2.encode(secs - TIMESTAMP_BASE_SECONDS, signed=True)
        streams["SECONDARY"] = rle2.encode(_format_nanos(nanos), signed=False)
        return "DIRECT_V2", streams, {"count": n_valid}
    if typ in ("string", "binary"):
        encoding, s, stats = _encode_string_like(arr, use_fsst)
        streams.update(s)
        return encoding, streams, stats
    if spec.is_decimal:
        from .codecs import decimal as dec_codec
        data = arr.drop_null() if arr.null_count else arr
        _, scale = spec.decimal_params()
        mants = [dec_codec.exact_mantissa(v, scale)
                 for v in data.to_pylist()]
        streams.update(dec_codec.encode_decimals(mants, [scale] * len(mants)))
        return "DIRECT_V2", streams, {"count": n_valid}
    if spec.is_list:
        data = arr.drop_null() if arr.null_count else arr
        n = len(data)
        if n == 0:
            streams["LENGTH"] = b""
            streams["DATA"] = b""
            return "DIRECT_V2", streams, {"count": 0, "total_elems": 0}
        offsets = np.frombuffer(data.buffers()[1], dtype=np.int32,
                                count=n + 1, offset=data.offset * 4)
        lengths = np.diff(offsets).astype(np.int64)
        child = data.values[offsets[0]:offsets[-1]]
        child_vals = np.asarray(child).astype(np.int64)
        streams["LENGTH"] = rle2.encode(lengths, signed=False)
        if len(child_vals):
            suffix, s = _encode_int_stream(child_vals)
            streams.update(s)
        else:
            streams["DATA"] = b""
            suffix = "DIRECT"
        stats = {"count": n_valid, "total_elems": int(lengths.sum())}
        if len(child_vals):
            stats.update(min=int(child_vals.min()), max=int(child_vals.max()),
                         sum=int(child_vals.sum()))
        enc_name = "DICTIONARY_INT_V2" if suffix == "DICT_INT" else "DIRECT_V2"
        return enc_name, streams, stats
    raise ValueError(f"unsupported column type: {typ}")


def _format_nanos(nanos: np.ndarray) -> np.ndarray:
    """formatNanos trailing-zero compaction (utils.go:1206-1220),
    numpy whole-array: the trailing-zero count is bounded (<=7), so a
    7-step masked loop replaces the per-row Python of r2."""
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


def _parse_nanos(v: np.ndarray) -> np.ndarray:
    tz = (v & 7).astype(np.int64)
    base = (v >> np.uint64(3)).astype(np.int64) if v.dtype == np.uint64 \
        else (v >> 3)
    scale = np.where(tz == 0, 1, 10 ** (tz + 1))
    return base * scale


# ---------------------------------------------------------------------------
# Column decoders
# ---------------------------------------------------------------------------


def decode_column(streams: dict, encoding: str, spec: ColumnSpec,
                  n_rows: int) -> pa.Array:
    """Decode one column of one stripe back to an Arrow array."""
    if spec.is_nested:
        return _decode_nested(streams, spec, n_rows)
    present = streams.get("PRESENT")
    if present is not None:
        valid = byterle.decode_bools(present, n_rows)
        n_valid = int(valid.sum())
    else:
        valid = None
        n_valid = n_rows
    typ = spec.typ

    if typ in INT_TYPES or typ == "date":
        sfx = "DICT_INT" if encoding.startswith("DICTIONARY_INT") else ""
        vals = _decode_int_stream(streams, sfx, n_valid)
        if typ == "date":
            return _with_nulls(vals.astype(np.int32), valid, pa.date32())
        return _with_nulls(vals.astype(INT_TYPES[typ]), valid, None)
    if typ in ("float", "double"):
        dt = "<f4" if typ == "float" else "<f8"
        vals = np.frombuffer(streams.get("DATA", b""), dtype=dt)
        return _with_nulls(vals, valid, None)
    if typ == "boolean":
        vals = byterle.decode_bools(streams.get("DATA", b""), n_valid)
        return _with_nulls(vals, valid, None)
    if typ == "timestamp":
        secs = rle2.decode(streams.get("DATA", b""), n_valid, signed=True) + \
            TIMESTAMP_BASE_SECONDS
        nanos = _parse_nanos(
            rle2.decode(streams.get("SECONDARY", b""), n_valid, signed=False))
        us = secs * 1_000_000 + nanos // 1000
        return _with_nulls(us, valid, pa.timestamp("us"))
    if typ in ("string", "binary"):
        return _decode_string_like(streams, encoding, typ, n_valid, valid)
    if spec.is_decimal:
        from decimal import Decimal
        from .codecs import decimal as dec_codec
        prec, scale = spec.decimal_params()
        mants, scales = dec_codec.decode_decimals(streams, n_valid)
        # string construction is context-exempt (scaleb would round
        # >28-digit mantissas under the default context)
        # E{-s}, not E-{s}: signed scale stream (see orcfile.py)
        vals = [Decimal(f"{m}E{-int(s)}")
                for m, s in zip(mants, scales.tolist())]
        out_t = pa.decimal128(prec, scale)
        if valid is None:
            return pa.array(vals, out_t)
        full = [None] * n_rows
        for i, j in enumerate(np.flatnonzero(valid)):
            full[j] = vals[i]
        return pa.array(full, out_t)
    if spec.is_list:
        lengths = rle2.decode(streams.get("LENGTH", b""), n_valid,
                              signed=False)
        total = int(lengths.sum())
        sfx = "DICT_INT" if encoding.startswith("DICTIONARY_INT") else ""
        child = _decode_int_stream(streams, sfx, total)
        child_t = {"int": pa.int32(), "bigint": pa.int64()}.get(
            spec.child_typ, pa.int64())
        offsets = np.zeros(n_valid + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        values = pa.array(child.astype(
            np.int32 if child_t == pa.int32() else np.int64))
        if valid is None:
            return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                            values)
        # re-expand offsets over null slots
        full_offsets = np.zeros(n_rows + 1, dtype=np.int32)
        exp = np.zeros(n_rows, dtype=np.int64)
        exp[valid] = lengths
        np.cumsum(exp, out=full_offsets[1:])
        mask = pa.array(~valid)
        return pa.ListArray.from_arrays(
            pa.array(full_offsets, pa.int32()), values, mask=mask)
    raise ValueError(f"unsupported column type: {typ}")


def _decode_string_like(streams, encoding, typ, n_valid, valid):
    dict_enc = encoding.startswith("DICTIONARY_V2")
    blob = streams.get("DICTIONARY_DATA" if dict_enc else "DATA", b"")
    if encoding.endswith("_FSST"):
        blob = fsst.decode_blob(blob)
    indexes = None
    n_lengths = n_valid
    if dict_enc:
        indexes = rle2.decode(streams["DATA"], n_valid, signed=False)
        # every key of a stripe dictionary is referenced
        n_lengths = int(indexes.max()) + 1
    lengths = rle2.decode(streams.get("LENGTH", b""), n_lengths,
                          signed=False)
    return dictionary.to_arrow(lengths, blob, indexes, valid,
                               binary=typ == "binary")


def _with_nulls(vals: np.ndarray, valid, cast_to):
    if valid is None:
        arr = pa.array(vals)
    else:
        full = np.zeros(len(valid), dtype=vals.dtype)
        full[valid] = vals
        arr = pa.array(full, mask=~valid)
    if cast_to is not None and arr.type != cast_to:
        arr = arr.cast(cast_to)
    return arr


# ---------------------------------------------------------------------------
# Stripe encode/decode
# ---------------------------------------------------------------------------


def _merge_col_stats(acc: dict, st: dict) -> dict:
    """Merge per-stride column stats into stripe-level stats
    (columnstatistics.go Merge semantics)."""
    if not acc:
        out = dict(st)
        out.pop("dict_size", None)
        return out
    for k in ("count", "sum", "true_count", "total_elems", "sum_len"):
        if k in st:
            acc[k] = acc.get(k, 0) + st[k]
    if "min" in st:
        acc["min"] = st["min"] if "min" not in acc else min(acc["min"],
                                                            st["min"])
        acc["max"] = st["max"] if "max" not in acc else max(acc["max"],
                                                            st["max"])
    return acc


def encode_stripe(batch: pa.Table | pa.RecordBatch, specs: list[ColumnSpec],
                  codec: str = DEFAULT_CODEC, use_fsst: bool = False,
                  stride_rows: int | None = None) -> dict:
    """Encode one stripe (an Arrow batch) into a flat row dict:
    stream binaries keyed ``{col}__{KIND}`` + encodings/stats JSON +
    size accounting.

    With ``stride_rows`` set (multiple of 8), the stripe is encoded as
    independent row-group strides — every codec and compression chunk
    restarts at stride boundaries and the stats JSON carries a
    ``_strides`` index (per-stride row counts, encodings, stream byte
    offsets, per-column min/max), the analog of the reference's
    10k-row ROW_INDEX (writer.go:162-172, treewriter.go:69-92).
    ``decode(..., stride_filter=...)`` then decompresses ONLY the
    byte ranges of qualifying strides."""
    if stride_rows is not None and batch.num_rows > stride_rows:
        return _encode_stripe_strided(batch, specs, codec, use_fsst,
                                      stride_rows)
    n_rows = batch.num_rows
    row: dict = {"n_rows": n_rows}
    encodings: dict[str, str] = {}
    stats: dict[str, dict] = {}
    enc_bytes = 0
    for spec in specs:
        arr = batch.column(spec.name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        encoding, streams, cstats = encode_column(arr, spec, use_fsst)
        encodings[spec.name] = encoding
        # per-stream byte sizes: the positions/row-index analog
        # (positionrecorder.go / writer.go:337-384) for seek & audit
        cstats["stream_bytes"] = {}
        stats[spec.name] = cstats
        for kind in spec.stream_kinds():
            data = streams.get(kind)
            key = f"{spec.name}__{kind}"
            if data is None or (len(data) == 0 and kind != "DATA"):
                row[key] = None
            else:
                framed = compression.compress(data, codec)
                row[key] = framed
                enc_bytes += len(framed)
                cstats["stream_bytes"][kind] = [len(data), len(framed)]
    row["encodings"] = json.dumps(encodings)
    row["stats"] = json.dumps(stats)
    # parsed form for same-process consumers (zone columns) — callers
    # pop it before emitting the Arrow row
    row["_stats_obj"] = stats
    row["enc_bytes"] = enc_bytes
    return row


def _encode_stripe_strided(batch, specs, codec, use_fsst,
                           stride_rows: int) -> dict:
    if stride_rows % 8:
        raise ValueError("stride_rows must be a multiple of 8")
    if isinstance(batch, pa.RecordBatch):
        batch = pa.Table.from_batches([batch])
    n_rows = batch.num_rows
    starts = list(range(0, n_rows, stride_rows))
    rows_per = [min(stride_rows, n_rows - s) for s in starts]
    pieces: dict[str, list[bytes]] = {
        f"{s.name}__{k}": [] for s in specs for k in s.stream_kinds()}
    stride_encodings: list[dict] = []
    stride_stats: list[dict] = []
    merged: dict[str, dict] = {s.name: {} for s in specs}
    for s0, nr in zip(starts, rows_per):
        sub = batch.slice(s0, nr)
        encs: dict[str, str] = {}
        sts: dict[str, dict] = {}
        for spec in specs:
            arr = sub.column(spec.name)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            encoding, streams, cstats = encode_column(arr, spec, use_fsst)
            encs[spec.name] = encoding
            sts[spec.name] = {k: v for k, v in cstats.items()
                              if k in ("count", "min", "max", "sum",
                                       "true_count", "total_elems",
                                       "sum_len")}
            merged[spec.name] = _merge_col_stats(merged[spec.name], cstats)
            for kind in spec.stream_kinds():
                data = streams.get(kind)
                if data is None or (len(data) == 0 and kind != "DATA"):
                    pieces[f"{spec.name}__{kind}"].append(b"")
                else:
                    pieces[f"{spec.name}__{kind}"].append(
                        compression.compress(data, codec))
        stride_encodings.append(encs)
        stride_stats.append(sts)
    row: dict = {"n_rows": n_rows}
    enc_bytes = 0
    offsets: dict[str, list[int]] = {}
    for key, ps in pieces.items():
        if not any(len(p) for p in ps):
            row[key] = None
            continue
        offs = [0]
        for p in ps:
            offs.append(offs[-1] + len(p))
        blob = b"".join(ps)
        row[key] = blob
        offsets[key] = offs
        enc_bytes += len(blob)
    for name, st in merged.items():
        st["stream_bytes"] = {}
    stats = dict(merged)
    stats["_strides"] = {"rows": rows_per,
                         "encodings": stride_encodings,
                         "offsets": offsets,
                         "stats": stride_stats}
    # stripe-level encodings: the dict-vs-direct decision is PER
    # STRIDE; report the majority per column so consumers (codec
    # histogram, footer) see a faithful stripe label even when strides
    # disagree (decode always reads per-stride encodings from _strides)
    stripe_encs: dict = {}
    for name in stride_encodings[0]:
        votes: dict = {}
        for encs_t in stride_encodings:
            votes[encs_t[name]] = votes.get(encs_t[name], 0) + 1
        stripe_encs[name] = max(votes, key=votes.get)
    row["encodings"] = json.dumps(stripe_encs)
    row["stats"] = json.dumps(stats)
    row["_stats_obj"] = stats
    row["enc_bytes"] = enc_bytes
    return row


def stride_index(row: dict) -> dict | None:
    """Parse the ``_strides`` index from a stripe row's stats JSON
    (None when the stripe was written without strides)."""
    stats = row.get("stats")
    if not stats:
        return None
    return json.loads(stats).get("_strides")


def decode_stripe_strides(row: dict, specs: list[ColumnSpec],
                          codec: str = DEFAULT_CODEC,
                          keep=None) -> pa.Table:
    """Decode a stride-indexed stripe, optionally restricted to the
    stride ids in ``keep`` — only those byte ranges are sliced from
    the stream blobs and decompressed (row-group skipping).  A stripe
    written without strides (n_rows <= stride_rows) decodes whole."""
    idx = stride_index(row)
    if idx is None:
        return decode_stripe(row, specs, codec)
    rows_per = idx["rows"]
    offsets = idx["offsets"]
    encs = idx["encodings"]
    tables = []
    for t in range(len(rows_per)):
        if keep is not None and t not in keep:
            continue
        mini = {"n_rows": rows_per[t], "encodings": json.dumps(encs[t])}
        for key, offs in offsets.items():
            blob = row.get(key)
            if blob is None:
                mini[key] = None
                continue
            lo, hi = offs[t], offs[t + 1]
            mini[key] = blob[lo:hi] if hi > lo else None
        tables.append(decode_stripe(mini, specs, codec))
    if not tables:
        # spec-TYPED empty schema: a null-typed empty table would make
        # pa.concat_tables fail against sibling stripes' real types
        return pa.table({s.name: pa.array([], arrow_type_of(s.typ))
                         for s in specs})
    return pa.concat_tables(tables)


def select_strides(row: dict, column: str, lo=None, hi=None) -> list[int]:
    """Stride ids whose recorded [min,max] for ``column`` can contain
    values in [lo, hi] — the row-group skip predicate.  On a stripe
    written without strides there is exactly one implicit row group;
    it is always kept (no index to prune against)."""
    idx = stride_index(row)
    if idx is None:
        return [0]
    keep = []
    for t, sts in enumerate(idx["stats"]):
        st = sts.get(column, {})
        if "min" not in st:
            keep.append(t)
            continue
        if lo is not None and st["max"] < lo:
            continue
        if hi is not None and st["min"] > hi:
            continue
        keep.append(t)
    return keep


def decode_stripe(row: dict, specs: list[ColumnSpec],
                  codec: str = DEFAULT_CODEC) -> pa.Table:
    """Decode one stripe row back into an Arrow table."""
    n_rows = int(row["n_rows"])
    encodings = json.loads(row["encodings"])
    arrays = []
    names = []
    for spec in specs:
        if spec.name not in encodings:
            # schema evolution on MIXED tables: this stripe predates
            # the column (its encodings JSON has no entry) — decode it
            # as all-null of the requested type
            arrays.append(pa.nulls(n_rows, arrow_type_of(spec.typ)))
            names.append(spec.name)
            continue
        streams = {}
        for kind in spec.stream_kinds():
            data = row.get(f"{spec.name}__{kind}")
            if data is not None:
                streams[kind] = compression.decompress(data, codec)
        arrays.append(decode_column(streams, encodings[spec.name], spec,
                                    n_rows))
        names.append(spec.name)
    return pa.table(dict(zip(names, arrays)))
