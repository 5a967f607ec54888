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
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codecs import bits, byterle, compression, dictionary, fsst, leaves, rle2
from .codecs import decimal as dec_codec
from .orctypes import OrcType, parse_orc_type

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
# the same four as OrcType kinds (the token fast-path list elements)
_INT_KINDS = ("byte", "short", "int", "long")


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
        # parsed once; every predicate below reads this tree
        self.orc_type = parse_orc_type(typ)

    @property
    def is_list(self) -> bool:
        return self.orc_type.kind == "list"

    @property
    def child_typ(self) -> str:
        return self.orc_type.children[0].orc_string()

    @property
    def is_decimal(self) -> bool:
        return self.orc_type.kind == "decimal"

    @property
    def is_nested(self) -> bool:
        """True for struct/map columns and lists whose element type is
        not the integer token fast path."""
        t = self.orc_type
        if t.kind in ("struct", "map"):
            return True
        return t.kind == "list" and t.children[0].kind not in _INT_KINDS

    def decimal_params(self) -> tuple[int, int]:
        return self.orc_type.precision, self.orc_type.scale

    def stream_kinds(self) -> list[str]:
        if self.is_nested:
            return ["DATA"]
        kind = self.orc_type.kind
        if kind == "list":
            return ["PRESENT", "LENGTH", "DATA", "DICTIONARY_DATA"]
        if kind in _INT_KINDS:
            return ["PRESENT", "DATA", "DICTIONARY_DATA"]
        if kind in ("string", "binary"):
            return ["PRESENT", "DATA", "LENGTH", "DICTIONARY_DATA"]
        if kind in ("timestamp", "decimal"):
            return ["PRESENT", "DATA", "SECONDARY"]
        return ["PRESENT", "DATA"]


def parse_schema(schema: dict[str, str] | list[tuple[str, str]]) -> list[ColumnSpec]:
    items = schema.items() if isinstance(schema, dict) else schema
    return [ColumnSpec(n, t) for n, t in items]


def parse_schema_string(s: str) -> list[ColumnSpec]:
    """Parse a Hive-style schema string — the ParseSchema equivalent
    (typedescription.go:709-711, grammar 215-335) — into one spec per
    top-level field of its root struct, e.g.
    ``struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>``.
    ``array<T>`` maps to our ``list<T>`` spec type.  Malformed strings
    raise ValueError here."""
    root = parse_orc_type(s)
    if root.kind != "struct":
        raise ValueError(f"expected struct<...>, got: {s.strip()[:40]}")
    return [ColumnSpec(n, c.orc_string().replace("array<", "list<"))
            for n, c in zip(root.field_names, root.children)]


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

# inner OrcType kinds of a nested column; every other node is a leaf
# encoded by encode_column
_TREE_KINDS = ("struct", "list", "map")


def arrow_type_of(typ: str) -> pa.DataType:
    """Arrow type for a spec type string (nested types included)."""
    return parse_orc_type(typ).to_arrow()


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

    def walk(node: OrcType, a):
        if isinstance(a, pa.ChunkedArray):
            a = a.combine_chunks()
        kind = node.kind
        rec: dict = {"n": len(a), "s": {}}
        nodes.append(rec)
        if kind not in _TREE_KINDS:
            enc, streams, _ = encode_column(
                a, ColumnSpec("v", node.orc_string()), use_fsst)
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
            for i, child in enumerate(node.children):
                carr = a.field(i)
                if valid is not None:
                    carr = carr.filter(pa.array(valid))
                walk(child, carr)
            return
        # list / map: drop_null (the filter kernel compacts offsets
        # AND values), LENGTH stream, recurse into the used children
        lengths, child = leaves.list_parts(
            a.drop_null() if a.null_count else a)
        add_stream(rec, "LENGTH", rle2.encode(lengths, signed=False))
        if kind == "list":
            walk(node.children[0], child)
        else:
            walk(node.children[0], child.field(0))
            walk(node.children[1], child.field(1))

    walk(spec.orc_type, arr)
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
        return pa.nulls(n_rows, spec.orc_type.to_arrow())
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

    def walk(node: OrcType):
        rec = nodes[pos["i"]]
        pos["i"] += 1
        n = rec["n"]
        st = {k: parts[v] for k, v in rec["s"].items()}
        kind = node.kind
        if kind not in _TREE_KINDS:
            return decode_column(st, rec.get("e", "DIRECT"),
                                 ColumnSpec("v", node.orc_string()), n)
        pres = st.get("PRESENT")
        valid = byterle.decode_bools(pres, n) if pres is not None else None
        n_valid = int(valid.sum()) if valid is not None else n
        if kind == "struct":
            children = [leaves.expand(walk(c), valid)
                        for c in node.children]
            mask = pa.array(~valid) if valid is not None else None
            return pa.StructArray.from_arrays(
                children, names=list(node.field_names), mask=mask)
        lengths = rle2.decode(st.get("LENGTH", b""), n_valid, signed=False)
        offsets = leaves.list_offsets(lengths, valid)
        if kind == "list":
            return pa.ListArray.from_arrays(offsets, walk(node.children[0]))
        keys = walk(node.children[0])
        return pa.MapArray.from_arrays(offsets, keys,
                                       walk(node.children[1]))

    return walk(spec.orc_type)


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


def _encode_string_like(data: pa.Array,
                        use_fsst: bool) -> tuple[str, dict, dict]:
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
    data = arr.drop_null() if arr.null_count else arr
    typ = spec.typ

    if typ in INT_TYPES or typ == "date":
        vals = np.asarray(data).astype(np.int64)
        if typ == "date" or len(vals) == 0:
            streams["DATA"] = rle2.encode(vals, signed=True)
            suffix = "DIRECT"
        else:
            suffix, s = _encode_int_stream(vals)
            streams.update(s)
        stats = {"count": n_valid, **_whole_stats(vals)}
        enc_name = "DICTIONARY_INT_V2" if suffix == "DICT_INT" else "DIRECT_V2"
        return enc_name, streams, stats
    if typ in ("float", "double"):
        vals = np.asarray(data)
        dt = "<f4" if typ == "float" else "<f8"
        streams["DATA"] = vals.astype(dt).tobytes()
        return "DIRECT", streams, {"count": n_valid, **_whole_stats(vals)}
    if typ == "boolean":
        vals = np.asarray(data)
        streams["DATA"] = byterle.encode_bools(vals)
        return "DIRECT", streams, {"count": n_valid,
                                   "true_count": int(vals.sum())}
    if typ == "timestamp":
        # floor seconds + the nanos of that second, any Arrow unit
        secs, nanos = leaves.timestamp_split(data)
        streams["DATA"] = rle2.encode(secs - TIMESTAMP_BASE_SECONDS, signed=True)
        streams["SECONDARY"] = rle2.encode(leaves.format_nanos(nanos),
                                           signed=False)
        return "DIRECT_V2", streams, {"count": n_valid}
    if typ in ("string", "binary"):
        encoding, s, stats = _encode_string_like(data, use_fsst)
        streams.update(s)
        return encoding, streams, stats
    if spec.is_decimal:
        _, scale = spec.decimal_params()
        streams.update(dec_codec.encode(dec_codec.as_decimal128(data, scale)))
        return "DIRECT_V2", streams, {"count": n_valid}
    if spec.is_list:
        lengths, child = leaves.list_parts(data)
        if child.null_count:
            # null elements need a child PRESENT stream, which only the
            # nested tree carries; the stats stay the token path's
            _, streams, _ = _encode_nested(arr, spec, use_fsst)
            return "NESTED", streams, {
                "count": n_valid, "total_elems": int(lengths.sum()),
                **_whole_stats(np.asarray(child.drop_null())
                               .astype(np.int64))}
        child_vals = np.asarray(child).astype(np.int64)
        streams["LENGTH"] = rle2.encode(lengths, signed=False)
        if len(child_vals):
            suffix, s = _encode_int_stream(child_vals)
            streams.update(s)
        else:
            streams["DATA"] = b""
            suffix = "DIRECT"
        stats = {"count": n_valid, "total_elems": int(lengths.sum()),
                 **_whole_stats(child_vals)}
        enc_name = "DICTIONARY_INT_V2" if suffix == "DICT_INT" else "DIRECT_V2"
        return enc_name, streams, stats
    raise ValueError(f"unsupported column type: {typ}")


def _whole_stats(vals: np.ndarray) -> dict:
    """min/max/sum of a whole stripe: one stride of the leaf kernel.
    A sum the kernel leaves out (an integer sum past int64) reads
    None, so that ``_merge_col_stats`` keeps it out of every rollup."""
    st = leaves.numeric_stats(vals, [0, len(vals)])[0]
    if len(vals) and "sum" not in st:
        st["sum"] = None
    return st


def _drop_unknown_sum(st: dict) -> dict:
    """A None sum, or a NaN one (ORC-541), rolled up or not, stays out
    of the JSON."""
    if st.get("sum") is None or (isinstance(st["sum"], float)
                                 and math.isnan(st["sum"])):
        st.pop("sum", None)
    return st


# ---------------------------------------------------------------------------
# Column decoders
# ---------------------------------------------------------------------------


def decode_column(streams: dict, encoding: str, spec: ColumnSpec,
                  n_rows: int) -> pa.Array:
    """Decode one column of one stripe back to an Arrow array."""
    if spec.is_nested or encoding == "NESTED":
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
            return leaves.with_nulls(vals.astype(np.int32), valid,
                                     pa.date32())
        return leaves.with_nulls(vals.astype(INT_TYPES[typ]), valid)
    if typ in ("float", "double"):
        dt = "<f4" if typ == "float" else "<f8"
        vals = np.frombuffer(streams.get("DATA", b""), dtype=dt)
        return leaves.with_nulls(vals, valid)
    if typ == "boolean":
        vals = byterle.decode_bools(streams.get("DATA", b""), n_valid)
        return leaves.with_nulls(vals, valid)
    if typ == "timestamp":
        secs = rle2.decode(streams.get("DATA", b""), n_valid, signed=True) + \
            TIMESTAMP_BASE_SECONDS
        nanos = leaves.parse_nanos(
            rle2.decode(streams.get("SECONDARY", b""), n_valid, signed=False))
        return leaves.with_nulls(secs * 1_000_000 + nanos // 1000, valid,
                                 pa.timestamp("us"))
    if typ in ("string", "binary"):
        return _decode_string_like(streams, encoding, typ, n_valid, valid)
    if spec.is_decimal:
        prec, scale = spec.decimal_params()
        scales = rle2.decode(streams.get("SECONDARY", b""), n_valid,
                             signed=True)
        return dec_codec.to_arrow(streams.get("DATA", b""), scales, prec,
                                  scale, valid)
    if spec.is_list:
        lengths = rle2.decode(streams.get("LENGTH", b""), n_valid,
                              signed=False)
        sfx = "DICT_INT" if encoding.startswith("DICTIONARY_INT") else ""
        child = _decode_int_stream(streams, sfx, int(lengths.sum()))
        return pa.ListArray.from_arrays(
            leaves.list_offsets(lengths, valid),
            pa.array(child.astype(INT_TYPES[spec.child_typ])))
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
    for k in ("count", "true_count", "total_elems", "sum_len"):
        if k in st:
            acc[k] = acc.get(k, 0) + st[k]
    if "sum" in st:
        # a part without a sum, or an integer total past int64, leaves
        # the rollup without one
        a, b = acc.get("sum", 0), st["sum"]
        total = None if a is None or b is None else a + b
        if isinstance(total, int) and \
                not -leaves.INT64_LIMIT <= total < leaves.INT64_LIMIT:
            total = None
        acc["sum"] = total
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
        _drop_unknown_sum(cstats)
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
            sts[spec.name] = _drop_unknown_sum(
                {k: v for k, v in cstats.items()
                 if k in ("count", "min", "max", "sum", "true_count",
                          "total_elems", "sum_len")})
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
    for st in merged.values():
        _drop_unknown_sum(st)
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
        return pa.table({s.name: pa.array([], s.orc_type.to_arrow())
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
            arrays.append(pa.nulls(n_rows, spec.orc_type.to_arrow()))
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
