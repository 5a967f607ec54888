"""Minimal Apache ORC *file* reader built on our codec kernels.

Re-creates the reference read path (scritchley/orc reader.go:76-170
postscript/footer extraction, reader.go:188-315 schema reconstruction,
reader.go:376-456 stripe stream demux, treereaderfactory.go column
readers) with a hand-rolled protobuf wire-format parser (field numbers
from the public ORC spec, proto/orc.proto) — no protobuf dependency.

Purpose: end-to-end golden parity — decode the reference's example
``.orc`` files with OUR RLE v1/v2, byte-RLE, boolean, dictionary,
decimal and timestamp kernels and compare row-by-row against
``examples/expected/*.jsn.gz`` (orc_test.go:14-131).  It also lets a
Spark pipeline ingest legacy ORC files (``orcscan.orc_scan``) without
the JVM ORC reader, though parquet/Iceberg remains the primary source.

Reads NONE/ZLIB/SNAPPY/LZO/LZ4/ZSTD compression (the reference
writer's own gate is NONE/ZLIB, writer.go:70-87; zstd — Spark 4's
DEFAULT ORC codec — decompresses via pyarrow's bundled
implementation), both RLE versions, and ALL ORC types including union,
decimal, and pre-1970 timestamps with writer-timezone DST handling —
the reference's own golden test skips its union and 1900/2038-date
files; this reader decodes them row-identical.
"""

from __future__ import annotations

import gzip
import json

import numpy as np

from ..codecs import byterle, compression, decimal as dec_codec, rle1, rle2
from ..codecs.bits import read_vulong

# proto enum tables (proto/orc.proto)
KINDS = ["boolean", "byte", "short", "int", "long", "float", "double",
         "string", "binary", "timestamp", "list", "map", "struct",
         "union", "decimal", "date", "varchar", "char"]
STREAM_KINDS = ["PRESENT", "DATA", "LENGTH", "DICTIONARY_DATA",
                "DICTIONARY_COUNT", "SECONDARY", "ROW_INDEX",
                "BLOOM_FILTER", "BLOOM_FILTER_UTF8"]
ENCODINGS = ["DIRECT", "DICTIONARY", "DIRECT_V2", "DICTIONARY_V2"]
COMPRESSIONS = ["none", "zlib", "snappy", "lzo", "lz4", "zstd"]
# index streams: parsed on demand, never part of a stripe's data streams
_INDEX_KINDS = ("ROW_INDEX", "BLOOM_FILTER", "BLOOM_FILTER_UTF8")

TIMESTAMP_BASE_SECONDS = 1420070400


def parse_message(buf) -> dict[int, list]:
    """Generic protobuf wire-format parse: field number -> values."""
    buf = bytes(buf)
    out: dict[int, list] = {}
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = read_vulong(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = read_vulong(buf, pos)
        elif wt == 1:
            v = buf[pos:pos + 8]
            pos += 8
        elif wt == 2:
            ln, pos = read_vulong(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wt == 5:
            v = buf[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"wire type {wt}")
        out.setdefault(fno, []).append(v)
    return out


def packed_varints(vals: list) -> list[int]:
    out = []
    for v in vals:
        if isinstance(v, int):
            out.append(v)
        else:
            pos = 0
            while pos < len(v):
                x, pos = read_vulong(v, pos)
                out.append(x)
    return out


def _unzig(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _f64(b: bytes) -> float:
    import struct
    return struct.unpack("<d", b)[0]


def parse_stats(msg: dict) -> dict:
    """ColumnStatistics protobuf -> dict (proto orc.proto: 1=count,
    2=int, 3=double, 4=string, 5=bucket, 6=decimal, 7=date, 8=binary,
    9=timestamp, 10=hasNull)."""
    out = {"n": msg.get(1, [0])[0], "has_null": bool(msg.get(10, [0])[0])}
    if 2 in msg:
        s = parse_message(msg[2][0])
        if 1 in s:
            out["min"] = _unzig(s[1][0])
            out["max"] = _unzig(s[2][0])
        if 3 in s:
            out["sum"] = _unzig(s[3][0])
    if 3 in msg:
        s = parse_message(msg[3][0])
        if 1 in s:
            out["min"] = _f64(s[1][0])
            out["max"] = _f64(s[2][0])
        if 3 in s:
            out["sum"] = _f64(s[3][0])
    if 4 in msg:
        s = parse_message(msg[4][0])
        if 1 in s:
            out["min"] = s[1][0].decode("utf-8", "replace")
            out["max"] = s[2][0].decode("utf-8", "replace")
        if 3 in s:
            out["sum"] = _unzig(s[3][0])
    if 5 in msg:
        s = parse_message(msg[5][0])
        out["true_count"] = packed_varints(s.get(1, []))[0] \
            if s.get(1) else 0
    if 6 in msg:
        # decimal statistics arrive as strings on the wire; surface
        # them as Decimal so downstream min/max/sum merges compare
        # NUMERICALLY (lexicographic '9.50' > '10.20' poisoned merged
        # footers before r5).  Decimal(str) construction is exact —
        # no context rounding applies to constructors.
        from decimal import Decimal
        s = parse_message(msg[6][0])
        if 1 in s:
            out["min"] = Decimal(s[1][0].decode())
            out["max"] = Decimal(s[2][0].decode())
        if 3 in s:
            out["sum"] = Decimal(s[3][0].decode())
    if 7 in msg:
        s = parse_message(msg[7][0])
        if 1 in s:
            out["min"] = _unzig(s[1][0])
            out["max"] = _unzig(s[2][0])
    if 8 in msg:
        s = parse_message(msg[8][0])
        if 1 in s:
            out["sum"] = _unzig(s[1][0])
    if 9 in msg:
        s = parse_message(msg[9][0])
        if 1 in s:
            out["min"] = _unzig(s[1][0])
            out["max"] = _unzig(s[2][0])
    return out


class TypeNode:
    def __init__(self, msg):
        self.kind = KINDS[msg.get(1, [0])[0]]
        self.children = packed_varints(msg.get(2, []))
        self.field_names = [b.decode() for b in msg.get(3, [])]
        self.max_length = msg.get(4, [0])[0]
        self.precision = msg.get(5, [38])[0]
        self.scale = msg.get(6, [10])[0]


class ORCFile:
    def __init__(self, path: str):
        # mmap, not read(): tail/footer parsing touches only the last
        # pages, and read_rows/load_strides seeks fault in only
        # the stripes/strides they actually decode
        import mmap
        self.path = path
        with open(path, "rb") as f:
            try:
                # the mapping outlives the fd (POSIX) — close eagerly
                self.data = mmap.mmap(f.fileno(), 0,
                                      access=mmap.ACCESS_READ)
            except ValueError:
                raise ValueError(f"not an ORC file (empty): {path}")
        if len(self.data) < 4:
            raise ValueError(f"not an ORC file (too short): {path}")
        psl = self.data[-1]
        ps = parse_message(self.data[-1 - psl:-1])
        self.compression = COMPRESSIONS[ps.get(2, [0])[0]]
        if self.compression not in ("none", "zlib", "snappy", "lz4",
                                    "lzo", "zstd"):
            raise NotImplementedError(f"compression {self.compression}")
        footer_len = ps[1][0]
        meta_len = ps.get(5, [0])[0]
        self.version = packed_varints(ps.get(4, []))
        foot_end = len(self.data) - 1 - psl
        footer = parse_message(self._decomp(
            self.data[foot_end - footer_len:foot_end]))
        self.types = [TypeNode(parse_message(t)) for t in footer.get(4, [])]
        self.stripes = [parse_message(s) for s in footer.get(3, [])]
        self.n_rows = footer.get(6, [0])[0]
        self.row_index_stride = footer.get(8, [0])[0]
        self.file_statistics = [parse_stats(parse_message(b))
                                for b in footer.get(7, [])]
        # per stripe, per column: the raw ColumnStatistics messages
        # (a stripe copy carries them verbatim) and their parse
        self.raw_stripe_statistics: list[list[bytes]] = []
        self.stripe_statistics: list[list[dict]] = []
        if meta_len:
            meta = parse_message(self._decomp(
                self.data[foot_end - footer_len - meta_len:
                          foot_end - footer_len]))
            for ss in meta.get(1, []):
                cols = parse_message(ss).get(1, [])
                self.raw_stripe_statistics.append(cols)
                self.stripe_statistics.append(
                    [parse_stats(parse_message(c)) for c in cols])

    def _decomp(self, blob: bytes) -> bytes:
        if self.compression == "none":
            return bytes(blob)
        return compression.decompress(blob, self.compression)

    def select(self, *field_names: str) -> "ORCFile":
        """Restrict decoding to the given root fields (Reader.Select
        equivalent, reader.go:335-338): only their streams are
        decompressed."""
        self._selected = set(field_names) if field_names and \
            "*" not in field_names else None
        return self

    def resolve_path(self, path: str) -> list[int]:
        """Column-id chain for a dotted field path, root-first
        (reference GetField, typedescription.go:623-646: dots
        traverse STRUCT fields only).  ``"rec.x"`` -> [id(rec),
        id(rec.x)]; a plain name gives a one-element chain."""
        ids: list[int] = []
        col = 0
        for seg in path.split("."):
            t = self.types[col]
            if t.kind != "struct":
                raise ValueError(
                    f"orc: cannot descend into {t.kind!r} with "
                    f"{seg!r} (path {path!r} traverses non-struct)")
            try:
                col = dict(zip(t.field_names, t.children))[seg]
            except KeyError:
                raise ValueError(
                    f"orc: no field {seg!r} in path {path!r}; "
                    f"struct has {t.field_names}") from None
            ids.append(col)
        return ids

    def path_present_chain(self, path_ids: list[int], n: int):
        """(validity arrays root-first incl. the root struct's own
        PRESENT, surviving row count at the target level) for the
        ancestor chain of a dotted path.  ORC children carry entries
        only for rows where every ancestor struct is non-null, so the
        target decodes at the SURVIVING count and nulls weave back
        outward.  Touches only ancestor PRESENT streams — sibling
        DATA streams are never decompressed."""
        valids = []
        cnt = n
        # the root struct's own PRESENT counts as an ancestor unless
        # the target IS the root (bare-root files: path_ids == [0])
        for anc in [a for a in [0] + path_ids[:-1]
                    if a != path_ids[-1]]:
            valid, n_valid = self._present(anc, cnt)
            valids.append(valid)
            cnt = n_valid
        return valids, cnt

    def read_path(self, path_ids: list[int], n: int) -> list:
        """Decode the subtree at the end of ``path_ids`` for a stripe
        of ``n`` rows, weaving ancestor-struct nulls back in — the
        flattened dotted projection (reference cursor.go:29-45: each
        selected path is one output column; only its subtree's
        streams load)."""
        valids, cnt = self.path_present_chain(path_ids, n)
        vals = self._read_column(path_ids[-1], cnt)
        # expand outward, deepest ancestor first
        for valid in reversed(valids):
            if valid is None:
                continue
            vals = self._weave(vals, valid, len(valid))
        return vals

    # ------------------------------------------------------------------
    def read_stripe(self, si: int) -> list:
        """Decode stripe si -> list of python row values for the root."""
        n_rows = self._load_stripe_directory(si)
        return self._read_column(0, n_rows)

    def read_stripe_columns(self, si: int) -> tuple[dict, int]:
        """Column-major stripe decode: ({root field -> value list},
        n_rows), honoring ``select()``.  Skips the per-row dict
        assembly of ``read_stripe``; the row-path reference that
        orc_scan's whole-array stripe decode is tested against.
        Falls back to the row path if the root struct itself carries
        nulls (pathological; never written by our sink)."""
        n_rows = self._load_stripe_directory(si)
        root = self.types[0]
        if root.kind != "struct":
            # bare non-struct root (e.g. testTimestamp.orc): one
            # synthetic column named "value"
            return {"value": self._read_column(0, n_rows)}, n_rows
        valid, n_valid = self._present(0, n_rows)
        if valid is not None and n_valid != n_rows:
            rows = self._read_column(0, n_rows)
            sel_rn = getattr(self, "_selected", None)
            names = [fn for fn in root.field_names
                     if sel_rn is None or fn in sel_rn]
            return ({fn: [None if r is None else r.get(fn)
                          for r in rows] for fn in names}, n_rows)
        selected = getattr(self, "_selected", None)
        out = {}
        for c, fn in zip(root.children, root.field_names):
            if selected is not None and fn not in selected:
                continue
            out[fn] = self._read_column(c, n_rows)
        return out, n_rows

    def _stripe_footer(self, si: int) -> tuple:
        """(encodings, dict sizes, writer tz, stream directory
        ``[(kind, col, offset, length)]``) of stripe si — the ONE
        stripe-footer parse.  The LAST stripe's result is memoized
        (like ``_row_indexes``): a scan task consults it several
        times per stripe (stride_keep, bloom_strides, the load)."""
        cached = getattr(self, "_sf_cache", None)
        if cached is not None and cached[0] == si:
            return cached[1]
        info = self.stripes[si]
        offset = info.get(1, [0])[0]
        sf_start = offset + info.get(2, [0])[0] + info.get(3, [0])[0]
        sfooter = parse_message(self._decomp(
            self.data[sf_start:sf_start + info.get(4, [0])[0]]))
        encs = [parse_message(c) for c in sfooter.get(2, [])]
        wtz = sfooter.get(3, [b""])[0]
        # blobs are laid out in directory order from the stripe offset
        # (index streams first)
        directory = []
        pos = offset
        for s in sfooter.get(1, []):
            sm = parse_message(s)
            ln = sm.get(3, [0])[0]
            directory.append((STREAM_KINDS[sm.get(1, [0])[0]],
                              sm.get(2, [0])[0], pos, ln))
            pos += ln
        out = ([ENCODINGS[e.get(1, [0])[0]] for e in encs],
               [e.get(2, [0])[0] for e in encs],
               wtz.decode() if wtz else "", directory)
        self._sf_cache = (si, out)
        return out

    def _install(self, si: int, streams: dict) -> None:
        """Make ``streams`` stripe si's current streams, with its
        encodings, dictionary sizes and writer timezone."""
        self.encodings, self.dict_sizes, self.writer_tz, _ = \
            self._stripe_footer(si)
        self._streams = streams

    def _load_stripe_directory(self, si: int) -> int:
        """Load stripe si whole: its encodings/dict sizes/writer tz
        and data-stream directory; returns the stripe row count."""
        directory = self._stripe_footer(si)[3]
        self._install(si, {(col, kind): self.data[pos:pos + ln]
                           for kind, col, pos, ln in directory
                           if kind not in _INDEX_KINDS})
        return self.stripes[si].get(5, [0])[0]

    # ------------------------------------------------------------------
    def _stream(self, col: int, kind: str) -> bytes | None:
        raw = self._streams.get((col, kind))
        return None if raw is None else self._decomp(raw)

    def _present(self, col: int, n: int):
        raw = self._stream(col, "PRESENT")
        if raw is None or len(raw) == 0:
            return None, n
        valid = byterle.decode_bools(raw, n)
        return valid, int(valid.sum())

    def _ints(self, col: int, kind: str, n: int, signed: bool) -> np.ndarray:
        data = self._stream(col, kind) or b""
        if self.encodings[col] in ("DIRECT_V2", "DICTIONARY_V2"):
            return rle2.decode(data, n, signed)
        return rle1.decode(data, n, signed)

    def _weave(self, vals: list, valid, n: int) -> list:
        if valid is None:
            return vals
        out = [None] * n
        it = iter(vals)
        for i in np.flatnonzero(valid):
            out[i] = next(it)
        return out

    def _read_column(self, col: int, n: int) -> list:
        t = self.types[col]
        valid, n_valid = self._present(col, n)
        k = t.kind

        if k == "struct":
            selected = getattr(self, "_selected", None)
            if col == 0 and selected is not None:
                keep = [(c, fn) for c, fn in zip(t.children, t.field_names)
                        if fn in selected]
            else:
                keep = list(zip(t.children, t.field_names))
            fields = [self._read_column(c, n_valid) for c, _ in keep]
            names = [fn for _, fn in keep]
            rows = [dict(zip(names, vals))
                    for vals in zip(*fields)] if keep else [{}] * n_valid
            return self._weave(rows, valid, n)
        if k in ("list", "map"):
            lengths = self._ints(col, "LENGTH", n_valid, signed=False)
            total = int(lengths.sum())
            if k == "list":
                child = self._read_column(t.children[0], total)
                items = []
            else:
                keys = self._read_column(t.children[0], total)
                vals_ = self._read_column(t.children[1], total)
                child = [{"key": a, "value": b} for a, b in zip(keys, vals_)]
            out = []
            off = 0
            for ln in lengths.tolist():
                out.append(child[off:off + ln])
                off += ln
            return self._weave(out, valid, n)
        if k == "union":
            # tag byte-RLE + one child column per variant
            # (treereader.go:816-878); the reference's own golden test
            # skips its union file — we don't.
            raw = self._stream(col, "DATA") or b""
            tags = byterle.decode(raw, n_valid)
            iters = []
            for vi, child in enumerate(t.children):
                cnt = int((tags == vi).sum())
                iters.append(iter(self._read_column(child, cnt)))
            vals = [{"tag": int(tag), "value": next(iters[tag])}
                    for tag in tags.tolist()]
            return self._weave(vals, valid, n)
        if k == "boolean":
            raw = self._stream(col, "DATA") or b""
            vals = byterle.decode_bools(raw, n_valid).tolist()
            return self._weave(vals, valid, n)
        if k == "byte":
            raw = self._stream(col, "DATA") or b""
            vals = byterle.decode(raw, n_valid).astype(np.int8).tolist()
            return self._weave(vals, valid, n)
        if k in ("short", "int", "long", "date"):
            vals = self._ints(col, "DATA", n_valid, signed=True)
            if k == "date":
                days = vals.astype("datetime64[D]")
                vals = np.datetime_as_string(days, unit="D").tolist()
            else:
                vals = vals.tolist()
            return self._weave(vals, valid, n)
        if k in ("float", "double"):
            raw = self._stream(col, "DATA") or b""
            if k == "float":
                # shortest float32 repr (matches Go/Java JSON rendering)
                vals = [float(repr(v))
                        for v in np.frombuffer(raw, dtype="<f4")[:n_valid]]
            else:
                vals = np.frombuffer(raw, dtype="<f8")[:n_valid].astype(
                    float).tolist()
            return self._weave(vals, valid, n)
        if k in ("string", "varchar", "char"):
            vals = self._read_strings(col, n_valid)
            return self._weave(vals, valid, n)
        if k == "binary":
            lengths = self._ints(col, "LENGTH", n_valid, signed=False)
            blob = self._stream(col, "DATA") or b""
            out = []
            off = 0
            for ln in lengths.tolist():
                out.append(list(blob[off:off + ln]))
                off += ln
            return self._weave(out, valid, n)
        if k == "decimal":
            # EXACT values (r4): Decimal from the raw mantissa at the
            # per-value scale — the old mantissa/10.0**scale float64
            # rendering silently lost precision above 15 significant
            # digits (reference decimal.go:53-79 keeps big.Int
            # mantissas; our stripe-table path at stripe.py:701 was
            # already exact).  String construction is context-exempt
            # (Decimal(m).scaleb(-s) would round >28-digit mantissas
            # under the default context).
            from decimal import Decimal
            streams = {"DATA": self._stream(col, "DATA") or b""}
            mants = dec_codec.decode_mantissas(streams["DATA"], n_valid)
            scales = self._ints(col, "SECONDARY", n_valid, signed=True)
            # E{-s}, not E-{s}: the scale stream is SIGNED — a
            # negative per-value scale must render E2, not E--2
            # (InvalidOperation)
            vals = [Decimal(f"{m}E{-int(s)}")
                    for m, s in zip(mants, scales.tolist())]
            return self._weave(vals, valid, n)
        if k == "timestamp":
            secs = self._ints(col, "DATA", n_valid, signed=True)
            raw_nanos = self._ints(col, "SECONDARY", n_valid, signed=False)
            tz = _tzinfo(self.writer_tz)
            vals = [_format_ts(int(s), _parse_nanos_scalar(int(nv)), tz)
                    for s, nv in zip(secs, raw_nanos)]
            return self._weave(vals, valid, n)
        raise NotImplementedError(f"type {k}")

    def _read_strings(self, col: int, n_valid: int) -> list:
        enc = self.encodings[col]
        if enc.startswith("DICTIONARY"):
            n_keys = self.dict_sizes[col]
            key_lengths = self._ints(col, "LENGTH", n_keys, signed=False)
            blob = self._stream(col, "DICTIONARY_DATA") or b""
            keys = []
            off = 0
            for ln in key_lengths.tolist():
                keys.append(blob[off:off + ln].decode("utf-8", "replace"))
                off += ln
            idx = self._ints(col, "DATA", n_valid, signed=False)
            return [keys[i] for i in idx.tolist()]
        lengths = self._ints(col, "LENGTH", n_valid, signed=False)
        blob = self._stream(col, "DATA") or b""
        out = []
        off = 0
        for ln in lengths.tolist():
            out.append(blob[off:off + ln].decode("utf-8", "replace"))
            off += ln
        return out

    def _position_layout(self, col: int, enc: str,
                         has_present: bool) -> list:
        """Seek-position layout for a column: [(stream kind, n_numbers)]
        in recorded order (mirrors the writer's recordPosition rules).
        n_numbers = codec seek (1 uncompressed / 2 compressed) + RLE
        state entries."""
        base = 1 if self.compression == "none" else 2
        k = self.types[col].kind
        out = []
        if has_present:
            out.append(("PRESENT", base + 2))
        if k == "boolean":
            out.append(("DATA", base + 2))
        elif k == "byte":
            out.append(("DATA", base + 1))
        elif k in ("short", "int", "long", "date"):
            out.append(("DATA", base + 1))
        elif k in ("float", "double"):
            out.append(("DATA", base))
        elif k in ("string", "varchar", "char"):
            if enc.startswith("DICTIONARY"):
                out.append(("DATA", base + 1))
            else:
                out.append(("DATA", base))
                out.append(("LENGTH", base + 1))
        elif k == "binary":
            out.append(("DATA", base))
            out.append(("LENGTH", base + 1))
        elif k == "timestamp":
            out.append(("DATA", base + 1))
            out.append(("SECONDARY", base + 1))
        elif k == "decimal":
            out.append(("DATA", base))
            out.append(("SECONDARY", base + 1))
        elif k in ("list", "map"):
            out.append(("LENGTH", base + 1))
        elif k == "union":
            out.append(("DATA", base + 1))
        return out

    def load_strides(self, si: int, keep) -> int:
        """Row-group seek INSIDE a stripe: install, as stripe si's
        current streams, only the kept stride ids' byte ranges (sliced
        at ROW_INDEX positions, concatenated per (column, kind)) and
        return their row count — one column-major decode then reads
        exactly those strides.  The stripe-global dictionary blob and
        dictionary LENGTH stay whole.  Valid for stride-restart files
        (our writer: every position's codec/RLE/bit state is 0);
        raises ValueError when positions carry such state (e.g.
        Java-written files with runs spanning strides, unaligned bit
        streams), leaving the current streams untouched — callers
        then load the whole stripe."""
        if not self.row_index_stride:
            raise ValueError("file has no row index")
        n_rows = self.stripes[si].get(5, [0])[0]
        stride = self.row_index_stride
        n_strides = (n_rows + stride - 1) // stride
        keep = sorted(t for t in set(keep) if t < n_strides)
        encodings, _, _, directory = self._stripe_footer(si)
        where = {(col, kind): (pos, ln)
                 for kind, col, pos, ln in directory
                 if kind not in _INDEX_KINDS}
        indexes = self._row_indexes(si)
        # positions read: each kept stride's start and its end (the
        # next stride's start; the stream end for the last stride)
        read = {u for t in keep for u in (t, t + 1) if u < n_strides}
        sliced: dict[tuple[int, str], bytes] = {}
        for col in range(len(self.types)):
            layout = self._position_layout(
                col, encodings[col], (col, "PRESENT") in where)
            entries = indexes.get(col, [])
            if layout and len(entries) != n_strides:
                raise ValueError("column row index does not cover the "
                                 "stripe's strides")
            off = 0
            for kind, n_nums in layout:
                seg = [e["positions"][off:off + n_nums] for e in entries]
                off += n_nums
                if any(any(seg[u][1:]) for u in read):
                    raise ValueError(
                        "positions carry codec state; stride slice "
                        "not possible — load the whole stripe")
                if (col, kind) not in where:
                    continue
                pos, ln = where[(col, kind)]
                bounds = [p[0] for p in seg] + [ln]
                sliced[(col, kind)] = b"".join(
                    self.data[pos + bounds[t]:pos + bounds[t + 1]]
                    for t in keep)
            # stripe-global streams: dictionary blob + key lengths
            globals_ = ["DICTIONARY_DATA"]
            if encodings[col].startswith("DICTIONARY"):
                globals_.append("LENGTH")
            for kind in globals_:
                if (col, kind) in where:
                    pos, ln = where[(col, kind)]
                    sliced[(col, kind)] = self.data[pos:pos + ln]
        self._install(si, sliced)
        return sum(min(stride, n_rows - t * stride) for t in keep)

    def read_rows(self, start: int, count: int) -> list:
        """Cursor seek (SelectStripe + RowIndex consumed): returns rows
        [start, start+count) touching only covering stripes, and — for
        stride-restart files — only covering row-group strides within
        them."""
        out = []
        row0 = 0
        stride = self.row_index_stride
        for si, info in enumerate(self.stripes):
            n = info.get(5, [0])[0]
            if row0 + n <= start:
                row0 += n
                continue
            if row0 >= start + count:
                break
            lo = max(0, start - row0)
            hi = min(n, start + count - row0)
            row0 += n
            n_load = None
            if stride:
                try:
                    n_load = self.load_strides(
                        si, range(lo // stride, (hi - 1) // stride + 1))
                    base = lo // stride * stride
                    lo, hi = lo - base, hi - base
                except ValueError:
                    pass
            if n_load is None:
                n_load = self._load_stripe_directory(si)
            out.extend(self._read_column(0, n_load)[lo:hi])
        return out

    def _row_indexes(self, si: int) -> dict[int, list[dict]]:
        """ALL columns' ROW_INDEX entries in one stripe-footer parse +
        one directory pass (per-column row_index() calls re-parsed the
        footer O(cols) times on wide schemas).  The LAST stripe's
        result is memoized: pruning + slicing consult the index
        several times per stripe (stride_keep, load_strides),
        and a one-entry cache bounds memory while a scan task walks
        stripes sequentially."""
        cached = getattr(self, "_ri_cache", None)
        if cached is not None and cached[0] == si:
            return cached[1]
        out: dict[int, list[dict]] = {}
        for kind, c, pos, ln in self._stripe_footer(si)[3]:
            if kind == "ROW_INDEX":
                ri = parse_message(self._decomp(self.data[pos:pos + ln]))
                entries = []
                for e in ri.get(1, []):
                    em = parse_message(e)
                    stats = parse_stats(parse_message(em[2][0])) \
                        if 2 in em else {}
                    entries.append(
                        {"positions": packed_varints(em.get(1, [])),
                         "stats": stats})
                out[c] = entries
        self._ri_cache = (si, out)
        return out

    def row_index(self, si: int, col: int) -> list[dict]:
        """Parse stripe si's ROW_INDEX stream for a column: one entry
        per row-group with {"positions": [...], "stats": {...}}."""
        return self._row_indexes(si).get(col, [])

    def bloom_strides(self, si: int, col: int, value) -> list[int] | None:
        """Row-group stride ids of stripe ``si`` whose
        BLOOM_FILTER_UTF8 entry for column ``col`` can contain
        ``value`` (str or bytes) — the bloom CONSUMED, not just
        written (the reference declares the proto and stops,
        proto/orc.proto:83-100).  Returns None when the stripe carries
        no bloom stream for that column (caller must scan all
        strides)."""
        from ..codecs import bloom as bloom_codec
        if isinstance(value, str):
            value = value.encode()
        for kind, c, pos, ln in self._stripe_footer(si)[3]:
            if kind == "BLOOM_FILTER_UTF8" and c == col:
                idx = parse_message(self._decomp(self.data[pos:pos + ln]))
                h64 = bloom_codec.hash64(value)
                keep = []
                for t, e in enumerate(idx.get(1, [])):
                    em = parse_message(e)
                    k = em.get(1, [1])[0]
                    bits = em.get(3, [b""])[0]
                    words = np.frombuffer(bits, dtype="<u8")
                    n_bits = len(words) * 64
                    if not n_bits:
                        # unreadable/absent bitset (other writers may
                        # omit utf8bitset): conservatively KEEP the
                        # stride — pruning on it would drop live rows
                        keep.append(t)
                        continue
                    bf = bloom_codec.BloomFilterUtf8.__new__(
                        bloom_codec.BloomFilterUtf8)
                    bf.num_bits = n_bits
                    bf.num_hash_functions = k
                    bf.bitset = words
                    if all(words[p >> 6] & np.uint64(1 << (p & 63))
                           for p in bf._positions(h64)):
                        keep.append(t)
                return keep
        return None

    def equality_lookup(self, column: str, value) -> list:
        """Point lookup via the bloom + row index: decode ONLY the
        strides whose bloom can contain ``value``, then filter the
        residual rows exactly.  Falls back to a full scan per stripe
        when no bloom stream exists."""
        root = self.types[0]
        ci = root.field_names.index(column)
        col = root.children[ci]
        out = []
        for si in range(len(self.stripes)):
            keep = self.bloom_strides(si, col, value)
            if keep is not None and not keep:
                continue
            n = None
            if keep is not None:
                try:
                    n = self.load_strides(si, keep)
                except ValueError:
                    # no row index, or positions carry codec state
                    # (non-stride-restart writer): documented
                    # fallback to a full scan
                    pass
            if n is None:
                n = self._load_stripe_directory(si)
            rows = self._read_column(0, n)
            out.extend(r for r in rows if r.get(column) == value)
        return out

    def read_all(self):
        for si in range(len(self.stripes)):
            yield from self.read_stripe(si)


def _parse_nanos_scalar(v: int) -> int:
    tz = v & 7
    base = v >> 3
    return base if tz == 0 else base * (10 ** (tz + 1))


_TZ_CACHE: dict = {}


def _tzinfo(name: str):
    """The writer zone a file names, or None when the name is empty or
    no zone: unknown (ZoneInfoNotFoundError), malformed (ValueError) or
    a tzdata directory such as ``America`` (IsADirectoryError).  Any
    other error is a bug and propagates."""
    if name not in _TZ_CACHE:
        import zoneinfo
        try:
            _TZ_CACHE[name] = zoneinfo.ZoneInfo(name) if name else None
        except (zoneinfo.ZoneInfoNotFoundError, ValueError,
                IsADirectoryError):
            _TZ_CACHE[name] = None
    return _TZ_CACHE[name]


def _format_ts(rel_secs: int, nanos: int, tz=None) -> str:
    """Civil wall-clock rendering of an ORC timestamp.  The stored
    seconds are relative to 2015-01-01 00:00:00 in the WRITER's
    timezone (stripe footer writerTimezone), so the wall clock is
    recovered through that zone (DST-correct); without a zone this
    reduces to the reference reader's flat UTC-base arithmetic
    (treereader.go:128-131).  Fractional digits: trailing zeros
    trimmed, at least one kept (orc_test.go:96 / Java tools)."""
    from datetime import datetime
    frac = f"{nanos:09d}".rstrip("0") or "0"
    if tz is not None:
        epoch_local = datetime(2015, 1, 1, tzinfo=tz).timestamp()
        instant = rel_secs + epoch_local
        # Java ORC stores pre-1970 seconds truncated toward zero while
        # nanos stay positive: reconstruct with seconds-1 (the reference
        # reader lacks this and skips its 1900-dates golden file)
        if instant < 0 and nanos > 0:
            instant -= 1
        dt = datetime.fromtimestamp(instant, tz)
        return f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d} " \
               f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}.{frac}"
    secs = rel_secs + TIMESTAMP_BASE_SECONDS
    days, rem = divmod(secs, 86400)
    d = np.datetime64(0, "D") + np.timedelta64(int(days), "D")
    h, rem2 = divmod(rem, 3600)
    m, s = divmod(rem2, 60)
    return f"{np.datetime_as_string(d, unit='D')} " \
           f"{h:02d}:{m:02d}:{s:02d}.{frac}"


def load_expected(path: str) -> list[dict]:
    with gzip.open(path, "rt") as f:
        return [json.loads(line) for line in f if line.strip()]
