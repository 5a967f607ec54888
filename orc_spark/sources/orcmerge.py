"""Zero-recode ``.orc`` file merging — the small-files compactor.

Streaming ingest (our DataSource writer, Spark jobs, the reference's
one-file-per-writer model) leaves lakes full of small files; reading
them costs a footer round-trip each and starves stripe coalescing.
ORC's layout makes compaction FREE of re-encoding: every stripe is
self-contained (its index, data and footer streams carry no absolute
offsets), so merging is a byte-copy of stripe ranges plus a new tail
— the ``orc-tools merge`` capability, which the reference never
built.

``merge_orc_files(inputs, out)`` requires identical schemas
(canonical type string), compression kind, and row-index stride — a
mismatch raises, never silently recodes.  Stripe-level statistics
copy verbatim (raw protobuf messages, nothing reparsed); FILE-level
statistics merge exactly: counts sum, min/max combine (strings on
UTF-8 bytes — ORC's comparison order), sums add with absent-sum
propagation (a file whose int sum overflowed keeps the merged sum
honest by omitting it).  User metadata is not carried (we never
write it; document if merging foreign files that do).

``merge_orc_dir(spark, path, out_dir, target_bytes)`` plans groups
of inputs toward a target output size and merges each group in ONE
executor task — a metadata+copy job whose cost is I/O, not CPU.
"""

from __future__ import annotations

import os

from .. import orctypes
from .orcfile import ORCFile, parse_message
from .orcwriter import (MAGIC, WRITER_VERSION, _STAT_GROUP,
                        _bytes_field, _message, _stats_message,
                        _type_messages, _varint_field)
from ..codecs import compression
from ..codecs.bits import write_vulong

def _merge_file_stats(per_file: list[list[dict]],
                      kinds: list[str]) -> list[dict]:
    """Exact column-statistics merge across files.  Conservative by
    construction: a statistic absent from ANY file is absent from the
    merge (no invented bounds)."""
    n_cols = len(kinds)
    out = []
    for c in range(n_cols):
        g = _STAT_GROUP.get(kinds[c], "none")
        acc = {"g": g, "n": 0, "has_null": False}
        have_min = have_sum = True
        for stats in per_file:
            s = stats[c] if c < len(stats) else {}
            acc["n"] += s.get("n", 0)
            acc["has_null"] = acc["has_null"] or s.get("has_null",
                                                       False)
            if "min" in s and have_min:
                for k, pick in (("min", min), ("max", max)):
                    a, b = acc.get(k), s[k]
                    if g == "string":
                        # ORC compares strings BYTEWISE; the emitter
                        # (_stats_message) also wants bytes
                        b = b.encode() if isinstance(b, str) else b
                        acc[k] = b if a is None else pick(a, b)
                    else:
                        acc[k] = b if a is None else pick(a, b)
            elif s.get("n", 0) > 0:
                have_min = False
                acc.pop("min", None)
                acc.pop("max", None)
            if "sum" in s and have_sum:
                prev = acc.get("sum")
                if g == "decimal":
                    from decimal import Decimal, localcontext
                    with localcontext() as ctx:
                        ctx.prec = 80
                        acc["sum"] = Decimal(str(s["sum"])) + (
                            Decimal(str(prev)) if prev is not None
                            else 0)
                else:
                    acc["sum"] = s["sum"] + (prev or 0)
            elif s.get("n", 0) > 0 and g in ("int", "double",
                                             "string", "binary",
                                             "decimal"):
                have_sum = False
                acc.pop("sum", None)
        if g == "bucket":
            acc["true_count"] = sum(
                s.get("true_count", 0)
                for stats in per_file
                for s in [stats[c] if c < len(stats) else {}])
        out.append(acc)
    return out


def merge_orc_files(inputs: list[str], out_path: str,
                    rename: dict | None = None) -> dict:
    """Byte-copy merge of ``inputs`` into one ``out_path``.  Returns
    {n_rows, n_stripes, bytes}.

    ``rename`` ({old_top_level_field: new_name}) rewrites top-level
    struct field names in the emitted footer ONLY — stripe bytes,
    statistics, row indexes and blooms are untouched (column ids
    don't change), which is how orctable.rewrite_migrate renames
    columns in already-written files with zero recode."""
    if not inputs:
        raise ValueError("orc_merge: no input files")
    files = [ORCFile(p) for p in inputs]
    schema = orctypes.type_from_file(inputs[0]).orc_string()
    comp = files[0].compression
    if comp not in ("none", "zlib", "zstd", "snappy", "lz4", "lzo"):
        # stripe bytes could copy verbatim, but the merged tail
        # (metadata + footer + postscript) must be framed under the
        # same codec — fail before writing anything, not mid-file
        # with a bare codec error (snappy/lz4 became writable in r5,
        # lzo later the same round: every codec we read, we write)
        raise ValueError(
            f"orc_merge: cannot re-frame the merged footer under "
            f"{comp!r} (unknown codec); transcode the inputs to "
            f"none/zlib/zstd/snappy/lz4/lzo first")
    stride = files[0].row_index_stride
    for p, f in zip(inputs, files):
        got = orctypes.type_from_types(f.types).orc_string()
        if got != schema:
            raise ValueError(f"orc_merge: schema mismatch — {p} has "
                             f"{got}, expected {schema}")
        if f.compression != comp:
            raise ValueError(f"orc_merge: compression mismatch — {p} "
                             f"is {f.compression}, expected {comp}")
        if f.row_index_stride != stride:
            raise ValueError(f"orc_merge: rowIndexStride mismatch — "
                             f"{p} has {f.row_index_stride}, expected "
                             f"{stride}")

    comp_code = {"none": 0, "zlib": 1, "snappy": 2, "lzo": 3,
                 "lz4": 4, "zstd": 5}[comp]

    def frame(blob: bytes) -> bytes:
        if comp == "none":
            return blob
        return compression.compress(blob, comp)

    stripe_infos: list[tuple] = []
    stripe_stats_raw: list[bytes] = []
    n_total = 0
    tmp = out_path + ".merging"
    with open(tmp, "wb") as out:
        out.write(MAGIC)
        offset = len(MAGIC)
        for p, f in zip(inputs, files):
            # raw StripeStatistics messages ride along verbatim
            raw_meta = getattr(f, "_raw_stripe_stats", None)
            if raw_meta is None:
                raw_meta = _raw_stripe_stats(p)
            stripe_stats_raw.extend(raw_meta)
            for s in f.stripes:
                s_off = s.get(1, [0])[0]
                idx_len = s.get(2, [0])[0]
                data_len = s.get(3, [0])[0]
                foot_len = s.get(4, [0])[0]
                rows = s.get(5, [0])[0]
                total = idx_len + data_len + foot_len
                out.write(bytes(f.data[s_off:s_off + total]))
                stripe_infos.append((offset, idx_len, data_len,
                                     foot_len, rows))
                offset += total
                n_total += rows
        content_len = offset

        # metadata (per-stripe stats, copied raw, in stripe order)
        meta = bytearray()
        for raw in stripe_stats_raw:
            _bytes_field(meta, 1, raw)
        meta_framed = frame(bytes(meta))
        out.write(meta_framed)

        # footer
        root = orctypes.type_from_file(inputs[0])
        if rename:
            if root.kind != "struct":
                raise ValueError(
                    "orc_merge: rename requires a struct root")
            missing = [o for o in rename if o not in root.field_names]
            if missing:
                raise ValueError(
                    f"orc_merge: rename source fields {missing} not "
                    f"in {root.field_names}")
            root = orctypes.OrcType(
                "struct", list(root.children),
                [rename.get(n, n) for n in root.field_names])
        # per-column kinds in column-id order from the file's own
        # type list (covers nested subtrees too)
        kinds = [t.kind for t in files[0].types]
        merged_stats = _merge_file_stats(
            [f.file_statistics for f in files], kinds)
        footer = bytearray()
        _varint_field(footer, 1, len(MAGIC))
        _varint_field(footer, 2, content_len)
        for info in stripe_infos:
            body = _message([(i + 1, "varint", v)
                             for i, v in enumerate(info)
                             if v or i + 1 == 5])
            _bytes_field(footer, 3, body)
        for tm in _type_messages(root):
            _bytes_field(footer, 4, tm)
        _varint_field(footer, 6, n_total)
        _varint_field(footer, 8, stride)
        for st in merged_stats:
            _bytes_field(footer, 7, _stats_message(st))
        footer_framed = frame(bytes(footer))
        out.write(footer_framed)

        ps = bytearray()
        _varint_field(ps, 1, len(footer_framed))
        _varint_field(ps, 2, comp_code)
        _varint_field(ps, 3, compression.DEFAULT_CHUNK_SIZE)
        packed = bytearray()
        write_vulong(packed, 0)
        write_vulong(packed, 12)
        _bytes_field(ps, 4, bytes(packed))
        _varint_field(ps, 5, len(meta_framed))
        _varint_field(ps, 6, WRITER_VERSION)
        _bytes_field(ps, 8000, MAGIC)
        out.write(ps)
        out.write(bytes([len(ps)]))
    os.replace(tmp, out_path)
    return {"n_rows": n_total, "n_stripes": len(stripe_infos),
            "bytes": os.path.getsize(out_path)}


def _raw_stripe_stats(path: str) -> list[bytes]:
    """Raw StripeStatistics protobuf messages from a file's metadata
    section (copied verbatim into the merged file)."""
    f = ORCFile(path)
    psl = f.data[-1]
    ps = parse_message(f.data[-1 - psl:-1])
    footer_len = ps[1][0]
    meta_len = ps.get(5, [0])[0]
    if not meta_len:
        return []
    foot_end = len(f.data) - 1 - psl
    meta = parse_message(f._decomp(
        f.data[foot_end - footer_len - meta_len:foot_end - footer_len]))
    return list(meta.get(1, []))


def merge_orc_dir(spark, path: str, out_dir: str,
                  target_bytes: int = 256 << 20) -> int:
    """Distributed compaction: group the directory's files toward
    ``target_bytes`` per output (greedy, in name order — time order
    for part-file naming), merge each group in one executor task.
    Returns the number of output files.  Zero re-encoding: each task
    is a footer parse + byte copy."""
    import pyarrow as pa

    from .orcscan import orc_files, tasks_df
    files = orc_files(path, "orc_merge")
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_b = 0
    for p in files:
        b = os.path.getsize(p)
        if cur and cur_b + b > target_bytes:
            groups.append(cur)
            cur, cur_b = [], 0
        cur.append(p)
        cur_b += b
    if cur:
        groups.append(cur)
    os.makedirs(out_dir, exist_ok=True)
    gdf = tasks_df(
        spark, {"gid": pa.array(range(len(groups)), pa.int32()),
                "files": pa.array(groups, pa.list_(pa.string()))},
        len(groups))

    def kern(it):
        import pandas as pd
        for pdf in it:
            done = []
            for gid, grp in zip(pdf["gid"], pdf["files"]):
                out = os.path.join(out_dir, f"merged-{gid:05d}.orc")
                merge_orc_files(list(grp), out)
                done.append(int(gid))
            yield pd.DataFrame({"gid": done})

    n = gdf.mapInPandas(kern, "gid int").count()
    assert n == len(groups)
    return len(groups)
