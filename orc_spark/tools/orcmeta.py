"""orcmeta — dump a ``.orc`` file's metadata (the `orc-tools meta`
analog, built on our footer parser; the reference ships no metadata
tool, so this is beyond-parity debugging support for the files the
engine writes and reads).

Prints schema (canonical type string), row/stripe counts, compression,
row-index stride, per-stripe layout (rows + stream byte sizes),
stripe-0 column encodings, file-level column statistics, and which
columns carry BLOOM_FILTER_UTF8 streams.

Usage::

    python -m orc_spark.tools.orcmeta -f file.orc [-j]
"""

from __future__ import annotations

import argparse
import json
import sys


def gather(path: str) -> dict:
    from ..sources.orcfile import ORCFile
    from ..orctypes import type_from_types

    f = ORCFile(path)
    out: dict = {
        "file": path,
        "schema": type_from_types(f.types).orc_string(),
        "n_rows": f.n_rows,
        "compression": f.compression,
        "row_index_stride": f.row_index_stride,
        "n_stripes": len(f.stripes),
    }
    root = f.types[0]
    names = {cid: fn for cid, fn in zip(root.children,
                                        root.field_names)}
    stripes = []
    bloom_cols: set[str] = set()
    for si, info in enumerate(f.stripes):
        offset = info.get(1, [0])[0]
        index_len = info.get(2, [0])[0]
        data_len = info.get(3, [0])[0]
        footer_len = info.get(4, [0])[0]
        n_rows = info.get(5, [0])[0]
        for kind, cid, _, _ in f._stripe_footer(si)[3]:
            if kind == "BLOOM_FILTER_UTF8":
                bloom_cols.add(names.get(cid, f"col{cid}"))
        stripes.append({"rows": n_rows, "offset": offset,
                        "index_bytes": index_len,
                        "data_bytes": data_len,
                        "footer_bytes": footer_len})
    out["stripes"] = stripes
    if f.stripes:
        # encodings come from the stripe footer: load stripe 0's
        f._load_stripe_directory(0)
        out["encodings"] = {
            names.get(cid, f"col{cid}"): f.encodings[cid]
            for cid in root.children if cid < len(f.encodings)}
    out["bloom_columns"] = sorted(bloom_cols)
    stats = {}
    for cid in root.children:
        if cid < len(f.file_statistics):
            st = dict(f.file_statistics[cid])
            st.pop("g", None)
            stats[names.get(cid, f"col{cid}")] = st
    out["column_statistics"] = stats
    return out


def main(argv=None, out=None) -> int:
    p = argparse.ArgumentParser(
        prog="orcmeta", description="dump ORC file metadata")
    p.add_argument("-f", dest="file", required=True,
                   help="the ORC file to inspect")
    p.add_argument("-j", dest="as_json", action="store_true",
                   help="emit one JSON object instead of text")
    args = p.parse_args(argv)
    w = out or sys.stdout
    meta = gather(args.file)
    if args.as_json:
        print(json.dumps(meta, default=str), file=w)
        return 0
    print(f"file: {meta['file']}", file=w)
    print(f"schema: {meta['schema']}", file=w)
    print(f"rows: {meta['n_rows']}  stripes: {meta['n_stripes']}  "
          f"compression: {meta['compression']}  "
          f"row-index stride: {meta['row_index_stride']}", file=w)
    for si, s in enumerate(meta["stripes"]):
        print(f"  stripe {si}: rows={s['rows']} offset={s['offset']} "
              f"index={s['index_bytes']} data={s['data_bytes']} "
              f"footer={s['footer_bytes']}", file=w)
    if meta.get("encodings"):
        print("encodings (stripe 0): " + ", ".join(
            f"{c}={e}" for c, e in meta["encodings"].items()), file=w)
    if meta["bloom_columns"]:
        print("bloom columns: " + ", ".join(meta["bloom_columns"]),
              file=w)
    for c, st in meta["column_statistics"].items():
        print(f"  stats {c}: " + json.dumps(st, default=str), file=w)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
