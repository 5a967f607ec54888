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
mismatch raises, never silently recodes.  The copy itself is
``ORCFileWriter.append_stripe``, the writer's own stripe assembler:
stripe-level statistics copy verbatim (raw protobuf messages), and
FILE-level statistics roll up from the parsed stripe statistics
through the writer's one merge (``orcwriter._merge_stats``): counts
sum, min/max combine (strings bytewise — ORC's comparison order),
absent bounds or sums stay absent (an overflowed int sum is never
replaced by a wrong number), and an all-NaN double stripe adds no
bounds.  User metadata is not carried (we never write it; document
if merging foreign files that do).

``merge_orc_dir(spark, path, out_dir, target_bytes)`` plans groups
of inputs toward a target output size and merges each group in ONE
executor task — a metadata+copy job whose cost is I/O, not CPU.
"""

from __future__ import annotations

import os

from .. import orctypes
from .orcfile import ORCFile
from .orcwriter import ORCFileWriter


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
    root = orctypes.type_from_types(files[0].types)
    schema = root.orc_string()
    comp = files[0].compression
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
    if rename:
        if root.kind != "struct":
            raise ValueError(
                "orc_merge: rename requires a struct root")
        missing = [o for o in rename if o not in root.field_names]
        if missing:
            raise ValueError(
                f"orc_merge: rename source fields {missing} not "
                f"in {root.field_names}")
        root.field_names = [rename.get(n, n) for n in root.field_names]
    tmp = out_path + ".merging"
    w = ORCFileWriter(tmp, codec=comp, row_index_stride=stride)
    w._set_tree(root)
    with w:
        for f in files:
            for si in range(len(f.stripes)):
                w.append_stripe(f, si)
    os.replace(tmp, out_path)
    return {"n_rows": w.n_total, "n_stripes": len(w.stripe_infos),
            "bytes": os.path.getsize(out_path)}


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
