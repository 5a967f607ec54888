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
* **column projection** — ``columns=[...]`` (plain or dotted) decodes
  only those columns' subtrees; other streams stay compressed.
* reads files Spark's built-in reader rejects: ``uniontype`` columns
  surface as the standard sparse struct (``tag`` + one nullable field
  per branch).

Fidelity notes: decimals surface EXACTLY as DECIMAL(p,s) (r4 — the
row reader yields Decimal mantissas, matching reference
decimal.go:53-79); timestamps surface as TIMESTAMP_NTZ (ORC stores
writer-zone wall clock — no instant is implied) truncated to
microseconds, or as lossless LONG wall-clock nanos-since-epoch under
``timestamp_nanos=True``.  Whole and stride-pruned stripes decode
column-major through ``_column_arrow``, whose ``_fast_arrow`` reads
every type tree; no column falls back to per-row Python.  The
columnar stripe table remains the performance path.
"""

from __future__ import annotations

import glob
import os
from datetime import date, datetime

from pyspark.sql import DataFrame, functions as F, types as T

from .. import orctypes, predicates
from .orcfile import ORCFile

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
    pruning stays conservative).  A column the file lacks raises in
    ``strict`` mode and is left out otherwise."""
    ids = {}
    for col, _, _ in preds:
        try:
            ids[col] = f.resolve_path(col)[-1]
        except ValueError:
            if strict:
                raise ValueError(
                    f"orc_scan: predicate column {col!r} not in "
                    f"{sorted(f.types[0].field_names or ['value'])}"
                ) from None
    return ids


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
    preds = predicates.normalize(predicate)
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
                    if not predicates.may_match(
                            ss[si][col_ids[col]], op, val):
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


def _zone_offsets(instant, tz):
    """int64 UTC offset (seconds) of zone ``tz`` at each UTC second of
    ``instant``, exact, from one pair of ``zoneinfo`` probes per
    distinct day: a zone's offset is constant within a day except on
    its 1-2 DST transition days a year, whose values are probed one
    by one.  Not Arrow's zone kernels: pyarrow 16's
    ``local_timestamp`` ignores the TZif POSIX footer and is wrong for
    DST zones from 2038 on."""
    import numpy as np

    def off(u: int) -> int:
        return int(datetime.fromtimestamp(u, tz).utcoffset()
                   .total_seconds())

    days, inv = np.unique(np.floor_divide(instant, 86400),
                          return_inverse=True)
    first = np.array([off(d * 86400) for d in days.tolist()], np.int64)
    last = np.array([off(d * 86400 + 86399) for d in days.tolist()],
                    np.int64)
    offset = first[inv]
    for j in np.flatnonzero((first != last)[inv]).tolist():
        offset[j] = off(int(instant[j]))
    return offset


def _fast_arrow(f: ORCFile, cid: int, n: int, ft):
    """pa.Array of Arrow type ``ft`` for column ``cid`` over ``n``
    rows, built WHOLE-ARRAY — validity bitmaps from PRESENT streams,
    zero-copy offset+blob string construction, offsets-based
    list/map assembly, take-expansion for nested struct children
    (r4; reference treereader.go:29-63 / cursor.go:89-176 walk these
    per row — we don't).  Recurses over the full type tree:
    list<struct<...>>, map<string,struct>, arbitrarily deep.
    Total: every type tree either decodes or raises.  Values the
    row reader replace-decodes (bad UTF-8) read the same way here;
    null map keys, list/map offsets past int32, a decimal past its
    scale or precision and timestamps past int64 raise, as they do
    on the row path (``orcfile._read_column`` + ``_conv``, kept as
    the test reference)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from ..codecs import byterle, dictionary, leaves
    from ..codecs import decimal as dec_codec
    t = f.types[cid]
    k = t.kind
    valid, n_valid = f._present(cid, n)

    if k in ("short", "int", "long", "date"):
        vals = f._ints(cid, "DATA", n_valid, signed=True)
        if pa.types.is_date32(ft):
            vals = vals.astype(np.int32)  # int64 can't cast to date32
        return leaves.with_nulls(vals, valid, ft)
    if k == "byte":
        raw = f._stream(cid, "DATA") or b""
        vals = byterle.decode(raw, n_valid).astype(np.int8)
        return leaves.with_nulls(vals, valid, ft)
    if k == "boolean":
        raw = f._stream(cid, "DATA") or b""
        return leaves.with_nulls(byterle.decode_bools(raw, n_valid), valid)
    if k in ("float", "double"):
        raw = f._stream(cid, "DATA") or b""
        vals = np.frombuffer(raw, dtype="<f4" if k == "float"
                             else "<f8")[:n_valid]
        # evolve widening: a float file read under a double union
        # schema casts exactly (every float32 is a float64)
        return leaves.with_nulls(vals, valid, ft)
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
    if k in ("list", "map"):
        lengths = f._ints(cid, "LENGTH", n_valid, signed=False)
        total = int(lengths.sum())
        if total > 2**31 - 1:
            raise ValueError(f"orc: {k} column {cid} holds {total} "
                             f"entries, past int32 Arrow offsets")
        offsets = leaves.list_offsets(lengths, valid)
        if k == "list":
            return pa.ListArray.from_arrays(
                offsets, _fast_arrow(f, t.children[0], total,
                                     ft.value_type))
        keys = _fast_arrow(f, t.children[0], total, ft.key_type)
        if keys.null_count:
            raise ValueError(f"orc: map column {cid} has null keys "
                             f"(Arrow map keys must be non-null)")
        return pa.MapArray.from_arrays(
            offsets, keys,
            _fast_arrow(f, t.children[1], total, ft.item_type))
    if k == "struct":
        # children map BY NAME against the target struct type (r5):
        # under an evolve-widened union schema a file's struct may
        # lack fields (null-fill) or order them differently — decoding
        # by position would silently misalign values across fields
        fields = [ft.field(i) for i in range(ft.num_fields)]
        have = {fn: c for fn, c in zip(t.field_names, t.children)}
        children = [pa.nulls(n_valid, fld.type) if fld.name not in have
                    else _fast_arrow(f, have[fld.name], n_valid, fld.type)
                    for fld in fields]
        # children hold n_valid entries (ORC elides rows where the
        # parent is null): take-expand to n slots with null indices
        return pa.StructArray.from_arrays(
            [leaves.expand(ch, valid) for ch in children], fields=fields,
            mask=None if valid is None else pa.array(~valid))
    if k == "timestamp":
        # whole-array timestamps (r4).  The stored seconds count from
        # 2015-01-01 in the writer's zone.  No zone, or one this
        # machine does not know: the reference's flat UTC-base
        # arithmetic.  A known zone adds Java's pre-1970 step and, if
        # it is not UTC, its offset (``_zone_offsets``)
        from .orcfile import TIMESTAMP_BASE_SECONDS, _tzinfo
        tz = _tzinfo(f.writer_tz)
        secs = f._ints(cid, "DATA", n_valid, signed=True) \
            .astype(np.int64)
        nanos = leaves.parse_nanos(
            f._ints(cid, "SECONDARY", n_valid, signed=False))
        if tz is None:
            instant = secs + TIMESTAMP_BASE_SECONDS
        else:
            instant = secs + int(datetime(2015, 1, 1,
                                          tzinfo=tz).timestamp())
            # Java truncates pre-1970 seconds toward zero while nanos
            # stay positive (mirrors _format_ts's zone branch)
            instant = instant - ((instant < 0) &
                                 (nanos > 0)).astype(np.int64)
            if f.writer_tz not in ("UTC", "GMT", "Etc/UTC"):
                instant = instant + _zone_offsets(instant, tz)
        # int64 nanos (timestamp_nanos surface) or micros; checked,
        # so a wall clock past int64 raises
        per = 10**9 if pa.types.is_int64(ft) else 10**6
        vals = pc.add_checked(pc.multiply_checked(instant, per),
                              nanos // (10**9 // per))
        return leaves.with_nulls(vals.to_numpy(), valid, ft)
    if k == "decimal":
        # evolve widening casts to the union schema's decimal
        scales = f._ints(cid, "SECONDARY", n_valid, signed=True)
        out = dec_codec.to_arrow(f._stream(cid, "DATA") or b"", scales,
                                 t.precision, t.scale, valid)
        return out if ft.equals(out.type) else out.cast(ft)
    if k == "union":
        # whole-array union -> sparse tag/_u* struct (r4): byte-RLE
        # tags, each variant's child decoded densely (ORC stores only
        # the rows belonging to that variant) then take-expanded to
        # the slots where its tag matches; all other slots null
        raw = f._stream(cid, "DATA") or b""
        tags = byterle.decode(raw, n_valid).astype(np.int8)
        children = [leaves.with_nulls(tags, valid)]
        fields = [ft.field(0)]  # "tag"
        for vi, ccid in enumerate(t.children):
            sel = tags == vi
            ch = _fast_arrow(f, ccid, int(sel.sum()),
                             ft.field(vi + 1).type)
            # expand: rows of THIS variant draw consecutive child
            # values; every other row is null
            if valid is not None:
                sel = leaves.scatter(sel, valid)
            children.append(leaves.expand(ch, sel))
            fields.append(ft.field(vi + 1))
        return pa.StructArray.from_arrays(
            children, fields=fields,
            mask=None if valid is None else pa.array(~valid))
    raise ValueError(f"orc: column {cid} has unsupported kind {k!r}")


def _column_arrow(f: ORCFile, ids: list[int], n: int, ft):
    """pa.Array of Arrow type ``ft`` for the column at the end of the
    id chain ``ids`` over the ``n`` rows of the currently loaded
    stripe (whole or stride-sliced): ancestor PRESENT chain (the root
    struct's included), ``_fast_arrow`` at the surviving count, then
    take-expansion back to ``n`` rows.  There is no second decoder:
    whatever ``_fast_arrow`` raises fails the stripe."""
    from ..codecs import leaves
    valids, cnt = f.path_present_chain(ids, n)
    arr = _fast_arrow(f, ids[-1], cnt, ft)
    # out through the ancestor-struct validity chain, deepest first
    for valid in reversed(valids):
        arr = leaves.expand(arr, valid)
    return arr


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
                if predicates.may_match(entries[t]["stats"], op, val)}
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


def tasks_df(spark, columns: dict, n_parts: int) -> DataFrame:
    """A driver-built task list as a DataFrame of ``n_parts``
    partitions; ``columns`` maps each task column name to a typed
    Arrow array (``pa.string()`` paths, ``pa.int32()`` ids and
    positions, ``pa.binary()`` pickled ``run_tasks`` tasks).  An
    Arrow table enters Spark as a JVM-only LocalTableScan of min(rows,
    defaultParallelism) contiguous slices — no Python pass (a Python
    list goes through ``parallelize`` plus an identity map) and no
    shuffle when that is already the wanted count.  The partition
    count depends only on the input size: a larger count
    repartitions, a smaller one coalesces."""
    import pyarrow as pa
    table = pa.table(columns)
    natural = min(table.num_rows, spark.sparkContext.defaultParallelism)
    df = spark.createDataFrame(table)
    if n_parts == natural:
        return df
    # more tasks than slices: round-robin shuffle; fewer: merge slices
    return df.repartition(n_parts) if n_parts > natural \
        else df.coalesce(n_parts)


# footer-only jobs (stats, COUNT, classify) over at most this many
# tasks run on the driver; above it, and for every job that writes
# files, the tasks run on executors
DRIVER_FOOTER_MAX_FILES = 64
# a file task list spreads over at most this many partitions
_MAX_TASK_PARTS = 256


def run_tasks(spark, tasks: list, fn, footer_only: bool = False) -> list:
    """``[fn(t) for t in tasks]``, computed in Spark tasks.  Each task
    object is pickled into one ``binary`` row of a ``tasks_df`` table
    next to its int32 position; one mapInArrow kernel applies ``fn``
    and yields (position, pickled result) rows, and the driver returns
    the results in task order.  Any picklable task or result
    round-trips unchanged (Decimal, date, nested containers), and an
    exception raised by ``fn`` fails the call.  ``footer_only`` jobs
    (they read file tails and write nothing) run on the driver up to
    DRIVER_FOOTER_MAX_FILES tasks, below the cost of a Spark job;
    above it they keep the task table's own min(tasks,
    defaultParallelism) slices, one Spark job with no shuffle.  Jobs
    that write files get one partition per task, up to
    _MAX_TASK_PARTS."""
    import pickle

    import pyarrow as pa
    if footer_only and len(tasks) <= DRIVER_FOOTER_MAX_FILES:
        return [fn(t) for t in tasks]
    if not tasks:
        return []
    cap = spark.sparkContext.defaultParallelism if footer_only \
        else _MAX_TASK_PARTS
    tdf = tasks_df(
        spark, {"pos": pa.array(range(len(tasks)), pa.int32()),
                "task": pa.array([pickle.dumps(t) for t in tasks],
                                 pa.binary())},
        min(len(tasks), cap))

    def kern(batches):
        from orc_spark._alloc import tune_worker
        tune_worker()
        for b in batches:
            out = [pickle.dumps(fn(pickle.loads(t)))
                   for t in b.column("task").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [b.column("pos"), pa.array(out, pa.binary())],
                names=["pos", "result"])

    got = tdf.mapInArrow(kern, "pos int, result binary").toArrow()
    if got.num_rows != len(tasks):
        raise RuntimeError(f"run_tasks: {got.num_rows} results for "
                           f"{len(tasks)} tasks")
    out: list = [None] * len(tasks)
    for i, r in zip(got.column("pos").to_pylist(),
                    got.column("result").to_pylist()):
        out[i] = pickle.loads(r)
    return out


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
    fdf = tasks_df(spark, {"path": pa.array(files, pa.string())},
                   min(len(files), _MAX_TASK_PARTS))

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
                 ts_nanos: bool):
        self.root_names = root.field_names
        self.root_children = root.children
        self.preds = preds
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

    def decode_stripe(self, f: ORCFile, si: int):
        """One stripe -> pa.RecordBatch (None = fully pruned).  Whole
        and stride-pruned stripes decode alike: load the stripe's
        streams (or only the kept strides' byte ranges), then one
        ``_column_arrow`` per output name — only the named subtrees'
        streams are decompressed."""
        import pyarrow as pa
        n_rows = None
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
                        n_rows = f.load_strides(si, ks)
                    except ValueError:
                        pass  # positions carry codec state
        if n_rows is None:
            n_rows = f._load_stripe_directory(si)
        arrays = []
        for fn in self.root_names:
            ft = self.arrow_schema.field(fn).type
            try:
                # a dotted name is a nested-field projection (r5):
                # only its ancestor PRESENT chain and its subtree load
                ids = f.resolve_path(fn)
            except ValueError:
                # schema evolution: this file predates the column —
                # null-fill (name-based, the Spark convention)
                arrays.append(pa.nulls(n_rows, ft))
                continue
            arrays.append(_column_arrow(f, ids, n_rows, ft))
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
        # (ORCFile.resolve_path maps "value" to column 0)
        full_root = orctypes.OrcType("struct", [full_root], ["value"])
    preds = predicates.normalize(predicate)
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
    root_names = root.field_names

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
        tdf = tasks_df(
            spark,
            {"path": pa.array([p for p, _, _ in tasks], pa.string()),
             "stripe": pa.array([si for _, si, _ in tasks], pa.int32())},
            n_parts(len(tasks), total_rows))

    ctx = _ScanContext(root, preds, timestamp_nanos)

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
                        f = readers[p] = ORCFile(p)
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
        out = out.where(predicates.to_column(c, op, val))
    if columns:
        out = out.select(*[F.col(f"`{c}`") if "." in c else F.col(c)
                           for c in columns])
    return out


def orc_scan_errors(spark, path: str,
                    timestamp_nanos: bool = False) -> DataFrame:
    """Corruption audit over a ``.orc`` lake (r5): attempt a full
    decode of EVERY stripe of every file and report one row per
    failure — ``(path, stripe, error)``; stripe -1 means the file's
    footer/schema itself failed to open.  An empty result proves the
    lake decodes end to end.  The audit runs when called (one
    ``run_tasks`` task per file) and the report is a small local
    DataFrame — the quarantine list to pair with
    ``orc_scan(on_error='skip')`` before deleting or re-ingesting
    objects."""
    files = orc_files(path, "orc_scan_errors")
    rows = [r for rs in run_tasks(
        spark, files, lambda p: _stripe_errors(p, timestamp_nanos))
        for r in rs]
    return spark.createDataFrame(rows,
                                 "path string, stripe int, error string")


def _stripe_errors(p: str, ts_nanos: bool) -> list[tuple]:
    """``(path, stripe, error)`` of every stripe of ``p`` that fails
    to decode; one ``(path, -1, error)`` when the file itself fails
    to open."""
    try:
        f = ORCFile(p)
        root = orctypes.type_from_types(f.types)
        if root.kind != "struct":
            root = orctypes.OrcType("struct", [root], ["value"])
        ctx = _ScanContext(root, [], ts_nanos)
    except Exception as e:
        return [(p, -1, repr(e)[:500])]
    errors = []
    for si in range(len(f.stripes)):
        try:
            ctx.decode_stripe(f, si)
        except Exception as e:
            errors.append((p, si, repr(e)[:500]))
    return errors


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
