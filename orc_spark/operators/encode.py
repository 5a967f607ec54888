"""Spark encode/decode pipelines over the stripe kernels.

The encode path mirrors the reference write path (scritchley/orc
writer.go:155-174 row buffering + writer.go:320-481 stripe flush) in
Spark's execution model: ``repartition`` distributes rows, a
``mapInArrow`` kernel buffers Arrow batches per partition and flushes a
stripe whenever the row-count or token-budget target is hit, emitting
ONE row per stripe.  The decode path is the cursor (cursor.go:89-176)
as a batch kernel: one encoded-stripe row in, one Arrow batch of
original rows out — no per-row Python anywhere.

Projection pushdown: decode(columns=[...]) selects only the requested
columns' stream binaries, so the Parquet scan of an encoded table reads
only those streams (the Spark-native analog of Reader.Select,
reader.go:335-338 / cursor.go:29-45).

Skew: stripes are capped by BOTH rows and a token budget, so a
partition full of long documents produces more, smaller stripes instead
of one huge memory-blowing stripe; partition planning hashes on doc_id
(many docs >> partitions => even token totals) with optional salting
for grouped layouts.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from .. import predicates, stripe as stripe_mod
from ..stripe import ColumnSpec, TOKEN_SCHEMA, stream_columns

DEFAULT_STRIPE_ROWS = 1 << 20  # reference stripeTargetRowCount (writer.go:20)
DEFAULT_STRIPE_TOKENS = 32 << 20  # token budget analog of 200MiB target
# r6 (guide §6): the stripe-table default codec is zstd — measured on
# real token streams it compresses BETTER than the old zlib-4 (ratio
# 0.40 vs 0.51) at ~3.7x the encode speed and ~3x the decode speed
# (Arrow's C zstd vs Python zlib).  The constant lives in stripe.py so
# every stripe-table module shares ONE write/read default; the .orc
# FILE writer paths keep their own explicit codecs (reference interop
# is pinned there).
DEFAULT_CODEC = stripe_mod.DEFAULT_CODEC

_META_FIELDS = [
    ("part_id", T.IntegerType(), pa.int32()),
    ("stripe_id", T.LongType(), pa.int64()),
    ("n_rows", T.LongType(), pa.int64()),
    ("n_tokens", T.LongType(), pa.int64()),
    ("orig_bytes", T.LongType(), pa.int64()),
    ("enc_bytes", T.LongType(), pa.int64()),
    ("encodings", T.StringType(), pa.string()),
    ("stats", T.StringType(), pa.string()),
]


_NUMERIC_ZONE = set(stripe_mod.INT_TYPES) | {"float", "double", "date"}


def zone_columns(specs: list[ColumnSpec]) -> list[tuple[str, str]]:
    """(column_name, kind) pairs for the NATIVE zone-map columns the
    encoded table carries: ``{col}__MIN`` / ``{col}__MAX`` typed
    double (numeric/date/int-list element range) or string.  Unlike
    the stats JSON, these are plain Parquet columns, so
    ``prune_stripes`` predicates push down to the scan and Parquet
    row-group statistics skip whole blocks of stripe METADATA at
    100 TB (sorted layouts make them monotone)."""
    out = []
    for s in specs:
        if s.is_nested or s.is_decimal:
            continue
        if s.typ in _NUMERIC_ZONE or s.is_list:
            out.append((s.name, "double"))
        elif s.typ == "string":
            out.append((s.name, "string"))
    return out


def encoded_spark_schema(specs: list[ColumnSpec],
                         bloom_columns: list[str] | None = None
                         ) -> T.StructType:
    fields = [T.StructField(n, t, True) for n, t, _ in _META_FIELDS]
    for name, kind in zone_columns(specs):
        zt = T.DoubleType() if kind == "double" else T.StringType()
        fields += [T.StructField(f"{name}__MIN", zt, True),
                   T.StructField(f"{name}__MAX", zt, True)]
    for name in bloom_columns or []:
        fields.append(T.StructField(f"{name}__BLOOM", T.BinaryType(),
                                    True))
    fields += [T.StructField(c, T.BinaryType(), True)
               for c in stream_columns(specs)]
    return T.StructType(fields)


def encoded_arrow_schema(specs: list[ColumnSpec],
                         bloom_columns: list[str] | None = None
                         ) -> pa.schema:
    fields = [pa.field(n, at) for n, _, at in _META_FIELDS]
    for name, kind in zone_columns(specs):
        zt = pa.float64() if kind == "double" else pa.string()
        fields += [pa.field(f"{name}__MIN", zt),
                   pa.field(f"{name}__MAX", zt)]
    for name in bloom_columns or []:
        fields.append(pa.field(f"{name}__BLOOM", pa.binary()))
    fields += [pa.field(c, pa.binary()) for c in stream_columns(specs)]
    return pa.schema(fields)


def decoded_spark_schema(specs: list[ColumnSpec]) -> T.StructType:
    return T.StructType(
        [T.StructField(s.name, s.orc_type.to_spark(), True)
         for s in specs])


def plan_partitions(df: DataFrame, n_partitions: int | None = None,
                    target_tokens: int = 256 << 20,
                    weight_col: str = "n_tok",
                    salt_col: str = "doc_id") -> DataFrame:
    """Distribute rows so each partition carries a roughly equal token
    load.  Hashing on the (high-cardinality) doc id gives an even
    expected token sum when docs >> partitions; the long-tail skew of
    single huge docs is then bounded inside the encode kernel by the
    stripe token budget (SURVEY.md §4.2)."""
    if n_partitions is None:
        total = df.agg(F.sum(F.col(weight_col)).alias("t")).collect()[0]["t"]
        n_partitions = max(1, int((total or 0) // target_tokens) + 1)
    return df.repartition(n_partitions, F.xxhash64(F.col(salt_col)))


def salted_repartition(df: DataFrame, n_partitions: int,
                       group_col: str = "source", salts: int = 16,
                       salt_src: str = "doc_id") -> DataFrame:
    """Skew-tamed repartition for grouped layouts: when co-locating by a
    low-cardinality key (e.g. source), a hot group would land on one
    partition; salting spreads each group over ``salts`` partitions
    while keeping group members clustered (SURVEY.md §2.3/§4.2)."""
    return df.repartition(
        n_partitions, F.col(group_col),
        F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salts)))


def encode(df: DataFrame, specs: list[ColumnSpec] = TOKEN_SCHEMA,
           stripe_rows: int = DEFAULT_STRIPE_ROWS,
           stripe_tokens: int = DEFAULT_STRIPE_TOKENS,
           codec: str = DEFAULT_CODEC, use_fsst: bool = False,
           token_col: str = "tokens",
           group_col: str | None = None,
           stride_rows: int | None = None,
           bloom_columns: list[str] | None = None) -> DataFrame:
    """Encode a DataFrame into the stripe table (one row per stripe).

    With ``group_col`` set, input must be sorted by that column within
    partitions; stripes never span group boundaries and carry the group
    value as their ``part_id`` (stable lineage for checkpoint/resume).

    With ``stride_rows`` set, every stripe carries a row-group stride
    index (per-stride stats + stream byte offsets, the reference's
    10k-row ROW_INDEX analog) and ``decode(stride_filter=...)`` skips
    non-qualifying strides without decompressing them.
    """
    arrow_schema = encoded_arrow_schema(specs, bloom_columns)
    names = [s.name for s in specs]
    token_idx = names.index(token_col) if token_col in names else None
    sel = names + ([group_col] if group_col else [])
    zone_cols = zone_columns(specs)
    bloom_cols = list(bloom_columns or [])
    for bc in bloom_cols:
        spec = next(sp for sp in specs if sp.name == bc)
        if spec.typ not in ("string", "binary"):
            raise ValueError(f"bloom_columns {bc}: string-family "
                             f"column required, got {spec.typ}")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from orc_spark._alloc import tune_worker
        tune_worker()
        from pyspark import TaskContext
        ctx = TaskContext.get()
        task_part = ctx.partitionId() if ctx is not None else 0
        state = {"stripe_id": 0, "buf": [], "rows": 0, "tokens": 0,
                 "group": None}

        def flush():
            if not state["buf"]:
                return None
            table = pa.Table.from_batches(state["buf"])
            row = stripe_mod.encode_stripe(table, specs, codec=codec,
                                           use_fsst=use_fsst,
                                           stride_rows=stride_rows)
            pid = task_part if state["group"] is None else state["group"]
            row["part_id"] = pid
            row["stripe_id"] = pid * 1_000_000 + state["stripe_id"]
            row["n_tokens"] = state["tokens"]
            row["orig_bytes"] = table.nbytes
            # native zone-map columns (Parquet-pushdown-able min/max);
            # the parsed stats ride along from encode_stripe — no
            # serialize->parse round trip on the hot path
            col_stats = row.pop("_stats_obj", None)
            if col_stats is None:
                col_stats = json.loads(row["stats"])
            for zname, zkind in zone_cols:
                st = col_stats.get(zname) or {}
                mn, mx = st.get("min"), st.get("max")
                if zkind == "double":
                    mn = float(mn) if mn is not None else None
                    mx = float(mx) if mx is not None else None
                row[f"{zname}__MIN"] = mn
                row[f"{zname}__MAX"] = mx
            if bloom_cols:
                # per-stripe bloom over the column's DISTINCT values:
                # equality pruning that works on UNSORTED layouts
                # where min/max zones are too wide to bite
                import pyarrow.compute as _pc
                from ..codecs import bloom as _bloom
                for bc in bloom_cols:
                    vals = _pc.unique(table.column(bc).drop_null())
                    row[f"{bc}__BLOOM"] = _bloom.serialize_filter(
                        [v.encode() if isinstance(v, str) else v
                         for v in vals.to_pylist()])
            state["stripe_id"] += 1
            state["buf"] = []
            state["rows"] = 0
            state["tokens"] = 0
            arrays = [pa.array([row.get(f.name)], f.type)
                      for f in arrow_schema]
            return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        def add(sub: pa.RecordBatch, group):
            import numpy as np
            if group is not None and state["group"] is not None and \
                    group != state["group"]:
                out = flush()
                if out is not None:
                    yield out
            state["group"] = group
            # per-row token weights (skew: a huge doc closes its stripe)
            if token_idx is not None and pa.types.is_list(
                    sub.column(token_idx).type):
                weights = sub.column(token_idx).value_lengths() \
                    .fill_null(0).to_numpy(zero_copy_only=False)
            else:
                weights = np.ones(sub.num_rows, dtype=np.int64)
            cum = np.cumsum(weights)
            lo = 0
            n = sub.num_rows
            while lo < n:
                room_rows = stripe_rows - state["rows"]
                room_tok = stripe_tokens - state["tokens"]
                base = cum[lo - 1] if lo else 0
                k = int(np.searchsorted(cum[lo:], base + room_tok,
                                        side="right"))
                take = max(1, min(n - lo, room_rows, max(k, 1)))
                piece = sub.slice(lo, take)
                state["buf"].append(piece)
                state["rows"] += take
                state["tokens"] += int(cum[lo + take - 1] - base)
                lo += take
                if state["rows"] >= stripe_rows or \
                        state["tokens"] >= stripe_tokens:
                    out = flush()
                    if out is not None:
                        yield out

        import numpy as np
        for batch in batches:
            if group_col is None:
                yield from add(batch, None)
                continue
            gvals = batch.column(group_col).to_numpy(zero_copy_only=False)
            data = batch.select(names)
            if not len(gvals):
                continue
            bounds = np.flatnonzero(np.diff(gvals)) + 1
            lo = 0
            for b in bounds.tolist() + [len(gvals)]:
                yield from add(data.slice(lo, b - lo), int(gvals[lo]))
                lo = b
        out = flush()
        if out is not None:
            yield out

    return df.select(sel).mapInArrow(
        kernel, encoded_spark_schema(specs, bloom_columns))


def decode(enc_df: DataFrame, specs: list[ColumnSpec] = TOKEN_SCHEMA,
           columns: list[str] | None = None,
           codec: str = DEFAULT_CODEC,
           stride_filter: tuple | None = None,
           predicate: tuple | str | None = None) -> DataFrame:
    """Decode a stripe table back to original rows.

    ``columns`` prunes the decode to a subset: only those columns'
    stream binaries are selected (and therefore read from Parquet).

    ``predicate=(col, op, val)`` — op in ``predicates.OPS`` (>=, >,
    <=, <, ==, between, in, prefix; ``"="`` means ``"=="``) — is the
    one-call pruning path: stripes whose stats cannot match are
    dropped (prune_stripes), qualifying stripes skip non-matching
    row-group strides (stride_filter), and the residual row filter is
    applied to the decoded rows, so the result is EXACT while only the
    byte ranges that can match are decompressed.  A LIST of such
    tuples is a conjunction: every predicate prunes stripes, the
    stride keep-sets intersect, and the residual is the AND.  A SQL
    STRING — ``predicate="n_tok >= 60 AND source = 'web'"`` — parses
    to the same conjunction grammar (orc_spark/predicates.py).

    ``stride_filter=(col, lo, hi)`` is the lower-level row-group-skip
    control (requires encode(stride_rows=...); combine with a row
    filter for exact results) — ``predicate`` supersedes it."""
    residual = None
    drop_after: list[str] = []
    if predicate is not None:
        filters = []
        for pcol, op, val in predicates.normalize(predicate):
            lo, hi = predicates.bounds(op, val)
            enc_df = prune_stripes(enc_df, pcol, lo, hi)
            if op == "==" and isinstance(val, (str, bytes)):
                # bloom equality pruning when the table carries blobs
                enc_df = prune_stripes_eq(enc_df, pcol, val)
            elif op == "in" and all(isinstance(v, (str, bytes))
                                    for v in val):
                # finite disjunction: drop stripes whose bloom holds
                # NONE of the listed values (r5)
                enc_df = prune_stripes_in(enc_df, pcol, val)
            filters.append((pcol, lo, hi))
            expr = predicates.to_column(F.col(pcol), op, val)
            residual = expr if residual is None else residual & expr
            if columns is not None and pcol not in columns and \
                    pcol not in drop_after:
                # the filter column must be decoded to evaluate the
                # residual predicate; drop it from the final projection
                columns = list(columns) + [pcol]
                drop_after.append(pcol)
        if stride_filter is None:
            stride_filter = filters
    if columns is not None:
        specs = [s for s in specs if s.name in columns]
    # schema evolution: specs may name columns the stripes were written
    # WITHOUT (an older table read with a newer schema) — those decode
    # as all-null columns of the requested type; only present columns'
    # stream binaries are selected/read
    avail = set(enc_df.columns)
    present_specs = [s for s in specs if f"{s.name}__DATA" in avail]
    missing_specs = [s for s in specs if f"{s.name}__DATA" not in avail]
    if not present_specs:
        raise ValueError("none of the requested columns exist in the "
                         "stripe table")
    needed = ["n_rows", "encodings", "stats"] + \
        stream_columns(present_specs)
    out_schema = decoded_spark_schema(specs)
    arrow_out = pa.schema(
        [pa.field(s.name, s.orc_type.to_arrow()) for s in specs])
    if stride_filter is None:
        stride_filters = []
    elif isinstance(stride_filter, tuple):
        stride_filters = [stride_filter]
    else:
        stride_filters = list(stride_filter)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from orc_spark._alloc import tune_worker
        tune_worker()
        for batch in batches:
            # one input row per stripe; stream blobs stay zero-copy
            # Arrow buffer views (never copied into Python bytes) —
            # decompress() slices the framed chunks straight off them
            names = batch.schema.names
            cols = [batch.column(i) for i in range(batch.num_columns)]
            is_bin = [pa.types.is_binary(c.type) or
                      pa.types.is_large_binary(c.type) for c in cols]
            for j in range(batch.num_rows):
                row = {}
                for name, col, binary in zip(names, cols, is_bin):
                    s = col[j]
                    if not s.is_valid:
                        row[name] = None
                    elif binary:
                        row[name] = memoryview(s.as_buffer())
                    else:
                        row[name] = s.as_py()
                strided = row.get("stats") is not None and \
                    '"_strides"' in row["stats"]
                if strided:
                    keep = None
                    for col, lo, hi in stride_filters:
                        ks = set(stripe_mod.select_strides(
                            row, col, lo, hi))
                        keep = ks if keep is None else keep & ks
                    if stride_filters and not keep:
                        continue
                    table = stripe_mod.decode_stripe_strides(
                        row, present_specs, codec=codec, keep=keep)
                else:
                    table = stripe_mod.decode_stripe(
                        row, present_specs, codec=codec)
                if table.num_rows == 0:
                    continue
                for ms in missing_specs:
                    table = table.append_column(
                        ms.name, pa.nulls(
                            table.num_rows, ms.orc_type.to_arrow()))
                table = table.select([s.name for s in specs]) \
                    .cast(arrow_out)
                for out in table.to_batches():
                    yield out

    out = enc_df.select(needed).mapInArrow(kernel, out_schema)
    if residual is not None:
        out = out.where(residual)
    if drop_after:
        out = out.drop(*drop_after)
    return out


def prune_stripes_eq(enc_df: DataFrame, column: str, value) -> DataFrame:
    """Equality pruning via the per-stripe bloom column (written by
    ``encode(bloom_columns=[...])``): drop stripes whose bloom cannot
    contain ``value`` — bites on UNSORTED layouts where the min/max
    zone spans everything.  The test runs as a vectorized pandas UDF
    over stripe METADATA rows (one blob per stripe, never the data);
    stripes without a blob are conservatively kept."""
    return prune_stripes_in(enc_df, column, [value])


def prune_stripes_in(enc_df: DataFrame, column: str,
                     values) -> DataFrame:
    """IN-list bloom pruning (r5): drop stripes whose bloom contains
    NONE of the listed values — the finite-disjunction dual of
    prune_stripes_eq (a stripe survives if ANY value may be
    present).  Same metadata-only pandas UDF."""
    bcol = f"{column}__BLOOM"
    if bcol not in enc_df.columns:
        return enc_df
    from pyspark.sql.functions import pandas_udf
    vbs = [v.encode() if isinstance(v, str) else bytes(v)
           for v in values]

    @pandas_udf("boolean")
    def may_contain(blobs):
        import pandas as pd
        from orc_spark.codecs import bloom as bloom_codec
        return pd.Series([
            True if b is None
            else any(bloom_codec.test_serialized(bytes(b), vb)
                     for vb in vbs)
            for b in blobs])

    return enc_df.where(may_contain(F.col(bcol)))


def compact(enc_df: DataFrame, specs: list[ColumnSpec] = TOKEN_SCHEMA,
            stripe_rows: int = DEFAULT_STRIPE_ROWS,
            stripe_tokens: int = DEFAULT_STRIPE_TOKENS,
            codec: str = DEFAULT_CODEC, use_fsst: bool = False,
            n_partitions: int | None = None,
            stride_rows: int | None = None) -> DataFrame:
    """Re-stripe an encoded table at a new stripe geometry: the
    compaction step after incremental/streaming ingest leaves many
    small stripes (each a row in the table; tiny stripes decode fine
    but waste scan setup and dictionary locality at 100 TB).  Decode
    and re-encode fuse into ONE map stage per partition — no shuffle
    unless ``n_partitions`` asks for a rebalance first."""
    dec = decode(enc_df, specs=specs, codec=codec)
    if n_partitions:
        dec = dec.repartition(n_partitions)
    return encode(dec, specs=specs, stripe_rows=stripe_rows,
                  stripe_tokens=stripe_tokens, codec=codec,
                  use_fsst=use_fsst, stride_rows=stride_rows)


def prune_stripes(enc_df: DataFrame, column: str,
                  lo=None, hi=None) -> DataFrame:
    """Row-group skipping, realized: drop stripes whose recorded
    min/max stats (stripe stats JSON) cannot contain values in
    [lo, hi].  The reference records this index data but never consumes
    it (SURVEY §2.2 P2 / §3.3); here it prunes the decode input —
    combine with decode() + a row filter for exact results.

    When the table carries native zone-map columns
    (``{col}__MIN``/``{col}__MAX``, written by encode since r3), the
    filter sits on plain Parquet columns and PUSHES DOWN to the scan —
    Parquet row-group stats then skip whole blocks of stripe metadata;
    older tables fall back to JSON-extracted stats (post-scan filter).

    String bounds compare lexicographically against the string stats
    (casting them to double would nullify every comparison and
    silently prune live stripes); a stripe whose stats lack min/max
    for the column (all-null stride, count-only types like timestamp)
    is conservatively KEPT — the residual row filter stays exact.

    A bound of another family than the zone column (a date or
    datetime anywhere, a string on a numeric zone, a number on a
    string zone; ``predicates.family``) prunes nothing: it keeps every
    stripe and the residual row filter decides each row."""
    native = f"{column}__MIN" in enc_df.columns
    fams = {"num", "str"}
    if native:
        fams = {"str" if isinstance(enc_df.schema[f"{column}__MIN"]
                                    .dataType, T.StringType) else "num"}
    if predicates.family(lo) not in fams:
        lo = None
    if predicates.family(hi) not in fams:
        hi = None
    is_str = isinstance(lo, str) or isinstance(hi, str)

    def stat(field):
        if native:
            return F.col(f"{column}__{field.upper()}")
        c = F.get_json_object("stats", f"$.{column}.{field}")
        return c if is_str else c.cast("double")

    out = enc_df
    # "pred OR IS NULL" (not coalesce) so the Parquet source can
    # translate the filter: Or(LessThanOrEqual, IsNull) pushes down,
    # coalesce() does not
    if hi is not None:
        out = out.where((stat("min") <= F.lit(hi)) |
                        stat("min").isNull())
    if lo is not None:
        out = out.where((stat("max") >= F.lit(lo)) |
                        stat("max").isNull())
    return out


def footer(enc_df: DataFrame) -> DataFrame:
    """File-footer analog: global rollup of the stripe table
    (writer.go:228-318 footer + metadata), as a small DataFrame."""
    return enc_df.agg(
        F.count("*").alias("n_stripes"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("orig_bytes").alias("orig_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("enc_bytes") / F.sum("n_tokens")).alias("bytes_per_token"),
    )


def stripe_report(enc_df: DataFrame) -> DataFrame:
    """Per-stripe size/encoding report (index-table analog)."""
    return enc_df.select(
        "part_id", "stripe_id", "n_rows", "n_tokens", "orig_bytes",
        "enc_bytes", "encodings",
        (F.col("enc_bytes") / F.col("n_tokens")).alias("bytes_per_token"),
    )
