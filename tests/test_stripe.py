"""Stripe-level encode/decode round trips over Arrow batches, covering
the writer_test.go edge patterns (FIXTURES.md §3) adapted to the token
schema: nulls, empty arrays, all-null rows, alternating patterns."""

import json

import numpy as np
import pyarrow as pa
import pytest

from orc_spark import stripe

RNG = np.random.default_rng(42)


def _token_batch(n=1000, with_nulls=False, with_empties=False):
    lens = RNG.integers(1, 80, n)
    tokens = [RNG.integers(0, 50257, l).astype(np.int32) for l in lens]
    if with_empties:
        for i in range(0, n, 7):
            tokens[i] = np.array([], dtype=np.int32)
    tokens = [t.tolist() for t in tokens]
    if with_nulls:
        tokens = [None if i % 11 == 0 else t for i, t in enumerate(tokens)]
    n_tok = [len(t) if t is not None else None for t in tokens]
    doc_id = [f"doc-{i:012d}" for i in range(n)]
    source = [["cc", "wiki", "books", "code"][i % 4] for i in range(n)]
    if with_nulls:
        doc_id = [None if i % 13 == 0 else v for i, v in enumerate(doc_id)]
        source = [None if i % 13 == 0 else v for i, v in enumerate(source)]
    return pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "tokens": pa.array(tokens, pa.list_(pa.int32())),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(source, pa.string()),
    })


BINARY_SCHEMA = stripe.parse_schema([
    ("doc_id", "binary"), ("tokens", "list<int>"), ("n_tok", "int"),
    ("source", "binary"),
])


@pytest.mark.parametrize("codec", ["none", "zlib"])
@pytest.mark.parametrize("nulls,empties,variant", [
    pytest.param(False, False, None, id="False-False"),
    pytest.param(True, True, None, id="True-True"),
    # binary columns take the sorted dictionary in the stripe table
    pytest.param(True, False, "binary", id="binary-dictionary"),
    pytest.param(True, False, "fsst", id="fsst-nulls"),
    pytest.param(True, True, "strides", id="stride_rows"),
])
def test_token_stripe_roundtrip(codec, nulls, empties, variant):
    batch = _token_batch(1000, with_nulls=nulls, with_empties=empties)
    specs = stripe.TOKEN_SCHEMA
    kwargs = {}
    if variant == "binary":
        specs = BINARY_SCHEMA
        batch = pa.table({c: batch[c].cast(pa.binary())
                          if c in ("doc_id", "source") else batch[c]
                          for c in batch.column_names})
    elif variant == "fsst":
        # 97 long keys: a dictionary blob big enough for FSST to pay
        urls = [None if i % 13 == 0 else f"https://example.org/corpus/{i % 97}"
                for i in range(1000)]
        batch = batch.set_column(3, "source", pa.array(urls, pa.string()))
        kwargs["use_fsst"] = True
    elif variant == "strides":
        kwargs["stride_rows"] = 128
    row = stripe.encode_stripe(batch, specs, codec=codec, **kwargs)
    assert row["n_rows"] == 1000
    encodings = json.loads(row["encodings"])
    if variant == "binary":
        assert encodings["source"] == "DICTIONARY_V2"
    elif variant == "fsst":
        assert encodings["doc_id"] == "DIRECT_V2_FSST"
        assert encodings["source"] == "DICTIONARY_V2_FSST"
    if variant == "strides":
        assert len(stripe.stride_index(row)["rows"]) == 8
        out = stripe.decode_stripe_strides(row, specs, codec=codec)
    else:
        out = stripe.decode_stripe(row, specs, codec=codec)
    assert out.num_rows == 1000
    for col in ("doc_id", "tokens", "n_tok", "source"):
        assert out.column(col).to_pylist() == batch.column(col).to_pylist(), col


def test_source_uses_dictionary_doc_id_direct():
    batch = _token_batch(500)
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA, codec="none")
    encodings = json.loads(row["encodings"])
    assert encodings["source"].startswith("DICTIONARY_V2")  # 4 distinct / 500
    assert encodings["doc_id"].startswith("DIRECT_V2")  # all distinct
    # present streams elided when no nulls
    assert row["doc_id__PRESENT"] is None
    assert row["tokens__PRESENT"] is None


def test_all_null_rows():
    # writer_test.go:217-262 analog
    batch = pa.table({
        "doc_id": pa.array([None, None], pa.string()),
        "tokens": pa.array([None, None], pa.list_(pa.int32())),
        "n_tok": pa.array([None, None], pa.int32()),
        "source": pa.array([None, None], pa.string()),
    })
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA)
    out = stripe.decode_stripe(row, stripe.TOKEN_SCHEMA)
    assert out.column("tokens").to_pylist() == [None, None]
    assert out.column("doc_id").to_pylist() == [None, None]


def test_mixed_types_roundtrip():
    specs = stripe.parse_schema([
        ("i", "int"), ("l", "bigint"), ("d", "double"), ("f", "float"),
        ("b", "boolean"), ("s", "string"), ("bin", "binary"),
        ("ts", "timestamp"), ("dt", "date"), ("arr", "list<bigint>"),
    ])
    n = 777
    batch = pa.table({
        "i": pa.array(RNG.integers(-2**31, 2**31, n), pa.int32()),
        "l": pa.array(RNG.integers(-2**62, 2**62, n), pa.int64()),
        "d": pa.array(RNG.normal(size=n)),
        "f": pa.array(RNG.normal(size=n).astype(np.float32)),
        "b": pa.array(RNG.integers(0, 2, n).astype(bool)),
        "s": pa.array([f"s{i % 50}" for i in range(n)]),
        "bin": pa.array([bytes([i % 256, (i * 7) % 256]) for i in range(n)],
                        pa.binary()),
        "ts": pa.array(RNG.integers(1.3e15, 1.8e15, n), pa.timestamp("us")),
        "dt": pa.array(RNG.integers(0, 20000, n).astype(np.int32), pa.date32()),
        "arr": pa.array([RNG.integers(-10**12, 10**12, RNG.integers(0, 9)).tolist()
                         for _ in range(n)], pa.list_(pa.int64())),
    })
    row = stripe.encode_stripe(batch, specs)
    out = stripe.decode_stripe(row, specs)
    for name in batch.column_names:
        got = out.column(name).to_pylist()
        want = batch.column(name).to_pylist()
        assert got == want, name


def test_timestamp_nanos_roundtrip():
    specs = stripe.parse_schema([("ts", "timestamp")])
    us = [0, 1, 999999, 1_000_000, 1420070400_000000, -5_000_001]
    batch = pa.table({"ts": pa.array(us, pa.timestamp("us"))})
    row = stripe.encode_stripe(batch, specs)
    out = stripe.decode_stripe(row, specs)
    assert out.column("ts").cast(pa.int64()).to_pylist() == us


def test_compression_accounting():
    batch = _token_batch(2000)
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA, codec="zlib")
    raw = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA, codec="none")
    assert row["enc_bytes"] < raw["enc_bytes"]
    assert row["enc_bytes"] > 0


def test_decimal_roundtrip():
    from decimal import Decimal
    specs = stripe.parse_schema([("d", "decimal(18,4)")])
    vals = [Decimal("123.4567"), Decimal("-0.0001"), None,
            Decimal("99999999999999.9999"), Decimal("0.0000")]
    batch = pa.table({"d": pa.array(vals, pa.decimal128(18, 4))})
    row = stripe.encode_stripe(batch, specs)
    out = stripe.decode_stripe(row, specs)
    assert out.column("d").to_pylist() == vals


def test_dictionary_v1_insertion_order():
    from orc_spark.codecs import dictionary as d
    # dictionary_test.go:8-71 semantics: arrival-order indexes
    idx, keys = d.dictionary_v1(["owen", "ashutosh", "owen", "alan"])
    assert idx.tolist() == [0, 1, 0, 2]
    assert keys == ["owen", "ashutosh", "alan"]


def test_stream_bytes_recorded():
    import json
    batch = _token_batch(500)
    row = stripe.encode_stripe(batch, stripe.TOKEN_SCHEMA, codec="zlib")
    st = json.loads(row["stats"])
    assert "DATA" in st["tokens"]["stream_bytes"]
    raw, framed = st["tokens"]["stream_bytes"]["DATA"]
    assert raw > 0 and framed > 0


def test_schema_string_roundtrip():
    s = "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>"
    specs = stripe.parse_schema_string(s)
    assert [(c.name, c.typ) for c in specs] == [
        ("doc_id", "string"), ("tokens", "list<int>"), ("n_tok", "int"),
        ("source", "string")]
    assert stripe.schema_string(specs) == s
    nested = stripe.parse_schema_string(
        "struct<a:decimal(18,4),b:array<bigint>,c:timestamp>")
    assert nested[0].decimal_params() == (18, 4)
    assert nested[1].child_typ == "bigint"


def test_schema_string_malformed_raises_at_parse():
    # the ORC grammar rejects these when the string is parsed, not
    # later when a stripe is encoded
    for bad in ["struct<a:int,>", "struct<a:nosuchtype>"]:
        with pytest.raises(ValueError):
            stripe.parse_schema_string(bad)


@pytest.mark.parametrize("elem", ["int", "string"])
def test_top_level_array_spelling_roundtrip(elem):
    """``array<T>`` and ``list<T>`` name the same column type: both
    encode to identical stripe rows and decode to the input."""
    values = [[1, 2, 3], None, [], [7] * 5] * 50
    if elem == "string":
        values = [None if v is None else [f"w{x}" for x in v]
                  for v in values]
    at = stripe.arrow_type_of(f"list<{elem}>")
    t = pa.table({"c": pa.array(values, at)})
    rows = []
    for spelling in ("list", "array"):
        spec = stripe.ColumnSpec("c", f"{spelling}<{elem}>")
        for kwargs in ({}, {"stride_rows": 64}):
            row = stripe.encode_stripe(t, [spec], **kwargs)
            dec = stripe.decode_stripe_strides(row, [spec])
            assert dec.column("c").combine_chunks().equals(
                t.column("c").combine_chunks()), (spelling, kwargs)
            rows.append(row)
    assert rows[:2] == rows[2:]


@pytest.mark.parametrize("elem", ["tinyint", "smallint", "int", "bigint"])
def test_int_list_decodes_to_declared_type(elem):
    typ = f"list<{elem}>"
    specs = stripe.parse_schema([("c", typ)])
    t = pa.table({"c": pa.array([[1, -2, 3], None, [], [100]] * 10,
                                stripe.arrow_type_of(typ))})
    want = pa.schema([("c", stripe.arrow_type_of(typ))])
    row = stripe.encode_stripe(t, specs)
    assert stripe.decode_stripe(row, specs).schema == want
    row = stripe.encode_stripe(t, specs, stride_rows=8)
    assert stripe.decode_stripe_strides(row, specs).schema == want
    assert stripe.decode_stripe_strides(row, specs).equals(t)


@pytest.mark.parametrize("stride_rows", [None, 8])
def test_int_list_null_elements_roundtrip(stride_rows):
    """A null list ELEMENT survives the stripe table (it used to
    decode as 0): the path follows the data, so a stride holding one
    takes the nested tree with its child PRESENT stream, while a
    null-free token column keeps the token fast path's streams."""
    specs = stripe.parse_schema([("c", "list<int>")])
    t = pa.table({"c": pa.array(
        [[1, None, 3], [4], None, [], [None, None]] * 4 + [[5, 6]] * 12,
        pa.list_(pa.int32()))})
    row = stripe.encode_stripe(t, specs, stride_rows=stride_rows)
    got = stripe.decode_stripe_strides(row, specs) if stride_rows \
        else stripe.decode_stripe(row, specs)
    assert got.equals(t)
    st = json.loads(row["stats"])["c"]
    assert (st["total_elems"], st["min"], st["max"]) == (48, 1, 6)
    clean = pa.table({"c": pa.array([[1, 2, 3], [4], None] * 8,
                                    pa.list_(pa.int32()))})
    a = stripe.encode_stripe(clean, specs, stride_rows=stride_rows)
    assert "NESTED" not in a["encodings"]
    assert stripe.decode_stripe_strides(a, specs).equals(clean)


def test_nested_stripe_roundtrip_kernel():
    """struct/map/list<string>/deep nesting round-trip through the
    stripe-table tree encoder (r3: treewriter analog in the stripe
    path, not just the .orc sink)."""
    import pyarrow as pa
    from orc_spark import stripe

    def cc(a):
        return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

    specs = stripe.parse_schema([
        ("meta", "struct<author:string,score:double,tags:list<string>>"),
        ("attrs", "map<string,bigint>"),
        ("words", "list<string>"),
        ("deep", "list<struct<a:int,b:list<bigint>>>"),
    ])
    n = 200
    meta = pa.array([{"author": f"a{i % 7}", "score": i * 0.5,
                      "tags": [f"t{j}" for j in range(i % 4)]}
                     if i % 5 else None for i in range(n)],
                    stripe.arrow_type_of(specs[0].typ))
    attrs = pa.array([[(f"k{j}", j * i) for j in range(i % 3)]
                      if i % 4 else None for i in range(n)],
                     stripe.arrow_type_of(specs[1].typ))
    words = pa.array([[f"w{j % 11}" for j in range(i % 6)]
                      if i % 3 else None for i in range(n)],
                     stripe.arrow_type_of(specs[2].typ))
    deep = pa.array([[{"a": j, "b": [j, j * 2]} for j in range(i % 3)]
                     if i % 6 else None for i in range(n)],
                    stripe.arrow_type_of(specs[3].typ))
    t = pa.table({"meta": meta, "attrs": attrs, "words": words,
                  "deep": deep})
    for kwargs in ({}, {"stride_rows": 64}):
        row = stripe.encode_stripe(t, specs, **kwargs)
        dec = stripe.decode_stripe_strides(row, specs) \
            if kwargs else stripe.decode_stripe(row, specs)
        for c in t.column_names:
            got = cc(dec.column(c)).cast(cc(t.column(c)).type)
            assert got.equals(cc(t.column(c))), (c, kwargs)
    # projection: a single nested column decodes alone
    row = stripe.encode_stripe(t, specs)
    only = stripe.decode_stripe(row, [specs[2]])
    assert cc(only.column("words")).equals(cc(words))


def test_nested_spark_encode_decode(spark):
    """Nested specs through the distributed encode/decode kernels."""
    from pyspark.sql import functions as F
    from orc_spark import stripe
    from orc_spark.operators import encode as enc_ops
    specs = stripe.parse_schema([
        ("id", "bigint"),
        ("meta", "struct<k:string,v:bigint>"),
        ("attrs", "map<string,bigint>"),
        ("words", "list<string>"),
    ])
    df = spark.range(500).select(
        F.col("id"),
        F.when(F.col("id") % 4 != 0,
               F.struct(F.concat(F.lit("k"), (F.col("id") % 9)
                                 .cast("string")).alias("k"),
                        (F.col("id") * 2).alias("v"))).alias("meta"),
        F.create_map(F.lit("x"), F.col("id")).alias("attrs"),
        F.array(F.lit("alpha"), F.concat(F.lit("w"), (F.col("id") % 13)
                                         .cast("string"))).alias("words"))
    enc = enc_ops.encode(df.repartition(3), specs=specs, stripe_rows=128)
    dec = enc_ops.decode(enc, specs=specs)
    row = dec.agg(
        F.count("*").alias("n"),
        F.count("meta").alias("n_meta"),
        F.sum("meta.v").alias("sum_v"),
        F.sum(F.element_at("attrs", F.lit("x"))).alias("sum_x"),
        F.count_distinct(F.element_at("words", 2)).alias("n_w"),
    ).collect()[0]
    assert row["n"] == 500
    assert row["n_meta"] == 375
    assert row["sum_v"] == sum(i * 2 for i in range(500) if i % 4 != 0)
    assert row["sum_x"] == sum(range(500))
    assert row["n_w"] == 13
    # projection decode of just the nested column
    sub = enc_ops.decode(enc, specs=specs, columns=["words"])
    assert sub.columns == ["words"]
    assert sub.count() == 500


def test_nested_stripe_fuzz_random_schemas():
    """Deterministic fuzz over random nested schemas/data through the
    stripe-table tree encoder (plain + strided), mirroring the .orc
    writer's fuzz: round-trips must be value-identical."""
    import random
    import pyarrow as pa
    from orc_spark import stripe

    rng = random.Random(77)

    def rand_type(depth):
        opts = ["bigint", "int", "double", "string", "boolean"]
        if depth < 2:
            opts += ["list", "struct", "map"]
        t = rng.choice(opts)
        if t == "list":
            return f"list<{rand_type(depth + 1)}>"
        if t == "struct":
            n = rng.randint(1, 3)
            inner = ",".join(f"f{i}:{rand_type(depth + 1)}"
                             for i in range(n))
            return f"struct<{inner}>"
        if t == "map":
            return f"map<string,{rand_type(depth + 1)}>"
        return t

    def rand_value(node, depth=0):
        if rng.random() < 0.15:
            return None
        kind = node.kind
        if kind in ("long", "int"):
            return rng.randint(-1000, 1000)
        if kind == "double":
            return round(rng.uniform(-5, 5), 3)
        if kind == "boolean":
            return rng.random() < 0.5
        if kind == "list":
            return [rand_value(node.children[0], depth + 1)
                    for _ in range(rng.randint(0, 4))]
        if kind == "struct":
            return {nm: rand_value(c, depth + 1)
                    for nm, c in zip(node.field_names, node.children)}
        if kind == "map":
            return [(f"k{j}", rand_value(node.children[1], depth + 1))
                    for j in range(rng.randint(0, 3))]
        return f"s{rng.randint(0, 30)}"

    def cc(a):
        return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

    for trial in range(6):
        typ = rand_type(0)
        if "<" not in typ:
            typ = f"struct<x:{typ}>"
        spec = stripe.ColumnSpec("c", typ)
        if not spec.is_nested:
            continue
        node = spec.orc_type
        at = stripe.arrow_type_of(typ)
        n = 120
        arr = pa.array([rand_value(node) for _ in range(n)], at)
        t = pa.table({"c": arr})
        for kwargs in ({}, {"stride_rows": 32}):
            row = stripe.encode_stripe(t, [spec], **kwargs)
            dec = stripe.decode_stripe_strides(row, [spec]) \
                if kwargs else stripe.decode_stripe(row, [spec])
            got = cc(dec.column("c")).cast(at)
            assert got.equals(cc(arr)), (trial, typ, kwargs)


def test_decimal_high_precision_and_all_null():
    """decimal(38,s) values with >28 significant digits round-trip
    EXACTLY (Decimal-context scaleb silently rounded them), and
    all-null decimal stripes decode instead of KeyError."""
    from decimal import Decimal
    import pyarrow as pa
    from orc_spark import stripe
    specs = stripe.parse_schema([("d", "decimal(38,4)")])
    big = Decimal("123456789012345678901234567890.1234")
    vals = [big, Decimal("-0.0001"), None, Decimal("42")]
    t = pa.table({"d": pa.array(vals, pa.decimal128(38, 4))})
    row = stripe.encode_stripe(t, specs)
    got = stripe.decode_stripe(row, specs).column("d").to_pylist()
    assert got == vals, got
    # all-null stripe
    t2 = pa.table({"d": pa.array([None] * 5, pa.decimal128(38, 4))})
    row2 = stripe.encode_stripe(t2, specs)
    got2 = stripe.decode_stripe(row2, specs).column("d")
    assert got2.null_count == 5


def test_binary_column_stats_have_no_repr_minmax():
    """Binary columns carry count/sum_len only — a str(bytes) repr
    min/max would order differently from bytes and mis-prune."""
    import json
    import pyarrow as pa
    from orc_spark import stripe
    specs = stripe.parse_schema([("b", "binary")])
    t = pa.table({"b": pa.array([b"\x7fzz", b"~aa", b"abc"],
                                pa.binary())})
    row = stripe.encode_stripe(t, specs)
    st = json.loads(row["stats"])["b"]
    assert "min" not in st and "max" not in st
    assert st["count"] == 3
    got = stripe.decode_stripe(row, specs).column("b").to_pylist()
    assert got == [b"\x7fzz", b"~aa", b"abc"]
    # select_strides keeps everything for a stats-less column
    assert stripe.select_strides(row, "b", lo=b"a") == [0]


def test_decimal_negative_scale_renders_exactly():
    """r4 review regression: the SECONDARY scale stream is SIGNED; a
    negative per-value scale must decode as m * 10^|s|, not raise
    InvalidOperation from a malformed 'E--2' literal."""
    from decimal import Decimal
    from orc_spark.codecs import decimal as dec_codec
    from orc_spark.codecs import rle2
    data = dec_codec.encode_mantissas([15, -3])
    secondary = rle2.encode(np.array([-2, -1]), signed=True)
    # replicate the reader's rendering directly
    mants = dec_codec.decode_mantissas(data, 2)
    scales = rle2.decode(secondary, 2, signed=True)
    vals = [Decimal(f"{m}E{-int(s)}")
            for m, s in zip(mants, scales.tolist())]
    assert vals == [Decimal(1500), Decimal(-30)]
    # the whole-array build rescales them to the declared scale
    got = dec_codec.to_arrow(data, scales, 10, 0).to_pylist()
    assert got == [Decimal(1500), Decimal(-30)]


@pytest.mark.parametrize("unit", ["s", "ms", "us", "ns"])
def test_timestamp_units_roundtrip(unit):
    """A timestamp column of any Arrow unit round-trips through the
    stripe table, floored to microseconds (its decode unit); values
    straddle 1970 so the floor is exercised on both sides."""
    specs = stripe.parse_schema([("ts", "timestamp")])
    mul, div = {"s": (10**6, 1), "ms": (10**3, 1), "us": (1, 1),
                "ns": (1, 1000)}[unit]
    base = {"s": 1577934245, "ms": 1577934245123,
            "us": 1577934245123456, "ns": 1577934245123456789}[unit]
    raw = [base, -base, 0, -1, 1, None]
    batch = pa.table({"ts": pa.array(raw, pa.timestamp(unit))})
    row = stripe.encode_stripe(batch, specs)
    got = stripe.decode_stripe(row, specs).column("ts")
    assert got.type == pa.timestamp("us")
    want = [None if v is None else v * mul // div for v in raw]
    assert got.cast(pa.int64()).to_pylist() == want


def test_int_sum_past_int64_absent():
    """An integer sum that leaves int64 is absent, as in Java ORC, in a
    whole stripe and in every rollup that contains it; a rollup of
    stride sums that each fit but together leave int64 is absent too.
    numpy's int64 sum used to wrap to -2**62 here."""
    big = 2 ** 62
    st = stripe._whole_stats(np.array([big] * 3))
    assert (st["min"], st["max"], st["sum"]) == (big, big, None)
    specs = stripe.parse_schema([("x", "bigint")])
    whole = stripe.encode_stripe(pa.table({"x": pa.array([big] * 3)}),
                                 specs)
    assert "sum" not in json.loads(whole["stats"])["x"]
    # strides 0 and 2 sum to 2**62 each; stride 1 overflows on its own
    vals = [big] + [0] * 7 + [big] * 2 + [1] * 6 + [big] + [0] * 7
    batch = pa.table({"x": pa.array(vals, pa.int64())})
    row = stripe.encode_stripe(batch, specs, stride_rows=8)
    strided = json.loads(row["stats"])
    per_stride = [s["x"] for s in strided["_strides"]["stats"]]
    assert [s.get("sum") for s in per_stride] == [big, None, big]
    assert "sum" not in strided["x"]
    assert (strided["x"]["min"], strided["x"]["max"]) == (0, big)
    assert stripe.decode_stripe(row, specs).column("x").to_pylist() == vals
    # two fitting strides whose rollup leaves int64
    row = stripe.encode_stripe(
        pa.table({"x": pa.array([big] + [0] * 7 + [big] * 1 + [0] * 7
                                + [big] + [0] * 7, pa.int64())}),
        specs, stride_rows=8)
    assert "sum" not in json.loads(row["stats"])["x"]


def test_strided_nan_sum_absent():
    """ORC-541: a NaN keeps the double sum out of the stats of its
    stride AND of the stripe rollup, whole or strided."""
    specs = stripe.parse_schema([("x", "double")])
    vals = [1.0] * 16 + [float("nan")] + [2.0] * 15
    batch = pa.table({"x": pa.array(vals)})
    whole = json.loads(stripe.encode_stripe(batch, specs)["stats"])["x"]
    strided = json.loads(stripe.encode_stripe(
        batch, specs, stride_rows=16)["stats"])
    assert "sum" not in whole
    assert "sum" not in strided["x"]
    per_stride = [s["x"] for s in strided["_strides"]["stats"]]
    assert per_stride[0]["sum"] == 16.0 and "sum" not in per_stride[1]
    assert (strided["x"]["min"], strided["x"]["max"]) == (1.0, 2.0)
