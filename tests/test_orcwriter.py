"""ORC file writer: our kernels assemble real .orc files that
independent implementations (pyarrow C++ ORC, Spark JVM ORC) read back
content-identical."""

import numpy as np
import pyarrow as pa
import pytest

from orc_spark import stripe
from orc_spark.sources import orcfile, orcwriter

RNG = np.random.default_rng(42)


@pytest.fixture(scope="module")
def token_table():
    n = 4000
    lens = RNG.integers(1, 60, n)
    toks = [RNG.integers(0, 50257, l).tolist() for l in lens]
    return pa.table({
        "doc_id": [f"doc-{i:012d}" for i in range(n)],
        "tokens": pa.array(toks, pa.list_(pa.int32())),
        "n_tok": pa.array([len(x) for x in toks], pa.int32()),
        "source": pa.array([["cc", "wiki", "books"][i % 3]
                            for i in range(n)]),
    })


@pytest.mark.parametrize("codec", ["none", "zlib"])
def test_write_read_own_reader(token_table, tmp_path, codec):
    path = str(tmp_path / f"t_{codec}.orc")
    st = orcwriter.write_orc(token_table, path, codec=codec,
                             stripe_rows=1500)
    assert st["rows"] == token_table.num_rows
    assert st["stripes"] == 3
    f = orcfile.ORCFile(path)
    rows = list(f.read_all())
    assert len(rows) == token_table.num_rows
    toks = token_table.column("tokens").to_pylist()
    for i in (0, 1234, 3999):
        assert rows[i]["tokens"] == toks[i]
        assert rows[i]["doc_id"] == f"doc-{i:012d}"


@pytest.mark.parametrize("values", [
    pytest.param([["cc", "wiki", "books"][i % 3] for i in range(3000)],
                 id="dictionary"),
    pytest.param([f"doc-{i:012d}" for i in range(3000)], id="direct"),
])
def test_string_streams_match_stripe_table(tmp_path, values):
    # one string codec: the stripe table and a one-stride .orc file
    # carry byte-identical uncompressed string streams
    arr = pa.array([None if i % 13 == 0 else v
                    for i, v in enumerate(values)])
    encoding, streams, _ = stripe.encode_column(
        arr, stripe.ColumnSpec("s", "string"))
    path = str(tmp_path / "s.orc")
    orcwriter.write_orc(pa.table({"s": arr}), path, codec="none")
    f = orcfile.ORCFile(path)
    f._load_stripe_directory(0)
    assert f.encodings[1] == encoding
    for kind in ("PRESENT", "DATA", "LENGTH", "DICTIONARY_DATA"):
        assert f._stream(1, kind) == streams.get(kind), kind


def test_pyarrow_cpp_reader_reads_our_file(token_table, tmp_path):
    from pyarrow import orc as pa_orc
    path = str(tmp_path / "t.orc")
    orcwriter.write_orc(token_table, path, codec="zlib")
    got = pa_orc.read_table(path)
    assert got.num_rows == token_table.num_rows
    for col in token_table.column_names:
        assert got.column(col).to_pylist() == \
            token_table.column(col).to_pylist(), col


def test_spark_jvm_reader_reads_our_file(spark, token_table, tmp_path):
    from pyspark.sql import functions as F
    path = str(tmp_path / "t.orc")
    orcwriter.write_orc(token_table, path, codec="zlib")
    df = spark.read.orc(path)
    assert df.count() == token_table.num_rows
    got = df.agg(F.sum("n_tok"), F.countDistinct("source"),
                 F.sum(F.size("tokens"))).collect()[0]
    want_ntok = sum(token_table.column("n_tok").to_pylist())
    assert got[0] == want_ntok
    assert got[1] == 3
    assert got[2] == want_ntok


def test_nulls_and_scalars(tmp_path):
    specs = stripe.parse_schema([
        ("a", "bigint"), ("b", "string"), ("c", "double"),
        ("d", "boolean"), ("ts", "timestamp"),
    ])
    t = pa.table({
        "a": pa.array([1, None, 3, 2 ** 40], pa.int64()),
        "b": pa.array(["x", "y", None, "x"], pa.string()),
        "c": pa.array([1.5, None, 3.25, -1e300]),
        "d": pa.array([True, False, None, True]),
        "ts": pa.array([1_500_000_000_000_000, None, 0,
                        1_420_070_400_000_000], pa.timestamp("us")),
    })
    path = str(tmp_path / "n.orc")
    orcwriter.write_orc(t, path, specs=specs)
    from pyarrow import orc as pa_orc
    got = pa_orc.read_table(path)
    for col in t.column_names:
        assert got.column(col).to_pylist() == t.column(col).to_pylist(), col


def test_distributed_orc_sink(spark, token_table, tmp_path):
    """Each Spark partition writes a real .orc file via our kernels;
    Spark's JVM reader reads the directory back."""
    from pyspark.sql import functions as F
    from orc_spark.operators import encode as enc_ops
    out = str(tmp_path / "orcsink")
    df = spark.createDataFrame(token_table).repartition(3)
    orcwriter.dataframe_to_orc_dir(df, out)
    back = spark.read.orc(out)
    assert back.count() == token_table.num_rows
    got = back.agg(F.sum("n_tok")).collect()[0][0]
    assert got == sum(token_table.column("n_tok").to_pylist())


# ---------------------------------------------------------------------------
# statistics / metadata / row index (writer.go:228-318, treewriter.go:69-92)
# ---------------------------------------------------------------------------


def test_file_and_stripe_statistics(tmp_path):
    n = 25000
    t = pa.table({
        "a": pa.array(np.arange(n, dtype=np.int64)),
        "b": pa.array([f"s{i % 50:03d}" for i in range(n)]),
        "c": pa.array(np.linspace(-2.0, 2.0, n)),
        "d": pa.array((np.arange(n) % 3 == 0)),
    })
    path = str(tmp_path / "stats.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=12000)
    from pyarrow import orc as pa_orc
    f = pa_orc.ORCFile(path)
    assert f.nstripe_statistics == 3
    assert f.row_index_stride == 10000
    own = orcfile.ORCFile(path)
    fs = own.file_statistics
    assert fs[1] == {"n": n, "has_null": False, "min": 0, "max": n - 1,
                     "sum": int(np.arange(n, dtype=np.int64).sum())}
    assert fs[2]["min"] == "s000" and fs[2]["max"] == "s049"
    assert fs[2]["sum"] == 4 * n  # total string length
    assert abs(fs[3]["min"] + 2.0) < 1e-12 and abs(fs[3]["max"] - 2.0) < 1e-12
    assert fs[4]["true_count"] == sum(1 for i in range(n) if i % 3 == 0)
    # stripe statistics (metadata) cover each stripe exactly
    assert len(own.stripe_statistics) == 3
    assert own.stripe_statistics[0][1]["max"] == 11999
    assert own.stripe_statistics[2][1]["min"] == 24000
    # row index: stride stats + restart positions
    ri = own.row_index(0, 1)
    assert len(ri) == 2  # 12000 rows -> strides of 10000 + 2000
    assert ri[0]["stats"]["max"] == 9999 and ri[1]["stats"]["min"] == 10000
    assert ri[0]["positions"][0] == 0 and ri[1]["positions"][0] > 0


def test_spark_predicate_pushdown_row_index(spark, tmp_path):
    """Spark's JVM reader consumes our ROW_INDEX under filter pushdown:
    wrong seek positions would corrupt these results."""
    from pyspark.sql import functions as F
    n = 60000
    t = pa.table({
        "a": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"k{i:06d}" for i in range(n)]),
        "f": pa.array([float(x) if x % 7 else None for x in range(n)]),
    })
    path = str(tmp_path / "ppd.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=50000)
    df = spark.read.orc(path)
    got = df.where((F.col("a") >= 34990) & (F.col("a") <= 45010)) \
        .orderBy("a").collect()
    assert len(got) == 10021
    assert got[0]["s"] == "k034990" and got[-1]["s"] == "k045010"
    assert [r["f"] for r in got[:8]] == \
        [float(x) if x % 7 else None for x in range(34990, 34998)]
    assert df.where(F.col("s") == "k051234").collect()[0]["a"] == 51234
    assert df.where(F.col("f").isNull()).count() == (n + 6) // 7


def test_nested_struct_map_write(tmp_path):
    """T7/T8 write: struct (incl. nested + nulls) and map columns,
    cross-read by pyarrow's C++ ORC reader (treewriter.go:722-904)."""
    from pyarrow import orc as pa_orc
    n = 5000
    st_arr = pa.array(
        [{"x": i, "y": f"v{i % 13}"} if i % 5 else None for i in range(n)],
        pa.struct([("x", pa.int64()), ("y", pa.string())]))
    mp_arr = pa.array(
        [{f"k{j}": j * i for j in range(i % 4)} for i in range(n)],
        pa.map_(pa.string(), pa.int64()))
    nest = pa.array(
        [{"inner": {"a": i % 7, "b": [i, i + 1]}} for i in range(n)],
        pa.struct([("inner", pa.struct([("a", pa.int32()),
                                        ("b", pa.list_(pa.int64()))]))]))
    t = pa.table({"st": st_arr, "mp": mp_arr, "nest": nest})
    path = str(tmp_path / "nested.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=2000,
                        row_index_stride=1000)
    back = pa_orc.read_table(path)
    for col in t.column_names:
        assert back.column(col).to_pylist() == t.column(col).to_pylist(), col


def test_union_write(tmp_path):
    """T9 write: dense union column, round-tripped through our reader
    (Spark/Arrow do not read ORC unions; treewriter.go:1033-1132)."""
    u = pa.UnionArray.from_dense(
        pa.array([i % 2 for i in range(40)], pa.int8()),
        pa.array([i // 2 for i in range(40)], pa.int32()),
        [pa.array([i * 10 for i in range(20)], pa.int64()),
         pa.array([f"u{i}" for i in range(20)])])
    t = pa.table({"u": u})
    path = str(tmp_path / "union.orc")
    orcwriter.write_orc(t, path, codec="zlib")
    rows = list(orcfile.ORCFile(path).read_all())
    assert rows[0]["u"] == {"tag": 0, "value": 0}
    assert rows[1]["u"] == {"tag": 1, "value": "u0"}
    assert rows[39]["u"] == {"tag": 1, "value": "u19"}


def test_unaligned_present_positions(tmp_path):
    """Nested child columns whose stride boundaries fall mid-byte use
    single-run consume-from-start positions for PRESENT/bool streams —
    file must stay readable by the C++ reader."""
    from pyarrow import orc as pa_orc
    n = 9000
    # struct null pattern i%5 -> child stride bounds at multiples of
    # 800 (aligned); child y nulls i%3 -> y's own PRESENT is relative
    # to 7200 parent-present rows per 9000... use a jagged list to
    # force arbitrary child boundaries with a nullable bool inside
    lst = pa.array([[bool((i + j) % 3) if (i + j) % 7 else None
                     for j in range(i % 5)] for i in range(n)],
                   pa.list_(pa.bool_()))
    t = pa.table({"lst": lst})
    path = str(tmp_path / "bits.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=4000,
                        row_index_stride=1000)
    back = pa_orc.read_table(path)
    assert back.column("lst").to_pylist() == lst.to_pylist()


def test_streaming_writer_bounded_memory(tmp_path):
    """ORCFileWriter flushes stripes as batches arrive — stripe count
    proves data hit disk before close()."""
    import os
    path = str(tmp_path / "stream.orc")
    w = orcwriter.ORCFileWriter(path, codec="zlib", stripe_rows=1000)
    for i in range(10):
        w.write_batch(pa.record_batch(
            {"v": pa.array(np.arange(i * 500, (i + 1) * 500,
                                     dtype=np.int64))}))
        if i == 5:
            mid_size = os.path.getsize(path)
    st = w.close()
    assert st["rows"] == 5000 and st["stripes"] == 5
    assert mid_size > 0  # stripes were written before close
    f = orcfile.ORCFile(path)
    vals = [r["v"] for r in f.read_all()]
    assert vals == list(range(5000))


def test_varchar_char_write(tmp_path):
    """T12 extension: char/varchar typed string columns
    (treewriter.go:543-720) — maximumLength in the type tree, stream
    layout identical to string."""
    from pyarrow import orc as pa_orc
    t = pa.table({"v": pa.array(["alpha", "beta", "gamma", "del"]),
                  "c": pa.array(["ab", "cd", "ef", "gh"])})
    path = str(tmp_path / "vc.orc")
    w = orcwriter.ORCFileWriter(path, codec="zlib",
                                orc_types={"v": ("varchar", 16),
                                           "c": ("char", 2)})
    w.write_table(t)
    w.close()
    got = pa_orc.read_table(path)
    assert got.column("v").to_pylist() == t.column("v").to_pylist()
    assert got.column("c").to_pylist() == t.column("c").to_pylist()
    f = orcfile.ORCFile(path)
    assert [tn.kind for tn in f.types] == ["struct", "varchar", "char"]


def test_read_rows_seek_with_row_index(tmp_path):
    """Cursor seek parity (cursor.go:179-198 + SelectStripe): read_rows
    touches only covering stripes, and only covering strides within
    them on our stride-restart files — including dictionary-encoded
    strings (global dict, per-stride index slices)."""
    n = 60000
    t = pa.table({
        "a": pa.array(np.arange(n, dtype=np.int64)),
        "d": pa.array([f"cat{i % 40:02d}" for i in range(n)]),  # dict
        "f": pa.array([float(x) if x % 7 else None for x in range(n)]),
        "lst": pa.array([[int(i), int(i) + 1] for i in range(n)],
                        pa.list_(pa.int64())),
    })
    path = str(tmp_path / "seek.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=25000)
    f = orcfile.ORCFile(path)
    rows = f.read_rows(34990, 25)
    assert [r["a"] for r in rows] == list(range(34990, 35015))
    assert rows[0]["d"] == f"cat{34990 % 40:02d}"
    assert rows[0]["lst"] == [34990, 34991]
    # stripe and stride boundary crossings
    assert [r["a"] for r in f.read_rows(24995, 10)] == \
        list(range(24995, 25005))
    assert [r["a"] for r in f.read_rows(9995, 10)] == \
        list(range(9995, 10005))
    # nullable column survives the stride slice
    got_f = [r["f"] for r in f.read_rows(6999, 3)]
    assert got_f == [6999.0, None, 7001.0]  # 7000 % 7 == 0 -> null


def test_read_rows_golden_fallback():
    """Java-written files (positions may carry RLE run state) fall back
    to whole-stripe decode transparently."""
    import os
    g = orcfile.ORCFile(
        "/root/reference/examples/demo-11-zlib.orc")
    rows = g.read_rows(12345, 3)
    assert [r["_col0"] for r in rows] == [12346, 12347, 12348]


def test_writer_fuzz_random_schemas(tmp_path):
    """Seeded fuzz over the writer's type space: random nested schemas
    (struct/list/map over all scalars), random nulls, empty containers
    — every file must round-trip content-identical through pyarrow's
    C++ ORC reader."""
    from pyarrow import orc as pa_orc
    rng = np.random.default_rng(2024)

    def rand_scalar(n, depth):
        kind = rng.integers(0, 8)
        nulls = rng.random() < 0.5
        def mask(v):
            return None if nulls and rng.random() < 0.15 else v
        if kind == 0:
            return pa.array([mask(int(rng.integers(-2**40, 2**40)))
                             for _ in range(n)], pa.int64())
        if kind == 1:
            return pa.array([mask(int(rng.integers(-2**20, 2**20)))
                             for _ in range(n)], pa.int32())
        if kind == 2:
            return pa.array([mask(float(rng.normal()))
                             for _ in range(n)], pa.float64())
        if kind == 3:
            return pa.array([mask(bool(rng.random() < 0.5))
                             for _ in range(n)], pa.bool_())
        if kind == 4:
            return pa.array(
                [mask(f"s{int(rng.integers(0, 40 if rng.random() < .5 else 10**6))}")
                 for _ in range(n)], pa.string())
        if kind == 5:
            return pa.array([mask(bytes(rng.integers(0, 256,
                                                     rng.integers(0, 9),
                                                     ).astype('u1')))
                             for _ in range(n)], pa.binary())
        if kind == 6:
            return pa.array([mask(int(rng.integers(0, 20000)))
                             for _ in range(n)], pa.date32())
        return pa.array([mask(int(rng.integers(0, 2**48)))
                         for _ in range(n)], pa.timestamp("us"))

    def rand_array(n, depth=0):
        k = rng.integers(0, 3) if depth < 2 else 3
        if k == 0 and depth < 2:  # list
            lens = [None if rng.random() < 0.1 else int(rng.integers(0, 5))
                    for _ in range(n)]
            total = sum(x for x in lens if x)
            child = rand_array(total, depth + 1)
            out, off = [], 0
            for ln in lens:
                if ln is None:
                    out.append(None)
                else:
                    out.append(child[off:off + ln].to_pylist())
                    off += ln
            return pa.array(out, pa.list_(child.type))
        if k == 1 and depth < 2:  # struct
            a = rand_array(n, depth + 1)
            b = rand_array(n, depth + 1)
            return pa.StructArray.from_arrays([a, b], ["x", "y"])
        if k == 2 and depth < 2:  # map
            lens = [int(rng.integers(0, 4)) for _ in range(n)]
            out = []
            for ln in lens:
                out.append({f"k{j}": int(rng.integers(0, 100))
                            for j in range(ln)})
            return pa.array(out, pa.map_(pa.string(), pa.int64()))
        return rand_scalar(n, depth)

    for trial in range(6):
        n = int(rng.integers(1, 4000))
        cols = {f"c{i}": rand_array(n) for i in range(3)}
        t = pa.table(cols)
        path = str(tmp_path / f"fuzz{trial}.orc")
        orcwriter.write_orc(t, path, codec="zlib",
                            stripe_rows=max(8, n // 2),
                            row_index_stride=512)
        back = pa_orc.read_table(path)
        for c in t.column_names:
            assert back.column(c).to_pylist() == \
                t.column(c).to_pylist(), (trial, c)


def test_nan_excluded_from_double_statistics(tmp_path):
    """ORC-541 semantics: NaN never reaches min/max and a NaN-poisoned
    sum is omitted — readers pruning on these stats must not compare
    against NaN (ADVICE r2 #1)."""
    import math
    n = 64
    vals = np.linspace(-1.0, 1.0, n)
    vals[5] = np.nan
    vals[40] = np.nan
    t = pa.table({"x": pa.array(vals),
                  "allnan": pa.array(np.full(n, np.nan))})
    path = str(tmp_path / "nan.orc")
    orcwriter.write_orc(t, path, codec="zlib", row_index_stride=16)
    own = orcfile.ORCFile(path)
    fs = own.file_statistics
    assert fs[1]["n"] == n
    assert not math.isnan(fs[1]["min"]) and not math.isnan(fs[1]["max"])
    assert abs(fs[1]["min"] + 1.0) < 1e-12
    assert abs(fs[1]["max"] - 1.0) < 1e-12
    assert "sum" not in fs[1] or not math.isnan(fs[1]["sum"])
    # all-NaN column: no min/max/sum at all, count intact
    assert fs[2]["n"] == n
    assert "min" not in fs[2] and "sum" not in fs[2]
    # row index stride stats clean too
    ri = own.row_index(0, 1)
    for e in ri:
        if "min" in e["stats"]:
            assert not math.isnan(e["stats"]["min"])
        if "sum" in e["stats"]:
            assert not math.isnan(e["stats"]["sum"])
    # decode round-trips the NaNs themselves
    got = np.array([r["x"] for r in orcfile.ORCFile(path).read_all()])
    assert np.isnan(got[5]) and np.isnan(got[40])
    assert np.allclose(np.delete(got, [5, 40]),
                       np.delete(vals, [5, 40]))


def test_writer_abort_and_context_manager(tmp_path):
    """Error paths never leave a truncated .orc behind (ADVICE r2 #5):
    no-data close raises without creating the file; abort unlinks; the
    context manager cleans up on exception."""
    import os
    p1 = str(tmp_path / "empty.orc")
    w = orcwriter.ORCFileWriter(p1)
    with pytest.raises(ValueError):
        w.close()
    assert not os.path.exists(p1)
    p2 = str(tmp_path / "aborted.orc")
    w = orcwriter.ORCFileWriter(p2, stripe_rows=8)
    w.write_table(pa.table({"a": pa.array(np.arange(32, dtype=np.int64))}))
    assert os.path.exists(p2)  # stripes flushed
    w.abort()
    assert not os.path.exists(p2)
    p3 = str(tmp_path / "ctx.orc")
    with pytest.raises(RuntimeError):
        with orcwriter.ORCFileWriter(p3, stripe_rows=8) as w:
            w.write_table(pa.table({"a": pa.array([1, 2, 3])}))
            raise RuntimeError("boom")
    assert not os.path.exists(p3)
    # happy path via context manager
    p4 = str(tmp_path / "ok.orc")
    with orcwriter.ORCFileWriter(p4) as w:
        w.write_table(pa.table({"a": pa.array([1, 2, 3])}))
    assert len(list(orcfile.ORCFile(p4).read_all())) == 3


def test_bloom_murmur3_matches_java_golden():
    """Our Murmur3/bloom are bit-compatible with Java ORC's
    BloomFilterUtf8 (golden vectors extracted from Spark's bundled
    orc-core via py4j) — a mismatch would make Java readers silently
    prune row groups that contain matches."""
    from orc_spark.codecs import bloom
    golden = {
        b"": 8404154273843829576,
        b"a": -2460741455279943289,
        b"abc": -4076012629679759154,
        b"hello world": -5158593287617531220,
        b"The quick brown fox jumps over the lazy dog":
            -5527422478694387224,
        bytes(range(37)): 5454279707622598881,
    }
    for k, v in golden.items():
        assert bloom.hash64(k) == v, k
    b = bloom.BloomFilterUtf8(100, 0.05)
    for s in ["alpha", "beta", "gamma", "delta"]:
        b.add_bytes(s.encode())
    assert (b.num_hash_functions, b.num_bits) == (4, 640)
    assert [hex(int(w)) for w in b.bitset] == [
        "0x800", "0xc002400000000000", "0x2000000004000",
        "0x800000000020000", "0x8000000400000000", "0x0",
        "0x200100000000000", "0x8000000000000000",
        "0x4000000000000000", "0x20"]
    assert b.test_bytes(b"alpha") and not b.test_bytes(b"zeta")
    import hashlib
    b2 = bloom.BloomFilterUtf8(10000, 0.05)
    for i in range(300):
        b2.add_bytes(("w%04d" % i).encode())
    assert (b2.num_hash_functions, b2.num_bits) == (4, 62400)
    assert hashlib.md5(b2.serialized_bitset()).hexdigest() == \
        "31f98c7b512475113ef2a83877f53489"


def test_bloom_stream_spark_pushdown_exact(spark, tmp_path):
    """.orc files with BLOOM_FILTER_UTF8 streams: Spark's JVM reader
    (writer version ORC_135 -> blooms are trusted under equality
    pushdown) returns EXACT results for present and absent keys, and
    pyarrow still reads the file."""
    import numpy as np
    from pyspark.sql import functions as F
    n = 30000
    t = pa.table({
        "k": pa.array([f"key{i % 1000:04d}" for i in range(n)]),
        "v": pa.array(np.arange(n, dtype=np.int64)),
    })
    path = str(tmp_path / "bloom.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=16000,
                        bloom_columns=["k"])
    # our own reader still parses the file (blooms live in the index
    # region; row index intact)
    own = orcfile.ORCFile(path)
    assert len(own.row_index(0, 1)) == 2  # 16000 rows / 10000 stride
    from pyarrow import orc as pa_orc
    assert pa_orc.ORCFile(path).read().num_rows == n
    df = spark.read.orc(path)
    hit = df.where(F.col("k") == "key0042")
    assert hit.count() == n // 1000
    assert hit.agg(F.sum("v")).collect()[0][0] == \
        sum(i for i in range(n) if i % 1000 == 42)
    assert df.where(F.col("k") == "nosuchkey").count() == 0


def test_bloom_consumed_by_own_reader(tmp_path):
    """Our reader CONSUMES the bloom: point lookups decode only the
    strides whose filter can contain the key; absent keys decode
    nothing at all."""
    n = 30000
    # keys clustered so a point key lives in exactly one stride
    t = pa.table({
        "k": pa.array([f"key{i // 30:04d}" for i in range(n)]),
        "v": pa.array(np.arange(n, dtype=np.int64)),
    })
    path = str(tmp_path / "bc.orc")
    orcwriter.write_orc(t, path, codec="zlib", stripe_rows=16000,
                        bloom_columns=["k"])
    f = orcfile.ORCFile(path)
    rows = f.equality_lookup("k", "key0123")
    assert len(rows) == 30
    assert all(r["k"] == "key0123" for r in rows)
    # the key's rows live in one stride; the bloom keeps ~1 stride
    # (false positives possible but bounded), never all of them
    keeps = [f.bloom_strides(si, 1, "key0123")
             for si in range(len(f.stripes))]
    assert sum(len(k) for k in keeps) <= 2, keeps
    # absent key: every stripe prunes every stride
    assert f.equality_lookup("k", "zzz-not-there") == []
    assert all(f.bloom_strides(si, 1, "zzz-not-there") == []
               for si in range(len(f.stripes)))
    # file without blooms: bloom_strides says None (fall back to scan)
    path2 = str(tmp_path / "nb.orc")
    orcwriter.write_orc(t, path2, codec="zlib", stripe_rows=16000)
    f2 = orcfile.ORCFile(path2)
    assert f2.bloom_strides(0, 1, "key0123") is None
    assert len(f2.equality_lookup("k", "key0123")) == 30


def test_timestamp_pre1970_java_convention(spark, tmp_path):
    """r4 fix: pre-1970 seconds are stored truncated TOWARD ZERO with
    positive nanos (Java TimestampTreeWriter convention) — writing
    floor seconds shifted every pre-1970 fractional timestamp back a
    second on the round trip.  Spark's JVM reader must agree with our
    writer value-for-value.  Known Java-parity corner: values inside
    (-1s, 0s) cannot round-trip (truncation maps them to second 0;
    Java's own writer+reader do the same — verified empirically), so
    the boundary value asserts the JAVA behavior, not recovery."""
    import datetime as dt
    import pyarrow as pa
    from orc_spark.sources import orcwriter
    vals = [dt.datetime(1960, 1, 1, 12, 0, 0, 412556),
            dt.datetime(1969, 6, 30, 1, 2, 3, 999999),
            dt.datetime(1970, 1, 1, 0, 0, 0, 1),
            dt.datetime(2001, 2, 3, 4, 5, 6, 789012)]
    tbl = pa.table({"t": pa.array(vals, pa.timestamp("us"))})
    p = str(tmp_path / "ts")
    import os
    os.makedirs(p)
    w = orcwriter.ORCFileWriter(p + "/a.orc", codec="zlib")
    w.write_batch(tbl.to_batches()[0])
    w.close()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        got = sorted(r["t"] for r in spark.read.orc(p).collect())
        assert got == sorted(vals), got
        # the lossy (-1s, 0s) corner: same value Java's own
        # writer+reader produce
        edge = pa.table({"t": pa.array(
            [dt.datetime(1969, 12, 31, 23, 59, 59, 999999)],
            pa.timestamp("us"))})
        w = orcwriter.ORCFileWriter(p + "/b.orc", codec="zlib")
        w.write_batch(edge.to_batches()[0])
        w.close()
        from orc_spark.sources.orcfile import ORCFile
        [v] = [r["t"] for r in ORCFile(p + "/b.orc").read_all()]
        assert v == "1970-01-01 00:00:00.999999"  # Java-identical
    finally:
        spark.conf.unset("spark.sql.session.timeZone")


def test_orcwriter_snappy_lz4_write_jvm_interop(spark, tmp_path):
    """r5: the engine WRITES snappy, lz4 AND lzo .orc files
    (pure-Python block encoders — the reference's snappy encoder
    errors out and it has no lzo/lz4 encoder; Spark never writes
    lzo/lz4 ORC at all).  Spark's JVM ORC reader (independent
    Java/aircompressor codec implementations) must read the
    bitstreams back value-exact, and our own scan agrees."""
    import numpy as np
    import pyarrow as pa
    from orc_spark.sources import orcfile, orcscan
    n = 20000
    tbl = pa.table({
        "v": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"row-{i % 97:05d}" for i in range(n)]),
        "d": pa.array(np.linspace(-1.0, 1.0, n)),
    })
    for codec in ("snappy", "lz4", "lzo"):
        d = tmp_path / codec
        d.mkdir()
        p = str(d / "a.orc")
        w = orcwriter.ORCFileWriter(p, codec=codec, stripe_rows=6000)
        for b in tbl.to_batches():
            w.write_batch(b)
        w.close()
        f = orcfile.ORCFile(p)
        assert f.compression == codec
        # JVM interop: Spark's reader consumes our blocks
        jvm = spark.read.orc(str(d))
        assert jvm.count() == n
        assert jvm.agg({"v": "sum"}).collect()[0][0] == n * (n - 1) // 2
        assert jvm.where("s = 'row-00042'").count() == n // 97 + (1 if 42 < n % 97 else 0)
        # our own distributed scan agrees bit-for-bit
        ours = orcscan.orc_scan(spark, p).orderBy("v").collect()
        assert len(ours) == n and ours[5]["s"] == "row-00005"


def test_orcwriter_snappy_compresses_runs(tmp_path):
    """The snappy write path actually compresses (not the original-
    fallback storing raw bytes): a run-heavy column lands far below
    raw size."""
    import numpy as np
    import pyarrow as pa
    import os
    p = str(tmp_path / "r.orc")
    w = orcwriter.ORCFileWriter(p, codec="snappy", stripe_rows=100000)
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array([f"constant-string-value" for _ in range(50000)])],
        names=["s"]))
    w.close()
    assert os.path.getsize(p) < 50000 * 3  # raw would be ~1MB+
