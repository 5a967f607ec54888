"""Distributed .orc scan (sources/orcscan.py)."""

import glob

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from orc_spark.sources import orcscan, orcwriter
from orc_spark.sources.orcfile import ORCFile

EX = "/root/reference/examples"

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


def _write_sorted_orc(path, n=4000, stripe_rows=1000):
    """Single .orc, 4 stripes, `v` sorted ascending (disjoint stripe
    [min,max] ranges -> stats pruning has something to prune)."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array([f"s{i // 1000}" for i in range(n)])],
        names=["v", "tag"])
    w = orcwriter.ORCFileWriter(str(path), codec="zlib",
                                stripe_rows=stripe_rows)
    w.write_batch(batch)
    w.close()
    return str(path)


def test_plan_tasks_prunes_stripes(tmp_path):
    p = _write_sorted_orc(tmp_path / "a.orc")
    tasks, total = orcscan.plan_tasks([p])
    assert total == 4 and len(tasks) == 4
    # v >= 3000 lives entirely in the last stripe
    tasks, total = orcscan.plan_tasks([p], predicate=("v", ">=", 3000))
    assert total == 4 and len(tasks) == 1 and tasks[0][1] == 3
    # conjunction: 1500 <= v < 2600 spans stripes 1 and 2
    tasks, _ = orcscan.plan_tasks(
        [p], predicate=[("v", ">=", 1500), ("v", "<", 2600)])
    assert sorted(si for _, si in tasks) == [1, 2]
    # string stats prune too
    tasks, _ = orcscan.plan_tasks([p], predicate=("tag", "==", "s0"))
    assert [si for _, si in tasks] == [0]
    # IN is a finite disjunction: the kept set is the UNION of the
    # matching stripes, not their envelope's residual
    tasks, _ = orcscan.plan_tasks([p], predicate=("v", "in",
                                                  (500, 3500)))
    assert sorted(si for _, si in tasks) == [0, 3]
    # prefix LIKE prunes through the string range [p, upper(p))
    tasks, _ = orcscan.plan_tasks([p], predicate=("tag", "prefix",
                                                  "s1"))
    assert [si for _, si in tasks] == [1]


def test_orc_scan_corruption_skip_and_audit(spark, tmp_path):
    """Salvage mode (r5): a corrupted stripe fails the default scan
    loudly, on_error='skip' returns every other stripe's rows, and
    orc_scan_errors pinpoints exactly the (file, stripe) that
    failed — with clean files reporting nothing."""
    import shutil

    import numpy as np
    import pyarrow as pa

    from orc_spark.sources.orcfile import ORCFile
    from orc_spark.sources.orcscan import orc_scan_errors
    n = 4000
    tbl = pa.table({"v": pa.array(np.arange(n)),
                    "tag": pa.array([f"s{i // 1000}"
                                     for i in range(n)])})
    good = str(tmp_path / "good.orc")
    bad = str(tmp_path / "bad.orc")
    orcwriter.write_orc(tbl, good, stripe_rows=1000)
    shutil.copy(good, bad)
    f = ORCFile(bad)
    st = f.stripes[1]
    off = st[1][0] + st[2][0] + 8      # inside stripe 1's data
    d = bytearray(open(bad, "rb").read())
    d[off:off + 64] = bytes(64)
    open(bad, "wb").write(bytes(d))
    with pytest.raises(Exception):
        orcscan.orc_scan(spark, bad).count()
    with pytest.raises(ValueError):
        orcscan.orc_scan(spark, bad, on_error="maybe")
    got = orcscan.orc_scan(spark, bad, on_error="skip")
    assert got.count() == 3000
    assert got.agg(F.min("v"), F.max("v")).first() == (0, 3999)
    errs = orc_scan_errors(spark, str(tmp_path)).collect()
    assert [(r["path"].rsplit("/", 1)[-1], r["stripe"])
            for r in errs] == [("bad.orc", 1)]
    assert "decompress" in errs[0]["error"] or \
        "Error" in errs[0]["error"]
    assert orc_scan_errors(spark, good).count() == 0


def test_orc_scan_in_and_prefix_rows(spark, tmp_path):
    """End-to-end IN / prefix results are exact (pruning + stride
    stats + residual), including float literals in IN lists against
    integer columns through orc_count's exact rewrite."""
    import pyarrow as pa

    from orc_spark.sources import orcstats
    n = 4000
    tbl = pa.table({
        "doc_id": pa.array([f"doc{i:04d}" for i in range(n)]),
        "n_tok": pa.array([i % 100 for i in range(n)], pa.int32()),
        "source": pa.array([["web", "book", "news", "wiki"][i % 4]
                            for i in range(n)]),
    })
    p = str(tmp_path / "t.orc")
    orcwriter.write_orc(tbl, p, stripe_rows=500, row_index_stride=64,
                        bloom_columns=["source"])
    got = orcscan.orc_scan(
        spark, p, predicate="source IN ('web','book')").toPandas()
    assert len(got) == n // 2
    assert sorted(got["source"].unique()) == ["book", "web"]
    got2 = orcscan.orc_scan(
        spark, p, predicate="doc_id LIKE 'doc00%'").toPandas()
    assert len(got2) == 100
    assert got2["doc_id"].str.startswith("doc00").all()
    assert orcstats.orc_count(
        spark, p, "source IN ('web','book')") == n // 2
    assert orcstats.orc_count(spark, p, "doc_id LIKE 'doc00%'") == 100
    # 5.5 can never match an int column; 4.0 rewrites to 4 exactly
    assert orcstats.orc_count(spark, p, "n_tok IN (3, 4.0, 5.5)") \
        == sum(1 for i in range(n) if i % 100 in (3, 4))


def test_plan_tasks_bad_inputs(tmp_path):
    p = _write_sorted_orc(tmp_path / "a.orc")
    with pytest.raises(ValueError):
        orcscan.plan_tasks([p], predicate=("nope", ">=", 1))
    with pytest.raises(ValueError):
        orcscan.plan_tasks([p], predicate=("v", "~", 1))


def test_orc_scan_roundtrip_token_table(spark, token_table, tmp_path):
    """Sink a token DataFrame to .orc, scan it back via our kernels,
    and compare aggregates with the original (no JVM ORC reader)."""
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(token_table).repartition(3)
    orcwriter.dataframe_to_orc_dir(df, out)
    back = orcscan.orc_scan(spark, out)
    assert back.count() == token_table.num_rows
    got = back.agg(
        F.sum("n_tok").alias("s"),
        F.sum(F.size("tokens")).alias("st"),
        F.countDistinct("doc_id").alias("d"),
        F.countDistinct("source").alias("src")).first()
    assert got["s"] == sum(token_table.column("n_tok").to_pylist())
    assert got["st"] == got["s"]
    assert got["d"] == token_table.num_rows
    # source is low-cardinality -> DICTIONARY_V2: exercises the
    # dictionary-string fast path end to end
    assert got["src"] == 3
    first = back.orderBy("doc_id").first()
    assert first["doc_id"] == "doc-000000000000"
    assert first["source"] == "cc"


def test_orc_scan_predicate_exact_and_pruned(spark, tmp_path):
    p = _write_sorted_orc(tmp_path / "a.orc")
    full = orcscan.orc_scan(spark, p)
    assert full.count() == 4000
    pred = orcscan.orc_scan(spark, p, predicate=("v", ">=", 3100))
    rows = pred.orderBy("v").collect()
    # exact despite stripe granularity: residual filter trims 3000-3099
    assert len(rows) == 900 and rows[0]["v"] == 3100
    # projection: only requested columns come back
    proj = orcscan.orc_scan(spark, p, columns=["tag"],
                            predicate=None)
    assert proj.columns == ["tag"] and proj.count() == 4000
    # projection + predicate on a NON-projected column: the residual
    # filter runs on an internal projection, the output drops it
    pp = orcscan.orc_scan(spark, p, columns=["tag"],
                          predicate=("v", ">=", 3100))
    assert pp.columns == ["tag"] and pp.count() == 900


def test_orc_scan_schema_drift_fails_loudly(spark, tmp_path):
    _write_sorted_orc(tmp_path / "a.orc")
    w = orcwriter.ORCFileWriter(str(tmp_path / "b.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array([1.5, 2.5])], names=["other"]))
    w.close()
    with pytest.raises(Exception, match="schema drift"):
        orcscan.orc_scan(spark, str(tmp_path)).count()


def _write_wide_strided(path, codec, n=6000, seed=0):
    """Stride-restart .orc (3,000-row stripes, 512-row strides) over
    every fast-path family: sorted ``v`` (so stride stats prune),
    ints with nulls, dictionary and direct strings, list<int> with
    null lists, a struct with nulls, decimal, timestamp, double and
    boolean."""
    import datetime
    from decimal import Decimal
    rng = np.random.default_rng(seed)
    tbl = pa.table({
        "v": pa.array(np.arange(n, dtype=np.int64)),
        "i": pa.array([None if x % 5 == 0 else int(x) for x in
                       rng.integers(-10**6, 10**6, n)], pa.int64()),
        "ds": pa.array([f"k{x}" for x in rng.integers(0, 20, n)]),
        "s": pa.array([None if x % 9 == 0 else f"w{x}" for x in
                       rng.integers(0, 10**9, n)]),
        "l": pa.array([None if i % 7 == 0 else
                       rng.integers(0, 100, i % 4).tolist()
                       for i in range(n)], pa.list_(pa.int32())),
        "st": pa.array([None if i % 6 == 0 else
                        {"a": i, "b": f"s{i % 13}"} for i in range(n)],
                       pa.struct([("a", pa.int64()),
                                  ("b", pa.string())])),
        "dec": pa.array([Decimal(int(x)).scaleb(-2) for x in
                         rng.integers(-10**6, 10**6, n)],
                        pa.decimal128(10, 2)),
        "ts": pa.array([datetime.datetime(2020, 1, 1) +
                        datetime.timedelta(seconds=int(x))
                        for x in rng.integers(0, 10**8, n)],
                       pa.timestamp("us")),
        "d": pa.array(rng.normal(size=n)),
        "b": pa.array(rng.random(n) < 0.5),
    })
    w = orcwriter.ORCFileWriter(str(path), codec=codec, stripe_rows=3000,
                                row_index_stride=512)
    w.write_batch(tbl.combine_chunks().to_batches()[0])
    w.close()
    return str(path)


@pytest.mark.parametrize("codec", ["none", "zlib", "zstd"])
def test_stride_keep_and_scan_row_group_skip(spark, tmp_path, codec):
    """Inside a kept stripe, only ROW_INDEX strides whose stats can
    match are decoded (stride-restart slicing); results stay exact —
    for every fast-path type family, each codec."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(4000, dtype=np.int64))], names=["v"])
    p = str(tmp_path / "s.orc")
    w = orcwriter.ORCFileWriter(p, codec=codec, stripe_rows=2000,
                                row_index_stride=512)
    w.write_batch(batch)
    w.close()
    f = ORCFile(p)
    root = f.types[0]
    cids = dict(zip(root.field_names, root.children))
    # stripe 1 holds rows 2000-3999 in strides of 512 starting at
    # 2000: v >= 3600 can only live in the last stride (3536-3999)
    ks, n_str = orcscan.stride_keep(f, 1, [("v", ">=", 3600)], cids)
    assert ks == [3] and n_str == 4
    ks, _ = orcscan.stride_keep(f, 0, [("v", "==", 777)], cids)
    assert ks == [1]  # 512 <= 777 < 1024
    # end-to-end exactness through the stride-sliced kernel path
    rows = orcscan.orc_scan(spark, p, predicate=("v", ">=", 3600)) \
        .orderBy("v").collect()
    assert [r["v"] for r in rows] == list(range(3600, 4000))
    rows = orcscan.orc_scan(spark, p, predicate=("v", "==", 777)) \
        .collect()
    assert [r["v"] for r in rows] == [777]
    # the wide schema: a stride-pruned predicated scan equals the
    # unpredicated scan filtered by the same predicate
    wide = _write_wide_strided(tmp_path / "wide.orc", codec)
    f = ORCFile(wide)
    cids = dict(zip(f.types[0].field_names, f.types[0].children))
    whole = orcscan.orc_scan(spark, wide)
    for si, pred, cond in ((0, ("v", "between", (700, 1300)),
                            F.col("v").between(700, 1300)),
                           (1, ("v", ">=", 5000), F.col("v") >= 5000)):
        ks, n_str = orcscan.stride_keep(f, si, [pred], cids)
        assert 0 < len(ks) < n_str  # strides really are pruned
        assert f.load_strides(si, ks) < 3000  # ... and slice cleanly
        got = orcscan.orc_scan(spark, wide, predicate=pred) \
            .orderBy("v").collect()
        want = whole.where(cond).orderBy("v").collect()
        assert len(got) == len(want) > 0
        assert [r.asDict(True) for r in got] == \
            [r.asDict(True) for r in want]


def test_stride_pruned_scan_never_takes_row_path(tmp_path, monkeypatch):
    """A stride-pruned stripe decodes column-major like a whole one:
    with the per-row reader disabled, the scan task still returns the
    exact matching rows for every fast-path type family."""
    import pyarrow.compute as pc

    from orc_spark import orctypes
    p = _write_wide_strided(tmp_path / "wide.orc", "zlib")
    root = orctypes.type_from_file(p)
    pred = ("v", "between", (700, 1300))
    whole = orcscan._ScanContext(root, [], False).decode_stripe(
        ORCFile(p), 0)
    want = whole.filter(pc.and_(pc.greater_equal(whole["v"], 700),
                                pc.less_equal(whole["v"], 1300)))

    def no_rows(*a, **k):
        raise AssertionError("per-row reader used")

    monkeypatch.setattr(ORCFile, "_read_column", no_rows)
    got = orcscan._ScanContext(root, [pred], False).decode_stripe(
        ORCFile(p), 0)
    assert got.num_rows == 1024  # strides 1-2 of 6: pruned, not whole
    got = got.filter(pc.and_(pc.greater_equal(got["v"], 700),
                             pc.less_equal(got["v"], 1300)))
    assert got.equals(want)


def test_decode_stripe_null_root_matches_row_reference(tmp_path,
                                                       monkeypatch):
    """A root struct with its own PRESENT stream (our writer never
    emits one; other writers may) weaves root nulls into every column
    through the ancestor chain — equal to the row-path reference
    ``read_stripe_columns``, dotted projections included."""
    from orc_spark import orctypes
    p = _write_wide_strided(tmp_path / "wide.orc", "zlib", n=3000)
    planted = np.random.default_rng(3).random(3000) < 0.7
    orig = ORCFile._present

    def present(self, col, n):
        if col == 0:
            return planted[:n], int(planted[:n].sum())
        return orig(self, col, n)

    monkeypatch.setattr(ORCFile, "_present", present)
    root = orctypes.type_from_file(p)
    st = root.children[root.field_names.index("st")]
    proj = orctypes.OrcType("struct", root.children + st.children[:1],
                            root.field_names + ["st.a"])
    batch = orcscan._ScanContext(proj, [], False).decode_stripe(
        ORCFile(p), 0)
    f = ORCFile(p)
    ref, n = f.read_stripe_columns(0)
    ref["st.a"] = f.read_path(f.resolve_path("st.a"), n)
    assert batch.num_rows == n == 3000
    for fn, node in zip(proj.field_names, proj.children):
        want = [orcscan._conv(node, v) for v in ref[fn]]
        assert batch.column(fn).to_pylist() == want, fn
        assert batch.column(fn).null_count >= int((~planted).sum()), fn


def test_stride_keep_bloom_intersection(spark, tmp_path):
    """== on a bloom-indexed STRING column intersects per-stride
    bloom membership with the stats keep-set; numeric == predicates
    must NOT consult the (UTF-8-hashed) bloom."""
    n = 2048
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array([f"k{i:05d}" for i in range(n)])],
        names=["v", "key"])
    p = str(tmp_path / "b.orc")
    w = orcwriter.ORCFileWriter(p, codec="zlib", stripe_rows=n,
                                row_index_stride=512,
                                bloom_columns=["key"])
    w.write_batch(batch)
    w.close()
    f = ORCFile(p)
    cids = dict(zip(f.types[0].field_names, f.types[0].children))
    # every stride's string [min,max] could contain "k00700" is false
    # — stats alone already narrow to stride 1; the bloom agrees
    ks, n_str = orcscan.stride_keep(f, 0, [("key", "==", "k00700")],
                                    cids)
    assert n_str == 4 and ks == [1]
    # a value inside stride-1's [min,max] range but ABSENT from the
    # data: stats keep stride 1, the bloom kills it
    ks, _ = orcscan.stride_keep(f, 0, [("key", "==", "k00700x")], cids)
    assert ks == []
    # numeric == on the long column: bloom not consulted (no crash,
    # stats-only pruning)
    ks, _ = orcscan.stride_keep(f, 0, [("v", "==", 700)], cids)
    assert ks == [1]
    # end-to-end through the scan
    got = orcscan.orc_scan(spark, p,
                           predicate=("key", "==", "k00700")).collect()
    assert [r["v"] for r in got] == [700]
    assert orcscan.orc_scan(
        spark, p, predicate=("key", "==", "k00700x")).count() == 0


def test_orc_scan_distributed_planning(spark, tmp_path, monkeypatch):
    """Above DRIVER_PLAN_MAX_FILES the (file, stripe) task list is
    built ON EXECUTORS (footer-only mmap per task) — results must be
    identical to driver-side planning."""
    for i in range(4):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(np.arange(i * 100, (i + 1) * 100,
                                dtype=np.int64))], names=["v"])
        w = orcwriter.ORCFileWriter(str(tmp_path / f"p{i}.orc"),
                                    codec="zlib", stripe_rows=50)
        w.write_batch(batch)
        w.close()
    driver_rows = orcscan.orc_scan(
        spark, str(tmp_path), predicate=("v", ">=", 170)) \
        .orderBy("v").collect()
    monkeypatch.setattr(orcscan, "DRIVER_PLAN_MAX_FILES", 2)
    dist_rows = orcscan.orc_scan(
        spark, str(tmp_path), predicate=("v", ">=", 170)) \
        .orderBy("v").collect()
    assert [r["v"] for r in driver_rows] == list(range(170, 400))
    assert dist_rows == driver_rows
    # bad predicate still fails fast (validated before planning)
    with pytest.raises(ValueError):
        orcscan.orc_scan(spark, str(tmp_path), predicate=("v", "~", 1))
    # r4: single planning pass — the task list is localCheckpointed,
    # so the scan's physical plan reads an ExistingRDD instead of
    # re-executing the footer-opening mapInArrow planning stage
    # (which would open every footer a second time)
    df = orcscan.orc_scan(spark, str(tmp_path),
                          predicate=("v", ">=", 170))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    n_map_in_arrow = plan.count("MapInArrow")
    assert n_map_in_arrow == 1, (  # the DECODE kernel only
        f"expected only the decode MapInArrow in the scan plan, "
        f"got {n_map_in_arrow}:\n{plan}")


def test_orc_scan_union_file(spark):
    """Spark's JVM ORC reader cannot read uniontype at all; our scan
    surfaces it as the sparse (tag, _u0, _u1) struct."""
    path = f"{EX}/TestOrcFile.testUnionAndTimestamp.orc"
    df = orcscan.orc_scan(spark, path)
    n = df.count()
    assert n == ORCFile(path).n_rows
    tags = df.select(F.col("union.tag").alias("t")) \
        .where(F.col("t").isNotNull()).distinct().collect()
    assert {r["t"] for r in tags} <= {0, 1}
    # spot-check: tag-0 rows carry _u0 (int) and null _u1, and value
    # multiplexing matches the row reader
    row = df.where("union.tag = 0 AND union._u0 IS NOT NULL").first()
    assert row["union"]["_u1"] is None


def test_orc_scan_fuzz_vs_pyarrow(spark, tmp_path):
    """Seeded fuzz: random nested schemas written by our sink must
    read identically through orc_scan (Spark + our kernels) and
    pyarrow's independent C++ ORC reader."""
    from datetime import date, datetime
    from pyarrow import orc as pa_orc
    rng = np.random.default_rng(7)

    def rand_col(n, depth=0):
        k = int(rng.integers(0, 11 if depth >= 1 else 14))
        null = lambda v: None if rng.random() < 0.12 else v  # noqa: E731
        if k == 12 or (depth >= 1 and k == 9):
            # decimal within int64 mantissas: the whole-array
            # decimal128 buffer path
            from decimal import Decimal
            return pa.array(
                [null(Decimal(int(rng.integers(-10**14, 10**14)))
                      / 10**4) for _ in range(n)],
                pa.decimal128(18, 4))
        if k == 13 or (depth >= 1 and k == 10):
            # decimal(38,10) with >int64 mantissas: the 128-bit
            # limb path
            from decimal import Decimal, localcontext
            with localcontext() as ctx:
                ctx.prec = 50
                return pa.array(
                    [null(Decimal(int(rng.integers(-2**62, 2**62)))
                          * 10**7 / 10**9) for _ in range(n)],
                    pa.decimal128(38, 10))
        if k == 0:
            return pa.array([null(int(rng.integers(-2**40, 2**40)))
                             for _ in range(n)], pa.int64())
        if k == 1:
            return pa.array([null(float(rng.normal()))
                             for _ in range(n)], pa.float64())
        if k == 2:
            return pa.array([null(bool(rng.random() < .5))
                             for _ in range(n)], pa.bool_())
        if k == 3:
            return pa.array([null(f"v{int(rng.integers(0, 50))}")
                             for _ in range(n)], pa.string())
        if k == 4:
            return pa.array(
                [null(bytes(rng.integers(0, 256, rng.integers(0, 6))
                            .astype("u1"))) for _ in range(n)],
                pa.binary())
        if k == 5:
            return pa.array([null(int(rng.integers(0, 20000)))
                             for _ in range(n)], pa.date32())
        if k == 6:
            return pa.array([null(int(rng.integers(0, 2**47)))
                             for _ in range(n)], pa.timestamp("us"))
        if k == 7:
            return pa.array([null(int(rng.integers(-2**20, 2**20)))
                             for _ in range(n)], pa.int32())
        if k == 8:
            return pa.array([null(float(rng.normal()))
                             for _ in range(n)], pa.float32())
        if k == 9:  # list
            lens = [None if rng.random() < .1 else int(rng.integers(0, 4))
                    for _ in range(n)]
            child = rand_col(sum(x or 0 for x in lens), depth + 1)
            out, off = [], 0
            for ln in lens:
                if ln is None:
                    out.append(None)
                else:
                    out.append(child[off:off + ln].to_pylist())
                    off += ln
            return pa.array(out, pa.list_(child.type))
        if k == 10:  # struct
            a, b = rand_col(n, depth + 1), rand_col(n, depth + 1)
            return pa.StructArray.from_arrays([a, b], ["x", "y"])
        # map
        out = [{f"k{j}": int(rng.integers(0, 99))
                for j in range(int(rng.integers(0, 4)))}
               for _ in range(n)]
        return pa.array(out, pa.map_(pa.string(), pa.int64()))

    def canon(v):
        if isinstance(v, (date, datetime)):
            return v.isoformat()
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, dict):
            return sorted((str(k), canon(x)) for k, x in v.items())
        if isinstance(v, (list, tuple)):
            if v and isinstance(v[0], tuple) and len(v[0]) == 2:
                # pyarrow map: list of (k, v) pairs
                return sorted((str(k), canon(x)) for k, x in v)
            return [canon(x) for x in v]
        return v

    for trial in range(4):
        n = int(rng.integers(5, 600))
        t = pa.table({"_rid": pa.array(np.arange(n, dtype=np.int64)),
                      **{f"c{i}": rand_col(n) for i in range(3)}})
        path = str(tmp_path / f"f{trial}.orc")
        orcwriter.write_orc(t, path, codec="zlib",
                            stripe_rows=max(8, n // 3))
        want = sorted(pa_orc.read_table(path).to_pylist(),
                      key=lambda r: r["_rid"])
        got = [r.asDict(recursive=True) for r in
               orcscan.orc_scan(spark, path).orderBy("_rid").collect()]
        assert len(got) == len(want), trial
        for g, w in zip(got, want):
            for c in t.column_names:
                assert canon(g[c]) == canon(w[c]), (trial, c, g, w)


def test_orc_scan_date1900_values_match_row_reader(spark):
    """Pre-1970 timestamps (the secs-1 truncation quirk) and 1900
    dates survive the scan's string->datetime/date conversion: every
    distinct (time, date) pair matches the golden-verified row
    reader rendering."""
    path = f"{EX}/TestOrcFile.testDate1900.orc"
    df = orcscan.orc_scan(spark, path)
    assert df.count() == 70000
    got = {(r["time"].isoformat(sep=" "), r["date"].isoformat())
           for r in df.dropDuplicates(["time", "date"]).collect()}
    f = ORCFile(path)
    want = set()
    for r in f.read_all():
        # scan truncates to microseconds and renders full precision;
        # the row reader trims trailing zeros — normalize both
        main, _, frac = r["time"].partition(".")
        us = (frac + "000000")[:6].rstrip("0") or "0"
        want.add((f"{main}.{us}" if us != "0" else main + ".0",
                  r["date"]))
    norm_got = set()
    for t, d in got:
        main, _, frac = t.partition(".")
        us = frac.rstrip("0") or "0"
        norm_got.add((f"{main}.{us}" if us != "0" else main + ".0", d))
    assert norm_got == want


def test_orc_scan_bare_nonstruct_root(spark):
    """testTimestamp.orc's root is a bare `timestamp` (no struct):
    the scan surfaces it as one column named `value`."""
    path = f"{EX}/TestOrcFile.testTimestamp.orc"
    df = orcscan.orc_scan(spark, path)
    assert df.columns == ["value"]
    n = df.count()
    raw = list(ORCFile(path).read_all())
    assert n == len(raw)
    got = sorted(r["value"].isoformat(sep=" ")
                 for r in df.collect())[:2]
    want = sorted(v.split(".")[0] for v in raw)[:2]
    assert [g.split(".")[0] for g in got] == want


def test_orc_scan_whole_golden_corpus_row_counts(spark):
    """EVERY golden example file scans through Spark with the footer
    row count — union, lzo/lz4/snappy, v0.11, bare roots, 1.9M-row
    demos included (Spark's own reader rejects several of these)."""
    import glob
    files = sorted(glob.glob(f"{EX}/*.orc"))
    assert len(files) >= 26
    for p in files:
        n = orcscan.orc_scan(spark, p).count()
        assert n == ORCFile(p).n_rows, p


def test_orc_scan_nested_golden_matches_row_reader(spark):
    """test1.orc: struct/list/map/binary columns round through the
    scan identically to the direct row reader."""
    path = f"{EX}/TestOrcFile.test1.orc"
    got = orcscan.orc_scan(spark, path).orderBy("int1").collect()
    raw = sorted(ORCFile(path).read_all(), key=lambda r: r["int1"])
    assert len(got) == len(raw) == 2
    for g, r in zip(got, raw):
        assert g["boolean1"] == r["boolean1"]
        assert bytes(g["bytes1"]) == bytes(r["bytes1"])
        assert [x["int1"] for x in g["list"]] == \
            [x["int1"] for x in r["list"]]
        assert g["middle"]["list"][0]["string1"] == \
            r["middle"]["list"][0]["string1"]


def test_orc_scan_decimal_exact_beyond_float(spark, tmp_path):
    """r4: decimal(38,10) values with >15 significant digits survive
    write -> orc_scan bit-exactly (the old double mapping lost the low
    digits; reference decimal.go keeps big.Int mantissas)."""
    from decimal import Decimal
    import pyarrow.parquet  # noqa: F401  (ensure pa available)
    vals = [Decimal("12345678901234567890.1234567891"),
            Decimal("-9999999999999999999.9999999999"),
            Decimal("0.0000000001"),
            Decimal("1E-10") * 3,
            Decimal("271828182845904523536.0287471352")]
    tbl = pa.table({"v": pa.array(vals, pa.decimal128(38, 10))})
    p = str(tmp_path / "dec")
    import os
    os.makedirs(p)
    orcwriter.arrow_to_orc(tbl, p + "/part.orc", codec="zlib") \
        if hasattr(orcwriter, "arrow_to_orc") else None
    if not glob.glob(p + "/*.orc"):
        # write via the Spark-side sink
        df = spark.createDataFrame(
            [(v,) for v in vals], "v decimal(38,10)")
        orcwriter.dataframe_to_orc_dir(df.coalesce(1), p, codec="zlib")
    got = orcscan.orc_scan(spark, p)
    assert dict(got.dtypes)["v"] == "decimal(38,10)"
    back = sorted(r["v"] for r in got.collect())
    # Decimal == is scale-insensitive numeric equality; every value
    # here has >15 significant digits, so any float64 detour fails
    assert back == sorted(vals)
    # and the row reader itself is exact (no float64 detour)
    f = ORCFile(glob.glob(p + "/*.orc")[0])
    raw = sorted(r["v"] for r in f.read_all())
    assert all(isinstance(v, Decimal) for v in raw)
    assert raw == back


def test_orc_scan_timestamp_nanos_lossless(spark):
    """r4: timestamp_nanos=True surfaces exact wall-clock nanos from
    the golden testTimestamp file (expected JSON carries 9-digit
    fractions the default us surface must truncate)."""
    path = f"{EX}/TestOrcFile.testTimestamp.orc"
    ns = [r["value"] for r in
          orcscan.orc_scan(spark, path, timestamp_nanos=True).collect()]
    assert len(ns) == 12
    assert min(ns) == 788918400688888888       # 1995-01-01 ….688888888
    assert max(ns) == 2114380800000999000      # 2037-01-01 ….000999
    assert sum(v % 10**9 for v in ns) == 5070543801
    # default surface: same instants at us precision
    us = [r["value"] for r in orcscan.orc_scan(spark, path).collect()]
    import datetime as dt
    epoch = dt.datetime(1970, 1, 1)
    for a, b in zip(sorted(ns), sorted(us)):
        d = b - epoch
        got_us = (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
        assert got_us == a // 1000  # truncation, never rounding drift


def test_orc_scan_nullable_fast_path_values(spark, tmp_path):
    """r4: PRESENT-bearing numeric/string/date/bool/binary/list
    columns decode through the whole-array fast path (validity
    bitmaps, zero per-row Python) with values identical to the row
    reader."""
    import pandas as pd
    n = 5000
    rng = np.random.default_rng(7)
    ints = rng.integers(-10**9, 10**9, n)
    dbls = rng.normal(size=n)
    strs = [f"value-{i}" for i in range(n)]
    toks = [rng.integers(0, 1000, int(l)).tolist()
            for l in rng.integers(0, 8, n)]
    df = spark.createDataFrame(pd.DataFrame({
        "i": ints, "d": dbls, "s": strs,
        "b": [bytes([i % 256, (i * 7) % 256]) for i in range(n)],
        "flag": [bool(i % 3 == 0) for i in range(n)],
        "tokens": toks,
    }))
    from pyspark.sql import functions as SF
    # null out every 5th/7th/11th row per column (different patterns)
    df = df.select(
        SF.when(SF.col("i") % 5 != 0, SF.col("i")).alias("i"),
        SF.when(SF.col("i") % 7 != 0, SF.col("d")).alias("d"),
        SF.when(SF.col("i") % 11 != 0, SF.col("s")).alias("s"),
        SF.when(SF.col("i") % 3 != 0, SF.col("b")).alias("b"),
        SF.when(SF.col("i") % 2 != 0, SF.col("flag")).alias("flag"),
        SF.when(SF.col("i") % 13 != 0, SF.col("tokens")).alias("tokens"))
    p = str(tmp_path / "nulls")
    orcwriter.dataframe_to_orc_dir(df.coalesce(1), p, codec="zlib")
    got = orcscan.orc_scan(spark, p)
    a = got.toPandas().sort_values("s", na_position="last") \
        .reset_index(drop=True)
    b = df.toPandas().sort_values("s", na_position="last") \
        .reset_index(drop=True)
    assert len(a) == len(b) == n
    for c in ("i", "d", "s", "b", "flag"):
        av, bv = a[c].tolist(), b[c].tolist()
        assert all((x is None or x != x) == (y is None or y != y)
                   or x == y for x, y in zip(av, bv)), c
        # null COUNTS match exactly
        assert a[c].isna().sum() == b[c].isna().sum(), c
    assert a["tokens"].isna().sum() == b["tokens"].isna().sum()


def test_orc_scan_nested_fast_path_engages_and_matches(spark, tmp_path):
    """r4: list<struct>, map, struct<list>, and null-bearing nested
    trees build whole-array through _fast_arrow (offsets + validity +
    take-expansion — no per-row _conv), and values equal the row
    reader's (``read_path`` + ``_conv``) exactly."""
    n = 3000
    rng = np.random.default_rng(11)
    lens = rng.integers(0, 5, n)
    items = [[{"int1": int(rng.integers(0, 1000)), "string1": f"s{j}"}
              for j in range(l)] for l in lens]
    tbl = pa.table({
        "id": pa.array(np.arange(n)),
        "lst": pa.array(
            [x if i % 7 else None for i, x in enumerate(items)],
            pa.list_(pa.struct([("int1", pa.int32()),
                                ("string1", pa.utf8())]))),
        "mp": pa.array([{f"k{i % 5}": float(i)} if i % 3 else None
                        for i in range(n)],
                       pa.map_(pa.utf8(), pa.float64())),
        "st": pa.array([{"a": int(i), "b": [f"w{i % 9}"] * (i % 3)}
                        if i % 4 else None for i in range(n)],
                       pa.struct([("a", pa.int64()),
                                  ("b", pa.list_(pa.utf8()))])),
    })
    p = str(tmp_path / "nested")
    import os
    os.makedirs(p)
    w = orcwriter.ORCFileWriter(p + "/a.orc", codec="zlib")
    w.write_batch(tbl.to_batches()[0])
    w.close()
    # 1) per column, the whole-array reader equals the row reader
    from orc_spark import orctypes
    f = ORCFile(p + "/a.orc")
    root = orctypes.type_from_file(p + "/a.orc")
    cids = dict(zip(f.types[0].field_names, f.types[0].children))
    want = {fn: [] for fn in root.field_names}
    for si in range(len(f.stripes)):
        nr = f._load_stripe_directory(si)
        for fn, node in zip(root.field_names, root.children):
            arr = orcscan._fast_arrow(f, cids[fn], nr,
                                      orcscan.orc_arrow(node))
            arr.validate(full=True)
            ref = f.read_path([cids[fn]], nr)
            assert arr.equals(pa.array(
                [orcscan._conv(node, v) for v in ref],
                type=orcscan.orc_arrow(node))), (fn, si)
            want[fn] += [orcscan._conv(node, v) for v in ref]
    # 2) the full scan returns the row reader's values
    got = orcscan.orc_scan(spark, p).orderBy("id").collect()
    assert [r.asDict(True) for r in got] == \
        [dict(zip(want, vs)) for vs in zip(*want.values())]


def test_orc_scan_decimal_fast_path_with_nulls(spark, tmp_path):
    """r4: int64-range decimals (p<=18) decode whole-array into the
    decimal128 buffer (incl. PRESENT nulls); the golden decimal.orc
    and >int64 mantissas are covered elsewhere."""
    from decimal import Decimal
    from orc_spark import orctypes
    from orc_spark.sources.orcscan import _fast_arrow, orc_arrow
    vals = [None if i % 7 == 0 else Decimal(i * 137) / 100
            for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals],
                               "v decimal(18,4)")
    p = str(tmp_path / "d")
    orcwriter.dataframe_to_orc_dir(df.coalesce(1), p, codec="zlib")
    fpath = glob.glob(p + "/*.orc")[0]
    f = ORCFile(fpath)
    nr = f._load_stripe_directory(0)
    root = orctypes.type_from_file(fpath)
    cids = dict(zip(f.types[0].field_names, f.types[0].children))
    arr = _fast_arrow(f, cids["v"], nr, orc_arrow(root.children[0]))
    assert str(arr.type) == "decimal128(18, 4)"
    got = orcscan.orc_scan(spark, p).orderBy("v").collect()
    exp = sorted((v for v in vals if v is not None))
    non_null = [r["v"] for r in got if r["v"] is not None]
    assert non_null == exp
    assert sum(1 for r in got if r["v"] is None) == \
        sum(1 for v in vals if v is None)


def test_orc_scan_timestamp_fast_path_utc_parity(spark, tmp_path):
    """r4: UTC-written timestamps decode whole-array (both us and
    nanos surfaces) with values identical to the row reader's
    _format_ts/_conv, incl. pre-1970 truncation and nulls; so do a
    zoned golden file and an unknown zone name."""
    import datetime as dt
    from orc_spark import orctypes
    from orc_spark.sources.orcscan import _conv, _fast_arrow, orc_arrow
    rng = np.random.default_rng(2)
    ts = [None if i % 9 == 0 else
          dt.datetime(1960 + (i % 100), 1 + i % 12, 1 + i % 28,
                      i % 24, i % 60, i % 60,
                      int(rng.integers(0, 10**6)))
          for i in range(3000)]
    tbl = pa.table({"t": pa.array(ts, pa.timestamp("us"))})
    p = str(tmp_path / "ts")
    import os
    os.makedirs(p)
    w = orcwriter.ORCFileWriter(p + "/a.orc", codec="zlib")
    w.write_batch(tbl.to_batches()[0])
    w.close()
    f = ORCFile(p + "/a.orc")
    nr = f._load_stripe_directory(0)
    assert f.writer_tz == "UTC"
    root = orctypes.type_from_file(p + "/a.orc")
    cids = dict(zip(f.types[0].field_names, f.types[0].children))
    node = root.children[0]
    for ts_nanos in (False, True):
        ft = orc_arrow(node, ts_nanos)
        arr = _fast_arrow(f, cids["t"], nr, ft)
        exp = pa.array([_conv(node, v, ts_nanos)
                        for v in f._read_column(cids["t"], nr)],
                       type=ft)
        assert arr.equals(exp)
    # zoned golden file (see also
    # test_orc_scan_zoned_timestamp_fast_path_parity) and an UNKNOWN
    # zone name, which reads with the flat UTC-base arithmetic
    g = ORCFile(f"{EX}/TestOrcFile.testTimestamp.orc")
    gn = g._load_stripe_directory(0)
    assert g.writer_tz not in ("", "UTC")
    gnode = orctypes.type_from_file(f"{EX}/TestOrcFile.testTimestamp.orc")
    for zone in (g.writer_tz, "Not/AZone"):
        g.writer_tz = zone
        exp = pa.array([_conv(gnode, v) for v in g._read_column(0, gn)],
                       type=pa.timestamp("us"))
        assert _fast_arrow(g, 0, gn, pa.timestamp("us")).equals(exp)
    # end-to-end through the scan
    got = sorted(r["t"] for r in orcscan.orc_scan(spark, p).collect()
                 if r["t"] is not None)
    assert got == sorted(v for v in ts if v is not None)


def test_orc_scan_union_fast_path_parity(spark):
    """r4: union columns build whole-array (tags + take-expanded
    variant children) with values identical to the generic row path,
    across every stripe of the golden union file."""
    from orc_spark import orctypes
    from orc_spark.sources.orcscan import _conv, _fast_arrow, orc_arrow
    p = f"{EX}/TestOrcFile.testUnionAndTimestamp.orc"
    f = ORCFile(p)
    root = orctypes.type_from_file(p)
    names = dict(zip(root.field_names, root.children))
    cids = dict(zip(f.types[0].field_names, f.types[0].children))
    node = names["union"]
    for si in range(len(f.stripes)):
        nr = f._load_stripe_directory(si)
        arr = _fast_arrow(f, cids["union"], nr, orc_arrow(node))
        exp = pa.array([_conv(node, v)
                        for v in f._read_column(cids["union"], nr)],
                       type=orc_arrow(node))
        assert arr.equals(exp)
    # end-to-end scan still matches the driver oracle's aggregates
    df = orcscan.orc_scan(spark, p)
    u = F.col("union")
    got = df.agg(
        F.sum((u.getField("tag") == 0).cast("int")).alias("n0"),
        F.sum(u.getField("_u0")).alias("s0"),
        F.countDistinct(u.getField("_u1")).alias("d1")).first()
    assert (got["n0"], got["s0"], got["d1"]) == (5040, 8660390656586, 35)


def test_orc_scan_zoned_timestamp_fast_path_parity(spark):
    """r4: ZONED timestamps (US/Pacific goldens) vectorize via
    per-day offset buckets with DST-transition days taking per-value
    offsets — values identical to the generic _format_ts path on
    both surfaces across 282k golden rows incl. 1900/2038 ranges."""
    from orc_spark import orctypes
    from orc_spark.sources.orcscan import _conv, _fast_arrow, orc_arrow
    for name in ("TestOrcFile.testTimestamp",
                 "TestOrcFile.testDate1900",
                 "TestOrcFile.testDate2038"):
        path = f"{EX}/{name}.orc"
        f = ORCFile(path)
        root = orctypes.type_from_file(path)
        if root.kind == "struct":
            node = next(c for c in root.children
                        if c.kind == "timestamp")
            cid = f.types[0].children[root.children.index(node)]
        else:
            node, cid = root, 0
        for ts_nanos in (False, True):
            nr = f._load_stripe_directory(0)
            ft = orc_arrow(node, ts_nanos)
            arr = _fast_arrow(f, cid, nr, ft)
            exp = pa.array([_conv(node, v, ts_nanos)
                            for v in f._read_column(cid, nr)],
                           type=ft)
            assert arr.equals(exp), (name, f.writer_tz, ts_nanos)


def test_orc_scan_reads_spark_default_zstd(spark, tmp_path):
    """r4: Spark 4 writes ORC with ZSTD by default — our reader,
    orc_scan, and orc_count must consume it (pyarrow's bundled zstd,
    no zstandard wheel), and our writer's codec=\"zstd\" output must
    read back through BOTH our kernels and Spark's JVM reader."""
    d = str(tmp_path / "z")
    df = spark.range(30000).selectExpr(
        "id AS v", "CAST(id % 9 AS STRING) AS tag")
    df.coalesce(2).write.mode("overwrite").orc(d)  # default codec
    f = ORCFile(glob.glob(d + "/*.orc")[0])
    assert f.compression == "zstd"
    back = orcscan.orc_scan(spark, d)
    assert back.count() == 30000
    assert back.agg({"v": "sum"}).collect()[0][0] == \
        30000 * 29999 // 2
    from orc_spark.sources import orcstats
    assert orcstats.orc_count(spark, d) == 30000
    # our zstd writer -> JVM reader
    d2 = str(tmp_path / "ours")
    import os
    os.makedirs(d2)
    w = orcwriter.ORCFileWriter(d2 + "/a.orc", codec="zstd",
                                stripe_rows=5000)
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(20000, dtype=np.int64))], names=["v"]))
    w.close()
    assert ORCFile(d2 + "/a.orc").compression == "zstd"
    assert spark.read.orc(d2).count() == 20000


def test_orc_scan_values_match_row_reader_across_corpus(spark):
    """Corpus-wide closing of the loop: the row reader is golden-
    verified against expected JSON (test_orcfile_golden); here every
    small corpus file's FULL orc_scan output — i.e. every fast path
    that engages — must equal the row reader's values after _conv.
    Covers v0.11, RLE v1, dict v1, snappy/lzo/lz4, unions, zoned
    timestamps, decimals, deep nesting, PRESENT streams."""
    from orc_spark import orctypes
    from orc_spark.sources.orcscan import _conv
    skipped = []
    for path in sorted(glob.glob(f"{EX}/*.orc")):
        f = ORCFile(path)
        if f.n_rows == 0 or f.n_rows > 30000:
            skipped.append((path.split("/")[-1], f.n_rows))
            continue
        root = orctypes.type_from_file(path)
        if root.kind != "struct":
            root = orctypes.OrcType("struct", [root], ["value"])
        rows = list(f.read_all())
        if f.types[0].kind != "struct":
            rows = [{"value": r} for r in rows]
        want = [
            {fn: _conv(c, r.get(fn))
             for fn, c in zip(root.field_names, root.children)}
            for r in rows]
        got = [r.asDict(recursive=True) for r in
               orcscan.orc_scan(spark, path).collect()]
        assert len(got) == len(want), path

        # stripe tasks collect in nondeterministic order: compare as
        # multisets via a canonical rendering; floats canonicalize at
        # float32 (the row reader renders shortest-float32 reprs,
        # Spark widens the same float32 to double — equal values,
        # different decimal strings)
        def canon(v):
            from decimal import Decimal
            if isinstance(v, float):  # json.dumps won't call default
                return repr(np.float32(v))  # for plain floats
            if isinstance(v, Decimal):
                # per-value scale (row reader) vs declared scale
                # (scan): numerically equal, different renderings
                return str(v.normalize())
            if isinstance(v, dict):
                # union sparse structs: the scan materializes every
                # _u* slot (null), _conv only the active branch —
                # dropping nulls normalizes both sides identically
                return {k: canon(x) for k, x in v.items()
                        if x is not None}
            if isinstance(v, (list, tuple)):
                return [canon(x) for x in v]
            return v

        def key(r):
            import json
            return json.dumps(canon(r), sort_keys=True, default=str)

        got_s, want_s = sorted(map(key, got)), sorted(map(key, want))
        assert got_s == want_s, (path, next(
            (a, b) for a, b in zip(got_s, want_s) if a != b))
    # the big demo files are covered by row-count tests; everything
    # else must have been swept
    assert all(n == 0 or n > 30000 for _, n in skipped), skipped


def test_orc_scan_schema_evolution_opt_in(spark, tmp_path):
    """r4: evolve=True reads a directory whose later files added a
    column (older files null-fill it) and widened an int (int32 ->
    int64 casts up); predicates on the evolved column stay exact;
    the default remains the fail-loud drift check."""
    d = tmp_path / "ev"
    d.mkdir()
    # target (first by sort order): v:int64, extra:string
    w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(100, dtype=np.int64)),
         pa.array([f"e{i}" for i in range(100)])],
        names=["v", "extra"]))
    w.close()
    # older file: v only, and as int32
    w = orcwriter.ORCFileWriter(str(d / "b.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(100, 200, dtype=np.int32))],
        names=["v"]))
    w.close()
    with pytest.raises(Exception, match="schema drift"):
        orcscan.orc_scan(spark, str(d)).count()
    df = orcscan.orc_scan(spark, str(d), evolve=True)
    assert dict(df.dtypes) == {"v": "bigint", "extra": "string"}
    assert df.count() == 200
    assert df.where("extra IS NULL").count() == 100
    assert df.agg({"v": "sum"}).collect()[0][0] == sum(range(200))
    # predicate on the evolved column: only file a can match
    assert orcscan.orc_scan(
        spark, str(d), evolve=True,
        predicate=("extra", ">=", "e")).count() == 100
    # predicate on the shared column spans both files exactly
    assert orcscan.orc_scan(
        spark, str(d), evolve=True,
        predicate="v >= 150").count() == 50


# -------------------------------------------------------------------
# dotted nested-field projection (r5)
# -------------------------------------------------------------------


def _write_nested(path, n=4000, stripe_rows=1000, with_nulls=False,
                  codec="zlib"):
    """struct<rec:struct<x:bigint,y:string,big:string>,plain:bigint>
    with `rec.x` sorted (disjoint stripe ranges for pruning tests);
    `big` is a bulky sibling whose streams a rec.x projection must
    never decompress."""
    null_at = (lambda i: with_nulls and i % 7 == 3)
    recs = pa.array(
        [None if null_at(i)
         else {"x": i, "y": f"y{i % 13}", "big": "Z" * 40}
         for i in range(n)],
        pa.struct([("x", pa.int64()), ("y", pa.string()),
                   ("big", pa.string())]))
    batch = pa.RecordBatch.from_arrays(
        [recs, pa.array(np.arange(n, dtype=np.int64) * 10)],
        names=["rec", "plain"])
    w = orcwriter.ORCFileWriter(str(path), codec=codec,
                                stripe_rows=stripe_rows)
    w.write_batch(batch)
    w.close()


def test_orc_scan_dotted_projection_values(spark, tmp_path):
    """columns=["rec.x"] surfaces ONE flattened column named by the
    literal path (reference cursor.go:29-45 Select semantics), values
    exact, mixed with plain top-level names."""
    p = str(tmp_path / "nested.orc")
    _write_nested(p)
    df = orcscan.orc_scan(spark, p, columns=["rec.x", "plain"])
    assert df.columns == ["rec.x", "plain"]
    rows = df.orderBy(F.col("`rec.x`")).collect()
    assert len(rows) == 4000
    assert rows[17]["rec.x"] == 17 and rows[17]["plain"] == 170
    # deeper dotted leaf of a string kind
    dy = orcscan.orc_scan(spark, p, columns=["rec.y"])
    assert dy.distinct().count() == 13


def test_orc_scan_dotted_projection_ancestor_nulls(spark, tmp_path):
    """Rows whose ancestor struct is NULL surface as NULL leaves in
    the flattened column (present-chain expansion), exact counts."""
    p = str(tmp_path / "nestednull.orc")
    _write_nested(p, with_nulls=True)
    df = orcscan.orc_scan(spark, p, columns=["rec.x", "plain"])
    n_null = sum(1 for i in range(4000) if i % 7 == 3)
    assert df.where(F.col("`rec.x`").isNull()).count() == n_null
    got = df.where(F.col("`rec.x`").isNotNull()) \
        .agg({"`rec.x`": "sum"}).collect()[0][0]
    assert got == sum(i for i in range(4000) if i % 7 != 3)
    # positional alignment with the sibling top-level column
    row = df.where("plain = 30").collect()[0]   # i=3 -> rec NULL
    assert row["rec.x"] is None


def test_orc_scan_dotted_projection_skips_sibling_streams(tmp_path):
    """Projecting rec.x decompresses ONLY the ancestor PRESENT chain
    and the x subtree — sibling streams (rec.y, rec.big, plain) stay
    untouched (the r4 gap: full-subtree decode on nested projects)."""
    p = str(tmp_path / "sib.orc")
    _write_nested(p)
    f = ORCFile(p)
    x_ids = set(f.resolve_path("rec.x"))
    touched = []
    orig = ORCFile._stream

    def spy(self, col, kind):
        touched.append((col, kind))
        return orig(self, col, kind)

    ORCFile._stream = spy
    try:
        ids = f.resolve_path("rec.x")
        n = f._load_stripe_directory(0)
        vals = f.read_path(ids, n)
    finally:
        ORCFile._stream = orig
    assert vals[:3] == [0, 1, 2] and len(vals) == 1000
    allowed = x_ids | {0, ids[0]}  # target subtree + ancestors
    assert {c for c, _ in touched} <= allowed, touched


def test_orc_scan_dotted_predicate_prunes(spark, tmp_path):
    """Predicates on nested leaves prune at stripe AND stride
    granularity from the leaf's statistics, results exact."""
    p = str(tmp_path / "npred.orc")
    _write_nested(p)  # rec.x sorted, 4 stripes of 1000
    kept, total = orcscan.plan_tasks([p],
                                     predicate=("rec.x", ">=", 3500))
    assert total == 4 and len(kept) == 1
    df = orcscan.orc_scan(spark, p, predicate="rec.x >= 3500")
    assert df.count() == 500
    # projected + predicate together (internal projection carries it)
    dfp = orcscan.orc_scan(spark, p, columns=["plain"],
                           predicate=("rec.x", ">=", 3995))
    assert sorted(r["plain"] for r in dfp.collect()) == \
        [39950, 39960, 39970, 39980, 39990]
    # full-schema dotted predicate filters via the nested reference
    assert orcscan.orc_scan(
        spark, p, predicate=("rec.x", "<", 10)).count() == 10


def test_orc_count_dotted_predicate(spark, tmp_path):
    """orc_count's hybrid stats+boundary path accepts dotted leaves,
    exact under ancestor nulls."""
    from orc_spark.sources import orcstats
    p = str(tmp_path / "ncount.orc")
    _write_nested(p, with_nulls=True)
    want = sum(1 for i in range(4000) if i % 7 != 3 and i >= 2500)
    assert orcstats.orc_count(spark, p,
                              predicate=("rec.x", ">=", 2500)) == want


def test_orc_scan_dotted_golden_cross_check(spark):
    """Dotted projection on a JAVA-written nested golden file agrees
    with the full-scan nested values (test1.orc: middle.list)."""
    p = f"{EX}/TestOrcFile.test1.orc"
    full = orcscan.orc_scan(spark, p).select(
        F.col("middle.list").alias("ml")).collect()
    dotted = orcscan.orc_scan(spark, p, columns=["middle.list"]) \
        .collect()
    assert [r["middle.list"] for r in dotted] == \
        [r["ml"] for r in full]


def test_datasource_dotted_projection(spark, tmp_path):
    """The DataSource surface: option("columns", "rec.x,plain") and
    nested-attribute filter pushdown prune by leaf statistics."""
    from orc_spark.sources import datasource
    datasource.register(spark)
    d = tmp_path / "dsn"
    d.mkdir()
    _write_nested(str(d / "a.orc"))
    df = spark.read.format("orc_spark") \
        .option("columns", "rec.x,plain").load(str(d))
    assert df.columns == ["rec.x", "plain"]
    assert df.count() == 4000
    assert df.where(F.col("`rec.x`") >= 3995).count() == 5
    # planner-level: nested pushFilters prune partitions
    from pyspark.sql.datasource import GreaterThanOrEqual
    r = datasource.OrcReader({"path": str(d)})
    list(r.pushFilters([GreaterThanOrEqual(("rec", "x"), 3500)]))
    assert r.pushed == [("rec.x", ">=", 3500)]
    assert sum(len(p.stripes) for p in r.partitions()) == 1


def test_orc_scan_dotted_corpus_parity(spark):
    """Every struct-nested dotted path in the golden corpus projects
    to the same values a full scan's nested access yields — Java
    writers, varied codecs and sizes (testSeek is 32k rows of deep
    random nesting; orc-file-11-format is the v0.11 layout)."""
    cases = ["TestOrcFile.test1.orc", "TestOrcFile.testSeek.orc",
             "TestOrcFile.metaData.orc", "orc-file-11-format.orc"]
    for fname in cases:
        p = f"{EX}/{fname}"
        full = orcscan.orc_scan(spark, p).select(
            F.col("middle.list").alias("v")).collect()
        dotted = orcscan.orc_scan(
            spark, p, columns=["middle.list"]).collect()
        assert [r["middle.list"] for r in dotted] == \
            [r["v"] for r in full], fname


def test_orc_scan_dotted_fuzz_random_nested_schemas(spark, tmp_path):
    """Seeded fuzz (mirrors test_merge_fuzz): random nullable nested
    struct schemas, random dotted leaf selections — flattened dotted
    values must equal nested extraction from a full scan on every
    trial.  Catches ancestor-PRESENT chain bugs (nulls at any level),
    fast-path/generic divergence, and id-resolution errors."""
    import pyarrow as pa
    rng = np.random.default_rng(77)
    leaf_makers = [
        lambda n, null: pa.array(
            [None if null(i) else int(rng.integers(-10**9, 10**9))
             for i in range(n)], pa.int64()),
        lambda n, null: pa.array(
            [None if null(i) else f"s{int(rng.integers(0, 30)):02d}"
             for i in range(n)], pa.string()),
        lambda n, null: pa.array(
            [None if null(i) else float(rng.normal())
             for i in range(n)], pa.float64()),
    ]
    for trial in range(4):
        n = int(rng.integers(50, 300))
        p_null = float(rng.uniform(0, 0.3))
        null = lambda i: rng.random() < p_null  # noqa: E731
        # two-level nesting: outer struct of (inner struct + leaf)
        inner_fields, inner_arrays = [], []
        for j in range(int(rng.integers(1, 4))):
            mk = leaf_makers[int(rng.integers(0, 3))]
            arr = mk(n, null)
            inner_fields.append((f"l{j}", arr.type))
            inner_arrays.append(arr)
        inner = pa.StructArray.from_arrays(
            inner_arrays, names=[f for f, _ in inner_fields],
            mask=pa.array([null(i) for i in range(n)]))
        outer = pa.StructArray.from_arrays(
            [inner, leaf_makers[0](n, null)],
            names=["mid", "leaf"],
            mask=pa.array([null(i) for i in range(n)]))
        tbl = pa.table({"rec": outer,
                        "plain": pa.array(range(n), pa.int64())})
        d = tmp_path / f"fz{trial}"
        d.mkdir()
        w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib",
                                    stripe_rows=max(16, n // 3))
        for b in tbl.to_batches():
            w.write_batch(b)
        w.close()
        paths = ["rec.leaf"] + \
            [f"rec.mid.{f}" for f, _ in inner_fields]
        sel = [p for p in paths
               if rng.random() < 0.8] or [paths[0]]
        full = orcscan.orc_scan(spark, str(d / "a.orc")) \
            .select("plain", *[F.col(p).alias(p.replace(".", "_"))
                               for p in sel]) \
            .orderBy("plain").collect()
        dotted = orcscan.orc_scan(spark, str(d / "a.orc"),
                                  columns=["plain"] + sel) \
            .orderBy("plain").collect()
        for fr, dr in zip(full, dotted):
            for p in sel:
                a, b = fr[p.replace(".", "_")], dr[p]
                assert (a == b) or (a is None and b is None) or \
                    (isinstance(a, float) and a != a and b != b), \
                    (trial, p, a, b)


def test_orc_scan_evolve_widened_union(spark, tmp_path):
    """r5: evolve=True reads under the files' WIDENED UNION schema
    (orctypes.widen — Java ORC ConvertTreeReader's lossless subset):
    a narrow-typed FIRST file no longer narrows (or crashes on) a
    wider later file; float widens to double, decimals to union
    precision/scale, struct fields union BY NAME across reorder."""
    from decimal import Decimal
    d = tmp_path / "evw"
    d.mkdir()
    big = 2 ** 40  # does not fit int32
    st_a = pa.struct([("x", pa.int32()), ("y", pa.string())])
    w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(10, dtype=np.int32)),
         pa.array(np.arange(10, dtype=np.float32)),
         pa.array([Decimal("1.25")] * 10, pa.decimal128(10, 2)),
         pa.array([{"x": i, "y": f"a{i}"} for i in range(10)], st_a)],
        names=["v", "f", "dec", "rec"]))
    w.close()
    # later file: int widened, float -> double, wider decimal, struct
    # reordered + grew a field
    st_b = pa.struct([("y", pa.string()), ("x", pa.int64()),
                      ("z", pa.float64())])
    w = orcwriter.ORCFileWriter(str(d / "b.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array([big + i for i in range(10)], pa.int64()),
         pa.array(np.arange(10, 20, dtype=np.float64)),
         pa.array([Decimal("2.0625")] * 10, pa.decimal128(12, 4)),
         pa.array([{"y": f"b{i}", "x": big + i, "z": i + 0.5}
                   for i in range(10)], st_b)],
        names=["v", "f", "dec", "rec"]))
    w.close()

    df = orcscan.orc_scan(spark, str(d), evolve=True)
    assert dict(df.dtypes) == {
        "v": "bigint", "f": "double", "dec": "decimal(12,4)",
        "rec": "struct<x:bigint,y:string,z:double>"}
    rows = {r["v"]: r for r in df.collect()}
    assert len(rows) == 20
    # narrow-file rows surfaced losslessly under the union types
    assert rows[3]["f"] == 3.0 and rows[3]["dec"] == Decimal("1.2500")
    assert rows[3]["rec"].asDict() == {"x": 3, "y": "a3", "z": None}
    # wide-file rows kept exact (previously crashed: int64 read under
    # a first-file int32 schema)
    assert rows[big + 7]["rec"].asDict() == \
        {"x": big + 7, "y": "b7", "z": 7.5}
    assert rows[big + 7]["dec"] == Decimal("2.0625")
    # predicates stay exact across differently-typed files
    assert orcscan.orc_scan(spark, str(d), evolve=True,
                            predicate=("v", ">=", big)).count() == 10


def test_orc_scan_evolve_union_distributed_plan(spark, tmp_path,
                                                monkeypatch):
    """The distributed planning path (files > DRIVER_PLAN_MAX_FILES)
    computes the SAME widened union from its sentinel type rows — and
    the result schema stays stable even when a predicate fully prunes
    the only file carrying the wide type."""
    d = tmp_path / "evd"
    d.mkdir()
    for i in range(4):
        w = orcwriter.ORCFileWriter(str(d / f"n{i}.orc"), codec="zlib")
        w.write_batch(pa.RecordBatch.from_arrays(
            [pa.array(np.arange(i * 10, i * 10 + 10, dtype=np.int32))],
            names=["v"]))
        w.close()
    w = orcwriter.ORCFileWriter(str(d / "wide.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array([2 ** 50] * 5, pa.int64())], names=["v"]))
    w.close()
    monkeypatch.setattr(orcscan, "DRIVER_PLAN_MAX_FILES", 2)
    df = orcscan.orc_scan(spark, str(d), evolve=True)
    assert dict(df.dtypes) == {"v": "bigint"}
    assert df.count() == 45
    assert df.agg({"v": "max"}).collect()[0][0] == 2 ** 50
    # predicate prunes every stripe of wide.orc at the footer: the
    # sentinel rows still contribute its type to the union
    pruned = orcscan.orc_scan(spark, str(d), evolve=True,
                              predicate=("v", "<", 40))
    assert dict(pruned.dtypes) == {"v": "bigint"}
    assert pruned.count() == 40


def test_orc_scan_evolve_cross_family_fail_loud(spark, tmp_path):
    """Files whose types have no lossless common supertype fail with
    the widen() diagnostic instead of silently coercing."""
    d = tmp_path / "evx"
    d.mkdir()
    for name, arr in [("a.orc", pa.array([1, 2], pa.int64())),
                      ("b.orc", pa.array([1.5], pa.float64()))]:
        w = orcwriter.ORCFileWriter(str(d / name), codec="zlib")
        w.write_batch(pa.RecordBatch.from_arrays([arr], names=["v"]))
        w.close()
    with pytest.raises(Exception, match="no lossless"):
        orcscan.orc_scan(spark, str(d), evolve=True).count()


def _planted_utf8_orc(path):
    """Uncompressed .orc whose direct ``doc_id`` and dictionary
    ``source`` streams each carry one 0xff byte (row 7 / key "wiki")."""
    n = 40
    orcwriter.write_orc(pa.table({
        "doc_id": [f"doc-{i:04d}" for i in range(n)],
        "source": [["cc", "wiki", "books"][i % 3] for i in range(n)],
    }), path, codec="none")
    with open(path, "rb") as fh:
        data = bytearray(fh.read())
    for blob, planted in ((b"doc-0006doc-0007", b"doc-0006doc-000\xff"),
                          (b"booksccwiki", b"booksccwik\xff")):
        at = data.find(blob)
        assert at > 0 and data.find(blob, at + 1) < 0
        data[at:at + len(blob)] = planted
    with open(path, "wb") as fh:
        fh.write(bytes(data))


def _scan_first_stripe(path):
    from orc_spark import orctypes
    ctx = orcscan._ScanContext(orctypes.type_from_file(path), [],
                               ts_nanos=False)
    return ctx.decode_stripe(ORCFile(path), 0)


def test_malformed_utf8_replace_decodes(tmp_path):
    """A value that is not valid UTF-8 reads as the row reader's
    ``decode("utf-8", "replace")`` renders it, in a direct column and
    in a dictionary key; the other values read unchanged."""
    from orc_spark import orctypes
    path = str(tmp_path / "bad.orc")
    _planted_utf8_orc(path)
    f = ORCFile(path)
    nr = f._load_stripe_directory(0)
    node = orctypes.OrcType("string")
    for cid in (1, 2):
        assert orcscan._fast_arrow(f, cid, nr, pa.string()).equals(
            _row_reference(f, cid, nr, node))
    batch = _scan_first_stripe(path)
    assert batch.column(0)[7].as_py() == "doc-000\ufffd"
    assert batch.column(0)[8].as_py() == "doc-0008"
    assert batch.column(1).to_pylist()[:3] == ["cc", "wik\ufffd", "books"]


def test_fast_path_bug_propagates(tmp_path, monkeypatch):
    # an error inside the column reader fails the stripe: there is no
    # second decoder to retry with
    from orc_spark.codecs import dictionary

    def broken(*args, **kwargs):
        raise RuntimeError("builder bug")

    path = str(tmp_path / "good.orc")
    orcwriter.write_orc(pa.table({"s": ["a", "b", "c"]}), path,
                        codec="none")
    assert _scan_first_stripe(path).column(0).to_pylist() == ["a", "b", "c"]
    monkeypatch.setattr(dictionary, "to_arrow", broken)
    with pytest.raises(RuntimeError, match="builder bug"):
        _scan_first_stripe(path)


def test_short_string_blob_fails_the_stripe(tmp_path, monkeypatch):
    """A string DATA stream shorter than its LENGTH values fails the
    stripe decode; it never reads as values sliced past the end."""
    path = str(tmp_path / "short.orc")
    orcwriter.write_orc(pa.table({"s": [f"value-{i:05d}-"
                                        for i in range(3000)]}),
                        path, codec="none")
    assert ORCFile(path)._stripe_footer(0)[0][1] == "DIRECT_V2"
    orig = ORCFile._stream

    def cut(self, col, kind):
        raw = orig(self, col, kind)
        return raw[:-40] if (col, kind) == (1, "DATA") else raw

    monkeypatch.setattr(ORCFile, "_stream", cut)
    with pytest.raises(ValueError, match="shorter than its lengths"):
        _scan_first_stripe(path)


def _row_reference(f, cid, n, node, ts_nanos=False):
    """The row reader's values of column ``cid`` as an Arrow array:
    ``_read_column`` + ``_conv``, the reference the column reader is
    held to."""
    return pa.array([orcscan._conv(node, v, ts_nanos)
                     for v in f._read_column(cid, n)],
                    type=orcscan.orc_arrow(node, ts_nanos))


@pytest.mark.parametrize("zone", ["America/Los_Angeles", "Europe/Dublin",
                                  "Australia/Lord_Howe", "Asia/Kolkata",
                                  "Not/AZone"])
def test_zoned_timestamps_match_row_reference(tmp_path, zone):
    """Timestamps read under a writer zone equal the row reader on
    both surfaces: more than 4096 distinct days, pre-1970 values with
    nanos, every quarter hour around DST changes before 1970, now and
    after 2038, nulls, and an unknown zone name (flat UTC-base
    arithmetic).  A wall clock past int64 nanos raises on both."""
    import datetime as dt

    from orc_spark import orctypes
    rng = np.random.default_rng(7)
    lo = np.datetime64("1900-01-01", "ns").astype(np.int64)
    hi = np.datetime64("2261-12-31", "ns").astype(np.int64)
    vals = rng.integers(lo, hi, 12000).tolist()
    for day in ("1960-04-24", "1965-10-31", "2021-03-14", "2021-03-28",
                "2021-04-04", "2021-10-03", "2021-10-31", "2021-11-07",
                "2040-03-11", "2040-03-25", "2040-10-07", "2040-10-28"):
        start = np.datetime64(day, "ns").astype(np.int64) - 86400 * 10**9
        vals += range(start, start + 3 * 86400 * 10**9, 900 * 10**9 + 7)
    mask = np.arange(len(vals)) % 11 == 0
    tbl = pa.table({"t": pa.array(np.array(vals, "datetime64[ns]"),
                                  pa.timestamp("ns"), mask=mask)})
    path = str(tmp_path / "ts.orc")
    orcwriter.write_orc(tbl, path, codec="zlib")
    node = orctypes.type_from_file(path).children[0]
    f = ORCFile(path)
    nr = f._load_stripe_directory(0)
    assert len(np.unique(np.array(vals) // (86400 * 10**9))) > 4096
    f.writer_tz = zone
    for ts_nanos in (False, True):
        got = orcscan._fast_arrow(f, 1, nr, orcscan.orc_arrow(node,
                                                              ts_nanos))
        assert got.equals(_row_reference(f, 1, nr, node, ts_nanos)), \
            ts_nanos
    far = str(tmp_path / "far.orc")
    orcwriter.write_orc(pa.table({"t": pa.array(
        [dt.datetime(2000, 1, 1), dt.datetime(2300, 1, 1)],
        pa.timestamp("us"))}), far, codec="zlib")
    g = ORCFile(far)
    gn = g._load_stripe_directory(0)
    g.writer_tz = zone
    want = _row_reference(g, 1, gn, node)
    assert want.to_pylist()[1].year == 2300
    assert orcscan._fast_arrow(g, 1, gn, want.type).equals(want)
    with pytest.raises((OverflowError, ValueError)):
        _row_reference(g, 1, gn, node, True)
    with pytest.raises((OverflowError, ValueError)):
        orcscan._fast_arrow(g, 1, gn, pa.int64())


def _planted_row_free_orc(path):
    """Uncompressed .orc over the trees the row reader used to catch:
    list<struct>, map, struct<list>, a union, decimal(38,10) past
    int64, timestamps, and direct and dictionary strings.  Its stripe
    footers then name the writer zone ``CET`` (a DST zone) and one
    byte of each string column becomes 0xff (row 7 of ``doc_id``, key
    "wiki" of ``source``)."""
    import datetime as dt
    from decimal import Decimal
    n = 3000
    rng = np.random.default_rng(13)
    u = pa.UnionArray.from_dense(
        pa.array([i % 2 for i in range(n)], pa.int8()),
        pa.array([i // 2 for i in range(n)], pa.int32()),
        [pa.array([None if i % 5 == 0 else i * 10
                   for i in range(n // 2)], pa.int64()),
         pa.array([f"u{i}" for i in range(n // 2)])])
    tbl = pa.table({
        "id": pa.array(np.arange(n)),
        "lst": pa.array(
            [None if i % 7 == 0 else
             [{"x": int(i + j), "y": f"s{j}"} for j in range(i % 4)]
             for i in range(n)],
            pa.list_(pa.struct([("x", pa.int32()), ("y", pa.utf8())]))),
        "mp": pa.array([{f"k{i % 5}": float(i)} if i % 3 else None
                        for i in range(n)],
                       pa.map_(pa.utf8(), pa.float64())),
        "st": pa.array([{"a": i, "b": [f"w{i % 9}"] * (i % 3)}
                        if i % 4 else None for i in range(n)],
                       pa.struct([("a", pa.int64()),
                                  ("b", pa.list_(pa.utf8()))])),
        "u": u,
        "dec": pa.array([None if i % 6 == 0 else
                         Decimal(int(m)).scaleb(-10) * 10**9
                         for i, m in enumerate(
                             rng.integers(-2**62, 2**62, n))],
                        pa.decimal128(38, 10)),
        "t": pa.array([None if i % 8 == 0 else
                       dt.datetime(1930, 1, 1) + dt.timedelta(
                           seconds=int(s), microseconds=int(s) % 10**6)
                       for i, s in enumerate(
                           rng.integers(0, 150 * 365 * 86400, n))],
                      pa.timestamp("us")),
        "doc_id": [f"doc-{i:04d}" for i in range(n)],
        "source": [["cc", "wiki", "books"][i % 3] for i in range(n)],
    })
    orcwriter.write_orc(tbl, path, codec="none")
    with open(path, "rb") as fh:
        data = bytes(fh.read())
    zone = b"\x1a\x03UTC"        # stripe footer field 3, writerTimezone
    assert data.count(zone) == 1
    data = bytearray(data.replace(zone, b"\x1a\x03CET"))
    for blob, planted in ((b"doc-0006doc-0007", b"doc-0006doc-000\xff"),
                          (b"booksccwiki", b"booksccwik\xff")):
        at = data.find(blob)
        assert at > 0 and data.find(blob, at + 1) < 0
        data[at:at + len(blob)] = planted
    with open(path, "wb") as fh:
        fh.write(bytes(data))


def test_column_reader_never_takes_row_path(spark, tmp_path, monkeypatch):
    """With the row reader disabled (``read_path`` and
    ``_read_column`` raise, in the driver and in the Python workers),
    a stripe decode and ``orc_scan`` still read nested, union,
    decimal(38), zoned-timestamp and bad-UTF-8 columns, equal to the
    row reader's values, and a predicated ``orc_count`` whose
    boundary stripe decodes a bad-UTF-8, a decimal(38) and a nested
    column counts what the row reader's values say."""
    from decimal import Decimal

    import pyspark.cloudpickle as cloudpickle

    from orc_spark import orctypes
    from orc_spark.sources import orcfile, orcstats
    d = tmp_path / "lake"
    d.mkdir()
    path = str(d / "a.orc")
    _planted_row_free_orc(path)
    root = orctypes.type_from_file(path)
    ref_f = ORCFile(path)
    nr = ref_f._load_stripe_directory(0)
    assert ref_f.writer_tz == "CET"
    cids = dict(zip(ref_f.types[0].field_names, ref_f.types[0].children))
    ref = {ts_nanos: {fn: _row_reference(ref_f, cids[fn], nr, node,
                                         ts_nanos)
                      for fn, node in zip(root.field_names,
                                          root.children)}
           for ts_nanos in (False, True)}
    assert ref[False]["doc_id"][7].as_py() == "doc-000\ufffd"
    assert ref[False]["source"][1].as_py() == "wik\ufffd"
    src = ref[False]["source"].to_pylist()
    preds = [("source", "in", ["cc", "wik\ufffd"]),
             ("dec", ">", Decimal(0)), ("st.a", ">=", 100)]
    keep = [s in ("cc", "wik\ufffd") and dv is not None and dv > 0 and
            st is not None and st["a"] >= 100
            for s, dv, st in zip(src, ref[False]["dec"].to_pylist(),
                                 ref[False]["st"].to_pylist())]
    scans = {ts_nanos: orcscan.orc_scan(spark, str(d),
                                        timestamp_nanos=ts_nanos)
             .collect() for ts_nanos in (False, True)}

    def no_rows(*a, **k):
        raise AssertionError("row reader used")

    monkeypatch.setattr(ORCFile, "read_path", no_rows)
    monkeypatch.setattr(ORCFile, "_read_column", no_rows)
    for ts_nanos in (False, True):
        batch = orcscan._ScanContext(root, [], ts_nanos).decode_stripe(
            ORCFile(path), 0)
        for fn in root.field_names:
            assert batch.column(fn).equals(ref[ts_nanos][fn]), \
                (fn, ts_nanos)
    assert orcstats.orc_count(spark, str(d), preds) == sum(keep) > 0
    # the scan decodes in Python workers: ship the patched ORCFile
    # class to them by value
    cloudpickle.register_pickle_by_value(orcfile)
    try:
        for ts_nanos in (False, True):
            got = orcscan.orc_scan(spark, str(d),
                                   timestamp_nanos=ts_nanos).collect()
            assert got == scans[ts_nanos]
        # the patch does reach the workers
        monkeypatch.setattr(ORCFile, "_present", no_rows)
        with pytest.raises(Exception, match="row reader used"):
            orcscan.orc_scan(spark, str(d)).collect()
    finally:
        cloudpickle.unregister_pickle_by_value(orcfile)
