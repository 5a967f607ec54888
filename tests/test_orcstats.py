"""Footer-statistics aggregate pushdown (sources/orcstats.py)."""

import numpy as np
import pyarrow as pa
import pytest

from orc_spark.sources import orcscan, orcstats, orcwriter

EX = "/root/reference/examples"


def _write_dir(tmp_path, n_files=3, rows=2000):
    d = tmp_path / "ds"
    d.mkdir()
    for i in range(n_files):
        lo = i * rows
        batch = pa.RecordBatch.from_arrays(
            [pa.array(np.arange(lo, lo + rows, dtype=np.int64)),
             pa.array([f"k{j % 50:03d}" for j in range(rows)])],
            names=["v", "tag"])
        w = orcwriter.ORCFileWriter(str(d / f"p{i}.orc"),
                                    codec="zlib", stripe_rows=500)
        w.write_batch(batch)
        w.close()
    return str(d)


def test_stats_agg_exact_without_data_reads(spark, tmp_path, monkeypatch):
    d = _write_dir(tmp_path)
    n = 3 * 2000
    agg = orcstats.footer_aggregate(spark, d, ["v", "tag"])
    assert agg["rows"] == n
    assert agg["cols"]["v"] == {
        "n": n, "has_null": False, "min": 0, "max": n - 1,
        "sum": n * (n - 1) // 2}
    assert agg["cols"]["tag"]["min"] == "k000"
    assert agg["cols"]["tag"]["max"] == "k049"
    assert orcstats.orc_count(spark, d) == n
    # NO data stream is decompressed: poison the stripe loader
    from orc_spark.sources.orcfile import ORCFile
    def boom(*a, **k):
        raise AssertionError("footer aggregate read a stripe!")
    monkeypatch.setattr(ORCFile, "_load_stripe_directory", boom)
    assert orcstats.orc_count(spark, d) == n
    assert orcstats.footer_aggregate(spark, d, ["v"])["rows"] == n


def test_stats_agg_decimal_exact(spark, tmp_path):
    """r5 (ADVICE): decimal file stats merge numerically across files
    — min/max in Decimal order (not '10.20' < '9.50' lexicographic)
    and sum as an exact wide-context Decimal add (never the string
    concatenation '47.0052.00')."""
    from decimal import Decimal
    d = tmp_path / "decs"
    d.mkdir()
    groups = [[Decimal("9.50"), Decimal("37.50")],   # sum 47.00
              [Decimal("10.20"), Decimal("41.80")]]  # sum 52.00
    for i, vals in enumerate(groups):
        w = orcwriter.ORCFileWriter(str(d / f"p{i}.orc"), codec="zlib")
        w.write_batch(pa.RecordBatch.from_arrays(
            [pa.array(vals, pa.decimal128(38, 2))], names=["dec"]))
        w.close()
    agg = orcstats.footer_aggregate(spark, str(d), ["dec"])
    a = agg["cols"]["dec"]
    assert a["min"] == Decimal("9.50")
    assert a["max"] == Decimal("41.80")
    assert a["sum"] == Decimal("99.00")
    # the DataFrame surface renders them as plain decimal strings
    [row] = orcstats.stats_agg(spark, str(d), ["dec"]).collect()
    assert row["min"] == "9.50" and row["sum"] == "99.00"


def test_stats_agg_decimal_wide_sum_no_rounding(spark, tmp_path):
    """>28-significant-digit decimal sums must NOT round through the
    default Decimal context during the merge."""
    from decimal import Decimal
    d = tmp_path / "wide"
    d.mkdir()
    big = Decimal("123456789012345678901234567890.12345678")
    for i in range(2):
        w = orcwriter.ORCFileWriter(str(d / f"p{i}.orc"), codec="zlib")
        w.write_batch(pa.RecordBatch.from_arrays(
            [pa.array([big], pa.decimal128(38, 8))], names=["dec"]))
        w.close()
    agg = orcstats.footer_aggregate(spark, str(d), ["dec"])
    assert agg["cols"]["dec"]["sum"] == \
        Decimal("246913578024691357802469135780.24691356")


def test_stats_agg_distributed_path_matches_driver(spark, tmp_path,
                                                   monkeypatch):
    d = _write_dir(tmp_path)
    a = orcstats.footer_aggregate(spark, d, ["v"])
    monkeypatch.setattr(orcscan, "DRIVER_FOOTER_MAX_FILES", 1)
    b = orcstats.footer_aggregate(spark, d, ["v"])
    assert a == b


def test_stats_agg_dataframe_surface(spark, tmp_path):
    d = _write_dir(tmp_path)
    rows = {r["column"]: r for r in
            orcstats.stats_agg(spark, d, ["v", "tag"]).collect()}
    assert rows["v"]["n_rows"] == 6000
    assert rows["v"]["min"] == "0" and rows["v"]["sum"] == \
        str(6000 * 5999 // 2)
    assert rows["tag"]["max"] == "k049"


def test_stats_agg_fails_loudly_on_missing_stats(spark, tmp_path):
    """A column whose stats a file lacks (double sum is never
    recorded by ORC stats; struct columns record nothing) raises
    instead of silently skipping files."""
    d = _write_dir(tmp_path, n_files=1)
    with pytest.raises(ValueError, match="no column"):
        orcstats.footer_aggregate(spark, d, ["nope"])
    # golden Java file: demo-11 carries full int stats -> works
    agg = orcstats.footer_aggregate(
        spark, f"{EX}/demo-11-zlib.orc", ["_col0"])
    assert agg["rows"] == 1920800
    assert agg["cols"]["_col0"]["min"] == 1
    assert agg["cols"]["_col0"]["max"] == 1920800
    assert agg["cols"]["_col0"]["sum"] == 1844737280400


def test_orc_count_hybrid_predicate(spark, tmp_path, monkeypatch):
    """Predicate counts are exact, and only BOUNDARY stripes decode:
    on a sorted column, fully-matching and non-matching stripes are
    classified from statistics alone."""
    d = _write_dir(tmp_path, n_files=2, rows=2000)  # v: 0..3999 sorted
    # v >= 1500: spans both files; exact count
    assert orcstats.orc_count(spark, d, ("v", ">=", 1500)) == 2500
    # SQL string + conjunction grammar
    assert orcstats.orc_count(spark, d,
                              "v >= 500 AND v < 3500") == 3000
    assert orcstats.orc_count(
        spark, d, ("tag", "==", "k007")) == 4000 // 50
    # decode accounting: with 500-row stripes (4/file), v >= 1500
    # fully matches stripes >= 1500 and only the 1000-1499 stripe is
    # a boundary... all stripe bounds align at 500s so NO stripe is
    # partial for a 1500 cut; use 1750 to force exactly one boundary
    # stripe per matching file
    from orc_spark.sources.orcfile import ORCFile
    loads = []
    orig = ORCFile._load_stripe_directory

    def counting(self, si):
        loads.append(si)
        return orig(self, si)

    monkeypatch.setattr(ORCFile, "_load_stripe_directory", counting)
    assert orcstats.orc_count(spark, d, ("v", ">=", 1750)) == 2250
    # only ONE stripe (1500-1999 in file 0) needed decoding
    assert len(loads) == 1, loads


def test_orc_count_nulls_never_match(spark, tmp_path):
    """Rows with NULL in the predicate column do not count, and a
    stripe containing nulls is never fully-counted from stats."""
    import pyarrow as pa
    import numpy as np
    d = tmp_path / "nulls"
    d.mkdir()
    vals = pa.array([None if i % 5 == 0 else i for i in range(1000)],
                    pa.int64())
    w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib",
                                stripe_rows=250)
    w.write_batch(pa.RecordBatch.from_arrays([vals], names=["v"]))
    w.close()
    got = orcstats.orc_count(spark, str(d), ("v", ">=", 0))
    assert got == sum(1 for i in range(1000) if i % 5 != 0)


def test_orc_count_float_literal_on_int_column_exact(spark, tmp_path):
    """r4 review regression: pa.scalar(1.5, int64) silently truncated
    to 1, so boundary stripes counted v=1 while stats-classified
    stripes didn't.  Float literals rewrite to exact integer
    predicates before BOTH paths."""
    import pyarrow as pa
    import numpy as np
    d = tmp_path / "f"
    d.mkdir()
    w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib",
                                stripe_rows=5)
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(10, dtype=np.int64))], names=["v"]))
    w.close()
    assert orcstats.orc_count(spark, str(d), ("v", ">=", 1.5)) == 8
    assert orcstats.orc_count(spark, str(d), ("v", ">", 1.5)) == 8
    assert orcstats.orc_count(spark, str(d), ("v", "<=", 1.5)) == 2
    assert orcstats.orc_count(spark, str(d), ("v", "<", 1.5)) == 2
    assert orcstats.orc_count(spark, str(d), ("v", "==", 1.5)) == 0
    assert orcstats.orc_count(spark, str(d), ("v", "==", 2.0)) == 1
    assert orcstats.orc_count(spark, str(d),
                              ("v", "between", (1.5, 7.5))) == 6
    # floats against a float column stay untouched
    w = orcwriter.ORCFileWriter(str(d / "b.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(10, dtype=np.int64))], names=["v"]))
    w.close()


def test_stats_agg_dotted_nested_leaf(spark, tmp_path):
    """r5: footer-only aggregates reach struct leaves through dotted
    paths — file ColumnStatistics exist for every column id, so
    min/max/sum of rec.x come from tails without any decode."""
    import pyarrow as pa
    d = tmp_path / "nst"
    d.mkdir()
    n = 3000
    recs = pa.array(
        [{"x": i, "y": f"y{i % 7}"} for i in range(n)],
        pa.struct([("x", pa.int64()), ("y", pa.string())]))
    w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [recs, pa.array(np.arange(n, dtype=np.int64))],
        names=["rec", "plain"]))
    w.close()
    agg = orcstats.footer_aggregate(spark, str(d), ["rec.x", "plain"])
    a = agg["cols"]["rec.x"]
    assert a["min"] == 0 and a["max"] == n - 1
    assert a["sum"] == n * (n - 1) // 2
    [row] = orcstats.stats_agg(spark, str(d), ["rec.y"]).collect()
    assert row["min"] == "y0" and row["max"] == "y6"
