"""Zero-recode .orc merging (sources/orcmerge.py)."""

import glob

import numpy as np
import pyarrow as pa
import pytest

from orc_spark.sources import orcmerge, orcstats, orcwriter
from orc_spark.sources.orcfile import ORCFile
from orc_spark.sources.orcscan import orc_scan


def test_merge_preserves_everything(spark, tmp_path):
    """Byte-copy merge: identical values, identical footer stats,
    stripe count = sum, JVM-readable, pruning still effective."""
    d = str(tmp_path / "small")
    df = spark.range(20000).selectExpr(
        "id AS v", "CAST(id % 11 AS STRING) AS tag")
    orcwriter.dataframe_to_orc_dir(df.repartition(6), d, codec="zlib")
    n_in_stripes = sum(len(ORCFile(p).stripes)
                       for p in glob.glob(d + "/*.orc"))
    before = orcstats.footer_aggregate(spark, d, ["v", "tag"])
    out = str(tmp_path / "merged")
    assert orcmerge.merge_orc_dir(spark, d, out,
                                  target_bytes=10**9) == 1
    [m] = glob.glob(out + "/*.orc")
    f = ORCFile(m)
    assert len(f.stripes) == n_in_stripes
    assert len(f.stripe_statistics) == n_in_stripes
    assert orcstats.footer_aggregate(spark, out,
                                     ["v", "tag"]) == before
    assert orc_scan(spark, d).orderBy("v").collect() == \
        orc_scan(spark, out).orderBy("v").collect()
    assert spark.read.orc(out).count() == 20000
    # stripe stats survived: pruning keeps working on the merged file
    from orc_spark.sources.orcscan import plan_tasks
    kept, total = plan_tasks([m], predicate=("v", ">=", 19999))
    assert total == n_in_stripes and len(kept) < total


def test_merge_spark_written_zstd(spark, tmp_path):
    """Foreign (JVM-written, zstd) files merge too: stats re-emission
    from parsed footers survives a JVM read-back."""
    d = str(tmp_path / "jvm")
    spark.range(9000).selectExpr(
        "id AS v", "CAST(id AS DOUBLE)/7 AS x",
        "CAST(id % 5 AS STRING) AS s") \
        .repartition(4).write.mode("overwrite").orc(d)
    assert ORCFile(glob.glob(d + "/*.orc")[0]).compression == "zstd"
    out = str(tmp_path / "m")
    orcmerge.merge_orc_dir(spark, d, out, target_bytes=10**9)
    assert spark.read.orc(out).count() == 9000
    assert orc_scan(spark, out).agg({"v": "sum"}).collect()[0][0] \
        == 9000 * 8999 // 2
    a = orcstats.footer_aggregate(spark, d, ["v", "s"])
    b = orcstats.footer_aggregate(spark, out, ["v", "s"])
    assert a == b


def test_merge_rejects_mismatches(spark, tmp_path):
    d = tmp_path / "mix"
    d.mkdir()
    w = orcwriter.ORCFileWriter(str(d / "a.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(10, dtype=np.int64))], names=["v"]))
    w.close()
    w = orcwriter.ORCFileWriter(str(d / "b.orc"), codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array([1.5])], names=["other"]))
    w.close()
    with pytest.raises(ValueError, match="schema mismatch"):
        orcmerge.merge_orc_files(
            [str(d / "a.orc"), str(d / "b.orc")], str(d / "o.orc"))
    w = orcwriter.ORCFileWriter(str(d / "c.orc"), codec="none")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(np.arange(10, dtype=np.int64))], names=["v"]))
    w.close()
    with pytest.raises(ValueError, match="compression mismatch"):
        orcmerge.merge_orc_files(
            [str(d / "a.orc"), str(d / "c.orc")], str(d / "o.orc"))


def test_merge_sum_overflow_propagates_absence(spark, tmp_path):
    """A file whose int sum Java omitted (overflow) keeps the merged
    sum absent — never a wrong number."""
    stats_a = [{"n": 5, "has_null": False},
               {"n": 5, "has_null": False, "min": 1, "max": 9,
                "sum": 20}]
    stats_b = [{"n": 3, "has_null": False},
               {"n": 3, "has_null": True, "min": -4, "max": 2}]
    merged = [orcwriter._new_stats(k) for k in ("struct", "long")]
    for stats in (stats_a, stats_b):
        for acc, st in zip(merged, stats):
            orcwriter._merge_stats(acc, st)
    assert merged[1]["n"] == 8 and merged[1]["has_null"] is True
    assert merged[1]["min"] == -4 and merged[1]["max"] == 9
    assert "sum" not in merged[1]


def test_merge_fuzz_random_schemas(spark, tmp_path):
    """Seeded fuzz: random (typed, nullable) tables split across 3
    files merge to identical values and identical merged file stats
    versus recomputation — any stripe-copy offset error or stats
    merge bug surfaces immediately."""
    from decimal import Decimal
    rng = np.random.default_rng(21)
    for trial in range(3):
        n = int(rng.integers(60, 400))
        null = lambda v: None if rng.random() < 0.15 else v  # noqa
        tbl = pa.table({
            "i": pa.array([null(int(rng.integers(-10**9, 10**9)))
                           for _ in range(n)], pa.int64()),
            "s": pa.array([null(f"s{int(rng.integers(0, 40)):03d}")
                           for _ in range(n)], pa.string()),
            "d": pa.array([null(float(rng.normal()))
                           for _ in range(n)], pa.float64()),
            "b": pa.array([null(bool(rng.random() < .5))
                           for _ in range(n)], pa.bool_()),
            "dec": pa.array([null(Decimal(int(rng.integers(
                -10**10, 10**10))) / 100) for _ in range(n)],
                pa.decimal128(18, 2)),
        })
        d = tmp_path / f"fz{trial}"
        d.mkdir()
        cuts = sorted(rng.integers(1, n - 1, 2).tolist())
        parts = [tbl.slice(0, cuts[0]),
                 tbl.slice(cuts[0], cuts[1] - cuts[0]),
                 tbl.slice(cuts[1])]
        for i, part in enumerate(parts):
            w = orcwriter.ORCFileWriter(str(d / f"p{i}.orc"),
                                        codec="zlib",
                                        stripe_rows=max(16, n // 5))
            for b in part.to_batches():
                w.write_batch(b)
            w.close()
        out = str(d / "merged.orc")
        import shutil
        pdir = d / "parts"
        pdir.mkdir()
        for i in range(3):
            shutil.copy(str(d / f"p{i}.orc"), str(pdir / f"p{i}.orc"))
        res = orcmerge.merge_orc_files(
            [str(d / f"p{i}.orc") for i in range(3)], out)
        assert res["n_rows"] == n

        # multiset compare (no total order over random rows)
        def key(r):
            import json
            return json.dumps({k: str(v) for k, v in
                               r.asDict().items()}, sort_keys=True)

        got = sorted(key(r) for r in orc_scan(spark, out).collect())
        want = sorted(key(r) for r in
                      orc_scan(spark, str(pdir)).collect())
        assert got == want, trial
        # merged file-level stats equal a recompute over all parts —
        # incl. decimal (r5: min/max/sum merge as Decimal, never
        # lexicographic strings)
        from orc_spark.sources import orcstats
        a = orcstats.footer_aggregate(spark, str(pdir),
                                      ["i", "s", "dec"])
        b2 = orcstats.footer_aggregate(spark, out, ["i", "s", "dec"])
        assert a == b2, trial


def test_merge_decimal_stats_numeric_not_lexicographic(spark,
                                                       tmp_path):
    """r5 regression (ADVICE): merging files whose decimal mins are
    '9.50' and '10.20' must record min=9.50 / max per NUMERIC order
    (the string order says otherwise), and the merged sum must be the
    exact Decimal sum, not a concatenation."""
    from decimal import Decimal
    d = tmp_path / "dec"
    d.mkdir()
    groups = [[Decimal("9.50"), Decimal("9.90")],
              [Decimal("10.20"), Decimal("11.00")]]
    for i, vals in enumerate(groups):
        w = orcwriter.ORCFileWriter(str(d / f"p{i}.orc"), codec="zlib")
        w.write_batch(pa.RecordBatch.from_arrays(
            [pa.array(vals, pa.decimal128(18, 2))], names=["dec"]))
        w.close()
    out = str(d / "m.orc")
    orcmerge.merge_orc_files(
        [str(d / "p0.orc"), str(d / "p1.orc")], out)
    st = ORCFile(out).file_statistics[1]
    assert st["min"] == Decimal("9.50")
    assert st["max"] == Decimal("11.00")
    assert st["sum"] == Decimal("40.60")
    # and the consuming half agrees (footer_aggregate sum is an exact
    # Decimal add, not '19.40' + '21.20' string concat)
    agg = orcstats.footer_aggregate(spark, out, ["dec"])
    assert agg["cols"]["dec"]["sum"] == Decimal("40.60")
    assert agg["cols"]["dec"]["min"] == Decimal("9.50")


def test_merge_lzo_inputs_reframe(spark, tmp_path):
    """r5: lzo gained an encoder late in the round, so the golden lzo
    file MERGES now (the tail re-frames through codecs/lzo_pure
    compress) — previously this was the one rejected decode-only
    codec.  The merged file scans identically to a double read of the
    input."""
    lzo = "/root/reference/examples/TestVectorOrcFile.testLzo.orc"
    out = str(tmp_path / "o.orc")
    res = orcmerge.merge_orc_files([lzo, lzo], out)
    assert ORCFile(out).compression == "lzo"
    a = orc_scan(spark, lzo).agg({"x": "sum"}).collect()[0][0]
    b = orc_scan(spark, out).agg({"x": "sum"}).collect()[0][0]
    assert b == 2 * a and res["n_rows"] == 2 * ORCFile(lzo).n_rows


def test_merge_snappy_inputs_reframe(spark, tmp_path):
    """r5: snappy files MERGE now (the tail re-frames through the new
    snappy encoder); the merged file scans identically to the input
    and stays JVM-readable."""
    src = "/root/reference/examples/TestOrcFile.testSnappy.orc"
    out = str(tmp_path / "m.orc")
    res = orcmerge.merge_orc_files([src, src], out)
    assert res["n_rows"] == 20000
    assert ORCFile(out).compression == "snappy"
    assert spark.read.orc(out).count() == 20000  # JVM reads the tail
    a = orc_scan(spark, src).agg({"int1": "sum"}).collect()[0][0]
    b = orc_scan(spark, out).agg({"int1": "sum"}).collect()[0][0]
    assert b == 2 * a
