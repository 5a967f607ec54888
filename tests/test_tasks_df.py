"""Driver-planned task lists (``orcscan.tasks_df``): an Arrow table
enters Spark as a LocalTableScan with no Python pass, and every
planning site gets exactly the partition count it asks for — on both
sides of ``defaultParallelism``, where the helper either keeps the
scan's own slices or repartitions.  Collect-style jobs over such a
list run through ``orcscan.run_tasks``."""

import glob
import os
import uuid
from datetime import date
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from orc_spark.sources import orcmerge, orcscan, orcstats, orctable
from orc_spark.sources import orcwriter
from orc_spark.sources.orcfile import ORCFile


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _orc_dir(d: str, n_files: int, rows: int = 100,
             stripe_rows: int = 50) -> str:
    """``n_files`` files of ``rows`` consecutive ints each."""
    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        w = orcwriter.ORCFileWriter(os.path.join(d, f"p{i:02d}.orc"),
                                    codec="zlib", stripe_rows=stripe_rows)
        w.write_batch(pa.RecordBatch.from_arrays(
            [pa.array(np.arange(i * rows, (i + 1) * rows,
                                dtype=np.int64))], names=["v"]))
        w.close()
    return d


def test_tasks_df_partition_count(spark):
    """The wanted count on both sides of defaultParallelism, every row
    exactly once, and the scan's own slices contiguous.  A Spark
    upgrade that changes LocalTableScan's parallelism rule fails here
    instead of silently drifting every task count."""
    dp = spark.sparkContext.defaultParallelism
    for n_rows, n_parts in [(1, 1), (dp, dp), (10 * dp, dp),
                            (10 * dp, 10 * dp), (10 * dp, 2)]:
        df = orcscan.tasks_df(
            spark, {"i": pa.array(range(n_rows), pa.int32())}, n_parts)
        assert df.rdd.getNumPartitions() == n_parts, (n_rows, n_parts)
        parts = df.rdd.glom().map(lambda rs: [r.i for r in rs]).collect()
        assert sorted(i for p in parts for i in p) == list(range(n_rows))
        if n_parts == min(n_rows, dp):
            assert "Exchange" not in _plan(df)
            assert [i for p in parts for i in p] == list(range(n_rows))
    df = orcscan.tasks_df(
        spark, {"gid": pa.array([0, 1], pa.int32()),
                "files": pa.array([["a", "b"], ["c"]],
                                  pa.list_(pa.string()))}, 2)
    assert df.schema.simpleString() == \
        "struct<gid:int,files:array<string>>"
    assert [tuple(r) for r in df.orderBy("gid").collect()] == \
        [(0, ["a", "b"]), (1, ["c"])]


def test_orc_scan_tasks_enter_as_local_table_scan(spark, tmp_path):
    """The driver-planned (file, stripe) list feeds the decode kernel
    straight from a LocalTableScan: no Exchange, no ExistingRDD (the
    Python-list path's parallelize + identity map), one task per
    stripe up to defaultParallelism."""
    dp = spark.sparkContext.defaultParallelism
    d = _orc_dir(str(tmp_path / "d"), n_files=2, stripe_rows=50)
    df = orcscan.orc_scan(spark, d)
    plan = _plan(df)
    lines = plan.splitlines()
    assert lines[0].startswith("MapInArrow"), plan
    assert "LocalTableScan" in lines[1], plan
    assert "Exchange" not in plan and "ExistingRDD" not in plan, plan
    # 4 stripes of 50 rows: n_parts = min(tasks, max(1, dp))
    assert df.rdd.getNumPartitions() == min(4, dp)
    assert sorted(r["v"] for r in df.collect()) == list(range(200))


def test_orc_scan_more_tasks_than_parallelism(spark, tmp_path,
                                              monkeypatch):
    """When the row target asks for more tasks than
    defaultParallelism, the task list repartitions to exactly that
    count and every stripe is still read once."""
    dp = spark.sparkContext.defaultParallelism
    n_files = dp + 2
    d = _orc_dir(str(tmp_path / "d"), n_files=n_files, stripe_rows=50)
    monkeypatch.setattr(orcscan, "_TARGET_ROWS_PER_TASK", 50)
    df = orcscan.orc_scan(spark, d)
    want = 2 * n_files    # one task per 50-row stripe
    assert want > dp
    assert df.rdd.getNumPartitions() == want
    assert sorted(r["v"] for r in df.collect()) == \
        list(range(100 * n_files))


def test_file_tasks_above_parallelism(spark, tmp_path, monkeypatch):
    """orc_scan_errors, distributed footer stats and COUNT, and
    orc_merge over more files than defaultParallelism (the helper's
    repartition branch), and over fewer (its LocalTableScan slices)."""
    dp = spark.sparkContext.defaultParallelism
    n_files = dp + 2
    d = _orc_dir(str(tmp_path / "d"), n_files=n_files)
    n = 100 * n_files
    monkeypatch.setattr(orcscan, "DRIVER_FOOTER_MAX_FILES", 1)
    agg = orcstats.footer_aggregate(spark, d, ["v"])
    assert agg["rows"] == n
    assert agg["cols"]["v"]["sum"] == n * (n - 1) // 2
    assert orcstats.orc_count(spark, d, ("v", ">=", 130)) == n - 130
    small = _orc_dir(str(tmp_path / "small"), n_files=2)
    assert orcstats.orc_count(spark, small, ("v", "<", 130)) == 130
    out = str(tmp_path / "merged")
    assert orcmerge.merge_orc_dir(spark, d, out, target_bytes=1) == \
        n_files
    assert sorted(r["v"] for r in orcscan.orc_scan(spark, out)
                  .collect()) == list(range(n))
    # plant a corrupt stripe in the LAST file: the audit covers every
    # file of the list, not only the first defaultParallelism
    bad = sorted(glob.glob(d + "/*.orc"))[-1]
    st = ORCFile(bad).stripes[1]
    off = st[1][0] + st[2][0]                  # stripe 1's data
    raw = bytearray(open(bad, "rb").read())
    raw[off:off + st[3][0]] = bytes(st[3][0])  # empty zlib chunks
    open(bad, "wb").write(bytes(raw))
    errs = orcscan.orc_scan_errors(spark, d).collect()
    assert [(r["path"], r["stripe"]) for r in errs] == [(bad, 1)]


def _df(spark, lo, hi):
    return spark.range(lo, hi, 1, 1).selectExpr(
        "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag")


def test_table_file_ops_above_parallelism(spark, tmp_path, monkeypatch):
    """Every per-file table operation over more candidate files than
    defaultParallelism: distributed classification and rewrite for
    DELETE and UPDATE, the broadcast MERGE rewrite, the predicated
    table COUNT, and migration.  One row per file is hit, so each
    task list has one row per file."""
    dp = spark.sparkContext.defaultParallelism
    n_files, per = dp + 2, 100
    monkeypatch.setattr(orcscan, "DRIVER_FOOTER_MAX_FILES", 0)
    t = str(tmp_path / "t")
    orctable.create_table(t, "struct<v:int,tag:string>")
    for i in range(n_files):
        orctable.write_table(_df(spark, i * per, (i + 1) * per), t)
    n = n_files * per

    def hit(k):   # one value per file
        return [i * per + k for i in range(n_files)]

    assert orctable.table_count(spark, t, ("v", ">=", 50)) == n - 50
    assert orctable.table_count(spark, t, ("v", "<", 150)) == 150
    snap = orctable.delete_from(spark, t, ("v", "in", hit(7)))
    assert snap["summary"]["deleted_rows"] == n_files
    assert snap["summary"]["rewritten_files"] == n_files
    snap = orctable.update_table(spark, t, set={"tag": "hot"},
                                 predicate=("v", "in", hit(8)))
    assert snap["summary"]["updated_rows"] == n_files
    snap = orctable.update_table(spark, t, set={"tag": "one"},
                                 predicate=("v", "==", 3))
    assert snap["summary"]["updated_rows"] == 1   # one-file task list
    src = spark.createDataFrame([(v, "m") for v in hit(9)],
                                "v int, tag string")
    snap = orctable.merge_table(spark, t, src, on="v")
    assert snap["summary"]["plan"] == "broadcast"
    assert snap["summary"]["matched_rows"] == n_files
    orctable.rename_column(t, "tag", "label")
    live = len(orctable.manifest_entries(t, orctable.load_snapshot(t)))
    assert live > dp
    snap = orctable.rewrite_migrate(spark, t)
    assert snap["summary"]["migrated_files"] == live
    want = {v: "hot" if v % per == 8 else "m" if v % per == 9
            else str(v) for v in range(n) if v % per != 7}
    want[3] = "one"
    got = {r["v"]: r["label"]
           for r in orctable.read_table(spark, t).collect()}
    assert got == want
    assert orctable.table_count(spark, t, ("v", ">=", 0)) == len(want)


def test_run_tasks_results_in_task_order(spark):
    """Results come back in task order when the task list keeps the
    scan's own slices (fewer tasks than defaultParallelism) and when
    it is round-robin repartitioned (more), and ``fn`` runs in Spark's
    Python workers, not on the driver."""
    dp = spark.sparkContext.defaultParallelism
    for n in sorted({1, max(1, dp - 1), dp + 3, 5 * dp + 1}):
        got = orcscan.run_tasks(spark, list(range(n)),
                                lambda t: (t, t * t, os.getpid()))
        assert [(t, sq) for t, sq, _ in got] == \
            [(t, t * t) for t in range(n)], n
        assert os.getpid() not in {pid for _, _, pid in got}
    assert orcscan.run_tasks(spark, [], lambda t: t) == []


def test_run_tasks_round_trips_python_objects(spark):
    """Tasks and results are pickled, not stringified: Decimal (with
    its exponent), date, bytes, None and nested containers keep their
    types both ways."""
    tasks = [Decimal("1.10"), date(1969, 12, 31), b"\x00\xff", None,
             {"a": {"b": [Decimal("-3E+2"), date(2024, 2, 29)]},
              "k": (1, "x"), 7: {8, 9}}]
    got = orcscan.run_tasks(spark, tasks,
                            lambda t: {"in": t, "nested": [t, (t,)]})
    assert got == [{"in": t, "nested": [t, (t,)]} for t in tasks]
    assert str(got[0]["in"]) == "1.10"
    assert type(got[1]["nested"][1][0]) is date
    assert got[4]["in"]["k"] == (1, "x") and 7 in got[4]["in"]


def test_run_tasks_fn_error_fails_the_call(spark):
    """An exception raised by ``fn`` fails the job; the caller never
    gets a short result list."""
    def fn(t):
        if t == 3:
            raise ValueError(f"planted failure on task {t}")
        return t

    with pytest.raises(Exception, match="planted failure on task 3"):
        orcscan.run_tasks(spark, list(range(6)), fn)


def _typed_dir(d: str, n_files: int) -> str:
    """``n_files`` files of 100 rows each: consecutive longs, a
    decimal and a string, so footer statistics carry int, Decimal and
    str values."""
    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        v = np.arange(i * 100, (i + 1) * 100, dtype=np.int64)
        w = orcwriter.ORCFileWriter(os.path.join(d, f"p{i:02d}.orc"),
                                    codec="zlib", stripe_rows=50)
        w.write_batch(pa.RecordBatch.from_arrays(
            [pa.array(v),
             pa.array([Decimal(int(x)).scaleb(-2) for x in v],
                      pa.decimal128(12, 2)),
             pa.array([f"s{x:05d}" for x in v])],
            names=["v", "dec", "s"]))
        w.close()
    return d


def _spark_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"run-tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_only_jobs_driver_equals_distributed(spark, tmp_path,
                                                    monkeypatch):
    """Stats, COUNT and classify give the same answer on the driver
    (at most DRIVER_FOOTER_MAX_FILES files, no Spark job) and in
    Spark tasks (above it)."""
    dp = spark.sparkContext.defaultParallelism
    d = _typed_dir(str(tmp_path / "d"), n_files=dp + 2)
    paths = sorted(glob.glob(d + "/*.orc"))
    preds = [("v", ">=", 150)]

    def jobs():
        return (orcstats.footer_aggregate(spark, d, ["v", "dec", "s"]),
                orcstats.orc_count(spark, d, preds),
                orctable._classify(spark, paths, preds))

    driver, n_driver = _spark_jobs(spark, jobs)
    monkeypatch.setattr(orcscan, "DRIVER_FOOTER_MAX_FILES", 0)
    spread, n_spread = _spark_jobs(spark, jobs)
    assert n_driver == 0 and n_spread >= 3    # one or more per call
    assert spread == driver
    agg, count, classes = driver
    assert count == 100 * (dp + 2) - 150
    assert classes == ["keep", "rewrite"] + ["drop"] * dp
    assert agg["cols"]["dec"]["max"] == \
        Decimal(100 * (dp + 2) - 1).scaleb(-2)
    assert agg["cols"]["s"]["min"] == "s00000"


def test_footer_only_run_tasks_is_one_job(spark, monkeypatch):
    """Footer-only tasks above DRIVER_FOOTER_MAX_FILES keep the task
    table's own defaultParallelism slices: one Spark job, no
    round-robin shuffle before the kernel."""
    monkeypatch.setattr(orcscan, "DRIVER_FOOTER_MAX_FILES", 0)
    got, n_jobs = _spark_jobs(spark, lambda: orcscan.run_tasks(
        spark, list(range(40)), lambda t: (t, os.getpid()),
        footer_only=True))
    assert [t for t, _ in got] == list(range(40))
    assert os.getpid() not in {pid for _, pid in got}
    assert n_jobs == 1


def test_no_map_in_pandas_in_sources():
    """Driver-planned jobs run through ``orcscan.run_tasks``
    (mapInArrow); no hand-written pandas kernel is left in
    ``orc_spark/sources``."""
    root = os.path.dirname(orcscan.__file__)
    hits = [f"{os.path.relpath(p, root)}:{i}"
            for p in glob.glob(os.path.join(root, "**", "*.py"),
                               recursive=True)
            for i, line in enumerate(open(p), 1)
            if ".mapInPandas(" in line]
    assert hits == []
