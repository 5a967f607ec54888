"""Row-level deletes, rollback, retention and manifest counts on
snapshot-managed tables (sources/orctable.py r5 lifecycle work).

Delete semantics under test: SQL DELETE WHERE p removes rows where p
is TRUE (NULL-predicate rows survive); statistics make partition-
aligned deletes metadata-only (monkeypatch-counted); old snapshots
still read every pre-delete row until expire_snapshots reclaims
them."""

import os
import time

import pytest

from orc_spark.sources import orctable
from orc_spark.sources.orcfile import ORCFile


def _df(spark, lo, hi, parts=2):
    return spark.range(lo, hi, 1, parts) \
        .selectExpr("CAST(id AS INT) AS v",
                    "CAST(id AS STRING) AS tag")


def _sorted_table(spark, tmp_path, name="t", n=3000, files=3):
    """Range-partitioned-by-v layout: each file covers a disjoint v
    range, so range deletes align with file boundaries."""
    t = str(tmp_path / name)
    orctable.create_table(t, "struct<v:int,tag:string>")
    per = n // files
    for i in range(files):
        orctable.write_table(_df(spark, i * per, (i + 1) * per,
                                 parts=1), t)
    return t, per


def test_delete_rows_and_time_travel(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    pre = orctable.load_snapshot(t)
    snap = orctable.delete_from(spark, t, ("v", "between", (50, 149)))
    assert snap["operation"] == "delete"
    assert snap["summary"]["deleted_rows"] == 100
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(0, 50)) + list(range(150, 300))
    # time travel: the pre-delete snapshot still reads every row
    old = orctable.read_table(spark, t, snapshot=pre["version"])
    assert old.count() == 300


def test_delete_metadata_only_when_stats_decide(spark, tmp_path,
                                                monkeypatch):
    """A whole-file-matching delete never decodes or rewrites: the
    all-match file leaves the manifest from its footer statistics
    alone, the no-match file is pruned driver-side from MANIFEST
    stats (never even opened), and no new data file is written."""
    t, per = _sorted_table(spark, tmp_path, n=3000, files=3)
    opened = []
    real_init = ORCFile.__init__

    def spy(self, path):
        opened.append(os.path.basename(path))
        real_init(self, path)

    monkeypatch.setattr(ORCFile, "__init__", spy)
    n_data = len(os.listdir(os.path.join(t, "data")))
    snap = orctable.delete_from(spark, t, ("v", "<", per))
    assert snap["summary"]["deleted_rows"] == per
    assert snap["summary"]["dropped_files"] == 1
    assert snap["summary"]["rewritten_files"] == 0
    # no rewrite output: the data dir did not grow
    assert len(os.listdir(os.path.join(t, "data"))) == n_data
    # only the boundary-candidate file's footer was opened (executor
    # classification); the two untouched files never were
    assert len(opened) == 1
    assert orctable.table_count(spark, t) == 3000 - per


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    t = str(tmp_path / "tnull")
    orctable.create_table(t, "struct<v:int,tag:string>")
    df = spark.range(0, 100, 1, 1).selectExpr(
        "CAST(id AS INT) AS v",
        "IF(id % 3 = 0, NULL, CAST(id AS STRING)) AS tag")
    orctable.write_table(df, t)
    # DELETE WHERE tag >= '5' : NULL tags must SURVIVE
    orctable.delete_from(spark, t, ("tag", ">=", "5"))
    left = orctable.read_table(spark, t).collect()
    for r in left:
        assert r["tag"] is None or r["tag"] < "5"
    n_null = sum(1 for r in left if r["tag"] is None)
    assert n_null == 34  # every multiple of 3 in [0,100)


def test_delete_rewrite_is_exact_for_ns_timestamps(spark, tmp_path):
    """A rewrite must not corrupt what it keeps: nanosecond
    timestamps round-trip bit-identically through the copy-on-write
    path (write-side nanos, r5)."""
    import pyarrow as pa

    from orc_spark.sources.orcwriter import ORCFileWriter
    t = str(tmp_path / "tns")
    orctable.create_table(t, "struct<v:int,ts:timestamp>")
    vals = [1_500_000_123_456_789 + i * 7 for i in range(1000)]
    vals[500] = -1_999_999_999  # pre-1970 fractional second
    path = os.path.join(t, "data", "seed-00000.orc")
    w = ORCFileWriter(path, codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(range(1000), pa.int32()),
         pa.array(vals, pa.timestamp("ns"))], names=["v", "ts"]))
    w.close()
    entries = [{"path": "data/seed-00000.orc", "n_rows": 1000,
                "bytes": os.path.getsize(path),
                "type": "struct<v:int,ts:timestamp>", "codec": "zlib",
                "stats": {}}]
    man = orctable._write_manifest(t, entries)
    orctable._commit_retrying(t, orctable.load_snapshot(t), "append",
                              man, entries,
                              "struct<v:int,ts:timestamp>")
    orctable.delete_from(spark, t, ("v", "<", 100))
    # compare via the raw .orc decode (Spark timestamps are us-unit;
    # the nanos only survive in the Arrow path): open the rewritten
    # file directly
    snap = orctable.load_snapshot(t)
    e = orctable.manifest_entries(t, snap)
    assert len(e) == 1 and e[0]["n_rows"] == 900
    f = ORCFile(os.path.join(t, e[0]["path"]))
    from orc_spark import orctypes
    from orc_spark.sources.orcscan import _ScanContext
    ctx = _ScanContext(orctypes.type_from_file(
        os.path.join(t, e[0]["path"])), [], True)
    out = []
    for si in range(len(f.stripes)):
        out.extend(ctx.decode_stripe(f, si).column("ts")
                   .cast(pa.int64()).to_pylist())
    assert sorted(out) == sorted(vals[100:])


def test_delete_unsatisfiable_and_no_match_are_noops(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    v = orctable.current_version(t)
    # float equality no integer can satisfy
    snap = orctable.delete_from(spark, t, ("v", "==", 1.5))
    assert snap["version"] == v  # no new snapshot
    # range outside every file
    snap = orctable.delete_from(spark, t, ("v", ">=", 10_000))
    assert snap["version"] == v
    assert orctable.table_count(spark, t) == 300


def test_delete_requires_predicate(spark, tmp_path):
    t, _ = _sorted_table(spark, tmp_path, n=30, files=1)
    with pytest.raises(ValueError, match="requires a predicate"):
        orctable.delete_from(spark, t, None)


def test_delete_preserves_codec_and_char_types(spark, tmp_path):
    """The rewritten file keeps the original codec and char/varchar
    footer types (orc_types overrides ride through the rewrite)."""
    import pyarrow as pa

    from orc_spark import orctypes
    from orc_spark.sources.orcwriter import ORCFileWriter
    t = str(tmp_path / "tchar")
    orctable.create_table(t, "struct<v:int,c:char(3)>")
    path = os.path.join(t, "data", "seed-00000.orc")
    w = ORCFileWriter(path, codec="zstd",
                      orc_types={"c": ("char", 3)})
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(range(100), pa.int32()),
         pa.array([f"{i:03d}" for i in range(100)])],
        names=["v", "c"]))
    w.close()
    entries = [{"path": "data/seed-00000.orc", "n_rows": 100,
                "bytes": os.path.getsize(path),
                "type": "struct<v:int,c:char(3)>", "codec": "zstd",
                "stats": {}}]
    man = orctable._write_manifest(t, entries)
    orctable._commit_retrying(t, orctable.load_snapshot(t), "append",
                              man, entries, "struct<v:int,c:char(3)>")
    orctable.delete_from(spark, t, ("v", "<", 40))
    e = orctable.manifest_entries(t, orctable.load_snapshot(t))[0]
    f = ORCFile(os.path.join(t, e["path"]))
    assert f.compression == "zstd"
    assert orctypes.type_from_file(
        os.path.join(t, e["path"])).orc_string() \
        == "struct<v:int,c:char(3)>"
    assert e["codec"] == "zstd"


def test_rollback_restores_old_file_set(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    v_before = orctable.current_version(t)
    orctable.delete_from(spark, t, ("v", "<", 100))
    assert orctable.table_count(spark, t) == 200
    snap = orctable.rollback_table(t, v_before)
    assert snap["operation"] == "rollback"
    assert snap["summary"]["rolled_back_to"] == v_before
    assert orctable.table_count(spark, t) == 300
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(300))
    # history keeps the delete visible between the two states
    ops = [r["operation"] for r in
           orctable.table_history(spark, t).collect()]
    assert ops[-2:] == ["delete", "rollback"]


def test_table_count_manifest_only_and_hybrid(spark, tmp_path,
                                              monkeypatch):
    t, per = _sorted_table(spark, tmp_path, n=3000, files=3)
    opened = []
    real_init = ORCFile.__init__

    def spy(self, path):
        opened.append(path)
        real_init(self, path)

    monkeypatch.setattr(ORCFile, "__init__", spy)
    # unpredicated: zero file opens (manifest row counts only)
    assert orctable.table_count(spark, t) == 3000
    assert opened == []
    # predicated: manifest stats prune non-overlapping files; only
    # the one candidate file is opened for the hybrid count
    n = orctable.table_count(spark, t, ("v", ">=", 2 * per + 500))
    assert n == per - 500
    assert len(opened) == 1


def test_expire_snapshots_reclaims_deleted_files(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    pre = orctable.current_version(t)
    orctable.delete_from(spark, t, ("v", "<", 100))  # drops 1 file
    data = os.path.join(t, "data")
    n_files_before = len(os.listdir(data))
    res = orctable.expire_snapshots(t, keep_last=1)
    assert res["removed_snapshots"] == pre + 1  # v0..pre expired
    assert res["removed_files"] == 1  # the dropped file reclaimed
    assert len(os.listdir(data)) == n_files_before - 1
    # current snapshot unharmed
    assert orctable.table_count(spark, t) == 200
    assert orctable.read_table(spark, t).count() == 200
    # expired versions are gone
    with pytest.raises(ValueError, match="no snapshot"):
        orctable.load_snapshot(t, 0)


def test_expire_keeps_shared_files(spark, tmp_path):
    """A data file referenced by BOTH an expired and a kept snapshot
    must survive expiry."""
    t, per = _sorted_table(spark, tmp_path, n=200, files=2)
    orctable.write_table(_df(spark, 200, 300, parts=1), t)
    res = orctable.expire_snapshots(t, keep_last=1)
    assert res["removed_files"] == 0  # all 3 files still referenced
    assert orctable.read_table(spark, t).count() == 300


def test_remove_orphans_age_guard(spark, tmp_path):
    t, _ = _sorted_table(spark, tmp_path, n=100, files=1)
    orphan = os.path.join(t, "data", "part-dead-00000.orc")
    with open(orphan, "wb") as fh:
        fh.write(b"ORC\x00not-a-real-file")
    # too young: the age guard protects possibly-in-flight output
    res = orctable.remove_orphans(t, grace_seconds=3600)
    assert res["removed_files"] == 0 and os.path.exists(orphan)
    # aged out: reclaimed
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    res = orctable.remove_orphans(t, grace_seconds=3600)
    assert res["removed_files"] == 1 and not os.path.exists(orphan)
    # referenced data files are never orphans regardless of age
    assert orctable.read_table(spark, t).count() == 100


def test_delete_distributed_classification_same_result(
        spark, tmp_path, monkeypatch):
    """Forcing the >64-candidate path (classification runs in
    executor tasks) must produce the identical snapshot outcome."""
    monkeypatch.setattr(orctable, "_DRIVER_CLASSIFY_MAX_FILES", 0)
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    snap = orctable.delete_from(spark, t, ("v", "between", (50, 149)))
    assert snap["summary"]["deleted_rows"] == 100
    assert snap["summary"]["rewritten_files"] == 2
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(0, 50)) + list(range(150, 300))


def test_read_table_changes_appends_only(spark, tmp_path):
    """Incremental append scan: exactly the rows committed after
    from_version; compaction (replace) in the range is row-preserving
    and skips; delete in the range raises."""
    t = str(tmp_path / "tchg")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100, parts=1), t)    # v1
    orctable.write_table(_df(spark, 100, 150, parts=1), t)  # v2
    orctable.compact_table(spark, t, target_bytes=1 << 40)  # v3
    orctable.write_table(_df(spark, 150, 170, parts=1), t)  # v4
    got = sorted(r["v"] for r in orctable.read_table_changes(
        spark, t, from_version=1).collect())
    assert got == list(range(100, 170))  # v2 + v4, compaction silent
    # bounded range
    got = sorted(r["v"] for r in orctable.read_table_changes(
        spark, t, from_version=1, to_version=2).collect())
    assert got == list(range(100, 150))
    # empty range -> empty frame with the table schema
    empty = orctable.read_table_changes(spark, t, from_version=4)
    assert empty.count() == 0
    assert dict(empty.dtypes) == {"v": "int", "tag": "string"}
    # predicate + projection ride through
    sel = orctable.read_table_changes(
        spark, t, from_version=1, columns=["v"],
        predicate=("v", ">=", 160))
    assert sel.columns == ["v"] and sel.count() == 10
    # a delete inside the range cannot be represented append-only
    orctable.delete_from(spark, t, ("v", "<", 10))           # v5
    with pytest.raises(ValueError, match="append-only"):
        orctable.read_table_changes(spark, t, from_version=1)
    # ...but a range ending before the delete still works
    got = sorted(r["v"] for r in orctable.read_table_changes(
        spark, t, from_version=0, to_version=4).collect())
    assert got == list(range(170))


def test_rewrite_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order rewrite: after an x-sorted ingestion layout (y spans
    every file, so y-predicates prune nothing), rewrite_zorder over
    (x, y) makes BOTH columns' manifest stats selective — a box
    predicate keeps a small minority of files — while preserving
    every row, committing as a replace (changelog-silent, time
    travel to the old layout intact)."""
    from orc_spark.sources import orctable
    t = str(tmp_path / "zt")
    orctable.create_table(t, "struct<x:int,y:int,v:bigint>")
    # x and y independent uniform on [0, 4096); written sorted by x
    df = spark.range(0, 4096 * 4, 1, 1).selectExpr(
        "CAST(id % 4096 AS INT) AS x",
        "CAST(conv(substring(md5(cast(id as string)), 1, 8), 16, 10) "
        "% 4096 AS INT) AS y",
        "id AS v").orderBy("x")
    orctable.write_table(df.repartitionByRange(16, "x")
                         .sortWithinPartitions("x"), t)   # v1
    base = orctable.load_snapshot(t)
    ents = orctable.manifest_entries(t, base)
    assert len(ents) >= 8
    ypred = [("y", "<", 256)]                     # 1/16 of y-space
    before = sum(orctable._entry_survives(e, ypred) for e in ents)
    assert before == len(ents)                    # y prunes NOTHING
    snap = orctable.rewrite_zorder(spark, t, ["x", "y"],
                                   target_bytes=5 << 10)
    assert snap["operation"] == "replace"
    assert snap["summary"]["zordered_by"] == ["x", "y"]
    zents = orctable.manifest_entries(t, snap)
    assert len(zents) >= 8
    ysurv = sum(orctable._entry_survives(e, ypred) for e in zents)
    xsurv = sum(orctable._entry_survives(e, [("x", "<", 256)])
                for e in zents)
    assert ysurv <= len(zents) // 2, (ysurv, len(zents))
    assert xsurv <= len(zents) // 2, (xsurv, len(zents))
    box = [("x", "<", 1024), ("y", "<", 1024)]    # 1/16 box
    bsurv = sum(orctable._entry_survives(e, box) for e in zents)
    assert bsurv < len(zents) // 2, (bsurv, len(zents))
    # row preservation, exact
    got = orctable.read_table(spark, t).selectExpr(
        "count(*) c", "sum(v) s", "sum(x) sx", "sum(y) sy") \
        .collect()[0]
    n = 4096 * 4
    assert got["c"] == n and got["s"] == n * (n - 1) // 2
    # time travel to the unsorted layout still answers identically
    old = orctable.read_table(spark, t, snapshot=base["version"]) \
        .selectExpr("sum(v) s").collect()[0]
    assert old["s"] == got["s"]
    # strings are rejected loudly
    orctable.create_table(str(tmp_path / "zs"),
                          "struct<s:string>")
    import pytest as _pt
    with _pt.raises(ValueError, match="orderable kinds"):
        orctable.rewrite_zorder(spark, str(tmp_path / "zs"), ["s"])


def test_rewrite_zorder_preserves_user_column_named__z(spark, tmp_path):
    """r6 fix (ADVICE r5 #3): the z-order working column must not
    collide with a real column named __z — previously withColumn
    replaced it and drop removed it, so rewritten files silently lost
    the column and reads null-filled it."""
    from orc_spark.sources import orctable
    t = str(tmp_path / "zc")
    orctable.create_table(t, "struct<x:int,__z:bigint>")
    df = spark.range(0, 500, 1, 1).selectExpr(
        "CAST(id AS INT) AS x", "id * 3 AS __z")
    orctable.write_table(df, t)
    orctable.rewrite_zorder(spark, t, ["x"], target_bytes=4 << 10)
    got = orctable.read_table(spark, t).selectExpr(
        "count(*) c", "sum(__z) s",
        "count(CASE WHEN __z IS NULL THEN 1 END) nn").collect()[0]
    assert got["c"] == 500
    assert got["nn"] == 0
    assert got["s"] == 3 * 500 * 499 // 2
