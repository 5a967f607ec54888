"""Snapshot-managed tables (sources/orctable.py): atomic commits,
manifests-as-listing, schema evolution per snapshot, time travel,
manifest-level file pruning, zero-recode compaction."""

import json
import os

import pytest

from orc_spark.sources import orcscan, orctable


def _df(spark, lo, hi, parts=2, wide=False):
    df = spark.range(lo, hi, 1, parts) \
        .selectExpr("CAST(id AS INT) AS v",
                    "CAST(id AS STRING) AS tag")
    if wide:
        df = df.selectExpr("CAST(v AS BIGINT) AS v", "tag",
                           "CAST(v AS DOUBLE) AS score")
    return df


def test_create_append_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t1")
    orctable.create_table(t, "struct<v:int,tag:string>")
    snap = orctable.write_table(_df(spark, 0, 100), t)
    assert snap["version"] == 1 and snap["operation"] == "append"
    assert snap["summary"]["n_rows"] == 100
    df = orctable.read_table(spark, t)
    assert df.count() == 100
    got = sorted(r["v"] for r in df.collect())
    assert got == list(range(100))
    # the data directory is NOT the source of truth: an orphan file
    # from a failed job must be invisible to readers
    orphan = os.path.join(t, "data", "part-deadbeef-00000.orc")
    with open(orphan, "wb") as fh:
        fh.write(b"ORC\x00garbage")
    assert orctable.read_table(spark, t).count() == 100


def test_empty_table_read(spark, tmp_path):
    t = str(tmp_path / "t0")
    orctable.create_table(t, "struct<v:int,tag:string>")
    df = orctable.read_table(spark, t)
    assert df.count() == 0
    assert dict(df.dtypes) == {"v": "int", "tag": "string"}
    assert orctable.read_table(spark, t, columns=["tag"]).columns \
        == ["tag"]


def test_append_evolves_schema_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t2")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 50), t)
    snap2 = orctable.write_table(_df(spark, 50, 80, wide=True), t)
    assert snap2["schema"] == \
        "struct<v:bigint,tag:string,score:double>"
    latest = orctable.read_table(spark, t)
    assert dict(latest.dtypes) == {"v": "bigint", "tag": "string",
                                   "score": "double"}
    assert latest.count() == 80
    assert latest.where("score IS NULL").count() == 50
    # time travel: v1 predates the widening entirely
    v1 = orctable.read_table(spark, t, snapshot=1)
    assert dict(v1.dtypes) == {"v": "int", "tag": "string"}
    assert v1.count() == 50
    hist = {r["version"]: r for r in
            orctable.table_history(spark, t).collect()}
    assert hist[0]["operation"] == "create"
    assert hist[2]["added_rows"] == 30 and hist[2]["n_rows"] == 80


def test_overwrite_replaces_files_and_schema(spark, tmp_path):
    t = str(tmp_path / "t3")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100), t)
    snap = orctable.write_table(_df(spark, 0, 10, wide=True), t,
                                mode="overwrite")
    assert snap["operation"] == "overwrite"
    assert snap["summary"]["n_rows"] == 10
    assert orctable.read_table(spark, t).count() == 10
    # the overwritten rows remain reachable by version
    assert orctable.read_table(spark, t, snapshot=1).count() == 100


def test_manifest_level_file_pruning(spark, tmp_path, monkeypatch):
    """A predicate outside a file's manifest [min,max] drops the file
    BEFORE orc_scan ever sees it (no footer open at all)."""
    t = str(tmp_path / "t4")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 1000, parts=1), t)
    orctable.write_table(_df(spark, 1000, 2000, parts=1), t)
    seen = []
    real = orcscan.orc_scan

    def spy(spark_, files, **kw):
        seen.append(list(files))
        return real(spark_, files, **kw)

    monkeypatch.setattr(orcscan, "orc_scan", spy)
    df = orctable.read_table(spark, t, predicate=("v", ">=", 1500))
    assert df.count() == 500
    assert len(seen) == 1 and len(seen[0]) == 1  # one file pruned
    # predicate on string stats prunes too
    seen.clear()
    df = orctable.read_table(spark, t, predicate=("tag", "==", "abc"))
    assert df.count() == 0
    # "abc" is lexically inside both files' [0.., 999]-ish string
    # ranges? min is "0"/"1000", max "999"; "abc" > "999" -> both drop
    assert seen == [] or all(len(s) <= 2 for s in seen)


def test_commit_conflict_append_rebases(spark, tmp_path):
    t = str(tmp_path / "t5")
    orctable.create_table(t, "struct<v:int,tag:string>")
    base = orctable.load_snapshot(t)
    # writer B lands first
    orctable.write_table(_df(spark, 0, 10), t)
    # writer A prepared against v0 and must REBASE, not clobber
    entries = [{"path": "data/xx.orc", "n_rows": 7, "bytes": 1,
                "type": base["schema"], "codec": "zlib", "stats": {}}]
    man = orctable._write_manifest(t, entries)
    snap = orctable._commit_retrying(t, base, "append", man, entries,
                                     base["schema"])
    assert snap["version"] == 2
    assert snap["summary"]["n_rows"] == 17  # B's 10 + A's 7
    assert len(snap["manifests"]) == 2


def test_commit_conflict_overwrite_raises(spark, tmp_path):
    t = str(tmp_path / "t6")
    orctable.create_table(t, "struct<v:int,tag:string>")
    base = orctable.load_snapshot(t)
    orctable.write_table(_df(spark, 0, 10), t)
    with pytest.raises(orctable.CommitConflict, match="moved to"):
        orctable._commit_retrying(t, base, "overwrite", None, [],
                                  base["schema"])


def test_compact_table_replace_snapshot(spark, tmp_path):
    t = str(tmp_path / "t7")
    orctable.create_table(t, "struct<v:int,tag:string>")
    for i in range(3):
        orctable.write_table(_df(spark, i * 100, (i + 1) * 100,
                                 parts=2), t)
    pre = orctable.load_snapshot(t)
    assert pre["summary"]["n_files"] == 6
    snap = orctable.compact_table(spark, t)
    assert snap["operation"] == "replace"
    assert snap["summary"]["n_files"] == 1
    assert snap["summary"]["n_rows"] == 300
    df = orctable.read_table(spark, t)
    assert sorted(r["v"] for r in df.collect()) == list(range(300))
    # pre-compaction snapshot still reads the original small files
    old = orctable.read_table(spark, t, snapshot=pre["version"])
    assert old.count() == 300
    # merged manifest carries merged stats (pruning still works)
    assert orctable.read_table(
        spark, t, predicate=("v", ">", 5000)).count() == 0


def test_compact_manifest_stats_are_the_merged_footer(spark, tmp_path):
    """A compacted entry's manifest stats are the merged file's own
    footer stats.  With one file's double column all NaN, that file
    adds no bounds, so both keep the other file's range."""
    from orc_spark.sources.orcfile import ORCFile
    t = str(tmp_path / "tnan")
    orctable.create_table(t, "struct<v:int,x:double>")
    orctable.write_table(spark.range(0, 100, 1, 1).selectExpr(
        "CAST(id AS INT) AS v", "CAST('NaN' AS DOUBLE) AS x"), t)
    orctable.write_table(spark.range(100, 200, 1, 1).selectExpr(
        "CAST(id AS INT) AS v", "CAST(id AS DOUBLE) AS x"), t)
    snap = orctable.compact_table(spark, t, target_bytes=1 << 40)
    [e] = orctable.manifest_entries(t, snap)
    assert e["stats"] == orctable._entry_stats(
        ORCFile(os.path.join(t, e["path"])))
    assert (e["stats"]["x"]["min"], e["stats"]["x"]["max"]) == \
        (100.0, 199.0)


def test_compact_skips_mixed_schemas(spark, tmp_path):
    """Files written under different (evolved) types never merge —
    each type group compacts internally."""
    t = str(tmp_path / "t8")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100, parts=2), t)
    orctable.write_table(_df(spark, 100, 200, parts=2, wide=True), t)
    snap = orctable.compact_table(spark, t)
    assert snap["summary"]["n_files"] == 2  # one per type group
    df = orctable.read_table(spark, t)
    assert df.count() == 200
    assert dict(df.dtypes)["v"] == "bigint"


def test_snapshot_json_is_small_and_manifests_immutable(spark,
                                                        tmp_path):
    """Commit metadata is O(new files): an append rewrites NO prior
    manifest, and the snapshot holds manifest names only."""
    t = str(tmp_path / "t9")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100), t)
    m1 = orctable.load_snapshot(t)["manifests"]
    mtimes = {m: os.path.getmtime(os.path.join(t, "_meta", m))
              for m in m1}
    orctable.write_table(_df(spark, 100, 200), t)
    snap = orctable.load_snapshot(t)
    assert snap["manifests"][:len(m1)] == m1
    for m, ts in mtimes.items():
        assert os.path.getmtime(os.path.join(t, "_meta", m)) == ts
    raw = json.load(open(os.path.join(
        t, "_meta", f"v{snap['version']:08d}.json")))
    assert "files" not in raw  # names only, never inlined entries
