"""Row-level UPDATE and MERGE (upsert) on snapshot-managed tables
(sources/orctable.py r5 session 5) — the remaining Iceberg COW DML.

UPDATE semantics: rows where the predicate is TRUE take the new
values (NULL-predicate rows do NOT update); files that statistics
prove unmatched are never opened; all-match files rewrite
whole-column with no row mask.  MERGE semantics: replace-by-key —
matched target rows are superseded by source rows, unmatched source
rows insert, all in ONE atomic snapshot."""

import os

import pytest

from orc_spark.sources import orctable
from orc_spark.sources.orcfile import ORCFile


def _df(spark, lo, hi, parts=2):
    return spark.range(lo, hi, 1, parts) \
        .selectExpr("CAST(id AS INT) AS v",
                    "CAST(id AS STRING) AS tag")


def _sorted_table(spark, tmp_path, name="t", n=3000, files=3):
    t = str(tmp_path / name)
    orctable.create_table(t, "struct<v:int,tag:string>")
    per = n // files
    for i in range(files):
        orctable.write_table(_df(spark, i * per, (i + 1) * per,
                                 parts=1), t)
    return t, per


# ------------------------------------------------------------------
# UPDATE
# ------------------------------------------------------------------


def test_update_literal_and_time_travel(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    pre = orctable.load_snapshot(t)
    snap = orctable.update_table(
        spark, t, set={"tag": "hot"},
        predicate=("v", "between", (50, 149)))
    assert snap["operation"] == "update"
    assert snap["summary"]["updated_rows"] == 100
    rows = {r["v"]: r["tag"]
            for r in orctable.read_table(spark, t).collect()}
    assert len(rows) == 300  # UPDATE never changes row count
    for v, tag in rows.items():
        assert tag == ("hot" if 50 <= v <= 149 else str(v))
    # time travel: the pre-update snapshot reads the old values
    old = {r["v"]: r["tag"] for r in orctable.read_table(
        spark, t, snapshot=pre["version"]).collect()}
    assert all(old[v] == str(v) for v in old)


def test_update_untouched_files_never_open(spark, tmp_path,
                                           monkeypatch):
    """Manifest stats prune unmatched files driver-side; stats-only
    classification keeps boundary-free candidates without a rewrite.
    A v-range update touching only file 0 opens exactly that file."""
    t, per = _sorted_table(spark, tmp_path, n=3000, files=3)
    opened = []
    real_init = ORCFile.__init__

    def spy(self, path):
        opened.append(os.path.basename(path))
        real_init(self, path)

    monkeypatch.setattr(ORCFile, "__init__", spy)
    n_data = len(os.listdir(os.path.join(t, "data")))
    snap = orctable.update_table(spark, t, set={"tag": "x"},
                                 predicate=("v", "<", per))
    assert snap["summary"]["updated_rows"] == per
    assert snap["summary"]["rewritten_files"] == 1
    # the two unmatched files were never opened (classification is
    # manifest-stats-only for them); the rewritten file opens for
    # classify + rewrite + stats re-read, all on one path
    assert {os.path.basename(p) for p in opened} == {
        n for n in opened if n.startswith(("part-", "update-"))}
    assert sum(1 for n in opened if n.startswith("part-")) <= 2
    # exactly one new data file appeared
    assert len(os.listdir(os.path.join(t, "data"))) == n_data + 1


def test_update_null_predicate_rows_do_not_update(spark, tmp_path):
    t = str(tmp_path / "tnull")
    orctable.create_table(t, "struct<v:int,tag:string>")
    df = spark.range(0, 100, 1, 1).selectExpr(
        "CAST(id AS INT) AS v",
        "IF(id % 3 = 0, NULL, CAST(id AS STRING)) AS tag")
    orctable.write_table(df, t)
    orctable.update_table(spark, t, set={"v": -1},
                          predicate=("tag", ">=", "5"))
    rows = orctable.read_table(spark, t).collect()
    for r in rows:
        if r["tag"] is None or r["tag"] < "5":
            assert r["v"] >= 0  # NULL / false predicate: unchanged
        else:
            assert r["v"] == -1


def test_update_unpredicated_updates_every_row(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=200, files=2)
    snap = orctable.update_table(spark, t, set={"tag": None})
    assert snap["summary"]["updated_rows"] == 200
    assert all(r["tag"] is None for r in
               orctable.read_table(spark, t).collect())


def test_update_callable_vectorized(spark, tmp_path):
    """Computed update: a pa.RecordBatch -> pa.Array callable runs
    on executors, masked to the matching rows only."""
    import pyarrow.compute as pc
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    snap = orctable.update_table(
        spark, t, set={"v": lambda b: pc.multiply(b.column("v"), 10)},
        predicate=("v", ">=", 200))
    assert snap["summary"]["updated_rows"] == 100
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(200)) + [10 * v for v in
                                      range(200, 300)]


def test_update_validation(spark, tmp_path):
    t, _ = _sorted_table(spark, tmp_path, n=30, files=1)
    with pytest.raises(ValueError, match="non-empty set"):
        orctable.update_table(spark, t, set={})
    with pytest.raises(ValueError, match="not in table schema"):
        orctable.update_table(spark, t, set={"nope": 1})
    # literal of the wrong family fails loudly, never truncates
    with pytest.raises(Exception):
        orctable.update_table(spark, t, set={"v": "not-an-int"})
    # no-match predicate is a no-op (no new snapshot)
    v = orctable.current_version(t)
    snap = orctable.update_table(spark, t, set={"tag": "x"},
                                 predicate=("v", ">=", 10_000))
    assert snap["version"] == v


def test_update_rejects_partition_source_column(spark, tmp_path):
    t = str(tmp_path / "tpart")
    orctable.create_table(t, "struct<v:int,tag:string>",
                          partition_by=["bucket(4, tag)"])
    orctable.write_table(_df(spark, 0, 100, parts=1), t)
    with pytest.raises(ValueError, match="partition spec"):
        orctable.update_table(spark, t, set={"tag": "x"})
    # non-partition columns update fine and tuples are preserved
    snap = orctable.update_table(spark, t, set={"v": 7},
                                 predicate=("tag", "==", "33"))
    assert snap["summary"]["updated_rows"] == 1
    es = orctable.manifest_entries(t, snap)
    assert all(e.get("partition") for e in es)
    got = {r["tag"]: r["v"] for r in
           orctable.read_table(spark, t).collect()}
    assert got["33"] == 7 and got["34"] == 34


def test_update_stats_refresh_enables_pruning(spark, tmp_path):
    """The rewritten file's manifest stats reflect the NEW values —
    a later read predicated on the old range prunes it."""
    t, per = _sorted_table(spark, tmp_path, n=200, files=2)
    orctable.update_table(spark, t, set={"v": 0},
                          predicate=("v", ">=", 100))
    snap = orctable.load_snapshot(t)
    es = sorted(orctable.manifest_entries(t, snap),
                key=lambda e: e["stats"]["v"]["max"])
    # the rewritten file's v-stats collapsed to [0, 0]
    assert es[0]["stats"]["v"]["min"] == 0
    assert es[0]["stats"]["v"]["max"] == 0
    assert orctable.table_count(spark, t, ("v", ">=", 100)) == 0


# ------------------------------------------------------------------
# MERGE (upsert)
# ------------------------------------------------------------------


def _src(spark, pairs):
    """Source frame from (v, tag) pairs."""
    return spark.createDataFrame(pairs, "v int, tag string")


def test_merge_replace_by_key(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    pre = orctable.load_snapshot(t)
    src = _src(spark, [(50, "new50"), (150, "new150"), (999, "ins")])
    snap = orctable.merge_table(spark, t, src, on="v")
    assert snap["operation"] == "merge"
    assert snap["summary"]["matched_rows"] == 2
    assert snap["summary"]["inserted_rows"] == 3
    assert snap["summary"]["plan"] == "broadcast"
    rows = {r["v"]: r["tag"]
            for r in orctable.read_table(spark, t).collect()}
    assert len(rows) == 301  # 300 - 2 matched + 3 source
    assert rows[50] == "new50" and rows[150] == "new150"
    assert rows[999] == "ins" and rows[51] == "51"
    # time travel: pre-merge snapshot unchanged
    old = orctable.read_table(spark, t, snapshot=pre["version"])
    assert old.count() == 300


def test_merge_untouched_files_never_open(spark, tmp_path,
                                          monkeypatch):
    """Keys hitting only file 0's range: files 1 and 2 are pruned
    from manifest stats (driver-side, metadata only) and never
    become rewrite candidates; the DRIVER opens no data file at all
    — every footer/decode happens in executor tasks."""
    t, per = _sorted_table(spark, tmp_path, n=3000, files=3)
    entries = orctable.manifest_entries(t, orctable.load_snapshot(t))
    spec = orctable._parse_spec([])
    untouched, cands = orctable._merge_candidates(
        entries, "v", [5, 7], spec)
    assert len(cands) == 1 and len(untouched) == 2
    opened = []
    real_init = ORCFile.__init__

    def spy(self, path):
        opened.append(os.path.basename(path))
        real_init(self, path)

    monkeypatch.setattr(ORCFile, "__init__", spy)
    n_data = len(os.listdir(os.path.join(t, "data")))
    src = _src(spark, [(5, "x"), (7, "y")])
    snap = orctable.merge_table(spark, t, src, on="v")
    assert snap["summary"]["matched_rows"] == 2
    assert snap["summary"]["rewritten_files"] == 1
    assert opened == []  # driver is metadata-clean
    # new data files: exactly one COW rewrite + the insert file(s)
    names = os.listdir(os.path.join(t, "data"))
    assert sum(1 for n in names if n.startswith("merge-cow-")) == 1
    assert sum(1 for n in names if n.startswith("merge-")
               and not n.startswith("merge-cow-")) >= 1
    assert len(names) > n_data


def test_merge_stats_false_positive_keeps_without_rewrite(
        spark, tmp_path):
    """A key inside a file's [min,max] but absent from it: the
    key-only pre-pass proves no match and the file keeps — no new
    data file, no rewrite."""
    t = str(tmp_path / "tfp")
    orctable.create_table(t, "struct<v:int,tag:string>")
    df = spark.createDataFrame(
        [(0, "a"), (2, "b"), (4, "c")], "v int, tag string")
    orctable.write_table(df.coalesce(1), t)
    src = _src(spark, [(3, "ghost")])  # in [0,4], not present
    snap = orctable.merge_table(spark, t, src, on="v")
    assert snap["summary"]["matched_rows"] == 0
    assert snap["summary"]["rewritten_files"] == 0
    assert snap["summary"]["inserted_rows"] == 1
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == [0, 2, 3, 4]


def test_merge_delete_mode_tombstones(spark, tmp_path):
    """when_matched='delete': source keys remove rows, nothing
    inserts; an all-match file drops from the manifest without a
    rewrite."""
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    # every key of file 0 plus two from file 1
    src = spark.createDataFrame(
        [(v,) for v in range(100)] + [(150,), (151,)], "v int")
    snap = orctable.merge_table(spark, t, src, on="v",
                                when_matched="delete")
    assert snap["summary"]["matched_rows"] == 102
    assert snap["summary"]["inserted_rows"] == 0
    assert snap["summary"]["dropped_files"] == 1
    assert snap["summary"]["rewritten_files"] == 1
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == [v for v in range(100, 300) if v not in (150, 151)]
    # delete-mode merge with no matching key is a no-op
    v = orctable.current_version(t)
    snap = orctable.merge_table(spark, t, _src(spark, [(9999, "z")]),
                                on="v", when_matched="delete")
    assert snap["version"] == v


def test_merge_null_source_keys_insert_never_match(spark, tmp_path):
    t, per = _sorted_table(spark, tmp_path, n=100, files=1)
    src = _src(spark, [(None, "nullkey"), (5, "upd5")])
    snap = orctable.merge_table(spark, t, src, on="v")
    assert snap["summary"]["matched_rows"] == 1
    assert snap["summary"]["inserted_rows"] == 2
    rows = orctable.read_table(spark, t).collect()
    assert sum(1 for r in rows if r["v"] is None) == 1
    assert {r["tag"] for r in rows if r["v"] == 5} == {"upd5"}


def test_merge_bucket_partition_prunes_by_key(spark, tmp_path):
    """On a table bucketed by the merge key, only files in the
    source keys' buckets are candidates."""
    t = str(tmp_path / "tbk")
    orctable.create_table(t, "struct<v:int,tag:string>",
                          partition_by=["bucket(8, tag)"])
    orctable.write_table(_df(spark, 0, 400, parts=1), t)
    snap0 = orctable.load_snapshot(t)
    entries = orctable.manifest_entries(t, snap0)
    assert len(entries) == 8  # one per bucket
    spec = orctable._parse_spec(snap0["spec"])
    untouched, cands = orctable._merge_candidates(
        entries, "tag", ["7", "13"], spec)
    # candidates limited to the (<=2) buckets the two keys hash into
    assert 1 <= len(cands) <= 2
    src = spark.createDataFrame([("7", 7), ("13", 13)],
                                "tag string, v int")
    snap = orctable.merge_table(spark, t, src, on="tag")
    assert snap["summary"]["matched_rows"] == 2
    assert snap["summary"]["rewritten_files"] <= 2
    rows = {r["tag"]: r["v"] for r in
            orctable.read_table(spark, t).collect()}
    assert rows["7"] == 7 and rows["13"] == 13 and rows["14"] == 14
    assert len(rows) == 400


def test_merge_shuffle_path_same_result(spark, tmp_path, monkeypatch):
    """Forcing the >4M-key shuffle plan must produce the identical
    table state."""
    monkeypatch.setattr(orctable, "_MERGE_MAX_KEYS", 0)
    t, per = _sorted_table(spark, tmp_path, n=300, files=3)
    src = _src(spark, [(50, "new50"), (999, "ins")])
    snap = orctable.merge_table(spark, t, src, on="v")
    assert snap["summary"]["plan"] == "shuffle"
    assert snap["summary"]["matched_rows"] == 1
    rows = {r["v"]: r["tag"]
            for r in orctable.read_table(spark, t).collect()}
    assert len(rows) == 301
    assert rows[50] == "new50" and rows[999] == "ins"


def test_merge_widens_schema_for_evolved_source(spark, tmp_path):
    """An evolved source frame (extra column, widened int) merges;
    the committed schema is the widened union and old rows read
    NULL / upcast under it."""
    t, per = _sorted_table(spark, tmp_path, n=100, files=1)
    src = spark.createDataFrame([(5, "upd", 1.5)],
                                "v int, tag string, score double")
    snap = orctable.merge_table(spark, t, src, on="v")
    assert "score:double" in snap["schema"]
    rows = {r["v"]: r for r in
            orctable.read_table(spark, t).collect()}
    assert rows[5]["score"] == 1.5 and rows[5]["tag"] == "upd"
    assert rows[6]["score"] is None


def test_merge_validation(spark, tmp_path):
    t, _ = _sorted_table(spark, tmp_path, n=30, files=1)
    src = _src(spark, [(1, "x")])
    with pytest.raises(ValueError, match="replace|delete"):
        orctable.merge_table(spark, t, src, on="v",
                             when_matched="upsert")
    with pytest.raises(ValueError, match="not in table schema"):
        orctable.merge_table(spark, t, src, on="nope")
    with pytest.raises(ValueError, match="not in source frame"):
        orctable.merge_table(spark, t, src.select("v"), on="tag")


# ------------------------------------------------------------------
# one copy-on-write kernel: untouched stripes copy byte for byte
# ------------------------------------------------------------------


def _stripe_ranges(path):
    """The raw bytes of each stripe of the ``.orc`` file at path."""
    f = ORCFile(path)
    out = []
    for s in f.stripes:
        off = s.get(1, [0])[0]
        n = sum(s.get(k, [0])[0] for k in (2, 3, 4))
        out.append(bytes(f.data[off:off + n]))
    return out


def _one_file_table(spark, tmp_path, n_stripes=8, per=400):
    """A table holding ONE data file of ``n_stripes`` stripes of
    ``per`` sorted rows each; returns (table, data file path)."""
    t = str(tmp_path / "tstripes")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, n_stripes * per, parts=1), t,
                         stripe_rows=per)
    [e] = orctable.manifest_entries(t, orctable.load_snapshot(t))
    return t, os.path.join(t, e["path"])


def _count_decodes(monkeypatch):
    from orc_spark.sources.orcscan import _ScanContext
    calls = []
    real = _ScanContext.decode_stripe

    def spy(self, f, si):
        calls.append(si)
        return real(self, f, si)

    monkeypatch.setattr(_ScanContext, "decode_stripe", spy)
    return calls


HIT = (1300, 1310)   # rows of stripe 3 only (400 rows per stripe)


@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_cow_copies_untouched_stripes(spark, tmp_path, monkeypatch, op):
    """A DELETE / UPDATE / MERGE whose predicate or keys hit one
    stripe of eight decodes that stripe only; the other seven are
    byte-equal copies of their source ranges.  The table reads the
    expected rows, Spark's own ORC reader reads the new file, and
    time travel still reads the old one."""
    import types

    t, src_path = _one_file_table(spark, tmp_path)
    pre = orctable.load_snapshot(t)
    src = _stripe_ranges(src_path)
    hit = list(range(HIT[0], HIT[1] + 1))
    want = {v: str(v) for v in range(3200)}
    if op == "delete":
        plan = orctable._pred_plan([("v", "between", HIT)], False)
        set_spec = None
        orctable.delete_from(spark, t, ("v", "between", HIT))
        for v in hit:
            del want[v]
    elif op == "update":
        plan = orctable._pred_plan([("v", "between", HIT)], True)
        set_spec = {"tag": "x"}
        orctable.update_table(spark, t, set={"tag": "x"},
                              predicate=("v", "between", HIT))
        want.update({v: "x" for v in hit})
    else:
        plan = orctable._merge_plan("v", types.SimpleNamespace(value=hit))
        set_spec = None
        orctable.merge_table(spark, t, _src(spark, [(v, "m") for v in hit]),
                             on="v")
        want.update({v: "m" for v in hit})

    # the kernel itself, in this process, counts its stripe decodes
    calls = _count_decodes(monkeypatch)
    res = orctable._cow_rewrite(src_path, plan, "probe.orc",
                                str(tmp_path), set_spec)
    assert calls == [3]
    got = _stripe_ranges(str(tmp_path / "probe.orc"))
    assert len(got) == 8 and res["action"] == "rewrite"
    assert [g == s for g, s in zip(got, src)] == [True] * 3 + [False] + \
        [True] * 4

    # the committed rewrite has the same layout
    snap = orctable.load_snapshot(t)
    prefix = {"merge": "merge-cow"}.get(op, op)
    [new] = [e for e in orctable.manifest_entries(t, snap)
             if e["path"].startswith(f"data/{prefix}-")]
    new_path = os.path.join(t, new["path"])
    assert _stripe_ranges(new_path)[:3] == src[:3]
    assert _stripe_ranges(new_path)[4:] == src[4:]
    rows = {r["v"]: r["tag"]
            for r in orctable.read_table(spark, t).collect()}
    assert rows == want
    jvm = spark.read.orc(new_path)
    assert jvm.count() == new["n_rows"]
    assert jvm.where("v = 3199").collect()[0]["tag"] == "3199"
    old = orctable.read_table(spark, t, snapshot=pre["version"])
    assert sorted(r["v"] for r in old.collect()) == list(range(3200))


@pytest.mark.parametrize("source", ["added_column", "union"])
def test_cow_reencodes_when_tree_differs(spark, tmp_path, monkeypatch,
                                         source):
    """No stripe copies when the writer's output tree differs from the
    source's: an UPDATE null-filling a column ADDed after the file
    was written, or a union column (it decodes as a struct).  Every
    stripe decodes and re-encodes, as before stripes could copy."""
    import pyarrow as pa

    from orc_spark.sources import orcwriter
    if source == "added_column":
        t, path = _one_file_table(spark, tmp_path)
        orctable.add_column(t, "c", "string")
        plan = orctable._pred_plan([("v", "between", HIT)], True)
        args = ({"c": "z"}, {"c": "string"})
    else:
        path = str(tmp_path / "union.orc")
        tags = pa.array([0, 1] * 1600, pa.int8())
        u = pa.UnionArray.from_sparse(tags, [
            pa.array(range(3200), pa.int64()),
            pa.array([str(i) for i in range(3200)])])
        orcwriter.write_orc(pa.table({"v": pa.array(range(3200),
                                                    pa.int32()),
                                      "u": u}),
                            path, stripe_rows=400)
        plan = orctable._pred_plan([("v", "between", HIT)], False)
        args = ()
    src = _stripe_ranges(path)
    calls = _count_decodes(monkeypatch)
    res = orctable._cow_rewrite(path, plan, "probe.orc", str(tmp_path),
                                *args)
    assert sorted(calls) == list(range(8))
    got = _stripe_ranges(str(tmp_path / "probe.orc"))
    assert not set(got) & set(src)
    assert res["n_rows"] == 3200 - (11 if source == "union" else 0)


@pytest.mark.parametrize("typ", ["char(4)", "varchar(8)"])
def test_update_backfill_keeps_char_varchar(spark, tmp_path, typ):
    """A backfill UPDATE of a char/varchar column ADDed after the
    file was written keeps the declared kind in the rewritten footer
    and the manifest entry (it used to say string)."""
    from orc_spark import orctypes
    t, _ = _sorted_table(spark, tmp_path, n=100, files=1)
    orctable.add_column(t, "c", typ)
    snap = orctable.update_table(spark, t, set={"c": "ab"})
    [e] = orctable.manifest_entries(t, snap)
    assert e["type"] == f"struct<v:int,tag:string,c:{typ}>"
    assert orctypes.orc_string_from_file(
        os.path.join(t, e["path"])) == e["type"]
    assert {r["c"] for r in orctable.read_table(spark, t).collect()} \
        == {"ab"}


def test_dml_rewrite_keeps_timestamps(spark, tmp_path):
    """Rewritten files keep a timestamp column's kind and value, in
    re-encoded and in copied stripes (they used to become bigint
    nanos that read back as year-51969 timestamps), and a MERGE
    matches on a timestamp key."""
    import datetime as dt
    t = str(tmp_path / "tts")
    orctable.create_table(t, "struct<v:int,ts:timestamp>")
    orctable.write_table(spark.range(0, 100, 1, 1).selectExpr(
        "CAST(id AS INT) AS v",
        "TIMESTAMP_NTZ'2020-01-01 00:00:00' + "
        "make_interval(0, 0, 0, 0, 0, 0, id + 0.25) AS ts"), t,
        stripe_rows=50)
    want = {r["v"]: r["ts"] for r in orctable.read_table(spark, t)
            .collect()}
    assert want[3] == dt.datetime(2020, 1, 1, 0, 0, 3, 250000)
    orctable.delete_from(spark, t, ("v", "==", 3))
    orctable.update_table(spark, t, set={"ts": dt.datetime(2021, 1, 1)},
                          predicate=("v", "==", 60))
    key = dt.datetime(2020, 1, 1, 0, 0, 10, 250000)
    snap = orctable.merge_table(spark, t, spark.createDataFrame(
        [(-1, key)], "v int, ts timestamp_ntz"), on="ts")
    assert snap["summary"]["matched_rows"] == 1  # the keys used to miss
    del want[3], want[10]
    want[60] = dt.datetime(2021, 1, 1)
    want[-1] = key
    snap = orctable.load_snapshot(t)
    assert {e["type"] for e in orctable.manifest_entries(t, snap)} == \
        {"struct<v:int,ts:timestamp>"}
    got = {r["v"]: r["ts"] for r in orctable.read_table(spark, t)
           .collect()}
    assert got == want
