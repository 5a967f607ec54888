"""Metadata tables (.files/.manifests/.partitions) and named tags
on snapshot-managed tables (sources/orctable.py r5 session 5)."""

import json
import os

import pytest

from orc_spark.sources import orctable
from orc_spark.sources.orcfile import ORCFile


def _df(spark, lo, hi, parts=1):
    return spark.range(lo, hi, 1, parts) \
        .selectExpr("CAST(id AS INT) AS v",
                    "CAST(id AS STRING) AS tag")


def test_metadata_tables_no_data_file_opens(spark, tmp_path,
                                            monkeypatch):
    t = str(tmp_path / "t")
    orctable.create_table(t, "struct<v:int,tag:string>",
                          partition_by=["bucket(4, tag)"])
    orctable.write_table(_df(spark, 0, 200), t)
    orctable.write_table(_df(spark, 200, 300), t)
    opened = []
    real_init = ORCFile.__init__

    def spy(self, path):
        opened.append(path)
        real_init(self, path)

    monkeypatch.setattr(ORCFile, "__init__", spy)
    files = orctable.table_files(spark, t).collect()
    mans = orctable.table_manifests(spark, t).collect()
    parts = orctable.table_partitions(spark, t).collect()
    assert opened == []  # manifests only, never a data file
    assert sum(r["n_rows"] for r in files) == 300
    assert all(r["codec"] == "zlib" for r in files)
    assert len(mans) == 2  # one manifest per append
    assert sum(r["n_rows"] for r in mans) == 300
    # partitions: 4 buckets, totals conserve rows, and stats ride
    assert sum(r["n_rows"] for r in parts) == 300
    assert {json.loads(r["partition"])["bucket(4,tag)"]
            for r in parts} <= {0, 1, 2, 3}
    st = json.loads(files[0]["stats"])
    assert "v" in st and "min" in st["v"]


def test_metadata_tables_time_travel(spark, tmp_path):
    t = str(tmp_path / "t2")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100), t)   # v1
    orctable.write_table(_df(spark, 100, 250), t)  # v2
    assert orctable.table_files(spark, t, snapshot=1).count() == 1
    assert orctable.table_files(spark, t).count() == 2
    v1 = orctable.table_partitions(spark, t, snapshot=1).collect()
    assert sum(r["n_rows"] for r in v1) == 100


def test_tag_read_and_pinning(spark, tmp_path):
    t = str(tmp_path / "t3")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100), t)
    ref = orctable.tag_snapshot(t, "train-run-7")
    assert ref == {"tag": "train-run-7", "version": 1}
    orctable.write_table(_df(spark, 100, 300), t)
    orctable.delete_from(spark, t, ("v", "<", 50))
    # the tag still reads the exact v1 state
    got = orctable.read_table(spark, t, snapshot="train-run-7")
    assert sorted(r["v"] for r in got.collect()) == list(range(100))
    assert orctable.table_count(spark, t,
                                snapshot="train-run-7") == 100
    # latest unaffected
    assert orctable.table_count(spark, t) == 250
    tags = {r["tag"]: r["version"]
            for r in orctable.list_tags(spark, t).collect()}
    assert tags == {"train-run-7": 1}
    with pytest.raises(ValueError, match="no tag"):
        orctable.read_table(spark, t, snapshot="nope")


def test_expire_keeps_tagged_snapshots(spark, tmp_path):
    t = str(tmp_path / "t4")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100), t)     # v1
    orctable.tag_snapshot(t, "pinned")              # -> v1
    orctable.write_table(_df(spark, 100, 200), t)   # v2
    orctable.write_table(_df(spark, 200, 300), t)   # v3
    res = orctable.expire_snapshots(t, keep_last=1)
    # v0 and v2 expire; v1 survives via the tag, v3 via keep_last
    assert res["removed_snapshots"] == 2
    assert orctable.read_table(
        spark, t, snapshot="pinned").count() == 100
    assert orctable.read_table(spark, t).count() == 300
    # drop the tag: the next expire reclaims v1
    orctable.drop_tag(t, "pinned")
    res = orctable.expire_snapshots(t, keep_last=1)
    assert res["removed_snapshots"] == 1
    with pytest.raises(ValueError, match="no snapshot"):
        orctable.load_snapshot(t, 1)


def test_drop_tag_missing_raises(spark, tmp_path):
    t = str(tmp_path / "t5")
    orctable.create_table(t, "struct<v:int>")
    with pytest.raises(ValueError, match="no tag"):
        orctable.drop_tag(t, "ghost")


# ------------------------------------------------------------------
# streaming sink
# ------------------------------------------------------------------


def test_stream_write_table_exactly_once(spark, tmp_path):
    """File-source stream appends into a snapshot table one atomic
    commit per micro-batch; a checkpoint restart with no new input
    appends nothing; a manually replayed batch id skips."""
    inp = str(tmp_path / "in")
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    orctable.create_table(t, "struct<v:int,tag:string>")
    _df(spark, 0, 300).repartition(3).write.parquet(inp)

    stream = (spark.readStream
              .schema("v int, tag string")
              .option("maxFilesPerTrigger", 1).parquet(inp))
    q = orctable.stream_write_table(stream, t, ckpt, query="ingest")
    q.awaitTermination(120)
    assert orctable.table_count(spark, t) == 300
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(300))
    hist = orctable.table_history(spark, t).collect()
    appends = [r for r in hist if r["operation"] == "append"]
    assert len(appends) >= 2  # one commit per micro-batch
    # every append commit carries its stream batch id
    for r in appends:
        s = orctable.load_snapshot(t, r["version"])
        assert s["summary"]["stream"]["query"] == "ingest"
    assert orctable._last_stream_batch(t, "ingest") is not None

    # restart on the same checkpoint: no new files, no new rows
    q2 = orctable.stream_write_table(stream, t, ckpt, query="ingest")
    q2.awaitTermination(60)
    assert orctable.table_count(spark, t) == 300

    # new input appends incrementally and changelog sees only it
    v = orctable.current_version(t)
    _df(spark, 300, 350).coalesce(1).write.mode("append").parquet(inp)
    q3 = orctable.stream_write_table(stream, t, ckpt, query="ingest")
    q3.awaitTermination(60)
    assert orctable.table_count(spark, t) == 350
    delta = orctable.read_table_changes(spark, t, from_version=v)
    assert sorted(r["v"] for r in delta.collect()) == \
        list(range(300, 350))

    # crash-between-commit-and-checkpoint replay: re-delivering an
    # already-committed batch id must be a no-op (drive the sink
    # callback directly with a stale id)
    last = orctable._last_stream_batch(t, "ingest")
    v = orctable.current_version(t)
    batch = _df(spark, 900, 950)
    assert orctable._stream_sink_once(batch, last, t, "ingest") \
        is False
    assert orctable.current_version(t) == v
    assert orctable.table_count(spark, t) == 350
    # ...and a genuinely new id commits
    assert orctable._stream_sink_once(batch, last + 1, t, "ingest") \
        is True
    assert orctable.table_count(spark, t) == 400


def test_stream_replay_guard_is_run_scoped(spark, tmp_path):
    """r6 fix (ADVICE r5 #2): the replay guard must not mistake a
    fresh-checkpoint restart (batch ids restart at 0) for a replay —
    a DIFFERENT run identity appends; the SAME run identity skips ids
    at or below its high-water mark; and with no run identity
    recorded, an id strictly below the mark raises instead of
    silently dropping the batch."""
    import pytest as _pt
    t = str(tmp_path / "runs")
    orctable.create_table(t, "struct<v:int,tag:string>")
    batch = _df(spark, 0, 10)
    # run A commits batches 0 and 1
    assert orctable._stream_sink_once(batch, 0, t, "q", run="ckptA")
    assert orctable._stream_sink_once(batch, 1, t, "q", run="ckptA")
    assert orctable.table_count(spark, t) == 20
    # replay within run A: skip
    assert orctable._stream_sink_once(batch, 1, t, "q",
                                      run="ckptA") is False
    assert orctable._stream_sink_once(batch, 0, t, "q",
                                      run="ckptA") is False
    # fresh checkpoint = run B, ids restart at 0: MUST append
    assert orctable._stream_sink_once(batch, 0, t, "q", run="ckptB")
    assert orctable.table_count(spark, t) == 30
    # legacy caller (no run) against a below-high-water id: loud error
    t2 = str(tmp_path / "legacy")
    orctable.create_table(t2, "struct<v:int,tag:string>")
    assert orctable._stream_sink_once(batch, 0, t2, "q")
    assert orctable._stream_sink_once(batch, 1, t2, "q")
    assert orctable._stream_sink_once(batch, 1, t2, "q") is False
    with _pt.raises(ValueError, match="high-water"):
        orctable._stream_sink_once(batch, 0, t2, "q")


# ------------------------------------------------------------------
# sort-order rewrite
# ------------------------------------------------------------------


def test_rewrite_sorted_makes_pruning_selective(spark, tmp_path):
    """Ingestion-order files all overlap a range predicate; after
    rewrite_sorted the file ranges are disjoint and manifest stats
    prune to one file.  Rows, values and the changelog contract are
    preserved."""
    from orc_spark.predicates import normalize
    t = str(tmp_path / "ts")
    orctable.create_table(t, "struct<v:int,tag:string>")
    # interleaved writes: every file spans nearly the full v range
    for k in range(4):
        df = spark.range(k, 1000, 4, 1).selectExpr(
            "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag")
        orctable.write_table(df, t)
    preds = normalize(("v", "between", (100, 120)))
    snap0 = orctable.load_snapshot(t)
    spec = orctable._parse_spec(snap0.get("spec", []))
    before = [e for e in orctable.manifest_entries(t, snap0)
              if orctable._entry_survives(e, preds, spec)]
    assert len(before) == 4  # every unsorted file overlaps
    snap = orctable.rewrite_sorted(spark, t, ["v"],
                                   target_bytes=1 << 10)
    assert snap["operation"] == "replace"
    assert snap["summary"]["sorted_by"] == ["v"]
    entries = orctable.manifest_entries(t, snap)
    assert len(entries) >= 3  # target_bytes split the output
    after = [e for e in entries
             if orctable._entry_survives(e, preds, spec)]
    assert len(after) == 1  # disjoint ranges: one file survives
    # row preservation, exact values
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(1000))
    # row-preserving replace: changelog across it stays readable
    orctable.write_table(
        spark.range(1000, 1010, 1, 1).selectExpr(
            "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag"), t)
    delta = orctable.read_table_changes(spark, t, from_version=4)
    assert sorted(r["v"] for r in delta.collect()) == \
        list(range(1000, 1010))
    # time travel to the unsorted layout still works
    assert orctable.read_table(
        spark, t, snapshot=snap0["version"]).count() == 1000


def test_rewrite_sorted_partitioned_sorts_within_tuples(spark,
                                                        tmp_path):
    """On a bucketed table the rewrite keeps one partition tuple per
    file and sorts inside each tuple; pruning by the partition key
    AND the sort key both work."""
    t = str(tmp_path / "tsp")
    orctable.create_table(t, "struct<v:int,tag:string>",
                          partition_by=["bucket(4, tag)"])
    for k in range(2):
        df = spark.range(k, 400, 2, 1).selectExpr(
            "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag")
        orctable.write_table(df, t)
    snap = orctable.rewrite_sorted(spark, t, ["v"])
    entries = orctable.manifest_entries(t, snap)
    assert all(e.get("partition") for e in entries)
    assert len(entries) == 4  # one per bucket again
    got = sorted(r["v"] for r in orctable.read_table(spark, t)
                 .collect())
    assert got == list(range(400))
    # equality lookup on the bucket key still prunes to one file
    from orc_spark.predicates import normalize
    preds = normalize(("tag", "==", "123"))
    spec = orctable._parse_spec(snap.get("spec", []))
    alive = [e for e in entries
             if orctable._entry_survives(e, preds, spec)]
    assert len(alive) == 1


def test_rewrite_sorted_validation(spark, tmp_path):
    t = str(tmp_path / "tsv")
    orctable.create_table(t, "struct<v:int>")
    assert orctable.rewrite_sorted(spark, t, ["v"]) == \
        orctable.load_snapshot(t)  # empty table: no-op
    orctable.write_table(
        spark.range(5).selectExpr("CAST(id AS INT) AS v"), t)
    with pytest.raises(ValueError, match="not in table schema"):
        orctable.rewrite_sorted(spark, t, ["nope"])
    with pytest.raises(ValueError, match="at least one"):
        orctable.rewrite_sorted(spark, t, [])


# ------------------------------------------------------------------
# DataSource table mode
# ------------------------------------------------------------------


def test_datasource_table_mode_reads_snapshot(spark, tmp_path):
    """spark.read.format('orc_spark').option('table', dir): schema
    from the snapshot (zero file I/O at inference), time travel via
    the snapshot option (version int or tag), evolved files decode
    name-based under the declared widened schema, and SQL works over
    a registered temp view."""
    from orc_spark.sources import datasource
    datasource.register(spark)
    t = str(tmp_path / "tds")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 200), t)          # v1
    orctable.tag_snapshot(t, "first")
    # evolved append: extra column widens the declared schema
    df2 = spark.range(200, 300, 1, 1).selectExpr(
        "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag",
        "CAST(id * 2 AS LONG) AS extra")
    orctable.write_table(df2, t)                          # v2

    cur = (spark.read.format("orc_spark").option("table", t).load())
    assert set(cur.columns) == {"v", "tag", "extra"}
    rows = {r["v"]: r for r in cur.collect()}
    assert len(rows) == 300
    assert rows[0]["extra"] is None        # old file null-fills
    assert rows[250]["extra"] == 500
    # predicate + projection through the source
    sel = (spark.read.format("orc_spark").option("table", t)
           .option("columns", "v").load().where("v >= 290"))
    assert sel.columns == ["v"] and sel.count() == 10
    # time travel: by version int and by tag
    v1 = (spark.read.format("orc_spark").option("table", t)
          .option("snapshot", "1").load())
    assert v1.count() == 200 and set(v1.columns) == {"v", "tag"}
    tagd = (spark.read.format("orc_spark").option("table", t)
            .option("snapshot", "first").load())
    assert tagd.count() == 200
    # SQL over the table surface
    cur.createOrReplaceTempView("lake")
    got = spark.sql(
        "SELECT COUNT(*) AS n, SUM(extra) AS s FROM lake "
        "WHERE v >= 200").collect()[0]
    assert got["n"] == 100 and got["s"] == sum(2 * v for v in
                                               range(200, 300))


def test_datasource_table_mode_pins_snapshot_at_analysis(spark,
                                                         tmp_path):
    """r6 fix (ADVICE r5 #4): with no snapshot option, the version
    resolved when Spark negotiates the schema (analysis) is pinned
    into the reader options, so a commit landing between analysis and
    planning cannot make the reader decode under a different schema /
    file set than the one negotiated."""
    from orc_spark.sources import datasource
    datasource.register(spark)
    t = str(tmp_path / "pin")
    orctable.create_table(t, "struct<v:int,tag:string>")
    orctable.write_table(_df(spark, 0, 100), t)          # v1
    df = spark.read.format("orc_spark").option("table", t).load()
    _ = df.schema                       # analysis resolves + pins v1
    # concurrent commit before any action: schema change + more rows
    orctable.add_column(t, "extra", "bigint")
    orctable.write_table(
        spark.range(100, 150, 1, 1).selectExpr(
            "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag",
            "id * 2 AS extra"), t)                        # v3
    # the pinned frame still answers from the analysis-time snapshot
    assert df.count() == 100
    assert set(df.columns) == {"v", "tag"}
    # a fresh read sees the new snapshot
    cur = spark.read.format("orc_spark").option("table", t).load()
    assert cur.count() == 150 and "extra" in cur.columns


def test_datasource_table_mode_validation(spark, tmp_path):
    from orc_spark.sources import datasource
    datasource.register(spark)
    t = str(tmp_path / "tdsv")
    orctable.create_table(t, "struct<v:int>")
    orctable.write_table(
        spark.range(5).selectExpr("CAST(id AS INT) AS v"), t)
    # empty table at an old snapshot: empty frame, right schema
    empty = (spark.read.format("orc_spark").option("table", t)
             .option("snapshot", "0").load())
    assert empty.count() == 0 and empty.columns == ["v"]
    with pytest.raises(Exception, match="no tag"):
        (spark.read.format("orc_spark").option("table", t)
         .option("snapshot", "ghost").load()).collect()


def test_datasource_table_mode_write_append_overwrite(spark,
                                                      tmp_path):
    """df.write.format('orc_spark').option('table', dir): every save
    is ONE atomic snapshot — append widens the table schema through
    orctypes.widen and accumulates; overwrite replaces file set and
    schema; time travel still reproduces the pre-overwrite rows."""
    from orc_spark.sources import datasource
    datasource.register(spark)
    t = str(tmp_path / "tw")
    orctable.create_table(t, "struct<v:int,tag:string>")
    _df(spark, 0, 100, 2).write.format("orc_spark") \
        .option("table", t).mode("append").save()             # v1
    spark.range(100, 150, 1, 1).selectExpr(
        "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag",
        "CAST(id * 3 AS LONG) AS extra").write \
        .format("orc_spark").option("table", t) \
        .mode("append").save()                                # v2
    cur = spark.read.format("orc_spark").option("table", t).load()
    assert set(cur.columns) == {"v", "tag", "extra"}
    assert cur.count() == 150
    assert cur.where("extra = 300").count() == 1
    assert cur.where("v < 100").where("extra IS NULL").count() == 100
    _df(spark, 0, 10).write.format("orc_spark") \
        .option("table", t).mode("overwrite").save()          # v3
    now = spark.read.format("orc_spark").option("table", t).load()
    assert now.count() == 10 and set(now.columns) == {"v", "tag"}
    v2 = (spark.read.format("orc_spark").option("table", t)
          .option("snapshot", "2").load())
    assert v2.count() == 150 and "extra" in v2.columns
    ops = {r["version"]: r["operation"]
           for r in orctable.table_history(spark, t).collect()}
    assert ops[1] == "append" and ops[2] == "append" \
        and ops[3] == "overwrite"


def test_datasource_table_mode_write_partitioned(spark, tmp_path):
    """A partitioned table written through the DataSource gets exact
    per-tuple data files (manifest partition pruning works on them),
    and a frame missing a partition column is rejected driver-side."""
    from orc_spark.sources import datasource
    datasource.register(spark)
    t = str(tmp_path / "twp")
    orctable.create_table(t, "struct<v:int,src:string>",
                          partition_by=["src"])
    spark.range(0, 400, 1, 2).selectExpr(
        "CAST(id AS INT) AS v",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS src") \
        .write.format("orc_spark").option("table", t) \
        .mode("append").save()
    snap = orctable.load_snapshot(t)
    entries = orctable.manifest_entries(t, snap)
    assert entries and all(
        e["partition"]["identity(src)"] in ("a", "b")
        for e in entries)
    parts = {json.loads(r["partition"])["identity(src)"]: r["n_rows"]
             for r in orctable.table_partitions(spark, t).collect()}
    assert parts == {"a": 200, "b": 200}
    got = (spark.read.format("orc_spark").option("table", t)
           .load().where("src = 'a'"))
    assert got.count() == 200
    with pytest.raises(Exception, match="partition column"):
        spark.range(3).selectExpr("CAST(id AS INT) AS v").write \
            .format("orc_spark").option("table", t) \
            .mode("append").save()


def test_datasource_table_writer_atomicity_and_abort(spark,
                                                     tmp_path):
    """Direct protocol drive: nothing is visible before commit()
    (files in data/ are unreferenced), abort() sweeps this job's
    files by prefix, concurrent APPEND jobs prepared against the
    same base both land (rebase), and an OVERWRITE prepared against
    a moved table conflicts loudly."""
    import pyarrow as pa

    from orc_spark.sources import datasource as ds
    t = str(tmp_path / "twa")
    orctable.create_table(t, "struct<v:int>")
    schema = spark.range(1).selectExpr("CAST(id AS INT) AS v").schema

    def batches(vals):
        return iter(pa.table(
            {"v": pa.array(vals, pa.int32())}).to_batches())

    w = ds.OrcTableWriter({"table": t}, False, schema)
    msg = w.write(batches([1, 2, 3]))
    assert os.listdir(os.path.join(t, "data"))      # bytes on disk
    assert orctable.load_snapshot(t)["version"] == 0  # invisible
    w.abort([msg, None])
    assert os.listdir(os.path.join(t, "data")) == []

    wa = ds.OrcTableWriter({"table": t}, False, schema)
    wb = ds.OrcTableWriter({"table": t}, False, schema)  # same base
    wo = ds.OrcTableWriter({"table": t}, True, schema)   # overwrite
    ma = wa.write(batches([1, 2, 3]))
    me = wa.write(iter([]))                # empty task: no file
    mb = wb.write(batches([4, 5]))
    wa.commit([ma, me])
    wb.commit([mb])                        # append rebases: no clash
    snap = orctable.load_snapshot(t)
    assert snap["version"] == 2 and snap["summary"]["n_rows"] == 5
    mo = wo.write(batches([9]))
    with pytest.raises(orctable.CommitConflict):
        wo.commit([mo])                    # table moved under it


def test_datasource_table_stream_sink_exactly_once(spark, tmp_path):
    """df.writeStream.format('orc_spark').option('table', dir): one
    atomic append snapshot per micro-batch with the batch id in the
    summary; a replayed batch id sweeps its files and skips (no
    double append), matching stream_write_table's convention."""
    import pyarrow as pa

    from orc_spark.sources import datasource
    from orc_spark.sources import datasource as ds
    datasource.register(spark)
    t = str(tmp_path / "tss")
    orctable.create_table(t, "struct<id:bigint,txt:string>")
    pin = str(tmp_path / "pin")
    spark.range(0, 1000).selectExpr(
        "id", "cast(id as string) as txt") \
        .coalesce(2).write.parquet(pin)
    q = (spark.readStream.schema("id long, txt string").parquet(pin)
         .writeStream.format("orc_spark").option("table", t)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    snap = orctable.load_snapshot(t)
    assert snap["operation"] == "append"
    assert snap["summary"]["stream"]["batch_id"] == 0
    got = orctable.read_table(spark, t).selectExpr(
        "count(*) c", "sum(id) s").collect()[0]
    assert (got["c"], got["s"]) == (1000, 999 * 1000 // 2)
    # direct replay of batch 0: swept + skipped, not duplicated
    schema = spark.range(1).selectExpr(
        "id", "cast(id as string) as txt").schema
    w = ds.OrcTableStreamWriter({"table": t}, False, schema)
    n_files = len(os.listdir(os.path.join(t, "data")))
    msg = w.write(iter(pa.table(
        {"id": [1, 2], "txt": ["a", "b"]}).to_batches()))
    w.commit([msg], 0)
    assert orctable.load_snapshot(t)["version"] == snap["version"]
    assert len(os.listdir(os.path.join(t, "data"))) == n_files
    # a NEW batch id commits
    msg2 = w.write(iter(pa.table(
        {"id": [7], "txt": ["z"]}).to_batches()))
    w.commit([msg2], 1)
    assert orctable.read_table(spark, t).count() == 1001
    with pytest.raises(ValueError, match="append-only"):
        ds.OrcTableStreamWriter({"table": t}, True, schema)
