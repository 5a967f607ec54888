"""Structured Streaming: file-stream encode with availableNow trigger,
streaming checkpoint restart, and watermarked windowed metrics."""

import pytest

from pyspark.sql import functions as F

from orc_spark.operators import encode as enc_ops
from orc_spark.sources import tokens as token_src
from orc_spark.streaming import encode_stream

SF_DIR = "/root/testdata/sf0.001"


def test_stream_encode_available_now(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    tok = token_src.token_table(spark, SF_DIR)
    tok.repartition(3).write.parquet(inp)

    q = encode_stream.encode_stream(spark, inp, out,
                                    max_files_per_trigger=2)
    q.awaitTermination(120)
    enc = spark.read.parquet(f"{out}/stripes")
    assert enc.agg(F.sum("n_rows")).collect()[0][0] == 500
    dec = enc_ops.decode(enc.drop("batch_id"))
    assert dec.count() == 500
    audit = spark.read.parquet(f"{out}/stream_audit")
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == 500

    # restart with the same checkpoint: no new files -> no duplicates
    q2 = encode_stream.encode_stream(spark, inp, out)
    q2.awaitTermination(60)
    enc2 = spark.read.parquet(f"{out}/stripes")
    assert enc2.agg(F.sum("n_rows")).collect()[0][0] == 500


def test_stream_corrupt_audit_raises(spark, tmp_path):
    """The replay check reads a MISSING audit table as "batch not yet
    done"; a corrupt audit file fails the query instead."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    tok = token_src.token_table(spark, SF_DIR).limit(50)
    tok.write.parquet(inp)
    encode_stream.encode_stream(spark, inp, out).awaitTermination(120)
    with open(f"{out}/stream_audit/part-99999-corrupt.parquet",
              "wb") as fh:
        fh.write(b"not a parquet file")
    tok.write.mode("append").parquet(inp)  # one more micro-batch
    q = encode_stream.encode_stream(spark, inp, out)
    with pytest.raises(Exception, match="corrupt"):
        q.awaitTermination(120)


def test_token_rate_metrics_batch_semantics(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    m = encode_stream.token_rate_metrics(events, window="10 minutes")
    rows = m.collect()
    assert sum(r["n_events"] for r in rows) == events.count()
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_stateful_dedup_stream_cross_batch(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates arriving in DIFFERENT
    micro-batches merge into one fingerprint state; the drained
    stream's latest state equals the batch dedup answer."""
    from orc_spark.streaming import dedup_stream
    rows = [(i, f"text number {i % 30}") for i in range(90)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    # 6 files; copies of each text land in different files
    docs.repartition(6).write.parquet(inp)
    q = dedup_stream.dedup_stream(spark, inp, out, docs.schema,
                                  max_files_per_trigger=1)
    q.awaitTermination(300)
    got = {r["fp"]: (r["dup_count"], r["keep_doc_id"])
           for r in dedup_stream.latest_state(spark, out).collect()}
    from orc_spark.streaming.dedup_stream import with_fingerprint
    want = {r["fp"]: (r["dup_count"], r["keep_doc_id"])
            for r in with_fingerprint(docs).groupBy("fp")
            .agg(F.count("*").alias("dup_count"),
                 F.min("doc_id").alias("keep_doc_id")).collect()}
    assert got == want
    assert len(got) == 30 and all(c == 3 for c, _ in got.values())
    # state genuinely crossed batches: some fp was updated in >1 batch
    upd = spark.read.parquet(str(tmp_path / "out" / "updates"))
    multi = upd.groupBy("fp").agg(
        F.countDistinct("batch_id").alias("nb")).where("nb > 1").count()
    assert multi > 0


def test_stateful_dedup_stream_restart_recovers_state(spark, tmp_path):
    """State survives a full query RESTART: after the first stream
    drains, more files (with more copies) arrive; a second
    dedup_stream run on the same checkpoint resumes the per-fp state,
    so final counts cover both runs."""
    from orc_spark.streaming import dedup_stream
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    first = spark.createDataFrame(
        [(i, f"doc body {i % 10}") for i in range(30)],
        "doc_id long, text string")
    first.repartition(2).write.parquet(inp)
    q = dedup_stream.dedup_stream(spark, inp, out, first.schema,
                                  max_files_per_trigger=1)
    q.awaitTermination(300)
    second = spark.createDataFrame(
        [(100 + i, f"doc body {i % 10}") for i in range(20)],
        "doc_id long, text string")
    second.repartition(2).write.mode("append").parquet(inp)
    q2 = dedup_stream.dedup_stream(spark, inp, out, first.schema,
                                   max_files_per_trigger=1)
    q2.awaitTermination(300)
    got = {r["fp"]: (r["dup_count"], r["keep_doc_id"])
           for r in dedup_stream.latest_state(spark, out).collect()}
    both = first.unionByName(second)
    want = {r["fp"]: (r["dup_count"], r["keep_doc_id"])
            for r in dedup_stream.with_fingerprint(both).groupBy("fp")
            .agg(F.count("*").alias("dup_count"),
                 F.min("doc_id").alias("keep_doc_id")).collect()}
    assert got == want  # counts span BOTH runs -> state was recovered
    assert all(c == 5 for c, _ in got.values())  # 3 + 2 copies per text


def test_near_dedup_stream_equals_batch(spark, tmp_path):
    """Drained streaming near-dup candidates, exactly verified, equal
    the batch minhash_lsh_pairs answer on the same corpus."""
    from orc_spark.functions import dedup
    from orc_spark.streaming import dedup_stream
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").limit(80)
    near = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 50_000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"))
    corpus = dedup.collapse_exact(docs.unionByName(near)).cache()
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    corpus.repartition(4).write.parquet(inp)
    q = dedup_stream.near_dedup_stream(spark, inp, out, corpus.schema,
                                       max_files_per_trigger=1)
    assert q.awaitTermination(180)
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
           dedup_stream.verified_near_pairs(
               spark, out, corpus, min_jaccard=0.4).collect()}
    want = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
            dedup.minhash_lsh_pairs(corpus, min_jaccard=0.4,
                                    pre_collapse=False)
            .select("doc_a", "doc_b", "jaccard").collect()}
    assert got == want
    assert len(want) >= 10
    corpus.unpersist()


def test_dedup_stream_ttl_horizon_readmits(spark, tmp_path):
    """r4 lazy-horizon mode (availableNow): a fingerprint idle past
    ttl_ms is RESET when it re-arrives — the late duplicate re-admits
    as a NEW document (count restarts, keep_doc_id moves to the late
    arrival).  Without ttl the same replay keeps all-time counts."""
    import time
    from orc_spark.streaming import dedup_stream

    def run(ttl_ms, base):
        inp, out = str(base / "in"), str(base / "out")
        first = spark.createDataFrame(
            [(1, "alpha body"), (2, "alpha body"), (3, "beta body")],
            "doc_id long, text string")
        first.coalesce(1).write.parquet(inp)
        q = dedup_stream.dedup_stream(spark, inp, out, first.schema,
                                      ttl_ms=ttl_ms)
        assert q.awaitTermination(300)
        time.sleep(1.5)  # idle past the 1s horizon
        late = spark.createDataFrame(
            [(9, "alpha body")], "doc_id long, text string")
        late.coalesce(1).write.mode("append").parquet(inp)
        q2 = dedup_stream.dedup_stream(spark, inp, out, first.schema,
                                       ttl_ms=ttl_ms)
        assert q2.awaitTermination(300)
        states = dedup_stream.latest_state(spark, out).collect()
        return {r["keep_doc_id"]: r["dup_count"] for r in states}

    got = run(1000, tmp_path / "ttl")
    assert got.get(9) == 1, got   # re-admitted as new
    assert got.get(3) == 1, got   # untouched fp unaffected
    # no ttl: identical replay keeps the all-time count (keep=1, n=3)
    got_exact = run(None, tmp_path / "exact")
    assert got_exact.get(1) == 3, got_exact
    assert 9 not in got_exact, got_exact


def test_dedup_stream_ttl_engine_eviction(spark, tmp_path):
    """r4 eviction mode (processing_trigger): with a continuously-
    running query, GroupStateTimeout.ProcessingTimeTimeout physically
    evicts idle fingerprints — the update log records a tombstone
    (dup_count=0, keep_doc_id NULL) — and a later duplicate re-admits
    as new."""
    import time
    from orc_spark.streaming import dedup_stream
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    first = spark.createDataFrame(
        [(1, "alpha body"), (2, "alpha body")],
        "doc_id long, text string")
    first.coalesce(1).write.parquet(inp)
    q = dedup_stream.dedup_stream(
        spark, inp, out, first.schema, ttl_ms=1500,
        processing_trigger="1 second")
    try:
        def poll(cond, desc, timeout_s=90):
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                try:
                    upd = spark.read.parquet(
                        str(tmp_path / "out" / "updates"))
                    if cond(upd):
                        return
                except Exception:
                    pass  # no updates written yet
                time.sleep(1)
            raise AssertionError(f"timed out waiting for {desc}")

        poll(lambda u: u.where("dup_count = 2").count() > 0,
             "initial state")
        # idle -> engine fires the timeout -> tombstone appended
        poll(lambda u: u.where(
            "dup_count = 0 AND keep_doc_id IS NULL").count() > 0,
            "eviction tombstone")
        # late duplicate re-admits as NEW (count restarts at 1,
        # keeper is the late doc)
        spark.createDataFrame([(9, "alpha body")],
                              "doc_id long, text string")             .coalesce(1).write.mode("append").parquet(inp)
        poll(lambda u: u.where(
            "dup_count = 1 AND keep_doc_id = 9").count() > 0,
            "re-admission after eviction")
    finally:
        q.stop()


def test_near_dedup_stream_ttl_bucket_forgets(spark, tmp_path):
    """r4: with ttl_ms, an idle LSH bucket forgets its members — a
    near-duplicate arriving after the horizon emits NO pair with
    pre-horizon docs (lazy mode under availableNow)."""
    import time
    from orc_spark.streaming import dedup_stream

    def run(ttl_ms, base):
        inp, out = str(base / "in"), str(base / "out")
        first = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string")
        first.coalesce(1).write.parquet(inp)
        q = dedup_stream.near_dedup_stream(
            spark, inp, out, first.schema, ttl_ms=ttl_ms)
        assert q.awaitTermination(300)
        time.sleep(1.5)
        late = spark.createDataFrame(
            [(9, "alpha beta gamma delta epsilon zeta eta thet")],
            "doc_id long, text string")
        late.coalesce(1).write.mode("append").parquet(inp)
        q2 = dedup_stream.near_dedup_stream(
            spark, inp, out, first.schema, ttl_ms=ttl_ms)
        assert q2.awaitTermination(300)
        import glob as g
        if not g.glob(str(base / "out" / "pairs" / "*.parquet")):
            return set()
        return {(r["doc_a"], r["doc_b"]) for r in
                spark.read.parquet(str(base / "out" / "pairs"))
                .distinct().collect()}

    # no ttl: the late near-dup pairs with the pre-horizon doc
    assert (1, 9) in run(None, tmp_path / "exact")
    # 1s horizon, 1.5s idle: bucket forgot -> no pair
    assert (1, 9) not in run(1000, tmp_path / "ttl")
