"""End-to-end Spark pipeline tests: encode -> stripe table -> decode,
projection pruning, round-trip verification, checkpoint/resume."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from orc_spark.operators import encode as enc_ops
from orc_spark.operators import checkpoint, verify
from orc_spark.sources import tokens as token_src

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def token_df(spark):
    df = token_src.token_table(spark, SF_DIR)
    df.cache().count()
    return df


def test_token_table_shape(spark, token_df):
    row = token_df.agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("tok")).collect()[0]
    assert row["n"] == 500
    assert row["tok"] > 1000
    assert token_df.schema["tokens"].dataType.elementType.typeName() == \
        "integer"


def test_encode_decode_roundtrip(spark, token_df):
    res = verify.roundtrip_check(token_df).collect()[0]
    assert res["n_rows"] == 500
    assert res["n_match"] == 500
    assert res["n_token_match"] == 500


def test_roundtrip_with_fsst(spark, token_df):
    res = verify.roundtrip_check(token_df, use_fsst=True).collect()[0]
    assert res["n_match"] == res["n_rows"] == 500


def test_stripe_budget_splits(spark, token_df):
    enc = enc_ops.encode(token_df.repartition(2),
                         stripe_rows=100).cache()
    rows = enc.select("n_rows").collect()
    assert all(r["n_rows"] <= 100 for r in rows)
    assert enc.count() >= 5
    total = enc.agg(F.sum("n_rows")).collect()[0][0]
    assert total == 500
    enc.unpersist()


def test_decode_projection_prunes_streams(spark, token_df):
    enc = enc_ops.encode(token_df.repartition(2))
    only_ntok = enc_ops.decode(enc, columns=["n_tok"])
    assert only_ntok.columns == ["n_tok"]
    got = only_ntok.agg(F.sum("n_tok")).collect()[0][0]
    want = token_df.agg(F.sum("n_tok")).collect()[0][0]
    assert got == want


def test_footer_rollup(spark, token_df):
    enc = enc_ops.encode(token_df.repartition(2))
    f = enc_ops.footer(enc).collect()[0]
    assert f["n_rows"] == 500
    assert f["enc_bytes"] > 0
    assert f["bytes_per_token"] < 8.0  # beats raw int32 on text tokens


def test_checkpoint_resume(spark, token_df, tmp_path):
    out = str(tmp_path / "enc")
    r1 = checkpoint.encode_dataset(spark, token_df, out, n_parts=4)
    assert r1["pending"] == 4
    # resume: nothing left to do
    r2 = checkpoint.encode_dataset(spark, token_df, out, n_parts=4)
    assert r2.get("skipped") is True
    # stripes decode back to the full dataset
    enc = spark.read.parquet(f"{out}/stripes")
    dec = enc_ops.decode(enc)
    assert dec.count() == 500
    # audit has lineage for every partition
    audit = spark.read.parquet(f"{out}/audit")
    assert audit.select("part_id").distinct().count() == 4
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == 500


def test_partial_then_resume(spark, token_df, tmp_path):
    out = str(tmp_path / "enc2")
    r1 = checkpoint.encode_dataset(spark, token_df, out, n_parts=4,
                                   batch_parts=2)
    assert r1["pending"] == 2
    r2 = checkpoint.encode_dataset(spark, token_df, out, n_parts=4)
    assert r2["pending"] == 2 and r2["done_before"] == 2
    enc = spark.read.parquet(f"{out}/stripes")
    assert enc_ops.decode(enc).count() == 500


def test_checkpoint_leaves_session_conf_alone(spark, token_df, tmp_path):
    """Dynamic partition overwrite is a per-write option: neither the
    checkpointed encode nor a streaming micro-batch may change the
    caller's session-global partitionOverwriteMode."""
    from orc_spark.streaming import encode_stream
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        checkpoint.encode_dataset(spark, token_df, str(tmp_path / "enc"),
                                  n_parts=2)
        assert spark.conf.get(key) == "STATIC"
        inp = str(tmp_path / "in")
        token_df.limit(50).write.parquet(inp)
        encode_stream.encode_stream(spark, inp, str(tmp_path / "out")) \
            .awaitTermination(120)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)


def test_checkpoint_corrupt_audit_raises(spark, token_df, tmp_path):
    """Only a MISSING audit table means "nothing done yet": a corrupt
    audit file must raise, not silently re-encode every part."""
    out = str(tmp_path / "enc")
    checkpoint.encode_dataset(spark, token_df, out, n_parts=2)
    with open(f"{out}/audit/part-99999-corrupt.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        checkpoint.encode_dataset(spark, token_df, out, n_parts=2)
    assert "corrupt" in str(ei.value)


def test_synthetic_generator_roundtrip(spark):
    df = token_src.synthetic_token_table(spark, n_docs=300, seed=42)
    res = verify.roundtrip_check(df).collect()[0]
    assert res["n_match"] == res["n_rows"] == 300


def test_generic_schema_events_roundtrip(spark):
    """Beyond the token schema: encode/decode an arbitrary table
    (timestamps, doubles, strings) through the Spark pipeline."""
    from orc_spark.stripe import parse_schema
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    specs = parse_schema([
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ])
    enc = enc_ops.encode(events.repartition(2), specs, token_col="event_id")
    dec = enc_ops.decode(enc, specs)
    a = sorted(events.collect(), key=lambda r: r["event_id"])
    b = sorted(dec.collect(), key=lambda r: r["event_id"])
    assert len(a) == len(b) == 1000
    for ra, rb in zip(a, b):
        assert ra == rb


def test_salted_repartition_spreads_hot_group(spark, token_df):
    # make one source dominate, then check salting spreads it
    hot = token_df.withColumn("source", F.lit("hot"))
    salted = enc_ops.salted_repartition(hot, 8, salts=8)
    sizes = salted.rdd.glom().map(len).collect()
    nonempty = [s for s in sizes if s > 0]
    assert len(nonempty) >= 4  # one group spread over several partitions
    assert max(nonempty) < 500  # no single partition holds everything


def test_stripe_pruning_by_stats(spark, token_df):
    """Stats-based stripe skipping: selective decode touches fewer
    stripes but returns exactly the matching rows."""
    # sort so stripes have disjoint n_tok ranges -> pruning can bite
    df = token_df.coalesce(1).sortWithinPartitions("n_tok")
    enc = enc_ops.encode(df, stripe_rows=100).cache()
    n_stripes = enc.count()
    hi_thresh = token_df.approxQuantile("n_tok", [0.9], 0.0)[0]
    pruned = enc_ops.prune_stripes(enc, "n_tok", lo=hi_thresh)
    assert pruned.count() < n_stripes  # skipped cold stripes
    got = enc_ops.decode(pruned).where(F.col("n_tok") >= hi_thresh).count()
    want = token_df.where(F.col("n_tok") >= hi_thresh).count()
    assert got == want
    enc.unpersist()


def test_stride_index_roundtrip_and_pruning(spark, token_df):
    """Row-group stride index: per-stride stats + byte offsets inside
    a stripe; filtered decode touches only qualifying strides and
    matches an unfiltered decode + row filter exactly."""
    from orc_spark import stripe as stripe_mod
    sorted_df = token_df.coalesce(1).sortWithinPartitions("n_tok")
    enc = enc_ops.encode(sorted_df, stride_rows=64)
    rows = enc.collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    idx = stripe_mod.stride_index(row)
    assert idx is not None and len(idx["rows"]) > 3
    # per-stride n_tok min/max are sorted (input was sorted)
    mins = [s["n_tok"]["min"] for s in idx["stats"]]
    assert mins == sorted(mins)
    # full strided decode == original
    full = enc_ops.decode(enc)
    assert full.count() == token_df.count()
    assert full.agg(F.sum("n_tok")).collect()[0][0] == \
        token_df.agg(F.sum("n_tok")).collect()[0][0]
    # pruned decode: only qualifying strides are decoded
    lo = int(token_df.approxQuantile("n_tok", [0.8], 0.01)[0])
    pruned = enc_ops.decode(enc, stride_filter=("n_tok", lo, None)) \
        .where(F.col("n_tok") >= lo)
    want = token_df.where(F.col("n_tok") >= lo)
    assert pruned.count() == want.count()
    assert pruned.agg(F.sum("n_tok")).collect()[0][0] == \
        want.agg(F.sum("n_tok")).collect()[0][0]
    # measured reduction: the kept strides cover < half the stream bytes
    keep = stripe_mod.select_strides(row, "n_tok", lo, None)
    offs = idx["offsets"]["tokens__DATA"]
    kept_bytes = sum(offs[t + 1] - offs[t] for t in keep)
    assert 0 < kept_bytes < 0.5 * offs[-1], (kept_bytes, offs[-1])


def test_stride_decode_bytes_skipped(spark, token_df):
    """decode_stripe_strides only slices the selected byte ranges —
    cross-check the reconstructed rows of a middle stride."""
    from orc_spark import stripe as stripe_mod
    sorted_df = token_df.coalesce(1).sortWithinPartitions("doc_id")
    enc = enc_ops.encode(sorted_df, stride_rows=128)
    row = enc.collect()[0].asDict()
    idx = stripe_mod.stride_index(row)
    specs = stripe_mod.TOKEN_SCHEMA
    t = 1
    part = stripe_mod.decode_stripe_strides(row, specs, keep=[t])
    assert part.num_rows == idx["rows"][t]
    all_rows = stripe_mod.decode_stripe_strides(row, specs)
    lo = sum(idx["rows"][:t])
    assert part.column("doc_id").to_pylist() == \
        all_rows.column("doc_id").to_pylist()[lo:lo + idx["rows"][t]]


def test_decode_predicate_one_call(spark, token_df):
    """decode(predicate=...) = stripe pruning + stride skipping +
    residual filter in ONE call; exact vs the brute-force filter."""
    df = token_df.coalesce(2).sortWithinPartitions("n_tok")
    enc = enc_ops.encode(df, stripe_rows=100, stride_rows=32).cache()
    lo = int(token_df.approxQuantile("n_tok", [0.7], 0.01)[0])
    for pred in [("n_tok", ">=", lo), ("n_tok", "<", lo),
                 ("n_tok", "between", (lo - 5, lo + 5))]:
        got = enc_ops.decode(enc, predicate=pred)
        col, op, val = pred
        want = enc_ops.decode(enc)
        expr = {"<": F.col(col) < val, ">=": F.col(col) >= val}.get(
            op, F.col(col).between(*val) if op == "between" else None)
        want = want.where(expr)
        assert got.count() == want.count(), pred
        assert (got.agg(F.sum("n_tok")).collect()[0][0]
                == want.agg(F.sum("n_tok")).collect()[0][0]), pred
    # projection + predicate: filter column decoded internally but
    # dropped from the output projection
    proj = enc_ops.decode(enc, columns=["doc_id"],
                          predicate=("n_tok", ">=", lo))
    assert proj.columns == ["doc_id"]
    assert proj.count() == token_df.where(F.col("n_tok") >= lo).count()
    enc.unpersist()


def test_decode_predicate_string_and_statless_columns(spark, token_df):
    """String-column predicates prune lexicographically (casting the
    JSON stats to double would nullify comparisons and silently drop
    every stripe), and columns without min/max stats keep all stripes
    — the residual filter stays exact either way."""
    df = token_df.coalesce(2).sortWithinPartitions("doc_id")
    enc = enc_ops.encode(df, stripe_rows=100, stride_rows=32).cache()
    some_id = token_df.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    got = enc_ops.decode(enc, predicate=("doc_id", "==", some_id))
    assert got.count() == 1
    assert got.collect()[0]["doc_id"] == some_id
    # range predicate on strings
    hi_ids = token_df.where(F.col("doc_id") >= "doc-0000000450")
    got2 = enc_ops.decode(enc, predicate=("doc_id", ">=",
                                          "doc-0000000450"))
    assert got2.count() == hi_ids.count()
    # stripe pruning actually bit for the string predicate
    assert enc_ops.prune_stripes(enc, "doc_id",
                                 lo="doc-0000000450").count() < enc.count()
    enc.unpersist()


def test_decode_predicate_conjunction(spark, token_df):
    """A list of predicates is a conjunction: per-predicate stripe
    pruning, intersected stride keep-sets, ANDed residual filter."""
    df = token_df.coalesce(2).sortWithinPartitions("n_tok")
    enc = enc_ops.encode(df, stripe_rows=100, stride_rows=32).cache()
    lo = int(token_df.approxQuantile("n_tok", [0.5], 0.01)[0])
    hi = int(token_df.approxQuantile("n_tok", [0.8], 0.01)[0])
    got = enc_ops.decode(enc, predicate=[("n_tok", ">=", lo),
                                         ("n_tok", "<", hi)])
    want = token_df.where((F.col("n_tok") >= lo) & (F.col("n_tok") < hi))
    assert got.count() == want.count()
    assert got.agg(F.sum("n_tok")).collect()[0][0] == \
        want.agg(F.sum("n_tok")).collect()[0][0]
    # mixed-column conjunction with projection
    sid = token_df.where(F.col("n_tok") >= lo).limit(1) \
        .collect()[0]["doc_id"]
    one = enc_ops.decode(enc, columns=["doc_id"],
                         predicate=[("n_tok", ">=", lo),
                                    ("doc_id", "==", sid)])
    assert one.columns == ["doc_id"]
    assert [r["doc_id"] for r in one.collect()] == [sid]
    enc.unpersist()


def test_decode_schema_evolution_missing_column_nulls(spark, token_df):
    """Old stripes read with a NEWER schema: columns the stripes were
    written without decode as all-null columns of the requested type;
    present columns are untouched."""
    from orc_spark import stripe as stripe_mod
    enc = enc_ops.encode(token_df.repartition(2))  # TOKEN_SCHEMA
    evolved = stripe_mod.parse_schema([
        ("doc_id", "string"), ("tokens", "list<int>"),
        ("n_tok", "int"), ("source", "string"),
        ("quality", "double"),           # added later
        ("meta", "struct<a:bigint>"),    # added later, nested
    ])
    dec = enc_ops.decode(enc, specs=evolved)
    assert dec.columns == ["doc_id", "tokens", "n_tok", "source",
                           "quality", "meta"]
    row = dec.agg(F.count("*").alias("n"),
                  F.count("quality").alias("nq"),
                  F.count("meta").alias("nm"),
                  F.sum("n_tok").alias("s")).collect()[0]
    assert row["n"] == token_df.count()
    assert row["nq"] == 0 and row["nm"] == 0
    assert row["s"] == token_df.agg(F.sum("n_tok")).collect()[0][0]
    import pytest as _pt
    with _pt.raises(Exception):
        enc_ops.decode(enc, specs=stripe_mod.parse_schema(
            [("nope", "double")])).count()


def test_compact_merges_small_stripes(spark, token_df):
    """compact() re-stripes tiny ingest stripes into large ones:
    stripe count collapses, totals and row content are conserved."""
    small = enc_ops.encode(token_df.repartition(4), stripe_rows=40)
    n_small = small.count()
    big = enc_ops.compact(small.coalesce(1), stripe_rows=1 << 20)
    assert big.count() < n_small / 5
    a = enc_ops.decode(big).agg(
        F.count("*"), F.sum("n_tok")).collect()[0]
    assert a[0] == token_df.count()
    assert a[1] == token_df.agg(F.sum("n_tok")).collect()[0][0]


def test_zone_columns_pushdown(spark, token_df, tmp_path):
    """Native {col}__MIN/__MAX zone columns: prune_stripes filters on
    them become Parquet PushedFilters (row-group skipping on the
    stripe METADATA itself), and pruning results stay exact."""
    path = str(tmp_path / "zenc")
    enc_ops.encode(token_df.coalesce(2).sortWithinPartitions("n_tok"),
                   stripe_rows=100).write.parquet(path)
    enc = spark.read.parquet(path)
    assert "n_tok__MIN" in enc.columns and "doc_id__MAX" in enc.columns
    lo = int(token_df.approxQuantile("n_tok", [0.9], 0.0)[0])
    pruned = enc_ops.prune_stripes(enc, "n_tok", lo=lo)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_tok__MAX" in plan, plan[:2000]
    assert 0 < pruned.count() < enc.count()
    got = enc_ops.decode(pruned).where(F.col("n_tok") >= lo).count()
    assert got == token_df.where(F.col("n_tok") >= lo).count()
    # JSON fallback on tables written without zone columns
    legacy = enc.drop("n_tok__MIN", "n_tok__MAX")
    pruned2 = enc_ops.prune_stripes(legacy, "n_tok", lo=lo)
    assert pruned2.count() == pruned.count()


def test_roundtrip_check_sampled(spark, token_df):
    """Sampled verification audits a deterministic subset: full table
    still encoded, the comparison join shrinks, matches stay 100%."""
    full = verify.roundtrip_check(token_df).collect()[0]
    samp = verify.roundtrip_check(token_df, sample_rate=0.2).collect()[0]
    assert 0 < samp["n_rows"] < full["n_rows"]
    assert samp["n_match"] == samp["n_rows"]
    assert samp["n_token_match"] == samp["n_rows"]
    # deterministic: same rows every audit
    samp2 = verify.roundtrip_check(token_df, sample_rate=0.2).collect()[0]
    assert samp2["n_rows"] == samp["n_rows"]


def test_stripe_table_bloom_equality_pruning(spark, token_df):
    """encode(bloom_columns=['doc_id']): per-stripe blooms prune point
    lookups on UNSORTED data (min/max zones span everything there);
    absent keys prune every stripe, present keys survive exactly."""
    enc = enc_ops.encode(token_df.repartition(2), stripe_rows=100,
                         bloom_columns=["doc_id"]).cache()
    n_stripes = enc.count()
    assert "doc_id__BLOOM" in enc.columns
    sid = token_df.limit(1).collect()[0]["doc_id"]
    kept = enc_ops.prune_stripes_eq(enc, "doc_id", sid)
    assert 0 < kept.count() < n_stripes
    got = enc_ops.decode(enc, predicate=("doc_id", "==", sid))
    assert [r["doc_id"] for r in got.collect()] == [sid]
    # absent key: every stripe's bloom rejects it
    assert enc_ops.prune_stripes_eq(enc, "doc_id", "no-such-doc") \
        .count() == 0
    assert enc_ops.decode(enc, predicate=("doc_id", "==",
                                          "no-such-doc")).count() == 0
    # tables without blooms are untouched (conservative keep-all)
    plain = enc.drop("doc_id__BLOOM")
    assert enc_ops.prune_stripes_eq(plain, "doc_id", sid).count() \
        == n_stripes
    enc.unpersist()


def test_stripe_table_in_and_prefix_predicates(spark, token_df):
    """decode(predicate=...) accepts IN lists (bloom union pruning:
    a stripe survives if ANY value may be present) and prefix LIKE
    (string-range zone pruning); results exact vs df.filter."""
    enc = enc_ops.encode(token_df.repartition(2), stripe_rows=100,
                         bloom_columns=["doc_id"]).cache()
    n_stripes = enc.count()
    ids = [r["doc_id"] for r in token_df.limit(2).collect()]
    got = enc_ops.decode(
        enc, predicate=("doc_id", "in", tuple(ids))).toPandas()
    assert sorted(got["doc_id"]) == sorted(ids)
    # bloom union: both values absent -> all stripes pruned
    assert enc_ops.prune_stripes_in(
        enc, "doc_id", ["no-a", "no-b"]).count() == 0
    # one present, one absent: the present value's stripes survive
    kept = enc_ops.prune_stripes_in(enc, "doc_id", [ids[0], "no-b"])
    assert 0 < kept.count() < n_stripes
    # SQL IN / LIKE forms through the parser
    sid = ids[0]
    got2 = enc_ops.decode(
        enc, predicate=f"doc_id IN ('{sid}', 'absent')").toPandas()
    assert list(got2["doc_id"]) == [sid]
    prefix = sid[:8]
    got3 = enc_ops.decode(
        enc, predicate=f"doc_id LIKE '{prefix}%'").toPandas()
    exp = [r["doc_id"] for r in token_df.collect()
           if r["doc_id"].startswith(prefix)]
    assert sorted(got3["doc_id"]) == sorted(exp)
    enc.unpersist()


def test_checkpoint_empty_partitions_complete(spark, token_df, tmp_path):
    """pmod buckets with no input rows must not crash the audit write
    or stay pending forever — they get zero audit rows and the job
    reports skipped=True on re-run."""
    out = str(tmp_path / "sparse")
    few = token_df.limit(5)  # 5 docs over 64 buckets: most empty
    r1 = checkpoint.encode_dataset(spark, few, out, n_parts=64)
    assert r1["pending"] == 64
    r2 = checkpoint.encode_dataset(spark, few, out, n_parts=64)
    assert r2.get("skipped") is True
    audit = spark.read.parquet(f"{out}/audit")
    assert audit.select("part_id").distinct().count() == 64
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == 5


def test_decode_mixed_old_new_schema_stripes(spark, token_df):
    """A stripes table holding rows written BEFORE and AFTER a column
    was added decodes with the evolved schema: old rows yield nulls
    for the new column (their encodings JSON has no entry)."""
    from orc_spark import stripe as stripe_mod
    half_a = token_df.where(F.xxhash64("doc_id") % 2 == 0)
    half_b = token_df.where(F.xxhash64("doc_id") % 2 != 0)
    old = enc_ops.encode(half_a.repartition(1), stripe_rows=30)
    evolved = stripe_mod.parse_schema([
        ("doc_id", "string"), ("tokens", "list<int>"),
        ("n_tok", "int"), ("source", "string"), ("q", "double")])
    newer = enc_ops.encode(
        half_b.withColumn("q", F.col("n_tok") * 0.5).repartition(1),
        specs=evolved, stripe_rows=30)
    mixed = old.unionByName(newer, allowMissingColumns=True)
    dec = enc_ops.decode(mixed, specs=evolved)
    rows = dec.agg(F.count("*").alias("n"),
                   F.count("q").alias("nq")).collect()[0]
    assert rows["n"] == dec.select("doc_id").distinct().count()
    assert 0 < rows["nq"] < rows["n"]


def test_token_table_empty_text_yields_zero_tokens(spark, tmp_path):
    """Empty/whitespace/NULL text must not fabricate a phantom token
    (split('') -> [''] in Spark)."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        "text": pa.array(["real words here", "", "   ", None]),
        "source": pa.array(["s"] * 4),
        "lang": pa.array(["en"] * 4),
        "n_chars": pa.array([15, 0, 3, 0], pa.int64()),
    }), str(d / "documents.parquet"))
    tok = token_src.token_table(spark, str(d))
    got = {r["doc_id"]: r["n_tok"] for r in tok.collect()}
    assert got["doc-000000000001"] == 3
    assert got["doc-000000000002"] == 0
    assert got["doc-000000000003"] == 0
    assert got["doc-000000000004"] == 0


def test_roundtrip_check_custom_specs_without_tokens(spark):
    """roundtrip_check works for schemas without a 'tokens' column."""
    from orc_spark import stripe as stripe_mod
    specs = stripe_mod.parse_schema([("doc_id", "string"),
                                     ("v", "bigint")])
    df = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 3).alias("v"))
    row = verify.roundtrip_check(df, specs=specs).collect()[0]
    assert row["n_rows"] == 200
    assert row["n_match"] == 200 == row["n_token_match"]
