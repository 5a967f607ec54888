"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the flagship: derive the token table from sf0.001
documents, encode it into the stripe table, decode it back, and report
round-trip equality + compression metrics in one row.

``queries()`` exposes the engine's operators (encode/decode/verify/
stats/profile) plus the training-data pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) as
(spark, sf_dir) -> DataFrame callables; ``oracle_sql()`` carries the
DuckDB-equivalent ANSI SQL for every SQL-expressible one.  Column names
and types are aligned on both sides (aggregates aliased identically).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from orc_spark.functions import dedup, sampling, similarity, text
from orc_spark.functions import multimodal
from orc_spark.operators import encode as enc_ops
from orc_spark.operators import verify
from orc_spark.sources import tokens as token_src


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Round-trip the sf0.001 token table through encode->decode and
    report equality + bytes/token in one row."""
    sf_dir = "/root/testdata/sf0.001"
    tok = token_src.token_table(spark, sf_dir)
    rt = verify.roundtrip_check(tok)
    enc = enc_ops.encode(tok.repartition(4))
    foot = enc_ops.footer(enc)
    return rt.crossJoin(foot)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_rt_roundtrip(spark, sf_dir):
    """Bit-exact encode->decode round-trip, plain AND FSST-string
    variants in one result (r5 consolidation: one driver row covers
    both codec paths)."""
    tok = token_src.token_table(spark, sf_dir)

    def tagged(variant, **kw):
        return verify.roundtrip_check(tok, **kw).select(
            F.lit(variant).alias("variant"),
            "n_rows", "n_match", "n_token_match")

    return tagged("plain").unionByName(tagged("fsst", use_fsst=True))


def _q_enc_token_profile(spark, sf_dir):
    tok = token_src.token_table(spark, sf_dir)
    return tok.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.min("n_tok").cast("long").alias("min_ntok"),
        F.max("n_tok").cast("long").alias("max_ntok"),
        F.countDistinct("source").alias("n_sources"),
    )


def _q_enc_column_stats(spark, sf_dir):
    """Footer-style stats rollup computed ONLY from encoded stripe
    metadata (stats JSON), never from re-decoded data — then checked
    against the raw documents by the oracle."""
    tok = token_src.token_table(spark, sf_dir)
    enc = enc_ops.encode(tok.repartition(4))
    st = enc.select(
        F.get_json_object("stats", "$.n_tok.min").cast("long").alias("mn"),
        F.get_json_object("stats", "$.n_tok.max").cast("long").alias("mx"),
        F.get_json_object("stats", "$.n_tok.sum").cast("long").alias("sm"),
        F.get_json_object("stats", "$.n_tok.count").cast("long").alias("ct"),
    )
    return st.agg(
        F.min("mn").alias("min_ntok"),
        F.max("mx").alias("max_ntok"),
        F.sum("sm").alias("sum_ntok"),
        F.sum("ct").alias("n_docs"),
    )


def _q_rt_projection(spark, sf_dir):
    """Decode ONLY the n_tok column from the encoded table (stream
    projection) and aggregate it."""
    tok = token_src.token_table(spark, sf_dir)
    enc = enc_ops.encode(tok.repartition(4))
    dec = enc_ops.decode(enc, columns=["n_tok"])
    return dec.agg(F.sum("n_tok").alias("sum_ntok"),
                   F.count("*").alias("n_docs"))


def _q_rt_pruned_decode(spark, sf_dir):
    """Stats-based stripe pruning + selective decode: only stripes
    whose stats can match survive to decompression.  Three predicate
    shapes through the one-call SQL path (r5): a comparison, an IN
    list (finite disjunction — any-value stats overlap + bloom
    union) and a prefix LIKE (string range [p, upper(p)))."""
    tok = token_src.token_table(spark, sf_dir)
    enc = enc_ops.encode(
        tok.coalesce(2).sortWithinPartitions("n_tok"),
        stripe_rows=100).cache()

    def agg(pred, tag):
        dec = enc_ops.decode(enc, predicate=pred)
        return dec.agg(F.lit(tag).alias("pred"),
                       F.count("*").alias("n_docs"),
                       F.sum("n_tok").cast("long").alias("sum_ntok"))

    return agg("n_tok >= 60", "cmp") \
        .unionByName(agg("n_tok IN (60, 64, 128)", "inlist")) \
        .unionByName(agg("doc_id LIKE 'doc-00000000001%'", "like"))


def _q_rt_stride_pruned(spark, sf_dir):
    """Row-group (stride) skipping INSIDE a stripe: one stripe with a
    96-row stride index, sorted by n_tok — only strides whose recorded
    [min,max] can match are decompressed, the reference's 10k-row
    ROW_INDEX consumed for real (writer.go:162-172)."""
    tok = token_src.token_table(spark, sf_dir)
    enc = enc_ops.encode(tok.coalesce(1).sortWithinPartitions("n_tok"),
                         stride_rows=96)
    # one-call pruning path: stride skip + residual filter together
    dec = enc_ops.decode(enc, predicate=("n_tok", ">=", 60))
    return dec.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_ntok"))


def _q_rt_mixed_types(spark, sf_dir):
    """Mixed-type round-trip (bool/double/date/timestamp/decimal —
    T3/T4/T10/T11/T12): derive typed columns from documents, encode
    into the stripe table, decode, aggregate; the oracle recomputes
    the aggregates from the raw table."""
    from orc_spark import stripe as stripe_mod
    docs = _docs(spark, sf_dir)
    specs = stripe_mod.parse_schema([
        ("id", "bigint"), ("flag", "boolean"), ("w", "double"),
        ("d", "date"), ("ts", "timestamp"), ("dec", "decimal(10,2)")])
    m = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 2 == 0).alias("flag"),
        (F.col("n_chars") * 0.5).alias("w"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   (F.col("doc_id") % 365).cast("int")).alias("d"),
        F.timestamp_seconds(F.col("doc_id") * 3600).alias("ts"),
        (F.col("n_chars") / 100).cast("decimal(10,2)").alias("dec"))
    enc = enc_ops.encode(m.repartition(2), specs=specs)
    dec = enc_ops.decode(enc, specs=specs)
    return dec.agg(
        F.count("*").alias("n"),
        F.sum(F.col("flag").cast("int")).cast("long").alias("n_true"),
        F.round(F.sum("w"), 3).alias("sum_w"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("min_d"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("max_d"),
        F.max("ts").cast("long").alias("max_ts_epoch"),
        F.sum("dec").cast("double").alias("sum_dec"))


def _q_rt_nested(spark, sf_dir):
    """Nested stripe-table round-trip (struct + map + list<string> —
    r3: the treewriter.go:722-1132 tree encoder now lives in the
    stripe table, not just the .orc sink): encode typed nested columns
    derived from documents (struct null every 5th row, PRESENT
    exercised), decode, aggregate; the oracle recomputes the
    aggregates from the raw table."""
    from orc_spark import stripe as stripe_mod
    docs = _docs(spark, sf_dir)
    specs = stripe_mod.parse_schema([
        ("id", "bigint"),
        ("meta", "struct<lang:string,chars:bigint>"),
        ("attrs", "map<string,bigint>"),
        ("head", "list<string>"),
    ])
    m = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 5 != 0,
               F.struct(F.col("lang").alias("lang"),
                        F.col("n_chars").cast("long").alias("chars")))
        .alias("meta"),
        F.create_map(F.lit("chars"),
                     F.col("n_chars").cast("long")).alias("attrs"),
        F.slice(F.split(F.trim("text"), r"\s+"), 1, 5).alias("head"))
    enc = enc_ops.encode(m.repartition(2), specs=specs)
    dec = enc_ops.decode(enc, specs=specs)
    return dec.agg(
        F.count("*").alias("n"),
        F.count("meta").alias("n_meta"),
        F.sum(F.col("meta.chars")).cast("long").alias("sum_chars"),
        F.count_distinct(F.col("meta.lang")).cast("long").alias("n_langs"),
        F.sum(F.element_at("attrs", F.lit("chars"))).cast("long")
        .alias("sum_map"),
        F.sum(F.size("head")).cast("long").alias("sum_head"))


def _q_rt_nulls(spark, sf_dir):
    """NULL-bearing mixed-type round-trip: null every 5th row across
    bigint/string/double/boolean/list columns (the writer_test.go
    null-pattern), so PRESENT streams are exercised end-to-end behind
    a DuckDB oracle (VERDICT r2 next-round #6)."""
    from orc_spark import stripe as stripe_mod
    docs = _docs(spark, sf_dir)
    specs = stripe_mod.parse_schema([
        ("id", "bigint"), ("v", "bigint"), ("s", "string"),
        ("w", "double"), ("flag", "boolean"), ("toks", "list<int>"),
    ])

    def nul(c):
        return F.when(F.col("doc_id") % 5 != 0, c)

    m = docs.select(
        F.col("doc_id").alias("id"),
        nul(F.col("n_chars").cast("long")).alias("v"),
        nul(F.col("lang")).alias("s"),
        nul(F.col("n_chars") * 0.25).alias("w"),
        nul(F.col("doc_id") % 3 == 0).alias("flag"),
        nul(F.array((F.col("doc_id") % 100).cast("int"),
                    (F.col("n_chars") % 100).cast("int"))).alias("toks"))
    enc = enc_ops.encode(m.repartition(2), specs=specs)
    dec = enc_ops.decode(enc, specs=specs)
    return dec.agg(
        F.count("*").alias("n"),
        F.count("v").alias("n_v"),
        F.sum("v").cast("long").alias("sum_v"),
        F.count_distinct("s").cast("long").alias("n_s"),
        F.round(F.sum("w"), 3).alias("sum_w"),
        F.sum(F.col("flag").cast("int")).cast("long").alias("n_true"),
        F.sum(F.size("toks")).cast("long").alias("sum_toks"))


def _q_enc_footer(spark, sf_dir):
    tok = token_src.token_table(spark, sf_dir)
    return enc_ops.footer(enc_ops.encode(tok.repartition(4))).select(
        "n_rows", "n_tokens")


def _q_enc_compact(spark, sf_dir):
    """Stripe compaction (r3): many tiny stripes (incremental-ingest
    shape, stripe_rows=40) re-striped into large ones; totals must be
    conserved exactly — the oracle recomputes them from documents.
    The stripe-count reduction itself is asserted in pytest."""
    tok = token_src.token_table(spark, sf_dir)
    small = enc_ops.encode(tok.repartition(4), stripe_rows=40)
    big = enc_ops.compact(small, stripe_rows=1 << 20)
    return enc_ops.footer(big).select("n_rows", "n_tokens")


def _q_enc_codec_histogram(spark, sf_dir):
    """Codec auto-selection audit: encode the whole table as ONE stripe
    so the DICT-vs-DIRECT decision is a function of global column stats
    that the DuckDB oracle re-derives from the spec rule (0.49 distinct
    ratio; int-dict gate at 4096 values — stripe.py:156-196,
    treewriter.go:694-707)."""
    tok = token_src.token_table(spark, sf_dir)
    enc = enc_ops.encode(tok.coalesce(1))
    cols = ["doc_id", "tokens", "n_tok", "source"]
    pairs = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.get_json_object("encodings", f"$.{c}").alias("encoding"))
        for c in cols])
    return (enc.select(F.explode(pairs).alias("p"))
            .select("p.column", "p.encoding")
            .groupBy("column", "encoding")
            .agg(F.count("*").alias("n_stripes")))


def _q_text_token_counts(spark, sf_dir):
    return text.token_counts(_docs(spark, sf_dir))


def _q_text_quality(spark, sf_dir):
    return text.quality_scores(_docs(spark, sf_dir))


def _q_text_langid(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir))


def _q_text_fingerprints(spark, sf_dir):
    return text.fingerprints(_docs(spark, sf_dir))


def _q_text_vocab(spark, sf_dir):
    return text.vocab_histogram(_docs(spark, sf_dir), k=50)


def _q_pack_sequences(spark, sf_dir):
    """Sequence packing (pretraining prep): docs + EOS concatenated and
    re-chunked into fixed 512-token sequences, deterministic via one
    sorted partition — the oracle recomputes sequence/pad/doc counts
    from first principles (token conservation)."""
    from orc_spark.functions import packing
    tok = token_src.token_table(spark, sf_dir) \
        .coalesce(1).sortWithinPartitions("doc_id")
    seqs = packing.pack_sequences(tok, seq_len=512)
    return seqs.agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_docs").cast("long").alias("n_docs_total"),
        F.sum("n_pad").cast("long").alias("n_pad_total"),
        F.max(F.size("tokens")).alias("max_len"),
        F.min(F.size("tokens")).alias("min_len"))


def _q_pipeline_clean(spark, sf_dir):
    """The composed training-data cleaning pipeline: language filter ->
    quality gates (word count, mean word length) -> exact-dedup
    keep-first -> corpus stats.  One declarative plan: Catalyst fuses
    the text features into the scan project; dedup is the single
    digest shuffle."""
    docs = _docs(spark, sf_dir)
    q = text.quality_scores(docs).select(
        "doc_id", "n_words", "mean_word_len")
    kept = (docs.join(q, "doc_id")
            .where((F.col("lang") == "en") & (F.col("n_words") >= 20)
                   & (F.col("mean_word_len") <= 12)))
    deduped = dedup.collapse_exact(kept)
    return deduped.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.min("doc_id").alias("first_doc"))


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def _q_dedup_minhash(spark, sf_dir):
    """Near-dup pairs with exact shingle-Jaccard >= 0.4 — the verified
    output is implementation-independent, so the oracle brute-forces
    all-pairs Jaccard in DuckDB; any LSH recall loss fails the match."""
    docs = _docs(spark, sf_dir)
    # seed deterministic near-dups so the operator has work to do
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        "lang", "source", "n_chars")
    return dedup.minhash_lsh_pairs(docs.unionByName(dups),
                                   min_jaccard=0.4).select(
        "doc_a", "doc_b", "jaccard")


def _q_dedup_simhash(spark, sf_dir):
    """SimHash recall check: every seeded near-dup (text + ' zzz') must
    be recovered through the banded near-pair search (guaranteed-recall
    block banding) — the seeded pair set is the implementation-
    independent oracle (simhash values themselves are
    xxhash64-specific)."""
    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang", "source", "n_chars")
    # max_hamming=8: guaranteed recall via 1-bit multiprobe banding
    # (the seeded perturbation measures h<=8 across all test scales)
    pairs = dedup.simhash_near_pairs(docs.unionByName(dups),
                                     max_hamming=8)
    return pairs.where(F.col("doc_b") - F.col("doc_a") == 1_000_000) \
        .select("doc_a", "doc_b")


def _q_dedup_jaccard_exact(spark, sf_dir):
    """EXACT set-similarity join (prefix filtering): guaranteed to find
    every pair with shingle Jaccard >= 0.4 at ANY scale — the
    brute-force oracle match is a hard guarantee here, not an LSH
    S-curve outcome."""
    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        "lang", "source", "n_chars")
    return dedup.jaccard_join_exact(docs.unionByName(dups),
                                    min_jaccard=0.4)


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING (r3): seeded duplicate chains (A~B~C) must
    collapse into connected components with the min doc_id as
    representative — pairwise detection turned into actionable dedup
    groups.  The oracle brute-forces the pair graph in DuckDB and runs
    the same min-label propagation as iterated SQL joins."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    b = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"))
    c = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra token tail")).alias("text"))
    corpus = docs.unionByName(b).unionByName(c)
    return dedup.near_dup_clusters(corpus, min_jaccard=0.4).select(
        "node", "cluster", "is_rep")


def _q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup: plant 10 deterministic near-copies
    (0.9*v_i + 0.1*v_{200+i}); the LSH-bucketed self-join must find
    every pair with cosine >= 0.9 — the oracle brute-forces ALL pairs
    in DuckDB, so a recall miss fails the match."""
    emb = _emb(spark, sf_dir)
    src = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 210)) \
        .select((F.col("vec_id") - 200).alias("pid"),
                F.col("embedding").alias("esrc"))
    base = emb.where(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("pid"),
                F.col("embedding").alias("eb"))
    planted = base.join(F.broadcast(src), "pid").select(
        (F.col("pid") + 2_000_000).alias("vec_id"),
        _mix_emb("eb", "esrc", 0.9, 0.1).alias("embedding"),
        F.lit(0).alias("label"))
    corpus = emb.unionByName(planted)
    return dedup.embedding_near_dups(corpus, min_cosine=0.9)


def _q_sim_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    query = emb.where(F.col("vec_id") == 0) \
        .select("embedding").first()["embedding"]
    return similarity.cosine_topk(
        emb.where(F.col("vec_id") != 0), list(query), k=10)


def _mix_emb(a_col: str, b_col: str, wa: float, wb: float):
    """float32-quantized linear mix of two embeddings — quantization is
    mirrored in the DuckDB oracle so cosines match bit-for-bit."""
    return F.transform(
        F.zip_with(a_col, b_col,
                   lambda x, y: F.lit(wa) * x.cast("double")
                   + F.lit(wb) * y.cast("double")),
        lambda v: v.cast("float"))


def _ann_planted(spark, sf_dir):
    """Shared planted ANN corpus: 10 deterministic near-neighbors of
    vector 0 (0.8*v0 + 0.2*v_j mixes).  All three ANN variants must
    return the exact top-10 (= the planted set), which DuckDB
    computes independently."""
    emb = _emb(spark, sf_dir)
    query = emb.where(F.col("vec_id") == 0) \
        .select("embedding").first()["embedding"]
    e0 = emb.where(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("e0"))
    planted = (emb.where((F.col("vec_id") >= 1) & (F.col("vec_id") <= 10))
               .crossJoin(F.broadcast(e0))
               .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                       _mix_emb("e0", "embedding", 0.8, 0.2)
                       .alias("embedding"),
                       F.lit(0).alias("label")))
    table = emb.where(F.col("vec_id") != 0).unionByName(planted)
    return table, list(query)


def _q_sim_ann(spark, sf_dir):
    """All three ANN paths over the same planted corpus in one result
    (r5 consolidation): banded hyperplane LSH, the MATERIALIZED
    partition-pruned signature index, and the KMeans inverted-file
    (IVF, nprobe list pruning).  Each variant's top-10 must equal the
    exact top-10 independently recomputed by DuckDB — a recall miss
    in any path fails the hash."""
    import tempfile
    table, query = _ann_planted(spark, sf_dir)

    def tag(df, v):
        return df.select(F.lit(v).alias("variant"), "vec_id", "cosine")

    lsh = similarity.lsh_ann_topk(table, query, k=10)
    idx_path = tempfile.mkdtemp(prefix="annidx_")
    similarity.build_ann_index(table, idx_path, dim=len(query))
    idx = similarity.ann_index_topk(spark, idx_path, query, k=10)
    ivf_path = tempfile.mkdtemp(prefix="ivfidx_") + "/idx"
    similarity.build_ivf_index(table, ivf_path, n_lists=16)
    ivf = similarity.ivf_topk(spark, ivf_path, query, k=10, nprobe=8)
    return tag(lsh, "lsh").unionByName(tag(idx, "index")) \
        .unionByName(tag(ivf, "ivf"))


def _knn_planted(spark, sf_dir):
    """Shared planted corpus for BOTH knn-join queries (they share one
    DuckDB oracle, so the geometry must stay identical): each probe p
    in 0..4 gets 3 planted near-neighbors
    (0.85*v_p + 0.15*v_{100+3p+j}).  Returns (table, probes)."""
    emb = _emb(spark, sf_dir)
    src = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 115)) \
        .select(F.col("vec_id").alias("sid"),
                F.col("embedding").alias("esrc"),
                F.floor((F.col("vec_id") - 100) / 3).alias("pid"))
    pr = emb.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("pid"),
                F.col("embedding").alias("ep"))
    planted = src.join(F.broadcast(pr), "pid").select(
        (F.col("sid") - 100 + 1_000_000).alias("vec_id"),
        _mix_emb("ep", "esrc", 0.85, 0.15).alias("embedding"),
        F.lit(0).alias("label"))
    return emb.unionByName(planted), emb.where(F.col("vec_id") < 5)


def _q_sim_knn(spark, sf_dir):
    """kNN-join recall oracle, AD-HOC and MATERIALIZED-INDEX variants
    in one result (r5 consolidation): the banded LSH join must
    recover the planted neighbors as the exact top-3, and the index
    round-trip (base signatures computed at build time, probes pay
    only probe-side hashing) must not change a single neighbor —
    both verified against DuckDB's exact window ranking."""
    import tempfile
    table, probes = _knn_planted(spark, sf_dir)

    def tag(df, v):
        return df.select(F.lit(v).alias("variant"), "probe_id",
                         "nn_id", "cosine", "rank")

    adhoc = similarity.knn_join(table, probes, k=3)
    dim = table.select(F.size("embedding").alias("d")).first()["d"]
    path = tempfile.mkdtemp(prefix="knnidx_") + "/idx"
    similarity.build_ann_index(table, path, dim)
    indexed = similarity.knn_join_index(spark, path, probes, k=3)
    return tag(adhoc, "adhoc").unionByName(tag(indexed, "indexed"))


def _q_orc_file_roundtrip(spark, sf_dir):
    """Distributed ORC sink round-trip: every partition streams its
    rows through our kernels into a real .orc file (executor-side,
    stripe-at-a-time — no driver collect), then Spark's JVM ORC reader
    reads the directory back and aggregates — cross-implementation
    round-trip, checked against the raw documents by the oracle."""
    import tempfile
    from orc_spark.sources import orcwriter
    tok = token_src.token_table(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="orcq_")
    # bloom_columns: BLOOM_FILTER_UTF8 index streams ride along (r3,
    # beyond the reference — Java-ORC-bit-compatible, codecs/bloom.py)
    orcwriter.dataframe_to_orc_dir(tok.repartition(4), out, codec="zlib",
                                   bloom_columns=["doc_id"])
    df = spark.read.orc(out)
    return df.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("tokens")).cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_ids"))


def _q_orc_scan_pruned(spark, sf_dir):
    """Distributed ORC SOURCE (r3, sources/orcscan.py): the token
    table is written to .orc range-partitioned by n_tok (disjoint
    stripe [min,max] ranges), then read back WITHOUT the JVM ORC
    reader — one Spark task per (file, stripe), footer
    StripeStatistics pruning non-matching stripes at planning time,
    predicate re-applied as a residual so the aggregate is exact."""
    import tempfile
    from orc_spark.sources import orcwriter
    from orc_spark.sources.orcscan import orc_scan
    tok = token_src.token_table(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="orcscanq_")
    orcwriter.dataframe_to_orc_dir(
        tok.repartitionByRange(4, "n_tok"), out, codec="zlib")
    df = orc_scan(spark, out, predicate="n_tok >= 60")
    return df.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("tokens")).cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_ids"))


def _q_orc_datasource(spark, sf_dir):
    """Spark Python DataSource V2 surface (r4): the engine reads our
    .orc kernels through ``spark.read.format("orc_spark")`` — schema
    inference from the footer, pushFilters pruning stripes at
    planning time, Arrow-batch reads from the shared _ScanContext
    kernel.  The WHERE runs through Spark's own pushdown machinery
    (not our predicate= argument), so this checks the V2 integration
    end to end.

    r5: the lake is EVOLVING — odd-n_tok docs land first with n_tok
    narrowed to INT (and no ``src`` column), even-n_tok docs later
    with n_tok LONG plus an added ``src``.  ``evolve=true`` infers
    the widened-union schema (orctypes.widen: n_tok reads as bigint,
    src null-fills on old files), the direction a first-file-pinned
    schema used to crash on; n_evolved counts rows that carried the
    added column."""
    import os
    import tempfile
    from orc_spark.sources import datasource, orcwriter
    tok = token_src.token_table(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="orcdsq_")
    out = os.path.join(base, "lake")
    os.makedirs(out)
    halves = [
        ("a", tok.where(F.col("n_tok") % 2 == 1)
              .withColumn("n_tok", F.col("n_tok").cast("int"))),
        ("b", tok.where(F.col("n_tok") % 2 == 0)
              .withColumn("n_tok", F.col("n_tok").cast("long"))
              .withColumn("src", F.lit("b"))),
    ]
    for tag, part in halves:
        sub = os.path.join(base, tag)
        orcwriter.dataframe_to_orc_dir(
            part.repartitionByRange(2, "n_tok"), sub, codec="zlib")
        for fn in sorted(os.listdir(sub)):
            os.rename(os.path.join(sub, fn),
                      os.path.join(out, f"{tag}-{fn}"))
    datasource.register(spark)
    df = spark.read.format("orc_spark").option("evolve", "true") \
        .load(out).where("n_tok >= 60")
    assert dict(df.dtypes)["n_tok"] == "bigint", df.dtypes
    return df.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("tokens")).cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.count("src").alias("n_evolved"))


def _q_orc_stats_agg(spark, sf_dir):
    """Footer-statistics aggregate pushdown (r4): count/min/max/sum
    over the .orc dataset answered from FILE TAILS ONLY — a pytest
    monkeypatch proves no stripe is ever loaded (test_orcstats).
    The reference records these statistics; this consumes them.
    DuckDB recomputes the same aggregates from the raw documents."""
    import tempfile
    from orc_spark.sources import orcstats, orcwriter
    tok = token_src.token_table(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="orcstatsagg_")
    orcwriter.dataframe_to_orc_dir(tok.repartition(4), out,
                                   codec="zlib")
    return orcstats.stats_agg(spark, out, ["n_tok", "doc_id"]) \
        .select("column", "n_rows", "n_values", "min", "max", "sum")


def _q_orc_count_pruned(spark, sf_dir):
    """Hybrid stats+scan COUNT (r4): the token table is written
    range-partitioned by n_tok so stripe statistics classify most
    stripes as fully-matching or non-matching without decode; only
    boundary stripes decode, and only the n_tok column.  The oracle
    recomputes the exact filtered count from raw documents."""
    import tempfile
    from orc_spark.sources import orcstats, orcwriter
    tok = token_src.token_table(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="orccnt_")
    orcwriter.dataframe_to_orc_dir(
        tok.repartitionByRange(4, "n_tok"), out, codec="zlib")
    n_all = orcstats.orc_count(spark, out)
    n_sel = orcstats.orc_count(spark, out, "n_tok >= 60")
    return spark.createDataFrame(
        [(n_all, n_sel)], "n_all long, n_sel long")


def _q_orc_merge_compact(spark, sf_dir):
    """The snapshot table LIFECYCLE (r5 — orctable): the token table
    commits as 8 small .orc files under an Iceberg-style ``_meta``
    snapshot; ``delete_from`` row-level-DELETEs the short documents
    (copy-on-write rewrite with metadata fast paths — files whose
    statistics prove all-match leave the manifest without decoding);
    ``compact_table`` byte-copy-merges the survivors (orcmerge; each
    task a footer parse + copy) into one file under a ``replace``
    snapshot; and the result must aggregate identically to the raw
    documents MINUS the deleted set.  n_files is the post-compaction
    manifest's file count; n_docs_v1 TIME-TRAVELS to the pre-delete
    snapshot — old manifests and data files are immutable, so
    version 1 still reads every original row byte-for-byte after
    both the delete and the compaction.  Readers resolve files from
    manifests (never a directory glob) and decode under the
    snapshot's recorded schema."""
    import tempfile
    from orc_spark.sources import orctable
    tok = token_src.token_table(spark, sf_dir)
    t = tempfile.mkdtemp(prefix="orctbl_") + "/tbl"
    orctable.create_table(
        t, "struct<doc_id:string,tokens:array<int>,n_tok:int,"
           "source:string>")
    orctable.write_table(tok.repartition(8), t, codec="zlib")
    orctable.delete_from(spark, t, "n_tok < 40")
    # COW UPDATE (r5 s5): long docs re-labeled in place — stats
    # classify, only candidate files rewrite, tuples/codec preserved
    orctable.update_table(spark, t, set={"source": "hot"},
                          predicate="n_tok >= 200")
    # MERGE (upsert): docs with 40<=n_tok<=49 are REPLACED by source
    # rows labeled 'merged' (same tokens, same ids); 50<=n_tok<=59
    # re-keyed ids INSERT as new rows — one atomic merge snapshot,
    # broadcast-keyset COW plan (matched files rewrite after a
    # key-column-only pre-pass, untouched files never open)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    src = (tok.where("n_tok BETWEEN 40 AND 49")
           .withColumn("source", F.lit("merged")).select(*cols)
           .unionByName(
               tok.where("n_tok BETWEEN 50 AND 59")
               .withColumn("doc_id", F.concat(F.col("doc_id"),
                                              F.lit("-ins")))
               .withColumn("source", F.lit("inserted"))
               .select(*cols)))
    orctable.merge_table(spark, t, src, on="doc_id")
    snap = orctable.compact_table(spark, t, target_bytes=1 << 40)
    # ALTER TABLE (r5): rename source -> label METADATA-ONLY; every
    # data file still carries the old physical name, so this read
    # exercises the name-history mapping scan (_scan_entries groups
    # by physical->logical epoch and aliases back) — values must
    # stay bit-identical to the oracle
    orctable.rename_column(t, "source", "label")
    df = orctable.read_table(spark, t)
    v1 = orctable.read_table(spark, t, snapshot=1)
    n_files = snap["summary"]["n_files"]
    return df.agg(
        F.lit(n_files).cast("long").alias("n_files"),
        F.count("*").alias("n_docs"),
        F.sum(F.size("tokens")).cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.when(F.col("label") == "hot", 1).otherwise(0))
        .cast("long").alias("n_hot"),
        F.sum(F.when(F.col("label") == "merged", 1).otherwise(0))
        .cast("long").alias("n_merged"),
        F.sum(F.when(F.col("label") == "inserted", 1).otherwise(0))
        .cast("long").alias("n_ins")) \
        .crossJoin(v1.agg(F.count("*").alias("n_docs_v1")))


def _q_orc_scan_decimal(spark, sf_dir):
    """Exact DECIMAL(38,10) through the full .orc write -> orc_scan
    path (r4): values are built with >15 significant digits (so any
    float64 detour would corrupt them), written to .orc through our
    writer, scanned back WITHOUT the JVM reader, and aggregated as
    decimals.  The DuckDB oracle recomputes the identical values from
    the raw documents — a single lost digit fails the hash.
    Reference parity: decimal.go:53-79 / treereader.go:880-948 keep
    exact big.Int mantissas; so do we now (orcfile.py decimal branch,
    orcscan decimal128 mapping)."""
    import tempfile
    from orc_spark.sources import orcwriter
    from orc_spark.sources.orcscan import orc_scan
    dec = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CAST(concat(CAST(doc_id + 1 AS STRING), "
            "'234567890.123456789', CAST(doc_id % 10 AS STRING)) "
            "AS DECIMAL(38,10))").alias("val"))
    out = tempfile.mkdtemp(prefix="orcdecq_")
    orcwriter.dataframe_to_orc_dir(dec.repartition(4), out, codec="zlib")
    df = orc_scan(spark, out)
    return df.agg(
        F.count("*").alias("n"),
        F.sum("val").cast("string").alias("sum_val"),
        F.min("val").cast("string").alias("min_val"),
        F.max("val").cast("string").alias("max_val"))


def _q_orc_scan_nested_proj(spark, sf_dir):
    """Dotted nested-field projection (r5): documents land in a
    NESTED .orc layout struct rec<n_chars,lang,source> range-sorted
    by rec.n_chars; ``orc_scan(columns=["doc_id","rec.n_chars",
    "rec.lang"], predicate="rec.n_chars >= 500")`` resolves the
    dotted paths through the type tree (reference
    typedescription.go:623-646 GetField / cursor.go:29-45 Select),
    decodes ONLY the ancestor PRESENT chain + each selected subtree
    (sibling rec.source streams stay compressed — pinned by
    test_orc_scan_dotted_projection_skips_sibling_streams), and
    prunes stripes + strides from the LEAF's statistics.  The oracle
    recomputes the aggregates from the raw documents."""
    import tempfile
    from orc_spark.sources import orcwriter
    from orc_spark.sources.orcscan import orc_scan
    nested = _docs(spark, sf_dir).select(
        F.format_string("doc-%012d", "doc_id").alias("doc_id"),
        F.struct(F.col("n_chars").cast("long").alias("n_chars"),
                 F.col("lang").alias("lang"),
                 F.col("source").alias("source")).alias("rec"))
    out = tempfile.mkdtemp(prefix="orcnst_")
    orcwriter.dataframe_to_orc_dir(
        nested.repartitionByRange(4, F.col("rec.n_chars")), out,
        codec="zlib")
    df = orc_scan(spark, out,
                  columns=["doc_id", "rec.n_chars", "rec.lang"],
                  predicate="rec.n_chars >= 500")
    return df.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("`rec.n_chars`")).cast("long").alias("sum_chars"),
        F.countDistinct(F.col("`rec.lang`")).alias("n_langs"),
        F.countDistinct("doc_id").alias("n_ids"))


# Golden-corpus scans (r4): the oracles are CONSTANTS derived from the
# reference's own expected outputs (examples/expected/*.jsn.gz, the
# corpus orc_test.go:14-131 checks against) — NOT from our reader — so
# they are an independent end-to-end check of codecs the driver
# oracles couldn't otherwise reach: RLE v1 + dictionary v1 + v0.11
# layout (orc-file-11-format), snappy chunk decode
# (testSnappy), and uniontype (testUnionAndTimestamp — a file Spark's
# own JVM reader refuses to open).
_GOLDEN_DIR = "/root/reference/examples"


def _q_orc_scan_golden_v11(spark, sf_dir):
    """ORC v0.11 file through orc_scan: RLE v1 integer streams,
    insertion-order dictionary v1 strings, v0.11 decimal — aggregated
    scalars vs constants from the reference's expected JSON."""
    from orc_spark.sources.orcscan import orc_scan
    df = orc_scan(spark, f"{_GOLDEN_DIR}/orc-file-11-format.orc",
                  columns=["boolean1", "byte1", "short1", "int1",
                           "string1", "decimal1"])
    return df.agg(
        F.count("*").alias("n"),
        F.sum(F.col("boolean1").cast("int")).cast("long").alias("n_true"),
        F.sum("byte1").cast("long").alias("sum_byte1"),
        F.sum("short1").cast("long").alias("sum_short1"),
        F.sum("int1").cast("long").alias("sum_int1"),
        F.countDistinct("string1").alias("n_strings"),
        F.sum("decimal1").cast("string").alias("sum_dec"))


def _q_orc_scan_golden_snappy(spark, sf_dir):
    """Snappy-compressed file through orc_scan (snappy chunk decode
    through compression.decompress — the reference reads these; its writer and Spark's
    planner never exercise ours end-to-end otherwise)."""
    from orc_spark.sources.orcscan import orc_scan
    df = orc_scan(spark, f"{_GOLDEN_DIR}/TestOrcFile.testSnappy.orc")
    return df.agg(
        F.count("*").alias("n"),
        F.sum("int1").cast("long").alias("sum_int1"),
        F.countDistinct("string1").alias("n_strings"),
        F.min("string1").alias("min_str"),
        F.max("string1").alias("max_str"))


def _q_orc_scan_golden_union(spark, sf_dir):
    """uniontype column through orc_scan (sparse tag/_u* struct) — a
    file Spark's built-in ORC reader rejects outright; per-tag counts
    and branch aggregates vs expected-JSON constants."""
    from orc_spark.sources.orcscan import orc_scan
    df = orc_scan(spark,
                  f"{_GOLDEN_DIR}/TestOrcFile.testUnionAndTimestamp.orc")
    u = F.col("union")
    return df.agg(
        F.count("*").alias("n"),
        F.sum((u.getField("tag") == 0).cast("int"))
        .cast("long").alias("n_tag0"),
        F.sum((u.getField("tag") == 1).cast("int"))
        .cast("long").alias("n_tag1"),
        F.sum(u.isNull().cast("int")).cast("long").alias("n_null"),
        F.sum(u.getField("_u0")).cast("long").alias("sum_u0"),
        F.countDistinct(u.getField("_u1")).alias("n_u1"),
        F.sum(F.col("decimal").isNotNull().cast("int"))
        .cast("long").alias("n_dec"),
        F.sum("decimal").cast("string").alias("sum_dec"))


def _make_lz_golden(fname):
    """Shared shape for the lz4/lzo golden scans (pure-Python block
    decoders; Spark's own reader and the reference both lack lzo,
    and the reference lacks lz4 too)."""
    def q(spark, sf_dir):
        from orc_spark.sources.orcscan import orc_scan
        df = orc_scan(spark, f"{_GOLDEN_DIR}/{fname}.orc")
        return df.agg(
            F.count("*").alias("n"),
            F.sum("x").cast("long").alias("sum_x"),
            F.sum("y").cast("long").alias("sum_y"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"))
    q.__doc__ = (f"{fname}.orc via orc_scan: exercises the "
                 f"pure-Python block decoder end to end; constants "
                 f"from the reference's expected JSON.")
    return q


_q_orc_scan_golden_lz4 = _make_lz_golden("TestVectorOrcFile.testLz4")
_q_orc_scan_golden_lzo = _make_lz_golden("TestVectorOrcFile.testLzo")


def _long_metrics(df, tag: str):
    """One-row aggregate -> long (file, metric, value-string) rows so
    differently-shaped golden scans union into ONE driver query."""
    pairs = []
    for c in df.columns:
        pairs += [F.lit(c), F.col(c).cast("string")]
    return df.select(
        F.lit(tag).alias("file"),
        F.explode(F.create_map(*pairs)).alias("metric", "value"))


def _q_orc_scan_golden(spark, sf_dir):
    """All five golden-corpus scans in one long-format result (r5
    consolidation — every codec keeps its own oracle constants):
    v0.11 RLE-v1/dict-v1/decimal, snappy, uniontype
    (a file Spark's JVM reader rejects), lz4 and lzo blocks."""
    return (
        _long_metrics(_q_orc_scan_golden_v11(spark, sf_dir), "v11")
        .unionByName(_long_metrics(
            _q_orc_scan_golden_snappy(spark, sf_dir), "snappy"))
        .unionByName(_long_metrics(
            _q_orc_scan_golden_union(spark, sf_dir), "union"))
        .unionByName(_long_metrics(
            _q_orc_scan_golden_lz4(spark, sf_dir), "lz4"))
        .unionByName(_long_metrics(
            _q_orc_scan_golden_lzo(spark, sf_dir), "lzo")))


def _q_orc_scan_ts_nanos(spark, sf_dir):
    """Nanosecond timestamp fidelity (r4): testTimestamp.orc read with
    ``timestamp_nanos=True`` surfaces LONG wall-clock nanos; frac_sum
    aggregates the sub-second nano fields — any microsecond truncation
    (the default Spark surface) changes it.  Constants from the
    reference's expected JSON (formatNanos, utils.go:1206-1220)."""
    from orc_spark.sources.orcscan import orc_scan
    df = orc_scan(spark, f"{_GOLDEN_DIR}/TestOrcFile.testTimestamp.orc",
                  timestamp_nanos=True)
    return df.agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_ns"),
        F.max("value").alias("max_ns"),
        F.sum(F.col("value") % F.lit(1_000_000_000))
        .cast("long").alias("frac_sum"))


def _q_stream_encode(spark, sf_dir):
    """Structured Streaming ingestion: stream the token table through
    the stripe-encode foreachBatch pipeline (availableNow trigger),
    then aggregate the decoded output — exactly-once via the streaming
    checkpoint."""
    import os
    import tempfile
    from orc_spark.streaming import encode_stream
    tok = token_src.token_table(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="orcstream_")
    inp = os.path.join(base, "in")
    out = os.path.join(base, "out")
    tok.repartition(3).write.parquet(inp)
    q = encode_stream.encode_stream(spark, inp, out,
                                    max_files_per_trigger=2)
    q.awaitTermination(300)
    enc = spark.read.parquet(os.path.join(out, "stripes"))
    dec = enc_ops.decode(enc)
    return dec.agg(F.count("*").alias("n_docs"),
                   F.sum("n_tok").cast("long").alias("sum_ntok"),
                   F.countDistinct("doc_id").alias("n_ids"))


def _q_csv_export(spark, sf_dir):
    """orc2csv analog (reference tools/orc2csv/main.go): encode, export
    selected columns to CSV via the decode cursor, read the CSV back
    and aggregate — verified against the raw documents."""
    import tempfile
    from orc_spark.operators import export
    tok = token_src.token_table(spark, sf_dir)
    enc = enc_ops.encode(tok.repartition(2))
    path = tempfile.mkdtemp(prefix="orccsv_") + "/out"
    export.encoded_to_csv(enc, path, columns=["doc_id", "n_tok"])
    back = spark.read.option("header", True).csv(path)
    return back.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_ntok"),
        F.countDistinct("doc_id").alias("n_ids"))


def _q_orc_stats_roundtrip(spark, sf_dir):
    """Statistics pipeline proof: write a real .orc file with our
    kernels, parse the FILE FOOTER statistics back with our reader
    (never touching row data), and report them — the oracle recomputes
    the same aggregates from the raw documents."""
    import os
    import tempfile
    from orc_spark.sources import orcwriter, orcfile
    tok = token_src.token_table(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="orcstats_")
    orcwriter.dataframe_to_orc_dir(tok.coalesce(1), out, codec="zlib")
    files = [f for f in os.listdir(out) if f.endswith(".orc")]
    f = orcfile.ORCFile(os.path.join(out, files[0]))
    # col ids: 0 root, 1 doc_id, 2 tokens(list), 3 child ints, 4 n_tok
    ntok = f.file_statistics[4]
    child = f.file_statistics[3]
    return spark.createDataFrame(
        [(int(f.n_rows), int(ntok["min"]), int(ntok["max"]),
          int(ntok["sum"]), int(child["n"]))],
        "n_rows long, min_ntok long, max_ntok long, sum_ntok long, "
        "n_token_values long")


def _q_stream_dedup(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-fingerprint duplicate state maintained across micro-batches;
    after the stream drains, the latest state per fp must equal the
    batch dedup answer (the oracle's GROUP BY)."""
    import os
    import tempfile
    from orc_spark.streaming import dedup_stream
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = docs.unionByName(dups)
    base = tempfile.mkdtemp(prefix="dedupstream_")
    inp = os.path.join(base, "in")
    out = os.path.join(base, "out")
    corpus.repartition(3).write.parquet(inp)
    q = dedup_stream.dedup_stream(spark, inp, out, corpus.schema,
                                  max_files_per_trigger=1)
    q.awaitTermination(300)
    return dedup_stream.latest_state(spark, out)


def _q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (r4): every 50th document plays the
    EVAL SET; training docs sharing any word 13-gram with it are
    flagged.  Map-side n-gram hashing + broadcast semi join — the
    corpus itself never shuffles.  The DuckDB oracle recomputes
    overlap over STRING n-grams (the hashed-tuple bijection)."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 50 == 0)
    out = text.decontaminate(docs, ev, n=13)
    return out.select("doc_id", "n_hits", "contaminated")


def _q_text_repetition(spark, sf_dir):
    """Gopher-style repetition gates (r4): duplicate-line fraction,
    duplicate word-2-gram fraction, most-repeated-word share — with
    planted high-repetition docs (text doubled) to give the signal
    something to catch; all map-side codegen."""
    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit("\n"), "text").alias("text"))
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return text.repetition_stats(corpus)


def _q_dedup_ngram_overlap(spark, sf_dir):
    """Exact shared-passage detection (r4, Lee et al. substring-dedup
    family): planted docs splice the FIRST 12 WORDS of a source doc
    into otherwise-unrelated text — invisible to whole-document
    minhash at any threshold, found exactly here as shared word
    8-grams.  The oracle recomputes overlap over string n-grams with
    the identical hot-gram cap."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("zq unrelated prefix words here qz "),
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"),
                                 1, 12), " "),
            F.lit(" qy wholly different suffix yz")).alias("text"))
    corpus = docs.unionByName(planted)
    pairs = dedup.ngram_overlap_pairs(corpus, n=8, min_shared=3,
                                      max_bucket=256,
                                      pre_collapse=False)
    return pairs.select("doc_a", "doc_b", "shared_ngrams")


def _q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing (r3): seed deterministic emails/phones/IPs into
    every 3rd document, redact + count via pure JVM regexp; the oracle
    recomputes counts AND the md5 of the scrubbed text byte-for-byte
    (the patterns are Java/RE2-portable by construction)."""
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"),
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com or 555-123-4567 at 10.0.0."),
                        (F.col("doc_id") % 256).cast("string")))
        .otherwise(F.col("text")).alias("text"))
    out = text.pii_scrub(seeded)
    return out.select("doc_id", "n_email", "n_phone", "n_ipv4",
                      F.md5("scrubbed").alias("scrub_md5"),
                      "scrubbed_len")


_SAMPLE_RATES = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
_SAMPLE_DEFAULT = 0.1


def _q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (training-data mixing, r3):
    per-source keep fractions realized as a portable md5-threshold
    filter — the oracle applies the IDENTICAL predicate in DuckDB, so
    the selected row set matches exactly (not just in expectation)."""
    docs = _docs(spark, sf_dir)
    samp = sampling.stratified_sample(docs, _SAMPLE_RATES,
                                      default_rate=_SAMPLE_DEFAULT)
    return samp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_id"))


def _q_stream_dedup_near(spark, sf_dir):
    """Streaming NEAR-duplicate detection (VERDICT r2 next-round #5):
    minhash band-bucket GroupState across micro-batches; after the
    stream drains, the exact-verified distinct pair set equals the
    batch minhash_lsh_pairs answer — the oracle is the same
    brute-force all-pairs shingle Jaccard as dedup_minhash."""
    import os
    import tempfile
    from orc_spark.streaming import dedup_stream
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"))
    # exact dups are collapsed BEFORE ingest (a production stream
    # fronts this with dedup_stream), matching the batch pre-collapse
    corpus = dedup.collapse_exact(docs.unionByName(dups))
    base = tempfile.mkdtemp(prefix="neardupstream_")
    inp = os.path.join(base, "in")
    out = os.path.join(base, "out")
    corpus.repartition(3).write.parquet(inp)
    q = dedup_stream.near_dedup_stream(spark, inp, out, corpus.schema,
                                       max_files_per_trigger=1)
    q.awaitTermination(300)
    return dedup_stream.verified_near_pairs(spark, out, corpus,
                                            min_jaccard=0.4)


def _feat_sum_df(feats):
    return feats.select(
        "media_id", F.size("features").cast("long").alias("dim"),
        F.round(F.aggregate(F.transform("features",
                                        lambda x: x.cast("double")),
                            F.lit(0.0), lambda a, x: a + x), 3)
        .alias("feat_sum"))


def _q_mm_decode(spark, sf_dir):
    """ALL media decode paths in one result (r5 consolidation):
    the legacy fake byte-math features (img-* rows — they pin the
    mapInPandas schema/batch shape), REAL 24-bit BMP + PCM16 WAV
    container decode (bmp-*/wav-* rows, r4 — header parse, row
    padding, bottom-up flip, BGR->RGB, RIFF chunk walk), and REAL
    PNG decode (png-* rows, r5 — CRC-verified chunk walk, zlib
    inflate, all five scanline filters exercised by cycling row
    filter types).  Raster/sample i of doc d is a pure function of
    (d, i), so the DuckDB oracle recomputes every statistic
    independently: a single header-offset, channel-order or filter
    bug changes a mean and fails the hash."""
    docs = _docs(spark, sf_dir)
    fake = multimodal.synthesize_media(spark, docs)
    real = multimodal.synthesize_real_media(spark, docs)
    png = multimodal.synthesize_png_media(spark, docs)
    # jpg-* rows: 8x8-constant-tile grayscale JPEGs decode BIT-EXACTLY
    # (DC-only blocks, unscaled Annex K tables at q=50), so even the
    # lossy format gets an exact DuckDB oracle; odd docs encode
    # PROGRESSIVE (SOF2, r5) — same coefficients, second entropy layout
    jpg = multimodal.synthesize_jpeg_media(spark, docs)
    # gif-* rows: animated 3-frame grayscale GIF89a (r5) — lossless
    # LZW, first composited frame statistics recomputed by DuckDB
    gif = multimodal.synthesize_gif_media(spark, docs)
    # avi-* rows: REAL video (r5) — 4-frame MJPEG AVI; the RIFF walk
    # + constant-tile JPEG frames decode bit-exactly (first frame)
    avi = multimodal.synthesize_avi_media(spark, docs)
    # ulw-/alw-* rows: REAL telephony audio (r5) — Sun AU mu-law and
    # WAV-format-6 A-law; G.711 expansion recomputed by DuckDB from
    # the CCITT segment formulas (tables pinned against audioop)
    g711 = multimodal.synthesize_g711_media(spark, docs)
    # flc-* rows: REAL FLAC (r5) — lossless rice/LPC audio; odd docs
    # use LPC subframes, even docs FIXED predictors, one oracle
    flac = multimodal.synthesize_flac_media(spark, docs)
    # tif-* rows: REAL TIFF (r5) — none/PackBits/LZW strips cycling
    # by doc, all lossless, one formula oracle
    tif = multimodal.synthesize_tiff_media(spark, docs)
    return _feat_sum_df(multimodal.extract_features(
        fake.unionByName(real).unionByName(png).unionByName(jpg)
        .unionByName(gif).unionByName(avi).unionByName(g711)
        .unionByName(flac).unionByName(tif)))


def _q_mm_transform(spark, sf_dir):
    """Media transforms in one result (r5 consolidation): 8x8
    nearest-neighbor BMP resize (decode -> index-arithmetic resize ->
    re-encode -> decode for statistics; 'resize' rows) and the video
    frame-sampling plan over duration metadata ('frame' rows).  The
    oracle recomputes resized pixels from the source formula through
    the same yi = y*H//8 arithmetic, and frame timestamps from
    generate_series."""
    docs = _docs(spark, sf_dir)
    media = multimodal.synthesize_real_media(spark, docs)
    imgs = media.where(F.col("kind") == "image")
    resized = _feat_sum_df(multimodal.extract_features(
        multimodal.resize_media(imgs, 8, 8)))
    r1 = resized.select(
        "media_id", F.lit("resize").alias("op"),
        F.col("dim").cast("double").alias("v1"),
        F.col("feat_sum").cast("double").alias("v2"))
    vids = multimodal.synthesize_media(spark, docs) \
        .withColumn("kind", F.lit("video")) \
        .join(docs.select(
            F.concat(F.lit("img-"), F.col("doc_id").cast("string"))
            .alias("media_id"),
            (F.col("n_chars") * 10).cast("int").alias("dur")),
            "media_id") \
        .drop("duration_ms").withColumnRenamed("dur", "duration_ms")
    frames = multimodal.frame_sample_stub(vids, every_ms=1000)
    r2 = frames.select(
        "media_id", F.lit("frame").alias("op"),
        F.col("frame_ts_ms").cast("double").alias("v1"),
        F.lit(0.0).alias("v2"))
    # gifframe + aviframe rows (r5): REAL decoded temporal media —
    # every frame's start timestamp and mean, exact vs DuckDB (GIF:
    # graphic-control delays; AVI: stream scale/rate + MJPEG frames)
    temporal = multimodal.synthesize_gif_media(spark, docs) \
        .unionByName(multimodal.synthesize_avi_media(spark, docs))
    gf = multimodal.media_frame_stats(temporal)
    r3 = gf.select(
        "media_id",
        F.when(F.col("media_id").startswith("gif-"), F.lit("gifframe"))
        .otherwise(F.lit("aviframe")).alias("op"),
        F.col("frame_ts_ms").cast("double").alias("v1"),
        F.round("frame_mean", 3).alias("v2"))
    # probe rows (r5): container-level header walk — duration and
    # frame/sample counts without decoding, across five containers
    probed = multimodal.probe_media_df(
        temporal.unionByName(multimodal.synthesize_g711_media(
            spark, docs)).unionByName(
            multimodal.synthesize_flac_media(spark, docs)))
    r4 = probed.select(
        "media_id", F.lit("probe").alias("op"),
        F.col("duration_ms").cast("double").alias("v1"),
        F.col("frames").cast("double").alias("v2"))
    return r1.unionByName(r2).unionByName(r3).unionByName(r4)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rt_roundtrip": _q_rt_roundtrip,
        "rt_projection": _q_rt_projection,
        "rt_pruned_decode": _q_rt_pruned_decode,
        "rt_stride_pruned": _q_rt_stride_pruned,
        "rt_mixed_types": _q_rt_mixed_types,
        "rt_nested": _q_rt_nested,
        "rt_nulls": _q_rt_nulls,
        "enc_token_profile": _q_enc_token_profile,
        "enc_column_stats": _q_enc_column_stats,
        "enc_footer": _q_enc_footer,
        "enc_compact": _q_enc_compact,
        "enc_codec_histogram": _q_enc_codec_histogram,
        "text_token_counts": _q_text_token_counts,
        "text_quality": _q_text_quality,
        "text_langid": _q_text_langid,
        "text_fingerprints": _q_text_fingerprints,
        "text_vocab": _q_text_vocab,
        "text_pii_scrub": _q_text_pii_scrub,
        "text_decontaminate": _q_text_decontaminate,
        "text_repetition": _q_text_repetition,
        "sample_stratified": _q_sample_stratified,
        "pack_sequences": _q_pack_sequences,
        "pipeline_clean": _q_pipeline_clean,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_overlap": _q_dedup_ngram_overlap,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_jaccard_exact": _q_dedup_jaccard_exact,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_clusters": _q_dedup_clusters,
        "orc_file_roundtrip": _q_orc_file_roundtrip,
        "orc_scan_pruned": _q_orc_scan_pruned,
        "orc_datasource": _q_orc_datasource,
        "orc_stats_agg": _q_orc_stats_agg,
        "orc_count_pruned": _q_orc_count_pruned,
        "orc_merge_compact": _q_orc_merge_compact,
        "orc_scan_decimal": _q_orc_scan_decimal,
        "orc_scan_nested_proj": _q_orc_scan_nested_proj,
        "orc_scan_golden": _q_orc_scan_golden,
        "orc_scan_ts_nanos": _q_orc_scan_ts_nanos,
        "stream_encode": _q_stream_encode,
        "stream_dedup": _q_stream_dedup,
        "stream_dedup_near": _q_stream_dedup_near,
        "sim_cosine_topk": _q_sim_cosine_topk,
        "sim_ann": _q_sim_ann,
        "sim_knn": _q_sim_knn,
        "orc_stats_roundtrip": _q_orc_stats_roundtrip,
        "csv_export": _q_csv_export,
        "mm_decode": _q_mm_decode,
        "mm_transform": _q_mm_transform,
    }


_WS_TOKENS = "length(regexp_split_to_array(trim(text), '\\s+'))"
_STOP_LIST = "['the','a','of','and','to','in','is','it']"


# brute-force all-pairs exact shingle Jaccard over the seeded corpus:
# implementation-independent; any LSH recall miss fails the match.
# Shared by dedup_minhash (batch) and stream_dedup_near (streaming).
_BRUTE_JACCARD_SQL = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra token'
      FROM documents WHERE doc_id < 20),
    -- mirror the operator's exact-dup pre-collapse: one
    -- representative (min doc_id) per normalized fingerprint
    reps AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, row_number() OVER (
            PARTITION BY md5(regexp_replace(
                lower(trim(text)), '\\s+', ' ', 'g'))
            ORDER BY doc_id) AS rn
        FROM corpus) WHERE rn = 1),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(
              trim(text), '\\s+')) - 2, 1) + 1),
          k -> array_to_string(regexp_split_to_array(
              trim(text), '\\s+')[k:k+2], ' ')))) AS s
      FROM reps),
    sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.c + sb.c - i), 6)
           AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.4"""


def _pii_scrub_oracle() -> str:
    """Built from text.PII_PATTERNS so Spark and DuckDB always scrub
    with the same regexes (Java/RE2-portable by construction)."""
    p = text.PII_PATTERNS
    return f"""
        WITH seeded AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' contact user'
                           || CAST(doc_id AS VARCHAR)
                           || '@example.com or 555-123-4567 at 10.0.0.'
                           || CAST(doc_id % 256 AS VARCHAR)
                      ELSE text END AS text
          FROM documents),
        -- counts run on the RUNNING text (after earlier kinds'
        -- replacements), mirroring text.pii_scrub exactly
        s1 AS (SELECT doc_id, text, regexp_replace(text,
                   '{p["email"]}', '<EMAIL>', 'g') AS t1 FROM seeded),
        s2 AS (SELECT *, regexp_replace(t1,
                   '{p["phone"]}', '<PHONE>', 'g') AS t2 FROM s1),
        s3 AS (SELECT *, regexp_replace(t2,
                   '{p["ipv4"]}', '<IPV4>', 'g') AS t3 FROM s2)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{p["email"]}'))
                    AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(t1, '{p["phone"]}'))
                    AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(t2, '{p["ipv4"]}'))
                    AS BIGINT) AS n_ipv4,
               md5(t3) AS scrub_md5,
               CAST(length(t3) AS BIGINT) AS scrubbed_len
        FROM s3"""


def _stratified_oracle() -> str:
    """The IDENTICAL md5-threshold predicate as sampling.
    stratified_sample — the sample matches row-for-row, not just in
    expectation."""
    h = "md5(CAST(doc_id AS VARCHAR))"
    conds = [
        f"(source = '{s}' AND {sampling.rate_sql_cond(h, r)})"
        for s, r in _SAMPLE_RATES.items()]
    not_in = ", ".join(f"'{s}'" for s in _SAMPLE_RATES)
    conds.append(f"(source NOT IN ({not_in}) AND "
                 f"{sampling.rate_sql_cond(h, _SAMPLE_DEFAULT)})")
    return f"""
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_id
        FROM documents
        WHERE {" OR ".join(conds)}
        GROUP BY source"""


def _clusters_oracle(iters: int = 10) -> str:
    """Brute-force pair graph + ``iters`` rounds of min-label
    propagation, unrolled as SQL CTEs (the iterative counterpart of
    dedup.cluster_pairs; seeded components here have small diameter,
    so 10 rounds is a fixpoint)."""
    base = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text || ' extra token'
          FROM documents WHERE doc_id < 10
          UNION ALL
          SELECT doc_id + 2000000, text || ' extra token tail'
          FROM documents WHERE doc_id < 10),
        reps AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text, row_number() OVER (
                PARTITION BY md5(regexp_replace(
                    lower(trim(text)), '\\s+', ' ', 'g'))
                ORDER BY doc_id) AS rn
            FROM corpus) WHERE rn = 1),
        sh AS MATERIALIZED (
          SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(regexp_split_to_array(
                  trim(text), '\\s+')) - 2, 1) + 1),
              k -> array_to_string(regexp_split_to_array(
                  trim(text), '\\s+')[k:k+2], ' ')))) AS s
          FROM reps),
        sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
        pairs AS MATERIALIZED (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS i
            FROM sh a JOIN sh b USING (s)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2) t
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.4),
        und AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        l0 AS MATERIALIZED (
          SELECT a AS node, least(a, min(b)) AS label
          FROM und GROUP BY a)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
        l{i} AS MATERIALIZED (
          SELECT o.node,
                 least(o.label, coalesce(min(n.label), o.label)) AS label
          FROM l{i - 1} o
          LEFT JOIN und e ON e.a = o.node
          LEFT JOIN l{i - 1} n ON n.node = e.b
          GROUP BY o.node, o.label)""")
    return (base + "," + ",".join(steps) +
            f"""
        SELECT node, label AS cluster, node = label AS is_rep
        FROM l{iters}""")


def oracle_sql() -> dict[str, str]:
    n_tok = _WS_TOKENS
    quality = f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST({n_tok} AS BIGINT) AS n_words,
               round(length(regexp_replace(text, '\\s+', '', 'g'))
                     / {n_tok}, 4) AS mean_word_len,
               round(len(list_filter(regexp_split_to_array(trim(text),
                     '\\s+'), w -> list_contains({_STOP_LIST}, w)))
                     / {n_tok}, 4) AS stopword_ratio,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                    AS BIGINT) AS n_digits,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                    AS BIGINT) AS n_punct
        FROM documents"""
    marker_score = {
        lang: (f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
               f" w -> list_contains({markers!r}, w)))")
        for lang, markers in text.LANG_MARKERS.items()
    }
    greatest = "greatest(" + ", ".join(marker_score.values()) + ")"
    pred_cases = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'"
        for lang in sorted(text.LANG_MARKERS))
    langid = f"""
        WITH scored AS (
          SELECT doc_id, lang, {greatest} AS best,
                 {', '.join(f'{expr} AS s_{lang}'
                            for lang, expr in marker_score.items())}
          FROM documents)
        SELECT doc_id, lang,
               CASE WHEN best > 0 THEN (CASE {pred_cases} END)
                    ELSE 'und' END AS pred_lang
        FROM scored"""
    return {
        "rt_roundtrip": (
            "SELECT 'plain' AS variant, count(*) AS n_rows, "
            "count(*) AS n_match, count(*) AS n_token_match "
            "FROM documents UNION ALL "
            "SELECT 'fsst', count(*), count(*), count(*) "
            "FROM documents"),
        "rt_projection": (
            f"SELECT CAST(sum({n_tok}) AS BIGINT) AS sum_ntok, "
            f"count(*) AS n_docs FROM documents"),
        "rt_pruned_decode": (
            f"SELECT 'cmp' AS pred, count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS sum_ntok FROM documents "
            f"WHERE {n_tok} >= 60 "
            f"UNION ALL "
            f"SELECT 'inlist', count(*), "
            f"CAST(sum({n_tok}) AS BIGINT) FROM documents "
            f"WHERE {n_tok} IN (60, 64, 128) "
            f"UNION ALL "
            # doc_id formats as doc-%012d, so the LIKE prefix
            # 'doc-00000000001' is exactly ids 10..19
            f"SELECT 'like', count(*), "
            f"CAST(sum({n_tok}) AS BIGINT) FROM documents "
            f"WHERE doc_id BETWEEN 10 AND 19"),
        "rt_stride_pruned": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS sum_ntok FROM documents "
            f"WHERE {n_tok} >= 60"),
        "rt_mixed_types": ("""
            SELECT count(*) AS n,
                   CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_true,
                   round(sum(n_chars * 0.5), 3) AS sum_w,
                   strftime(min(DATE '2020-01-01'
                       + CAST(doc_id % 365 AS INT)), '%Y-%m-%d') AS min_d,
                   strftime(max(DATE '2020-01-01'
                       + CAST(doc_id % 365 AS INT)), '%Y-%m-%d') AS max_d,
                   CAST(max(doc_id * 3600) AS BIGINT) AS max_ts_epoch,
                   CAST(sum(CAST(n_chars / 100.0 AS DECIMAL(10,2)))
                        AS DOUBLE) AS sum_dec
            FROM documents"""),
        "rt_nested": ("""
            SELECT count(*) AS n,
                   count(*) FILTER (WHERE doc_id % 5 <> 0) AS n_meta,
                   CAST(sum(n_chars) FILTER (WHERE doc_id % 5 <> 0)
                        AS BIGINT) AS sum_chars,
                   CAST(count(DISTINCT CASE WHEN doc_id % 5 <> 0
                                            THEN lang END)
                        AS BIGINT) AS n_langs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_map,
                   CAST(sum(least(length(regexp_split_to_array(
                        trim(text), '\\s+')), 5)) AS BIGINT) AS sum_head
            FROM documents"""),
        "rt_nulls": ("""
            WITH m AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 <> 0 THEN n_chars END AS v,
                     CASE WHEN doc_id % 5 <> 0 THEN lang END AS s,
                     CASE WHEN doc_id % 5 <> 0
                          THEN n_chars * 0.25 END AS w,
                     CASE WHEN doc_id % 5 <> 0
                          THEN doc_id % 3 = 0 END AS flag
              FROM documents)
            SELECT count(*) AS n,
                   count(v) AS n_v,
                   CAST(sum(v) AS BIGINT) AS sum_v,
                   CAST(count(DISTINCT s) AS BIGINT) AS n_s,
                   round(sum(w), 3) AS sum_w,
                   CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_true,
                   CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 2 END)
                        AS BIGINT) AS sum_toks
            FROM m"""),
        "enc_token_profile": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS total_tokens, "
            f"CAST(min({n_tok}) AS BIGINT) AS min_ntok, "
            f"CAST(max({n_tok}) AS BIGINT) AS max_ntok, "
            f"count(DISTINCT source) AS n_sources FROM documents"),
        "enc_column_stats": (
            f"SELECT CAST(min({n_tok}) AS BIGINT) AS min_ntok, "
            f"CAST(max({n_tok}) AS BIGINT) AS max_ntok, "
            f"CAST(sum({n_tok}) AS BIGINT) AS sum_ntok, "
            f"count(*) AS n_docs FROM documents"),
        "text_token_counts": (
            f"SELECT doc_id, CAST({n_tok} AS BIGINT) AS n_ws_tokens, "
            f"CAST(len(regexp_extract_all(text, "
            f"'{text.BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens, "
            f"CAST(length(text) AS BIGINT) AS n_chars FROM documents"),
        "text_quality": quality,
        "text_vocab": (
            "SELECT w AS word, count(*) AS n FROM ("
            "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w"
            " FROM documents) GROUP BY 1 "
            "ORDER BY n DESC, word ASC LIMIT 50"),
        "text_langid": langid,
        "text_pii_scrub": _pii_scrub_oracle(),
        # word-13-gram overlap vs the eval subset, recomputed over
        # STRING n-grams (clipped window for short docs mirrors the
        # hashed-tuple convention; concat_ws skips the NULL tail)
        "text_decontaminate": r"""
            WITH w AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS ws
              FROM documents),
            g AS (
              SELECT doc_id, list_distinct(list_transform(
                       range(0, greatest(len(ws) - 13, 0) + 1),
                       i -> concat_ws(' ', ws[i+1], ws[i+2], ws[i+3],
                                      ws[i+4], ws[i+5], ws[i+6],
                                      ws[i+7], ws[i+8], ws[i+9],
                                      ws[i+10], ws[i+11], ws[i+12],
                                      ws[i+13]))) AS gs
              FROM w),
            ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g
                   WHERE doc_id % 50 = 0),
            tg AS (SELECT doc_id, unnest(gs) AS gram FROM g),
            hits AS (SELECT doc_id, count(*) AS n FROM tg
                     JOIN ev USING (gram) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)""",
        # dup-line / dup-2gram / top-word fractions over documents
        # plus the planted doubled-text docs
        "text_repetition": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text || chr(10) || text
              FROM documents WHERE doc_id < 10),
            base AS (
              SELECT doc_id,
                     list_filter(str_split(text, chr(10)),
                                 x -> length(trim(x)) > 0) AS ls,
                     regexp_split_to_array(trim(text), '\s+') AS ws
              FROM corpus),
            g AS (
              SELECT doc_id, ls, ws,
                     list_transform(
                       range(0, greatest(len(ws) - 2, 0) + 1),
                       i -> concat_ws(' ', ws[i+1], ws[i+2])) AS gs
              FROM base)
            SELECT doc_id,
                   round((len(ls) - len(list_distinct(ls)))
                         / greatest(len(ls), 1)::DOUBLE, 6)
                     AS dup_line_frac,
                   round((len(gs) - len(list_distinct(gs)))
                         / greatest(len(gs), 1)::DOUBLE, 6)
                     AS dup_2gram_frac,
                   round(list_max(list_transform(list_distinct(ws),
                           w -> len(list_filter(ws, x -> x = w))))
                         / greatest(len(ws), 1)::DOUBLE, 6)
                     AS top_word_frac
            FROM g""",
        # exact shared-passage oracle: string 8-grams, hot grams
        # (doc-frequency > 256) dropped exactly like _cap_buckets,
        # pairs sharing >= 3 remaining grams
        "dedup_ngram_overlap": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 2000000,
                     'zq unrelated prefix words here qz ' ||
                     array_to_string(
                       regexp_split_to_array(trim(text), '\s+')[1:12],
                       ' ') || ' qy wholly different suffix yz'
              FROM documents WHERE doc_id < 15),
            g AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(0, greatest(len(ws) - 8, 0) + 1),
                       i -> concat_ws(' ', ws[i+1], ws[i+2], ws[i+3],
                                      ws[i+4], ws[i+5], ws[i+6],
                                      ws[i+7], ws[i+8])))) AS gram
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(text), '\s+')
                           AS ws FROM corpus)),
            kept AS (
              SELECT gram FROM g GROUP BY gram
              HAVING count(*) <= 256),
            gk AS (SELECT doc_id, gram FROM g JOIN kept USING (gram))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS shared_ngrams
            FROM gk a JOIN gk b ON a.gram = b.gram
                      AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 3""",
        "sample_stratified": _stratified_oracle(),
        "text_fingerprints": (
            "SELECT doc_id, md5(text) AS fp, "
            "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
            "AS fp_norm FROM documents"),
        "orc_file_roundtrip": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS total_tokens, "
            f"count(DISTINCT doc_id) AS n_ids FROM documents"),
        # same totals restricted to docs with >= 60 whitespace tokens
        # (the scan's predicate); exactness despite stripe-granularity
        # pruning is the point
        "orc_scan_pruned": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS total_tokens, "
            f"count(DISTINCT doc_id) AS n_ids FROM documents "
            f"WHERE {n_tok} >= 60"),
        # the V2 DataSource surface computes the same totals as the
        # predicate-pushdown scan (WHERE via Spark's own pushdown)
        # n_evolved = docs written in the LATER (wide-schema) half of
        # the evolving lake: even whitespace-token counts
        "orc_datasource": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS total_tokens, "
            f"count(DISTINCT doc_id) AS n_ids, "
            f"count(*) FILTER (WHERE ({n_tok}) % 2 = 0) AS n_evolved "
            f"FROM documents WHERE {n_tok} >= 60"),
        # footer-stats aggregates: DuckDB recomputes the identical
        # count/min/max/sum from the raw documents (string-column sum
        # is ORC's total byte length)
        "orc_stats_agg": f"""
            WITH t AS (
              SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
                     AS did, {n_tok} AS nt FROM documents)
            SELECT 'n_tok' AS "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_values,
                   CAST(min(nt) AS VARCHAR) AS min,
                   CAST(max(nt) AS VARCHAR) AS max,
                   CAST(CAST(sum(nt) AS BIGINT) AS VARCHAR) AS sum
            FROM t
            UNION ALL
            SELECT 'doc_id', CAST(count(*) AS BIGINT),
                   CAST(count(*) AS BIGINT), min(did), max(did),
                   CAST(CAST(sum(length(did)) AS BIGINT) AS VARCHAR)
            FROM t""",
        "orc_count_pruned": (
            f"SELECT count(*) AS n_all, "
            f"CAST(sum(CASE WHEN {n_tok} >= 60 THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_sel FROM documents"),
        # delete_from removes n_tok < 40 before compaction; empty /
        # whitespace-only / NULL texts tokenize to ZERO tokens on the
        # Spark side, so they are deleted too (the CASE keeps the
        # oracle's split-of-empty = [''] artifact out of the filter)
        # r5 s5: after the delete, update_table labels nt>=200 docs
        # 'hot' in place, and merge_table REPLACES the 40..49 band
        # with 'merged' rows (same ids/tokens) while INSERTING the
        # 50..59 band under new '-ins' ids — so the final state is
        # kept-docs + inserts, with the three source labels
        # recomputable straight from the token-count bands
        "orc_merge_compact": (
            f"WITH d AS (SELECT doc_id, "
            f"CASE WHEN text IS NULL OR trim(text) = '' THEN 0 "
            f"ELSE {n_tok} END AS nt FROM documents), "
            f"k AS (SELECT * FROM d WHERE nt >= 40), "
            f"i AS (SELECT * FROM d WHERE nt BETWEEN 50 AND 59) "
            f"SELECT CAST(1 AS BIGINT) AS n_files, "
            f"(SELECT count(*) FROM k) + (SELECT count(*) FROM i) "
            f"AS n_docs, "
            f"(SELECT CAST(sum(nt) AS BIGINT) FROM k) + "
            f"(SELECT CAST(sum(nt) AS BIGINT) FROM i) "
            f"AS total_tokens, "
            f"(SELECT count(DISTINCT doc_id) FROM k) + "
            f"(SELECT count(*) FROM i) AS n_ids, "
            f"(SELECT count(*) FROM d WHERE nt >= 200) AS n_hot, "
            f"(SELECT count(*) FROM d WHERE nt BETWEEN 40 AND 49) "
            f"AS n_merged, "
            f"(SELECT count(*) FROM i) AS n_ins, "
            f"(SELECT count(*) FROM d) AS n_docs_v1"),
        # full recompute of the >15-significant-digit decimals: every
        # digit of sum/min/max must survive the .orc round-trip
        "orc_scan_decimal": (
            "WITH d AS (SELECT CAST(concat("
            "CAST(doc_id + 1 AS VARCHAR), '234567890.123456789', "
            "CAST(doc_id % 10 AS VARCHAR)) AS DECIMAL(38,10)) AS val "
            "FROM documents) "
            "SELECT count(*) AS n, "
            "CAST(sum(val) AS VARCHAR) AS sum_val, "
            "CAST(min(val) AS VARCHAR) AS min_val, "
            "CAST(max(val) AS VARCHAR) AS max_val FROM d"),
        "orc_scan_nested_proj": (
            "SELECT count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "count(DISTINCT lang) AS n_langs, "
            "count(DISTINCT doc_id) AS n_ids "
            "FROM documents WHERE n_chars >= 500"),
        # constants below are derived from the reference's OWN
        # expected outputs (examples/expected/*.jsn.gz) — independent
        # of our reader; see _q_orc_scan_golden_* docstrings
        # long-format (file, metric, value) constants — one row per
        # aggregate of each golden file, same values as the r4
        # per-file oracles (derived from the reference's expected
        # JSON); decimals render through the same DECIMAL->VARCHAR
        # cast the Spark side's .cast("string") produces.
        # n_u1 = 35: one tag-1 row carries a NULL string (count
        # distinct of non-null values).
        "orc_scan_golden": ("""
            SELECT * FROM (VALUES
              ('v11', 'n', '7500'),
              ('v11', 'n_true', '3750'),
              ('v11', 'sum_byte1', '378750'),
              ('v11', 'sum_short1', '11520000'),
              ('v11', 'sum_int1', '491520000'),
              ('v11', 'n_strings', '2'),
              ('v11', 'sum_dec',
               CAST(CAST('92592589910.5923750' AS DECIMAL(38,10))
                    AS VARCHAR)),
              ('snappy', 'n', '10000'),
              ('snappy', 'sum_int1', '-60390886051'),
              ('snappy', 'n_strings', '10000'),
              ('snappy', 'min_str', '100105e0'),
              ('snappy', 'max_str', 'fffee5c6'),
              ('union', 'n', '5077'),
              ('union', 'n_tag0', '5040'),
              ('union', 'n_tag1', '36'),
              ('union', 'n_null', '1'),
              ('union', 'sum_u0', '8660390656586'),
              ('union', 'n_u1', '35'),
              ('union', 'n_dec', '71'),
              ('union', 'sum_dec',
               CAST(CAST('53246247702808099200.531856403454526690'
                    AS DECIMAL(38,18)) AS VARCHAR)),
              ('lz4', 'n', '10000'),
              ('lz4', 'sum_x', '-29723113824'),
              ('lz4', 'sum_y', '49995000'),
              ('lz4', 'min_z', '-9221825976469149409'),
              ('lz4', 'max_z', '9222553191715006506'),
              ('lzo', 'n', '10000'),
              ('lzo', 'sum_x', '-104378124950'),
              ('lzo', 'sum_y', '49995000'),
              ('lzo', 'min_z', '-9220797878164861576'),
              ('lzo', 'max_z', '9221970999439637511')
            ) AS t(file, metric, value)"""),
        "orc_scan_ts_nanos": (
            "SELECT CAST(12 AS BIGINT) AS n, "
            "CAST(788918400688888888 AS BIGINT) AS min_ns, "
            "CAST(2114380800000999000 AS BIGINT) AS max_ns, "
            "CAST(5070543801 AS BIGINT) AS frac_sum"),
        "stream_encode": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS sum_ntok, "
            f"count(DISTINCT doc_id) AS n_ids FROM documents"),
        "dedup_exact": (
            "SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
            " AS fp, count(*) AS dup_count, min(doc_id) AS keep_doc_id "
            "FROM documents GROUP BY 1"),
        # token conservation: n_seqs = ceil((tokens + eos_per_doc)/512),
        # pads fill the tail, every emitted row is exactly 512 wide
        "pack_sequences": (
            f"SELECT CAST(ceil((sum({n_tok}) + count(*)) / 512.0) "
            f"AS BIGINT) AS n_seqs, "
            f"count(*) AS n_docs_total, "
            f"CAST(CAST(ceil((sum({n_tok}) + count(*)) / 512.0) AS BIGINT)"
            f" * 512 - sum({n_tok}) - count(*) AS BIGINT) AS n_pad_total, "
            f"CAST(512 AS INT) AS max_len, CAST(512 AS INT) AS min_len "
            f"FROM documents"),
        "pipeline_clean": f"""
            WITH q AS (
              SELECT doc_id, text, lang,
                     CAST({_WS_TOKENS} AS BIGINT) AS n_words,
                     round(length(regexp_replace(text, '\\s+', '', 'g'))
                           / {_WS_TOKENS}, 4) AS mwl
              FROM documents),
            kept AS (SELECT * FROM q
                     WHERE lang = 'en' AND n_words >= 20 AND mwl <= 12),
            dd AS (SELECT *, row_number() OVER (
                       PARTITION BY md5(regexp_replace(
                           lower(trim(text)), '\\s+', ' ', 'g'))
                       ORDER BY doc_id) AS rn
                   FROM kept)
            SELECT count(*) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS total_words,
                   min(doc_id) AS first_doc
            FROM dd WHERE rn = 1""",
        "stream_dedup": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id < 20)
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp, count(*) AS dup_count,
                   min(doc_id) AS keep_doc_id
            FROM corpus GROUP BY 1""",
        "sim_cosine_topk": ("""
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)), 6) AS cosine
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
        "enc_footer": (
            f"SELECT count(*) AS n_rows, "
            f"CAST(sum({n_tok}) AS BIGINT) AS n_tokens FROM documents"),
        "enc_compact": (
            f"SELECT count(*) AS n_rows, "
            f"CAST(sum({n_tok}) AS BIGINT) AS n_tokens FROM documents"),
        # codec auto-selection re-derived from the spec rule: DICT when
        # distinct/total <= 0.49 (strings) resp. n >= 4096 AND ratio <=
        # 0.49 (int streams; the bit-width-gain conditions of
        # stripe.py:176-184 hold whenever the ratio gate passes at this
        # vocabulary).  One stripe => decision is a global-stats function.
        "enc_codec_histogram": f"""
            WITH w AS (SELECT doc_id, source,
                              regexp_split_to_array(trim(text), '\\s+') AS ws
                       FROM documents),
            tok AS (SELECT count(*) AS n, count(DISTINCT wd) AS nd
                    FROM (SELECT unnest(ws) AS wd FROM w)),
            d AS (SELECT count(*) AS n,
                         count(DISTINCT doc_id) AS nd_id,
                         count(DISTINCT source) AS nd_src,
                         count(DISTINCT len(ws)) AS nd_ntok
                  FROM w)
            SELECT col AS "column", encoding, CAST(1 AS BIGINT) AS n_stripes
            FROM (
              SELECT 'doc_id' AS col,
                     CASE WHEN (SELECT CAST(nd_id AS DOUBLE)/n FROM d)
                          <= 0.49 THEN 'DICTIONARY_V2'
                          ELSE 'DIRECT_V2' END AS encoding
              UNION ALL
              SELECT 'source',
                     CASE WHEN (SELECT CAST(nd_src AS DOUBLE)/n FROM d)
                          <= 0.49 THEN 'DICTIONARY_V2'
                          ELSE 'DIRECT_V2' END
              UNION ALL
              SELECT 'n_tok',
                     CASE WHEN (SELECT n FROM d) >= 4096
                          AND (SELECT CAST(nd_ntok AS DOUBLE)/n FROM d)
                          <= 0.49 THEN 'DICTIONARY_INT_V2'
                          ELSE 'DIRECT_V2' END
              UNION ALL
              SELECT 'tokens',
                     CASE WHEN (SELECT n FROM tok) >= 4096
                          AND (SELECT CAST(nd AS DOUBLE)/n FROM tok)
                          <= 0.49 THEN 'DICTIONARY_INT_V2'
                          ELSE 'DIRECT_V2' END)""",
        "dedup_minhash": _BRUTE_JACCARD_SQL,
        "stream_dedup_near": _BRUTE_JACCARD_SQL,
        "dedup_clusters": _clusters_oracle(),
        # exact prefix-filtered join: same brute-force oracle as
        # dedup_minhash, but here the match is a hard guarantee
        "dedup_jaccard_exact": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text || ' extra token'
              FROM documents WHERE doc_id < 20),
            -- mirror the operator's exact-dup pre-collapse: one
            -- representative (min doc_id) per normalized fingerprint
            reps AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text, row_number() OVER (
                    PARTITION BY md5(regexp_replace(
                        lower(trim(text)), '\\s+', ' ', 'g'))
                    ORDER BY doc_id) AS rn
                FROM corpus) WHERE rn = 1),
            sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, greatest(len(regexp_split_to_array(
                      trim(text), '\\s+')) - 2, 1) + 1),
                  k -> array_to_string(regexp_split_to_array(
                      trim(text), '\\s+')[k:k+2], ' ')))) AS s
              FROM reps),
            sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b USING (s)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(CAST(i AS DOUBLE) / (sa.c + sb.c - i), 6)
                   AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.4""",
        # recall oracle: the 20 seeded near-dups must all be recovered
        "dedup_simhash": (
            "SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b "
            "FROM documents WHERE doc_id < 20"),
        # brute-force ALL-pairs cosine >= 0.9 over the planted corpus
        "dedup_embedding": """
            WITH planted AS (
              SELECT b.vec_id + 2000000 AS vec_id,
                     list_transform(list_zip(b.embedding, s.embedding),
                       p -> CAST(0.9::DOUBLE * p[1]::DOUBLE
                                 + 0.1::DOUBLE * p[2]::DOUBLE AS REAL))
                     AS embedding
              FROM embeddings b JOIN embeddings s
                ON s.vec_id = b.vec_id + 200
              WHERE b.vec_id < 10),
            corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL SELECT vec_id, embedding FROM planted)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])) >= 0.9""",
        # exact top-10 over the table + 10 planted near-neighbors of
        # v0; the ANN result must equal it (recall-1 oracle)
        "sim_ann": """
            WITH base AS (
            WITH q AS (SELECT embedding AS e FROM embeddings
                       WHERE vec_id = 0),
            planted AS (
              SELECT e.vec_id + 1000000 AS vec_id,
                     list_transform(list_zip(q.e, e.embedding),
                       p -> CAST(0.8::DOUBLE * p[1]::DOUBLE
                                 + 0.2::DOUBLE * p[2]::DOUBLE AS REAL))
                     AS embedding
              FROM embeddings e, q WHERE e.vec_id BETWEEN 1 AND 10),
            tbl AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
              UNION ALL SELECT vec_id, embedding FROM planted)
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(e AS DOUBLE[]) FROM q)), 6) AS cosine
            FROM tbl ORDER BY cosine DESC, vec_id ASC LIMIT 10)
            SELECT v.variant, b.vec_id, b.cosine
            FROM base b, (VALUES ('lsh'), ('index'), ('ivf'))
                 AS v(variant)""",
        # same planted exact-top-10 oracle for the IVF path
        
        # exact per-probe top-3 over table + planted neighbors (the
        # index-probe variant must return the identical ranking, so
        # both keys share this oracle)
        "sim_knn": """
            WITH base AS (
            WITH probes AS (SELECT vec_id AS probe_id, embedding AS ep
                            FROM embeddings WHERE vec_id < 5),
            src AS (SELECT vec_id AS sid, embedding AS esrc,
                           CAST(floor((vec_id - 100) / 3) AS BIGINT) AS pid
                    FROM embeddings
                    WHERE vec_id >= 100 AND vec_id < 115),
            planted AS (
              SELECT s.sid - 100 + 1000000 AS vec_id,
                     list_transform(list_zip(p.ep, s.esrc),
                       x -> CAST(0.85::DOUBLE * x[1]::DOUBLE
                                 + 0.15::DOUBLE * x[2]::DOUBLE AS REAL))
                     AS embedding
              FROM src s JOIN probes p ON p.probe_id = s.pid),
            tbl AS (SELECT vec_id, embedding FROM embeddings
                    UNION ALL SELECT vec_id, embedding FROM planted),
            scored AS (
              SELECT p.probe_id, t.vec_id AS nn_id,
                     round(list_cosine_similarity(
                         CAST(t.embedding AS DOUBLE[]),
                         CAST(p.ep AS DOUBLE[])), 6) AS cosine
              FROM probes p JOIN tbl t ON t.vec_id <> p.probe_id),
            ranked AS (SELECT *, row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY cosine DESC, nn_id ASC) AS rank
                       FROM scored)
            SELECT probe_id, nn_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3)
            SELECT v.variant, b.probe_id, b.nn_id, b.cosine, b.rank
            FROM base b, (VALUES ('adhoc'), ('indexed'))
                 AS v(variant)""",
        # fake-decode features are deterministic byte math over the
        # utf-8 payload (ASCII corpus): numpy array_split chunk means,
        # float32-quantized — re-derived exactly in SQL
        "mm_decode": """
            SELECT * FROM (
            WITH b AS (
              SELECT 'img-' || CAST(doc_id AS VARCHAR) AS media_id,
                     list_transform(range(1, strlen(text) + 1),
                       i -> ascii(substring(text, i, 1))) AS bl,
                     strlen(text) AS L
              FROM documents)
            SELECT media_id, CAST(16 AS BIGINT) AS dim,
                   round(CAST(list_sum(list_transform(range(0, 16), c ->
                       CAST(list_avg(bl[
                           (c*(L//16) + least(c, L%16) + 1):
                           ((c+1)*(L//16) + least(c+1, L%16))])
                       AS REAL)::DOUBLE)) AS DOUBLE), 3) AS feat_sum
            FROM b)
            UNION ALL SELECT * FROM (
            WITH img AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 1152), i ->
                       CAST((d*7 + i*13) % 256 AS DOUBLE)) AS v
              FROM documents WHERE doc_id % 2 = 0),
            aud AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 480), i ->
                       CAST((d*31 + i*17) % 65536 - 32768 AS DOUBLE))
                     AS s
              FROM documents WHERE doc_id % 2 = 1)
            SELECT 'bmp-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(24.0 + 16.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*7 + (3*j)*13) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*7 + (3*j+1)*13) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*7 + (3*j+2)*13) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM img
            UNION ALL
            SELECT 'wav-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(480.0 + 8000.0 + 1.0
                     + CAST(list_avg(s) AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM aud)
            UNION ALL SELECT * FROM (
            WITH png AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 1152), i ->
                       CAST((d*11 + i*19) % 256 AS DOUBLE)) AS v
              FROM documents)
            SELECT 'png-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(24.0 + 16.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*11 + (3*j)*19) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*11 + (3*j+1)*19) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*11 + (3*j+2)*19) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM png)
            UNION ALL SELECT * FROM (
            WITH jpg AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 1152), i ->
                       CAST(2*((d*13 +
                         ((i//72//8)*3 + ((i%72)//3)//8)*29) % 128)
                            AS DOUBLE)) AS v
              FROM documents)
            SELECT 'jpg-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(24.0 + 16.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM jpg)
            UNION ALL SELECT * FROM (
            -- gif-*: first frame (f=0) of the animated grayscale
            -- GIF; gray pixel j = (d*23 + j*29) % 256, broadcast to
            -- RGB so the 1152-long v repeats each gray value thrice
            WITH gif AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 1152), i ->
                       CAST((d*23 + (i//3)*29) % 256 AS DOUBLE)) AS v
              FROM documents)
            SELECT 'gif-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(24.0 + 16.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM gif)
            UNION ALL SELECT * FROM (
            -- avi-*: first MJPEG frame (f=0) of the 4-frame AVI;
            -- six 8x8-constant tiles t valued 2*((d*37+t*41)%128),
            -- equal pixel counts so the frame mean is the tile mean
            WITH avi AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 6), t ->
                       CAST(2*((d*37 + t*41) % 128) AS DOUBLE)) AS v
              FROM documents)
            SELECT 'avi-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(24.0 + 16.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM avi)
            UNION ALL SELECT * FROM (
            -- ulw-*: Sun AU mu-law codes c=(d*7+i*11)%256 expanded
            -- per CCITT G.711: u=~c; mag=((u&15)*8+132)*2^((u>>4)&7)
            -- -132, negative when u&0x80
            WITH ulw AS (
              SELECT doc_id AS d,
                     list_transform(
                       list_transform(range(0, 480), i ->
                         255 - (d*7 + i*11) % 256),
                       u -> CAST((CASE WHEN u >= 128 THEN -1 ELSE 1
                                  END) *
                            (((u % 16) * 8 + 132) *
                             CAST(pow(2, (u // 16) % 8) AS BIGINT)
                             - 132) AS DOUBLE)) AS s
              FROM documents WHERE doc_id % 2 = 0)
            SELECT 'ulw-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(480.0 + 8000.0 + 1.0
                     + CAST(list_avg(s) AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM ulw)
            UNION ALL SELECT * FROM (
            -- alw-*: WAV format-6 A-law codes c=(d*13+i*29)%256:
            -- a=c^0x55; seg=(a>>4)&7; mag per the three G.711 A-law
            -- segments; positive when the (uninverted) sign bit set
            WITH alw AS (
              SELECT doc_id AS d,
                     list_transform(
                       list_transform(range(0, 480), i ->
                         xor((d*13 + i*29) % 256, 85)),
                       a -> CAST((CASE WHEN a >= 128 THEN 1 ELSE -1
                                  END) *
                            (CASE WHEN (a // 16) % 8 = 0
                                  THEN (a % 16) * 16 + 8
                                  WHEN (a // 16) % 8 = 1
                                  THEN (a % 16) * 16 + 264
                                  ELSE ((a % 16) * 16 + 264) *
                                    CAST(pow(2, (a // 16) % 8 - 1)
                                         AS BIGINT)
                             END) AS DOUBLE)) AS s
              FROM documents WHERE doc_id % 2 = 1)
            SELECT 'alw-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(480.0 + 8000.0 + 1.0
                     + CAST(list_avg(s) AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM alw)
            UNION ALL SELECT * FROM (
            -- flc-*: lossless FLAC of samples ((d*19+i*23)%4096)-2048
            WITH flc AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 480), i ->
                       CAST((d*19 + i*23) % 4096 - 2048 AS DOUBLE))
                     AS s
              FROM documents)
            SELECT 'flc-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(480.0 + 8000.0 + 1.0
                     + CAST(list_avg(s) AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(s, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM flc)
            UNION ALL SELECT * FROM (
            -- tif-*: lossless TIFF of pixels (d*29 + i*31) % 256
            -- (compression cycles none/PackBits/LZW by d%3; the
            -- formula is codec-blind because all three are lossless)
            WITH tif AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 1152), i ->
                       CAST((d*29 + i*31) % 256 AS DOUBLE)) AS v
              FROM documents)
            SELECT 'tif-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(24.0 + 16.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*29 + (3*j)*31) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*29 + (3*j+1)*31) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 384), j ->
                         CAST((d*29 + (3*j+2)*31) % 256 AS DOUBLE)))
                         AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM tif)""",
        # REAL decode (r4): raster/sample i of doc d is the pure
        # function below; feature addition order mirrors the Spark
        # kernel's left-to-right fold exactly (bit-identical doubles)
        
        # 8x8 nearest-neighbor resize of the 24x16 BMPs: resized
        # pixel (y,x,c) = source raster ((2y*24 + 3x)*3 + c)
        "mm_transform": """
            SELECT media_id, 'resize' AS op,
                   CAST(dim AS DOUBLE) AS v1,
                   CAST(feat_sum AS DOUBLE) AS v2
            FROM (
            WITH img AS (
              SELECT doc_id AS d,
                     list_transform(range(0, 192), j ->
                       CAST((d*7 + ((2*(j//24)*24 + 3*((j//3)%8))*3
                             + (j%3))*13) % 256 AS DOUBLE)) AS v
              FROM documents WHERE doc_id % 2 = 0)
            SELECT 'bmp-' || CAST(d AS VARCHAR) AS media_id,
                   CAST(16 AS BIGINT) AS dim,
                   round(8.0 + 8.0 + 3.0
                     + CAST(list_avg(v) AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 64), k ->
                         CAST((d*7 + ((2*(k//8)*24 + 3*(k%8))*3)*13)
                              % 256 AS DOUBLE))) AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 64), k ->
                         CAST((d*7 + ((2*(k//8)*24 + 3*(k%8))*3 + 1)*13)
                              % 256 AS DOUBLE))) AS REAL)::DOUBLE
                     + CAST(list_avg(list_transform(range(0, 64), k ->
                         CAST((d*7 + ((2*(k//8)*24 + 3*(k%8))*3 + 2)*13)
                              % 256 AS DOUBLE))) AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'min') AS REAL)::DOUBLE
                     + CAST(list_aggregate(v, 'max') AS REAL)::DOUBLE,
                     3) AS feat_sum
            FROM img)
            UNION ALL
            SELECT media_id, 'frame' AS op,
                   CAST(frame_ts_ms AS DOUBLE) AS v1,
                   CAST(0.0 AS DOUBLE) AS v2
            FROM (
            SELECT 'img-' || CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(unnest(generate_series(0, n_chars * 10, 1000))
                        AS BIGINT) AS frame_ts_ms
            FROM documents)
            UNION ALL
            -- gifframe: frame f of doc d starts at f*100 ms and its
            -- mean is the average of (d*23 + f*31 + j*29) % 256 over
            -- the 384 gray pixels (RGB broadcast leaves it exact)
            SELECT 'gif-' || CAST(d AS VARCHAR) AS media_id,
                   'gifframe' AS op,
                   CAST(f * 100 AS DOUBLE) AS v1,
                   round(CAST(list_avg(list_transform(range(0, 384),
                       j -> CAST((d*23 + f*31 + j*29) % 256
                            AS DOUBLE))) AS REAL)::DOUBLE, 3) AS v2
            FROM (SELECT doc_id AS d, unnest([0, 1, 2]) AS f
                  FROM documents)
            UNION ALL
            -- aviframe: frame f of doc d starts at f*100 ms (10 fps)
            -- and its mean is the average of the six tile values
            SELECT 'avi-' || CAST(d AS VARCHAR) AS media_id,
                   'aviframe' AS op,
                   CAST(f * 100 AS DOUBLE) AS v1,
                   round(CAST(list_avg(list_transform(range(0, 6),
                       t -> CAST(2*((d*37 + f*19 + t*41) % 128)
                            AS DOUBLE))) AS REAL)::DOUBLE, 3) AS v2
            FROM (SELECT doc_id AS d, unnest([0, 1, 2, 3]) AS f
                  FROM documents)
            UNION ALL
            -- probe: header-walk constants — gif 3 frames/300 ms,
            -- avi 4 frames/400 ms, G.711 and FLAC 480 samples/60 ms
            SELECT prefix || CAST(doc_id AS VARCHAR) AS media_id,
                   'probe' AS op, v1, v2
            FROM documents, (VALUES ('gif-', 300.0, 3.0),
                                    ('avi-', 400.0, 4.0),
                                    ('flc-', 60.0, 480.0))
                 probes(prefix, v1, v2)
            UNION ALL
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'ulw-'
                        ELSE 'alw-' END || CAST(doc_id AS VARCHAR)
                   AS media_id,
                   'probe' AS op, 60.0 AS v1, 480.0 AS v2
            FROM documents""",
        # same planted-neighbor exact-top-10 as sim_ann_lsh: the
        # materialized index must return identical results
        
        "csv_export": (
            f"SELECT count(*) AS n_docs, "
            f"CAST(sum({n_tok}) AS BIGINT) AS sum_ntok, "
            f"count(DISTINCT doc_id) AS n_ids FROM documents"),
        "orc_stats_roundtrip": (
            f"SELECT count(*) AS n_rows, "
            f"CAST(min({n_tok}) AS BIGINT) AS min_ntok, "
            f"CAST(max({n_tok}) AS BIGINT) AS max_ntok, "
            f"CAST(sum({n_tok}) AS BIGINT) AS sum_ntok, "
            f"CAST(sum({n_tok}) AS BIGINT) AS n_token_values "
            f"FROM documents"),
        
    }
