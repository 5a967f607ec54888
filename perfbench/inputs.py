"""Seeded benchmark inputs.

* ``documents``: a corpus shaped like the repository's sf0.1
  ``documents`` table (31-word vocabulary, 10..100 words per document,
  ~5% planted near-duplicates, a few exact duplicates, 20 sources, five
  language labels).  Its content is fixed; the run seed only permutes
  row order, which varies partition and stripe composition without
  changing the value distribution.
* ``embeddings``: 64-dim unit vectors around 10 labelled centroids,
  fixed content, seed-permuted rows.
* the token table of each workload: ``sources.tokens.token_table`` over
  the documents (replicated), or ``sources.tokens.synthetic_token_pdf``
  with the fixed corpus seed.  The run seed permutes the rows of the
  real table, and the rows inside each file of the synthetic one.
  (Drawing the synthetic content from the run seed moved the token
  count, and with it every per-token metric, by up to 45% between
  seeds: its 0.1% extreme-length tail decides the total.  Keeping each
  tail document in its file keeps the per-task token load fixed.)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row agg key query a scan batch the").split()
LANGS = ("en", "zh", "fr", "es", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def documents(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(CORPUS_SEED)
    lens = rng.integers(10, 101, n_docs)
    near = rng.random(n_docs) < 0.05
    exact = rng.random(n_docs) < 0.002
    texts: list[str] = []
    for i in range(n_docs):
        if i and exact[i]:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i and near[i]:
            words = texts[int(rng.integers(0, i))].split()
            swap = rng.random(len(words)) < 0.1
            for j in np.flatnonzero(swap):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), lens[i])]
        texts.append(" ".join(words))
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table.take(np.random.default_rng(seed).permutation(n_docs))


def embeddings(n_vecs: int, seed: int) -> tuple[pa.Table, np.ndarray]:
    """(seed-permuted table, the float32 matrix in vec_id order)."""
    rng = np.random.default_rng(CORPUS_SEED + 1)
    centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    mat = centroids[labels] + 0.7 * rng.normal(size=(n_vecs, EMB_DIM))
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)) \
        .astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return table.take(np.random.default_rng(seed).permutation(n_vecs)), mat


def write_docs(out_dir: str, n_docs: int, n_vecs: int,
               seed: int) -> np.ndarray:
    """Write documents.parquet and embeddings.parquet (one row group
    each, like the driver tables); returns the embedding matrix."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(n_docs, seed),
                   os.path.join(out_dir, "documents.parquet"))
    emb, mat = embeddings(n_vecs, seed)
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return mat


def write_real_tokens(spark, docs_dir: str, out_dir: str, replicate: int,
                      seed: int, n_files: int) -> None:
    """``token_table`` over the documents, replicated, rows permuted by
    a seeded hash of doc_id."""
    from pyspark.sql import functions as F
    from orc_spark.sources import tokens as token_src

    tok = token_src.token_table(spark, docs_dir, replicate=replicate)
    (tok.withColumn("_k", F.xxhash64("doc_id", F.lit(seed)))
     .repartitionByRange(n_files, "_k").sortWithinPartitions("_k")
     .drop("_k").write.mode("overwrite").parquet(out_dir))


def write_synthetic_tokens(out_dir: str, n_docs: int, seed: int,
                           n_files: int) -> None:
    """``synthetic_token_pdf`` as token-table parquet, rows permuted by
    the seed within each file."""
    from orc_spark.sources import tokens as token_src

    pdf = token_src.synthetic_token_pdf(n_docs, seed=CORPUS_SEED)
    table = pa.table({
        "doc_id": pa.array(pdf["doc_id"].tolist(), pa.string()),
        "tokens": pa.array(list(pdf["tokens"]), pa.list_(pa.int32())),
        "n_tok": pa.array(pdf["n_tok"].to_numpy(), pa.int32()),
        "source": pa.array(pdf["source"].tolist(), pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(part.take(rng.permutation(part.num_rows)),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))
