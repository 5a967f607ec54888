"""The operations a workload run issues, in the order a batch user
issues them, and the checks of their outputs.

Every operation is a Spark job (or two) driven through the public
functions of one layer.  Checks are order-independent and run outside
the timed region.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

from pyspark.sql import functions as F

from tracing import cpu_steal_s

STRIPE_ROWS = 1 << 16         # bench.py's encode job
ORC_STRIPE_ROWS = 1 << 14
ORC_CODEC = "snappy"
PREDICATE = ("n_tok", ">=", 60)
MIN_JACCARD = 0.4
TOP_K = 10
COS_TOL = 1e-6
N_CPUS = os.cpu_count()    # the CPUs /proc/stat sums its steal over


@dataclass
class Paths:
    docs: str       # documents.parquet + embeddings.parquet
    tokens: str     # token-table parquet (the encode input)
    stripes: str    # stripe table written by the write op
    orc: str        # .orc directory written by the orc write op


@dataclass
class Op:
    name: str                 # its median time feeds one metric
    layer: str                # span name: the layer whose call it is
    run: Callable[[], None]   # issues the Spark job(s)
    check: Callable[[], None]  # raises CheckFailed on a wrong output
    prepare: Callable[[], None] | None = None  # untimed, before each run
    after: str | None = None  # the op whose output this one reads


class CheckFailed(Exception):
    pass


def p_hi(xs: list[float]) -> tuple[float, float] | None:
    """(q, value): the highest percentile q with at least ten samples
    beyond it, or None when fewer than 20 samples exist."""
    n = len(xs)
    if n < 20:
        return None
    q = 100.0 * (1 - 10 / n)
    return q, statistics.quantiles(xs, n=100, method="inclusive")[
        max(0, int(q) - 1)]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> tuple[int, int, int]:
    """(rows, tokens, order-independent checksum): the checksum is the
    sum over rows of xxhash64(doc_id, tokens), modulo 2^64."""
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.size("tokens")).alias("tokens"),
        F.sum(F.xxhash64("doc_id", "tokens").cast("decimal(20,0)"))
        .alias("h")).first()
    return int(r["rows"]), int(r["tokens"] or 0), int(r["h"] or 0) % (1 << 64)


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def rows_digests(*dfs) -> list[tuple[int, int]]:
    """Per frame: (rows, order-independent checksum over every
    column), all computed by one Spark job."""
    u = None
    for i, df in enumerate(dfs):
        side = df.select(F.lit(i).alias("side"),
                         F.xxhash64(*df.columns).alias("h"))
        u = side if u is None else u.unionByName(side)
    got = {r["side"]: (int(r["n"]), int(r["h"]) % (1 << 64))
           for r in u.groupBy("side").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.col("h").cast("decimal(20,0)")).alias("h"))
           .collect()}
    return [got.get(i, (0, 0)) for i in range(len(dfs))]


def brute_cosines(mat: np.ndarray, query: list[float]) -> np.ndarray:
    m = mat.astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    return np.round((m @ q) / (np.linalg.norm(m, axis=1) *
                               np.linalg.norm(q)), 6)


def check_topk(rows, brute: np.ndarray, k: int, exact: bool) -> None:
    """``rows`` = [(vec_id, cosine)] in returned order."""
    ids = [int(r[0]) for r in rows]
    cos = np.array([float(r[1]) for r in rows])
    _expect(0 < len(rows) <= k, f"top-k returned {len(rows)} rows")
    _expect(bool(np.all(np.abs(cos - brute[ids]) <= COS_TOL)),
            "top-k cosine differs from numpy brute force")
    _expect(bool(np.all(np.diff(cos) <= COS_TOL)), "top-k not sorted")
    if exact:
        _expect(len(rows) == k and
                cos[-1] >= np.sort(brute)[-k] - COS_TOL,
                "exact top-k missed a better vector")


class Workload:
    """One workload's operations over materialised inputs."""

    def __init__(self, spark, paths: Paths, emb_matrix: np.ndarray):
        self.spark = spark
        self.paths = paths
        self.emb_matrix = emb_matrix
        self.query = [float(x) for x in emb_matrix[0]]
        self.expected: dict = {}
        self.facts: dict = {}
        self.last: dict = {}    # small results of the latest operations

    # -- inputs -----------------------------------------------------
    def tokens_df(self):
        return self.spark.read.parquet(self.paths.tokens)

    def docs_df(self):
        return self.spark.read.parquet(
            os.path.join(self.paths.docs, "documents.parquet"))

    def emb_df(self):
        return self.spark.read.parquet(
            os.path.join(self.paths.docs, "embeddings.parquet"))

    def input_facts(self) -> None:
        """Input sizes, and the expected values for the checks: input
        digest and the predicate's row count and n_tok sum."""
        tok = self.tokens_df()
        rows, tokens, h = digest(tok)
        p = tok.where(F.col(PREDICATE[0]) >= PREDICATE[2]).agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("s")).first()
        in_bytes = sum(os.path.getsize(f) for f in
                       glob.glob(os.path.join(self.paths.tokens, "*.parquet")))
        self.expected = {"rows": rows, "tokens": tokens, "hash": h,
                         "pred_rows": int(p["n"]),
                         "pred_ntok": int(p["s"] or 0)}
        self.facts.update(rows=rows, tokens=tokens, parquet_bytes=in_bytes)

    # -- operations ---------------------------------------------------
    def ops(self) -> list[Op]:
        """The timed operations: the stripe table and the .orc path."""
        from orc_spark.operators import encode as enc_ops
        from orc_spark.sources import orcscan, orcwriter

        p, spark = self.paths, self.spark

        def write():
            enc_ops.encode(self.tokens_df(), stripe_rows=STRIPE_ROWS) \
                .write.mode("overwrite").parquet(p.stripes)

        def read():
            noop(enc_ops.decode(spark.read.parquet(p.stripes)))

        def projected_read():
            noop(enc_ops.decode(spark.read.parquet(p.stripes),
                                columns=["n_tok"], predicate=PREDICATE))

        def clear_orc():
            shutil.rmtree(p.orc, ignore_errors=True)

        def orc_write():
            orcwriter.dataframe_to_orc_dir(
                self.tokens_df(), p.orc, codec=ORC_CODEC,
                stripe_rows=ORC_STRIPE_ROWS)

        def orc_read():
            noop(orcscan.orc_scan(spark, p.orc))

        return [
            Op("write", "operators.encode.encode", write, self.check_write),
            Op("read", "operators.encode.decode", read, self.check_read,
               after="write"),
            Op("projected_read", "operators.encode.decode", projected_read,
               self.check_projected_read, after="write"),
            Op("orc_write", "sources.orcwriter.dataframe_to_orc_dir",
               orc_write, self.check_orc_write, prepare=clear_orc),
            Op("orc_read", "sources.orcscan.orc_scan", orc_read,
               self.check_orc_read, after="orc_write"),
        ]

    def pipeline_ops(self) -> list[Op]:
        """The bench.py documents pipeline queries, with the same calls
        and parameters.  Traced runs issue and check them once; the
        per-operator noop times come from layers.operators."""
        from orc_spark.functions import dedup, similarity, text

        def text_analysis():
            docs = self.docs_df()
            noop(text.quality_scores(docs))
            noop(text.lang_id(docs))

        def dedup_minhash():
            self.last["pairs"] = dedup.minhash_lsh_pairs(
                self.docs_df(), min_jaccard=MIN_JACCARD).collect()

        def similarity_q():
            emb = self.emb_df()
            self.last["topk"] = similarity.cosine_topk(
                emb, self.query, k=TOP_K).collect()
            self.last["ann"] = similarity.lsh_ann_topk(
                emb, self.query, k=TOP_K).collect()

        return [
            Op("text_analysis", "functions.text", text_analysis,
               self.check_text),
            Op("dedup_minhash", "functions.dedup", dedup_minhash,
               self.check_dedup),
            Op("similarity", "functions.similarity", similarity_q,
               self.check_similarity),
        ]

    # -- checks -------------------------------------------------------
    def check_write(self) -> None:
        enc = self.spark.read.parquet(self.paths.stripes)
        r = enc.agg(F.sum("n_rows").alias("rows"),
                    F.sum("n_tokens").alias("tokens"),
                    F.sum("enc_bytes").alias("bytes"),
                    F.count(F.lit(1)).alias("stripes"),
                    F.percentile_approx("n_tokens", 0.5).alias("p50"),
                    F.max("n_tokens").alias("max")).first()
        e = self.expected
        _expect(int(r["rows"]) == e["rows"] and
                int(r["tokens"]) == e["tokens"],
                "stripe table row/token totals differ from the input")
        self.facts.update(enc_bytes=int(r["bytes"]),
                          stripes=int(r["stripes"]),
                          stripe_tokens_p50=int(r["p50"]),
                          stripe_tokens_max=int(r["max"]))

    def _check_full(self, df, what: str) -> None:
        e = self.expected
        _expect(digest(df) == (e["rows"], e["tokens"], e["hash"]),
                f"{what}: rows/tokens/checksum differ from the input")

    def _check_pred(self, df, what: str) -> None:
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("n_tok").alias("s")).first()
        _expect(df.columns == ["n_tok"], f"{what}: projection {df.columns}")
        _expect((int(r["n"]), int(r["s"] or 0)) ==
                (self.expected["pred_rows"], self.expected["pred_ntok"]),
                f"{what}: predicate result differs from a Spark filter")

    def check_read(self) -> None:
        from orc_spark.operators import encode as enc_ops
        self._check_full(enc_ops.decode(
            self.spark.read.parquet(self.paths.stripes)), "decode")

    def check_projected_read(self) -> None:
        from orc_spark.operators import encode as enc_ops
        self._check_pred(enc_ops.decode(
            self.spark.read.parquet(self.paths.stripes),
            columns=["n_tok"], predicate=PREDICATE), "decode(predicate)")

    def check_orc_write(self) -> None:
        files = glob.glob(os.path.join(self.paths.orc, "*.orc"))
        _expect(bool(files), "no .orc files written")
        self.facts["orc_bytes"] = sum(os.path.getsize(f) for f in files)

    def check_orc_read(self) -> None:
        from orc_spark.sources import orcscan
        self._check_full(orcscan.orc_scan(self.spark, self.paths.orc),
                         "orc_scan")

    def check_text(self) -> None:
        from orc_spark.functions import text
        docs = self.docs_df()
        q, q_ref, lang, lang_ref = rows_digests(
            text.quality_scores(docs), text._quality_scores_jvm(docs),
            text.lang_id(docs), text._lang_id_jvm(docs))
        _expect(q == q_ref and q[0] == docs.count(),
                "quality_scores differs from _quality_scores_jvm")
        _expect(lang == lang_ref, "lang_id differs from _lang_id_jvm")

    def check_dedup(self) -> None:
        from orc_spark.functions import dedup
        rows = [(r["doc_a"], r["doc_b"], r["jaccard"])
                for r in self.last["pairs"]]
        _expect(len(rows) > 0, "no near-duplicate pairs found")
        sh = self.docs_df().select(
            "doc_id", dedup._shingle_hashes(3).alias("sh"))
        verified = dedup.verify_pairs_exact(
            self.spark.createDataFrame(
                rows, "doc_a long, doc_b long, reported double"),
            sh, MIN_JACCARD)
        got = verified.select("jaccard", "reported").collect()
        _expect(len(got) == len(rows) and
                all(r["jaccard"] == r["reported"] for r in got),
                "a reported pair fails verify_pairs_exact")

    def check_similarity(self) -> None:
        brute = brute_cosines(self.emb_matrix, self.query)
        check_topk(self.last["topk"], brute, TOP_K, exact=True)
        ann = self.last["ann"]
        check_topk(ann, brute, TOP_K, exact=False)
        _expect(0 in [int(r[0]) for r in ann],
                "lsh_ann_topk misses the query's own vector")


class Ledger:
    """Operations attempted and failed, and the timing samples of the
    ones that completed."""

    def __init__(self):
        # per sample: wall time, and wall time less the CPU time the
        # hypervisor took meanwhile, per CPU (see run_rounds)
        self.wall: dict[str, list[float]] = defaultdict(list)
        self.times: dict[str, list[float]] = defaultdict(list)
        self.attempted: dict[str, int] = defaultdict(int)
        self.raised: dict[str, int] = defaultdict(int)
        self.check_failed: set[str] = set()
        # traced minus untraced time of each pair (paired runs only)
        self.overhead_s: dict[str, list[float]] = defaultdict(list)

    @property
    def n_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def n_failed(self) -> int:
        """Raised operations, plus every operation of a kind whose
        output failed its check (the operations are deterministic, so
        one wrong output convicts the kind)."""
        return sum(self.attempted[k] if k in self.check_failed
                   else self.raised[k] for k in self.attempted)

    def fail_ratio(self) -> float:
        return self.n_failed / max(self.n_attempted, 1)


def run_rounds(ops: list[Op], seconds: float, tracer, ledger: Ledger,
               paired: bool = False) -> None:
    """Closed loop, one client: issue every operation in turn, round
    after round, until ``seconds`` have elapsed and an odd number of
    rounds has completed.  Every operation then has the same, odd,
    number of samples, so its median is one of them.  A sample is the
    operation's wall time less the CPU time the hypervisor took from
    the machine meanwhile, divided over its CPUs: on a shared host that
    time belongs to other tenants, and it moved wall times by 20-40%.

    With ``paired`` every operation runs twice in a row, once with
    spans off and once with them on (which goes first alternates from
    one operation and round to the next), and each pair records its
    traced minus untraced time."""
    start = time.perf_counter()
    enabled = tracer.enabled
    try:
        for r in itertools.count(1):
            for i, op in enumerate(ops):
                if not paired:
                    flags = [enabled]
                else:
                    flags = [False, True] if (i + r) % 2 else [True, False]
                took = {}
                for traced in flags:
                    tracer.enabled = traced
                    if op.prepare is not None:
                        op.prepare()
                    ledger.attempted[op.name] += 1
                    steal, t0 = cpu_steal_s(), time.perf_counter()
                    try:
                        with tracer.span(op.layer):
                            op.run()
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        ledger.raised[op.name] += 1
                        continue
                    wall = time.perf_counter() - t0
                    ledger.wall[op.name].append(wall)
                    took[traced] = wall - (cpu_steal_s() - steal) / N_CPUS
                    ledger.times[op.name].append(took[traced])
                if len(took) == 2:
                    ledger.overhead_s[op.name].append(took[True] -
                                                      took[False])
            if r % 2 and time.perf_counter() - start >= seconds:
                return
    finally:
        tracer.enabled = enabled


def _concurrently(fns: list, workers: int) -> list:
    """Run untimed Spark work from ``workers`` threads; returns each
    call's exception (or None), in order."""
    def guarded(fn):
        try:
            fn()
        except Exception as exc:
            return exc
        return None
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return [f.result() for f in [pool.submit(guarded, fn)
                                     for fn in fns]]


def warm_up(wl: Workload, ops: list[Op]) -> None:
    """Run every operation once, untimed, beside the jobs that compute
    the checks' expected values.  Each writer and the operations that
    read its output form one chain; the chains run concurrently.  This
    pays Spark's code generation, the Python workers' start and their
    heap growth before the timed run."""
    def chain(head: Op):
        def run():
            for op in [head] + [o for o in ops if o.after == head.name]:
                if op.prepare is not None:
                    op.prepare()
                op.run()
        return run
    heads = [op for op in ops if op.after is None]
    names = [op.name for op in heads] + ["input_facts"]
    fns = [chain(op) for op in heads] + [wl.input_facts]
    for name, exc in zip(names, _concurrently(fns, len(fns))):
        if exc is not None:
            raise RuntimeError(f"warm-up of {name} failed") from exc


def run_checks(ops: list[Op], ledger: Ledger, workers: int) -> None:
    """Check every operation's latest output; the checks are untimed
    and independent, so they run concurrently."""
    for op, exc in zip(ops, _concurrently([op.check for op in ops],
                                          workers)):
        if exc is None:
            continue
        print(f"check failed: {op.name}: {exc}", file=sys.stderr)
        if not isinstance(exc, CheckFailed):
            traceback.print_exception(exc, file=sys.stderr)
        ledger.check_failed.add(op.name)
