"""SQL-string predicate parser (orc_spark/predicates.py)."""

import pytest

from orc_spark import predicates
from orc_spark.predicates import parse_predicate


def test_parse_single_comparison():
    assert parse_predicate("n_tok >= 60") == [("n_tok", ">=", 60)]
    assert parse_predicate("v<3") == [("v", "<", 3)]
    assert parse_predicate("x = 1.5") == [("x", "==", 1.5)]
    assert parse_predicate("x == -2e3") == [("x", "==", -2000.0)]


def test_parse_string_literals():
    assert parse_predicate("source = 'web'") == \
        [("source", "==", "web")]
    assert parse_predicate("s = 'it''s'") == [("s", "==", "it's")]


def test_parse_conjunction_and_between():
    assert parse_predicate(
        "n_tok >= 60 AND source = 'web' AND v BETWEEN 2 AND 7") == [
            ("n_tok", ">=", 60), ("source", "==", "web"),
            ("v", "between", (2, 7))]
    # AND is case-insensitive
    assert parse_predicate("a > 1 and b < 2") == \
        [("a", ">", 1), ("b", "<", 2)]


def test_parse_rejects_disjunction_and_garbage():
    with pytest.raises(ValueError, match="df.filter"):
        parse_predicate("a > 1 OR b < 2")
    with pytest.raises(ValueError):
        parse_predicate("a > 1 AND")
    with pytest.raises(ValueError):
        parse_predicate("(a > 1)")
    with pytest.raises(ValueError):
        parse_predicate("a !> 1")
    with pytest.raises(ValueError):
        parse_predicate("a BETWEEN 1 OR 2")


def test_parse_in_and_like_prefix():
    """IN lists and prefix LIKE parse to the pruning grammar (r5);
    non-prunable LIKE patterns still raise with a df.filter hint."""
    assert parse_predicate("source IN ('web', 'book') AND n >= 3") \
        == [("source", "in", ("web", "book")), ("n", ">=", 3)]
    assert parse_predicate("k in (1, 2.5, 3)") == \
        [("k", "in", (1, 2.5, 3))]
    assert parse_predicate("doc_id LIKE 'ab%'") == \
        [("doc_id", "prefix", "ab")]
    assert parse_predicate("rec.x IN (7)") == [("rec.x", "in", (7,))]
    for bad in ("a LIKE '%ab'", "a LIKE 'a%b%'", "a LIKE 'a_b%'",
                "a LIKE '%'", "a IN ()", "a IN ('x' 'y')",
                "a IN ('x',)", "a LIKE 5"):
        with pytest.raises(ValueError):
            parse_predicate(bad)


def test_string_predicate_equals_tuple_predicate(spark, tmp_path):
    """orc_scan and decode accept the SQL form; results identical to
    the tuple form (same pruning, same residual)."""
    import numpy as np
    import pyarrow as pa
    from orc_spark.sources import orcscan, orcwriter
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(4000, dtype=np.int64)),
         pa.array([f"s{i // 1000}" for i in range(4000)])],
        names=["v", "tag"])
    p = str(tmp_path / "a.orc")
    w = orcwriter.ORCFileWriter(p, codec="zlib", stripe_rows=1000)
    w.write_batch(batch)
    w.close()
    a = orcscan.orc_scan(spark, p,
                         predicate=[("v", ">=", 1500), ("v", "<", 2600)]) \
        .orderBy("v").collect()
    b = orcscan.orc_scan(spark, p,
                         predicate="v >= 1500 AND v < 2600") \
        .orderBy("v").collect()
    assert a == b and len(a) == 1100
    c = orcscan.orc_scan(spark, p, predicate="tag = 's0'").count()
    assert c == 1000


def test_parse_predicate_roundtrip_fuzz():
    """Seeded fuzz: render random conjunction tuples to SQL and parse
    back — identity for every op/type combination the grammar covers."""
    import random
    random.seed(5)
    ops = [">=", ">", "<=", "<", "=="]
    for _ in range(200):
        preds = []
        parts = []
        for _ in range(random.randrange(1, 4)):
            col = random.choice(["n_tok", "v", "source", "a_1"])
            kind = random.choice(["int", "float", "str", "between"])
            if kind == "between":
                lo, hi = sorted(random.sample(range(-50, 50), 2))
                preds.append((col, "between", (lo, hi)))
                parts.append(f"{col} BETWEEN {lo} AND {hi}")
            elif kind == "int":
                op = random.choice(ops)
                v = random.randrange(-1000, 1000)
                preds.append((col, op, v))
                parts.append(
                    f"{col} {'=' if op == '==' else op} {v}")
            elif kind == "float":
                op = random.choice(ops)
                v = round(random.uniform(-10, 10), 3)
                preds.append((col, op, v))
                parts.append(f"{col} {op} {v}")
            else:
                v = random.choice(["web", "it's", "a b c", ""])
                preds.append((col, "==", v))
                parts.append(f"{col} = '" + v.replace("'", "''") + "'")
        assert parse_predicate(" AND ".join(parts)) == preds


# ------------------------------------------------------------------
# the one predicate module: normalizer, stats kernel, masks, families
# ------------------------------------------------------------------


def test_normalize_accepts_every_surface_form():
    assert predicates.normalize(None) == []
    assert predicates.normalize(("v", "=", 3)) == [("v", "==", 3)]
    assert predicates.normalize([("v", ">", 1), ("s", "in", ("a",))]) \
        == [("v", ">", 1), ("s", "in", ("a",))]
    assert predicates.normalize("v = 3 AND s LIKE 'a%'") == \
        [("v", "==", 3), ("s", "prefix", "a")]
    with pytest.raises(ValueError, match="unknown predicate op"):
        predicates.normalize(("v", "!=", 3))


def test_docstrings_name_the_full_op_set():
    """The user-facing grammar docs list every op in ``OPS``."""
    from orc_spark.operators.encode import decode
    for doc in (parse_predicate.__doc__, decode.__doc__):
        for op in predicates.OPS:
            assert op in doc, (op, doc)


def _py_match(x, op, val) -> bool:
    """Python reference for one non-null value."""
    if op == "between":
        return val[0] <= x <= val[1]
    if op == "in":
        return x in val
    if op == "prefix":
        return x.startswith(val)
    return {">=": x >= val, ">": x > val, "<=": x <= val,
            "<": x < val, "==": x == val}[op]


def _pred_strategy(values):
    from hypothesis import strategies as st
    scalar_ops = st.sampled_from([">=", ">", "<=", "<", "=="])
    return st.one_of(
        st.tuples(scalar_ops, values),
        st.tuples(st.just("between"), st.tuples(values, values)),
        st.tuples(st.just("in"),
                  st.lists(values, max_size=4).map(tuple)))


def _check_kernel(vs, op, val, arrow_type):
    import pyarrow as pa
    nonnull = [v for v in vs if v is not None]
    st = {"min": min(nonnull), "max": max(nonnull)} if nonnull else {}
    hits = [_py_match(v, op, val) for v in nonnull]
    if not predicates.may_match(st, op, val):
        assert not any(hits)
    if predicates.all_match(st, op, val):
        assert all(hits)
    mask = predicates.arrow_mask(pa.array(vs, type=arrow_type), op,
                                 val).to_pylist()
    assert [bool(m) for m in mask] == \
        [v is not None and _py_match(v, op, val) for v in vs]


def test_stats_kernel_property_ints():
    from hypothesis import given, settings, strategies as st
    import pyarrow as pa
    ints = st.integers(-50, 50)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(ints, st.none()), min_size=1,
                    max_size=12), _pred_strategy(ints))
    def run(vs, pred):
        _check_kernel(vs, *pred, pa.int64())
    run()


def test_stats_kernel_property_floats():
    from hypothesis import given, settings, strategies as st
    import pyarrow as pa
    floats = st.floats(-1e3, 1e3, allow_nan=False)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(floats, st.none()), min_size=1,
                    max_size=12), _pred_strategy(floats))
    def run(vs, pred):
        _check_kernel(vs, *pred, pa.float64())
    run()


def test_stats_kernel_property_strings():
    from hypothesis import given, settings, strategies as st
    import pyarrow as pa
    strs = st.text(alphabet="ab\U0010ffff", max_size=4)
    preds = st.one_of(_pred_strategy(strs),
                      st.tuples(st.just("prefix"),
                                st.text(alphabet="ab\U0010ffff",
                                        max_size=3)))

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(strs, st.none()), min_size=1,
                    max_size=12), preds)
    def run(vs, pred):
        _check_kernel(vs, *pred, pa.string())
    run()


def test_other_family_literals_neither_prune_nor_prove():
    """Numbers compare with numbers, strings with strings; any other
    pairing keeps the stripe and proves nothing."""
    import datetime
    from decimal import Decimal
    ints = {"min": 10, "max": 20}
    strs = {"min": "b", "max": "c"}
    for st, val in [(ints, datetime.datetime(2010, 1, 1)),
                    (ints, datetime.date(2010, 1, 1)), (ints, "5"),
                    (ints, None), (strs, 5), (strs, b"b")]:
        for op in (">=", ">", "<=", "<", "=="):
            assert predicates.may_match(st, op, val)
            assert not predicates.all_match(st, op, val)
        assert predicates.may_match(st, "in", (val,))
        assert predicates.may_match(st, "between", (val, val))
    # one comparable bound still prunes on its own
    assert not predicates.may_match(ints, "between", (30, "z"))
    # Decimal is a number
    assert not predicates.may_match(ints, ">", Decimal("20"))
    assert predicates.all_match(ints, "between",
                                (Decimal("9.5"), 20.0))


def test_no_op_dispatch_outside_predicates():
    """Only orc_spark/predicates.py decides what an op means: no
    other module holds an ``op == ">="``-style range test or a
    ``">=":`` dict key."""
    import glob
    import os
    import re
    import orc_spark
    root = os.path.dirname(orc_spark.__file__)
    pat = re.compile(r'op\s*==\s*"(>=|<=|>|<)"|"(>=|<=)"\s*:')
    hits = [f"{os.path.relpath(p, root)}:{i}"
            for p in glob.glob(os.path.join(root, "**", "*.py"),
                               recursive=True)
            if os.path.relpath(p, root) != "predicates.py"
            for i, line in enumerate(open(p), 1) if pat.search(line)]
    assert hits == []


def _family_file(tmp_path):
    """Two rows straddling every literal below, one stripe."""
    import datetime
    import pyarrow as pa
    from orc_spark.sources import orcwriter
    p = str(tmp_path / "fam.orc")
    w = orcwriter.ORCFileWriter(p, codec="zlib")
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array([datetime.datetime(2009, 6, 1, 12),
                   datetime.datetime(2012, 1, 1)], pa.timestamp("us")),
         pa.array([datetime.date(2009, 6, 1), datetime.date(2012, 1, 1)],
                  pa.date32()),
         pa.array([3, 8], pa.int64())],
        names=["t", "d", "n"]))
    w.close()
    return p


def _family_preds():
    import datetime
    return [("t", ">=", datetime.datetime(2010, 1, 1)),
            ("t", "<", datetime.datetime(2030, 1, 1)),
            ("t", ">", datetime.datetime(2030, 1, 1)),
            ("t", "between", (datetime.datetime(2009, 6, 1, 12),
                              datetime.datetime(2011, 1, 1))),
            ("d", ">=", datetime.date(2010, 1, 1)),
            ("d", "==", datetime.date(2012, 1, 1)),
            ("d", "<", datetime.date(2000, 1, 1)),
            ("d", "in", (datetime.date(2009, 6, 1),)),
            ("n", ">=", "5"), ("n", "==", "3")]


@pytest.mark.parametrize("pred", _family_preds(), ids=repr)
def test_other_family_literal_plans_and_counts(spark, tmp_path, pred):
    """A datetime literal on a timestamp column, a date on a date
    column or a string on a bigint column (statistics in int millis,
    int days and ints) keeps the stripe at planning, and the scan,
    the hybrid COUNT and the DELETE classifier agree with a Spark
    filter over the unpruned scan."""
    from pyspark.sql import functions as F
    from orc_spark.sources import orcscan, orcstats, orctable
    p = _family_file(tmp_path)
    assert orcscan.plan_tasks([p], pred)[0] == [(p, 0)]
    col, op, val = pred
    want = orcscan.orc_scan(spark, p).where(
        predicates.to_column(F.col(col), op, val)).count()
    assert orcscan.orc_scan(spark, p, predicate=pred).count() == want
    assert orcstats.orc_count(spark, p, pred) == want
    assert orctable._classify_delete_file(p, [pred]) == "rewrite"


@pytest.mark.parametrize("pred", _family_preds(), ids=repr)
def test_other_family_literal_decode_counts(spark, pred):
    """The same literals on the stripe-table ``decode`` surface, whole
    and strided: no stripe or stride pruning step raises, and the
    count equals a Spark filter over the unpruned decode."""
    import datetime
    from pyspark.sql import functions as F
    from orc_spark import stripe
    from orc_spark.operators import encode as enc_ops
    day = datetime.timedelta(days=40)
    df = spark.createDataFrame(
        [(datetime.datetime(2009, 6, 1, 12) + i * day,
          datetime.date(2009, 6, 1) + i * day, i % 10) for i in range(64)],
        "t timestamp, d date, n bigint").coalesce(1)
    specs = stripe.parse_schema([("t", "timestamp"), ("d", "date"),
                                 ("n", "bigint")])
    col, op, val = pred
    for stride_rows in (None, 8):
        enc = enc_ops.encode(df, specs=specs, stripe_rows=32,
                             stride_rows=stride_rows)
        want = enc_ops.decode(enc, specs=specs).where(
            predicates.to_column(F.col(col), op, val)).count()
        assert enc_ops.decode(enc, specs=specs,
                              predicate=pred).count() == want


@pytest.mark.parametrize("surface", ["decode", "orc_scan", "orc_count",
                                     "delete_from"])
def test_single_equals_op_everywhere(spark, tmp_path, surface):
    """A tuple op ``"="`` means ``"=="`` on every predicate surface."""
    import pyarrow as pa
    from orc_spark.sources import orcscan, orcstats, orctable, orcwriter
    if surface == "decode":
        from pyspark.sql import functions as F
        from orc_spark.operators import encode as enc_ops
        from orc_spark.sources import tokens as token_src
        df = token_src.token_table(spark, "/root/testdata/sf0.001")
        v = df.limit(1).collect()[0]["n_tok"]
        enc = enc_ops.encode(df, stripe_rows=100)
        assert enc_ops.decode(enc, predicate=("n_tok", "=", v)).count() \
            == df.where(F.col("n_tok") == v).count()
        return
    if surface == "delete_from":
        t = str(tmp_path / "t")
        orctable.create_table(t, "struct<v:int,tag:string>")
        orctable.write_table(spark.range(0, 50, 1, 1).selectExpr(
            "CAST(id AS INT) AS v", "CAST(id AS STRING) AS tag"), t)
        orctable.delete_from(spark, t, ("v", "=", 7))
        assert orctable.table_count(spark, t) == 49
        assert orctable.table_count(spark, t, ("v", "=", 7)) == 0
        return
    p = str(tmp_path / "a.orc")
    w = orcwriter.ORCFileWriter(p, codec="zlib", stripe_rows=20)
    w.write_batch(pa.RecordBatch.from_arrays(
        [pa.array(range(100), pa.int64())], names=["v"]))
    w.close()
    if surface == "orc_scan":
        got = orcscan.orc_scan(spark, p, predicate=("v", "=", 7))
        assert [r["v"] for r in got.collect()] == [7]
    else:
        assert orcstats.orc_count(spark, p, ("v", "=", 7)) == 1


def test_resolve_path_bare_root_value():
    """A bare non-struct root answers to "value" (column id 0)."""
    from types import SimpleNamespace
    from orc_spark.sources.orcfile import ORCFile
    f = ORCFile.__new__(ORCFile)
    f.types = [SimpleNamespace(kind="long", field_names=[], children=[])]
    assert f.resolve_path("value") == [0]
    with pytest.raises(ValueError):
        f.resolve_path("v")
