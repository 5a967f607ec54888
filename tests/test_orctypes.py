"""ORC type-string parser/formatter (reference typedescription.go;
test strings from typedescription_test.go:9-119)."""

import json

import pytest

from orc_spark import orctypes


CANONICAL = [
    "struct<f1:int,f2:string,f3:decimal(38,10)>",
    "struct<f1:int,f2:string,f3:decimal(38,10),"
    "f4:array<struct<f5:int,f6:string>>>",
    "struct<f1:map<string,string>>",
    "struct<f1:uniontype<tinyint,decimal(38,10)>>",
    "struct<a:boolean,b:smallint,c:bigint,d:float,e:double,f:date,"
    "g:timestamp,h:binary,i:char(3),j:varchar(20)>",
    "array<map<string,array<int>>>",
    "bigint",
]


@pytest.mark.parametrize("s", CANONICAL)
def test_parse_format_roundtrip(s):
    assert orctypes.parse_orc_type(s).orc_string() == s


def test_to_json_matches_reference_shape():
    # typedescription_test.go:21 — same ids, max, categories
    td = orctypes.parse_orc_type(
        "struct<f1:int,f2:string,f3:decimal(38,10)>")
    expected = json.loads(
        '{"category": "struct", "id": 0, "max": 3, "fields": '
        '{"f1": {"category": "int", "id": 1, "max": 1},'
        '"f2": {"category": "string", "id": 2, "max": 2},'
        '"f3": {"category": "decimal", "id": 3, "max": 3, '
        '"precision": 38, "scale": 10}}}')
    assert td.to_json() == expected


def test_to_json_nested_ids():
    # typedescription_test.go:38 — subtree ids are pre-order, max is
    # the subtree's largest id
    td = orctypes.parse_orc_type(
        "struct<f1:int,f2:string,f3:decimal(38,10),"
        "f4:array<struct<f5:int,f6:string>>>")
    j = td.to_json()
    assert j["max"] == 7
    f4 = j["fields"]["f4"]
    assert (f4["id"], f4["max"]) == (4, 7)
    inner = f4["children"][0]
    assert inner["fields"]["f6"]["id"] == 7


def test_parse_errors():
    for bad in ["struct<f1:int", "foo", "decimal(39,1)", "char()",
                "char(0)", "map<string>", "array<int,int>",
                "struct<f1:int>x", "varchar",
                "struct<f1:int,>", "map<string,int,>"]:
        with pytest.raises(ValueError):
            orctypes.parse_orc_type(bad)


def test_decimal_defaults():
    # typedescription.go:355-356: bare decimal = decimal(38,10)
    td = orctypes.parse_orc_type("decimal")
    assert (td.precision, td.scale) == (38, 10)


def test_whitespace_tolerated():
    td = orctypes.parse_orc_type(
        "struct< f1 : int , f2 : array< string > >")
    assert td.orc_string() == "struct<f1:int,f2:array<string>>"


def test_orc_overrides():
    td = orctypes.parse_orc_type(
        "struct<a:string,b:char(3),c:varchar(20)>")
    assert td.orc_overrides() == {"b": ("char", 3),
                                  "c": ("varchar", 20)}


def test_to_arrow_and_back():
    import pyarrow as pa
    td = orctypes.parse_orc_type(
        "struct<f1:int,f2:string,f3:decimal(12,2),"
        "f4:array<struct<f5:int,f6:string>>,f7:map<string,bigint>>")
    at = td.to_arrow()
    assert at == pa.struct([
        pa.field("f1", pa.int32()), pa.field("f2", pa.string()),
        pa.field("f3", pa.decimal128(12, 2)),
        pa.field("f4", pa.list_(pa.struct([
            pa.field("f5", pa.int32()), pa.field("f6", pa.string())]))),
        pa.field("f7", pa.map_(pa.string(), pa.int64()))])
    # formatter over a pa.Schema agrees with the original string
    schema = pa.schema([pa.field(f.name, f.type) for f in at])
    assert orctypes.from_arrow(schema).orc_string() == td.orc_string()


def test_to_spark_and_file_roundtrip(spark, tmp_path):
    """Declare a schema ORC-first, build a DataFrame with it, write a
    real .orc through our sink, and read the type string back from
    the file footer — full reference-workflow parity."""
    from orc_spark.sources.orcwriter import dataframe_to_orc_dir
    import glob

    s = ("struct<id:bigint,name:varchar(8),tag:char(2),"
         "vals:array<int>,props:map<string,bigint>,"
         "pos:struct<x:double,y:double>>")
    td = orctypes.parse_orc_type(s)
    schema = td.to_spark()
    rows = [(1, "alpha", "ab", [1, 2], {"k": 10},  (0.5, 1.5)),
            (2, "beta", "cd", [3], {"m": 20}, (2.5, 3.5))]
    # Spark only keeps CharType/VarcharType in logical plans behind
    # this flag (otherwise they must be pre-relaxed to string)
    spark.conf.set("spark.sql.preserveCharVarcharTypeInfo", "true")
    try:
        df = spark.createDataFrame(rows, schema)
        out = str(tmp_path / "typed_orc")
        dataframe_to_orc_dir(df.coalesce(1), out,
                             orc_types=td.orc_overrides())
        files = glob.glob(out + "/*.orc")
        assert files
        assert orctypes.orc_string_from_file(files[0]) == s
        # Spark's JVM ORC reader agrees on the data
        back = spark.read.orc(out)
        assert back.count() == 2
        assert {r["name"] for r in back.collect()} == {"alpha", "beta"}
        # orc_string_from_spark: everything except char/varchar
        # round-trips through Spark's Arrow bridge
        assert orctypes.orc_string_from_spark(df.select(
            "id", "vals", "props", "pos")) == \
            ("struct<id:bigint,vals:array<int>,props:map<string,bigint>,"
             "pos:struct<x:double,y:double>>")
    finally:
        spark.conf.set("spark.sql.preserveCharVarcharTypeInfo", "false")


def test_random_type_trees_roundtrip():
    """Seeded random type trees: orc_string -> parse -> orc_string is
    a fixed point, and to_json ids stay consistent (max == largest id
    in every subtree)."""
    import numpy as np
    rng = np.random.default_rng(11)
    PRIMS = ["boolean", "tinyint", "smallint", "int", "bigint",
             "float", "double", "string", "date", "timestamp",
             "binary", "decimal(12,3)", "char(7)", "varchar(99)"]

    def rand_type(depth):
        k = int(rng.integers(0, 8 if depth < 3 else 1))
        if k <= 3:
            return PRIMS[int(rng.integers(0, len(PRIMS)))]
        if k == 4:
            return f"array<{rand_type(depth + 1)}>"
        if k == 5:
            return f"map<{rand_type(depth + 1)},{rand_type(depth + 1)}>"
        if k == 6:
            nf = int(rng.integers(1, 4))
            inner = ",".join(f"f{i}:{rand_type(depth + 1)}"
                             for i in range(nf))
            return f"struct<{inner}>"
        nf = int(rng.integers(1, 4))
        return "uniontype<" + ",".join(rand_type(depth + 1)
                                       for _ in range(nf)) + ">"

    def check_ids(j):
        kids = list(j.get("fields", {}).values()) + j.get("children", [])
        sub_max = j["id"]
        for c in kids:
            assert c["id"] > j["id"]
            sub_max = max(sub_max, check_ids(c))
        assert j["max"] == sub_max, j
        return sub_max

    for _ in range(120):
        s = rand_type(0)
        td = orctypes.parse_orc_type(s)
        assert td.orc_string() == s
        assert orctypes.parse_orc_type(td.orc_string()).orc_string() == s
        check_ids(td.to_json())


def test_list_alias_and_ids_outside_equality():
    # list<t> is a grammar alias of array<t>; orc_string prints array
    td = orctypes.parse_orc_type(
        "struct<a:list<int>,b:map<string,list<bigint>>>")
    assert td.orc_string() == \
        "struct<a:array<int>,b:map<string,array<bigint>>>"
    assert td == orctypes.parse_orc_type(td.orc_string())
    # column ids come from one pre-order walk and never affect equality
    nodes = td.number()
    assert [n.col_id for n in nodes] == list(range(7))
    assert [n.kind for n in nodes] == ["struct", "list", "int", "map",
                                       "string", "list", "long"]
    assert td.children[1] == orctypes.parse_orc_type(
        "map<string,array<bigint>>")


# one type string per kind; each also appears nested below a struct,
# a list and a map value
KIND_STRINGS = [
    "boolean", "tinyint", "smallint", "int", "bigint", "float",
    "double", "string", "date", "timestamp", "binary",
    "decimal(20,4)", "char(5)", "varchar(12)", "array<int>",
    "map<string,bigint>", "struct<p:int,q:string>",
    "uniontype<int,string>",
]
SWEEP = [f"struct<c:{k}>" for k in KIND_STRINGS] + \
    [f"struct<a:{k},b:array<map<string,{k}>>>" for k in KIND_STRINGS]


def _relaxed(t, keep_top=False):
    """``t`` with char/varchar relaxed to string -- below the root's
    own fields when ``keep_top`` (the only ones ``orc_types`` can
    override in a file)."""
    def go(n, depth):
        if n.kind in ("char", "varchar") and not (keep_top and depth == 1):
            return orctypes.OrcType("string")
        return orctypes.OrcType(n.kind, [go(c, depth + 1) for c in n.children],
                                list(n.field_names), n.precision, n.scale,
                                n.max_length)
    return go(t, 0)


def _arrow_values(t, n):
    """An n-row Arrow array of OrcType ``t`` (no nulls)."""
    import datetime
    from decimal import Decimal
    import pyarrow as pa
    k = t.kind
    if k == "list":
        child = _arrow_values(t.children[0], 2 * n)
        return pa.ListArray.from_arrays(
            pa.array(range(0, 2 * n + 1, 2), pa.int32()), child)
    if k == "map":
        return pa.MapArray.from_arrays(
            pa.array(range(n + 1), pa.int32()),
            _arrow_values(t.children[0], n), _arrow_values(t.children[1], n))
    if k == "struct":
        return pa.StructArray.from_arrays(
            [_arrow_values(c, n) for c in t.children], list(t.field_names))
    if k == "union":
        m = len(t.children)
        return pa.UnionArray.from_dense(
            pa.array([i % m for i in range(n)], pa.int8()),
            pa.array(range(n), pa.int32()),
            [_arrow_values(c, n) for c in t.children],
            [f"_union_{i}" for i in range(m)])
    vals = {
        "boolean": lambda i: i % 2 == 0, "float": lambda i: i * 0.5,
        "double": lambda i: i * 0.25, "binary": lambda i: b"b%d" % i,
        "date": lambda i: datetime.date(2020, 1, 1 + i % 28),
        "timestamp": lambda i: datetime.datetime(2021, 3, 4, 5, 6, i % 60),
        "decimal": lambda i: Decimal(i * 7).scaleb(-t.scale),
    }.get(k)
    if vals is None:
        vals = (lambda i: f"v{i}") if k in ("string", "char", "varchar") \
            else (lambda i: i % 100)
    return pa.array([vals(i) for i in range(n)], t.to_arrow())


@pytest.mark.parametrize("s", SWEEP)
def test_one_type_tree_sweep(s, tmp_path):
    """The writer's tree IS the parsed OrcType: from_arrow inverts
    to_arrow, and a written file's footer carries the same pre-order
    column ids and type string."""
    import pyarrow as pa
    from orc_spark.sources.orcfile import ORCFile
    from orc_spark.sources.orcwriter import ORCFileWriter
    t = orctypes.parse_orc_type(s)
    assert orctypes.from_arrow(t.to_arrow()) == _relaxed(t)
    table = pa.Table.from_batches([pa.RecordBatch.from_struct_array(
        _arrow_values(t, 20))])
    path = str(tmp_path / "t.orc")
    w = ORCFileWriter(path, codec="none", row_index_stride=8,
                      orc_types=t.orc_overrides())
    w.write_table(table)
    w.close()
    want = _relaxed(t, keep_top=True)

    def ids(j):
        kids = list(j.get("fields", {}).values()) + j.get("children", [])
        out = [(j["id"], j["category"], [c["id"] for c in kids])]
        for c in kids:
            out += ids(c)
        return out
    types = ORCFile(path).types
    got = [(i, orctypes._KIND_TO_NAME[n.kind], list(n.children))
           for i, n in enumerate(types)]
    assert got == sorted(ids(want.to_json()))
    assert orctypes.orc_string_from_file(path) == want.orc_string()
    if want == t:
        assert orctypes.orc_string_from_file(path) == s


def test_golden_file_type_strings():
    """Reader-side: canonical strings for the Apache ORC example
    corpus footers."""
    assert orctypes.orc_string_from_file(
        "/root/reference/examples/TestOrcFile.test1.orc") == (
        "struct<boolean1:boolean,byte1:tinyint,short1:smallint,"
        "int1:int,long1:bigint,float1:float,double1:double,"
        "bytes1:binary,string1:string,"
        "middle:struct<list:array<struct<int1:int,string1:string>>>,"
        "list:array<struct<int1:int,string1:string>>,"
        "map:map<string,struct<int1:int,string1:string>>>")
    assert orctypes.orc_string_from_file(
        "/root/reference/examples/decimal.orc") == \
        "struct<_col0:decimal(10,5)>"


# -------------------------------------------------------------------
# widen(): schema-evolution union (r5)
# -------------------------------------------------------------------


def _w(a: str, b: str) -> str:
    return orctypes.widen(orctypes.parse_orc_type(a),
                          orctypes.parse_orc_type(b)).orc_string()


def test_widen_integer_chain():
    assert _w("int", "bigint") == "bigint"
    assert _w("bigint", "tinyint") == "bigint"
    assert _w("smallint", "int") == "int"
    assert _w("int", "int") == "int"


def test_widen_float_and_strings():
    assert _w("float", "double") == "double"
    assert _w("double", "float") == "double"
    assert _w("char(3)", "varchar(9)") == "string"
    assert _w("varchar(4)", "string") == "string"
    assert _w("string", "string") == "string"


def test_widen_decimal_union_precision():
    # int digits: max(8, 8) = 8; scale: max(2, 4) = 4 -> (12,4)
    assert _w("decimal(10,2)", "decimal(12,4)") == "decimal(12,4)"
    assert _w("decimal(38,0)", "decimal(38,0)") == "decimal(38,0)"
    with pytest.raises(ValueError, match="exceeds precision 38"):
        _w("decimal(38,0)", "decimal(10,8)")


def test_widen_struct_by_name_union():
    # shared fields widen recursively; order = first-seen; new
    # fields append
    got = _w("struct<a:int,b:string>",
             "struct<b:string,a:bigint,c:double>")
    assert got == "struct<a:bigint,b:string,c:double>"
    # nested containers recurse element-wise
    assert _w("array<int>", "array<bigint>") == "array<bigint>"
    assert _w("map<smallint,float>", "map<int,double>") == \
        "map<int,double>"
    assert _w("struct<r:struct<x:int>>",
              "struct<r:struct<x:int,y:string>>") == \
        "struct<r:struct<x:int,y:string>>"


def test_widen_cross_family_raises():
    for a, b in [("int", "float"), ("int", "decimal(10,2)"),
                 ("timestamp", "date"), ("string", "binary"),
                 ("array<int>", "struct<a:int>"),
                 ("boolean", "tinyint")]:
        with pytest.raises(ValueError, match="no lossless"):
            _w(a, b)
