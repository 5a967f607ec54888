"""ORC type-description strings: parse / format / convert.

The reference's user-facing schema API is Hive-style ORC type strings
(typedescription.go:215-357 ``parseType`` and :520-560 ``String()`` /
``ToJSON()``): ``struct<f1:int,f2:string,f3:decimal(38,10)>``,
``array<t>``, ``map<k,v>``, ``uniontype<t1,t2>``, ``char(n)`` /
``varchar(n)``.  A user switching from the reference declares schemas
in that grammar; this module maps it onto the Spark-native writer:

    spec = parse_orc_type("struct<a:int,b:varchar(20)>")
    df = spark.createDataFrame(..., schema=spec.to_spark())
    dataframe_to_orc_dir(df, path, orc_types=spec.orc_overrides())

and back: ``orc_string_from_spark`` / ``orc_string_from_file`` render
a DataFrame schema or an existing ``.orc`` file's footer type tree in
the same canonical grammar (the reference's ``TypeDescription.String``
for files it wrote).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# canonical grammar names per typedescription.go:24-41 (our internal
# kind names on the left follow the proto enum / orcfile.KINDS)
_KIND_TO_NAME = {
    "boolean": "boolean", "byte": "tinyint", "short": "smallint",
    "int": "int", "long": "bigint", "float": "float",
    "double": "double", "string": "string", "date": "date",
    "timestamp": "timestamp", "binary": "binary", "decimal": "decimal",
    "varchar": "varchar", "char": "char", "list": "array",
    "map": "map", "struct": "struct", "union": "uniontype",
}
_NAME_TO_KIND = {v: k for k, v in _KIND_TO_NAME.items()}
# ``list<t>`` is accepted as an alias of ``array<t>`` (the stripe
# table's spelling); ``orc_string`` always prints ``array<t>``
_NAME_TO_KIND["list"] = "list"


@dataclass
class OrcType:
    """One node of an ORC type tree (the reference's TypeDescription)."""
    kind: str
    children: list["OrcType"] = field(default_factory=list)
    field_names: list[str] = field(default_factory=list)
    precision: int = 0
    scale: int = 0
    max_length: int = 0
    # pre-order column id, set by ``number()`` on the enclosing root
    col_id: int = field(default=-1, compare=False, repr=False)

    def number(self) -> list["OrcType"]:
        """Assign pre-order column ids to this tree (this node is 0,
        typedescription.go:506-516) and return its nodes in id order
        -- the one numbering ``to_json``, the ``.orc`` writer's
        streams and footer, and orc_merge share."""
        nodes: list[OrcType] = []

        def visit(node: OrcType) -> None:
            node.col_id = len(nodes)
            nodes.append(node)
            for c in node.children:
                visit(c)
        visit(self)
        return nodes

    # -- formatting (typedescription.go:520-560) --------------------
    def orc_string(self) -> str:
        name = _KIND_TO_NAME[self.kind]
        if self.kind == "decimal":
            return f"decimal({self.precision},{self.scale})"
        if self.kind in ("char", "varchar"):
            return f"{name}({self.max_length})"
        if self.kind == "struct":
            inner = ",".join(
                f"{fn}:{c.orc_string()}"
                for fn, c in zip(self.field_names, self.children))
            return f"struct<{inner}>"
        if self.kind in ("list", "map", "union"):
            inner = ",".join(c.orc_string() for c in self.children)
            return f"{name}<{inner}>"
        return name

    def to_json(self) -> dict:
        """JSON shape of typedescription.go ``ToJSON`` (ids pre-order,
        ``max`` = largest id in the subtree)."""
        def walk(node: OrcType) -> dict:
            out: dict = {"category": _KIND_TO_NAME[node.kind],
                         "id": node.col_id}
            if node.kind == "decimal":
                out["precision"] = node.precision
                out["scale"] = node.scale
            if node.kind in ("char", "varchar"):
                out["maxLength"] = node.max_length
            kids = [walk(c) for c in node.children]
            if node.kind == "struct":
                out["fields"] = dict(zip(node.field_names, kids))
            elif kids:
                out["children"] = kids
            out["max"] = kids[-1]["max"] if kids else node.col_id
            return out
        self.number()
        return walk(self)

    # -- conversions ------------------------------------------------
    def to_arrow(self):
        """pyarrow type (char/varchar relax to string — Arrow has no
        bounded-length strings; use ``orc_overrides`` to keep the ORC
        kind in the file footer)."""
        import pyarrow as pa
        k = self.kind
        prim = {"boolean": pa.bool_(), "byte": pa.int8(),
                "short": pa.int16(), "int": pa.int32(),
                "long": pa.int64(), "float": pa.float32(),
                "double": pa.float64(), "string": pa.string(),
                "char": pa.string(), "varchar": pa.string(),
                "binary": pa.binary(), "date": pa.date32(),
                "timestamp": pa.timestamp("us")}
        if k in prim:
            return prim[k]
        if k == "decimal":
            return pa.decimal128(self.precision, self.scale)
        if k == "list":
            return pa.list_(self.children[0].to_arrow())
        if k == "map":
            return pa.map_(self.children[0].to_arrow(),
                           self.children[1].to_arrow())
        if k == "struct":
            return pa.struct([
                pa.field(fn, c.to_arrow())
                for fn, c in zip(self.field_names, self.children)])
        if k == "union":
            return pa.dense_union([
                pa.field(f"_union_{i}", c.to_arrow())
                for i, c in enumerate(self.children)])
        raise ValueError(f"unsupported ORC kind: {k}")

    def to_spark(self):
        """pyspark DataType (root struct -> StructType usable as a
        createDataFrame / read schema).  ``uniontype`` has no Spark
        representation — write unions through the Arrow path
        (the .orc writer accepts pa.dense_union)."""
        from pyspark.sql import types as T
        k = self.kind
        prim = {"boolean": T.BooleanType(), "byte": T.ByteType(),
                "short": T.ShortType(), "int": T.IntegerType(),
                "long": T.LongType(), "float": T.FloatType(),
                "double": T.DoubleType(), "string": T.StringType(),
                "binary": T.BinaryType(), "date": T.DateType(),
                "timestamp": T.TimestampType()}
        if k in prim:
            return prim[k]
        if k == "char":
            return T.CharType(self.max_length)
        if k == "varchar":
            return T.VarcharType(self.max_length)
        if k == "decimal":
            return T.DecimalType(self.precision, self.scale)
        if k == "list":
            return T.ArrayType(self.children[0].to_spark())
        if k == "map":
            return T.MapType(self.children[0].to_spark(),
                             self.children[1].to_spark())
        if k == "struct":
            return T.StructType([
                T.StructField(fn, c.to_spark())
                for fn, c in zip(self.field_names, self.children)])
        raise ValueError(
            f"ORC kind {k!r} has no Spark type; write it via the "
            f"Arrow path (ORCFileWriter accepts pa.dense_union)")

    def orc_overrides(self) -> dict:
        """{column: (kind, max_length)} for top-level char/varchar
        fields of a root struct — feeds ``dataframe_to_orc_dir`` /
        ``ORCFileWriter``'s ``orc_types`` so the footer keeps the
        bounded kind Spark's schema cannot carry through Arrow."""
        if self.kind != "struct":
            raise ValueError("orc_overrides needs a root struct type")
        return {fn: (c.kind, c.max_length)
                for fn, c in zip(self.field_names, self.children)
                if c.kind in ("char", "varchar")}


# -------------------------------------------------------------------
# parser (recursive descent over typedescription.go's grammar)
# -------------------------------------------------------------------

_SPECIALS = set("<>,():")


class _Cursor:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def peek(self) -> str:
        # whitespace is never meaningful in the grammar: skip it
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1
        return self.s[self.i] if self.i < len(self.s) else ""

    def take(self, ch: str) -> None:
        if self.peek() != ch:
            raise ValueError(
                f"ORC type parse error at {self.i} in {self.s!r}: "
                f"expected {ch!r}, found {self.peek()!r}")
        self.i += 1

    def name(self) -> str:
        j = self.i
        while j < len(self.s) and self.s[j] not in _SPECIALS:
            j += 1
        if j == self.i:
            raise ValueError(
                f"ORC type parse error at {self.i} in {self.s!r}: "
                f"expected a name")
        out, self.i = self.s[self.i:j], j
        return out.strip()

    def integer(self) -> int:
        tok = self.name()
        try:
            return int(tok)
        except ValueError:
            raise ValueError(
                f"ORC type parse error in {self.s!r}: expected an "
                f"integer, found {tok!r}") from None


def _parse(cur: _Cursor) -> OrcType:
    cat = cur.name().lower()
    if cat not in _NAME_TO_KIND:
        raise ValueError(f"unknown ORC category {cat!r} in {cur.s!r}")
    node = OrcType(_NAME_TO_KIND[cat])
    k = node.kind
    if k == "decimal":
        # defaults per typedescription.go:355-356 (38, 10)
        node.precision, node.scale = 38, 10
        if cur.peek() == "(":
            cur.take("(")
            node.precision = cur.integer()
            cur.take(",")
            node.scale = cur.integer()
            cur.take(")")
        if not 0 <= node.scale <= node.precision <= 38:
            raise ValueError(
                f"decimal({node.precision},{node.scale}) out of range")
    elif k in ("char", "varchar"):
        cur.take("(")
        node.max_length = cur.integer()
        cur.take(")")
        if node.max_length <= 0:
            raise ValueError(f"{cat}({node.max_length}): length must "
                             f"be positive")
    elif k == "struct":
        cur.take("<")
        while cur.peek() != ">":
            node.field_names.append(cur.name())
            cur.take(":")
            node.children.append(_parse(cur))
            if cur.peek() != ">":
                # a separator must introduce ANOTHER field — trailing
                # commas are invalid in the reference grammar
                cur.take(",")
                if cur.peek() == ">":
                    raise ValueError(
                        f"trailing comma in {cur.s!r} at {cur.i}")
        cur.take(">")
    elif k in ("list", "map", "union"):
        cur.take("<")
        while cur.peek() != ">":
            node.children.append(_parse(cur))
            if cur.peek() != ">":
                cur.take(",")
                if cur.peek() == ">":
                    raise ValueError(
                        f"trailing comma in {cur.s!r} at {cur.i}")
        cur.take(">")
        want = {"list": (1, 1), "map": (2, 2), "union": (1, 64)}[k]
        if not want[0] <= len(node.children) <= want[1]:
            raise ValueError(
                f"{cat}<> takes {want[0]}"
                + (f"-{want[1]}" if want[1] != want[0] else "")
                + f" child types, got {len(node.children)}")
    return node


def parse_orc_type(s: str) -> OrcType:
    """Parse an ORC/Hive type string into an :class:`OrcType` tree."""
    cur = _Cursor(s.strip())
    node = _parse(cur)
    if cur.i != len(cur.s):
        raise ValueError(
            f"trailing characters at {cur.i} in {s!r}: "
            f"{cur.s[cur.i:]!r}")
    return node


# -------------------------------------------------------------------
# schema -> type string
# -------------------------------------------------------------------


def from_arrow(typ) -> OrcType:
    """pyarrow DataType/Schema -> OrcType (a Schema becomes a root
    struct) -- the type tree the ``.orc`` writer encodes and whose
    footer it writes.  ValueError for Arrow types ORC cannot hold."""
    import pyarrow as pa
    t = pa.types
    if isinstance(typ, pa.Schema) or t.is_struct(typ):
        return OrcType("struct", [from_arrow(f.type) for f in typ],
                       [f.name for f in typ])
    scalars = ((t.is_boolean, "boolean"), (t.is_int8, "byte"),
               (t.is_int16, "short"), (t.is_int32, "int"),
               (t.is_int64, "long"), (t.is_float32, "float"),
               (t.is_float64, "double"), (t.is_string, "string"),
               (t.is_large_string, "string"), (t.is_binary, "binary"),
               (t.is_large_binary, "binary"), (t.is_date32, "date"),
               (t.is_timestamp, "timestamp"))
    for test, kind in scalars:
        if test(typ):
            return OrcType(kind)
    if t.is_decimal(typ):
        return OrcType("decimal", precision=typ.precision,
                       scale=typ.scale)
    if t.is_map(typ):
        return OrcType("map", [from_arrow(typ.key_type),
                               from_arrow(typ.item_type)])
    if t.is_list(typ) or t.is_large_list(typ):
        return OrcType("list", [from_arrow(typ.value_type)])
    if t.is_union(typ):
        return OrcType("union", [from_arrow(f.type) for f in typ])
    raise ValueError(f"unsupported arrow type for ORC writer: {typ}")


def orc_string_from_spark(df_or_schema) -> str:
    """Canonical ORC type string for a Spark DataFrame (or StructType)
    — what the reference's ``TypeDescription.String()`` would print
    for the schema our writer emits."""
    from pyspark.sql import DataFrame
    schema = df_or_schema.schema if isinstance(df_or_schema, DataFrame) \
        else df_or_schema
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    fields = [pa.field(f.name, to_arrow_type(f.dataType))
              for f in schema.fields]
    return from_arrow(pa.schema(fields)).orc_string()


def type_from_types(types: list, col: int = 0) -> OrcType:
    """OrcType tree from a reader's parsed footer ``types`` list
    (``ORCFile.types``); ``col`` roots the build at any column id
    (the subtree form a per-file type check needs)."""
    def build(col: int) -> OrcType:
        t = types[col]
        return OrcType(t.kind,
                       [build(c) for c in t.children],
                       list(t.field_names), t.precision, t.scale,
                       getattr(t, "max_length", 0))
    return build(col)


# widening lattice for schema evolution (Java ORC's ConvertTreeReader
# conversion families — the safe, lossless subset)
_INT_RANK = {"byte": 0, "short": 1, "int": 2, "long": 3}
_STR_KINDS = {"string", "varchar", "char"}


def widen(a: OrcType, b: OrcType) -> OrcType:
    """Smallest common supertype of two ORC type trees — the schema an
    EVOLVING directory reads as (every file's values fit losslessly).

    Rules (the lossless subset of Java ORC ConvertTreeReader /
    Iceberg v2 type promotion): integer kinds widen up the
    tinyint<smallint<int<bigint chain, float widens to double,
    char/varchar/string unify to string, decimals widen to
    (max integer digits + max scale) capped at 38, structs union
    field sets BY NAME (first-seen field order; shared fields widen
    recursively), list/map widen element-wise.  Anything else —
    including int<->float, int<->decimal, timestamp<->date — raises:
    cross-family coercion is lossy or convention-laden and a lake
    that drifted that far needs a rewrite, not a silent cast."""
    if a.orc_string() == b.orc_string():
        return a
    ka, kb = a.kind, b.kind
    if ka in _INT_RANK and kb in _INT_RANK:
        return a if _INT_RANK[ka] >= _INT_RANK[kb] else b
    if {ka, kb} <= {"float", "double"}:
        return a if ka == "double" else b
    if ka in _STR_KINDS and kb in _STR_KINDS:
        return OrcType("string")
    if ka == "decimal" and kb == "decimal":
        s = max(a.scale, b.scale)
        p = max(a.precision - a.scale, b.precision - b.scale) + s
        if p > 38:
            raise ValueError(
                f"cannot widen {a.orc_string()} with {b.orc_string()}:"
                f" union decimal({p},{s}) exceeds precision 38")
        return OrcType("decimal", precision=p, scale=s)
    if ka == kb == "struct":
        names = list(a.field_names)
        children = list(a.children)
        idx = {n: i for i, n in enumerate(names)}
        for n, c in zip(b.field_names, b.children):
            if n in idx:
                children[idx[n]] = widen(children[idx[n]], c)
            else:
                names.append(n)
                children.append(c)
        return OrcType("struct", children, names)
    if ka == kb == "list":
        return OrcType("list", [widen(a.children[0], b.children[0])])
    if ka == kb == "map":
        return OrcType("map", [widen(a.children[0], b.children[0]),
                               widen(a.children[1], b.children[1])])
    raise ValueError(
        f"cannot widen {a.orc_string()} with {b.orc_string()}: "
        f"no lossless common supertype")


def type_from_file(path: str) -> OrcType:
    """OrcType tree reconstructed from a ``.orc`` file's footer
    (opens only the tail via mmap)."""
    from .sources.orcfile import ORCFile
    return type_from_types(ORCFile(path).types)


def orc_string_from_file(path: str) -> str:
    """ORC type string reconstructed from a ``.orc`` file's footer
    type tree (reader parity: reference reader.go exposes the same
    through Schema().String())."""
    return type_from_file(path).orc_string()
