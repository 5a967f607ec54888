"""The one predicate module: what a ``(col, op, val)`` predicate means.

Every pruning site asks it — the ``.orc`` planner and stride skip
(sources/orcscan), the hybrid COUNT and DML classifier
(sources/orcstats), manifest and partition pruning (sources/orctable)
and the stripe-table decode (operators/encode.decode).  ``OPS`` and
``normalize`` are the one way in; ``may_match`` / ``all_match`` read
``{"min", "max"}`` statistics; ``to_column`` builds the residual
Spark filter, ``arrow_mask`` the per-row mask and ``bounds`` the
stripe table's ``[lo, hi]`` window.

Comparison families: numbers (int, float, Decimal) compare with
numbers and strings with strings.  Any other pairing — a datetime
literal against timestamp statistics in int milliseconds, a date
against int days, a string against a bigint — neither prunes nor
proves all-match; the row filter decides each row.

SQL strings parse in the PRUNABLE subset, fail-loud on the rest:

    pred     := compare ( AND compare )*
    compare  := ident op literal
              | ident BETWEEN literal AND literal
              | ident IN '(' literal (',' literal)* ')'
              | ident LIKE 'prefix%'
    ident    := name ( '.' name )*        -- dotted nested leaves (r5)
    op       := >= | <= | > | < | = | ==
    literal  := number | 'single-quoted string' ('' escapes a quote)

IN (r5) prunes because it is a FINITE disjunction: a stripe survives
only if some listed value intersects [min,max] (and, with blooms,
only if some value may be present).  LIKE (r5) is accepted for
prefix patterns only — ``'abc%'`` prunes through the string range
[abc, abd); general patterns (inner %, _) and free OR / NOT /
parentheses still raise with a pointer to ``df.filter`` — those
cannot prune with per-column [min,max] stats, and accepting them
would silently turn pruning off.
"""

from __future__ import annotations

import math
import operator
import re
from decimal import Decimal

OPS = (">=", ">", "<=", "<", "==", "between", "in", "prefix")

# the five comparisons: Python/Spark operators and Arrow kernels
_CMP = {">=": operator.ge, ">": operator.gt, "<=": operator.le,
        "<": operator.lt, "==": operator.eq}
_ARROW_CMP = {">=": "greater_equal", ">": "greater",
              "<=": "less_equal", "<": "less", "==": "equal"}

_TOKEN = re.compile(r"""\s*(?:
    (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<str>'(?:[^']|'')*')
  | (?P<op>>=|<=|==|=|<|>)
  | (?P<punct>[(),])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)
)""", re.VERBOSE)

_REJECT = {"or", "not"}
_KEYWORDS = {"and", "between", "in", "like", "or", "not"}


def _tokens(s: str) -> list[tuple[str, object]]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if m is None or m.end() == pos:
            rest = s[pos:].strip()
            if not rest:
                break
            raise ValueError(
                f"predicate parse error at {rest[:20]!r} in {s!r}")
        pos = m.end()
        if m.group("num") is not None:
            txt = m.group("num")
            out.append(("lit", float(txt) if any(c in txt for c in ".eE")
                        else int(txt)))
        elif m.group("str") is not None:
            out.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("op") is not None:
            op = m.group("op")
            out.append(("op", "==" if op == "=" else op))
        elif m.group("punct") is not None:
            out.append(("punct", m.group("punct")))
        else:
            out.append(("ident", m.group("ident")))
    return out


def _like_prefix(pattern: str, s: str) -> str:
    """Validate a LIKE pattern as prefix-only and return the prefix.
    ``'abc%'`` -> "abc"; anything with an inner wildcard or ``_``
    raises (those cannot prune with [min,max] stats)."""
    if "_" in pattern:
        raise ValueError(
            f"LIKE with '_' is not prunable; use df.filter(...) "
            f"in {s!r}")
    if not pattern.endswith("%") or "%" in pattern[:-1]:
        raise ValueError(
            f"only prefix LIKE patterns ('abc%') can prune; got "
            f"{pattern!r} in {s!r} — use df.filter(...) for general "
            f"patterns")
    prefix = pattern[:-1]
    if not prefix:
        raise ValueError(
            f"LIKE '%' matches everything; drop the predicate "
            f"in {s!r}")
    return prefix


def parse_predicate(s: str) -> list[tuple]:
    """SQL conjunction string -> [(col, op, val), ...] in the pruning
    grammar (op in ``OPS``: >=, >, <=, <, ==, between, in, prefix)."""
    toks = _tokens(s)
    preds: list[tuple] = []
    i = 0

    def expect(kind: str, what: str):
        nonlocal i
        if i >= len(toks) or toks[i][0] != kind:
            got = toks[i][1] if i < len(toks) else "<end>"
            raise ValueError(
                f"predicate parse error: expected {what}, got {got!r} "
                f"in {s!r}")
        i += 1
        return toks[i - 1][1]

    while True:
        col = expect("ident", "a column name")
        if str(col).lower() in _KEYWORDS:
            raise ValueError(
                f"predicate parse error: {col!r} is not a column name "
                f"in {s!r}")
        kw_next = str(toks[i][1]).lower() \
            if i < len(toks) and toks[i][0] == "ident" else None
        if kw_next == "between":
            i += 1
            lo = expect("lit", "a literal")
            kw = expect("ident", "AND")
            if str(kw).lower() != "and":
                raise ValueError(
                    f"predicate parse error: BETWEEN needs AND, got "
                    f"{kw!r} in {s!r}")
            hi = expect("lit", "a literal")
            preds.append((col, "between", (lo, hi)))
        elif kw_next == "in":
            i += 1
            if expect("punct", "'('") != "(":
                raise ValueError(
                    f"predicate parse error: IN needs '(' in {s!r}")
            vals = [expect("lit", "a literal")]
            while i < len(toks) and toks[i] == ("punct", ","):
                i += 1
                vals.append(expect("lit", "a literal"))
            if expect("punct", "')'") != ")":
                raise ValueError(
                    f"predicate parse error: IN needs ')' in {s!r}")
            preds.append((col, "in", tuple(vals)))
        elif kw_next == "like":
            i += 1
            pattern = expect("lit", "a pattern string")
            if not isinstance(pattern, str):
                raise ValueError(
                    f"predicate parse error: LIKE needs a string "
                    f"pattern in {s!r}")
            preds.append((col, "prefix", _like_prefix(pattern, s)))
        else:
            op = expect("op", "a comparison operator")
            val = expect("lit", "a literal")
            preds.append((col, op, val))
        if i >= len(toks):
            return preds
        kw = expect("ident", "AND")
        low = str(kw).lower()
        if low in _REJECT:
            raise ValueError(
                f"{kw.upper()} is not supported in pruning predicates "
                f"(a disjunction cannot prune with [min,max] stats); "
                f"use df.filter(...) on the scanned DataFrame instead")
        if low != "and":
            raise ValueError(
                f"predicate parse error: expected AND, got {kw!r} "
                f"in {s!r}")


def normalize(predicate) -> list[tuple]:
    """``None`` / SQL string / ``(col, op, val)`` tuple / list of
    tuples -> conjunction list of ``(col, op, val)`` with op in
    ``OPS`` (``"="`` becomes ``"=="``); an unknown op raises."""
    if predicate is None:
        return []
    if isinstance(predicate, str):
        return parse_predicate(predicate)
    preds = [predicate] if isinstance(predicate, tuple) \
        else list(predicate)
    out = []
    for col, op, val in preds:
        op = "==" if op == "=" else op
        if op not in OPS:
            raise ValueError(f"unknown predicate op {op!r}; ops are "
                             f"{OPS} (and '=')")
        out.append((col, op, val))
    return out


def family(v) -> str | None:
    """A literal's or statistic's comparison family: "num", "str" or
    None (every other type, which compares with nothing)."""
    if isinstance(v, (int, float, Decimal)):
        return "num"
    return "str" if isinstance(v, str) else None


def _comparable(stat, v) -> bool:
    fam = family(stat)
    return fam is not None and fam == family(v)


def prefix_upper(p: str) -> str | None:
    """Smallest string greater than every string with prefix ``p``
    (exclusive upper bound of the prefix range); None when no such
    string exists (all characters at the maximum code point)."""
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            return p[:i] + chr(cp + 1)
    return None


def may_match(st: dict, op: str, val) -> bool:
    """False only if NO non-null value in a stripe/stride/file with
    statistics ``st`` can satisfy the predicate.  Missing min/max or
    a literal of another family keeps it (True)."""
    lo, hi = st.get("min"), st.get("max")
    if lo is None or hi is None:
        return True
    if op == "in":       # finite disjunction: any value may be there
        return any(may_match(st, "==", v) for v in val)
    if op == "between":  # conjunction: each bound prunes alone
        return may_match(st, ">=", val[0]) and \
            may_match(st, "<=", val[1])
    if not _comparable(lo, val):
        return True
    if op == "prefix":   # string range [p, prefix_upper(p))
        up = prefix_upper(val)
        return hi >= val and (up is None or lo < up)
    if op == "==":
        return lo <= val <= hi
    # x > val is possible iff max > val; x < val iff min < val
    return _CMP[op](hi if op in (">=", ">") else lo, val)


def all_match(st: dict, op: str, val) -> bool:
    """True if EVERY non-null value with statistics ``st`` satisfies
    the predicate (the dual of ``may_match``).  Missing min/max or a
    literal of another family proves nothing (False)."""
    lo, hi = st.get("min"), st.get("max")
    if lo is None or hi is None:
        return False
    if op == "in":
        # provable only when the values are single-valued (a range
        # can otherwise contain unlisted values)
        return any(all_match(st, "==", v) for v in val)
    if op == "between":
        return all_match(st, ">=", val[0]) and \
            all_match(st, "<=", val[1])
    if not _comparable(lo, val):
        return False
    if op == "prefix":
        # [min,max] both prefixed -> every value in between is too
        # (any non-prefixed s would sort outside [p, prefix_upper))
        return lo.startswith(val) and hi.startswith(val)
    if op == "==":
        return lo == hi == val
    # every x > val iff min > val; every x < val iff max < val
    return _CMP[op](lo if op in (">=", ">") else hi, val)


def int_exact(op: str, val):
    """Rewrite a FLOAT literal against an INTEGER column into the
    equivalent integer predicate (exact for all of int64 — casting
    the literal with pa.scalar would silently TRUNCATE 1.5 to 1 and,
    worse, differ from the stats classifier's Python comparison).
    Returns None when no integer can satisfy the predicate; literals
    of another family pass through unchanged."""
    if op == "between":
        lo, hi = val
        lo = math.ceil(lo) if isinstance(lo, float) else lo
        hi = math.floor(hi) if isinstance(hi, float) else hi
        if _comparable(lo, hi) and lo > hi:
            return None
        return "between", (lo, hi)
    if op == "in":
        # only integer-valued members can match an integer column
        ints = tuple(int(v) if family(v) == "num" else v for v in val
                     if not isinstance(v, float) or v.is_integer())
        return ("in", ints) if ints else None
    if not isinstance(val, float):
        return op, val
    if op == "==":
        return ("==", int(val)) if val.is_integer() else None
    # x > 1.5 <=> x >= 2; x < 1.5 <=> x <= 1 (strict ops step past
    # an integral literal)
    if op in (">=", ">"):
        return ">=", math.ceil(val) if op == ">=" \
            else math.floor(val) + 1
    return "<=", math.floor(val) if op == "<=" else math.ceil(val) - 1


def bounds(op: str, val) -> tuple:
    """Stripe-table ``[lo, hi]`` stats window (None = open side);
    conservative: strict comparisons share the inclusive window and
    the residual row filter restores exactness."""
    if op in (">=", ">"):
        return val, None
    if op in ("<=", "<"):
        return None, val
    if op == "==":
        return val, val
    if op == "between":
        return tuple(val)
    if op == "in":       # conservative envelope; residual is exact
        return min(val), max(val)
    return val, prefix_upper(val)   # prefix: inclusive hi stays safe


def to_column(c, op: str, val):
    """The residual Spark filter for one predicate on Column ``c``."""
    if op == "between":
        return c.between(*val)
    if op == "in":
        return c.isin(list(val))
    if op == "prefix":
        return c.startswith(val)
    return _CMP[op](c, val)


def _arrow_literals(vals: list, ft):
    """Literals as an Arrow array for a column of type ``ft``: exact
    conversion within the column's family, a cast for string literals
    (Spark casts a string literal to the column's type), else Arrow's
    own type, so the compare kernels pick the common type (a date
    against timestamps widens to midnight, as in Spark)."""
    import pyarrow as pa
    fams = {family(v) for v in vals}
    if fams == {"str"}:
        return pa.array(vals).cast(ft)
    numeric = pa.types.is_integer(ft) or pa.types.is_floating(ft) or \
        pa.types.is_decimal(ft)
    if fams <= ({"num"} if numeric else set()):  # same family or none
        return pa.array(vals, type=ft)
    return pa.array(vals)


def arrow_mask(arr, op: str, val):
    """Per-row BooleanArray of ``arr`` against one predicate; a null
    value never matches (null or False)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    if op == "in":
        vals = _arrow_literals(list(val), arr.type)
        if pa.types.is_floating(arr.type):
            # is_in hashes -0.0 apart from 0.0; adding 0.0 maps
            # both to 0.0, as a numeric == does
            arr, vals = pc.add(arr, 0.0), pc.add(vals, 0.0)
        return pc.is_in(arr, value_set=vals)
    if op == "prefix":
        if not (pa.types.is_string(arr.type) or
                pa.types.is_large_string(arr.type)):
            raise ValueError(f"prefix predicate on a non-string "
                             f"column ({arr.type})")
        return pc.starts_with(arr, pattern=val)
    if op == "between":
        return pc.and_kleene(arrow_mask(arr, ">=", val[0]),
                             arrow_mask(arr, "<=", val[1]))
    lit = _arrow_literals([val], arr.type)[0]
    return pc.call_function(_ARROW_CMP[op], [arr, lit])
