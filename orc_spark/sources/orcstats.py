"""Footer-statistics aggregate pushdown: answer count / min / max /
sum / null-count queries over a ``.orc`` dataset WITHOUT decoding any
data stream — only file tails (postscript + footer) are read.

At 100 TB this is the difference between a sub-second metadata query
and a full scan: ``SELECT count(*), min(x), max(x), sum(x)`` over a
million-file lake costs one footer page per file, fanned out across
executors.  The reference RECORDS these statistics
(columnstatistics.go:9-63); this module is the consuming half it
never built.

Exactness contract (fail-loud, never approximate):

* count(*) comes from the footer row count — always exact.
* min/max/sum come from file-level ColumnStatistics; if ANY file
  lacks the needed statistic (e.g. an overflowed sum, a stats-less
  writer), the aggregate raises rather than returning a wrong or
  partial answer — the caller falls back to a real scan.
* sum of a string column is Java ORC's total LENGTH; it is surfaced
  as ``sum_lengths`` to avoid reading it as a value sum.
* min/max/sum take no predicate: stats cannot apply residual
  filters, so predicated aggregates go through
  ``orc_scan(...).agg(...)``.  COUNT is the exception —
  ``orc_count(path, predicate)`` is a HYBRID: stripes proven
  fully-matching or non-matching by statistics cost zero decode and
  only boundary stripes decode (predicate columns only), exactly.
"""

from __future__ import annotations

from decimal import Decimal, localcontext

from .orcfile import ORCFile


def _files_of(path: str) -> list[str]:
    from .orcscan import orc_files
    return orc_files(path, "orc_stats")


def _col_id(f: ORCFile, column: str) -> int:
    root = f.types[0]
    if root.kind != "struct":
        if column == "value":
            return 0
        raise ValueError(f"orc_stats: bare-root file has only "
                         f"'value', not {column!r}")
    if "." in column:
        # dotted nested leaf (r5): file statistics exist for every
        # column id, so footer-only aggregates reach struct leaves too
        return f.resolve_path(column)[-1]
    try:
        return dict(zip(root.field_names, root.children))[column]
    except KeyError:
        raise ValueError(f"orc_stats: no column {column!r}; file has "
                         f"{root.field_names}") from None


def _file_stats(path: str, columns: list[str]) -> dict:
    """One file's contribution: row count + per-column stats dict."""
    f = ORCFile(path)
    out = {"_rows": f.n_rows}
    for c in columns:
        cid = _col_id(f, c)
        if cid >= len(f.file_statistics):
            raise ValueError(f"orc_stats: {path} has no file "
                             f"statistics for column {c!r}")
        out[c] = f.file_statistics[cid]
    return out


def _merge(agg: dict, st: dict, columns: list[str],
           path: str) -> None:
    agg["rows"] += st["_rows"]
    for c in columns:
        s = st[c]
        a = agg["cols"][c]
        a["n"] += s.get("n", 0)
        a["has_null"] = a["has_null"] or s.get("has_null", False)
        for k, pick in (("min", min), ("max", max)):
            if k in s:
                a[k] = s[k] if a[k] is None else pick(a[k], s[k])
            elif s.get("n", 0) > 0:
                a["missing"].add(k)
        if "sum" in s:
            if a["sum"] is None:
                a["sum"] = s["sum"]
            elif isinstance(s["sum"], Decimal):
                # decimal sums add under a wide context — the default
                # 28-digit context silently ROUNDS precision-38 sums
                with localcontext() as ctx:
                    ctx.prec = 80
                    a["sum"] = a["sum"] + s["sum"]
            else:
                a["sum"] = a["sum"] + s["sum"]
        elif s.get("n", 0) > 0:
            a["missing"].add("sum")


def footer_aggregate(spark, path: str,
                     columns: list[str]) -> dict:
    """{rows, cols: {col: {n, n_nulls?, min, max, sum|sum_lengths}}}
    from footers only, one ``run_tasks`` footer-only task per file;
    raises if any file lacks a requested statistic."""
    from .orcscan import run_tasks
    files = _files_of(path)
    agg = {"rows": 0,
           "cols": {c: {"n": 0, "has_null": False, "min": None,
                        "max": None, "sum": None, "missing": set()}
                    for c in columns}}
    # results are pickled: stat TYPES (Decimal/date/str mins) survive
    for p, st in zip(files, run_tasks(
            spark, files, lambda p: _file_stats(p, columns),
            footer_only=True)):
        _merge(agg, st, columns, p)
    for c in columns:
        a = agg["cols"][c]
        if a["missing"]:
            raise ValueError(
                f"orc_stats: column {c!r} lacks "
                f"{sorted(a['missing'])} statistics in at least one "
                f"file — fall back to orc_scan(...).agg(...)")
        del a["missing"]
    return agg


def stats_agg(spark, path: str, columns: list[str]):
    """DataFrame surface: one row per requested column with
    (column, n_rows, n_values, min, max, sum) — min/max/sum as
    strings (per-column types vary), exact per the module contract.
    Shape matches one footer-only job, regardless of dataset size."""
    agg = footer_aggregate(spark, path, columns)
    rows = [(c, agg["rows"], a["n"],
             None if a["min"] is None else str(a["min"]),
             None if a["max"] is None else str(a["max"]),
             None if a["sum"] is None else str(a["sum"]))
            for c, a in agg["cols"].items()]
    return spark.createDataFrame(
        rows, "column string, n_rows long, n_values long, "
              "min string, max string, sum string")


def orc_count(spark, path: str, predicate=None) -> int:
    """Exact COUNT(*) — footers only when unfiltered; with a
    ``predicate`` (tuple / conjunction list / SQL string, same
    grammar as orc_scan) a HYBRID count: stripes proven
    fully-matching or non-matching by statistics cost zero decode,
    and boundary stripes decode only the predicate columns.  A
    selective count over a sorted 100 TB lake touches a handful of
    boundary stripes instead of every byte."""
    if predicate is None:
        return footer_aggregate(spark, path, [])["rows"]
    from .orcscan import _pred_list
    return count_files(spark, _files_of(path), _pred_list(predicate))


def count_files(spark, files: list[str], preds: list[tuple]) -> int:
    """Exact predicated COUNT(*) over ``files``: ``_count_file`` of
    each, as footer-only ``run_tasks`` tasks."""
    from .orcscan import run_tasks
    return sum(run_tasks(spark, files, lambda p: _count_file(p, preds),
                         footer_only=True))


def _full_match(st: dict, op: str, val) -> bool:
    """True if EVERY non-null row in a stripe/stride with stats
    ``st`` satisfies the predicate (the dual of
    orcscan._stats_can_match's any-row test)."""
    lo, hi = st.get("min"), st.get("max")
    if lo is None or hi is None:
        return False
    if op == ">=":
        return lo >= val
    if op == ">":
        return lo > val
    if op == "<=":
        return hi <= val
    if op == "<":
        return hi < val
    if op == "==":
        return lo == hi == val
    if op == "between":
        vlo, vhi = val
        return lo >= vlo and hi <= vhi
    if op == "in":
        # provable only when the stripe is single-valued (a row
        # range can otherwise contain unlisted values)
        return lo == hi and lo in val
    if op == "prefix":
        # [min,max] both prefixed -> every value in between is too
        # (any non-prefixed s would sort outside [p, prefix_upper))
        return isinstance(lo, str) and isinstance(hi, str) and \
            lo.startswith(val) and hi.startswith(val)
    raise ValueError(f"orc_stats: unknown predicate op {op!r}")


_INT_KINDS = ("byte", "short", "int", "long", "date")


def _int_exact(op: str, val):
    """Rewrite a FLOAT literal against an INTEGER column into the
    equivalent integer predicate (exact for all of int64 — casting
    the literal with pa.scalar would silently TRUNCATE 1.5 to 1 and,
    worse, differ from the stats classifier's Python comparison).
    Returns None when no integer can satisfy the predicate."""
    import math
    if op == "between":
        # handled FIRST: val is a (lo, hi) tuple, never a float
        lo, hi = val
        lo = math.ceil(lo) if isinstance(lo, float) else lo
        hi = math.floor(hi) if isinstance(hi, float) else hi
        return ("between", (lo, hi)) if lo <= hi else None
    if op == "in":
        # also before the float early-return: val is a tuple; only
        # integer-valued members can match an integer column
        ints = tuple(int(v) for v in val
                     if not isinstance(v, float) or v.is_integer())
        return ("in", ints) if ints else None
    if not isinstance(val, float):
        return op, val
    if op == ">=":
        return ">=", math.ceil(val)
    if op == ">":
        return ">=", math.floor(val) + 1
    if op == "<=":
        return "<=", math.floor(val)
    if op == "<":
        return "<=", math.ceil(val) - 1
    if op == "==":
        return ("==", int(val)) if val.is_integer() else None
    raise ValueError(f"orc_stats: unknown predicate op {op!r}")


def _file_pred_state(f: ORCFile, preds: list[tuple]):
    """Resolve predicate columns for one file and normalize float
    literals against integer columns (exact rewrite).  Returns
    ``(norm_preds, paths, nodes)``, or ``None`` when the rewrite
    proves no row of this file can satisfy the predicates (e.g.
    ``int_col == 1.5``).  Shared by the hybrid COUNT and the
    orctable DELETE classifier — both must agree bit-for-bit with
    the decode compare."""
    from .orcscan import _subtree
    root = f.types[0]
    if root.kind != "struct":
        names = {"value": 0}
    else:
        names = dict(zip(root.field_names, root.children))
    from .. import orctypes as _ot
    troot = _ot.type_from_types(f.types)
    if troot.kind != "struct":
        troot = _ot.OrcType("struct", [troot], ["value"])
    nodes = dict(zip(troot.field_names, troot.children))
    # dotted nested-leaf predicates (r5): resolve the id chain once;
    # decode expands through ancestor PRESENT so row positions align
    paths: dict[str, list[int]] = {}
    for c, _, _ in preds:
        if c in names:
            paths[c] = [names[c]]
        elif "." in c:
            paths[c] = f.resolve_path(c)   # raises on a miss
            nodes[c] = _subtree(troot, c)
        else:
            raise ValueError(f"orc_stats: no column {c!r}; file has "
                             f"{list(names)}")
    # float literals against integer columns rewrite to exact integer
    # predicates BEFORE both the stats classifier and the decode
    # compare, so the two paths agree bit-for-bit
    norm = []
    for c, op, val in preds:
        if f.types[paths[c][-1]].kind in _INT_KINDS:
            rewritten = _int_exact(op, val)
            if rewritten is None:
                return None  # no row can satisfy (e.g. v == 1.5)
            op, val = rewritten
        norm.append((c, op, val))
    return norm, paths, nodes


def _stripe_stats_class(f: ORCFile, si: int, preds: list[tuple],
                        paths: dict) -> tuple:
    """Stats-only stripe classification (no decode, no decompress):
    ``("none", n)`` — no row can match; ``("all", n)`` — every row
    matches; ``("boundary", n)`` — statistics cannot decide."""
    from .orcscan import _stats_can_match
    stripe = f.stripes[si]
    n_rows = stripe.get(5, [0])[0]
    sstats = f.stripe_statistics[si] \
        if si < len(f.stripe_statistics) else None
    if sstats is not None:
        per_col = [sstats[paths[c][-1]] for c, _, _ in preds]
        if not all(_stats_can_match(st, op, val)
                   for st, (_, op, val) in zip(per_col, preds)):
            return "none", n_rows  # no row can match: free skip
        # full-match needs every ROW to carry a matching value:
        # the leaf count must equal the stripe row count (an
        # ancestor-null row has a NULL leaf that stats don't see)
        if all(_full_match(st, op, val) and
               not st.get("has_null", True) and
               st.get("n", -1) == n_rows
               for st, (_, op, val) in zip(per_col, preds)):
            return "all", n_rows  # every row matches: free count
    return "boundary", n_rows


def _stripe_disposition(f: ORCFile, si: int, preds: list[tuple],
                        paths: dict, nodes: dict):
    """Classify one stripe against normalized predicates:
    ``("none", n_rows)`` — statistics prove no row matches (zero
    decode); ``("all", n_rows)`` — statistics prove EVERY row
    matches (zero decode); ``("mask", BooleanArray)`` — boundary
    stripe, per-row match mask (null = no match), decoding only the
    predicate columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .orcscan import _column_arrow, orc_arrow
    kind, n_rows = _stripe_stats_class(f, si, preds, paths)
    if kind != "boundary":
        return kind, n_rows
    # boundary stripe: decode ONLY the predicate columns
    nr = f._load_stripe_directory(si)
    combined = None
    for c, op, val in preds:
        node = nodes[c]
        ft = orc_arrow(node)
        arr = _column_arrow(f, paths[c], nr, node, ft)
        if op == "between":
            m = pc.and_kleene(
                pc.greater_equal(arr, pa.scalar(val[0], ft)),
                pc.less_equal(arr, pa.scalar(val[1], ft)))
        elif op == "in":
            m = pc.is_in(arr,
                         value_set=pa.array(list(val), type=ft))
            # is_in yields null-in -> false already; align with
            # kleene AND by keeping the boolean mask as-is
        elif op == "prefix":
            if not pa.types.is_string(ft) and \
                    not pa.types.is_large_string(ft):
                raise ValueError(
                    f"orc_stats: prefix predicate on non-string "
                    f"column {c!r}")
            m = pc.starts_with(arr, pattern=val)
        else:
            fn = {">=": pc.greater_equal, ">": pc.greater,
                  "<=": pc.less_equal, "<": pc.less,
                  "==": pc.equal}[op]
            m = fn(arr, pa.scalar(val, ft))
        combined = m if combined is None else \
            pc.and_kleene(combined, m)
    return "mask", combined


def _count_file(path: str, preds: list[tuple]) -> int:
    """Predicate count for one file: stripes proven fully-matching by
    statistics are counted WITHOUT decoding; stripes that cannot
    match are skipped; only boundary stripes decode — and only the
    predicate columns."""
    import pyarrow as pa
    import pyarrow.compute as pc
    f = ORCFile(path)
    state = _file_pred_state(f, preds)
    if state is None:
        return 0
    norm, paths, nodes = state
    total = 0
    for si in range(len(f.stripes)):
        kind, v = _stripe_disposition(f, si, norm, paths, nodes)
        if kind == "none":
            continue
        if kind == "all":
            total += v
        else:
            s = pc.sum(pc.cast(v, pa.int64()))
            total += s.as_py() or 0
    return total
