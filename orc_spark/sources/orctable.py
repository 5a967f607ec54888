"""Snapshot-managed ``.orc`` tables (r5): an Iceberg-style metadata
layer, from scratch, over the engine's own file format.

The north rule frames the input as "Iceberg tables of pre-tokenized
training sequences"; the reference engine itself only ever opens one
file at a time (reference orc.go:35-41).  This module supplies the
table semantics a 100 TB lake actually needs on top of raw files:

* **Atomic commits** — a snapshot file is created with ``O_EXCL``;
  data files are invisible until a snapshot names them, so readers
  never see a half-written commit and concurrent writers conflict
  loudly instead of corrupting (same two-phase discipline as the
  DataSource's temp-rename commit, datasource.py).
* **Manifests as the listing** — a snapshot references manifest files
  (JSONL, one data-file entry per line with row counts, byte sizes
  and per-column min/max).  Readers never ``glob`` the data
  directory: on an object store the manifest IS the listing, and an
  append commit writes ONE new manifest (O(new files), never
  rewriting history).
* **File-level pruning before any footer open** — predicate min/max
  checks against manifest stats drop whole files driver-side; only
  surviving files enter the stripe/stride/bloom planning chain.
* **Schema tracking + evolution** — each snapshot records the
  table's canonical ORC type string; appends widen it through
  ``orctypes.widen`` (the lossless Java-ORC/Iceberg-v2 subset), and
  reads decode every file name-based under the snapshot's declared
  union root (``orc_scan(declared_type=...)``) — no footer-union
  pass at read time.
* **Time travel** — ``read_table(snapshot=N)`` reproduces exactly
  the files, schema and rows of version N; ``table_history`` is the
  audit table (operation, row/file deltas, schema per version).
* **Zero-recode compaction** — ``compact_table`` byte-copy-merges
  small files (orcmerge) and commits the result as a ``replace``
  snapshot; time travel to the pre-compaction version still works
  because old manifests and data files are never mutated.
* **Row-level DML (r5 session 5)** — ``delete_from`` /
  ``update_table`` / ``merge_table`` are Iceberg-style copy-on-write
  with metadata fast paths: statistics prune and classify before any
  decode, and only true boundary/matched files rewrite.
* **Metadata tables + tags** — ``table_files`` / ``table_manifests``
  / ``table_partitions`` read manifests only; ``tag_snapshot`` pins
  a version under a name that time-travel reads resolve and
  ``expire_snapshots`` refuses to reclaim.
* **Streaming sink** — ``stream_write_table`` appends one atomic
  commit per micro-batch, exactly-once via batch ids recorded in the
  snapshot summary (replays skip); consumers poll
  ``read_table_changes`` for the delta.

Scale notes: commit metadata is O(files added); the per-version
snapshot JSON holds manifest NAMES only.  ``read_table`` materializes
the file-entry list driver-side — one (path, counts, stats) tuple per
data file, the same driver footprint ``orc_scan`` on a directory
already has — and all footer work stays in the distributed planning
pass.  ``version-hint.text`` is advisory (atomic rename); the source
of truth is the ``v*.json`` listing, so a stale hint never breaks
correctness.
"""

from __future__ import annotations

import functools as _functools
import json
import os
import re
import uuid

from .. import orctypes, predicates

_META = "_meta"
_DATA = "data"


class CommitConflict(RuntimeError):
    """Another writer committed first and the operation cannot be
    rebased (overwrite/replace over a changed table)."""


# ------------------------------------------------------------------
# metadata primitives
# ------------------------------------------------------------------


def _meta_dir(table: str) -> str:
    return os.path.join(table, _META)


def _snap_path(table: str, version: int) -> str:
    return os.path.join(_meta_dir(table), f"v{version:08d}.json")


def current_version(table: str) -> int:
    """Latest committed snapshot version (listing-based; the hint
    file is only a fast path and may lag)."""
    md = _meta_dir(table)
    try:
        names = os.listdir(md)
    except FileNotFoundError:
        raise ValueError(f"orc_table: {table} is not a table "
                         f"(no {_META}/ directory)") from None
    vs = [int(n[1:9]) for n in names
          if n.startswith("v") and n.endswith(".json")
          and n[1:9].isdigit()]
    if not vs:
        raise ValueError(f"orc_table: {table} has no snapshots")
    return max(vs)


def load_snapshot(table: str, version: int | None = None) -> dict:
    if version is None:
        version = current_version(table)
    p = _snap_path(table, version)
    try:
        with open(p) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"orc_table: no snapshot v{version} in {table} "
            f"(latest is v{current_version(table)})") from None


def _write_manifest(table: str, entries: list[dict]) -> str:
    name = f"manifest-{uuid.uuid4().hex}.jsonl"
    path = os.path.join(_meta_dir(table), name)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for e in entries:
            fh.write(json.dumps(e, separators=(",", ":")) + "\n")
    os.replace(tmp, path)  # manifests are immutable once named
    return name


def manifest_entries(table: str, snap: dict) -> list[dict]:
    out: list[dict] = []
    for name in snap["manifests"]:
        with open(os.path.join(_meta_dir(table), name)) as fh:
            for line in fh:
                if line.strip():
                    out.append(json.loads(line))
    return out


def _hint(table: str, version: int) -> None:
    p = os.path.join(_meta_dir(table), "version-hint.text")
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, p)


def _try_commit(table: str, snap: dict) -> bool:
    """Exclusive-create the snapshot file; False = lost the race."""
    path = _snap_path(table, snap["version"])
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as fh:
        json.dump(snap, fh, separators=(",", ":"))
    _hint(table, snap["version"])
    return True


# partition transforms: columns a spec may reference must be
# top-level primitives of these kinds (values serialize to JSON and
# compare exactly; float/date/decimal keys are refused up front)
_PART_KINDS = ("byte", "short", "int", "long", "string", "varchar",
               "char")


def _parse_spec(partition_by) -> list[dict]:
    """``["source", "bucket(8, doc_id)"]`` ->
    [{"str": "identity(source)", "transform": "identity",
      "col": "source"},
     {"str": "bucket(8,doc_id)", "transform": "bucket",
      "col": "doc_id", "n": 8}].  ``str`` is the canonical form
    stored in snapshots and used as the key of each manifest
    entry's ``partition`` dict."""
    import re
    out = []
    for raw in (partition_by or []):
        s = raw.strip()
        m = re.fullmatch(r"bucket\(\s*(\d+)\s*,\s*([\w.]+)\s*\)", s)
        if m:
            n = int(m.group(1))
            if n < 1:
                raise ValueError(f"orc_table: bucket({n},...) needs "
                                 f"n >= 1")
            out.append({"str": f"bucket({n},{m.group(2)})",
                        "transform": "bucket", "col": m.group(2),
                        "n": n})
            continue
        if s.startswith("identity(") and s.endswith(")"):
            col = s[len("identity("):-1].strip()
        elif re.fullmatch(r"[\w.]+", s):
            col = s
        else:
            raise ValueError(
                f"orc_table: cannot parse partition transform "
                f"{raw!r} (supported: 'col', 'identity(col)', "
                f"'bucket(n, col)')")
        if not re.fullmatch(r"[\w.]+", col):
            raise ValueError(
                f"orc_table: bad partition column in {raw!r}")
        out.append({"str": f"identity({col})",
                    "transform": "identity", "col": col})
    return out


def _bucket_of(value, n: int):
    """THE bucket hash — md5 of the value's string form, top 60 bits
    mod n.  Deterministic and engine-portable (the same convention
    as sampling.py's md5-threshold: DuckDB, Spark SQL and Python all
    reproduce it), so manifest pruning, oracle SQL and any external
    writer agree on bucket ids.  ``None`` stays None (its own
    partition)."""
    import hashlib
    if value is None:
        return None
    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    return int(h[:15], 16) % n


def _validate_spec(spec: list[dict], root) -> None:
    fields = dict(zip(root.field_names, root.children))
    for sp in spec:
        node = fields.get(sp["col"])
        if node is None:
            raise ValueError(
                f"orc_table: partition column {sp['col']!r} is not "
                f"a top-level field of {root.orc_string()}")
        if node.kind not in _PART_KINDS:
            raise ValueError(
                f"orc_table: partition column {sp['col']!r} has "
                f"kind {node.kind!r}; partitionable kinds are "
                f"{_PART_KINDS}")


def create_table(table: str, schema: str,
                 partition_by: list[str] | None = None) -> dict:
    """Initialize an empty table with a declared canonical ORC type
    string (``struct<...>``); v0 has no data files.
    ``partition_by`` declares Iceberg-style hidden partitioning:
    ``"col"`` (identity — low-cardinality dimensions like source)
    and/or ``"bucket(n, col)"`` (md5-hash bucketing — spreads
    high-cardinality / long-tail keys across n files per commit and
    prunes equality/IN lookups to one bucket).  Writers cluster by
    the transforms automatically; every data file carries exactly
    one partition tuple in its manifest entry."""
    root = orctypes.parse_orc_type(schema)  # validates + canonicalizes
    if root.kind != "struct":
        raise ValueError(
            f"orc_table: table schema must be a struct<...>, got "
            f"{schema!r}")
    spec = _parse_spec(partition_by)
    _validate_spec(spec, root)
    os.makedirs(os.path.join(table, _DATA), exist_ok=True)
    os.makedirs(_meta_dir(table), exist_ok=True)
    snap = {"version": 0, "parent": None, "operation": "create",
            "schema": root.orc_string(),
            "spec": [sp["str"] for sp in spec], "manifests": [],
            "columns": [{"id": i + 1, "name": n, "prev": []}
                        for i, n in enumerate(root.field_names)],
            "retired": [],
            "last_column_id": len(root.field_names),
            "summary": {"n_files": 0, "n_rows": 0, "bytes": 0,
                        "added_files": 0, "added_rows": 0}}
    if not _try_commit(table, snap):
        raise CommitConflict(f"orc_table: {table} already exists")
    return snap


def _commit_retrying(table: str, base: dict, operation: str,
                     new_manifest: str | None, new_entries: list[dict],
                     write_schema: str, retries: int = 20,
                     extra: dict | None = None) -> dict:
    """Optimistic-concurrency commit.  ``append`` rebases onto
    whatever the latest snapshot has become (manifest list = latest's
    + ours; schema = widen(latest, ours)); ``overwrite``/``replace``
    require the table to still be at ``base`` and raise
    CommitConflict otherwise — replaying a replace over files another
    writer changed would silently drop their commit."""
    added_rows = sum(e["n_rows"] for e in new_entries)
    added_bytes = sum(e["bytes"] for e in new_entries)
    latest = base
    for _ in range(retries):
        if operation == "append":
            schema = orctypes.widen(
                orctypes.parse_orc_type(latest["schema"]),
                orctypes.parse_orc_type(write_schema)).orc_string()
            manifests = list(latest["manifests"])
            if new_manifest is not None:
                manifests.append(new_manifest)
            s = latest["summary"]
            summary = {"n_files": s["n_files"] + len(new_entries),
                       "n_rows": s["n_rows"] + added_rows,
                       "bytes": s["bytes"] + added_bytes,
                       "added_files": len(new_entries),
                       "added_rows": added_rows}
        else:  # overwrite / replace: manifest list starts fresh
            if latest["version"] != base["version"]:
                raise CommitConflict(
                    f"orc_table: {operation} prepared against "
                    f"v{base['version']} but table moved to "
                    f"v{latest['version']}")
            schema = write_schema \
                if operation in ("overwrite", "merge") \
                else latest["schema"]
            manifests = [new_manifest] if new_manifest else []
            summary = {"n_files": len(new_entries),
                       "n_rows": added_rows, "bytes": added_bytes,
                       "added_files": len(new_entries),
                       "added_rows": added_rows}
        summary.update(extra or {})
        columns, retired = _sync_columns(latest, schema, operation)
        snap = {"version": latest["version"] + 1,
                "parent": latest["version"], "operation": operation,
                "schema": schema,
                "spec": latest.get("spec", []),
                "manifests": manifests,
                "columns": columns, "retired": retired,
                "last_column_id": max(
                    int(latest.get("last_column_id", 0)),
                    max((c["id"] for c in columns), default=0)),
                "summary": summary}
        if _try_commit(table, snap):
            return snap
        latest = load_snapshot(table)  # lost the race: rebase
    raise CommitConflict(
        f"orc_table: gave up committing to {table} after "
        f"{retries} conflicts")


# ------------------------------------------------------------------
# write path
# ------------------------------------------------------------------


_STAT_SCALARS = (int, float, str)


def _entry_stats(f) -> dict:
    """JSON-safe per-column file statistics for a manifest entry:
    top-level primitive columns whose min/max are int/float/str
    (bool excluded — int min over [False, True] prunes wrongly
    against boolean literals; decimal/date/timestamp stats are
    strings of non-lexicographic ordering and stay out until typed
    comparison lands)."""
    root = f.types[0]
    if root.kind != "struct":
        return {}
    out = {}
    for fn, cid in zip(root.field_names, root.children):
        if cid >= len(f.file_statistics):
            continue
        st = f.file_statistics[cid]
        e = {"n": int(st.get("n", 0)),
             "has_null": bool(st.get("has_null", False))}
        mn, mx = st.get("min"), st.get("max")
        kind = f.types[cid].kind
        if (isinstance(mn, _STAT_SCALARS) and not isinstance(mn, bool)
                and isinstance(mx, _STAT_SCALARS)
                and kind not in ("decimal", "date", "timestamp")):
            e["min"], e["max"] = mn, mx
        out[fn] = e
    return out


class TupleSplitWriter:
    """Per-task encoder routing Arrow batches into one open
    ORCFileWriter per partition TUPLE — the executor half shared by
    both table write paths (``_write_data_files``'s mapInArrow kernel
    and the DataSource table writer, datasource.OrcTableWriter).

    The split is exact and whole-array: dictionary codes per
    partition column (nulls -> a sentinel code) combine into one
    group id, bucket values hash per DISTINCT value only — no
    per-row Python.  Memory is one stripe buffer per open tuple;
    file names come from ``name_of(seq)`` so callers control
    job/task uniqueness."""

    def __init__(self, data_dir: str, spec: list[dict], name_of,
                 *, codec: str = "zlib", stripe_rows: int = 1 << 20,
                 bloom_columns: list[str] | None = None):
        self.data_dir = data_dir
        self.spec = spec
        self.name_of = name_of
        self.codec = codec
        self.stripe_rows = stripe_rows
        self.bloom_columns = bloom_columns
        self.writers: dict[tuple, dict] = {}

    def _sink(self, tup: tuple) -> dict:
        from .orcwriter import ORCFileWriter
        w = self.writers.get(tup)
        if w is None:
            name = self.name_of(len(self.writers))
            path = os.path.join(self.data_dir, name)
            w = {"name": name, "path": path,
                 "writer": ORCFileWriter(
                     path, codec=self.codec,
                     stripe_rows=self.stripe_rows,
                     bloom_columns=self.bloom_columns),
                 "n": 0, "tup": tup}
            self.writers[tup] = w
        return w

    def write_batch(self, b) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        if b.num_rows == 0:
            return
        if not self.spec:
            w = self._sink(())
            w["writer"].write_batch(b)
            w["n"] += b.num_rows
            return
        combo = np.zeros(b.num_rows, dtype=np.int64)
        valmaps = []
        for sp in self.spec:
            enc = pc.dictionary_encode(
                b.column(b.schema.get_field_index(sp["col"])))
            dvals = enc.dictionary.to_pylist()
            idx = pc.fill_null(enc.indices, len(dvals)) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            vals = dvals + [None]
            if sp["transform"] == "bucket":
                vals = [_bucket_of(v, sp["n"]) for v in vals]
            valmaps.append(vals)
            combo = combo * len(vals) + idx
        for u in np.unique(combo):
            rem = int(u)
            tup = []
            for vals in reversed(valmaps):
                rem, k = divmod(rem, len(vals))
                tup.append(vals[k])
            tup = tuple(reversed(tup))
            sub = b.filter(pa.array(combo == u))
            w = self._sink(tup)
            w["writer"].write_batch(sub)
            w["n"] += sub.num_rows

    def close(self) -> list[dict]:
        """Close every open file; ``[{name, path, n, tup}]``."""
        out = []
        for w in self.writers.values():
            w["writer"].close()
            out.append({"name": w["name"], "path": w["path"],
                        "n": w["n"], "tup": w["tup"]})
        return out


def _manifest_entry(closed: dict, spec: list[dict],
                    write_schema: str, codec: str) -> dict:
    """Manifest entry for one just-closed data file — stats ride back
    from the SAME task that wrote it (re-opens only its own tail,
    mmap): no driver-side footer pass, no second listing."""
    from .orcfile import ORCFile
    e = {"path": f"{_DATA}/{closed['name']}", "n_rows": closed["n"],
         "bytes": os.path.getsize(closed["path"]),
         "type": write_schema, "codec": codec,
         "stats": _entry_stats(ORCFile(closed["path"]))}
    if spec:
        e["partition"] = {sp["str"]: v
                          for sp, v in zip(spec, closed["tup"])}
    return e


def _write_data_files(df, table: str, spec: list[dict],
                      codec: str = "zlib", stripe_rows: int = 1 << 20,
                      bloom_columns: list[str] | None = None,
                      prefix: str = "part", cluster: bool = True):
    """Encode ``df`` into new ``data/`` files (one per partition,
    job-unique names — a failed job leaves only unreferenced
    orphans) WITHOUT committing; returns ``(entries, write_schema)``
    for the caller to fold into exactly one atomic snapshot
    (write_table, merge_table).

    On a PARTITIONED table (create_table ``partition_by``) the frame
    is clustered by the transform expressions first (one shuffle;
    best-effort — correctness never depends on it) and the write
    kernel splits each Arrow batch by exact partition tuple, so
    every data file carries ONE tuple in its manifest entry and
    per-task memory stays one stripe buffer per open tuple.

    The per-file manifest stats ride back from the SAME task that
    wrote the file (it re-opens only its own tail, mmap) — no
    driver-side footer pass, no second listing.  ``cluster=False``
    skips the transform shuffle for callers that already arranged
    the frame (rewrite_sorted's per-tuple sort would be destroyed by
    a second repartition); the kernel's exact per-tuple split keeps
    correctness either way."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for sp in spec:
        if sp["col"] not in df.columns:
            raise ValueError(
                f"orc_table: partition column {sp['col']!r} missing "
                f"from the frame ({df.columns})")
    write_schema = orctypes.parse_orc_type(
        orctypes.orc_string_from_spark(df)).orc_string()
    job = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table, _DATA)
    os.makedirs(data_dir, exist_ok=True)
    if spec and cluster:
        # cluster so each task sees few partition tuples — the SAME
        # md5 hash as _bucket_of (sampling.py convention), 60 bits
        exprs = [F.col(sp["col"]) if sp["transform"] == "identity"
                 else (F.conv(F.substring(
                     F.md5(F.col(sp["col"]).cast("string")), 1, 15),
                     16, 10).cast("long") % sp["n"])
                 for sp in spec]
        df = df.repartition(*exprs)

    def kernel(batches):
        from pyspark import TaskContext

        from orc_spark._alloc import tune_worker
        tune_worker()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        sw = TupleSplitWriter(
            data_dir, spec,
            lambda i: f"{prefix}-{job}-{pid:05d}-{i:04d}.orc",
            codec=codec, stripe_rows=stripe_rows,
            bloom_columns=bloom_columns)
        for b in batches:
            sw.write_batch(b)
        closed = sw.close()
        if not closed:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array([json.dumps(_manifest_entry(
                c, spec, write_schema, codec)) for c in closed],
                pa.string())],
            names=["entry"])

    out_schema = T.StructType([T.StructField("entry",
                                             T.StringType())])
    rows = df.mapInArrow(kernel, out_schema).collect()  # one/file
    entries = [json.loads(r["entry"]) for r in rows]
    return entries, write_schema


def write_table(df, table: str, mode: str = "append",
                codec: str = "zlib", stripe_rows: int = 1 << 20,
                bloom_columns: list[str] | None = None) -> dict:
    """Encode ``df`` into new ``data/`` files (_write_data_files)
    and commit a snapshot.  ``mode="append"`` widens the table
    schema through ``orctypes.widen`` when the frame's type evolved;
    ``mode="overwrite"`` replaces the file set and schema.  Returns
    the committed snapshot dict."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"orc_table: mode must be append|overwrite, "
                         f"got {mode!r}")
    base = load_snapshot(table)
    spec = _parse_spec(base.get("spec", []))
    entries, write_schema = _write_data_files(
        df, table, spec, codec=codec, stripe_rows=stripe_rows,
        bloom_columns=bloom_columns)
    manifest = _write_manifest(table, entries) if entries else None
    return _commit_retrying(table, base, mode, manifest, entries,
                            write_schema)


# ------------------------------------------------------------------
# read path
# ------------------------------------------------------------------


def _bucket_prunable(val) -> bool:
    """Bucket pruning is exact only when the literal's string form is
    canonical for the partition column's kinds (str, int) — float
    literals fall through to the file-level classifier, which owns
    the exact int-rewrite rules."""
    return isinstance(val, (str, int)) and not isinstance(val, bool)


def _partition_survives(entry: dict, preds: list[tuple],
                        spec: list[dict]) -> bool:
    """Partition-tuple pruning: identity values prune as point
    statistics (min == max == value); bucket ids prune equality and
    IN (the literal's bucket must equal the file's).  Conservative:
    anything not provably non-matching survives."""
    part = entry.get("partition")
    if not part:
        return True  # pre-spec or externally-added file
    for sp in spec:
        if sp["str"] not in part:
            continue
        v = part[sp["str"]]
        cps = [(op, val) for c, op, val in preds if c == sp["col"]]
        if not cps:
            continue
        if sp["transform"] == "identity":
            if v is None:
                return False  # comparisons with NULL never match
            st = {"min": v, "max": v, "n": 1, "has_null": False}
            if not all(predicates.may_match(st, op, val)
                       for op, val in cps):
                return False
        else:  # bucket
            for op, val in cps:
                if op == "==" and _bucket_prunable(val):
                    if _bucket_of(val, sp["n"]) != v:
                        return False
                elif op == "in" and val and \
                        all(_bucket_prunable(x) for x in val):
                    if v not in {_bucket_of(x, sp["n"])
                                 for x in val}:
                        return False
    return True


@_functools.lru_cache(maxsize=4096)
def _type_top_names(type_str: str):
    """frozenset of top-level field names of a manifest entry's type
    string, or None when it is absent/unparseable (externally-added
    entries — stay conservative)."""
    try:
        root = orctypes.parse_orc_type(type_str)
        if root.kind != "struct":
            return None
        return frozenset(root.field_names)
    except Exception:
        return None


def _entry_survives(entry: dict, preds: list[tuple],
                    spec: list[dict] | None = None) -> bool:
    """Manifest-level pruning: conservative min/max checks
    (``predicates.may_match`` — a literal of another comparison
    family keeps the file).  On a partitioned table the partition
    tuple prunes first (identity point-stats, bucket-id equality).
    A file whose recorded type LACKS a predicate's top-level column
    is pruned outright: the column is NULL for every row there
    (schema-evolution backfill) and every supported op is
    NULL-rejecting — this also keeps per-file DML classifiers away
    from files that predate an added column."""
    if spec and not _partition_survives(entry, preds, spec):
        return False
    names = _type_top_names(entry.get("type", ""))
    if names is not None:
        for col, _, _ in preds:
            if col.partition(".")[0] not in names:
                return False
    stats = entry.get("stats") or {}
    for col, op, val in preds:
        st = stats.get(col)
        if not st:
            continue  # dotted path / no stats: cannot prune
        if st.get("n", 1) == 0:
            # all-null file: no comparison predicate can match
            return False
        if not predicates.may_match(st, op, val):
            return False
    return True


# ------------------------------------------------------------------
# schema evolution (ALTER TABLE): stable field ids + name history
# ------------------------------------------------------------------
#
# Snapshots carry ``columns`` ([{"id", "name", "prev": [old names]}])
# and ``retired`` (names of dropped columns, plus their histories).
# Data files are NEVER rewritten by an ALTER: a renamed column keeps
# its old name inside already-written files, and the read path maps
# physical -> logical per file through the name history (the same
# role Iceberg's field ids play).  Historical names stay reserved —
# reusing one would make an old file's column ambiguous — so
# add/rename reject them loudly.


def _columns_meta(snap: dict) -> tuple[list[dict], list[str]]:
    """(columns, retired) for a snapshot; synthesized from the schema
    for snapshots written before this metadata existed (those tables
    have never seen a rename, so identity ids are exact)."""
    cols = snap.get("columns")
    if cols is None:
        root = orctypes.parse_orc_type(snap["schema"])
        return ([{"id": i + 1, "name": n, "prev": []}
                 for i, n in enumerate(root.field_names)],
                list(snap.get("retired", [])))
    return ([{"id": c["id"], "name": c["name"],
              "prev": list(c.get("prev", []))} for c in cols],
            list(snap.get("retired", [])))


def _names_ever(cols: list[dict], retired: list[str]) -> set:
    used = set(retired)
    for c in cols:
        used.add(c["name"])
        used.update(c.get("prev", []))
    return used


def _sync_columns(latest: dict, new_schema: str,
                  operation: str) -> tuple[list[dict], list[str]]:
    """columns/retired metadata for a commit moving ``latest`` to
    ``new_schema``.  Widening commits extend (new top-level names get
    fresh ids; reusing a historical name is rejected — an old data
    file could no longer resolve it unambiguously).  ``overwrite``
    resets: no pre-overwrite data file survives, so the name history
    restarts clean."""
    new_names = orctypes.parse_orc_type(new_schema).field_names
    if operation == "overwrite":
        return ([{"id": i + 1, "name": n, "prev": []}
                 for i, n in enumerate(new_names)], [])
    cols, retired = _columns_meta(latest)
    have = {c["name"] for c in cols}
    used = _names_ever(cols, retired)
    # ids are permanent identities: never reuse one a dropped column
    # held (Iceberg field-id semantics), hence the last_column_id
    # high-water mark carried on every snapshot
    nxt = max(int(latest.get("last_column_id", 0)),
              max((c["id"] for c in cols), default=0)) + 1
    for n in new_names:
        if n in have:
            continue
        if n in used:
            raise ValueError(
                f"orc_table: column name {n!r} belonged to a "
                f"renamed/dropped column; historical names stay "
                f"reserved so old data files resolve unambiguously "
                f"— pick a fresh name")
        cols.append({"id": nxt, "name": n, "prev": []})
        have.add(n)
        nxt += 1
    return cols, retired


def _phys_of(type_str: str, cols: list[dict], cache: dict) -> dict:
    """logical column name -> PHYSICAL field name inside data files
    whose footer type is ``type_str``.  Identity unless the column
    was renamed after the file was written; columns the file
    predates are absent (the scan null-fills them)."""
    got = cache.get(type_str)
    if got is None:
        try:
            names = set(orctypes.parse_orc_type(type_str).field_names)
        except Exception:
            # never guess on a renamed table: silently treating an
            # unknown layout as current would null-fill real data
            raise ValueError(
                f"orc_table: manifest entry type {type_str!r} is "
                f"unparseable on a table with renamed columns — "
                f"cannot resolve its physical layout")
        got = {}
        for c in cols:
            if c["name"] in names:
                got[c["name"]] = c["name"]
            else:
                for p in c.get("prev", []):
                    if p in names:
                        got[c["name"]] = p
                        break
        cache[type_str] = got
    return got


def _xlate(col: str, m: dict) -> str:
    """Rename the TOP-LEVEL segment of a (possibly dotted) column."""
    head, dot, rest = col.partition(".")
    return m.get(head, head) + dot + rest


def _legacy_entries(entries: list[dict], cols: list[dict]
                    ) -> list[dict]:
    """Manifest entries whose data files carry a since-renamed
    physical column name (empty unless a rename ever happened)."""
    prevs = {p for c in cols for p in c.get("prev", [])}
    if not prevs:
        return []
    seen: dict[str, set] = {}
    out = []
    for e in entries:
        ts = e.get("type", "")
        names = seen.get(ts)
        if names is None:
            try:
                names = set(orctypes.parse_orc_type(ts).field_names)
            except Exception:
                raise ValueError(
                    f"orc_table: manifest entry "
                    f"{e.get('path', '?')!r} has unparseable type "
                    f"{ts!r} on a table with renamed columns — "
                    f"cannot resolve its physical layout")
            seen[ts] = names
        if names & prevs:
            out.append(e)
    return out


def _check_pred_cols(snap: dict, preds: list[tuple],
                     what: str) -> None:
    """Fail-loud guard for per-file operations: every predicate's
    top-level column must exist in the CURRENT schema — a dropped
    column's statistics (and bytes) still live inside data files, and
    classifying against them would silently act on a column the
    table no longer has."""
    names = set(orctypes.parse_orc_type(snap["schema"]).field_names)
    for col, _, _ in preds:
        head = col.partition(".")[0]
        if head not in names:
            raise ValueError(
                f"orc_table: {what} predicate column {col!r} not in "
                f"table schema ({sorted(names)})")


def _require_migrated(snap: dict, entries: list[dict],
                      what: str) -> None:
    """Per-file rewrite operations (DELETE/UPDATE/MERGE, hybrid
    COUNT) address columns by physical name inside each file; they
    refuse tables holding files written under since-renamed names
    rather than silently matching nothing."""
    cols, _ = _columns_meta(snap)
    legacy = _legacy_entries(entries, cols)
    if legacy:
        raise ValueError(
            f"orc_table: {what} over {len(legacy)} data file(s) "
            f"written under since-renamed column names — run "
            f"rewrite_migrate (or rewrite_sorted/rewrite_zorder) "
            f"first to normalize the layout")


def _scan_entries(spark, table: str, snap: dict, entries: list[dict],
                  columns: list[str] | None = None, predicate=None,
                  timestamp_nanos: bool = False,
                  on_error: str = "fail"):
    """DataFrame over a manifest entry list under ``snap``'s LOGICAL
    schema.  Entries group by their physical->logical rename mapping
    (one group per schema epoch — almost always exactly one); each
    group scans with translated predicates/projection so stripe,
    stride and bloom pruning still bite on old physical names, then
    aliases back to logical names and unions.  Manifest min/max
    pruning also happens here, per entry, under the entry's own
    physical names."""
    from pyspark.sql import functions as F

    from .orcscan import _spark_of, orc_scan
    cols_meta, _ = _columns_meta(snap)
    renamed = any(c.get("prev") for c in cols_meta)
    preds = predicates.normalize(predicate)
    spec = _parse_spec(snap.get("spec", []))
    root = orctypes.parse_orc_type(snap["schema"])
    cache: dict = {}
    groups: dict[tuple, list[dict]] = {}
    for e in entries:
        if renamed:
            m = _phys_of(e.get("type", ""), cols_meta, cache)
            key = tuple(sorted(
                (l, p) for l, p in m.items() if l != p))
        else:
            m, key = {}, ()
        if preds:
            ep = [(_xlate(c, m), op, v)
                  for c, op, v in preds] if key else preds
            if not _entry_survives(e, ep, spec):
                continue
        groups.setdefault(key, []).append(e)
    if not groups:
        out = spark.createDataFrame(
            [], _spark_of(root, timestamp_nanos))
        if columns:
            out = out.select(*[F.col(c).alias(c) for c in columns])
        return out
    out = None
    for key, es in groups.items():
        files = [os.path.join(table, e["path"]) for e in es]
        if not key:
            part = orc_scan(spark, files, columns=columns,
                            predicate=predicate,
                            timestamp_nanos=timestamp_nanos,
                            on_error=on_error,
                            declared_type=snap["schema"])
        else:
            m = dict(key)
            g_root = orctypes.OrcType(
                "struct", list(root.children),
                [m.get(fn, fn) for fn in root.field_names])
            g_cols = [_xlate(c, m) for c in columns] \
                if columns else None
            g_preds = [(_xlate(c, m), op, v)
                       for c, op, v in preds] or None
            part = orc_scan(spark, files, columns=g_cols,
                            predicate=g_preds,
                            timestamp_nanos=timestamp_nanos,
                            on_error=on_error,
                            declared_type=g_root.orc_string())
            # positional rename back to logical names (orc_scan
            # returns columns in projection / declared-root order)
            part = part.toDF(*(columns or root.field_names))
        out = part if out is None else out.unionByName(part)
    return out


def read_table(spark, table: str, snapshot=None,
               columns: list[str] | None = None, predicate=None,
               timestamp_nanos: bool = False, on_error: str = "fail"):
    """DataFrame over a snapshot (latest by default; an int time
    travels, a string resolves as a tag name).  File set and
    schema come from table metadata — no directory listing, no
    footer-union pass; manifest stats prune whole files before the
    stripe/stride/bloom planning chain sees them.  Columns renamed
    by ``rename_column`` resolve through the table's name history —
    files written before the rename scan under their physical name
    and alias back (see ``_scan_entries``)."""
    snap = load_snapshot(table, _resolve_ref(table, snapshot))
    entries = manifest_entries(table, snap)
    return _scan_entries(spark, table, snap, entries,
                         columns=columns, predicate=predicate,
                         timestamp_nanos=timestamp_nanos,
                         on_error=on_error)


def table_files(spark, table: str, snapshot=None):
    """Metadata table (Iceberg ``.files``): one row per data file of
    a snapshot — path, rows, bytes, type, codec, the partition tuple
    and per-column stats as JSON strings.  Driver reads manifests
    only; no data file opens."""
    snap = load_snapshot(table, _resolve_ref(table, snapshot))
    rows = [(e["path"], e["n_rows"], e["bytes"],
             e.get("type"), e.get("codec"),
             json.dumps(e.get("partition"))
             if e.get("partition") is not None else None,
             json.dumps(e.get("stats") or {}))
            for e in manifest_entries(table, snap)]
    return spark.createDataFrame(
        rows, "path string, n_rows long, bytes long, type string, "
              "codec string, partition string, stats string")


def table_manifests(spark, table: str, snapshot=None):
    """Metadata table (Iceberg ``.manifests``): one row per manifest
    of a snapshot with its entry/row/byte totals."""
    snap = load_snapshot(table, _resolve_ref(table, snapshot))
    rows = []
    for name in snap["manifests"]:
        es = manifest_entries(table, {"manifests": [name]})
        rows.append((name, len(es),
                     sum(e["n_rows"] for e in es),
                     sum(e["bytes"] for e in es)))
    return spark.createDataFrame(
        rows, "manifest string, n_files long, n_rows long, "
              "bytes long")


def table_partitions(spark, table: str, snapshot=None):
    """Metadata table (Iceberg ``.partitions``): per-partition-tuple
    file/row/byte totals — the skew dashboard for a bucketed table
    (a hot bucket shows up here before it shows up as a straggler
    task)."""
    snap = load_snapshot(table, _resolve_ref(table, snapshot))
    agg: dict[str, list] = {}
    for e in manifest_entries(table, snap):
        key = json.dumps(e.get("partition"), sort_keys=True)
        a = agg.setdefault(key, [0, 0, 0])
        a[0] += 1
        a[1] += e["n_rows"]
        a[2] += e["bytes"]
    rows = [(k, *v) for k, v in sorted(agg.items())]
    return spark.createDataFrame(
        rows, "partition string, n_files long, n_rows long, "
              "bytes long")


# ------------------------------------------------------------------
# named refs (tags)
# ------------------------------------------------------------------


def _refs_path(table: str) -> str:
    return os.path.join(_meta_dir(table), "refs.json")


def _load_refs(table: str) -> dict:
    try:
        with open(_refs_path(table)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _store_refs(table: str, refs: dict) -> None:
    tmp = _refs_path(table) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(refs, fh, sort_keys=True)
    os.replace(tmp, _refs_path(table))  # atomic swap


def _resolve_ref(table: str, snapshot):
    """Snapshot selector: None (latest) and ints pass through; a
    string resolves as a tag name (fail-loud on a miss)."""
    if snapshot is None or isinstance(snapshot, int):
        return snapshot
    refs = _load_refs(table)
    if snapshot not in refs:
        raise ValueError(
            f"orc_table: no tag {snapshot!r} on {table} "
            f"(tags: {sorted(refs)})")
    return refs[snapshot]


def tag_snapshot(table: str, name: str, version: int | None = None
                 ) -> dict:
    """Name a snapshot (Iceberg tag): ``read_table(snapshot="name")``
    then pins to that version forever, and ``expire_snapshots``
    keeps tagged versions alive regardless of ``keep_last`` — the
    mechanism for 'the exact table state train run X consumed'."""
    snap = load_snapshot(table, version)
    refs = _load_refs(table)
    refs[name] = snap["version"]
    _store_refs(table, refs)
    return {"tag": name, "version": snap["version"]}


def drop_tag(table: str, name: str) -> None:
    refs = _load_refs(table)
    if name not in refs:
        raise ValueError(f"orc_table: no tag {name!r} on {table}")
    del refs[name]
    _store_refs(table, refs)


def list_tags(spark, table: str):
    """Metadata table (Iceberg ``.refs``): tag name → version."""
    rows = sorted(_load_refs(table).items())
    return spark.createDataFrame(rows, "tag string, version int")


def table_history(spark, table: str):
    """The audit table: one row per snapshot (version, parent,
    operation, schema, file/row/byte totals and per-commit deltas)."""
    rows = []
    for v in range(current_version(table) + 1):
        try:
            s = load_snapshot(table, v)
        except ValueError:
            continue  # hole (never produced by this writer)
        rows.append((s["version"], s["parent"], s["operation"],
                     s["schema"], s["summary"]["n_files"],
                     s["summary"]["n_rows"], s["summary"]["bytes"],
                     s["summary"]["added_files"],
                     s["summary"]["added_rows"]))
    return spark.createDataFrame(
        rows, "version int, parent int, operation string, "
              "schema string, n_files long, n_rows long, bytes long, "
              "added_files long, added_rows long")


# ------------------------------------------------------------------
# maintenance
# ------------------------------------------------------------------


def compact_table(spark, table: str,
                  target_bytes: int = 256 << 20) -> dict:
    """Zero-recode compaction as a ``replace`` snapshot: current
    files group by (type, codec) then greedily toward
    ``target_bytes``; each multi-file group byte-copy-merges
    (orcmerge.merge_orc_files) in one executor task into a new
    ``data/`` file.  Data files and manifests of older snapshots are
    untouched — time travel to any pre-compaction version still
    reads the original small files.  Returns the new snapshot (a
    no-op returns the current one)."""
    from .orcfile import ORCFile
    from .orcmerge import merge_orc_files
    from .orcscan import run_tasks
    base = load_snapshot(table)
    entries = manifest_entries(table, base)
    by_key: dict[tuple, list[dict]] = {}
    for e in sorted(entries, key=lambda e: e["path"]):
        # partitioned tables never merge across partition tuples —
        # a compacted file must still carry ONE tuple
        by_key.setdefault(
            (e.get("type", ""), e.get("codec", ""),
             json.dumps(e.get("partition"), sort_keys=True)),
            []).append(e)
    groups: list[list[dict]] = []
    passthrough: list[dict] = []
    for key, es in by_key.items():
        if not all(key):
            passthrough.extend(es)  # externally-added: never merged
            continue
        cur: list[dict] = []
        cur_b = 0
        for e in es:
            if cur and cur_b + e["bytes"] > target_bytes:
                if len(cur) > 1:
                    groups.append(cur)
                else:
                    passthrough.extend(cur)
                cur, cur_b = [], 0
            cur.append(e)
            cur_b += e["bytes"]
        if len(cur) > 1:
            groups.append(cur)
        else:
            passthrough.extend(cur)
    if not groups:
        return base
    job = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table, _DATA)

    def merge(task):
        gid, files = task
        name = f"compact-{job}-{gid:05d}.orc"
        path = os.path.join(data_dir, name)
        merge_orc_files(files, path)
        # the manifest states what the merged footer states
        return name, os.path.getsize(path), _entry_stats(ORCFile(path))

    merged_entries = []
    for g, (name, nbytes, stats) in zip(groups, run_tasks(
            spark, [(i, [os.path.join(table, e["path"]) for e in g])
                    for i, g in enumerate(groups)], merge)):
        me = {"path": f"{_DATA}/{name}",
              "n_rows": sum(e["n_rows"] for e in g), "bytes": nbytes,
              "type": g[0]["type"], "codec": g[0]["codec"],
              "stats": stats}
        if g[0].get("partition") is not None:
            me["partition"] = g[0]["partition"]
        merged_entries.append(me)
    new_entries = passthrough + merged_entries
    manifest = _write_manifest(table, new_entries)
    return _commit_retrying(table, base, "replace", manifest,
                            new_entries, base["schema"])


def rewrite_sorted(spark, table: str, sort_by: list[str],
                   target_bytes: int = 256 << 20,
                   codec: str | None = None) -> dict:
    """Sort-order rewrite (Iceberg ``rewrite_data_files`` with a sort
    strategy): re-encode the current file set clustered by
    ``sort_by`` so file/stripe/stride statistics become SELECTIVE —
    after ingestion-order writes, a range predicate matches every
    file; after this rewrite it prunes to the few files its range
    lives in, and RLE/dictionary encoders compress sorted runs
    tighter as a side effect.

    Unpartitioned tables range-repartition globally (one shuffle,
    ``ceil(total_bytes / target_bytes)`` output files with DISJOINT
    key ranges — file-level pruning does the work).  Partitioned
    tables keep their transform clustering and sort WITHIN each
    partition tuple (file ranges may overlap across tuples; stride
    pruning inside each file still sharpens).  Row-preserving, so it
    commits as a ``replace`` snapshot exactly like compaction —
    incremental changelog readers skip it silently and time travel
    to the unsorted layout still works."""
    from pyspark.sql import functions as F
    base = load_snapshot(table)
    entries = manifest_entries(table, base)
    if not entries:
        return base
    root = orctypes.parse_orc_type(base["schema"])
    for c in sort_by:
        if c not in root.field_names:
            raise ValueError(
                f"orc_table: sort column {c!r} not in table schema "
                f"({root.field_names})")
    if not sort_by:
        raise ValueError("orc_table: rewrite_sorted needs at least "
                         "one sort column")
    spec = _parse_spec(base.get("spec", []))
    out_codec = codec or entries[0].get("codec") or "zlib"
    df = read_table(spark, table)
    if spec:
        exprs = [F.col(sp["col"]) if sp["transform"] == "identity"
                 else (F.conv(F.substring(
                     F.md5(F.col(sp["col"]).cast("string")), 1, 15),
                     16, 10).cast("long") % sp["n"])
                 for sp in spec]
        df = df.repartition(*exprs) \
            .sortWithinPartitions(*[F.col(c) for c in sort_by])
    else:
        total = sum(e["bytes"] for e in entries)
        n = max(1, -(-total // target_bytes))
        df = df.repartitionByRange(n, *[F.col(c) for c in sort_by]) \
            .sortWithinPartitions(*[F.col(c) for c in sort_by])
    new_entries, write_schema = _write_data_files(
        df, table, spec, codec=out_codec, prefix="sorted",
        cluster=False)
    manifest = _write_manifest(table, new_entries) if new_entries \
        else None
    return _commit_retrying(
        table, base, "replace", manifest, new_entries,
        base["schema"], extra={"sorted_by": list(sort_by)})


_Z_KINDS = ("tinyint", "smallint", "int", "bigint", "float",
            "double", "date", "timestamp")


def rewrite_zorder(spark, table: str, by: list[str],
                   target_bytes: int = 256 << 20,
                   codec: str | None = None, bits: int = 8) -> dict:
    """Z-order rewrite (Iceberg ``rewrite_data_files`` with a zorder
    strategy): recluster the file set along a space-filling curve
    over 2-4 NUMERIC/date/timestamp columns so MULTI-column
    predicates prune files — a single-key sort (rewrite_sorted)
    makes its one key selective and leaves every other column's
    min/max spanning the full range; z-order keeps every curve
    column's per-file range narrow (width ~ range / files^(1/k)).

    Spark-native and exact: one pass computes ``2^bits`` quantile
    boundaries per column (multi-column approxQuantile — ONE scan,
    driver gets k*256 doubles), each row maps to per-column bucket
    ids via a codegen'd boundary count (no Python, no join), the
    bucket bits interleave into one long z-value, and the frame
    range-repartitions + sorts on it.  Quantile (not equal-width)
    buckets make the curve skew-proof: a long-tail column still
    spreads over all 2^bits levels.  Row-preserving ``replace``
    commit, exactly like compaction — changelog readers skip it,
    time travel to the old layout works.  Partitioned tables keep
    their transform clustering and z-order WITHIN each tuple."""
    from pyspark.sql import functions as F
    if not 1 <= len(by) * bits <= 63:
        raise ValueError("orc_table: zorder needs 1..63 total bits "
                         f"(got {len(by)} cols x {bits} bits)")
    base = load_snapshot(table)
    root = orctypes.parse_orc_type(base["schema"])
    kinds = dict(zip(root.field_names,
                     [ch.kind for ch in root.children]))
    for c in by:
        if c not in root.field_names:
            raise ValueError(
                f"orc_table: zorder column {c!r} not in table schema "
                f"({root.field_names})")
        if kinds[c] not in _Z_KINDS:
            raise ValueError(
                f"orc_table: zorder column {c!r} has kind "
                f"{kinds[c]!r}; orderable kinds are {_Z_KINDS} "
                f"(strings: bucket partition + blooms serve "
                f"equality; ranges over hashes are meaningless)")
    entries = manifest_entries(table, base)
    if not entries:
        return base
    spec = _parse_spec(base.get("spec", []))
    out_codec = codec or entries[0].get("codec") or "zlib"
    df = read_table(spark, table)
    nb = 1 << bits
    casted = df.select(*[F.col(c).cast("double").alias(f"q{i}")
                         for i, c in enumerate(by)])
    probs = [i / nb for i in range(1, nb)]
    quants = casted.approxQuantile(
        [f"q{i}" for i in range(len(by))], probs, 1.0 / (4 * nb))
    k = len(by)
    zbits = F.lit(0)
    for i, (c, qs) in enumerate(zip(by, quants)):
        bounds = sorted(set(q for q in qs if q is not None))
        if bounds:
            arr = F.array(*[F.lit(float(x)) for x in bounds])
            cnt = F.aggregate(
                arr, F.lit(0),
                lambda acc, x: acc + F.when(
                    F.col(c).cast("double") >= x, 1).otherwise(0))
            # rescale distinct-boundary count back to the bit range
            bucket = F.least(
                F.lit(nb - 1),
                F.floor(cnt * nb / (len(bounds) + 1)).cast("int"))
        else:
            bucket = F.lit(0)  # all-null column: one level
        bucket = F.when(F.col(c).isNull(), F.lit(0)).otherwise(bucket)
        for bit in range(bits):
            zbits = zbits + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                bit * k + i)
    # per-job unique temp column name (r6 fix, ADVICE r5 #3): a user
    # column literally named "__z" would be silently REPLACED by
    # withColumn and then dropped — rewritten files would lack it and
    # reads would null-fill it (silent data loss)
    zcol = f"__z_{uuid.uuid4().hex[:8]}"
    df = df.withColumn(zcol, zbits.cast("long"))
    if spec:
        exprs = [F.col(sp["col"]) if sp["transform"] == "identity"
                 else (F.conv(F.substring(
                     F.md5(F.col(sp["col"]).cast("string")), 1, 15),
                     16, 10).cast("long") % sp["n"])
                 for sp in spec]
        df = df.repartition(*exprs).sortWithinPartitions(zcol)
    else:
        total = sum(e["bytes"] for e in entries)
        n = max(1, -(-total // target_bytes))
        df = df.repartitionByRange(n, F.col(zcol)) \
            .sortWithinPartitions(zcol)
    df = df.drop(zcol)
    new_entries, write_schema = _write_data_files(
        df, table, spec, codec=out_codec, prefix="zorder",
        cluster=False)
    manifest = _write_manifest(table, new_entries) if new_entries \
        else None
    return _commit_retrying(
        table, base, "replace", manifest, new_entries,
        base["schema"], extra={"zordered_by": list(by)})


# ------------------------------------------------------------------
# row-level deletes, rollback, retention
# ------------------------------------------------------------------


def _bloom_columns_of(f) -> list[str]:
    """Top-level columns carrying BLOOM_FILTER_UTF8 streams in the
    first stripe (writer emits blooms uniformly, so one stripe's
    directory is representative) — a copy-on-write rewrite keeps
    them."""
    root = f.types[0]
    if not f.stripes or root.kind != "struct":
        return []
    names = dict(zip(root.children, root.field_names))
    out = []
    for kind, cid, _, _ in f._stripe_footer(0)[3]:
        fn = names.get(cid)
        if kind == "BLOOM_FILTER_UTF8" and fn is not None \
                and fn not in out:
            out.append(fn)
    return out


def _classify_delete_file(path: str, preds: list[tuple]) -> str:
    """Stats-only classification of one data file against DELETE
    predicates — opens ONLY the footer (mmap tail), decodes nothing:

    * ``keep`` — no stripe can contain a matching row;
    * ``drop`` — every row of every stripe matches (the file leaves
      the manifest without decoding a byte: metadata-only delete);
    * ``rewrite`` — at least one boundary stripe needs a row mask.
    """
    from .orcfile import ORCFile
    from .orcstats import _file_pred_state, _stripe_stats_class
    f = ORCFile(path)
    state = _file_pred_state(f, preds)
    if state is None:
        return "keep"
    norm, paths, _ = state
    classes = {_stripe_stats_class(f, si, norm, paths)[0]
               for si in range(len(f.stripes))}
    if classes <= {"none"}:
        return "keep"
    if classes <= {"all"}:
        return "drop"
    return "rewrite"


def _apply_set(batch, mask, set_spec):
    """Apply UPDATE assignments to the masked rows of one decoded
    stripe batch.  ``mask`` is a pyarrow boolean array (True = row
    updates) or None (every row updates).  Literals construct
    through ``pa.scalar`` against the column's exact Arrow type
    (fail-loud on family mismatch — never silently truncate);
    callables receive the FULL batch and must return an aligned
    array, which is cast (checked) to the column type."""
    import pyarrow as pa
    import pyarrow.compute as pc
    for col, val in set_spec.items():
        i = batch.schema.get_field_index(col)
        orig = batch.column(i)
        if callable(val):
            repl = val(batch)
            if isinstance(repl, pa.ChunkedArray):
                repl = repl.combine_chunks()
            if len(repl) != batch.num_rows:
                raise ValueError(
                    f"orc_table: update callable for {col!r} "
                    f"returned {len(repl)} rows, batch has "
                    f"{batch.num_rows}")
            if repl.type != orig.type:
                repl = repl.cast(orig.type)  # checked: fail loud
        else:
            repl = pa.scalar(val, type=orig.type)
        if mask is None:
            out = repl if callable(val) \
                else pa.repeat(repl, batch.num_rows)
        else:
            out = pc.if_else(mask, repl, orig)
        batch = batch.set_column(i, batch.schema.field(i), out)
    return batch


# ------------------------------------------------------------------
# copy-on-write DML: per-stripe plans, one kernel, one driver flow
# ------------------------------------------------------------------
#
# An operation supplies ``plan(f) -> (actions, counts)`` for an open
# ORCFile ``f``: one action per stripe — ("copy", None) keeps its
# rows, ("drop", None) removes them, ("filter", keep_mask) keeps the
# masked rows, ("set", mask) applies the UPDATE assignments to the
# masked rows (None = every row).  ``counts["n_matched"]`` is the
# number of rows the operation hit.


def _ns_type(t):
    """``t`` with every timestamp typed timestamp[ns]: the writer's
    type for the scan's ``ts_nanos`` wall-clock nanos, which keeps
    the full fraction and the column's ORC kind."""
    import pyarrow as pa
    if pa.types.is_timestamp(t):
        return pa.timestamp("ns")
    if pa.types.is_list(t):
        return pa.list_(_ns_type(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_ns_type(t.key_type), _ns_type(t.item_type))
    if pa.types.is_struct(t):
        return pa.struct([(fl.name, _ns_type(fl.type)) for fl in t])
    return t


def _pred_plan(preds: list[tuple], update: bool):
    """DELETE (``update`` False) or UPDATE plan from each stripe's
    disposition against ``preds`` (empty: every row matches).  Stats
    decide no-match stripes (copy) and all-match stripes (drop / set
    whole-column) without a decode; boundary stripes decode only the
    predicate columns for their mask.  SQL semantics: a NULL
    predicate neither deletes nor updates its row."""
    def plan(f):
        import pyarrow.compute as pc

        from .orcstats import _file_pred_state, _stripe_disposition
        state = _file_pred_state(f, preds) if preds else None
        acts, n_matched = [], 0
        for si, info in enumerate(f.stripes):
            if not preds:
                kind, v = "all", None
            elif state is None:
                # exact int rewrite proved no row can match
                kind, v = "none", None
            else:
                kind, v = _stripe_disposition(f, si, *state)
            if kind == "none":
                acts.append(("copy", None))
                continue
            if kind == "all":
                mask = None
                n_matched += info.get(5, [0])[0]
            else:
                mask = pc.fill_null(v, False)
                n_matched += pc.sum(mask).as_py() or 0
            if update:
                acts.append(("set", mask))
            else:
                acts.append(("drop", None) if mask is None
                            else ("filter", pc.invert(mask)))
        return acts, {"n_matched": n_matched}
    return plan


def _merge_plan(key: str, keys):
    """MERGE plan: a key-column-only pre-pass (sibling streams never
    decompress) matches each stripe's keys against the broadcast
    keyset ``keys``.  A stripe with no match copies, an all-match
    stripe drops, the rest filter.  NULL target keys never match; a
    file that predates the key column matches nothing."""
    def plan(f):
        import pyarrow as pa
        import pyarrow.compute as pc

        from .orcscan import _column_arrow, orc_arrow
        root = orctypes.type_from_types(f.types)
        if root.kind != "struct" or key not in root.field_names:
            return [("copy", None)] * len(f.stripes), {"n_matched": 0}
        ki = root.field_names.index(key)
        node, cid = root.children[ki], f.types[0].children[ki]
        ft = _ns_type(orc_arrow(node))
        value_set = pa.array(keys.value).cast(ft)
        acts, n_matched = [], 0
        for si in range(len(f.stripes)):
            n_rows = f._load_stripe_directory(si)
            col = _column_arrow(f, [cid], n_rows,
                                orc_arrow(node, True)).cast(ft)
            m = pc.fill_null(pc.is_in(col, value_set=value_set), False)
            n = pc.sum(m).as_py() or 0
            n_matched += n
            acts.append(("copy", None) if n == 0 else
                        ("drop", None) if n == n_rows else
                        ("filter", pc.invert(m)))
        return acts, {"n_matched": n_matched}
    return plan


def _cow_rewrite(path: str, plan, name: str, data_dir: str,
                 set_spec: dict | None = None,
                 declared: dict | None = None) -> dict:
    """The one copy-on-write kernel: rewrite the data file at
    ``path`` into ``data_dir/name`` by ``plan`` (see above).

    A "copy" stripe moves byte for byte
    (``ORCFileWriter.append_stripe``) when the writer's output type
    tree, codec and row-index stride equal the source's; otherwise —
    an UPDATE that null-fills an ADDed column, a union column (it
    decodes as a struct), a source without a row index — it decodes
    and re-encodes unchanged.  Re-encoded stripes share the writer's
    stripe buffer.  Codec, stride, char/varchar footer types (SET
    columns the file predates take their declared type) and bloom
    columns carry over.  Returns the new entry's fields, or action
    ``keep`` (every stripe copies: nothing to rewrite) / ``drop`` (no
    row survives), each with the plan's counts."""
    import pyarrow as pa

    from .orcfile import ORCFile
    from .orcscan import _ScanContext, orc_arrow
    from .orcwriter import (DEFAULT_ROW_INDEX_STRIDE, ORCFileWriter,
                            output_tree)
    f = ORCFile(path)
    acts, counts = plan(f)
    kinds = {k for k, _ in acts}
    if kinds <= {"copy"}:
        return {"action": "keep", **counts}
    if kinds <= {"drop"}:
        return {"action": "drop", **counts}
    root = orctypes.type_from_types(f.types)
    if root.kind != "struct":
        raise ValueError(
            f"orc_table: copy-on-write rewrite requires struct-root "
            f"files, got {root.orc_string()!r} in {path}")
    fill = {}
    for c in set_spec or {}:
        if c not in root.field_names:
            if c not in (declared or {}):
                raise ValueError(
                    f"orc_table: update column {c!r} missing from "
                    f"data file {path} and no declared type given")
            fill[c] = orctypes.parse_orc_type(declared[c])
    out = orctypes.OrcType("struct", root.children + list(fill.values()),
                           root.field_names + list(fill))
    schema = pa.schema([(fn, _ns_type(orc_arrow(c)))
                        for fn, c in zip(out.field_names, out.children)])
    overrides = out.orc_overrides()
    stride = f.row_index_stride or DEFAULT_ROW_INDEX_STRIDE
    copyable = (output_tree(schema, overrides).orc_string() ==
                root.orc_string() and stride == f.row_index_stride
                and len(f.raw_stripe_statistics) == len(f.stripes))
    ctx = _ScanContext(root, [], ts_nanos=True)
    new_path = os.path.join(data_dir, name)
    with ORCFileWriter(new_path, codec=f.compression,
                       row_index_stride=stride, orc_types=overrides,
                       bloom_columns=_bloom_columns_of(f)) as w:
        for si, (kind, mask) in enumerate(acts):
            if kind == "drop":
                continue
            if kind == "copy" and copyable:
                w.append_stripe(f, si)
                continue
            batch = ctx.decode_stripe(f, si)
            for c in fill:
                batch = batch.append_column(
                    c, pa.nulls(batch.num_rows, schema.field(c).type))
            batch = batch.cast(schema)
            if kind == "filter":
                batch = batch.filter(mask)
            elif kind == "set":
                batch = _apply_set(batch, mask, set_spec)
            if batch.num_rows:
                w.write_batch(batch)
    if w.tree is None:
        return {"action": "drop", **counts}
    nf = ORCFile(new_path)
    return {"action": "rewrite", "name": name, "n_rows": nf.n_rows,
            "bytes": os.path.getsize(new_path),
            "type": orctypes.type_from_types(nf.types).orc_string(),
            "codec": f.compression, "stats": _entry_stats(nf),
            **counts}


def _classify(spark, paths: list[str], preds: list[tuple]) -> list[str]:
    """``_classify_delete_file`` of every candidate path, as
    footer-only ``run_tasks`` tasks."""
    from .orcscan import run_tasks
    return run_tasks(spark, paths,
                     lambda p: _classify_delete_file(p, preds),
                     footer_only=True)


def _cow_dml(spark, table: str, base: dict, operation: str,
             untouched: list[dict], cands: list[dict], plan, summary,
             preds: list[tuple] = (),
             drop_matched: bool = False, set_spec: dict | None = None,
             declared: dict | None = None, added: list[dict] = (),
             schema: str | None = None) -> dict:
    """The one driver flow of DELETE, UPDATE and broadcast MERGE:

    1. with ``preds``, candidate files classify from statistics alone
       (``_classify``): no-match files stay, and all-match files
       leave the manifest without a task when ``drop_matched``;
    2. every other candidate rewrites in one task of ONE job
       (``_cow_rewrite`` under ``plan``);
    3. rewritten entries keep their source file's partition tuple;
    4. ``summary(n_matched, dropped, rewritten, entries)`` gives the
       snapshot's summary counts, or None for a no-op (the base
       snapshot returns); ``added`` entries join and the new file
       set commits as ``operation`` (replace semantics: a concurrent
       commit raises CommitConflict)."""
    from .orcscan import run_tasks
    paths = [os.path.join(table, e["path"]) for e in cands]
    classes = _classify(spark, paths, preds) if preds \
        else ["rewrite"] * len(cands)
    new_entries = list(untouched)
    todo: list[tuple[dict, str]] = []
    dropped = 0
    for e, p, cls in zip(cands, paths, classes):
        if cls == "keep":
            new_entries.append(e)
        elif cls == "drop" and drop_matched:
            dropped += 1
        else:
            todo.append((e, p))
    prefix = {"merge": "merge-cow"}.get(operation, operation)
    job = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table, _DATA)

    def rewrite(task):
        i, p = task
        return _cow_rewrite(p, plan, f"{prefix}-{job}-{i:05d}.orc",
                            data_dir, set_spec, declared)

    results = run_tasks(spark, [(i, p) for i, (_, p) in enumerate(todo)],
                        rewrite)
    rewritten = 0
    for (src, _), res in zip(todo, results):
        if res["action"] == "keep":
            new_entries.append(src)
        elif res["action"] == "drop":
            dropped += 1
        else:
            rewritten += 1
            ne = {"path": f"{_DATA}/{res['name']}",
                  **{k: res[k] for k in ("n_rows", "bytes", "type",
                                         "codec", "stats")}}
            if src.get("partition") is not None:
                ne["partition"] = src["partition"]
            new_entries.append(ne)
    extra = summary(sum(r["n_matched"] for r in results), dropped,
                    rewritten, new_entries)
    if extra is None:
        return base
    new_entries.extend(added)
    manifest = _write_manifest(table, new_entries) if new_entries \
        else None
    return _commit_retrying(table, base, operation, manifest,
                            new_entries, schema or base["schema"],
                            extra=extra)


def delete_from(spark, table: str, predicate) -> dict:
    """Row-level DELETE as a new ``delete`` snapshot — copy-on-write
    with metadata fast paths, the Iceberg capability a 100 TB
    training lake needs for takedowns / dedup-driven removals:

    1. manifest stats drop files that cannot contain a matching row
       driver-side (no task, no footer open);
    2. surviving files CLASSIFY from footer/stripe statistics alone
       (footer-page reads, zero decode; distributed above 64
       candidates): no-match files stay, all-match files leave the
       manifest without decoding — a partition-aligned delete is
       metadata-only and never launches a rewrite;
    3. only true boundary files rewrite, one executor task each —
       stripes the predicate cannot touch copy byte for byte, and
       only boundary stripes decode for the mask and re-encode their
       survivors exactly (SQL semantics: NULL-predicate rows
       survive).

    Commits with replace semantics (a concurrent commit raises
    CommitConflict — rebasing a file-set rewrite is not safe).  Old
    snapshots still read every pre-delete row; run
    ``expire_snapshots`` to reclaim the space.  Returns the new
    snapshot."""
    preds = predicates.normalize(predicate)
    if not preds:
        raise ValueError(
            "orc_table: delete_from requires a predicate — to drop "
            "every row, write_table(empty_df, mode='overwrite')")
    base = load_snapshot(table)
    entries = manifest_entries(table, base)
    _require_migrated(base, entries, "delete_from")
    _check_pred_cols(base, preds, "delete_from")
    spec = _parse_spec(base.get("spec", []))
    untouched = [e for e in entries
                 if not _entry_survives(e, preds, spec)]
    cands = [e for e in entries if _entry_survives(e, preds, spec)]

    def summary(n_matched, dropped, rewritten, new_entries):
        if not (dropped or rewritten):
            return None  # statistics proved nothing matched anywhere
        return {"deleted_rows": base["summary"]["n_rows"] -
                sum(e["n_rows"] for e in new_entries),
                "dropped_files": dropped, "rewritten_files": rewritten}

    return _cow_dml(spark, table, base, "delete", untouched, cands,
                    _pred_plan(list(preds), update=False), summary,
                    preds=preds, drop_matched=True)


def update_table(spark, table: str, set: dict, predicate=None) -> dict:
    """Row-level UPDATE as a new ``update`` snapshot — the same
    copy-on-write discipline as ``delete_from`` (Iceberg COW
    UPDATE): manifest stats drop files that cannot contain a
    matching row driver-side, footer/stripe statistics classify the
    survivors without decoding, and only files that may contain a
    matching row rewrite (one executor task each; their unmatched
    stripes copy byte for byte).  Unlike DELETE there is no
    metadata-only fast path for all-match files — values change, so
    an all-match file still rewrites, but whole-column (no row mask
    is ever materialized for it).

    ``set`` maps top-level column name → new value: a Python literal
    (constructed against the column's exact Arrow type — a bad
    family fails loudly, never truncates) or a callable
    ``pa.RecordBatch -> pa.Array`` for computed updates (vectorized;
    runs on executors).  SQL semantics: rows where ``predicate`` is
    NULL do not update; ``predicate=None`` updates every row.
    Partition-transform source columns cannot be updated (the
    rewritten file keeps its manifest partition tuple, which would
    lie).  Commits with replace semantics; old snapshots still read
    pre-update values (time travel)."""
    if not set or not isinstance(set, dict):
        raise ValueError("orc_table: update_table requires a "
                         "non-empty set={col: value} dict")
    preds = predicates.normalize(predicate)
    base = load_snapshot(table)
    root = orctypes.parse_orc_type(base["schema"])
    spec = _parse_spec(base.get("spec", []))
    part_cols = {sp["col"] for sp in spec}
    for col in set:
        if col not in root.field_names:
            raise ValueError(
                f"orc_table: update column {col!r} not in table "
                f"schema ({root.field_names})")
        if col in part_cols:
            raise ValueError(
                f"orc_table: {col!r} drives the partition spec — "
                f"updating it would falsify manifest partition "
                f"tuples; rewrite via read + overwrite instead")
    entries = manifest_entries(table, base)
    _require_migrated(base, entries, "update_table")
    _check_pred_cols(base, preds, "update_table")
    if preds:
        untouched = [e for e in entries
                     if not _entry_survives(e, preds, spec)]
        cands = [e for e in entries
                 if _entry_survives(e, preds, spec)]
    else:
        untouched, cands = [], list(entries)
    # declared ORC type per SET column, for null-filling files whose
    # footer type predates an ADD COLUMN (backfill UPDATE)
    decl = {c: root.children[root.field_names.index(c)].orc_string()
            for c in set}

    def summary(n_matched, dropped, rewritten, new_entries):
        if not rewritten:
            return None  # statistics proved nothing matched anywhere
        return {"updated_rows": n_matched, "rewritten_files": rewritten}

    return _cow_dml(spark, table, base, "update", untouched, cands,
                    _pred_plan(list(preds), update=True), summary,
                    preds=preds, set_spec=dict(set), declared=decl)


# above this many distinct source keys, MERGE switches from the
# broadcast-keyset copy-on-write path to a full shuffle rewrite
_MERGE_MAX_KEYS = 4_000_000


def _merge_candidates(entries: list[dict], key: str, keys: list,
                      spec: list[dict]):
    """Split manifest entries into (untouched, candidates) for a
    MERGE keyset — driver-side, metadata only.  Pruning layers:
    identity partition tuples (key value must be a source key),
    bucket tuples (file's bucket must be some key's bucket), then
    manifest min/max range vs the SORTED keyset (bisect).  Mixed
    comparison families never prune (conservative)."""
    import bisect
    keyset = set(keys)
    skeys = sorted(keys)
    num_keys = isinstance(skeys[0], (int, float)) and \
        not isinstance(skeys[0], bool)
    bucket_sets = {}
    for sp in spec:
        if sp["col"] == key and sp["transform"] == "bucket":
            bucket_sets[sp["str"]] = (
                {_bucket_of(k, sp["n"]) for k in keys}
                if all(_bucket_prunable(k) for k in keys) else None)
        elif sp["col"] == key and sp["transform"] == "identity":
            bucket_sets[sp["str"]] = keyset
    untouched, cands = [], []
    for e in entries:
        part = e.get("partition") or {}
        pruned = False
        for pstr, allowed in bucket_sets.items():
            if allowed is not None and pstr in part and \
                    part[pstr] not in allowed:
                pruned = True
                break
        if not pruned:
            st = (e.get("stats") or {}).get(key)
            if st and st.get("n", 1) == 0:
                pruned = True  # all-null key column: nothing matches
            elif st and "min" in st:
                mn, mx = st["min"], st["max"]
                num_st = isinstance(mn, (int, float)) and \
                    not isinstance(mn, bool)
                if num_st == num_keys:
                    i = bisect.bisect_left(skeys, mn)
                    pruned = not (i < len(skeys) and skeys[i] <= mx)
        (untouched if pruned else cands).append(e)
    return untouched, cands


def merge_table(spark, table: str, source_df, on: str,
                when_matched: str = "replace", codec: str = "zlib",
                stripe_rows: int = 1 << 20,
                bloom_columns: list[str] | None = None) -> dict:
    """MERGE (upsert) as ONE atomic ``merge`` snapshot — Iceberg's
    ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET
    * WHEN NOT MATCHED THEN INSERT *`` in its copy-on-write form:
    target rows whose ``on`` key appears in the source are superseded
    by the source rows; unmatched source rows insert.
    ``when_matched="delete"`` instead treats the source as tombstones
    (matched target rows are removed, nothing inserts) — the
    key-list takedown a training lake runs after offline dedup.

    Two physical plans, chosen by distinct-key count:

    * **≤ 4M keys (broadcast COW)** — the keyset collects to the
      driver once, manifest partition tuples + min/max stats prune
      unmatched files without opening them, and each surviving file
      rewrites in one executor task with a key-column-only pre-pass
      (a stats-overlap false positive costs ONE projected column
      decode, not a rewrite).  Untouched files never open: at 100 TB
      an upsert of one day's refresh touches only the files its keys
      live in.
    * **> 4M keys (shuffle rewrite)** — the table anti-joins the
      source keys (Spark SortMergeJoin / AQE) and rewrites fully;
      at that key volume most files contain a match anyway, so the
      file-targeted plan would rewrite nearly everything file by
      file with a giant broadcast set.

    Source rows with a NULL key never match (SQL join semantics):
    they insert under ``replace`` and are ignored under ``delete``.
    The committed schema widens to fit evolved source frames, exactly
    like append.  Concurrent commits raise CommitConflict (rebasing a
    file-set rewrite is not safe)."""
    from pyspark.sql import functions as F

    if when_matched not in ("replace", "delete"):
        raise ValueError(
            f"orc_table: when_matched must be replace|delete, got "
            f"{when_matched!r}")
    if not isinstance(on, str):
        raise ValueError("orc_table: merge_table key must be ONE "
                         "top-level column name")
    base = load_snapshot(table)
    root = orctypes.parse_orc_type(base["schema"])
    if on not in root.field_names:
        raise ValueError(
            f"orc_table: merge key {on!r} not in table schema "
            f"({root.field_names})")
    if on not in source_df.columns:
        raise ValueError(
            f"orc_table: merge key {on!r} not in source frame "
            f"({source_df.columns})")
    spec = _parse_spec(base.get("spec", []))
    # r6: pin the distinct key set once (eager localCheckpoint) — it
    # feeds an action (count), then either a collect (broadcast path)
    # or the anti-join (shuffle path); without the pin each consumer
    # re-ran the whole upstream source plan to re-derive the keys
    keys_df = source_df.select(on).where(F.col(on).isNotNull()) \
        .distinct().localCheckpoint()
    n_keys = keys_df.count()
    if n_keys > _MERGE_MAX_KEYS:
        # shuffle path: anti-join out every matched row, re-encode
        target = read_table(spark, table)
        survivors = target.join(keys_df, on=on, how="left_anti")
        new_df = survivors.unionByName(
            source_df, allowMissingColumns=True) \
            if when_matched == "replace" else survivors
        entries, write_schema = _write_data_files(
            new_df, table, spec, codec=codec,
            stripe_rows=stripe_rows, bloom_columns=bloom_columns,
            prefix="merge")
        # matched = rows the anti-join removed; derived from written
        # totals so the expensive join runs exactly once
        total = sum(e["n_rows"] for e in entries)
        src_rows = source_df.count() \
            if when_matched == "replace" else 0
        matched = base["summary"]["n_rows"] - (total - src_rows)
        manifest = _write_manifest(table, entries) if entries \
            else None
        return _commit_retrying(
            table, base, "merge", manifest, entries,
            orctypes.widen(root, orctypes.parse_orc_type(
                write_schema)).orc_string(),
            extra={"matched_rows": matched, "plan": "shuffle"})
    entries = manifest_entries(table, base)
    # broadcast COW rewrites files in place (physical names);
    # the shuffle plan above is rename-safe (reads via read_table)
    _require_migrated(base, entries, "merge_table (broadcast COW)")
    write_schema = base["schema"]
    inserted, added = 0, []
    if when_matched == "replace":
        added, ins_schema = _write_data_files(
            source_df, table, spec, codec=codec,
            stripe_rows=stripe_rows, bloom_columns=bloom_columns,
            prefix="merge")
        inserted = sum(e["n_rows"] for e in added)
        write_schema = orctypes.widen(
            root, orctypes.parse_orc_type(ins_schema)).orc_string()
    untouched, cands = entries, []
    bkeys = None
    if n_keys:
        keys = [r[0] for r in keys_df.collect()]
        untouched, cands = _merge_candidates(entries, on, keys, spec)
        bkeys = spark.sparkContext.broadcast(keys)

    def summary(n_matched, dropped, rewritten, new_entries):
        if not (n_matched or dropped or rewritten or inserted):
            return None  # delete-mode merge with no matching key: no-op
        return {"matched_rows": n_matched, "inserted_rows": inserted,
                "dropped_files": dropped, "rewritten_files": rewritten,
                "plan": "broadcast"}

    try:
        return _cow_dml(spark, table, base, "merge", untouched, cands,
                        _merge_plan(on, bkeys), summary, added=added,
                        schema=write_schema)
    finally:
        if bkeys is not None:
            bkeys.unpersist()


def rollback_table(table: str, to_version: int) -> dict:
    """Restore the table to the file set + schema of ``to_version``
    as a NEW snapshot (history is never rewritten — the bad commits
    stay inspectable in ``table_history``).  Metadata-only: manifests
    are immutable, so the rollback snapshot just references the old
    version's manifest list."""
    base = load_snapshot(table)
    old = load_snapshot(table, to_version)
    if old["version"] == base["version"]:
        return base
    entries = manifest_entries(table, old)
    old_cols, old_retired = _columns_meta(old)
    snap = {"version": base["version"] + 1,
            "parent": base["version"], "operation": "rollback",
            "schema": old["schema"],
            "spec": old.get("spec", []),
            "manifests": list(old["manifests"]),
            "columns": old_cols, "retired": old_retired,
            "last_column_id": max(
                int(base.get("last_column_id", 0)),
                int(old.get("last_column_id", 0)),
                max((c["id"] for c in old_cols), default=0)),
            "summary": {"n_files": len(entries),
                        "n_rows": sum(e["n_rows"] for e in entries),
                        "bytes": sum(e["bytes"] for e in entries),
                        "added_files": 0, "added_rows": 0,
                        "rolled_back_to": old["version"]}}
    if not _try_commit(table, snap):
        raise CommitConflict(
            f"orc_table: rollback prepared against "
            f"v{base['version']} but another commit landed first")
    return snap


# ------------------------------------------------------------------
# ALTER TABLE: add / drop / rename column (metadata-only commits)
# ------------------------------------------------------------------


_COLNAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _check_colname(name: str) -> None:
    if not isinstance(name, str) or not _COLNAME_RE.match(name):
        raise ValueError(
            f"orc_table: invalid column name {name!r} "
            f"(want [A-Za-z_][A-Za-z0-9_]*)")


def _alter_guard_spec(base: dict, name: str, what: str) -> None:
    for sp in _parse_spec(base.get("spec", [])):
        if sp["col"] == name:
            raise ValueError(
                f"orc_table: cannot {what} {name!r}: it is the "
                f"source of partition transform {sp['str']!r} — "
                f"manifest partition tuples and writer clustering "
                f"key on it")


def _alter_commit(table: str, base: dict, operation: str, root,
                  cols: list[dict], retired: list[str],
                  extra: dict) -> dict:
    """Metadata-only snapshot: same manifests/file set, new schema +
    column metadata.  O(1) — totals copy from the base summary, no
    manifest is read.  Conflicts loudly (like overwrite) — rebasing a
    schema change over a concurrent commit is not safe."""
    s = base["summary"]
    snap = {"version": base["version"] + 1,
            "parent": base["version"], "operation": operation,
            "schema": root.orc_string(),
            "spec": base.get("spec", []),
            "manifests": list(base["manifests"]),
            "columns": cols, "retired": retired,
            "last_column_id": max(
                int(base.get("last_column_id", 0)),
                max((c["id"] for c in cols), default=0)),
            "summary": {"n_files": s["n_files"],
                        "n_rows": s["n_rows"], "bytes": s["bytes"],
                        "added_files": 0, "added_rows": 0, **extra}}
    if not _try_commit(table, snap):
        raise CommitConflict(
            f"orc_table: {operation} prepared against "
            f"v{base['version']} but another commit landed first")
    return snap


def add_column(table: str, name: str, orc_type: str) -> dict:
    """ALTER TABLE ADD COLUMN — metadata-only: no data file changes;
    existing rows read NULL for the new column (exactly the widened
    append semantics).  ``orc_type`` is any canonical ORC type
    string (``bigint``, ``struct<...>``, ...).  Historical names of
    renamed/dropped columns are reserved and rejected."""
    _check_colname(name)
    base = load_snapshot(table)
    root = orctypes.parse_orc_type(base["schema"])
    child = orctypes.parse_orc_type(orc_type)
    cols, retired = _columns_meta(base)
    if name in root.field_names:
        raise ValueError(
            f"orc_table: column {name!r} already exists")
    if name in _names_ever(cols, retired):
        raise ValueError(
            f"orc_table: column name {name!r} belonged to a "
            f"renamed/dropped column; historical names stay "
            f"reserved so old data files resolve unambiguously")
    new_root = orctypes.OrcType(
        "struct", list(root.children) + [child],
        list(root.field_names) + [name])
    cols.append({"id": max(int(base.get("last_column_id", 0)),
                           max((c["id"] for c in cols), default=0))
                 + 1,
                 "name": name, "prev": []})
    return _alter_commit(
        table, base, "add-column", new_root, cols, retired,
        {"added_column": f"{name}:{child.orc_string()}"})


def drop_column(table: str, name: str) -> dict:
    """ALTER TABLE DROP COLUMN — metadata-only: data files keep the
    column's bytes (time travel to pre-drop versions still reads
    it), but the current schema no longer exposes it and scans never
    decode its streams.  The name (and its rename history) stays
    reserved; a rewrite (migrate/sorted/zorder/compact-recode) is
    how the bytes are eventually reclaimed."""
    base = load_snapshot(table)
    root = orctypes.parse_orc_type(base["schema"])
    if name not in root.field_names:
        raise ValueError(
            f"orc_table: column {name!r} not in table schema "
            f"({root.field_names})")
    if len(root.field_names) == 1:
        raise ValueError(
            "orc_table: cannot drop the last column")
    _alter_guard_spec(base, name, "drop column")
    cols, retired = _columns_meta(base)
    i = root.field_names.index(name)
    new_root = orctypes.OrcType(
        "struct",
        [c for j, c in enumerate(root.children) if j != i],
        [n for n in root.field_names if n != name])
    keep, dropped = [], None
    for c in cols:
        if c["name"] == name:
            dropped = c
        else:
            keep.append(c)
    retired = retired + [name] + list(dropped.get("prev", []))
    return _alter_commit(table, base, "drop-column", new_root,
                         keep, retired, {"dropped_column": name})


def rename_column(table: str, old: str, new: str) -> dict:
    """ALTER TABLE RENAME COLUMN — metadata-only: data files written
    before the rename keep the old physical name; reads resolve it
    through the column's name history (``_scan_entries``), so
    ``read_table`` and time travel stay exact with zero rewrite.
    Per-file rewrite operations (DELETE/UPDATE/MERGE, hybrid COUNT)
    require ``rewrite_migrate`` first when such legacy files exist.
    The old name stays reserved forever."""
    _check_colname(new)
    base = load_snapshot(table)
    root = orctypes.parse_orc_type(base["schema"])
    if old not in root.field_names:
        raise ValueError(
            f"orc_table: column {old!r} not in table schema "
            f"({root.field_names})")
    _alter_guard_spec(base, old, "rename column")
    cols, retired = _columns_meta(base)
    if new in _names_ever(cols, retired):
        raise ValueError(
            f"orc_table: column name {new!r} is or was already in "
            f"use; historical names stay reserved so old data "
            f"files resolve unambiguously")
    for c in cols:
        if c["name"] == old:
            c["prev"] = list(c.get("prev", [])) + [old]
            c["name"] = new
            break
    new_root = orctypes.OrcType(
        "struct", list(root.children),
        [new if n == old else n for n in root.field_names])
    return _alter_commit(table, base, "rename-column", new_root,
                         cols, retired,
                         {"renamed_column": f"{old} -> {new}"})


def rewrite_migrate(spark, table: str) -> dict:
    """Rewrite the data files still carrying since-renamed physical
    column names onto the current logical names — ZERO-RECODE: each
    legacy file's stripe bytes byte-copy verbatim and only the
    footer's top-level field names change (column ids are positional,
    so statistics, row indexes, blooms, nanosecond timestamps and
    char/varchar types are preserved bit-exactly; orcmerge does the
    tail rewrite).  One executor task per legacy file; files already
    on the current names pass through untouched.  Commits as a
    row-preserving ``replace`` — changelog readers skip it, time
    travel to the old layout still works.  After this, every
    per-file operation (DELETE/UPDATE/MERGE, hybrid COUNT) works
    again."""
    from .orcmerge import merge_orc_files
    from .orcscan import run_tasks
    base = load_snapshot(table)
    entries = manifest_entries(table, base)
    cols, _ = _columns_meta(base)
    legacy = _legacy_entries(entries, cols)
    if not legacy:
        return base
    cache: dict = {}

    def _ren_of(e: dict) -> dict:
        m = _phys_of(e.get("type", ""), cols, cache)
        return {p: l for l, p in m.items() if l != p}

    job = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table, _DATA)

    def migrate(task):
        idx, path, ren = task
        name = f"migrate-{job}-{idx:05d}.orc"
        return name, merge_orc_files([path], os.path.join(data_dir, name),
                                     rename=ren)

    got = run_tasks(spark, [(i, os.path.join(table, e["path"]), _ren_of(e))
                            for i, e in enumerate(legacy)], migrate)
    new_entries = []
    for e, (name, r) in zip(legacy, got):
        if r["n_rows"] != e["n_rows"]:
            raise RuntimeError(
                f"orc_table: migrate row drift on {e['path']}: "
                f"{r['n_rows']} != {e['n_rows']}")
        ren = _ren_of(e)
        et = orctypes.parse_orc_type(e["type"])
        new_type = orctypes.OrcType(
            "struct", list(et.children),
            [ren.get(n, n) for n in et.field_names]).orc_string()
        ne = {"path": f"{_DATA}/{name}",
              "n_rows": e["n_rows"], "bytes": r["bytes"],
              "type": new_type, "codec": e.get("codec", ""),
              "stats": {ren.get(k, k): v
                        for k, v in (e.get("stats") or {}).items()}}
        if e.get("partition") is not None:
            ne["partition"] = e["partition"]
        new_entries.append(ne)
    legacy_paths = {e["path"] for e in legacy}
    keep = [e for e in entries if e["path"] not in legacy_paths]
    all_entries = keep + new_entries
    manifest = _write_manifest(table, all_entries)
    return _commit_retrying(
        table, base, "replace", manifest, all_entries,
        base["schema"], extra={"migrated_files": len(legacy)})


def table_count(spark, table: str, predicate=None,
                snapshot=None) -> int:
    """Exact COUNT(*) over a snapshot.  Unpredicated: summed from
    manifest row counts — ZERO file I/O, any table size.  With a
    predicate: manifest stats prune files driver-side, then the
    hybrid stats+boundary-decode count (orcstats) runs per surviving
    file — distributed above the driver threshold."""
    snap = load_snapshot(table, _resolve_ref(table, snapshot))
    entries = manifest_entries(table, snap)
    if predicate is None:
        return sum(e["n_rows"] for e in entries)
    from .orcstats import count_files
    _require_migrated(snap, entries, "predicated table_count")
    preds = predicates.normalize(predicate)
    _check_pred_cols(snap, preds, "table_count")
    spec = _parse_spec(snap.get("spec", []))
    return count_files(spark, [os.path.join(table, e["path"])
                               for e in entries
                               if _entry_survives(e, preds, spec)], preds)


def expire_snapshots(table: str, keep_last: int = 2) -> dict:
    """Retention: delete snapshot files older than the newest
    ``keep_last`` versions, then garbage-collect manifests and data
    files no surviving snapshot references.  SAFE by construction:
    only files that were referenced by an EXPIRED snapshot and are
    NOT referenced by any kept one are removed — a data file no
    snapshot has ever referenced (e.g. an in-flight concurrent
    write's output) is never touched; ``remove_orphans`` handles
    those separately under an age guard.  Returns removal counts."""
    if keep_last < 1:
        raise ValueError("orc_table: keep_last must be >= 1")
    cur = current_version(table)
    versions = []
    for v in range(cur + 1):
        try:
            load_snapshot(table, v)
            versions.append(v)
        except ValueError:
            continue
    kept = set(versions[-keep_last:])
    # tagged versions are pinned: a tag is a promise that this exact
    # table state stays reproducible (Iceberg ref retention)
    kept |= {v for v in _load_refs(table).values() if v in versions}
    expired = [v for v in versions if v not in kept]
    if not expired:
        return {"removed_snapshots": 0, "removed_manifests": 0,
                "removed_files": 0, "removed_bytes": 0}

    def _refs(vs):
        manifests, files = set(), set()
        for v in vs:
            s = load_snapshot(table, v)
            manifests.update(s["manifests"])
            for e in manifest_entries(table, s):
                files.add(e["path"])
        return manifests, files

    keep_m, keep_f = _refs(kept)
    drop_m, drop_f = _refs(expired)
    removed_files = removed_bytes = 0
    for rel in sorted(drop_f - keep_f):
        p = os.path.join(table, rel)
        try:
            removed_bytes += os.path.getsize(p)
            os.remove(p)
            removed_files += 1
        except FileNotFoundError:
            pass  # already gone (double expire)
    removed_manifests = 0
    for name in sorted(drop_m - keep_m):
        try:
            os.remove(os.path.join(_meta_dir(table), name))
            removed_manifests += 1
        except FileNotFoundError:
            pass
    for v in expired:
        os.remove(_snap_path(table, v))
    return {"removed_snapshots": len(expired),
            "removed_manifests": removed_manifests,
            "removed_files": removed_files,
            "removed_bytes": removed_bytes}


def remove_orphans(table: str, grace_seconds: float = 86400) -> dict:
    """Delete ``data/`` files referenced by NO snapshot (failed-job
    leftovers) that are older than ``grace_seconds`` — the age guard
    keeps an in-flight writer's just-written files safe, the same
    contract as Iceberg's orphan-file removal."""
    import glob as _glob
    import time
    referenced = set()
    for v in range(current_version(table) + 1):
        try:
            s = load_snapshot(table, v)
        except ValueError:
            continue
        for e in manifest_entries(table, s):
            referenced.add(e["path"])
    cutoff = time.time() - grace_seconds
    removed = removed_bytes = 0
    for p in sorted(_glob.glob(
            os.path.join(table, _DATA, "*.orc"))):
        rel = os.path.relpath(p, table)
        if rel in referenced:
            continue
        try:
            if os.path.getmtime(p) > cutoff:
                continue  # too young: possibly in-flight
            removed_bytes += os.path.getsize(p)
            os.remove(p)
            removed += 1
        except FileNotFoundError:
            continue
    return {"removed_files": removed, "removed_bytes": removed_bytes}


def _last_stream_batch(table: str, query: str):
    """Highest micro-batch id this stream query has committed, from
    snapshot summaries (newest first — the hit is almost always the
    immediately previous version, so the walk is O(1) in steady
    state)."""
    rec = _last_stream_commit(table, query)
    return rec[0] if rec else None


def _last_stream_commit(table: str, query: str):
    """(batch_id, run) of this stream query's newest commit, or None.
    ``run`` is the stable run identity (checkpoint location) recorded
    since r6; None for commits written by older versions."""
    for v in range(current_version(table), -1, -1):
        try:
            s = load_snapshot(table, v)
        except ValueError:
            continue
        sb = s["summary"].get("stream")
        if sb and sb.get("query") == query:
            return sb["batch_id"], sb.get("run")
    return None


def _stream_replay_action(batch_id: int, run, rec) -> str:
    """Replay-guard decision shared by the foreachBatch sink and the
    DataSource streaming sink (r6 fix, ADVICE r5 #2): ``rec`` is
    ``_last_stream_commit``'s result.  Returns "append" | "skip".

    The r5 guard keyed on (query, batch_id) alone: restarting a
    stream into the same table with a FRESH checkpoint restarts batch
    ids at 0, so every new batch satisfied ``batchId <= last`` and
    was silently swept — silent data loss.  Scoping to a stable run
    identity (the checkpoint location) fixes it: a different run is a
    new stream and always appends; within the SAME run, ids at or
    below the high-water mark are crash-replays and skip.  When
    either side predates the run field, only an exact high-water-mark
    match skips (the only id a genuine crash-replay can re-deliver —
    the checkpoint lags the commit by at most one batch); an id
    BELOW it raises loudly instead of silently dropping the batch."""
    if rec is None:
        return "append"
    last, lrun = rec
    if run is not None and lrun is not None:
        if run != lrun:
            return "append"  # new checkpoint/run: a new stream
        return "skip" if batch_id <= last else "append"
    if batch_id == last:
        return "skip"  # crash between commit and checkpoint-advance
    if batch_id < last:
        raise ValueError(
            f"orc_table: stream batch id {batch_id} is below this "
            f"query's committed high-water mark {last} and no run "
            f"identity is recorded — refusing to guess between a "
            f"replay (skip) and a fresh-checkpoint restart (append "
            f"— skipping would silently drop data).  Restart the "
            f"stream with its original checkpoint, or use a new "
            f"query name for a re-run")
    return "append"


def _stream_sink_once(batch_df, batch_id: int, table: str,
                      query: str, codec: str = "zlib",
                      stripe_rows: int = 1 << 20,
                      bloom_columns: list[str] | None = None,
                      run: str | None = None) -> bool:
    """One idempotent micro-batch append: skips (returns False) when
    ``batch_id`` was already committed for this query AND run — the
    replay guard for a crash between commit and checkpoint-advance
    (``run`` scopes the guard to a checkpoint identity so a
    fresh-checkpoint restart is never mistaken for a replay; see
    _stream_replay_action)."""
    if _stream_replay_action(
            batch_id, run, _last_stream_commit(table, query)) == "skip":
        return False  # replay of an already-committed batch
    base = load_snapshot(table)
    spec = _parse_spec(base.get("spec", []))
    entries, write_schema = _write_data_files(
        batch_df, table, spec, codec=codec, stripe_rows=stripe_rows,
        bloom_columns=bloom_columns, prefix="stream")
    manifest = _write_manifest(table, entries) if entries else None
    stream_meta = {"query": query, "batch_id": int(batch_id)}
    if run is not None:
        stream_meta["run"] = run
    _commit_retrying(
        table, base, "append", manifest, entries, write_schema,
        extra={"stream": stream_meta})
    return True


def stream_write_table(df, table: str, checkpoint: str,
                       query: str = "default", codec: str = "zlib",
                       stripe_rows: int = 1 << 20,
                       bloom_columns: list[str] | None = None,
                       trigger_available_now: bool = True):
    """Structured Streaming sink into a snapshot table: each
    micro-batch appends as ONE atomic commit whose summary records
    ``{"stream": {"query": ..., "batch_id": ...}}`` — exactly-once
    end to end:

    * Spark's streaming checkpoint (``checkpoint``) makes each batch
      id fire at-least-once with a fixed input slice;
    * the commit itself carries the batch id, so a batch re-delivered
      after a crash between commit and checkpoint-advance finds its
      id already in the table history and SKIPS — no double append
      (the same audit-first discipline as encode_stream, recorded in
      the table's own atomic metadata instead of a side parquet).

    Downstream consumers poll ``read_table_changes`` for exactly the
    appended rows.  Returns the started StreamingQuery."""
    def sink(batch_df, batch_id: int) -> None:
        # the checkpoint location is the stable run identity: replay
        # skipping only ever applies within one checkpoint's lifetime
        _stream_sink_once(batch_df, batch_id, table, query,
                          codec=codec, stripe_rows=stripe_rows,
                          bloom_columns=bloom_columns,
                          run=os.path.abspath(checkpoint))

    writer = (df.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_table_changes(spark, table: str, from_version: int,
                       to_version: int | None = None,
                       columns: list[str] | None = None,
                       predicate=None,
                       timestamp_nanos: bool = False):
    """Incremental append scan (Iceberg's changelog read): the rows
    ADDED to the table after snapshot ``from_version``, up to and
    including ``to_version`` (latest by default) — the surface a
    downstream training-data consumer polls instead of re-reading
    100 TB.

    Metadata-only planning: each append commit contributes exactly
    its new manifests (a set difference of manifest NAME lists, no
    file I/O), so the plan costs O(appended files).  ``replace``
    snapshots (compaction) are row-preserving and skip silently;
    ``overwrite``/``delete``/``rollback`` in the range change or
    remove rows that an append-only changelog cannot represent, so
    they raise rather than return a wrong delta.  Appended files
    decode under the ``to`` snapshot's (widened) schema, exactly as
    ``read_table`` would."""
    to_snap = load_snapshot(table, to_version)
    if to_version is None:
        to_version = to_snap["version"]
    if from_version > to_version:
        raise ValueError(
            f"orc_table: from_version v{from_version} is after "
            f"to_version v{to_version}")
    load_snapshot(table, from_version)  # must exist (not expired)
    added: list[dict] = []
    prev_manifests: set | None = None
    for v in range(from_version, to_version + 1):
        snap = load_snapshot(table, v)
        cur = set(snap["manifests"])
        if prev_manifests is not None:
            op = snap["operation"]
            if op == "append":
                new_names = [m for m in snap["manifests"]
                             if m not in prev_manifests]
                for name in new_names:
                    probe = {"manifests": [name]}
                    added.extend(manifest_entries(table, probe))
            elif op == "replace" or op.endswith("-column"):
                # compaction / sort / z-order rewrites and ALTER
                # TABLE commits are row-preserving: nothing appended
                pass
            else:
                raise ValueError(
                    f"orc_table: cannot compute an append-only "
                    f"changelog across {op!r} snapshot v{v} — rows "
                    f"were changed or removed; read_table both "
                    f"versions and diff, or narrow the range")
        prev_manifests = cur
    # _scan_entries prunes with per-entry translated predicates and
    # resolves renamed columns through the to-snapshot's history
    return _scan_entries(spark, table, to_snap, added,
                         columns=columns, predicate=predicate,
                         timestamp_nanos=timestamp_nanos)
