"""Spark Python Data Source for ``.orc`` files (Spark 4 DataSource
API) — the idiomatic read surface over the same kernels as
``orc_scan``::

    from orc_spark.sources import datasource
    datasource.register(spark)   # enables pushdown conf + registers
    df = spark.read.format("orc_spark").load("/path/to/dir")
    df.where("n_tok >= 60").select("doc_id").show()

What the engine sees is a first-class V2 source:

* **schema inference** from the first file's footer (full ORC type
  grammar, decimal(p,s) exact, union as sparse struct).
* **filter pushdown** (``pushFilters``): supported comparisons prune
  at STRIPE granularity from footer statistics and at row-group
  granularity from ROW_INDEX stats/blooms — before any task runs.
  All filters are returned to Spark for residual evaluation (our
  pruning is conservative by design), so results are always exact.
* **partition planning**: one InputPartition per (file, stripe) with
  tiny stripes coalesced toward ~1M rows/task — identical policy to
  ``orc_scan``.
* **Arrow-batch reads**: ``read()`` yields pyarrow RecordBatches
  straight from the whole-array decode kernel (no Python rows).

Options: ``path`` (file or directory) OR ``table`` (a
snapshot-managed orctable directory, r5: the file set and schema
come from table metadata — no listing, no footer open; pushed
predicates prune whole files from manifest partition tuples and
min/max stats before stripe planning; ``snapshot`` time-travels by
version int or tag name; WRITES commit one atomic snapshot per save
— ``mode("append")`` widens the schema, ``mode("overwrite")``
replaces, partitioned tables split per tuple exactly — see
OrcTableWriter), ``columns`` (comma-separated
projection — Python DataSources have no column-pruning hook yet, so
this is the explicit projection control), ``timestamp_nanos``
("true" -> LONG wall-clock nanos), ``evolve`` ("true" -> name-based
schema evolution under the files' WIDENED UNION type — older files
null-fill added columns, narrow types cast up losslessly
(orctypes.widen); default fail-loud drift).

The source is also a STREAM (r5)::

    spark.readStream.format("orc_spark").load(dir)   # growing lake
    df.writeStream.format("orc_spark").option("path", dir)...

``OrcStreamReader`` treats the directory as an exactly-once
replayable file stream (offset = seen-file set; admission control
via ``max_files_per_trigger``; empty-directory starts via the
``schema`` option), and ``OrcStreamWriter`` commits each microbatch
under batch-scoped part names so recovery replays idempotently.
With ``option("table", dir)`` the stream writes into a snapshot
table instead — one atomic append commit per micro-batch, replayed
batch ids skipped (OrcTableStreamWriter).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

from .. import orctypes, predicates

_OP_OF = {EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
          LessThan: "<", LessThanOrEqual: "<="}


def _files_of(path: str) -> list[str]:
    from .orcscan import orc_files
    return orc_files(path, "orc_spark datasource")


def _project_root(full_root, columns: list[str] | None):
    """Apply a (possibly DOTTED, r5) column projection to a full
    root: each path resolves through struct fields and surfaces as
    one flattened output column named by the literal path (reference
    cursor Select, cursor.go:29-45)."""
    from .orcscan import _subtree
    if full_root.kind != "struct":
        full_root = orctypes.OrcType("struct", [full_root], ["value"])
    root = full_root
    if columns:
        missing = [c for c in columns
                   if "." not in c and c not in root.field_names]
        if missing:
            raise ValueError(
                f"orc_spark datasource: no such column(s) {missing}; "
                f"file has {root.field_names}")
        by_name = dict(zip(root.field_names, root.children))
        keep = [(c, by_name[c] if c in by_name
                 else _subtree(full_root, c))
                for c in dict.fromkeys(columns)]  # given order, deduped
        root = orctypes.OrcType(
            "struct", [c for _, c in keep], [fn for fn, _ in keep])
    return root


def _resolve_root(path: str, columns: list[str] | None,
                  evolve: bool = False):
    """(files, projected root OrcType, expect_type string) for the
    dataset, from the first file's footer — or, under ``evolve``, the
    WIDENED UNION of every file's type (orctypes.widen, r5): schema
    inference on an evolving lake reads every footer once, exactly
    like Spark's own mergeSchema.  Driver-side and mmap-footer-only,
    same cost class as the ``partitions()`` planning pass."""
    files = _files_of(path)
    full_root = orctypes.type_from_file(files[0])
    if evolve:
        for p in files[1:]:
            full_root = orctypes.widen(full_root,
                                       orctypes.type_from_file(p))
    expect = full_root.orc_string()
    return files, _project_root(full_root, columns), expect


class StripesPartition(InputPartition):
    """One scan task: a file path plus the stripe ids it decodes.
    Carries the projected root as its canonical type string so
    read() reconstructs the schema WITHOUT listing the dataset or
    opening any foreign footer (the reader object Spark pickles for
    read() is not guaranteed to be the instance partitions() mutated,
    so planning state must ride on the partition)."""

    def __init__(self, path: str, stripes: list[int], root_str: str):
        self.path = path
        self.stripes = stripes
        self.root_str = root_str


def _snapshot_opt(options, table: str):
    """The ``snapshot`` option: digits time-travel to a version,
    anything else resolves as a tag name."""
    from .orctable import _resolve_ref
    raw = options.get("snapshot")
    if raw is None:
        return None
    raw = str(raw)
    return int(raw) if raw.lstrip("-").isdigit() \
        else _resolve_ref(table, raw)


class OrcReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.table = options.get("table")
        if bool(self.path) == bool(self.table):
            raise ValueError(
                "orc_spark datasource: exactly one of .load(path) "
                "or .option('table', dir) is required")
        self.options = options
        cols = options.get("columns")
        self.columns = [c.strip() for c in cols.split(",")
                        if c.strip()] if cols else None
        self.ts_nanos = str(options.get("timestamp_nanos", "false")) \
            .lower() == "true"
        self.evolve = str(options.get("evolve", "false")) \
            .lower() == "true"
        self.pushed: list[tuple] = []
        # driver-side planning state: the directory listing + footer
        # open happen ONCE here; read() reconstructs the projected
        # root from _root_str and touches only its partition's file
        # (reference model: the Go reader opens exactly one file,
        # orc.go:35-41)
        self._resolved = None
        self._entries = None
        self._spec = None

    def _resolve(self):
        if self._resolved is None:
            if self.table:
                # snapshot-table mode: file set + schema from table
                # metadata — no listing, no footer open at all, and
                # every file decodes name-based under the snapshot's
                # declared (widened) schema
                from . import orctable
                snap = orctable.load_snapshot(
                    self.table, _snapshot_opt(self.options,
                                              self.table))
                self._entries = orctable.manifest_entries(
                    self.table, snap)
                # the one-scan DataSource plan addresses columns by
                # physical name; renamed-legacy files need the
                # mapping read path (orctable.read_table) or a
                # rewrite_migrate first
                orctable._require_migrated(
                    snap, self._entries, "DataSource table read")
                self._spec = orctable._parse_spec(
                    snap.get("spec", []))
                files = [os.path.join(self.table, e["path"])
                         for e in self._entries]
                full = orctypes.parse_orc_type(snap["schema"])
                self._resolved = (
                    files, _project_root(full, self.columns),
                    full.orc_string())
            else:
                self._resolved = _resolve_root(
                    self.path, self.columns, self.evolve)
        return self._resolved

    def pushFilters(self, filters):
        """Record prunable comparisons for stripe/stride skipping.
        EVERY filter is yielded back (Spark re-evaluates them) — our
        statistics pruning is conservative, never authoritative, so
        correctness does not depend on it.  Spark's filters reference
        the source's (projected) schema, so validation against the
        projected root is exact."""
        _, root, _ = self._resolve()
        for f in filters:
            op = _OP_OF.get(type(f))
            # a multi-part attribute is a nested struct-field
            # reference — join to the dotted form our planner prunes
            # by leaf statistics (r5); literal dotted column names
            # arrive single-part and match field_names directly
            name = ".".join(f.attribute) if f.attribute else ""
            ok = name in root.field_names
            if not ok and "." in name:
                try:
                    from .orcscan import _subtree
                    _subtree(root, name)
                    ok = True
                except ValueError:
                    ok = False
            if op is not None and ok and \
                    isinstance(f.value, (int, float, str)):
                self.pushed.append((name, op, f.value))
            elif ok and isinstance(f, In) and f.value and \
                    all(isinstance(v, (int, float, str))
                        for v in f.value):
                # finite disjunction prunes: stats any-value overlap
                # + per-stride bloom union (r5)
                self.pushed.append((name, "in", tuple(f.value)))
            elif ok and isinstance(f, StringStartsWith) and \
                    isinstance(f.value, str) and f.value:
                self.pushed.append((name, "prefix", f.value))
            yield f

    def partitions(self):
        from .orcscan import plan_tasks
        files, root, expect = self._resolve()
        # the projected root ships on every partition as its
        # canonical type string — a million-file lake costs zero
        # per-task LIST calls and zero foreign footer opens
        # (r5: metadata-clean reads)
        root_str = root.orc_string()
        lax = self.evolve or bool(self.table)
        if self.table:
            # Iceberg-layer pruning BEFORE any footer opens: pushed
            # predicates drop whole files from manifest partition
            # tuples + min/max stats, driver-side
            if self.pushed:
                from .orctable import _entry_survives
                files = [os.path.join(self.table, e["path"])
                         for e in self._entries
                         if _entry_survives(e, self.pushed,
                                            self._spec)]
            if not files:
                return [StripesPartition("", [], root_str)]
        # row counts ride along from the planning footer pass — no
        # second ORCFile open per file (r4 review fix)
        tasks, _ = plan_tasks(files, self.pushed or None,
                              None if lax else expect,
                              with_rows=True,
                              strict_cols=not lax)
        if not tasks:
            return [StripesPartition(files[0], [], root_str)]
        return _coalesce_parts(tasks, root_str)

    def read(self, partition: StripesPartition):
        yield from _scan_partition(partition, self.pushed or None,
                                   self.ts_nanos)


def _coalesce_parts(tasks, root_str: str) -> list[StripesPartition]:
    """Coalesce tiny stripes toward the same rows/task target as
    orc_scan, preserving per-file grouping."""
    from .orcscan import _TARGET_ROWS_PER_TASK
    parts: list[StripesPartition] = []
    cur_path, cur, cur_rows = None, [], 0
    for p, si, rows in tasks:
        if cur_path != p or (cur and
                             cur_rows + rows > _TARGET_ROWS_PER_TASK):
            if cur:
                parts.append(StripesPartition(cur_path, cur, root_str))
            cur_path, cur, cur_rows = p, [], 0
        cur.append(si)
        cur_rows += rows
    if cur:
        parts.append(StripesPartition(cur_path, cur, root_str))
    return parts


def _scan_partition(partition: StripesPartition, pushed,
                    ts_nanos: bool):
    """Executor-side stripe decode shared by the batch and stream
    readers.  Metadata-clean: no directory listing, no foreign
    footer — the projected root was resolved once at planning time
    and rides along on the partition as a type string (r5)."""
    from orc_spark._alloc import tune_worker
    from .orcfile import ORCFile
    from .orcscan import _BATCH_ROWS, _ScanContext
    tune_worker()
    if not partition.stripes:
        return
    # the projected root carries predicate columns (Spark's residual
    # filter runs post-scan on OUR output schema, which is exactly
    # the projected schema — predicates outside it were never pushed)
    root = orctypes.parse_orc_type(partition.root_str)
    ctx = _ScanContext(root, predicates.normalize(pushed), ts_nanos)
    f = ORCFile(partition.path)
    for si in partition.stripes:
        batch = ctx.decode_stripe(f, si)
        if batch is None:
            continue
        for off in range(0, batch.num_rows, _BATCH_ROWS):
            yield batch.slice(off, _BATCH_ROWS)


class OrcStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("orc_spark").load(dir)`` — treats a
    growing ``.orc`` directory as an exactly-once replayable stream
    (the streaming analog of Spark's FileStreamSource, over our
    stripe kernels).

    Offsets are ``{"files": [basename, ...]}`` — the sorted set of
    files visible when ``latestOffset`` listed the directory.  Files
    are immutable once visible (the paired writer renames temps in
    atomically, and dot-prefixed temps are invisible to the lister),
    so a microbatch is exactly the files in ``end - start``, planned
    into stripe partitions with the same coalescing policy as the
    batch reader and replayable byte-identically for checkpoint
    recovery.

    Options: ``columns``/``timestamp_nanos``/``evolve`` as the batch
    reader; ``schema`` (canonical ORC type string, e.g.
    ``struct<doc_id:string,tokens:array<int>>``) lets a stream start
    on an EMPTY directory; ``max_files_per_trigger`` bounds each
    microbatch (admission control — the remainder stays pending).

    Scale note: the offset carries one basename per seen file, the
    same contract as Spark's own file source (which journals the
    full seen-file log in the checkpoint); at 1M files the offset
    is ~30 MB of checkpoint JSON — production lakes should compact
    inputs (orcmerge) or partition the stream by directory."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "orc_spark datasource: .load(path) is required")
        cols = options.get("columns")
        self.columns = [c.strip() for c in cols.split(",")
                        if c.strip()] if cols else None
        self.ts_nanos = str(options.get("timestamp_nanos", "false")) \
            .lower() == "true"
        self.evolve = str(options.get("evolve", "false")) \
            .lower() == "true"
        self.schema_str = options.get("schema")
        mft = options.get("max_files_per_trigger")
        self.max_files = int(mft) if mft else None
        self._root_str = None
        self._expect = None

    def _roots(self):
        """(projected root string, expected full type string), from
        the ``schema`` option when given (empty-directory starts) or
        the first visible file's footer otherwise — resolved once per
        driver lifetime, never on executors."""
        if self._root_str is None:
            if self.schema_str:
                full = orctypes.parse_orc_type(self.schema_str)
                self._expect = full.orc_string()
                root = _project_root(full, self.columns)
                self._root_str = root.orc_string()
            else:
                # evolve: union of the files visible at stream START
                # (a streaming schema is fixed for the run — declare
                # the wide schema via the ``schema`` option if later
                # files will widen further)
                _, root, expect = _resolve_root(self.path,
                                                self.columns,
                                                self.evolve)
                self._root_str, self._expect = root.orc_string(), expect
        return self._root_str, self._expect

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        """Directory listing as the next target offset.  Offsets this
        driver returns are MONOTONE (each a superset of the last):
        ``max_files_per_trigger`` admits at most that many NEW files
        per call beyond the previously returned set, so a microbatch
        never silently skips, and a returned offset never shrinks
        (a shrinking end could alias an older checkpointed start and
        re-admit processed files after recovery).  On a restarted
        driver the first offset is the full listing — recovery planes
        it against the checkpointed start, so nothing reprocesses;
        only admission control restarts wide."""
        try:
            files = _files_of(self.path)
        except (FileNotFoundError, ValueError):
            files = []  # directory not created yet: empty stream
        names = set(os.path.basename(p) for p in files)
        last = getattr(self, "_last", None)
        if last is not None:
            if self.max_files is not None:
                fresh = sorted(names - last)[:self.max_files]
                names = last | set(fresh)
            else:
                names = last | names
        self._last = names
        return {"files": sorted(names)}

    def partitions(self, start: dict, end: dict):
        from .orcscan import plan_tasks
        new = sorted(set(end.get("files", [])) -
                     set(start.get("files", [])))
        if not new:
            # no-data microbatch: _scan_partition short-circuits on
            # empty stripes before touching the root string
            return [StripesPartition("", [], "")]
        root_str, expect = self._roots()
        paths = [os.path.join(self.path, n) for n in new]
        tasks, _ = plan_tasks(paths, None,
                              None if self.evolve else expect,
                              with_rows=True,
                              strict_cols=not self.evolve)
        parts = _coalesce_parts(tasks, root_str)
        return parts or [StripesPartition("", [], root_str)]

    def read(self, partition: StripesPartition):
        yield from _scan_partition(partition, None, self.ts_nanos)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; files are immutable

    def stop(self) -> None:
        pass


class _OrcCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class LocalFS:
    """Control-plane filesystem for the writer's two-phase commit —
    the ONLY surface commit/abort touch, so a remote implementation
    swaps in without changing the protocol.

    Contract a remote (HDFS/S3/GCS) implementation must honor:
    ``rename`` is the commit point and must be atomic per object and
    clobber-free in practice (our names embed job+task uuids, so a
    plain copy+delete suffices on stores without native rename);
    ``list`` must not return objects the store has not finished
    writing (S3 PUT is already all-or-nothing); ``remove`` must
    tolerate a missing object (idempotent aborts).  The DATA plane
    (ORCFileWriter streaming bytes in write()) is storage-specific
    and pairs with the fs choice — local files here."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def list(self, path: str, pattern: str) -> list[str]:
        import glob as _glob
        return sorted(_glob.glob(os.path.join(path, pattern)))

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def age_seconds(self, path: str) -> float:
        import time
        try:
            return time.time() - os.path.getmtime(path)
        except OSError:
            return 0.0  # vanished concurrently: treat as fresh


# a foreign job's temp older than this is presumed crashed and is
# garbage-collected by the next committer (in-flight concurrent
# writers are far faster than this horizon)
_STALE_TEMP_SECONDS = 24 * 3600.0


class OrcWriter(DataSourceArrowWriter):
    """``df.write.format("orc_spark").save(path)`` — each task
    streams its Arrow batches through one ORCFileWriter (one stripe
    in memory, real .orc file per task).  Tasks write to temp names
    carrying a JOB-unique prefix chosen at planning time and
    commit() renames the winners: a speculative or failed task
    attempt never leaves a half-file visible, and two concurrent
    append jobs never sweep each other's in-flight temps (each job
    touches only ``.tmp-<its own id>-*``)."""

    def __init__(self, options, overwrite: bool, fs=None):
        import uuid
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "orc_spark datasource: .save(path) is required")
        self.codec = options.get("codec", "zlib")
        self.stripe_rows = int(options.get("stripe_rows", 1 << 20))
        bc = options.get("bloom_columns")
        self.bloom_columns = [c.strip() for c in bc.split(",")
                              if c.strip()] if bc else None
        self.overwrite = overwrite
        # job id fixed up front (driver-side) and shipped to every
        # task: temp names are claimable by THIS job alone
        self.job = uuid.uuid4().hex[:8]
        self.fs = fs or LocalFS()

    def write(self, iterator):
        import uuid

        from orc_spark._alloc import tune_worker

        from .orcwriter import ORCFileWriter
        tune_worker()
        self.fs.makedirs(self.path)
        tmp = os.path.join(
            self.path, f".tmp-{self.job}-{uuid.uuid4().hex}.orc")
        writer = None
        rows = 0
        for batch in iterator:
            if writer is None:
                writer = ORCFileWriter(
                    tmp, codec=self.codec,
                    stripe_rows=self.stripe_rows,
                    bloom_columns=self.bloom_columns)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:
            return _OrcCommit("", 0)  # empty partition: no file
        writer.close()
        return _OrcCommit(tmp, rows)

    def commit(self, messages):
        fs = self.fs
        live = {m.path for m in messages if m is not None and m.path}
        if self.overwrite:
            for old in fs.list(self.path, "*.orc"):
                fs.remove(old)
        # sweep losers of OUR job only (speculative / retried task
        # attempts); a concurrent append's in-flight temps survive.
        # Foreign temps past the stale horizon are crashed jobs —
        # collect them so they don't accumulate forever.
        mine = f".tmp-{self.job}-"
        for tmp in fs.list(self.path, ".tmp-*.orc"):
            if tmp in live:
                continue
            if os.path.basename(tmp).startswith(mine) or \
                    fs.age_seconds(tmp) > _STALE_TEMP_SECONDS:
                fs.remove(tmp)
        # job-unique part names: append mode must never clobber
        # existing parts (plain part-NNNNN.orc collides across jobs)
        for i, m in enumerate(messages):
            if m is not None and m.path:
                fs.rename(m.path,
                          os.path.join(self.path,
                                       f"part-{i:05d}-{self.job}.orc"))

    def abort(self, messages):
        # failed tasks contribute None messages (PySpark contract),
        # but every temp of THIS job is findable by its prefix — an
        # aborted job leaves nothing behind, visible or not
        fs = self.fs
        for m in messages:
            if m is not None and m.path:
                fs.remove(m.path)
        for tmp in fs.list(self.path, f".tmp-{self.job}-*.orc"):
            fs.remove(tmp)


class OrcStreamWriter(OrcWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("orc_spark")`` — streaming encode into
    a ``.orc`` lake with per-microbatch exactly-once commits.  Tasks
    stream Arrow batches through ORCFileWriter to job-prefixed temp
    names (inherited write()); ``commit`` renames winners to
    batch-scoped final names and FIRST clears any prior output of the
    same batchId, so a recovered query replaying its last uncommitted
    microbatch (same id, new job uuid) lands byte-equivalent files
    instead of duplicates — append-only exactly-once end to end with
    a replayable source."""

    def commit(self, messages, batchId: int) -> None:
        fs = self.fs
        live = {m.path for m in messages if m is not None and m.path}
        tag = f"b{batchId:010d}"
        # idempotent replay: a crashed-and-recovered batch re-commits
        # under the same id — its earlier partial/complete output goes
        # first (same data, different job uuid)
        for old in fs.list(self.path, f"part-*-{tag}-*.orc"):
            fs.remove(old)
        mine = f".tmp-{self.job}-"
        for tmp in fs.list(self.path, ".tmp-*.orc"):
            if tmp in live:
                continue
            if os.path.basename(tmp).startswith(mine) or \
                    fs.age_seconds(tmp) > _STALE_TEMP_SECONDS:
                fs.remove(tmp)
        for i, m in enumerate(messages):
            if m is not None and m.path:
                fs.rename(m.path, os.path.join(
                    self.path, f"part-{i:05d}-{tag}-{self.job}.orc"))

    def abort(self, messages, batchId: int) -> None:
        OrcWriter.abort(self, messages)


class OrcTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("orc_spark").option("table", dir)`` —
    streaming encode into a snapshot table, one atomic APPEND commit
    per micro-batch, exactly-once via the same batch-id convention as
    orctable.stream_write_table: the commit summary records
    ``{"stream": {"query", "batch_id"}}``, so a batch replayed after
    a crash between commit and checkpoint-advance finds its id
    already in the table history, sweeps the files it just wrote and
    SKIPS — no double append.  ``query`` option names the sink for
    multi-stream tables (default "default").  Append output mode
    only: a streaming overwrite would drop other writers' commits."""

    def __init__(self, options, overwrite: bool, schema, fs=None):
        if overwrite:
            raise ValueError(
                "orc_spark datasource: table streaming sink is "
                "append-only (outputMode('append'))")
        self._w = OrcTableWriter(options, False, schema, fs=fs)
        self.query = options.get("query", "default")
        # stable run identity for the replay guard (r6, ADVICE r5 #2):
        # Spark forwards the stream's checkpointLocation in the writer
        # options; a fresh checkpoint is a NEW run whose batch ids
        # restart at 0 and must never be mistaken for replays.  Users
        # on exotic launch paths can pin option("run", ...) directly.
        self.run = options.get("run") or \
            options.get("checkpointlocation") or \
            options.get("checkpointLocation")

    def write(self, iterator):
        return self._w.write(iterator)

    def _sweep(self, messages) -> None:
        # remove exactly THIS batch's files (never a prefix sweep —
        # earlier batches share the job prefix and are committed);
        # files of failed tasks (None messages) are unreferenced
        # orphans that remove_orphans reclaims after the grace period
        w = self._w
        for m in messages or []:
            if m is not None:
                for e in m.entries:
                    w.fs.remove(os.path.join(w.table, e["path"]))

    def commit(self, messages, batchId: int) -> None:
        from . import orctable
        w = self._w
        action = orctable._stream_replay_action(
            batchId, self.run,
            orctable._last_stream_commit(w.table, self.query))
        if action == "skip":
            self._sweep(messages)  # replay of a committed batch
            return
        entries = [e for m in messages if m is not None
                   for e in m.entries]
        manifest = orctable._write_manifest(w.table, entries) \
            if entries else None
        stream_meta = {"query": self.query, "batch_id": int(batchId)}
        if self.run is not None:
            stream_meta["run"] = self.run
        orctable._commit_retrying(
            w.table, orctable.load_snapshot(w.table), "append",
            manifest, entries, w.write_schema,
            extra={"stream": stream_meta})

    def abort(self, messages, batchId: int) -> None:
        self._sweep(messages)


class _TableCommit(WriterCommitMessage):
    """Manifest entries written by one task (plain dicts — the
    driver folds all tasks' entries into ONE atomic snapshot)."""

    def __init__(self, entries: list):
        self.entries = entries


class OrcTableWriter(DataSourceArrowWriter):
    """``df.write.format("orc_spark").option("table", dir)`` — encode
    into a snapshot-managed table (orctable) as ONE atomic commit.

    Unlike the raw-directory writer there is no temp-rename phase:
    data files are invisible until a snapshot names them, so tasks
    write job-unique final names straight into ``data/`` and commit()
    publishes a single manifest + snapshot (``append`` widens the
    table schema via orctypes.widen and rebases over concurrent
    appends; ``overwrite`` replaces the file set and conflicts loudly
    if the table moved).  Each task routes its Arrow batches through
    the SAME TupleSplitWriter as write_table — a partitioned table
    gets exact per-tuple files with manifest partition pruning; a
    failed or aborted job leaves only unreferenced orphans that
    abort() sweeps by job prefix (and remove_orphans reclaims after
    crashes).  The table must exist (orctable.create_table declares
    schema + partition spec — partitioning is table DDL, not a write
    option)."""

    def __init__(self, options, overwrite: bool, schema, fs=None):
        import uuid

        from . import orctable
        self.table = options["table"]
        self.codec = options.get("codec", "zlib")
        self.stripe_rows = int(options.get("stripe_rows", 1 << 20))
        bc = options.get("bloom_columns")
        self.bloom_columns = [c.strip() for c in bc.split(",")
                              if c.strip()] if bc else None
        self.mode = "overwrite" if overwrite else "append"
        self.base = orctable.load_snapshot(self.table)
        self.spec = orctable._parse_spec(self.base.get("spec", []))
        self.write_schema = orctypes.parse_orc_type(
            orctypes.orc_string_from_spark(schema)).orc_string()
        fields = set(schema.fieldNames())
        for sp in self.spec:
            if sp["col"] not in fields:
                raise ValueError(
                    f"orc_spark datasource: partition column "
                    f"{sp['col']!r} missing from the frame "
                    f"({sorted(fields)})")
        self.job = uuid.uuid4().hex[:12]
        self.fs = fs or LocalFS()

    def _data_dir(self) -> str:
        from . import orctable
        return os.path.join(self.table, orctable._DATA)

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        from orc_spark._alloc import tune_worker

        from . import orctable
        tune_worker()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        data_dir = self._data_dir()
        self.fs.makedirs(data_dir)
        # a per-CALL uuid, not just (job, pid): the streaming variant
        # reuses one pickled writer across micro-batches whose task
        # partition ids restart at 0 — deterministic names would
        # clobber a previous batch's committed files
        tid = uuid.uuid4().hex[:8]
        sw = orctable.TupleSplitWriter(
            data_dir, self.spec,
            lambda i: f"part-{self.job}-{pid:05d}-{tid}-{i:04d}.orc",
            codec=self.codec, stripe_rows=self.stripe_rows,
            bloom_columns=self.bloom_columns)
        for batch in iterator:
            sw.write_batch(batch)
        return _TableCommit([
            orctable._manifest_entry(c, self.spec, self.write_schema,
                                     self.codec)
            for c in sw.close()])

    def commit(self, messages):
        from . import orctable
        entries = [e for m in messages if m is not None
                   for e in m.entries]
        manifest = orctable._write_manifest(self.table, entries) \
            if entries else None
        orctable._commit_retrying(self.table, self.base, self.mode,
                                  manifest, entries,
                                  self.write_schema)

    def abort(self, messages):
        # every file of THIS job is findable by its prefix; files a
        # crashed task never reported are orphans remove_orphans
        # reclaims after the grace period
        for p in self.fs.list(self._data_dir(),
                              f"part-{self.job}-*.orc"):
            self.fs.remove(p)


def register(spark) -> None:
    """One-call setup: enables Python-datasource filter pushdown
    (runtime-settable; Spark refuses a reader that implements
    pushFilters while the conf is off) and registers the source."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcDataSource)


class OrcDataSource(DataSource):
    """``spark.read.format("orc_spark")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "orc_spark"

    def schema(self):
        from .orcscan import _spark_of
        cols = self.options.get("columns")
        columns = [c.strip() for c in cols.split(",")
                   if c.strip()] if cols else None
        if self.options.get("schema"):
            # explicit ORC type string: lets a STREAM start on an
            # empty directory (and skips the footer open for batch)
            full = orctypes.parse_orc_type(self.options["schema"])
            root = _project_root(full, columns)
        elif self.options.get("table"):
            # snapshot-table mode: the schema is the snapshot's
            # declared type — zero file I/O
            from . import orctable
            table = self.options["table"]
            snap = orctable.load_snapshot(
                table, _snapshot_opt(self.options, table))
            if self.options.get("snapshot") is None:
                # pin the version resolved at ANALYSIS time into the
                # options the reader is built from (r6 fix, ADVICE r5
                # #4): schema() and OrcReader._resolve() otherwise
                # resolve "current" independently, and a concurrent
                # commit between them makes the reader decode under a
                # schema different from the one Spark negotiated
                self.options["snapshot"] = str(snap["version"])
            root = _project_root(
                orctypes.parse_orc_type(snap["schema"]), columns)
        else:
            evolve = str(self.options.get("evolve", "false")) \
                .lower() == "true"
            _, root, _ = _resolve_root(self.options.get("path"),
                                       columns, evolve)
        ts_nanos = str(self.options.get("timestamp_nanos",
                                        "false")).lower() == "true"
        return _spark_of(root, ts_nanos)

    def reader(self, schema) -> OrcReader:
        return OrcReader(self.options)

    def writer(self, schema, overwrite: bool):
        if self.options.get("table"):
            return OrcTableWriter(self.options, overwrite, schema)
        return OrcWriter(self.options, overwrite)

    def streamReader(self, schema) -> OrcStreamReader:
        return OrcStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool):
        if self.options.get("table"):
            return OrcTableStreamWriter(self.options, overwrite,
                                        schema)
        return OrcStreamWriter(self.options, overwrite)
