"""Parquet table storage: manifest commits and watermark metadata.

The reference mutates Postgres tables in place (``ON CONFLICT DO UPDATE``,
``UPDATE ... SET is_processed``). Parquet is immutable, so every mutation
becomes a commit: data files are only ever ADDED under immutable snapshot
directories (``<table>/data/s<id>/``), and what constitutes the table is a
versioned manifest (``<table>/_manifests/v%08d.json``, an explicit
live-file list) published by atomically replacing ONE small pointer file
(``_manifests/CURRENT``). A single-key replace is atomic on POSIX
(``os.replace``) and on object stores (single-object PUT), so readers
resolve CURRENT -> manifest -> files and observe either the whole old
image or the whole new one — never a partition mix, regardless of where
a writer crashed. This is the commit shape of Delta Lake and Iceberg
(snapshot isolation via a metadata pointer), scaled down to a JSON file.
Multi-partition operations (dynamic-overwrite-style upsert, compaction)
are atomic for free: the new manifest swaps in replaced partitions'
files and keeps untouched partitions' entries, in one publish.

Every write commits through one method, :meth:`Warehouse._commit`: kept
files plus new files, the kept files' stats and deletion vectors, plus
any vectors the write adds, published against the version the write's
input was read from. Copy-on-write is :meth:`Warehouse._rewrite`: write a
frame as a new snapshot and commit it in place of the files it replaces.
Append, copy-on-write DML, MERGE, compaction, clustering, layout
evolution and legacy adoption all go through it; a deletion-vector delete
commits its vectors through ``_commit`` with no data file written. Only
clone, restore and schema evolution, which reuse another version's
metadata, publish a manifest themselves.

Incremental state (the reference's ``is_processed`` flag) is a watermark
persisted in ``_meta/watermarks.json``: the fact load records the bronze
version it read through, and :meth:`Warehouse.appended_since` hands the
next load only the files appended after it (SURVEY.md §2.5 U7).

A table directory written before manifests existed (plain parquet files,
possibly ``<col>=<value>/`` partitioned) is upgraded once, on first
access: :meth:`Warehouse._adopt_if_legacy` rewrites it into one snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parquet_row_count(path: str) -> int | None:
    """Exact row count from parquet FOOTER metadata only — the
    plain-directory analogue of :meth:`Warehouse.stats_count` for
    inputs that live outside a manifest-managed warehouse (e.g. the
    driver's testdata tables). O(files) footer reads on the driver,
    zero Spark jobs, zero data pages: steady-state apply paths that
    need a corpus-size scalar for sizing decisions (quantizer cells,
    regime switches) must not pay a per-batch corpus scan for it
    (r10 verdict item 3). Returns None when the path holds no parquet
    footers to sum — callers fall back to a real ``count()``."""
    import pyarrow.parquet as pq

    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        if not files:
            return None
        if not os.path.isfile(path) and any(
            os.path.isdir(os.path.join(path, f)) for f in os.listdir(path)
        ):
            # Nested (partitioned) layout: the flat listing would sum a
            # subset of the leaves — a silent undercount is worse than
            # the documented "unknown, fall back to count()" answer.
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        # OSError for unreadable paths, pyarrow ArrowInvalid for corrupt
        # or non-parquet footers: either way the documented contract is
        # "None -> caller falls back to a Spark count()".
        return None


# Footer key under which Spark's parquet writer records the row schema
# (ParquetReadSupport.SPARK_METADATA_KEY): the bytes Spark's own schema
# inference deserializes when the key is present.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_spark_schema(path: str) -> T.StructType | None:
    """The Spark schema a Spark-written parquet file records in its
    footer, read in-process with pyarrow — what a parquet read with
    ``mergeSchema=false`` would infer from that file, without the Spark
    job inference runs. None when the footer is unreadable or carries no
    Spark schema (files Spark did not write): the caller then lets Spark
    infer."""
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return None if raw is None else T.StructType.fromJson(json.loads(raw))
    except (OSError, ValueError, KeyError, TypeError):
        # OSError / ArrowInvalid (a ValueError) for unreadable footers;
        # ValueError, KeyError or TypeError for a schema string Spark
        # wrote in its pre-JSON legacy format
        return None


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer raced for."""


class ConstraintViolation(ValueError):
    """A write was rejected because its data failed a declared
    constraint; ``failed`` holds (rule_name, n_violations) pairs."""

    def __init__(self, table: str, failed: list[tuple[str, int]]):
        self.table = table
        self.failed = failed
        super().__init__(
            f"write to {table!r} rejected: "
            + ", ".join(f"{n} ({c} violations)" for n, c in failed)
        )


def _lit_sql_type(value) -> str:
    """Spark SQL type for a Python filter value (for a typed NULL)."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        return "bigint"
    if isinstance(value, float):
        return "double"
    return "string"


def _parse_part(pv: str, like) -> object:
    """Parse a partition-path value to the filter value's type; on
    failure return the raw string (the comparison then TypeErrors and the
    file is conservatively kept)."""
    if isinstance(like, bool):
        return pv
    for t in (int, float):
        if isinstance(like, t):
            try:
                return t(pv)
            except ValueError:
                return pv
    return pv


class Warehouse:
    """A directory of named parquet tables + tiny JSON metadata."""

    def __init__(self, spark: SparkSession, root: str, *,
                 manifest: bool = True, retain_versions: int = 1,
                 bloom_cols: dict[str, list[str]] | None = None,
                 bloom_bits: int = 8192,
                 constraints: dict | None = None):
        # ``manifest`` has one accepted value; the keyword stays so that
        # callers written when it chose between two formats still work.
        if not manifest:
            raise ValueError(
                "Warehouse(manifest=False): the rename-swap table format "
                "was removed; every table commits through its manifest"
            )
        self.spark = spark
        self.root = root
        # Warehouse-level time-travel retention: vacuum() and the
        # internal maintenance rewrites (compact, cluster_by) keep this
        # many newest committed versions readable — so routine
        # maintenance can't silently erase history a caller pinned with
        # read(version=N).
        self.retain_versions = max(1, retain_versions)
        # Per-file Bloom filters for point-lookup skipping: min/max
        # bounds cannot prune `==` probes on high-cardinality UNSORTED
        # columns (every file's [min, max] spans the hash space); a
        # small per-file bloom can. {table: [col, ...]} opts columns in
        # at commit time; filters ride in the manifest next to the
        # bounds and carry/recompute through every operation the same
        # way. ~bloom_bits/8 bytes per (file, col).
        self.bloom_cols = bloom_cols or {}
        self.bloom_bits = bloom_bits
        # Writer-side CHECK constraints: {table: [validate.Rule, ...]}
        # enforced by check_constraints before any write lands.
        self.constraints = constraints or {}
        # Commit annotations staged by commit_metadata(); drained into
        # the next manifests this Warehouse publishes.
        self._commit_meta: dict | None = None
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return bool(self._adopt_if_legacy(table)["files"])

    # -- read --------------------------------------------------------------
    def read(
        self, table: str, schema: T.StructType | None = None, *,
        version: int | None = None,
    ) -> DataFrame:
        """Read the table's CURRENT image, or a committed historical
        ``version`` — time travel: every commit publishes an immutable
        manifest, so any still-vacuum-retained snapshot is readable by
        resolving its manifest instead of the pointer. The
        reproducible-training-data primitive: pin a dataset to the exact
        file set a run trained on, diff versions, audit what changed.

        A read runs no schema-inference job: each snapshot group's schema
        comes from its first file's parquet footer, read in-process.
        Files without Spark's footer schema fall back to inference."""
        m = self._snapshot(table, version)
        if not m["files"] and schema is not None:
            return self.spark.createDataFrame([], schema)
        return self._read_files_dv(table, m, m["files"])

    def _snapshot(self, table: str, version: int | None = None) -> dict:
        """The manifest a read resolves: CURRENT (after any legacy
        upgrade), or the committed ``version`` — which must be on the
        committed chain, never an orphan or a vacuumed version."""
        if version is None:
            return self._adopt_if_legacy(table)
        if version not in self._committed_chain(table):
            raise FileNotFoundError(
                f"table {table!r} version {version} is not on the "
                "committed chain (orphan from a crashed writer, "
                "never published, or expired by vacuum)"
            )
        return self._manifest(table, version)

    # -- write -------------------------------------------------------------
    def check_constraints(self, table: str, df: DataFrame) -> None:
        """Enforce the table's declared constraints (``Warehouse(
        constraints={table: [Rule, ...]})``) on a frame about to be
        written: every row-local/uniqueness rule folds into ONE
        aggregate pass over the batch (referential rules add one
        anti-join each — see operators/validate.py); any violation
        raises ``ConstraintViolation`` BEFORE any file is written, so a
        bad batch can never publish. Writer-side contract enforcement —
        the warehouse-side complement to pipeline-side validation."""
        rules = self.constraints.get(table)
        if not rules:
            return
        from _event_intelligence_data_warehouse_spark.operators.validate \
            import validate

        bad = [
            (r["rule_name"], int(r["n_violations"]))
            for r in validate(df, rules).collect()
            if not r["passed"]
        ]
        if bad:
            raise ConstraintViolation(table, bad)

    def append(
        self, table: str, df: DataFrame, *, version: int | None = None
    ) -> None:
        """Add ``df``'s rows as new files. ``version`` is the table
        version ``df`` was derived from (say, an anti-join against the
        table's keys): the append then publishes only on top of that
        version and raises ConcurrentWriteError if another writer
        committed after it. None appends to whatever is current."""
        self.check_constraints(table, df)
        m = self._base(table, version)
        self._rewrite(table, m, [], df, m.get("partition_col"), "append")

    def overwrite(
        self, table: str, df: DataFrame, partition_col: str | None = None
    ) -> None:
        """Full-image replace (optionally written partitioned so readers
        keep pruning): write a fresh snapshot and publish a manifest
        listing only it. The input may read the table itself, since the
        files it scans stay in place until vacuum. Derived from no
        version, so the publish is last-writer-wins."""
        self.check_constraints(table, df)
        files = self._write_snapshot(table, df, partition_col)
        # schema_ops=[] resets the evolution log: an overwrite is a
        # full-image replace that materializes its own schema, and
        # replaying carried ops against a fresh frame that legitimately
        # reuses a previously dropped/renamed-away column name would hide
        # or duplicate columns.
        self._commit(table, None, [], files, partition_col, "overwrite",
                     schema_ops=[])

    def overwrite_partitions(
        self, table: str, df: DataFrame, partition_col: str, *,
        partitions: list | None = None, version: int | None = None,
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions present
        in ``df``, leave every other partition's files untouched on disk.

        This is the parquet-native analog of a partition-pruned MERGE: at
        100 TB an incremental batch touches a handful of buckets, so the
        rewrite cost is proportional to the increment, not the table
        (contrast ``overwrite``, which rewrites the full image).

        ``partitions`` names the partition values whose live files the
        write replaces instead; ``df``'s rows in any other partition are
        added next to that partition's files. ``version`` is the table
        version ``df`` was derived from, checked as in :meth:`append`.

        The swap is atomic across partitions: the new partitions' files
        land in a fresh snapshot dir, and one manifest publish replaces
        the replaced partitions' entries while keeping every untouched
        partition's — readers resolve the pointer and never observe a mix.
        """
        self.check_constraints(table, df)
        m = self._base(table, version)
        bad = [
            f for f in m["files"]
            if self._partition_of(f, partition_col) is None
        ]
        if bad:
            raise ValueError(
                f"table {table!r} has files outside the "
                f"{partition_col}= layout (e.g. {bad[0]!r}); "
                "migrate with overwrite(df, partition_col) first"
            )
        new = self._write_snapshot(table, df, partition_col)
        touched = (
            {self._partition_of(f, partition_col) for f in new}
            if partitions is None else {str(p) for p in partitions}
        )
        kept = [
            f for f in m["files"]
            if self._partition_of(f, partition_col) not in touched
        ]
        self._commit(table, m, kept, new, partition_col,
                     "overwrite_partitions")

    def _base(self, table: str, version: int | None) -> dict:
        """The current manifest, which a write derived from ``version``
        must still be at (None: any)."""
        m = self._adopt_if_legacy(table)
        if version is not None and m["version"] != version:
            raise ConcurrentWriteError(
                f"table {table!r}: derived from version {version} but "
                f"{m['version']} is now current"
            )
        return m

    # -- manifest commit protocol ------------------------------------------
    # Layout: <table>/data/s<id>/... immutable snapshot dirs (only ever
    # added); <table>/_manifests/v%08d.json immutable live-file lists;
    # <table>/_manifests/CURRENT the single atomically-replaced pointer.
    def _mdir(self, table: str) -> str:
        return os.path.join(self.path(table), "_manifests")

    def _pointer(self, table: str) -> str:
        return os.path.join(self._mdir(table), "CURRENT")

    def _current_version(self, table: str) -> int:
        try:
            with open(self._pointer(table)) as f:
                return int(json.load(f)["version"])
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return 0

    def _manifest(self, table: str, version: int | None = None) -> dict:
        v = self._current_version(table) if version is None else version
        if v == 0:
            return {"version": 0, "files": [], "partition_col": None}
        try:
            with open(os.path.join(self._mdir(table), f"v{v:08d}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            if version is None:
                raise
            raise FileNotFoundError(
                f"table {table!r} has no version {version} (never "
                "committed, or expired by vacuum retention)"
            ) from None

    def _adopt_if_legacy(self, table: str) -> dict:
        """The current manifest, after a one-time upgrade of files in the
        pre-manifest layout: plain parquet files at the table root or
        under ``<col>=<value>/`` dirs. A table written before manifests
        existed has only such files and no manifest; a table adopted by an
        earlier release has a manifest that lists them. This is the only
        code that reads that layout. The files are read with mergeSchema
        (they come from many writes), rewritten into one snapshot that
        takes their place in a new version, and vacuum then deletes them.
        Afterwards every live file sits in a ``data/s<id>/`` dir."""
        m = self._manifest(table)
        base = self.path(table)
        if m["version"] > 0:
            old = [
                f for f in m["files"]
                if "data" not in os.path.normpath(f).split(os.sep)
            ]
        else:
            old = []
            for root, dirs, fs in os.walk(base):
                if root == base:
                    # a crashed first commit's snapshot is not table data
                    dirs[:] = [
                        d for d in dirs if d not in ("_manifests", "data")
                    ]
                old += [
                    os.path.relpath(os.path.join(root, f), base)
                    for f in fs if f.endswith(".parquet")
                ]
        if not old:
            return m
        pcol = m.get("partition_col") or next(
            (h.split("=", 1)[0] for h in (f.split(os.sep)[0] for f in old)
             if "=" in h), None,
        )
        df = (
            self.spark.read.option("basePath", base)
            .option("mergeSchema", "true")
            .parquet(*sorted(os.path.join(base, f) for f in old))
        )
        # the rewrite records the whole op log as applied, so apply it
        df = self._apply_schema_ops(df, m.get("schema_ops"))
        m, _new = self._rewrite(table, m, old, df, pcol, "adopt_legacy")
        self.vacuum(table)
        return m

    def _rewrite(
        self, table: str, m: dict, files: list[str], df: DataFrame,
        partition_col: str | None, operation: str, **publish_kw,
    ) -> tuple[dict, list[str]]:
        """Copy-on-write: write ``df`` as a new snapshot in the
        ``partition_col`` layout (unpartitioned when ``df`` lacks that
        column) and commit it in place of ``files``, carrying every other
        file of ``m``. Returns the new manifest and the new files."""
        new = self._write_snapshot(
            table, df, partition_col if partition_col in df.columns else None
        )
        gone = set(files)
        kept = [f for f in m["files"] if f not in gone]
        man = self._commit(table, m, kept, new, partition_col, operation,
                           **publish_kw)
        return man, new

    def _commit(
        self, table: str, m: dict | None, kept: list[str], new: list[str],
        partition_col: str | None, operation: str, *,
        new_dvs: dict[str, list[str]] | None = None, **publish_kw,
    ) -> dict:
        """The commit of every write that adds data or vector files:
        publish ``kept`` (live files of ``m``, carried verbatim) plus
        ``new`` (files the write just put in a snapshot) as the next
        version. Kept files keep their stats and new files get theirs
        from their footers, along with the length of the schema-op log
        they were written under. A deletion vector carries only while a
        kept file it covers stays live (vectors from manifests that
        predate coverage records carry while anything is kept), so a
        rewrite of every file materializes and clears them all.
        ``new_dvs`` maps the vector files the write adds to the
        data-file keys each covers.

        ``m`` is the manifest the write's input was read from, and the
        publish is checked against its version: a writer that committed
        after that read raises ConcurrentWriteError instead of having
        its files dropped. ``m=None`` means the write derives from no
        version (a full overwrite) and publishes last-writer-wins."""
        m = m or {"version": None}
        old = m.get("stats", {})
        meta = m.get("dv_meta") or {}
        live = {self._dv_key_of_rel(f) for f in kept}
        dvs = [
            r for r in m.get("dv_files") or []
            if live and (meta.get(r) is None or set(meta[r]) & live)
        ]
        stats = self._collect_minmax(table, new)
        ops = publish_kw.get("schema_ops", m.get("schema_ops")) or []
        for st in stats.values():
            st[self._OPS_KEY] = len(ops)
        return self._publish(
            table, kept + new, partition_col, operation,
            stats={**{f: old[f] for f in kept if f in old}, **stats},
            expect_version=m["version"], dvs=dvs + list(new_dvs or {}),
            dv_meta={**{r: meta[r] for r in dvs if r in meta},
                     **(new_dvs or {})},
            **publish_kw,
        )

    def _publish(
        self, table: str, files: list[str], partition_col: str | None,
        operation: str | None = None, *, stats: dict | None = None,
        expect_version: int | None = None, dvs: list[str] | None = None,
        dv_meta: dict | None = None, schema_ops: list | None = None,
    ) -> dict:
        """Commit a new table version: write the immutable manifest file
        (O_EXCL — the optimistic lock), then atomically replace the
        CURRENT pointer. A crash before the pointer replace leaves an
        orphan manifest/snapshot that no reader resolves; a concurrent
        committed writer surfaces as ConcurrentWriteError, never as a
        silently merged or torn image.

        ``expect_version`` extends the lock back to the MANIFEST READ:
        read-modify-write operations (DML, MERGE, append's file-list
        carry, maintenance rewrites) derived their output from a
        specific version — publishing on top of anything newer would
        silently drop the interleaved writer's files. Full
        ``overwrite`` intentionally omits it (replace-everything is
        last-writer-wins by definition)."""
        # callables staged by commit_metadata resolve now, after the
        # write's jobs ran and before anything is published
        meta = {k: v() if callable(v) else v
                for k, v in (self._commit_meta or {}).items()}
        os.makedirs(self._mdir(table), exist_ok=True)
        base_v = self._current_version(table)
        if expect_version is not None and base_v != expect_version:
            raise ConcurrentWriteError(
                f"table {table!r}: derived from version "
                f"{expect_version} but {base_v} is now current — "
                "another writer committed in between; retry from the "
                "new version"
            )
        v = base_v + 1
        while True:
            mpath = os.path.join(self._mdir(table), f"v{v:08d}.json")
            try:
                fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if self._current_version(table) > base_v:
                    raise ConcurrentWriteError(
                        f"table {table!r}: version advanced past "
                        f"{base_v} while this write was in flight"
                    ) from None
                v += 1  # orphan from a crashed writer: skip its number
        import datetime as _dt

        # Schema-evolution ops are a TABLE property: carry the current
        # chain's ops into every successor unless the caller overrides
        # (evolve_schema appends; drop+recreate resets). Files record
        # how many ops they were written under, so a read replays onto
        # a rewrite's files only the ops that came after it.
        if schema_ops is None and base_v > 0:
            try:
                schema_ops = self._manifest(table, base_v).get("schema_ops")
            except FileNotFoundError:
                schema_ops = None
        manifest = {
            "version": v,
            **({"meta": meta} if meta else {}),
            # committed-chain lineage: orphan manifests from crashed
            # writers occupy version numbers but are never anyone's
            # parent, so history()/time travel walk parent links and
            # skip them.
            "parent": base_v,
            "operation": operation,
            "committed_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "partition_col": partition_col,
            "files": sorted(files),
            # merge-on-read deletion vectors: parquet file sets of
            # (file_key, row_index) rows every read anti-joins away;
            # an operation that omits dvs has materialized (or never
            # had) them
            **({"dv_files": sorted(dvs)} if dvs else {}),
            # which data-file keys each vector file covers — lets later
            # rewrites drop vectors whose every target file left the
            # manifest (restoring the stats-only fast paths)
            **({"dv_meta": dv_meta} if dvs and dv_meta else {}),
            # ordered schema-evolution log (rename/add/drop/widen),
            # applied per file-group at read — see _apply_schema_ops
            **({"schema_ops": schema_ops} if schema_ops else {}),
            "stats": stats or {},
        }
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        # Last-moment conflict re-check before the pointer replace: two
        # writers CAN both win their O_EXCL creates (A takes v, B sees
        # FileExists with current unmoved and takes v+1) — whoever
        # notices the other's committed pointer first backs off instead
        # of clobbering it. Narrows (not closes — a true CAS needs the
        # store's conditional PUT) the lost-update window.
        if self._current_version(table) != base_v:
            raise ConcurrentWriteError(
                f"table {table!r}: version advanced past {base_v} "
                "before this writer's pointer publish"
            )
        tmp = self._pointer(table) + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"version": v}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer(table))
        return manifest

    def commit_metadata(self, **meta):
        """Context manager stamping every manifest published inside the
        block with ``meta`` — the provenance hook: record which input
        table versions, code revision, or run id produced a commit, and
        ``history()`` plays it back. The reproducibility loop closes:
        ``read(out, version=N)`` gives the exact bytes,
        ``history(out)[k]['meta']`` says what made them.

            with wh.commit_metadata(inputs={"documents": 7}, run="r42"):
                wh.overwrite("curated", df)

        A callable value is called when the manifest is published, after
        the write's jobs have run: values observed during the write
        (``DataFrame.observe``) enter the same commit as its rows.
        """
        import contextlib

        @contextlib.contextmanager
        def _cm():
            prev = self._commit_meta
            self._commit_meta = {**(prev or {}), **meta}
            try:
                yield self
            finally:
                self._commit_meta = prev

        return _cm()

    def _write_snapshot(
        self, table: str, df: DataFrame, partition_col: str | None = None
    ) -> list[str]:
        """Write ``df`` into a fresh immutable snapshot dir; return the
        written parquet files' table-relative paths (not yet visible to
        readers — only a subsequent ``_publish`` makes them live)."""
        base = self.path(table)
        sdir = os.path.join(base, "data", "s" + uuid.uuid4().hex[:12])
        w = df.write.mode("overwrite")
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(sdir)
        rels = []
        for root, _dirs, fs in os.walk(sdir):
            for f in fs:
                if f.endswith(".parquet"):
                    rels.append(
                        os.path.relpath(os.path.join(root, f), base)
                    )
        return rels

    # -- file-level min/max stats + data-skipping scans --------------------
    # Iceberg/Delta keep per-file column bounds in table metadata so a
    # filtered scan opens only files whose [min, max] can satisfy the
    # predicate — at 100 TB the difference between touching terabytes of
    # footers and touching the manifest. Same idea here: commit time
    # records each new file's column bounds (one footer read per file the
    # writer just wrote — in a distributed deployment the write tasks
    # return these with their commit message), and ``scan`` prunes the
    # manifest's file list before Spark ever sees a path. Numeric and
    # string columns only; a column/file without recorded bounds is never
    # pruned (correctness first), and the residual DataFrame filter is
    # always applied, so pruning can only skip files, not change results.
    _STATS_TYPES = (int, float, str)

    def _collect_minmax(self, table: str, rels: list[str]) -> dict:
        import pyarrow.parquet as pq

        base = self.path(table)
        out: dict[str, dict] = {}
        for rel in rels:
            try:
                md = pq.ParquetFile(os.path.join(base, rel)).metadata
            except Exception:
                continue
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            dead: set[str] = set()
            nulls: dict[str, int] = {}
            nulls_dead: set[str] = set()
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if "." in name:
                        continue
                    # Null counts are tracked independently of min/max
                    # viability (a NULL-heavy column can still report
                    # exact null counts): any row group without one
                    # poisons the column — a partial sum would
                    # understate and break the stats-only count path.
                    if name not in nulls_dead:
                        try:
                            st0 = col.statistics
                            nc = (
                                st0.null_count
                                if st0 is not None and st0.has_null_count
                                else None
                            )
                        except Exception:
                            nc = None
                        if nc is None:
                            nulls_dead.add(name)
                            nulls.pop(name, None)
                        else:
                            nulls[name] = nulls.get(name, 0) + int(nc)
                    if name in dead:
                        continue
                    try:
                        # pyarrow raises for types it can't extract
                        # stats for (e.g. intervals) — skip the column.
                        st = col.statistics
                        ok = (
                            st is not None and st.has_min_max
                            and isinstance(st.min, self._STATS_TYPES)
                            and not isinstance(st.min, bool)
                        )
                    except Exception:
                        ok = False
                    if not ok:
                        dead.add(name)
                        mins.pop(name, None)
                        maxs.pop(name, None)
                        continue
                    mins[name] = (
                        st.min if name not in mins
                        else min(mins[name], st.min)
                    )
                    maxs[name] = (
                        st.max if name not in maxs
                        else max(maxs[name], st.max)
                    )
            entry: dict = {c: [mins[c], maxs[c]] for c in mins}
            # per-file row count (same footer read): lets COUNT(*) and
            # pruned counts answer from the manifest alone
            entry[self._ROWS_KEY] = md.num_rows
            # per-file per-column null counts (same footer read):
            # parquet min/max exclude NULLs, so a file "fully inside" a
            # predicate may still hold NULL rows that fail it — the
            # filtered stats-only count is exact only when the filter
            # columns are null-free in every surviving file (the same
            # precondition Delta/Iceberg apply).
            if nulls:
                entry[self._NULLS_KEY] = nulls
            blooms = self._collect_blooms(table, rel)
            if blooms:
                entry[self._BLOOM_KEY] = blooms
            out[rel] = entry
        return out

    _ROWS_KEY = "__rows__"

    # Reserved stats key for how many schema-log ops a file was written
    # under: a read replays only the later ones onto it.
    _OPS_KEY = "__ops__"

    # Reserved stats key for per-file per-column null counts (never a
    # real filter column name, so bounds lookups skip it).
    _NULLS_KEY = "__nulls__"

    # Reserved stats key for per-file bloom filters (never a filter
    # column name, so the bounds lookup in _file_may_match skips it).
    _BLOOM_KEY = "__bloom__"

    def _bloom_hashes(self, col: str, value) -> list[int]:
        """Five bit positions for (col, value) — md5 slices of the
        canonical string rendering; build and probe share this, so
        false negatives are impossible by construction."""
        import hashlib

        h = hashlib.md5(f"{col}|{value}".encode()).hexdigest()
        m = self.bloom_bits
        return [int(h[i * 6:(i + 1) * 6], 16) % m for i in range(5)]

    def _collect_blooms(self, table: str, rel: str) -> dict:
        """Per-file blooms for this table's opted-in int/str columns —
        one column read per file the writer just wrote (in a
        distributed deployment the write task returns this with its
        commit message, exactly like the min/max bounds)."""
        cols = self.bloom_cols.get(table)
        if not cols:
            return {}
        import pyarrow.parquet as pq

        try:
            tbl = pq.read_table(
                os.path.join(self.path(table), rel),
                columns=[c for c in cols],
            )
        except Exception:
            return {}
        out = {}
        for c in cols:
            if c not in tbl.column_names:
                continue
            bits = 0
            ok = True
            for v in tbl.column(c).to_pylist():
                if v is None:
                    continue  # NULL never equals a probe value
                if not isinstance(v, (int, str)) or isinstance(v, bool):
                    ok = False  # non-canonical type: no bloom
                    break
                for b in self._bloom_hashes(c, v):
                    bits |= 1 << b
            if ok and bits:
                out[c] = f"{bits:x}"
        return out

    def _bloom_may_contain(
        self, stats_entry: dict | None, col: str, value
    ) -> bool:
        if not stats_entry:
            return True
        bloom = stats_entry.get(self._BLOOM_KEY, {}).get(col)
        if bloom is None:
            return True  # no filter recorded: cannot prune
        if not isinstance(value, (int, str)) or isinstance(value, bool):
            return True
        bits = int(bloom, 16)
        return all(
            (bits >> b) & 1 for b in self._bloom_hashes(col, value)
        )

    @staticmethod
    def _file_may_match(
        bounds: dict | None, col: str, op: str, value
    ) -> bool:
        if not bounds or col not in bounds:
            return True  # no recorded bounds: cannot prune
        lo, hi = bounds[col]
        try:
            if op == "in":
                return any(lo <= v <= hi for v in value)
            if op == "==":
                return lo <= value <= hi
            if op == "<":
                return lo < value
            if op == "<=":
                return lo <= value
            if op == ">":
                return hi > value
            if op == ">=":
                return hi >= value
        except TypeError:
            return True  # incomparable filter value: cannot prune
        return True  # unknown op: cannot prune

    def pruned_files(
        self, table: str, filters: list[tuple], *,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """(surviving file list, total live files) for ``filters`` —
        each ``(col, op, value)`` with op in {==, <, <=, >, >=} — using
        manifest min/max bounds plus partition-path values."""
        m = (
            self._manifest(table, version) if version is not None
            else self._adopt_if_legacy(table)
        )
        stats = m.get("stats", {})
        pcol = m.get("partition_col")
        keep = []
        for rel in m["files"]:
            ok = True
            for col, op, value in filters:
                if pcol is not None and col == pcol:
                    pv = self._partition_of(rel, pcol)
                    like = (
                        value[0] if op == "in" and len(value) else value
                    )
                    if pv is not None and not self._file_may_match(
                        {col: [_parse_part(pv, like), _parse_part(pv, like)]},
                        col, op, value,
                    ):
                        ok = False
                        break
                if not self._file_may_match(stats.get(rel), col, op, value):
                    ok = False
                    break
                if op == "==" and not self._bloom_may_contain(
                    stats.get(rel), col, value
                ):
                    ok = False
                    break
                if op == "in" and not any(
                    self._bloom_may_contain(stats.get(rel), col, v)
                    for v in value
                ):
                    ok = False
                    break
            if ok:
                keep.append(rel)
        return keep, len(m["files"])

    def scan(
        self, table: str, filters: list[tuple],
        schema: T.StructType | None = None, *, version: int | None = None,
    ) -> DataFrame:
        """Filtered read with manifest-level data skipping: files whose
        recorded [min, max] bounds (or partition-path value) cannot
        satisfy ``filters`` are never handed to Spark; the same filters
        are then applied as DataFrame predicates, so results are exactly
        ``read(table).filter(...)`` — only cheaper."""
        # Resolve ONE manifest snapshot and prune/read from it: pruning
        # against the pointer and then re-resolving for DV application
        # could mix a pre-commit file list with a post-commit (e.g.
        # vector-cleared) manifest under a concurrent writer, silently
        # resurrecting DV-deleted rows.
        m = self._snapshot(table, version)
        keep, _total = self.pruned_files(
            table, filters, version=m["version"]
        )
        if not keep:
            # empty result, but the SCHEMA must still come from the
            # pinned snapshot m — re-resolving the pointer here could
            # surface a concurrent commit's schema for this version
            if m["files"]:
                df = self._read_files_dv(table, m, m["files"]).limit(0)
            elif schema is not None:
                df = self.spark.createDataFrame([], schema)
            else:
                raise FileNotFoundError(
                    f"table {table!r} empty and no schema given"
                )
        else:
            df = self._read_files_dv(table, m, keep)
        # a NULL predicate (NULL value, or a file predating the filter
        # column) drops the row, as read().filter() would
        df, pred = self._filters_pred(df, filters)
        return df.filter(pred)

    @staticmethod
    def _partition_of(rel: str, partition_col: str) -> str | None:
        for comp in rel.split(os.sep):
            if comp.startswith(partition_col + "="):
                return comp[len(partition_col) + 1:]
        return None

    # Deletion-vector row identity: (file key, parquet row index). The
    # key is the path suffix below the LAST /data/ component — stable
    # across warehouse moves and shallow clones (a borrowed file keeps
    # its source snapshot-dir name), and snapshot dirs are uuid-named so
    # suffixes never collide.
    _DV_KEY = "__dv_key"
    _DV_POS = "__dv_pos"

    @staticmethod
    def _dv_key_of_rel(rel: str) -> str:
        posix = "/" + os.path.normpath(rel).replace(os.sep, "/")
        return posix.rsplit("/data/", 1)[1]

    def _read_files_dv(
        self, table: str, m: dict, files: list[str], *, rowpos: bool = False,
    ) -> DataFrame:
        """Read a subset of ``m``'s files with ``m``'s deletion vectors
        applied — THE read path for any manifest carrying dv_files: a
        left-anti join against the (file_key, row_index) set, whose cost
        is a scan of the tiny DV tables, not of the data. Files outside
        the subset contribute no anti-join hits (their keys simply don't
        occur), so candidate-subset reads (DML, partial compaction)
        apply cleanly. ``rowpos`` keeps each row's (file key, row index)
        columns, the positions a new vector records."""
        if not files:
            raise FileNotFoundError(
                f"table {table!r} missing and no schema given"
            )
        base = self.path(table)
        dvs = m.get("dv_files") or []
        df = self._read_file_list(
            base, files, rowpos=rowpos or bool(dvs),
            schema_ops=m.get("schema_ops"), stats=m.get("stats"),
        )
        if not dvs:
            return df
        dv = self._read_file_list(base, dvs)
        cond = (F.col(self._DV_KEY) == dv["file_key"]) & (
            F.col(self._DV_POS) == dv["row_index"]
        )
        df = df.join(dv, cond, "left_anti")
        return df if rowpos else df.drop(self._DV_KEY, self._DV_POS)

    @staticmethod
    def _apply_schema_ops(df: DataFrame, ops: list | None) -> DataFrame:
        """Replay schema-evolution ops, in order, onto one file-group's
        frame: the ops of the manifest's log that came after the group
        was written (the whole log for files without that record).
        Every step is also presence-guarded: a pre-rename file gets
        renamed; a pre-add file materializes the declared default
        (Iceberg initial-default semantics). Order matters — a drop
        followed by a re-add of the same name yields the NEW default,
        never the dropped column's ghost values."""
        for op in ops or []:
            kind = op["op"]
            if kind == "rename" and op["from"] in df.columns:
                df = df.withColumnRenamed(op["from"], op["to"])
            elif kind == "add" and op["col"] not in df.columns:
                default = op.get("default")
                col = (
                    F.expr(default) if default is not None
                    else F.lit(None)
                )
                df = df.withColumn(op["col"], col.cast(op["type"]))
            elif kind == "drop" and op["col"] in df.columns:
                df = df.drop(op["col"])
            elif kind == "widen" and op["col"] in df.columns:
                df = df.withColumn(
                    op["col"], F.col(op["col"]).cast(op["type"])
                )
        return df

    def _read_file_list(
        self, base: str, files: list[str], *, rowpos: bool = False,
        schema_ops: list | None = None, stats: dict | None = None,
    ) -> DataFrame:
        # Group by snapshot dir (the component after the last data/) so
        # partition values recover from the <col>=<val>/ path components
        # under each basePath; compaction collapses the table to one
        # group, bounding the union width.
        groups: dict[str, list[str]] = {}
        applied: dict[str, int] = {}  # schema ops a group was written under
        for rel in files:
            # Normalize first: a shallow clone's entries reach into the
            # source table ("../src/data/s*/..."), and basePath must be
            # an ancestor of the resolved file or Spark rejects it.
            full = os.path.normpath(os.path.join(base, rel))
            parts = full.split(os.sep)
            di = len(parts) - 1 - parts[::-1].index("data")
            root = os.sep.join(parts[: di + 2])
            groups.setdefault(root, []).append(full)
            applied[root] = (stats or {}).get(rel, {}).get(self._OPS_KEY, 0)
        # No schema-inference job: files inside one data/s* snapshot dir
        # come from a single Spark job and share a schema, so the first
        # file's footer (read here, in-process) is the schema Spark
        # would infer, and it is passed to the reader; partition columns
        # are still discovered from the paths. Footers without Spark's
        # schema key (files Spark did not write) keep inference.
        # Cross-SNAPSHOT evolution is handled by the allowMissingColumns
        # union below.
        dfs = []
        for root, fs in sorted(groups.items()):
            fs = sorted(fs)
            reader = self.spark.read.option("basePath", root)
            schema = footer_spark_schema(fs[0])
            if schema is not None:
                reader = reader.schema(schema)
            d = reader.parquet(*fs)
            if rowpos:
                # row identity for deletion vectors, resolved per group
                # while _metadata is still bound to the scan
                d = d.select(
                    "*",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/data/"), -1
                    ).alias(self._DV_KEY),
                    F.col("_metadata.row_index").alias(self._DV_POS),
                )
            # Per GROUP, before the union: groups of different ages can
            # disagree on names (pre- vs post-rename), and a cross-group
            # allowMissingColumns union of disagreeing names would
            # surface BOTH columns null-padded instead of one.
            dfs.append(self._apply_schema_ops(
                d, (schema_ops or [])[applied[root]:]
            ))
        out = dfs[0]
        # Schema evolution across snapshots: an append that added a
        # column leaves older snapshots without it — surface those rows
        # with NULLs, the additive-evolution semantics of every table
        # format.
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _committed_chain(self, table: str) -> list[int]:
        """Version numbers on the committed lineage, newest first: walk
        ``parent`` links from CURRENT. Orphan manifests (crashed writers
        that never replaced the pointer) occupy numbers but are on no
        one's parent link, so they never appear. Manifests written
        before the ``parent`` field existed fall back to the next-lower
        manifest file on disk (those layouts were written strictly
        sequentially)."""
        return [v for v, _m in self._chain_manifests(table)]

    def _chain_manifests(self, table: str) -> list[tuple[int, dict]]:
        """(version, manifest) pairs along the committed chain, newest
        first — single parse per manifest, shared by chain/history."""
        out: list[tuple[int, dict]] = []
        v = self._current_version(table)
        while v > 0:
            try:
                m = self._manifest(table, v)
            except FileNotFoundError:
                break  # expired by vacuum retention: chain ends here
            out.append((v, m))
            if "parent" in m:
                v = int(m["parent"] or 0)
            else:
                prior = [
                    n for n in self._versions_on_disk(table) if n < v
                ]
                v = max(prior) if prior else 0
        return out

    def _versions_on_disk(self, table: str) -> list[int]:
        mdir = self._mdir(table)
        if not os.path.isdir(mdir):
            return []
        out = []
        for f in os.listdir(mdir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    def _referenced_files(self, table: str) -> dict[int, set[str]]:
        """{version: normalized data and vector files} for every readable
        manifest on disk, committed or not."""
        out = {}
        for v in self._versions_on_disk(table):
            try:
                mv = self._manifest(table, v)
                out[v] = {
                    os.path.normpath(f)
                    for f in mv["files"] + mv.get("dv_files", [])
                }
            except (OSError, json.JSONDecodeError, KeyError):
                continue
        return out

    def history(self, table: str) -> list[dict]:
        """Commit log of the table, newest first: one row per committed
        version with its operation, commit time, file count and bytes —
        the audit surface for time travel (``read(table, version=...)``).
        Only still-on-disk manifests appear; vacuum retention expires
        old entries."""
        base = self.path(table)
        out = []
        for v, m in self._chain_manifests(table):
            nbytes = 0
            for f in m["files"]:
                try:
                    nbytes += os.path.getsize(os.path.join(base, f))
                except OSError:
                    nbytes = -1  # expired data files
                    break
            out.append({
                "version": v,
                "parent": m.get("parent"),
                "operation": m.get("operation"),
                "committed_at": m.get("committed_at"),
                "partition_col": m.get("partition_col"),
                "n_files": len(m["files"]),
                "bytes": nbytes,
                "meta": m.get("meta"),
            })
        return out

    def cluster_by(
        self, table: str, cols: list[str], *,
        bits: int = 8, target_files: int | None = None,
    ) -> dict:
        """Z-order clustering rewrite: reorder the table
        along the interleaved-bit curve of ``cols`` so each rewritten
        file covers a narrow range in EVERY clustered column — the
        rewrite that turns the manifest's min/max bounds into effective
        multi-column data skipping (a row-major layout prunes only on
        the leading column). Same idea as Delta/Iceberg Z-ORDER.

        Bit mapping is linear min/max normalization to ``bits`` bits per
        column (two cheap passes: one global min/max aggregate, then
        pure column arithmetic — no rank window, so no single-task
        global sort); the shuffle is one repartitionByRange on the
        z-value. Commits as one new version with fresh per-file bounds,
        then vacuums the replaced files. Returns {files_before,
        files_after, cols}."""
        if not cols or bits * len(cols) > 63:
            raise ValueError(
                f"bits * len(cols) must fit a 64-bit z-value "
                f"(got {bits} * {len(cols)}); lower bits or cluster "
                "fewer columns"
            )
        m = self._adopt_if_legacy(table)
        pcol = m.get("partition_col")
        if pcol is not None:
            raise ValueError(
                f"table {table!r} is partitioned on {pcol!r}; cluster_by "
                "supports unpartitioned layouts — use "
                "compact_partitions_where() for per-partition file "
                "hygiene, or migrate with overwrite(df) first"
            )
        df = self._read_files_dv(table, m, m["files"])
        n_out = target_files or max(1, len(m["files"]))
        stats = df.agg(*[
            f(c).alias(f"{n}_{c}")
            for c in cols for n, f in (("mn", F.min), ("mx", F.max))
        ]).first()
        for c in cols:
            for side in ("mn", "mx"):
                v = stats[f"{side}_{c}"]
                if not isinstance(v, (int, float)) or isinstance(v, bool):
                    raise ValueError(
                        f"cluster_by column {c!r} needs numeric non-null "
                        f"bounds (got {type(v).__name__}); cast or derive "
                        "a numeric clustering key first"
                    )
        z = F.lit(0).cast("long")
        for i, c in enumerate(cols):
            mn = float(stats[f"mn_{c}"])
            mx = float(stats[f"mx_{c}"])
            span = (mx - mn) or 1.0
            r = F.floor(
                (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - mn)
                / span * ((1 << bits) - 1)
            ).cast("long")
            for b in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(r, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                )
        clustered = (
            df.withColumn("__z", z)
            .repartitionByRange(n_out, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        _man, files = self._rewrite(table, m, m["files"], clustered, None,
                                    "cluster_by")
        self.vacuum(table)
        return {
            "files_before": len(m["files"]),
            "files_after": len(files),
            "cols": list(cols),
        }

    def diff(
        self, table: str, from_version: int, to_version: int | None,
        key_cols: list[str], *, compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level change feed between two committed versions — time
        travel composed with the CDC snapshot diff: one row per changed
        key with ``change`` in {'insert', 'delete', 'update'}. The
        recover-the-batch primitive for consumers that missed the
        original commits (replication, cache invalidation, audit).
        ``to_version=None`` means CURRENT."""
        from _event_intelligence_data_warehouse_spark.operators.upsert import (
            snapshot_diff,
        )

        old = self.read(table, version=from_version)
        new = self.read(table, version=to_version)
        return snapshot_diff(old, new, key_cols, compare_cols=compare_cols)

    def vacuum(
        self, table: str, *, retain_versions: int | None = None,
        grace_seconds: float = 600.0,
    ) -> int:
        """Delete files no longer referenced by any RETAINED manifest —
        crashed writers' orphan snapshots, replaced partitions,
        pre-compaction images. ``retain_versions`` (default: the
        Warehouse's ``retain_versions`` setting) newest committed
        versions stay fully readable for time travel; expired versions'
        manifests are removed too, so ``history``/``read(version=...)``
        fail fast instead of resolving missing files.

        Concurrency: a writer between its manifest O_EXCL-create and its
        pointer replace owns a manifest numbered ABOVE current whose
        files no chain references yet — indistinguishable from a crashed
        writer's orphan except by age. Such manifests (and any data file
        no retired manifest ever referenced) are only collected once
        older than ``grace_seconds``, so vacuum can run alongside live
        writers; files that WERE referenced by a now-expired manifest
        are definitively replaced and deleted regardless of age, as are
        unreferenced files outside ``data/`` (writers only write under
        it, so those are left from a pre-manifest layout).
        Returns the number of data files removed."""
        import time

        retain = (
            self.retain_versions if retain_versions is None
            else retain_versions
        )
        m = self._manifest(table)
        if m["version"] == 0:
            return 0
        base = self.path(table)
        chain = self._committed_chain(table)
        current = chain[0] if chain else 0
        retained = set(chain[:max(1, retain)])
        now = time.time()

        def _old(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= grace_seconds
            except OSError:
                return False

        live: set[str] = set()          # retained versions' files
        retired_refs: set[str] = set()  # files some <=current manifest held
        inflight_refs: set[str] = set()  # files of fresh >current manifests
        for v, files in self._referenced_files(table).items():
            if v in retained:
                live |= files
            elif v > current and not _old(
                os.path.join(self._mdir(table), f"v{v:08d}.json")
            ):
                inflight_refs |= files
            else:
                retired_refs |= files
        # expired + stale-orphan manifests go first (fail-fast for
        # readers); a fresh >current manifest may be an in-flight commit
        for v in self._versions_on_disk(table):
            if v in retained:
                continue
            mpath = os.path.join(self._mdir(table), f"v{v:08d}.json")
            if v > current and not _old(mpath):
                continue
            os.remove(mpath)
        removed = 0
        for root, dirs, fs in os.walk(base):
            dirs[:] = [d for d in dirs if d != "_manifests"]
            for f in fs:
                p = os.path.join(root, f)
                rel = os.path.normpath(os.path.relpath(p, base))
                if rel in live or rel in inflight_refs:
                    continue
                in_data = rel.split(os.sep)[0] == "data"
                if in_data and rel not in retired_refs and not _old(p):
                    continue  # may belong to an in-flight snapshot write
                os.remove(p)
                removed += 1
        for root, dirs, fs in os.walk(base, topdown=False):
            if root != base and not os.listdir(root):
                os.rmdir(root)
        return removed

    # -- watermarks --------------------------------------------------------
    def appended_since(
        self, table: str, version: int,
    ) -> tuple[DataFrame | None, int]:
        """The rows of the files committed after ``version``, read with
        the current deletion vectors, and the version they were read
        through: the incremental read of an append-only table, whatever
        order its writers stamped their rows in. ``version=0`` reads the
        whole table. The frame is None when the manifest's row counts
        show no new row.

        Raises FileNotFoundError when a manifest back to ``version`` has
        expired, and ValueError when ``version`` is not on the committed
        chain or a commit after it replaced files: that commit's files
        hold rows already read, and reading them again would load those
        rows twice."""
        m = self._adopt_if_legacy(table)
        old = set()
        if version:
            chain = self._chain_since(table, m, version)
            for prev, cur in zip(chain, chain[1:]):
                if not set(prev["files"]) <= set(cur["files"]):
                    raise ValueError(
                        f"table {table!r}: version {cur['version']} "
                        f"({cur.get('operation')}) replaced files after "
                        f"version {version}"
                    )
            old = set(chain[0]["files"])
        new = [f for f in m["files"] if f not in old]
        stats = m.get("stats", {})
        if all(stats.get(f, {}).get(self._ROWS_KEY) == 0 for f in new):
            return None, m["version"]
        return self._read_files_dv(table, m, new), m["version"]

    def commits_since(self, table: str, version: int) -> list[dict]:
        """The commits after ``version`` up to CURRENT, oldest first, as
        ``{"version", "parent", "operation", "meta"}`` rows: what an
        incremental reader folds in since the version it last covered.
        ``version=0`` means since the table was created. Raises as
        :meth:`appended_since` does when ``version`` is off the committed
        chain or a manifest back to it has expired."""
        chain = self._chain_since(table, self._adopt_if_legacy(table), version)
        return [self._commit_row(m) for m in chain[1:]]

    def last_commit(self, table: str) -> dict:
        """The CURRENT commit as a :meth:`commits_since` row; version 0
        when the table has none."""
        return self._commit_row(self._adopt_if_legacy(table))

    @staticmethod
    def _commit_row(m: dict) -> dict:
        return {k: m.get(k) for k in ("version", "parent", "operation", "meta")}

    def _chain_since(self, table: str, head: dict, version: int) -> list[dict]:
        """The committed manifests from ``version`` (version 0: the empty
        table) up to ``head``, oldest first, by parent links."""
        chain = [head]
        while chain[-1]["version"] != version:
            cur = chain[-1]
            if cur["version"] < version or cur.get("parent") is None:
                raise ValueError(
                    f"table {table!r}: version {version} is not on the "
                    "committed chain"
                )
            chain.append(self._manifest(table, cur["parent"]))
        return chain[::-1]

    @property
    def _wm_path(self) -> str:
        return os.path.join(self.root, "_meta", "watermarks.json")

    def _load_wm(self) -> dict:
        if os.path.isfile(self._wm_path):
            with open(self._wm_path) as f:
                return json.load(f)
        return {}

    def get_watermark(self, name: str) -> str | int | None:
        return self._load_wm().get(name)

    def set_watermark(self, name: str, value: str | int) -> None:
        wm = self._load_wm()
        wm[name] = value
        tmp = self._wm_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(wm, f, indent=2, sort_keys=True)
        os.replace(tmp, self._wm_path)

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    # -- compaction --------------------------------------------------------
    def file_stats(self, table: str) -> tuple[int, int]:
        """(n_part_files, total_bytes) for a table — the LIVE image: only
        CURRENT-referenced files count (stale snapshots awaiting vacuum
        don't)."""
        base = self.path(table)
        files = self._adopt_if_legacy(table)["files"]
        return len(files), sum(
            os.path.getsize(os.path.join(base, f)) for f in files
        )

    def compact(
        self, table: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> dict:
        """Small-file compaction for an UNPARTITIONED table: rewrite its
        part files into ~target-size files and publish them. The
        chronic cost of incremental appends — every micro-batch leaves a
        file, and at 100 TB a scan then pays per-file footer reads and
        task-scheduling overhead linear in file count, not data. The
        rewrite is a coalesce (no shuffle: tasks just concatenate
        inputs) into ceil(bytes/target) files. Returns
        {files_before, files_after, bytes} for the run log."""
        m = self._adopt_if_legacy(table)
        files_before, total = self.file_stats(table)
        n_out = max(1, -(-total // max(1, target_file_bytes)))
        df = self._read_files_dv(table, m, m["files"])
        _man, files = self._rewrite(table, m, m["files"], df.coalesce(n_out),
                                    None, "compact")
        self.vacuum(table)
        return {
            "files_before": files_before,
            "files_after": len(files),
            "bytes": total,
        }

    def compact_partitions_where(
        self, table: str, partition_col: str, *, min_files: int = 2,
    ) -> dict:
        """Compaction for a PARTITIONED table: rewrite the partitions
        holding >= ``min_files`` live files into one file each; every
        other partition's files carry into the new version verbatim —
        zero bytes moved for them. The trickle-append maintenance op at
        100 TB: a streaming workload fragments a handful of HOT
        partitions while thousands of cold ones stay pristine, and this
        rewrites just the fragmented slice (``min_files=1`` rewrites
        every partition); the single pointer publish keeps the rewrite
        atomic and time-travelable.

        Returns {partitions_rewritten, files_before, files_after,
        carried, version} (version None when nothing is fragmented)."""
        m = self._adopt_if_legacy(table)
        pcol = m.get("partition_col")
        if pcol != partition_col:
            raise ValueError(
                f"table {table!r} is partitioned by {pcol!r}, "
                f"not {partition_col!r}"
            )
        groups: dict[object, list[str]] = {}
        for f in m["files"]:
            groups.setdefault(self._partition_of(f, pcol), []).append(f)
        frag = [
            f
            for pv, fs in groups.items()
            if pv is not None and len(fs) >= min_files
            for f in fs
        ]
        if not frag:
            return {"partitions_rewritten": 0,
                    "files_before": len(m["files"]),
                    "files_after": len(m["files"]),
                    "carried": len(m["files"]), "version": None}
        n_parts = sum(
            1 for pv, fs in groups.items()
            if pv is not None and len(fs) >= min_files
        )
        cdf = self._read_files_dv(table, m, frag)
        # one task per partition value -> one output file per rewritten
        # partition (hash collisions co-locate two partitions in a task
        # but the partitioned write still splits them by directory)
        man, new = self._rewrite(table, m, frag, cdf.repartition(F.col(pcol)),
                                 pcol, "compact_partitions_where")
        self.vacuum(table)
        carried = len(m["files"]) - len(frag)
        return {"partitions_rewritten": n_parts,
                "files_before": len(m["files"]),
                "files_after": carried + len(new),
                "carried": carried, "version": man["version"]}

    def stats_count(
        self, table: str, filters: list[tuple] | None = None,
    ) -> int | None:
        """COUNT(*) answered from the MANIFEST when it can be exact —
        zero data files touched. Unfiltered: the sum of per-file row
        counts (every live file must carry one; files from pre-rows
        manifests return None -> caller falls back to a real count).
        With ``filters``: exact only when every surviving file is
        FULLY inside the predicate (its [min, max] satisfies the
        filters at both endpoints) AND its filter columns are
        null-free (parquet min/max exclude NULLs, so a fully-inside
        file may still carry NULL rows that fail the predicate) and
        every pruned file is fully outside — the Delta/Iceberg
        stats-only fast path; anything partial returns None rather
        than an estimate."""
        m = self._adopt_if_legacy(table)
        if m.get("dv_files"):
            # merge-on-read deletes: per-file row counts no longer
            # reflect live rows; fall back to a real count until a
            # compaction materializes the vectors
            return None
        stats = m.get("stats", {})
        if filters:
            pcol = m.get("partition_col")
            keep, _total = self.pruned_files(
                table, filters, version=m["version"]
            )
            total = 0
            for rel in keep:
                st = stats.get(rel, {})
                rows = st.get(self._ROWS_KEY)
                if rows is None:
                    return None
                nulls = st.get(self._NULLS_KEY, {})
                for col, op, value in filters:
                    if pcol is not None and col == pcol:
                        # Partition values are path-encoded, exact and
                        # null-free by construction: every row in the
                        # file has exactly this value, so lo = hi = pv.
                        pv = self._partition_of(rel, pcol)
                        if pv is None:
                            return None
                        coerced = _parse_part(pv, value)
                        b = [coerced, coerced]
                    else:
                        b = st.get(col)
                        if b is None:
                            return None
                        # min/max exclude NULLs: a file judged fully
                        # inside can still hold NULL rows that fail the
                        # predicate. Exact only when the footer proved
                        # the filter column null-free in this file.
                        if nulls.get(col) != 0:
                            return None
                    lo, hi = b
                    try:
                        inside = {
                            "==": lo == value and hi == value,
                            "<": hi < value, "<=": hi <= value,
                            ">": lo > value, ">=": lo >= value,
                        }[op]
                    except TypeError:
                        return None
                    if not inside:
                        return None
                total += rows
            return total
        total = 0
        for rel in m["files"]:
            rows = stats.get(rel, {}).get(self._ROWS_KEY)
            if rows is None:
                return None
            total += rows
        return total

    def stats_minmax(self, table: str, col: str) -> tuple | None:
        """(min, max) of ``col`` answered from the manifest when EVERY
        live file carries bounds for it (a single bounds-less file
        could hide the true extremum -> None, never a guess). Deletion
        vectors also give None: the bounds still cover the rows they
        hide, so the live extremum may lie inside them."""
        m = self._adopt_if_legacy(table)
        if m.get("dv_files"):
            return None
        stats = m.get("stats", {})
        lo = hi = None
        for rel in m["files"]:
            b = stats.get(rel, {}).get(col)
            if b is None:
                return None
            lo = b[0] if lo is None else min(lo, b[0])
            hi = b[1] if hi is None else max(hi, b[1])
        return None if lo is None else (lo, hi)

    # -- copy-on-write row-level DML ---------------------------------------
    @staticmethod
    def _filters_pred(df: DataFrame, filters: list[tuple]):
        """(df with any missing filter columns added as NULL, AND-ed
        predicate Column). NULL comparisons yield NULL, so the caller
        decides the three-valued-logic policy (scan drops NULL rows,
        DML keeps them)."""
        pred = F.lit(True)
        for col, op, value in filters:
            if col not in df.columns:
                # Schema evolution: files predating the column see NULL
                # (pruning cannot skip them: they have no bounds on it),
                # so comparisons are NULL there instead of raising
                # UNRESOLVED_COLUMN.
                probe = value[0] if op == "in" and len(value) else value
                df = df.withColumn(
                    col, F.lit(None).cast(_lit_sql_type(probe))
                )
            c = F.col(col)
            pred = pred & (
                c.isin(*value) if op == "in" else {
                    "==": c == value, "<": c < value, "<=": c <= value,
                    ">": c > value, ">=": c >= value,
                }[op]
            )
        return df, pred

    def delete_where(
        self, table: str, filters: list[tuple], *, mode: str = "rewrite",
    ) -> dict:
        """Row-level DELETE: rows matching ALL
        ``(col, op, value)`` filters are removed; rows where the
        predicate is NULL (NULL column value, or a file predating the
        column) are KEPT — SQL DELETE's three-valued logic.

        ``mode="rewrite"`` is copy-on-write: candidate files (manifest
        min/max + partition pruning, same as ``scan()``) are rewritten
        without the matches, every other file carries verbatim, one
        pointer publish. Write cost ~ candidate bytes.

        ``mode="dv"`` is merge-on-read (Delta deletion vectors /
        Iceberg v3 position deletes): instead of rewriting candidates,
        the matched rows' (file_key, row_index) positions are written
        as a tiny deletion-vector file set and the manifest's
        ``dv_files`` grows by one entry — write cost ~ DELETED rows,
        not candidate files; every read applies the vectors with an
        anti-join. The trade: reads pay the (small) DV join until a
        compaction/cluster_by/overwrite materializes and clears them;
        stats-only counts disable themselves while DVs exist. Point
        deletes in huge files (GDPR erasure) want "dv"; bulk predicate
        deletes want "rewrite". A "dv" commit also records
        ``rows_deleted`` in its ``meta``, which ``history()`` returns.

        Returns {version, candidates, carried, rows_deleted,
        files_rewritten}; ``version`` is None for the no-op case (no
        candidate files, or — dv mode — no newly matched rows)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"unknown delete mode {mode!r}")
        m = self._adopt_if_legacy(table)
        cands, total = self.pruned_files(table, filters, version=m["version"])
        noop = {"version": None, "candidates": len(cands),
                "carried": total - len(cands), "rows_deleted": 0,
                "files_rewritten": 0}
        if not cands:
            return noop
        pcol = m.get("partition_col")
        if mode == "dv":
            # existing DVs applied first, so re-deleting an already
            # deleted row is a no-op rather than a recount
            aug, pred = self._filters_pred(
                self._read_files_dv(table, m, cands, rowpos=True), filters
            )
            # materialize the matched positions ONCE: count, coverage
            # keys and the vector write all reuse it (re-deriving would
            # re-scan every candidate file per consumer)
            matched = aug.filter(F.coalesce(pred, F.lit(False))).select(
                F.col(self._DV_KEY).alias("file_key"),
                F.col(self._DV_POS).cast("bigint").alias("row_index"),
            ).localCheckpoint()
            rows_deleted = matched.count()
            if rows_deleted == 0:
                return noop
            # bounded collect: one key per touched candidate file
            covered = sorted(
                r.file_key
                for r in matched.select("file_key").distinct().collect()
            )
            new_dvs = {
                f: covered for f in self._write_snapshot(table, matched)
            }
            with self.commit_metadata(rows_deleted=rows_deleted):
                man = self._commit(table, m, m["files"], [], pcol,
                                   "delete_where_dv", new_dvs=new_dvs)
            return {**noop, "version": man["version"],
                    "rows_deleted": rows_deleted}
        cdf = self._read_files_dv(table, m, cands)
        aug, pred = self._filters_pred(cdf, filters)
        keep_df = aug.filter(~F.coalesce(pred, F.lit(False))).select(
            *cdf.columns
        )
        n_cand = cdf.count()
        man, new = self._rewrite(table, m, cands, keep_df, pcol,
                                 "delete_where")
        # kept rows from the footer row counts the commit just recorded
        rows = [man["stats"].get(f, {}).get(self._ROWS_KEY) for f in new]
        kept_rows = (
            sum(rows) if None not in rows
            else self._read_file_list(self.path(table), new).count()
        )
        return {**noop, "version": man["version"],
                "rows_deleted": n_cand - kept_rows,
                "files_rewritten": len(new)}

    def update_where(
        self, table: str, filters: list[tuple], assignments: dict,
    ) -> dict:
        """Copy-on-write row-level UPDATE: rows matching
        ALL filters get each ``assignments[col]`` (a Column expression
        over the pre-update row, or a SQL-string expression) applied;
        NULL-predicate rows are untouched, mirroring SQL UPDATE.
        Candidate files are min/max + partition pruned exactly like
        ``delete_where`` — untouched files carry over verbatim — so a
        selective update of a 100 TB table rewrites only the files that
        can hold a match, and one pointer publish keeps it atomic.

        Returns {version, candidates, carried, rows_updated,
        files_rewritten}; ``version`` is None when pruning proves no
        file can match."""
        m = self._adopt_if_legacy(table)
        pcol = m.get("partition_col")
        if pcol and pcol in assignments:
            raise ValueError(
                f"update_where cannot reassign partition column "
                f"{pcol!r} (rows would move between partitions; use "
                "read -> transform -> overwrite_partitions instead)"
            )
        cands, total = self.pruned_files(table, filters, version=m["version"])
        if not cands:
            return {"version": None, "candidates": 0, "carried": total,
                    "rows_updated": 0, "files_rewritten": 0}
        cdf = self._read_files_dv(table, m, cands)
        base_cols = list(cdf.columns)
        unknown = [c for c in assignments if c not in base_cols]
        if unknown:
            raise ValueError(
                f"update_where assigns to columns not in table "
                f"{table!r}: {unknown} (schema evolution goes through "
                "append/overwrite)"
            )
        types = dict(cdf.dtypes)
        aug, pred = self._filters_pred(cdf, filters)
        hit = F.coalesce(pred, F.lit(False))
        out = aug.select(
            *[
                (
                    F.when(
                        hit,
                        F.expr(assignments[c])
                        if isinstance(assignments[c], str)
                        else assignments[c],
                    ).otherwise(F.col(c)).cast(types[c]).alias(c)
                    if c in assignments else F.col(c)
                )
                for c in base_cols
            ],
            hit.alias("__hit__"),
        )
        n_updated = out.filter(F.col("__hit__")).count()
        out = out.drop("__hit__")
        # An assignment can mint values the table contract forbids;
        # enforce declared constraints on the rewritten candidate frame
        # before any file lands (carried files hold only unchanged,
        # previously-admitted rows).
        self.check_constraints(table, out)
        man, new = self._rewrite(table, m, cands, out, pcol, "update_where")
        return {"version": man["version"], "candidates": len(cands),
                "carried": total - len(cands), "rows_updated": n_updated,
                "files_rewritten": len(new)}

    def merge_into(
        self, table: str, source: DataFrame, keys: list[str], *,
        when_matched: str = "update", insert_not_matched: bool = True,
    ) -> dict:
        """Delta-style MERGE with stats-based file pruning: target rows
        whose key matches a source row are replaced by the source row
        (``when_matched='update'``, whole-row upsert) or removed
        (``'delete'``); unmatched source rows are inserted
        (``insert_not_matched``). The source must be unique per key
        tuple — MERGE's own precondition (checked; duplicate source
        keys raise rather than silently double-applying).

        Scale: candidate files are pruned to those whose recorded
        per-key [min, max] bounds intersect the SOURCE's key envelope —
        one tiny aggregate over the source computes it — so a trickle
        merge into a Z-ordered or partitioned 100 TB table rewrites
        only files that can hold a matched key. Untouched files carry
        into the new version verbatim; inserts land in the fresh
        snapshot; one pointer publish keeps the whole MERGE atomic and
        time-travelable. The matched anti-join shuffles candidate rows
        only.

        Returns {version, candidates, carried, rows_matched,
        rows_inserted, files_rewritten}. ``rows_matched`` counts
        matched TARGET rows (replaced or removed — more than the
        matched source-key count if earlier appends left duplicate key
        tuples in the target); ``rows_inserted`` is computed
        directly (source rows with no candidate target key), never
        derived by subtraction from rows_matched."""
        if when_matched not in ("update", "delete"):
            raise ValueError(
                f"when_matched must be 'update' or 'delete', got "
                f"{when_matched!r}"
            )
        if when_matched == "update":
            self.check_constraints(table, source)
        m = self._adopt_if_legacy(table)
        pcol = m.get("partition_col")
        n_src = source.count()
        if n_src == 0:
            return {"version": None, "candidates": 0,
                    "carried": len(m["files"]), "rows_matched": 0,
                    "rows_inserted": 0, "files_rewritten": 0}
        if source.select(*keys).distinct().count() != n_src:
            raise ValueError(
                "merge_into source has duplicate key tuples — MERGE "
                "would apply a row twice; dedupe the source first "
                "(e.g. operators.upsert.latest_per_key)"
            )
        # Whole-row upsert: a source missing target columns would
        # silently NULL matched rows' data through the
        # allowMissingColumns union — fail loud instead.
        if when_matched == "update" and self.exists(table):
            missing = [
                c for c in self.read(table).columns
                if c not in source.columns
            ]
            if missing:
                raise ValueError(
                    f"merge_into source is missing target columns "
                    f"{missing}: a whole-row update would overwrite "
                    "them with NULL; select them into the source or "
                    "use update_where for partial updates"
                )
        # Source key envelope -> candidate files. A key column without
        # usable bounds simply doesn't prune (correctness first).
        env = source.agg(*[
            f(k).alias(f"{n}_{k}")
            for k in keys for n, f in (("mn", F.min), ("mx", F.max))
        ]).first()
        filters = []
        for k in keys:
            lo, hi = env[f"mn_{k}"], env[f"mx_{k}"]
            if lo is not None and hi is not None:
                filters.extend([(k, ">=", lo), (k, "<=", hi)])
        cands, total = self.pruned_files(table, filters, version=m["version"])
        if cands:
            cdf = self._read_files_dv(table, m, cands)
            survivors = cdf.join(
                F.broadcast(source.select(*keys)) if n_src <= 100_000
                else source.select(*keys),
                keys, "left_anti",
            )
            n_matched = cdf.count() - survivors.count()
        else:
            cdf = None
            survivors = None
            n_matched = 0
        # Pruning guarantee: non-candidate files hold no key inside
        # the source envelope, so target keys that can match live in
        # candidate files alone — never read the full table. `fresh`
        # is the true insert set, and counting IT (not n_src -
        # rows_matched, which conflates source keys with target rows
        # and goes wrong when the target holds duplicate key tuples)
        # keeps rows_inserted exact.
        if cdf is not None:
            fresh = source.join(
                cdf.select(*keys).distinct(), keys, "left_anti"
            )
        else:
            fresh = source
        parts = []
        if survivors is not None:
            parts.append(survivors)
        n_inserted = 0
        if when_matched == "update":
            # matched keys re-enter as source rows alongside inserts
            parts.append(source)
            n_inserted = n_src if cdf is None else fresh.count()
        elif insert_not_matched:
            parts.append(fresh)
            n_inserted = n_src if cdf is None else fresh.count()
        out = parts[0]
        for p_df in parts[1:]:
            out = out.unionByName(p_df, allowMissingColumns=True)
        man, new = self._rewrite(table, m, cands, out, pcol, "merge_into")
        return {"version": man["version"], "candidates": len(cands),
                "carried": total - len(cands), "rows_matched": n_matched,
                "rows_inserted": n_inserted, "files_rewritten": len(new)}

    def clone(
        self, src: str, dst: str, *, version: int | None = None,
    ) -> dict:
        """Zero-copy SHALLOW clone: publish ``dst``
        whose manifest references ``src``'s live (or time-traveled
        ``version``) files in place — no data moves, so branching a
        100 TB table for an experiment costs one metadata write.
        Writes to the clone land in the clone's own snapshot dirs
        (copy-on-write), leaving the source untouched.

        Caveat (same as Delta/Iceberg shallow clones): the clone
        borrows the source's files, so ``vacuum(src)`` — or retention
        expiring the cloned version — can delete files the clone still
        references. Pin the source version or re-materialize
        (``overwrite(dst, read(dst))``) before vacuuming the source.
        ``vacuum(dst)`` is always safe: it only walks the clone's own
        directory, where borrowed files don't live."""
        if self.exists(dst):
            raise ValueError(f"clone target {dst!r} already exists")
        m = self._snapshot(src, version)
        rel_src = os.path.relpath(self.path(src), self.path(dst))
        files = [os.path.join(rel_src, f) for f in m["files"]]
        stats = {
            os.path.join(rel_src, f): st
            for f, st in m.get("stats", {}).items()
        }
        dvs = [os.path.join(rel_src, f) for f in m.get("dv_files", [])]
        dvm = {
            os.path.join(rel_src, r): ks
            for r, ks in (m.get("dv_meta") or {}).items()
        }
        man = self._publish(
            dst, files, m.get("partition_col"),
            f"clone:{src}@v{m['version']}", stats=stats, dvs=dvs,
            dv_meta=dvm or None,
            # the clone inherits the cloned VERSION's schema log (the
            # borrowed files need the same read-time replay)
            schema_ops=m.get("schema_ops") or [],
        )
        return {"version": man["version"], "files": len(files),
                "source_version": m["version"]}

    def restore(self, table: str, version: int) -> dict:
        """Restore the table to a still-retained ``version`` — published
        as a NEW commit referencing the old version's files (nothing
        rewrites, nothing is lost: the bad commits stay in history and
        time travel still reaches them until vacuum retention expires
        them). The undo button a bad pipeline run needs."""
        cur = self._current_version(table)
        m = self._snapshot(table, version)
        man = self._publish(
            table, m["files"], m.get("partition_col"),
            f"restore:v{version}", stats=m.get("stats", {}),
            expect_version=cur, dvs=m.get("dv_files"),
            dv_meta=m.get("dv_meta"),
            # pin the RESTORED version's schema log ([] when it had
            # none) — auto-carry would wrongly keep the abandoned
            # chain's later evolutions
            schema_ops=m.get("schema_ops") or [],
        )
        return {"version": man["version"], "restored_from": version}

    # -- schema evolution --------------------------------------------------

    _WIDENINGS = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"), ("float", "double"),
    }

    def evolve_schema(
        self, table: str, *,
        add: dict[str, object] | None = None,
        rename: dict[str, str] | None = None,
        drop: list[str] | None = None,
        widen: dict[str, str] | None = None,
    ) -> dict:
        """Metadata-only schema evolution — no data file
        is read or rewritten, matching Iceberg/Delta column mapping:

        - ``rename={'old': 'new'}``: reads surface the new name for
          files of every age; appends use the new name.
        - ``add={'col': 'type'}`` or ``{'col': ('type', default_sql)}``:
          rows from files written BEFORE the add read as ``default_sql``
          (or NULL) — Iceberg initial-default semantics; later appends
          supply real values.
        - ``drop=['col']``: reads hide the column; re-adding the same
          name later yields the new default, never the dropped ghost
          values (the ordered op log guarantees it).
        - ``widen={'col': 'bigint'}``: safe type widening per the
          Iceberg rules (int->bigint, float->double, smaller ints up).

        The op log lives in the manifest and applies per file-group at
        read, so a 100 TB table evolves in one pointer swap; rewrites
        (compact, DML) materialize the evolved schema as they touch
        files, and the guarded ops become no-ops behind them. Prior
        versions time-travel under their own op log. Within one call,
        ops apply in order: rename, add, drop, widen.

        Returns the new manifest dict.
        """
        m = self._adopt_if_legacy(table)
        if not m["files"]:
            raise FileNotFoundError(f"table {table!r} has no data")
        cur = dict(self.read(table).dtypes)
        pcol = m.get("partition_col")
        new_ops: list[dict] = []
        for old, new in (rename or {}).items():
            if old not in cur:
                raise ValueError(f"rename: no column {old!r} in {sorted(cur)}")
            if new in cur:
                raise ValueError(f"rename: column {new!r} already exists")
            if old == pcol:
                raise ValueError(
                    f"rename: {old!r} is the partition column — its name "
                    "is baked into file paths; evolve_partitioning first"
                )
            new_ops.append({"op": "rename", "from": old, "to": new})
            cur[new] = cur.pop(old)
        for col, spec in (add or {}).items():
            if col in cur:
                raise ValueError(f"add: column {col!r} already exists")
            typ, default = (
                spec if isinstance(spec, (tuple, list)) else (spec, None)
            )
            new_ops.append(
                {"op": "add", "col": col, "type": typ, "default": default}
            )
            cur[col] = typ
        for col in (drop or []):
            if col not in cur:
                raise ValueError(f"drop: no column {col!r} in {sorted(cur)}")
            if col == pcol:
                raise ValueError(f"drop: {col!r} is the partition column")
            new_ops.append({"op": "drop", "col": col})
            cur.pop(col)
        for col, typ in (widen or {}).items():
            if col not in cur:
                raise ValueError(f"widen: no column {col!r} in {sorted(cur)}")
            if (cur[col], typ) not in self._WIDENINGS:
                raise ValueError(
                    f"widen: {cur[col]} -> {typ} is not a safe widening "
                    f"(allowed: {sorted(self._WIDENINGS)})"
                )
            new_ops.append({"op": "widen", "col": col, "type": typ})
            cur[col] = typ
        if not new_ops:
            return m
        return self._publish(
            table, m["files"], pcol, "evolve_schema",
            stats=self._remap_stats_for_ops(m.get("stats", {}), new_ops),
            expect_version=m["version"],
            dvs=m.get("dv_files"), dv_meta=m.get("dv_meta"),
            schema_ops=(m.get("schema_ops") or []) + new_ops,
        )

    def _remap_stats_for_ops(self, stats: dict, ops: list[dict]) -> dict:
        """Carry per-file stats THROUGH this call's rename/drop ops so
        pruning keys always mean the current logical column:

        - drop: strip the column's bounds/nulls/bloom — otherwise a
          later re-add of the same name would prune old files with the
          dropped ghost's bounds while the read surfaces the new
          default (silently missing rows in scan/DML candidates).
        - rename: re-key bounds and null counts to the new name (the
          old files' values are unchanged, so their bounds stay exact
          for the new logical name — pruning power is retained), but
          DROP the bloom: bloom bit positions are seeded by the column
          name (``_bloom_hashes``), so a re-keyed bloom would probe
          with the new name against bits set under the old one and
          could false-negative — a correctness bug, not a precision
          loss.

        add/widen need nothing: added columns have no old-file stats
        (unprunable, correct for default-valued reads) and widening
        keeps bounds comparable."""
        remap = [o for o in ops if o["op"] in ("rename", "drop")]
        if not remap:
            return stats
        out = {}
        for rel, entry in stats.items():
            e = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in entry.items()
            }
            for o in remap:
                if o["op"] == "rename":
                    frm, to = o["from"], o["to"]
                    if frm in e:
                        e[to] = e.pop(frm)
                    nulls = e.get(self._NULLS_KEY)
                    if isinstance(nulls, dict) and frm in nulls:
                        nulls[to] = nulls.pop(frm)
                    bloom = e.get(self._BLOOM_KEY)
                    if isinstance(bloom, dict):
                        bloom.pop(frm, None)
                else:
                    col = o["col"]
                    e.pop(col, None)
                    for sub in (self._NULLS_KEY, self._BLOOM_KEY):
                        d = e.get(sub)
                        if isinstance(d, dict):
                            d.pop(col, None)
            out[rel] = e
        return out

    def partition_profile(self, table: str) -> list[dict]:
        """Per-partition profile from the MANIFEST alone (no data
        files touched): files, rows (None when any file predates row
        stats), bytes (None when any file's size is unreadable — a
        partial sum would be indistinguishable from a real total) —
        the skew/small-file triage view for a partitioned 100 TB
        table. Unpartitioned tables return one row with
        partition=None."""
        m = self._adopt_if_legacy(table)
        stats = m.get("stats", {})
        pcol = m.get("partition_col")
        base = self.path(table)
        prof: dict[object, dict] = {}
        for rel in m["files"]:
            pv = self._partition_of(rel, pcol) if pcol else None
            e = prof.setdefault(
                pv, {"partition": pv, "files": 0, "rows": 0, "bytes": 0}
            )
            e["files"] += 1
            rows = stats.get(rel, {}).get(self._ROWS_KEY)
            if rows is None or e["rows"] is None:
                e["rows"] = None
            else:
                e["rows"] += rows
            if e["bytes"] is not None:
                try:
                    e["bytes"] += os.path.getsize(os.path.join(base, rel))
                except OSError:
                    # None sentinel, sticky (mirrors rows): a partial
                    # sum would read as a real total.
                    e["bytes"] = None
        return sorted(
            prof.values(), key=lambda d: (d["partition"] is None,
                                          str(d["partition"]))
        )

    def fsck(self, table: str) -> dict:
        """Integrity report for a table: manifest entries
        whose data files are MISSING on disk (a reader would fail —
        e.g. a source table vacuumed out from under a shallow clone)
        and on-disk parquet files referenced by NO retained manifest
        (space leaks a vacuum would reclaim). Read-only; pairs with
        ``vacuum`` the way fsck pairs with gc."""
        base = self.path(table)
        referenced = set().union(*self._referenced_files(table).values())
        missing = [
            f for f in sorted(referenced)
            if not os.path.isfile(os.path.join(base, f))
        ]
        on_disk: set[str] = set()
        for root, dirs, fs in os.walk(base):
            dirs[:] = [d for d in dirs if d != "_manifests"]
            for f in fs:
                if f.endswith(".parquet"):
                    on_disk.add(
                        os.path.normpath(
                            os.path.relpath(os.path.join(root, f), base)
                        )
                    )
        unreferenced = sorted(on_disk - referenced)
        live = {
            os.path.normpath(f) for f in self._manifest(table)["files"]
        }
        return {
            "live_files": len(live),
            "missing": missing,
            "missing_live": sorted(set(missing) & live),
            "unreferenced": unreferenced,
            "ok": not (set(missing) & live),
        }


def evolve_partitioning(
    wh: "Warehouse", table: str, partition_col: str | None
) -> dict:
    """Atomic partition-layout evolution: rewrite the
    table's CURRENT image (deletion vectors applied) under a new
    partition column — or unpartitioned with ``None`` — and publish one
    manifest. Readers resolve either the old layout or the new one,
    never a mix; prior versions stay time-travelable under their
    original layout because each manifest pins its own file list and
    partition_col (layout is a property of the VERSION, exactly as in
    Iceberg partition-spec evolution — no eager rewrite of history).

    Unlike engines that only re-route NEW data to the new spec, this
    rewrites the current snapshot (one full pass) so pruning on the new
    column applies to the whole table immediately — the right trade
    when the evolution motive IS scan pruning. The publish is checked
    against the version the rewrite read, so a writer that commits in
    between raises ConcurrentWriteError instead of being dropped. Like
    a full overwrite, the rewrite materializes the evolved schema and
    resets the schema-evolution log.

    Returns the new manifest dict.
    """
    m = wh._adopt_if_legacy(table)
    df = wh._read_files_dv(table, m, m["files"])
    if partition_col is not None and partition_col not in df.columns:
        raise ValueError(
            f"partition column {partition_col!r} not in table columns "
            f"{df.columns}"
        )
    wh.check_constraints(table, df)
    return wh._rewrite(table, m, m["files"], df, partition_col,
                       "evolve_partitioning", schema_ops=[])[0]
