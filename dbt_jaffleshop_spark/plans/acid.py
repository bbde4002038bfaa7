"""Atomic snapshot tables: staged-commit writes for mart materialization.

The reference's stated warehouse targets (Databricks/Snowflake — README.md:43)
give marts ACID table semantics for free; BASELINE.json's approach line says
"Spark SQL + Delta/Iceberg". This container has neither Delta nor Iceberg, so
the engine implements the same commit protocol those formats use, reduced to
its load-bearing core (an Iceberg-style snapshot log):

* **Immutable data files.** Every write lands new parquet files under
  ``<table>/data/`` (moved from a staging dir; Spark's per-job UUID file
  names guarantee no collision). Files are NEVER overwritten or deleted by
  a commit — only by an explicit ``vacuum``.
* **Manifests.** A version is a JSON manifest (``_versions/v<N>.json``)
  listing exactly the data files visible in that snapshot. An incremental
  commit writes files for the affected partitions only and carries forward
  the untouched partitions' files BY REFERENCE — the 100 TB contract:
  commit cost is O(changed data), not O(table).
* **Atomic pointer swap.** ``_CURRENT`` names the live version and is
  replaced with ``os.replace`` (atomic on POSIX; on an object store this is
  the metastore/catalog pointer swap). A reader resolves ``_CURRENT`` once
  and then reads only that snapshot's files, so a concurrent commit is
  invisible to it: it sees the old version in full, never a partial mix.
* **One write path.** ``overwrite``, ``append``, ``append_from`` and
  ``replace_partitions_and_append`` (with ``overwrite_partitions``) all
  commit through ``_write``: stage the new rows once, then per commit
  attempt re-read the live manifest, check layout and schema, enforce
  CHECK constraints on the staged files, and commit the kept files plus
  the staged ones. The single per-writer choice is which files are kept
  and from which manifest: none (overwrite), all of the live one
  (append), all of a pinned snapshot (append_from), or all but the
  replaced partition directories of the live or pinned one. Table state
  (constraints, the stats declaration, per-file stats, the ``evolved``
  marker) always comes from the live manifest, so a lost race retried
  against the winner can never drop or bypass it.

Readers load the file list with ``basePath = <table>/data`` so Hive-style
partition directories (``order_month=.../``) still yield partition columns
and PartitionFilters pruning — snapshot isolation costs no pruning.

Reference parity note: the reference delegates atomicity to the warehouse
(e.g. Delta on Databricks); this module is the engine-side equivalent, cited
against BASELINE.json's "Delta/Iceberg" approach line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_VERSIONS = "_versions"
_CURRENT = "_CURRENT"
_DATA = "data"
_STAGING = "_staging"


def _backoff(attempt: int) -> None:
    """Grow the wait between commit retries. Without it a losing writer
    can burn every retry inside the winner's create-manifest-to-
    pointer-swap window (the loser re-reads a stale _CURRENT, recomputes
    the same parent, and re-hits the claimed slot in microseconds —
    faster than the winner can finish writing a large file list)."""
    import time

    time.sleep(0.02 * (attempt + 1))


class CommitConflictError(RuntimeError):
    """Another writer committed since this commit's parent snapshot was
    read. The staged files are still valid — re-read the current manifest,
    recompute the file list, and retry the commit (``append`` does this
    internally; see its retry loop)."""


class ConcurrentWriteError(ValueError):
    """A concurrent commit changed the table between an operation's READ
    phase and its commit, and the staged result was computed from the
    now-stale snapshot — retry-merging the file lists would silently drop
    the concurrent writer's rows. Delta raises ConcurrentAppendException
    for the same condition on MERGE. Subclasses ValueError so the commit
    retry loop ABORTS (discarding the staged files) instead of retrying:
    the whole read-transform-write must be re-run by the caller."""


class AcidTable:
    """A snapshot-versioned parquet table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, _DATA)
        self.versions_dir = os.path.join(path, _VERSIONS)

    # ------------------------------------------------------------ metadata

    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.path, _CURRENT))

    def current_version(self) -> int:
        with open(os.path.join(self.path, _CURRENT)) as f:
            return int(f.read().strip().removeprefix("v"))

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.versions_dir, f"v{v:06d}.json")) as f:
            return json.load(f)

    # -------------------------------------------------------------- commit

    def _stage(
        self,
        df: DataFrame,
        partition_by: list[str],
        max_records_per_file: int | None = None,
    ) -> tuple[str, list[str]]:
        """Write ``df`` into a staging dir; move the produced parquet files
        into ``data/`` under their partition dirs. Returns (staging dir,
        data-relative paths of the new files). Nothing is visible to
        readers until the manifest + pointer commit."""
        stage = os.path.join(self.path, _STAGING, uuid.uuid4().hex)
        if partition_by:
            # Co-locate each partition's rows into one task before the
            # partitioned write: without this every task writes a file
            # into every partition dir (tasks × partitions small files —
            # measured 800 files for the sf0.1 orders mart, 25 after).
            df = df.repartition(*partition_by)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            # Bounds each task's output file size — the mechanism behind
            # compact()'s target_files_per_partition knob. Deterministic
            # (unlike a salted repartition, which AQE's partition
            # coalescing silently collapses back to one task).
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)

        new_files: list[str] = []
        for f in glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(f, stage)
            dest = os.path.join(self.data_dir, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            # Spark part-file names embed the write job's UUID — unique
            # across commits, so moves never collide with live files.
            os.replace(f, dest)
            # restamp mtime: os.replace preserves the STAGING write time,
            # which may long predate this move (big write, slow stage) —
            # vacuum's orphan-grace clock must start at data/ arrival or
            # a slow writer's files could look grace-expired while still
            # in flight.
            os.utime(dest, None)
            new_files.append(rel)
        return stage, sorted(new_files)

    def _commit(
        self,
        files: list[str],
        partition_by: list[str],
        meta: dict | None = None,
        expected_parent: int | None = None,
    ) -> int:
        """Write the next manifest, then atomically swap ``_CURRENT``.

        Optimistic concurrency (the Iceberg commit protocol's conflict
        check): ``expected_parent`` records the snapshot this commit was
        computed against. The manifest slot ``v<parent+1>.json`` is
        claimed with an EXCLUSIVE create (O_CREAT|O_EXCL — atomic on
        POSIX; on an object store this is the catalog's compare-and-swap),
        so when two writers race the same parent, exactly one wins and
        the loser gets :class:`CommitConflictError` instead of silently
        overwriting the winner's manifest (last-write-wins lost update).
        ``expected_parent=None`` (single-writer callers, e.g. the
        pipeline scheduler which never runs two writers on one table)
        resolves the parent at commit time — the exclusive create still
        protects the slot."""
        import datetime as _dt

        os.makedirs(self.versions_dir, exist_ok=True)
        cur_v = self.current_version() if self.exists() else 0
        if expected_parent is not None and cur_v != expected_parent:
            raise CommitConflictError(
                f"{self.path}: expected parent v{expected_parent}, "
                f"current is v{cur_v} — another writer committed first"
            )
        next_v = (expected_parent if expected_parent is not None else cur_v) + 1
        manifest = {
            "version": next_v,
            "partition_by": partition_by,
            "files": files,
            # wall-clock commit time (UTC) — metadata only, never part of
            # query semantics: it powers timestamp time travel
            # (read_as_of), Iceberg's FOR TIMESTAMP AS OF
            "commit_ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            # free-form commit metadata (e.g. the producing model's
            # code+inputs fingerprint, for state-aware rebuild skip)
            "meta": meta or {},
        }
        mpath = os.path.join(self.versions_dir, f"v{next_v:06d}.json")
        try:
            fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise CommitConflictError(
                f"{self.path}: manifest slot v{next_v} already claimed by "
                f"a concurrent (or crashed) writer"
            ) from None
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)

        cur = os.path.join(self.path, _CURRENT)
        tmp = cur + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(f"v{next_v}")
        os.replace(tmp, cur)  # the atomic commit point
        return next_v

    @staticmethod
    def _schema_map(df: DataFrame) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def _require_schema(
        self, stored: dict | None, mine: dict, evolving: bool = False
    ) -> None:
        """Refuse a write whose columns drift from the table's schema.
        Parquet files are self-describing, so the write itself would not
        fail, but a later read would silently resolve to ONE of the
        schemas (Spark samples a file's footer unless mergeSchema is on),
        dropping or nulling columns with no error. ``evolving`` (an
        ``append(merge_schema=True)``) also accepts a table schema that
        is a same-typed SUBSET of ``mine``: the evolved superset
        supersedes it."""
        if not stored or stored == mine:
            return
        if evolving and all(mine.get(c) == t for c, t in stored.items()):
            return
        raise ValueError(
            f"{self.path}: write schema {mine} does not match table "
            f"schema {stored}"
        )

    def _evolve_schema(self, df: DataFrame, stored: dict) -> DataFrame:
        """Additive schema evolution (Delta's mergeSchema, manifest-level):
        the write may ADD columns (appended after the stored order) and
        may OMIT stored columns (filled with typed nulls so every file
        carries the full evolved schema); a TYPE change on a shared
        column is refused — silent widening/narrowing corrupts readers,
        and a type migration is a rewrite, not an append. Returns the
        frame aligned to the evolved schema. Old files are NOT
        rewritten: :meth:`read` projects evolved snapshots through the
        manifest schema, so pre-evolution files surface typed nulls for
        the added columns — at 100 TB an added column costs one manifest
        commit, never a corpus rewrite."""
        mine = self._schema_map(df)
        clash = {
            c: (stored[c], mine[c])
            for c in stored
            if c in mine and stored[c] != mine[c]
        }
        if clash:
            raise ValueError(
                f"{self.path}: merge_schema cannot change column types "
                f"{clash} — evolution is additive-only; a type change "
                "needs an explicit overwrite"
            )
        from pyspark.sql import functions as F

        evolved = {**stored, **{c: t for c, t in mine.items() if c not in stored}}
        return df.select(
            *[
                F.col(c) if c in mine else F.lit(None).cast(t).alias(c)
                for c, t in evolved.items()
            ]
        )

    # ------------------------------------------------- write-time file stats

    def _commit_table_state(self, build, max_retries: int = 5) -> int:
        """Metadata-only table-state commits (constraint add/drop, stats
        declaration) retried like every data writer (r13 review — the
        same reopened-race class as the r11/r12 stats/constraint
        recheck fixes): these ops validate/compute against the manifest
        they read, so losing a race to a concurrent append used to
        surface a raw CommitConflictError to the caller. Each attempt
        re-reads the LIVE manifest and re-runs ``build(m) -> meta``
        against it — for add_constraint that re-validates the winner's
        newly landed rows too, so a retry can still refuse loudly (a
        ValueError from build is terminal, never retried)."""
        for attempt in range(max_retries + 1):
            try:
                m = self.manifest()
                meta = build(m)
                return self._commit(
                    m["files"],
                    m["partition_by"],
                    meta,
                    expected_parent=m["version"],
                )
            except (CommitConflictError, FileNotFoundError):
                # FileNotFoundError = concurrent vacuum expired the
                # manifest between the pointer read and the open —
                # retryable, like everywhere else in the protocol
                if attempt == max_retries:
                    raise
                _backoff(attempt)

    def set_stats_columns(self, cols: list[str]) -> int:
        """Declare the columns every writer collects per-file [min, max]
        stats for (Delta's ``dataSkippingStatsColumns`` analogue).
        Without this, stats exist only where ``optimize_zorder`` computed
        them — appended files were unskippable until the next layout
        rewrite. With it, every commit's NEW files get footer-read stats
        (O(files) driver-side, no data scan) merged into the manifest,
        so scan-time file skipping (plans/layout.py ``prune_files``)
        covers streaming appends the moment they land. Existing live
        files are backfilled here, once. The declaration is sticky
        across every commit flavor, like constraints."""
        from .layout import file_column_stats

        def build(m: dict) -> dict:
            backfill = file_column_stats(
                self.data_dir, m["files"], set(cols)
            )
            prev_stats = m.get("meta", {}).get("stats", {})
            live = {
                f: s for f, s in prev_stats.items() if f in set(m["files"])
            }
            return {
                **m.get("meta", {}),
                "stats_columns": list(cols),
                "stats": {**live, **backfill},
            }

        return self._commit_table_state(build)

    # ---------------------------------------------------- CHECK constraints

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """The table's CHECK constraints (name → boolean SQL expression),
        as recorded in the manifest."""
        if not self.exists():
            return {}
        return dict(self.manifest(version).get("meta", {}).get("constraints", {}))

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """Declare a CHECK constraint (Delta's ``ADD CONSTRAINT``
        semantics): the CURRENT snapshot must already satisfy it (one
        scan, here and never again), and every subsequent write refuses
        to commit rows for which the expression is not TRUE — null
        counts as a violation (Delta's CheckDeltaInvariant enforcement;
        STRICTER than ANSI SQL CHECK, where unknown satisfies the
        constraint). Write-time enforcement is the
        third quality gate beside the declarative post-materialization
        tests (testing/generic.py) and the WAP audit (plans/wap.py) —
        it stops bad data from LANDING instead of detecting it after.

        The constraint rides in the manifest meta and is sticky across
        appends, pinned-base appends, partition replaces, full
        overwrites, and compaction; ``restore`` returns to the restored
        version's constraint set (constraints are table state like
        schema). Commits a metadata-only manifest (same files), which
        the changes() feed ignores by construction (no file diff).

        Each commit attempt resolves the manifest, validates THAT
        version's rows, and parents the commit on it — a row landing
        between the validation scan and the commit loses the parent
        check, and the retry re-validates against the winner's manifest
        (r13: previously the raw CommitConflictError surfaced to the
        caller), so a constraint can never activate over rows the
        current snapshot holds unvalidated; a violating concurrent row
        still refuses loudly. In-flight writers run their own
        per-attempt recheck against the committed set."""
        def build(m: dict) -> dict:
            # per-attempt: a retry re-validates against the WINNER's
            # manifest, so rows a concurrent append landed mid-commit
            # are checked too (and can still refuse loudly)
            self._violations_or_raise(
                self.read(spark, version=m["version"]),
                {name: expr},
                "existing rows",
            )
            cons = {**m.get("meta", {}).get("constraints", {}), name: expr}
            return {**m.get("meta", {}), "constraints": cons}

        return self._commit_table_state(build)

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""

        def build(m: dict) -> dict:
            cons = dict(m.get("meta", {}).get("constraints", {}))
            if name not in cons:
                raise ValueError(
                    f"{self.path}: no constraint named {name!r}"
                )
            del cons[name]
            return {**m.get("meta", {}), "constraints": cons}

        return self._commit_table_state(build)

    def _violations_or_raise(
        self, df: DataFrame, cons: dict[str, str], what: str
    ) -> None:
        """Refuse rows where any constraint is not TRUE. ONE filter scan
        evaluates every constraint together (r11 ADVICE: N constraints
        used to cost N scans per write); the first violating row and the
        first constraint it breaks are named so the refusal is
        actionable."""
        from pyspark.sql import functions as F

        if not cons:
            return
        items = sorted(cons.items())
        flags = [
            F.coalesce(F.expr(expr), F.lit(False)).alias(f"__ok_{i}")
            for i, (_name, expr) in enumerate(items)
        ]
        all_ok = " AND ".join(f"__ok_{i}" for i in range(len(items)))
        bad = (
            df.select(F.struct(*df.columns).alias("__row"), *flags)
            .where(~F.expr(all_ok))
            .limit(1)
            .collect()
        )
        if bad:
            row = bad[0]
            name, expr = next(
                (n, e)
                for i, (n, e) in enumerate(items)
                if not row[f"__ok_{i}"]
            )
            raise ValueError(
                f"{self.path}: CHECK constraint {name!r} ({expr}) "
                f"violated by {what}: {row['__row'].asDict()}"
            )

    def _staged_frame(
        self, spark: SparkSession, files: list[str], schema_map: dict
    ) -> DataFrame:
        """Scan staged (not-yet-committed) files under the write's
        declared schema — partition-directory columns are cast back to
        their pre-write types instead of inferred."""
        paths = [os.path.join(self.data_dir, f) for f in files]
        ddl = ", ".join(f"`{c}` {t}" for c, t in schema_map.items())
        return (
            spark.read.schema(ddl)
            .option("basePath", self.data_dir)
            .parquet(*paths)
        )

    def _discard_staged(self, files: list[str]) -> None:
        """Remove staged-but-never-committed data files. They are
        exclusively this writer's (unique part-file names, referenced by
        no manifest), so discarding on a failed commit cannot touch live
        data — and avoids leaking one table copy per failed attempt
        until a vacuum."""
        import contextlib

        for rel in files:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.data_dir, rel))

    def _commit_with_retry(
        self,
        stage: str,
        staged_files: list[str],
        partition_by: list[str],
        recompute,
        max_retries: int = 5,
    ) -> int:
        """The ONE commit-retry protocol every staged write goes through.

        ``recompute() -> (all_files, expected_parent, meta)`` runs once
        per attempt: it re-reads the CURRENT manifest, re-validates
        compatibility (a concurrent commit may have changed layout,
        schema or table state since this writer's pre-stage checks) and
        derives the attempt's file list and manifest meta from it, so a
        retry never commits a previous attempt's stale merge. Raising
        ValueError from recompute aborts the commit. On a lost race the
        loop backs off and re-runs recompute against the winner's
        manifest. On ANY terminal failure (retries exhausted,
        incompatible concurrent change, or an unexpected error) the
        staged files are discarded — no silent disk leak. A
        FileNotFoundError retries like a conflict: it means a concurrent
        vacuum expired the manifest between recompute's pointer read and
        the open; the next attempt reads the newer pointer."""
        try:
            for attempt in range(max_retries + 1):
                try:
                    files, parent, meta = recompute()
                    return self._commit(
                        files, partition_by, meta, expected_parent=parent
                    )
                except (CommitConflictError, FileNotFoundError):
                    if attempt == max_retries:
                        raise
                    _backoff(attempt)
            raise AssertionError("unreachable")
        except BaseException:
            self._discard_staged(staged_files)
            raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _write(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        meta: dict | None,
        *,
        keep=None,
        base_version: int | None = None,
        validate=None,
        merge_schema: bool = False,
        max_retries: int = 5,
    ) -> int:
        """The one data-write path: stage ``df`` once, then commit the
        files the new snapshot keeps plus the staged ones.

        ``keep(files) -> kept`` is the only per-writer choice: which of
        the SOURCE manifest's files survive. The source is the pinned
        ``base_version`` snapshot when given, else the live manifest,
        re-read on every attempt. ``keep=None`` (a full overwrite)
        keeps nothing and reads no source, so it may change the
        table's layout and schema; every other writer must match the
        source's layout and schema (``merge_schema`` evolves the write
        additively instead, see :meth:`_evolve_schema`).

        Table STATE always comes from the LIVE manifest the commit
        parents on, resolved per attempt in ``recompute``: the CHECK
        constraints (a concurrently added one is enforced on the staged
        files, a concurrently dropped one is not resurrected), the
        stats declaration (this write's files get footer-read stats for
        it), the per-file stats of kept files (the live entries win over
        a pinned source's: a concurrent re-declaration backfilled them
        under the declaration being committed) and the sticky
        ``evolved`` marker. A concurrent commit can therefore neither be
        silently undone nor bypassed by a retry.

        ``validate(live_manifest)`` runs inside every attempt, against
        the manifest the commit would build on (raise ValueError to
        abort; the staged files are discarded)."""
        from .layout import file_column_stats

        src0 = None
        if keep is not None and (base_version is not None or self.exists()):
            src0 = self.manifest(base_version)
            layout = src0["partition_by"]
            if partition_by is not None and list(partition_by) != layout:
                raise ValueError(
                    f"{self.path}: write partition_by={partition_by} "
                    f"conflicts with the table's layout {layout}"
                )
            partition_by = layout
            stored = src0.get("meta", {}).get("schema") or {}
            if merge_schema:
                df = self._evolve_schema(df, stored)
            self._require_schema(stored, self._schema_map(df), merge_schema)
        partition_by = list(partition_by or [])
        mine = self._schema_map(df)
        meta = {**(meta or {}), "schema": mine}
        if merge_schema and src0 is not None:
            meta["evolved"] = True
        spark = df.sparkSession
        stage, files = self._stage(df, partition_by)
        validated: dict[str, str] = {}  # constraints enforced on the staged files
        footer: dict[tuple, dict] = {}  # stats columns -> staged files' stats

        def recompute() -> tuple[list[str], int, dict]:
            # ONE live-manifest read feeds the validate hook, the checks,
            # the table state AND expected_parent: with two pointer
            # reads, a commit landing between them would pass validate
            # yet be silently replaced
            live = self.manifest() if self.exists() else None
            src = src0 if base_version is not None else live
            kept = keep(src["files"]) if keep is not None and src else []
            if live is None:
                return sorted(kept + files), 0, meta
            if validate is not None:
                validate(live)
            if keep is not None:
                if live["partition_by"] != partition_by:
                    # a concurrent creator/overwrite changed the layout:
                    # the staged files don't fit its directories
                    raise ValueError(
                        f"{self.path}: concurrent writer changed "
                        f"partition_by to {live['partition_by']}; staged "
                        f"{partition_by}"
                    )
                self._require_schema(
                    live.get("meta", {}).get("schema"), mine, merge_schema
                )
            state = live.get("meta", {})
            cons = state.get("constraints", {})
            unchecked = {
                n: e for n, e in cons.items() if validated.get(n) != e
            }
            if unchecked and files:
                # enforced on the STAGED files, the commit's actual
                # content — never the caller's frame, whose plan may be
                # nondeterministic; ONE scan for all
                self._violations_or_raise(
                    self._staged_frame(spark, files, mine),
                    unchecked,
                    "this write",
                )
            validated.update(unchecked)
            out = {k: v for k, v in meta.items() if k != "constraints"}
            if cons:
                out["constraints"] = dict(cons)
            if keep is not None and (
                state.get("evolved") or src.get("meta", {}).get("evolved")
            ):
                # kept files may predate a schema evolution: reads must
                # keep projecting through the manifest schema
                out["evolved"] = True
            kept_set = set(kept)
            stats = {
                f: s
                for m in (src, live)
                for f, s in m.get("meta", {}).get("stats", {}).items()
                if f in kept_set
            }
            stats.update(meta.get("stats", {}))
            cols = state.get("stats_columns")
            if cols:
                out["stats_columns"] = list(cols)
                if tuple(cols) not in footer:
                    footer[tuple(cols)] = file_column_stats(
                        self.data_dir, files, set(cols)
                    )
                stats.update(footer[tuple(cols)])
            if stats:
                out["stats"] = stats
            return sorted(kept + files), live["version"], out

        return self._commit_with_retry(
            stage, files, partition_by, recompute, max_retries
        )

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
        validate=None,
    ) -> int:
        """Full-table overwrite as a new snapshot (old files untouched).

        On a commit conflict the staged files ARE the complete new table,
        so the retry only refreshes the parent version — by overwrite
        semantics the concurrent commit's content is replaced. CHECK
        constraints and the stats declaration are table state, not
        snapshot content: they survive the rewrite (Delta table-property
        semantics) and the replacement rows must satisfy them.

        ``validate(cur_manifest)`` (optional) runs inside every commit
        attempt against the manifest the commit would replace — the hook
        read-transform-write callers (``merge_rows``) use to detect a
        concurrent commit since their read (raise ValueError to abort)."""
        return self._write(df, partition_by, meta, validate=validate)

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
        max_retries: int = 5,
        merge_schema: bool = False,
    ) -> int:
        """Append ``df`` as a new snapshot: stage its files, commit the
        previous snapshot's files + the new ones in one manifest. The
        streaming-sink primitive — each micro-batch lands atomically, so a
        reader always sees a consistent prefix of committed batches.

        Concurrent-writer safe: the commit records the parent snapshot it
        merged against; if another writer lands first, the staged files
        (already unique-named in ``data/``) are RE-merged against the new
        current manifest and the commit retried — both appends survive,
        no lost update (Iceberg's append-retry semantics).

        ``merge_schema=True`` opts into ADDITIVE schema evolution (see
        :meth:`_evolve_schema`): new columns join the manifest schema,
        omitted stored columns are null-filled, type changes are refused,
        and the committed manifest is flagged ``evolved`` so
        :meth:`read` projects EVERY file — including pre-evolution ones —
        through the manifest schema. Old files are never rewritten."""
        return self._write(
            df, partition_by, meta, keep=list, merge_schema=merge_schema,
            max_retries=max_retries,
        )

    def append_from(
        self,
        df: DataFrame,
        base_version: int,
        meta: dict | None = None,
    ) -> int:
        """Append relative to a PINNED snapshot: the committed manifest
        references exactly ``manifest(base_version).files`` plus this
        write's staged files — commits that landed SINCE the base
        contribute nothing (their files stay referenced only by their
        own manifests). Table state (constraints, stats declaration,
        layout and schema checks) still follows the live manifest the
        commit parents on.

        The multi-table-transaction building block (used by the dedup
        index, llm/dedup_incremental.py): when several tables change
        together and an external pointer (the index's meta table) is the
        transaction's serialization point, each table's change must be
        computed FROM the pointer's pinned snapshot and must NOT merge a
        concurrent writer's or a crashed attempt's rows the way
        ``append`` deliberately does — the pointer swap's own validation
        decides which transaction wins, and the loser's (or the crashed
        attempt's) versions become unreferenced garbage for vacuum.
        Crash-rerun idempotence follows: re-running the same logical
        append against the same ``base_version`` yields base + exactly
        this attempt's rows, however many earlier attempts died
        mid-sequence."""
        return self._write(
            df, None, {**(meta or {}), "append_from": base_version},
            keep=list, base_version=base_version,
        )

    def overwrite_partitions(
        self, df: DataFrame, part_col: str, values: list,
        meta: dict | None = None,
        validate=None,
        base_version: int | None = None,
    ) -> int:
        """Dynamic-partition overwrite, atomically: stage files for the
        affected partitions, carry forward every other partition's files
        by reference, commit one new manifest. The dbt `incremental`
        materialization with Iceberg commit semantics — cost O(changed
        partitions); a reader mid-commit sees old-everything or
        new-everything, never a half-rewritten partition. Retry-merge
        like append: a concurrent append to ANOTHER partition survives
        this commit; a concurrent layout/schema change aborts it.

        ``base_version`` pins the carried-forward file set to that
        snapshot (see :meth:`replace_partitions_and_append`).

        (The append_df=None degenerate case of
        :meth:`replace_partitions_and_append` — one shared commit path.)"""
        return self.replace_partitions_and_append(
            df, part_col, values, append_df=None, meta=meta,
            validate=validate, base_version=base_version,
        )

    def replace_partitions_and_append(
        self,
        replace_df: DataFrame,
        part_col: str,
        values: list,
        append_df: DataFrame | None,
        meta: dict | None = None,
        validate=None,
        base_version: int | None = None,
    ) -> int:
        """Atomically replace the ``values`` partitions with ``replace_df``
        AND append ``append_df``'s rows into the other partitions — ONE
        manifest, one pointer swap.

        This is the maintenance shape of SCD2 snapshots (plans/
        snapshots.py): the open partition is rewritten (bounded by live
        entities) while newly-closed versions append to the immutable
        history partition, whose existing files are carried by
        reference — commit cost O(open + changed), never O(history).
        Two separate commits could not express this: either intermediate
        state shows a changed key duplicated (append first) or its old
        version missing (replace first).

        ``append_df`` rows falling inside the replaced partitions are
        excluded (they would duplicate ``replace_df``'s content).

        ``validate(cur_manifest)`` (optional) runs inside EVERY commit
        attempt, against the manifest the commit would build on — the
        hook for caller-level idempotence guards that must hold under
        races, not just at call time (raise ValueError to abort; the
        staged files are discarded). Without it, a check-then-act guard
        at the call site re-validates nothing after a lost race.

        ``base_version`` pins the carried-forward files (and the schema
        check) to that snapshot instead of the live pointer — the
        partition-scoped sibling of :meth:`append_from`, for multi-table
        transactions whose serialization point is an EXTERNAL meta
        pointer (llm/dedup_incremental.py): a crashed earlier attempt's
        commit sits ABOVE the pinned version on this table, and carrying
        the live manifest's files would silently build on that garbage.
        With a pin, untouched partitions come from exactly the pinned
        snapshot; commits since contribute nothing."""
        from pyspark.sql import functions as F

        affected = {f"{part_col}={v}" for v in values}
        # ONE staged write for both legs (r12): the manifest never
        # distinguishes replace-files from append-files — partitionBy
        # routes each row to its directory — so staging the union halves
        # the write jobs of every replace+append commit
        to_stage = replace_df.where(F.col(part_col).isin(list(values)))
        if append_df is not None:
            self._require_schema(
                self._schema_map(replace_df), self._schema_map(append_df)
            )
            to_stage = to_stage.unionByName(
                append_df.where(~F.col(part_col).isin(list(values)))
            )
        return self._write(
            to_stage,
            # the source's layout; a replace on a missing table raises here
            self.manifest(base_version)["partition_by"],
            meta,
            keep=lambda files: [
                f for f in files if affected.isdisjoint(f.split(os.sep))
            ],
            base_version=base_version,
            validate=validate,
        )

    def merge_rows(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        meta: dict | None = None,
    ) -> int:
        """Key-based upsert — Delta/Iceberg ``MERGE`` semantics reduced
        to the engine's commit protocol: matched keys are replaced by
        their update row, unmatched update rows insert, untouched rows
        survive. This is dbt's ``incremental_strategy: merge`` (the
        reference's warehouse targets run it as a native MERGE).

        On a partitioned table the commit rewrites ONLY the partitions
        that hold a matched key's old row or receive an update row —
        including the both-sides case of a key MOVING partitions — and
        carries every other partition's files by reference
        (O(affected partitions), the same contract as
        ``overwrite_partitions``). On an unpartitioned table a merge is
        necessarily a full rewrite; partition the table when merges
        must stay incremental.

        ``updates`` must be unique on ``key`` (multiple update rows for
        one key would make the result order-dependent — Delta's MERGE
        raises the same way).

        Merge is a READ-transform-write: the merged result is computed
        from one pinned snapshot. A concurrent commit landing between
        that read and this merge's commit would be silently dropped by a
        retry-merge (its rows live in files the kept-files filter
        excludes), so the commit carries a version guard — if the table
        version moved past the snapshot the merge read, the commit
        aborts with :class:`ConcurrentWriteError` (Delta's
        ConcurrentAppendException for the same race) and the caller
        re-runs the whole merge against the new snapshot."""
        from pyspark.sql import functions as F

        m = self.manifest()
        partition_by = m["partition_by"]
        base_version = m["version"]
        self._require_schema(
            m.get("meta", {}).get("schema"), self._schema_map(updates)
        )
        if updates.groupBy(key).count().where("count > 1").limit(1).count():
            raise ValueError(
                f"{self.path}: merge updates contain duplicate {key!r} "
                "values — the per-key result would be nondeterministic"
            )

        def _unchanged_since_read(cur_manifest: dict) -> None:
            if cur_manifest["version"] != base_version:
                raise ConcurrentWriteError(
                    f"{self.path}: merge read snapshot v{base_version} but "
                    f"v{cur_manifest['version']} is now current — a "
                    "concurrent commit's rows would be lost; re-run the merge"
                )

        # pin the scan to the validated snapshot: read() resolves the file
        # list eagerly, so the merge computes from exactly v{base_version}
        cur = self.read(spark, version=base_version)
        if not partition_by:
            merged = cur.join(
                updates.select(key), key, "left_anti"
            ).unionByName(updates)
            return self.overwrite(
                merged, partition_by=[], meta=meta,
                validate=_unchanged_since_read,
            )

        part_col = partition_by[0]
        affected = (
            cur.join(updates.select(key), key, "semi")
            .select(part_col)
            .unionByName(updates.select(part_col))
            .distinct()
        )
        # bounded driver list: partition-value cardinality, not rows
        values = [r[0] for r in affected.collect()]
        merged = (
            cur.where(F.col(part_col).isin(values))
            .join(updates.select(key), key, "left_anti")
            .unionByName(updates)
        )
        return self.overwrite_partitions(
            merged, part_col, values, meta=meta,
            validate=_unchanged_since_read,
        )

    # --------------------------------------------------------------- read

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read one snapshot: resolve the pointer once, then scan exactly
        that manifest's files. ``basePath`` keeps Hive partition-directory
        inference (and PartitionFilters pruning) intact. A snapshot with
        ZERO files (an empty table is a legal state — e.g. a snapshot
        run over an empty first source) reads as an empty DataFrame with
        the committed schema. Every writer path records meta.schema, so
        an empty snapshot WITHOUT one indicates manifest corruption —
        that raises (r6 advisor fix) instead of fabricating a
        placeholder schema that downstream unionByName/select would
        trip over confusingly or, worse, mask."""
        m = self.manifest(version)
        return self._read_files(spark, m, m["files"])

    def _read_files(
        self, spark: SparkSession, m: dict, files: list[str]
    ) -> DataFrame:
        """Scan ``files`` under ``m``'s schema rules — the shared read
        path for full snapshots (:meth:`read`) and file subsets
        (:meth:`changes` reads only a commit's added/removed files)."""
        paths = [os.path.join(self.data_dir, f) for f in files]
        if not paths:
            stored = m.get("meta", {}).get("schema") or {}
            if not stored:
                raise ValueError(
                    f"{self.path}: empty snapshot v{m['version']} has no "
                    "meta.schema — every writer records it, so its "
                    "absence indicates a corrupt manifest"
                )
            ddl = ", ".join(f"`{c}` {t}" for c, t in stored.items())
            return spark.createDataFrame([], ddl)
        reader = spark.read
        if m.get("meta", {}).get("evolved"):
            # evolved snapshot: files written before a merge_schema append
            # lack the added columns, and Spark's default (sample one
            # file's footer) would resolve the scan to WHICHEVER schema it
            # sampled. Project every file through the manifest schema
            # instead — missing columns surface as typed nulls, which is
            # the read-side half of additive evolution (Delta reads
            # through the table schema the same way).
            stored = m.get("meta", {}).get("schema") or {}
            ddl = ", ".join(f"`{c}` {t}" for c, t in stored.items())
            reader = reader.schema(ddl)
        if m["partition_by"]:
            reader = reader.option("basePath", self.data_dir)
        return reader.parquet(*paths)

    @staticmethod
    def _parse_commit_ts(ts_iso: str):
        """ISO-8601 → aware UTC datetime. Comparing the RAW strings would
        be wrong: a 'Z' suffix sorts after '+00:00', a naive timestamp
        sorts before its offset-carrying equal, and differing sub-second
        precision breaks lexicographic order — so both sides of every
        time-travel compare are parsed, with naive inputs read as UTC
        (commit_ts is always written offset-aware UTC)."""
        import datetime as _dt

        parsed = _dt.datetime.fromisoformat(ts_iso.replace("Z", "+00:00"))
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=_dt.timezone.utc)
        return parsed

    def version_as_of(self, ts_iso: str) -> int:
        """Timestamp time travel: the latest COMMITTED version whose
        wall-clock commit time is ≤ ``ts_iso`` (UTC ISO-8601; naive
        timestamps are read as UTC) — Iceberg's ``FOR TIMESTAMP AS OF``
        resolution over the snapshot log. Commits above the current
        pointer (aborted) never resolve."""
        target = self._parse_commit_ts(ts_iso)
        cur = self.current_version()
        best: int | None = None
        for v in self._all_versions():
            if v > cur:
                break
            committed = self.manifest(v).get("commit_ts")
            if committed is not None and self._parse_commit_ts(committed) <= target:
                best = v
        if best is None:
            raise ValueError(
                f"{self.path}: no snapshot committed at or before {ts_iso}"
            )
        return best

    def read_as_of(self, spark: SparkSession, ts_iso: str) -> DataFrame:
        """Read the snapshot that was current at ``ts_iso``."""
        return self.read(spark, version=self.version_as_of(ts_iso))

    def changes(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Change-data feed between two snapshots (Delta CDF semantics at
        FILE granularity): every commit in ``(v_from, v_to]`` contributes
        the rows of its ADDED files as ``insert`` events and the rows of
        its REMOVED files as ``delete`` events, tagged with
        ``_change_type`` / ``_commit_version``. Layout-only commits
        (compaction, z-order — ``meta.data_change == False``) rewrite
        files without changing logical content and are skipped; a restore
        IS a data change (the rollback's file diff is exactly its row
        diff). This is what incremental downstream consumers read at
        100 TB: I/O is O(files touched by the commits in range), never a
        snapshot scan — an append-only day costs exactly that day's
        files.

        File granularity means a full-rewrite commit (``overwrite``,
        ``merge_rows``) reports every row as delete+insert even when
        unchanged — the honest upper bound without per-row change
        tracking, same as Delta CDF's behavior for rewritten files when
        the writer doesn't emit CDC files. Partition-scoped commits
        (``overwrite_partitions``) report only the affected partitions.

        Events are projected through ``v_to``'s manifest schema, so a
        range spanning a ``merge_schema`` evolution yields one uniform
        frame (pre-evolution rows null-fill the added columns). Raises
        if a needed manifest was vacuumed — keep_last bounds how far
        back a consumer may resume. ``v_from=0`` reads from table
        INCEPTION (Delta CDF's ``startingVersion 0``): version 0 has no
        manifest, so an empty predecessor is synthesized and the first
        commit's files all surface as inserts."""
        from pyspark.sql import functions as F

        v_to = self.current_version() if v_to is None else int(v_to)
        v_from = int(v_from)
        if v_to < v_from:
            raise ValueError(
                f"{self.path}: changes range v{v_from}..v{v_to} is inverted"
            )

        def _manifest(v: int) -> dict:
            try:
                return self.manifest(v)
            except FileNotFoundError:
                raise ValueError(
                    f"{self.path}: changes(v{v_from}, v{v_to}) needs "
                    f"manifest v{v}, which was vacuumed — consumers must "
                    "resume within the vacuum keep window"
                ) from None

        if v_to == 0:
            raise ValueError(
                f"{self.path}: changes(v0, v0) — the range holds no "
                "commits (version 0 is table inception, before the "
                "first commit)"
            )
        target = _manifest(v_to)
        t_schema = target.get("meta", {}).get("schema") or {}
        if not t_schema:
            raise ValueError(
                f"{self.path}: snapshot v{v_to} has no meta.schema — "
                "every writer records it, so its absence indicates a "
                "corrupt manifest"
            )

        def _project(df: DataFrame, change: str, v: int) -> DataFrame:
            cols = [
                (
                    F.col(c).cast(t) if c in df.columns
                    else F.lit(None).cast(t)
                ).alias(c)
                for c, t in t_schema.items()
            ]
            return df.select(*cols).select(
                "*",
                F.lit(change).alias("_change_type"),
                F.lit(v).cast("bigint").alias("_commit_version"),
            )

        pieces: list[DataFrame] = []
        # v_from=0 is table inception: no manifest exists below the first
        # commit, so the predecessor is the empty table (r11 ADVICE — the
        # old code's _manifest(0) FileNotFoundError surfaced as a
        # misleading 'was vacuumed' failure for full-history bootstraps)
        prev = (
            {"version": 0, "partition_by": [], "files": [], "meta": {}}
            if v_from == 0
            else _manifest(v_from)
        )
        for v in range(v_from + 1, v_to + 1):
            cur = _manifest(v)
            if cur.get("meta", {}).get("data_change") is False:
                prev = cur
                continue
            added = sorted(set(cur["files"]) - set(prev["files"]))
            removed = sorted(set(prev["files"]) - set(cur["files"]))
            if added:
                pieces.append(
                    _project(self._read_files(spark, cur, added), "insert", v)
                )
            if removed:
                pieces.append(
                    _project(self._read_files(spark, prev, removed), "delete", v)
                )
            prev = cur
        if not pieces:
            ddl = ", ".join(f"`{c}` {t}" for c, t in t_schema.items())
            return spark.createDataFrame(
                [], f"{ddl}, `_change_type` string, `_commit_version` bigint"
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _all_versions(self) -> list[int]:
        """Every manifest on disk, sorted ascending — including aborted
        above-pointer ones (callers filter against the pointer)."""
        return sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.versions_dir, "v*.json"))
        )

    def history(self) -> list[dict]:
        """The committed snapshot log, oldest → newest (the Delta
        ``DESCRIBE HISTORY`` / Iceberg snapshots-table analogue): one
        entry per version with its file count, layout, and commit meta.
        Aborted above-pointer manifests are excluded — they were never
        visible to readers — and a manifest expired by a concurrent
        vacuum is simply skipped (history() is a reader API and must
        coexist with maintenance like every other read)."""
        committed = self.current_version() if self.exists() else 0
        out: list[dict] = []
        for v in self._all_versions():
            if v > committed:
                break  # ascending: everything past the pointer is aborted
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # expired by a concurrent vacuum
            out.append(
                {
                    "version": v,
                    "partition_by": m["partition_by"],
                    "n_files": len(m["files"]),
                    "meta": m.get("meta", {}),
                }
            )
        return out

    # ---------------------------------------------------------- compaction

    def compact(
        self,
        spark: SparkSession,
        target_files_per_partition: int = 1,
        meta: dict | None = None,
    ) -> int:
        """Rewrite the current snapshot with coalesced files (one commit).

        The maintenance job every streaming-append table needs: N
        micro-batch commits leave N small files (per partition); compact
        reads the live snapshot and commits an equivalent snapshot whose
        file count is bounded, after which ``vacuum`` reclaims the small
        files. Readers mid-compaction see the old or the new snapshot,
        never a mix — same guarantee as any other commit. At cluster
        scale, raise ``target_files_per_partition`` so each rewritten
        file stays near the HDFS/object-store sweet spot instead of
        forcing one giant file (honored for partitioned tables too: the
        largest partition's row count is measured and a
        ``maxRecordsPerFile`` bound is passed to the staging write, so
        each partition dir splits into ~target files deterministically).

        The prior manifest's ``meta`` is carried forward: compaction
        rewrites the snapshot's LAYOUT, not its logical state — in
        particular the streaming sink's ``stream_batch_id`` high-water
        mark must survive, or a micro-batch replayed after a
        crash→compact→restart sequence would be re-appended (exactly-once
        violation; round-4 advisor fix).

        On a commit conflict (a concurrent append landed while compacting)
        the compacted snapshot would silently DROP the new batch's files,
        so compact never retries — it raises and the caller re-runs
        compaction against the new snapshot."""
        m = self.manifest()
        df = self.read(spark)
        max_records = None
        if not m["partition_by"] and target_files_per_partition >= 1:
            df = df.coalesce(target_files_per_partition)
        elif m["partition_by"] and target_files_per_partition > 1:
            # Bound file size so the LARGEST partition splits into the
            # target count (smaller ones proportionally fewer) — one tiny
            # count aggregation, cheap next to the full rewrite compact
            # already pays.
            from pyspark.sql import functions as F

            biggest = (
                df.groupBy(*m["partition_by"])
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            if biggest:
                max_records = -(-int(biggest) // target_files_per_partition)
        stage, files = self._stage(
            df, m["partition_by"], max_records_per_file=max_records
        )
        try:
            commit_meta = {
                **m.get("meta", {}),
                "compacted": True,
                # data_change=False: a compaction rewrites LAYOUT, not
                # logical content — the changes() feed skips this commit
                "data_change": False,
                **(meta or {}),
            }
            # declared stats columns: the rewritten files need FRESH
            # footer stats (the carried entries key dead file names, and
            # skipping would otherwise go dark until the next zorder)
            if commit_meta.get("stats_columns"):
                from .layout import file_column_stats

                commit_meta["stats"] = file_column_stats(
                    self.data_dir, files, set(commit_meta["stats_columns"])
                )
            return self._commit(
                files,
                m["partition_by"],
                commit_meta,
                expected_parent=m["version"],
            )
        except CommitConflictError:
            # the rewritten files will never be referenced — discard
            # instead of leaking one full table copy per conflicted try
            self._discard_staged(files)
            raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    # ------------------------------------------------------------ restore

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (Delta
        `RESTORE TABLE ... TO VERSION AS OF` semantics): the next
        manifest re-references the old snapshot's immutable files — no
        data is copied, and history is preserved (the bad versions stay
        time-travelable until vacuumed; a restore is undone by another
        restore).

        Meta policy: data-state keys (``schema``/``stats``/``layout``/
        ``partition_by``) come from the RESTORED manifest — they
        describe the files now live again — while operational
        high-water marks (``stream_batch_id``, the streaming replay
        guard) carry forward from the CURRENT manifest: restoring data
        must not re-open the exactly-once replay window, or a
        checkpoint replay after the rollback would double-append
        batches that were committed before the restore point.

        Raises FileNotFoundError if any restored file was already
        vacuumed (Delta's ``spark.sql.files.ignoreMissingFiles`` escape
        hatch is deliberately not offered — a partial restore is a
        silent data loss), and CommitConflictError if a writer lands
        between the read and the commit."""
        src = self.manifest(version)
        cur_v = self.current_version()
        cur_meta = self.manifest(cur_v).get("meta", {})
        missing = [
            rel
            for rel in src["files"]
            if not os.path.exists(os.path.join(self.data_dir, rel))
        ]
        if missing:
            raise FileNotFoundError(
                f"{self.path}: cannot restore v{version} — "
                f"{len(missing)} file(s) already vacuumed "
                f"(e.g. {missing[0]})"
            )
        meta = {**src.get("meta", {}), "restored_from": version}
        # a restore CHANGES visible rows (it rolls them back) even when
        # the restored-to manifest was itself a layout-only commit — never
        # inherit its data_change=False marker, or the changes() feed
        # would silently skip the rollback
        meta.pop("data_change", None)
        if "stream_batch_id" in cur_meta:
            meta["stream_batch_id"] = cur_meta["stream_batch_id"]
        return self._commit(
            src["files"],
            src["partition_by"],
            meta,
            expected_parent=cur_v,
        )

    # ------------------------------------------------------------- vacuum

    def vacuum(
        self,
        keep_last: int = 2,
        orphan_grace_s: float = 600.0,
        protect_versions: set[int] | frozenset[int] | None = None,
    ) -> list[str]:
        """Delete data files referenced ONLY by expired snapshots (all but
        the newest ``keep_last``), then drop their manifests. keep_last≥2
        leaves the previous snapshot intact for readers that resolved it
        just before the latest commit.

        ``protect_versions`` forces specific committed versions (their
        manifests AND files) into the keep set regardless of keep_last.
        This is the hook for EXTERNAL commit pointers: a multi-table
        transaction protocol (llm/dedup_incremental.py's meta row, the
        warehouse publish pointer) can reference a version that is no
        longer among the newest ``keep_last`` — crashed attempts and
        losing concurrent writers deliberately leave newer-but-
        unreferenced commits on the table, and a count-based keep window
        alone would let two such garbage commits push the pointer-pinned
        LIVE version out and delete its files (r10 advisor finding).
        Callers that maintain a pointer must pass its pinned version
        here; versions above the committed pointer are ignored (they
        are aborted manifests, handled by the orphan grace).

        ORPHANS — artifacts referenced by no committed manifest: an
        above-pointer manifest (a writer died between claiming the slot
        and swapping ``_CURRENT``) and data files moved in by a commit
        that never landed. Vacuum cannot distinguish a CRASHED writer's
        leavings from an IN-FLIGHT writer's (one that claimed its slot or
        moved its files microseconds ago and is about to finish), so
        orphans are reclaimed only once older than ``orphan_grace_s``
        (mtime-based; staged files are re-stamped at their move into
        ``data/``, so the clock starts at arrival) — Iceberg's
        ``remove_orphan_files older_than`` rule. The grace makes
        concurrent vacuum safe for any in-flight commit window SHORTER
        than it; a writer stalled longer than the grace between staging
        and pointer swap could still lose its files, so scheduling
        vacuum away from writers remains best practice. Files referenced
        by an EXPIRED committed manifest carry no ambiguity (committed,
        then superseded) and are reclaimed immediately. Pass
        ``orphan_grace_s=0`` only when writers are provably quiesced
        (explicit repair)."""
        import time as _time

        now = _time.time()
        # a table whose FIRST commit aborted has orphan manifests but no
        # _CURRENT yet — vacuum must still repair it, not crash
        committed = self.current_version() if self.exists() else 0
        all_versions = self._all_versions()
        versions = [v for v in all_versions if v <= committed]
        keep = set(versions[-keep_last:])
        if protect_versions:
            keep.update(v for v in versions if v in protect_versions)
        live: set[str] = set()
        known: set[str] = set()  # referenced by ANY committed manifest
        for v in versions:
            files = set(self.manifest(v)["files"])
            known.update(files)
            if v in keep:
                live.update(files)
        removed: list[str] = []
        for f in glob.glob(
            os.path.join(self.data_dir, "**", "*.parquet"), recursive=True
        ):
            rel = os.path.relpath(f, self.data_dir)
            if rel in live:
                continue
            if rel not in known and now - os.path.getmtime(f) < orphan_grace_s:
                continue  # possibly an in-flight writer's staged file
            os.remove(f)
            removed.append(rel)
        for v in all_versions:
            mpath = os.path.join(self.versions_dir, f"v{v:06d}.json")
            if v in keep:
                continue
            if v > committed and now - os.path.getmtime(mpath) < orphan_grace_s:
                continue  # possibly an in-flight writer's claimed slot
            os.remove(mpath)
        return removed
