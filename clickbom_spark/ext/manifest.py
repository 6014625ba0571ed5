"""A minimal manifest-based commit protocol over a copy-on-write
parquet lake — the piece a table format adds on top of the data path:
atomic multi-file publish, snapshot isolation, time travel, and vacuum.

Layout: ``<path>/_manifests/v{N}.json`` lists the data files of
snapshot N (names relative to the table root, plus row count and a
commit message).  The live version is the highest ``v{N}.json``
present (``CURRENT`` is written as a debuggability hint only).  A
commit writes the new data files FIRST, then publishes the manifest
with an exclusive create (full content or nothing) — readers resolve
max-version → manifest → file list, so they never observe a
half-written snapshot; a crash before the publish leaves orphan data
files that ``vacuum`` collects, never a corrupt table.  Old data
files are retained (they belong to older snapshots) until ``vacuum``
drops snapshots.

Concurrency: optimistic, manifest-arbitrated.  Each version number is
single-assignment — ``v{N}.json`` is published with an exclusive
create (hard-link CAS locally; the same protocol maps to a
conditional PUT / ``If-None-Match: *`` on an object store), so two
concurrent writers racing for version N produce exactly one winner;
the loser re-resolves the new current snapshot and retries.  Mutations
(update/delete/upsert) additionally validate that the file set they
probed is still the live one and re-run their whole read-probe-rewrite
cycle on conflict (:class:`CommitConflict`), i.e. write-write
conflicts serialize instead of silently losing one writer's changes.
The reference itself is single-writer (entrypoint.sh one-shot batch);
this layer is strictly stronger.

Every row mutation (update, delete, upsert, merge_cdc, TTL delete and
TTL rollup) runs the same data path,
:meth:`VersionedLake._rewrite_matching`: probe the snapshot's explicit
file list for matching rows → rewrite only the affected subset →
commit against the snapshot read.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"


def _debug_validate_assumptions(spark: SparkSession) -> bool:
    """True when the session opts in to re-validating caller-asserted
    invariants (``keys_unique`` & co.) with real validation jobs.

    Off by default — the assertions exist so tests/CI can set
    ``spark.clickbom.debug.validateAssumptions=true`` and turn a
    silently-corrupting broken assumption into a loud failure at the
    call site.
    """
    v = spark.conf.get("spark.clickbom.debug.validateAssumptions", "false")
    return str(v).lower() == "true"


def _mdir(path: str) -> str:
    return os.path.join(path, _MANIFEST_DIR)


def current_version(path: str) -> int:
    """The live snapshot of the lake at ``path``: the highest
    ``v{N}.json`` in its manifest directory, or -1 when there is none.
    The manifest files themselves are the source of truth:
    exclusive-create makes each version single-assignment, so
    resolution never depends on the ``CURRENT`` pointer (which is still
    written, as a debuggability hint) and a stale pointer can never roll
    the table back under a concurrent writer."""
    best = -1
    try:
        names = os.listdir(_mdir(path))
    except FileNotFoundError:
        return -1
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            try:
                best = max(best, int(name[1:-5]))
            except ValueError:
                continue
    return best


def read_manifest(path: str, version: int) -> dict:
    """Snapshot ``version``'s manifest; ``FileNotFoundError`` when that
    version was never committed or has been vacuumed."""
    with open(os.path.join(_mdir(path), f"v{version}.json")) as f:
        return json.load(f)


def _parquet_num_rows(path: str) -> int:
    """Exact row count of one parquet file from its footer — metadata
    only, no data pages read.  Commit-time n_rows accounting reads the
    footers of just the files NEW to the snapshot (O(changed files),
    the Delta/Iceberg per-file-stats idea) instead of launching a
    Spark count job over the whole live set on every commit."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _write_json_atomic(target: str, payload: dict) -> None:
    tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, target)


class ConstraintViolation(ValueError):
    """A write contained rows failing a table CHECK constraint; the
    commit was refused and no snapshot was published."""


class CommitConflict(RuntimeError):
    """Another writer published a snapshot between this mutation's
    snapshot read and its commit attempt; the mutation must re-run
    against the new current snapshot (the data files it staged are
    orphans that ``vacuum`` collects)."""


class BranchMergeConflict(RuntimeError):
    """A branch merge found keys modified on BOTH sides since the
    branch point (write-write conflict).  Raised only under
    ``on_conflict='fail'``; carries a bounded sample of the
    conflicting keys in ``sample_keys``."""

    def __init__(self, message: str, sample_keys: list):
        super().__init__(message)
        self.sample_keys = sample_keys


class LocalFSStore:
    """Default manifest store: local-filesystem conditional create.

    ``put_if_absent`` writes the content to a temp file first and
    transfers it with ``os.link`` — the link either installs the
    complete file or fails with FileExistsError, so readers can never
    observe partial JSON and two racing writers get exactly one
    winner.  This is the same primitive object stores expose as
    conditional PUT (S3 ``If-None-Match: *``, GCS
    ``x-goog-if-generation-match: 0``, Azure ``If-None-Match: *``) —
    swap in a store that issues that request to run the lake against
    an object store with no other code change (see docs/LAKE.md)."""

    def put_if_absent(self, target: str, data: bytes) -> bool:
        """Atomically create ``target`` with ``data`` iff absent.
        Returns True iff this writer created it (won the race)."""
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


_DEFAULT_STORE = LocalFSStore()


def _publish_exclusive(target: str, payload: dict, store=None) -> bool:
    """Publish a manifest with compare-and-swap semantics: serialize
    the payload and hand it to the store's ``put_if_absent`` — exactly
    one of N racing writers returns True.  ``store`` defaults to the
    local-filesystem implementation; anything exposing
    ``put_if_absent(target, data) -> bool`` (e.g. an object-store
    client doing a conditional PUT) plugs in."""
    data = json.dumps(payload, indent=1, sort_keys=True).encode()
    return (store or _DEFAULT_STORE).put_if_absent(target, data)


def _replace_keys(sub, key_frame, key_cols, incoming, cols) -> DataFrame:
    """The rewrite of the key mutations (upsert, merge_cdc): the
    affected rows ``sub`` minus every key in ``key_frame``, plus all
    ``incoming`` rows.  An incoming row either replaces a row that
    lived in an affected file (no other file can hold its key) or is a
    pure insert; with nothing affected it is all inserts."""
    out = incoming.select(*cols)
    if sub is None:
        return out
    return (
        sub.join(F.broadcast(key_frame), key_cols, "left_anti")
        .select(*cols)
        .unionByName(out)
    )


class VersionedLake:
    """Versioned parquet table rooted at ``path``.

    ``store`` is the manifest CAS backend — anything exposing
    ``put_if_absent(target, data) -> bool`` (default:
    :class:`LocalFSStore`; an object-store client doing a conditional
    PUT slots in for the 100 TB deployment)."""

    def __init__(self, spark: SparkSession, path: str, store=None):
        self.spark = spark
        self.path = path
        self.store = store

    # ---- snapshot bookkeeping ----

    def current_version(self) -> int:
        """The live snapshot (module :func:`current_version`)."""
        return current_version(self.path)

    def _manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            return read_manifest(self.path, v)
        except FileNotFoundError:
            raise ValueError(f"no snapshot v{v} at {self.path}") from None

    def _files(self, version: int | None = None) -> list[str]:
        return [
            os.path.normpath(os.path.join(self.path, f))
            for f in self._manifest(version)["files"]
        ]

    def _commit(
        self,
        files: list[str],
        n_rows: int | None,
        message: str,
        based_on: list[str] | None = None,
        epoch: int | None = None,
        extra_meta: dict | None = None,
        based_on_constraints: dict | None = None,
    ) -> int:
        """Publish a new snapshot.  The version race is resolved with
        the exclusive-create CAS (:func:`_publish_exclusive`): losing a
        race re-resolves the live snapshot, rebuilds the carried
        metadata, and retries.  ``based_on`` (the relative file list the
        writer's data path was computed against) turns a pure version
        race into conflict DETECTION: if the live file set no longer
        matches, :class:`CommitConflict` is raised so the caller re-runs
        the whole mutation instead of committing a lost update.
        ``epoch`` records a streaming high-water mark in the manifest
        (carried forward by every later commit — see
        :func:`epoch_committed`).  ``extra_meta`` merges additional
        payload sections into THIS commit atomically (used by
        :func:`branch` so the carried schema/constraints publish with
        the data snapshot, never in a separate commit a crash could
        split off).

        ``n_rows=None`` derives the snapshot row count from per-file
        footer counts carried in the manifest (``file_rows``): counts
        for files already in the previous snapshot carry forward, only
        files NEW to this snapshot get a footer read — O(changed
        files) metadata work per commit, replacing the full-table
        count job every mutation used to run.  When ``n_rows`` is
        given explicitly the map is still carried forward if the
        previous snapshot covers every live file, but no footer reads
        happen (so :func:`branch` stays metadata-only: its v0
        references the source's files without touching them)."""
        rel = sorted(os.path.relpath(f, self.path) for f in files)
        derive_rows = n_rows is None
        while True:
            # incremental zone-map maintenance: if the PREVIOUS snapshot
            # carried stats, carry untouched files' entries forward and
            # compute stats only for files new to this snapshot — so the
            # metadata-skipping property survives every mutation at the
            # cost of scanning just the rewritten subset
            try:
                prev = self._manifest()
            except (ValueError, FileNotFoundError):
                prev = None
            if (
                based_on is not None
                and prev is not None
                and prev["files"] != based_on
            ):
                raise CommitConflict(
                    f"{message}: snapshot advanced to v{prev['version']} "
                    "since this mutation's read — re-run against the "
                    "current snapshot"
                )
            if (
                based_on_constraints is not None
                and prev is not None
                and prev.get("constraints", {}) != based_on_constraints
            ):
                # a metadata-only add_constraint leaves the file list
                # unchanged, so the based_on check alone would let a
                # write validated against the OLD constraint set
                # publish unchecked rows — surface it as a conflict so
                # the mutation re-runs (and re-validates) instead
                raise CommitConflict(
                    f"{message}: the constraint set changed since this "
                    "mutation's read — re-run against the current "
                    "snapshot"
                )
            v = (prev["version"] if prev else -1) + 1
            prev_rows = prev.get("file_rows") if prev else None
            file_rows: dict | None = None
            if derive_rows or prev_rows is not None:
                carried_rows = {
                    f: prev_rows[f]
                    for f in rel
                    if prev_rows and f in prev_rows
                }
                missing = [f for f in rel if f not in carried_rows]
                if derive_rows or not missing:
                    for f in missing:
                        carried_rows[f] = _parquet_num_rows(
                            os.path.normpath(os.path.join(self.path, f))
                        )
                    file_rows = carried_rows
            if derive_rows:
                n_rows = sum(file_rows.values())
            payload = {
                "version": v,
                "files": rel,
                "n_rows": n_rows,
                "message": message,
            }
            if file_rows is not None:
                payload["file_rows"] = file_rows
            if prev and prev.get("schema_extras"):
                payload["schema_extras"] = prev["schema_extras"]
            if prev and prev.get("renames"):
                # carried so old-generation files keep resolving; files
                # written from now on carry the logical names physically
                payload["renames"] = prev["renames"]
            if prev and prev.get("drops"):
                payload["drops"] = prev["drops"]
            if prev and prev.get("constraints"):
                payload["constraints"] = prev["constraints"]
            if prev and prev.get("branched_from"):
                # branch-point provenance survives every branch-side
                # mutation so merge_branch can scope conflict detection
                payload["branched_from"] = prev["branched_from"]
            if extra_meta:
                payload.update(extra_meta)
            if prev and prev.get("projections"):
                # projections stay valid across data commits: built_at
                # pins the data version the stored files reflect, and
                # read_projection rolls forward through the CDF
                payload["projections"] = prev["projections"]
            if prev and prev.get("bucket"):
                # the bucket spec survives data commits too — its
                # "files" pin identifies the original bucketed layout,
                # so read_bucketed knows the fast path died with the
                # mutation and falls back to the manifest read
                payload["bucket"] = prev["bucket"]
            if epoch is not None:
                payload["last_epoch"] = int(epoch)
            elif prev and "last_epoch" in prev:
                payload["last_epoch"] = prev["last_epoch"]
            if prev and (prev.get("stat_cols") or prev.get("stats")):
                prev_stats = prev.get("stats", {})
                # the tracked column LIST lives in its own field so
                # stats lineage survives snapshots with zero data
                # files (an empty per-file dict would otherwise lose
                # which columns to compute for the next commit)
                stat_cols = prev.get("stat_cols") or sorted(
                    next(iter(prev_stats.values())).keys()
                )
                carried = {f: prev_stats[f] for f in rel if f in prev_stats}
                fresh = [f for f in rel if f not in prev_stats]
                if fresh:
                    carried.update(
                        _file_stats(
                            self.spark,
                            [os.path.join(self.path, f) for f in fresh],
                            self.path,
                            stat_cols,
                        )
                    )
                payload["stats"] = carried
                payload["stat_cols"] = list(stat_cols)
            if prev and prev.get("blooms"):
                pb = prev["blooms"]
                carried_b = {
                    f: pb["files"][f] for f in rel if f in pb["files"]
                }
                fresh_b = [f for f in rel if f not in pb["files"]]
                if fresh_b:
                    carried_b.update(
                        _file_blooms(
                            self.spark,
                            [os.path.join(self.path, f) for f in fresh_b],
                            self.path,
                            pb["col"],
                        )
                    )
                payload["blooms"] = {
                    "col": pb["col"],
                    "bits": pb["bits"],
                    "hashes": pb["hashes"],
                    "files": carried_b,
                }
            if _publish_exclusive(
                os.path.join(_mdir(self.path), f"v{v}.json"),
                payload,
                store=self.store,
            ):
                break
            # lost the version race (the conditional PUT found the key
            # taken): loop re-resolves the live snapshot and retries
        self._write_current_hint(v)
        return v

    def _write_current_hint(self, v: int) -> None:
        # CURRENT is a debuggability hint only (resolution scans the
        # manifest dir), so last-writer-wins here is harmless
        _write_json_atomic(
            os.path.join(_mdir(self.path), "CURRENT.json"), {"v": v}
        )
        tmp = os.path.join(_mdir(self.path), f".cur-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(_mdir(self.path), "CURRENT"))

    def _commit_meta(self, mutate, message: str) -> int:
        """Metadata-only commit: republish the CURRENT snapshot (same
        files) with payload changes applied by ``mutate(payload) ->
        payload``.  The payload starts as a full copy of the live
        manifest, so every carried section — schema_extras, stats,
        blooms, last_epoch — survives regardless of which one this
        commit is updating.  Version races retry like :meth:`_commit`."""
        while True:
            m = self._manifest()
            payload = mutate(dict(m))
            v = m["version"] + 1
            payload["version"] = v
            payload["message"] = message
            if _publish_exclusive(
                os.path.join(_mdir(self.path), f"v{v}.json"),
                payload,
                store=self.store,
            ):
                break
        self._write_current_hint(v)
        return v

    # ---- lifecycle ----

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        n_files: int = 4,
        store=None,
    ) -> "VersionedLake":
        os.makedirs(_mdir(path), exist_ok=True)
        staged = os.path.join(path, f"_stage-{uuid.uuid4().hex[:8]}")
        df.coalesce(n_files).write.parquet(staged)
        files = []
        for name in sorted(os.listdir(staged)):
            src = os.path.join(staged, name)
            if name.startswith("part-") and os.path.isfile(src):
                dst = os.path.join(path, f"v0-{name}")
                os.replace(src, dst)
                files.append(dst)
            elif os.path.isfile(src):
                os.unlink(src)
        os.rmdir(staged)
        lake = cls(spark, path, store=store)
        # an empty manifest dir resolves to version -1, so the first
        # commit lands as v0 with no bootstrap pointer needed; n_rows
        # comes from the written files' footers (None -> derive), so
        # the input DataFrame is computed exactly once (the write)
        lake._commit(files, None, "create")
        return lake

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read — time travel with ``version``; always resolves
        an explicit immutable file list, so a concurrent commit cannot
        shift the data underneath a running query.  Columns added via
        :func:`add_column` surface with their default on files written
        before the evolution (mergeSchema + coalesce)."""
        m = self._manifest(version)
        paths = [
            os.path.normpath(os.path.join(self.path, f))
            for f in m["files"]
        ]
        return self._load_under_schema(paths, m)

    def _load_under_schema(self, paths, m: dict) -> DataFrame:
        """Read ``paths`` under manifest ``m``'s LOGICAL schema: column
        renames (oldest first; old/new physical names coalesce where
        file generations mix), drops, then the add_column defaults /
        MATERIALIZED expressions — all zero-rewrite metadata (the same
        mechanism as Delta's column mapping, keyed by name instead of
        field id because this lake never reuses a dropped name)."""
        renames = m.get("renames", [])
        drops = m.get("drops", [])
        extras = m.get("schema_extras", {})
        if not (renames or drops or extras):
            return self.spark.read.parquet(*paths)
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        for r in renames:
            src, dst = r["from"], r["to"]
            if src in df.columns and dst in df.columns:
                # mixed generations: post-rename files carry dst
                df = df.withColumn(
                    dst, F.coalesce(F.col(dst), F.col(src))
                ).drop(src)
            elif src in df.columns:
                df = df.withColumnRenamed(src, dst)
        for name in drops:
            if name in df.columns:
                df = df.drop(name)
        for name, default in extras.items():
            if isinstance(default, dict):
                # MATERIALIZED expression column: ALWAYS derived from
                # the row (ClickHouse semantics — cannot be stored or
                # overridden), so mutations to source columns are
                # reflected with no recompute bookkeeping
                df = df.withColumn(name, F.expr(default["expr"]))
            elif name in df.columns:
                df = df.withColumn(
                    name, F.coalesce(F.col(name), F.lit(default))
                )
            else:
                df = df.withColumn(name, F.lit(default))
        return df

    def _read_files(self, paths, version: int | None = None) -> DataFrame:
        """Read specific data files under the CURRENT logical schema:
        mergeSchema plus renames/drops/add_column defaults, so mutation
        rewrites write the logical schema physically for the files they
        produce."""
        return self._load_under_schema(paths, self._manifest(version))

    def history(self) -> list[dict]:
        out = []
        for v in range(self.current_version() + 1):
            try:
                m = read_manifest(self.path, v)
            except FileNotFoundError:  # vacuumed
                continue
            out.append({k: m[k] for k in ("version", "n_rows", "message")})
        return out

    def row_count(self, version: int | None = None) -> int:
        """Exact row count of a snapshot, from the manifest alone — no
        scan.  This is the statistic the dialect's integer ``SAMPLE n``
        form needs (dialect.register_sampling_rowcount)."""
        return int(self._manifest(version)["n_rows"])

    # ---- mutations (probe → affected subset → rewrite → commit) ----

    def _check_constraints(self, df: DataFrame, constraints: dict) -> None:
        """Refuse rows that FAIL a table CHECK constraint (SQL CHECK
        semantics: NULL passes, only FALSE violates — same as Delta).
        Every mutation rewrite funnels through here, so a constraint
        holds table-wide from the commit that added it onward.

        ``constraints`` is the set the MUTATION's snapshot read
        carried — not a re-read of CURRENT — so what was validated is
        exactly what the commit's conflict detection later compares
        against (a constraint added concurrently surfaces as
        CommitConflict, never as an unvalidated publish).  All
        constraints fold into ONE pass (a single OR'd violation scan);
        the per-constraint re-check runs only on the rare failure path
        to name the violated constraint."""
        if not constraints:
            return
        any_bad = None
        for expr in constraints.values():
            bad = ~F.coalesce(F.expr(expr), F.lit(True))
            any_bad = bad if any_bad is None else (any_bad | bad)
        if df.where(any_bad).limit(1).count():
            for name, expr in constraints.items():
                if (
                    df.where(~F.coalesce(F.expr(expr), F.lit(True)))
                    .limit(1)
                    .count()
                ):
                    raise ConstraintViolation(
                        f"CHECK constraint {name} ({expr}) violated — "
                        "commit refused"
                    )

    def _write_new(
        self, df: DataFrame, enforce: dict | None = None
    ) -> list[str]:
        """Stage ``df`` as new data files.  ``enforce`` is the CHECK
        constraint set captured by the caller's snapshot read (None
        for layout-only rewrites of already-validated rows)."""
        if enforce:
            self._check_constraints(df, enforce)
        staged = os.path.join(self.path, f"_stage-{uuid.uuid4().hex[:8]}")
        df.write.parquet(staged)
        out = []
        tag = uuid.uuid4().hex[:8]
        for name in sorted(os.listdir(staged)):
            src = os.path.join(staged, name)
            if name.startswith("part-") and os.path.isfile(src):
                dst = os.path.join(self.path, f"c{tag}-{name}")
                os.replace(src, dst)
                out.append(dst)
            elif os.path.isfile(src):
                os.unlink(src)
        os.rmdir(staged)
        return out

    _MUTATION_RETRIES = 5

    def _retry_mutation(self, attempt):
        """Optimistic-concurrency driver for mutations: re-run the whole
        read-probe-rewrite-commit cycle when another writer committed in
        between (the staged files of a lost attempt become orphans that
        ``vacuum`` collects)."""
        last: CommitConflict | None = None
        for _ in range(self._MUTATION_RETRIES):
            try:
                return attempt()
            except CommitConflict as e:
                last = e
        raise CommitConflict(
            f"mutation gave up after {self._MUTATION_RETRIES} conflicting "
            f"commits: {last}"
        )

    def _rewrite_matching(
        self,
        match,
        rewrite,
        message: str,
        epoch: int | None = None,
        expect_version: int | None = None,
    ) -> int:
        """The copy-on-write cycle of every row mutation; returns the
        new version.

        Reads the live snapshot and probes it: ``match`` maps the
        snapshot (tagged with each row's file in ``_f``) to its
        matching rows, and the files those rows live in are the
        affected set (an empty snapshot skips the probe job).  Only the
        affected files are re-read: ``rewrite(sub, cols)`` gets them as
        ``sub`` (``None`` when nothing matched) plus the snapshot's
        logical columns, and returns the rows that replace them, or
        ``None`` to write nothing.  The new rows are checked against the
        snapshot's CHECK constraints, and untouched + new files commit
        against the snapshot read, so a concurrent commit re-runs the
        whole cycle.  ``expect_version`` pins the cycle to one base
        snapshot instead (see :meth:`merge_cdc`)."""

        def attempt() -> int:
            base = self._manifest()
            if (
                expect_version is not None
                and base["version"] != expect_version
            ):
                raise CommitConflict(
                    f"merge_cdc pinned to v{expect_version} but the "
                    f"table is at v{base['version']} — re-validate "
                    "against the current snapshot and retry"
                )
            files = [os.path.normpath(os.path.join(self.path, f))
                     for f in base["files"]]
            df = self._read_files(files, version=base["version"])
            affected = set()
            if base.get("n_rows") != 0:
                probe = (
                    match(df.withColumn("_f", F.input_file_name()))
                    .select("_f")
                    .distinct()
                    .collect()
                )
                affected = {
                    r["_f"].replace("file://", "").replace("file:", "")
                    for r in probe
                }
            sub = (
                self._read_files(sorted(affected), version=base["version"])
                if affected
                else None
            )
            out = rewrite(sub, df.columns)
            constraints = base.get("constraints", {})
            new_files = (
                [] if out is None
                else self._write_new(out, enforce=constraints)
            )
            return self._commit(
                [f for f in files if f not in affected] + new_files,
                None,
                message,
                based_on=base["files"],
                epoch=epoch,
                based_on_constraints=constraints,
            )

        return self._retry_mutation(attempt)

    def update(
        self, predicate: Column, assignments: dict[str, Column]
    ) -> int:
        """UPDATE … WHERE …; returns the new version."""

        def rewrite(sub, cols):
            if sub is None:
                return None
            for col, expr in assignments.items():
                sub = sub.withColumn(
                    col, F.when(predicate, expr).otherwise(F.col(col))
                )
            return sub

        return self._rewrite_matching(
            lambda df: df.where(predicate), rewrite, "update"
        )

    def delete(self, predicate: Column) -> int:
        """DELETE … WHERE …; returns the new version.

        SQL DELETE semantics: rows where the predicate evaluates to
        NULL are RETAINED (only true-matching rows are removed), and
        retention is layout-independent — the rewrite keeps
        ``NOT coalesce(pred, false)`` rows so a NULL-predicate row
        survives whether or not its file also held a true match.
        """
        return self._delete_where(predicate, "delete")

    def _delete_where(self, predicate: Column, message: str) -> int:
        """:meth:`delete` committed under ``message`` (``apply_ttl``
        commits the same rewrite as ``ttl``)."""
        keep = ~F.coalesce(predicate, F.lit(False))
        return self._rewrite_matching(
            lambda df: df.where(predicate),
            lambda sub, cols: None if sub is None else sub.where(keep),
            message,
        )

    def upsert(
        self,
        changes: DataFrame,
        key_cols: list[str],
        message: str = "upsert",
        epoch: int | None = None,
        cluster_by: list[str] | None = None,
        cluster_partitions: int = 2,
        keys_unique: bool = False,
    ) -> int:
        """MERGE by key; ``message``/``epoch`` let a streaming sink
        publish its idempotency marker in the SAME atomic manifest swap
        as the data (see :func:`streaming_epoch_sink`).

        ``cluster_by`` RANGE-repartitions the rewritten rows on the
        given columns into ``cluster_partitions`` buckets before
        staging, so each new file carries a single value (or narrow
        range) of those columns — which makes the manifest's per-file
        zone maps selective on them (:func:`read_pruned` can then skip
        whole files).  Set ``cluster_partitions`` ≥ the expected
        distinct cluster values (2 covers a boolean flag).  This is a
        layout hint only: results are identical either way.

        ``keys_unique=True`` asserts the caller guarantees one row per
        key (e.g. the change set IS a ``groupBy(key_cols)`` result or
        ends in ``.distinct()`` over them) and skips the duplicate-key
        validation job — one fewer pass over the change set for the
        streaming sinks that rebuild their state per epoch."""
        if keys_unique:
            # Debug guardrail (off by default): keys_unique trades the
            # hard duplicate-key ValueError for an out-of-band caller
            # assumption — if that assumption ever breaks, the upsert
            # would silently commit duplicate-key rows.  Under the
            # session debug flag the validation job runs anyway so
            # violations fail loudly in tests/CI at the call site.
            if _debug_validate_assumptions(changes.sparkSession):
                dup = (
                    changes.groupBy(*key_cols)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    raise ValueError(
                        "upsert: keys_unique=True but the change set "
                        "has duplicate keys (debug assertion)"
                    )
            keys = None
            key_frame = changes.select(*key_cols)
        else:
            # The distinct-key frame is consumed again after the
            # duplicate check (the probe's broadcast, and once more per
            # conflict retry): persist it so the change set is
            # aggregated once, not once per consumer.  Working set =
            # one row per changed key.
            keys = changes.select(*key_cols).groupBy(*key_cols).agg(
                F.count(F.lit(1)).alias("_n")
            ).persist()
            if keys.where(F.col("_n") > 1).limit(1).collect():
                keys.unpersist()
                raise ValueError("upsert: duplicate keys in change set")
            key_frame = keys.drop("_n")

        def rewrite(sub, cols):
            out = _replace_keys(sub, key_frame, key_cols, changes, cols)
            if cluster_by:
                # RANGE partitioning with an EXPLICIT count: hash can
                # collide distinct values into one partition, and an
                # unsized range shuffle gets AQE-coalesced back into
                # one — either way every file stays mixed and the zone
                # maps are useless
                out = out.repartitionByRange(
                    cluster_partitions, *cluster_by
                )
            return out

        try:
            return self._rewrite_matching(
                lambda df: df.join(
                    F.broadcast(key_frame), key_cols, "left_semi"
                ),
                rewrite,
                message,
                epoch=epoch,
            )
        finally:
            if keys is not None:
                keys.unpersist()

    def merge_cdc(
        self,
        batch: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        message: str = "cdc",
        epoch: int | None = None,
        expect_version: int | None = None,
    ) -> int:
        """Apply one CDC batch in ONE snapshot commit — the full MERGE
        statement (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT / WHEN
        MATCHED AND op='D' DELETE) the plain :meth:`upsert` lacks.

        ``batch`` carries ``op_col`` ∈ {'I','U','D'}: I/U rows replace
        (or insert) their key's row; D rows delete it.  Keys must be
        unique within the batch — a CDC feed with multiple ops per key
        must be collapsed to the LAST op per key upstream (the standard
        CDC-apply contract; the streaming compaction operator does
        exactly that).  One probe + one rewrite of affected files +
        one commit, so a replayed batch is also state-idempotent.

        ``expect_version`` pins the apply to a specific base snapshot:
        if the table has advanced past it the attempt raises
        :class:`CommitConflict` WITHOUT applying — callers whose batch
        was validated against that snapshot (merge_branch's conflict
        scan) must re-validate and retry themselves, because the
        default retry-against-whatever-is-current behavior would
        silently bypass their validation (the same validate-then-
        publish race add_constraint closes).
        """
        # ONE validation pass over the batch: per-key row counts
        # (duplicate detection) and per-key op sets (unknown-op
        # detection) come out of the same map-side-combined aggregate,
        # and the persisted key frame feeds the probe's broadcast —
        # previously the batch was scanned twice before the probe.
        keys = batch.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("_n"),
            F.collect_set(F.col(op_col)).alias("_ops"),
        ).persist()
        # Distinct-op check as a DISTRIBUTED aggregate: exploding the
        # per-key op sets and grouping by op does map-side partial
        # aggregation, so at most (#distinct ops) rows reach the
        # driver.  (collect_list over one row per distinct key pulled
        # O(#keys) arrays into a single aggregation buffer — a
        # single-reducer memory cliff on large CDC batches.)  The
        # duplicate-key max rides the same pass: every key contributes
        # its _n to at least one op group (explode_outer keeps keys
        # whose ops collapsed to an empty set, e.g. all-NULL op rows —
        # collect_set drops NULLs — as a NULL-op group, which the
        # unknown-op check deliberately ignores, matching the previous
        # behavior of collect_set-based validation).
        flags = (
            keys.select(F.col("_n"), F.explode_outer("_ops").alias("_op"))
            .groupBy("_op")
            .agg(F.max("_n").alias("_maxn"))
            .collect()
        )
        bad = {r["_op"] for r in flags if r["_op"] is not None} - {
            "I", "U", "D",
        }
        if bad:
            keys.unpersist()
            raise ValueError(f"merge_cdc: unknown ops {sorted(bad)}")
        if max((r["_maxn"] for r in flags), default=0) > 1:
            keys.unpersist()
            raise ValueError(
                "merge_cdc: duplicate keys in batch — collapse to the "
                "last op per key first"
            )
        key_frame = keys.select(*key_cols)
        upserts = batch.where(F.col(op_col) != "D")
        try:
            return self._rewrite_matching(
                lambda df: df.join(
                    F.broadcast(key_frame), key_cols, "left_semi"
                ),
                lambda sub, cols: _replace_keys(
                    sub, key_frame, key_cols, upserts, cols
                ),
                message,
                epoch=epoch,
                expect_version=expect_version,
            )
        finally:
            keys.unpersist()

    # ---- vacuum ----

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete data
        files no surviving snapshot references (incl. orphans from
        crashed commits).  Returns the deleted file names.

        Projections pin history: ``read_projection`` rolls a stored
        projection forward via ``change_feed(built_at, current)``,
        which needs the ``built_at`` manifest and the data files the
        two snapshots disagree on.  The retention window therefore
        extends to the oldest ``built_at`` across the CURRENT
        manifest's projections — vacuum never reclaims a version a
        live projection still reads through.  (``refresh_projection``
        re-bases ``built_at`` and thereby releases the old window.)
        """
        cur = self.current_version()
        floor = max(0, cur - keep_last + 1)
        for p in self._manifest(cur).get("projections", {}).values():
            floor = min(floor, p["built_at"])
        keep_versions = [
            v
            for v in range(floor, cur + 1)
            if os.path.exists(os.path.join(_mdir(self.path), f"v{v}.json"))
        ]
        referenced = set()
        for v in keep_versions:
            referenced.update(self._manifest(v)["files"])
        deleted = []
        for name in sorted(os.listdir(self.path)):
            p = os.path.join(self.path, name)
            if (
                os.path.isfile(p)
                and name not in referenced
                and not name.startswith((".", "_"))
            ):
                os.unlink(p)
                deleted.append(name)
        for v in range(cur + 1):
            if v not in keep_versions:
                mp = os.path.join(_mdir(self.path), f"v{v}.json")
                if os.path.exists(mp):
                    os.unlink(mp)
        return deleted


def change_feed(
    lake: VersionedLake,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Change data feed between two snapshots (the Delta CDF analog):
    every row-level change as (_change_type ∈ insert | delete |
    update_pre | update_post, …row).

    Reads ONLY the files the manifests disagree on — files present in
    both snapshots are byte-identical by the copy-on-write invariant
    and cannot contribute changes — so CDF cost scales with the size
    of the mutation, not the table.  Keyed rows present on both sides
    with different non-key values emit an update_pre/update_post pair;
    one-sided keys emit delete/insert.  ``key_cols`` must be unique
    per snapshot for pre/post pairing to be well-defined (the same
    requirement Delta places on MERGE sources).
    """
    old_files = set(lake._manifest(v_from)["files"])
    new_files = set(lake._manifest(v_to)["files"])
    removed = sorted(os.path.normpath(os.path.join(lake.path, f)) for f in old_files - new_files)
    added = sorted(os.path.normpath(os.path.join(lake.path, f)) for f in new_files - old_files)
    if not removed and not added:
        # empty frame with the right schema
        base = lake.read(v_to)
        return base.withColumn(
            "_change_type", F.lit("insert")
        ).where(F.lit(False))
    # Both sides read under v_to's LOGICAL schema (_read_files applies
    # schema_extras defaults/expressions), so on an evolved lake whose
    # removed files predate add_column the CDF still carries the evolved
    # column on both pre and post rows — the same "latest schema"
    # convention Delta's CDF uses.
    pre = (
        lake._read_files(removed, version=v_to)
        if removed
        else lake.read(v_to).where(F.lit(False))
    )
    post = (
        lake._read_files(added, version=v_to)
        if added
        else lake.read(v_to).where(F.lit(False))
    )
    cols = pre.columns
    val_cols = [c for c in cols if c not in key_cols]
    # alias names must not collide with user COLUMN names (a column
    # literally named "p" would make `p.c` ambiguous between the
    # dataframe alias and a struct-field access), so use reserved-ish
    # names no schema will carry
    p = pre.alias("__cdf_pre")
    q = post.alias("__cdf_post")
    joined = p.join(q, key_cols, "full_outer")
    changed_val = F.lit(False)
    for c in val_cols:
        changed_val = changed_val | ~F.col(f"__cdf_pre.{c}").eqNullSafe(
            F.col(f"__cdf_post.{c}")
        )
    k0 = key_cols[0]
    in_pre = F.col(f"__cdf_pre.{k0}").isNotNull()
    in_post = F.col(f"__cdf_post.{k0}").isNotNull()
    deletes = joined.where(in_pre & ~in_post).select(
        F.lit("delete").alias("_change_type"),
        *[F.coalesce(F.col(f"__cdf_pre.{c}")).alias(c) if c not in key_cols else F.col(c) for c in cols],
    )
    inserts = joined.where(in_post & ~in_pre).select(
        F.lit("insert").alias("_change_type"),
        *[F.coalesce(F.col(f"__cdf_post.{c}")).alias(c) if c not in key_cols else F.col(c) for c in cols],
    )
    updated = joined.where(in_pre & in_post & changed_val)
    update_pre = updated.select(
        F.lit("update_pre").alias("_change_type"),
        *[F.col(f"__cdf_pre.{c}").alias(c) if c not in key_cols else F.col(c) for c in cols],
    )
    update_post = updated.select(
        F.lit("update_post").alias("_change_type"),
        *[F.col(f"__cdf_post.{c}").alias(c) if c not in key_cols else F.col(c) for c in cols],
    )
    return deletes.unionByName(inserts).unionByName(update_pre).unionByName(
        update_post
    )


def maintain_sum_agg(
    lake: VersionedLake,
    materialized: DataFrame,
    v_from: int,
    v_to: int,
    group_cols: list[str],
    key_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental materialized-view maintenance for distributive
    aggregates: roll a (group, count, sums) table forward from
    snapshot ``v_from`` to ``v_to`` by applying the change feed only —
    the files shared by both snapshots are never read.

    Delta per group: +row for inserts and update_post, −row for
    deletes and update_pre (an update is a retract+insert pair, the
    standard IVM encoding).  Groups whose count reaches zero are
    dropped, so the result is exactly the aggregate a full recompute
    of ``v_to`` would produce (sums are over exact types — longs or
    decimals — for associativity; pass decimal-cast columns for
    doubles).
    """
    cf = change_feed(lake, v_from, v_to, key_cols)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = cf.groupBy(*group_cols).agg(
        F.sum(sign).alias("_dn"),
        *[
            F.sum(sign * F.col(c)).alias(f"_d_{c}")
            for c in sum_cols
        ],
    )
    joined = materialized.alias("m").join(
        delta.alias("d"), group_cols, "full_outer"
    )
    # USING-style full outer join coalesces the join columns itself
    out_cols = [F.col(c) for c in group_cols]
    n = (
        F.coalesce(F.col("m.n_rows"), F.lit(0))
        + F.coalesce(F.col("d._dn"), F.lit(0))
    ).alias("n_rows")
    sums = [
        (
            F.coalesce(F.col(f"m.sum_{c}"), F.lit(0))
            + F.coalesce(F.col(f"d._d_{c}"), F.lit(0))
        ).alias(f"sum_{c}")
        for c in sum_cols
    ]
    return (
        joined.select(*out_cols, n, *sums)
        .where(F.col("n_rows") > 0)
    )


def sum_agg_of(
    df: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The (group, n_rows, sums) shape maintain_sum_agg rolls forward —
    build it once from a full snapshot, then maintain incrementally."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols],
    )


def uniq_state_of(
    df: DataFrame, group_cols: list[str], col: str, p: int = 8
) -> DataFrame:
    """The (group…, code) distinct-code rows maintain_uniq_state rolls
    forward: the relational form of the dialect's ``uniqState``
    code-set (``code = bucket * 64 + rho`` over the portable md5
    kernel, dialect.py _uniq_state_expr / ext.sketches.hll_bucket_rho
    — ONE hash kernel repo-wide).  Bounded at ``2^p * (60 - p + 1)``
    codes per group regardless of row count, so the maintained
    matview stays KB-sized per group at any scale.  Build once from a
    full snapshot, then maintain incrementally; finalize with
    :func:`ext.sketches.hll_distinct_from_codes`."""
    from clickbom_spark.ext.sketches import hll_bucket_rho

    bucket, rho = hll_bucket_rho(F.col(col), p)
    return (
        df.where(F.col(col).isNotNull())
        .select(
            *[F.col(c) for c in group_cols],
            (bucket * 64 + rho).cast("long").alias("code"),
        )
        .distinct()
    )


def maintain_uniq_state(
    lake: VersionedLake,
    materialized: DataFrame,
    v_from: int,
    v_to: int,
    group_cols: list[str],
    key_cols: list[str],
    col: str,
    p: int = 8,
) -> DataFrame:
    """Incremental DISTINCT-COUNT matview maintenance over the HLL
    code-set state: roll the (group, code) table forward from snapshot
    ``v_from`` to ``v_to`` by folding the change feed's inserts in —
    union of states == state of the unioned input EXACTLY (registers
    are max-folds), so the rolled state equals a full recompute
    (pinned by test) while reading only the changed files.

    INSERT-ONLY by construction: a register fold cannot retract, so a
    feed containing deletes or updates raises instead of silently
    under-deleting — the same caveat ClickHouse documents for
    ``uniqState`` AggregatingMergeTree MVs, surfaced loudly.  For
    insert+delete workloads maintain the exact support table
    (:func:`maintain_uniq_support`), whose state is value-
    proportional because exactness requires it."""
    cf = change_feed(lake, v_from, v_to, key_cols)
    if cf.where(F.col("_change_type") != "insert").limit(1).count():
        raise ValueError(
            "maintain_uniq_state: the change feed contains retractions "
            "(delete/update_pre/update_post) — HLL register states "
            "cannot retract; use maintain_uniq_support for exact "
            "insert+delete maintenance"
        )
    delta = uniq_state_of(cf, group_cols, col, p)
    return materialized.unionByName(delta).distinct()


def uniq_support_of(
    df: DataFrame, group_cols: list[str], col: str
) -> DataFrame:
    """The (group…, value, multiplicity) support table
    maintain_uniq_support rolls forward — the standard IVM encoding
    for DISTINCT under retractions.  NULL values are skipped (the
    count-distinct convention shared with the dialect's uniq
    family)."""
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*group_cols, col)
        .agg(F.count(F.lit(1)).cast("long").alias("mult"))
    )


def maintain_uniq_support(
    lake: VersionedLake,
    materialized: DataFrame,
    v_from: int,
    v_to: int,
    group_cols: list[str],
    key_cols: list[str],
    col: str,
) -> DataFrame:
    """Exact distinct-count IVM under inserts AND deletes: per
    (group, value) the multiplicity moves by +1 for insert/update_post
    and −1 for delete/update_pre; values whose multiplicity reaches
    zero drop out, so :func:`uniq_exact_of` over the rolled table
    equals ``count(DISTINCT col)`` recomputed on the target snapshot
    (pinned by test).  CDF cost scales with the mutation; the state
    scales with the live distinct-value set — the price of exactness
    (ClickHouse's ``uniqExact`` states carry the same)."""
    cf = change_feed(lake, v_from, v_to, key_cols)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        cf.where(F.col(col).isNotNull())
        .groupBy(*group_cols, col)
        .agg(F.sum(sign).cast("long").alias("_dm"))
    )
    joined = materialized.join(delta, [*group_cols, col], "full_outer")
    mult = (
        F.coalesce(F.col("mult"), F.lit(0))
        + F.coalesce(F.col("_dm"), F.lit(0))
    ).cast("long").alias("mult")
    return (
        joined.select(*group_cols, col, mult)
        .where(F.col("mult") > 0)
    )


def uniq_exact_of(support: DataFrame, group_cols: list[str]) -> DataFrame:
    """Finalize a support table to (group…, n_distinct)."""
    return (
        support.where(F.col("mult") > 0)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )


def compact(lake: VersionedLake, target_files: int = 4) -> int:
    """Small-file compaction as a snapshot: rewrite the current file
    set into ``target_files`` files and commit.  A logical no-op — the
    change feed across a compaction commit is EMPTY (pinned by test),
    which is exactly what distinguishes physical layout maintenance
    from data mutations in a table format.
    """
    def attempt() -> int:
        base = lake._manifest()
        df = lake.read(base["version"])
        # layout-only rewrite of already-validated rows
        new_files = lake._write_new(df.coalesce(target_files), enforce=None)
        return lake._commit(
            new_files, None, "compact", based_on=base["files"]
        )

    return lake._retry_mutation(attempt)


def optimize_zorder(
    lake: VersionedLake,
    cols: list[str],
    target_files: int = 8,
    bits: int = 8,
) -> int:
    """Delta ``OPTIMIZE … ZORDER BY`` as a lake snapshot: rewrite the
    CURRENT file set clustered on the Morton interleave of ``cols``
    (one range shuffle on the z-value → balanced files each owning a
    tight z-interval, hence a bounded box in EVERY interleaved
    dimension) and commit it as one ``optimize-zorder`` snapshot.

    A logical no-op — the change feed across the commit is empty
    (pinned by test) — but a physical accelerator: when the manifest
    carries zone-map stats (:func:`commit_with_stats`), the incremental
    stats maintenance in ``_commit`` recomputes per-file min/max for
    the rewritten files automatically, so :func:`read_pruned` box
    queries skip strictly more files afterwards (also pinned).  At
    100 TB this is the periodic layout-maintenance job every
    streaming-fed table needs; cost is one read + one range shuffle of
    the live set, metadata updates ride the normal commit path.
    """
    from clickbom_spark.ext.layout import zvalue

    def attempt() -> int:
        base = lake._manifest()
        df = lake.read(base["version"])
        z = zvalue(df, [F.col(c) for c in cols], bits=bits)
        clustered = (
            df.withColumn("__z", z)
            .repartitionByRange(target_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        # layout-only rewrite of already-validated rows
        new_files = lake._write_new(clustered, enforce=None)
        return lake._commit(
            new_files,
            None,
            "optimize-zorder",
            based_on=base["files"],
        )

    return lake._retry_mutation(attempt)


def branch(lake: VersionedLake, path: str) -> VersionedLake:
    """Zero-copy branch of the CURRENT snapshot — the Delta shallow
    clone / lakeFS-branch operation: the branch's v0 manifest simply
    REFERENCES the source's live data files (relative paths resolve
    through the branch root), so branching is a metadata-only commit
    regardless of table size.

    Copy-on-write keeps the fork isolated both ways: mutations on the
    branch rewrite only affected files INTO THE BRANCH directory
    (untouched entries keep pointing at the source), and mutations on
    the source publish new source files the branch never references.
    ``vacuum`` on the branch cannot delete shared files (it only
    removes files physically inside the branch root); vacuum on the
    SOURCE can invalidate branches that still reference reclaimed
    files — the same boundary Delta documents for shallow clones, so
    vacuum the source only after branches are merged or dropped.
    """
    m = lake._manifest()
    os.makedirs(_mdir(path), exist_ok=True)
    br = VersionedLake(lake.spark, path, store=lake.store)
    src_files = [
        os.path.normpath(os.path.join(lake.path, f)) for f in m["files"]
    ]
    # The LOGICAL schema travels with the branch IN the same v0
    # commit (a separate metadata commit would leave a crash window
    # where the branch exists but silently lost its renames/drops/
    # defaults/constraints): those sections are path-independent.
    # Path-DEPENDENT metadata stays behind: projections (their files
    # live under the source's _projections/), file stats/blooms
    # (keyed by the source's relative names), and the bucket spec
    # (its file pin can't match the branch's relative names, so
    # read_bucketed correctly falls back to the manifest read).
    carried = {
        k: m[k]
        for k in ("schema_extras", "renames", "drops", "constraints")
        if m.get(k)
    }
    # Structured branch-point provenance: merge_branch's conflict
    # detection needs the exact source version this branch forked from
    # to scope the source-side change feed.
    carried["branched_from"] = {"path": lake.path, "version": m["version"]}
    br._commit(
        src_files,
        m["n_rows"],
        f"branch-of:{os.path.basename(lake.path)}@v{m['version']}",
        extra_meta=carried or None,
    )
    return br


def _column_merge_ops(ops, conflicts, br_cf, src_cf, key_cols):
    """Cell-wise merge of both-sides-updated keys (merge_branch's
    ``column-merge`` policy).  Each side's net change feed yields, per
    conflicted key, its kind (I/U/D) and — for updates — the SET of
    columns whose value actually changed between update_pre and
    update_post.  Keys where both sides are updates over DISJOINT
    column sets merge to one row taking the branch's values for
    branch-changed columns and the source's head values elsewhere;
    everything else raises :class:`BranchMergeConflict`.  All joins
    are key equi-joins over divergence-sized feeds."""
    data_cols = [c for c in ops.columns if c not in [*key_cols, "op"]]

    def net(cf, tag):
        pre_a, post_a = f"__{tag}cm_pre", f"__{tag}cm_post"
        pre = cf.where(F.col("_change_type") == "update_pre")
        post = cf.where(F.col("_change_type") == "update_post")
        chg = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.col(f"{pre_a}.{c}").eqNullSafe(
                            F.col(f"{post_a}.{c}")
                        ),
                        F.lit(c),
                    )
                    for c in data_cols
                ]
            )
        )
        upd = (
            pre.alias(pre_a)
            .join(post.alias(post_a), key_cols)
            .select(
                *key_cols,
                F.lit("U").alias(f"{tag}_kind"),
                chg.alias(f"{tag}_chg"),
                *[
                    F.col(f"{post_a}.{c}").alias(f"{tag}_{c}")
                    for c in data_cols
                ],
            )
        )
        other = cf.where(
            F.col("_change_type").isin("insert", "delete")
        ).select(
            *key_cols,
            F.when(F.col("_change_type") == "insert", "I")
            .otherwise("D")
            .alias(f"{tag}_kind"),
            F.lit(None).cast("array<string>").alias(f"{tag}_chg"),
            *[F.col(c).alias(f"{tag}_{c}") for c in data_cols],
        )
        return upd.unionByName(other)

    pairs = (
        conflicts.join(net(br_cf, "b"), key_cols)
        .join(net(src_cf, "s"), key_cols)
    )
    mergeable = (
        (F.col("b_kind") == "U")
        & (F.col("s_kind") == "U")
        & ~F.arrays_overlap("b_chg", "s_chg")
    )
    bad = pairs.where(~mergeable).select(
        *key_cols, "b_kind", "s_kind", "b_chg", "s_chg"
    ).limit(20).collect()
    if bad:
        raise BranchMergeConflict(
            f"{len(bad)}{'+' if len(bad) == 20 else ''} key(s) have "
            "no column-level merge (insert/delete on a conflicted "
            "key, or the two sides changed overlapping columns): "
            f"{[tuple(r)[:len(key_cols) + 2] for r in bad[:5]]}",
            [tuple(r)[: len(key_cols)] for r in bad],
        )
    merged = pairs.select(
        *key_cols,
        *[
            F.when(
                F.array_contains("b_chg", c), F.col(f"b_{c}")
            ).otherwise(F.col(f"s_{c}")).alias(c)
            for c in data_cols
        ],
        F.lit("U").alias("op"),
    )
    return ops.join(conflicts, key_cols, "left_anti").unionByName(merged)


def merge_branch(
    src: VersionedLake,
    br: VersionedLake,
    key_cols: list[str],
    on_conflict: str = "branch-wins",
) -> int:
    """Merge a branch's net changes back into its source as ONE CDC
    commit: the branch's change feed from its branch point (v0, the
    zero-copy snapshot) to its head collapses to last-state-per-key —
    inserts/updates become I/U rows, deletes become D rows — and
    :meth:`VersionedLake.merge_cdc` applies them atomically.  Reads
    only the files the branch actually rewrote (CDF property), so
    merge cost scales with the branch's divergence, not the table.

    ``on_conflict`` governs keys modified on BOTH sides since the
    branch point (the lakeFS/Git merge question; computed as the
    intersection of the branch's changed-key set with the SOURCE's
    change feed scoped [branch-point version, source head] — so
    detection cost also scales with divergence, not table size):

    * ``'branch-wins'`` (default, the historical behavior): branch
      ops overwrite concurrent source edits on the same key.
    * ``'fail'``: raise :class:`BranchMergeConflict` carrying a
      bounded key sample; nothing is committed.
    * ``'source-wins'``: drop the branch's ops on conflicted keys and
      merge the rest (the source's concurrent edit survives).
    * ``'column-merge'``: COLUMN-level detection — a key UPDATED on
      both sides is only a real conflict when the two sides changed
      an overlapping SET of columns (each side's changed-column set
      is derived from its change feed's update_pre/update_post pair).
      Disjoint column edits merge cell-wise: the committed row takes
      the branch's values for branch-changed columns and the source's
      HEAD values for everything else.  Insert/delete on a
      both-sides-modified key, or overlapping changed columns, raise
      :class:`BranchMergeConflict` (row identity / same-cell edits
      have no order-free merge).  Detection and merge are equi-joins
      over the two divergence-sized change feeds — cost scales with
      what changed, never with table size.

    Keys must be unique per snapshot (the CDF pre/post pairing
    contract).  Returns the source's new version."""
    if on_conflict not in (
        "branch-wins", "fail", "source-wins", "column-merge"
    ):
        raise ValueError(f"unknown on_conflict policy: {on_conflict!r}")
    cf = change_feed(br, 0, br.current_version(), key_cols)
    ops = cf.where(F.col("_change_type") != "update_pre").withColumn(
        "op",
        F.when(F.col("_change_type") == "delete", F.lit("D"))
        .when(F.col("_change_type") == "insert", F.lit("I"))
        .otherwise(F.lit("U")),
    ).drop("_change_type")
    if on_conflict == "branch-wins":
        return src.merge_cdc(ops, key_cols, message="merge-branch")
    bf = br._manifest(0).get("branched_from")
    if not bf:
        raise ValueError(
            "branch predates branch-point provenance (no "
            "branched_from in its v0 manifest); conflict detection "
            "needs the source version the branch forked from — "
            "re-create the branch or merge with "
            "on_conflict='branch-wins'"
        )
    # Validate-then-publish without a TOCTOU window: the scan runs
    # against a PINNED source head and the apply refuses (raising
    # CommitConflict) if the source advanced past it — a concurrent
    # source commit between scan and publish re-runs the scan instead
    # of letting merge_cdc's default retry silently re-apply branch
    # ops that were never checked against the new edits.
    last: CommitConflict | None = None
    for _ in range(src._MUTATION_RETRIES):
        src_head = src.current_version()
        conflicts = None
        if src_head > bf["version"]:
            src_cf = change_feed(src, bf["version"], src_head, key_cols)
            conflicts = (
                src_cf.select(*key_cols)
                .distinct()
                .join(ops.select(*key_cols).distinct(), key_cols,
                      "left_semi")
                # both sides of the detection join are change-scoped
                # (divergence-sized), so pinning keeps the conflict set
                # from re-deriving both feeds for the sample AND the
                # anti-join below
                .localCheckpoint(eager=True)
            )
        if conflicts is not None and on_conflict == "fail":
            sample = conflicts.limit(20).collect()
            if sample:
                raise BranchMergeConflict(
                    f"{len(sample)}{'+' if len(sample) == 20 else ''} "
                    f"key(s) modified on both source and branch since "
                    f"branch point v{bf['version']} (first: "
                    f"{[tuple(r) for r in sample[:5]]})",
                    [tuple(r) for r in sample],
                )
        ops_eff = ops
        if conflicts is not None and on_conflict == "source-wins":
            ops_eff = ops.join(conflicts, key_cols, "left_anti")
        if conflicts is not None and on_conflict == "column-merge":
            ops_eff = _column_merge_ops(ops, conflicts, cf, src_cf, key_cols)
        try:
            return src.merge_cdc(
                ops_eff, key_cols, message="merge-branch",
                expect_version=src_head,
            )
        except CommitConflict as e:
            last = e  # source advanced: re-scan against the new head
    raise CommitConflict(
        f"merge_branch gave up after {src._MUTATION_RETRIES} "
        f"re-validation rounds: {last}"
    )


def epoch_committed(lake: VersionedLake, epoch: int) -> bool:
    """Has this streaming epoch already been applied?

    The manifest carries ``last_epoch``, a high-water mark published in
    the SAME atomic manifest swap as the epoch's data (via
    ``upsert(..., epoch=...)``) and carried forward by every later
    commit — so the answer survives :meth:`VersionedLake.vacuum`
    dropping old manifests, and there is no window where the data is
    committed but the marker is not.  Correct because Structured
    Streaming epoch ids are strictly increasing per query (the same
    monotonicity Delta's per-appId txn versions rely on)."""
    try:
        m = lake._manifest()
    except (ValueError, FileNotFoundError):
        return False
    last = m.get("last_epoch")
    return last is not None and int(epoch) <= int(last)


def streaming_epoch_sink(lake: VersionedLake, key_cols: list[str]):
    """foreachBatch body for an EXACTLY-ONCE streaming upsert into the
    versioned lake: each micro-batch commits as ONE snapshot whose
    manifest carries both the data-file list and the epoch high-water
    mark — marker and data publish in a single atomic manifest swap, so
    a crash can never leave a committed-but-unmarked epoch.  A replayed
    epoch (failure → foreachBatch re-run with the same epoch_id,
    Spark's at-least-once contract) is detected and skipped, so the
    lake reflects every epoch exactly once.

    Use: ``stream.writeStream.foreachBatch(streaming_epoch_sink(lake,
    ["id"]))``.  The upsert path means late/duplicate keys WITHIN the
    stream also converge (last epoch wins per key).
    """

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        if epoch_committed(lake, e):
            return
        # The micro-batch is consumed several times (emptiness check,
        # the upsert's key aggregate, the rewrite union); persisting it
        # makes the source — for a Python Data Source, a per-row
        # JVM→Python→JVM boundary — run ONCE per epoch.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            lake.upsert(batch_df, key_cols, message=f"epoch-{e}", epoch=e)
        finally:
            batch_df.unpersist()

    return body


def additive_matview_sink(lake: VersionedLake, group_cols: list[str],
                           partial):
    """foreachBatch body for an EXACTLY-ONCE incrementally-maintained
    AGGREGATE materialized view: ``partial(batch_df)`` reduces the
    micro-batch to per-group additive counters (count / decimal sums —
    anything where merge = column-wise +), the sink folds them into the
    view's current state, and the merged state upserts as ONE epoch-
    marked snapshot, so replays of the same epoch (Spark's at-least-
    once foreachBatch contract) are detected and skipped rather than
    double-counted.  The additive fold touches only the matview (group-
    cardinality-sized) plus the batch's partial — never the source
    table — which is what makes the view INCREMENTAL at scale.

    Counter columns are every non-group column of ``partial``'s output;
    each is summed and cast back to its declared type so decimal sums
    stay exact across epochs."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        if epoch_committed(lake, e):
            return
        # Persist the micro-batch: the emptiness check and the merged
        # view's evaluations inside upsert would otherwise each re-run
        # the source read (for a Python Data Source, a per-row
        # JVM→Python→JVM boundary) — with the cache the source is read
        # once per epoch and the re-evaluations fold the group-
        # cardinality-sized matview against cached blocks.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            p = partial(batch_df)
            dtypes = dict(p.dtypes)
            counters = [c for c in p.columns if c not in group_cols]
            merged = (
                lake.read().select(*p.columns).unionByName(p)
                .groupBy(*group_cols)
                .agg(*[F.sum(c).cast(dtypes[c]).alias(c) for c in counters])
            ).persist()
            try:
                # group-by output is unique per key by construction:
                # the duplicate-key validation job is provably
                # redundant here
                lake.upsert(merged, group_cols,
                            message=f"matview-epoch-{e}", epoch=e,
                            keys_unique=True)
            finally:
                merged.unpersist()
        finally:
            batch_df.unpersist()

    return body


def uniq_matview_sink(
    lake: VersionedLake, group_cols: list[str], col: str, p: int = 8
):
    """foreachBatch body for an EXACTLY-ONCE incrementally-maintained
    DISTINCT-COUNT materialized view — the streaming twin of
    :func:`maintain_uniq_state` and the uniq counterpart of
    :func:`additive_matview_sink`: each micro-batch reduces to its
    (group, code) HLL code-set rows (bounded at ``2^p * (60-p+1)``
    codes per group regardless of batch size), and the new codes
    upsert keyed by (group…, code) — the set-union fold.  The epoch
    marker publishes in the same atomic manifest swap; unlike
    additive counters the fold is also IDEMPOTENT (a replayed code
    upserts to the identical row), so replays are safe twice over —
    the guard saves the commit, union saves the values.  Finalize
    with :func:`ext.sketches.hll_distinct_from_codes` over
    ``lake.read()`` — the estimates equal a full rescan's exactly
    (register-union law).  Create the lake with an empty (group…,
    code BIGINT) frame, or from ``uniq_state_of`` of a backfill."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        if epoch_committed(lake, e):
            return
        # same one-source-read-per-epoch rationale as
        # additive_matview_sink
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            codes = uniq_state_of(batch_df, group_cols, col, p)
            # uniq_state_of ends in .distinct() over exactly
            # (group..., code): unique by construction
            lake.upsert(
                codes, [*group_cols, "code"],
                message=f"uniq-matview-epoch-{e}", epoch=e,
                keys_unique=True,
            )
        finally:
            batch_df.unpersist()

    return body


def scd2_sink(lake: VersionedLake, key_cols: list[str],
              attr_cols: list[str]):
    """foreachBatch body for EXACTLY-ONCE incremental SCD2 (slowly
    changing dimension, type 2) maintenance: each micro-batch carries
    the LATEST attribute state for the keys that changed (one row per
    key — collapse upstream with max_by), and the sink versions the
    dimension as (``valid_from`` epoch inclusive, ``valid_to`` epoch
    exclusive, NULL = open, ``is_current`` flag).

    Per epoch: keys whose attrs differ from their open row (or are
    new) get their open row CLOSED at this epoch and a new open row
    inserted; unchanged keys are untouched.  Cost shape: the sink
    seeds ``is_current`` zone maps on first use
    (:func:`commit_with_stats`), every upsert CLUSTERS its rewritten
    files by ``is_current`` (``cluster_by`` — closed rows settle into
    all-closed files), and the change detection reads the open slice
    through :func:`read_pruned` — all-closed files are skipped from
    manifest METADATA, so the per-epoch scan is open-slice-sized and
    the rewrite change-set-sized.  History length grows only the
    skipped file list, never the bytes read (asserted by
    ``test_scd2_history_files_are_metadata_skipped``).  Both the closes and the inserts
    land in ONE epoch-marked upsert keyed by (key, valid_from), so
    foreachBatch replays are detected and skipped (the same
    exactly-once contract as :func:`additive_matview_sink`).  Key
    deletions are out of scope (dimension rows change, they don't
    disappear); feed a tombstone attribute if you need them.

    Reference basis: the warehouse SCD2 pattern the reference's
    batch q_scd2_intervals derives offline, maintained incrementally.
    """

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        if epoch_committed(lake, e):
            return
        # same one-source-read-per-epoch rationale as
        # additive_matview_sink; `changed` (batch ⋈ open slice) is
        # additionally persisted below so the change-detection join
        # runs once, not once per upsert evaluation.
        batch_df.persist()
        try:
            _scd2_epoch(lake, batch_df, e, key_cols, attr_cols)
        finally:
            batch_df.unpersist()

    def _scd2_epoch(lake, batch_df, e, key_cols, attr_cols):
        if batch_df.isEmpty():
            return
        # seed is_current zone maps once, then read the OPEN slice
        # through metadata file-skipping: the upserts below cluster
        # new files by is_current, so all-closed files prune out and
        # the per-epoch scan is open-slice-sized, not history-sized.
        # The seed UNIONS with any stat columns the user already
        # attached (commit_with_stats itself unions via the manifest's
        # stat_cols field, which also keeps the lineage alive while
        # the dimension is still empty).
        m = lake._manifest()
        tracked = set(m.get("stat_cols") or [])
        for st in m.get("stats", {}).values():
            tracked.update(st.keys())
        if "is_current" not in tracked:
            commit_with_stats(lake, ["is_current"])
        cur, _, _ = read_pruned(lake, "is_current", True, True)
        cur = cur.where(F.col("is_current"))
        b = batch_df.select(*key_cols, *attr_cols).alias("__scd_new")
        c = cur.alias("__scd_cur")
        same = F.lit(True)
        for a in attr_cols:
            same = same & F.col(f"__scd_cur.{a}").eqNullSafe(
                F.col(f"__scd_new.{a}")
            )
        changed = b.join(c, key_cols, "left").where(
            F.col("__scd_cur.valid_from").isNull() | ~same
        ).persist()
        new_rows = changed.select(
            *key_cols,
            *[F.col(f"__scd_new.{a}").alias(a) for a in attr_cols],
            F.lit(e).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        closed = changed.where(
            F.col("__scd_cur.valid_from").isNotNull()
        ).select(
            *key_cols,
            *[F.col(f"__scd_cur.{a}").alias(a) for a in attr_cols],
            F.col("__scd_cur.valid_from").alias("valid_from"),
            F.lit(e).cast("long").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
        try:
            lake.upsert(
                new_rows.unionByName(closed),
                [*key_cols, "valid_from"],
                message=f"scd2-epoch-{e}",
                epoch=e,
                cluster_by=["is_current"],
            )
        finally:
            changed.unpersist()

    return body


def _file_stats(spark, paths, root, stat_cols):
    """Per-file min/max ranges for ``stat_cols`` over ``paths``."""
    df = spark.read.parquet(*paths).withColumn("_f", F.input_file_name())
    aggs = []
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    rows = df.groupBy("_f").agg(*aggs).collect()
    stats = {}
    for r in rows:
        name = os.path.relpath(
            r["_f"].replace("file://", "").replace("file:", ""), root
        )
        stats[name] = {c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stat_cols}
    return stats


def commit_with_stats(
    lake: VersionedLake, stat_cols: list[str]
) -> int:
    """Re-commit the current snapshot with per-file min/max zone maps
    for ``stat_cols`` embedded in the manifest (the Iceberg/Delta
    file-statistics idea): one scan computes each live file's column
    ranges, and subsequent :func:`read_pruned` calls skip files from
    METADATA alone — no listing, no footer reads, no scan of the
    skipped files.

    Tracked columns UNION with any previously attached set (attaching
    ``is_current`` must not wipe an existing ``valid_to`` map), and
    the column list is recorded in its own ``stat_cols`` manifest
    field so the lineage survives snapshots with zero data files.
    """
    prev_cols = lake._manifest().get("stat_cols") or []
    cols = sorted(set(stat_cols) | set(prev_cols))
    stats = _file_stats(lake.spark, lake._files(), lake.path, cols)

    # payload starts as dict(current manifest) inside _commit_meta, so
    # schema_extras / blooms / last_epoch all survive this commit
    def mutate(payload: dict) -> dict:
        payload["stats"] = stats
        payload["stat_cols"] = cols
        return payload

    return lake._commit_meta(mutate, "stats")


def read_pruned(
    lake: VersionedLake,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Manifest-stats file skipping: read only the files whose
    [min, max] range for ``col`` intersects [lo, hi].  Returns
    (frame, n_files_total, n_files_read).  Falls back to all files
    when the snapshot carries no stats for ``col`` (correctness never
    depends on pruning).  The returned frame still carries the
    predicate nowhere — callers apply their own filter; pruning is a
    superset guarantee, exactly like parquet row-group zone maps.
    """
    m = lake._manifest(version)
    files = m["files"]
    stats = m.get("stats", {})
    keep = []
    for f in files:
        rng = stats.get(f, {}).get(col)
        if rng is None or rng[0] is None:
            keep.append(f)  # no stats → cannot skip
        elif not (rng[1] < lo or rng[0] > hi):
            keep.append(f)
    paths = [os.path.normpath(os.path.join(lake.path, f)) for f in keep]
    # load through the manifest's LOGICAL schema (renames / drops /
    # add_column defaults), exactly like lake.read() — pruning must
    # never change what the surviving files LOOK like
    if not paths:
        # empty intersection: an empty frame with the table schema
        all_paths = [os.path.normpath(os.path.join(lake.path, f)) for f in files]
        return (
            lake._read_files(all_paths, version=version).where(
                F.lit(False)
            ),
            len(files),
            0,
        )
    return lake._read_files(paths, version=version), len(files), len(keep)


_BLOOM_BITS = 4096
_BLOOM_HASHES = 3


def _bloom_positions_expr(col: str):
    """The k md5-derived bit positions of a value — pure expressions,
    portable (same construction recomputes anywhere)."""
    out = []
    for i in range(_BLOOM_HASHES):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"b{i}#"), F.col(col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        out.append(F.pmod(h, F.lit(_BLOOM_BITS)))
    return out


def _bloom_positions_py(value) -> list[int]:
    import hashlib

    return [
        int(
            hashlib.md5(f"b{i}#{value}".encode()).hexdigest()[:8], 16
        )
        % _BLOOM_BITS
        for i in range(_BLOOM_HASHES)
    ]


def _file_blooms(spark, paths, root, col) -> dict:
    """Per-file Bloom word maps (hex-encoded) for ``col`` over
    ``paths`` — the distributed bit_or construction."""
    df = spark.read.parquet(*paths).select(
        F.input_file_name().alias("_f"), F.col(col)
    ).where(F.col(col).isNotNull())
    pos = F.explode(F.array(*_bloom_positions_expr(col))).alias("_p")
    words = (
        df.select("_f", pos)
        .select(
            "_f",
            (F.col("_p") / 64).cast("int").alias("_w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pmod(_p, 64) as int))"
            ).alias("_b"),
        )
        .groupBy("_f", "_w")
        .agg(F.bit_or("_b").alias("_bits"))
        .collect()
    )
    blooms: dict = {}
    for r in words:
        name = os.path.relpath(
            r["_f"].replace("file://", "").replace("file:", ""), root
        )
        blooms.setdefault(name, {})[str(int(r["_w"]))] = format(
            int(r["_bits"]) & ((1 << 64) - 1), "x"
        )
    return blooms


def commit_with_blooms(lake: VersionedLake, col: str) -> int:
    """Re-commit the current snapshot with a per-file Bloom filter over
    ``col`` in the manifest — the point-lookup complement of the
    min/max zone maps (a uniformly scattered key defeats ranges but
    not membership bits).

    Built distributively: each value contributes k md5-derived bit
    positions; positions fold into 64-bit words via ``bit_or`` per
    (file, word) — at most bits/64 rows per file ever reach the
    driver, regardless of file size.  Serialized as hex words in the
    manifest; mutations carry untouched files' blooms forward through
    the same incremental path as the zone maps.
    """
    blooms = {
        "col": col,
        "bits": _BLOOM_BITS,
        "hashes": _BLOOM_HASHES,
        "files": _file_blooms(lake.spark, lake._files(), lake.path, col),
    }

    def mutate(payload: dict) -> dict:
        payload["blooms"] = blooms
        return payload

    return lake._commit_meta(mutate, "blooms")


def read_pruned_point(
    lake: VersionedLake, value, version: int | None = None
):
    """Bloom-pruned point read: keep only files whose Bloom filter has
    ALL k bits of ``value`` set (files without a bloom are kept — the
    filter may only skip, never lose).  Returns
    (frame, n_files_total, n_files_read)."""
    m = lake._manifest(version)
    files = m["files"]
    bl = m.get("blooms")
    if not bl:
        paths = [os.path.normpath(os.path.join(lake.path, f)) for f in files]
        return lake.spark.read.parquet(*paths), len(files), len(files)
    positions = _bloom_positions_py(value)
    keep = []
    for f in files:
        ws = bl["files"].get(f)
        if ws is None:
            keep.append(f)
            continue
        ok = True
        for p in positions:
            word = ws.get(str(p // 64))
            if word is None or not (int(word, 16) >> (p % 64)) & 1:
                ok = False
                break
        if ok:
            keep.append(f)
    if not keep:
        all_paths = [os.path.normpath(os.path.join(lake.path, f)) for f in files]
        return (
            lake.spark.read.parquet(*all_paths).where(F.lit(False)),
            len(files),
            0,
        )
    paths = [os.path.normpath(os.path.join(lake.path, f)) for f in keep]
    return lake.spark.read.parquet(*paths), len(files), len(keep)


def read_pruned_multi(
    lake: VersionedLake,
    ranges: dict,
    version: int | None = None,
):
    """Multi-column zone-map pruning: keep files whose stats intersect
    EVERY ``col: (lo, hi)`` range (conjunctive predicates prune with
    the intersection of each column's survivors).  Missing stats for a
    column keep the file — superset guarantee as always.  Returns
    (frame, n_files_total, n_files_read)."""
    m = lake._manifest(version)
    files = m["files"]
    stats = m.get("stats", {})
    keep = []
    for f in files:
        ok = True
        for c, (lo, hi) in ranges.items():
            rng = stats.get(f, {}).get(c)
            if rng is None or rng[0] is None:
                continue
            if rng[1] < lo or rng[0] > hi:
                ok = False
                break
        if ok:
            keep.append(f)
    if not keep:
        all_paths = [os.path.normpath(os.path.join(lake.path, f)) for f in files]
        return (
            lake.spark.read.parquet(*all_paths).where(F.lit(False)),
            len(files),
            0,
        )
    paths = [os.path.normpath(os.path.join(lake.path, f)) for f in keep]
    return lake.spark.read.parquet(*paths), len(files), len(keep)


def add_column(
    lake: VersionedLake, name: str, default, expr: bool = False
) -> int:
    """Schema evolution without rewriting a single data file: record
    the new column and its default in the manifest; snapshot reads
    apply the default for files written before the column existed
    (:meth:`VersionedLake.read` consults ``schema_extras``).  Rows
    written AFTER the evolution carry real values; old files never
    change — the add-column semantics of a real table format (and of
    the reference's own ALTER TABLE ... ADD COLUMN source DEFAULT
    'unknown', entrypoint.sh:130-161).

    ``expr=True`` makes ``default`` a SQL expression string evaluated
    over the row at read time (ClickHouse MATERIALIZED/DEFAULT
    expressions — e.g. ``add_column(lake, "n_tokens",
    "size(split(text, ' '))", expr=True)``); stored in the manifest,
    so every engine reading it applies the same derivation."""
    def mutate(payload: dict) -> dict:
        extras = dict(payload.get("schema_extras", {}))
        if name in extras:
            raise ValueError(f"column {name} already added")
        used = set(payload.get("drops", [])) | {
            r["from"] for r in payload.get("renames", [])
        }
        if name in used:
            # old-generation files still carry this physical name; an
            # added column would coalesce their stale bytes into the
            # "new" column instead of the default
            raise ValueError(
                f"add_column: {name} was previously dropped or renamed "
                "away — physical names are never reused"
            )
        extras[name] = {"expr": default} if expr else default
        payload["schema_extras"] = extras
        return payload

    return lake._commit_meta(mutate, f"add-column-{name}")


def add_constraint(lake: VersionedLake, name: str, expr: str) -> int:
    """ALTER TABLE … ADD CONSTRAINT CHECK (``expr``): existing data is
    validated first (the constraint must already hold — Delta's
    contract), then the expression is recorded in the manifest and
    every later mutation rewrite is checked before its commit
    publishes (:meth:`VersionedLake._check_constraints`; SQL CHECK
    semantics — NULL passes, FALSE refuses the whole commit).  Layout
    commits (compact / optimize) skip the re-check: they rewrite
    already-validated rows.

    The validation is pinned to the snapshot it read: if a DATA commit
    lands between validation and the metadata publish (the symmetric
    race to the one ``based_on_constraints`` guards), the publish is
    refused and the whole validate-then-record cycle re-runs against
    the new snapshot — otherwise rows validated only against the old
    version could slip under the newly added CHECK."""
    last: CommitConflict | None = None
    for _ in range(VersionedLake._MUTATION_RETRIES):
        validated_v = lake.current_version()
        bad = (
            lake.read(version=validated_v)
            .where(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"cannot add CHECK {name}: existing rows violate "
                f"({expr})"
            )

        def mutate(payload: dict) -> dict:
            # payload still carries the version it was read at;
            # _commit_meta bumps it after mutate returns
            if payload["version"] != validated_v:
                raise CommitConflict(
                    f"add_constraint {name}: data committed after "
                    f"validation (v{validated_v} -> "
                    f"v{payload['version']}) — re-validating"
                )
            cons = dict(payload.get("constraints", {}))
            if name in cons:
                raise ValueError(f"constraint {name} already exists")
            cons[name] = expr
            payload["constraints"] = cons
            return payload

        try:
            return lake._commit_meta(mutate, f"add-constraint-{name}")
        except CommitConflict as e:
            last = e
    raise CommitConflict(
        f"add_constraint {name} gave up after "
        f"{VersionedLake._MUTATION_RETRIES} conflicting commits: {last}"
    )


def drop_constraint(lake: VersionedLake, name: str) -> int:
    def mutate(payload: dict) -> dict:
        cons = dict(payload.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no constraint {name}")
        cons.pop(name)
        payload["constraints"] = cons
        return payload

    return lake._commit_meta(mutate, f"drop-constraint-{name}")


def rename_column(lake: VersionedLake, old: str, new: str) -> int:
    """ALTER TABLE … RENAME COLUMN without touching a single data file
    — the Delta column-mapping semantics, recorded as an ordered
    rename list in the manifest.  Old-generation files keep their
    physical name and resolve through the mapping; files written by
    later mutations carry the new name physically (they write through
    the logical schema); mixed generations coalesce.  Time travel to a
    pre-rename snapshot shows the old name (that manifest has no
    mapping), and the change feed — which reads both sides under the
    TARGET version's logical schema — carries the new name across the
    rename boundary.

    The old name must exist logically, the new one must not, and a
    dropped name is never reused (name-keyed mapping stays
    unambiguous without Delta's field ids)."""
    cols = set(lake.read().columns)
    if old not in cols:
        raise ValueError(f"rename_column: no column {old}")
    if new in cols:
        raise ValueError(f"rename_column: column {new} already exists")

    def mutate(payload: dict) -> dict:
        # NO physical name is ever reused: not a dropped column (its
        # bytes linger in old files) and not a renamed-AWAY source
        # (old-generation files still carry it physically — reusing it
        # as a target would make the name-keyed mapping ambiguous and
        # merge ex-column data into the new one, or break mergeSchema
        # outright on a type clash).
        used = set(payload.get("drops", [])) | {
            r["from"] for r in payload.get("renames", [])
        }
        if new in used:
            raise ValueError(
                f"rename_column: {new} was previously dropped or "
                "renamed away — physical names are never reused"
            )
        extras = dict(payload.get("schema_extras", {}))
        if old in extras:
            # an added/materialized column renames in metadata alone
            extras[new] = extras.pop(old)
            payload["schema_extras"] = extras
        else:
            payload["renames"] = [
                *payload.get("renames", []), {"from": old, "to": new}
            ]
        return payload

    return lake._commit_meta(mutate, f"rename-column-{old}-to-{new}")


def drop_column(lake: VersionedLake, name: str) -> int:
    """ALTER TABLE … DROP COLUMN, metadata-only: the column vanishes
    from every logical read (including mutation rewrites, which write
    the post-drop schema physically from then on); bytes in
    old-generation files are reclaimed lazily as COW rewrites /
    compaction touch them.  Dropped names are never reused."""
    if name not in lake.read().columns:
        raise ValueError(f"drop_column: no column {name}")

    def mutate(payload: dict) -> dict:
        extras = dict(payload.get("schema_extras", {}))
        if name in extras:
            extras.pop(name)
            payload["schema_extras"] = extras
        else:
            payload["drops"] = [*payload.get("drops", []), name]
        return payload

    return lake._commit_meta(mutate, f"drop-column-{name}")


# ---------------------------------------------------------------------------
# Projections: a ClickHouse PROJECTION analog — a materialized
# aggregate stored WITH the table and kept correct across commits.
# The stored files reflect the data version they were built at; reads
# roll them forward through the change feed on the fly, so a
# projection is NEVER stale and maintenance cost is ∝ the commits
# since the last refresh, not the table.
# ---------------------------------------------------------------------------

_PROJ_DIR = "_projections"


def _proj_write(lake: VersionedLake, name: str, df: DataFrame) -> list[str]:
    """Write projection files under ``_projections/<name>-<tag>/``
    (underscore prefix: invisible to vacuum, bucketed-layout checks,
    and directory readers)."""
    tag = uuid.uuid4().hex[:8]
    out_dir = os.path.join(lake.path, _PROJ_DIR, f"{name}-{tag}")
    df.coalesce(1).write.parquet(out_dir)
    rel = []
    for f in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, f)
        if f.startswith("part-") and os.path.isfile(p):
            rel.append(os.path.relpath(p, lake.path))
    return rel


def add_projection(
    lake: VersionedLake,
    name: str,
    key_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
) -> int:
    """Materialize ``sum_agg_of(data, group_cols, sum_cols)`` as a
    stored projection.  ``key_cols`` (the table's row identity) let the
    change feed pair pre/post rows when the projection rolls forward.
    """
    m = lake._manifest()
    built_at = m["version"]
    agg = sum_agg_of(
        lake.read(built_at), group_cols, sum_cols
    )
    files = _proj_write(lake, name, agg)

    def mutate(payload: dict) -> dict:
        projs = dict(payload.get("projections", {}))
        projs[name] = {
            "key_cols": key_cols,
            "group_cols": group_cols,
            "sum_cols": sum_cols,
            "built_at": built_at,
            "files": files,
        }
        payload["projections"] = projs
        return payload

    return lake._commit_meta(mutate, f"add-projection-{name}")


def read_projection(
    lake: VersionedLake, name: str, version: int | None = None
) -> DataFrame:
    """Serve the projection at data ``version`` (default CURRENT):
    stored files plus an on-the-fly roll-forward over the change feed
    between the stored ``built_at`` and that version.  Always exact
    (law: equals a full recompute), and the roll-forward reads only
    the files the intervening commits actually changed.

    ``version`` exists so multi-step callers (refresh_projection) can
    pin one snapshot across their whole read-modify-write — without
    it, a data commit landing between the caller's manifest read and
    this one would make the roll-forward target drift (TOCTOU)."""
    m = lake._manifest(version)
    p = m.get("projections", {}).get(name)
    if p is None:
        raise ValueError(f"no projection {name}")
    base = lake.spark.read.parquet(
        *[os.path.normpath(os.path.join(lake.path, f)) for f in p["files"]]
    )
    cur = m["version"]
    if p["built_at"] == cur:
        return base
    return maintain_sum_agg(
        lake,
        base,
        p["built_at"],
        cur,
        p["group_cols"],
        p["key_cols"],
        p["sum_cols"],
    )


def refresh_projection(lake: VersionedLake, name: str) -> int:
    """Re-materialize the rolled-forward projection and bump its
    ``built_at`` — amortizes the read-time roll-forward after many
    commits.  A no-op commit if already current."""
    m = lake._manifest()
    p = m.get("projections", {}).get(name)
    if p is None:
        raise ValueError(f"no projection {name}")
    if p["built_at"] == m["version"]:
        return m["version"]
    # Pin the roll-forward target to THIS manifest read: a concurrent
    # data commit between here and the read would otherwise make the
    # stored files reflect a newer version than built_at records, and
    # later reads would re-apply the intervening delta (double-count).
    built_at = m["version"]
    rolled = read_projection(lake, name, version=built_at).localCheckpoint(
        eager=True
    )
    files = _proj_write(lake, name, rolled)

    old_files = list(p["files"])

    def mutate(payload: dict) -> dict:
        projs = dict(payload.get("projections", {}))
        entry = dict(projs[name])
        entry["built_at"] = built_at
        entry["files"] = files
        projs[name] = entry
        payload["projections"] = projs
        return payload

    v = lake._commit_meta(mutate, f"refresh-projection-{name}")
    # superseded projection files are unreachable once the refreshed
    # manifest is live (read_projection only ever resolves the CURRENT
    # entry), so reclaim them here; a crash before this point only
    # leaves orphans under _projections/, never a broken read
    for f in old_files:
        try:
            os.unlink(os.path.join(lake.path, f))
        except FileNotFoundError:
            pass
    return v


def route_aggregate(
    lake: VersionedLake,
    group_cols: list[str],
    sum_cols: list[str],
) -> tuple[DataFrame, str]:
    """Projection-aware aggregate routing — the ClickHouse planner
    behavior of answering a GROUP BY from a stored PROJECTION when one
    matches.  A projection grouped by a SUPERSET of ``group_cols``
    covering every requested sum can answer by re-aggregating its
    (already tiny) rows: counts and sums are distributive, so
    re-aggregation over the finer groups is exact.  Falls back to the
    full table scan when no projection qualifies.  Returns
    ``(frame, route)`` where route is the projection name or
    ``"scan"``."""
    m = lake._manifest()
    best = None
    for name, p in m.get("projections", {}).items():
        if set(group_cols) <= set(p["group_cols"]) and set(sum_cols) <= set(
            p["sum_cols"]
        ):
            # prefer the coarsest qualifying projection (fewest extra
            # group columns → fewest rows to re-aggregate)
            if best is None or len(p["group_cols"]) < len(
                m["projections"][best]["group_cols"]
            ):
                best = name
    if best is None:
        return sum_agg_of(lake.read(), group_cols, sum_cols), "scan"
    proj = read_projection(lake, best)
    out = proj.groupBy(*group_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )
    return out, best


def apply_ttl(lake: VersionedLake, predicate: Column) -> int:
    """TTL enforcement as a first-class commit (the ClickHouse
    ``TTL ... DELETE`` analog): delete every row matching the
    expiration predicate in ONE snapshot tagged ``ttl``, so retention
    sweeps are visible in the table history and the change feed, and
    rewrite only the files that actually hold expired rows (the COW
    probe).  Pass the cutoff explicitly (e.g. ``col("ts") <
    lit("2024-01-03")``) — retention policy evaluation belongs to the
    caller's scheduler, not hidden wall-clock reads."""
    return lake._delete_where(predicate, "ttl")


def apply_ttl_rollup(
    lake: VersionedLake,
    predicate: Column,
    group_cols: list[str],
    aggs: dict[str, str],
) -> int:
    """TTL with aggregation instead of deletion — the ClickHouse
    ``TTL … GROUP BY … SET col = agg(col)`` semantics: rows past the
    expiration predicate collapse to ONE row per ``group_cols`` group,
    with every non-group column reduced by its declared aggregate
    (``aggs``: column → ``"sum" | "min" | "max"``), in ONE snapshot
    tagged ``ttl-rollup``.  Fresh rows are untouched; NULL-predicate
    rows are retained verbatim (same three-valued semantics as
    :func:`apply_ttl`).

    Every table column must be a group column or carry an aggregate —
    the rollup rows must fit the table schema exactly (they are
    ordinary rows afterwards: time travel, CDF, and projections treat
    the sweep as a delete+insert).  The COW probe rewrites only files
    holding expired rows, so sweep cost follows the expired volume.
    """
    _AGGS = {"sum": F.sum, "min": F.min, "max": F.max}
    bad = set(aggs.values()) - set(_AGGS)
    if bad:
        raise ValueError(f"apply_ttl_rollup: unknown aggs {sorted(bad)}")
    overlap = set(group_cols) & set(aggs)
    if overlap:
        raise ValueError(
            "apply_ttl_rollup: columns cannot be both grouped and "
            f"aggregated: {sorted(overlap)}"
        )

    expired = F.coalesce(predicate, F.lit(False))

    def rewrite(sub, cols):
        missing = set(cols) - set(group_cols) - set(aggs)
        if missing:
            raise ValueError(
                "apply_ttl_rollup: columns need a group or an "
                f"aggregate: {sorted(missing)}"
            )
        if sub is None:
            return None
        rolled = (
            sub.where(expired)
            .groupBy(*group_cols)
            .agg(*[_AGGS[a](F.col(c)).alias(c) for c, a in aggs.items()])
            .select(*sub.columns)
        )
        return sub.where(~expired).unionByName(rolled)

    return lake._rewrite_matching(
        lambda df: df.where(predicate), rewrite, "ttl-rollup"
    )
