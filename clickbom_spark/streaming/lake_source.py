"""The versioned lake as a first-class Structured Streaming SOURCE —
the Delta streaming-source analog, built on Spark 4's Python Data
Source API (pyspark.sql.datasource).

Each manifest version is an offset: a micro-batch carries exactly the
rows of the files ADDED between two snapshots, split one input
partition per file so the actual parquet reads run ON EXECUTORS (this
is the partition-planning ``DataSourceStreamReader``, not the
driver-side "simple" reader — data never funnels through the driver).
Offsets are checkpointed by Spark, so restart/replay is exactly-once
by construction: the same (start, end] version range always plans the
same file partitions.

Semantics (same contract Delta's source documents):

- **Append-only by default.**  A commit that REMOVES files (COW
  update/delete/upsert-with-matches, compaction) is not expressible as
  an append stream; the reader fails fast on it.
- ``ignoreChanges=true`` relaxes this: commits that rewrite files emit
  the rows of their ADDED files (so rewritten rows re-appear —
  downstream must be idempotent per key, exactly Delta's documented
  ``ignoreChanges`` behavior); file removals are ignored.
- ``startingVersion=N`` begins consumption at snapshot N (default:
  everything from v0, i.e. the create commit is the first batch).

Usage::

    spark.dataSource.register(LakeStreamDataSource)
    stream = (spark.readStream.format("lake_stream")
              .option("path", lake.path).load())

Reference basis: Spark's Python Data Source API (SPARK-44076) and the
publicly documented Delta streaming-source semantics; no non-public
interfaces involved.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from clickbom_spark.ext.manifest import _mdir, current_version, read_manifest


def _manifest(path: str, v: int) -> dict | None:
    """Manifest ``v``, or None when that version has been vacuumed."""
    try:
        return read_manifest(path, v)
    except FileNotFoundError:
        return None


def _earliest_version(path: str) -> int:
    best = None
    for name in os.listdir(_mdir(path)):
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            best = v if best is None else min(best, v)
    if best is None:
        raise ValueError(f"no lake at {path}")
    return best


def _arrow_to_ddl(field) -> str:
    """Minimal arrow→Spark DDL mapping for the lake's column types."""
    import pyarrow as pa

    t = field.type
    if pa.types.is_int64(t):
        s = "bigint"
    elif pa.types.is_int32(t):
        s = "int"
    elif pa.types.is_float64(t):
        s = "double"
    elif pa.types.is_float32(t):
        s = "float"
    elif pa.types.is_boolean(t):
        s = "boolean"
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        s = "string"
    elif pa.types.is_timestamp(t):
        s = "timestamp_ntz" if t.tz is None else "timestamp"
    elif pa.types.is_date(t):
        s = "date"
    elif pa.types.is_decimal(t):
        s = f"decimal({t.precision},{t.scale})"
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        s = f"array<{_arrow_to_ddl(t.value_field)}>"
    else:
        raise ValueError(f"unsupported lake column type: {t}")
    return s


def _ddl_to_arrow(ddl: str):
    """Inverse of :func:`_arrow_to_ddl` — the Arrow type a default /
    missing-in-this-generation column must carry so the yielded
    RecordBatch matches the plan-time schema."""
    import pyarrow as pa

    s = ddl.strip().lower()
    scalars = {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "string": pa.string(),
        "timestamp_ntz": pa.timestamp("us"),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "date": pa.date32(),
    }
    if s in scalars:
        return scalars[s]
    if s.startswith("decimal(") and s.endswith(")"):
        p, sc = s[len("decimal("):-1].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(_ddl_to_arrow(s[len("array<"):-1]))
    raise ValueError(f"unsupported lake column type DDL: {ddl}")


class _FilePartition(InputPartition):
    def __init__(self, file_path: str):
        self.file_path = file_path


class LakeStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        # Spark hands options through a case-insensitive map whose
        # keys arrive lowercased — normalize before lookups
        options = {k.lower(): v for k, v in options.items()}
        self.path = options.get("path")
        if not self.path:
            raise ValueError("lake_stream requires option 'path'")
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        start = int(options.get("startingversion", 0))
        # offset = "consumed THROUGH version v"; start-1 means the
        # first batch begins at `startingVersion`
        self._initial = {"version": start - 1}
        # The LOGICAL schema is fixed at plan time: field order plus
        # the manifest's rename/drop/added-default metadata, so
        # executor-side reads resolve each logical field against
        # whatever PHYSICAL generation a file belongs to (pre-rename
        # files carry old names; pre-add files lack the column).
        self._fields, self._renames, self._defaults = _logical_schema(
            self.path
        )

    def initialOffset(self) -> dict:
        return self._initial

    def latestOffset(self) -> dict:
        return {"version": max(current_version(self.path),
                               self._initial["version"])}

    def _added_files(self, v_from: int, v_to: int) -> list[str]:
        """Files added by each commit in (v_from, v_to], enforcing the
        append-only contract per commit (deterministic for a fixed
        range — manifests are immutable — so replay re-plans the same
        partitions)."""
        added: list[str] = []
        prev: set | None = None
        earliest = _earliest_version(self.path)
        # The clamp-to-earliest below (full-snapshot first batch,
        # Delta's initial-snapshot behavior) is ONLY sound for the
        # INITIAL offset.  A checkpointed stream resuming after the
        # lake was vacuumed past its consumed position must fail
        # instead: the per-commit adds in (v_from, earliest) are
        # unrecoverable (manifests are full snapshots, so the diff
        # base is gone) and re-delivering the earliest snapshot's
        # full file list would duplicate rows already consumed —
        # Delta's failOnDataLoss contract.
        if v_from != self._initial["version"] and v_from < earliest:
            raise ValueError(
                f"lake_stream: checkpointed offset v{v_from} predates "
                f"the earliest surviving snapshot v{earliest} — the "
                "lake was vacuumed past the stream's consumed "
                "position, so resuming would re-deliver already-"
                "consumed rows.  Restart from a fresh checkpoint (it "
                "will begin at the earliest surviving snapshot)."
            )
        # versions below the earliest surviving manifest were vacuumed;
        # their rows are already folded into the earliest snapshot, so
        # the range clamps there and the first observable batch is that
        # snapshot's full file list (Delta's initial-snapshot behavior)
        for v in range(max(v_from + 1, earliest), v_to + 1):
            m = _manifest(self.path, v)
            if m is None:
                raise ValueError(
                    f"lake_stream: snapshot v{v} was vacuumed away "
                    "mid-range — restart the stream from a fresh "
                    "checkpoint (it will begin at the earliest "
                    "surviving snapshot)"
                )
            cur = set(m["files"])
            if prev is None:
                pm = _manifest(self.path, v - 1) if v > 0 else None
                prev = set(pm["files"]) if pm is not None else set()
            removed = prev - cur
            if removed and not self.ignore_changes:
                raise ValueError(
                    f"lake_stream: commit v{v} ({m.get('message')}) "
                    f"removed {len(removed)} file(s) — not an append-"
                    "only stream.  Set ignoreChanges=true to receive "
                    "rewritten files' rows (downstream must then be "
                    "idempotent per key), or read the change feed "
                    "(ext.manifest.change_feed) for row-level CDC."
                )
            added.extend(sorted(cur - prev))
            prev = cur
        return added

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        files = self._added_files(start["version"], end["version"])
        return [
            _FilePartition(os.path.normpath(os.path.join(self.path, f)))
            for f in files
        ] or [_FilePartition("")]  # Spark requires >= 1 partition

    def read(self, partition: _FilePartition) -> Iterator:
        # runs ON THE EXECUTOR that owns this partition.  Yields Arrow
        # RecordBatches (supported by the Python Data Source API since
        # Spark 4.0): the parquet columns cross the Python→JVM boundary
        # as columnar Arrow buffers instead of per-row pickled tuples —
        # no per-row Python work at all on the common path.
        if not partition.file_path:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(partition.file_path)
        present = set(table.schema.names)
        n = table.num_rows
        arrays, names = [], []
        for name, ddl in self._fields:
            phys = _resolve_physical(name, present, self._renames)
            if phys is not None:
                arrays.append(table.column(phys))
            else:
                # pre-add generation: the manifest default (or None),
                # typed to the field's declared DDL so the Arrow
                # schema matches the plan-time schema exactly
                arrays.append(
                    pa.nulls(n, type=_ddl_to_arrow(ddl))
                    if self._defaults.get(name) is None
                    else pa.array(
                        [self._defaults[name]] * n, type=_ddl_to_arrow(ddl)
                    )
                )
            names.append(name)
        if not arrays:
            return iter(())
        return iter(pa.table(arrays, names=names).to_batches())

    def commit(self, end: dict) -> None:
        pass


def _resolve_physical(
    logical: str, present: set, renames: list
) -> str | None:
    """The physical column name carrying ``logical`` in a file whose
    schema is ``present``: walk the rename chain backwards (newest
    mapping first) until a present name is found."""
    name = logical
    if name in present:
        return name
    for r in reversed(renames):
        if r["to"] == name:
            name = r["from"]
            if name in present:
                return name
    return None


def _logical_schema(path: str):
    """The lake's LOGICAL schema: (fields, renames, defaults) where
    fields is ordered (name, ddl), renames is the manifest's ordered
    mapping, and defaults maps metadata-added columns to their
    constant default.  Derived from the current manifest plus one
    physical file's footer; MATERIALIZED expression columns cannot be
    evaluated outside Spark and are refused up front."""
    import pyarrow.parquet as pq

    v = current_version(path)
    if v < 0:
        raise ValueError(f"no lake at {path}")
    m = _manifest(path, v)
    if m is None or not m["files"]:
        raise ValueError(
            f"lake at {path} has no data files to derive a schema from"
        )
    first = os.path.normpath(os.path.join(path, m["files"][0]))
    schema = pq.read_schema(first)
    renames = m.get("renames", [])
    drops = set(m.get("drops", []))
    extras = m.get("schema_extras", {})
    rename_map = {r["from"]: r["to"] for r in renames}
    fields: list[tuple[str, str]] = []
    seen = set()
    for f in schema:
        logical = f.name
        # follow the chain: a->b->c resolves a to c
        while logical in rename_map:
            logical = rename_map[logical]
        if logical in drops or logical in seen:
            continue
        seen.add(logical)
        fields.append((logical, _arrow_to_ddl(f)))
    defaults = {}
    for name, default in extras.items():
        if isinstance(default, dict):
            raise ValueError(
                f"lake_stream: column {name} is a MATERIALIZED "
                "expression — stream the base columns and derive it "
                "in the query instead"
            )
        ddl = {
            bool: "boolean", int: "bigint", float: "double", str: "string"
        }.get(type(default))
        if ddl is None:
            raise ValueError(
                f"lake_stream: unsupported default type for {name}"
            )
        if name not in seen:
            fields.append((name, ddl))
            seen.add(name)
        defaults[name] = default
    return fields, renames, defaults


def _schema_fields(path: str) -> list[tuple[str, str]]:
    return _logical_schema(path)[0]


class LakeStreamDataSource(DataSource):
    """``spark.readStream.format("lake_stream")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "lake_stream"

    def schema(self) -> str:
        return ", ".join(
            f"{n} {t}" for n, t in _schema_fields(self.options["path"])
        )

    def streamReader(self, schema) -> LakeStreamReader:
        return LakeStreamReader(dict(self.options))
