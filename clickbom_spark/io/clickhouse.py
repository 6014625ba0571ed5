"""ClickHouse sink: DDL, schema migration, truncate/append load (K2-K4).

The reference drives ClickHouse over its HTTP interface with curl
(entrypoint.sh:130-243, 405-408).  This sink speaks the same HTTP
protocol through an injectable transport, so tests assert exact SQL
text like the reference's scripted-curl tests
(test/advanced.bats:1173-1527), and production use needs no JDBC jar.

Write path: ``insert_components`` ships TSV batches per partition via
``foreachPartition`` — the distributed generalization of the
reference's single whole-file POST (entrypoint.sh:405-408), with
ClickHouse-side per-part sorting providing the MergeTree ORDER BY.

Scale: each executor partition posts its own batch concurrently;
partition size is controlled upstream (repartition before write);
``sortWithinPartitions(name, version, license)`` pre-orders rows to
minimize ClickHouse merge work (storage sort key, entrypoint.sh:228).
"""

from __future__ import annotations

import urllib.parse
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickbom_spark.io.formats import tsv_escape

Transport = Callable[[str, bytes | None], tuple[int, bytes]]


class ClickHouseError(RuntimeError):
    pass


def http_transport(url: str, username: str | None = None, password: str | None = None):
    """POST-only HTTP transport (the curl calls in the reference)."""

    def send(query: str, body: bytes | None = None) -> tuple[int, bytes]:
        full = f"{url}/?query={urllib.parse.quote(query)}"
        headers = {}
        if username is not None:
            import base64

            cred = f"{username}:{password or ''}".encode()
            headers["Authorization"] = "Basic " + base64.b64encode(cred).decode()
        if body is not None:
            headers["Content-Type"] = "text/tab-separated-values"
        req = urllib.request.Request(full, data=body or b"", method="POST", headers=headers)
        with urllib.request.urlopen(req, timeout=120) as resp:  # noqa: S310
            return resp.status, resp.read()

    return send


DDL_TEMPLATE = (
    "CREATE TABLE {db}.{table} ("
    "name String, version String, license String, "
    "source LowCardinality(String), "
    "inserted_at DateTime DEFAULT now()"
    ") ENGINE = MergeTree() ORDER BY (name, version, license)"
)


@dataclass
class ClickHouseSink:
    transport: Transport
    database: str
    table: str

    def _exec(self, query: str, body: bytes | None = None) -> bytes:
        status, data = self.transport(query, body)
        if status != 200:
            raise ClickHouseError(f"ClickHouse query failed ({status}): {query}")
        return data

    def table_exists(self) -> bool:
        """K2 probe (entrypoint.sh:197)."""
        out = self._exec(
            "SELECT count() FROM system.tables WHERE database = "
            f"'{self.database}' AND name = '{self.table}'"
        )
        return out.strip() == b"1"

    def has_source_column(self) -> bool:
        """K3 probe (entrypoint.sh:139)."""
        out = self._exec(
            "SELECT count() FROM system.columns WHERE database = "
            f"'{self.database}' AND table = '{self.table}' AND name = 'source'"
        )
        return out.strip() == b"1"

    def migrate_add_source(self) -> None:
        """K3 (entrypoint.sh:146): add the source column in place."""
        self._exec(
            f"ALTER TABLE {self.database}.{self.table} ADD COLUMN source "
            "LowCardinality(String) DEFAULT 'unknown'"
        )

    def create_table(self) -> None:
        """K2 DDL (entrypoint.sh:220-229)."""
        self._exec(DDL_TEMPLATE.format(db=self.database, table=self.table))

    def truncate(self) -> None:
        self._exec(f"TRUNCATE TABLE {self.database}.{self.table}")

    def setup(self, truncate_table: bool = False) -> None:
        """K2/K3 orchestration, order preserved exactly
        (entrypoint.sh:164-243: exists? → migrate → truncate?; else CREATE)."""
        if self.table_exists():
            if not self.has_source_column():
                self.migrate_add_source()
            if truncate_table:
                self.truncate()
        else:
            self.create_table()

    def insert_components(self, components: DataFrame) -> None:
        """K4: distributed TSV insert of (name, version, license, source).

        Rows are pre-sorted within partitions on the MergeTree key; each
        partition posts one INSERT (entrypoint.sh:405-408 semantics,
        partition-parallel).  Each row's TSV line is built in Catalyst
        (``io.formats.tsv_escape``: NULL is ClickHouse's ``\\N``).

        Each INSERT carries an ``insert_deduplication_token`` derived
        from (table, per-job run id, partition id, TSV payload): a
        Spark TASK RETRY re-executes the same partition of the same job
        with byte-identical content, reproducing the token, so
        ClickHouse's insert dedup window drops the duplicate block —
        exactly-once-per-partition under the at-least-once task
        execution a 1000-executor job WILL hit.  The run id and
        partition id keep LEGITIMATE duplicates apart: two partitions
        that happen to serialize identical bytes, or a deliberate
        re-run of the pipeline inside the dedup window (truncate +
        reload), must not share a token or ClickHouse would silently
        drop real rows.  (Non-replicated MergeTree needs
        ``non_replicated_deduplication_window > 0`` server-side; on
        Replicated* tables the window is on by default.)
        """
        import uuid

        target = f"{self.database}.{self.table}"
        transport = self.transport
        run_id = uuid.uuid4().hex  # one per insert_components job
        cols = ["name", "version", "license", "source"]
        line = F.concat_ws("\t", *[tsv_escape(F.col(c).cast("string")) for c in cols])
        tsv = components.sortWithinPartitions(*cols[:3]).select(line.alias("line"))

        def send_partition(rows):
            import hashlib

            from pyspark import TaskContext

            lines = [r["line"] for r in rows]
            if not lines:
                return
            payload = ("\n".join(lines) + "\n").encode()
            tc = TaskContext.get()
            # partitionId is stable across task RETRIES (attemptNumber
            # changes, partition does not) — exactly the identity the
            # token needs
            pid = tc.partitionId() if tc is not None else -1
            token = hashlib.md5(
                b"\x00".join(
                    [target.encode(), run_id.encode(), str(pid).encode(), payload]
                )
            ).hexdigest()
            insert_q = (
                f"INSERT INTO {target} (name, version, license, source) "
                f"SETTINGS insert_deduplication_token='{token}' FORMAT TSV"
            )
            status, _ = transport(insert_q, payload)
            if status != 200:
                raise ClickHouseError(f"ClickHouse INSERT failed with HTTP {status}")

        tsv.foreachPartition(send_partition)
