"""Connector tests with fake transports — invocation-contract style,
mirroring the reference's mocked-curl tests (test/advanced.bats:197-378,
1173-1527) but against our injectable transports."""

from __future__ import annotations

import gzip
import io
import json
import zipfile

import pytest

from clickbom_spark.io.clickhouse import ClickHouseSink, DDL_TEMPLATE
from clickbom_spark.io.sources import (
    MendClient,
    SourceError,
    WizClient,
    download_github_sbom,
    extract_payloads,
)


class FakeTransport:
    """Scripted (method,url) → (status, headers, body) transport that
    records every request."""

    def __init__(self, routes):
        self.routes = routes
        self.calls = []

    def __call__(self, method, url, headers=None, body=None, timeout=None):
        self.calls.append((method, url, headers or {}, body))
        for matcher, resp in self.routes:
            if matcher in url:
                status, rbody = resp(self.calls) if callable(resp) else resp
                return status, {}, rbody if isinstance(rbody, bytes) else json.dumps(rbody).encode()
        raise AssertionError(f"unexpected request: {method} {url}")


# ---- S1 GitHub ----


def test_github_download_success_and_url_contract():
    doc = {"sbom": {"spdxVersion": "SPDX-2.3", "packages": []}}
    t = FakeTransport([("dependency-graph/sbom", (200, doc))])
    out = download_github_sbom("octo/app", token="tkn", transport=t)
    assert out == doc
    method, url, headers, _ = t.calls[0]
    assert url == "https://api.github.com/repos/octo/app/dependency-graph/sbom"
    assert headers["Authorization"] == "Bearer tkn"


def test_github_retries_on_rate_limit_then_succeeds():
    doc = {"spdxVersion": "SPDX-2.3"}
    attempts = []

    def responder(calls):
        attempts.append(1)
        if len(attempts) < 3:
            return 403, json.dumps({"message": "API rate limit exceeded"}).encode()
        return 200, json.dumps(doc).encode()

    t = FakeTransport([("dependency-graph", responder)])
    delays = []
    out = download_github_sbom(
        "o/r", transport=t, sleep=delays.append, base_delay=30.0
    )
    assert out == doc
    assert delays == [30.0, 60.0]  # linear 30·n backoff (lib/github.sh)


def test_github_permanent_404_no_retry():
    t = FakeTransport([("dependency-graph", (404, {"message": "Not Found"}))])
    with pytest.raises(SourceError, match="permanently"):
        download_github_sbom("o/r", transport=t, sleep=lambda s: None)
    assert len(t.calls) == 1


def test_github_exhausts_retries():
    t = FakeTransport([("dependency-graph", (503, {"message": "service unavailable"}))])
    with pytest.raises(SourceError, match="after 3 attempts"):
        download_github_sbom("o/r", transport=t, sleep=lambda s: None)
    assert len(t.calls) == 3


# ---- S2-S5 Mend ----


def make_mend(routes, **kw):
    t = FakeTransport(routes)
    c = MendClient(
        base_url="https://api.mend.io",
        email="a@b.co",
        org_uuid="org-1",
        user_key="key",
        transport=t,
        sleep=lambda s: None,
        **kw,
    )
    return c, t


def test_mend_two_step_auth():
    routes = [
        ("/login/accessToken", (200, {"response": {"jwtToken": "JWT1"}})),
        ("/login", (200, {"response": {"refreshToken": "R1"}})),
    ]
    c, t = make_mend(routes)
    assert c.authenticate() == "JWT1"
    # step 2 passes the refresh token in the wss-refresh-token header
    _, url, headers, _ = t.calls[1]
    assert url.endswith("/login/accessToken")
    assert headers["wss-refresh-token"] == "R1"


def test_mend_export_scope_precedence():
    routes = [
        ("/projects/p1/dependencies/reports/SBOM", (200, {"response": {"uuid": "rep-1"}})),
        ("/login/accessToken", (200, {"response": {"jwtToken": "J"}})),
        ("/login", (200, {"response": {"refreshToken": "R"}})),
    ]
    c, _ = make_mend(routes)
    c.authenticate()
    assert c.request_sbom_export(project_uuid="p1", product_uuid="ignored") == "rep-1"


def test_mend_poll_until_completed_and_unzip():
    inner = json.dumps({"bomFormat": "CycloneDX", "components": []}).encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("report.json", inner)
    states = iter(["IN_PROGRESS", "PENDING", "COMPLETED"])
    routes = [
        ("/reports/download/rep-1", (200, buf.getvalue())),
        ("/reports/rep-1", lambda calls: (200, json.dumps({"response": {"status": next(states)}}).encode())),
        ("/login/accessToken", (200, {"response": {"jwtToken": "J"}})),
        ("/login", (200, {"response": {"refreshToken": "R"}})),
    ]
    clock = {"t": 0.0}

    def fake_clock():
        clock["t"] += 1.0
        return clock["t"]

    c, t = make_mend(routes, clock=fake_clock)
    c.authenticate()
    out = c.download_when_ready("rep-1", max_wait=100, poll_interval=5)
    assert json.loads(out)["bomFormat"] == "CycloneDX"


def test_mend_failed_state_raises():
    routes = [
        ("/reports/rep-1", (200, {"response": {"status": "FAILED"}})),
        ("/login/accessToken", (200, {"response": {"jwtToken": "J"}})),
        ("/login", (200, {"response": {"refreshToken": "R"}})),
    ]
    c, _ = make_mend(routes)
    c.authenticate()
    with pytest.raises(SourceError, match="FAILED"):
        c.download_when_ready("rep-1", max_wait=100, poll_interval=1)


# ---- S6-S8 Wiz ----


def test_wiz_auth_and_report_flow():
    cdx = json.dumps({"bomFormat": "CycloneDX", "components": []}).encode()
    routes = [
        ("auth.app.wiz.io", (200, {"access_token": "WT"})),
        (
            "api.wiz.example/graphql",
            (200, {"data": {"report": {"lastRun": {"url": "https://dl.example/presigned", "status": "COMPLETED"}}}}),
        ),
        ("dl.example/presigned", (200, gzip.compress(cdx))),
    ]
    t = FakeTransport(routes)
    c = WizClient(
        api_endpoint="https://api.wiz.example/graphql",
        client_id="cid",
        client_secret="sec",
        transport=t,
    )
    c.authenticate()
    payloads = c.download_report("rep-9")
    assert len(payloads) == 1
    assert json.loads(payloads[0])["bomFormat"] == "CycloneDX"
    # auth contract: form-encoded client credentials
    _, _, headers, body = t.calls[0]
    assert b"grant_type=client_credentials" in body


def test_extract_payloads_zip_multiple():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("b.json", b'{"n": 2}')
        zf.writestr("a.json", b'{"n": 1}')
        zf.writestr("junk.txt", b"skip me")
    out = extract_payloads(buf.getvalue())
    assert [json.loads(p)["n"] for p in out] == [1, 2]


def test_extract_payloads_passthrough():
    assert extract_payloads(b'{"x": 1}') == [b'{"x": 1}']


def _picklable_github_transport(method, url, headers=None, body=None, timeout=None):
    """Module-level (picklable) transport for the executor-side fan-out."""
    repo = url.split("/repos/")[1].split("/dependency-graph")[0]
    doc = {
        "sbom": {
            "spdxVersion": "SPDX-2.3",
            "name": repo,
            "packages": [{"SPDXID": "p", "name": f"dep-of-{repo.split('/')[1]}",
                          "versionInfo": "1.0", "licenseConcluded": "MIT"}],
        }
    }
    return 200, {}, json.dumps(doc).encode()


def test_github_distributed_fanout(spark):
    """S1 at scale: repo list → mapInPandas download → parsed docs."""
    from clickbom_spark.io.sources import fetch_github_sboms_distributed
    from clickbom_spark.ops import components as C
    from clickbom_spark.ops import normalize as N

    repos = ["o/app1", "o/app2", "o/app3"]
    docs = fetch_github_sboms_distributed(
        spark, repos, transport=_picklable_github_transport
    )
    docs = N.detect_format(N.unwrap(docs))
    comps = C.spdx_components(docs, "fanout")
    names = sorted(r["name"] for r in comps.collect())
    assert names == ["dep-of-app1", "dep-of-app2", "dep-of-app3"]


def test_github_distributed_fanout_empty_repo_list(spark):
    """No repositories: the empty frame with the fan-out's columns, a
    LocalRelation that collects without a job."""
    from clickbom_spark.io.sources import fetch_github_sboms_distributed

    docs = fetch_github_sboms_distributed(
        spark, [], transport=_picklable_github_transport
    )
    one = fetch_github_sboms_distributed(
        spark, ["o/app1"], transport=_picklable_github_transport
    )
    assert docs.schema == one.schema
    plan = docs._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert docs.collect() == []


# ---- K2-K4 ClickHouse ----


class FakeCH:
    """Scripted ClickHouse HTTP endpoint recording exact SQL."""

    def __init__(self, table_exists=False, has_source=False):
        self.queries = []
        self.table_exists = table_exists
        self.has_source = has_source

    def __call__(self, query, body=None):
        self.queries.append((query, body))
        if "system.tables" in query:
            return 200, b"1" if self.table_exists else b"0"
        if "system.columns" in query:
            return 200, b"1" if self.has_source else b"0"
        return 200, b""


def test_clickhouse_create_when_missing():
    ch = FakeCH(table_exists=False)
    sink = ClickHouseSink(ch, "custom_db", "my_table")
    sink.setup()
    assert any(q.startswith("CREATE TABLE custom_db.my_table") for q, _ in ch.queries)
    create = [q for q, _ in ch.queries if q.startswith("CREATE")][0]
    assert "ENGINE = MergeTree() ORDER BY (name, version, license)" in create
    assert "source LowCardinality(String)" in create


def test_clickhouse_migrate_then_truncate_order():
    ch = FakeCH(table_exists=True, has_source=False)
    sink = ClickHouseSink(ch, "custom_db", "my_custom_table")
    sink.setup(truncate_table=True)
    sqls = [q for q, _ in ch.queries]
    alter = (
        "ALTER TABLE custom_db.my_custom_table ADD COLUMN source "
        "LowCardinality(String) DEFAULT 'unknown'"
    )
    assert alter in sqls  # exact text, test/advanced.bats:1472
    # migrate must precede truncate (entrypoint.sh:199-217)
    assert sqls.index(alter) < sqls.index("TRUNCATE TABLE custom_db.my_custom_table")


def test_clickhouse_no_migrate_when_source_present():
    ch = FakeCH(table_exists=True, has_source=True)
    ClickHouseSink(ch, "db", "t").setup()
    assert not any("ALTER" in q for q, _ in ch.queries)


def test_clickhouse_insert_tsv_end_to_end(spark, tmp_path):
    """K4 through the real path: foreachPartition → HTTP POST against a
    live local server standing in for ClickHouse."""
    import http.server
    import threading
    import urllib.parse

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length)
            q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query).get(
                "query", [""]
            )[0]
            received.append((q, body))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"")

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from clickbom_spark.io.clickhouse import http_transport

        sink = ClickHouseSink(
            http_transport(f"http://127.0.0.1:{srv.server_port}", "user", "pw"),
            "db",
            "t",
        )
        df = spark.createDataFrame(
            [
                ("lodash", "4.17.21", "MIT", "repo-a"),
                ("a\tb", "1", "L\n2", "s"),
                ("c\\d", None, "x\ry", "naïve-源"),
            ],
            "name string, version string, license string, source string",
        ).repartition(2)
        sink.insert_components(df)
        inserts = [b for q, b in received if q.startswith("INSERT INTO db.t")]
        assert inserts, f"no INSERTs received: {received}"
        body = b"".join(inserts).decode()
        # backslash, tab, LF and CR are escaped; NULL is ClickHouse's \N
        assert sorted(body.split("\n")) == [
            "",
            "a\\tb\t1\tL\\n2\ts",
            "c\\\\d\t\\N\tx\\ry\tnaïve-源",
            "lodash\t4.17.21\tMIT\trepo-a",
        ]
    finally:
        srv.shutdown()


def test_lake_schema_evolution_merge(spark, tmp_path):
    """K3's probe-then-ALTER migration, lake-side: old parquet without
    the source column and new parquet with it must read as one unified
    schema (mergeSchema), with the reference's DEFAULT 'unknown'
    semantics applied via coalesce (entrypoint.sh:130-161 analog)."""
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [("lodash", "4.17.21", "MIT")], "name string, version string, license string"
    )
    new = spark.createDataFrame(
        [("react", "18.2.0", "MIT", "github")],
        "name string, version string, license string, source string",
    )
    old.write.parquet(f"{tmp_path}/lake/v1")
    new.write.parquet(f"{tmp_path}/lake/v2")

    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{tmp_path}/lake/v1", f"{tmp_path}/lake/v2")
        .withColumn("source", F.coalesce(F.col("source"), F.lit("unknown")))
    )
    rows = {(r["name"], r["source"]) for r in merged.collect()}
    assert rows == {("lodash", "unknown"), ("react", "github")}
    assert set(merged.columns) == {"name", "version", "license", "source"}


def _lake_rows(n_sources: int, rows_per_source, seed: int) -> list[tuple]:
    import random

    rng = random.Random(seed)
    rows = []
    for s in range(n_sources):
        for _ in range(rows_per_source(s)):
            rows.append(
                (
                    f"pkg-{rng.randrange(60)}",
                    f"{rng.randrange(4)}.0",
                    rng.choice(["MIT", "ISC", "unknown"]),
                    f"src-{s:02d}",
                    rng.choice([None, "pkg:npm/x"]),
                )
            )
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize(
    "rows",
    [
        _lake_rows(40, lambda s: 12, seed=1),  # many sources
        _lake_rows(6, lambda s: 400 if s == 0 else 5, seed=2),  # one source holds most rows
    ],
    ids=["many_sources", "skewed"],
)
def test_components_lake_one_sorted_file_per_source(spark, tmp_path, rows):
    """The lake has exactly one directory and one parquet file per
    source, each file sorted by the MergeTree key, and reads back as the
    input rows — however the input is partitioned."""
    import collections
    import glob
    import os

    import pyarrow.parquet as pq

    from clickbom_spark.io.sinks import write_components_lake

    comps = spark.createDataFrame(
        rows, "name string, version string, license string, source string, purl string"
    ).repartition(5)
    lake = str(tmp_path / "lake")
    write_components_lake(comps, lake)

    sources = {r[3] for r in rows}
    dirs = glob.glob(os.path.join(lake, "source=*"))
    assert sorted(os.path.basename(d) for d in dirs) == sorted(f"source={s}" for s in sources)
    got = []
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, f"{d}: {len(files)} files"
        table = pq.read_table(files[0]).to_pylist()
        keys = [(r["name"], r["version"], r["license"]) for r in table]
        assert keys == sorted(keys), f"{files[0]}: rows not sorted by (name, version, license)"
        source = os.path.basename(d).split("=", 1)[1]
        got += [(r["name"], r["version"], r["license"], source, r["purl"]) for r in table]
    assert collections.Counter(got) == collections.Counter(rows)


def test_clickhouse_insert_dedup_token_scopes(spark):
    """The dedup token must separate THREE cases correctly: (a) two
    partitions of one job that serialize byte-identical content are
    legitimate duplicates → DIFFERENT tokens (ClickHouse must keep
    both); (b) a deliberate re-run of insert_components inside the
    dedup window → DIFFERENT tokens (new run id); (c) a task retry —
    same job, same partition, same bytes — reproduces its token
    deterministically (pinned by recomputing the md5 recipe)."""
    import http.server
    import re
    import threading
    import urllib.parse

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length)
            q = urllib.parse.parse_qs(
                urllib.parse.urlparse(self.path).query
            ).get("query", [""])[0]
            received.append((q, body))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"")

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from clickbom_spark.io.clickhouse import http_transport

        sink = ClickHouseSink(
            http_transport(f"http://127.0.0.1:{srv.server_port}"), "db", "t"
        )
        schema = "name string, version string, license string, source string"
        row = [("lodash", "4.17.21", "MIT", "repo-a")]
        # (a) two partitions with byte-identical content in ONE job
        df_dup = spark.createDataFrame(
            spark.sparkContext.parallelize(row * 2, 2), schema
        )
        assert df_dup.rdd.getNumPartitions() == 2
        sink.insert_components(df_dup)
        n_first = len(received)
        # (b) a deliberate re-run of the same content (new job)
        sink.insert_components(df_dup)
    finally:
        srv.shutdown()

    tokens = [
        re.search(r"insert_deduplication_token='([0-9a-f]{32})'", q).group(1)
        for q, _ in received
    ]
    assert n_first == 2 and len(tokens) == 4
    bodies = [b for _, b in received]
    assert bodies[0] == bodies[1] == bodies[2] == bodies[3]
    # (a) identical bytes, different partitions → both blocks survive
    assert tokens[0] != tokens[1], "legit duplicate partitions must differ"
    # (b) re-run within the dedup window → nothing silently dropped
    assert len(set(tokens)) == 4, "re-runs must never reuse tokens"
    # (c) task-retry determinism needs no run-level assertion: the
    # token is md5(table \0 run_id \0 partition_id \0 payload), and all
    # four inputs are unchanged when a task re-executes (run_id is a
    # driver-side closure constant; partitionId survives retries; the
    # sorted TSV bytes are deterministic) — so a retry reproduces its
    # token by construction.
    # the statement still targets the same columns and TSV wire format
    assert received[0][0].startswith(
        "INSERT INTO db.t (name, version, license, source)"
    )
    assert received[0][0].endswith("FORMAT TSV")
