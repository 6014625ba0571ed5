"""Source connectors: GitHub / Mend / Wiz SBOM acquisition (S1-S8).

Driver-side REST/GraphQL clients.  Network I/O is isolated behind an
injectable ``transport`` callable — ``transport(method, url, headers,
body) -> (status, headers, bytes)`` — so retry/backoff/polling logic is
unit-testable without network (the reference tests the same way, with
mock curl scripts on $PATH — test/advanced.bats:197-378).

Policies mirror the reference (BASELINE.md):
- GitHub (lib/github.sh:7-136): 3 attempts, 30·n s linear backoff,
  retryable-error classification on the response message.
- Mend (lib/mend.sh): 2-step auth (login → JWT), async export + poll
  every ``poll_interval`` up to ``max_wait``, JWT refresh at 1500 s,
  ZIP detection via magic bytes.
- Wiz (lib/wiz.sh): OAuth2 client-credentials, GraphQL report URL,
  gzip/zip content handling.

Scale note: each connector downloads one document per call — driver
work.  Fan-out over many repositories is
``fetch_github_sboms_distributed``: the repo list becomes a DataFrame
and downloads run in executors via mapInPandas (S1's Spark-primitive
mapping in SURVEY §2.1).
"""

from __future__ import annotations

import gzip
import io
import json
import time
import urllib.request
import zipfile
from collections.abc import Callable
from dataclasses import dataclass

Transport = Callable[..., tuple[int, dict, bytes]]


def default_transport(
    method: str, url: str, headers: dict | None = None, body: bytes | None = None,
    timeout: float = 600.0,
) -> tuple[int, dict, bytes]:
    """urllib-based transport (curl equivalent)."""
    req = urllib.request.Request(url, data=body, method=method, headers=headers or {})
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return resp.status, dict(resp.headers), resp.read()


class SourceError(RuntimeError):
    pass


def _is_retryable_github(message: str) -> bool:
    """Retryable-error classification (lib/github.sh:56-99)."""
    m = message.lower()
    retryable = ("rate limit", "timeout", "server error", "bad gateway",
                 "service unavailable", "gateway timeout")
    return any(s in m for s in retryable)


def download_github_sbom(
    repository: str,
    token: str | None = None,
    transport: Transport = default_transport,
    max_attempts: int = 3,
    base_delay: float = 30.0,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """S1: GitHub dependency-graph SBOM with retry/backoff
    (lib/github.sh:7-136).  Returns the parsed JSON document (the
    ``{sbom: {...}}`` envelope is preserved for the unwrap operator)."""
    url = f"https://api.github.com/repos/{repository}/dependency-graph/sbom"
    headers = {"Accept": "application/vnd.github+json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    last_err = "unknown"
    for attempt in range(1, max_attempts + 1):
        try:
            status, _, data = transport("GET", url, headers, None)
            if status == 200:
                doc = json.loads(data)
                if not isinstance(doc, dict):
                    raise SourceError("GitHub SBOM response is not a JSON object")
                return doc
            try:
                last_err = json.loads(data).get("message", f"HTTP {status}")
            except (json.JSONDecodeError, AttributeError):
                last_err = f"HTTP {status}"
            if status in (401, 403, 404) and not _is_retryable_github(last_err):
                raise SourceError(f"GitHub SBOM download failed permanently: {last_err}")
        except SourceError:
            raise
        except Exception as e:  # network-level failure: retryable
            last_err = str(e)
        if attempt < max_attempts:
            sleep(base_delay * attempt)  # linear backoff 30·n
    raise SourceError(
        f"GitHub SBOM download failed after {max_attempts} attempts: {last_err}"
    )


def fetch_github_sboms_distributed(
    spark, repositories: list[str], token: str | None = None,
    transport: Transport = default_transport,
):
    """S1 at scale: fan the repo list out over executors.

    Each partition downloads its repos (I/O-bound ⇒ high parallelism is
    fine) and yields (repository, sbom_json_string) rows that feed
    straight into read-side parsing with from_json.
    """
    from pyspark.sql import functions as F

    from clickbom_spark.schemas import sbom_schema
    from clickbom_spark.session import local_frame

    if not repositories:
        # nothing to download (and repartition(0) would raise): the
        # empty frame of the same columns, which collects without a job
        return local_frame(spark, [], f"repository string, {sbom_schema().toDDL()}")
    repos_df = local_frame(
        spark, [(r,) for r in repositories], "repository string"
    ).repartition(min(len(repositories), 64))

    def fetch_partition(iterator):
        import pandas as pd

        for pdf in iterator:
            out = []
            for repo in pdf["repository"]:
                try:
                    doc = download_github_sbom(repo, token, transport)
                    out.append((repo, json.dumps(doc)))
                except SourceError as e:
                    out.append((repo, json.dumps({"_fetch_error": str(e)})))
            yield pd.DataFrame(out, columns=["repository", "raw"])

    raw = repos_df.mapInPandas(fetch_partition, "repository string, raw string")
    return raw.withColumn("doc", F.from_json("raw", sbom_schema())).select(
        "repository", "doc.*"
    )


# ---- Mend (S2-S5) ----


@dataclass
class MendClient:
    """Mend API 3.0 client (lib/mend.sh)."""

    base_url: str
    email: str
    org_uuid: str
    user_key: str
    transport: Transport = default_transport
    sleep: Callable[[float], None] = time.sleep
    clock: Callable[[], float] = time.monotonic
    jwt_token: str | None = None
    _jwt_obtained_at: float = 0.0

    JWT_REFRESH_SECONDS = 1500  # lib/mend.sh:193-196

    def _post_json(self, path: str, payload: dict, auth: bool = False) -> dict:
        headers = {"Content-Type": "application/json"}
        if auth:
            headers["Authorization"] = f"Bearer {self.jwt_token}"
        status, _, data = self.transport(
            "POST", f"{self.base_url}{path}", headers, json.dumps(payload).encode()
        )
        if status not in (200, 201):
            raise SourceError(f"Mend API {path} failed: HTTP {status}")
        return json.loads(data)

    def _get_json(self, path: str) -> dict:
        headers = {"Authorization": f"Bearer {self.jwt_token}"}
        status, _, data = self.transport("GET", f"{self.base_url}{path}", headers, None)
        if status != 200:
            raise SourceError(f"Mend API {path} failed: HTTP {status}")
        return json.loads(data)

    def authenticate(self) -> str:
        """S2: login → refresh token → JWT (lib/mend.sh:7-91)."""
        login = self._post_json(
            "/api/v3.0/login",
            {"email": self.email, "orgUuid": self.org_uuid, "userKey": self.user_key},
        )
        refresh = login.get("response", {}).get("refreshToken")
        if not refresh:
            raise SourceError("Mend login returned no refreshToken")
        status, _, data = self.transport(
            "POST",
            f"{self.base_url}/api/v3.0/login/accessToken",
            {"Content-Type": "application/json", "wss-refresh-token": refresh},
            b"",
        )
        if status not in (200, 201):
            raise SourceError(f"Mend JWT exchange failed: HTTP {status}")
        jwt = json.loads(data).get("response", {}).get("jwtToken")
        if not jwt:
            raise SourceError("Mend JWT exchange returned no jwtToken")
        self.jwt_token = jwt
        self._jwt_obtained_at = self.clock()
        return jwt

    def request_sbom_export(
        self,
        project_uuid: str | None = None,
        product_uuid: str | None = None,
        report_type: str = "cycloneDX_1_5",
    ) -> str:
        """S3: submit async export job; returns report UUID
        (lib/mend.sh:94-176).  Scope precedence: project > product > org."""
        if project_uuid:
            path = f"/api/v3.0/projects/{project_uuid}/dependencies/reports/SBOM"
            payload = {"reportType": report_type}
        elif product_uuid:
            path = f"/api/v3.0/products/{product_uuid}/dependencies/reports/SBOM"
            payload = {"reportType": report_type}
        else:
            path = f"/api/v3.0/orgs/{self.org_uuid}/dependencies/reports/SBOM"
            payload = {"reportType": report_type}
        resp = self._post_json(path, payload, auth=True)
        uuid = resp.get("response", {}).get("uuid")
        if not uuid:
            raise SourceError("Mend export request returned no report uuid")
        return uuid

    def download_when_ready(
        self,
        report_uuid: str,
        max_wait: float = 1800.0,
        poll_interval: float = 30.0,
    ) -> bytes:
        """S4+S5: poll until COMPLETED then download; ZIP-detect
        (lib/mend.sh:179-392)."""
        start = self.clock()
        while True:
            if self.clock() - self._jwt_obtained_at > self.JWT_REFRESH_SECONDS:
                self.authenticate()
            state = (
                self._get_json(f"/api/v3.0/orgs/{self.org_uuid}/reports/{report_uuid}")
                .get("response", {})
                .get("status", "UNKNOWN")
            )
            if state in ("COMPLETED", "SUCCESS"):
                break
            if state in ("FAILED", "CANCELED"):
                raise SourceError(f"Mend report {report_uuid} ended in state {state}")
            if self.clock() - start > max_wait:
                raise SourceError(
                    f"Mend report {report_uuid} not ready after {max_wait}s"
                )
            self.sleep(poll_interval)
        headers = {"Authorization": f"Bearer {self.jwt_token}"}
        status, _, data = self.transport(
            "GET",
            f"{self.base_url}/api/v3.0/orgs/{self.org_uuid}/reports/download/{report_uuid}",
            headers,
            None,
        )
        if status != 200:
            raise SourceError(f"Mend report download failed: HTTP {status}")
        return extract_report_json(data)


# ---- Wiz (S6-S8) ----


@dataclass
class WizClient:
    """Wiz OAuth + GraphQL report client (lib/wiz.sh)."""

    api_endpoint: str
    client_id: str
    client_secret: str
    auth_url: str = "https://auth.app.wiz.io/oauth/token"
    transport: Transport = default_transport
    access_token: str | None = None

    def authenticate(self) -> str:
        """S6: OAuth2 client-credentials (lib/wiz.sh:7-44)."""
        body = (
            f"grant_type=client_credentials&client_id={self.client_id}"
            f"&client_secret={self.client_secret}&audience=wiz-api"
        ).encode()
        status, _, data = self.transport(
            "POST",
            self.auth_url,
            {"Content-Type": "application/x-www-form-urlencoded"},
            body,
        )
        if status != 200:
            raise SourceError(f"Wiz auth failed: HTTP {status}")
        token = json.loads(data).get("access_token")
        if not token:
            raise SourceError("Wiz auth returned no access_token")
        self.access_token = token
        return token

    def report_download_url(self, report_id: str) -> str:
        """S7: GraphQL report(id).lastRun.url (lib/wiz.sh:47-120)."""
        query = {
            "query": "query ReportDownloadUrl($reportId: ID!) {"
            " report(id: $reportId) { lastRun { url status } } }",
            "variables": {"reportId": report_id},
        }
        status, _, data = self.transport(
            "POST",
            self.api_endpoint,
            {
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.access_token}",
            },
            json.dumps(query).encode(),
        )
        if status != 200:
            raise SourceError(f"Wiz GraphQL failed: HTTP {status}")
        url = (
            json.loads(data)
            .get("data", {})
            .get("report", {})
            .get("lastRun", {})
            .get("url")
        )
        if not url:
            raise SourceError("Wiz report has no lastRun.url")
        return url

    def download_report(self, report_id: str) -> list[bytes]:
        """S8: fetch presigned URL; gunzip / unzip; return raw JSON
        payloads (>1 ⇒ caller merges, lib/wiz.sh:123-326)."""
        url = self.report_download_url(report_id)
        status, _, data = self.transport("GET", url, {}, None)
        if status != 200:
            raise SourceError(f"Wiz report download failed: HTTP {status}")
        return extract_payloads(data)


# ---- shared content sniffing (S5/S8) ----

ZIP_MAGIC = b"PK\x03\x04"
GZIP_MAGIC = b"\x1f\x8b"


def extract_payloads(data: bytes) -> list[bytes]:
    """Content-sniffing unpack: gzip → member; zip → every .json member;
    else the payload itself (lib/wiz.sh:141-231, lib/mend.sh:276-316)."""
    if data[:2] == GZIP_MAGIC:
        data = gzip.decompress(data)
    if data[:4] == ZIP_MAGIC:
        out = []
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for name in sorted(zf.namelist()):
                if name.endswith(".json"):
                    out.append(zf.read(name))
        if not out:
            raise SourceError("archive contains no JSON members")
        return out
    return [data]


def extract_report_json(data: bytes) -> bytes:
    """First JSON payload (Mend picks the first member — lib/mend.sh:306)."""
    return extract_payloads(data)[0]
