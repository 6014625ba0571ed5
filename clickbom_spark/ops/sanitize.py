"""Input sanitization & config validation (SURVEY §2.4 F1-F11, F15).

The reference sanitizes its 28 action inputs as shell scalars
(lib/sanitize.sh); here the same rules are a pure-Python config layer —
inputs are scalars, not rows, so no DataFrame machinery is involved
(SURVEY §2.4 F11 note).  Rules mirror lib/sanitize.sh semantically:
strip-then-validate, with validation failure raising
:class:`SanitizationError` (the engine's ``exit 1``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class SanitizationError(ValueError):
    """Invalid input that the reference would abort on (exit 1)."""


# ---- F1: generic strings ----

_CONTROL = "".join(chr(c) for c in range(1, 32)) + "".join(
    chr(c) for c in range(127, 256)
)
_DANGEROUS = set("]$(){}|;&<>@[`")


def sanitize_string(value: str, max_length: int = 1000) -> str:
    """F1 (sanitize.sh:5-17): strip NUL/control/high bytes, truncate,
    drop shell-dangerous characters."""
    s = value.replace("\0", "")
    s = "".join(ch for ch in s if ch not in _CONTROL)
    s = s[:max_length]
    return "".join(ch for ch in s if ch not in _DANGEROUS)


# ---- F2: repository ----


def sanitize_repository(repo: str) -> str:
    """F2 (sanitize.sh:20-35): keep [a-zA-Z0-9._/-]; must be owner/repo."""
    s = re.sub(r"[^a-zA-Z0-9._/-]", "", repo)
    if not re.fullmatch(r"[a-zA-Z0-9._-]+/[a-zA-Z0-9._-]+", s):
        raise SanitizationError(f"Invalid repository format: {repo!r}")
    return s


# ---- F3: URLs ----

_URL_RULES = {
    "clickhouse": r"https?://[a-zA-Z0-9][a-zA-Z0-9.-]*(:[0-9]+)?/?",
    "mend": r"https://[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}(/.*)?",
    "wiz": r"https://[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}(/.*)?",
    "general": r"https?://[a-zA-Z0-9][a-zA-Z0-9.-]*(:[0-9]+)?(/.*)?",
}


def sanitize_url(url: str, url_type: str = "general") -> str:
    """F3 (sanitize.sh:38-79): strip control chars; per-type protocol/
    host shape validation."""
    s = url.replace("\0", "")
    s = "".join(ch for ch in s if ch not in _CONTROL)
    rule = _URL_RULES.get(url_type, _URL_RULES["general"])
    if not re.fullmatch(rule, s):
        raise SanitizationError(f"Invalid {url_type} URL: {url!r}")
    return s


# ---- F4: S3 bucket ----


def sanitize_s3_bucket(bucket: str) -> str:
    """F4 (sanitize.sh:82-106): lowercase, [a-z0-9.-], 3-63 chars,
    edge chars alphanumeric, not IP-shaped."""
    s = re.sub(r"[^a-z0-9.-]", "", bucket.lower())
    if not re.fullmatch(r"[a-z0-9][a-z0-9.-]{1,61}[a-z0-9]", s):
        raise SanitizationError(f"Invalid S3 bucket name: {bucket!r}")
    if re.fullmatch(r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", s):
        raise SanitizationError(f"S3 bucket name cannot be IP-shaped: {bucket!r}")
    return s


# ---- F5: S3 key ----


def sanitize_s3_key(key: str) -> str:
    """F5 (sanitize.sh:109-129): keep [a-zA-Z0-9._/-], strip `..`,
    collapse `//`, trim slashes; empty result is an error."""
    s = re.sub(r"[^a-zA-Z0-9._/-]", "", key)
    s = s.replace("..", "")
    s = re.sub(r"/+", "/", s)
    s = s.strip("/")
    if not s:
        raise SanitizationError(f"Invalid S3 key: {key!r}")
    return s


# ---- F6: UUID ----


def sanitize_uuid(uuid: str, field_name: str = "uuid") -> str:
    """F6 (sanitize.sh:132-148): hex+hyphen only; 8-4-4-4-12 with
    optional hyphens."""
    s = re.sub(r"[^a-fA-F0-9-]", "", uuid)
    if not re.fullmatch(r"[0-9a-fA-F]{8}-?([0-9a-fA-F]{4}-?){3}[0-9a-fA-F]{12}", s):
        raise SanitizationError(f"Invalid UUID for {field_name}: {uuid!r}")
    return s


# ---- F7: email ----


def sanitize_email(email: str) -> str:
    """F7 (sanitize.sh:151-174): strip literal escape sequences and real
    control chars; keep [a-zA-Z0-9@._+-]; validate user@domain.tld."""
    s = email
    for lit in ("\\n", "\\r", "\\t", "\\\\"):
        s = s.replace(lit, "")
    s = "".join(ch for ch in s if ch not in "\n\r\t" and ch not in _CONTROL)
    s = re.sub(r"[^a-zA-Z0-9@._+-]", "", s)
    if not re.fullmatch(r"[a-zA-Z0-9._+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", s):
        raise SanitizationError(f"Invalid email: {email!r}")
    return s


# ---- F8: database/table names ----


def sanitize_database_name(name: str) -> str:
    """F8 (sanitize.sh:177-185): [a-zA-Z0-9_] only; leading digit gets
    a '_' prefix."""
    s = re.sub(r"[^a-zA-Z0-9_]", "", name)
    if re.match(r"^[0-9]", s):
        s = "_" + s
    return s


# ---- F9: glob pattern lists ----


def sanitize_patterns(patterns: str) -> str:
    """F9 (sanitize.sh:188-217): comma-split, trim, keep
    [a-zA-Z0-9.*_-], drop empties, re-join."""
    if not patterns:
        return ""
    out = []
    for p in patterns.split(","):
        p = p.strip()
        p = re.sub(r"[^a-zA-Z0-9.*_-]", "", p)
        if p:
            out.append(p)
    return ",".join(out)


# ---- F10: numerics ----


def sanitize_numeric(
    value: str | int, field_name: str = "value", min_val: int = 0, max_val: int = 999999
) -> int:
    """F10 (sanitize.sh:220-251): digits-only, range-checked, leading
    zeros stripped via int conversion."""
    s = re.sub(r"[^0-9]", "", str(value))
    if not s:
        raise SanitizationError(f"Invalid numeric value for {field_name}: {value!r}")
    n = int(s)
    if n < min_val or n > max_val:
        raise SanitizationError(
            f"Numeric value for {field_name} out of range: {n} not in [{min_val}, {max_val}]"
        )
    return n


# ---- F11 + F15: whole-config sanitize & validate ----

VALID_SBOM_SOURCES = {"github", "mend", "wiz"}
VALID_SBOM_FORMATS = {"cyclonedx", "spdxjson"}


def _bool(value: str | bool, field: str) -> bool:
    if isinstance(value, bool):
        return value
    v = value.strip().lower()
    if v in ("true", "false"):
        return v == "true"
    raise SanitizationError(f"{field} must be 'true' or 'false', got {value!r}")


@dataclass
class EngineConfig:
    """Sanitized engine configuration (the reference's 28 env inputs,
    action.yml; sanitize_inputs at lib/sanitize.sh:254-464)."""

    sbom_source: str = "github"
    sbom_format: str | None = None
    repository: str | None = None
    s3_bucket: str | None = None
    s3_key: str | None = None
    clickhouse_url: str | None = None
    clickhouse_database: str | None = None
    clickhouse_table: str | None = None
    clickhouse_username: str | None = None
    merge: bool = False
    truncate_table: bool = False
    debug: bool = False
    include_patterns: str = ""
    exclude_patterns: str = ""
    mend_email: str | None = None
    mend_org_uuid: str | None = None
    mend_base_url: str | None = None
    mend_project_uuid: str | None = None
    mend_product_uuid: str | None = None
    mend_org_scope_uuid: str | None = None
    mend_max_wait_time: int = 1800
    mend_poll_interval: int = 30
    wiz_api_endpoint: str | None = None
    wiz_client_id: str | None = None
    wiz_report_id: str | None = None


def sanitize_config(raw: dict) -> EngineConfig:
    """F11 sanitize_inputs: apply the per-field sanitizers + enum checks."""
    cfg = EngineConfig()
    if raw.get("repository"):
        cfg.repository = sanitize_repository(raw["repository"])
    if raw.get("s3_bucket"):
        cfg.s3_bucket = sanitize_s3_bucket(raw["s3_bucket"])
    if raw.get("s3_key"):
        cfg.s3_key = sanitize_s3_key(raw["s3_key"])
    if raw.get("clickhouse_url"):
        cfg.clickhouse_url = sanitize_url(raw["clickhouse_url"], "clickhouse")
    if raw.get("clickhouse_database"):
        cfg.clickhouse_database = sanitize_database_name(raw["clickhouse_database"])
    if raw.get("clickhouse_table"):
        cfg.clickhouse_table = sanitize_database_name(raw["clickhouse_table"])
    if raw.get("clickhouse_username"):
        cfg.clickhouse_username = sanitize_string(raw["clickhouse_username"], 100)
    src = raw.get("sbom_source", "github")
    if src not in VALID_SBOM_SOURCES:
        raise SanitizationError(f"SBOM_SOURCE must be one of {sorted(VALID_SBOM_SOURCES)}")
    cfg.sbom_source = src
    fmt = raw.get("sbom_format")
    if fmt:
        if fmt not in VALID_SBOM_FORMATS:
            raise SanitizationError(
                f"SBOM_FORMAT must be one of {sorted(VALID_SBOM_FORMATS)}"
            )
        cfg.sbom_format = fmt
    for flag in ("merge", "truncate_table", "debug"):
        if flag in raw:
            setattr(cfg, flag, _bool(raw[flag], flag.upper()))
    cfg.include_patterns = sanitize_patterns(raw.get("include_patterns", ""))
    cfg.exclude_patterns = sanitize_patterns(raw.get("exclude_patterns", ""))
    if raw.get("mend_email"):
        cfg.mend_email = sanitize_email(raw["mend_email"])
    if raw.get("mend_base_url"):
        cfg.mend_base_url = sanitize_url(raw["mend_base_url"], "mend")
    for f in ("mend_org_uuid", "mend_project_uuid", "mend_product_uuid", "mend_org_scope_uuid"):
        if raw.get(f):
            setattr(cfg, f, sanitize_uuid(raw[f], f.upper()))
    if raw.get("mend_max_wait_time") is not None:
        cfg.mend_max_wait_time = sanitize_numeric(
            raw["mend_max_wait_time"], "MEND_MAX_WAIT_TIME", 60, 7200
        )
    if raw.get("mend_poll_interval") is not None:
        cfg.mend_poll_interval = sanitize_numeric(
            raw["mend_poll_interval"], "MEND_POLL_INTERVAL", 10, 300
        )
    if raw.get("wiz_api_endpoint"):
        cfg.wiz_api_endpoint = sanitize_url(raw["wiz_api_endpoint"], "wiz")
    if raw.get("wiz_client_id"):
        cfg.wiz_client_id = sanitize_string(raw["wiz_client_id"], 200)
    if raw.get("wiz_report_id"):
        cfg.wiz_report_id = sanitize_string(raw["wiz_report_id"], 200)
    return cfg


def validate_config(cfg: EngineConfig, require_aws: bool = False) -> None:
    """F15 (lib/validation.sh): required-field checks per source/mode."""
    if (
        not cfg.merge
        and cfg.sbom_source not in ("mend", "wiz")
        and not cfg.repository
    ):
        raise SanitizationError("REPOSITORY is required outside merge/mend/wiz modes")
    if cfg.clickhouse_url:
        if not cfg.clickhouse_database:
            raise SanitizationError("If using ClickHouse, CLICKHOUSE_DATABASE must be provided")
        if not cfg.clickhouse_username:
            raise SanitizationError("If using ClickHouse, CLICKHOUSE_USERNAME must be provided")
    if cfg.sbom_source == "mend":
        for f in ("mend_email", "mend_org_uuid", "mend_base_url"):
            if not getattr(cfg, f):
                raise SanitizationError(f"Required Mend field {f} is not set")
        if not (cfg.mend_project_uuid or cfg.mend_product_uuid):
            raise SanitizationError(
                "At least one Mend scope must be provided: project or product UUID"
            )
    if cfg.sbom_source == "wiz":
        for f in ("wiz_api_endpoint", "wiz_client_id", "wiz_report_id"):
            if not getattr(cfg, f):
                raise SanitizationError(f"Required Wiz field {f} is not set")
