"""Layered configuration: YAML file + environment overrides + defaults.

Parity with the reference's config layer
(/root/reference/internal/config/config.go: viper YAML named
``config.yaml`` searched in an explicit dir then ``.``, AutomaticEnv
overrides, defaults when the file is missing). Sections are re-scoped
for a batch/streaming engine: ``data`` (table roots) and ``spark``
(resource knobs) replace the Postgres block, while ``strava`` (API
credentials) and ``auth`` (JWT) carry over verbatim.

Precedence, highest first — the same order viper resolves:
    1. environment variables  (SPARK_GRAFT_<SECTION>_<KEY>)
    2. the YAML file          (config.yaml, parsed with PyYAML)
    3. built-in defaults
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields
from typing import Any

import yaml

ENV_PREFIX = "SPARK_GRAFT"


@dataclass
class DataConfig:
    """Where tables live (the engine's analog of the Database block)."""

    sf_dir: str = "/root/testdata/sf0.1"
    warehouse_dir: str = "spark-warehouse"


@dataclass
class SparkConfig:
    """Resource/scale knobs get_spark applies."""

    cpus: str = "*"
    shuffle_partitions: int = 32
    driver_memory: str = "8g"
    broadcast_threshold: str = "64m"


@dataclass
class StravaConfig:
    """OAuth client settings (config.go Strava block)."""

    client_id: int = 0
    client_secret: str = ""
    callback_url: str = ""
    access_token: str = ""
    refresh_token: str = ""


@dataclass
class AuthConfig:
    """JWT settings (config.go Auth block)."""

    jwt_secret: str = ""
    token_duration: int = 60  # minutes


@dataclass
class Config:
    data: DataConfig = field(default_factory=DataConfig)
    spark: SparkConfig = field(default_factory=SparkConfig)
    strava: StravaConfig = field(default_factory=StravaConfig)
    auth: AuthConfig = field(default_factory=AuthConfig)


def _load_yaml_file(path: str) -> dict[str, dict[str, Any]]:
    """``{section: {key: value}}`` of one config file. A section whose
    keys are all commented out parses to ``None`` and reads as empty; a
    section holding a scalar or a list raises."""
    with open(path, encoding="utf-8") as f:
        data = yaml.safe_load(f) or {}
    if not isinstance(data, dict):
        raise ValueError(f"{path}: top level must be a mapping")
    out: dict[str, dict[str, Any]] = {}
    for sec, vals in data.items():
        if vals is None:
            vals = {}
        elif not isinstance(vals, dict):
            raise ValueError(
                f"{path}: section {sec!r} must be a mapping of keys, "
                f"got {type(vals).__name__}"
            )
        out[str(sec)] = vals
    return out


def load_config(
    config_path: str | None = None, env: dict[str, str] | None = None
) -> Config:
    """Resolve the effective config.

    ``config.yaml`` is searched in ``config_path`` then ``.`` (viper's
    AddConfigPath order); a missing file is not an error — defaults +
    env apply, matching config.go's ConfigFileNotFoundError branch. A
    present-but-malformed file raises. Env overrides use
    ``SPARK_GRAFT_<SECTION>_<KEY>`` (e.g. SPARK_GRAFT_AUTH_JWT_SECRET,
    SPARK_GRAFT_SPARK_SHUFFLE_PARTITIONS) and win over the file.
    Unknown sections/keys in the file raise — silent typos in config
    are how prod deploys run with defaults they didn't choose.
    """
    environ = os.environ if env is None else env
    cfg = Config()
    search = [p for p in (config_path, ".") if p]
    file_data: dict[str, dict[str, Any]] = {}
    for d in search:
        candidate = os.path.join(d, "config.yaml")
        if os.path.isfile(candidate):
            file_data = _load_yaml_file(candidate)
            break
    sections = {f.name: getattr(cfg, f.name) for f in fields(cfg)}
    for sec_name, sec_vals in file_data.items():
        if sec_name not in sections:
            raise ValueError(f"unknown config section {sec_name!r}")
        section = sections[sec_name]
        valid = {f.name for f in fields(section)}
        for key, val in sec_vals.items():
            if key not in valid:
                raise ValueError(f"unknown key {sec_name}.{key}")
            setattr(section, key, _coerce(type(getattr(section, key)), val))
    for sec_name, section in sections.items():
        for f in fields(section):
            env_key = f"{ENV_PREFIX}_{sec_name.upper()}_{f.name.upper()}"
            if env_key in environ:
                setattr(
                    section,
                    f.name,
                    _coerce(type(getattr(section, f.name)), environ[env_key]),
                )
    return cfg


def _coerce(typ: type, val: Any) -> Any:
    if typ is bool and isinstance(val, str):
        return val.lower() == "true"
    if typ in (int, float, str):
        return typ(val)
    return val
