"""Layered config tests (config.py): defaults → YAML file → env
overrides, mirroring the reference's viper setup
(/root/reference/internal/config/config.go). No SparkSession needed."""

from __future__ import annotations

import pytest

from strava_data_pipeline_spark.config import load_config

YAML = """\
# engine deployment config
data:
  sf_dir: /data/sf10
spark:
  shuffle_partitions: 2048   # ~2-3x fleet cores
  driver_memory: "32g"
auth:
  jwt_secret: 'file-secret'
  token_duration: 120
strava:
  client_id: 4242
"""


def test_defaults_when_no_file(tmp_path):
    cfg = load_config(str(tmp_path), env={})
    assert cfg.spark.shuffle_partitions == 32
    assert cfg.auth.token_duration == 60
    assert cfg.data.sf_dir.endswith("sf0.1")


def test_yaml_file_overrides_defaults(tmp_path):
    (tmp_path / "config.yaml").write_text(YAML)
    cfg = load_config(str(tmp_path), env={})
    assert cfg.data.sf_dir == "/data/sf10"
    assert cfg.spark.shuffle_partitions == 2048
    assert cfg.spark.driver_memory == "32g"  # quoted scalar unwrapped
    assert cfg.auth.jwt_secret == "file-secret"
    assert cfg.strava.client_id == 4242
    # untouched keys keep defaults
    assert cfg.spark.cpus == "*"


# The two tests below keep the names they had when config.py carried its
# own fallback YAML parser; they now check the same cases through
# load_config, which always parses with PyYAML.


def test_fallback_parser_quoted_hash_survives(tmp_path):
    # '#' inside a quoted value is DATA (exactly the secrets this config
    # carries), not a comment; only an unquoted '#' starts one
    (tmp_path / "config.yaml").write_text(
        'auth:\n  jwt_secret: "s3#cret"  # real comment\n'
        "  token_duration: 120\n"
        "strava:\n  client_secret: 'a#b#c'\n"
    )
    cfg = load_config(str(tmp_path), env={})
    assert cfg.auth.jwt_secret == "s3#cret"
    assert cfg.auth.token_duration == 120
    assert cfg.strava.client_secret == "a#b#c"


def test_fallback_parser_hash_needs_preceding_whitespace(tmp_path):
    # YAML plain-scalar rule: '#' glued to the value is data, '#' after
    # whitespace is a comment
    (tmp_path / "config.yaml").write_text(
        "strava:\n  callback_url: http://x/y#frag\n"
        "  client_secret: abc # trailing\n"
    )
    cfg = load_config(str(tmp_path), env={})
    assert cfg.strava.callback_url == "http://x/y#frag"
    assert cfg.strava.client_secret == "abc"


def test_env_beats_file(tmp_path):
    (tmp_path / "config.yaml").write_text(YAML)
    cfg = load_config(
        str(tmp_path),
        env={
            "SPARK_GRAFT_SPARK_SHUFFLE_PARTITIONS": "4096",
            "SPARK_GRAFT_AUTH_JWT_SECRET": "env-secret",
        },
    )
    assert cfg.spark.shuffle_partitions == 4096
    assert cfg.auth.jwt_secret == "env-secret"
    assert cfg.spark.driver_memory == "32g"  # file value survives for others


def test_unknown_section_and_key_raise(tmp_path):
    (tmp_path / "config.yaml").write_text("postgres:\n  host: x\n")
    with pytest.raises(ValueError, match="unknown config section"):
        load_config(str(tmp_path), env={})
    (tmp_path / "config.yaml").write_text("spark:\n  shufle_partitions: 8\n")
    with pytest.raises(ValueError, match="unknown key"):
        load_config(str(tmp_path), env={})


def test_empty_section_reads_as_defaults_and_scalar_section_raises(tmp_path):
    # a section whose keys are all commented out parses to None
    (tmp_path / "config.yaml").write_text(
        "strava:\n  # client_id: 1\nauth:\n  token_duration: 5\n"
    )
    cfg = load_config(str(tmp_path), env={})
    assert cfg.strava.client_id == 0
    assert cfg.auth.token_duration == 5
    (tmp_path / "config.yaml").write_text("strava: 5\n")
    with pytest.raises(ValueError, match="must be a mapping"):
        load_config(str(tmp_path), env={})
