"""SparkSession factory: ``SPARK_GRAFT_EXTRA_CONF`` parsing."""

from __future__ import annotations

import pytest

from dynamic_etl_spark.session import _env_conf, get_spark


def test_extra_conf_env_parses_pairs(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        " spark.sql.shuffle.partitions = 64 ;;spark.io.compression.codec=zstd;x.y=",
    )
    assert _env_conf() == {
        "spark.sql.shuffle.partitions": "64",
        "spark.io.compression.codec": "zstd",
        "x.y": "",  # an explicit empty value is still a well-formed pair
    }


@pytest.mark.parametrize("bad", ["spark.sql.shuffle.partitions", "=zstd", "  = 3"])
def test_extra_conf_env_rejects_malformed_pair(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"spark.a=1;{bad}")
    with pytest.raises(ValueError, match="malformed pair") as err:
        _env_conf()
    assert repr(bad.strip()) in str(err.value)
    # get_spark refuses before building (or reconfiguring) any session
    with pytest.raises(ValueError, match="malformed pair"):
        get_spark()
