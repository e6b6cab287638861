"""SparkSession factory: ``SPARK_GRAFT_EXTRA_CONF`` parsing and precedence."""

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


def test_extra_conf_env_shuffle_partitions_survive_the_reapply(spark, monkeypatch):
    """get_spark re-applies the shuffle partition count after
    getOrCreate; the value it re-applies is the one the environment
    gave, not the core count."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.shuffle.partitions=7")
    shared = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert get_spark().conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shared)
