"""Session factory + cloud sink config surface (A13).

The abfss/s3a round-trip itself can only run where the hadoop cloud
jars and credentials exist (any managed Spark cluster; not this
sandbox), so the integration test skips itself without creds — the
unit tests pin the config surface that makes the round-trip a
one-dict setup.

Why no self-contained MinIO-in-container alternative: pip pyspark
ships no hadoop-aws/hadoop-azure jars (verified: pyspark/jars has no
aws/azure artifact), no MinIO binary exists in this image, and the
environment forbids network installs — so an s3a endpoint test
cannot be made hermetic here. The round-trip test below is the
ready-to-run form for any environment that has the jars: set
CLOUD_TEST_URI (s3a://bucket/prefix against MinIO works with
AWS_ENDPOINT_URL=http://minio:9000) and it goes green.
"""
from __future__ import annotations

import os

import pytest

from parquet_pipeline_spark.session import apply_cloud_conf, cloud_storage_conf


def test_cloud_storage_conf_azure_and_s3(monkeypatch):
    for var in (
        "AZURE_STORAGE_ACCOUNT",
        "AZURE_STORAGE_KEY",
        "AWS_ACCESS_KEY_ID",
        "AWS_SECRET_ACCESS_KEY",
        "AWS_ENDPOINT_URL",
    ):
        monkeypatch.delenv(var, raising=False)

    assert cloud_storage_conf() == {}  # keyless: empty, nothing forced

    conf = cloud_storage_conf(azure_account="acct", azure_key="k1")
    assert conf == {
        "spark.hadoop.fs.azure.account.key.acct.dfs.core.windows.net": "k1"
    }

    conf = cloud_storage_conf(
        s3_access_key="ak", s3_secret_key="sk", s3_endpoint="http://minio:9000"
    )
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"

    # env-driven resolution (the no-code-change path)
    monkeypatch.setenv("AZURE_STORAGE_ACCOUNT", "envacct")
    monkeypatch.setenv("AZURE_STORAGE_KEY", "envkey")
    conf = cloud_storage_conf()
    assert (
        conf["spark.hadoop.fs.azure.account.key.envacct.dfs.core.windows.net"]
        == "envkey"
    )


def test_session_defaults_fit_the_machine(monkeypatch, tmp_path):
    """Without the overrides, local[N] is the CPUs this process may run
    on and driver memory is half of MemTotal, capped at 16g; the
    overrides keep precedence. Spark-free."""
    from parquet_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session._default_parallelism() == "3"

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:  1 kB\n")
    assert session._default_driver_mem(str(meminfo)) == "8046m"
    meminfo.write_text("MemTotal:       134217728 kB\n")  # 128 GiB
    assert session._default_driver_mem(str(meminfo)) == "16384m"
    assert session._default_driver_mem(str(tmp_path / "absent")) == "16384m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._default_parallelism() == "7"
    assert session._default_driver_mem(str(meminfo)) == "3g"


def test_apply_cloud_conf_reaches_live_hadoop_conf(spark):
    n = apply_cloud_conf(
        spark, {"spark.hadoop.fs.s3a.endpoint": "http://example:9000"}
    )
    assert n == 1
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://example:9000"


@pytest.mark.skipif(
    not os.environ.get("CLOUD_TEST_URI"),
    reason="cloud round-trip needs CLOUD_TEST_URI (abfss://... or s3a://...) "
    "plus matching credentials env vars and the hadoop cloud jars",
)
def test_cloud_parquet_roundtrip(spark):
    """Green wherever creds exist: write partitioned parquet straight
    to object storage and read it back (the A13 sink path)."""
    from parquet_pipeline_spark.sources.writers import write_parquet

    uri = os.environ["CLOUD_TEST_URI"].rstrip("/") + "/_a13_roundtrip.parquet"
    apply_cloud_conf(spark)
    df = spark.range(100).withColumnRenamed("id", "v")
    write_parquet(df, uri)
    assert spark.read.parquet(uri).count() == 100


# ---------------------------------------------------------------------------
# VERDICT r12 item 6: escapedStringLiterals is deprecated in Spark 4.0
# — the gate invariant must survive the conf disappearing.
# ---------------------------------------------------------------------------
class _ConflessSpark:
    """A session whose escapedStringLiterals conf is GONE (the future
    Spark the deprecation warning promises), delegating sql() to a
    real session so the parser probe runs against the live grammar."""

    class _Conf:
        def get(self, key):
            raise Exception(f"no such config: {key}")

    def __init__(self, real):
        self._real = real
        self.conf = self._Conf()

    def sql(self, q):
        return self._real.sql(q)


class _BrokenLexerSpark(_ConflessSpark):
    """Conf gone AND the parser refuses the gate's boundary probes —
    the one state ensure_default_string_lexing must refuse."""

    def sql(self, q):
        raise Exception("PARSE_SYNTAX_ERROR")


def test_lexing_guard_fast_path_reads_conf_only(spark):
    from parquet_pipeline_spark.session import ensure_default_string_lexing

    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    ensure_default_string_lexing(spark)  # no raise


def test_lexing_guard_conf_absent_probes_and_accepts(spark):
    """Conf removed: the probe runs against the real parser and the
    boundaries still match the gate's lexer -> session accepted."""
    from parquet_pipeline_spark.session import (
        _string_lexing_matches_gate,
        ensure_default_string_lexing,
    )

    fake = _ConflessSpark(spark)
    ensure_default_string_lexing(fake)  # no raise
    assert _string_lexing_matches_gate(fake)


def test_lexing_guard_conf_flipped_probes_boundaries(spark):
    """Even with the conf flipped to the legacy value, PySpark 4.1.2
    token boundaries are unchanged (the measured fact the gate relies
    on) — the guard probes and accepts rather than hard-failing on
    the conf value alone."""
    from parquet_pipeline_spark.session import ensure_default_string_lexing

    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        ensure_default_string_lexing(spark)  # probe path, no raise
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")


def test_lexing_guard_refuses_moved_boundaries(spark):
    import pytest as _pytest

    from parquet_pipeline_spark.session import ensure_default_string_lexing

    with _pytest.raises(RuntimeError, match="disagrees with the read-only gate"):
        ensure_default_string_lexing(_BrokenLexerSpark(spark))
