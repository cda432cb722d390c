"""The engine conf table (session.py) is pinned: every documented conf is
actually applied, and the values match the documented rationale."""

from etl_file_loader_spark.session import engine_confs


def test_engine_conf_table_values():
    c = engine_confs(cpus=32)
    assert c["spark.sql.session.timeZone"] == "UTC"
    # 1x cores locally (measured: wider widths regress iterative/cached
    # shapes that AQE cannot re-coalesce); clusters override via env
    assert int(c["spark.sql.shuffle.partitions"]) == 32
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert int(c["spark.sql.autoBroadcastJoinThreshold"]) == 64 * 1024 * 1024
    assert int(c["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024
    assert c["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert c["spark.serializer"].endswith("KryoSerializer")
    # sized to the warm codegen working set; a constant, not env-scaled
    assert c["spark.sql.codegen.cache.maxEntries"] == "2000"


def test_engine_confs_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "4096")
    assert engine_confs(cpus=32)["spark.sql.shuffle.partitions"] == "4096"


def test_get_spark_applies_table(spark):
    # the shared test session isn't built by get_spark; build a throwaway
    # conf check against a fresh builder would boot a second JVM — instead
    # assert the factory wires every table entry into the builder by
    # inspecting the options it would set
    import etl_file_loader_spark.session as s

    applied = {}

    class FakeBuilder:
        def master(self, m):
            return self
        def appName(self, a):
            return self
        def config(self, k, v):
            applied[k] = v
            return self
        def getOrCreate(self):
            return "session"

    orig = s.SparkSession.builder

    class FakeSession:
        builder = FakeBuilder()

    s.SparkSession, real = FakeSession, s.SparkSession
    try:
        assert s.get_spark(cpus=8) == "session"
    finally:
        s.SparkSession = real
    for k in s.engine_confs(8):
        assert k in applied
