"""The session sizing rule (``session_conf``) on faked hosts — no JVM."""

from benthos_spark.session import session_conf

GIB_KB = 1024 * 1024


def test_local_session_sized_from_host():
    conf = session_conf(None, None, {}, cpus=3, mem_total_kb=16 * GIB_KB)
    assert conf == {"spark.master": "local[3]", "spark.driver.memory": "4096m"}


def test_master_precedence():
    env = {"SPARK_GRAFT_CPUS": "2"}
    assert session_conf(None, None, env, 8, 8 * GIB_KB)["spark.master"] == "local[2]"
    env["SPARK_MASTER"] = "spark://h:7077"
    assert session_conf(None, None, env, 8, 8 * GIB_KB)["spark.master"] == "spark://h:7077"
    assert session_conf("local[1]", None, env, 8, 8 * GIB_KB)["spark.master"] == "local[1]"


def test_extra_conf_wins():
    extra = {"spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "7"}
    conf = session_conf("local[2]", extra, {}, 4, 16 * GIB_KB)
    assert conf == {"spark.master": "local[2]", **extra}


def test_spark_submit_keeps_master_and_memory():
    env = {"PYSPARK_GATEWAY_PORT": "40000", "SPARK_GRAFT_CPUS": "2", "SPARK_MASTER": "local[9]"}
    assert session_conf(None, None, env, 4, 16 * GIB_KB) == {}
    assert session_conf(None, {"a": "b"}, env, 4, 16 * GIB_KB) == {"a": "b"}
    # an explicit argument is still the caller's choice
    assert session_conf("local[1]", None, env, 4, 16 * GIB_KB) == {"spark.master": "local[1]"}
