import pytest

from alstom_spark_cassandra_spark.session import get_spark

# The factory's 24g default is a cluster-driver heap. With that much
# headroom G1 grows the heap instead of collecting, and over a full
# suite run the JVM outgrows a 15 GB host and is OOM-killed mid-suite
# (every later test then fails on the dead gateway). The suite's live
# set fits well inside this.
TEST_DRIVER_MEMORY = "6g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        cpus=4,
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": TEST_DRIVER_MEMORY,
        },
    )
    yield s


def root_operator(df) -> str:
    """Name of a DataFrame's physical root below AdaptiveSparkPlan and
    any whole-stage-codegen wrapper."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.inputPlan()
    while node.nodeName().startswith("WholeStageCodegen"):
        node = node.child()
    return node.nodeName()
