import pytest

from knowledge_graph_spark.session import default_driver_memory, get_spark

# The suite's one JVM gets a quarter of physical RAM, capped at 8g, so a
# concurrent job or gate sweep on the same host still has room.
DRIVER_MEMORY = default_driver_memory(cap_mb=8192)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="kg-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": DRIVER_MEMORY},
    )
    yield s
