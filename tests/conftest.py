import os

import pytest

from knowledge_graph_spark.session import get_spark

# The suite's one JVM gets a quarter of physical RAM, capped at 8g, so a
# concurrent job or gate sweep on the same host still has room.
_RAM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
DRIVER_MEMORY = f"{min(8192, _RAM_MB // 4)}m"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="kg-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": DRIVER_MEMORY},
    )
    yield s
