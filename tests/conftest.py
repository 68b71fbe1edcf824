from __future__ import annotations

import pytest

from wikidata_to_cidoc_crm_spark.fixtures import make_world, world_to_spark
from wikidata_to_cidoc_crm_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def world():
    return make_world()


@pytest.fixture(scope="session")
def dims(spark, world):
    d = world_to_spark(spark, world)
    for df in d.values():
        df.cache().count()
    return d
