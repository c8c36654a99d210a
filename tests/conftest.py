import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from geowave_spark.session import get_spark

    s = get_spark("geowave-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _clear_spark_cache():
    """Each module leaves an empty cache behind: a relation one module
    cached must not show up in another module's plans (a cached relation
    changes plan strings and stage counts).  Never starts Spark itself."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def image_rows(n, start=0, fmt_cycle=("png", "bmp", "jpeg")):
    """Shared fixture-row builder for the image+caption input_hint shape
    (used by the phash / imagefeat / clustering test families)."""
    from geowave_spark.functions import imagecodec as codec
    from geowave_spark.sources import images

    out = []
    for i in range(start, start + n):
        arr = images.pixels_for(i)
        fmt = fmt_cycle[i % len(fmt_cycle)]
        out.append(
            {
                "image_id": f"img{i:010d}",
                "bytes": codec.encode_image(arr, fmt),
                "w": arr.shape[1],
                "h": arr.shape[0],
                "fmt": fmt,
                "caption": f"c{i}",
                "phash": 0,
            }
        )
    return out
