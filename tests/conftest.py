import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tts_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def record_floor(name: str, metric: str, value: float, bound: float) -> None:
    """Round-over-round floor refresh hook (r7 verdict task 7): every
    recall/error floor test reports its MEASURED value through here, so
    `pytest -s tests/test_ann_recall.py tests/test_sketches.py | grep FLOOR`
    regenerates COVERAGE.md's approximate-path floor table without
    re-deriving ground truth by hand. Any measured value that moves >2
    points between rounds gets a named investigation."""
    print(f"\nFLOOR {name} {metric}={value:.4f} bound={bound}")


# connected_components (functions/graph.py) labels an edge list on the
# driver when it fits under spark.sql.autoBroadcastJoinThreshold // 16 rows
# and runs the distributed large-star/small-star rounds otherwise. Every
# test graph is far below the cap, so CC tests run under both settings:
# the session's threshold (driver path) and -1 (rounds always).
CC_PATHS = pytest.mark.parametrize(
    "cc_threshold", [None, "-1"], ids=["driver", "rounds"]
)


@contextlib.contextmanager
def broadcast_threshold(spark, value):
    """Run the body with spark.sql.autoBroadcastJoinThreshold = `value`
    (None keeps the session's), restoring the previous value after."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)
