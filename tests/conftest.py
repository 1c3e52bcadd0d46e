import pytest

from overpaint_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # catalog tables (saveAsTable) and embedded Derby (the JDBC test)
    # write under a pytest temp dir, not into the working directory
    scratch = tmp_path_factory.mktemp("spark")
    s = get_spark(
        "overpaint-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch}",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
