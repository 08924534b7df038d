import os

import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "real_models: end-to-end with REAL dense/cross-encoder/decoder "
        "models — runs only when SPARK_GRAFT_REAL_MODELS=1 and the model "
        "libraries (torch / sentence-transformers / PIL) are importable; "
        "skipped (documented env-limit) in this sandbox",
    )


@pytest.fixture(scope="session")
def spark():
    from company_name_matching_spark.session import get_spark

    # one slot per core the runner grants (SPARK_GRAFT_CPUS); the shuffle
    # width stays fixed so plans do not depend on the host
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(app_name="pytest", cpus=cpus, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
