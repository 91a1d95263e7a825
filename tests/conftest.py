from __future__ import annotations

import pytest

from simpleetlpipeline_spark.session import ensure_session_conf, get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Tests call query functions directly, past the catalog boundary:
    # assert the conf (and ship the package to workers) once here.
    spark = ensure_session_conf(
        get_spark("simpleetl-tests", cpus=4, shuffle_partitions=4))
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
