import os

import pytest


def pytest_collection_modifyitems(config, items):
    """Default-skip ``heavy``-marked tests (see pytest.ini) so
    ``python -m pytest tests/ -x -q`` — the driver's fixed verify
    command — fits its window. SPARK_GRAFT_FULL_TESTS=1 runs them;
    the full suite is re-run that way before every round seal."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="heavy: run with SPARK_GRAFT_FULL_TESTS=1 "
               "(driver-window budget, VERDICT r14 task 3)")
    for item in items:
        if "heavy" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from bigslice_spark import get_spark
    s = get_spark("bigslice_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def session(spark):
    from bigslice_spark import Session
    return Session(spark)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from bigslice_spark import load_tables
    return load_tables(spark, sf_dir)


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture
def cluster_checkpoint(spark, tmp_path_factory):
    """Context-manager factory: inside it, checkpoint.materialize takes
    the cluster path (a reliable checkpoint, as under a non-local
    master) — ``_single_jvm`` is patched to say no, and the context
    has a checkpoint dir."""
    import contextlib
    from unittest import mock

    from bigslice_spark import checkpoint
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(str(tmp_path_factory.mktemp("ckpt")))

    @contextlib.contextmanager
    def cluster():
        with mock.patch.object(checkpoint, "_single_jvm",
                               lambda master: False):
            yield
    return cluster
