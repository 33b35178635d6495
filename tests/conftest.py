import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from data_pipeline_001_spark.session import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def sf1_dir(spark, tmp_path_factory):
    """The replicated sf1 point (10x sf0.1, tools/make_benchdata),
    generated once per session under a temp dir. Teardown drops it and
    the bucketed layouts the queries materialized for it."""
    from data_pipeline_001_spark.plans.queries_bucketed import _suffix
    from tools.make_benchdata import generate

    src = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    if not os.path.isdir(src):
        pytest.skip(f"{src} not present")
    sf1 = str(tmp_path_factory.mktemp("benchdata") / "sf1")
    generate(src, sf1, 10)
    yield sf1
    sfx = _suffix(sf1)
    for t in spark.catalog.listTables():
        if t.name.endswith(sfx):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in os.listdir(wh) if os.path.isdir(wh) else ():
        if name.endswith(sfx):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    shutil.rmtree(sf1, ignore_errors=True)
