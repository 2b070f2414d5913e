import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from cogger_spark.session import get_spark
    s = get_spark("cogger-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir():
    from cogger_spark.fixtures import ensure_test_fixtures
    return ensure_test_fixtures()


@pytest.fixture(scope="session")
def smoke_images(tmp_path_factory):
    """50-row image table with the full dim cycle (incl. 1024px) for the
    pipeline invariant tests; generated deterministically, not committed."""
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import SMOKE_DIMS, make_images_table
    path = tmp_path_factory.mktemp("smoke") / "images_smoke.parquet"
    pq.write_table(make_images_table(50, dims=SMOKE_DIMS), path)
    return str(path)


@pytest.fixture
def save_bucketed(spark):
    """save(df, table, key, buckets): write `df` as a managed table bucketed
    and sorted on `key`, so later joins and groupBys on `key` read
    pre-clustered buckets. Every table saved is dropped at teardown."""
    import shutil
    tables = []

    def save(df, table, key, buckets):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # the in-memory catalog forgets tables on restart, the filesystem
        # does not: clear a managed location an earlier session left behind
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
        (df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
         .saveAsTable(table))
        tables.append(table)

    yield save
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
