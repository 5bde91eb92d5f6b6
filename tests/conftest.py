import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("sophia_rs_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def counted_pages(spark):
    """pandas pages frame → (pages DataFrame, accumulator).

    The pages sit behind a ``mapInPandas`` that adds every batch's row
    count to the accumulator, so each re-read of the pages (a consumer
    recomputing an unmaterialized upstream) shows up in its value."""
    from sophia_rs_spark.plans.extract import pages_df

    def make(pdf):
        pages = pages_df(spark, pdf)
        reads = spark.sparkContext.accumulator(0)

        def count(batches):
            for batch in batches:
                reads.add(len(batch))
                yield batch

        return pages.mapInPandas(count, schema=pages.schema), reads

    return make
