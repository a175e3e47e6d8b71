import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/sscs_test_warehouse"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def changes_df(spark):
    """Helper factory: rows -> canonical changes DataFrame."""

    def make(rows):
        return spark.createDataFrame(
            rows,
            "block_num long, block_id string, ordinal long, table string, "
            "pk string, op string, fields map<string,string>",
        )

    return make
