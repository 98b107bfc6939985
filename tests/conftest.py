from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from bgp_feature_extractor_spark.session import get_spark

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("origin", T.IntegerType(), True),
        T.StructField("attrs_sig", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("origin", T.IntegerType(), True),
        T.StructField("attrs_sig", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


@pytest.fixture(scope="session")
def spark():
    # Test inputs are small: one fixed 4g heap gives the suite's JVM the same
    # size on every host, within a small host's memory (where a killed JVM
    # costs every later test its session).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": mem},
    )
    yield s


def events_sdf(spark, pdf: pd.DataFrame):
    pdf = pdf.copy()
    pdf["origin"] = pdf["origin"].astype(object).where(pdf["origin"].notna(), None)
    return spark.createDataFrame(pdf[[f.name for f in EVENT_SCHEMA.fields]], EVENT_SCHEMA)


def snapshot_sdf(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf[[f.name for f in SNAPSHOT_SCHEMA.fields]], SNAPSHOT_SCHEMA)
