"""Co-purchase graph operators: the documented per-order basket limit
fails the query loudly instead of building a quadratic pair array."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from bigdata_hwk_spark.operators import graph as G


@pytest.mark.parametrize(
    "fn", [G.copurchase_edges, G.copurchase_triangles], ids=lambda f: f.__name__
)
def test_basket_over_limit_raises(spark, fn):
    """The raise surfaces as Spark's ``SparkRuntimeException``, or as
    the raw JVM error when several stage materializations fail at once
    under AQE; either way it carries the documented message."""
    lineitem = spark.range(G.COPURCHASE_MAX_BASKET + 1).select(
        F.lit(1).cast("long").alias("l_orderkey"),
        F.col("id").alias("l_partkey"),
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match="copurchase basket exceeds 2048 parts",
    ):
        fn(lineitem).collect()
