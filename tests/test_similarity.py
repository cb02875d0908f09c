"""operators.similarity on hand-built inputs."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flink_template_spark.operators.similarity import ivf_assign

CENTROIDS = "centroid_id long, embedding array<double>"


def test_ivf_assign_ignores_a_null_centroid_id(spark):
    """A centroid row with a NULL id is dropped like a degenerate one:
    the assignment equals the one without that row, and a NULL id alone
    is an empty centroid set."""
    vectors = spark.createDataFrame(
        [(i, [math.cos(i), math.sin(i), 0.5]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [-1.0, 0.0, 0.0])],
        CENTROIDS,
    )
    # the closest centroid for the vectors with a negative sine
    null_id = spark.createDataFrame([(None, [0.0, -1.0, 0.0])], CENTROIDS)

    def assign(centroids):
        return {r.vec_id: r.cluster for r in ivf_assign(vectors, centroids).collect()}

    want = assign(cents)
    assert len(want) == 12 and set(want.values()) == {0, 1, 2}
    assert assign(cents.unionByName(null_id)) == want
    assert assign(null_id) == {}
    assert assign(cents.filter(F.col("centroid_id") == 1).unionByName(null_id)) == {
        i: 1 for i in range(12)
    }
