"""Explicit url-hash bucketing (north rule; SURVEY.md §4.3).

``pages`` and every url-keyed derived table (mentions, triples) are
written with the same bucket spec so that url-keyed joins between them -
candidate resolution, linking back extraction outputs to mentions,
gold/system evaluation - are co-located: Spark's bucketed scan satisfies
the join's distribution requirement and the physical plan contains no
Exchange on either side (asserted in tests). On Iceberg deployments the
equivalent is a ``bucket(N, url)`` partition transform; the
saveAsTable/bucketBy form here is the vanilla-Spark rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 16) -> None:
    (df.write.mode("overwrite")
       .bucketBy(n_buckets, "url")
       .sortBy("url")
       .format("parquet")
       .saveAsTable(table))


def colocated_join(spark: SparkSession, left_table: str,
                   right_table: str) -> DataFrame:
    """Inner-join two co-bucketed tables on the bucket key, url -
    shuffle-free.

    The merge hint pins the sort-merge strategy so the bucketed layout is
    exercised; without it the planner broadcasts small test tables and
    reports 'Bucketed: false (disabled by query planner)'. At production
    sizes SMJ is what the planner picks anyway and the bucket layout
    removes both Exchanges."""
    left = spark.table(left_table).hint("merge")
    return left.join(spark.table(right_table), "url")
