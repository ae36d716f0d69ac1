"""Driver-side file listing of local sessions.

Above ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
(Spark's default: 32) a read lists its files with a Spark job, one task per
path. A local session's tasks run in the driver JVM anyway, so ``get_spark``
raises the threshold (``session._LOCAL_LISTING_THRESHOLD``).
"""

from tests.fixtures import LISTING_CONF


def test_get_spark_lists_on_the_driver(spark):
    assert spark.sparkContext.master.startswith("local[")
    assert spark.conf.get(LISTING_CONF) == "10000"
