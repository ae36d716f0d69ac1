#!/usr/bin/env python
"""Time named registered queries with the bench protocol (noop sink,
min over N passes, cache cleared between runs). For optimization-round
before/after probes; the official number stays bench.py's.

Usage: python scripts/bench_subset.py name1,name2,... [runs]

Runs at local[SPARK_GRAFT_CPUS], by default one slot per CPU of the host,
and prints the ``cpus`` it ran at with the timings: compare two runs only
at the same value.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streaming_polymarket_pipeline_spark import plans  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
names = sys.argv[1].split(",")
runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
spark = get_spark(app_name="bench-subset", cpus=cpus, shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

registry = plans.all_queries()
timings = {}
for _pass in range(runs):
    for name in names:
        t0 = time.perf_counter()
        registry[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if name not in timings or dt < timings[name]:
            timings[name] = dt
        spark.catalog.clearCache()
print(json.dumps({"cpus": cpus, **{n: round(v, 3) for n, v in timings.items()}}))
spark.stop()
