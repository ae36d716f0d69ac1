#!/usr/bin/env python
"""Capture .explain('formatted') output for named registered queries.

Usage: python scripts/capture_plans.py <suffix> name1 [name2 ...]
Writes plans/$PLANS_ROUND/<name>_<suffix>.txt for each query (suffix:
before/after; PLANS_ROUND defaults to r11).
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streaming_polymarket_pipeline_spark.session import get_spark  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.plans import registry  # noqa: E402
import kafka_streaming_polymarket_pipeline_spark.plans as plans  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
suffix = sys.argv[1]
names = sys.argv[2:]

spark = get_spark(app_name="capture-plans", cpus=8, shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

out_dir = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("PLANS_ROUND", "r11"),
)
os.makedirs(out_dir, exist_ok=True)

reg = plans.all_queries()
for name in names:
    df = reg[name](spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    path = os.path.join(out_dir, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars)")
    spark.catalog.clearCache()
spark.stop()
