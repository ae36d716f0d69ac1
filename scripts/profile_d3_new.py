#!/usr/bin/env python
"""Stage attribution for the NEW combined-payload funnel."""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.storagelevel import StorageLevel  # noqa: E402

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.session import get_spark  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.tables import load  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
spark = get_spark(app_name="profile-d3-new", cpus=cpus, shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()


def tic(label, fn):
    t0 = time.perf_counter()
    r = fn()
    print(json.dumps({"stage": label, "sec": round(time.perf_counter() - t0, 3)}), flush=True)
    return r


docs = load(spark, SF_DIR, "documents")
payload = D._sig_payload(D._hashed_shingle_stream(docs, "doc_id", "text", 5)).persist(
    StorageLevel.MEMORY_AND_DISK
)
n_docs = tic("P1_payload_persist_count", lambda: payload.count())
rows, min_bands, est_cutoff = D._lsh_params(0.5)
cand = D._cand_pairs(D._band_buckets(payload, rows), min_bands)
tic("P2_cand_noop", lambda: cand.write.format("noop").mode("overwrite").save())
out = D._verify_jaccard(D._est_filter(cand, payload, est_cutoff, n_docs), payload, 0.5, n_docs)
tic("P3_est_verify_noop", lambda: out.write.format("noop").mode("overwrite").save())
tic("P3b_est_verify_again", lambda: out.write.format("noop").mode("overwrite").save())
spark.stop()
