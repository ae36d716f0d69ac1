#!/usr/bin/env python
"""Stage-by-stage timing for the e2e_corpus_build_{g,r} sf0.1 tail
(r11 task 1): times each cumulative stage of the composition with the
noop sink so the degenerate stage is localized instead of guessed.

Usage: python scripts/profile_e2e.py {g|r} [stage ...]
Stages: scrub pairs clusters canon kept full
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.operators import packing as P  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.operators import text as T  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.plans.pipeline_plans import ENTROPY_KEEP_BITS  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.session import get_spark  # noqa: E402
from kafka_streaming_polymarket_pipeline_spark.tables import load  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
which = sys.argv[1] if len(sys.argv) > 1 else "r"
wanted = sys.argv[2:] or ["scrub", "pairs", "clusters", "canon", "kept", "full"]

spark = get_spark(app_name=f"profile-e2e-{which}", cpus=32, shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()


def build(stage: str):
    docs = load(spark, SF_DIR, "documents")
    if which == "g":
        scrubbed = D.paragraph_neardup_dedup(docs, size=32).select(
            "doc_id", F.col("text_clean").alias("text")
        ).persist()
    else:
        scrubbed = D.boilerplate_scrub(docs, size=32, max_doc_freq=1).select(
            "doc_id", F.col("text_clean").alias("text")
        ).persist()
    if stage == "scrub":
        return scrubbed
    pairs = D.minhash_lsh_dedup(scrubbed, threshold=0.5, n=5)
    if stage == "pairs":
        return pairs
    clusters = D.neardup_clusters_star(scrubbed, pairs)
    if stage == "clusters":
        return clusters
    canon = scrubbed.join(
        D.keep_longest_per_cluster(scrubbed, clusters)
        .select(F.col("kept_doc_id").alias("doc_id")),
        "doc_id",
    )
    if stage == "canon":
        return canon
    kept = (
        T.char_entropy_frame(canon)
        .filter(F.round(F.col("char_entropy_bits"), 6) >= ENTROPY_KEEP_BITS)
        .select("doc_id", "text")
    )
    if stage == "kept":
        return kept
    return P.packed_sequences(kept).select(
        "doc_id", "n_tokens", "tok_start", "seq_first", "seq_last"
    )


for stage in wanted:
    spark.sparkContext.setJobDescription(f"e2e_{which}: through {stage}")
    t0 = time.perf_counter()
    build(stage).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{which} through {stage}: {dt:.2f}s", flush=True)
    spark.catalog.clearCache()
spark.stop()
