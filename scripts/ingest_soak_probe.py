#!/usr/bin/env python
"""Round-7 probes for the standing ingest/dedup jobs (VERDICT r06 tasks 4+5).

--ingest : quantify the composed ingest job's quality-gate-first claim
    ("rejects never cost signatures or index I/O") with numbers. Four
    scenarios over the same corpora, each a fresh index:
      A  bare dedup stream, clean corpus (sf0.1 documents)
      B  composed ingest job, clean corpus (gate quarantines its ~22%)
      C  bare dedup stream, junk-laden corpus (25% low-entropy junk)
      D  composed ingest job, junk-laden corpus (junk rejected up front)
    The claim is D's wall tracking B's (junk adds only gate compute +
    quarantine writes) while C pays signatures + index I/O for every
    junk doc forever (visible in its index row count).

--soak : index-growth soak for the standing dedup job: NB batches of
    BATCH low-duplicate docs (per-doc random token vocab -> cross-doc
    Jaccard ~ 0) with 0.5% planted near-dups of earlier docs, calling
    the foreachBatch body directly (pairs probe + index extension) and
    recording per-batch probe wall, extension wall, cumulative index
    bytes and files-per-bucket — the unmeasured 100 TB axis is whether
    per-batch cost stays O(new + candidate buckets) as the index grows,
    or the flat band-bucket table / file-count growth demands compaction.

Junk generator: one letter per doc, word lengths varied by a per-(doc,
position) hash so same-letter junk docs share few shingles (entropy
~1 bit/char -> gate-rejected; pairwise Jaccard ~0.01 -> junk does not
flood the pair output, isolating the signature/index cost being measured).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_PROBE_DIR", "/tmp/pmps_ingest_soak")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def junk_text(i: int, k: int = 60) -> str:
    letter = LETTERS[i % 26]
    return " ".join(
        letter * (3 + ((i * 2654435761 + j * 40503) % 97) % 5) for j in range(k)
    )


def rand_text(rng, k: int = 60) -> str:
    return " ".join(
        "".join(rng.choice(list(LETTERS), size=8)) for _ in range(k)
    )


def _stream_from(spark, docs, d, batches, schema):
    src = os.path.join(d, "in")
    docs.repartition(batches).write.mode("overwrite").parquet(src)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def ingest_probe() -> None:
    from kafka_streaming_polymarket_pipeline_spark.session import get_spark
    from kafka_streaming_polymarket_pipeline_spark.streaming import (
        dedup_stream,
        ingest_stream,
    )
    from kafka_streaming_polymarket_pipeline_spark.tables import load
    from pyspark.sql import functions as F

    spark = get_spark(app_name="ingest-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

    batches = 10
    real = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", "text", "lang", "source")
        .localCheckpoint(eager=True)
    )
    n_real = real.count()
    n_junk = n_real // 3  # 25% of the laden corpus
    junk = spark.createDataFrame(
        [(10_000_000 + i, junk_text(i), "xx", "junkgen") for i in range(n_junk)],
        "doc_id long, text string, lang string, source string",
    )
    laden = real.unionByName(junk).repartition(64).localCheckpoint(eager=True)
    schema = "doc_id long, text string, lang string, source string"

    def run(tag: str, docs, n_docs: int, gated: bool) -> dict:
        d = os.path.join(BASE, tag)
        shutil.rmtree(d, ignore_errors=True)
        stream = _stream_from(spark, docs, d, batches, schema)
        t0 = time.perf_counter()
        if gated:
            q = ingest_stream.corpus_ingest_sink(
                stream, os.path.join(d, "out"), os.path.join(d, "ck")
            )
            index_path = os.path.join(d, "out", "index")
        else:
            q = dedup_stream.incremental_dedup_sink(
                stream.select("doc_id", "text"),
                os.path.join(d, "idx"),
                os.path.join(d, "pairs"),
                os.path.join(d, "ck"),
            )
            index_path = os.path.join(d, "idx")
        q.awaitTermination()
        wall = time.perf_counter() - t0
        payload_root = os.path.join(index_path, dedup_stream.PAYLOAD)
        index_docs = (
            spark.read.option("basePath", payload_root)
            .parquet(os.path.join(payload_root, "batch=*"))
            .select("doc_id").distinct().count()
        )
        quar = 0
        qdir = os.path.join(d, "out", "quarantine")
        if os.path.isdir(qdir):
            quar = spark.read.parquet(os.path.join(qdir, "batch=*")).count()
        row = {
            "scenario": tag,
            "docs_offered": n_docs,
            "wall_sec": round(wall, 1),
            "docs_per_sec": round(n_docs / wall, 1),
            "index_docs": index_docs,
            "quarantined": quar,
        }
        print(json.dumps(row), flush=True)
        return row

    n_laden = n_real + n_junk
    results = [
        run("A_bare_clean", real, n_real, gated=False),
        run("B_gated_clean", real, n_real, gated=True),
        run("C_bare_junk", laden, n_laden, gated=False),
        run("D_gated_junk", laden, n_laden, gated=True),
    ]
    print(json.dumps({"summary": results}))
    if "--keep" not in sys.argv:
        shutil.rmtree(BASE, ignore_errors=True)


def soak_probe() -> None:
    from kafka_streaming_polymarket_pipeline_spark.session import get_spark
    import kafka_streaming_polymarket_pipeline_spark.streaming.dedup_stream as ds
    from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir

    spark = get_spark(app_name="soak-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

    n_batches = int(os.environ.get("SOAK_BATCHES", "50"))
    batch_sz = int(os.environ.get("SOAK_BATCH_DOCS", "2000"))
    dup_frac = 0.005
    rng = np.random.RandomState(17)

    d = os.path.join(BASE, "soak")
    shutil.rmtree(d, ignore_errors=True)
    index_path = os.path.join(d, "index")
    pairs_path = os.path.join(d, "pairs")
    batchdir.N_BUCKETS = 64  # layout knob for this regime (1k+ doc batches)

    # keep a sample of earlier texts driver-side to plant near-dups from
    seen_texts: list[tuple[int, str]] = []
    results = []
    for b in range(n_batches):
        rows = []
        n_dups = int(batch_sz * dup_frac) if seen_texts else 0
        for j in range(n_dups):
            tgt_id, tgt_text = seen_texts[rng.randint(len(seen_texts))]
            toks = tgt_text.split()
            for pos in rng.choice(len(toks), size=max(1, len(toks) // 12), replace=False):
                toks[pos] = "".join(rng.choice(list(LETTERS), size=8))
            rows.append((b * batch_sz + j, " ".join(toks)))
        for j in range(n_dups, batch_sz):
            rows.append((b * batch_sz + j, rand_text(rng)))
        # reservoir-ish: keep a bounded sample for future dup targets
        for r in rows[:: max(batch_sz // 20, 1)]:
            seen_texts.append(r)
        seen_texts = seen_texts[-2000:]

        batch = spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint(
            eager=True
        )
        parts = ds.checkpointed_parts(batch)
        t0 = time.perf_counter()
        pairs = ds.incremental_pairs_against_index(batch, index_path, parts=parts)
        pairs.write.mode("overwrite").parquet(os.path.join(pairs_path, f"batch={b}"))
        t_probe = time.perf_counter() - t0
        t1 = time.perf_counter()
        ds.write_index_batch(batch, index_path, b, parts=parts)
        t_ext = time.perf_counter() - t1

        if b % 5 == 4 or b == 0 or b == n_batches - 1:
            n_pairs = spark.read.parquet(os.path.join(pairs_path, f"batch={b}")).count()
            idx_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(index_path)
                for f in fs
            )
            # files a single-bucket probe must open = batch dirs holding
            # that bucket id (one parquet file per bucket per batch by
            # construction) — THE file-count growth driver
            payload = os.path.join(index_path, ds.PAYLOAD)
            n_files = sum(
                1 for _, _, fs in os.walk(payload) for f in fs if f.endswith(".parquet")
            )
            per_bucket: dict[str, int] = {}
            for r, dirs, _ in os.walk(payload):
                for x in dirs:
                    if x.startswith("__kbucket="):
                        per_bucket[x] = per_bucket.get(x, 0) + 1
            n_bucket_dirs = max(len(per_bucket), 1)
            row = {
                "batch": b,
                "index_docs": (b + 1) * batch_sz,
                "doc_buckets": batchdir.layout(index_path, ds.TABLES).n,
                "probe_sec": round(t_probe, 2),
                "extend_sec": round(t_ext, 2),
                "batch_pairs": n_pairs,
                "index_mb": round(idx_bytes / 1e6, 1),
                "payload_files": n_files,
                "files_per_bucket": round(
                    sum(per_bucket.values()) / n_bucket_dirs, 1
                ),
            }
            results.append(row)
            print(json.dumps(row), flush=True)
    print(json.dumps({"summary": results}))
    if "--keep" not in sys.argv:
        shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    if "--ingest" in sys.argv:
        ingest_probe()
    elif "--soak" in sys.argv:
        soak_probe()
    else:
        raise SystemExit("usage: ingest_soak_probe.py --ingest | --soak [--keep]")
