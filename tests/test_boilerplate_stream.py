"""Streaming prefix-causal boilerplate scrub: each batch's docs are
scrubbed against window doc-frequencies of the corpus so far INCLUDING
the batch itself; earlier emissions are never retro-scrubbed. The test
reference implements exactly that contract in plain Python."""

from __future__ import annotations

import os
import time
from collections import Counter

from kafka_streaming_polymarket_pipeline_spark.streaming import boilerplate_stream as BS


def _para(tag: str, size: int = 32) -> str:
    return " ".join(f"{tag}{i}" for i in range(size))


TEMPLATE = _para("tpl")
SHARED = _para("sh")

BATCH_A = [
    (0, TEMPLATE + " " + _para("a0")),  # first arrival of TEMPLATE: survives
    (1, _para("b1")),
]
BATCH_B = [
    (2, TEMPLATE + " " + _para("c2")),  # TEMPLATE now df=2 -> scrubbed here only
    (3, SHARED + " " + _para("d3")),    # same-batch repeat of SHARED:
    (4, SHARED + " " + _para("e4")),    #   BOTH scrubbed (batch df=2)
    (5, _para("f5")),
]


def py_prefix_causal_scrub(batches, size=32, max_doc_freq=1):
    freq: Counter = Counter()
    out = {}
    for batch in batches:
        batch_windows, batch_nd = {}, Counter()
        for did, text in batch:
            ts = [t for t in text.split(" ") if t]
            chunks = [
                " ".join(ts[ci * size : ci * size + size])
                for ci in range((len(ts) + size - 1) // size)
            ]
            batch_windows[did] = chunks
            for w in set(chunks):
                batch_nd[w] += 1
        for did, chunks in batch_windows.items():
            kept = [w for w in chunks if freq[w] + batch_nd[w] <= max_doc_freq]
            out[did] = (" ".join(kept), len(chunks), len(chunks) - len(kept))
        for w, c in batch_nd.items():
            freq[w] += c
    return out


def test_streaming_scrub_matches_prefix_causal_reference(spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    b = spark.createDataFrame(BATCH_B, "doc_id long, text string")
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    b.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = tmp_path / "out"
    q = BS.boilerplate_scrub_sink(
        stream,
        str(out / "index"),
        str(out / "docs"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    q.stop()

    got = {
        r.doc_id: (r.text_clean, r.n_paras, r.n_removed)
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    want = py_prefix_causal_scrub([BATCH_A, BATCH_B])
    assert got == want
    # the named contract points, explicitly:
    assert got[0][2] == 0          # first arrival of TEMPLATE survives
    assert got[2][2] == 1          # later cross-batch arrival scrubbed
    assert got[3][2] == 1 and got[4][2] == 1  # same-batch repeats both scrubbed
    assert got[5][2] == 0


def test_batch_probe_retry_is_idempotent(spark, tmp_path):
    """A foreachBatch retry of batch N re-runs with its own first
    attempt's index rows already on disk; before_batch must hide them
    or singleton windows in batch N would double-count to df=2 and be
    scrubbed on retry."""
    idx = str(tmp_path / "index")
    new = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    scrubbed1, wf = BS.boilerplate_scrub_batch(new, idx, before_batch=0)
    first = {r.doc_id: (r.text_clean, r.n_removed) for r in scrubbed1.collect()}
    wf.write.mode("overwrite").parquet(os.path.join(idx, BS.WFREQ, "batch=0"))
    # retry: index now holds batch 0's rows; before_batch=0 must mask them
    scrubbed2, _ = BS.boilerplate_scrub_batch(new, idx, before_batch=0)
    assert {r.doc_id: (r.text_clean, r.n_removed) for r in scrubbed2.collect()} == first
    assert all(nr == 0 for _, nr in first.values())


def test_compaction_trigger_and_parity(spark, tmp_path):
    """Extend the index over several batches, compact, and verify the
    next batch's scrub result is identical pre/post compaction."""
    idx = str(tmp_path / "index")
    batches = [
        [(i * 10 + j, _para(f"x{i}_{j}")) for j in range(2)] for i in range(4)
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        _, wf = BS.boilerplate_scrub_batch(df, idx, before_batch=i)
        wf.write.mode("overwrite").parquet(os.path.join(idx, BS.WFREQ, f"batch={i}"))

    probe = spark.createDataFrame(
        [(100, _para("x0_0") + " " + _para("fresh"))], "doc_id long, text string"
    )
    pre, _ = BS.boilerplate_scrub_batch(probe, idx, before_batch=99)
    pre_rows = {r.doc_id: (r.text_clean, r.n_removed) for r in pre.collect()}
    assert pre_rows[100][1] == 1  # x0_0 seen in batch 0 -> scrubbed

    stats = BS.compact_index(spark, idx)
    assert BS.WFREQ in stats
    assert BS.needs_compaction(idx, max_files=1)["worst"] >= 1

    post, _ = BS.boilerplate_scrub_batch(probe, idx, before_batch=99)
    assert {r.doc_id: (r.text_clean, r.n_removed) for r in post.collect()} == pre_rows
