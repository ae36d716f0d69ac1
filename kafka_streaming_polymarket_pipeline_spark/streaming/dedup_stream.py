"""Streaming incremental near-dup detection — the form a 100 TB training
pipeline actually runs continuously.

The batch operator (operators/dedup.minhash_lsh_incremental) proves the
O(|new|) math; this module makes it a standing job with a PERSISTENT
index: the corpus's band buckets and MinHash payload live as parquet
tables that each micro-batch probes and then extends. Per batch
the work is:

  1. signature + band computation for the new docs only: the batch is
     hash-partitioned on doc_id, then one map-local Arrow fold over its
     shingle-hash Generate builds the payload (operators/dedup
     ``_shingle_payload``; no shuffle or aggregation after the
     Generate);
  2. bucket probes: new-batch bands equi-join the stored bucket table
     (plus new-new pairs; operators/dedup ``_cand_pairs``, the one
     candidate builder d7 uses too) -> band-count cut -> signature-
     agreement estimate cut -> exact hashed-shingle verify — the same
     exactness-preserving funnel as d3. The estimate stage is LOAD-
     BEARING on templated corpora (measured: dropping it pushed one
     1000-doc batch's probe from 7 s to 107 s — the J in [0.15, 0.5)
     candidate mass hits the array-intersect verify unpruned), so it
     stays, reading only the payload's m* columns.
  3. index extension: the new docs' rows land under
     ``batch=<epoch_id>`` partition directories written with per-batch
     overwrite, so a foreachBatch retry after a crash REWRITES the same
     directory instead of appending duplicates (idempotent — this is
     what makes the exactly-once claim hold on the index path).

The index is two ``streaming/batchdir`` tables, declared in
:data:`TABLES`. ``payload`` holds the fold's rows ``(doc_id, hsh,
m0..m127, sz)`` as the batch funnel builds them, kbucketed by doc_id, so
the estimate and verify stages read one frame, partition-pruned to the
buckets holding candidate docs (O(candidate buckets), not O(corpus)),
while each batch still writes only its own files (the index is
append-only: new doc_ids are new keys). The band-bucket table
``buckets`` stays flat: its probe is an equi-join on band_hash, which a
1000-doc batch (64k bands) touches uniformly, so a full scan of
three-long rows is the honest per-batch floor there (SCALE.md's
amortization table). Both reads take their schema from the batch's own
(payload, buckets) frames (batchdir's read contract), so they start no
Spark job, and an index with no row yet reads as 0 rows: the probe has
one path, and on the first batch it checkpoints a candidate set of the
batch's own pairs. A replayed micro-batch probes with
``before_batch=<batch_id>``, so it never reads its first attempt's rows
(batchdir's replay guard). An index written in the older three-table
layout (``sigs``/``hashed``) has no ``payload`` table and fails with
batchdir's "rebuild the index" error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D
from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir

PAYLOAD, BUCKETS = "payload", "buckets"
TABLES = {PAYLOAD: "doc_id", BUCKETS: None}


def _index_parts(payload: DataFrame, threshold: float) -> tuple:
    """A (doc_id, hsh, m0..m127, sz) payload and its band buckets: the
    index's (payload, buckets) frames."""
    rows, _, _ = D._lsh_params(threshold)
    return payload, D._band_buckets(payload, rows)


def write_index_batch(
    docs: DataFrame, index_path: str, batch_id: int, threshold: float = 0.5,
    n: int = 5, parts: tuple | None = None
) -> None:
    """Materialize one batch's index rows under batch=<id> dirs
    (overwrite -> retry-idempotent), the payload kbucketed by doc_id.
    ``parts`` lets the caller pass the (payload, buckets) frames it
    already computed for probing, so the signature stage — the expensive
    map pass — runs once per batch, not twice."""
    payload, buckets = parts or _index_parts(
        D._shingle_payload(docs, "doc_id", "text", n), threshold
    )
    # The payload keeps one partition per core (the fold's doc_id
    # repartition); a rebalance lets AQE size this flat table's files by
    # bytes, so a small batch lands as one file and every later probe,
    # which opens every bucket file, does not pay one open per core.
    batchdir.write_tables(
        index_path, TABLES, batch_id,
        {PAYLOAD: payload, BUCKETS: buckets.hint("rebalance")},
    )


def checkpointed_parts(new: DataFrame, threshold: float = 0.5, n: int = 5) -> tuple:
    """The batch's (payload, buckets) frames, eagerly materialized —
    computed once, shared by the probe and the index write. The payload
    (dedup._shingle_payload) is checkpointed, so the shingle pass — the
    expensive per-batch map stage — runs exactly once per batch; buckets
    is a cheap row-local hash over the checkpointed rows.

    A micro-batch arrives in maxFilesPerTrigger-many input splits. The
    payload hash-partitions the batch on doc_id at the session's default
    parallelism before its Generate, so the shingle stage runs on every
    core however narrow the batch, with no per-batch ``.rdd`` width probe,
    and the fold needs no shuffle after the Generate. A repeated or null
    doc_id in the batch fails the batch instead of merging documents."""
    payload = D._shingle_payload(new, "doc_id", "text", n).localCheckpoint(eager=True)
    return _index_parts(payload, threshold)


def incremental_pairs_against_index(
    new: DataFrame, index_path: str, threshold: float = 0.5, n: int = 5,
    parts: tuple | None = None, before_batch: int | None = None,
) -> DataFrame:
    """Near-dup pairs touching ``new``, probing the persistent index —
    never re-reading corpus text. Returns (doc_id_a, doc_id_b, jaccard)
    with the same exactness contract as the batch funnel. The standing
    job passes its ``batch_id`` as ``before_batch`` so a replayed batch
    reads only the batches before it (batchdir's replay guard)."""
    lay = batchdir.layout(index_path, TABLES)
    _, min_bands, est_cutoff = D._lsh_params(threshold)
    payload, new_buckets = parts or checkpointed_parts(new, threshold, n)

    corpus_buckets = batchdir.read(index_path, lay, BUCKETS, new_buckets, before_batch)
    # The est/verify stages only need payload rows for CANDIDATE docs.
    # Materialize the (small) candidate set once, derive its touched
    # doc-id buckets — a bounded <= n-bucket driver-side int list, with
    # the index's PINNED count — and partition-prune the corpus payload
    # read to those dirs. The batch's own rows come from the in-memory
    # checkpointed parts.
    cand = D._cand_pairs(new_buckets, min_bands, corpus_buckets).localCheckpoint(eager=True)
    touched = sorted(
        r["kb"]
        for r in cand.select(
            F.explode(
                F.array(batchdir.bucket("doc_id_a", lay.n), batchdir.bucket("doc_id_b", lay.n))
            ).alias("kb")
        )
        .distinct()
        .collect()
    )
    corpus = batchdir.read(index_path, lay, PAYLOAD, payload, before_batch, buckets=touched)
    payload = corpus.unionByName(payload)
    # one frame for both stages, as in the batch funnel: column pruning
    # keeps the estimate's scan on doc_id and m0..m127
    return D._verify_jaccard(D._est_filter(cand, payload, est_cutoff), payload, threshold)


def _sink_batch(
    batch: DataFrame, batch_id: int, index_path: str, pairs_path: str,
    threshold: float, n: int,
) -> None:
    """One micro-batch of :func:`incremental_dedup_sink`: probe the index
    for pairs touching the batch, write them, and extend the index."""
    from concurrent.futures import ThreadPoolExecutor

    # No batch-level localCheckpoint (r11): the batch frame is scanned
    # exactly once — by checkpointed_parts' payload fold — so
    # materializing it first was a pure extra job per micro-batch
    # (write_index_batch and the probe consume only ``parts``).
    parts = checkpointed_parts(batch, threshold, n)
    pairs = incremental_pairs_against_index(
        batch, index_path, threshold, n, parts=parts, before_batch=batch_id
    )

    def write_index() -> None:
        # reuse the probed frames: the signature map pass runs once/batch
        write_index_batch(batch, index_path, batch_id, threshold, n, parts=parts)

    # Both writes land under their own batch=<id> dirs, and the probe's
    # scan prunes batch=<batch_id> while planning, so even on a replay
    # the pairs job never opens a file the index overwrite deletes. They
    # are independent consumers of the checkpointed parts: run them
    # concurrently so the index writes back-fill executors left idle by
    # the pairs job's tail (guide §2.6). Each future re-raises into
    # foreachBatch on failure, keeping the stream's retry semantics.
    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(batchdir.write, pairs, pairs_path, batch_id),
                    pool.submit(write_index)]:
            fut.result()


def incremental_dedup_sink(
    docs_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    n: int = 5,
):
    """Standing job: per micro-batch, emit near-dup pairs touching the
    batch (probing the persistent index), then extend the index. Pairs
    land under batch=<id> dirs (overwrite -> idempotent on retry)."""
    from kafka_streaming_polymarket_pipeline_spark.sources.sinks import foreach_batch_sink

    def process(batch: DataFrame, batch_id: int) -> None:
        _sink_batch(batch, batch_id, index_path, pairs_path, threshold, n)

    return foreach_batch_sink(docs_stream, process, checkpoint)


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Offline compaction of the dedup index (:func:`batchdir.compact`):
    run it only with the standing job stopped and its checkpoint
    committed."""
    return batchdir.compact(spark, index_path, TABLES)


def needs_compaction(index_path: str, max_files: int = 32) -> dict:
    """When to run :func:`compact_index` (:func:`batchdir.needs_compaction`):
    the most files one candidate bucket of payload or the whole buckets
    table makes a probe open."""
    return batchdir.needs_compaction(index_path, TABLES, max_files)
