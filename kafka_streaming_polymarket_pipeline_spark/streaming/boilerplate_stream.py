"""Standing BOILERPLATE scrubber: d19's corpus-frequency template
removal as an incremental streaming job with a persistent window-
frequency index — the ingest-time form of the CCNet/RefinedWeb pass.

Semantics are PREFIX-CAUSAL (the only ones a stream can have): each
micro-batch's documents are scrubbed against the window doc-frequencies
of the corpus SO FAR — previous batches plus the batch itself. A window
whose frequency only later crosses the threshold is not retro-scrubbed
from already-emitted documents (replay the corpus through the batch
operator ``operators.dedup.boilerplate_scrub`` when retroactive
semantics are required); with ``max_doc_freq=1`` this makes the stream
a keep-first/scrub-later hybrid: the first arrival of a template window
survives, every later cross-batch arrival is deleted, and same-batch
repeats delete together exactly as the batch form would.

Index layout: one flat ``streaming/batchdir`` table under ``index/``,

  ``wfreq/batch=<id>``   (ptext, nd)  — per-batch distinct-doc counts

written with overwrite into its own ``batch=<id>`` dir so a crashed
foreachBatch retry is idempotent; the probe passes ``before_batch`` so
a retry never reads its own first attempt's rows (batchdir's replay
guard — double-counting a batch's own windows would push every
batch-internal repeat over the threshold twice and, worse, flip
singleton windows frequent on retry). Cross-batch doc identity is the
ingest contract (doc_ids do not repeat across batches), so summing
per-batch distinct counts equals the corpus-wide distinct-doc count.

Scale shape per batch: one groupBy over the batch's windows, one
aggregation over the index postings for matching windows (equi-join
prunes in the shuffle), the same Zipf-small frequent set, and d17's
per-doc rebuild — never doc x doc, never corpus x corpus. Compaction
merges frequency rows of the same window from different batches into
one batch dir as separate rows; the probe SUMS per window, so the merge
needs no re-aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir

WFREQ = "wfreq"
TABLES = {WFREQ: None}


def _batch_windows(docs: DataFrame, size: int) -> DataFrame:
    """(doc_id, chunk_idx, _pt) windows for a batch — d17/d19's unit."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import passage_chunks

    return passage_chunks(docs, size=size, stride=size).select(
        "doc_id", "chunk_idx", F.col("chunk_text").alias("_pt")
    )


def boilerplate_scrub_batch(
    new: DataFrame,
    index_path: str,
    size: int = 32,
    max_doc_freq: int = 1,
    before_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(scrubbed, wfreq_part): the batch's documents scrubbed against
    corpus-so-far + own-batch window frequencies, plus the batch's
    frequency rows for the caller to land under ``batch=<id>``.

    Output schema matches d19's batch form: (doc_id, text_clean,
    n_paras, n_removed) — one row per input doc."""
    from kafka_streaming_polymarket_pipeline_spark.operators.dedup import (
        _rebuild_kept_windows,
    )

    lay = batchdir.layout(index_path, TABLES)
    paras = _batch_windows(new, size).localCheckpoint(eager=True)
    nd_batch = paras.groupBy("_pt").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    wfreq_part = nd_batch.select(F.col("_pt").alias("ptext"), "nd")
    seen = batchdir.read(index_path, lay, WFREQ, wfreq_part, before_batch)
    nd_prev = (
        seen.groupBy("ptext")
        .agg(F.sum("nd").alias("_ndp"))
        .withColumnRenamed("ptext", "_pt")
    )
    frequent = (
        nd_batch.join(nd_prev, "_pt", "left")
        .filter(
            F.col("nd") + F.coalesce(F.col("_ndp"), F.lit(0)) > max_doc_freq
        )
        .select("_pt")
    )
    kept = paras.join(frequent, "_pt", "left_anti")
    scrubbed = _rebuild_kept_windows(new, "doc_id", paras, kept)
    return scrubbed, wfreq_part


def boilerplate_scrub_sink(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    size: int = 32,
    max_doc_freq: int = 1,
):
    """Standing job: per micro-batch, scrub + extend the window-frequency
    index, landing scrubbed docs under ``docs/batch=<id>``."""
    from kafka_streaming_polymarket_pipeline_spark.sources.sinks import (
        foreach_batch_sink,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        scrubbed, wfreq_part = boilerplate_scrub_batch(
            batch, index_path, size, max_doc_freq, before_batch=batch_id
        )
        batchdir.write(scrubbed, out_path, batch_id)
        batchdir.write_tables(index_path, TABLES, batch_id, {WFREQ: wfreq_part})

    return foreach_batch_sink(docs_stream, process, checkpoint)


def compact_index(spark, index_path: str) -> dict:
    """Offline compaction of the window-frequency index
    (:func:`batchdir.compact`): run it only with the standing job stopped
    and its checkpoint committed."""
    return batchdir.compact(spark, index_path, TABLES)


def needs_compaction(index_path: str, max_files: int = 32) -> dict:
    """When to run :func:`compact_index` (:func:`batchdir.needs_compaction`):
    the wfreq table's total file count, one more per batch, since every
    probe reads it whole."""
    return batchdir.needs_compaction(index_path, TABLES, max_files)
