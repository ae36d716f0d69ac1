"""Standing corpus-ingest pipeline: quality admission -> quarantine ->
incremental near-dup detection -> persistent index, as ONE streaming job.

This composes the two standing jobs a continuously-ingesting training
pipeline runs (`streaming/quality_stream.py`'s stateless admission gate
and `streaming/dedup_stream.py`'s persistent-index near-dup probe) in
the order that makes them cheap together: rejected documents never cost
signature computation or index I/O, which is the entire point of
running the gate first (quality features are map-only codegen; the
dedup probe pays one signature map pass + index reads per batch).

Per micro-batch (all inside one foreachBatch, so a crash retries the
whole batch against the same ``batch=<id>`` overwrite targets of
``streaming/batchdir``, with the probes reading only earlier batches):

  1. quality features + keep flag for the batch (stateless, row-local);
  2. quarantined rows land under ``quarantine/batch=<id>`` with their
     features (the audit trail — same contract as the T8/T9 error
     side-channels);
  3. admitted rows probe + extend the near-dup index (dedup_stream's
     funnel, unchanged), emitting pairs under ``pairs/batch=<id>`` and
     landing the admitted text under ``admitted/batch=<id>``.

Stream == batch: the union of per-batch admitted/quarantine/pairs
outputs equals the batch quality split + batch pair ground truth over
the SAME files (asserted in tests/test_ingest_stream.py), because every
stage is either stateless or probes an index built from exactly the
prior batches.

Reference scope: the reference pipeline's consumers validate + filter
before landing rows (consumers/db_writer.py); this is that admission
shape generalized to the LLM-corpus setting where the "landing" step is
a dedup index rather than a table upsert.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir
from kafka_streaming_polymarket_pipeline_spark.streaming import dedup_stream as DS
from kafka_streaming_polymarket_pipeline_spark.streaming.quality_stream import (
    ENTROPY_MIN_BITS,
    _drift_stats_from_rows,
    quality_features_frame,
)


def corpus_ingest_sink(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    n: int = 5,
    entropy_min: float = ENTROPY_MIN_BITS,
    monitor_reference: DataFrame | None = None,
    monitor_mn: float | None = None,
    monitor_mx: float | None = None,
    monitor_col: str = "quality_logit",
    monitor_bins: int = 10,
    dsir_lambda: DataFrame | None = None,
    lm_model: DataFrame | None = None,
    scrub_boilerplate: bool = False,
    scrub_size: int = 32,
    scrub_max_doc_freq: int = 1,
):
    """Standing job: per micro-batch, quality-gate the docs, quarantine
    rejects, then run the admitted docs through the incremental dedup
    probe + index extension. Layout under ``out_path``:
    ``quarantine/batch=<id>``, ``admitted/batch=<id>``,
    ``pairs/batch=<id>``, ``index/...`` (dedup_stream's layout).

    Pass ``monitor_reference`` (a frozen histogram from
    ``quality_stream.reference_histogram``, with its mn/mx binning
    constants) to ALSO emit one drift reading per micro-batch under
    ``monitor/batch=<id>``: (n_events, psi, ks_stat, w1_distance) —
    the full drift triple from the one shared fold — of the INCOMING
    population's ``monitor_col`` distribution — pre-gate, keep and
    reject alike, because upstream drift is exactly what shifts the
    admission rate, and a monitor that only sees admitted rows is blind
    to the junk flood it exists to catch. Costs one pass over the
    already-checkpointed features frame (a groupBy on <= monitor_bins
    keys); the reference folds in driver-side ONCE at job build, not
    per batch.

    Pass ``dsir_lambda`` (a fitted ``sampling.dsir_model`` table —
    (bucket, lam_micro), <= n_buckets rows, frozen at job build exactly
    like the drift reference) to ALSO attach each admitted document's
    DSIR importance score: ``admitted/batch=<id>`` gains a BIGINT
    ``score_micro`` column (integer micro-units, the x9 contract) so a
    downstream mixture/selection job can Gumbel-top-k over the landed
    corpus without re-featurizing it. Scored AFTER the gate — rejects
    never cost a gram explode — via one broadcast join of the model
    table per batch (``sampling.dsir_score``).

    Pass ``lm_model`` (a frozen ``bpe.unigram_lm_model`` (piece, lp)
    table — CCNet's deployment shape: the LM is trained once on an
    exemplar corpus and applied to every snapshot) to ALSO attach each
    admitted document's perplexity under the trained unigram LM:
    ``admitted/batch=<id>`` gains ``lm_n_pieces`` / ``lm_total_lp_micro``
    (exact BIGINTs, the x9 integer contract) and the derived ``lm_ppl``.
    The model is materialized ONCE at job build (localCheckpoint — its
    lineage never re-runs per batch) with the OOV-char floor pinned
    there too, so every batch scores under literally the same table;
    per batch the scorer costs one per-DISTINCT-WORD Viterbi fold + a
    broadcast model join over admitted docs only.

    Pass ``scrub_boilerplate=True`` to ALSO run the prefix-causal
    template scrub (``streaming/boilerplate_stream.py``) on admitted
    docs BEFORE they reach the dedup probe and the optional scorers —
    the d3c motivation at ingest time: template windows stop polluting
    the near-dup index and the DSIR/LM features the moment they go
    frequent. ``admitted/batch=<id>`` then carries the SCRUBBED text
    plus (n_paras, n_removed) accounting, and the window-frequency
    index lives beside the dedup index under ``index/wfreq/batch=<id>``
    with the same overwrite + before_batch retry armor. Docs scrubbed
    to empty text stay in the landed output (the accounting row is the
    audit trail) but cost the dedup probe nothing (empty shingle sets
    never index)."""
    from kafka_streaming_polymarket_pipeline_spark.sources.sinks import (
        foreach_batch_sink,
    )

    index_path = os.path.join(out_path, "index")
    ref_rows = None
    if monitor_reference is not None:
        if monitor_mn is None or monitor_mx is None:
            raise ValueError(
                "monitor_reference needs its binning constants: pass the "
                "(mn, mx) that reference_histogram returned"
            )
        ref_rows = {
            int(r["bin"]): float(r["ref_share"]) for r in monitor_reference.collect()
        }
    lam_rows = None
    if dsir_lambda is not None:
        # <= n_buckets rows by construction (dsir_model's spine) —
        # the bounded collect the drift reference already established.
        lam_rows = [
            (int(r["bucket"]), int(r["lam_micro"])) for r in dsir_lambda.collect()
        ]
        # The scoring modulus is inferred as len(lam_rows), so ANY
        # deviation from the fit's full spine re-buckets grams under a
        # different modulus and lands silently-wrong score_micro values:
        # an empty table would make hash % 0 NULL-score everything, and
        # a partial/filtered table (or one fit with a different
        # n_buckets) is just as corrupt with no error at all. Demand the
        # exact spine 0..n-1 (the monitor_reference binning-constants
        # guard's sibling).
        if not lam_rows or sorted(b for b, _ in lam_rows) != list(
            range(len(lam_rows))
        ):
            raise ValueError(
                "dsir_lambda must be the FULL dsir_model table (bucket "
                "spine exactly 0..n_buckets-1); got "
                f"{len(lam_rows)} rows with buckets "
                f"{sorted(b for b, _ in lam_rows)[:8]}... — a partial or "
                "re-filtered model would re-bucket grams under the wrong "
                "modulus and silently mis-score every document"
            )

    lm_frozen = None
    lm_unk = None
    if lm_model is not None:
        # materialize once at job build: the closure must reuse the same
        # rows every batch, not re-run the fit lineage per micro-batch
        lm_frozen = lm_model.localCheckpoint(eager=True)
        row = lm_frozen.agg(F.min("lp").alias("m")).collect()[0]
        if row["m"] is None:
            raise ValueError(
                "lm_model must be a non-empty (piece, lp) unigram model "
                "table (bpe.unigram_lm_model output)"
            )
        lm_unk = int(row["m"]) - 1_000_000

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        feats = quality_features_frame(batch, entropy_min).localCheckpoint(eager=True)
        if ref_rows is not None:
            batchdir.write(
                _drift_stats_from_rows(
                    feats, ref_rows, monitor_mn, monitor_mx, monitor_col, monitor_bins
                ),
                os.path.join(out_path, "monitor"), batch_id,
            )
        batchdir.write(
            feats.filter(~F.col("keep")), os.path.join(out_path, "quarantine"), batch_id
        )
        admitted = batch.join(
            feats.filter(F.col("keep")).select("doc_id"), "doc_id"
        ).localCheckpoint(eager=True)
        if scrub_boilerplate:
            from kafka_streaming_polymarket_pipeline_spark.streaming import (
                boilerplate_stream as BS,
            )

            scrubbed, wfreq_part = BS.boilerplate_scrub_batch(
                admitted,
                index_path,
                size=scrub_size,
                max_doc_freq=scrub_max_doc_freq,
                before_batch=batch_id,
            )
            admitted = (
                admitted.drop("text")
                .join(
                    scrubbed.withColumnRenamed("text_clean", "text"), "doc_id"
                )
                .localCheckpoint(eager=True)
            )
            batchdir.write_tables(index_path, BS.TABLES, batch_id, {BS.WFREQ: wfreq_part})
        landed = admitted
        if lam_rows is not None:
            from kafka_streaming_polymarket_pipeline_spark.operators.sampling import (
                dsir_score,
            )

            lam = batch.sparkSession.createDataFrame(
                lam_rows, "bucket int, lam_micro long"
            )
            landed = admitted.join(
                dsir_score(admitted, lam, n_buckets=len(lam_rows)), "doc_id"
            )
        if lm_frozen is not None:
            from kafka_streaming_polymarket_pipeline_spark.operators.bpe import (
                unigram_score_with_model,
            )

            lm_scores = unigram_score_with_model(
                admitted, lm_frozen, unk_lp_micro=lm_unk
            ).select(
                "doc_id",
                F.col("n_pieces").alias("lm_n_pieces"),
                F.col("total_lp_micro").alias("lm_total_lp_micro"),
                F.col("ppl").alias("lm_ppl"),
            )
            landed = landed.join(lm_scores, "doc_id")
        batchdir.write(landed, os.path.join(out_path, "admitted"), batch_id)
        # dedup only over admitted docs: rejects never cost signatures
        DS._sink_batch(
            admitted, batch_id, index_path, os.path.join(out_path, "pairs"), threshold, n
        )

    return foreach_batch_sink(docs_stream, process, checkpoint)
