"""Standing SUBSUMPTION detector: incremental directed-containment probe
with a persistent inverted token index — d7's streaming pattern applied
to d15's asymmetric relation.

Why a separate index from dedup_stream's: containment-high pairs can be
Jaccard-LOW (a tweet inside an article), so the MinHash band buckets that
make the near-dup probe cheap are structurally blind here — candidate
generation must come from a SHARED-TOKEN inverted index, the same reason
d15's batch form indexes B's full token set. The index is two tables
under ``index/``:

  ``inv/batch=<id>``    (doc_id, tok)      — the inverted postings
  ``sizes/batch=<id>``  (doc_id, sz)       — distinct-token set sizes

Both are flat ``streaming/batchdir`` tables (:data:`TABLES`), read with
the schema of the batch's own postings and sizes (batchdir's read
contract: an index with no batch yet reads as 0 rows). Per
micro-batch (inside one foreachBatch; every write targets ``batch=<id>``
with overwrite, so a crash retries the whole batch idempotently):

  1. tokenize the new docs (distinct lowercase word tokens, d15's unit);
  2. probe: join new postings against (index ∪ the batch's own
     postings) on the token, count shared tokens per (new, seen) pair —
     one equi-join + one map-side-combined groupBy, never doc x doc;
  3. emit BOTH directions that qualify (new-inside-seen and
     seen-inside-new; a pair's later-arriving side always probes, so the
     union of per-batch emissions equals d15 over the full corpus —
     asserted in tests/test_containment_stream.py);
  4. extend the index with the batch's postings + sizes.

Scale shape: per batch the probe touches only postings for tokens the
NEW docs contain (partition-pruned at the parquet level once the index
is kbucketed by token in batchdir — future work, as dedup_stream does
by doc_id; at current scales the token equi-join already prunes in the
shuffle). Output is inherently quadratic in subsumption-cluster size,
as for any exact pair enumeration; ``min_size`` drops signal-free tiny
contained sets exactly as d15 does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir

INV, SIZES = "inv", "sizes"
TABLES = {INV: None, SIZES: None}


def _token_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, sizes) for a batch: distinct lowercase word tokens."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import tokens

    post = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("tok"),
    )
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return post, sizes


def containment_probe_batch(
    new: DataFrame,
    index_path: str,
    num: int = 9,
    den: int = 10,
    min_size: int = 1,
    before_batch: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs, postings, sizes): the batch's directed containment pairs
    against everything seen so far INCLUDING the batch itself, plus the
    batch's index parts for the caller to land. All thresholds integer
    cross-multiplied (d15's discipline). The standing job passes its
    ``batch_id`` as ``before_batch`` so a crashed-then-retried batch
    never reads its own first attempt's index rows: a retry of batch N
    that saw the inv/sizes rows already landed under batch=N would count
    every batch-N token twice in the overlap (containment 2.0 rows), and
    the bwd leg would re-emit reversed duplicates."""
    lay = batchdir.layout(index_path, TABLES)
    post, sizes = _token_index(new)
    post = post.localCheckpoint(eager=True)
    sizes = sizes.localCheckpoint(eager=True)
    seen_post = batchdir.read(index_path, lay, INV, post, before_batch)
    seen_sizes = batchdir.read(index_path, lay, SIZES, sizes, before_batch)
    all_post = seen_post.unionByName(post)
    all_sizes = seen_sizes.unionByName(sizes)
    ov = (
        post.withColumnRenamed("doc_id", "_n")
        .join(all_post.withColumnRenamed("doc_id", "_s"), "tok")
        .filter(F.col("_n") != F.col("_s"))
        .groupBy("_n", "_s")
        .agg(F.count("*").alias("_ov"))
    )
    sz_n = sizes.select(F.col("doc_id").alias("_n"), F.col("sz").alias("_szn"))
    sz_s = all_sizes.select(F.col("doc_id").alias("_s"), F.col("sz").alias("_szs"))
    both = ov.join(sz_n, "_n").join(sz_s, "_s")
    fwd = both.filter(
        (den * F.col("_ov") >= num * F.col("_szn")) & (F.col("_szn") >= min_size)
    ).select(
        F.col("_n").alias("doc_id_a"),
        F.col("_s").alias("doc_id_b"),
        F.round(F.col("_ov") / F.col("_szn"), 6).alias("containment"),
    )
    # seen-inside-new: only against PREVIOUSLY seen docs — new-new pairs
    # already emit both directions from the fwd leg (each new doc probes).
    prev_ids = seen_sizes.select(F.col("doc_id").alias("_s"))
    bwd = (
        both.join(prev_ids, "_s", "left_semi")
        .filter(
            (den * F.col("_ov") >= num * F.col("_szs")) & (F.col("_szs") >= min_size)
        )
        .select(
            F.col("_s").alias("doc_id_a"),
            F.col("_n").alias("doc_id_b"),
            F.round(F.col("_ov") / F.col("_szs"), 6).alias("containment"),
        )
    )
    return fwd.unionByName(bwd), post, sizes


def containment_probe_sink(
    docs_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    num: int = 9,
    den: int = 10,
    min_size: int = 1,
):
    """Standing job: per micro-batch, probe + extend the inverted token
    index, landing directed pairs under ``pairs/batch=<id>``."""
    from kafka_streaming_polymarket_pipeline_spark.sources.sinks import (
        foreach_batch_sink,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        pairs, post, sizes = containment_probe_batch(
            batch, index_path, num, den, min_size, before_batch=batch_id
        )
        batchdir.write(pairs, pairs_path, batch_id)
        batchdir.write_tables(index_path, TABLES, batch_id, {INV: post, SIZES: sizes})

    return foreach_batch_sink(docs_stream, process, checkpoint)


def compact_index(spark, index_path: str) -> dict:
    """Offline compaction of the containment index
    (:func:`batchdir.compact`): run it only with the standing job stopped
    and its checkpoint committed."""
    return batchdir.compact(spark, index_path, TABLES)


def needs_compaction(index_path: str, max_files: int = 32) -> dict:
    """When to run :func:`compact_index` (:func:`batchdir.needs_compaction`):
    both tables are flat and every probe reads them whole (the token
    equi-join prunes in the shuffle, not at the file level), so the
    reading is each table's total file count, one more per batch."""
    return batchdir.needs_compaction(index_path, TABLES, max_files)
