"""Streaming incremental near-dup detection — the form a 100 TB training
pipeline actually runs continuously.

The batch operator (operators/dedup.minhash_lsh_incremental) proves the
O(|new|) math; this module makes it a standing job with a PERSISTENT
index: the corpus's band buckets and hashed shingle arrays live as
parquet tables that each micro-batch probes and then extends. Per batch
the work is:

  1. signature + band computation for the new docs only: the batch is
     hash-partitioned on doc_id, then one map-local Arrow fold over its
     shingle-hash Generate builds the payload (operators/dedup
     ``_shingle_payload``; no shuffle or aggregation after the
     Generate);
  2. bucket probes: new-batch bands equi-join the stored bucket table
     (plus new-new pairs) -> band-count cut -> signature-agreement
     estimate cut -> exact hashed-shingle verify — the same
     exactness-preserving funnel as d3. The estimate stage is LOAD-
     BEARING on templated corpora (measured: dropping it pushed one
     1000-doc batch's probe from 7 s to 107 s — the J in [0.15, 0.5)
     candidate mass hits the array-intersect verify unpruned), so the
     signatures table stays in the index, kbucketed like the arrays.
  3. index extension: the new docs' rows land under
     ``batch=<epoch_id>`` partition directories written with per-batch
     overwrite, so a foreachBatch retry after a crash REWRITES the same
     directory instead of appending duplicates (idempotent — this is
     what makes the exactly-once claim hold on the index path).

At 100 TB the index tables are bucketed by band_hash / doc_id so the
probe joins co-locate. As of round 5 the per-doc payload tables (sigs
and hashed shingle arrays) genuinely ARE doc-id-hash bucketed on disk —
the same ``__kbucket=<n>/`` directory layout as
``upsert_parquet_bucketed`` (sources/sinks.py), nested under the
retry-idempotent ``batch=<id>`` level — so the estimate and verify
stages PARTITION-PRUNE their reads to only the buckets containing
candidate docs (O(candidate buckets), not O(corpus)) while each batch
still only ever writes its own files (the index is append-only by
construction: new doc_ids are new keys, so the MERGE-rewrite half of
the bucketed-upsert protocol is unnecessary).
The band-bucket table keeps the flat per-batch layout: its probe is an
equi-join on band_hash, which a 1000-doc batch (64k bands) touches
uniformly — a full scan of three-long rows is the honest per-batch
floor there (measured in SCALE.md's amortization table).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D
from kafka_streaming_polymarket_pipeline_spark.streaming import fsio

SIGS, BUCKETS, HASHED = "sigs", "buckets", "hashed"

# Doc-id hash buckets for the hashed-array payload table.  Same bucket
# function family as upsert_parquet_bucketed (xxhash64 pmod n); fixed at
# index creation because it is the directory layout.  16 keeps per-batch
# file counts sane at 1000-doc batches (~60 docs/bucket/file) while a
# pruned probe still skips ~15/16 of a large corpus; at 100 TB scale the
# index is created with more (the 256-bucket design-regime probe in
# scripts/scale_probe.py --pruning measured 27.6x fewer payload rows).
# The module constant only seeds NEW indexes: the count is pinned in the
# index's _meta.json at creation and every later write/probe resolves it
# from there (_ensure_meta/_bucket_count), so a process with a different
# constant can never prune against the wrong modulus.
N_DOC_BUCKETS = 16
_KB = "__kbucket"
_META = "_meta.json"


def _dbucket(id_col: str = "doc_id", n: int | None = None) -> F.Column:
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n or N_DOC_BUCKETS)).cast("int")


def _has_batch_dirs(index_path: str) -> bool:
    """True if any index table already holds ``batch=`` directories —
    i.e. the index predates this process, so its layout modulus is
    whatever the CREATING process used, not this module's constant."""
    for name in (SIGS, HASHED, BUCKETS):
        p = os.path.join(index_path, name)
        if any(d.startswith("batch=") for d in fsio.listdir(p)):
            return True
    return False


def _ensure_meta(index_path: str) -> int | None:
    """Pin the doc-bucket count in the index's ``_meta.json`` at creation
    and return the PINNED value ever after.  The bucket function is the
    directory layout: if creation used M buckets and a later process
    (restart, knob change) computed probe/write buckets with a different
    constant, pruned probes would filter on bucket ids from the wrong
    modulus and SILENTLY drop candidate payload rows — so both the write
    and the probe path resolve the count from the meta file, never from
    the module constant, once an index exists.

    An index with batch dirs but NO meta file predates the pinning
    scheme; its creation modulus is unknowable from the dirs alone (a
    ``__kbucket=`` listing only lower-bounds it — empty buckets leave no
    directory), so pinning the CURRENT constant would recreate the exact
    silent-drop failure the file exists to prevent.  Such an index is
    pinned as legacy (``n_doc_buckets: null``): probes read unpruned
    forever (correct, just slower) and a warning tells the operator to
    rebuild for pruned probes.  (Metadata I/O goes through
    ``streaming.fsio`` — Hadoop FileSystem resolved from the path — so
    the index can live on any Spark-reachable filesystem, local or
    object store.)"""
    import json

    path = os.path.join(index_path, _META)
    if fsio.exists(path):
        try:
            v = json.loads(fsio.read_text(path))["n_doc_buckets"]
        except (ValueError, KeyError):
            # A truncated/corrupt meta (crash mid-write predating the
            # atomic write_text) must not brick the index: the pinned
            # modulus is unknowable, which is exactly the legacy case —
            # repin as legacy-unpruned (correct, just slower) and warn.
            warnings.warn(
                f"unparseable {_META} at {index_path}: repinning as "
                "legacy-unpruned; rebuild the index for pruned probes.",
                stacklevel=2,
            )
            fsio.write_text(path, json.dumps({"n_doc_buckets": None}))
            return None
        return int(v) if v is not None else None
    fsio.mkdirs(index_path)
    pinned: int | None = N_DOC_BUCKETS
    if _has_batch_dirs(index_path):
        pinned = None
        warnings.warn(
            f"streaming-dedup index at {index_path} has batch dirs but no "
            f"{_META}: creation-time bucket modulus is unknown, pinning as "
            "legacy-unpruned. Probes will read the full payload tables; "
            "rebuild the index to enable partition-pruned probes.",
            stacklevel=2,
        )
    fsio.write_text(path, json.dumps({"n_doc_buckets": pinned}))
    return pinned


def _bucket_count(index_path: str) -> int | None:
    """The pinned bucket count for an existing index (``None`` = legacy
    index, probe unpruned); module default for a not-yet-created one
    (first batch will pin it)."""
    import json

    path = os.path.join(index_path, _META)
    if fsio.exists(path):
        try:
            v = json.loads(fsio.read_text(path))["n_doc_buckets"]
        except (ValueError, KeyError):
            return None  # corrupt meta: modulus unknowable, never prune
        return int(v) if v is not None else None
    if _has_batch_dirs(index_path):
        return None  # legacy: modulus unknowable, never prune
    return N_DOC_BUCKETS


def _table_is_flat(table_path: str) -> bool:
    """True if an existing table's batch dirs hold parquet files directly
    (pre-``__kbucket=`` legacy layout). Spark's partition discovery
    rejects leaf files at mixed depths under one basePath, so NEW batches
    must match the layout already on disk — writing a kbucketed batch
    into a flat table would make every subsequent read of the table
    raise, which is worse than the unpruned-but-working reads the legacy
    fallback promises."""
    if not fsio.is_dir(table_path):
        return False
    for d in fsio.listdir(table_path):
        if d.startswith("batch="):
            sub = os.path.join(table_path, d)
            return not any(x.startswith(_KB + "=") for x in fsio.listdir(sub))
    return False


def _index_parts(payload: DataFrame, threshold: float) -> tuple:
    """Split a (doc_id, hsh, m0..m127, sz) payload into the index's
    (sigs, buckets, hashed) frames."""
    rows, _, _ = D._lsh_params(threshold)
    return (
        payload.drop("hsh", "sz"),
        D._band_buckets(payload, rows),
        payload.select("doc_id", "hsh", "sz"),
    )


def write_index_batch(
    docs: DataFrame, index_path: str, batch_id: int, threshold: float = 0.5,
    n: int = 5, parts: tuple | None = None
) -> None:
    """Materialize one batch's index rows under batch=<id> dirs
    (overwrite -> retry-idempotent).  sigs and hashed additionally
    partition by ``__kbucket`` (doc-id hash, repartitioned to one file
    per touched bucket) inside the batch dir so later probes can prune;
    buckets stays flat (probed by band_hash, unprunable by doc bucket).
    ``parts`` lets the caller pass the (sigs, buckets, hashed) frames it
    already computed for probing, so the signature stage — the expensive
    map pass — runs once per batch, not twice."""
    sigs, buckets, hashed = parts or _index_parts(
        D._shingle_payload(docs, "doc_id", "text", n), threshold
    )
    # Layout constant pinned at creation; a legacy index (None) is never
    # pruned, so the modulus only shapes new batches' file counts there.
    m = _ensure_meta(index_path) or N_DOC_BUCKETS
    for name, part in ((SIGS, sigs), (HASHED, hashed)):
        table = os.path.join(index_path, name)
        if _table_is_flat(table):
            # pre-kbucket legacy table: new batches must stay flat or
            # mixed partition depths break every later read (see
            # _table_is_flat); the table is probed unpruned regardless.
            part.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(table, f"batch={batch_id}")
            )
            continue
        (
            part.withColumn(_KB, _dbucket(n=m))
            .repartition(m, F.col(_KB))  # one file per bucket dir
            .write.mode("overwrite")
            .partitionBy(_KB)
            .parquet(os.path.join(table, f"batch={batch_id}"))
        )
    # The payload keeps one partition per core (the fold's doc_id
    # repartition); a rebalance lets AQE size this flat table's files by
    # bytes, so a small batch lands as one file and every later probe,
    # which opens every bucket file, does not pay one open per core.
    buckets.hint("rebalance").write.mode("overwrite").parquet(
        os.path.join(index_path, BUCKETS, f"batch={batch_id}")
    )


def _read_index(
    spark: SparkSession,
    index_path: str,
    name: str,
    touched_buckets: list[int] | None = None,
) -> DataFrame | None:
    """Read every batch's rows of one index table.  For the kbucketed
    table pass ``touched_buckets`` (a bounded <= N_DOC_BUCKETS int
    list) to partition-prune the read to those ``__kbucket=`` dirs."""
    p = os.path.join(index_path, name)
    if not any(d.startswith("batch=") for d in fsio.listdir(p)):
        return None
    df = spark.read.option("basePath", p).parquet(os.path.join(p, "batch=*"))
    if touched_buckets is not None:
        if _KB in df.columns:
            df = df.filter(F.col(_KB).isin(touched_buckets))
        else:
            # Pre-kbucket index layout (written before the partition-pruned
            # format): no __kbucket dirs to prune, fall back to the full
            # read rather than raising AnalysisException mid-stream.  A
            # rebuild of the index migrates it to the pruned layout.
            warnings.warn(
                f"streaming-dedup index table '{name}' at {p} predates the "
                "kbucketed layout; probing unpruned. Rebuild the index to "
                "enable partition-pruned probes.",
                stacklevel=2,
            )
    return df.drop("batch", _KB)


def checkpointed_parts(new: DataFrame, threshold: float = 0.5, n: int = 5) -> tuple:
    """The batch's (sigs, buckets, hashed) frames, eagerly materialized —
    computed once, shared by the probe and the index write. ONE payload
    (dedup._shingle_payload) is checkpointed and the three frames are
    projections of it, so the shingle pass — the expensive per-batch map
    stage — runs exactly once per batch; buckets is a cheap row-local
    hash over the checkpointed rows.

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
    parts: tuple | None = None
) -> DataFrame:
    """Near-dup pairs touching ``new``, probing the persistent index —
    never re-reading corpus text. Returns (doc_id_a, doc_id_b, jaccard)
    with the same exactness contract as the batch funnel."""
    spark = new.sparkSession
    rows, min_bands, est_cutoff = D._lsh_params(threshold)
    new_sigs, new_buckets, new_hashed = parts or checkpointed_parts(new, threshold, n)

    corpus_buckets = _read_index(spark, index_path, BUCKETS)

    nb = new_buckets.select(F.col("doc_id").alias("nid"), "band_id", "band_hash")
    nn = (
        nb.join(
            new_buckets.select(F.col("doc_id").alias("doc_id_b"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("nid") < F.col("doc_id_b"))
        .select(F.col("nid").alias("doc_id_a"), "doc_id_b")
    )
    if corpus_buckets is not None:
        cb = corpus_buckets.select(F.col("doc_id").alias("cid"), "band_id", "band_hash")
        nc = (
            nb.join(cb, ["band_id", "band_hash"])
            # A foreachBatch retry after write_index_batch committed but
            # before the stream checkpoint re-probes the batch against an
            # index that ALREADY contains it; without this filter each doc
            # meets itself (jaccard 1) and self-pairs land in the output,
            # breaking retry idempotency.
            .filter(F.col("nid") != F.col("cid"))
            .select(
                F.least("nid", "cid").alias("doc_id_a"),
                F.greatest("nid", "cid").alias("doc_id_b"),
            )
        )
        cand_src = nc.union(nn)
    else:
        cand_src = nn

    cand = (
        cand_src.groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") >= min_bands)
        .drop("k")
    )
    if corpus_buckets is None:
        return D._verify_jaccard(
            D._est_filter(cand, new_sigs, est_cutoff), new_hashed, threshold
        )

    # The est/verify stages only need sig/hashed rows for CANDIDATE docs.
    # Materialize the (small) candidate set once, derive its touched
    # doc-id buckets — a bounded <= N_DOC_BUCKETS driver-side int list —
    # and partition-prune the corpus payload read to those dirs.  The
    # batch's own rows come from the in-memory checkpointed parts.
    cand = cand.localCheckpoint(eager=True)
    m = _bucket_count(index_path)  # the PINNED layout modulus, never the constant
    if m is None:
        # Legacy index (predates _meta.json): creation modulus unknown,
        # pruning on ANY modulus could silently drop candidate rows —
        # read the payload tables unpruned instead.
        touched = None
    else:
        touched = sorted(
            r["kb"]
            for r in cand.select(
                F.explode(
                    F.array(_dbucket("doc_id_a", n=m), _dbucket("doc_id_b", n=m))
                ).alias("kb")
            )
            .distinct()
            .collect()
        )
    corpus_sigs = _read_index(spark, index_path, SIGS, touched_buckets=touched)
    corpus_hashed = _read_index(spark, index_path, HASHED, touched_buckets=touched)
    sigs = corpus_sigs.union(new_sigs)
    hashed = corpus_hashed.union(new_hashed)
    return D._verify_jaccard(D._est_filter(cand, sigs, est_cutoff), hashed, threshold)


def _holds_batch(index_path: str, batch_id: int) -> bool:
    """True if an index table already has a ``batch=<batch_id>`` dir: the
    batch is a replay of one whose index write began before a crash."""
    return any(
        fsio.exists(os.path.join(index_path, name, f"batch={batch_id}"))
        for name in (SIGS, HASHED, BUCKETS)
    )


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
    pairs = incremental_pairs_against_index(batch, index_path, threshold, n, parts=parts)

    def write_pairs() -> None:
        pairs.write.mode("overwrite").parquet(os.path.join(pairs_path, f"batch={batch_id}"))

    def write_index() -> None:
        # reuse the probed frames: the signature map pass runs once/batch
        write_index_batch(batch, index_path, batch_id, threshold, n, parts=parts)

    if _holds_batch(index_path, batch_id):
        # A replay: the probe's file listing (taken when ``pairs`` was
        # built) includes this batch's own index files, which
        # write_index's per-dir overwrite deletes. Running the two
        # together lets the pairs job hit deleted files and fail the
        # batch again on every retry, so read first, then rewrite.
        write_pairs()
        write_index()
        return
    # First attempt: the probe read no file of this batch, and both
    # writes land under their own batch=<id> dirs, so they are
    # independent consumers of the checkpointed parts — run them
    # concurrently so the index writes back-fill executors left idle by
    # the pairs job's tail (guide §2.6). Each future re-raises into
    # foreachBatch on failure, keeping the stream's retry semantics.
    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(write_pairs), pool.submit(write_index)]:
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
    """Offline index compaction: merge every table's ``batch=*`` dirs
    into ONE batch dir, preserving the ``__kbucket=`` layout and the
    pinned modulus (bucket values are REUSED from the partition dirs,
    never recomputed — a legacy/changed-constant index cannot be
    corrupted by compaction).

    Why: the append-only layout writes one file per touched bucket per
    batch, so a bucket accumulates one file per batch forever; at ~hourly
    batches a year-old index pays parquet open/footer overhead on
    thousands of tiny files per probed bucket (SCALE.md round 7 soak —
    per-batch cost is flat at 50 batches, the file-count arithmetic is
    what eventually demands this). Compaction is an OFFLINE maintenance
    op: run it only with the standing job STOPPED and its checkpoint
    committed, because it rewrites the batch-dir history that
    foreachBatch retries address — a retry of a compacted batch id
    would re-add that batch's rows.

    Crash-safe staged protocol per table (same discipline as
    sources/sinks.upsert_parquet): (1) write the merged rows to a
    ``.compact_tmp`` staging dir (Spark's ``_SUCCESS`` marks it
    complete); (2) delete the original batch dirs; (3) rename staging to
    ``batch=0``.  The merged dir lands as batch **0** — NEVER the
    highest existing id (r07 ADVICE): the highest id is exactly the
    batch a foreachBatch retry replays if the stopped-checkpoint
    precondition is violated, and ``write_index_batch`` overwrites per
    batch dir, so that retry would silently replace the ENTIRE merged
    index with one batch's rows.  batch=0 is an id the resumed stream
    retired long ago (a retry of id 0 only happens against a brand-new
    checkpoint, which is index-corrupting operator error regardless of
    layout), and both the normal and the recovery path now land there,
    so the two paths cannot diverge.  On entry, leftover staging state
    is recovered: staging WITH ``_SUCCESS`` is a COMPLETE merged copy of
    the originals (the stopped-job precondition means no batch arrived
    after staging), so any surviving originals are the remains of an
    interrupted step 2 — deletion resumes and the rename finishes;
    staging WITHOUT ``_SUCCESS`` crashed in step 1 and is discarded, the
    originals being intact.  Pre-kbucket legacy tables (flat batch dirs,
    no ``__kbucket=`` level) compact through the flat path — sized
    output, no partition columns invented.

    Returns per-table ``{"files_before": int | None, "files_after":
    int, "recovered": bool}`` (files_before is None when the run
    resumed an interrupted compaction — the originals were partially
    gone, so there is no honest before-count).
    """
    m = _bucket_count(index_path) or N_DOC_BUCKETS
    stats: dict = {}

    for name in (SIGS, HASHED, BUCKETS):
        table = os.path.join(index_path, name)
        if not fsio.is_dir(table):
            continue

        def _writer(df, tmp: str, _table: str = table, _name: str = name) -> None:
            if _name in (SIGS, HASHED) and _KB in df.columns:
                (
                    df.repartition(m, F.col(_KB))
                    .write.mode("overwrite")
                    .partitionBy(_KB)
                    .parquet(tmp)
                )
            else:
                _write_flat_sized(df, _table, tmp)

        out = _compact_table(spark, table, _writer)
        if out is not None:
            stats[name] = out
    return stats


def _parquet_files(p: str) -> int:
    return sum(1 for f, _ in fsio.list_files_recursive(p) if f.endswith(".parquet"))


def _write_flat_sized(df, table: str, tmp: str) -> None:
    # size the flat output by bytes (~128 MB/file): always reduces
    # file count at small scale, never produces monster files at large
    table_bytes = sum(
        sz for f, sz in fsio.list_files_recursive(table) if f.endswith(".parquet")
    )
    n_out = max(1, -(-table_bytes // (128 << 20)))  # ceil div
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)


def _compact_table(spark: SparkSession, table: str, write_tmp) -> dict | None:
    """One table's staged compact (the :func:`compact_index` protocol,
    factored so the containment stream's flat inv/sizes index reuses it
    verbatim): recover any interrupted run, merge ``batch=*`` into
    ``batch=0`` via ``write_tmp(df, tmp_dir)``, delete originals,
    rename. Returns the stats dict, or None when there is nothing to
    do (0 or 1 batch dirs and no staging)."""
    import re

    tmp = os.path.join(table, ".compact_tmp")
    batches = sorted(
        (d for d in fsio.listdir(table) if re.fullmatch(r"batch=\d+", d)),
        key=lambda d: int(d.split("=")[1]),
    )
    if fsio.is_dir(tmp):
        if fsio.exists(os.path.join(tmp, "_SUCCESS")):
            # Staging is complete: finish the interrupted run. Any
            # surviving batch dirs are step-2 leftovers already merged
            # into staging — deleting them loses nothing; treating the
            # staging as "incomplete" here WOULD lose the already-
            # deleted originals' rows.
            for d in batches:
                fsio.delete(os.path.join(table, d))
            fsio.rename(tmp, os.path.join(table, "batch=0"))
            return {
                "files_before": None,
                "files_after": _parquet_files(table),
                "recovered": True,
            }
        fsio.delete(tmp)  # crashed in step 1: originals intact, redo
    if len(batches) <= 1:
        return None
    files_before = _parquet_files(table)
    # batch=0, not the highest id: the highest id is the one a
    # foreachBatch retry replays (see compact_index docstring — a
    # retried overwrite of the merged dir would drop the whole index)
    df = spark.read.option("basePath", table).parquet(
        os.path.join(table, "batch=*")
    ).drop("batch")
    write_tmp(df, tmp)
    for d in batches:
        fsio.delete(os.path.join(table, d))
    fsio.rename(tmp, os.path.join(table, "batch=0"))
    return {
        "files_before": files_before,
        "files_after": _parquet_files(table),
        "recovered": False,
    }


def needs_compaction(index_path: str, max_files_per_bucket: int = 32) -> dict:
    """Decision arithmetic for WHEN to run :func:`compact_index` — the
    r07 soak measured per-batch probe cost flat over 50 batches but the
    file-count arithmetic is unforgiving: the kbucketed payload tables
    gain one file per touched bucket per batch FOREVER, and every pruned
    probe pays one parquet open/footer read per file in each candidate
    bucket.  The metric is therefore the worst per-probe-unit file
    count:

    - sigs/hashed (kbucketed): max over ``__kbucket`` values of the
      file count summed across batch dirs — what one candidate bucket's
      pruned read opens;
    - buckets (flat, probed by a full scan): total parquet file count —
      what every probe opens.

    Returns ``{"needed": bool, "worst": int, "tables": {name: count}}``.
    The default threshold 32 ≈ half a day of hourly batches: the soak's
    measured 2.1x probe speedup at 20 batches says compacting around
    this cadence keeps open/footer overhead a rounding error while the
    (stop-the-job) maintenance window stays rare.  The standing job's
    operator checks this between stopped-job windows::

        if needs_compaction(idx)["needed"]:
            compact_index(spark, idx)   # job STOPPED, checkpoint committed

    One recursive file listing per table via ``streaming.fsio`` (Hadoop
    FileSystem, so the arithmetic works on object-store indexes too) —
    same I/O class as the rest of this module's directory probing."""
    from collections import Counter

    tables: dict[str, int] = {}
    for name in (SIGS, HASHED, BUCKETS):
        table = os.path.join(index_path, name)
        if not fsio.is_dir(table):
            continue
        per_bucket: Counter = Counter()
        total = 0
        for fpath, _sz in fsio.list_files_recursive(table):
            if not fpath.endswith(".parquet"):
                continue
            total += 1
            kb = next(
                (p for p in fpath.split("/") if p.startswith(_KB + "=")), None
            )
            if kb is not None:
                per_bucket[kb] += 1
        tables[name] = max(per_bucket.values()) if per_bucket else total
    worst = max(tables.values(), default=0)
    return {
        "needed": worst > max_files_per_bucket,
        "worst": worst,
        "tables": tables,
    }
