"""The batch-dir layout of the standing sinks' persistent indexes and
outputs: the one module that knows how ``batch=<id>`` tables are written,
read, pinned and compacted (dedup_stream, containment_stream,
boilerplate_stream and ingest_stream declare their tables and keep only
their probe logic).

Layout. A table is a directory of ``batch=<id>`` partitions, and a
micro-batch writes only its own ``batch=<id>`` dir, with overwrite, so a
foreachBatch retry after a crash REWRITES that dir instead of appending
duplicates: the idempotent-sink half of Structured Streaming's
exactly-once contract (a replayable source plus an idempotent sink). A
sink declares its index tables as data, ``{name: key}``:

- key ``None``: the batch dir holds the parquet files directly (flat);
- key a column: the batch dir is partitioned further by
  ``__kbucket = pmod(xxhash64(key), n)``, one file per bucket, so a probe
  that needs only some keys partition-prunes its read to their buckets
  (O(candidate buckets), not O(corpus)).

The bucket count ``n`` is the directory layout: a probe that computed
bucket ids with another modulus would silently miss rows. It is pinned in
the index's ``_meta.json`` when the first batch of a kbucketed index is
written, before any batch dir exists, and every later write and probe
resolves it from there; :data:`N_BUCKETS` only seeds new indexes. The
file is written once (an atomic replace) and compaction never touches it.

Replay guard. A probe reads with ``before_batch=<batch_id>``, and the
reader hands Spark only the ``batch=<id>`` dirs with ``id <
before_batch``. A replayed batch therefore never counts the rows its
first attempt landed, and never lists or opens the files that its own
overwrite deletes, so the batch's output and index writes may run
concurrently with the probe's consumers.

Layout errors. A kbucketed index with batch dirs but no ``_meta.json``,
with an unparseable ``_meta.json``, or whose kbucketed table holds
parquet files directly in a batch dir has no known modulus, and one with
batch dirs but no directory for a declared kbucketed table was written
with another table set. This module never writes such a state;
:func:`layout` raises
:class:`IndexLayoutError` ("rebuild the index") before anything is read
or written. So does a ``_meta.json`` whose bytes fail their Hadoop
checksum.

All metadata I/O goes through ``streaming.fsio`` (Hadoop FileSystem
resolved from the path), so an index can live on any Spark-reachable
filesystem.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.streaming import fsio

KB = "__kbucket"
META = "_meta.json"
# Seeds the bucket count of NEW kbucketed indexes. 16 keeps per-batch file
# counts sane at 1000-doc batches (~60 docs/bucket/file) while a pruned
# probe still skips ~15/16 of a large corpus; at 100 TB scale the index is
# created with more (the 256-bucket design-regime probe in
# scripts/scale_probe.py --pruning measured 27.6x fewer payload rows).
N_BUCKETS = 16
_BATCH = re.compile(r"batch=(\d+)")


class IndexLayoutError(RuntimeError):
    """The index on disk is not in the layout this module writes."""


class Layout(NamedTuple):
    n: int | None  # pinned bucket count; None when no table is kbucketed
    batches: dict[str, list[int]]  # each table's batch ids, ascending


def bucket(col: str, n: int) -> F.Column:
    """The bucket function: the ``__kbucket`` value of key column ``col``."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")


def _batch_ids(table: str) -> list[int]:
    return sorted(
        int(m.group(1)) for m in map(_BATCH.fullmatch, fsio.listdir(table)) if m
    )


def _rebuild(index_path: str, why: str) -> IndexLayoutError:
    return IndexLayoutError(f"index at {index_path}: {why}; rebuild the index")


def layout(
    index_path: str, tables: dict[str, str | None], create: bool = False
) -> Layout:
    """Validate the index's layout and return its pinned bucket count and
    each table's batch ids. ``create`` pins :data:`N_BUCKETS` in a new
    kbucketed index's ``_meta.json`` (the write path); a probe of a new
    index gets the count that its first write will pin."""
    batches = {name: _batch_ids(os.path.join(index_path, name)) for name in tables}
    if not any(tables.values()):
        return Layout(None, batches)
    meta = os.path.join(index_path, META)
    if fsio.exists(meta):
        try:
            n = int(json.loads(fsio.read_text(meta))["n_doc_buckets"])
        except fsio.ChecksumError:
            raise _rebuild(index_path, f"{META} fails its checksum") from None
        except (ValueError, KeyError, TypeError):
            raise _rebuild(index_path, f"{META} holds no bucket count") from None
    elif any(batches.values()):
        raise _rebuild(index_path, f"batch dirs but no {META}")
    else:
        n = N_BUCKETS
        if create:
            fsio.mkdirs(index_path)
            fsio.write_text(meta, json.dumps({"n_doc_buckets": n}))
    for name, key in tables.items():
        table = os.path.join(index_path, name)
        if key and batches[name]:
            first = os.path.join(table, f"batch={batches[name][0]}")
            if any(f.endswith(".parquet") for f in fsio.listdir(first)):
                raise _rebuild(index_path, f"table {name!r} has no {KB}= level")
        # kbucketed tables are written first and compaction keeps their
        # directory, so only an index of another table set gets here
        elif key and any(batches.values()) and not fsio.is_dir(table):
            raise _rebuild(index_path, f"batch dirs but no table {name!r}")
    return Layout(n, batches)


def _scan(spark: SparkSession, table: str, ids: list[int]) -> DataFrame | None:
    """The rows of ``table``'s ``batch=<id>`` dirs in ``ids``, named one by
    one (a ``batch=*`` glob costs Spark a failed lookup of the literal
    path first); None when those dirs hold no data file, as a 0-row
    write of a kbucketed table leaves a batch dir with only
    ``_SUCCESS``. A ``session.get_spark`` session lists the dirs on the
    driver (``session._LOCAL_LISTING_THRESHOLD``)."""
    from pyspark.errors import AnalysisException

    dirs = [os.path.join(table, f"batch={i}") for i in ids]
    try:
        return spark.read.option("basePath", table).parquet(*dirs)
    except AnalysisException as e:
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


def read(
    spark: SparkSession,
    index_path: str,
    lay: Layout,
    name: str,
    before_batch: int | None = None,
    *,
    buckets: list[int] | None = None,
) -> DataFrame | None:
    """One table's rows of every batch below ``before_batch`` (of every
    batch when None), partition-pruned to the ``__kbucket`` values in
    ``buckets`` when given; None when the table has no such batch or
    those batches hold no row."""
    ids = [i for i in lay.batches[name] if before_batch is None or i < before_batch]
    df = _scan(spark, os.path.join(index_path, name), ids) if ids else None
    if df is None:
        return None
    if buckets is not None:
        df = df.filter(F.col(KB).isin(buckets))
    return df.drop("batch", KB)


def _save(df: DataFrame, path: str, n: int | None) -> None:
    if KB in df.columns:
        (
            df.repartition(n, F.col(KB))  # one file per bucket dir
            .write.mode("overwrite")
            .partitionBy(KB)
            .parquet(path)
        )
    else:
        df.write.mode("overwrite").parquet(path)


def write(
    df: DataFrame, table: str, batch_id: int, key: str | None = None,
    n: int | None = None,
) -> None:
    """The one batch-dir write: overwrite ``table/batch=<batch_id>`` with
    ``df``, flat, or kbucketed by ``key`` into ``n`` buckets."""
    if key is not None:
        df = df.withColumn(KB, bucket(key, n))
    _save(df, os.path.join(table, f"batch={batch_id}"), n)


def write_tables(
    index_path: str, tables: dict[str, str | None], batch_id: int,
    parts: dict[str, DataFrame],
) -> None:
    """Land one batch's rows of the index tables in ``parts``, in order,
    after validating the layout (pinning the bucket count on the index's
    first batch)."""
    n = layout(index_path, tables, create=True).n
    for name, df in parts.items():
        write(df, os.path.join(index_path, name), batch_id, tables[name], n)


def _parquet_files(table: str) -> list[tuple[str, int]]:
    return [(f, sz) for f, sz in fsio.list_files_recursive(table) if f.endswith(".parquet")]


def compact(spark: SparkSession, index_path: str, tables: dict[str, str | None]) -> dict:
    """Offline compaction: merge each table's ``batch=*`` dirs into ONE
    batch dir, keeping the ``__kbucket=`` layout and the pinned count
    (bucket values are reused from the partition dirs, never recomputed).

    Why: a kbucketed table gains one file per touched bucket per batch
    and a flat table one file per batch, forever; every probe pays one
    parquet open/footer read per file it scans (SCALE.md round 7 soak).
    Run it only with the standing job STOPPED and its checkpoint
    committed: it rewrites the batch-dir history that foreachBatch
    retries address.

    Crash-safe staged protocol per table (the discipline of
    ``sources/sinks.upsert_parquet``): (1) write the merged rows to a
    ``.compact_tmp`` staging dir (Spark's ``_SUCCESS`` marks it
    complete); (2) delete the original batch dirs; (3) rename staging to
    ``batch=0``. The merged dir lands as batch **0**, never the highest
    existing id: the highest id is the batch a foreachBatch retry
    replays if the stopped-job precondition is violated, and its
    overwrite would replace the whole merged table with one batch's
    rows. On entry, leftover staging is recovered: staging WITH
    ``_SUCCESS`` is a complete merged copy of the originals, so any
    surviving originals are the remains of an interrupted step 2 —
    deletion resumes and the rename finishes; staging WITHOUT
    ``_SUCCESS`` crashed in step 1 and is discarded, the originals being
    intact.

    Returns per-table ``{"files_before": int | None, "files_after": int,
    "recovered": bool}`` for the tables it touched (files_before is None
    when the run finished an interrupted compaction: the originals were
    partly gone, so there is no honest before-count)."""
    lay = layout(index_path, tables)
    stats: dict = {}
    for name, key in tables.items():
        table = os.path.join(index_path, name)
        tmp = os.path.join(table, ".compact_tmp")
        batches = [os.path.join(table, f"batch={i}") for i in lay.batches[name]]
        files_before = None
        staged = fsio.is_dir(tmp)
        if staged and not fsio.exists(os.path.join(tmp, "_SUCCESS")):
            fsio.delete(tmp)  # crashed in step 1: originals intact, redo
            staged = False
        if not staged:
            if len(batches) <= 1:
                continue
            df = _scan(spark, table, lay.batches[name])
            if df is None:
                continue  # no rows to merge
            df = df.drop("batch")
            files = _parquet_files(table)
            files_before = len(files)
            if key is None:
                # ~128 MB files: fewer files at small scale, no monster
                # files at large
                df = df.repartition(max(1, -(-sum(sz for _, sz in files) // (128 << 20))))
            _save(df, tmp, lay.n)
        for d in batches:
            fsio.delete(d)
        fsio.rename(tmp, os.path.join(table, "batch=0"))
        stats[name] = {
            "files_before": files_before,
            "files_after": len(_parquet_files(table)),
            "recovered": files_before is None,
        }
    return stats


def needs_compaction(
    index_path: str, tables: dict[str, str | None], max_files: int = 32
) -> dict:
    """When to run :func:`compact`: the worst per-probe-unit file count.

    - kbucketed tables: the most files any one ``__kbucket`` value holds
      across batch dirs, what one candidate bucket's pruned read opens;
    - flat tables (read whole by every probe): the total file count.

    Returns ``{"needed": bool, "worst": int, "tables": {name: count}}``
    for the tables that exist. The default threshold 32 is about half a
    day of hourly batches: the soak's measured 2.1x probe speedup at 20
    batches says compacting around this cadence keeps open/footer
    overhead a rounding error while the stop-the-job window stays rare.
    The operator checks it between stopped-job windows::

        if needs_compaction(idx, tables)["needed"]:
            compact(spark, idx, tables)   # job STOPPED, checkpoint committed

    One recursive listing per table; on a plain local path it needs no
    SparkSession (``fsio``'s session-less mode), so a cron probe can run
    it without a JVM."""
    counts: dict[str, int] = {}
    for name, key in tables.items():
        table = os.path.join(index_path, name)
        if not fsio.is_dir(table):
            continue
        files = [f.split("/") for f, _ in _parquet_files(table)]
        if key is None:
            counts[name] = len(files)
        else:
            per_bucket = Counter(p for f in files for p in f if p.startswith(KB + "="))
            counts[name] = max(per_bucket.values(), default=0)
    worst = max(counts.values(), default=0)
    return {"needed": worst > max_files, "worst": worst, "tables": counts}
