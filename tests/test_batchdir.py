"""The batch-dir index layer (streaming/batchdir.py) shared by the
standing dedup, containment, boilerplate and ingest sinks.

- An index in a layout the code never writes fails loudly, on the write
  and the probe path alike, before any file lands.
- Crash-at-every-write replay: every sink write goes through
  ``batchdir.write``, so a crash right after any one of them (an output
  or an index table of batch 1) is injected by patching that function;
  the restart from the checkpoint must leave outputs and index tables
  equal to an uninterrupted run.

Run the whole index layer with ``python -m pytest tests/test_batchdir.py -m ""``.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D
from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir
from kafka_streaming_polymarket_pipeline_spark.streaming import boilerplate_stream as BS
from kafka_streaming_polymarket_pipeline_spark.streaming import containment_stream as CS
from kafka_streaming_polymarket_pipeline_spark.streaming import dedup_stream as DS
from kafka_streaming_polymarket_pipeline_spark.streaming import ingest_stream as IS
from tests import fixtures as fx

SCHEMA = "doc_id long, text string"
BASE = (
    "the quick brown fox jumps over the lazy dog while the merge join "
    "streams sorted batches of rows into the hash table for the big scan"
)
BATCH_A = [
    (0, BASE),
    (1, BASE),
    (2, "completely different content about window functions and watermarks"),
]
BATCH_B = [
    (3, BASE.replace("quick", "rapid")),
    (4, "to be or not to be"),
    (5, BASE.replace("dog", "cat").replace("rows", "tuples")),
]


def _files(root) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize(
    "state",
    [
        "no_meta", "truncated_meta", "truncated_meta_with_crc", "flat_kbucketed_table",
        "three_table_layout",
    ],
)
def test_unknown_layout_fails_loudly_before_any_write(spark, tmp_path, state):
    """Batch dirs without _meta.json, an unparseable _meta.json (with or
    without its Hadoop checksum sidecar, which then rejects the bytes),
    and a kbucketed table whose batch dir holds parquet files directly
    all leave the bucket count unknown; an index of the older
    sigs/hashed/buckets layout has no payload table, so its probe would
    drop every candidate against it. Writing and probing both raise the
    "rebuild the index" error, and no file lands."""
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(BATCH_A, SCHEMA)
    if state == "three_table_layout":
        payload, buckets = DS._index_parts(D._shingle_payload(docs, "doc_id", "text", 5), 0.5)
        batchdir.write_tables(
            idx, {"sigs": "doc_id", "hashed": "doc_id", DS.BUCKETS: None}, 0,
            {
                "sigs": payload.drop("hsh", "sz"),
                "hashed": payload.select("doc_id", "hsh", "sz"),
                DS.BUCKETS: buckets,
            },
        )
    else:
        DS.write_index_batch(docs, idx, 0)
    meta = os.path.join(idx, batchdir.META)
    if state == "no_meta":
        os.remove(meta)
    elif state.startswith("truncated_meta"):
        with open(meta, "w") as f:
            f.write('{"n_doc_buc')
        if state == "truncated_meta":
            # without the sidecar the content itself fails to parse
            os.remove(os.path.join(idx, f".{batchdir.META}.crc"))
    elif state == "flat_kbucketed_table":  # move payload's batch-0 files up
        b0 = os.path.join(idx, DS.PAYLOAD, "batch=0")
        for kb in [d for d in os.listdir(b0) if d.startswith(batchdir.KB)]:
            for f in os.listdir(os.path.join(b0, kb)):
                os.rename(os.path.join(b0, kb, f), os.path.join(b0, f))
            os.rmdir(os.path.join(b0, kb))
    before = _files(tmp_path)
    new = spark.createDataFrame(BATCH_B, SCHEMA)
    with pytest.raises(batchdir.IndexLayoutError, match="rebuild the index"):
        DS.write_index_batch(new, idx, 1)
    with pytest.raises(batchdir.IndexLayoutError, match="rebuild the index"):
        DS.incremental_pairs_against_index(new, idx)
    assert _files(tmp_path) == before


def test_read_starts_no_job(spark, tmp_path):
    """A probe read takes its schema from the batch part it is unioned
    with, so it starts no Spark job before an action, and it returns the
    part's columns: for a flat table and for a kbucketed table read with
    ``buckets=``, over an index with a batch, an index whose only batch
    holds no row, and an index with no batch."""
    docs = spark.createDataFrame(BATCH_A, SCHEMA)
    payload, buckets = DS.checkpointed_parts(docs)
    full, empty, new = (str(tmp_path / d) for d in ("full", "empty", "new"))
    DS.write_index_batch(docs, full, 0, parts=(payload, buckets))
    DS.write_index_batch(spark.createDataFrame([], SCHEMA), empty, 0)
    for idx in (full, empty, new):
        lay = batchdir.layout(idx, DS.TABLES)
        for name, part, kb in (
            (DS.BUCKETS, buckets, None),
            (DS.PAYLOAD, payload, list(range(lay.n))),
        ):
            group = f"read-{os.path.basename(idx)}-{name}"
            with fx.job_group(spark, group):
                df = batchdir.read(idx, lay, name, part, before_batch=1, buckets=kb)
            assert fx.group_jobs(spark, group) == 0, group
            assert df.columns == part.columns, group
            assert df.count() == (part.count() if idx == full else 0), group


def test_empty_first_batch_reads_as_no_batch(spark, tmp_path):
    """A 0-row first batch leaves the kbucketed payload's batch=0 dir with
    no data file; a later probe reads it as 0 rows with the batch part's
    columns and finds the pairs among its own documents."""
    idx = str(tmp_path / "idx")
    DS.write_index_batch(spark.createDataFrame([], SCHEMA), idx, 0)
    lay = batchdir.layout(idx, DS.TABLES)
    assert lay.batches[DS.PAYLOAD] == [0]
    batch = spark.createDataFrame(BATCH_A[:2], SCHEMA)
    parts = DS.checkpointed_parts(batch)
    seen = batchdir.read(idx, lay, DS.PAYLOAD, parts[0], 1, buckets=list(range(lay.n)))
    assert seen.columns == parts[0].columns and seen.count() == 0
    pairs = DS.incremental_pairs_against_index(batch, idx, parts=parts, before_batch=1).collect()
    assert [(r["doc_id_a"], r["doc_id_b"], r["jaccard"]) for r in pairs] == [(0, 1, 1.0)]


def _containment_probe(new, idx, before_batch):
    pairs, post, sizes = CS.containment_probe_batch(new, idx, before_batch=before_batch)
    return pairs, {CS.INV: post, CS.SIZES: sizes}


def _boilerplate_probe(new, idx, before_batch):
    scrubbed, wfreq = BS.boilerplate_scrub_batch(new, idx, size=4, before_batch=before_batch)
    return scrubbed, {BS.WFREQ: wfreq}


@pytest.mark.parametrize(
    "probe,tables",
    [(_containment_probe, CS.TABLES), (_boilerplate_probe, BS.TABLES)],
    ids=["containment", "boilerplate"],
)
def test_probe_after_empty_first_batch_equals_fresh_index(spark, tmp_path, probe, tables):
    """A 0-row batch 0 lands 0-row index tables; batch 1's probe reads them
    as 0 rows and emits what a probe of a fresh index emits."""
    idx = str(tmp_path / "idx")
    out, parts = probe(spark.createDataFrame([], SCHEMA), idx, 0)
    assert out.count() == 0
    batchdir.write_tables(idx, tables, 0, parts)
    batch = spark.createDataFrame(BATCH_A, SCHEMA)
    got = sorted(probe(batch, idx, 1)[0].collect())
    want = sorted(probe(batch, str(tmp_path / "fresh"), 1)[0].collect())
    assert got == want and want


def test_probe_of_many_batches_lists_on_the_driver(spark, tmp_path):
    """A probe over 40 batch dirs (above Spark's 32-path default) runs one
    job fewer in the local session than a control read at the default
    threshold, the job that lists the dirs, for a flat table and for a
    kbucketed table read with ``buckets=``; both return the same rows."""
    idx = str(tmp_path / "idx")
    tables = {"flat": None, "kb": "doc_id"}
    n = batchdir.layout(idx, tables, create=True).n
    # both tables written whole, one file per batch dir and bucket
    rows = spark.range(80).selectExpr("id AS doc_id", "id % 40 AS batch").coalesce(1)
    rows.write.partitionBy("batch").parquet(os.path.join(idx, "flat"))
    rows = rows.withColumn(batchdir.KB, batchdir.bucket("doc_id", n))
    rows.write.partitionBy("batch", batchdir.KB).parquet(os.path.join(idx, "kb"))
    lay = batchdir.layout(idx, tables)
    assert lay.batches == {"flat": list(range(40)), "kb": list(range(40))}
    want = {
        "flat": list(range(80)),
        "kb": sorted(r.doc_id for r in rows.filter(F.col(batchdir.KB) < 2).collect()),
    }
    part = spark.range(0).selectExpr("id AS doc_id")

    def probe(group):
        got = {}
        for name, buckets in (("flat", None), ("kb", [0, 1])):
            with fx.job_group(spark, f"{group}-{name}"):
                df = batchdir.read(idx, lay, name, part, before_batch=40, buckets=buckets)
                ids = sorted(r.doc_id for r in df.collect())
            got[name] = (fx.group_jobs(spark, f"{group}-{name}"), ids)
        return got

    local = spark.conf.get(fx.LISTING_CONF)
    driver = probe("driver-listing")
    spark.conf.set(fx.LISTING_CONF, "32")
    try:
        job = probe("job-listing")
    finally:
        spark.conf.set(fx.LISTING_CONF, local)
    assert {name: ids for name, (_, ids) in driver.items()} == want
    assert {name: ids for name, (_, ids) in job.items()} == want
    assert {name: n for name, (n, _) in driver.items()} == {name: n - 1 for name, (n, _) in job.items()}


# sink -> (start(stream, root), output dirs, index tables)
SINKS = {
    "dedup": (
        lambda s, r: DS.incremental_dedup_sink(s, f"{r}/index", f"{r}/pairs", f"{r}/ck"),
        ("pairs",),
        DS.TABLES,
    ),
    "containment": (
        lambda s, r: CS.containment_probe_sink(s, f"{r}/index", f"{r}/pairs", f"{r}/ck"),
        ("pairs",),
        CS.TABLES,
    ),
    "boilerplate": (
        lambda s, r: BS.boilerplate_scrub_sink(
            s, f"{r}/index", f"{r}/docs", f"{r}/ck", size=4
        ),
        ("docs",),
        BS.TABLES,
    ),
    # doc 4 ("to be or not to be") fails the quality gate: quarantined
    "ingest": (
        lambda s, r: IS.corpus_ingest_sink(
            s.selectExpr("doc_id", "'en' AS lang", "'s0' AS source", "text"), r, f"{r}/ck"
        ),
        ("quarantine", "admitted", "pairs"),
        DS.TABLES,
    ),
}
CRASHES = [
    (sink, table)
    for sink, (_, outputs, tables) in SINKS.items()
    for table in (*outputs, *tables)
]


def _table_dir(sink: str, root: str, table: str) -> str:
    return os.path.join(root, table if table in SINKS[sink][1] else f"index/{table}")


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory) -> str:
    src = tmp_path_factory.mktemp("src")
    spark.createDataFrame(BATCH_A, SCHEMA).coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)  # distinct mtimes -> batch 0 is BATCH_A, batch 1 BATCH_B
    spark.createDataFrame(BATCH_B, SCHEMA).coalesce(1).write.parquet(str(src / "f1"))
    return str(src)


def _start(spark, src: str, sink: str, root: str):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        f"{src}/f*"
    )
    return SINKS[sink][0](stream, root)


def _run(spark, src: str, sink: str, root: str) -> None:
    q = _start(spark, src, sink, root)
    try:
        q.awaitTermination(180)
    finally:
        q.stop()


def _state(spark, sink: str, root: str) -> dict:
    """Every output and index table's rows, with their batch (and
    __kbucket) partition values."""
    _, outputs, tables = SINKS[sink]
    out = {}
    for table in (*outputs, *tables):
        path = _table_dir(sink, root, table)
        df = spark.read.option("basePath", path).parquet(f"{path}/batch=*")
        out[table] = sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
        )
    return out


@pytest.fixture(scope="module")
def uninterrupted(spark, src, tmp_path_factory):
    runs: dict = {}

    def state(sink: str) -> dict:
        if sink not in runs:
            root = str(tmp_path_factory.mktemp(f"plain-{sink}"))
            _run(spark, src, sink, root)
            runs[sink] = _state(spark, sink, root)
        return runs[sink]

    return state


@pytest.mark.slow
@pytest.mark.parametrize("sink,table", CRASHES)
def test_crash_after_any_write_replays_to_uninterrupted_state(
    spark, src, uninterrupted, tmp_path, monkeypatch, sink, table
):
    from pyspark.errors import StreamingQueryException

    root = str(tmp_path)
    write = batchdir.write

    def crash_after(df, path, batch_id, *args):
        write(df, path, batch_id, *args)
        if batch_id == 1 and os.path.basename(path) == table:
            raise RuntimeError(f"crash after the {table} write of batch 1")

    monkeypatch.setattr(batchdir, "write", crash_after)
    q = _start(spark, src, sink, root)
    with pytest.raises(StreamingQueryException, match="crash after"):
        q.awaitTermination(180)
    q.stop()
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(_table_dir(sink, root, table), "batch=1"))

    _run(spark, src, sink, root)  # restart from the checkpoint: batch 1 replays
    want = uninterrupted(sink)
    assert _state(spark, sink, root) == want
    assert all(want.values())
