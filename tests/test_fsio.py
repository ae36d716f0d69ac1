"""fsio: the streaming indexes' metadata I/O must work on URI-style
paths (Hadoop FileSystem resolution), not just bare driver-local paths —
the r08-ADVICE limitation. ``file:`` URIs are the sandbox's stand-in for
object-store schemes: they exercise the exact code path (Path ->
getFileSystem -> FS ops) that a cluster resolves to s3a/abfs/hdfs."""

from __future__ import annotations

import os

import pytest

from kafka_streaming_polymarket_pipeline_spark.streaming import fsio


def test_fsio_primitives_on_file_uri(spark, tmp_path):
    base = f"file:{tmp_path}/idx"
    assert not fsio.exists(base)
    assert fsio.listdir(base) == []
    fsio.mkdirs(base + "/a")
    assert fsio.is_dir(base + "/a")
    fsio.write_text(base + "/m.json", '{"k": 1}')
    assert fsio.read_text(base + "/m.json") == '{"k": 1}'
    assert sorted(fsio.listdir(base)) == ["a", "m.json"]
    fsio.rename(base + "/a", base + "/b")
    assert fsio.is_dir(base + "/b") and not fsio.exists(base + "/a")
    # os.rename contract: refuse an existing destination (Hadoop would
    # move INTO it on local/posix semantics — the compaction corrupter)
    fsio.mkdirs(base + "/c")
    with pytest.raises(FileExistsError):
        fsio.rename(base + "/b", base + "/c")
    files = fsio.list_files_recursive(base)
    assert [(f.rsplit("/", 1)[1], sz) for f, sz in files] == [("m.json", 8)]
    fsio.delete(base + "/c")
    assert not fsio.exists(base + "/c")
    fsio.delete(base + "/never-existed")  # no-op, no raise


def test_dedup_index_on_file_uri(spark, tmp_path):
    """The full per-batch cycle — write index batches, probe, decide
    compaction, compact, probe again — against a ``file:`` URI index
    path. Pair results must match the same cycle on the equivalent bare
    local path (bit-identical FS behavior via RawLocalFileSystem)."""
    from kafka_streaming_polymarket_pipeline_spark.streaming import dedup_stream as DS

    b0 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again and again"),
         (1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "a completely unrelated document about sorted merge joins")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog again and again"),
         (4, "sorted merge joins love completely unrelated documents")],
        "doc_id long, text string",
    )

    def run(idx: str) -> list[tuple]:
        got = []
        for bid, batch in enumerate((b0, b1)):
            pairs = DS.incremental_pairs_against_index(batch, idx)
            got += [tuple(r) for r in pairs.collect()]
            DS.write_index_batch(batch, idx, bid)
        return sorted(got)

    uri_idx = f"file:{tmp_path}/uri_idx"
    loc_idx = str(tmp_path / "loc_idx")
    assert run(uri_idx) == run(loc_idx)  # same pairs either way
    assert os.path.exists(tmp_path / "uri_idx" / "_meta.json")

    dec = DS.needs_compaction(uri_idx, max_files=1)
    assert dec["worst"] >= 2  # two batches landed
    stats = DS.compact_index(spark, uri_idx)
    assert set(stats) == {"payload", "buckets"}
    assert all(v["files_after"] >= 1 for v in stats.values())
    # post-compaction probe still sees the whole corpus: doc 5 dups 0/1/3
    b2 = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    post = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(b2, uri_idx).collect()
    }
    assert {(0, 5), (1, 5), (3, 5)} <= post


def test_write_text_overwrite_is_replace_not_truncate(spark, tmp_path):
    """r09 ADVICE: write_text must never leave a truncated file at the
    destination — it writes a sibling temp and moves it in. Overwrite
    round-trips, and no temp residue survives a successful write."""
    base = f"file:{tmp_path}/aw"
    fsio.mkdirs(base)
    p = base + "/m.json"
    fsio.write_text(p, '{"k": 1}')
    fsio.write_text(p, '{"k": 22}')
    assert fsio.read_text(p) == '{"k": 22}'
    assert sorted(fsio.listdir(base)) == ["m.json"]


def test_session_less_local_paths_work_without_spark(tmp_path, monkeypatch):
    """r09 ADVICE: a monitoring/cron probe with no SparkSession must be
    able to walk plain local paths (needs_compaction's documented
    contract). Simulate no-session by patching getActiveSession."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    base = str(tmp_path / "nospark")
    assert not fsio.exists(base)
    fsio.mkdirs(base + "/a")
    assert fsio.is_dir(base + "/a")
    fsio.write_text(base + "/m.json", '{"n": null}')
    assert fsio.read_text(base + "/m.json") == '{"n": null}'
    assert sorted(fsio.listdir(base)) == ["a", "m.json"]
    fsio.rename(base + "/a", base + "/b")
    with pytest.raises(FileExistsError):
        fsio.mkdirs(base + "/c")
        fsio.rename(base + "/b", base + "/c")
    files = fsio.list_files_recursive(base)
    assert [(os.path.basename(f), sz) for f, sz in files] == [("m.json", 11)]
    fsio.delete(base + "/c")
    assert not fsio.exists(base + "/c")
    fsio.delete(base + "/never")  # no-op
    # scheme-qualified paths still demand a session
    with pytest.raises(RuntimeError):
        fsio.exists("file:/tmp/x")


def test_needs_compaction_runs_without_session(tmp_path, monkeypatch):
    """The actual r09-ADVICE regression: needs_compaction as a pure
    local-FS metadata walk, no JVM."""
    from pyspark.sql import SparkSession

    from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    idx = str(tmp_path / "cidx")
    for b in range(3):
        d = os.path.join(idx, "inv")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"part-{b}.parquet"), "w") as f:
            f.write("x")
    out = batchdir.needs_compaction(idx, {"inv": None}, max_files=2)
    assert out["needed"] is True

