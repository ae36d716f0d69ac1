"""Streaming incremental dedup: persistent index, per-batch O(new) probes,
retry-idempotent layout. The union of per-batch pair emissions must equal
the batch ground truth over the full corpus."""

from __future__ import annotations

import pytest

import os
import time

from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D
from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir
from kafka_streaming_polymarket_pipeline_spark.streaming import dedup_stream as DS

BASE = (
    "the quick brown fox jumps over the lazy dog while the merge join "
    "streams sorted batches of rows into the hash table for the big scan"
)

BATCH_A = [
    (0, BASE),
    (1, BASE),  # exact dup of 0
    (2, "completely different content about window functions and watermarks"),
]
BATCH_B = [
    (3, BASE.replace("quick", "rapid")),  # near-dup of 0/1, arrives later
    (4, "unrelated short text"),
    (5, BASE.replace("dog", "cat").replace("rows", "tuples")),  # near-dup of 0/1
]


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    b = spark.createDataFrame(BATCH_B, "doc_id long, text string")
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    b.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    index_path, pairs_path = str(tmp_path / "index"), str(tmp_path / "pairs")
    q = DS.incremental_dedup_sink(
        stream, index_path, pairs_path, str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    q.stop()

    # union of per-batch emissions == batch ground truth over all docs
    full = a.unionByName(b)
    expected = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(full, 0.5).collect()
    }
    got_df = spark.read.option("basePath", pairs_path).parquet(f"{pairs_path}/batch=*")
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"]) for r in got_df.collect()
    }
    assert got == expected and expected
    # no pair emitted twice across batches
    assert got_df.count() == len(expected)

    # index covers every doc after the run (the kbucketed payload table,
    # read back by the estimate and verify stages — see the module
    # docstring for the index layout)
    payload = spark.read.option("basePath", f"{index_path}/payload").parquet(
        f"{index_path}/payload/batch=*"
    )
    assert payload.select("doc_id").distinct().count() == 6

    # late-arriving near-dups paired against the INDEX, not re-read text:
    # batch1's emissions include cross-batch pairs (0,3) and (0,5)
    b1 = spark.read.parquet(f"{pairs_path}/batch=1")
    b1_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in b1.collect()}
    assert (0, 3) in b1_pairs and (0, 5) in b1_pairs


def test_write_index_batch_is_retry_idempotent(spark, tmp_path):
    docs = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    p = str(tmp_path / "idx")
    DS.write_index_batch(docs, p, batch_id=7)
    n1 = spark.read.parquet(f"{p}/payload/batch=7").count()
    DS.write_index_batch(docs, p, batch_id=7)  # simulated retry
    n2 = spark.read.parquet(f"{p}/payload/batch=7").count()
    assert n1 == n2 == 3  # overwrite, not append


def test_index_payload_reads_partition_prune(spark, tmp_path):
    """The kbucketed payload layout must produce a real
    PartitionFilters entry (directory-level pruning) and return exactly
    the touched buckets' rows. A small batch writes one file per doc
    bucket and one band-bucket file, however many cores built it."""
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared words") for i in range(200)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    parts = DS.checkpointed_parts(docs)
    DS.write_index_batch(docs, idx, 0, parts=parts)
    assert DS.needs_compaction(idx)["tables"] == {DS.PAYLOAD: 1, DS.BUCKETS: 1}
    lay = batchdir.layout(idx, DS.TABLES)
    pruned = batchdir.read(idx, lay, DS.PAYLOAD, parts[0], buckets=[3, 7])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__kbucket" in plan
    want = {
        r["doc_id"]
        for r in docs.select("doc_id")
        .withColumn("kb", batchdir.bucket("doc_id", lay.n))
        .filter(F.col("kb").isin([3, 7]))
        .collect()
    }
    assert {r["doc_id"] for r in pruned.select("doc_id").collect()} == want
    assert 0 < len(want) < 200


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_bucket_count_pinned_in_meta_survives_constant_change(spark, tmp_path, monkeypatch):
    """The bucket modulus is the DIRECTORY LAYOUT: an index created at
    one count and probed/extended by a process whose module constant
    differs must keep using the pinned count — otherwise pruned probes
    filter on ids from the wrong modulus and silently drop pairs."""
    import json

    idx = str(tmp_path / "idx")
    a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    b = spark.createDataFrame(BATCH_B, "doc_id long, text string")

    monkeypatch.setattr(batchdir, "N_BUCKETS", 8)
    DS.write_index_batch(a, idx, 0)
    assert json.load(open(os.path.join(idx, batchdir.META)))["n_doc_buckets"] == 8

    # "restart" with a different constant: writes AND probes must
    # still resolve the pinned 8
    monkeypatch.setattr(batchdir, "N_BUCKETS", 64)
    DS.write_index_batch(b, idx, 1)
    kbs = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(idx, DS.PAYLOAD, "batch=1"))
        if d.startswith(batchdir.KB)
    }
    assert kbs and max(kbs) < 8  # new batch written with the pinned modulus

    probe = spark.createDataFrame(
        [(9, BASE.replace("lazy", "idle"))], "doc_id long, text string"
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(probe, idx).collect()
    }
    # ground truth over the union corpus, restricted to pairs touching 9
    full = a.unionByName(b).unionByName(probe)
    want = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.ngram_jaccard_pairs(full, 0.5).collect()
        if r["doc_id_a"] == 9 or r["doc_id_b"] == 9
    }
    assert got == want and want  # no silently-dropped pairs


def test_retry_after_index_write_emits_no_self_pairs(spark, tmp_path):
    """foreachBatch retry after write_index_batch committed but before
    the stream checkpoint: the batch probes an index that ALREADY holds
    it.  Every doc meets itself in the bucket join (jaccard 1); the
    a != b candidate filter must keep the retried emission identical to
    the original — retry idempotency for the PAIRS path, matching the
    overwrite idempotency of the index path."""
    idx = str(tmp_path / "idx")
    batch = spark.createDataFrame(BATCH_A + BATCH_B, "doc_id long, text string")

    # original emission: index empty at probe time
    original = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in DS.incremental_pairs_against_index(batch, idx).collect()
    }
    # crash window: index write succeeded, checkpoint didn't -> retry
    DS.write_index_batch(batch, idx, 0)
    retried = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in DS.incremental_pairs_against_index(batch, idx).collect()
    }
    assert all(a != b for a, b, _ in retried)
    assert retried == original and original


def test_replayed_batch_writes_concurrently_and_emits_identical_pairs(
    spark, tmp_path, monkeypatch
):
    """A replayed batch (the crash came after its writes landed, before
    the stream checkpoint) runs the pairs and index writes on the pool
    threads like a first attempt, and emits the pairs of the first
    attempt. The pairs write is held until the index overwrite has
    replaced the batch's own index files, so the replay's probe must not
    have listed them: its scan prunes ``batch=<batch_id>`` (batchdir's
    ``batch < before_batch`` filter); without the filter the pairs job
    fails on the deleted files."""
    import threading

    idx, pairs_path = str(tmp_path / "idx"), str(tmp_path / "pairs")
    threads = []  # (write, thread name)
    index_done = threading.Event()
    write_index, write = DS.write_index_batch, batchdir.write

    def index_then_release(*args, **kwargs):
        threads.append(("index", threading.current_thread().name))
        try:
            write_index(*args, **kwargs)
        finally:
            index_done.set()

    def pairs_after_index(df, table, batch_id, *args):
        if table == pairs_path:
            threads.append(("pairs", threading.current_thread().name))
            assert index_done.wait(120), "the index write did not finish"
        write(df, table, batch_id, *args)

    monkeypatch.setattr(DS, "write_index_batch", index_then_release)
    monkeypatch.setattr(batchdir, "write", pairs_after_index)

    def sink(batch_id, rows):
        threads.clear()
        index_done.clear()
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        DS._sink_batch(batch, batch_id, idx, pairs_path, 0.5, 5)
        got = spark.read.parquet(f"{pairs_path}/batch={batch_id}").collect()
        return {(r["doc_id_a"], r["doc_id_b"], r["jaccard"]) for r in got}

    sink(0, BATCH_A)
    first = sink(1, BATCH_B)
    replay = sink(1, BATCH_B)
    assert sorted(w for w, _ in threads) == ["index", "pairs"]
    assert all(t != threading.current_thread().name for _, t in threads)  # pool threads
    assert replay == first and first


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_compact_index_preserves_probes_and_shrinks_files(spark, tmp_path, monkeypatch):
    """Offline compaction merges all batch dirs into one per table:
    probe results are identical before/after, parquet file counts
    shrink, the pinned modulus survives, and the index keeps accepting
    new batches + probing correctly afterwards."""
    idx = str(tmp_path / "idx")
    batches = [
        spark.createDataFrame(BATCH_A, "doc_id long, text string"),
        spark.createDataFrame(BATCH_B, "doc_id long, text string"),
        spark.createDataFrame(
            [(6, "more filler text about sort merge buckets"),
             (7, BASE.replace("fox", "wolf"))],
            "doc_id long, text string",
        ),
    ]
    # pin a small modulus so 3 batches x few-docs MUST overlap buckets:
    # after compaction each table holds <= 4 files, before it holds one
    # file per touched bucket per batch — a guaranteed strict shrink
    monkeypatch.setattr(batchdir, "N_BUCKETS", 4)
    for i, b in enumerate(batches):
        DS.write_index_batch(b, idx, i)
    monkeypatch.undo()

    probe = spark.createDataFrame(
        [(9, BASE.replace("lazy", "idle"))], "doc_id long, text string"
    )

    def pairs():
        return {
            (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
            for r in DS.incremental_pairs_against_index(probe, idx).collect()
        }

    def n_parquet(table):
        import os as _os
        return sum(
            1
            for _, _, fs in _os.walk(os.path.join(idx, table))
            for f in fs
            if f.endswith(".parquet")
        )

    before = pairs()
    files_before = {t: n_parquet(t) for t in (DS.PAYLOAD, DS.BUCKETS)}
    stats = DS.compact_index(spark, idx)
    assert pairs() == before and before  # identical probe results
    for t in (DS.PAYLOAD, DS.BUCKETS):
        assert n_parquet(t) < files_before[t]  # 3 batches -> 1
        assert len(
            [d for d in os.listdir(os.path.join(idx, t)) if d.startswith("batch=")]
        ) == 1
        assert stats[t] == {
            "files_before": files_before[t],
            "files_after": n_parquet(t),
            "recovered": False,
        }
    assert batchdir.layout(idx, DS.TABLES).n == 4  # pinned modulus survives compaction

    # the compacted index keeps working: extend with a NEW batch, probe
    nxt = spark.createDataFrame(
        [(20, BASE.replace("brown", "grey"))], "doc_id long, text string"
    )
    DS.write_index_batch(nxt, idx, 10)
    got = pairs()
    assert before < got  # old pairs kept, new near-dup (9, 20)... pair added
    assert any(20 in (a, b) for a, b, _ in got)


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_compact_index_recovers_from_crash_states(spark, tmp_path):
    """Staged-protocol recovery: an incomplete staging dir (no _SUCCESS)
    is discarded and compaction redone from the intact originals; a
    complete staging dir with the originals already deleted is renamed
    to finish the interrupted run."""
    import shutil

    idx = str(tmp_path / "idx")
    a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    b = spark.createDataFrame(BATCH_B, "doc_id long, text string")
    DS.write_index_batch(a, idx, 0)
    DS.write_index_batch(b, idx, 1)
    probe = spark.createDataFrame(
        [(9, BASE.replace("lazy", "idle"))], "doc_id long, text string"
    )
    want = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(probe, idx).collect()
    }

    # crash in step 1: staging exists, no _SUCCESS, originals intact
    tmp = os.path.join(idx, DS.PAYLOAD, ".compact_tmp")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    DS.compact_index(spark, idx)
    assert not os.path.exists(tmp)
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(probe, idx).collect()
    }
    assert got == want and want

    # crash between steps 2 and 3: staging complete, originals gone
    table = os.path.join(idx, DS.BUCKETS)
    [batch_dir] = [d for d in os.listdir(table) if d.startswith("batch=")]
    os.rename(os.path.join(table, batch_dir), os.path.join(table, ".compact_tmp"))
    open(os.path.join(table, ".compact_tmp", "_SUCCESS"), "a").close()
    DS.compact_index(spark, idx)
    assert [d for d in os.listdir(table) if d.startswith("batch=")] == ["batch=0"]
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(probe, idx).collect()
    }
    assert got == want


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_compact_index_recovers_partial_deletion_without_data_loss(spark, tmp_path):
    """The nastiest crash window: staging complete (_SUCCESS), crash
    after SOME originals were deleted but not all. The survivors'
    rows are already merged into staging, so recovery must finish
    (delete survivors, rename staging) — treating the staging as
    incomplete here would discard the only copy of the already-deleted
    batches' rows and probes would silently miss their pairs."""
    import shutil

    idx = str(tmp_path / "idx")
    for i, rows in enumerate(
        (BATCH_A, BATCH_B, [(6, BASE.replace("fox", "wolf"))])
    ):
        DS.write_index_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), idx, i
        )
    probe = spark.createDataFrame(
        [(9, BASE.replace("lazy", "idle"))], "doc_id long, text string"
    )
    want = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(probe, idx).collect()
    }
    assert want  # pairs against batches 0 and 2 exist

    # produce a COMPLETE staging dir (run a real compaction, then turn
    # its result back into the mid-crash state)
    DS.compact_index(spark, idx)
    table = os.path.join(idx, DS.PAYLOAD)
    [merged] = [d for d in os.listdir(table) if d.startswith("batch=")]
    os.rename(os.path.join(table, merged), os.path.join(table, ".compact_tmp"))
    assert os.path.exists(os.path.join(table, ".compact_tmp", "_SUCCESS"))
    # a surviving original whose rows staging already holds (batch 1)
    DS.write_index_batch(
        spark.createDataFrame(BATCH_B, "doc_id long, text string"), idx, 1
    )

    stats = DS.compact_index(spark, idx)
    assert stats[DS.PAYLOAD]["recovered"] is True
    assert stats[DS.PAYLOAD]["files_before"] is None
    assert [d for d in os.listdir(table) if d.startswith("batch=")] == ["batch=0"]
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in DS.incremental_pairs_against_index(probe, idx).collect()
    }
    assert got == want  # batches 0 and 2's rows survived the crash


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_compacted_dir_is_batch_zero_never_a_retryable_id(spark, tmp_path):
    """The merged dir must land as batch=0, NOT the highest existing id:
    the highest id is exactly the batch a foreachBatch retry replays if
    the stopped-checkpoint precondition is violated, and a retried
    write_index_batch(mode=overwrite) of the merged dir would replace
    the whole index with one batch's rows (r07 ADVICE). Simulate that
    worst case: after compaction, a retry of the last batch id must
    leave the merged rows intact."""
    idx = str(tmp_path / "idx")
    a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    b = spark.createDataFrame(BATCH_B, "doc_id long, text string")
    DS.write_index_batch(a, idx, 0)
    DS.write_index_batch(b, idx, 1)
    DS.compact_index(spark, idx)
    for t in (DS.PAYLOAD, DS.BUCKETS):
        dirs = [d for d in os.listdir(os.path.join(idx, t)) if d.startswith("batch=")]
        assert dirs == ["batch=0"]
    # the violated-precondition retry: batch id 1 replays post-compaction
    DS.write_index_batch(b, idx, 1)
    payload = spark.read.option("basePath", f"{idx}/payload").parquet(
        f"{idx}/payload/batch=*"
    )
    # all 6 docs still indexed (merged rows survive; the retry only
    # re-added its own 3 under batch=1)
    assert payload.select("doc_id").distinct().count() == 6


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_needs_compaction_decision_arithmetic(spark, tmp_path, monkeypatch):
    """The trigger policy reports the worst per-probe-unit file count
    (max files per kbucket for payload tables, total files for the flat
    buckets table), flips needed at the threshold, and resets after
    compact_index runs."""
    idx = str(tmp_path / "idx")
    monkeypatch.setattr(batchdir, "N_BUCKETS", 2)  # 6 docs over 2 buckets -> every batch hits both
    batch_c = [
        (8, BASE.replace("fox", "hare")),
        (9, "a third batch of entirely new content for bucket spread"),
        (10, BASE.replace("lazy", "sleepy")),
    ]
    for i, rows in enumerate((BATCH_A, BATCH_B, batch_c)):
        DS.write_index_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), idx, i
        )
    monkeypatch.undo()
    before = DS.needs_compaction(idx, max_files=2)
    assert set(before["tables"]) == {DS.PAYLOAD, DS.BUCKETS}
    assert before["worst"] >= 3  # one file per bucket per batch, 3 batches
    assert before["needed"] is True
    # a lax threshold says don't bother
    assert DS.needs_compaction(idx, max_files=100)["needed"] is False
    DS.compact_index(spark, idx)
    after = DS.needs_compaction(idx, max_files=2)
    assert after["worst"] < before["worst"]
    assert after["needed"] is False


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_compaction_between_micro_batches_leaves_emissions_identical(spark, tmp_path):
    """VERDICT r07 task 5: stop the standing job after its first batches,
    compact the index, resume the SAME checkpoint with new files — the
    resumed batch's pair emissions must be byte-identical to a twin run
    that never compacted."""
    import shutil
    import time as _time

    late = [(6, BASE.replace("brown", "grey")), (7, "nothing like the others here")]

    def run(root, compact_between):
        src = os.path.join(root, "src")
        os.makedirs(src)
        idx, pairs, ck = (os.path.join(root, d) for d in ("idx", "pairs", "ck"))
        a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
        b = spark.createDataFrame(BATCH_B, "doc_id long, text string")
        a.coalesce(1).write.parquet(os.path.join(src, "f0"))
        _time.sleep(1.1)
        b.coalesce(1).write.parquet(os.path.join(src, "f1"))

        def start():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/f*")
            )
            return DS.incremental_dedup_sink(stream, idx, pairs, ck)

        q = start()
        q.awaitTermination(120)
        q.stop()  # standing job STOPPED, checkpoint committed
        if compact_between:
            assert DS.compact_index(spark, idx)  # actually compacted
        _time.sleep(1.1)
        spark.createDataFrame(late, "doc_id long, text string").coalesce(1).write.parquet(
            os.path.join(src, "f2")
        )
        q = start()  # resume from the same checkpoint
        q.awaitTermination(120)
        q.stop()
        out = {}
        for d in os.listdir(pairs):
            if d.startswith("batch="):
                out[d] = {
                    (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
                    for r in spark.read.parquet(os.path.join(pairs, d)).collect()
                }
        return out

    plain = run(str(tmp_path / "plain"), compact_between=False)
    compacted = run(str(tmp_path / "compacted"), compact_between=True)
    assert compacted == plain
    # the resumed batch actually probed the (compacted) index: doc 6 is
    # a near-dup of doc 0 from the FIRST pre-compaction batch
    resumed = compacted[max(compacted, key=lambda d: int(d.split("=")[1]))]
    assert any({a, b} & {6} and {a, b} & {0, 1, 3, 5} for a, b, _ in resumed)
