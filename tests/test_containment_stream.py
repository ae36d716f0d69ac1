"""Streaming incremental containment probe: the union of per-batch
directed-pair emissions must equal d15's batch containment_pairs over the
full corpus — every (a, b) emits exactly once, at the batch where its
LATER side arrives (fwd leg when the contained/later doc is new, bwd leg
when the container arrived first)."""

from __future__ import annotations

import pytest

import os
import time

from kafka_streaming_polymarket_pipeline_spark.operators.dedup import containment_pairs
from kafka_streaming_polymarket_pipeline_spark.streaming import containment_stream as CS

QUOTE = "to be or not to be that is the question"
ARTICLE = QUOTE + " " + " ".join(f"filler{i}" for i in range(40))
SMALL = "window functions aggregate sorted frames"
BIG = SMALL + " " + " ".join(f"extra{i}" for i in range(30))

BATCH_A = [
    (0, ARTICLE),            # container, arrives first
    (1, SMALL),              # contained doc, its superset arrives later
]
BATCH_B = [
    (2, QUOTE),              # subset of doc 0 -> (2, 0) via fwd leg
    (3, BIG),                # superset of doc 1 -> (1, 3) via bwd leg
    (4, "alpha beta gamma delta epsilon"),
    (5, "alpha beta gamma delta epsilon zeta eta"),  # same-batch (4, 5) fwd
]


def test_streaming_containment_equals_batch(spark, tmp_path):
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
    q = CS.containment_probe_sink(
        stream,
        str(out / "index"),
        str(out / "pairs"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    q.stop()

    got = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in spark.read.parquet(str(out / "pairs")).collect()
    }
    want = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in containment_pairs(a.unionByName(b)).collect()
    }
    assert got == want and len(got) > 0
    # the cross-batch directions both present: later-subset and
    # later-superset pairs each emitted exactly once
    assert (2, 0) in got and got[(2, 0)] == 1.0
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (4, 5) in got


def test_probe_cost_is_per_batch_not_per_corpus(spark, tmp_path):
    """The probe joins only the NEW batch's postings against the index —
    a batch with no token overlap against the index emits nothing and
    extends the index by exactly its own postings."""
    idx = str(tmp_path / "idx")
    first = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    pairs, post, sizes = CS.containment_probe_batch(first, idx)
    assert pairs.count() == 0  # no containment inside batch A
    post.write.mode("overwrite").parquet(os.path.join(idx, CS.INV, "batch=0"))
    sizes.write.mode("overwrite").parquet(os.path.join(idx, CS.SIZES, "batch=0"))

    disjoint = spark.createDataFrame(
        [(9, "nothing shared here at all")], "doc_id long, text string"
    )
    pairs2, post2, _ = CS.containment_probe_batch(disjoint, idx)
    assert pairs2.count() == 0
    assert post2.count() == 5  # its own 5 distinct tokens, nothing else


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_restart_from_checkpoint_resumes_against_index(spark, tmp_path):
    """Stop the standing job after the first batches, add new files,
    resume the SAME checkpoint: the resumed batch probes the index built
    before the stop (cross-restart pairs emit), and the final union still
    equals the batch ground truth — the layout's retry/restart
    contract."""
    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    b = spark.createDataFrame(BATCH_B, "doc_id long, text string")
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    b.coalesce(1).write.parquet(str(src / "f1"))

    out = tmp_path / "out"

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        return CS.containment_probe_sink(
            stream, str(out / "index"), str(out / "pairs"), str(tmp_path / "ck")
        )

    q = start()
    q.awaitTermination(180)
    q.stop()

    late = [(8, "to be or not to be"), (9, "fresh disjoint content entirely new")]
    time.sleep(1.1)
    spark.createDataFrame(late, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "f2")
    )
    q = start()
    q.awaitTermination(180)
    q.stop()

    full = a.unionByName(b).unionByName(
        spark.createDataFrame(late, "doc_id long, text string")
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in spark.read.parquet(str(out / "pairs")).collect()
    }
    want = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in containment_pairs(full).collect()
    }
    assert got == want
    # the resumed batch really probed the pre-restart index: doc 8's
    # tokens {to, be, or, not} all sit inside doc 0 (ARTICLE, batch 0)
    # and doc 2 (QUOTE, batch 1) — both cross-restart containments must
    # emit in the resumed batch, not anywhere else
    resumed = {
        (r.doc_id_a, r.doc_id_b)
        for r in spark.read.parquet(str(out / "pairs" / "batch=2")).collect()
    }
    assert (8, 0) in resumed and (8, 2) in resumed


def test_retry_of_landed_batch_emits_identical_pairs(spark, tmp_path):
    """Crash window: batch N landed all three writes but the checkpoint
    didn't commit; the retry re-processes batch N with its own postings
    ALREADY in the index. With before_batch filtering, the retry's
    emissions are byte-identical to the first attempt (no doubled
    overlaps, no reversed re-emissions)."""
    idx = str(tmp_path / "idx")
    b0 = spark.createDataFrame(BATCH_A, "doc_id long, text string")
    p0, post0, sz0 = CS.containment_probe_batch(b0, idx, before_batch=0)
    post0.write.mode("overwrite").parquet(os.path.join(idx, CS.INV, "batch=0"))
    sz0.write.mode("overwrite").parquet(os.path.join(idx, CS.SIZES, "batch=0"))

    b1 = spark.createDataFrame(BATCH_B, "doc_id long, text string")
    first, post1, sz1 = CS.containment_probe_batch(b1, idx, before_batch=1)
    first_rows = {
        (r.doc_id_a, r.doc_id_b, r.containment) for r in first.collect()
    }
    # land batch 1's index parts — the crash happens AFTER this
    post1.write.mode("overwrite").parquet(os.path.join(idx, CS.INV, "batch=1"))
    sz1.write.mode("overwrite").parquet(os.path.join(idx, CS.SIZES, "batch=1"))

    retry, _, _ = CS.containment_probe_batch(b1, idx, before_batch=1)
    retry_rows = {
        (r.doc_id_a, r.doc_id_b, r.containment) for r in retry.collect()
    }
    assert retry_rows == first_rows and first_rows
    # the unfiltered read really would have corrupted it (double counting)
    bad, _, _ = CS.containment_probe_batch(b1, idx, before_batch=None)
    bad_rows = {(r.doc_id_a, r.doc_id_b, r.containment) for r in bad.collect()}
    assert bad_rows != first_rows


LATE = [
    (6, QUOTE + " plus a few new words"),   # contains doc-2's QUOTE tokens
    (7, "nothing in common with anything"),
]


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_needs_compaction_decision_arithmetic(spark, tmp_path):
    """The containment index's trigger counts TOTAL parquet files per
    flat table (every probe reads both tables whole), flips needed at
    the threshold, and resets after compact_index."""
    idx = str(tmp_path / "idx")
    for i, rows in enumerate((BATCH_A, BATCH_B, LATE)):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        _, post, sizes = CS.containment_probe_batch(df, idx, before_batch=i)
        post.coalesce(1).write.parquet(os.path.join(idx, CS.INV, f"batch={i}"))
        sizes.coalesce(1).write.parquet(os.path.join(idx, CS.SIZES, f"batch={i}"))
    before = CS.needs_compaction(idx, max_files=2)
    assert set(before["tables"]) == {CS.INV, CS.SIZES}
    assert before["worst"] >= 3 and before["needed"] is True
    assert CS.needs_compaction(idx, max_files=100)["needed"] is False
    stats = CS.compact_index(spark, idx)
    assert set(stats) == {CS.INV, CS.SIZES}
    for t in (CS.INV, CS.SIZES):
        dirs = [d for d in os.listdir(os.path.join(idx, t)) if d.startswith("batch=")]
        assert dirs == ["batch=0"]
        assert stats[t]["files_after"] <= stats[t]["files_before"]
    after = CS.needs_compaction(idx, max_files=2)
    assert after["worst"] < before["worst"] and after["needed"] is False


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_compaction_between_micro_batches_leaves_emissions_identical(
    spark, tmp_path
):
    """Port of the dedup index's mid-stream equivalence gate (r08
    verdict task 2): stop the standing containment job, compact, resume
    the SAME checkpoint with new files — the resumed batch's pair
    emissions must be identical to a twin run that never compacted, and
    must still see pre-compaction docs through the merged batch=0."""
    import time as _time

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
            return CS.containment_probe_sink(stream, idx, pairs, ck)

        q = start()
        q.awaitTermination(120)
        q.stop()  # standing job STOPPED, checkpoint committed
        if compact_between:
            assert CS.compact_index(spark, idx)  # actually compacted
        _time.sleep(1.1)
        spark.createDataFrame(LATE, "doc_id long, text string").coalesce(
            1
        ).write.parquet(os.path.join(src, "f2"))
        q = start()  # resume from the same checkpoint
        q.awaitTermination(120)
        q.stop()
        out = {}
        for d in os.listdir(pairs):
            if d.startswith("batch="):
                out[d] = {
                    (r["doc_id_a"], r["doc_id_b"], r["containment"])
                    for r in spark.read.parquet(os.path.join(pairs, d)).collect()
                }
        return out

    plain = run(str(tmp_path / "plain"), compact_between=False)
    compacted = run(str(tmp_path / "compacted"), compact_between=True)
    assert compacted == plain
    # the resumed batch actually probed the merged index: doc 2 (QUOTE,
    # pre-compaction) is contained in late doc 6
    resumed = compacted[max(compacted, key=lambda d: int(d.split("=")[1]))]
    assert any(a == 2 and b == 6 for a, b, _ in resumed), resumed
