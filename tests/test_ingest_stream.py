"""Composed standing ingest job (quality gate -> quarantine ->
incremental dedup index): stream == batch on every output surface, and
rejected documents provably never reach the index or the pair stream."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D
from kafka_streaming_polymarket_pipeline_spark.streaming import ingest_stream as IS
from kafka_streaming_polymarket_pipeline_spark.streaming.quality_stream import (
    quality_split,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the merge join "
    "streams sorted batches of rows into the hash table for the big scan"
)
JUNK = "aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa"  # entropy < 2 bits

SCHEMA = "doc_id long, lang string, source string, text string"
BATCH_A = [
    (0, "en", "s0", BASE),
    (1, "en", "s0", BASE),  # exact dup of 0 -> pair (0,1)
    (2, "en", "s1", JUNK),  # junk: quarantined
]
BATCH_B = [
    (3, "en", "s0", BASE.replace("quick", "rapid")),  # near-dup of 0/1
    (4, "en", "s1", JUNK.replace("aa", "ab", 1)),     # junk near-dup of 2
    (5, "en", "s2", "a completely different doc about window functions"),
]


def test_ingest_stream_equals_batch_and_rejects_never_indexed(spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(BATCH_A, SCHEMA)
    b = spark.createDataFrame(BATCH_B, SCHEMA)
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    b.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path / "out")
    q = IS.corpus_ingest_sink(stream, out, str(tmp_path / "ck"))
    q.awaitTermination(180)
    q.stop()

    full = a.unionByName(b)
    kept_b, rej_b = quality_split(full)
    kept_ids = {r["doc_id"] for r in kept_b.select("doc_id").collect()}
    rej_ids = {r["doc_id"] for r in rej_b.select("doc_id").collect()}

    # the junk docs ARE rejected by the batch gate (test preconditions)
    assert {2, 4} <= rej_ids and kept_ids | rej_ids == {0, 1, 2, 3, 4, 5}

    got_adm = {
        r["doc_id"]
        for r in spark.read.option("basePath", f"{out}/admitted")
        .parquet(f"{out}/admitted/batch=*")
        .collect()
    }
    got_rej = {
        r["doc_id"]
        for r in spark.read.option("basePath", f"{out}/quarantine")
        .parquet(f"{out}/quarantine/batch=*")
        .collect()
    }
    assert got_adm == kept_ids and got_rej == rej_ids

    # pairs == batch ground truth over the KEPT docs only
    kept_docs = full.join(kept_b.select("doc_id"), "doc_id").select("doc_id", "text")
    want_pairs = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(kept_docs, 0.5).collect()
    }
    got_pairs_df = spark.read.option("basePath", f"{out}/pairs").parquet(
        f"{out}/pairs/batch=*"
    )
    got_pairs = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"]) for r in got_pairs_df.collect()
    }
    assert got_pairs == want_pairs and want_pairs
    assert got_pairs_df.count() == len(want_pairs)  # no duplicate emissions

    # the junk near-dup pair (2,4) exists in the RAW corpus but must be
    # absent from the stream's output: rejects never reached the index
    raw_pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.ngram_jaccard_pairs(full.select("doc_id", "text"), 0.5).collect()
    }
    assert (2, 4) in raw_pairs
    assert all(p[0] not in (2, 4) and p[1] not in (2, 4) for p in got_pairs)

    # index payload holds exactly the admitted docs
    payload = spark.read.option("basePath", f"{out}/index/payload").parquet(
        f"{out}/index/payload/batch=*"
    )
    assert {r["doc_id"] for r in payload.select("doc_id").collect()} == kept_ids

    # cross-batch admitted near-dup pairs via the INDEX (0/1 arrived in
    # batch 0; 3 pairs against both in batch 1)
    b1 = spark.read.parquet(f"{out}/pairs/batch=1")
    b1_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in b1.collect()}
    assert (0, 3) in b1_pairs and (1, 3) in b1_pairs


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_ingest_monitor_emits_per_batch_drift(spark, tmp_path):
    """The wired drift monitor: per micro-batch, one (n_events, psi,
    ks_stat, w1_distance) reading — the FULL drift triple from the one
    shared fold — of the INCOMING quality-logit population against a
    frozen reference: equal to the batch drift_stats over the same
    files, pre-gate (keep and reject alike), and the junk-flood batch
    reads as drifted on all three statistics while the clean batch
    reads near zero."""
    from kafka_streaming_polymarket_pipeline_spark.streaming.quality_stream import (
        drift_stats,
        quality_features_frame,
        reference_histogram,
    )

    # frozen reference: the char-entropy distribution of a clean corpus
    # (clean text ~4 bits/char, the JUNK repetition exactly 1.0 — the
    # deterministic drift axis; the logit axis works identically)
    ref_docs = spark.createDataFrame(
        [(100 + i, "en", "s0", BASE + f" extra{i}") for i in range(8)], SCHEMA
    )
    ref_feats = quality_features_frame(ref_docs)
    reference, mn, mx = reference_histogram(
        ref_feats, "char_entropy_bits", mn=0.0, mx=6.0
    )

    clean = [(i, "en", "s0", BASE + f" tail{i}") for i in range(4)]
    flood = [(10 + i, "en", "s1", JUNK) for i in range(4)]
    src = tmp_path / "src"
    os.makedirs(src)
    spark.createDataFrame(clean, SCHEMA).coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    spark.createDataFrame(flood, SCHEMA).coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path / "out")
    q = IS.corpus_ingest_sink(
        stream, out, str(tmp_path / "ck"),
        monitor_reference=reference, monitor_mn=mn, monitor_mx=mx,
        monitor_col="char_entropy_bits",
    )
    q.awaitTermination(180)
    q.stop()

    got = {}
    for bid, rows in ((0, clean), (1, flood)):
        mrow = spark.read.parquet(f"{out}/monitor/batch={bid}").collect()
        assert len(mrow) == 1
        got[bid] = (
            mrow[0]["n_events"], mrow[0]["psi"], mrow[0]["ks_stat"],
            mrow[0]["w1_distance"],
        )
        # equals the batch form over the same rows (shared fold)
        feats = quality_features_frame(spark.createDataFrame(rows, SCHEMA))
        want = drift_stats(feats, reference, mn, mx, "char_entropy_bits").collect()[0]
        assert got[bid] == (
            want["n_events"], want["psi"], want["ks_stat"], want["w1_distance"],
        )
    assert got[0][0] == 4 and got[1][0] == 4
    # clean batch ~ reference; junk flood visibly drifted on all three
    assert got[0][1] < 0.5 < got[1][1]  # PSI
    assert got[0][2] < 0.5 < got[1][2]  # KS
    assert got[0][3] < got[1][3] and got[1][3] > 0.5  # W1 (bin-width units)


def test_ingest_monitor_requires_binning_constants(spark, tmp_path):
    import pytest

    ref = spark.createDataFrame([(0, 0.5)], "bin int, ref_share double")
    with pytest.raises(ValueError, match="binning constants"):
        IS.corpus_ingest_sink(
            spark.readStream.schema(SCHEMA).parquet(str(tmp_path)),
            str(tmp_path / "o"), str(tmp_path / "c"),
            monitor_reference=ref,
        )


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_ingest_stream_attaches_frozen_dsir_scores(spark, tmp_path):
    """With a frozen dsir_model table, every admitted doc lands with a
    score_micro equal to the BATCH dsir_score of the same docs under the
    same model (stream == batch for the selection leg), and quarantined
    docs are never scored."""
    from kafka_streaming_polymarket_pipeline_spark.operators.sampling import (
        dsir_model,
        dsir_score,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(BATCH_A, SCHEMA)
    b = spark.createDataFrame(BATCH_B, SCHEMA)
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    b.coalesce(1).write.parquet(str(src / "f1"))

    # model frozen from a separate exemplar corpus (the production shape)
    ref = spark.createDataFrame(
        [(100, "en", "s0", BASE), (101, "en", "s1", JUNK)], SCHEMA
    )
    lam = dsir_model(ref, n_buckets=64)
    assert lam.count() == 64

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path / "out")
    q = IS.corpus_ingest_sink(
        stream, out, str(tmp_path / "ck"), dsir_lambda=lam
    )
    q.awaitTermination(180)
    q.stop()

    landed = spark.read.parquet(os.path.join(out, "admitted"))
    got = {r["doc_id"]: r["score_micro"] for r in landed.collect()}

    full = a.unionByName(b)
    kept_b, rej_b = quality_split(full)
    admitted_batch = full.join(kept_b.select("doc_id"), "doc_id")
    want = {
        r["doc_id"]: r["score_micro"]
        for r in dsir_score(admitted_batch, lam, n_buckets=64).collect()
    }
    assert got == want and len(got) > 0
    # BASE-like docs must out-score any junk doc that slipped the gate
    # (none should, but assert the rejects are absent rather than scored)
    rej_ids = {r["doc_id"] for r in rej_b.select("doc_id").collect()}
    assert rej_ids and not (rej_ids & set(got))
    # and the model actually separates: clean target docs score higher
    # than every junk doc would under the same model
    junk_scores = {
        r["doc_id"]: r["score_micro"]
        for r in dsir_score(
            full.join(rej_b.select("doc_id"), "doc_id"), lam, n_buckets=64
        ).collect()
    }
    assert min(got.values()) > max(junk_scores.values())


def test_ingest_rejects_partial_or_empty_dsir_model(spark, tmp_path):
    """The scoring modulus is inferred as len(lam_rows): a partial,
    re-filtered, or differently-sized model table would silently
    re-bucket grams under the wrong modulus — the sink must demand the
    exact 0..n-1 spine up front (empty included)."""
    import pytest

    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path))
    for rows in (
        [],                                   # empty
        [(0, 10), (2, 20), (3, 5)],           # hole at 1: not the spine
        [(1, 10), (2, 20)],                   # offset: missing bucket 0
    ):
        lam = spark.createDataFrame(rows, "bucket int, lam_micro long")
        with pytest.raises(ValueError, match="FULL dsir_model"):
            IS.corpus_ingest_sink(
                stream, str(tmp_path / "o"), str(tmp_path / "c"),
                dsir_lambda=lam,
            )


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_ingest_stream_attaches_frozen_lm_ppl(spark, tmp_path):
    """With a frozen unigram-LM model, every admitted doc lands with
    lm_ppl/lm_total_lp_micro equal to the BATCH unigram_score_with_model
    of the same docs under the same frozen table (stream == batch for
    the scoring leg); quarantined docs are never scored; and a doc made
    of the exemplar corpus's vocabulary out-scores (lower ppl than) one
    full of characters the model never saw."""
    from kafka_streaming_polymarket_pipeline_spark.operators.bpe import (
        unigram_lm_model,
        unigram_score_with_model,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(BATCH_A, SCHEMA)
    b = spark.createDataFrame(BATCH_B, SCHEMA)
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    b.coalesce(1).write.parquet(str(src / "f1"))

    # model frozen from a separate exemplar corpus (the CCNet shape) —
    # doc 5's words ("window", "functions") are partly unseen while its
    # characters are covered: the scorer must handle both regimes.
    ref = spark.createDataFrame(
        [(100, "en", "s0", BASE), (101, "en", "s0", BASE + " window scan")],
        SCHEMA,
    )
    lm = unigram_lm_model(ref)
    assert lm.count() > 0

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path / "out")
    q = IS.corpus_ingest_sink(stream, out, str(tmp_path / "ck"), lm_model=lm)
    q.awaitTermination(180)
    q.stop()

    landed = spark.read.parquet(os.path.join(out, "admitted"))
    got = {
        r["doc_id"]: (r["lm_n_pieces"], r["lm_total_lp_micro"], r["lm_ppl"])
        for r in landed.collect()
    }

    full = a.unionByName(b)
    kept_b, rej_b = quality_split(full)
    admitted_batch = full.join(kept_b.select("doc_id"), "doc_id")
    lm_frozen = lm.localCheckpoint(eager=True)
    want = {
        r["doc_id"]: (r["n_pieces"], r["total_lp_micro"], r["ppl"])
        for r in unigram_score_with_model(admitted_batch, lm_frozen).collect()
    }
    assert got == want and len(got) > 0
    rej_ids = {r["doc_id"] for r in rej_b.select("doc_id").collect()}
    assert rej_ids and not (rej_ids & set(got))

    # OOV direction: in-vocabulary text beats never-seen characters
    probe = spark.createDataFrame(
        [(200, "en", "s", BASE), (201, "en", "s", "zzz qqq xxx 0451 #!?")],
        SCHEMA,
    )
    pr = {
        r["doc_id"]: r["ppl"]
        for r in unigram_score_with_model(probe, lm_frozen).collect()
    }
    assert pr[200] < pr[201]


def test_score_with_model_matches_v5_on_training_corpus(spark):
    """Fit-then-score on the SAME corpus must equal v5's one-shot
    unigram_doc_logprob (the OOV extension adds nothing when every char
    was seen in training) — the frozen-model path is the same math."""
    from kafka_streaming_polymarket_pipeline_spark.operators.bpe import (
        unigram_doc_logprob,
        unigram_lm_model,
        unigram_score_with_model,
    )

    docs = spark.createDataFrame(
        [
            (0, "en", "s", "market maker moves the order book"),
            (1, "en", "s", "order book depth beats the market maker"),
            (2, "en", "s", ""),
        ],
        SCHEMA[:0] or "doc_id long, lang string, source string, text string",
    )
    v5 = {tuple(r) for r in unigram_doc_logprob(docs).collect()}
    frozen = {
        tuple(r)
        for r in unigram_score_with_model(docs, unigram_lm_model(docs)).collect()
    }
    assert v5 == frozen


@pytest.mark.slow  # maintenance/soak-grade runtime; deselected from the bounded default gate (pytest.ini)
def test_ingest_scrub_stage_keeps_templates_out_of_the_index(spark, tmp_path):
    """scrub_boilerplate=True: a template paragraph shared across
    batches is scrubbed from its later arrival BEFORE the dedup probe,
    so the template-driven near-dup pair disappears from the pair
    stream (the d3c motivation at ingest time); quarantined docs never
    reach the window-frequency index; landed rows carry the scrubbed
    text + accounting."""
    template = " ".join(f"tpl{i}" for i in range(32))
    batch_a = [
        (0, "en", "s0", template + " ua0 ua1 ua2 ua3"),
        (1, "en", "s0", "solo doc about watermark propagation semantics"),
    ]
    batch_b = [
        (2, "en", "s0", template + " uc0 uc1 uc2 uc3"),
        (3, "en", "s1", JUNK),  # quarantined: its windows must not index
    ]
    src = tmp_path / "src"
    os.makedirs(src)
    a = spark.createDataFrame(batch_a, SCHEMA)
    b = spark.createDataFrame(batch_b, SCHEMA)
    a.coalesce(1).write.parquet(str(src / "f0"))
    time.sleep(1.1)
    b.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path / "out")
    q = IS.corpus_ingest_sink(
        stream, out, str(tmp_path / "ck"), scrub_boilerplate=True
    )
    q.awaitTermination(180)
    q.stop()

    adm = {
        r["doc_id"]: r
        for r in spark.read.option("basePath", f"{out}/admitted")
        .parquet(f"{out}/admitted/batch=*")
        .collect()
    }
    assert set(adm) == {0, 1, 2}
    assert adm[0]["text"].startswith(template) and adm[0]["n_removed"] == 0
    assert adm[2]["text"] == "uc0 uc1 uc2 uc3" and adm[2]["n_removed"] == 1

    # the raw corpus HAS the template-driven near-dup pair (0, 2)...
    raw = a.unionByName(b).select("doc_id", "text")
    raw_pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.ngram_jaccard_pairs(raw, 0.5).collect()
    }
    assert (0, 2) in raw_pairs
    # ...but the scrubbed pair stream does not
    got_pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.option("basePath", f"{out}/pairs")
        .parquet(f"{out}/pairs/batch=*")
        .collect()
    }
    assert (0, 2) not in got_pairs

    # quarantined doc 3's windows never reached the frequency index
    wfreq = spark.read.option("basePath", f"{out}/index/wfreq").parquet(
        f"{out}/index/wfreq/batch=*"
    )
    assert wfreq.filter(F.col("ptext").contains("aa")).count() == 0
    assert wfreq.filter(F.col("ptext") == template).count() == 2  # both batches
