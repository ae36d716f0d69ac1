"""Positive-case tests for the dedup operators: plant known duplicates and
near-duplicates, assert each method finds them (the oracle battery proves
engine-vs-SQL parity; these prove the operators detect what they claim to)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the merge join "
    "streams sorted batches of rows into the hash table for the big scan"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("quick", "rapid")),  # near-duplicate of 0
        (3, "completely different content about window functions and watermarks"),
        (4, "unrelated short text"),
        (5, BASE.replace("dog", "cat").replace("rows", "tuples")),  # near-dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(planted):
    groups = {r["content_hash"]: r for r in D.exact_duplicate_groups(planted).collect()}
    assert len(groups) == 5  # 6 docs, one exact pair
    dup = [g for g in groups.values() if g["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["canonical_doc_id"] == 0


def test_ngram_jaccard_finds_near_dups(planted):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(planted, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8
    assert (0, 5) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_minhash_lsh_matches_exact(planted):
    exact = {
        (r["doc_id_a"], r["doc_id_b"]) for r in D.ngram_jaccard_pairs(planted, 0.5).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"]) for r in D.minhash_lsh_dedup(planted, 0.5).collect()
    }
    assert lsh == exact and exact  # finds the same non-empty pair set


def test_oph_lsh_matches_exact(planted):
    exact = {
        (r["doc_id_a"], r["doc_id_b"]) for r in D.ngram_jaccard_pairs(planted, 0.5).collect()
    }
    oph = {
        (r["doc_id_a"], r["doc_id_b"]) for r in D.minhash_lsh_dedup_oph(planted, 0.5).collect()
    }
    assert oph == exact and exact


def test_oph_signatures_dense_and_deterministic(spark):
    # Short docs (<128 shingles) force empty bins; rotation densification
    # must fill every one of the 128 columns, and two docs with identical
    # text must produce identical signatures.
    dup = spark.createDataFrame(
        [(10, "tiny text"), (11, "tiny text")], "doc_id long, text string"
    )
    sigs = D._shingle_payload(dup, "doc_id", "text", 5, D._oph_mins).collect()
    by_id = {r["doc_id"]: _sig(r) for r in sigs}
    assert all(v is not None for v in by_id[10])  # densified: no holes
    assert by_id[10] == by_id[11]  # content-determined


def test_lsh_params_reproduce_calibrated_constants():
    # threshold=0.5 must reproduce round-1's hand-calibrated prefilters
    # exactly (r=2, min_bands=3, est cutoff 38/128) so registered-query
    # hashes are unchanged by the derivation.
    assert D._lsh_params(0.5) == (2, 3, 38)


def test_minhash_lsh_low_threshold_matches_exact(planted):
    # threshold=0.35 sits below the r=2 banding regime; the derived r=1
    # params must keep the exact-output contract (this call silently
    # dropped true pairs when the prefilters were fixed 0.5-calibrated
    # constants).
    exact = {
        (r["doc_id_a"], r["doc_id_b"]) for r in D.ngram_jaccard_pairs(planted, 0.35).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"]) for r in D.minhash_lsh_dedup(planted, 0.35).collect()
    }
    assert lsh == exact and len(exact) > 3  # wider than the 0.5 pair set


def test_minhash_lsh_rejects_unguaranteeable_threshold(planted):
    with pytest.raises(ValueError, match="threshold"):
        D.minhash_lsh_dedup(planted, threshold=0.1)


def test_simhash_near_dups_close(planted):
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(planted).collect()}
    assert all(len(s) == 16 for s in sig.values())
    assert sig[0] == sig[1]  # identical content -> identical signature

    def hamming(a: str, b: str) -> int:
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    # One-word change perturbs the signature less than unrelated content.
    # (Short docs have many near-zero bit charges, so absolute distances
    # are noisy; the *ordering* near-dup < unrelated is the invariant.)
    assert hamming(sig[0], sig[2]) < hamming(sig[0], sig[3])
    assert hamming(sig[0], sig[5]) < hamming(sig[0], sig[3])


def test_simhash_near_pairs(planted):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(planted, max_hamming=16).collect()
    }
    assert pairs.get((0, 1)) == 0  # exact dup at distance 0
    assert (3, 4) not in pairs  # unrelated docs don't pair


def test_simhash_blocking_finds_spread_bits(spark):
    # 4 differing bits, one in each 16-bit quarter — the exact case naive
    # 4-quarter blocking misses (every quarter differs). With max_hamming=6
    # the Manku pigeonhole (7 blocks) guarantees at least one agreeing
    # block, so the pair MUST surface.
    sig = spark.createDataFrame(
        [
            (0, "0000000000000000"),
            (1, "1000100010001000"),  # hamming 4, spread across quarters
            (2, "ffffffffffffffff"),  # hamming 64 from doc 0
        ],
        "doc_id long, simhash string",
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in D.simhash_pairs_from_signatures(sig, max_hamming=6).collect()
    }
    assert got == {(0, 1): 4}


def test_simhash_blocking_verify_excludes_over_threshold(spark):
    # 7 differing bits > max_hamming=6: even if blocking proposes the pair,
    # the exact-hamming verify must drop it.
    sig = spark.createDataFrame(
        [(0, "0000000000000000"), (1, "000000000000007f")],
        "doc_id long, simhash string",
    )
    assert D.simhash_pairs_from_signatures(sig, max_hamming=6).count() == 0


def test_incremental_matches_batch_restriction(planted):
    # Split planted docs: {2, 5} arrive as the new batch. Incremental pairs
    # must equal the full batch pair set restricted to pairs touching 2 or 5.
    new = planted.filter(F.col("doc_id").isin(2, 5))
    corpus = planted.filter(~F.col("doc_id").isin(2, 5))
    full = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(planted, 0.5).collect()
    }
    expected = {p: j for p, j in full.items() if p[0] in (2, 5) or p[1] in (2, 5)}
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.minhash_lsh_incremental(corpus, new, 0.5).collect()
    }
    assert got == expected and expected


def test_neardup_clusters_components(spark):
    # Chain 0-1-2-3 (forces multiple propagation rounds), pair {10,11},
    # singletons 20, 21.
    docs = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 10, 11, 20, 21)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 21}


def test_star_clusters_adversarial_chain(spark):
    # A 120-node path graph: diameter 119, so min-label propagation needs
    # ~119 rounds (>10 by far) — the regime large-star/small-star exists
    # for. It must converge well inside 30 star rounds and label every
    # node with the chain head.
    n = 120
    docs = spark.createDataFrame([(i,) for i in range(n + 2)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_a long, doc_id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters_star(docs, pairs).collect()}
    expect = {i: 0 for i in range(n)}
    expect[n] = n  # singletons
    expect[n + 1] = n + 1
    assert got == expect


def test_star_clusters_max_iter_zero_raises(spark):
    # ADVICE r10: max_iter=0 on a NON-empty graph must raise
    # non-convergence (r10's empty-graph sentinel reused max_iter and
    # silently returned labels from the raw unconverged edge list).
    import pytest as _pytest

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1)], "doc_id_a long, doc_id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.neardup_clusters_star(docs, pairs, max_iter=0)
    # ... while an empty graph still short-circuits to all-singletons.
    empty = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters_star(docs, empty, max_iter=0).collect()}
    assert got == {i: i for i in range(4)}


def test_star_clusters_match_propagation(planted):
    pairs = D.ngram_jaccard_pairs(planted, threshold=0.5)
    star = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters_star(planted, pairs).collect()}
    prop = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters(planted, pairs).collect()}
    assert star == prop


def test_star_clusters_random_graph_matches(spark):
    import random

    rng = random.Random(11)
    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    es = {tuple(sorted(rng.sample(range(60), 2))) for _ in range(45)}
    pairs = spark.createDataFrame(sorted(es), "doc_id_a long, doc_id_b long")
    star = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters_star(docs, pairs).collect()}
    prop = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters(docs, pairs).collect()}
    assert star == prop


def test_neardup_clusters_on_planted(planted):
    pairs = D.ngram_jaccard_pairs(planted, threshold=0.5)
    got = {r["doc_id"]: r["cluster_id"] for r in D.neardup_clusters(planted, pairs).collect()}
    # 0,1 exact dup + 2,5 near-dups of 0 -> one cluster rooted at 0;
    # 3 and 4 are unrelated singletons.
    assert got == {0: 0, 1: 0, 2: 0, 5: 0, 3: 3, 4: 4}


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["vec_id_a"], r["vec_id_b"]) for r in D.embedding_near_dup_pairs(df, 0.95).collect()}
    assert pairs == {(0, 1)}


def test_embedding_blocked_matches_bruteforce(spark):
    # Clustered corpus (two tight clusters + stragglers): the blocked form
    # must return exactly the brute-force pair set, and its plan must not
    # contain a BroadcastNestedLoopJoin (candidate generation is equi-join
    # only — the design contract the brute-force d5 form violates).
    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        center = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [c + rng.gauss(0, 0.15) for c in center]))
    for i in range(40, 50):  # isotropic stragglers
        rows.append((i, [rng.gauss(0, 1) for _ in range(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    brute = {
        (r["vec_id_a"], r["vec_id_b"], r["cosine"])
        for r in D.embedding_near_dup_pairs(df, 0.45).collect()
    }
    blocked_df = D.embedding_neardup_blocked(df, 0.45, n_centroids=8)
    blocked = {
        (r["vec_id_a"], r["vec_id_b"], r["cosine"]) for r in blocked_df.collect()
    }
    assert blocked == brute and len(brute) > 100
    plan = blocked_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_hamming_hex_expression(spark):
    df = spark.createDataFrame([("f0f0", "0f0f"), ("abcd", "abcd")], "a string, b string")
    got = [r[0] for r in df.select(D.hamming_hex(F.col("a"), F.col("b"))).collect()]
    assert got == [16, 0]


WORDS = (
    "stream batch window watermark shuffle join sort merge hash bucket "
    "partition index probe sketch signature band shingle"
).split()


def _stream_hashes(docs) -> dict[int, set[int]]:
    """Per doc, the set of its hashes in the (doc_id, _p, h64) stream."""
    hashes: dict[int, set[int]] = {}
    for r in D._hashed_shingle_stream(docs, "doc_id", "text", 5).collect():
        hashes.setdefault(r["doc_id"], set()).add(r["h64"])
    return hashes


@pytest.fixture(scope="module")
def seeded_stream(spark):
    """Seeded documents and, per doc, the set of its shingle hashes. Doc
    lengths run from fewer shingles than OPH bins (empty bins to densify)
    to a few hundred."""
    import random

    rng = random.Random(11)
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 60))))
            for i in range(8)
        ],
        "doc_id long, text string",
    )
    return docs, _stream_hashes(docs)


def _sig(row) -> list[int]:
    return [row[f"m{i}"] for i in range(D.NUM_PERM)]


def _minhash_reference(hs: set[int]) -> list[int]:
    """m_i = min over the doc's distinct hashes of
    (a_i * (h64 mod 2^32) + b_i) mod P, in Python integers."""
    return [
        min((a * (h % (1 << 32)) + b) % D._MERSENNE_P for h in hs)
        for a, b in zip(D._PERM_A, D._PERM_B)
    ]


def _small_batches(spark, build):
    """Collect ``build()`` on 7-row Arrow batches, so most documents
    straddle two or more batches and the fold's carry is exercised."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        return build().collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def _hash_sets(rows) -> dict:
    return {r["doc_id"]: (r["sz"], set(r["hsh"])) for r in rows}


def test_sig_payload_matches_python_reference(spark, seeded_stream):
    """The fold's signature, hash set and size against a Python reference
    over the collected stream. Guards the fold's int64 arithmetic, which
    the exact-Jaccard pair oracles would only catch if a pair flipped."""
    docs, hashes = seeded_stream
    rows = _small_batches(spark, lambda: D._shingle_payload(docs, "doc_id", "text", 5))
    assert len(rows) == len(hashes)
    assert {r["doc_id"]: _sig(r) for r in rows} == {
        doc: _minhash_reference(hs) for doc, hs in hashes.items()
    }
    assert _hash_sets(rows) == {doc: (len(hs), hs) for doc, hs in hashes.items()}


def _oph_reference(hs: set[int]) -> list[int]:
    """Per-bin min of the unsigned value bits, then rotation densification:
    an empty bin takes the nearest non-empty bin to its right, circularly."""
    n = D.NUM_PERM
    bins: list[int | None] = [None] * n
    for h in hs:
        b, v = h % n, (h & ((1 << 64) - 1)) >> 7
        bins[b] = v if bins[b] is None else min(bins[b], v)
    return [
        next(bins[(i + k) % n] for k in range(n) if bins[(i + k) % n] is not None)
        for i in range(n)
    ]


def test_oph_densify_matches_python_rotation(spark, seeded_stream):
    """The OPH fold against a Python per-bin minimum plus rotation; short
    documents leave bins empty for the rotation to fill."""
    docs, hashes = seeded_stream
    assert any(len(hs) < D.NUM_PERM for hs in hashes.values())  # some bins borrow
    rows = _small_batches(spark, lambda: D._shingle_payload(docs, "doc_id", "text", 5, D._oph_mins))
    assert {r["doc_id"]: _sig(r) for r in rows} == {
        doc: _oph_reference(hs) for doc, hs in hashes.items()
    }
    assert _hash_sets(rows) == {doc: (len(hs), hs) for doc, hs in hashes.items()}


def test_dfpruned_payload_matches_python_reference(spark):
    """d3c's payload against a Python DF cut: a shingle in more than
    max_df_pct% of the documents adds no hash, a document keeps its row
    when its first shingle is pruned, and a document whose every shingle
    is pruned (like one too short to shingle) has no row."""
    import random

    rng = random.Random(5)
    header = "boilerplate header "
    texts = {i: header + " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 30))) for i in range(4)}
    texts.update({i: " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 40))) for i in range(4, 9)})
    texts[9] = header.strip()  # every shingle is in docs 0-3 too
    texts[10] = "tiny"
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    pct = 30  # frequent: in more than 3 of the 11 documents

    occ = D._hashed_shingle_stream(docs, "doc_id", "text", 5).join(
        D._shingle_stream(docs, "doc_id", "text", 5), ["doc_id", "_p"]
    )
    shingles: dict[int, dict[str, int]] = {}
    for r in occ.collect():
        shingles.setdefault(r["doc_id"], {})[r["sh"]] = r["h64"]
    df: dict[str, int] = {}
    for sh in shingles.values():
        for s in sh:
            df[s] = df.get(s, 0) + 1
    kept = {
        doc: {h for s, h in sh.items() if df[s] * 100 <= pct * len(texts)}
        for doc, sh in shingles.items()
    }
    assert df[header[:5]] * 100 > pct * len(texts)  # docs 0-3 lose their first shingle
    assert not kept[9] and all(kept[i] for i in range(4))
    want = {doc: hs for doc, hs in kept.items() if hs}

    rows = _small_batches(spark, lambda: D._dfpruned_payload(docs, "doc_id", "text", 5, pct))
    assert {r["doc_id"]: _sig(r) for r in rows} == {
        doc: _minhash_reference(hs) for doc, hs in want.items()
    }
    assert _hash_sets(rows) == {doc: (len(hs), hs) for doc, hs in want.items()}


FOLDS = {
    "minhash": lambda docs: D._shingle_payload(docs, "doc_id", "text", 5),
    "oph": lambda docs: D._shingle_payload(docs, "doc_id", "text", 5, D._oph_mins),
    "dfpruned": lambda docs: D._dfpruned_payload(docs, "doc_id", "text", 5, 50),
}


@pytest.mark.parametrize(
    "rows, message",
    [
        ([(1, "repeated document one"), (2, "another document"), (1, "repeated document two")],
         "doc_id 1 names more than one document"),
        ([(None, "a document without an id"), (2, "another document")], "null doc_id"),
    ],
)
def test_fold_payload_rejects_repeated_and_null_doc_ids(spark, rows, message):
    """The fold's precondition is unique, non-null doc_ids: where a
    grouped payload would merge a repeated id's documents into one
    signature, every fold (permutation minima, OPH, DF-pruned) fails the
    job."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for name, fold in FOLDS.items():
        with pytest.raises(Exception, match=message):
            fold(docs).collect()
            pytest.fail(f"the {name} fold accepted the documents")


def test_wide_builders_stay_within_gateway_call_budget(spark, monkeypatch):
    """Building each NUM_PERM-wide operator must stay a handful of py4j
    round trips: the expressions go to the JVM as SQL text. Assembled one
    Column at a time they cost 5k-24k calls (seconds of driver time per
    streaming micro-batch); this fails if a builder goes back to that."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    doc = spark.createDataFrame([(1, "one document")], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    payload = D._shingle_payload(doc, "doc_id", "text", 5)
    builders = {
        **{f"{name} fold": lambda fold=fold: fold(doc) for name, fold in FOLDS.items()},
        "_band_buckets": lambda: D._band_buckets(payload),
        "_est_filter": lambda: D._est_filter(cand, payload, 38),
    }
    builder_thread = threading.get_ident()
    n = [0]
    send = client.send_command

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread releases dead JVM references on its own
        # schedule; those releases are not calls the build makes
        n[0] += threading.get_ident() == builder_thread
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    calls = {}
    for name, build in builders.items():
        n[0] = 0
        build()
        calls[name] = n[0]
    monkeypatch.undo()
    assert max(calls.values()) <= 300, calls
