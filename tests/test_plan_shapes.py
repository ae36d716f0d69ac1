"""Engine-wide plan-shape guard: no registered query may plan a
CartesianProduct or BroadcastNestedLoopJoin unless it is on the explicit
allowlist below — the structural property that keeps every operator
shuffle-join-shaped (distributable) at 100 TB. A new query that
accidentally introduces a non-equi join fails here before it ever ships.
"""

from __future__ import annotations

import re

import pytest

from kafka_streaming_polymarket_pipeline_spark import plans

# Queries whose nested-loop is a deliberate, documented design choice, with
# the reason. Everything else must be equi-join only.
ALLOWED_NESTED = {
    "d5_embedding_neardup": "brute-force oracle-contrast form by design "
                            "(first-class path is d5b, which is BNLJ-free)",
    "s1_ann_bruteforce_topk": "exact rerank baseline: tiny query set "
                              "broadcast against the corpus on a non-equi "
                              "self-exclusion predicate",
    "s2_ann_ivf_topk": "O(n x C) centroid assignment: crossJoin against a "
                       "broadcast C-row (C=16) centroid table",
    "s2_recall": "embeds s1 (exact baseline) and s2 (centroid crossJoin)",
    "s3_recall": "embeds s1 (exact baseline)",
    "a6_count_empty_marker": "crossJoin against the distinct event-type "
                             "dimension — broadcast-tiny by construction",
    "j2_interval_join": "the non-equi interval join IS the operator's "
                        "semantic reference form; j2b is the bucketed "
                        "equi-join scale path (and must stay BNLJ-free)",
    "q2_pq_adc_topk": "one-row broadcast codebook attach (corpus x 1 row) "
                      "and ADC scoring against the broadcast query-LUT set "
                      "— the PQ design: per-pair cost is m=8 lookups, the "
                      "corpus side never shuffles",
    "q2_recall": "embeds s1 (exact baseline) and q2 (codebook/LUT attach)",
    "q3_ivf_pq_topk": "embeds s2's centroid crossJoin (C=16 broadcast) and "
                      "q2's one-row codebook attach; candidate generation "
                      "itself is the IVF cell equi-join",
    "q3_recall": "embeds s1 (exact baseline) and q3 (centroid/codebook "
                 "attach)",
    "t11_tfidf_top_terms": "crossJoin against the broadcast one-row corpus "
                           "doc-count aggregate",
    "t12_bigram_lm_score": "crossJoin against the broadcast one-row "
                           "vocabulary-size aggregate",
    "x4_temperature_weights": "two one-row broadcast aggregates (total "
                              "count, partition normalizer) against the "
                              "per-language count frame",
    "x5_temperature_repeats": "same two one-row broadcast aggregates as "
                              "x4; the per-doc join is a broadcast "
                              "equi-join on lang",
    "e2e_corpus_build_t": "embeds x5's one-row broadcast aggregates "
                          "(total count, temperature normalizer)",
    "sh2_epoch_shuffle": "crossJoin against the broadcast one-row corpus "
                         "count aggregate (epoch_pos = global_rank - "
                         "epoch * N)",
    "d3c_minhash_lsh_dfpruned": "crossJoin against the broadcast one-row "
                                "corpus doc-count aggregate (the integer "
                                "max-df cut df*100 <= pct*n_docs)",
    "d12c_prefix_jaccard_dfpruned": "same one-row broadcast doc-count "
                                    "crossJoin as d3c (the integer max-df "
                                    "cut), applied before the AllPairs "
                                    "prefix ordering",
    "x9_dsir_resample": "crossJoin against the broadcast ONE-ROW "
                        "(rtot, ttot) gram-total aggregate folded into "
                        "the <= 64-row model table — bytes-sized however "
                        "the corpus grows; the per-doc path is a "
                        "broadcast equi-join on bucket",
    "x9a_dsir_model_gate": "x9's model-fit stage alone: the same "
                           "crossJoin against the broadcast ONE-ROW "
                           "(rtot, ttot) gram-total aggregate",
    "x9c_dsir_lang_target": "x9's shape with a lang-slice target: the "
                            "same one-row broadcast gram-total crossJoin",
    "e2e_corpus_build_d": "embeds x9's one-row broadcast gram-total "
                          "aggregate (the DSIR model-fit stage)",
    "v3_unigram_estep": "crossJoin against the broadcast ONE-ROW vocab "
                        "total aggregate (seed-prob normalizer) and the "
                        "one-row used-total for the output log-probs",
    "v3b_unigram_em2": "same one-row broadcast normalizer aggregates as "
                       "v3, once per EM round",
    "v4_unigram_tokenize": "embeds v3b's one-row broadcast normalizer "
                           "aggregates (the model it applies)",
    "v5_unigram_doc_ppl": "embeds v3b's one-row broadcast normalizer "
                          "aggregates (the model it scores under); the "
                          "corpus path is a word-key equi-join + "
                          "groupBy(doc)",
    "x11_ccnet_ppl_buckets": "embeds v5 (v3b's one-row broadcast "
                             "normalizers); cutpoint apply is a broadcast "
                             "equi-join on lang against the <=n_langs "
                             "tertile rows",
    "x11b_ccnet_buckets_approx": "embeds x11's shape (v3b's one-row "
                                 "broadcast normalizers); both the exact "
                                 "and sketch cutpoint tables plus the "
                                 "per-lang agreement rates are <=n_langs "
                                 "broadcast rows",
    "e2e_corpus_build_v": "embeds x11 (v3b's one-row broadcast "
                          "normalizers + the <=n_langs cutpoint "
                          "broadcast); the gate filter, dedup canon "
                          "groupBy and token count are equi-join/"
                          "map-side",
    "a31_psi_drift": "crossJoin against the broadcast ONE-ROW min/max "
                     "aggregate for the shared binning; both slices count "
                     "in one groupBy(bin) conditional-sum pass (r08: no "
                     "per-slice branches, no join), totals from "
                     "unpartitioned window sums over <=10 bin rows",
    "a32_ks_two_sample": "same one-row broadcast min/max aggregate and "
                         "single conditional-sum binning pass as a31; the "
                         "CDF window runs over <=10 bin rows",
    "a33_wasserstein_drift": "same one-row broadcast min/max aggregate, "
                             "conditional-sum binning pass and one-row "
                             "bin-width broadcast as a31/a32; the CDF "
                             "window runs over the LITERAL 10-row bin "
                             "spine (empty-both bins must carry their "
                             "persisted CDF gap into the W1 sum)",
    "t20_quality_lr_train": "crossJoin against the broadcast ONE-ROW doc "
                            "count (the gradient's 1/N scale) once per "
                            "gradient step; everything else is equi-joins "
                            "on bucket/doc keys and the 64-row weight "
                            "spine",
    "t21_quality_lr_eval": "embeds t20's one-row broadcast doc-count "
                           "crossJoin (the gradient's 1/N scale) per "
                           "training step; its own only global op is the "
                           "rank window over the bounded held-out eval "
                           "set",
    "c1_kmeans_assign": "Lloyd assignment passes crossJoin against the "
                        "broadcast k-row (k=8) centroid table",
    "x6_unimax_budget": "crossJoins against the broadcast one-row "
                        "budget and water-fill-level aggregates",
    "x12_repeat_capped_alloc": "x6's shape: crossJoins against the "
                               "broadcast one-row total/normalizer/"
                               "weight-sum/cap-sum aggregates; the "
                               "per-language frame is O(#languages)",
    "t22_quality_lr_calibration": "crossJoin against the broadcast "
                                  "one-row min/max micro-probability "
                                  "aggregate (the adaptive bin range), "
                                  "x11's cutpoint shape",
    "d8_semantic_dedup": "embeds c1's k-row centroid crossJoin; the "
                         "within-cell pair join itself is an equi-join "
                         "on cell",
    "d8b_semantic_dedup_kscaled": "same centroid crossJoin as d8 but with "
                                  "k = max(4, n//125): the broadcast side "
                                  "grows with n, which is exactly the knob's "
                                  "documented limit — at corpus scale the "
                                  "linear path is d8c's sign-bit cells "
                                  "(row-local, no crossJoin at all)",
    "d9_semantic_clusters": "embeds d8 (c1's k-row centroid crossJoin); "
                            "star CC itself is equi-join/groupBy only",
    "b1_bm25_topk": "crossJoin against the broadcast one-row corpus "
                    "scalars aggregate (N, avgdl); index build, df, and "
                    "scoring joins are all equi-joins",
    "c2_pagerank": "embeds d8 (c1's k-row centroid crossJoin) plus two "
                   "one-row broadcast aggregates per iteration (node "
                   "count, dangling mass); contribution joins are "
                   "equi-joins on src/dst",
    "d10_semantic_decontam": "crossJoin against the broadcast eval set "
                             "(benchmark suites are small by nature); "
                             "scoring is map-side, the only shuffle is "
                             "the |eval|-row-group argmax window",
    "q4_binary_hamming_topk": "Hamming scan: broadcast 100-row query codes "
                              "against the corpus codes on a non-equi "
                              "self-exclusion predicate (s1's regime, but "
                              "over 512x-compressed codes that stay "
                              "executor-resident at 1B vectors)",
    "q4_recall": "embeds s1 (exact baseline) and q4 (broadcast code scan)",
    "a18_funnel_stages": "two crossJoins of broadcast ONE-ROW stage-count "
                         "aggregates (funnel summary row assembly)",
    "r15_top_supplier": "crossJoin against the broadcast one-row MAX "
                        "revenue aggregate (TPC-H Q15's scalar subquery)",
    "r22_idle_balances": "crossJoin against the broadcast one-row AVG "
                         "balance aggregate (TPC-H Q22's scalar subquery)",
    "r11_important_parts": "crossJoin against the broadcast one-row "
                           "avg-part-revenue threshold aggregate (TPC-H "
                           "Q11's HAVING-vs-global-fraction shape)",
    "c3_triangle_count": "embeds c1's k-row centroid crossJoin (via the "
                         "SemDeDup pair graph) plus the final one-row "
                         "broadcast n_edges aggregate attach; wedge build "
                         "and closure are equi-joins on vertex ids",
    "a28_pair_lift": "crossJoin against the broadcast one-row session "
                     "count; the pair join itself is a hash equi-join on "
                     "(user, session) with the type inequality residual",
    "a30_kmv_source_overlap": "four one-row broadcast aggregates (per-"
                              "source/union KMV estimates, exact-Jaccard "
                              "audit) crossJoined into the single output "
                              "row — the a18 assembly pattern; sketch "
                              "construction itself is windows + equi-joins",
    "a29_time_decay_sum": "crossJoin against the broadcast one-row "
                          "latest-timestamp aggregate (the decay "
                          "reference); the sum itself is one grouped "
                          "commutative aggregation",
}


def test_pq_seed_window_input_is_bounded(spark, sf_smoke):
    """The PQ codebook's seed pick must compile its orderBy().limit(k) to
    TakeOrderedAndProject (per-partition top-k, merged at the driver) so the
    row_number window downstream runs over exactly k rows — never a global
    sort of the corpus. Guards the one unpartitioned window in the q2/q3
    path (VERDICT r03 item 8). Asserted on the seed frame itself because the
    codebook localCheckpoints, hiding the seed stage from downstream plans."""
    from kafka_streaming_polymarket_pipeline_spark.operators import similarity as S
    from kafka_streaming_polymarket_pipeline_spark.tables import load

    k = 256
    seeds = S._pq_seeds(load(spark, sf_smoke, "embeddings"), "vec_id", "embedding", k)
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        "PQ seed pick lost its TakeOrderedAndProject — the seed window may "
        "be sorting the whole corpus in one partition"
    )
    assert seeds.count() == min(k, load(spark, sf_smoke, "embeddings").count())


# The only sanctioned Python-side compute in registered queries: the
# multimodal decode stages run Arrow-batched mapInPandas (codecs are
# genuinely non-relational), and every LSH payload runs one map-local
# MapInArrow fold over its shingle stream (dedup._fold_payload), which
# any query may plan. Everything else must stay JVM-side.
PANDAS_ALLOWED_PREFIXES = ("m1_", "m2_", "m3_", "m4_", "m4b_")
PAYLOAD_FOLD = re.compile(r"MapInArrow partial\(doc_id#\w+, _p#\w+, h64#\w+\)")


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(plans.all_queries()))
def test_no_unapproved_quadratic_join(spark, sf_smoke, name):
    df = plans.all_queries()[name](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # §2.9 JVM-purity guard, enforced registry-wide: no row-at-a-time
    # Python UDFs ever; no Pandas UDFs outside the multimodal codecs.
    assert "BatchEvalPython" not in plan, f"{name} plans a row-at-a-time Python UDF"
    if not name.startswith(PANDAS_ALLOWED_PREFIXES):
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, (
                f"{name} plans {node} — Python-side compute is sanctioned "
                "only for the multimodal codec queries"
            )
    for line in plan.splitlines():
        assert "MapInArrow" not in line or PAYLOAD_FOLD.search(line), (
            f"{name} plans a MapInArrow that is not the MinHash payload fold"
        )
    if name in ALLOWED_NESTED:
        return  # documented exception
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} plans a BroadcastNestedLoopJoin — candidate generation must "
        "be an equi-join (add to ALLOWED_NESTED only with a scale rationale)"
    )


def test_lsh_verify_join_strategy_is_size_conditional(spark, monkeypatch):
    """The LSH est/verify joins broadcast the per-doc payload sides at
    fixture scale but MUST fall back to shuffle-hash on doc_id above the
    configurable doc-count budget (r04 VERDICT item 4) — the 100 TB path
    needs the env knob, never a code edit. Same pairs either way."""
    from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a completely different document about stream processing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    # fixture scale: all four payload joins (est a/b, verify a/b — both
    # sides column-pruned projections of the ONE persisted payload frame
    # since r10) broadcast; no shuffle-hash anywhere
    small = D.minhash_lsh_dedup(df, threshold=0.5)
    assert plan_of(small).count("ShuffledHashJoin") == 0
    assert "BroadcastHashJoin" in plan_of(small)
    small_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in small.collect()}

    # force the scale path: budget of 0 docs -> the four payload joins
    # flip to shuffle-hash on doc_id (the band self-join is not part of
    # the knob — unhinted, it auto-broadcasts only at tiny scale)
    monkeypatch.setattr(D, "BROADCAST_VERIFY_MAX_DOCS", 0)
    big = D.minhash_lsh_dedup(df, threshold=0.5)
    assert plan_of(big).count("ShuffledHashJoin") == 4, (
        "doc-payload joins did not all flip to shuffle-hash above the budget"
    )
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in big.collect()} == small_pairs == {(0, 1)}


def _plan_lines(frame) -> list[str]:
    """The physical plan's lines; an executed frame's plan is read up to
    AQE's initial-plan copy."""
    plan = frame._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()


def _assert_fold_payload_plan(frame, where: str) -> None:
    """The payload's physical plan: a MapInArrow fold straight over the
    shingle Generate, with no aggregation anywhere and one Exchange, the
    doc_id hash repartition of the raw documents below the Generate."""
    lines = _plan_lines(frame)
    at = lambda node: [i for i, line in enumerate(lines) if node in line]  # noqa: E731
    assert not at("HashAggregate") and not at("SortAggregate"), (
        f"{where}: the payload plans an aggregation — the fold should "
        "replace explode -> groupBy(doc_id)"
    )
    [fold], [generate] = at("MapInArrow"), at("Generate")
    assert PAYLOAD_FOLD.search(lines[fold]), f"{where}: {lines[fold]}"
    exchanges = at("Exchange")
    assert fold < generate, f"{where}: the fold does not sit above the Generate"
    assert len(exchanges) == 1 and "hashpartitioning(doc_id" in lines[exchanges[0]], (
        f"{where}: the only Exchange must be the doc_id hash repartition:\n"
        + "\n".join(lines[i] for i in exchanges)
    )
    assert exchanges[0] > generate, (
        f"{where}: an Exchange sits between the Generate and the payload"
    )


def _assert_fold_over_its_generate(frame, where: str) -> None:
    """d3c's payload: its plan also counts document frequencies (an
    aggregate below the broadcast of the frequent shingles), but between
    the fold and the shingle Generate it feeds there is no Exchange and
    no aggregate, only the broadcast join's streamed side."""
    lines = _plan_lines(frame)
    [fold] = [i for i, line in enumerate(lines) if "MapInArrow" in line]
    assert PAYLOAD_FOLD.search(lines[fold]), f"{where}: {lines[fold]}"
    generate = next(i for i in range(fold, len(lines)) if "Generate" in lines[i])
    between = lines[fold + 1:generate]
    assert any("BroadcastHashJoin" in line and "LeftOuter" in line for line in between), (
        f"{where}: the pruning is not a broadcast left outer join:\n" + "\n".join(between)
    )
    assert not [line for line in between if "Exchange" in line or "Aggregate" in line], (
        f"{where}: an Exchange or aggregate sits between the Generate and the payload:\n"
        + "\n".join(between)
    )


def test_payload_fold_has_no_shuffle_or_aggregate(spark, sf_smoke, tmp_path, monkeypatch):
    """The payload of d3, d3d (OPH) and a streaming-dedup micro-batch is
    one map-side stage after the doc_id repartition: no Exchange and no
    (Object)HashAggregate between the Generate and the payload; d3c's
    pruned stream adds only a broadcast join there. A micro-batch never
    calls ``scale.fan_out_narrow`` and never converts the batch to an
    RDD. Every fold is one the registry guard admits."""
    import os

    from pyspark.sql import DataFrame

    from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D
    from kafka_streaming_polymarket_pipeline_spark.operators import scale
    from kafka_streaming_polymarket_pipeline_spark.streaming import dedup_stream as DS
    from kafka_streaming_polymarket_pipeline_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    _assert_fold_payload_plan(D._shingle_payload(docs, "doc_id", "text", 5), "d3 payload")
    oph = D._shingle_payload(docs, "doc_id", "text", 5, D._oph_mins)
    _assert_fold_payload_plan(oph, "d3d payload")
    _assert_fold_over_its_generate(D._dfpruned_payload(docs, "doc_id", "text", 5, 10), "d3c payload")

    text = "the quick brown fox jumps over the lazy dog again and again"
    batch = spark.createDataFrame(
        [(0, text), (1, text + "!"), (2, "a different document about stream processing")],
        "doc_id long, text string",
    )
    payloads = []
    fold = D._shingle_payload

    def recording(*args, **kwargs):
        payloads.append(fold(*args, **kwargs))
        return payloads[-1]

    def forbidden(*args, **kwargs):
        raise AssertionError("a streaming-dedup micro-batch called fan_out_narrow")

    monkeypatch.setattr(D, "_shingle_payload", recording)
    monkeypatch.setattr(scale, "fan_out_narrow", forbidden)
    monkeypatch.setattr(DataFrame, "rdd", property(lambda self: forbidden()))
    pairs = str(tmp_path / "pairs")
    DS._sink_batch(batch, 0, str(tmp_path / "idx"), pairs, 0.5, 5)
    monkeypatch.undo()
    [payload] = payloads
    _assert_fold_payload_plan(payload, "streaming parts")
    got = spark.read.parquet(os.path.join(pairs, "batch=0")).collect()
    assert [(r["doc_id_a"], r["doc_id_b"]) for r in got] == [(0, 1)]
