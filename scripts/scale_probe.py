#!/usr/bin/env python
"""One-off scale probe (VERDICT r03 item 6): measure how the 5 heaviest
queries scale from 5k -> 15k -> 50k documents (sf0.1-equivalent -> ~sf1).

The official /root/testdata is read-only and stops at sf0.1, so the probe
generates its own corpora with the same statistical shape as the driver's
documents table (small shared vocabulary -> heavily templated text, 5
langs, 20 sources, ~50 words/doc) and 64-d embeddings. Both scales come
from the SAME generator, so the measured ratios are generator-controlled
even though the bytes differ from the driver's seed.

Usage: python scripts/scale_probe.py [--keep]
Writes parquet under /tmp/scale_probe/ and prints one JSON line per
(query, scale) with wall seconds; summarize into SCALE.md by hand.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

BASE = "/tmp/scale_probe"
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch window "
    "spark order data column join small line customer query a the big "
    "filter group sort shuffle read"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]  # en-heavy like the driver's
QUERIES = ["d3_minhash_lsh", "t7_winnow_fingerprints", "q2_pq_adc_topk",
           "q3_ivf_pq_topk", "s1_ann_bruteforce_topk", "t14_span_scrub",
           "d3c_minhash_lsh_dfpruned", "c1_kmeans_assign", "d8_semantic_dedup", "d8b_semantic_dedup_kscaled", "d8c_semantic_dedup_signcells",
           "b1_bm25_topk", "d10_semantic_decontam", "c2_pagerank",
           "q4_binary_hamming_topk", "t16_quality_classifier",
           "t17_char_entropy", "x8_weighted_sample",
           "j6_asof_join", "a24_ewma_per_user", "a23_mad_outliers",
           "c3_triangle_count", "j7_band_join", "w6_peak_concurrency",
           "a26_column_profile", "a27_markov_transitions",
           "d11_editdist_pairs",
           # round-6 additions (u11 skipped: needs lineitem, which this
           # generator doesn't synthesize)
           "a24b_ewma_unbounded", "a24c_ewma_timeaware",
           "j8_asof_forward_join", "j9_asof_nearest_join",
           "w7_rolling_median", "d13_keep_longest_per_cluster",
           "d12_prefix_jaccard_join",
           # round-8 additions: the routed facade (routes to the LSH leg
           # on this templated generator), and the ExactSubstr pair
           # (no planted 50-token copies here, so their output is ~0 and
           # the probe measures the gram-count shuffle's scan scaling)
           "d14_neardup_auto", "t18_exact_substr_spans",
           "t19_exact_substr_scrub"]
SCALES = {"0.1e": (5_000, 2_000), "0.3e": (15_000, 6_000), "1e": (50_000, 20_000)}
# d3's cost driver is similar-pair mass, quadratic on this templated corpus
# by construction — cap it at 0.3e unless --d3-full is passed.
D3_CAP = "0.3e"
# c3 embeds the SemDeDup pair pipeline with the oracle-pinned fixed k=8,
# which is super-linear at fixed cell count exactly like d8 (SCALE.md's
# documented knob) — probe it at the capped scales only.
CAPPED_AT_03E = {"d3_minhash_lsh", "c3_triangle_count",
                 # d13 embeds the full d3 funnel (LSH -> CC -> argmax), so it
                 # inherits d3's similar-pair-mass quadratic on this templated
                 # generator and the same cap
                 "d13_keep_longest_per_cluster",
                 # AllPairs prefix filtering needs token-frequency skew to
                 # prune; this generator's 30-word vocabulary has no rare
                 # tokens, so d12 degenerates toward the naive join here
                 # (measured 70/258/1141 s at 5k/15k/50k — see SCALE.md
                 # round 6). The driver's real corpus has a long-tail vocab.
                 "d12_prefix_jaccard_join",
                 # d14 routes to the banded funnel here, whose candidate
                 # mass on this 30-word-vocab generator is similar-pair
                 # bound exactly like d3 (same cap, same reason)
                 "d14_neardup_auto"}


def gen(dirpath: str, n_docs: int, n_emb: int, seed: int = 7) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    lens = rng.poisson(50, n_docs).clip(5)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lens]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "lang": pa.array([LANGS[i] for i in rng.randint(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.randint(0, 20, n_docs)]),
        "text": pa.array(texts),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(docs, os.path.join(dirpath, "documents.parquet"))
    emb = rng.randn(n_emb, 64).astype(np.float32)
    embt = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    })
    pq.write_table(embt, os.path.join(dirpath, "embeddings.parquet"))
    # events/orders for the time-series and robust-stat probes (j6/a23/a24):
    # per-user series depth matches the driver's testdata (~130 events/user).
    n_events = 4 * n_docs
    n_users = max(2, n_events // 130)
    ts0 = np.int64(1_760_000_000_000_000)  # µs epoch base
    ev = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(
            (ts0 + np.sort(rng.randint(0, 86_400_000_000, n_events).astype(np.int64))),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.randint(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(
            [["view", "click", "purchase", "signup", "error"][i]
             for i in rng.randint(0, 5, n_events)]
        ),
        "value": pa.array(rng.rand(n_events) * 100.0),
        "props": pa.array(["{}"] * n_events),
    })
    pq.write_table(ev, os.path.join(dirpath, "events.parquet"))
    n_orders = 3 * n_docs
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, max(2, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": pa.array(["O"] * n_orders),
        "o_totalprice": pa.array(rng.rand(n_orders) * 10_000.0),
        "o_orderdate": pa.array(
            (ts0 + rng.randint(0, 86_400_000_000, n_orders).astype(np.int64)),
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(
            [f"{i}-P" for i in rng.randint(1, 6, n_orders)]
        ),
    })
    pq.write_table(orders, os.path.join(dirpath, "orders.parquet"))
    # customer names for the SymSpell edit-distance probe (d11): dense
    # sequential numbering like the driver's testdata, so distance-1
    # pairs are plentiful and grow with n.
    n_cust = 2 * n_docs
    cust = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype("int32"), pa.int32()),
        "c_acctbal": pa.array(rng.rand(n_cust) * 10_000.0),
        "c_mktsegment": pa.array(["BUILDING"] * n_cust),
    })
    pq.write_table(cust, os.path.join(dirpath, "customer.parquet"))


def pruning_probe() -> None:
    """Streaming-dedup partition pruning in its DESIGN regime (r05
    verdict task #3): a low-duplicate corpus where candidates touch few
    doc-id buckets, so the kbucketed index read can actually skip dirs.

    Setup: 50k unique docs (per-doc random token vocab -> cross-doc
    Jaccard ~ 0) persisted as the index at 256 doc buckets (the 100 TB
    knob; the default 16 is sized for 1k-doc batches where ~every bucket
    is touched anyway). Probe batch: 1000 new docs of which 5 (0.5%) are
    near-dups of random index docs. Measured: index payload rows read
    (pruned vs full), probe wall, and pair-set equality.
    """
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streaming_polymarket_pipeline_spark.session import get_spark
    import kafka_streaming_polymarket_pipeline_spark.streaming.dedup_stream as ds
    from kafka_streaming_polymarket_pipeline_spark.streaming import batchdir

    rng = np.random.RandomState(11)
    base_dir = os.path.join(BASE, "pruning")
    shutil.rmtree(base_dir, ignore_errors=True)
    os.makedirs(base_dir, exist_ok=True)

    def rand_text(k: int = 60) -> str:
        return " ".join(
            "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=8))
            for _ in range(k)
        )

    n_index, n_batch, n_dups = 50_000, 1_000, 5
    index_texts = [rand_text() for _ in range(n_index)]
    spark = get_spark(app_name="pruning-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

    batchdir.N_BUCKETS = 256  # production layout knob, fixed at creation
    index_path = os.path.join(base_dir, "index")
    idx_df = spark.createDataFrame(
        list(zip(range(n_index), index_texts)), "doc_id long, text string"
    ).repartition(32)
    t0 = time.perf_counter()
    ds.write_index_batch(idx_df, index_path, batch_id=0)
    t_build = time.perf_counter() - t0

    # batch: 5 near-dups (mutate ~8% of a random index doc's tokens) + unique rest
    batch_rows = []
    dup_targets = rng.choice(n_index, size=n_dups, replace=False)
    for j, tgt in enumerate(dup_targets):
        toks = index_texts[tgt].split()
        for pos in rng.choice(len(toks), size=max(1, len(toks) // 12), replace=False):
            toks[pos] = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=8))
        batch_rows.append((n_index + j, " ".join(toks)))
    for j in range(n_dups, n_batch):
        batch_rows.append((n_index + j, rand_text()))
    new = spark.createDataFrame(batch_rows, "doc_id long, text string").localCheckpoint(
        eager=True
    )

    seen_touched: list = []
    parts = ds.checkpointed_parts(new)

    def run(pruned: bool):
        orig = batchdir.read

        def spy(*args, buckets=None, **kwargs):
            if pruned and buckets is not None:
                seen_touched.append(list(buckets))
            return orig(*args, buckets=buckets if pruned else None, **kwargs)

        batchdir.read = spy
        try:
            t0 = time.perf_counter()
            pairs = ds.incremental_pairs_against_index(new, index_path, parts=parts)
            rows = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
            return time.perf_counter() - t0, rows
        finally:
            batchdir.read = orig

    t_full, pairs_full = run(pruned=False)
    t_pruned, pairs_pruned = run(pruned=True)
    assert pairs_full == pairs_pruned, "pruning changed the pair set"

    # payload rows each mode reads (the payload table)
    lay = batchdir.layout(index_path, ds.TABLES)
    full_rows = batchdir.read(index_path, lay, ds.PAYLOAD, parts[0]).count()
    touched = sorted(set(seen_touched[0])) if seen_touched else []
    pruned_rows = (
        batchdir.read(index_path, lay, ds.PAYLOAD, parts[0], buckets=touched).count()
        if touched
        else 0
    )
    print(json.dumps({
        "scenario": "streaming_dedup_pruning_design_regime",
        "index_docs": n_index, "batch_docs": n_batch, "near_dups": n_dups,
        "doc_buckets": lay.n,
        "index_build_sec": round(t_build, 2),
        "probe_sec_unpruned": round(t_full, 2),
        "probe_sec_pruned": round(t_pruned, 2),
        "touched_buckets": len(touched),
        "payload_rows_full_read": full_rows,
        "payload_rows_pruned_read": pruned_rows,
        "pairs": len(pairs_pruned),
    }))
    shutil.rmtree(base_dir, ignore_errors=True)
    spark.stop()


def main() -> None:
    from kafka_streaming_polymarket_pipeline_spark import plans
    from kafka_streaming_polymarket_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

    for label, (nd, ne) in SCALES.items():
        d = os.path.join(BASE, label)
        docs_path = os.path.join(d, "documents.parquet")
        stale = True
        if os.path.exists(docs_path) and os.path.exists(os.path.join(d, "embeddings.parquet")):
            import pyarrow.parquet as _pq

            # A --keep dir from an older generator version may lack newer
            # columns (n_chars bit us once) or newer tables (events/orders)
            # — regenerate on schema drift.
            stale = "n_chars" not in _pq.read_schema(docs_path).names or not (
                os.path.exists(os.path.join(d, "events.parquet"))
                and os.path.exists(os.path.join(d, "orders.parquet"))
                and os.path.exists(os.path.join(d, "customer.parquet"))
            )
        if stale:
            shutil.rmtree(d, ignore_errors=True)
            gen(d, nd, ne)

    # Consult the near-dup router per probe corpus and log the decision
    # (VERDICT r07 task 3: ops tooling must CALL the router, not just
    # ship it). This generator is templated by design, so the log also
    # records the flat-DF stats that send it to the LSH leg.
    from kafka_streaming_polymarket_pipeline_spark.operators.dedup_router import neardup_route
    from kafka_streaming_polymarket_pipeline_spark.tables import load

    for label in SCALES:
        route, stats = neardup_route(load(spark, os.path.join(BASE, label), "documents"))
        print(json.dumps({"neardup_route": route, "scale": label, **stats}), flush=True)

    registry = plans.all_queries()
    names = QUERIES
    for i, a in enumerate(sys.argv):  # --only q1,q2 probes a subset
        if a == "--only" and i + 1 < len(sys.argv):
            asked = [n for n in sys.argv[i + 1].split(",") if n]
            missing = [n for n in asked if n not in registry]
            if missing:
                raise SystemExit(
                    f"--only: not in the registry: {', '.join(missing)} "
                    f"(registered: {len(registry)} queries)"
                )
            names = asked
    results = []
    for name in names:
        for label in SCALES:
            if name in CAPPED_AT_03E and label == "1e" and "--d3-full" not in sys.argv:
                continue
            d = os.path.join(BASE, label)
            t0 = time.perf_counter()
            registry[name](spark, d).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            # queries that persist multi-consumer frames (the LSH funnel
            # family) otherwise tax whatever runs next in this session —
            # measured: t18's 0.1e row read 113 s after d14's passes vs
            # 21.3 s in a clean session (SCALE.md round 8)
            spark.catalog.clearCache()
            row = {"query": name, "scale": label, "sec": round(dt, 2)}
            results.append(row)
            print(json.dumps(row), flush=True)
    print(json.dumps({"summary": results}))
    if "--keep" not in sys.argv:
        shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    if "--pruning" in sys.argv:
        pruning_probe()
    else:
        main()
