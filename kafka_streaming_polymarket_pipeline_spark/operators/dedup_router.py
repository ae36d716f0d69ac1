"""Corpus-statistics router for exact-Jaccard near-dup detection.

d12 (AllPairs/PPJoin, plans/dedup_plans.py) prunes candidate pairs via
token-frequency skew: a doc's prefix tokens are its RAREST, and the
candidate mass is bounded by the sum of squared document frequencies
over prefix tokens. On long-tail vocabularies (real text) that mass is
near-linear in n; on template-heavy/tiny-vocab corpora every token has
DF ~ n/|V| and the candidate mass degenerates to Σ DF² ~ n²/|V|
(measured: 1140 s at 50k docs on the 30-word-vocab probe corpus vs
near-linear on long-tail text — SCALE.md round 6). The ROUTING CONTRACT
was prose until round 7; this module makes it executable: estimate the
candidate mass from the corpus's own DF distribution (one token-key
shuffle — the same shape as d12's first stage, so the estimate is never
more expensive than one pass of the thing it gates) and route
template-heavy corpora to the LSH family (d3c DF-pruned funnel) instead.

Estimator: candidates_per_doc = Σ_t DF_t² / n, an upper bound on the
average number of candidate comparisons AllPairs can be asked to make
per doc (prefix filtering only shrinks it). Compare against the
corpus's average token count: AllPairs is the right tool when a doc
meets roughly its own vocabulary's worth of candidates; once
candidates_per_doc exceeds ``factor`` × avg_tokens the prefix filter
has provably lost its lever (flat DF) and LSH's banded signatures are
the scale path. The default factor 10 sits two orders of magnitude
between the two measured regimes (long-tail: candidates_per_doc ≈
avg_tokens × O(1); 30-word template vocab: ≈ n × |V| / avg — crossover
is unambiguous).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark.operators import dedup as D


def neardup_route_stats(
    docs: DataFrame,
    text_col: str = "text",
    sample_fraction: float | None = None,
    seed: int = 7,
) -> dict:
    """Compute the routing statistics. One shuffle on token; pass
    ``sample_fraction`` to estimate from a Bernoulli sample at very
    large n. Candidate mass is quadratic in DF, so the sampled reading
    is EXTRAPOLATED back to full-corpus scale (a p-sample sees DF' ≈
    p·DF and n' ≈ p·n, hence Σ DF'²/n' ≈ p · Σ DF²/n — divide by p).

    Returns {n_docs, avg_tokens, candidates_per_doc, df_flatness} where
    df_flatness = candidates_per_doc / avg_tokens (the routing ratio:
    ~O(1) on long-tail text, ~n/|V| on templated corpora). n_docs and
    candidates_per_doc are full-corpus-scale estimates when sampling.
    """
    d = docs.select(F.split(F.col(text_col), r"\s+").alias("toks"))
    if sample_fraction:
        d = d.sample(fraction=sample_fraction, seed=seed)
    # two aggregations consume the tokenized frame (DF² needs a token-key
    # shuffle, n/avg are doc-level) — persist so the input scan +
    # tokenize + sample run once, not once per action
    d = d.persist()
    try:
        df_sq = (
            d.select(F.explode(F.array_distinct("toks")).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
            .agg(F.sum(F.col("df") * F.col("df")).alias("df_sq"))
            .collect()[0]["df_sq"]
        )
        n, avg_toks = d.agg(
            F.count("*").alias("n"), F.avg(F.size("toks")).alias("avg_toks")
        ).collect()[0]
    finally:
        d.unpersist()
    n = max(n, 1)
    avg_toks = float(avg_toks or 1.0)
    cand_per_doc = float(df_sq or 0.0) / n
    scale = 1.0 / sample_fraction if sample_fraction else 1.0
    return {
        "n_docs": int(n * scale),
        "avg_tokens": round(avg_toks, 1),
        "candidates_per_doc": round(cand_per_doc * scale, 1),
        "df_flatness": round(cand_per_doc * scale / max(avg_toks, 1.0), 2),
    }


def neardup_route(
    docs: DataFrame,
    text_col: str = "text",
    factor: float = 10.0,
    sample_fraction: float | None = None,
) -> tuple[str, dict]:
    """('allpairs' | 'lsh', stats): run d12 when the prefix filter has a
    rare tail to prune with; route to the LSH family (d3c) when the DF
    distribution is flat enough that AllPairs' candidate mass
    degenerates quadratically (SCALE.md round 6 contract)."""
    stats = neardup_route_stats(docs, text_col, sample_fraction)
    route = (
        "lsh"
        if stats["candidates_per_doc"] > factor * stats["avg_tokens"]
        else "allpairs"
    )
    return route, stats


def token_set_lsh_pairs(
    docs: DataFrame,
    num: int = 1,
    den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The router's LSH leg: the MinHash banded funnel run over DISTINCT
    LOWERCASE WORD TOKENS — i.e. d12's exact similarity definition
    (token-set Jaccard >= num/den) served by d3's plan shape.  The point
    of the router is to swap the PLAN, never the semantics: d3c's
    DF-pruned funnel computes pruned-set char-shingle Jaccard, a
    deliberately different similarity, so routing a d12 caller there
    would silently change the answer — this leg keeps the answer and
    changes only the candidate-generation physics (banded signatures,
    which are DF-blind, where AllPairs' rare-prefix lever has provably
    degenerated; SCALE.md round 6).

    Funnel stages and their exactness bounds are the d3 machinery
    verbatim (band buckets -> band-count cut -> 128-column signature
    estimate -> exact verify); the verify predicate is d12's INTEGER
    cross-multiplication ``den*i >= num*(sa+sb-i)`` over hashed token
    arrays, so the two routes agree bit-for-bit on emitted pairs (no
    float threshold edge; hash-collision odds ~5e-15/pair, the funnel's
    standing tolerance).  Banding miss probability at t>=0.5 is
    <=1e-8/pair (``_lsh_params``) — the documented approximation the
    LSH family always carries."""
    from kafka_streaming_polymarket_pipeline_spark.operators.text import tokens

    # One codegen token-hash stream (posexplode: a doc's tokens in order,
    # the first at _p = 0) into the funnel's map-local payload fold (the
    # fold dedups the multiset, the permutation mins are
    # duplicate-insensitive), then the shared band -> band-count ->
    # merged est+verify tail with the d12 integer predicate (see
    # dedup._fold_payload and dedup._payload_funnel).
    def token_stream(parts):
        return parts.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_p", "t"),
        ).select("doc_id", "_p", F.xxhash64("t").alias("h64"))

    return D._payload_funnel(
        D._fold_payload(docs, id_col, token_stream), num / den, int_pred=(num, den)
    )


def neardup_pairs_auto(
    docs: DataFrame,
    num: int = 1,
    den: int = 2,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    factor: float = 10.0,
    sample_fraction: float | None = None,
    route: str | None = None,
) -> tuple[DataFrame, str, dict]:
    """Routed facade for exact token-set-Jaccard >= num/den near-dup
    pairs — the executable form of the routing contract (VERDICT r07
    task 3: the contract existed but nothing called it).  Returns
    ``(pairs, route, stats)`` so callers can log the decision:

    - ``allpairs``: :func:`~...dedup.prefix_jaccard_pairs` (d12) — exact,
      near-linear candidate mass on long-tail vocabularies where the
      rare-prefix filter has a lever;
    - ``lsh``: :func:`token_set_lsh_pairs` — the banded funnel, DF-blind,
      for template-heavy/flat-DF corpora where AllPairs' candidate mass
      degenerates to ~n²/|V| (measured: 1140 s at 50k docs on the
      30-word-vocab probe vs near-linear on long-tail text).

    Both legs emit the SAME pair set — (doc_id_a, doc_id_b, jaccard),
    identical integer verify predicate — modulo the LSH leg's documented
    <=1e-8/pair banding miss.  ``route`` forces a leg (ops/testing);
    ``sample_fraction`` estimates the routing stats from a Bernoulli
    sample at very large n (one token-key shuffle either way, never more
    than one pass of what it gates)."""
    stats: dict
    if route is None:
        route, stats = neardup_route(docs, text_col, factor, sample_fraction)
    else:
        if route not in ("allpairs", "lsh"):
            raise ValueError(f"unknown route {route!r}")
        stats = {"forced": True}
    if route == "allpairs":
        pairs = D.prefix_jaccard_pairs(docs, id_col, text_col, num, den)
    else:
        pairs = token_set_lsh_pairs(docs, num, den, id_col, text_col)
    return pairs, route, stats
