"""Behavior tests for the late-round-4 additions: TPC-H Q15/Q16/Q17/Q19/
Q22-style heads, the explicit-values PIVOT, the hashed-feature quality
classifier, group split, weighted sampling, and char entropy.

The oracle battery already proves DuckDB equivalence; these tests pin the
SEMANTIC contracts (invariants that would survive an oracle rewritten
wrong on both sides).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark import plans
from kafka_streaming_polymarket_pipeline_spark.operators import sampling as S
from kafka_streaming_polymarket_pipeline_spark.operators import text as T
from kafka_streaming_polymarket_pipeline_spark.tables import load


def test_r15_winner_holds_max_revenue(spark, sf_smoke):
    rows = plans.all_queries()["r15_top_supplier"](spark, sf_smoke).collect()
    assert rows, "r15 returned no top supplier"
    revs = {r.total_revenue for r in rows}
    assert len(revs) == 1, "all returned suppliers must tie at the max"


def test_r16_excluded_suppliers_never_counted(spark, sf_smoke):
    """Any supplier with acctbal < 1000 must not contribute to any count:
    re-adding them can only grow counts."""
    out = plans.all_queries()["r16_supplier_counts"](spark, sf_smoke)
    li = load(spark, sf_smoke, "lineitem")
    part = load(spark, sf_smoke, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    unfiltered = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("all_cnt"))
    )
    joined = out.join(unfiltered, ["p_brand", "p_type", "p_size"]).collect()
    assert joined
    assert all(r.supplier_cnt <= r.all_cnt for r in joined)


def test_r17_threshold_only_keeps_small_quantities(spark, sf_smoke):
    """The r17 revenue must come only from lines below 20% of their part's
    average quantity — recomputed independently here."""
    li = load(spark, sf_smoke, "lineitem")
    part = load(spark, sf_smoke, "part").filter(F.col("p_brand") == "Brand#23")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.round(F.avg("l_quantity"), 6).alias("avg_qty")
    )
    kept = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("v"))
        .collect()[0]
        .v
    )
    got = plans.all_queries()["r17_small_qty_revenue"](spark, sf_smoke).collect()[0].avg_yearly
    assert got == kept


def test_u6_pivot_counts_sum_to_total(spark, sf_smoke):
    out = plans.all_queries()["u6_pivot_status"](spark, sf_smoke).collect()
    total = sum(r.n_f + r.n_o for r in out)
    assert total == load(spark, sf_smoke, "lineitem").count()


def test_t16_keep_flag_matches_logit_sign(spark, sf_smoke):
    rows = plans.all_queries()["t16_quality_classifier"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.keep == (r.quality_logit >= 0)
        assert abs(r.quality_prob - 1.0 / (1.0 + math.exp(-r.quality_logit))) < 1e-6
        assert r.n_features >= 1


def test_x7_groups_never_straddle_splits(spark, sf_smoke):
    out = plans.all_queries()["x7_group_split"](spark, sf_smoke)
    per_group = out.groupBy("source").agg(F.count_distinct("split").alias("k")).collect()
    assert per_group
    assert all(r.k == 1 for r in per_group), "a source group straddles splits"


def test_x8_sample_is_weight_biased_and_exact_k(spark, sf_smoke):
    """With weight = n_chars, the kept set's mean length must exceed the
    corpus mean (the whole point of weighting), and |sample| == k."""
    docs = load(spark, sf_smoke, "documents")
    out = S.weighted_sample_topk(docs, k=100, weight_col=F.greatest(F.col("n_chars"), F.lit(1)))
    rows = out.collect()
    assert len(rows) == 100
    mean_kept = sum(r.weight for r in rows) / len(rows)
    mean_all = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert mean_kept > mean_all


def test_x8_is_deterministic(spark, sf_smoke):
    q = plans.all_queries()["x8_weighted_sample"]
    a = {r.doc_id for r in q(spark, sf_smoke).collect()}
    b = {r.doc_id for r in q(spark, sf_smoke).collect()}
    assert a == b


def test_t17_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "a")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.h
        for r in T.char_entropy_frame(df)
        .select("doc_id", F.round(F.col("char_entropy_bits"), 9).alias("h"))
        .collect()
    }
    assert got[1] == 0.0
    assert got[2] == 1.0  # two symbols, uniform
    assert got[3] == 2.0  # four symbols, uniform
    assert got[4] == 0.0


def test_r22_returned_customers_have_no_recent_orders(spark, sf_correct):
    """Every counted customer must lack 1998+ orders; spot-check by
    reconstructing the dormant set and comparing aggregate counts."""
    out = plans.all_queries()["r22_idle_balances"](spark, sf_correct).collect()
    total = sum(r.numcust for r in out)
    cust = load(spark, sf_correct, "customer")
    orders = load(spark, sf_correct, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("b")
    ).collect()[0].b
    expect = (
        cust.filter(F.col("c_acctbal") > avg_bal)
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .count()
    )
    assert total == expect > 0


def _plan(spark, sf, name):
    df = plans.all_queries()[name](spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def test_x8_is_take_ordered_no_shuffle(spark, sf_smoke):
    """The weighted draw must compile to TakeOrderedAndProject with no
    DATA shuffle — per-partition heaps merged at the driver. Any
    regression to a global sort or a row_number window would surface as
    a range/hash exchange. (tables.load's r11 fan-out of narrow
    documents scans adds a round-robin exchange below the heap — that
    is input widening, not a sort, and is explicitly allowed.)"""
    p = _plan(spark, sf_smoke, "x8_weighted_sample")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "Exchange hashpartitioning" not in p
    assert "Exchange SinglePartition" not in p  # no CollectLimit / global sort
    assert "Window" not in p


def test_w5_scd2_reuses_one_sort(spark, sf_smoke):
    """lag-collapse and lead-close share the (user, ts, event_id) order:
    the executed plan must hold exactly one shuffle and one sort feeding
    both Window nodes."""
    import re

    p = _plan(spark, sf_smoke, "w5_scd2_intervals")
    assert len(re.findall(r"Exchange", p)) == 1
    assert len(re.findall(r"\bSort\b", p)) == 1
    assert len(re.findall(r"\bWindow\b", p)) == 2


def test_a19_has_no_window_over_fact(spark, sf_smoke):
    """Cohort retention is aggregate + join + aggregate — never a window
    pass over the event fact."""
    p = _plan(spark, sf_smoke, "a19_cohort_retention")
    assert "Window" not in p


def test_r17_exchange_floor(spark, sf_smoke):
    """The decorrelated per-part AVG shape: 2 data shuffles on l_partkey +
    1 broadcast + the final 1-row aggregate exchange = 4. A fifth exchange
    means the join stopped aligning with the aggregate's partitioning."""
    import re

    p = _plan(spark, sf_smoke, "r17_small_qty_revenue")
    assert len(re.findall(r"Exchange", p)) <= 4
