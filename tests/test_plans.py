"""Plan-shape regression tests: the properties that make the headline
queries survive a 100 TB scale-up, asserted on the executed plans so a
refactor can't silently regress them."""

from __future__ import annotations

import os


def _plan(entry, spark, sf_dir, name: str) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_date_bound_to_scan(entry, spark, sf_dir):
    plan = _plan(entry, spark, sf_dir, "pricing_summary")
    # the cast(date)<=d filter must reach the parquet scan as a raw
    # timestamp bound (Catalyst rewrites it; a regression would show an
    # empty PushedFilters and a full scan)
    assert "LessThan(l_shipdate" in plan


def test_star_join_broadcasts_all_dims(entry, spark, sf_dir):
    plan = _plan(entry, spark, sf_dir, "star_join")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_uses_equi_key_not_bnlj(entry, spark, sf_dir):
    plan = _plan(entry, spark, sf_dir, "range_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_probes_equi_join_not_nested_loop(entry, spark, sf_dir):
    plan = _plan(entry, spark, sf_dir, "ann_lsh_topk")
    # multi-probe expansion + bucket equi-join; a hamming-predicate join
    # would reappear as a BroadcastNestedLoopJoin over the corpus
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_dedup_scale_paths_never_cartesian(entry, spark, sf_dir):
    for name in ("minhash_near_dup_pairs", "embedding_near_dup",
                 "simhash"):
        plan = _plan(entry, spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_plan_audit_flags_planted_unbounded_window(spark):
    """The audit's GLOBAL-WINDOW detector: an unpartitioned Window with
    no Limit below it is flagged; the same window after .limit() or a
    partitioned window passes."""
    import sys

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from plan_audit import audit

    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    planted = df.withColumn("rn", F.row_number().over(W.orderBy("id")))
    a = audit(plan(planted), "planted")
    assert a["gw"] == 1 and "GLOBAL-WINDOW" in a["flags"]

    bounded = (df.limit(10)
               .withColumn("rn", F.row_number().over(W.orderBy("id"))))
    assert audit(plan(bounded), "bounded")["gw"] == 0

    parted = df.withColumn(
        "rn", F.row_number().over(W.partitionBy("g").orderBy("id")))
    assert audit(plan(parted), "parted")["gw"] == 0


def test_bloom_semi_join_filters_before_exchange(entry, spark, sf_dir):
    """The bloom probe must be a pre-shuffle filter: the bitmap attaches
    via a 1-row broadcast (BNLJ scalar-attach), the probe-side Filter
    sits BELOW the join's Exchange, and no CartesianProduct appears."""
    plan = _plan(entry, spark, sf_dir, "bloom_semi_join")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row attach
    lines = plan.splitlines()
    # the bitmap probe is folded INTO the BNLJ condition (element_at on
    # the broadcast map) — no separate stage, no pre-probe shuffle
    bidx = [i for i, ln in enumerate(lines)
            if "BroadcastNestedLoopJoin" in ln and "element_at" in ln]
    assert bidx, "bloom probe condition missing from the BNLJ"
    # the large scan sits directly under the BNLJ with NO exchange in
    # between: the probe filters the fact table before any shuffle
    sidx = [i for i, ln in enumerate(lines)
            if "FileScan" in ln and "l_quantity" in ln]
    assert sidx, "large-side scan not found"
    between = lines[bidx[0] + 1:sidx[0]]
    assert not any("Exchange" in ln for ln in between), between


def test_margin_over_ivf_corpus_scale_plan(spark):
    """The corpus x corpus margin-mining regime
    (tools/margin_corpus_study.py): both directions fed from topk_ivf
    with broadcast_queries=False and a prebuilt index, candidates
    materialized once. Pinned: the candidate plans' only nested loops
    are the bounded 16-row centroid fan-outs (cached build lineage
    excluded), and the margin arithmetic itself — equi-joins plus
    <=k-rows-per-key groupBys over the materialized candidates — has
    ZERO nested loops and ZERO cartesian products."""
    import sys

    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators import similarity

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from margin_corpus_study import live_node_counts

    corpus = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(7)),
                    lambda i: F.cos(i * (F.col("id") + 1)))
        .alias("embedding")).persist()
    corpus.count()
    queries = corpus.select(
        (F.col("vec_id") + 1000).alias("query_id"),
        F.col("embedding").alias("query_vec")).persist()
    queries.count()
    index = similarity.ivf_build(corpus, n_centroids=8)
    fwd = similarity.topk_ivf(corpus, queries, k=3, nprobe=2,
                              index=index, broadcast_queries=False)
    bnlj, cart = live_node_counts(
        fwd._jdf.queryExecution().executedPlan().toString())
    assert (bnlj, cart) == (1, 0), (bnlj, cart)  # probe fan-out only
    bwd = similarity.topk_ivf(
        queries.select(F.col("query_id").alias("vec_id"),
                       F.col("query_vec").alias("embedding")),
        corpus.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("query_vec")),
        k=3, nprobe=2, n_centroids=8, broadcast_queries=False)
    bnlj, cart = live_node_counts(
        bwd._jdf.queryExecution().executedPlan().toString())
    assert bnlj <= 2 and cart == 0, (bnlj, cart)  # assign + probe
    margins = similarity.margin_topk(corpus, queries, k=3,
                                     fwd=fwd.persist(), bwd=bwd.persist())
    bnlj, cart = live_node_counts(
        margins._jdf.queryExecution().executedPlan().toString())
    assert (bnlj, cart) == (0, 0), (bnlj, cart)
    assert margins.count() > 0
    for d in (corpus, queries, index.assigned, fwd, bwd):
        d.unpersist()
