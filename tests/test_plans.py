"""Physical-plan regression tests: pruning, pushdown, shuffle budgets.

These encode the scale contract of each operator: a plan that reads extra
columns or adds an extra Exchange is a 100-TB incident, caught here at
60k rows.
"""

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import approx_distinct, approx_quantiles, cms_topk
from hyperloglog_spark.engine.plans import (
    assert_max_exchanges,
    assert_pruned_scan,
    n_exchanges,
    plan_string,
    pushed_filters,
    scan_columns,
)
from hyperloglog_spark.pipeline import exact_dedup, near_dup_pairs, token_stats


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    # other test modules may have cached this table; a cached
    # InMemoryRelation would replace the FileScan these tests audit
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf01_dir}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/documents.parquet")


def test_hll_scan_prunes_to_sketched_column(events):
    q = approx_distinct(events, "user_id")
    assert_pruned_scan(q, {"user_id"})          # 6-column table, 1 read
    assert "IsNotNull(user_id)" in pushed_filters(q)


def test_hll_grouped_single_shuffle(events):
    q = approx_distinct(events, "user_id", group_by="event_type")
    assert_pruned_scan(q, {"user_id", "event_type"})
    # one Exchange: partials -> grouped merge. Raw rows shuffle zero times.
    assert_max_exchanges(q, 1)


def _phase2_plans(spark, tmp_path_factory, events):
    from hyperloglog_spark import hll_sketch_agg, merge_sketches

    path = str(tmp_path_factory.mktemp("phase2") / "cells")
    hll_sketch_agg(events.withColumn("day", F.to_date("ts")), "user_id",
                   group_by=["event_type", "day"]).write.parquet(path)
    return {
        "grouped": approx_distinct(events, "user_id", group_by="event_type",
                                   engine="arrow"),
        "global": approx_distinct(events, "user_id", engine="arrow"),
        "merge_sketches": merge_sketches(spark.read.parquet(path),
                                         group_by="event_type"),
    }


def test_phase2_is_one_exchange_and_no_pandas_group_merge(
        spark, tmp_path_factory, events):
    # phase 2 is repartition(keys) + one streaming mapInArrow per shuffle
    # partition: exactly one Exchange, no per-group pandas call
    for name, q in _phase2_plans(spark, tmp_path_factory, events).items():
        plan = plan_string(q, "simple")
        assert n_exchanges(q) == 1, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        assert "MapInArrow" in plan, (name, plan)


def test_hll_filter_pushdown_reaches_scan(events):
    q = approx_distinct(events.filter(F.col("event_type") == "click"),
                        "user_id")
    pf = pushed_filters(q)
    assert any("event_type" in f and "EqualTo" in f for f in pf), pf


def test_quantiles_prune_and_single_shuffle(events):
    q = approx_quantiles(events, "value", [0.5, 0.9])
    assert_pruned_scan(q, {"value"})
    assert_max_exchanges(q, 1)


def test_cms_topk_shuffle_budget(events):
    q = cms_topk(events, "event_type", k=5)
    assert_pruned_scan(q, {"event_type"})
    # candidate agg + ranked merge: allow 2 shuffles, never more
    assert_max_exchanges(q, 2)


def test_exact_dedup_shuffles_fingerprint_not_payload(docs):
    q = exact_dedup(docs, "text", "doc_id")
    assert_pruned_scan(q, {"text", "doc_id"})
    assert_max_exchanges(q, 1)
    # the shuffled row is (hash, md5, doc_id) — the text column must be
    # projected away before the Exchange
    plan = q._jdf.queryExecution().executedPlan().toString()
    ex_idx = plan.find("Exchange")
    assert ex_idx != -1
    assert "text" not in plan[:ex_idx].split("Exchange")[0].split("+- Project")[0]


def test_token_stats_no_shuffle(docs):
    q = token_stats(docs, "text", "doc_id")
    assert n_exchanges(q) == 0                   # pure map-side projection


def test_neardup_bounded_shuffles(docs):
    q = near_dup_pairs(docs, "text", "doc_id")
    # sig build (0) + band groupBy (1) + pair distinct (1) + two sides of
    # the verify join (2) + final sort (1): budget 6, currently fewer
    assert_max_exchanges(q, 6)


def test_ngram_jaccard_bounded_shuffles_no_cartesian(docs):
    from hyperloglog_spark.pipeline import ngram_jaccard_pairs

    q = ngram_jaccard_pairs(docs, "text", "doc_id", threshold_permille=700)
    assert_pruned_scan(q, {"text", "doc_id"})
    # posting-list groupBy (1) + pair distinct (1) + verify join sides (2)
    # + final sort (1): same budget as the minhash path, no all-pairs join
    assert_max_exchanges(q, 6)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_scan_columns_helper(events):
    q = events.select("user_id")
    assert scan_columns(q) == {"user_id"}


def test_rollup_single_shuffle_and_pruned_scan(spark, tmp_path_factory, sf01_dir):
    from hyperloglog_spark import hll_sketch_agg, merge_sketches

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    path = str(tmp_path_factory.mktemp("plans") / "sketches")
    shards = hll_sketch_agg(
        ev.withColumn("day", F.to_date("ts")), "user_id",
        group_by=["event_type", "day"],
    )
    shards.write.parquet(path)
    stored = spark.read.parquet(path)
    q = merge_sketches(stored, group_by="event_type")
    # map-side combine (mapInArrow) happens BEFORE the only Exchange: the
    # wire carries at most (#partitions x #groups) sketch rows
    assert_max_exchanges(q, 1)
    assert_pruned_scan(q, {"event_type", "sketch"})  # day column pruned away


def test_ivf_topk_broadcast_join_no_sortmerge(spark, sf01_dir):
    from hyperloglog_spark.pipeline import ivf_topk

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = ivf_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id",
                 "embedding", k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the probe side must broadcast: no sort-merge join of the corpus
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # cell join + final top-k group + sort: bounded shuffles
    assert_max_exchanges(q, 3)


def test_lsh_topk_broadcast_join_no_sortmerge(spark, sf01_dir):
    from hyperloglog_spark.pipeline import lsh_topk

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = lsh_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id",
                 "embedding", k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert_max_exchanges(q, 3)


def test_embedding_neardup_bounded_shuffles(spark, sf01_dir):
    from hyperloglog_spark.pipeline import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = embedding_neardup_pairs(emb, "vec_id", "embedding")
    # chunk-bucket groupBy (1) + pair dedup groupBy (1) + two vector join
    # sides (2..4): the quadratic work happens INSIDE buckets, never as a
    # corpus-wide cartesian
    assert "CartesianProduct" not in \
        q._jdf.queryExecution().executedPlan().toString()
    assert_max_exchanges(q, 6)


def test_grouped_quantiles_single_shuffle(events):
    q = approx_quantiles(events, "value", [0.5], group_by="event_type")
    assert_pruned_scan(q, {"value", "event_type"})
    assert_max_exchanges(q, 1)


def test_verified_distinct_prunes_both_scans(events):
    from hyperloglog_spark import approx_distinct_verified

    q = approx_distinct_verified(events, "user_id")
    # two aggregates by design (estimate + exact verification harness),
    # both reading ONLY the key column, joined by a 1x1 crossJoin
    assert scan_columns(q) == {"user_id"}
    assert "SortMergeJoin" not in \
        q._jdf.queryExecution().executedPlan().toString()


def test_theta_grouped_single_shuffle_pruned(events):
    from hyperloglog_spark.setops import theta_distinct

    q = theta_distinct(events, "user_id", group_by="event_type", k=256)
    assert_pruned_scan(q, {"user_id", "event_type"})
    # same two-phase contract as HLL: partial bottom-k states per
    # (partition, group), ONE Exchange of <= (8k+24)-byte sketch rows
    assert_max_exchanges(q, 1)


def test_theta_set_cardinalities_no_sortmerge(events):
    from hyperloglog_spark.setops import (
        theta_set_cardinalities,
        theta_sketch_agg,
    )

    a = theta_sketch_agg(events.filter(F.col("event_type") == "view"),
                         "user_id")
    b = theta_sketch_agg(events.filter(F.col("event_type") == "purchase"),
                         "user_id")
    q = theta_set_cardinalities(a, b)
    assert scan_columns(q) == {"user_id", "event_type"}
    # two 1-row sketch frames composed lazily: the cross join must stay a
    # broadcast nested loop over single rows, never a shuffled join
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_pq_topk_corpus_never_shuffles(spark):
    """PQ ADC+rerank: the only Exchanges move (query_id, neighbor_id,
    score) candidate rows; both corpus passes are scans feeding mapInArrow
    or a BroadcastHashJoin — never a SortMergeJoin / corpus repartition."""
    import numpy as np
    from hyperloglog_spark.pipeline import fit_pq_codebooks, pq_topk

    spark.catalog.clearCache()
    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(16)])
            for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=4, n_codes=8)
    q = pq_topk(df, df.filter("vec_id < 8"), "vec_id", "embedding",
                k=3, codebooks=cb)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan       # the rerank shortlist join
    # exchanges: the shortlist groupBy(query_id) + final topk groupBy +
    # broadcast exchanges; none may partition by the corpus vector column
    assert "hashpartitioning(vec_id" not in plan
    assert "hashpartitioning(embedding" not in plan


def test_transition_counts_shuffle_budget(events):
    from hyperloglog_spark.transcripts import transition_counts

    q = transition_counts(events, "user_id", "event_id", "event_type")
    assert_pruned_scan(q, {"user_id", "event_id", "event_type"})
    # window shuffle on the conv key + the (from, to) groupBy (map-side
    # combined over the tiny key space)
    assert_max_exchanges(q, 2)


def test_conversation_fingerprints_single_exchange_no_payload(events):
    from hyperloglog_spark.transcripts import conversation_fingerprints

    q = conversation_fingerprints(events, "user_id", "event_id",
                                  "event_type")
    # ONE Exchange, carrying (conv, partial-sum) rows: map-side partial
    # aggregation must appear below it
    assert_max_exchanges(q, 1)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "partial sum" in plan.lower() \
        or plan.count("HashAggregate") >= 2


def test_cms_topk_verified_exact_pass_pushes_candidate_set(spark, sf01_dir):
    """The verify rescan must push the candidate IN-set into the parquet
    scan (INSET) and read only the key column — at 100 TB the second pass
    charges for candidate rows, not a full-width rescan."""
    from hyperloglog_spark import cms_topk_verified

    spark.catalog.clearCache()
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    q = cms_topk_verified(li, "l_partkey", k=5)
    assert scan_columns(q) == {"l_partkey"}
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "INSET" in plan or any("In(l_partkey" in f
                                  for f in pushed_filters(q)), plan[:2000]


def test_approx_rank_prune_and_single_shuffle(events):
    from hyperloglog_spark import approx_rank

    q = approx_rank(events, "value", [0.0, 1.0])
    assert_pruned_scan(q, {"value"})
    assert_max_exchanges(q, 1)
