"""Cost guards for search_topk: the candidate table is built once per call,
and a repeated call reuses the session's generated classes."""

import re

import pytest

from company_name_matching_spark.operators.search import search_topk
from company_name_matching_spark.sources import fixtures


@pytest.fixture(scope="module")
def corpus_queries(spark):
    comps = fixtures.base_companies(60)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    q = fixtures.labeled_queries(comps, per_company=1)
    queries = spark.createDataFrame(
        [(qid, text) for qid, text, _, _ in q],
        "query_id string, query_text string",
    )
    return corpus, queries


def test_search_plan_reads_candidates_from_barrier(spark, corpus_queries):
    """score_pairs reads its pairs twice; the blocking join feeding them must
    sit behind the search_cand barrier, not in the returned plan."""
    corpus, queries = corpus_queries
    plan = search_topk(corpus, queries)._jdf.queryExecution(
    ).optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if re.search(r"\bJoin\b", ln)]
    assert joins, plan
    on_block_key = [ln for ln in joins if "block_key" in ln]
    assert not on_block_key, "\n".join(on_block_key)


def test_repeated_search_compiles_no_new_classes(spark, corpus_queries):
    """The codegen cache holds every class one call generates, so an
    identical second call compiles (almost) nothing; with Spark's default
    100-entry cache it recompiles about 170."""
    corpus, queries = corpus_queries
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metric.METRIC_COMPILATION_TIME().getCount
    first = search_topk(corpus, queries).collect()
    before = compiles()
    second = search_topk(corpus, queries).collect()
    added = compiles() - before
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert added <= 20, f"second call compiled {added} classes"
