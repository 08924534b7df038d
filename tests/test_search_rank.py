"""Tests for the distributed top-k search API and rank-fusion operators."""

import pytest
from pyspark.sql import functions as F

from company_name_matching_spark.operators import rank
from company_name_matching_spark.operators.search import SearchConfig, search_topk
from company_name_matching_spark.sources import fixtures


@pytest.fixture(scope="module")
def corpus_queries(spark):
    comps = fixtures.base_companies(60)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    q = fixtures.labeled_queries(comps, per_company=3)
    queries = spark.createDataFrame(
        q, "query_id string, query_text string, target_id string, method string"
    )
    return corpus, queries


def test_search_top1_accuracy(spark, corpus_queries):
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3))
    # tie-as-rank-1 semantics (evaluate_matching.py:53-61): hit if the target
    # appears among rank-1 rows
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    agg = hits.agg(F.avg("hit").alias("acc")).collect()[0]
    assert agg["acc"] >= 0.99, f"top-1 accuracy {agg['acc']:.4f}"


def test_search_min_score_gate(spark, corpus_queries):
    corpus, _ = corpus_queries
    junk = spark.createDataFrame(
        [("QX", "zzz qqq totally unrelated gibberish")],
        "query_id string, query_text string",
    )
    res = search_topk(corpus, junk, SearchConfig(k=3, min_score=0.9))
    assert res.count() == 0


def test_search_entity_promotion(spark):
    """Query names 'cp'; corpus has a TNHH and a CP sibling with near scores —
    the CP one must win rank 1 (matcher.py:640-657)."""
    corpus = spark.createDataFrame(
        [("C1", "CÔNG TY TNHH SƠN HÀ VIỆT"), ("C2", "CÔNG TY CỔ PHẦN SƠN HÀ VN")],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "ctcp son ha vn x")], "query_id string, query_text string"
    )
    cfg = SearchConfig(k=2)
    res = {r["rank"]: r["company_id"] for r in
           search_topk(corpus, queries, cfg).collect()}
    assert res.get(1) == "C2"


def test_rrf_fuse(spark):
    a = spark.createDataFrame(
        [("q", "c1", 0.9), ("q", "c2", 0.8), ("q", "c3", 0.1)],
        "query_id string, candidate_id string, score double",
    )
    b = spark.createDataFrame(
        [("q", "c2", 0.95), ("q", "c1", 0.2)],
        "query_id string, candidate_id string, score double",
    )
    fused = {r["candidate_id"]: r["rrf_score"] for r in
             rank.rrf_fuse({"a": a, "b": b}, k=60).collect()}
    # c1: 1/61 + 1/62; c2: 1/62 + 1/61 → tie; c3: 1/63 only
    assert fused["c1"] == pytest.approx(1 / 61 + 1 / 62, abs=1e-6)
    assert fused["c2"] == pytest.approx(fused["c1"], abs=1e-6)
    assert fused["c3"] < fused["c1"]


def test_adaptive_rerank(spark):
    df = spark.createDataFrame(
        [
            # q1: clear winner (gap 0.5) → keep stage-1 order
            ("q1", "a", 0.9, 0.1), ("q1", "b", 0.4, 0.99),
            # q2: ambiguous (gap 0.02) → stage-2 decides
            ("q2", "a", 0.80, 0.2), ("q2", "b", 0.78, 0.95),
        ],
        "query_id string, candidate_id string, score double, score2 double",
    )
    out = rank.adaptive_rerank(df, "score2", gap_threshold=0.05)
    rows = {(r["query_id"], r["candidate_id"]): r for r in out.collect()}
    assert not rows[("q1", "a")]["used_rerank"]
    assert rows[("q1", "a")]["final_score"] == 0.9
    assert rows[("q2", "a")]["used_rerank"]
    assert rows[("q2", "a")]["final_score"] == pytest.approx(0.2)
    assert rows[("q2", "b")]["final_score"] == pytest.approx(0.95)


def test_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("q", "b", 1.0), ("q", "a", 1.0), ("q", "c", 0.5)],
        "query_id string, candidate_id string, score double",
    )
    out = rank.topk(df, 2).orderBy("rank").collect()
    assert [r["candidate_id"] for r in out] == ["a", "b"]


def test_search_window_counts_expanded_entries(spark):
    """matcher.py:615-625 parity (ADVICE r2): the scanned/returned list is
    truncated at top_k EXPANDED entries — each near-duplicate original counts
    toward top_k. A rank-1 group of 2 duplicates at k=2 fills the whole list,
    so NO second group may appear (the r2 representative-count window
    returned k groups regardless of their expanded sizes)."""
    corpus = spark.createDataFrame(
        [
            ("A1", "CÔNG TY TNHH XUẤT NHẬP KHẨU SAO MAI"),
            ("A2", "CÔNG TY TNHH XNK SAO MAI"),
            ("B1", "CÔNG TY TNHH SAO MAI XANH"),
        ],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "cong ty tnhh sao mai")], "query_id string, query_text string"
    )
    rows = search_topk(corpus, queries, SearchConfig(k=2)).collect()
    got = {r["company_id"] for r in rows}
    assert got == {"A1", "A2"}, got
    assert all(r["rank"] == 1 for r in rows)
    # at k=3 the cumulative bound admits the second group again
    rows3 = search_topk(corpus, queries, SearchConfig(k=3)).collect()
    assert {r["company_id"] for r in rows3} == {"A1", "A2", "B1"}


def test_search_hybrid_bm25_top1(spark, corpus_queries):
    """The reference's published headline config — 'tfidf-bm25' hybrid,
    0.5·cos + 0.5·max-normalized BM25 (matcher.py:60,366-376) — must hold
    the same Top-1 floor as the fused default on the labeled queries."""
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3, model="hybrid_bm25"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"hybrid top-1 accuracy {acc:.4f}"
    # scores stay in [0,1] under the hybrid formula
    bad = res.where((F.col("score") < 0) | (F.col("score") > 1.0)).count()
    assert bad == 0


def test_search_hybrid_lsa_top1(spark, corpus_queries):
    """The reference's LSA vectorizer option as a dense search channel:
    0.5·tfidf-cos + 0.5·LSA-space cosine (operators/lsa.py fit on the
    corpus) must hold the same Top-1 floor as the fused default."""
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3, model="hybrid_lsa"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"hybrid_lsa top-1 accuracy {acc:.4f}"
    bad = res.where((F.col("score") < 0) | (F.col("score") > 1.0 + 1e-9)).count()
    assert bad == 0


def test_search_cross_rerank_top1(spark, corpus_queries):
    """The reference's cross-encoder rerank shape: lexical fused score
    shortlists, the joint pair scorer (V11 seam, sigmoid-calibrated)
    refines fuzzy candidates. Top-1 floor must hold with the deterministic
    stand-in scorer."""
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3, model="cross_rerank"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"cross_rerank top-1 accuracy {acc:.4f}"
    bad = res.where((F.col("score") < 0) | (F.col("score") > 1.0 + 1e-9)).count()
    assert bad == 0


def test_search_unknown_model_raises(spark):
    """A typo'd model name must fail loudly (ADVICE r4), not silently run
    the default fused scoring."""
    corpus = spark.createDataFrame(
        [("A", "CÔNG TY TNHH SAO MAI")], "company_id string, name string"
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai")], "query_id string, query_text string"
    )
    with pytest.raises(ValueError, match="hybrid-bm25"):
        search_topk(corpus, queries, SearchConfig(model="hybrid-bm25"))


def test_bm25_query_max_is_corpus_wide(spark):
    """bm25_query_max (the reference's matcher.py:371-373 normalizer) must
    equal the max of bm25_pair_scores over the FULL query×corpus cross —
    including docs a blocked candidate list would exclude."""
    from company_name_matching_spark.operators import bm25

    corpus = spark.createDataFrame(
        [
            (1, ["sao", "mai", "xnk"]),
            (2, ["sao", "mai"]),
            (3, ["xnk", "xnk", "toan", "cau"]),  # dup term: qtf/tf multiplicity
            (4, ["binh", "minh"]),
            (5, ["an", "phat"]),  # keeps df("xnk")=2 < N/2 → positive idf
        ],
        "record_id bigint, tokens array<string>",
    )
    queries = spark.createDataFrame(
        [(10, ["sao", "mai"]), (11, ["xnk", "xnk"]), (12, ["khong", "co"])],
        "record_id bigint, tokens array<string>",
    )
    cross = queries.select(F.col("record_id").alias("left_id")).crossJoin(
        corpus.select(F.col("record_id").alias("right_id"))
    )
    full = bm25.bm25_pair_scores(corpus, queries, cross)
    expected = {
        r["left_id"]: r["m"]
        for r in full.groupBy("left_id").agg(F.max("bm25").alias("m")).collect()
    }
    got = {r["left_id"]: r["bm25_max"] for r in bm25.bm25_query_max(corpus, queries).collect()}
    assert got == expected and len(got) == 2  # query 12 matches nothing
    # and the corpus max genuinely exceeds a candidate-restricted max when
    # the argmax doc is excluded from the candidate list
    restricted = bm25.bm25_pair_scores(
        corpus,
        queries,
        cross.where(~((F.col("left_id") == 11) & (F.col("right_id") == 3))),
    )
    r_max = {
        r["left_id"]: r["m"]
        for r in restricted.groupBy("left_id").agg(F.max("bm25").alias("m")).collect()
    }
    assert got[11] > r_max[11]


def test_bm25_query_max_term_df_cap(spark):
    """max_term_df (VERDICT r5 #8): the web-scale bound on the corpus-max
    posting scan. Capped = exactly the uncapped max computed over queries
    with the high-df terms REMOVED (a lower bound); default None is
    bit-identical to the uncapped path; a cap below every df yields no
    rows (all query terms excluded)."""
    from company_name_matching_spark.operators import bm25

    corpus = spark.createDataFrame(
        [
            # "inc" is corpus-wide template chrome: df = 5 = N
            (1, ["inc", "sao", "mai"]),
            (2, ["inc", "sao"]),
            (3, ["inc", "toan", "cau"]),
            (4, ["inc", "binh"]),
            (5, ["inc", "an", "phat"]),
        ],
        "record_id bigint, tokens array<string>",
    )
    queries = spark.createDataFrame(
        [(10, ["inc", "sao", "mai"]), (11, ["inc"])],
        "record_id bigint, tokens array<string>",
    )
    uncapped = {
        r["left_id"]: r["bm25_max"]
        for r in bm25.bm25_query_max(corpus, queries).collect()
    }
    # None default == uncapped (parity)
    assert uncapped == {
        r["left_id"]: r["bm25_max"]
        for r in bm25.bm25_query_max(
            corpus, queries, max_term_df=None
        ).collect()
    }
    # cap=4 excludes only "inc" (df=5); equals the uncapped max over the
    # SAME queries with "inc" stripped — and query 11 (all terms capped)
    # disappears rather than scoring 0
    capped = {
        r["left_id"]: r["bm25_max"]
        for r in bm25.bm25_query_max(
            corpus, queries, max_term_df=4
        ).collect()
    }
    stripped = queries.select(
        "record_id",
        F.array_remove(F.col("tokens"), "inc").alias("tokens"),
    )
    expected = {
        r["left_id"]: r["bm25_max"]
        for r in bm25.bm25_query_max(corpus, stripped).collect()
    }
    assert capped == expected and set(capped) == {10}
    # the cap is a LOWER bound on the true max ("inc" idf is the floored
    # ε·avg_idf — positive — so dropping it can only shrink the score)
    assert capped[10] < uncapped[10]
    assert bm25.bm25_query_max(corpus, queries, max_term_df=0).count() == 0


def test_hybrid_dense_dim_mismatch_raises(spark):
    """An encoder whose output width differs from dense_dim would null-pad
    against the hyperplanes and silently collapse every record into one
    bucket per table (a full cross join at scale) — must raise instead."""
    def bad_factory():
        import numpy as np

        def enc(texts):
            out = np.ones((len(texts), 32), dtype=np.float32)
            return out / np.linalg.norm(out, axis=1, keepdims=True)

        return enc

    corpus = spark.createDataFrame(
        [("A", "CÔNG TY TNHH SAO MAI")], "company_id string, name string"
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai")], "query_id string, query_text string"
    )
    with pytest.raises(ValueError, match="32-d vectors"):
        search_topk(
            corpus, queries,
            SearchConfig(model="hybrid_dense", dense_dim=64,
                         dense_encoder_factory=bad_factory),
        )


def test_hybrid_dense_default_encoder_tracks_dense_dim(spark):
    """(r4 review) hybrid_dense with a non-default dense_dim and NO custom
    factory must work: the default stand-in is built at cfg.dense_dim."""
    corpus = spark.createDataFrame(
        [("A", "CÔNG TY TNHH SAO MAI"), ("B", "CÔNG TY TNHH BINH MINH")],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai")], "query_id string, query_text string"
    )
    res = search_topk(
        corpus, queries, SearchConfig(k=1, model="hybrid_dense", dense_dim=32)
    )
    rows = res.collect()
    assert rows and rows[0]["company_id"] == "A"
