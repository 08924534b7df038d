"""Tests of the benchmark's own parts, at tiny scale.

    python3 -m pytest perfbench -q -p no:cacheprovider

Covers the seeded generators, the quality scores, and what the traced
counters mean: the event-log units, job attribution per span, and the
nesting of operator spans under pipeline stages.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from scores import cluster_pair_f1, top1_acc  # noqa: E402


# -- generators ------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda seed: workloads.HtmlDistinct(seed, n_companies=20),
    lambda seed: workloads.SearchSmallBatch(seed, n_corpus=30),
])
def test_digest_follows_the_seed(make):
    assert make(3).digest == make(3).digest
    assert make(3).digest != make(4).digest


def test_html_pages_are_html_only_and_labelled():
    rows, truth, canonical = workloads.html_distinct_pages(5, n_companies=10)
    assert len(canonical) == 10
    assert set(truth) == {r[0] for r in rows}
    assert all(r[2].startswith(b"<html>") for r in rows)
    assert all(truth[url] == cid for cid, url in canonical.items())


def test_search_batches_are_distinct_queries():
    w = workloads.SearchSmallBatch(2, n_corpus=200)
    batch = w.batch(1)
    assert len(batch) == workloads.SEARCH_BATCH
    assert len({q[0] for q in batch}) == len(batch)
    assert {q[0] for q in batch}.isdisjoint(q[0] for q in w.batch(2))


# -- quality scores, six records --------------------------------------------

def test_cluster_pair_f1_six_records():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2, "f": 3}
    pred = {"a": "x", "b": "x", "c": "y", "d": "y", "e": "y", "f": "z"}
    # true pairs ab ac bc de; predicted ab cd ce de; shared ab de
    # precision 2/4, recall 2/4
    assert cluster_pair_f1(pred, truth) == pytest.approx(0.5)
    # a record the clustering dropped is a singleton: only de remains
    # predicted, and it is true; recall 1/4
    assert cluster_pair_f1({"d": "y", "e": "y"}, truth) == pytest.approx(0.4)
    assert cluster_pair_f1(truth, truth) == 1.0


def test_top1_acc_six_records():
    truth = {"q1": "A", "q2": "B", "q3": "X", "q4": "B", "q5": "C", "q6": "D"}
    pred = {"q1": "A", "q2": "B", "q3": "C", "q4": "B", "q6": "D"}
    # q3 wrong, q5 unanswered
    assert top1_acc(pred, truth) == pytest.approx(4 / 6)


# -- traced counters on a live session ---------------------------------------

@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    """A session with the benchmark's launcher settings and an event log,
    started from an unrelated directory so Python workers must find the
    package through the launcher's PYTHONPATH."""
    from company_name_matching_spark.session import get_spark
    from company_name_matching_spark.sources import store

    work = tmp_path_factory.mktemp("work")
    saved_env = dict(os.environ)
    cwd = os.getcwd()
    run.prepare_env(work)
    os.chdir(tmp_path_factory.mktemp("elsewhere"))
    try:
        spark = get_spark(app_name="perfbench-test", cpus=2,
                          shuffle_partitions=4,
                          extra_conf=run.spark_conf(work, trace=True))
    finally:
        os.chdir(cwd)
    spark.sparkContext.setLogLevel("ERROR")
    saved_scratch = store._scratch
    store._scratch = str(work / "scratch")
    yield spark, work
    store._scratch = saved_scratch
    spark.stop()
    os.environ.clear()
    os.environ.update(saved_env)
    tempfile.tempdir = None


def _busy_python(x):
    t0 = time.process_time()
    while time.process_time() - t0 < 0.4:
        pass
    return x


def test_event_log_units(traced_spark):
    spark, work = traced_spark
    sc = spark.sparkContext
    tracer = spans.Tracer(sc)
    tracer.enabled = True
    payload = 2000 * 1000
    with tracer.span("python"):
        # 4 tasks, each 0.4 s of Python CPU in a worker process
        assert sc.parallelize(range(4), 4).map(_busy_python).count() == 4
    with tracer.span("jvm"):
        spark.range(0, 30_000_000, numPartitions=4).selectExpr(
            "sum(hash(id, id * 3))").collect()
    with tracer.span("shuffle"):
        rows = [(os.urandom(1000),) for _ in range(2000)]
        df = spark.createDataFrame(rows, "b binary")
        # read the payload after the exchange, so it is not pruned away
        shuffled = df.repartition(4).selectExpr("sum(length(b)) AS n").first()
        assert shuffled["n"] == payload
    python, jvm, shuffle = (tracer.find(n)[0] for n in ("python", "jvm", "shuffle"))
    assert len(tracer.job_ids([python])) == 1
    assert tracer.task_count(tracer.job_ids([python])) == 4

    totals = spans.read_event_log(work / "events")

    def of(idx):
        return spans.sum_totals(totals, [tracer.spans[idx].group])

    py = of(python)
    # run time is milliseconds: 4 tasks of at least 400 ms each
    assert py.tasks == 4
    assert 1600 <= py.run_ms <= 4 * 5000
    # CPU time is the JVM task thread only: the Python worker's CPU is
    # not in it
    assert py.cpu_ns / 1e6 < 0.5 * py.run_ms
    jv = of(jvm)
    # CPU time is nanoseconds: a JVM-bound job spends most of its run
    # time on CPU
    assert 0.3 * jv.run_ms <= jv.cpu_ns / 1e6 <= 1.1 * jv.run_ms
    # shuffle bytes are bytes: random payload does not compress
    sh = of(shuffle)
    assert 0.9 * payload <= sh.shuffle_write_bytes <= 1.5 * payload


def test_spans_nest_under_their_stage(traced_spark):
    from company_name_matching_spark.plans import pipeline
    from company_name_matching_spark.sources import fixtures

    spark, _ = traced_spark
    pages = fixtures.pages_dataframe(spark, n_companies=30, per_company=3,
                                     partitions=4)
    original = pipeline.run_pipeline
    tracer = spans.Tracer(spark.sparkContext)
    tracer.install()
    tracer.enabled = True
    try:
        with tracer.span("unit"):
            res = pipeline.run_pipeline(spark, pages)
            clusters = res.clusters.select("cluster_id").distinct().count()
    finally:
        tracer.enabled = False
        tracer.uninstall()
    assert pipeline.run_pipeline is original

    def parent(name):
        return {tracer.spans[tracer.spans[i].parent].name for i in tracer.find(name)}

    assert parent("pipeline.run_pipeline") == {"unit"}
    for stage in ("normalize", "pairs", "score", "cluster"):
        assert parent(f"stage.{stage}") == {"pipeline.run_pipeline"}
    assert parent("normalize.normalize_pages") == {"stage.normalize"}
    assert parent("normalize.normalize_mentions") == {"normalize.normalize_pages"}
    assert parent("blocking.candidate_pairs") == {"stage.pairs"}
    assert parent("scoring.build_idf") == {"stage.score"}
    assert parent("scoring.score_pairs") == {"stage.score"}
    assert parent("clustering.cluster_matches") == {"stage.cluster"}
    barriers = {tracer.spans[i].attrs["label"]: tracer.spans[tracer.spans[i].parent].name
                for i in tracer.find("store.materialize")}
    # without a checkpoint dir each stage ends in a store barrier
    for stage in ("normalize", "pairs", "score", "cluster"):
        assert barriers[stage] == f"stage.{stage}"

    report = layers.LayerReport(tracer, 0, cores=2)
    report.counts(workloads.Unit(pages.count(), res, {"clusters": clusters}))
    v = report.values
    assert v["clustering.clusters_out"] == clusters
    stage_jobs = sum(v[f"{p}.jobs"] for p in ("normalize", "blocking", "scoring", "clustering"))
    assert 0 < stage_jobs <= v["pipeline.jobs"]
    assert v["normalize.rows_out"] == res.names.count()
    # stage spans cover the pipeline call but for its lazy set-up
    assert 0.9 <= v["pipeline.span_coverage"] <= 1.0


def test_benchmark_json_names_what_the_runner_prints():
    import json

    doc = json.loads((HERE.parent / "BENCHMARK.json").read_text(encoding="utf-8"))
    assert {w["name"] for w in doc["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == layers.PER_LAYER
