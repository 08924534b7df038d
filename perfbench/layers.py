"""Per-layer metrics of one traced unit.

Every metric is printed on every workload; a layer the workload does not
run reports 0 (search never clusters; the pipeline never searches).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spans import Tracer, sum_totals

MB = 1024 * 1024

PER_LAYER = {
    "session.start_s": "s",
    "normalize.wall_s": "s",
    "normalize.jobs": "count",
    "normalize.tasks": "count",
    "normalize.rows_out": "count",
    "normalize.task_cpu_s": "s",
    "blocking.wall_s": "s",
    "blocking.jobs": "count",
    "blocking.tasks": "count",
    "blocking.pairs_out": "count",
    "blocking.pairs_per_record": "ratio",
    "blocking.barriers": "count",
    "blocking.shuffle_write_mb": "MB",
    "scoring.idf_s": "s",
    "scoring.wall_s": "s",
    "scoring.jobs": "count",
    "scoring.task_cpu_s": "s",
    "scoring.match_yield": "ratio",
    "clustering.wall_s": "s",
    "clustering.jobs": "count",
    "clustering.rounds": "count",
    "clustering.clusters_out": "count",
    "store.materialize_calls": "count",
    "store.materialize_s": "s",
    "store.bytes_written_mb": "MB",
    "pipeline.overhead_s": "s",
    "pipeline.jobs": "count",
    "pipeline.span_coverage": "ratio",
    "search.corpus_side_s": "s",
    "search.query_side_s": "s",
    "search.candidates_per_query": "ratio",
    "search.jobs_per_call": "count",
    "spark.slot_util": "ratio",
    "spark.task_cpu_s": "s",
    "spark.process_cpu_s": "s",
    "spark.jit_compile_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "host.probe_s": "s",
    "trace.overhead_ratio": "ratio",
}

# store.materialize labels that build the corpus side of a search call
CORPUS_LABELS = ("search_corpus", "search_cblocks")


class LayerReport:
    """Folds the spans under the traced unit's root span into metrics.

    ``counts()`` reads Spark's status tracker and must run while the
    session is up; ``finish()`` adds the event-log totals afterwards.
    """

    def __init__(self, tracer: Tracer, root: int, cores: int):
        self.tr = tracer
        self.root = root
        self.cores = cores
        self.values = dict.fromkeys(PER_LAYER, 0.0)
        self._groups: dict[str, list[str]] = {}

    def _one(self, name: str, under: int | None = None) -> int | None:
        found = self.tr.within(self.root if under is None else under, name)
        return found[0] if found else None

    def _layer(self, prefix: str, idxs: list[int], wall: bool = True) -> None:
        """wall, jobs and tasks of the spans ``idxs`` and all they enclose"""
        tree = sorted({j for i in idxs for j in self.tr.subtree(i)})
        jobs = self.tr.job_ids(tree)
        self._groups[prefix] = [self.tr.spans[i].group for i in tree]
        if wall:
            self.values[f"{prefix}.wall_s"] = sum(self.tr.spans[i].seconds for i in idxs)
        self.values[f"{prefix}.jobs"] = len(jobs)
        if f"{prefix}.tasks" in self.values:
            self.values[f"{prefix}.tasks"] = self.tr.task_count(jobs)

    def counts(self, unit) -> None:
        tr, v = self.tr, self.values
        mats = tr.within(self.root, "store.materialize")
        v["store.materialize_calls"] = len(mats)
        v["store.materialize_s"] = sum(tr.spans[i].seconds for i in mats)
        v["store.bytes_written_mb"] = sum(tr.spans[i].attrs["bytes"] for i in mats) / MB
        self._groups["spark"] = [tr.spans[i].group for i in tr.subtree(self.root)]
        run = self._one("pipeline.run_pipeline")
        if run is not None:
            self._pipeline(run, unit)
        call = self._one("search.search_topk")
        if call is not None:
            self._search(call, unit)

    def _pipeline(self, run: int, unit) -> None:
        tr, v = self.tr, self.values
        res = unit.result
        stages = {tr.spans[i].name[len("stage."):]: i
                  for i in tr.subtree(run) if tr.spans[i].parent == run
                  and tr.spans[i].name.startswith("stage.")}
        self._layer("normalize", [stages["normalize"]])
        self._layer("blocking", [stages["pairs"]])
        self._layer("scoring", [stages["score"]])
        self._layer("clustering", [stages["cluster"]])
        self._layer("pipeline", [run], wall=False)
        rows = {m["stage"]: m["rows"] for m in res.metrics}
        v["normalize.rows_out"] = rows["normalize"]
        v["blocking.pairs_out"] = rows["pairs"]
        v["blocking.pairs_per_record"] = rows["pairs"] / max(rows["normalize"], 1)
        v["blocking.barriers"] = len(tr.within(stages["pairs"], "store.materialize"))
        idf = self._one("scoring.build_idf", stages["score"])
        v["scoring.idf_s"] = tr.spans[idf].seconds if idf is not None else 0.0
        matched = res.matches.where(F.col("is_match")).count()
        v["scoring.match_yield"] = matched / max(rows["score"], 1)
        v["clustering.rounds"] = res.cc_rounds
        v["clustering.clusters_out"] = unit.extra["clusters"]
        staged = sum(tr.spans[i].seconds for i in stages.values())
        wall = tr.spans[run].seconds
        v["pipeline.overhead_s"] = wall - staged
        v["pipeline.span_coverage"] = staged / wall

    def _search(self, call: int, unit) -> None:
        tr, v = self.tr, self.values
        mats = {tr.spans[i].attrs["label"]: i
                for i in tr.within(call, "store.materialize")}
        sides = [mats[lb] for lb in ("search_corpus", "search_queries")]
        self._layer("normalize", sides)
        self._layer("blocking", [mats["search_cblocks"]])
        v["blocking.barriers"] = 1
        idf = self._one("scoring.build_idf", call)
        score = self._one("scoring.score_pairs", call)
        v["scoring.idf_s"] = tr.spans[idf].seconds
        self._layer("scoring", [idf, score])
        corpus = v["scoring.idf_s"] + sum(tr.spans[mats[lb]].seconds for lb in CORPUS_LABELS)
        v["search.corpus_side_s"] = corpus
        v["search.query_side_s"] = tr.spans[self.root].seconds - corpus
        v["search.jobs_per_call"] = len(tr.job_ids(tr.subtree(self.root)))
        pairs = tr.spans[score].attrs["args"][1].count()
        v["blocking.pairs_out"] = pairs
        v["search.candidates_per_query"] = pairs / unit.records

    def finish(self, totals: dict, probe_s: float, overhead: float,
               session_s: float) -> dict:
        v = self.values
        for prefix, key in (("normalize", "normalize.task_cpu_s"),
                            ("scoring", "scoring.task_cpu_s"),
                            ("spark", "spark.task_cpu_s")):
            v[key] = sum_totals(totals, self._groups.get(prefix, ())).cpu_ns / 1e9
        v["blocking.shuffle_write_mb"] = sum_totals(
            totals, self._groups.get("blocking", ())).shuffle_write_bytes / MB
        every = sum_totals(totals, self._groups["spark"])
        v["spark.shuffle_write_mb"] = every.shuffle_write_bytes / MB
        wall = self.tr.spans[self.root].seconds
        v["spark.slot_util"] = every.run_ms / 1000 / (wall * self.cores)
        v["host.probe_s"] = probe_s
        v["trace.overhead_ratio"] = overhead
        v["session.start_s"] = session_s
        return v
