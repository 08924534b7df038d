"""Pipeline orchestrator: normalize → block → score → cluster, with
per-stage checkpointing, resume, and per-partition lineage metrics.

Checkpointing model (distributed version of the reference's stage metrics +
skip_stages orchestrator, ``orchestrator.py:89-257`` / ``utils/metrics.py``):

* every stage writes its output table under ``<checkpoint_dir>/<stage>/``
  plus a ``_COMPLETE.json`` marker (rows, elapsed, throughput);
* on re-run, a stage whose marker exists is *read back*, not recomputed —
  resume-from-checkpoint mid-pipeline;
* a ``metrics`` table accumulates one row per (run, stage, partition) with
  row counts and throughput — the per-partition lineage the north rule asks
  for.

Storage is parquet-directory-based: ``_Checkpointer`` writes each stage
once and commits it with its marker. On a production cluster the same
calls would target Iceberg tables (``writeTo(...).using("iceberg")``).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from company_name_matching_spark.operators import (
    blocking, clustering, extract, normalize, scoring,
)
from company_name_matching_spark.sources import store


@dataclass
class PipelineConfig:
    blocking: blocking.BlockingConfig = field(default_factory=blocking.BlockingConfig)
    scoring: scoring.ScoringConfig = field(default_factory=scoring.ScoringConfig)
    run_id: str = "run-0"
    collect_partition_metrics: bool = True
    max_cc_iterations: int = 15
    # size gate for the driver union-find CC fast path (0 = always iterate
    # distributed; see clustering.connected_components)
    cc_driver_edge_threshold: int = 1_000_000
    # "cc" = transitive connected components (reference semantics);
    # "pivot" = ACN pivot clustering — star clusters, no chain over-merge
    # (clustering.pivot_matches). Validated in run_pipeline.
    cluster_method: str = "cc"
    pivot_max_rounds: int = 12
    # also emit the golden-record survivorship table (one canonical name
    # per cluster) as a checkpointed "golden" stage / PipelineResult.golden
    emit_golden: bool = False


@dataclass
class PipelineResult:
    names: DataFrame
    pairs: DataFrame
    matches: DataFrame
    clusters: DataFrame
    metrics: list[dict]
    cc_rounds: int = 0
    golden: DataFrame | None = None


class _Checkpointer:
    def __init__(self, spark: SparkSession, root: str | None, cfg: PipelineConfig):
        self.spark = spark
        self.root = Path(root) if root else None
        self.cfg = cfg
        self.metrics: list[dict] = []

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def has(self, stage: str) -> bool:
        return bool(self.root) and (self._dir(stage) / "_COMPLETE.json").exists()

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self._dir(stage) / "data"))

    def _count_and_partitions(self, df: DataFrame) -> tuple[int, list[dict]]:
        """ONE job for both the stage row count and the per-partition lineage
        rows (total = sum of partition counts) — a naive count() +
        partition-groupBy would compute the stage twice."""
        if not self.cfg.collect_partition_metrics:
            return df.count(), []
        parts = [
            r.asDict()
            for r in df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        return sum(p["rows"] for p in parts), parts

    def run(self, stage: str, fn, persist: bool = True) -> DataFrame:
        """Compute-or-restore a stage; record metrics either way."""
        if self.has(stage):
            df = self.read(stage)
            self.metrics.append(
                {"run_id": self.cfg.run_id, "stage": stage, "resumed": True,
                 "rows": df.count(), "elapsed_s": 0.0, "rows_per_s": None,
                 "partitions": []}
            )
            return df
        t0 = time.monotonic()
        df = fn()
        if self.root and persist:
            out = self._dir(stage)
            df.write.mode("overwrite").parquet(str(out / "data"))
            # written schema, not inferred: no schema-inference job (the
            # resumed read() above has no schema at hand and infers)
            df = self.spark.read.schema(df.schema).parquet(str(out / "data"))
        else:
            # no storage checkpoint → still materialize through parquet
            # scratch: the stage output is consumed by the metrics job AND
            # downstream stages (without a barrier every consumer recomputes
            # the lineage), and .persist() is NOT a substitute — the
            # in-memory cache scan contends badly at high thread counts
            # (see sources/store.py)
            df = store.materialize(df, stage)
        rows, parts = self._count_and_partitions(df)
        elapsed = time.monotonic() - t0
        entry = {
            "run_id": self.cfg.run_id,
            "stage": stage,
            "resumed": False,
            "rows": rows,
            "elapsed_s": round(elapsed, 4),
            "rows_per_s": round(rows / elapsed, 2) if elapsed > 0 else None,
            "partitions": parts,
        }
        self.metrics.append(entry)
        if self.root and persist:
            marker = self._dir(stage) / "_COMPLETE.json"
            marker.write_text(json.dumps(entry, default=str), encoding="utf-8")
        return df

    def flush_metrics(self):
        if not self.root:
            return
        rows = [
            (m["run_id"], m["stage"], bool(m["resumed"]), int(m["rows"]),
             float(m["elapsed_s"]),
             float(m["rows_per_s"]) if m["rows_per_s"] else None,
             json.dumps(m["partitions"]))
            for m in self.metrics
        ]
        schema = ("run_id string, stage string, resumed boolean, rows long, "
                  "elapsed_s double, rows_per_s double, partitions_json string")
        (self.spark.createDataFrame(rows, schema)
         .withColumn("ts", F.current_timestamp())
         .write.mode("append").parquet(str(self.root / "metrics")))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    checkpoint_dir: str | None = None,
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    """Full record-linkage pipeline over a pages table.

    A crawl-raw pages table (``html`` present, no ``text`` column) runs
    through the JVM extraction front stage first — the north star's
    byte-identical per-url extraction is ``operators.extract`` and is
    fused into the normalize scan (no extra pass over the corpus).
    """
    cfg = cfg or PipelineConfig()
    ck = _Checkpointer(spark, checkpoint_dir, cfg)

    if "text" not in pages.columns and "html" in pages.columns:
        pages = extract.extract_pages(pages)

    names = ck.run("normalize", lambda: normalize.normalize_pages(pages))
    pairs = ck.run("pairs", lambda: blocking.candidate_pairs(names, cfg.blocking))

    def _score():
        idf = scoring.build_idf(names, n=cfg.scoring.ngram)
        return scoring.score_pairs(names, pairs, idf, cfg.scoring)

    matches = ck.run("score", _score)

    if cfg.cluster_method not in ("cc", "pivot"):
        raise ValueError(
            f"cluster_method must be 'cc' or 'pivot'; got {cfg.cluster_method!r}"
        )
    cc_rounds = 0

    def _cluster():
        nonlocal cc_rounds
        if cfg.cluster_method == "pivot":
            clusters, cc_rounds = clustering.pivot_matches(
                matches, names, cfg.pivot_max_rounds
            )
        else:
            clusters, cc_rounds = clustering.cluster_matches(
                matches, names, cfg.max_cc_iterations,
                cfg.cc_driver_edge_threshold,
            )
        return clusters

    clusters = ck.run("cluster", _cluster)
    golden = None
    if cfg.emit_golden:
        golden = ck.run(
            "golden", lambda: clustering.golden_records(clusters, names)
        )
    ck.flush_metrics()
    return PipelineResult(
        names=names, pairs=pairs, matches=matches, clusters=clusters,
        metrics=ck.metrics, cc_rounds=cc_rounds, golden=golden,
    )
