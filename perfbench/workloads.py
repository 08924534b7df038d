"""The benchmark's workloads: seeded input generators and one unit of work.

Every workload is a closed loop with one client: ``unit`` returns only after
its result has been counted or collected, and the runner starts the next
unit after that. Inputs depend only on the seed; ``digest`` fingerprints
them so two runs with one seed can be shown to see the same inputs.

The engine's modules are called through their module attributes
(``pipeline.run_pipeline``, ``search.search_topk``) so the tracer in
``spans.py`` can time them from outside.
"""

from __future__ import annotations

import hashlib
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from company_name_matching_spark.operators import search
from company_name_matching_spark.plans import pipeline
from company_name_matching_spark.sources import fixtures

from scores import cluster_pair_f1, top1_acc

# Sizes fitted to a 4-core host: one warm unit takes about 10-13 s, which
# is mostly per-job latency, so the input size moves it little.
HTML_COMPANIES = 500
HTML_VARIANTS = 6
SEARCH_CORPUS = 1000
SEARCH_BATCH = 64

# Lowest quality a correct run may show (outputs are checked untimed).
FLOORS = {"cluster_pair_f1": 0.80, "top1_acc": 0.90}

_ONSETS = ["B", "C", "CH", "D", "Đ", "G", "GI", "H", "KH", "L", "M", "N",
           "NG", "NH", "PH", "QU", "S", "T", "TH", "TR", "V", "X"]
# each vowel with its six tones
_NUCLEI = ["AÁÀẢÃẠ", "ĂẮẰẲẴẶ", "ÂẤẦẨẪẬ", "EÉÈẺẼẸ", "ÊẾỀỂỄỆ", "IÍÌỈĨỊ",
           "OÓÒỎÕỌ", "ÔỐỒỔỖỘ", "ƠỚỜỞỠỢ", "UÚÙỦŨỤ", "ƯỨỪỬỮỰ"]
_CODAS = ["", "N", "NG", "NH", "M", "I", "O", "U", "C", "T"]
_SYLLABLES = 1700

def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(repr(line).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def syllables(seed: int, n: int = _SYLLABLES) -> list[str]:
    """``n`` distinct Vietnamese-shaped syllables drawn with ``seed``."""
    every = sorted(
        o + v + c for o in _ONSETS for tones in _NUCLEI for v in tones
        for c in _CODAS
    )
    return random.Random(f"{seed}:syllables").sample(every, n)


def html_distinct_pages(seed: int, n_companies: int = HTML_COMPANIES,
                        per_company: int = HTML_VARIANTS):
    """A broad-vocabulary crawl without exact duplicates.

    Each company gets a brand of two or three syllables and one page per
    surface form: its own name plus ``fixtures.variants_for`` variants.
    Pages carry raw ``html`` only, so the pipeline has to extract text.
    Returns ``(rows, truth, canonical)``: rows are
    ``(url, warc_ts_epoch, html, lang)``, ``truth`` maps url → company id
    and ``canonical`` maps company id → the url of its own-name page.
    """
    rng = random.Random(f"{seed}:companies")
    vocab = syllables(seed)
    legal = ["CÔNG TY TNHH", "CÔNG TY CỔ PHẦN", "CÔNG TY TNHH MTV",
             "TẬP ĐOÀN", "HỢP TÁC XÃ"]
    func = ["THƯƠNG MẠI DỊCH VỤ", "SẢN XUẤT THƯƠNG MẠI", "XUẤT NHẬP KHẨU",
            "ĐẦU TƯ XÂY DỰNG", "DỊCH VỤ", "VẬN TẢI", ""]
    brands: set[str] = set()
    mentions = []
    while len(brands) < n_companies:
        brand = " ".join(rng.sample(vocab, rng.choice([2, 2, 3])))
        if brand in brands:
            continue
        brands.add(brand)
        cid = f"E{len(brands):06d}"
        name = " ".join(x for x in [rng.choice(legal), rng.choice(func), brand] if x)
        mentions.append((name, cid, True))
        for v in fixtures.variants_for(name, limit=per_company, seed=seed):
            mentions.append((v, cid, False))
    rng.shuffle(mentions)
    rows, truth, canonical = [], {}, {}
    t0 = 1767225600  # 2026-01-01T00:00:00Z
    for i, (text, cid, own) in enumerate(mentions):
        url = f"https://perfbench.test/{seed}/{i:07d}"
        lang = "en" if text.isascii() else "vi"
        rows.append((url, t0 + i, fixtures.render_html(text), lang))
        truth[url] = cid
        if own:
            canonical[cid] = url
    return rows, truth, canonical


def search_inputs(seed: int, n_corpus: int = SEARCH_CORPUS):
    """``(corpus, pool)``: ``fixtures.base_companies`` drawn with ``seed``
    and its labelled variant queries, shuffled with ``seed``."""
    corpus = fixtures.base_companies(n_corpus, seed=seed)
    pool = fixtures.labeled_queries(corpus, per_company=2, seed=seed)
    random.Random(f"{seed}:queries").shuffle(pool)
    return corpus, pool


def write_input(spark, path: Path, parts: int, columns: dict):
    """Write the generated input as ``parts`` parquet files, the way a
    crawl or a corpus table arrives, and return Spark's reader over them.
    Written with pyarrow, so set-up spends no Spark job on it."""
    table = pa.table(columns)
    path.mkdir(parents=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")
    return spark.read.parquet(str(path))


@dataclass
class Unit:
    """What one unit of work returns: the records it resolved and the
    handles the untimed checks and the per-layer report read."""
    records: int
    result: object = None
    extra: dict = field(default_factory=dict)


class HtmlDistinct:
    """``er_html_distinct``: ``run_pipeline`` over html-only pages with a
    fresh on-disk ``checkpoint_dir`` per unit."""

    name = "er_html_distinct"

    def __init__(self, seed: int, n_companies: int = HTML_COMPANIES):
        self.rows, self.truth, self.canonical = html_distinct_pages(seed, n_companies)
        self.digest = _digest(
            (u, ts, h, lang, self.truth[u]) for u, ts, h, lang in self.rows
        )
        self.describe = f"pages={len(self.rows)} companies={len(self.canonical)}"

    def prepare(self, spark, work: Path, partitions: int) -> None:
        url, ts, html, lang = zip(*self.rows)
        self.pages = write_input(spark, work / "pages", partitions, {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array([t * 1_000_000 for t in ts],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "lang": pa.array(lang, pa.string()),
        })
        self.work = work

    def unit(self, spark, index: int) -> Unit:
        ckpt = self.work / "checkpoints" / f"unit-{index}"
        res = pipeline.run_pipeline(spark, self.pages, checkpoint_dir=str(ckpt))
        n_clusters = res.clusters.select("cluster_id").distinct().count()
        return Unit(len(self.rows), res, {"clusters": n_clusters, "ckpt": ckpt})

    def check(self, out: Unit) -> dict:
        res = out.result
        rows = (res.names.select("record_id", "url")
                .join(res.clusters, "record_id").collect())
        cluster = {r["url"]: r["cluster_id"] for r in rows}
        # a variant page resolves when it shares a cluster with its
        # company's own-name page
        target = {
            url: cluster.get(self.canonical[cid], ("dropped", cid))
            for url, cid in self.truth.items()
            if url != self.canonical[cid]
        }
        quality = {
            "cluster_pair_f1": cluster_pair_f1(cluster, self.truth),
            "top1_acc": top1_acc(cluster, target),
        }
        shutil.rmtree(out.extra["ckpt"], ignore_errors=True)
        return quality


class SearchSmallBatch:
    """``search_small_batch``: one ``search_topk`` call per unit with
    ``SEARCH_BATCH`` distinct labelled queries against the whole corpus."""

    name = "search_small_batch"

    def __init__(self, seed: int, n_corpus: int = SEARCH_CORPUS):
        self.corpus, self.pool = search_inputs(seed, n_corpus)
        self.digest = _digest(list(self.corpus) + list(self.pool))
        self.describe = f"corpus={len(self.corpus)} queries={len(self.pool)}"

    def prepare(self, spark, work: Path, partitions: int) -> None:
        ids, names = zip(*self.corpus)
        self.corpus_df = write_input(spark, work / "corpus", partitions, {
            "company_id": pa.array(ids, pa.string()),
            "name": pa.array(names, pa.string()),
        })

    def batch(self, index: int) -> list[tuple]:
        start = (index * SEARCH_BATCH) % (len(self.pool) - SEARCH_BATCH)
        return self.pool[start:start + SEARCH_BATCH]

    def unit(self, spark, index: int) -> Unit:
        batch = self.batch(index)
        queries = spark.createDataFrame(
            [(qid, text) for qid, text, _, _ in batch],
            "query_id string, query_text string",
        )
        rows = search.search_topk(self.corpus_df, queries).collect()
        return Unit(len(batch), rows, {"batch": batch})

    def check(self, out: Unit) -> dict:
        truth = {qid: target for qid, _, target, _ in out.extra["batch"]}
        firsts: dict[str, set] = {}
        for r in out.result:
            if r["rank"] == 1:
                firsts.setdefault(r["query_id"], set()).add(r["company_id"])
        # rank-1 ties are corpus names with one match key; any of them is
        # the query's answer, so credit the true one when it is among them
        top1 = {
            q: truth[q] if truth.get(q) in ids else min(ids)
            for q, ids in firsts.items()
        }
        # clusters of the answer: each company with the queries it ranked
        # first, against each company with the queries aimed at it
        companies = set(truth.values()) | set(top1.values())
        pred = {("q", q): c for q, c in top1.items()}
        pred.update({("c", c): c for c in companies})
        true = {("q", q): c for q, c in truth.items()}
        true.update({("c", c): c for c in companies})
        return {
            "cluster_pair_f1": cluster_pair_f1(pred, true),
            "top1_acc": top1_acc(top1, truth),
        }


WORKLOADS = {w.name: w for w in (HtmlDistinct, SearchSmallBatch)}
