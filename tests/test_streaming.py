"""Incremental (Structured Streaming) ingestion test: two micro-batches of
pages flow through foreachBatch; pairs accumulate incrementally and replays
are idempotent."""

import datetime as dt

from pyspark.sql import functions as F

from company_name_matching_spark.sources import fixtures
from company_name_matching_spark.streaming.ingest import IncrementalLinker


def _pages(spark, rows):
    data = [
        (u, dt.datetime(2026, 1, 1), fixtures.render_html(t), t, "vi", "x", "k")
        for u, t in rows
    ]
    return spark.createDataFrame(data, fixtures.PAGES_SCHEMA)


def test_incremental_linker(spark, tmp_path):
    store = str(tmp_path / "store")
    linker = IncrementalLinker(store)

    b1 = _pages(spark, [("u1", "CÔNG TY TNHH SƠN HÀ VN"), ("u2", "cty tnhh son ha vn")])
    p1 = linker.process_batch(b1, 0)
    assert p1.count() == 1  # the two variants pair up

    # batch 2: one more variant of the same entity + one unrelated company
    b2 = _pages(spark, [("u3", "CO.,LTD SON HA VN"), ("u4", "CP HOÀN TOÀN KHÁC")])
    p2 = linker.process_batch(b2, 1)
    # new record u3 pairs with both old records; u4 pairs with nothing
    assert p2.count() == 2
    ids = spark.read.parquet(f"{store}/names")
    assert ids.count() == 4

    # replay batch 2 (at-least-once delivery) → stores stay idempotent (no
    # new names/blocks) and the SAME pair set is re-emitted — full-batch
    # emission is what makes a crash between the store appends and the sink
    # commit recoverable (the per-batch overwrite sink dedups the replay)
    pair_set = {(r["left_id"], r["right_id"]) for r in p2.collect()}
    p2b = linker.process_batch(b2, 2)
    assert spark.read.parquet(f"{store}/names").count() == 4
    assert {(r["left_id"], r["right_id"]) for r in p2b.collect()} == pair_set


def test_incremental_blocking_never_rescans_history(spark, tmp_path):
    """The scale contract of incremental ingest: per-batch signature work is
    O(batch). Proof: (a) the blocks written for batch-1 records are never
    rewritten or recomputed — their parquet data files are byte-identical
    (path, size, mtime) after batch 2; (b) the blocks store grows by exactly
    the new records' blocks (append-only, no per-record duplication)."""
    import os
    from pathlib import Path

    store = str(tmp_path / "store")
    linker = IncrementalLinker(store)

    b1 = _pages(
        spark,
        [(f"u{i}", f"CÔNG TY TNHH SỐ {i} HÀ NỘI") for i in range(20)],
    )
    linker.process_batch(b1, 0)
    blocks_dir = Path(store) / "blocks"
    snap1 = {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in blocks_dir.rglob("*.parquet")
    }
    n1 = spark.read.parquet(str(blocks_dir)).count()
    per_record_1 = (
        spark.read.parquet(str(blocks_dir))
        .groupBy("record_id").count().agg(F.max("count")).collect()[0][0]
    )

    b2 = _pages(spark, [("v1", "CÔNG TY CỔ PHẦN MỚI TINH")])
    linker.process_batch(b2, 1)
    # (a) batch-1 block files untouched
    for path, (size, mtime) in snap1.items():
        st = os.stat(path)
        assert (st.st_size, st.st_mtime_ns) == (size, mtime), f"rewritten: {path}"
    # (b) store grew by exactly the one new record's blocks
    after = spark.read.parquet(str(blocks_dir))
    n2 = after.count()
    new_rec_blocks = (
        after.join(
            spark.read.parquet(f"{store}/names").where(F.col("url") == "v1")
            .select("record_id"),
            "record_id",
        ).count()
    )
    assert n2 == n1 + new_rec_blocks
    # no record's blocks were ingested twice
    dup = after.groupBy("record_id", "block_key").count().where(F.col("count") > 1)
    assert dup.count() == 0
    assert per_record_1 is not None


def test_streaming_foreachbatch_end_to_end(spark, tmp_path):
    """Drive the real writeStream path with a file streaming source."""
    from company_name_matching_spark.streaming.ingest import stream_pages

    src = tmp_path / "src"
    pages = _pages(
        spark,
        [("s1", "CÔNG TY TNHH AN PHÁT BẮC"), ("s2", "cong ty tnhh an phat bac"),
         ("s3", "TNHH AN PHÁT BẮC")],
    )
    pages.write.mode("overwrite").parquet(str(src))
    stream_df = spark.readStream.schema(pages.schema).parquet(str(src))
    q = stream_pages(
        spark, stream_df, str(tmp_path / "store2"), str(tmp_path / "pairs")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "pairs"))
    assert out.count() == 3  # 3 mutually-matching variants → 3 pairs
    assert set(out.columns) == {"left_id", "right_id", "batch_id"}


def test_ingest_crash_between_blocks_and_names_recovers(spark, tmp_path):
    """ADVICE r2 regression: foreachBatch is at-least-once, and the two
    store appends are not atomic. Simulate the crash window — blocks
    appended, names NOT — then replay the batch. The blocks-first write
    order makes this state harmless: the replay's anti-join (keyed on the
    names store) re-emits every record, the duplicate stored block rows
    collapse in the pair dedup, and the final pair set equals a clean run's.
    (The reverse order would mark records seen with no blocks persisted —
    they could never pair with future batches.)"""
    import shutil
    from pathlib import Path

    rows1 = [("u1", "CÔNG TY TNHH SƠN HÀ VN"), ("u2", "cty tnhh son ha vn")]
    rows2 = [("u3", "CO.,LTD SON HA VN"), ("u4", "CP HOÀN TOÀN KHÁC")]

    # clean reference run: both batches, no crash
    clean = IncrementalLinker(str(tmp_path / "clean"))
    clean_p1 = {
        (r["left_id"], r["right_id"])
        for r in clean.process_batch(_pages(spark, rows1), 0).collect()
    }
    clean_p2 = {
        (r["left_id"], r["right_id"])
        for r in clean.process_batch(_pages(spark, rows2), 1).collect()
    }

    # crashed store: run batch 1 fully, then reproduce the exact mid-batch
    # crash state by copying ONLY the blocks dir (names append never ran)
    staging = IncrementalLinker(str(tmp_path / "staging"))
    staging.process_batch(_pages(spark, rows1), 0)
    crash_dir = tmp_path / "crashed"
    crash_dir.mkdir()
    shutil.copytree(tmp_path / "staging" / "blocks", crash_dir / "blocks")
    crashed = IncrementalLinker(str(crash_dir))

    # replay batch 1 against the crash state: all records re-emit, pairs
    # match the clean run exactly despite duplicated stored block rows
    replay_p1 = {
        (r["left_id"], r["right_id"])
        for r in crashed.process_batch(_pages(spark, rows1), 1).collect()
    }
    assert replay_p1 == clean_p1
    names = spark.read.parquet(str(crash_dir / "blocks").replace("blocks", "names"))
    assert names.count() == 2  # every record landed exactly once

    # future batches still pair against the recovered store
    replay_p2 = {
        (r["left_id"], r["right_id"])
        for r in crashed.process_batch(_pages(spark, rows2), 2).collect()
    }
    assert replay_p2 == clean_p2


def test_pairs_sink_idempotent_under_replay(spark, tmp_path):
    """The crash the round-3 review flagged: names appended, sink write NOT
    committed, batch replayed. Full-batch pair emission + the per-batch
    overwrite sink must converge to exactly one copy of the batch's pairs,
    no matter how many times the batch is replayed."""
    store = str(tmp_path / "store")
    sink = str(tmp_path / "pairs")
    linker = IncrementalLinker(store)
    b1 = _pages(spark, [("u1", "CÔNG TY TNHH SƠN HÀ VN"),
                        ("u2", "cty tnhh son ha vn"),
                        ("u3", "TNHH SON HA VN")])

    def fire(batch_id):
        p = linker.process_batch(b1, batch_id)
        p.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

    fire(0)
    first = {(r["left_id"], r["right_id"])
             for r in spark.read.parquet(sink).collect()}
    assert len(first) == 3  # 3 mutually-matching variants
    fire(0)  # replay after the crash window — same batch id
    fire(0)  # and again
    again = {(r["left_id"], r["right_id"])
             for r in spark.read.parquet(sink).collect()}
    assert again == first
    assert spark.read.parquet(sink).count() == 3  # no duplicate rows
    assert spark.read.parquet(f"{store}/names").count() == 3  # stores stable
