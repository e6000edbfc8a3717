"""The streaming URL-seen set (``stateful.stream_seen_filter``): bloom
bits carried in group state across micro-batches."""

import time


def test_stream_seen_filter_dedups_across_batches(spark, tmp_path):
    """Bloom bits in group state: batch-2 re-occurrences of batch-1 URLs
    are dropped; every distinct url_hash is emitted exactly once."""
    import glob as _glob

    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.streaming.stateful import (
        SEEN_INPUT_DDL,
        stream_seen_filter,
    )

    cfg = BloomConfig(n_partitions=4, n_bits=1 << 20, n_hashes=4)
    src = tmp_path / "seen_src"
    src.mkdir()
    batches = [
        [(i, f"https://h{i % 7}.example/p/{i}", f"h{i % 7}.example", 1.0, 0, 0)
         for i in range(60)],
        # 40 repeats + 30 fresh
        [(i, f"https://h{i % 7}.example/p/{i}", f"h{i % 7}.example", 1.0, 1, 1)
         for i in range(20, 90)],
    ]
    for s, rows in enumerate(batches):
        df = spark.createDataFrame(rows, SEEN_INPUT_DDL)
        stage = tmp_path / f"seen_stage{s}"
        df.coalesce(1).write.parquet(str(stage))
        part = _glob.glob(str(stage / "part-*.parquet"))[0]
        import shutil as _sh

        _sh.copy(part, str(src / f"b{s}.parquet"))
        time.sleep(1.1)

    out_dir = str(tmp_path / "seen_out")
    q = (
        stream_seen_filter(
            spark.readStream.schema(SEEN_INPUT_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            cfg,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "seen_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir).collect()
    hashes = [r["url_hash"] for r in got]
    assert sorted(hashes) == list(range(90))  # every id exactly once
    # batch-2 duplicates (20..59) must carry batch-1's step/depth
    by_id = {r["url_hash"]: r for r in got}
    assert all(by_id[i]["step"] == 0 for i in range(60))
    assert all(by_id[i]["step"] == 1 for i in range(60, 90))
