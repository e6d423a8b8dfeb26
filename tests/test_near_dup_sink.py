"""`streaming/quality_stream.near_dup_snapshot_sink` driven end to end:
a file stream through the shared sink starter into the snapshot band
index."""

from __future__ import annotations


def test_near_dup_snapshot_sink_trigger_once(spark, tmp_path_factory):
    """`near_dup_snapshot_sink` end to end over a parquet stream dir: the
    texts of test_near_dup_snapshot_sink_minhash_history arrive as two
    files, and the committed survivor set is the same — however the
    files split into micro-batches, u2 and u4 are near-dups of u1 and
    drop, the distinct and shingle-less docs survive."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import near_dup_snapshot_sink

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(("XX" if i == 20 else f"tok{i}") for i in range(40))
    near2 = " ".join(("YY" if i == 35 else f"tok{i}") for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    src = str(tmp_path_factory.mktemp("nd_stream_src") / "pages")
    for rows in (
        [("u1", base), ("u2", near), ("u3", "tiny")],
        [("u4", near2), ("u5", other), ("u6", "tiny")],
    ):
        spark.createDataFrame(rows, "url string, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    root = str(tmp_path_factory.mktemp("nd_stream") / "tbl")
    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = near_dup_snapshot_sink(
        stream, root, str(tmp_path_factory.mktemp("nd_stream_ckpt")),
        jaccard_threshold=0.5, trigger_once=True,
    )
    q.awaitTermination(180)

    got = {r["url"] for r in snap.read_table(spark, root, "stream").collect()}
    assert got == {"u1", "u3", "u5", "u6"}
    assert snap.read_table(spark, root, "sigs").count() == 2
    assert all(h["operation"] == "txn" for h in snap.history(root))
