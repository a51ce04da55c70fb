"""Continuous-ingest pipeline test: JSONL shards stream through the
text quality gate and a stateful exact dedup into parquet."""


def test_streaming_corpus_pipeline_quality_gate_and_cross_batch_dedup(
        spark, tmp_path):
    """End-to-end continuous-ingest pipeline: JSONL shards stream in one
    file per micro-batch through Spark's JSON source with a declared
    schema, flow through the quality gate and a STATEFUL exact dedup
    (dropDuplicates on the normalized fingerprint — state spans
    micro-batches), and land in parquet.
    A duplicate arriving two batches later and a junk doc must both be
    dropped; the three good uniques must land exactly once."""
    import json as _json

    from pyspark.sql import functions as SF

    from eventstore_spark.functions.text import fingerprint, quality_score

    good1 = ("the quick brown fox jumps over the lazy dog and then the "
             "dog sleeps while the fox runs into the green forest again")
    good2 = ("a query engine is built from a scan and a join and a sort "
             "and the optimizer picks the order of all of the operators")
    good3 = ("the stream of events flows into the store and the readers "
             "follow the log while the writers append to the very end")
    junk = "#### !!!! ????"
    src = tmp_path / "in"
    src.mkdir()

    def shard(name, rows):
        (src / name).write_text("".join(
            _json.dumps({"doc_id": i, "text": t, "lang": "en",
                         "source": "s", "n_chars": len(t)}) + "\n"
            for i, t in rows))

    shard("a.jsonl", [(1, good1), (2, junk)])
    shard("b.jsonl", [(3, good2)])
    # duplicate of doc 1 (same text modulo case/whitespace) + one new doc
    shard("c.jsonl", [(4, "  " + good1.upper() + "  "), (5, good3)])

    stream = (spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", "1").json(str(src)))
    cleaned = (
        stream.where(quality_score(SF.col("text")) >= 0.3)
        .withColumn("fingerprint", fingerprint(SF.col("text")))
        .dropDuplicates(["fingerprint"])
    )
    out = str(tmp_path / "out")
    q = (
        cleaned.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).collect()
    by_text = sorted(r.doc_id for r in got)
    assert 2 not in by_text            # junk gated out
    assert by_text.count(1) + by_text.count(4) == 1  # cross-batch dedup
    assert 3 in by_text and 5 in by_text
    assert len(by_text) == 3
