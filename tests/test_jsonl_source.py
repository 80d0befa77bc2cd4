"""JSONL corpus connector: containment, typing, splittability flags."""

import json

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.sources.jsonl_source import (
    clean_docs,
    read_jsonl_docs,
)


def _write_corpus(tmp_path):
    d = tmp_path / "jsonl"
    d.mkdir()
    lines = [
        json.dumps({"doc_id": 1, "text": "hello world", "lang": "en",
                    "source": "web", "meta": {"url": "http://a"}}),
        json.dumps({"doc_id": 2, "text": "bonjour", "lang": "fr",
                    "source": "web", "meta": {}}),
        '{"doc_id": 3, "text": "broken',          # malformed line
        json.dumps({"doc_id": None, "text": "no id", "lang": "en",
                    "source": "web", "meta": {}}),  # mandatory-field violation
        json.dumps({"doc_id": 5, "lang": "en", "source": "web",
                    "meta": {}}),                   # missing text
    ]
    (d / "part-0.jsonl").write_text("\n".join(lines), encoding="utf-8")
    (d / "decoy.txt").write_text("not json at all", encoding="utf-8")  # glob-excluded
    return str(d)


def test_jsonl_containment_and_typing(spark, tmp_path):
    src = _write_corpus(tmp_path)
    raw = read_jsonl_docs(spark, src)
    assert raw.count() == 5  # decoy.txt excluded by glob, corrupt line kept

    clean = clean_docs(raw)
    rows = {r.doc_id: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].meta["url"] == "http://a"
    assert rows[1].lang == "en"

    bad = raw.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith('{"doc_id": 3')


def test_jsonl_corrupt_rows_are_countable_not_fatal(spark, tmp_path):
    src = _write_corpus(tmp_path)
    raw = read_jsonl_docs(spark, src)
    # quarantine split partitions the input exactly
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull())
    assert clean_docs(raw).count() + corrupt.count() + 2 == raw.count()


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """Curation gates are map-only Catalyst expressions, so the SAME
    operator runs unchanged on a readStream source — streaming corpus
    curation with zero extra code. Gate verdicts must match batch."""
    import json as _json

    from sea_express_customs_etl_spark.operators.textstats import quality_gate
    from sea_express_customs_etl_spark.sources.jsonl_source import (
        stream_jsonl_docs,
    )

    d = tmp_path / "gate_stream"
    d.mkdir()
    rows = [
        {"doc_id": i,
         "text": ("salt pepper thyme basil clove nutmeg " * 12) if i % 2
         else "spam " * 80,  # repetitive → fails the gate
         "lang": "en", "source": "s", "meta": {}}
        for i in range(10)
    ]
    (d / "p0.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows), encoding="utf-8"
    )
    stream = clean_docs(stream_jsonl_docs(spark, str(d)))
    q = (
        quality_gate(stream)
        .writeStream.format("memory")
        .queryName("gate_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gate_ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(90)
    finally:
        q.stop()
    got = {
        r.doc_id: r.passed
        for r in spark.sql("select * from gate_stream_test").collect()
    }
    batch = {
        r.doc_id: r.passed
        for r in quality_gate(
            clean_docs(read_jsonl_docs(spark, str(d)))
        ).collect()
    }
    assert got == batch and len(got) == 10
    assert not any(v for k, v in got.items() if k % 2 == 0)  # spam fails


def test_stream_jsonl_matches_batch(spark, tmp_path):
    from sea_express_customs_etl_spark.sources.jsonl_source import stream_jsonl_docs

    src = _write_corpus(tmp_path)
    stream = clean_docs(stream_jsonl_docs(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("jsonl_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.sql("select * from jsonl_stream_test").collect()}
    batch = {r.doc_id for r in clean_docs(read_jsonl_docs(spark, src)).collect()}
    assert got == batch == {1, 2}
