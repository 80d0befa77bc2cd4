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
