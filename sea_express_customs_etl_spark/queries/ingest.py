"""Ingest connectors, the link-and-vote knowledge base and its SQL twin."""

from __future__ import annotations

import os
import zipfile as _zf

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.functions.strings import normalize_text_col
from sea_express_customs_etl_spark.functions.udtfs import register_udtfs
from sea_express_customs_etl_spark.operators.integrity import fk_orphan_audit
from sea_express_customs_etl_spark.operators.linking import (
    add_link_key,
    count_matched_keys,
)
from sea_express_customs_etl_spark.operators.scd import cdc_apply, pit_join
from sea_express_customs_etl_spark.plans import (
    oracles,
    oracles_ext as ext,
    oracles_rel as orel,
    oracles_rel_ext as rex,
    oracles_wag as wag,
    oracles_wx as wx,
)
from sea_express_customs_etl_spark.plans.knowledge import knowledge_base
from sea_express_customs_etl_spark.plans.session_tables import scratch_dir, session_name
from sea_express_customs_etl_spark.plans.spark_sql import knowledge_extraction_sql
from sea_express_customs_etl_spark.plans.standins import (
    declared_table,
    load_table,
    official_table,
)
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _ab_linked,
    _aligned_shared,
    _scd2_orders_hist,
)
from sea_express_customs_etl_spark.sinks.bucketed import write_bucketed
from sea_express_customs_etl_spark.sinks.jdbc_sink import jdbc_options
from sea_express_customs_etl_spark.sinks.layout import morton_key
from sea_express_customs_etl_spark.sources import declared_cargo, read_manifests_raw
from sea_express_customs_etl_spark.sources.jdbc import (
    partitioned_read_options,
    read_jdbc_table,
)
from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx
from sea_express_customs_etl_spark.sources.xml_source import (
    read_bid_heads_quarantined,
    split_quarantine,
)


@query(oracle=oracles.KNOWLEDGE_EXTRACTION_SQL)
def _q_knowledge_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship link-and-vote query (reference parity)."""
    # use_nfkc=False: the TPC-H corpus is ASCII (NFKC is identity), which
    # keeps the checked plan 100% JVM-side; NFKC itself is unit-tested.
    return knowledge_base(
        declared_table(spark, sf_dir), official_table(spark, sf_dir), use_nfkc=False
    )


@query(oracle=ext.MANIFEST_XLSX_SQL)
def _q_manifest_xlsx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector lineage oracle-checked from FILE BYTES (VERDICT r3
    'Next round' #6): a genuine .xlsx manifest is synthesized from the
    ``part`` table (stdlib SpreadsheetML writer), parsed back through
    the production path ``read_manifests_raw`` (binaryFile scan →
    Arrow ``mapInPandas`` → A1 probe → new-format positional
    projection + HAWB ffill + per-HAWB sequencing) → ``declared_cargo``
    typing — and DuckDB recomputes the expected rows from ``part``
    directly, so row count, schema AND every parsed value are
    hash-checked end-to-end.

    Fixture shape: new format (MAWB in A1, blank row, 15-column header
    at row 3), one HAWB anchor every 3 data rows (exercises the
    merged-cell forward-fill), qty/price/total numeric cells. The
    ~300-row driver-side collect builds the FILE, not the result —
    fixture-writing is inherently driver-side, like bench.py's ingest
    fixtures; the parse itself is fully distributed."""
    rows = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 300)
        .orderBy("p_partkey")
        .select("p_partkey", "p_name", "p_size")
        .collect()
    )
    header = [
        "提單號", "b", "c", "品名", "e", "f", "g", "h", "i",
        "數量", "單位", "l", "m", "單價", "總價",
    ]
    grid: list[list] = [["M77EX"] + [None] * 14, [None] * 15, header]
    for i, r in enumerate(rows):
        hawb = f"H{rows[(i // 3) * 3].p_partkey}" if i % 3 == 0 else None
        grid.append(
            [hawb, None, None, r.p_name, None, None, None, None, None,
             r.p_size, "PCE", None, None, r.p_size * 10,
             r.p_size * 10 * r.p_size]
        )
    out_dir = scratch_dir(spark, sf_dir, "manifest_oracle")
    with open(os.path.join(out_dir, "M77EX.xlsx"), "wb") as f:
        f.write(write_xlsx(grid))
    return declared_cargo(read_manifests_raw(spark, out_dir)).select(
        "mawb_no",
        "hawb_no",
        "item_no",
        "description_original",
        "qty",
        "qty_unit",
        "unit_price",
        "total_amount",
        "_row_idx",
    )


@query(oracle=ext.XML_QUARANTINE_COUNTS_SQL)
def _q_xml_quarantine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine TABLE for corrupt ingest units (r6 VERDICT #4),
    oracle-checked from FILE BYTES like manifest_xlsx_ingest: a zip of
    per-nation XML members is synthesized with PLANTED corruption
    (members for n_nationkey ≡ 3 (mod 5) truncated mid-tag), plus one
    garbage .zip and one non-XML .xml; the single-scan quarantined
    reader must (a) still parse every healthy member's records and
    (b) capture every planted failure as a (source_file, member,
    reason, error, raw_bytes) quarantine row — counts by reason plus
    the ok-record count reconcile against DuckDB recomputing the plan
    from ``nation`` directly. Reference anchor: the member-level
    containment at src/import_xml_history.py:157-158, upgraded from
    log-and-drop to audit-and-replay."""
    keys = sorted(
        r.n_nationkey
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey")
        .collect()  # 25 rows — fixture-writing is driver-side by nature
    )
    out_dir = scratch_dir(spark, sf_dir, "quarantine_oracle")
    buf = __import__("io").BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        for k in keys:
            if k % 5 == 3:
                z.writestr(f"n{k}.xml", "<GicDataSet><BID_HEAD>")
            else:
                recs = "".join(
                    f"<BID_HEAD><HAWB_NO>H{k}</HAWB_NO>"
                    f"<DESCRIPTION>item {i}</DESCRIPTION></BID_HEAD>"
                    for i in range(k % 3 + 1)
                )
                z.writestr(f"n{k}.xml", f"<GicDataSet>{recs}</GicDataSet>")
    with open(os.path.join(out_dir, "hist.zip"), "wb") as f:
        f.write(buf.getvalue())
    with open(os.path.join(out_dir, "junk.zip"), "wb") as f:
        f.write(b"PK\x03\x04 not really a zip")
    with open(os.path.join(out_dir, "bad.xml"), "wb") as f:
        f.write(b"<<< not xml at all")
    records, quarantine = split_quarantine(
        read_bid_heads_quarantined(spark, out_dir)
    )
    by_reason = quarantine.groupBy("reason").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ok = records.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        F.lit("ok_records").alias("reason"), "n"
    )
    return by_reason.unionByName(ok)


@query(oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def _q_jdbc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JDBC connector as a gate-checked lineage query (the
    manifest_xlsx_ingest pattern applied to OP-SRC-JDBC): nation rows
    are WRITTEN to an embedded Derby database (real SQL engine inside
    Spark's own jars), read back through the partitioned-range JDBC
    source (2 concurrent range queries), and must hash-match DuckDB's
    direct read of the parquet — the write path, the DB, and the
    partitioned read are all inside the checked lineage."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    d = scratch_dir(spark, sf_dir, "jdbc_rt")
    url = f"jdbc:derby:{d}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    nation.write.format("jdbc").options(
        **jdbc_options(url, "nation_rt", driver=drv)
    ).mode("overwrite").save()
    back = read_jdbc_table(
        spark,
        **partitioned_read_options(
            url,
            "nation_rt",
            partition_column="n_nationkey",
            lower_bound=0,
            upper_bound=25,
            num_partitions=2,
            driver=drv,
        ),
    )
    return back.select("n_nationkey", "n_name", "n_regionkey")


@query(oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def _q_orc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format lineage: nation rows written as ORC (the other
    columnar format Spark ships built-in) and read back must
    hash-match DuckDB's direct parquet read — the format encoder and
    decoder both sit inside the checked lineage, same pattern as the
    xlsx/JDBC connector queries."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    d = scratch_dir(spark, sf_dir, "orc_rt")
    nation.write.mode("overwrite").orc(f"{d}/nation_orc")
    return spark.read.orc(f"{d}/nation_orc").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(oracle=orel.PROPS_KV_UDTF_SQL)
def _q_props_kv_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered Python UDTF invoked FROM SQL via LATERAL — the
    remaining §2.13 front door (the other UDTFs are mapInPandas
    kernels behind the DataFrame API). Arrow-batched; per-row
    containment of malformed JSON; DuckDB replays it with json_each."""
    register_udtfs(spark)
    # deterministic 10% slice: a registered Python UDTF is the
    # DELIBERATE slow path (per-row Python eval) — the demo proves the
    # surface; bulk JSON work belongs to from_json/json_props_rollup
    load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 10 == 0
    ).createOrReplaceTempView("events_v")
    return spark.sql(
        "SELECT e.event_id, p.prop_key, p.prop_value "
        "FROM events_v e, LATERAL parse_props(e.props) p"
    )


@query(oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def _q_json_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines format lineage: nation rows written as JSONL and
    read back under the explicit schema must hash-match DuckDB's
    direct parquet read — completes the built-in format trio
    (parquet native, ORC, JSON) on the connector-lineage pattern."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    d = scratch_dir(spark, sf_dir, "json_rt")
    nation.write.mode("overwrite").json(f"{d}/nation_json")
    return (
        spark.read.schema(nation.schema)
        .json(f"{d}/nation_json")
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(oracle=ext.SCD2_HISTORY_SQL)
def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot diff over orders: the full type-2 history —
    closed/open validity intervals, is_current flags, change
    classification — hash-matches the oracle's UNION-of-cases
    formulation."""
    return _scd2_orders_hist(spark, sf_dir, "2024-01-01", "2024-02-01")


@query(oracle=oracles.KNOWLEDGE_EXTRACTION_SQL)
def _q_knowledge_extraction_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knowledge_extraction_sql(spark, sf_dir)


@query(oracle=oracles.LINK_KEY_DERIVE_SQL)
def _q_link_key_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return add_link_key(declared_table(spark, sf_dir)).select(
        "mawb_no", "hawb_no", "item_no", "link_key"
    )


@query(oracle=oracles.COUNT_MATCH_KEYS_SQL)
def _q_count_match_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _ab_linked(spark, sf_dir)
    return count_matched_keys(a, b)


@query(oracle=oracles.POSITIONAL_ALIGN_SQL)
def _q_positional_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aligned_shared(spark, sf_dir)


@query(oracle=oracles.VOTE_COUNTS_SQL)
def _q_vote_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _aligned_shared(spark, sf_dir)
        .filter(F.col("original_description") != "")
        .withColumnRenamed("description_official", "official_description")
        .groupBy("original_description", "official_description", "ccc_code")
        .agg(F.count(F.lit(1)).alias("frequency"))
    )


@query(oracle=oracles.NORMALIZE_TEXT_SQL)
def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        declared_table(spark, sf_dir)
        .select(
            "description_original",
            normalize_text_col(F.col("description_original"), use_nfkc=False).alias(
                "normalized"
            ),
        )
        .distinct()
    )


@query(oracle=oracles.KEY_INTERSECTION_SQL)
def _q_key_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _ab_linked(spark, sf_dir)
    return a.select("link_key").intersect(b.select("link_key"))


@query(oracle=wx.CDC_APPLY_CHANGES_SQL)
def _q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES, checked as snapshot-then-merge ≡ full
    replay: events are an op-coded change stream on user_id ('error'
    = delete, anything else = upsert, sequenced by (ts, event_id));
    the Spark side applies the pre-2024-01-16 prefix into a state
    snapshot and merges the remainder as a batch, while the oracle
    replays the whole stream — the hash match proves the merge
    algebra."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    split = F.lit("2024-01-16").cast("timestamp")
    state = cdc_apply(
        ev.filter(F.col("ts") < split),
        ["user_id"],
        ["ts", "event_id"],
        "op",
        ["event_type", "value_u6"],
    )
    return cdc_apply(
        ev.filter(F.col("ts") >= split),
        ["user_id"],
        ["ts", "event_id"],
        "op",
        ["event_type", "value_u6"],
        state=state,
    )


@query(oracle=wx.BUCKETED_JOIN_SEGMENTS_SQL)
def _q_bucketed_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: orders and customer are written
    bucketed+sorted by custkey (8 buckets, app-scoped table names) and
    joined bucket-to-bucket — the repeated-nightly-join layout where
    the join itself plans with ZERO exchanges (pinned by
    tests/test_analytics_wave_y.py); the only shuffle left is the
    final segment aggregate. Eager catalog writes at plan-build time —
    the orc/jdbc roundtrip license."""
    to = session_name(spark, sf_dir, "bkt_orders")
    tc = session_name(spark, sf_dir, "bkt_customer")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    write_bucketed(orders, to, ("o_custkey",), num_buckets=8,
                   sort_cols=("o_custkey",))
    write_bucketed(cust, tc, ("c_custkey",), num_buckets=8,
                   sort_cols=("c_custkey",))
    j = spark.table(to).join(
        spark.table(tc), F.col("o_custkey") == F.col("c_custkey")
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price_c").cast("bigint").alias("revenue_c"),
    )


@query(oracle=wx.PARTITIONED_PRUNE_HOURLY_SQL)
def _q_partitioned_prune_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sink lineage: events written ``partitionBy(
    event_type)`` to parquet and read back with a one-type filter —
    the scan must prune to the single partition directory (pinned by
    tests/test_analytics_wave_y.py: PartitionFilters carries the
    predicate, not PushedFilters) — then rolled up hourly. The write
    AND the pruned read both sit inside the checked lineage."""
    d = scratch_dir(spark, sf_dir, "part_ev")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_u6"),
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(f"{d}/ev")
    back = spark.read.parquet(f"{d}/ev").filter(
        F.col("event_type") == "purchase"
    )
    return back.groupBy(
        F.expr("unix_micros(ts) DIV 3600000000").alias("hour_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value_u6").cast("bigint").alias("sum_value_u6"),
    )


@query(oracle=wag.SCHEMA_EVOLUTION_SCAN_SQL)
def _q_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution lineage: a v1 batch (no priority column) and a
    v2 batch (priority added) written to one dataset; the mergeSchema
    read must surface v1 rows as NULL priority with every value intact
    — the add-a-column migration every long-lived table survives."""
    d = scratch_dir(spark, sf_dir, "schema_evo")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        "o_orderpriority",
    )
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "price_c"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1)
    v1.write.mode("overwrite").parquet(f"{d}/t/batch=1")
    v2.write.mode("overwrite").parquet(f"{d}/t/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{d}/t")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price_c").cast("bigint").alias("sum_price_c"),
    )


@query(oracle=ext.ZORDER_LOCALITY_SQL)
def _q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key end-to-end: Morton-interleave the
    bucketized (l_partkey, l_suppkey) plane, derive the file bucket
    from the TOP z-bits (map-only — no global sort in the checked
    plan; ``write_zordered`` adds the range exchange when actually
    laying out files), and report each bucket's row count and per-axis
    min/max envelope — the tight two-dimensional rectangles that make
    parquet min/max stats selective on BOTH join keys at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    )
    return (
        li.withColumn("_z", morton_key("x", "y", bits=8))
        .withColumn("bucket", F.shiftright("_z", 8).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
    )


@query(oracle=ext.PIT_ORDER_VERSION_SQL)
def _q_pit_order_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the canonical SCD2 consumer: every
    lineitem is joined to the ORDER VERSION valid at its ship date
    (snapshots at 2000-06-01 / 2001-01-01 bracket the 2000-2001 ship
    range, so facts hit the v1 window, the v2 window, and the
    deleted/inserted gaps). One as-of shuffle + residual valid_to
    filter — never a per-key range explosion; the oracle states the
    naive BETWEEN join."""
    hist = _scd2_orders_hist(spark, sf_dir, "2000-06-01", "2001-01-01")
    facts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.to_date("l_shipdate").alias("ship_day"),
    )
    return pit_join(
        facts, hist, "o_orderkey", "ship_day", ["status", "price_u2"]
    )


@query(oracle=oracles.UNMATCHED_DECLARED_KEYS_SQL)
def _q_unmatched_declared_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op surface (the sibling of key_intersection's
    INTERSECT): declared link keys with no official counterpart — the
    reference's unmatched-waybill gap list."""
    a, b = _ab_linked(spark, sf_dir)
    return a.select("link_key").subtract(b.select("link_key"))


@query(oracle=rex.FK_ORPHAN_AUDIT_SQL)
def _q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan FK keys/rows per relation."""
    return fk_orphan_audit(spark, sf_dir)
